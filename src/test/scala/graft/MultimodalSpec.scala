package graft

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.operators.Multimodal.{MediaFeatures, MediaRow}

class MultimodalSpec extends SparkSpec {

  private def mediaDs = {
    import spark.implicits._
    Seq(
      MediaRow(1L, "image", Array.fill[Byte](1000)(7), 100, 10, 0),
      MediaRow(2L, "audio", Array.fill[Byte](300)(-1), 0, 0, 16000),
      MediaRow(3L, "image", Array.empty[Byte], 0, 0, 0))
      .toDS().repartition(2)
  }

  test("decodeAndFeaturize: per-partition batch path produces exact features") {
    val feats = Multimodal.decodeAndFeaturize(mediaDs).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(1L).n_bytes == 1000 && feats(1L).n_frames == 4)
    assert(feats(1L).mean_byte == 7.0)
    assert(feats(2L).n_bytes == 300 && feats(2L).n_frames == 2)
    assert(feats(2L).mean_byte == 255.0) // -1 byte = 0xff unsigned
    assert(feats(3L).n_bytes == 0 && feats(3L).n_frames == 0 && feats(3L).mean_byte == 0.0)
  }

  test("decode is deterministic across partitionings (narrow, state-free)") {
    val one = Multimodal.decodeAndFeaturize(mediaDs.repartition(1)).collect().sortBy(_.media_id)
    val two = Multimodal.decodeAndFeaturize(mediaDs.repartition(3)).collect().sortBy(_.media_id)
    assert(one.map(_.checksum).sameElements(two.map(_.checksum)))
  }

  private def bmpDs = {
    import spark.implicits._
    Seq(
      // 4 full rows of constant 7s — every 2×2 block means back to 7
      MediaRow(1L, "image", Multimodal.BmpCodec.encode(Array.fill[Byte](180)(7)),
        15, 4, 0),
      // 2 full rows of a byte gradient — block means exercised for real
      MediaRow(2L, "image",
        Multimodal.BmpCodec.encode(Array.tabulate[Byte](90)(_.toByte)), 15, 2, 0),
      // empty payload → the encoder's 1-row all-zero raster
      MediaRow(3L, "image", Multimodal.BmpCodec.encode(Array.empty[Byte]), 15, 1, 0))
      .toDS().repartition(2)
  }

  test("resize: real BMP box-filter — halved dims, exact block means," +
      " factor-1 identity, corrupt input fails loudly") {
    val out = Multimodal.resize(bmpDs, 2).collect().map(r => r.media_id -> r).toMap
    // metadata follows the decoded output raster: 15×4 → 8×2, 15×2 → 8×1
    assert(out(1L).width == 8 && out(1L).height == 2)
    assert(out(2L).width == 8 && out(2L).height == 1)
    assert(out(3L).width == 8 && out(3L).height == 1)
    // constant raster: every block's floor-mean is the constant, so the
    // resized features are pure arithmetic — 16 px, sums 7·16 per channel
    val f1 = Multimodal.BmpCodec.decodeFeatures(1L, out(1L).payload)
    assert(f1.img_w == 8 && f1.img_h == 2 && f1.n_px == 16)
    assert(f1.sum_b == 112 && f1.sum_g == 112 && f1.sum_r == 112 && f1.max_px == 7)
    // gradient raster: independent replay of the block arithmetic from
    // the source bytes (the oracle's algebra, in-test) must reproduce
    // the codec's resized pixel stream exactly
    val src = Array.tabulate(90)(identity)
    def srcPx(r: Int, c: Int, ch: Int): Int = {
      val k = r * 45 + c * 3 + ch
      if (k < src.length) src(k) else 0
    }
    val expected = for {
      br <- 0 until 1; bc <- 0 until 8; ch <- 0 until 3
    } yield {
      val cells = for {
        r <- (br * 2) until math.min(br * 2 + 2, 2)
        c <- (bc * 2) until math.min(bc * 2 + 2, 15)
      } yield srcPx(r, c, ch)
      cells.sum / cells.size
    }
    val f2 = Multimodal.BmpCodec.decodeFeatures(2L, out(2L).payload)
    assert(f2.sum_b == expected.zipWithIndex.collect { case (v, i) if i % 3 == 0 => v }.sum)
    assert(f2.sum_g == expected.zipWithIndex.collect { case (v, i) if i % 3 == 1 => v }.sum)
    assert(f2.sum_r == expected.zipWithIndex.collect { case (v, i) if i % 3 == 2 => v }.sum)
    assert(f2.checksum_w == expected.zipWithIndex.map { case (v, i) => (i + 1L) * v }.sum)
    assert(f2.max_px == expected.max)
    // factor 1 is the byte identity: same dims, same block means, same
    // poisoned stride padding — the re-encode reproduces the input file
    val id = Multimodal.resize(bmpDs, 1).collect().map(r => r.media_id -> r).toMap
    assert(id(2L).payload.sameElements(
      Multimodal.BmpCodec.encode(Array.tabulate[Byte](90)(_.toByte))))
    // a payload that is not a BMP fails with the codec's named error,
    // never a silent byte-stat
    val bad = intercept[IllegalArgumentException](
      Multimodal.BmpCodec.resize(Array[Byte](1, 2, 3), 2))
    assert(bad.getMessage.contains("bad magic"))
  }

  test("sampleFrames: every-2nd 256-byte chunk with correct sizes") {
    val df = Multimodal.sampleFrames(mediaDs.toDF(), everyK = 2)
      .filter(col("media_id") === 1L)
      .select(col("sample_idx"), length(col("frame_bytes")).alias("len"))
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    // 1000 bytes → frames 0..3; sampled frames 0 and 2 → 256 bytes each
    assert(df.toSet == Set((0, 256), (1, 256)))
  }

  test("multimodal_features query: n_bytes equals document n_chars (ascii corpus)") {
    val docs = Tables.documents(spark, sf).select(col("doc_id").alias("media_id"),
      col("n_chars").alias("expected"))
    val bad = q("multimodal_features").join(docs, "media_id")
      .filter(col("n_bytes") =!= col("expected")).count()
    assert(bad == 0)
  }

  test("phash banded pairs equal the exhaustive all-pairs scan (pigeonhole lossless)") {
    val sigs = Multimodal.phashSigs(spark, sf)
    val exhaustive = sigs.alias("a").join(sigs.alias("b"),
        col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").alias("media_a"), col("b.media_id").alias("media_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).alias("hamming"))
      .filter(col("hamming") <= 3)
    val banded = q("multimodal_phash_dupes")
    assert(banded.exceptAll(exhaustive).count() == 0)
    assert(exhaustive.exceptAll(banded).count() == 0)
    // the fixture's exact-duplicate plants guarantee the rung bites
    assert(banded.count() > 0)
  }

  test("phash clusters equal a driver-side union-find over the pair graph") {
    val pairs = q("multimodal_phash_dupes")
      .select("media_a", "media_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // driver-side union-find reference on the small fixture graph
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = parent.keys.map(k => k -> find(k)).toMap
    val got = q("multimodal_phash_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected,
      s"cluster labels diverge: ${got.toSet.diff(expected.toSet).take(5)}")
    // n_members consistent with the label map
    val sizes = expected.values.groupBy(identity).view.mapValues(_.size).toMap
    q("multimodal_phash_clusters").collect().foreach { r =>
      assert(r.getLong(2) == sizes(r.getLong(1)))
    }
  }

  test("phash pairs planted near-identical payloads, not unrelated ones") {
    // near-identical = one character changed mid-payload: every resampled
    // position keeps its byte except those landing on the edit, so the
    // pair stays within the Hamming budget; the unrelated payload shares
    // no structure and must not pair with either
    val base = ("the quick brown fox jumps over the lazy dog " * 20).trim
    val nearDup = base.updated(400, 'X')
    val unrelated = Seq.tabulate(880)(i =>
      ('a' + (i * 7 + i * i % 13) % 26).toChar).mkString
    val dir = java.nio.file.Files.createTempDirectory("graft-phash").toString
    import spark.implicits._
    Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("src1"))
      .withColumn("n_chars", length(col("text")))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val pairs = Multimodal.phashDupes(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"planted near-dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      s"unrelated payload paired: $pairs")
  }

  test("phash_forget_media: erasure deletes real pairs, survivors are exact," +
      " and a fresh probe never matches a forgotten asset's ghost") {
    import graft.streaming.EventStream
    val rule = (c: org.apache.spark.sql.Column) => Multimodal.phashForgottenRule(c)
    val all = q("multimodal_phash_dupes")
    val after = q("phash_forget_media")
    // erasure actually DELETED pairs (the rule intersects planted
    // near-dup endpoints) while real survivors remain
    assert(all.count() > after.count(),
      "erasure rule deleted no pairs — fixture drift?")
    assert(after.count() > 0, "erasure deleted every pair — fixture drift?")
    assert(after.filter(rule(col("media_a")) || rule(col("media_b"))).count() == 0,
      "a pair naming a forgotten asset survived erasure")
    // survivors ≡ the filtered pair set, exactly
    val want = all.filter(!rule(col("media_a")) && !rule(col("media_b")))
    assert(after.exceptAll(want).count() == 0)
    assert(want.exceptAll(after).count() == 0)
    // band-side erasure THROUGH THE PROBE: re-ingest the byte-identical
    // payload of a forgotten asset under a fresh id and probe the ERASED
    // index (the ingest stream's candidate/verify plan) — it must pair
    // only with SURVIVORS: the forgotten original, whose hash it matches
    // at Hamming 0, must be gone from the bands (no ghost neighbor)
    val indexDir = s"${operators.Layout.tmpPath("graft-phforgetlog", sf)}/index"
    val stored = EventStream.phashBandsRead(spark, indexDir)
    assert(stored.filter(rule(col("media_id"))).count() == 0,
      "forgotten assets still present in the stored band index")
    val ghostSrc = Tables.documents(spark, sf)
      .filter(rule(col("doc_id"))).orderBy("doc_id").limit(1)
      .select(lit(1000001L).alias("media_id"),
        col("text").cast("binary").alias("payload"))
    val probe = Multimodal.phashBandsOf(Multimodal.phashSigsOf(ghostSrc))
    val probePairs = Multimodal.phashVerifiedPairs(probe, stored)
    assert(probePairs
      .filter(rule(col("media_a")) || rule(col("media_b"))).count() == 0,
      "a fresh probe paired with a forgotten asset's ghost")
  }

  test("BmpCodec: real header/stride decode — handcrafted roundtrip," +
      " poisoned padding skipped, corrupt headers rejected") {
    import operators.Multimodal.BmpCodec
    // two full rows (90 pixel bytes) of known values
    val px = Array.tabulate[Byte](90)(i => ((i * 7 + 3) % 251).toByte)
    val bmp = BmpCodec.encode(px)
    val f = BmpCodec.decodeFeatures(42L, bmp)
    assert(f.img_w == 15 && f.img_h == 2 && f.n_px == 30)
    val vals = px.map(_ & 0xff)
    def chSum(ch: Int) = vals.zipWithIndex
      .collect { case (v, k) if k % 3 == ch => v.toLong }.sum
    assert(f.sum_b == chSum(0) && f.sum_g == chSum(1) && f.sum_r == chSum(2))
    assert(f.max_px == vals.max)
    assert(f.checksum_w ==
      vals.zipWithIndex.map { case (v, k) => (k + 1L) * v }.sum)
    // stride padding is opaque to a REAL decoder: re-poison the pad
    // bytes with a different value — features must not move (a byte-stat
    // stub would shift)
    val repad = bmp.clone()
    for (r <- 0 until 2; i <- 45 until 48) repad(54 + r * 48 + i) = 0x55
    assert(BmpCodec.decodeFeatures(42L, repad) == f,
      "decoder read stride padding into its stats")
    // header bytes past the parsed fields are likewise not pixel data
    val hdr = bmp.clone(); hdr(38) = 0x11 // x-resolution, unused by decode
    assert(BmpCodec.decodeFeatures(42L, hdr) == f,
      "decoder read header bytes into its stats")
    // corrupt inputs fail loudly, never serve garbage stats
    val badMagic = bmp.clone(); badMagic(0) = 'X'
    intercept[IllegalArgumentException](BmpCodec.decodeFeatures(1L, badMagic))
    val badBpp = bmp.clone(); badBpp(28) = 8
    intercept[IllegalArgumentException](BmpCodec.decodeFeatures(1L, badBpp))
    val badComp = bmp.clone(); badComp(30) = 1
    intercept[IllegalArgumentException](BmpCodec.decodeFeatures(1L, badComp))
    intercept[IllegalArgumentException](
      BmpCodec.decodeFeatures(1L, bmp.take(60)))
    // empty payload still encodes one zero row
    val f0 = BmpCodec.decodeFeatures(7L, BmpCodec.encode(Array.empty))
    assert(f0.img_h == 1 && f0.n_px == 15 && f0.sum_b == 0 &&
      f0.max_px == 0 && f0.checksum_w == 0)
    // partial last row: zero-padded pixels, stats unchanged by the pad
    val f1 = BmpCodec.decodeFeatures(9L, BmpCodec.encode(px.take(50)))
    assert(f1.img_h == 2 && f1.checksum_w ==
      vals.take(50).zipWithIndex.map { case (v, k) => (k + 1L) * v }.sum)
  }
  test("decodeAndFeaturize dispatches by kind: bmp payloads get pixel-truth" +
      " stats through the real decoder, unknown kinds keep the loudly-" +
      "labeled stub's raw byte walk (r19 verdict #5)") {
    import spark.implicits._
    import operators.Multimodal
    import operators.Multimodal.{BmpCodec, MediaCodecStub, MediaRow}
    val raw = "pixel payload exercising a partial last row!!".getBytes("UTF-8")
    val bmp = BmpCodec.encode(raw)
    val rows = Seq(
      MediaRow(2L, "bmp", bmp, 15, 0, 0),
      MediaRow(3L, "opaque", raw, 0, 0, 0))
    val got = Multimodal.decodeAndFeaturize(spark.createDataset(rows))
      .collect().map(f => f.media_id -> f).toMap
    // bmp arm: stats over the PIXEL stream — raw bytes + zero pads to
    // whole rows; headers and the 0xAA stride poison never enter
    val h = (raw.length + 44) / 45
    val b = got(2L)
    assert(b.n_bytes == h * 45L,
      s"bmp n_bytes ${b.n_bytes} != pixel count ${h * 45} — header/pad leak")
    assert(b.n_bytes != bmp.length.toLong,
      "bmp arm byte-stat'd the raw payload (stub behavior)")
    assert(b.mean_byte == raw.map(_ & 0xff).sum.toDouble / (h * 45),
      "bmp mean is not the pixel-stream mean")
    // the checksum is the stub's own rolling fold, over pixels: replay it
    val pixels = java.util.Arrays.copyOf(raw, h * 45)
    var ck = 17L
    pixels.foreach(v => ck = ck * 31 + (v & 0xff))
    assert(b.checksum == ck, "bmp checksum is not the pixel-stream fold")
    // opaque arm: exactly the stub over the raw payload
    assert(got(3L) == MediaCodecStub.features(rows(1)),
      "unknown kind did not fall through to the stub")
    // registered-gate shape: both arms present, one row per document
    val gate = q("multimodal_kind_features").collect()
    assert(gate.nonEmpty && gate.map(_.getString(1)).toSet == Set("bmp", "opaque"))
  }
}
