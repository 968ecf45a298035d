package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal (binary-column) plumbing: images/audio/video ride through
  * the engine as opaque `binary` columns with typed metadata, and the
  * decode / feature-extract / frame-sample stages run as per-partition
  * batch transforms (north-star spec).
  *
  * The IMAGE codec path is REAL: [[BmpCodec]] is a self-contained
  * 24bpp BMP encoder/decoder (header parse, offset/stride walk) and
  * [[BmpCodec.resize]] an exact integer box-filter downsample — no
  * external library, so every step is oracle-checkable byte
  * arithmetic. Only the generic decode seam ([[MediaCodecStub]],
  * behind [[decodeAndFeaturize]]) remains a deterministic stand-in for
  * the audio/video formats this container has no libraries for; the
  * Spark-side contract is identical either way: the schema, the
  * `Dataset[T]` + `mapPartitions` batch shape (the Scala analog of
  * `mapInPandas`: one iterator per partition, so a stateful codec
  * amortizes init per partition, not per row), and the partitioning
  * behavior.
  *
  * 100 TB posture: binary payloads dominate row size, so operators keep
  * them opaque until the last moment (metadata-only predicates prune
  * partitions before any decode), `maxRecordsPerFile`-style sizing keeps
  * tasks balanced, and decode stages are narrow (no shuffle of raw bytes).
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  /** Extracted features (fixed-shape, shuffle-friendly — no raw bytes). */
  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long, n_frames: Int,
      checksum: Long, mean_byte: Double)

  /** Deterministic stand-in for a real decoder: derives "frames" and a
    * byte histogram mean from the payload alone. A production build swaps
    * this object for one backed by a codec library — the call sites and
    * batch shape don't change.
    */
  object MediaCodecStub {
    val FrameBytes = 256

    def features(r: MediaRow): MediaFeatures = {
      val bytes = r.payload
      var sum = 0L
      var checksum = 17L
      var i = 0
      while (i < bytes.length) {
        sum += bytes(i) & 0xff
        checksum = checksum * 31 + (bytes(i) & 0xff)
        i += 1
      }
      MediaFeatures(
        media_id = r.media_id, kind = r.kind, n_bytes = bytes.length.toLong,
        n_frames = (bytes.length + FrameBytes - 1) / FrameBytes,
        checksum = checksum,
        mean_byte = if (bytes.isEmpty) 0.0 else sum.toDouble / bytes.length)
    }
  }

  /** A REAL (if tiny) image codec — uncompressed 24-bit BMP
    * (BITMAPFILEHEADER + BITMAPINFOHEADER, bottom-up rows, 4-byte row
    * stride), replacing one acknowledged [[MediaCodecStub]] seam with
    * an actual format parse: magic, pixel-data offset, dimensions,
    * planes/bpp/compression validation, and stride-correct pixel
    * extraction. The format is self-contained (no codec library), so
    * the decode is oracle-checkable byte arithmetic end to end.
    *
    * The encoder is the FIXTURE half (it builds a well-formed BMP whose
    * pixel stream is the caller's bytes zero-padded to whole rows) and
    * deliberately fills the per-row stride padding with [[PadByte]]
    * poison: a "decoder" that merely byte-stats the payload — the stub
    * behavior this gate exists to distinguish — reads headers and pad
    * bytes into its stats and fails the oracle; only a real
    * header-offset + stride walk reproduces the pixel truth.
    */
  object BmpCodec {
    /** 15 px · 3 bytes = 45 row bytes → stride 48: the padding is
      * genuinely exercised (a 16-px width would hide stride bugs).
      */
    private[operators] val Width = 15
    private[operators] val RowBytes = Width * 3
    private val Stride = (RowBytes + 3) / 4 * 4
    private val HeaderBytes = 54
    private[graft] val PadByte: Byte = 0xAA.toByte

    private def putIntLE(a: Array[Byte], off: Int, v: Int): Unit = {
      a(off) = (v & 0xff).toByte
      a(off + 1) = ((v >>> 8) & 0xff).toByte
      a(off + 2) = ((v >>> 16) & 0xff).toByte
      a(off + 3) = ((v >>> 24) & 0xff).toByte
    }

    private def getIntLE(a: Array[Byte], off: Int): Int =
      (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8) |
        ((a(off + 2) & 0xff) << 16) | ((a(off + 3) & 0xff) << 24)

    private def getShortLE(a: Array[Byte], off: Int): Int =
      (a(off) & 0xff) | ((a(off + 1) & 0xff) << 8)

    /** Build a 24bpp BMP of arbitrary dimensions from a dense file-order
      * pixel stream (`pixels.length == w·h·3`, bottom-up rows, BGR),
      * with poisoned stride padding — the raster encoder behind both the
      * fixture [[encode]] and the [[resize]] re-encode.
      */
    def encodeRaster(w: Int, h: Int, pixels: Array[Byte]): Array[Byte] = {
      require(w >= 1 && h >= 1 && pixels.length == w * h * 3,
        s"encodeRaster: need w,h >= 1 and w*h*3 pixel bytes, got " +
          s"w=$w h=$h bytes=${pixels.length}")
      val rowBytes = w * 3
      val stride = (rowBytes + 3) / 4 * 4
      val out = new Array[Byte](HeaderBytes + h * stride)
      out(0) = 'B'; out(1) = 'M'
      putIntLE(out, 2, out.length)
      putIntLE(out, 10, HeaderBytes)       // pixel-data offset
      putIntLE(out, 14, 40)                // BITMAPINFOHEADER size
      putIntLE(out, 18, w)
      putIntLE(out, 22, h)                 // positive: bottom-up
      out(26) = 1                          // planes (u16 LE)
      out(28) = 24                         // bpp (u16 LE)
      putIntLE(out, 30, 0)                 // BI_RGB (uncompressed)
      putIntLE(out, 34, h * stride)        // image size
      putIntLE(out, 38, 2835)              // 72 dpi
      putIntLE(out, 42, 2835)
      var r = 0
      while (r < h) {
        val rowOff = HeaderBytes + r * stride
        var i = 0
        while (i < rowBytes) {
          out(rowOff + i) = pixels(r * rowBytes + i)
          i += 1
        }
        while (i < stride) { out(rowOff + i) = PadByte; i += 1 }
        r += 1
      }
      out
    }

    /** Build a 24bpp BMP whose pixel-byte stream (file order: bottom-up
      * rows, BGR) is `pixelBytes` zero-padded to `h` whole rows of the
      * fixture [[Width]], with poisoned stride padding.
      */
    def encode(pixelBytes: Array[Byte]): Array[Byte] = {
      val h = math.max(1, (pixelBytes.length + RowBytes - 1) / RowBytes)
      encodeRaster(Width, h, java.util.Arrays.copyOf(pixelBytes, h * RowBytes))
    }

    /** A validated BMP header: pixel-data offset, dimensions, row stride. */
    private[operators] final case class BmpHeader(
        off: Int, w: Int, h: Int, stride: Int)

    /** Header validation shared by every decode path: magic, DIB size,
      * positive bottom-up dimensions, planes/bpp/compression, and a
      * truncation check against the recorded offset + computed stride.
      */
    private[operators] def parseHeader(bmp: Array[Byte]): BmpHeader = {
      require(bmp.length >= HeaderBytes && bmp(0) == 'B' && bmp(1) == 'M',
        "not a BMP: bad magic")
      val off = getIntLE(bmp, 10)
      val biSize = getIntLE(bmp, 14)
      require(biSize >= 40, s"unsupported DIB header size $biSize")
      val w = getIntLE(bmp, 18)
      val h = getIntLE(bmp, 22)
      require(w > 0, s"invalid width $w")
      require(h > 0, "top-down BMP (negative height) unsupported")
      require(getShortLE(bmp, 26) == 1, "planes must be 1")
      require(getShortLE(bmp, 28) == 24,
        s"only 24bpp supported, got ${getShortLE(bmp, 28)}")
      require(getIntLE(bmp, 30) == 0, "compressed BMP unsupported")
      val stride = (w * 3 + 3) / 4 * 4
      require(bmp.length >= off + h.toLong * stride, "truncated pixel data")
      BmpHeader(off, w, h, stride)
    }

    /** REAL integer box-filter downsample (r18 verdict #4 — the second
      * codec stub replaced): decode the BMP (the same header/offset/
      * stride walk as [[decodeFeatures]]), reduce each k×k block of the
      * file-order pixel grid to its per-channel FLOOR MEAN (integer sum
      * + one integer division — exact, no floats, so the oracle replays
      * the block arithmetic from the raw bytes bit-exactly; edge blocks
      * divide by their true coverage), and re-encode the
      * ⌈w/k⌉ × ⌈h/k⌉ result through [[encodeRaster]] (fresh headers,
      * fresh poisoned stride padding). Output dimensions follow the
      * pixel truth; a stub that decimated bytes — the seam's previous
      * occupant — produces neither the dims nor the means.
      */
    def resize(bmp: Array[Byte], k: Int): Array[Byte] = {
      require(k >= 1, s"resize factor must be >= 1, got $k")
      val hd = parseHeader(bmp)
      val outW = (hd.w + k - 1) / k
      val outH = (hd.h + k - 1) / k
      val out = new Array[Byte](outW * outH * 3)
      var bR = 0
      while (bR < outH) {
        val rHi = math.min((bR + 1) * k, hd.h)
        var bC = 0
        while (bC < outW) {
          val cHi = math.min((bC + 1) * k, hd.w)
          var ch = 0
          while (ch < 3) {
            var sum = 0L
            var n = 0
            var r = bR * k
            while (r < rHi) {
              var c = bC * k
              while (c < cHi) {
                sum += bmp(hd.off + r * hd.stride + c * 3 + ch) & 0xff
                n += 1
                c += 1
              }
              r += 1
            }
            out((bR * outW + bC) * 3 + ch) = (sum / n).toByte
            ch += 1
          }
          bC += 1
        }
        bR += 1
      }
      encodeRaster(outW, outH, out)
    }

    /** Decoded per-image features — fixed-shape, shuffle-friendly:
      * dimensions, per-channel sums (BGR), max channel value, and a
      * position-weighted checksum over the pixel stream (file order) —
      * order-sensitive, so a decoder that permutes or drops bytes fails.
      */
    final case class BmpFeatures(
        media_id: Long, img_w: Int, img_h: Int, n_px: Long,
        sum_b: Long, sum_g: Long, sum_r: Long, max_px: Int,
        checksum_w: Long)

    /** The REAL decode: validate headers ([[parseHeader]]), honor the
      * recorded pixel-data offset and the computed stride, walk pixels
      * only.
      */
    def decodeFeatures(mediaId: Long, bmp: Array[Byte]): BmpFeatures = {
      val hd = parseHeader(bmp)
      var (sb, sg, sr, ck) = (0L, 0L, 0L, 0L)
      var maxPx = 0
      var r = 0
      var k = 0L
      while (r < hd.h) {
        val rowOff = hd.off + r * hd.stride
        var i = 0
        while (i < hd.w * 3) {
          val v = bmp(rowOff + i) & 0xff
          (i % 3: @annotation.switch) match {
            case 0 => sb += v
            case 1 => sg += v
            case _ => sr += v
          }
          if (v > maxPx) maxPx = v
          ck += (k + 1L) * v
          i += 1; k += 1
        }
        r += 1
      }
      BmpFeatures(mediaId, hd.w, hd.h, hd.w.toLong * hd.h, sb, sg, sr, maxPx, ck)
    }
  }

  /** DECODED pixel features as a registered gate: each document's text
    * bytes become a real 24bpp BMP ([[BmpCodec.encode]] — the fixture
    * encoder, stride padding poisoned), and the features come from an
    * actual format DECODE ([[BmpCodec.decodeFeatures]]): header parse,
    * offset/stride walk, per-channel integer stats. The oracle computes
    * the same stats directly from the text bytes via the encode→decode
    * algebra (pixel stream ≡ text bytes zero-padded to whole rows), so
    * a decoder that reads headers or pad bytes into its stats — or
    * drops/permutes a pixel — fails the hash. Runs as the
    * [[decodeAndFeaturize]] batch shape: `Dataset` + `mapPartitions`,
    * narrow, bytes never shuffle — only the fixed-shape features do.
    */
  def decodedFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").alias("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init would go here for a stateful codec
        rows.map { case (id, payload) =>
          BmpCodec.decodeFeatures(id, BmpCodec.encode(payload))
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** The registered resize factor — 2 halves both dimensions of the
    * 15-px fixture raster, so edge blocks (the 15th column, an odd last
    * row) genuinely exercise the partial-coverage divisor.
    */
  private[graft] val ResizeFactor = 2

  /** RESIZED pixel features as a registered gate (r18 verdict #4): each
    * document's text bytes become a real BMP ([[BmpCodec.encode]]),
    * pass through the REAL resize pipeline ([[BmpCodec.resize]] —
    * decode, k×k integer box-filter with k = [[ResizeFactor]],
    * re-encode), and the features come from decoding the RESIZED image
    * ([[BmpCodec.decodeFeatures]]). The oracle replays the whole
    * encode→resize→decode algebra from the raw text bytes: output pixel
    * (R,C,ch) = ⌊Σ block bytes / coverage⌋ over the k×k file-order
    * block (zero-padded tail rows included, stride padding excluded by
    * construction), features = the per-channel sums / max /
    * position-weighted checksum over the RESIZED stream. A resize that
    * reads pad bytes, mis-anchors blocks, floats the mean, or decimates
    * bytes (the stub this gate retires) fails the hash. Same batch
    * shape as [[decodedFeatures]]: `Dataset` + `mapPartitions`, narrow,
    * bytes never shuffle.
    */
  def resizedFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").alias("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // per-partition init would go here for a stateful codec
        rows.map { case (id, payload) =>
          BmpCodec.decodeFeatures(id,
            BmpCodec.resize(BmpCodec.encode(payload), ResizeFactor))
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Per-partition batched resize — a REAL codec pass since r19 (the
    * former byte-decimation stub is gone): each payload is decoded as a
    * 24bpp BMP, box-filter-downsampled by `factor` per channel
    * ([[BmpCodec.resize]] — exact integer block means), and re-encoded;
    * metadata dims follow the decoded output raster, not an arithmetic
    * guess. Narrow (no shuffle, bytes stay in their partition), codec
    * state amortized per partition like [[decodeAndFeaturize]]. A
    * non-BMP payload fails loudly with the codec's named header error —
    * the corrupt-input contract [[BmpCodec.parseHeader]] carries.
    */
  def resize(ds: Dataset[MediaRow], factor: Int): Dataset[MediaRow] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      // per-partition init would go here (resize kernel, codec handles)
      rows.map { r =>
        val out = BmpCodec.resize(r.payload, factor)
        val hd = BmpCodec.parseHeader(out)
        r.copy(payload = out, width = hd.w, height = hd.h)
      }
    }
  }

  /** The generic feature fold ([[MediaCodecStub.features]]'s byte walk)
    * applied to a REAL decoded pixel stream (r19 verdict #5): parse the
    * BMP headers, walk pixels only — file order, headers and stride
    * padding excluded — and emit the stub-shaped [[MediaFeatures]]
    * record over the PIXEL bytes. A byte-stat of the raw payload (the
    * seam's former behavior for every kind) reads 54 header bytes and
    * the poisoned pad bytes into its stats; this reads the pixel truth.
    */
  private[operators] def bmpPixelFeatures(r: MediaRow): MediaFeatures = {
    val hd = BmpCodec.parseHeader(r.payload)
    var sum = 0L
    var checksum = 17L
    var n = 0L
    var row = 0
    while (row < hd.h) {
      val rowOff = hd.off + row * hd.stride
      var i = 0
      while (i < hd.w * 3) {
        val v = r.payload(rowOff + i) & 0xff
        sum += v
        checksum = checksum * 31 + v
        n += 1
        i += 1
      }
      row += 1
    }
    MediaFeatures(
      media_id = r.media_id, kind = r.kind, n_bytes = n,
      n_frames = ((n + MediaCodecStub.FrameBytes - 1) /
        MediaCodecStub.FrameBytes).toInt,
      checksum = checksum,
      mean_byte = if (n == 0) 0.0 else sum.toDouble / n)
  }

  /** Per-partition batched decode+featurize — the `mapInPandas` analog:
    * the function receives one iterator per partition and may hold
    * per-partition state (codec handles, model weights). Narrow: no
    * shuffle, binary never leaves the partition.
    *
    * KIND DISPATCH (r19 verdict #5): `kind == "bmp"` payloads run the
    * REAL decoder ([[bmpPixelFeatures]] — header parse, offset/stride
    * walk, stats over pixels only); every other kind falls through to
    * [[MediaCodecStub]], the LOUDLY-LABELED deterministic stand-in for
    * the audio/video formats this container has no libraries for. The
    * registered `multimodal_kind_features` gate drives BOTH arms
    * through this seam against one oracle.
    */
  def decodeAndFeaturize(ds: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { rows =>
      // per-partition init would go here (codec/model handles)
      rows.map { r =>
        if (r.kind == "bmp") bmpPixelFeatures(r)
        else MediaCodecStub.features(r)
      }
    }
  }

  /** KIND-DISPATCHED FEATURES as a registered gate: a mixed-kind media
    * frame (even ids arrive as real encoded BMPs, odd ids as opaque
    * unknown-kind payloads) pushed through the ONE [[decodeAndFeaturize]]
    * seam — the bmp arm's stats are pixel truth (decode algebra: pixel
    * stream ≡ text bytes zero-padded to whole rows; headers/pads never
    * enter), the opaque arm's are the stub's raw-payload byte stats.
    * The oracle replays both arms' arithmetic from the raw text, so a
    * dispatch that byte-stats a BMP (header+pad poison shifts n_bytes
    * and the mean) or decodes an opaque payload fails the hash. The
    * stub's rolling 31-multiplier checksum wraps Long and is therefore
    * not oracle-expressible (DuckDB BIGINT overflow throws, it never
    * wraps) — the gate serves the oracle-replayable columns and
    * MultimodalSpec pins the checksum against the stub directly.
    */
  def kindFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text").cast("binary").alias("raw"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, raw) =>
          if (id % 2 == 0) {
            val bmp = BmpCodec.encode(raw)
            val hd = BmpCodec.parseHeader(bmp)
            MediaRow(id, "bmp", bmp, hd.w, hd.h, 0)
          } else MediaRow(id, "opaque", raw, 0, 0, 0)
        }
      }
    decodeAndFeaturize(media)
      .toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"), col("n_frames"),
        col("mean_byte"))
      .orderBy("media_id")
  }

  /** Frame sampling: every k-th fixed-size chunk of the payload, exploded
    * to one row per sampled frame — `binary` stays opaque, slicing uses
    * the built-in binary `substring` inside a `transform` HOF (narrow, no
    * shuffle).
    */
  def sampleFrames(df: DataFrame, everyK: Int): DataFrame = {
    val fb = MediaCodecStub.FrameBytes
    // empty payloads have zero frames — the guard matters because
    // sequence(0, 0) is [0], which would fabricate one empty frame
    df.select(col("media_id"),
      posexplode(expr(
        s"""CASE WHEN length(payload) > 0 THEN
           |  transform(
           |    sequence(0, CAST((length(payload) + ${fb - 1}) div $fb AS INT) - 1, $everyK),
           |    i -> substring(payload, i * $fb + 1, $fb))
           |ELSE CAST(array() AS array<binary>) END""".stripMargin)))
      .withColumnRenamed("pos", "sample_idx")
      .withColumnRenamed("col", "frame_bytes")
  }

  /** Oracle-checked query entry: treats `documents.text` as a binary
    * payload (UTF-8 encode) and runs the metadata/feature plumbing with
    * engine built-ins only — byte length, frame count (integer ceil-div),
    * and an md5 content hash.
    */
  def features(spark: SparkSession, sfDir: String): DataFrame = {
    val fb = MediaCodecStub.FrameBytes
    Tables.documents(spark, sfDir)
      .select(col("doc_id").alias("media_id"),
        col("text").cast("binary").alias("payload"))
      .select(
        col("media_id"),
        length(col("payload")).cast("long").alias("n_bytes"),
        md5(col("payload")).alias("content_md5"))
      .withColumn("n_frames", expr(s"CAST((n_bytes + ${fb - 1}) div $fb AS INT)"))
      .orderBy("media_id")
  }

  /** Oracle-checked frame-sampling query: every 2nd 256-byte frame of the
    * payload (documents text as the stand-in payload, like [[features]]),
    * one output row per sampled frame with its content hash — the batch
    * shape of video frame-sampling (explode AFTER the narrow slice; raw
    * payload never shuffles, only the 256-byte frames do).
    */
  def frameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val fb = MediaCodecStub.FrameBytes
    Tables.documents(spark, sfDir)
      // payload is BINARY from here on: frame counting, slicing
      // (`substring` over binary is BYTE-indexed — over a string it
      // would be character-indexed, the wrong contract for media), frame
      // length, and the content hash all run on bytes
      .select(col("doc_id").alias("media_id"),
        col("text").cast("binary").alias("payload"))
      .withColumn("n_frames",
        expr(s"CAST((length(payload) + ${fb - 1}) div $fb AS INT)"))
      .select(col("media_id"),
        // empty payload → 0 frames; guard because Spark's sequence(0, -1, 2)
        // errors rather than returning empty like generate_series
        explode(when(col("n_frames") >= 1,
          sequence(lit(0), col("n_frames") - 1, lit(2)))
          .otherwise(array().cast("array<int>"))).alias("frame_idx"),
        col("payload"))
      .select(col("media_id"), col("frame_idx"),
        length(expr(s"substring(payload, frame_idx * $fb + 1, $fb)"))
          .alias("frame_len"),
        md5(expr(s"substring(payload, frame_idx * $fb + 1, $fb)"))
          .alias("frame_md5"))
      .orderBy("media_id", "frame_idx")
  }

  /** Per-payload 60-bit PERCEPTUAL HASH (1-D block-mean dHash): split the
    * payload into 61 fixed blocks of `⌈n/61⌉` bytes and take the 60
    * gradient signs between ADJACENT BLOCK MEANS, folded MSB-first into
    * a long. The standard image dHash is exactly this on a resized
    * grayscale grid; the block grid is the resize. The ⌈n/61⌉ block size
    * is length-adaptive but POSITION-STABLE: a small edit (the fixture's
    * near-dup plants truncate a few suffix bytes) keeps the same grid
    * unless n crosses a multiple of 61, so only the blocks covering the
    * edit flip bits — measured on the fixture, planted near-dups land at
    * Hamming ≤ 3 while the closest unrelated pair sits at 8+. A
    * POINT-sampled variant (`k·(n−1)/60`) fails here: any length change
    * shifts every sample and near-identical payloads scatter to ~12 bits.
    * Mean comparisons use integer cross-multiplication
    * (`s₂·l₁ > s₁·l₂`) so both engines compute bit-identical signs — no
    * float division. The payload is typed `binary` END-TO-END — the cast
    * happens at load and [[graft.plans.PHash60]] declares binary input —
    * so the bytes contract is structural, not an ASCII convention (the
    * fixture's ASCII text is merely why the oracle's codepoint sums
    * agree); a production build hashes a decoded pixel grid through the
    * [[MediaCodecStub]] seam instead. Empty payloads degenerate to hash
    * 0 (every block sum and length is 0).
    */
  private[graft] def phashSigs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id").alias("media_id"),
        col("text").cast("binary").alias("payload"))
      .transform(phashSigsOf)
      // shared by both sides of the banded self-join — one hashing pass
      // per session; tracked for release
      .transform(graft.CacheLifecycle.sessionPersist)

  /** Hash any (media_id, payload binary) frame — the per-row step alone,
    * shared with the streaming ingest path, which hashes ONLY its own
    * micro-batch ([[graft.streaming.EventStream.phashIngestDedup]]).
    * The block-sum fold runs as the codegen'd [[graft.plans.PHash60]]
    * expression — the interpreted HOF spelling (kept verbatim in the
    * DuckDB oracle and in [[phashSigsHof]], differential-tested in
    * ExpressionPropertySpec) walks a lambda per block per row.
    */
  private[graft] def phashSigsOf(media: DataFrame): DataFrame =
    media.select(col("media_id"),
      graft.plans.GraftFunctions.pHash60(col("payload")).alias("phash"))

  /** 4×15-bit band keys of a (media_id, phash) frame — the pigeonhole
    * decomposition [[phashDupes]] self-joins on; the streaming index
    * stores exactly these rows (phash carried alongside so the Hamming
    * verify reads no second table). ≤3 differing bits touch ≤3 of the 4
    * bands, so every qualifying pair shares ≥1 exact band — lossless.
    */
  private[graft] def phashBandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("media_id"), col("phash"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS band, (phash div CAST(pow(2, b * 15) AS BIGINT)) % 32768 AS v))"))
        .alias("bv"))
      .select(col("media_id"), col("phash"),
        col("bv.band").alias("band"), col("bv.v").alias("v"))

  /** The higher-order-function spelling of [[phashSigs]] — the exact
    * in-Spark twin of the DuckDB oracle CTE, kept as the differential
    * reference for the codegen expression (ExpressionPropertySpec pins
    * equality on ASCII payloads, where byte = codepoint).
    */
  private[graft] def phashSigsHof(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id").alias("media_id"),
        expr("(length(text) + 60) div 61").alias("bs"), col("text"))
      .select(col("media_id"),
        expr("transform(sequence(0, 60), k -> struct(" +
          "aggregate(slice(split(text, ''), CAST(k * bs + 1 AS INT), CAST(bs AS INT)), " +
          "CAST(0 AS BIGINT), (acc, c) -> acc + ascii(c)) AS s, " +
          "CAST(length(substring(text, CAST(k * bs + 1 AS INT), CAST(bs AS INT))) AS BIGINT) AS l))")
          .alias("b"))
      .select(col("media_id"),
        expr("aggregate(sequence(0, 59), CAST(0 AS BIGINT), (acc, g) -> " +
          "acc * 2 + (CASE WHEN element_at(b, g + 2).s * element_at(b, g + 1).l " +
          "> element_at(b, g + 1).s * element_at(b, g + 2).l " +
          "THEN 1 ELSE 0 END))").alias("phash"))

  /** Perceptual-hash near-dup pairs (Hamming ≤ 3) through the SAME
    * pigeonhole-lossless band-bucket join as the text tier's SimHash
    * rung (`Dedup.simhashPairs`): 60 bits split into 4 15-bit bands, ≤3
    * differing bits touch ≤3 bands, so every qualifying pair shares ≥1
    * exact band — the equi-join on (band, value) proposes a candidate
    * superset and `bit_count(xor)` verifies exactly. Oracle: the
    * exhaustive all-pairs scan over the same hash, so the driver gate
    * proves the banding lossless every round. At 100 TB the join
    * shuffles on small int band keys — never the payload, never the
    * cross product.
    */
  /** The verified-near-dup Hamming threshold — ONE definition feeding
    * the batch operator, the streaming ingest gate, and (interpolated)
    * both DuckDB oracles, so the pigeonhole-losslessness argument
    * (≤ [[PhashHammingMax]] differing bits touch ≤ that many of the 4
    * bands) can never drift out of sync with the verify filter.
    */
  private[graft] val PhashHammingMax = 3

  /** Band-join + exact Hamming verify between two band frames — the ONE
    * spelling of the phash candidate/verify step, shared by the batch
    * self-join ([[phashDupes]]) and the streaming probe
    * ([[graft.streaming.EventStream.phashIngestDedup]]). Pairs are
    * canonicalized (least, greatest) and deduped, so a self-join
    * (`probe` = `index`) and an asymmetric probe both land each
    * qualifying pair exactly once.
    */
  private[graft] def phashVerifiedPairs(probe: DataFrame, index: DataFrame): DataFrame =
    probe.alias("a")
      .join(index.alias("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.media_id") =!= col("b.media_id"))
      .select(least(col("a.media_id"), col("b.media_id")).alias("media_a"),
        greatest(col("a.media_id"), col("b.media_id")).alias("media_b"),
        bit_count(col("a.phash").bitwiseXOR(col("b.phash"))).alias("hamming"))
      .filter(col("hamming") <= PhashHammingMax)
      .distinct() // a pair can share several bands (and a self-join both orders)

  def phashDupes(spark: SparkSession, sfDir: String): DataFrame = {
    val banded = phashBandsOf(phashSigs(spark, sfDir))
    phashVerifiedPairs(banded, banded)
      .orderBy("media_a", "media_b")
  }

  /** The phash erasure rule — every tenth asset plays the deletion
    * queue; ONE spelling for the Spark side and (interpolated) the
    * DuckDB oracle. The residue class intersects the fixture's planted
    * near-dup endpoints, so the gate provably DELETES pairs rather than
    * filtering nothing (MultimodalSpec pins both directions).
    */
  private[graft] def phashForgottenRule(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c % 10 === 0

  /** RIGHT-TO-BE-FORGOTTEN THROUGH THE MEDIA INDEX — the binary tier's
    * erasure gate beside the ANN one (`ann_forget_vectors`): the stored
    * band index and the served verified-pairs table a completed
    * [[graft.streaming.EventStream.phashIngestDedup]] run leaves on disk
    * are seeded from the full corpus, the deletion list
    * ([[phashForgottenRule]]) is propagated through
    * [[graft.streaming.EventStream.forgetMediaFromPhashIndex]]
    * (pairs first — the served surface; a pair dies when EITHER endpoint
    * is forgotten — then bands, each an anti-join rewrite that expires
    * the older generations),
    * and the SERVED pair set is what this query returns.
    *
    * The oracle is the exhaustive all-pairs scan over SURVIVING media
    * only — so the gate proves erasure ≡ filter-rebuild through the
    * pair-serving plan, riding the already-proven pigeonhole
    * losslessness of the banding. Band-side erasure (a forgotten asset
    * must never match a FUTURE ingest batch as a ghost neighbor) is
    * pinned in MultimodalSpec by probing the erased index with a fresh
    * batch.
    *
    * Memoized durably behind a committed-seed guard (the
    * `dim_customer_forget_keys` discipline): a second JVM skips
    * re-seeding and re-runs the erasure against the erased tables as a
    * no-op.
    */
  def phashForgetMedia(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"multimodal.phashForget:$sfDir") {
      import graft.streaming.EventStream
      val base = Layout.tmpPath("graft-phforgetlog", sfDir)
      val indexDir = s"$base/index"
      val pairsDir = s"$base/pairs"
      // pairs first, bands second, guarded on the LAST write — a crash
      // between the two re-seeds both (the two-table seed discipline of
      // the maintenance streams)
      val bands = phashBandsOf(phashSigs(spark, sfDir))
      EventStream.seedAppendTables(spark,
        pairsDir -> phashVerifiedPairs(bands, bands), s"$indexDir/bands" -> bands)
      EventStream.forgetMediaFromPhashIndex(spark, indexDir, pairsDir,
        phashSigs(spark, sfDir).filter(phashForgottenRule(col("media_id")))
          .select(col("media_id")))
      EventStream.phashPairsRead(spark, pairsDir)
        .orderBy("media_a", "media_b")
    }

  /** Perceptual near-dup CLUSTERS: connected components over the verified
    * phash pair graph — the "keep one asset per duplicate group" step a
    * media pipeline runs after [[phashDupes]], exactly the text tier's
    * `Dedup.clusters` over its MinHash pairs. Reuses the doubling CC
    * (min-label propagation + pointer shortcut, O(log diameter) rounds,
    * bounded lineage) and is memoized the same way — CC runs its rounds
    * at construction, so a plan-level persist cannot dedup a second
    * consumer. Oracle: DuckDB recursive CTE over the same exhaustive
    * pair set. Singletons (no near-dup pair) are excluded; callers join
    * the cluster map back to the catalog.
    */
  def phashClusters(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"multimodal.phashClusters:$sfDir") {
      val pairs = phashDupes(spark, sfDir).select(col("media_a"), col("media_b"))
      val edges = Dedup.undirectedEdges(pairs, "media_a", "media_b")
        .transform(graft.CacheLifecycle.sessionPersist)
      val (labels, _) = Dedup.connectedComponents(edges)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      labels.select(col("node").alias("media_id"), col("label").alias("cluster_id"))
        .withColumn("n_members", count(lit(1)).over(w))
        .orderBy("media_id")
    }

  /** DuckDB twin of [[phashSigs]] — keep in sync. */
  private[operators] val phashCteSql =
    """bsums AS (
      |  SELECT doc_id AS media_id,
      |         list_transform(range(0, 61), k -> struct_pack(
      |           s := coalesce(list_sum(list_transform(
      |                  string_split(substr(text, CAST(k * ((length(text) + 60) // 61) + 1 AS INT),
      |                                      CAST((length(text) + 60) // 61 AS INT)), ''),
      |                  c -> ascii(c))), 0),
      |           l := length(substr(text, CAST(k * ((length(text) + 60) // 61) + 1 AS INT),
      |                              CAST((length(text) + 60) // 61 AS INT))))) AS b
      |  FROM documents),
      |psig AS (
      |  SELECT media_id,
      |         list_reduce(
      |           list_prepend(CAST(0 AS BIGINT), generate_series(0, 59)),
      |           (acc, g) -> acc * 2 + (CASE WHEN b[g + 2].s * b[g + 1].l
      |                > b[g + 1].s * b[g + 2].l THEN 1 ELSE 0 END)) AS phash
      |  FROM bsums)""".stripMargin

  /** The exhaustive verified-pair oracle, parameterized by the erasure
    * predicate — ONE spelling behind `multimodal_phash_dupes` (TRUE) and
    * `phash_forget_media`, so the pair definition cannot drift between
    * the dedup gate and its erasure twin.
    */
  private def phashPairsOracleSql(pred: String): String =
    s"""WITH $phashCteSql
       |SELECT a.media_id AS media_a, b.media_id AS media_b,
       |       CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
       |FROM psig a JOIN psig b ON a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHammingMax
       |  AND $pred
       |ORDER BY media_a, media_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "multimodal_phash_clusters" ->
      s"""WITH RECURSIVE $phashCteSql,
         |pp AS (
         |  SELECT a.media_id AS media_a, b.media_id AS media_b
         |  FROM psig a JOIN psig b ON a.media_id < b.media_id
         |  WHERE bit_count(xor(a.phash, b.phash)) <= $PhashHammingMax),
         |edges AS (
         |  SELECT media_a AS src, media_b AS dst FROM pp
         |  UNION SELECT media_b, media_a FROM pp),
         |reach AS (
         |  SELECT src AS node, src AS r FROM edges
         |  UNION
         |  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
         |comp AS (
         |  SELECT node AS media_id, min(r) AS cluster_id FROM reach GROUP BY 1)
         |SELECT media_id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
         |FROM comp ORDER BY media_id""".stripMargin,
    "multimodal_phash_dupes" -> phashPairsOracleSql("TRUE"),
    // the erasure gate: the SAME exhaustive pair spelling restricted to
    // surviving media on BOTH endpoints — erasure ≡ filter-rebuild
    // through the pair-serving plan
    "phash_forget_media" ->
      phashPairsOracleSql("a.media_id % 10 != 0 AND b.media_id % 10 != 0"),
    "multimodal_frame_sample" ->
      s"""WITH base AS (
         |  SELECT doc_id AS media_id, text AS payload,
         |         CAST((length(text) + ${MediaCodecStub.FrameBytes - 1})
         |              // ${MediaCodecStub.FrameBytes} AS INT) AS n_frames
         |  FROM documents),
         |sampled AS (
         |  SELECT media_id,
         |         unnest(generate_series(0, n_frames - 1, 2)) AS frame_idx,
         |         payload
         |  FROM base)
         |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
         |       CAST(length(substring(payload, frame_idx * ${MediaCodecStub.FrameBytes} + 1,
         |            ${MediaCodecStub.FrameBytes})) AS INT) AS frame_len,
         |       md5(substring(payload, frame_idx * ${MediaCodecStub.FrameBytes} + 1,
         |            ${MediaCodecStub.FrameBytes})) AS frame_md5
         |FROM sampled
         |ORDER BY media_id, frame_idx""".stripMargin,
    // the encode→decode algebra: the BMP pixel stream (bottom-up BGR,
    // file order) IS the text bytes zero-padded to whole rows, so the
    // decoded stats are byte arithmetic over the text — channel = byte
    // index mod 3, zero pads contribute nothing, the position-weighted
    // checksum pins order (see [[decodedFeatures]])
    "multimodal_decoded_features" ->
      s"""WITH b AS (
         |  SELECT doc_id AS media_id, text,
         |         greatest(CAST(ceil(length(text) / ${BmpCodec.RowBytes}.0)
         |                   AS BIGINT), 1) AS h
         |  FROM documents),
         |bytes0 AS (
         |  SELECT media_id, text,
         |         unnest(generate_series(0, length(text) - 1)) AS k
         |  FROM b),
         |bytes AS (
         |  SELECT media_id, CAST(k AS BIGINT) AS k,
         |         ascii(substr(text, CAST(k AS INT) + 1, 1)) AS v
         |  FROM bytes0)
         |SELECT b.media_id AS media_id,
         |       CAST(${BmpCodec.Width} AS INT) AS img_w,
         |       CAST(h AS INT) AS img_h,
         |       CAST(${BmpCodec.Width} * h AS BIGINT) AS n_px,
         |       CAST(sum(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS sum_b,
         |       CAST(sum(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS sum_g,
         |       CAST(sum(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS sum_r,
         |       CAST(greatest(max(v), 0) AS INT) AS max_px,
         |       CAST(sum((k + 1) * v) AS BIGINT) AS checksum_w
         |FROM b JOIN bytes USING (media_id)
         |GROUP BY 1, h ORDER BY media_id""".stripMargin,
    // both dispatch arms replayed from the raw text: the bmp arm's
    // pixel stream is the text zero-padded to whole 45-byte rows (pads
    // contribute 0 to the sum but count in the length); the opaque
    // arm's stats are the raw byte walk (see [[kindFeatures]])
    "multimodal_kind_features" ->
      s"""WITH b AS (
         |  SELECT doc_id AS media_id, text,
         |         CASE WHEN doc_id % 2 = 0 THEN 'bmp' ELSE 'opaque' END AS kind,
         |         greatest(CAST(ceil(length(text) / ${BmpCodec.RowBytes}.0)
         |                   AS BIGINT), 1) AS h,
         |         coalesce(list_sum(list_transform(
         |           string_split(text, ''), c -> ascii(c))), 0) AS s
         |  FROM documents),
         |f AS (
         |  SELECT media_id, kind, s,
         |         CASE WHEN kind = 'bmp' THEN h * ${BmpCodec.RowBytes}
         |              ELSE length(text) END AS n_bytes
         |  FROM b)
         |SELECT media_id, kind, CAST(n_bytes AS BIGINT) AS n_bytes,
         |       CAST((n_bytes + ${MediaCodecStub.FrameBytes - 1})
         |            // ${MediaCodecStub.FrameBytes} AS INT) AS n_frames,
         |       CASE WHEN n_bytes = 0 THEN 0.0
         |            ELSE CAST(s AS DOUBLE) / n_bytes END AS mean_byte
         |FROM f ORDER BY media_id""".stripMargin,
    "multimodal_features" ->
      s"""SELECT doc_id AS media_id,
         |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
         |       md5(text) AS content_md5,
         |       CAST((octet_length(encode(text)) + ${MediaCodecStub.FrameBytes - 1})
         |            // ${MediaCodecStub.FrameBytes} AS INT) AS n_frames
         |FROM documents ORDER BY media_id""".stripMargin,
    // the encode→resize→decode algebra: the source pixel stream is the
    // text bytes zero-padded to whole rows (stride padding never enters
    // — it lives outside the w·3 row walk on both decode sides); output
    // pixel (br, bc, ch) = floor-mean over its k×k block's true
    // coverage; features then replay [[BmpCodec.decodeFeatures]] over
    // the resized file-order stream (see [[resizedFeatures]])
    "multimodal_resized_features" -> {
      val rb = BmpCodec.RowBytes
      val rf = ResizeFactor
      val outW = (BmpCodec.Width + rf - 1) / rf
      s"""WITH b AS (
         |  SELECT doc_id AS media_id, text,
         |         greatest(CAST(ceil(length(text) / $rb.0) AS BIGINT), 1) AS h
         |  FROM documents),
         |k0 AS (
         |  SELECT media_id, text, h,
         |         unnest(generate_series(0, h * $rb - 1)) AS k
         |  FROM b),
         |px AS (
         |  SELECT media_id, h, CAST(k AS BIGINT) AS k,
         |         CASE WHEN k < length(text)
         |              THEN ascii(substr(text, CAST(k AS INT) + 1, 1))
         |              ELSE 0 END AS v
         |  FROM k0),
         |blocks AS (
         |  SELECT media_id, h,
         |         (k // $rb) // $rf AS br,
         |         ((k % $rb) // 3) // $rf AS bc,
         |         k % 3 AS ch,
         |         CAST(sum(v) // count(*) AS BIGINT) AS ov
         |  FROM px GROUP BY 1, 2, 3, 4, 5),
         |opx AS (
         |  SELECT media_id, h, (br * $outW + bc) * 3 + ch AS kp, ch, ov
         |  FROM blocks)
         |SELECT media_id,
         |       CAST($outW AS INT) AS img_w,
         |       CAST((h + ${rf - 1}) // $rf AS INT) AS img_h,
         |       CAST($outW * ((h + ${rf - 1}) // $rf) AS BIGINT) AS n_px,
         |       CAST(sum(CASE WHEN ch = 0 THEN ov ELSE 0 END) AS BIGINT) AS sum_b,
         |       CAST(sum(CASE WHEN ch = 1 THEN ov ELSE 0 END) AS BIGINT) AS sum_g,
         |       CAST(sum(CASE WHEN ch = 2 THEN ov ELSE 0 END) AS BIGINT) AS sum_r,
         |       CAST(max(ov) AS INT) AS max_px,
         |       CAST(sum((kp + 1) * ov) AS BIGINT) AS checksum_w
         |FROM opx GROUP BY media_id, h ORDER BY media_id""".stripMargin
    },
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "multimodal_decoded_features" -> decodedFeatures _,
    "multimodal_resized_features" -> resizedFeatures _,
    "multimodal_features" -> features _,
    "multimodal_kind_features" -> kindFeatures _,
    "multimodal_frame_sample" -> frameSample _,
    "multimodal_phash_dupes" -> phashDupes _,
    "multimodal_phash_clusters" -> phashClusters _,
    "phash_forget_media" -> phashForgetMedia _,
  )
}
