package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {

  test("exact dedup collapses constructed duplicates to min doc_id") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon"), (4L, "alpha beta gamma"))
      .toDF("doc_id", "text")
    val out = docs.groupBy(col("text"))
      .agg(min(col("doc_id")).alias("keep_id"), count(lit(1)).alias("n_copies"))
    val rows = out.collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(rows == Set((1L, 3L), (3L, 1L)))
  }

  test("connectedComponents: deep chain converges in O(log diameter) rounds," +
      " through the localCheckpoint path") {
    import spark.implicits._
    // 0-1-2-...-256 chain (diameter 256) plus a disjoint pair 1000-1001:
    // the adversarial shape for min-label propagation — plain one-hop
    // propagation needs 256 rounds here (and would blow the round cap);
    // the pointer-shortcut doubling step must close it in ~log₂(256).
    // Depth threshold 3 forces most rounds through the checkpoint branch,
    // exercising the explicit checkpoint-block release each round.
    val diameter = 256L
    val chain = (0L until diameter).map(i => (i, i + 1)) :+ (1000L, 1001L)
    val edges = chain.toDF("a", "b")
      .select(explode(array(
        struct(col("a").alias("src"), col("b").alias("dst")),
        struct(col("b").alias("src"), col("a").alias("dst")))).alias("e"))
      .select(col("e.src").alias("src"), col("e.dst").alias("dst"))
    val maxExpected = 2 * (63 - java.lang.Long.numberOfLeadingZeros(diameter)) // 2·log₂(d)
    val (labels, rounds) = Dedup.connectedComponents(
      edges, maxRounds = maxExpected + 1, localCheckpointDepth = 3)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = ((0L to diameter).map(_ -> 0L) ++
      Seq(1000L -> 1000L, 1001L -> 1000L)).toMap
    assert(got == expected)
    assert(rounds <= maxExpected,
      s"chain of diameter $diameter took $rounds rounds (doubling regressed?)")
  }

  test("minhash LSH pairs equal exhaustive jaccard pairs (planted near-dups)") {
    val lsh = q("dedup_minhash_lsh").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exhaustive = q("dedup_ngram_jaccard").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exhaustive)
    assert(lsh.nonEmpty) // the corpus plants near-dup pairs
  }

  test("all verified pairs sit above the threshold; jaccard within [0,1]") {
    val bad = q("dedup_minhash_lsh")
      .filter(col("jaccard") < 0.8 || col("jaccard") > 1.0).count()
    assert(bad == 0)
  }

  test("simhash: planted near-dup pairs have small hamming distance") {
    val sims = q("dedup_simhash")
    val pairs = q("dedup_minhash_lsh").select("doc_a", "doc_b")
    val joined = pairs
      .join(sims.withColumnRenamed("simhash", "ha"), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sims.withColumnRenamed("simhash", "hb"), col("doc_b") === col("doc_id"))
      .select(bit_count(expr("ha ^ hb")).alias("hamming"))
    val maxH = joined.agg(max(col("hamming"))).collect()(0).getInt(0)
    // near-identical token multisets → signatures within a few bits of 60
    assert(maxH <= 10, s"max hamming distance $maxH")
  }

  test("clusters: every pair co-clustered, label is the component minimum") {
    val labels = q("dedup_clusters").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = q("dedup_minhash_lsh").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // endpoints of every near-dup pair share a cluster
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // the label IS a member, and it is the minimum of its cluster
    labels.groupBy(_._2).foreach { case (cid, members) =>
      assert(members.keySet.contains(cid))
      assert(members.keys.min == cid)
    }
    // cluster map covers exactly the nodes of the pair graph
    assert(labels.keySet == pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("survivors = documents minus higher ids of near-dup pairs") {
    val nDocs = Tables.documents(spark, sf).count()
    val nRemoved = q("dedup_minhash_lsh").select("doc_b").distinct().count()
    assert(q("dedup_survivors").count() == nDocs - nRemoved)
  }

  test("cross-source matrix cells sum to the verified pair count, canonical order") {
    val rows = q("dedup_cross_source_pairs").collect()
    assert(rows.map(_.getLong(2)).sum == q("dedup_minhash_lsh").count())
    rows.foreach(r => assert(r.getString(0) <= r.getString(1),
      s"cell not canonical: ${r.getString(0)} > ${r.getString(1)}"))
  }

  test("prefix-filtered jaccard join equals the exhaustive join row for row") {
    // the prefix-filter theorem makes the candidate set a superset for
    // EVERY corpus — unlike the LSH twin there is no similarity-gap
    // assumption to honor, so plain set equality is the whole contract
    val pf = q("dedup_prefix_filter")
    val ex = q("dedup_ngram_jaccard")
    assert(pf.count() > 0)
    assert(pf.except(ex).count() == 0 && ex.except(pf).count() == 0)
  }

  test("cluster representative is the longest member, min-id tie-break; counts reconcile") {
    val members = q("dedup_clusters").collect()
      .map(r => (r.getLong(0), r.getLong(1))) // (doc_id, cluster_id)
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    assert(members.nonEmpty)
    val chars = Tables.documents(spark, sf).select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reps = q("dedup_cluster_reps").collect()
    // exactly one representative per cluster
    assert(reps.map(_.getLong(0)).toSet == members.keySet)
    for (r <- reps) {
      val (cid, rep, repChars) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ms = members(cid)
      assert(ms.contains(rep), s"rep $rep not a member of cluster $cid")
      assert(r.getLong(3) == ms.size && r.getLong(4) == ms.size - 1)
      val maxChars = ms.map(chars).max
      assert(repChars == maxChars, s"cluster $cid rep is not the longest member")
      assert(rep == ms.filter(chars(_) == maxChars).min, s"cluster $cid tie-break")
    }
  }

  test("minhashIncremental ≡ from-scratch minhashLsh, with a real batch split") {
    val full = q("dedup_minhash_lsh").collect().toSeq
    val incr = q("dedup_minhash_incremental").collect().toSeq
    assert(incr == full)
    assert(full.nonEmpty)
    val docs = Tables.documents(spark, sf).select("doc_id").collect().map(_.getLong(0))
    assert(docs.count(_ % 10 == 9) > 0 && docs.count(_ % 10 != 9) > 0)
  }

  test("jaccard histogram: band edges are exact — the ≥0.8 bands sum to the" +
      " exhaustive pair count") {
    val hist = q("dedup_jaccard_histogram").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(hist.nonEmpty)
    hist.foreach { case (bin, lo, _) =>
      assert(bin >= 10 && bin <= 20)
      assert(lo == bin / 20.0)
    }
    val above80 = hist.filter(_._1 >= 16).map(_._3).sum
    assert(above80 == q("dedup_ngram_jaccard").count(),
      "bin >= 16 must be exactly the jaccard >= 0.8 pair set")
  }

  test("chunkDedup matches a driver-side reimplementation row for row," +
      " and untouched documents reassemble to their own text") {
    val C = 32
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    // independent spelling: global first-occurrence by (doc_id, chunk_id)
    val seen = scala.collection.mutable.Set.empty[String]
    val expected = docs.map { case (id, text) =>
      val toks = text.split(" ", -1)
      val chunks = toks.grouped(C).map(_.mkString(" ")).toSeq
      val kept = chunks.filter { c => val fresh = !seen(c); seen += c; fresh }
      val keptMd5 = if (kept.isEmpty) null else md5hex(kept.mkString(" "))
      (id, chunks.size.toLong, (chunks.size - kept.size).toLong, keptMd5)
    }
    val got = q("docs_chunk_dedup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getString(3)))
    assert(got.toSeq == expected.toSeq)
    // reassembly identity: a doc that lost nothing hashes to md5(text)
    val textMd5 = docs.toMap
    val untouched = got.filter(_._3 == 0L)
    assert(untouched.nonEmpty)
    untouched.foreach { case (id, _, _, h) => assert(h == md5hex(textMd5(id))) }
  }

  test("split leakage report = verified pairs whose endpoints straddle the" +
      " md5-residue split, with the exact split labels of the release audit") {
    // the split labels recomputed driver-side with the same bucket rule
    def splitOf(docId: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(docId.toString.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      val bucket = java.lang.Long.parseLong(hex.substring(17, 32), 16) % 100
      if (bucket < 80) "train" else if (bucket < 90) "val" else "test"
    }
    val pairs = q("dedup_minhash_lsh").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs.nonEmpty, "fixture must carry verified near-dup pairs")
    val expected = pairs
      .map { case (a, b) => (a, b, splitOf(a), splitOf(b)) }
      .filter { case (_, _, sa, sb) => sa != sb }
      .sortBy { case (a, b, _, _) => (a, b) }
    val got = q("split_leakage_report").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSeq
    assert(got == expected, s"got $got\nwant $expected")
    // the report is a SUBSET of the verified pair set (it composes the
    // registered fact, never re-derives pairs of its own)
    val pairSet = pairs.toSet
    got.foreach { case (a, b, _, _) => assert(pairSet((a, b))) }
  }

  test("winnowing: the SIGMOD'03 match guarantee, the gap bound, and" +
      " rightmost-min tie selection — plus the registered gates' contracts") {
    import spark.implicits._
    // two docs sharing a block well past w + k - 1 chars inside otherwise
    // disjoint text MUST share a fingerprint hash (the guarantee the
    // scheme exists for); a third doc with a disjoint alphabet shares none
    val block = "THE-SHARED-BLOCK-OF-TEXT!"
    val docs = Seq(
      (1L, "aaaaaaaaaaaaaaa" + block + "bbbbbbbbbbbbbbb"),
      (2L, "cccccccccccccccccccc" + block + "ddddddddd"),
      (3L, "eeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeeee")).toDF("doc_id", "text")
    val fp = Dedup.winnowFingerprintsOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val hashesOf = fp.groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).toSet }
    assert((hashesOf(1L) intersect hashesOf(2L)).nonEmpty,
      "shared block produced no shared fingerprint — the guarantee broke")
    assert((hashesOf(1L) intersect hashesOf(3L)).isEmpty &&
      (hashesOf(2L) intersect hashesOf(3L)).isEmpty,
      "disjoint-alphabet docs share a fingerprint — hash grid misaligned")
    // the winnowing GAP BOUND: within a doc, the first selection sits in
    // the first window, consecutive selections differ by at most w, and
    // the last selection covers the last window — so every window is
    // covered by some selection
    val (k, w) = (Dedup.WinnowK, Dedup.WinnowW)
    docs.collect().foreach { row =>
      val (d, len) = (row.getLong(0), row.getString(1).length)
      val maxp = len - k
      val ps = fp.filter(_._1 == d).map(_._3).distinct.sorted
      assert(ps.nonEmpty && ps.head <= (w - 1).toLong, s"doc $d first selection ${ps.head}")
      assert(ps.last >= (maxp - (w - 1)).toLong, s"doc $d last selection ${ps.last} of $maxp")
      ps.sliding(2).filter(_.length == 2).foreach { pair =>
        assert(pair(1) - pair(0) <= w.toLong,
          s"doc $d gap ${pair(0)}->${pair(1)} exceeds w")
      }
      // density: at most one selection per window
      assert(ps.length <= maxp - w + 2, s"doc $d over-selected")
    }
    // RIGHTMOST-min tie rule, pinned by the degenerate all-equal-hash doc:
    // every window of identical hashes selects its rightmost position, so
    // the selected set is exactly [w-1, maxp]
    val eMax = 35 - k
    assert(fp.filter(_._1 == 3L).map(_._3).sorted.toSeq ==
      ((w - 1).toLong to eMax.toLong),
      "all-equal-hash doc did not select rightmost-per-window")
    // registered gates: the report is non-degenerate and every served
    // overlap pair genuinely shares >= the threshold of df-capped hashes
    val rep = q("docs_winnowing_fingerprints").collect()
    assert(rep.length > 0 && rep.forall(r => r.getLong(1) >= r.getLong(2)))
    val pairs = q("winnowing_overlap_pairs").collect()
    assert(pairs.nonEmpty, "fixture surfaced no local-overlap pairs")
    assert(pairs.forall(_.getLong(2) >= Dedup.WinnowShareMin.toLong))
  }

  test("winnowing codegen expression ≡ the retired HOF + window-frame" +
      " spelling, on the fixture corpus and on crafted tie/repeat inputs;" +
      " the position-overflow guard throws loudly") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the fixture corpus — the differential the registered gates ride
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    assert(rows(Dedup.winnowFingerprintsOf(docs)) ==
      rows(Dedup.winnowFingerprintsOfHof(docs)),
      "expression diverged from the HOF spelling on the fixture corpus")
    // crafted adversarial inputs: all-equal hashes (every window ties),
    // a repeating period shorter than the window, a doc of exactly the
    // minimum length, one just below it, and non-ASCII text (both sides
    // hash the UTF-8 bytes of CHARACTER substrings)
    val crafted = Seq(
      (1L, "zzzzzzzzzzzzzzzzzzzzzzzz"),
      (2L, "abcabcabcabcabcabcabcabcabc"),
      (3L, "exactly11ch"),
      (4L, "tenchars--"),
      (5L, "héllo wörld — ünïcode téxt high enough to fingerprint"),
      (6L, "the quick brown fox jumps over the lazy dog repeatedly, " +
        "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    assert(rows(Dedup.winnowFingerprintsOf(crafted)) ==
      rows(Dedup.winnowFingerprintsOfHof(crafted)),
      "expression diverged from the HOF spelling on crafted inputs")
    // the guard (r19 ADVICE): a document whose positions would overflow
    // the 20-bit field fails LOUDLY — never silently-wrong fingerprints
    val big = Seq((7L, "x" * ((1 << 20) + Dedup.WinnowK)))
      .toDF("doc_id", "text")
    val e = intercept[Throwable] {
      Dedup.winnowFingerprintsOf(big).collect()
    }
    val chain = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(chain.contains("winnowing position overflow"),
      s"expected the overflow guard, got: $chain")
  }

  test("winnowing stored index: stored-over-batches ≡ the batch gate," +
      " fold replay is a no-op, the ingestion probe finds copied blocks," +
      " and erasure reaches fingerprints (ghost direction included)") {
    import spark.implicits._
    import graft.streaming.EventStream
    def pairRows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // stored-over-batches ≡ one-shot (the registered gate's contract,
    // pinned here against the session spelling, not just the oracle)
    val stored = pairRows(q("winnowing_stored_overlap"))
    val batch = pairRows(q("winnowing_overlap_pairs"))
    assert(stored == batch, s"stored $stored != batch $batch")
    // replay no-op: re-folding a committed batch id must not duplicate
    // index rows (marker-gated — the second JVM / crash-recovery path)
    val indexDir =
      s"${operators.Layout.tmpPath("graft-winnowlog", sf)}/index"
    val before = EventStream.winnowIndexRead(spark, indexDir).count()
    EventStream.winnowIngestFoldBatch(spark, indexDir,
      Tables.documents(spark, sf).limit(10), 0L)
    assert(EventStream.winnowIndexRead(spark, indexDir).count() == before,
      "replayed fold changed the stored index")
    // ingestion-time probe + erasure, on a fresh crafted index: history
    // doc 1 carries a block; a new batch doc copying it is flagged AT
    // ARRIVAL; after forgetting doc 1 the same probe finds nothing (the
    // ghost direction — a forgotten doc must not dedup future ingests)
    val block = "THE-SHARED-BLOCK-OF-TEXT-LONG-ENOUGH-TO-WINNOW-" * 3
    val history = Seq((1L, "aaaaaaaaaaaaaaa" + block),
      (2L, "qqqqqqqqqqqqqqqqqqqqqqqqqqqqqq")).toDF("doc_id", "text")
    val arrival = Seq((9L, "zzzzzzzzzz" + block + "yyyyyyyyyy"))
      .toDF("doc_id", "text")
    val base = java.nio.file.Files
      .createTempDirectory("graft-winnowprobe").toString
    EventStream.winnowIndexSeed(spark, base, history)
    val hits = EventStream.winnowProbeStored(spark, base, arrival).collect()
    assert(hits.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((9L, 1L)),
      s"probe missed the copied block: ${hits.toSeq}")
    EventStream.forgetDocsFromWinnowIndex(spark, base,
      Seq(1L).toDF("doc_id"))
    val erased = EventStream.winnowIndexRead(spark, base)
    assert(erased.filter(org.apache.spark.sql.functions.col("doc_id") === 1L)
      .count() == 0, "victim rows survived erasure")
    assert(erased.count() > 0, "erasure emptied the index — over-deletion")
    assert(EventStream.winnowProbeStored(spark, base, arrival).isEmpty,
      "ghost fingerprints still match future ingests after erasure")
    // the registered serving-level erasure gate: served pairs ≡ the
    // filter-rebuild over surviving docs (df cap re-derived over the
    // SURVIVOR set), and no forgotten endpoint survives
    val served = pairRows(q("winnowing_forget_docs"))
    assert(served.nonEmpty)
    assert(served.forall { case (a, b, _) => a % 10 != 7 && b % 10 != 7 },
      "a forgotten endpoint survives in the served pairs")
    val rebuilt = Dedup.winnowOverlapOf(Dedup.winnowFingerprintsOf(
        Tables.documents(spark, sf).filter(col("doc_id") % 10 =!= 7)))
      .orderBy("doc_a", "doc_b")
    assert(served == pairRows(rebuilt),
      "served erased pairs != the survivor filter-rebuild")
  }
}
