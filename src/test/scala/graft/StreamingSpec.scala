package graft

import org.apache.spark.sql.functions._

import graft.streaming.EventStream

class StreamingSpec extends SparkSpec {

  /** The sales-detail frame the totals-maintenance tests fold (lineitem
    * ⋈ orders with the CDC date column).
    */
  private def detailFrame = Tables.lineitem(spark, sf)
    .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
    .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
      col("l_discount"), col("o_orderdate"))

  /** Stage one micro-batch file with a pinned age — the file source
    * orders by mod time, so ages make the trigger order deterministic.
    */
  private def stageFile(df: org.apache.spark.sql.DataFrame,
      dir: java.nio.file.Path, name: String, ageSec: Long): Unit = {
    val d = dir.resolve(name)
    df.coalesce(1).write.parquet(d.toString)
    java.nio.file.Files.walk(d).forEach(p =>
      p.toFile.setLastModified(System.currentTimeMillis() - ageSec * 1000))
  }

  /** A table's generation dir on the log — where planted crash states
    * and listing assertions aim.
    */
  private def gen(dir: String, g: String): String = s"$dir/state/$g"

  /** Committed generation dirs of a table (`_SUCCESS` present). */
  private def committedGens(dir: String): Seq[String] =
    Option(new java.io.File(s"$dir/state").list()).toSeq.flatten
      .filter(g => new java.io.File(s"${gen(dir, g)}/_SUCCESS").exists()).sorted

  /** The generation dirs a read scans (its data files' parent dirs). */
  private def servedGens(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getParent.getName)
      .distinct.sorted.toSeq

  /** Drop a table's manifests, so reads are served from the listing. */
  private def dropManifests(dir: String): Unit =
    java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/state"))
      .filter(_.getFileName.toString.startsWith("_vmanifest_"))
      .forEach(java.nio.file.Files.delete(_))

  /** Drop a generation's `_SUCCESS` — the torn-commit shape. */
  private def uncommit(dir: String): Unit =
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/_SUCCESS"))

  test("streaming hourly counts equal the batch events_hourly result") {
    // file stream sources require a directory — stage the fixture file
    val dir = java.nio.file.Files.createTempDirectory("graft-stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    assert(stream.isStreaming)
    val query = EventStream.runToMemory(EventStream.hourlyCounts(stream), "hourly_smoke")
    try {
      val streamed = spark.table("hourly_smoke")
        .select("hour_start", "event_type", "n_events", "sum_value")
      val batch = q("events_hourly")
      assert(streamed.count() == batch.count())
      // exact equality of every (window, type) group
      val mismatches = streamed.alias("s")
        .join(batch.alias("b"), Seq("hour_start", "event_type"), "full_outer")
        .filter(col("s.n_events").isNull || col("b.n_events").isNull ||
          col("s.n_events") =!= col("b.n_events") ||
          col("s.sum_value") =!= col("b.sum_value"))
      assert(mismatches.count() == 0)
    } finally query.stop()
  }

  test("streaming dedup-within-watermark passes distinct events through") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream3")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val query = EventStream.runToMemory(
      EventStream.dedupedEvents(EventStream.readEvents(spark, dir.toString)),
      "dedup_smoke", "append")
    try {
      val n = spark.table("dedup_smoke").count()
      assert(n == Tables.events(spark, sf).select("event_id").distinct().count())
    } finally query.stop()
  }

  test("streaming session_window equals the batch events_session_window result") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream6")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val query = EventStream.runToMemory(
      EventStream.sessionWindows(EventStream.readEvents(spark, dir.toString)),
      "session_window_smoke")
    try {
      val streamed = spark.table("session_window_smoke")
      val batch = q("events_session_window")
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
    } finally query.stop()
  }

  test("flatMapGroupsWithState sessionization equals the batch events_sessionize") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream4")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val query = EventStream.runToMemory(
      EventStream.sessionizeStateful(stream).toDF(), "session_smoke", "update")
    try {
      // single input file → one micro-batch → every session emitted once
      val streamed = spark.table("session_smoke")
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("session_start_us"), col("session_end_us"))
      val batch = q("events_sessionize").select(col("user_id"), col("session_id"),
        col("n_events"),
        unix_micros(col("session_start")).alias("session_start_us"),
        unix_micros(col("session_end")).alias("session_end_us"))
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
    } finally query.stop()
  }

  test("stream-stream interval join matches the batch attribution pair count") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream5")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val joined = EventStream.purchaseAttributionPairs(
      EventStream.readEvents(spark, dir.toString),
      EventStream.readEvents(spark, dir.toString))
    assert(joined.isStreaming)
    val query = EventStream.runToMemory(joined, "attr_smoke", "append")
    try {
      val e = Tables.events(spark, sf)
      val p = e.filter(col("event_type") === "purchase")
        .select(col("event_id").alias("purchase_id"), col("user_id").alias("p_user"),
          col("ts").alias("p_ts"))
      val o = e.filter(col("event_type") =!= "purchase")
        .select(col("event_id").alias("prior_event_id"), col("user_id"), col("ts"))
      val batchPairs = p.join(o,
        col("p_user") === col("user_id") && col("ts") < col("p_ts") &&
          col("ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES")).count()
      assert(spark.table("attr_smoke").count() == batchPairs)
      assert(batchPairs > 0)
    } finally query.stop()
  }

  test("stream-static broadcast enrichment equals the batch join") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream7")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val dim = Tables.customer(spark, sf)
    val enriched = EventStream.enrichedEvents(
      EventStream.readEvents(spark, dir.toString), dim)
    assert(enriched.isStreaming)
    val query = EventStream.runToMemory(enriched, "enrich_smoke", "append")
    try {
      val streamed = spark.table("enrich_smoke").select("event_id", "segment")
      val batch = Tables.events(spark, sf)
        .join(dim, col("user_id") === col("c_custkey"))
        .select(col("event_id"), col("c_mktsegment").alias("segment"))
      assert(streamed.count() == batch.count() && batch.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
    } finally query.stop()
  }

  test("foreachBatch MinHash ingest-dedup equals the batch pair set across micro-batches") {
    // same history/batch split as the batch dedup_minhash_incremental
    // gate (doc_id % 10 == 9 is the crawl increment), but the increment
    // arrives as TWO staged files driven one-per-trigger, so the second
    // micro-batch genuinely probes an index the first one extended —
    // the cross-batch state path a single-batch run never exercises
    val dir = java.nio.file.Files.createTempDirectory("graft-stream8")
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 20 === 9)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    docs.filter(col("doc_id") % 20 === 19)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val docsStream = spark.readStream
      .schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
    assert(docsStream.isStreaming)
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    val outBase = java.nio.file.Files.createTempDirectory("graft-stream8-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    val query = streaming.EventStream.minhashIngestDedup(docsStream, history, out, idx)
    try query.processAllAvailable() finally query.stop()
    val streamed = streaming.EventStream.ingestPairsRead(spark, out)
    // expected: every verified near-dup pair involving an increment doc —
    // the from-scratch LSH pair set minus its history↔history rows
    val batchOnly = (c: org.apache.spark.sql.Column) => c % 10 === 9
    val want = q("dedup_minhash_lsh")
      .filter(batchOnly(col("doc_a")) || batchOnly(col("doc_b")))
    assert(want.count() > 0, "fixture has no increment-involved pairs")
    assert(streamed.count() == want.count())
    assert(streamed.exceptAll(want).count() == 0)
    assert(want.exceptAll(streamed).count() == 0)
  }

  test("foreachBatch MinHash ingest-dedup tolerates a shingle-free micro-batch") {
    import spark.implicits._
    // a batch whose every document is too short to shingle (3-grams need
    // ≥3 tokens) must fold as a clean no-op — empty band probe, empty
    // verified append — and leave the index able to serve later batches
    val dir = java.nio.file.Files.createTempDirectory("graft-stream9")
    val docs = Tables.documents(spark, sf)
    val maxId = docs.agg(org.apache.spark.sql.functions.max(col("doc_id")))
      .collect()(0).getLong(0)
    // batch 1: planted short docs with fresh ids; batch 2: the real increment
    // column order matches the documents schema: doc_id, text, lang,
    // source, n_chars
    Seq((maxId + 1, "one two", "en", "srcX", 7L),
        (maxId + 2, "xy", "en", "srcX", 2L))
      .toDF(docs.columns: _*)
      .coalesce(1).write.parquet(dir.resolve("b1").toString)
    docs.filter(col("doc_id") % 10 === 9)
      .coalesce(1).write.parquet(dir.resolve("b2").toString)
    java.nio.file.Files.walk(dir.resolve("b1")).forEach(p =>
      p.toFile.setLastModified(System.currentTimeMillis() - 60000))
    java.nio.file.Files.walk(dir.resolve("b2")).forEach(p =>
      p.toFile.setLastModified(System.currentTimeMillis() - 30000))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$dir/*")
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    val outBase = java.nio.file.Files.createTempDirectory("graft-stream9-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    val query = streaming.EventStream.minhashIngestDedup(stream, history, out, idx)
    try query.processAllAvailable() finally query.stop()
    val streamed = streaming.EventStream.ingestPairsRead(spark, out)
    val batchOnly = (c: org.apache.spark.sql.Column) => c % 10 === 9
    val want = q("dedup_minhash_lsh")
      .filter(batchOnly(col("doc_a")) || batchOnly(col("doc_b")))
    // the short docs contribute no pairs; the real increment's parity is
    // untouched by the no-op batch that preceded it
    assert(streamed.count() == want.count() && want.count() > 0)
    assert(streamed.exceptAll(want).count() == 0)
  }

  test("ingest-dedup replay cleans a crashed attempt's partial subdirs before probing") {
    import graft.operators.Dedup
    // simulate the crash window: a prior attempt at batch 0 committed
    // its shingle generation and wrote its band files but died before
    // the bands generation (the batch's commit) landed — the replay must
    // NOT read those leftovers as stored history, or every batch shingle
    // row would be duplicated in the verify join and pairs would double
    val dir = java.nio.file.Files.createTempDirectory("graft-stream11")
    val docs = Tables.documents(spark, sf)
    val increment = docs.filter(col("doc_id") % 10 === 9)
    increment.coalesce(1).write.mode("append").parquet(dir.toString)
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    val outBase = java.nio.file.Files.createTempDirectory("graft-stream11-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    // plant the crashed attempt's leftovers (full copies — the worst
    // case) as the batch's generations on the log; the stream's own
    // seeding writes the seeds beside them
    val incSh = Dedup.shingleDocs(increment)
    incSh.write.parquet(gen(s"$idx/shingles", "a0"))
    Dedup.bandIndex(incSh).write.parquet(gen(s"$idx/bands", "a0"))
    uncommit(gen(s"$idx/bands", "a0"))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val query = streaming.EventStream.minhashIngestDedup(stream, history, out, idx)
    try query.processAllAvailable() finally query.stop()
    val streamed = streaming.EventStream.ingestPairsRead(spark, out)
    val batchOnly = (c: org.apache.spark.sql.Column) => c % 10 === 9
    val want = q("dedup_minhash_lsh")
      .filter(batchOnly(col("doc_a")) || batchOnly(col("doc_b")))
    assert(want.count() > 0)
    // exact multiset equality — duplicated pairs would fail the count
    assert(streamed.count() == want.count())
    assert(streamed.exceptAll(want).count() == 0)
    assert(want.exceptAll(streamed).count() == 0)
  }

  test("ingest-dedup restart: a new stream over the existing index dirs resumes serving") {
    // the increment arrives in TWO separate stream RUNS (not two
    // micro-batches of one run): run 1 indexes the first half, run 2 is
    // a brand-new StreamingQuery with the SAME checkpoint + index dirs —
    // the storage-backed index must carry the first half's bands across
    // the restart, and the checkpointed source must not re-emit run 1's
    // file. Driver-held index state (the pre-r14 form) cannot pass this:
    // it died with the query.
    val dir = java.nio.file.Files.createTempDirectory("graft-stream10")
    val docs = Tables.documents(spark, sf)
    val outBase = java.nio.file.Files.createTempDirectory("graft-stream10-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    val ckpt = outBase.resolve("ckpt").toString
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val query = streaming.EventStream.minhashIngestDedup(
        stream, history, out, idx, checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    docs.filter(col("doc_id") % 20 === 9)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    run()
    val afterFirst = streaming.EventStream.ingestPairsRead(spark, out).count()
    // COMPACT between the runs: the consolidated index must serve run 2
    // exactly as the per-batch generations would, and the read collapses
    // to the one rewrite
    streaming.EventStream.compactIngestIndex(spark, idx)
    val shDirs = servedGens(streaming.EventStream.ingestShinglesRead(spark, idx))
    assert(shDirs == Seq("r0_0"), s"shingles: ${shDirs.mkString(",")}")
    docs.filter(col("doc_id") % 20 === 19)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    run()
    val streamed = streaming.EventStream.ingestPairsRead(spark, out)
    val batchOnly = (c: org.apache.spark.sql.Column) => c % 10 === 9
    val want = q("dedup_minhash_lsh")
      .filter(batchOnly(col("doc_a")) || batchOnly(col("doc_b")))
    assert(want.count() > 0, "fixture has no increment-involved pairs")
    // run 2 found MORE pairs than run 1 alone (so it genuinely probed an
    // index run 1 extended), and the union equals the from-scratch set
    assert(streamed.count() > afterFirst)
    assert(streamed.count() == want.count())
    assert(streamed.exceptAll(want).count() == 0)
    assert(want.exceptAll(streamed).count() == 0)
  }

  test("bucketed SCD2 maintenance: parity across runs, untouched buckets never rewritten") {
    import graft.operators.WindowAnalytics
    val orders = Tables.orders(spark, sf)
    val (cut1, cut2) = ("1996-07-01", "1998-07-01")
    val buckets = streaming.EventStream.StateBuckets
    val bucketOf = pmod(hash(col("o_custkey")), lit(buckets))
    val TargetBucket = 3
    // input universe: all orders before cut2, plus post-cut2 orders of
    // keys hashing to ONE bucket — so run 2's fold must write that bucket
    // only and leave every file run 1 wrote byte-identical while parity
    // holds over the universe
    val b1 = orders.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2)
    val b2 = orders.filter(col("o_orderdate") >= cut2 && bucketOf === TargetBucket)
    assert(b2.count() > 0, "fixture has no post-cutover rows in the target bucket")
    val history0 = WindowAnalytics.priorityIntervalHistoryOf(
      orders.filter(col("o_orderdate") < cut1))
    val cdcDir = java.nio.file.Files.createTempDirectory("graft-scd2bkt")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-scd2bktstate").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$cdcDir/*")
      val query = streaming.EventStream.scd2MaintenanceStreamVersioned(
        stream, history0, stateDir)
      try query.processAllAvailable() finally query.stop()
    }
    b1.coalesce(1).write.parquet(cdcDir.resolve("b1").toString)
    run()
    val between = bucketSnapshot(stateDir)
    b2.coalesce(1).write.parquet(cdcDir.resolve("b2").toString)
    // deterministic order for the resumed stream: b1 older than b2
    java.nio.file.Files.walk(cdcDir.resolve("b1")).forEach(p =>
      p.toFile.setLastModified(System.currentTimeMillis() - 60000))
    run() // resume: b1 replays as batch 0 (generation no-op), b2 folds as batch 1
    val after = bucketSnapshot(stateDir)
    between.foreach { case (rel, sig) =>
      assert(after.get(rel).contains(sig), s"run 2 rewrote $rel") }
    val added = after.keySet -- between.keySet
    assert(added.nonEmpty && added.forall(_.startsWith(s"g1/bucket=$TargetBucket/")),
      s"run 2 wrote outside the target bucket's generation: $added")
    // parity: the maintained dimension equals the from-scratch interval
    // build over the whole input universe
    val latest = scd2Stored(stateDir, history0.schema)
    val want = WindowAnalytics.priorityIntervalHistoryOf(
      orders.filter(col("o_orderdate") < cut2)
        .unionAll(b2))
    val cols = Seq("customer_key", "island", "priority", "valid_from",
      "valid_to", "valid_until", "n_orders").map(col)
    assert(latest.select(cols: _*).exceptAll(want.select(cols: _*)).count() == 0)
    assert(want.select(cols: _*).exceptAll(latest.select(cols: _*)).count() == 0)
    assert(latest.count() == want.count() && want.count() > 0)
  }

  test("bucketed SCD2 maintenance: an out-of-order batch fails loudly and advances nothing") {
    import graft.operators.WindowAnalytics
    val orders = Tables.orders(spark, sf)
    val (cut1, cut2) = ("1996-07-01", "1998-07-01")
    val history0 = WindowAnalytics.priorityIntervalHistoryOf(
      orders.filter(col("o_orderdate") < cut1))
    val cdcDir = java.nio.file.Files.createTempDirectory("graft-scd2bktooo")
    def stage(pred: org.apache.spark.sql.Column, name: String, ageSec: Long): Unit =
      stageFile(orders.filter(pred), cdcDir, name, ageSec)
    // REVERSED: the late range arrives first; the second batch's rows
    // predate state the first already folded
    stage(col("o_orderdate") >= cut2, "late", 60)
    stage(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2, "early", 30)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-scd2bktooos").toString
    val stream = spark.readStream.schema(orders.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$cdcDir/*")
    val query = streaming.EventStream.scd2MaintenanceStreamVersioned(
      stream, history0, stateDir)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      try query.processAllAvailable() finally query.stop()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(c =>
        Option(c.getMessage).exists(_.contains("append-only CDC contract violated"))),
      s"wrong failure: $e")
    // batch 0 (the late file) committed its generation; the violating
    // batch 1 must have committed NOTHING, so a restart retries it (and
    // fails again) instead of silently skipping a half-applied batch
    val committed = new java.io.File(s"$stateDir/state").list()
      .filter(g => new java.io.File(s"$stateDir/state/$g/_SUCCESS").exists).sorted
    assert(committed.sameElements(Array("g0", "seed")),
      s"committed generations: ${committed.mkString(",")}")
  }

  /** md5 snapshot of every data file under the bucketed state table —
    * the byte-identity witness the crash-replay specs compare.
    */
  private def bucketSnapshot(stateDir: String): Map[String, (Long, String)] = {
    def md5(p: java.nio.file.Path): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      new java.math.BigInteger(1, d.digest(java.nio.file.Files.readAllBytes(p)))
        .toString(16)
    }
    val base = java.nio.file.Paths.get(s"$stateDir/state")
    val out = scala.collection.mutable.Map.empty[String, (Long, String)]
    java.nio.file.Files.walk(base).forEach { p =>
      val rel = base.relativize(p).toString
      if (rel.contains("bucket=") && p.toFile.isFile && !rel.endsWith("_SUCCESS"))
        out(rel) = (java.nio.file.Files.size(p), md5(p))
    }
    out.toMap
  }

  /** The versioned SCD2 dimension under `stateDir`, reader-shaped (the
    * `bucket` partition column dropped).
    */
  private def scd2Stored(stateDir: String,
      historySchema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    EventStream.versionedRead(spark, stateDir,
      EventStream.scd2VersionedSchema(historySchema))

  /** Row-multiset equality of two interval histories (same columns). */
  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("manifest-backed tf-index reads: manifest-served frames equal" +
      " listing-served with strictly fewer FS probes; torn or stale" +
      " manifests fall back, never serve wrong rows") {
    import graft.streaming.{EventStream, StateFs}
    val docs = Tables.documents(spark, sf)
    val indexDir = java.nio.file.Files.createTempDirectory("graft-manifest").toString
    EventStream.tfIndexSeed(spark, indexDir, docs.filter(col("doc_id") % 10 < 7))
    val foldListings = Seq(7L, 8L, 9L).zipWithIndex.map { case (res, id) =>
      val before = StateFs.listCalls.get
      EventStream.tfIndexFoldBatch(spark, indexDir,
        docs.filter(col("doc_id") % 10 === res), id.toLong)
      StateFs.listCalls.get - before
    }
    // one fold lists `state/` for its replay gate and once more for its
    // manifest (generations, next sequence and horizon from one listing),
    // plus the seed generation's dir for its buckets
    assert(foldListings == Seq(3L, 3L, 3L), s"listings per fold: $foldListings")
    val tree = s"$indexDir/tf/state"
    def manifestFiles() = new java.io.File(tree).list()
      .filter(_.startsWith("_vmanifest_")).sorted.toSeq
    // exactly one manifest (folds supersede + prune), well-formed,
    // covering every committed generation (the seed by its batch −1)
    assert(manifestFiles().size == 1, s"manifests: ${manifestFiles()}")
    val body = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$tree/${manifestFiles().head}"))
    assert(body.linesIterator.toSeq.last == "#end")
    Seq("-1", "a0", "a1", "a2").foreach(d =>
      assert(body.linesIterator.exists(_.startsWith(s"$d ")), s"manifest misses $d"))
    def probes[A](f: => A): (A, Long) = {
      def total = StateFs.listCalls.get + StateFs.existsCalls.get +
        StateFs.readCalls.get
      val before = total
      val a = f
      (a, total - before)
    }
    def rows(): Set[Seq[Any]] =
      EventStream.tfIndexRead(spark, indexDir).collect().map(_.toSeq).toSet
    def asofRows(): Set[Seq[Any]] =
      EventStream.tfIndexReadAsOf(spark, indexDir, asOfBatch = 1L)
        .collect().map(_.toSeq).toSet
    val (mRows, mProbes) = probes(rows())
    val (mAsof, mAsofProbes) = probes(asofRows())
    // strip the manifest → the authoritative listing serves: identical
    // frames, strictly more metadata round-trips (one exists per
    // generation vs one manifest read)
    manifestFiles().foreach(m => java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$tree/$m")))
    val (lRows, lProbes) = probes(rows())
    val (lAsof, lAsofProbes) = probes(asofRows())
    assert(mRows == lRows && mRows.nonEmpty, "manifest-served live read diverged")
    assert(mAsof == lAsof && mAsof.nonEmpty, "manifest-served as-of read diverged")
    assert(mProbes < lProbes,
      s"live read: manifest $mProbes probes !< listing $lProbes")
    assert(mAsofProbes < lAsofProbes,
      s"as-of read: manifest $mAsofProbes probes !< listing $lAsofProbes")
    // a TORN manifest (no terminator — the crash-mid-write shape) is
    // skipped; with no older manifest the listing serves, same rows
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tree/_vmanifest_99"), "horizon -1\n-1 -1\na0 -1")
    assert(rows() == lRows, "torn manifest changed the served frame")
    // a manifest listing a VANISHED generation (crashed replay window)
    // makes the manifest path throw at construction — the read falls back
    // to the listing, never serving against the phantom
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$tree/_vmanifest_100"),
      s"horizon ${Long.MinValue}\n-1 -1\na0 -1\na1 -1\na2 -1\na7 -1\n#end")
    assert(rows() == lRows, "phantom-generation manifest changed the served frame")
    // a compaction commit rewrites the manifest: clean up the planted
    // ones first, restore a real one
    Seq("_vmanifest_99", "_vmanifest_100").foreach(m =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$tree/$m")))
    EventStream.writeVersionedManifest(spark, s"$indexDir/tf")
    assert(EventStream.compactTfIndexIfCrowded(spark, indexDir, 2))
    assert(committedGens(s"$indexDir/tf").contains("r0_2"),
      "compaction did not commit its rewrite")
    val after = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$tree/${manifestFiles().last}"))
    assert(after.linesIterator.exists(_.startsWith("r0_2 ")),
      "compaction left the manifest without its rewrite")
    assert(rows() == lRows, "post-compaction manifest read diverged")
  }

  test("versioned totals: catch-up invariant, copy-on-write byte identity," +
      " torn-commit replay, loud failure past the retention horizon") {
    import graft.operators.StarSchema
    val detail = detailFrame
    val (cut1, cut2) = ("1996-07-01", "1998-07-01")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-vtotals").toString
    streaming.EventStream.seedVersionedState(
      StarSchema.totalsPartialsOfDetail(detail.filter(col("o_orderdate") < cut1)),
      "product_key", stateDir)
    val b0 = detail.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2)
    val b1 = detail.filter(col("o_orderdate") >= cut2)
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir, b0, 0L)
    val before = bucketSnapshot(stateDir)
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir, b1, 1L)
    val after = bucketSnapshot(stateDir)
    // COPY-ON-WRITE: a fold writes only its own fresh generation — every
    // pre-existing file stays byte-identical (stronger than the in-place
    // layout's untouched-bucket claim: here NOTHING is ever rewritten)
    before.foreach { case (rel, sig) =>
      assert(after.get(rel).contains(sig), s"versioned fold mutated $rel")
    }
    // CATCH-UP INVARIANT: asOf(B) ≡ the from-scratch rebuild over the
    // batch-B prefix, for every retained B — and live ≡ asOf(latest)
    def got(asOf: Long): Seq[org.apache.spark.sql.Row] =
      StarSchema.finalizeTotals(
          streaming.EventStream.totalsVersionedReadAsOf(spark, stateDir, asOf))
        .orderBy("product_key").collect().toSeq
    def want(pred: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Row] =
      StarSchema.finalizeTotals(
          StarSchema.totalsPartialsOfDetail(detail.filter(pred)))
        .orderBy("product_key").collect().toSeq
    assert(got(-1L) == want(col("o_orderdate") < cut1) && got(-1L).nonEmpty)
    assert(got(0L) == want(col("o_orderdate") < cut2))
    assert(got(1L) == want(lit(true)))
    assert(StarSchema.finalizeTotals(
        streaming.EventStream.totalsVersionedRead(spark, stateDir))
      .orderBy("product_key").collect().toSeq == got(1L))
    // a replayed committed batch skips on its generation's commit —
    // byte-exact no-op
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir, b1, 1L)
    assert(bucketSnapshot(stateDir) == after,
      "replay of a committed batch rewrote state")
    // TORN COMMIT: strip the generation's _SUCCESS (a fold that died
    // mid-commit) — readers must fall back to the pre-batch view, and
    // the replay rebuilds the generation wholesale. The protocol writes
    // _SUCCESS BEFORE the manifest, so a torn commit can never be
    // manifest-listed: regenerate the manifest from the now-uncommitted
    // listing to simulate the crash state faithfully.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$stateDir/state/g1/_SUCCESS"))
    streaming.EventStream.writeVersionedManifest(spark, stateDir)
    assert(got(1L) == want(col("o_orderdate") < cut2),
      "an uncommitted generation leaked into the as-of read")
    assert(StarSchema.finalizeTotals(
        streaming.EventStream.totalsVersionedRead(spark, stateDir))
      .orderBy("product_key").collect().toSeq == want(col("o_orderdate") < cut2),
      "an uncommitted generation was served by the live read")
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir, b1, 1L)
    assert(got(1L) == want(lit(true)), "replay did not rebuild the torn generation")
    // RETENTION: expire below horizon 1 — asOf(1) and live unaffected,
    // asOf(0) and the seed window fail LOUDLY, never a partial view
    val dropped = streaming.EventStream.expireVersionedGenerations(spark, stateDir, 1L)
    assert(dropped.nonEmpty, "expiry dropped nothing — fixture did not version")
    assert(got(1L) == want(lit(true)))
    val err = intercept[IllegalArgumentException](got(0L))
    assert(err.getMessage.contains("retention horizon"))
    // expiry is idempotent and monotone — a lower re-run resurrects nothing
    assert(streaming.EventStream.expireVersionedGenerations(spark, stateDir, 0L).isEmpty)
    assert(intercept[IllegalArgumentException](got(0L))
      .getMessage.contains("retention horizon"))
  }

  test("versioned-layout manifest: manifest-served equals listing-served" +
      " with fewer probes; the commit/manifest crash window serves the" +
      " pre-batch snapshot and HEALS on replay; torn/phantom fall back") {
    import graft.operators.StarSchema
    import graft.streaming.StateFs
    val detail = detailFrame
    val (cut1, cut2) = ("1996-07-01", "1998-07-01")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-vman").toString
    val statePath = java.nio.file.Paths.get(s"$stateDir/state")
    streaming.EventStream.seedVersionedState(
      StarSchema.totalsPartialsOfDetail(detail.filter(col("o_orderdate") < cut1)),
      "product_key", stateDir)
    val b0 = detail.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2)
    val b1 = detail.filter(col("o_orderdate") >= cut2)
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir, b0, 0L)
    def manifests() = statePath.toFile.list()
      .filter(_.startsWith("_vmanifest_")).sorted.toSeq
    assert(manifests().size == 1, s"manifests: ${manifests()}")
    // capture the PRE-batch-1 manifest body — the crash-window plant below
    val preB1Body = java.nio.file.Files.readString(
      statePath.resolve(manifests().head))
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir, b1, 1L)
    assert(manifests().size == 1, "folds must supersede-and-prune manifests")
    def live(): Seq[org.apache.spark.sql.Row] =
      StarSchema.finalizeTotals(
          streaming.EventStream.totalsVersionedRead(spark, stateDir))
        .orderBy("product_key").collect().toSeq
    def want(pred: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Row] =
      StarSchema.finalizeTotals(
          StarSchema.totalsPartialsOfDetail(detail.filter(pred)))
        .orderBy("product_key").collect().toSeq
    def probes[A](f: => A): (A, Long) = {
      def total = StateFs.listCalls.get + StateFs.existsCalls.get +
        StateFs.readCalls.get
      val before = total
      val a = f
      (a, total - before)
    }
    val (mRows, mProbes) = probes(live())
    assert(mRows == want(lit(true)) && mRows.nonEmpty)
    // strip the manifest → listing-served: identical frame, strictly
    // more resolution round-trips (one list per generation)
    manifests().foreach(m => java.nio.file.Files.delete(statePath.resolve(m)))
    val (lRows, lProbes) = probes(live())
    assert(mRows == lRows)
    assert(mProbes < lProbes,
      s"manifest $mProbes probes !< listing $lProbes")
    // CRASH WINDOW: replant the pre-batch-1 manifest (as if fold 1's
    // commit landed but its manifest write died) — g1 is committed but
    // UNPUBLISHED to manifest readers, who serve the consistent
    // pre-batch snapshot, never a torn view
    java.nio.file.Files.writeString(
      statePath.resolve("_vmanifest_50"), preB1Body)
    assert(live() == want(col("o_orderdate") < cut2),
      "crash-window manifest did not serve the pre-batch snapshot")
    // HEAL: the replayed batch skips on its commit but rewrites the
    // manifest it is missing from — serving converges to the full state
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir, b1, 1L)
    assert(live() == want(lit(true)), "replay did not heal the manifest")
    assert(java.nio.file.Files.readString(
        statePath.resolve(manifests().last)).contains("\n1 "),
      "healed manifest does not list the replayed generation")
    // a TORN newest manifest falls back to the next older well-formed one
    java.nio.file.Files.writeString(
      statePath.resolve("_vmanifest_900"), "horizon x\n-1 0\n#end")
    assert(live() == want(lit(true)), "torn manifest changed the served frame")
    java.nio.file.Files.delete(statePath.resolve("_vmanifest_900"))
    // EXPIRY rewrites the manifest (inventory + horizon): the retained
    // window serves, the expired one fails loudly FROM THE MANIFEST PATH
    assert(streaming.EventStream.expireVersionedGenerations(spark, stateDir, 1L).nonEmpty)
    assert(live() == want(lit(true)))
    val err = intercept[IllegalArgumentException](
      streaming.EventStream.totalsVersionedReadAsOf(spark, stateDir, 0L).collect())
    assert(err.getMessage.contains("retention horizon"))
    // a PHANTOM manifest (listing the expired seed) throws at file-index
    // construction and falls back to the listing — same served frame
    java.nio.file.Files.writeString(
      statePath.resolve("_vmanifest_901"),
      "horizon " + Long.MinValue + "\n-1 0,1,2,3,4,5,6,7\n1 0,1,2,3,4,5,6,7\n#end")
    assert(live() == want(lit(true)), "phantom manifest changed the served frame")
  }

  test("versioned term-stats: catch-up invariant, as-of ≡ prefix rebuild," +
      " copy-on-write byte identity, replay no-op, loud failure past the" +
      " retention horizon (r19 verdict #4 — the tier BM25 serves from)") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
      .head().getDouble(0)
    val (b0, b1) =
      (docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-vterm").toString
    streaming.EventStream.seedVersionedState(
      TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(docs.filter(lit(false)))),
      "term", stateDir)
    streaming.EventStream.termStatsFoldBatchVersioned(spark, stateDir, b0, 0L)
    val before = bucketSnapshot(stateDir)
    streaming.EventStream.termStatsFoldBatchVersioned(spark, stateDir, b1, 1L)
    val after = bucketSnapshot(stateDir)
    // copy-on-write: batch 1 never touches batch 0's generation
    before.foreach { case (rel, sig) =>
      assert(after.get(rel).contains(sig), s"versioned fold mutated $rel")
    }
    def got(asOf: Long): Seq[(String, Long, Long)] =
      streaming.EventStream.termStatsVersionedReadAsOf(spark, stateDir, asOf)
        .orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    def want(pred: org.apache.spark.sql.Column): Seq[(String, Long, Long)] =
      TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(docs.filter(pred)))
        .orderBy("term").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got(0L) == want(col("doc_id") <= mid) && got(0L).nonEmpty,
      "as-of(0) != the prefix rebuild")
    assert(got(1L) == want(lit(true)), "as-of(latest) != the full rebuild")
    assert(streaming.EventStream.termStatsVersionedRead(spark, stateDir)
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq == got(1L),
      "live read != as-of(latest)")
    // replay no-op on the generation commit
    streaming.EventStream.termStatsFoldBatchVersioned(spark, stateDir, b1, 1L)
    assert(bucketSnapshot(stateDir) == after,
      "replay of a committed batch rewrote state")
    // retention: below-horizon reads fail loudly
    assert(streaming.EventStream
      .expireVersionedGenerations(spark, stateDir, 1L).nonEmpty)
    assert(got(1L) == want(lit(true)))
    assert(intercept[IllegalArgumentException](got(0L))
      .getMessage.contains("retention horizon"))
  }

  test("versioned-layout expiry crash window (ADVICE r19): a stale manifest" +
      " recorded BEFORE the expiry's deletions must not pass the horizon" +
      " check — the _expired_through_ marker rules, and the read in the" +
      " expired window fails loudly instead of serving a partial view") {
    import graft.operators.StarSchema
    val detail = detailFrame
    val (cut1, cut2) = ("1996-07-01", "1998-07-01")
    val stateDir = java.nio.file.Files.createTempDirectory("graft-vstale").toString
    val statePath = java.nio.file.Paths.get(s"$stateDir/state")
    streaming.EventStream.seedVersionedState(
      StarSchema.totalsPartialsOfDetail(detail.filter(col("o_orderdate") < cut1)),
      "product_key", stateDir)
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir,
      detail.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2), 0L)
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir,
      detail.filter(col("o_orderdate") >= cut2), 1L)
    val preExpiryBody = java.nio.file.Files.readString(
      statePath.resolve(statePath.toFile.list()
        .filter(_.startsWith("_vmanifest_")).max))
    assert(streaming.EventStream
      .expireVersionedGenerations(spark, stateDir, 1L).nonEmpty)
    // simulate the crash between the per-bucket deletions and the
    // manifest rewrite: replant the PRE-expiry manifest (old horizon,
    // old inventory) at a higher seq so it wins resolution
    java.nio.file.Files.writeString(
      statePath.resolve("_vmanifest_500"), preExpiryBody)
    // pre-fix behavior: horizon MinValue passes, bucket resolution finds
    // the surviving generation dirs whose victim bucket partitions were
    // deleted, the parquet read succeeds, and asOf(0) silently serves a
    // PARTIAL table. The marker max makes it fail loudly instead.
    val err = intercept[IllegalArgumentException](
      streaming.EventStream.totalsVersionedReadAsOf(spark, stateDir, 0L)
        .collect())
    assert(err.getMessage.contains("retention horizon"),
      s"stale-manifest read did not fail on the marker horizon: $err")
    // the retained window still serves correctly through the stale manifest
    assert(StarSchema.finalizeTotals(
        streaming.EventStream.totalsVersionedReadAsOf(spark, stateDir, 1L))
      .orderBy("product_key").collect().toSeq ==
      StarSchema.finalizeTotals(StarSchema.totalsPartialsOfDetail(detail))
        .orderBy("product_key").collect().toSeq)
  }

  test("manifest-backed tree read of a concurrently vacuumed tree (ADVICE" +
      " r19): when the manifest claims subdirs but the live listing has" +
      " none, the read rethrows — never a silently-empty frame") {
    val docs = Tables.documents(spark, sf).limit(5)
    val indexDir = java.nio.file.Files
      .createTempDirectory("graft-vacuumed").toString
    EventStream.tfIndexSeed(spark, indexDir, docs)
    val tree = s"$indexDir/tf/state"
    assert(EventStream.tfIndexRead(spark, indexDir).count() > 0)
    assert(new java.io.File(tree).list().exists(_.startsWith("_vmanifest_")),
      "fixture table carries no manifest — the scenario needs one")
    // vacuum the generation dirs out from under the manifest (keep the
    // manifest — the concurrent-expiry state)
    new java.io.File(tree).listFiles()
      .filter(f => f.isDirectory)
      .foreach { d =>
        java.nio.file.Files.walk(d.toPath)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(p => java.nio.file.Files.delete(p))
      }
    intercept[org.apache.spark.sql.AnalysisException] {
      EventStream.tfIndexRead(spark, indexDir).count()
    }
  }

  test("versioned SCD2: catch-up invariant per batch — frontier rewrites" +
      " are versioned, not destroyed; copy-on-write byte identity; replay no-op") {
    import graft.operators.WindowAnalytics
    val orders = Tables.orders(spark, sf)
    val (cut1, cut2) = ("1996-07-01", "1998-07-01")
    def histOf(pred: org.apache.spark.sql.Column) =
      WindowAnalytics.priorityIntervalHistoryOf(orders.filter(pred))
    val h0 = histOf(col("o_orderdate") < cut1)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-vscd2").toString
    streaming.EventStream.seedVersionedState(h0, "customer_key", stateDir)
    val schema = streaming.EventStream.scd2VersionedSchema(h0.schema)
    val b0 = orders.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2)
    val b1 = orders.filter(col("o_orderdate") >= cut2)
    streaming.EventStream.scd2FoldBatchVersioned(spark, stateDir, schema, b0, 0L)
    val before = bucketSnapshot(stateDir)
    streaming.EventStream.scd2FoldBatchVersioned(spark, stateDir, schema, b1, 1L)
    val after = bucketSnapshot(stateDir)
    before.foreach { case (rel, sig) =>
      assert(after.get(rel).contains(sig), s"versioned SCD2 fold mutated $rel")
    }
    // catch-up invariant: the interval history as of every batch equals
    // the from-scratch gaps-and-islands build over that prefix — in
    // particular the OPEN FRONTIER (valid_until IS NULL rows) of asOf(B)
    // is the pre-extension state the in-place apply-changes rewrites
    def got(asOf: Long): Set[Seq[Any]] =
      streaming.EventStream.scd2VersionedReadAsOf(spark, stateDir, h0.schema, asOf)
        .collect().map(_.toSeq).toSet
    def want(pred: org.apache.spark.sql.Column): Set[Seq[Any]] =
      histOf(pred).collect().map(_.toSeq).toSet
    assert(got(-1L) == want(col("o_orderdate") < cut1) && got(-1L).nonEmpty)
    assert(got(0L) == want(col("o_orderdate") < cut2))
    assert(got(1L) == want(lit(true)))
    // the frontier genuinely moved between snapshots at this fixture —
    // otherwise the "rewrites are versioned" claim is vacuous
    def frontier(s: Set[Seq[Any]]): Set[Seq[Any]] =
      s.filter(r => r(h0.schema.fieldIndex("valid_until")) == null)
    assert(frontier(got(-1L)) != frontier(got(1L)),
      "no open-version chain extended across the batches — fixture drift?")
    // replay of a committed batch: byte-exact no-op
    streaming.EventStream.scd2FoldBatchVersioned(spark, stateDir, schema, b1, 1L)
    assert(bucketSnapshot(stateDir) == after,
      "replay of a committed SCD2 batch rewrote state")
  }

  test("versioned totals maintenance stream: parity with the one-shot" +
      " aggregate; a restarted stream re-delivers nothing") {
    import graft.operators.StarSchema
    val detail = detailFrame
    val (cut1, cut2) = ("1996-07-01", "1998-07-01")
    val state0 = StarSchema.totalsPartialsOfDetail(
      detail.filter(col("o_orderdate") < cut1))
    val cdcDir = java.nio.file.Files.createTempDirectory("graft-vstream")
    stageFile(detail.filter(col("o_orderdate") >= cut1 && col("o_orderdate") < cut2),
      cdcDir, "b1", 60)
    stageFile(detail.filter(col("o_orderdate") >= cut2), cdcDir, "b2", 30)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-vstreamstate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vstreamckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(detail.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$cdcDir/*")
      val query = streaming.EventStream.totalsMaintenanceStreamVersioned(
        stream, state0, stateDir, checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    run()
    val snap = bucketSnapshot(stateDir)
    val got = StarSchema.finalizeTotals(
        streaming.EventStream.totalsVersionedRead(spark, stateDir))
      .orderBy("product_key").collect().toSeq
    val want = q("fact_product_totals_incremental").collect().toSeq
    assert(got == want && want.nonEmpty)
    // restart over the same checkpoint: nothing re-delivers, and even a
    // redelivery would skip on the generation commits — byte-identical
    run()
    assert(bucketSnapshot(stateDir) == snap,
      "restarted versioned stream mutated state")
    // and the pre-stream seed window is still time-travel readable
    assert(StarSchema.finalizeTotals(
        streaming.EventStream.totalsVersionedReadAsOf(spark, stateDir, -1L))
      .orderBy("product_key").collect().toSeq ==
      StarSchema.finalizeTotals(state0).orderBy("product_key").collect().toSeq)
  }

  test("forgetKeys: erasure rewrites only hit buckets, clears emptied ones," +
      " expires pre-forget history, and re-runs as a byte-exact no-op") {
    import spark.implicits._
    import graft.operators.StarSchema
    val state0 = StarSchema.totalsPartialsOfDetail(detailFrame)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-forget").toString
    streaming.EventStream.seedVersionedState(state0, "product_key", stateDir)
    val schema = streaming.EventStream.scd2VersionedSchema(state0.schema)
    val bucketOf = pmod(hash(col("product_key")),
      lit(streaming.EventStream.StateBuckets))
    def stored() = streaming.EventStream.versionedRead(spark, stateDir, schema)
    val st0 = stored().collect().map(_.toSeq)
    val byBucket = stored().select(col("product_key"), bucketOf.alias("b"))
      .collect().groupBy(_.getInt(1)).map { case (b, rs) => b -> rs.map(_.getLong(0)).toSeq }
    assert(byBucket.size >= 3, "fixture must spread keys over several buckets")
    // forget EVERY key of one bucket (it must be cleared) plus ONE key of
    // another (partial rewrite); the rest must stay byte-identical
    val emptyB = byBucket.keys.min
    val partialB = byBucket.keys.max
    val keys = byBucket(emptyB) ++ byBucket(partialB).take(1)
    val before = bucketSnapshot(stateDir)
    streaming.EventStream.forgetKeys(spark, stateDir, schema, "product_key",
      keys.toDF("product_key"), 0L)
    // forgotten keys gone, every other row intact
    assert(stored().collect().map(_.toSeq).toSet ==
      st0.filterNot(r => keys.contains(r.head)).toSet,
      "erasure must drop exactly the forgotten keys")
    def bucketDirs(b: Int): Seq[String] =
      new java.io.File(s"$stateDir/state").list().toSeq
        .filter(g => new java.io.File(s"$stateDir/state/$g/bucket=$b").exists)
    // the emptied bucket is GONE from every generation, and the forget
    // generation holds the partially-erased bucket only
    assert(bucketDirs(emptyB).isEmpty, s"emptied bucket survives in ${bucketDirs(emptyB)}")
    val snap1 = bucketSnapshot(stateDir)
    assert(snap1.keys.filter(_.startsWith("f0/")).map(_.split("/")(1)).toSet ==
      Set(s"bucket=$partialB"))
    // untouched buckets: seed files byte-identical
    val touched = Set(emptyB, partialB)
    before.filter { case (rel, _) =>
        !touched.exists(b => rel.startsWith(s"seed/bucket=$b/")) }
      .foreach { case (rel, sig) =>
        assert(snap1.get(rel).contains(sig), s"untouched file rewritten: $rel") }
    // history below the forget is expired: time travel into it fails
    // LOUDLY, and no file left under the state dir holds a victim key
    val err = intercept[IllegalArgumentException](
      streaming.EventStream.totalsVersionedReadAsOf(spark, stateDir, -1L).collect())
    assert(err.getMessage.contains("retention horizon"))
    assert(spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$stateDir/state")
      .filter(col("product_key").isin(keys: _*)).isEmpty,
      "a victim key survives in a file under the state dir")
    // re-running the same erasure skips on its generation commit
    streaming.EventStream.forgetKeys(spark, stateDir, schema, "product_key",
      keys.toDF("product_key"), 0L)
    assert(bucketSnapshot(stateDir) == snap1,
      "a re-run erasure must be a byte-exact no-op")
    // the all-emptied path (every hit bucket fully emptied): the forget
    // generation holds no bucket, and the stale version is swept
    val wipeB = (byBucket.keySet - emptyB - partialB).min
    streaming.EventStream.forgetKeys(spark, stateDir, schema, "product_key",
      byBucket(wipeB).toDF("product_key"), 1L)
    assert(bucketDirs(wipeB).isEmpty, s"emptied bucket survives in ${bucketDirs(wipeB)}")
    assert(stored().filter(bucketOf === wipeB).isEmpty)
    // a delete list arriving with a NARROWER key type must still erase:
    // hash(int k) != hash(long k), so without the cast-to-state-type the
    // wrong buckets would be probed and the key silently survive
    val intVictim = stored().select(col("product_key")).head().getLong(0)
    streaming.EventStream.forgetKeys(spark, stateDir, schema, "product_key",
      Seq(intVictim.toInt).toDF("product_key"), 2L)
    assert(stored().filter(col("product_key") === intVictim).isEmpty,
      "an IntegerType delete list against a LongType table must still erase")
  }

  test("a forget at a batchId not above every committed generation fails" +
      " loudly instead of forgetting nothing (term-stats, forgetKeys, OLS)") {
    import spark.implicits._
    import graft.operators.{Stats, TextAnalysis, WindowAnalytics}
    val docs = Tables.documents(spark, sf)
    val forgottenDoc = col("doc_id") % 10 === 7
    def termStats(df: org.apache.spark.sql.DataFrame) =
      TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(df))
    val orders = Tables.orders(spark, sf)
    val cut = col("o_orderdate") < "1996-07-01"
    val history0 = WindowAnalytics.priorityIntervalHistoryOf(orders.filter(cut))
    val scd2Schema = EventStream.scd2VersionedSchema(history0.schema)
    val victims = orders.select(col("o_custkey")).distinct()
      .orderBy("o_custkey").limit(3).collect().map(_.getLong(0)).toSeq
    val lq = Stats.olsQuantized(spark, sf)
    val olsBatch = col("l_orderkey") % 10 === 9
    val olsForgotten = Stats.olsForgottenRule(col("l_orderkey"))
    def ols(df: org.apache.spark.sql.DataFrame) =
      Stats.olsAgg(df.groupBy(col("return_flag")))
    // (tier, seed + fold batch 0, forget at a batchId, live read, the
    // survivor rebuild the forget must serve)
    val tiers: Seq[(String, String => Unit, (String, Long) => Unit,
        String => org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] = Seq(
      ("term-stats",
        dir => {
          EventStream.seedVersionedState(
            termStats(docs.filter(col("doc_id") % 2 === 0)), "term", dir)
          EventStream.termStatsFoldBatchVersioned(spark, dir,
            docs.filter(col("doc_id") % 2 === 1), 0L)
        },
        (dir, k) => EventStream.termStatsForgetVersioned(spark, dir,
          docs.filter(forgottenDoc), k),
        dir => EventStream.termStatsVersionedRead(spark, dir),
        termStats(docs.filter(!forgottenDoc))),
      ("forgetKeys",
        dir => {
          EventStream.seedVersionedState(history0, "customer_key", dir)
          EventStream.scd2FoldBatchVersioned(spark, dir, scd2Schema,
            orders.filter(!cut), 0L)
        },
        (dir, k) => EventStream.forgetKeys(spark, dir, scd2Schema,
          "customer_key", victims.toDF("customer_key"), k),
        dir => EventStream.versionedRead(spark, dir, scd2Schema),
        WindowAnalytics.priorityIntervalHistoryOf(
          orders.filter(!col("o_custkey").isin(victims: _*)))),
      ("OLS",
        dir => {
          EventStream.olsSumsSeed(spark, dir, ols(lq.filter(!olsBatch)))
          EventStream.olsSumsFoldBatch(spark, dir, ols(lq.filter(olsBatch)), 0L)
        },
        (dir, k) => EventStream.forgetFromOlsSums(spark, dir,
          ols(lq.filter(olsForgotten)), k),
        dir => EventStream.olsSumsRead(spark, dir),
        ols(lq.filter(!olsForgotten))))
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    tiers.foreach { case (tier, build, forget, read, survivors) =>
      val dir = java.nio.file.Files.createTempDirectory("graft-forgetid").toString
      build(dir)
      val served = rows(read(dir))
      // batch 0 names the fold's committed generation: refused, naming
      // the dir, the batch and the newest generation — state untouched
      val err = intercept[IllegalArgumentException](forget(dir, 0L))
      Seq(dir, "forget batch 0", "generation g0").foreach { s =>
        assert(err.getMessage.contains(s), s"$tier: '$s' missing from: ${err.getMessage}")
      }
      assert(rows(read(dir)) == served, s"$tier: the refused forget changed state")
      // the next batchId forgets, and serves exactly the survivor rebuild
      forget(dir, 1L)
      assert(rows(read(dir)) == rows(survivors) && served != rows(survivors),
        s"$tier: the forget at batch 1 does not serve the survivor rebuild")
    }
  }

  test("SCD2 correction fold replaces only the affected keys' chains:" +
      " partial rewrite, full retraction clears the key, replay no-ops") {
    import spark.implicits._
    import graft.operators.WindowAnalytics
    val orders = Tables.orders(spark, sf)
    val hist = WindowAnalytics.priorityIntervalHistoryOf(orders)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-scd2corr").toString
    streaming.EventStream.seedVersionedState(hist, "customer_key", stateDir)
    val schema = streaming.EventStream.scd2VersionedSchema(hist.schema)
    // keyA: its latest order is retracted (chain rewrites); keyB: every
    // order retracted (chain must disappear entirely)
    val multi = hist.groupBy("customer_key").agg(sum("n_orders").alias("n"))
      .filter(col("n") >= 3).select("customer_key")
      .orderBy("customer_key").limit(2).collect().map(_.getLong(0))
    val (keyA, keyB) = (multi(0), multi(1))
    val aMax = orders.filter(col("o_custkey") === keyA)
      .agg(max("o_orderdate").cast("string")).head().getString(0)
    val corrected = orders.filter(col("o_custkey") === keyA &&
      col("o_orderdate") < lit(aMax).cast("timestamp"))
    val affected = Seq(keyA, keyB).toDF("customer_key")
    val before = bucketSnapshot(stateDir)
    streaming.EventStream.scd2CorrectKeysVersioned(spark, stateDir, schema,
      affected, corrected, batchId = 0L)
    def rows() = scd2Stored(stateDir, hist.schema)
    // keyB's chain is gone, keyA's equals the from-scratch build over its
    // corrected stream, every other key's chain is untouched
    assert(rows().filter(col("customer_key") === keyB).count() == 0,
      "fully-retracted key's chain survived the correction")
    assert(rows().filter(col("customer_key") === keyA)
      .collect().map(_.toSeq).toSet ==
      WindowAnalytics.priorityIntervalHistoryOf(corrected)
        .collect().map(_.toSeq).toSet,
      "corrected key's chain must equal the from-scratch build")
    assert(rows().filter(col("customer_key") =!= keyA &&
        col("customer_key") =!= keyB).collect().map(_.toSeq).toSet ==
      hist.filter(col("customer_key") =!= keyA &&
        col("customer_key") =!= keyB).collect().map(_.toSeq).toSet,
      "unaffected keys' chains changed")
    // untouched buckets: seed files byte-identical (the partial-rewrite claim)
    val touched = Seq(keyA, keyB).toDF("customer_key")
      .select(pmod(hash(col("customer_key")),
        lit(streaming.EventStream.StateBuckets)).alias("b"))
      .collect().map(_.getInt(0)).toSet
    val snap1 = bucketSnapshot(stateDir)
    before.filter { case (rel, _) =>
      !touched.exists(b => rel.startsWith(s"seed/bucket=$b/")) }
      .foreach { case (rel, sig) =>
        assert(snap1.get(rel).contains(sig), s"untouched file rewritten: $rel") }
    // replay of the committed correction: byte-exact no-op
    streaming.EventStream.scd2CorrectKeysVersioned(spark, stateDir, schema,
      affected, corrected, batchId = 0L)
    assert(bucketSnapshot(stateDir) == snap1,
      "a replayed correction batch must be a byte-exact no-op")
  }

  test("forgetKeys composes with the maintenance stream: erased keys fold" +
      " from ZERO on later data, survivors keep full history") {
    import spark.implicits._
    import graft.operators.WindowAnalytics
    // erasure semantics under continued ingestion: forgetting a key wipes
    // its HISTORY, not its future — a later micro-batch that mentions it
    // folds from an absent chain (a new key to the apply-changes fold),
    // never from the erased intervals
    val orders = Tables.orders(spark, sf)
    val c1 = "1996-01-01"
    val c2 = "1997-01-01"
    val o01 = orders.filter(col("o_orderdate") < c2)
    val o2 = orders.filter(col("o_orderdate") >= c2)
    val history0 = WindowAnalytics.priorityIntervalHistoryOf(
      orders.filter(col("o_orderdate") < c1))
    val schema = streaming.EventStream.scd2VersionedSchema(history0.schema)
    val stateDir = java.nio.file.Files.createTempDirectory("graft-forgetstream").toString
    streaming.EventStream.seedVersionedState(history0, "customer_key", stateDir)
    streaming.EventStream.scd2FoldBatchVersioned(spark, stateDir, schema,
      orders.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2), 0L)
    // victims: keys with history AND future orders — the interesting case
    val victims = o01.select(col("o_custkey")).distinct()
      .join(o2.select(col("o_custkey")).distinct(), Seq("o_custkey"), "left_semi")
      .orderBy("o_custkey").limit(3).collect().map(_.getLong(0)).toSeq
    assert(victims.nonEmpty)
    streaming.EventStream.forgetKeys(spark, stateDir, schema, "customer_key",
      victims.toDF("customer_key"), 1L)
    streaming.EventStream.scd2FoldBatchVersioned(spark, stateDir, schema, o2, 2L)
    val state = scd2Stored(stateDir, history0.schema)
    // victims carry ONLY their post-erasure chains...
    assert(sameRows(state.filter(col("customer_key").isin(victims: _*)),
        WindowAnalytics.priorityIntervalHistoryOf(
          o2.filter(col("o_custkey").isin(victims: _*)))),
      "erased keys must re-accumulate from zero, not from erased history")
    // ...while every survivor's chain equals the full-history build
    assert(sameRows(state.filter(!col("customer_key").isin(victims: _*)),
      WindowAnalytics.priorityIntervalHistoryOf(
        orders.filter(!col("o_custkey").isin(victims: _*)))))
  }

  test("readers never see a half-published tree; the one-marker publish flips them atomically") {
    // the log's core commit contract (the r15-verdict #2 ask): a
    // compaction/erasure crash leaves at worst a fully-written but
    // UNCOMMITTED rewrite, which no reader resolves; its `_SUCCESS` is
    // the whole commit, and a racing reader sees either the old snapshot
    // or the new one — never an empty table, never a mixture
    val dir = java.nio.file.Files.createTempDirectory("graft-pubcrash")
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 10 === 9)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    val outBase = java.nio.file.Files.createTempDirectory("graft-pubcrash-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val query = streaming.EventStream.minhashIngestDedup(stream, history, out, idx)
    try query.processAllAvailable() finally query.stop()
    streaming.EventStream.compactIngestIndex(spark, idx)
    val sh = s"$idx/shingles"
    assert(committedGens(sh).contains("r0_0"), committedGens(sh).mkString(","))
    // one more batch (fresh ids) for the next compaction to fold
    streaming.EventStream.minhashIngestFoldBatch(spark, out, idx,
      history.orderBy("doc_id").limit(5)
        .withColumn("doc_id", col("doc_id") + 100000L), 1L)
    def shingleRows() = streaming.EventStream.ingestShinglesRead(spark, idx)
      .select(col("doc_id"), explode(col("sh")).alias("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val before = shingleRows()
    assert(before.nonEmpty)
    // the crash state: the NEXT rewrite fully WRITTEN with clearly
    // different rows, but its commit never landed (a cleanly failed
    // writer released its claim)
    spark.read.parquet(gen(sh, "r0_0")).limit(1).write.parquet(gen(sh, "r1_1"))
    uncommit(gen(sh, "r1_1"))
    assert(shingleRows() == before,
      "a reader resolved an uncommitted (crashed) rewrite")
    // the next compaction overwrites the crashed build and proceeds
    streaming.EventStream.compactIngestIndex(spark, idx)
    assert(committedGens(sh).contains("r1_1"),
      "compaction did not replace the crashed build")
    assert(shingleRows() == before, "compaction changed the table's rows")
    // and the commit IS the atomic flip: a one-row rewrite, written
    // uncommitted, is resolved the moment its _SUCCESS lands (listing-
    // served: the manifest is a cache the next commit rewrites)
    val tiny = spark.read.parquet(gen(sh, "r1_1")).limit(1)
    tiny.write.parquet(gen(sh, "r9_1"))
    uncommit(gen(sh, "r9_1"))
    val tinyRows = tiny
      .select(col("doc_id"), explode(col("sh")).alias("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(shingleRows() == before, "an uncommitted rewrite leaked into reads")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(s"${gen(sh, "r9_1")}/_SUCCESS"))
    dropManifests(sh)
    assert(shingleRows() == tinyRows,
      "the commit did not flip readers to the new rewrite")
  }

  test("phash ingest-dedup replay cleans a crashed attempt's committed leftovers") {
    import graft.operators.Multimodal
    // the binary twin of the text gate's planted-leftover case: a prior
    // attempt at batch 0 COMMITTED a pairs generation and wrote its band
    // files (full copy — worst case) but died before the bands
    // generation, the batch's commit, landed; the replay must not read
    // them or every batch band row doubles in the probe and pairs
    // duplicate
    val docs = Tables.documents(spark, sf)
    def media(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").alias("media_id"),
        col("text").cast("binary").alias("payload"))
    val dir = java.nio.file.Files.createTempDirectory("graft-phleft")
    val increment = media(docs.filter(col("doc_id") % 10 === 9))
    increment.coalesce(1).write.mode("append").parquet(dir.toString)
    val history = media(docs.filter(col("doc_id") % 10 =!= 9))
    val outBase = java.nio.file.Files.createTempDirectory("graft-phleft-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    // the leftovers: committed duplicate pairs (the replay must
    // overwrite them) and the batch's band files (the probe reads as of
    // the previous batch, so they are never history)
    val leftBands = Multimodal.phashBandsOf(Multimodal.phashSigsOf(increment))
    Multimodal.phashVerifiedPairs(leftBands, leftBands.unionAll(leftBands))
      .write.parquet(gen(out, "a0"))
    leftBands.write.parquet(gen(s"$idx/bands", "a0"))
    uncommit(gen(s"$idx/bands", "a0"))
    val stream = spark.readStream.schema(increment.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val query = streaming.EventStream.phashIngestDedup(stream, history, out, idx)
    try query.processAllAvailable() finally query.stop()
    val streamed = streaming.EventStream.phashPairsRead(spark, out)
    val batchOnly = (c: org.apache.spark.sql.Column) => c % 10 === 9
    val want = q("multimodal_phash_dupes")
      .filter(batchOnly(col("media_a")) || batchOnly(col("media_b")))
    assert(want.count() > 0)
    assert(streamed.count() == want.count())
    assert(streamed.exceptAll(want).count() == 0)
    assert(want.exceptAll(streamed).count() == 0)
  }

  test("index reads serve only COMMITTED per-batch subdirs") {
    // a torn generation write (files landed, job commit's _SUCCESS did not)
    // must be invisible to readers until the replay overwrites it
    val dir = java.nio.file.Files.createTempDirectory("graft-torn-read")
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 10 === 9)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    val outBase = java.nio.file.Files.createTempDirectory("graft-torn-read-out")
    val out = outBase.resolve("pairs").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val query = streaming.EventStream.minhashIngestDedup(
      stream, history, out, outBase.resolve("index").toString)
    try query.processAllAvailable() finally query.stop()
    val committed = streaming.EventStream.ingestPairsRead(spark, out).count()
    assert(committed > 0)
    // plant the torn generation: a full copy of a0's files WITHOUT _SUCCESS
    val b0 = java.nio.file.Paths.get(gen(out, "a0"))
    val torn = java.nio.file.Paths.get(gen(out, "a99"))
    java.nio.file.Files.createDirectories(torn)
    java.nio.file.Files.list(b0)
      .filter(p => !p.getFileName.toString.startsWith("_"))
      .forEach(p => java.nio.file.Files.copy(p, torn.resolve(p.getFileName.toString)))
    dropManifests(out)
    assert(streaming.EventStream.ingestPairsRead(spark, out).count() == committed,
      "a torn (uncommitted) generation was served to readers")
  }

  test("compaction refuses a batch its fold has not committed; after the" +
      " replay it folds the batch once") {
    import graft.operators.Dedup
    // the review-caught window: a fold's shingle generation COMMITTED
    // but its bands generation — the batch's commit — never landed.
    // Folding it into a rewrite would serve the batch's rows as history
    // beside the replay's own append, doubling every involved pair
    // permanently. The rewrite must refuse loudly; the replay completes
    // the batch, and compaction then folds it exactly once.
    val dir = java.nio.file.Files.createTempDirectory("graft-unmk")
    val docs = Tables.documents(spark, sf)
    docs.filter(col("doc_id") % 20 === 9)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    val outBase = java.nio.file.Files.createTempDirectory("graft-unmk-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val query = streaming.EventStream.minhashIngestDedup(stream, history, out, idx)
    try query.processAllAvailable() finally query.stop()
    def shingleRows() = streaming.EventStream.ingestShinglesRead(spark, idx)
      .select(col("doc_id"), explode(col("sh")).alias("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // the crashed fold of batch 1: its shingle generation committed
    val b1docs = docs.filter(col("doc_id") % 20 === 19)
    Dedup.shingleDocs(b1docs).write.parquet(gen(s"$idx/shingles", "a1"))
    val gensBefore = committedGens(s"$idx/shingles")
    val e = intercept[IllegalArgumentException] {
      streaming.EventStream.compactIngestIndex(spark, idx)
    }
    assert(e.getMessage.contains("a1") && e.getMessage.contains("replay"),
      s"the refusal must name the pending batch: ${e.getMessage}")
    assert(committedGens(s"$idx/shingles") == gensBefore,
      "a refused compaction wrote a rewrite")
    // the replay of batch 1 completes it, and compaction folds it once
    streaming.EventStream.minhashIngestFoldBatch(spark, out, idx, b1docs, 1L)
    val served = shingleRows()
    streaming.EventStream.compactIngestIndex(spark, idx)
    assert(servedGens(streaming.EventStream.ingestShinglesRead(spark, idx)) ==
      Seq("r0_1"))
    assert(shingleRows() == served, "compaction changed the table's rows")
    assert(served == Dedup.shingleDocs(history.unionByName(docs.filter(
        col("doc_id") % 10 === 9)))
      .select(col("doc_id"), explode(col("sh")).alias("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet,
      "the replayed batch is not served exactly once")
    // the pairs OUTPUT table compacts the same way (its first rewrite)
    val pairsBefore = streaming.EventStream.ingestPairsRead(spark, out)
      .collect().map(_.toSeq).toSet
    streaming.EventStream.compactIngestPairs(spark, out, idx)
    assert(servedGens(streaming.EventStream.ingestPairsRead(spark, out)) == Seq("r0_1"))
    assert(streaming.EventStream.ingestPairsRead(spark, out)
      .collect().map(_.toSeq).toSet == pairsBefore)
  }

  test("a torn seed (no _SUCCESS) is re-seeded, not served, on the versioned layout") {
    import graft.operators.WindowAnalytics
    val history0 = WindowAnalytics.priorityIntervalHistoryOf(
      Tables.orders(spark, sf).filter(col("o_orderdate") < "1996-07-01"))
    def seed(dir: String): Unit =
      EventStream.seedVersionedState(history0, "customer_key", dir)
    def served(dir: String) =
      EventStream.scd2VersionedReadAsOf(spark, dir, history0.schema, -1L)
    val fresh = java.nio.file.Files.createTempDirectory("graft-freshseed").toString
    seed(fresh)
    // the crash state: a seed dir with a partial bucket file and NO
    // _SUCCESS — a bare-existence check would serve or fold onto it
    val torn = java.nio.file.Files.createTempDirectory("graft-tornseed").toString
    val part = java.nio.file.Paths.get(s"$torn/state/seed/bucket=0")
    java.nio.file.Files.createDirectories(part)
    java.nio.file.Files.write(part.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    seed(torn)
    assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$torn/state/seed/_SUCCESS")),
      "the torn seed was not re-seeded")
    assert(sameRows(served(torn), served(fresh)) && !served(fresh).isEmpty,
      "the re-seeded state differs from a fresh seed")
  }

  test("versioned term-stats STREAM equals the batch rebuild; restart over" +
      " the checkpoint is byte-identical; the seed window stays readable") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    val state0 = TextAnalysis.termStatsOf(
      TextAnalysis.termFreqsOf(docs.filter(!isBatch)))
    val stageDir = java.nio.file.Files.createTempDirectory("graft-vtermstream")
    stageFile(docs.filter(isBatch && col("doc_id") % 20 === 9), stageDir, "b1", 60)
    stageFile(docs.filter(isBatch && col("doc_id") % 20 =!= 9), stageDir, "b2", 30)
    val stateDir =
      java.nio.file.Files.createTempDirectory("graft-vtermstate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-vtermckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
      val query = streaming.EventStream.termStatsMaintenanceStreamVersioned(
        stream, state0, stateDir, checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    run()
    val snap = bucketSnapshot(stateDir)
    def stats(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val want = stats(TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(docs)))
    assert(stats(streaming.EventStream.termStatsVersionedRead(spark, stateDir))
      == want && want.nonEmpty,
      "versioned-stream term statistics diverged from the full rebuild")
    // restart over the same checkpoint: redeliveries skip on generation
    // commits — byte-identical state
    run()
    assert(bucketSnapshot(stateDir) == snap,
      "restarted versioned term-stats stream mutated state")
    // the pre-stream seed window is still time-travel readable
    assert(stats(streaming.EventStream
        .termStatsVersionedReadAsOf(spark, stateDir, -1L)) == stats(state0))
  }

  test("versioned term-stats erasure: no surviving file still holds a" +
      " vanished term, pre-forget as-of fails loudly, re-run is" +
      " byte-identical, and a fully-emptied state sweeps its buckets") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // the registered gate builds (or finds, commit-gated) the erased
    // versioned state — drive it first, then audit the FILES
    q("text_df_forget_stored").collect()
    val docs = Tables.documents(spark, sf)
    val forgotten = col("doc_id") % 10 === 7
    def terms(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("term").collect().map(_.getString(0)).toSet
    val surviving = terms(TextAnalysis.termStatsOf(
      TextAnalysis.termFreqsOf(docs.filter(!forgotten))))
    val stateDir = operators.Layout.tmpPath("graft-termforgetlog", sf)
    // the served table is exactly the survivor rebuild (the oracle's
    // claim, pinned here against the spark-side rebuild too)
    assert(terms(streaming.EventStream.termStatsVersionedRead(spark, stateDir))
      == surviving && surviving.nonEmpty)
    // time travel into the pre-forget window fails LOUDLY — the horizon
    // resolves the time-travel/right-to-be-forgotten tension
    val err = intercept[IllegalArgumentException](
      streaming.EventStream.termStatsVersionedReadAsOf(spark, stateDir, 1L)
        .collect())
    assert(err.getMessage.contains("retention horizon"))
    // re-running the whole erasure is byte-identical (the forget skips
    // on its generation commit, expiry is monotone, the sweep finds
    // nothing left)
    val snap = bucketSnapshot(stateDir)
    streaming.EventStream.termStatsForgetVersioned(spark, stateDir,
      docs.filter(forgotten), 2L)
    assert(bucketSnapshot(stateDir) == snap,
      "re-run erasure mutated the versioned state")
    // FILE-LEVEL vanish, planted (the fixture's vocabulary is fully
    // shared, so the vanish direction needs a unique term): a forgotten
    // doc carries "qqqunique" — after the erasure NO surviving parquet
    // under the state dir may contain it, even in a generation a
    // stale-version bug would never serve
    val planted = Seq((1L, "alpha beta alpha"), (2L, "alpha gamma"),
      (3L, "alpha qqqunique beta")).toDF("doc_id", "text")
    val plantDir = java.nio.file.Files
      .createTempDirectory("graft-termverplant").toString
    streaming.EventStream.seedVersionedState(
      TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(planted)),
      "term", plantDir)
    streaming.EventStream.termStatsForgetVersioned(spark, plantDir,
      planted.filter(col("doc_id") === 3L), 0L)
    val got = streaming.EventStream.termStatsVersionedRead(spark, plantDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set(("alpha", 2L, 3L), ("beta", 1L, 1L), ("gamma", 1L, 1L)),
      s"post-forget stats wrong: $got")
    // every generation dir holding data: the seed, folds and forgets
    val genDirs = new java.io.File(s"$plantDir/state").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("seed|[gf]\\d+") &&
        f.list().exists(_.startsWith("bucket=")))
    assert(genDirs.nonEmpty)
    val onDisk = genDirs.flatMap { d =>
      spark.read.parquet(d.getPath).select("term")
        .collect().map(_.getString(0))
    }.toSet
    assert(!onDisk.contains("qqqunique"),
      "the vanished term survives in a generation file — history residue")
    // EMPTIED-BUCKET sweep: forget EVERYTHING from a tiny synthetic
    // state — per-bucket newest-generation resolution must not fall
    // back to stale pre-forget versions, and no bucket dir survives
    val tiny = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val tinyDir = java.nio.file.Files
      .createTempDirectory("graft-termverempty").toString
    streaming.EventStream.seedVersionedState(
      TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(tiny)), "term", tinyDir)
    streaming.EventStream.termStatsForgetVersioned(spark, tinyDir, tiny, 0L)
    assert(streaming.EventStream.termStatsVersionedRead(spark, tinyDir)
      .count() == 0, "fully-forgotten state still serves rows")
    val leftover = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$tinyDir/state"))
      .iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
    var residue = List.empty[String]
    while (leftover.hasNext) {
      val p = leftover.next().toString
      if (p.contains("bucket=")) residue ::= p
    }
    assert(residue.isEmpty,
      s"emptied buckets left stale versions on disk: ${residue.take(3)}")
  }

  test("winnowing ingest STREAM folds each batch's own fingerprints; the" +
      " stored index equals the batch selection over the union; restart" +
      " over the checkpoint is a no-op") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    val history = docs.filter(!isBatch)
    val stageDir = java.nio.file.Files.createTempDirectory("graft-winstream")
    stageFile(docs.filter(isBatch && col("doc_id") % 20 === 9), stageDir, "b1", 60)
    stageFile(docs.filter(isBatch && col("doc_id") % 20 =!= 9), stageDir, "b2", 30)
    val indexDir =
      java.nio.file.Files.createTempDirectory("graft-winstate").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-winckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
      val query = streaming.EventStream.winnowIngestDedup(
        stream, history, indexDir, checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    run()
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "h", "p").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val got = fp(streaming.EventStream.winnowIndexRead(spark, indexDir))
    val want = fp(Dedup.winnowFingerprintsOf(docs))
    assert(got == want && want.nonEmpty,
      "streamed fingerprint index diverged from the batch selection")
    val count = streaming.EventStream.winnowIndexRead(spark, indexDir).count()
    // restart: both batches replay as commit-gated no-ops
    run()
    assert(streaming.EventStream.winnowIndexRead(spark, indexDir).count()
      == count, "restarted winnow ingest stream grew the index")
  }

  test("BM25 served from the maintained tf index equals the batch retrieval query") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    val stageDir = java.nio.file.Files.createTempDirectory("graft-tfidx")
    stageFile(docs.filter(isBatch && col("doc_id") % 20 === 9), stageDir, "b1", 60)
    stageFile(docs.filter(isBatch && col("doc_id") % 20 =!= 9), stageDir, "b2", 30)
    val outBase = java.nio.file.Files.createTempDirectory("graft-tfidx-out")
    val indexDir = outBase.resolve("index").toString
    val ckpt = outBase.resolve("ckpt").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
    val q1 = streaming.EventStream.tfIndexMaintenanceStream(
      stream, docs.filter(!isBatch), indexDir, checkpointDir = Some(ckpt))
    try q1.processAllAvailable() finally q1.stop()
    val queries = TextAnalysis.Bm25Queries.toDF("query_id", "q_text")
    // n_docs is the trivially-additive maintained counter: history + batch
    def serve() = TextAnalysis.bm25FromTf(
        streaming.EventStream.tfIndexRead(spark, indexDir),
        docs.agg(count(lit(1)).alias("n_docs")), queries)
      .collect().map(_.toSeq).toSeq
    val want = q("bm25_top_docs").collect().map(_.toSeq).toSeq
    assert(serve() == want && want.nonEmpty,
      "maintained-index BM25 diverged from the batch retrieval query")
    // compaction consolidates the generations without changing what serves
    streaming.EventStream.compactTfIndex(spark, indexDir)
    val dirs = servedGens(streaming.EventStream.tfIndexRead(spark, indexDir))
    assert(dirs == Seq("r0_1"), s"tf dirs: ${dirs.mkString(",")}")
    assert(serve() == want, "compaction changed the served BM25 top-k")
    // ERASURE THROUGH SERVING: forget a doc slice from the index
    // (quiesced, every fold committed) — the served BM25 must equal the
    // batch query over the SURVIVING documents, and no forgotten row may
    // remain in the token cache
    val isForgotten = col("doc_id") % 10 === 3
    streaming.EventStream.forgetDocsFromTfIndex(spark, indexDir,
      docs.filter(isForgotten).select(col("doc_id")))
    val tfAfter = streaming.EventStream.tfIndexRead(spark, indexDir)
    assert(tfAfter.filter(col("doc_id") % 10 === 3).count() == 0,
      "forgotten docs still present in the served token cache")
    val survivors = docs.filter(!isForgotten)
    val servedAfter = TextAnalysis.bm25FromTf(tfAfter,
        survivors.agg(count(lit(1)).alias("n_docs")), queries)
      .collect().map(_.toSeq).toSeq
    val wantAfter = TextAnalysis.bm25TopDocsOf(survivors, queries)
      .collect().map(_.toSeq).toSeq
    assert(servedAfter == wantAfter && wantAfter.nonEmpty,
      "post-erasure served BM25 diverged from the surviving-docs rebuild")
  }

  test("tf-index erasure works on the uncompacted multi-subdir tree and" +
      " beside a crashed unpublished build") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    val stageDir = java.nio.file.Files.createTempDirectory("graft-tfidx2")
    stageFile(docs.filter(isBatch && col("doc_id") % 20 === 9), stageDir, "b1", 60)
    stageFile(docs.filter(isBatch && col("doc_id") % 20 =!= 9), stageDir, "b2", 30)
    val outBase = java.nio.file.Files.createTempDirectory("graft-tfidx2-out")
    val indexDir = outBase.resolve("index").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
    val q1 = streaming.EventStream.tfIndexMaintenanceStream(
      stream, docs.filter(!isBatch), indexDir,
      checkpointDir = Some(outBase.resolve("ckpt").toString))
    try q1.processAllAvailable() finally q1.stop()
    // the table serves seed + a0 + a1 — erase directly on the
    // MULTI-GENERATION layout (the rewrite's fold under a transform)
    val preDirs = servedGens(streaming.EventStream.tfIndexRead(spark, indexDir))
    assert(preDirs.length > 1, s"fixture should be uncompacted: ${preDirs.mkString(",")}")
    val isForgotten = col("doc_id") % 10 === 9
    streaming.EventStream.forgetDocsFromTfIndex(spark, indexDir,
      docs.filter(isForgotten).select(col("doc_id")))
    val tf1 = streaming.EventStream.tfIndexRead(spark, indexDir)
    assert(tf1.filter(col("doc_id") % 10 === 9).count() == 0,
      "multi-generation erasure left forgotten rows")
    val survivors = docs.filter(!isForgotten)
    assert(tf1.collect().map(_.toSeq).toSet ==
      TextAnalysis.termFreqsOf(survivors).collect().map(_.toSeq).toSet,
      "erased multi-generation table must equal the surviving-docs tokenization")
    // erasure must EXPIRE every older generation — the forgotten rows'
    // directories are the very thing the deletion request targets, so
    // the grace-snapshot discipline of plain compaction does not apply
    val tfDir = s"$indexDir/tf"
    assert(committedGens(tfDir) == Seq("r0_1"),
      s"erasure left older (forgotten-rows) generations: ${committedGens(tfDir).mkString(",")}")
    // a crashed uncommitted build parked beside it (the log's only crash
    // residue; a cleanly failed writer released its claim) must not stop
    // a later erasure, and the erasure must STILL erase — a recovery path
    // that skipped the caller's transform would be a silent non-erasure
    // with no error to trigger the regulatory re-run
    spark.read.parquet(gen(tfDir, "r0_1")).write.parquet(gen(tfDir, "r1_1"))
    uncommit(gen(tfDir, "r1_1"))
    val forgetMore = col("doc_id") % 10 === 4
    streaming.EventStream.forgetDocsFromTfIndex(spark, indexDir,
      docs.filter(forgetMore).select(col("doc_id")))
    assert(committedGens(tfDir) == Seq("r1_1"),
      "erasure left the crashed build or an older generation (holding forgotten rows)")
    val tf2 = streaming.EventStream.tfIndexRead(spark, indexDir)
    assert(tf2.filter(col("doc_id") % 10 === 4).count() == 0,
      "erasure beside a crashed build erased nothing")
    assert(tf2.collect().map(_.toSeq).toSet ==
      TextAnalysis.termFreqsOf(survivors.filter(!forgetMore))
        .collect().map(_.toSeq).toSet)
  }

  /** Seed a small tf index (history seed + two streamed batches) and
    * return (indexDir, tfDir) — the fixture the rewrite-claim and
    * retention tests race compaction/erasure writers over.
    */
  private def claimFixture(tag: String): (String, String) = {
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    val stageDir = java.nio.file.Files.createTempDirectory(s"graft-$tag")
    stageFile(docs.filter(isBatch && col("doc_id") % 20 === 9), stageDir, "b1", 60)
    stageFile(docs.filter(isBatch && col("doc_id") % 20 =!= 9), stageDir, "b2", 30)
    val outBase = java.nio.file.Files.createTempDirectory(s"graft-$tag-out")
    val indexDir = outBase.resolve("index").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
    val q1 = streaming.EventStream.tfIndexMaintenanceStream(
      stream, docs.filter(!isBatch), indexDir,
      checkpointDir = Some(outBase.resolve("ckpt").toString))
    try q1.processAllAvailable() finally q1.stop()
    (indexDir, s"$indexDir/tf")
  }

  test("foreachBatch curation ingest equals the one-shot stage set across" +
      " micro-batches; funnel deltas are additive; restarts resume") {
    import graft.operators.Curation
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
      .head().getDouble(0)
    val stageDir = java.nio.file.Files.createTempDirectory("graft-curstr")
    stageFile(docs.filter(col("doc_id") <= mid), stageDir, "b1", 60)
    stageFile(docs.filter(col("doc_id") > mid), stageDir, "b2", 30)
    val outBase = java.nio.file.Files.createTempDirectory("graft-curstr-out")
    val outDir = outBase.resolve("out").toString
    val funnelDir = outBase.resolve("funnel").toString
    val indexDir = outBase.resolve("index").toString
    val ckpt = outBase.resolve("ckpt").toString
    val bench = docs.filter(col("source") === Curation.BenchmarkSource)
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
      val q1 = streaming.EventStream.curationIngestStream(
        stream, docs.filter(lit(false)), bench, outDir, funnelDir, indexDir,
        checkpointDir = Some(ckpt))
      try q1.processAllAvailable() finally q1.stop()
    }
    run()
    // streamed survivors over two micro-batches ≡ the registered
    // one-shot gate (whose oracle is the from-scratch SQL)
    val got = streaming.EventStream.curationStreamRead(spark, outDir)
      .collect().map(_.toSeq).toSet
    val want = q("docs_curation_streamed").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty,
      "streamed curation survivors diverged from the one-shot stage set")
    // funnel deltas are additive to whole-corpus stage counts
    val funnel = streaming.EventStream.curationFunnelRead(spark, funnelDir)
      .collect()
    assert(funnel.length == 2, s"expected 2 funnel deltas, got ${funnel.length}")
    def total(c: String) = funnel.map(_.getAs[Long](c)).sum
    assert(total("n_docs") == docs.count())
    assert(total("n_benchmark") == bench.count())
    assert(total("n_final") == want.size.toLong)
    // dedup removals across deltas = the batch LSH removal set (each
    // removed doc is counted in exactly the batch that carried it)
    val lshRemovals = q("dedup_minhash_lsh")
      .select(col("doc_b")).distinct().count()
    assert(total("n_dedup_removed") == lshRemovals,
      s"funnel dedup removals ${total("n_dedup_removed")} != batch LSH $lshRemovals")
    // a restarted stream over the same checkpoint re-delivers nothing
    run()
    assert(streaming.EventStream.curationStreamRead(spark, outDir)
      .collect().map(_.toSeq).toSet == got, "restart re-folded a batch")
    assert(streaming.EventStream.curationFunnelRead(spark, funnelDir)
      .count() == 2, "restart appended duplicate funnel deltas")
  }

  test("foreachBatch chunk ingest-dedup equals the batch span dedup across" +
      " micro-batches, restarts resume, and erasure un-ghosts forgotten spans") {
    import graft.operators.Dedup
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
      .head().getDouble(0)
    val stageDir = java.nio.file.Files.createTempDirectory("graft-chunkstr")
    stageFile(docs.filter(col("doc_id") <= mid), stageDir, "b1", 60)
    stageFile(docs.filter(col("doc_id") > mid), stageDir, "b2", 30)
    val outBase = java.nio.file.Files.createTempDirectory("graft-chunkstr-out")
    val outDir = outBase.resolve("out").toString
    val indexDir = outBase.resolve("index").toString
    val ckpt = outBase.resolve("ckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
      val q1 = streaming.EventStream.chunkIngestDedup(
        stream, docs.filter(lit(false)), outDir, indexDir,
        checkpointDir = Some(ckpt))
      try q1.processAllAvailable() finally q1.stop()
    }
    run()
    // streamed-over-batches ≡ the one-shot batch query
    val got = streaming.EventStream.chunkOutRead(spark, outDir)
      .collect().map(_.toSeq).toSet
    val want = q("docs_chunk_dedup").collect().map(_.toSeq).toSet
    assert(got == want && want.nonEmpty,
      "streamed chunk dedup diverged from the batch query over the union")
    // the stored index equals the full-corpus chunk rows
    assert(streaming.EventStream.chunkIndexRead(spark, indexDir)
      .collect().map(_.toSeq).toSet ==
      Dedup.chunkHashesOf(docs).collect().map(_.toSeq).toSet)
    // a restarted stream over the same checkpoint re-delivers nothing
    run()
    assert(streaming.EventStream.chunkOutRead(spark, outDir)
      .collect().map(_.toSeq).toSet == got, "restart re-folded a batch")
    // ERASURE + GHOST-PROBE: forget the low half, then re-ingest one
    // forgotten document byte-identically as a new doc_id — its spans
    // must dedup ONLY against the SURVIVORS' chunks, never against its
    // own erased history (right-to-be-forgotten means the ghost is gone)
    val victims = docs.filter(col("doc_id") <= mid).select(col("doc_id"))
    streaming.EventStream.forgetDocsFromChunkIndex(spark, indexDir, victims)
    val idxAfter = streaming.EventStream.chunkIndexRead(spark, indexDir)
    assert(idxAfter.filter(col("doc_id") <= mid).count() == 0,
      "forgotten docs still present in the chunk index")
    // per-occurrence grain: erased index ≡ filter-rebuild over survivors
    assert(idxAfter.collect().map(_.toSeq).toSet ==
      Dedup.chunkHashesOf(docs.filter(col("doc_id") > mid))
        .collect().map(_.toSeq).toSet,
      "erased chunk index must equal the surviving-docs rebuild")
    val ghostSrc = docs.orderBy("doc_id").limit(1).collect()(0)
    val ghostId = 900000L
    val ghost = Seq((ghostId, ghostSrc.getAs[String]("text")))
      .toDF("doc_id", "text")
    streaming.EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
      ghost, batchId = 77L)
    val ghostOut = streaming.EventStream.chunkOutRead(spark, outDir)
      .filter(col("doc_id") === ghostId).head()
    // what the ghost SHOULD dedup against: survivors' chunk hashes only
    val survivorHashes = Dedup.chunkHashesOf(docs.filter(col("doc_id") > mid))
      .select(col("h")).distinct().collect().map(_.getString(0)).toSet
    val ghostHashes = Dedup.chunkHashesOf(ghost)
      .orderBy("chunk_id").select(col("h")).collect().map(_.getString(0))
    // removed = survivor match OR an earlier occurrence within the ghost
    // batch itself (the first-occurrence rule at the batch grain)
    val seen = scala.collection.mutable.Set.empty[String]
    val expectRemoved = ghostHashes.count { h =>
      val r = survivorHashes.contains(h) || seen.contains(h); seen += h; r
    }
    assert(ghostOut.getAs[Long]("n_removed") == expectRemoved,
      s"ghost re-ingest removed ${ghostOut.getAs[Long]("n_removed")} spans, " +
        s"expected $expectRemoved (survivor matches only — erased history " +
        "must not ghost-match)")
    assert(ghostHashes.length > expectRemoved,
      "fixture degenerate: every ghost span also lives in survivors — " +
        "the un-ghosting direction would be vacuous")
  }

  test("as-of reads serve exactly the batch prefix, compaction records the" +
      " horizon, and reads below it fail loudly") {
    import graft.operators.Dedup
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val (q1, q2) = (ids(ids.length / 4), ids(ids.length / 2))
    val base = java.nio.file.Files.createTempDirectory("graft-asof")
    val outDir = base.resolve("out").toString
    val indexDir = base.resolve("index").toString
    // seed = history (ids <= q1); two batches append the rest
    val history = docs.filter(col("doc_id") <= q1)
    streaming.EventStream.chunkIndexSeed(spark, indexDir, history)
    streaming.EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
      docs.filter(col("doc_id") > q1 && col("doc_id") <= q2), 0L)
    streaming.EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
      docs.filter(col("doc_id") > q2), 1L)
    def idxAsOf(b: Long) = streaming.EventStream
      .chunkIndexReadAsOf(spark, indexDir, b).collect().map(_.toSeq).toSet
    def rebuildThrough(pred: org.apache.spark.sql.Column) =
      Dedup.chunkHashesOf(docs.filter(pred)).collect().map(_.toSeq).toSet
    val live = streaming.EventStream.chunkIndexRead(spark, indexDir)
      .collect().map(_.toSeq).toSet
    // as-of batch 0 = seed + b0 only; as-of latest (and beyond) = live
    assert(idxAsOf(0L) == rebuildThrough(col("doc_id") <= q2),
      "as-of batch 0 must equal the prefix rebuild (seed + b0)")
    assert(idxAsOf(0L) != live, "fixture degenerate: b1 added nothing")
    assert(idxAsOf(1L) == live && idxAsOf(99L) == live,
      "as-of at/after the newest batch must equal the live read")
    // as-of BEFORE any batch = the seed alone (horizon -1 allows it)
    assert(idxAsOf(-1L) == rebuildThrough(col("doc_id") <= q1),
      "as-of -1 must serve the pure history seed")
    // incremental reads: changes(from, to] = exactly the window's
    // batches, never the seed; catch-up invariant asOf(from) ∪
    // changes(from, to] = asOf(to)
    def idxChanges(from: Long, to: Long) = streaming.EventStream
      .chunkIndexChanges(spark, indexDir, from, to)
      .collect().map(_.toSeq).toSet
    assert(idxChanges(-1L, 0L) ==
      rebuildThrough(col("doc_id") > q1 && col("doc_id") <= q2),
      "changes(-1,0] must be exactly batch 0's rows")
    assert(idxChanges(0L, 1L) == rebuildThrough(col("doc_id") > q2),
      "changes(0,1] must be exactly batch 1's rows")
    assert(idxAsOf(0L) ++ idxChanges(0L, 1L) == idxAsOf(1L),
      "asOf(from) ∪ changes(from,to] must equal asOf(to)")
    assert(idxChanges(1L, 99L).isEmpty,
      "an empty change window must read empty, not error")
    // compaction folds a0+a1 into a rewrite that records the batch it
    // covers through in its name
    val chunksDir = s"$indexDir/chunks"
    streaming.EventStream.compactChunkIndex(spark, indexDir)
    assert(committedGens(chunksDir).contains("r0_1"),
      s"compaction must commit r0_1: ${committedGens(chunksDir).mkString(",")}")
    assert(idxAsOf(1L) == live,
      "as-of at the compaction horizon must survive compaction")
    // below it the read resolves the RETAINED GRACE snapshot (plain
    // compaction keeps the seed and the appends it folded) — the
    // expire-later window, during which older as-ofs still serve
    assert(idxAsOf(0L) == rebuildThrough(col("doc_id") <= q2),
      "as-of below the rewrite must serve from the grace snapshot")
    assert(idxChanges(0L, 1L) == rebuildThrough(col("doc_id") > q2),
      "changes below the rewrite must read from the grace snapshot")
    // post-compaction fold: as-of the new batch = live, horizon intact
    streaming.EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
      docs.filter(col("doc_id") <= q1), 2L)
    val live2 = streaming.EventStream.chunkIndexRead(spark, indexDir)
      .collect().map(_.toSeq).toSet
    assert(idxAsOf(2L) == live2 && idxAsOf(1L) == live,
      "post-compaction fold must extend as-of without moving the horizon")
    assert(idxChanges(1L, 2L) == rebuildThrough(col("doc_id") <= q1),
      "changes(horizon, new-batch] must serve the post-compaction fold")
    // a window spanning the compaction: (0, 2] reads the grace append
    // a1 AND the post-compaction append a2
    assert(idxChanges(0L, 2L) ==
      rebuildThrough(col("doc_id") > q2 || col("doc_id") <= q1),
      "changes spanning the compaction must read both appends")
    // redelivery of batch 2 is a no-op at every as-of point
    streaming.EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
      docs.filter(col("doc_id") <= q1), 2L)
    assert(idxAsOf(2L) == live2, "redelivered batch changed an as-of read")
    // a second compaction advances monotonically (its rewrite covers
    // a2, so through 2), and its entry expiry drops the oldest grace
    // snapshot: as-of 0 is now below the retention horizon and fails
    // loudly, and the table holds the live snapshot plus one grace
    // snapshot
    streaming.EventStream.compactChunkIndex(spark, indexDir)
    assert(committedGens(chunksDir) == Seq("a2", "r0_1", "r1_2"),
      s"second compaction must commit r1_2 over one grace snapshot: " +
        committedGens(chunksDir).mkString(","))
    assert(idxAsOf(2L) == live2,
      "as-of at the new horizon must survive the second compaction")
    assert(idxAsOf(1L) == live,
      "as-of 1 must still serve from the remaining grace snapshot")
    val err = intercept[IllegalArgumentException] { idxAsOf(0L) }
    assert(err.getMessage.contains("retained snapshot"),
      s"expected the loud expired-snapshot error, got: ${err.getMessage}")
    val errC = intercept[IllegalArgumentException] { idxChanges(0L, 1L) }
    assert(errC.getMessage.contains("retained snapshot"),
      s"expected the loud expired-snapshot error, got: ${errC.getMessage}")
  }

  test("as-of and incremental reads generalize to the tf and positions" +
      " indexes") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val (q1, q2) = (ids(ids.length / 4), ids(ids.length / 2))
    val base = java.nio.file.Files.createTempDirectory("graft-asofgen").toString
    streaming.EventStream.tfIndexSeed(spark, s"$base/t",
      docs.filter(col("doc_id") <= q1))
    streaming.EventStream.tfIndexFoldBatch(spark, s"$base/t",
      docs.filter(col("doc_id") > q1 && col("doc_id") <= q2), 0L)
    streaming.EventStream.tfIndexFoldBatch(spark, s"$base/t",
      docs.filter(col("doc_id") > q2), 1L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(streaming.EventStream.tfIndexReadAsOf(spark, s"$base/t", 0L)) ==
      rows(TextAnalysis.termFreqsOf(docs.filter(col("doc_id") <= q2))),
      "tf-index as-of 0 must equal the prefix rebuild")
    assert(rows(streaming.EventStream.tfIndexChanges(spark, s"$base/t", 0L, 1L)) ==
      rows(TextAnalysis.termFreqsOf(docs.filter(col("doc_id") > q2))),
      "tf-index changes(0,1] must equal batch 1's rebuild")
    // the catch-up invariant on the tf tier: a consumer at snapshot 0
    // that applies changes(0,1] lands exactly on snapshot 1
    assert((rows(streaming.EventStream.tfIndexReadAsOf(spark, s"$base/t", 0L)) ++
        rows(streaming.EventStream.tfIndexChanges(spark, s"$base/t", 0L, 1L))) ==
      rows(streaming.EventStream.tfIndexReadAsOf(spark, s"$base/t", 1L)),
      "tf-tier catch-up invariant: asOf(0) ∪ changes(0,1] must equal asOf(1)")
    streaming.EventStream.posIndexSeed(spark, s"$base/p",
      docs.filter(col("doc_id") <= q1))
    streaming.EventStream.posIndexFoldBatch(spark, s"$base/p",
      docs.filter(col("doc_id") > q1 && col("doc_id") <= q2), 0L)
    streaming.EventStream.posIndexFoldBatch(spark, s"$base/p",
      docs.filter(col("doc_id") > q2), 1L)
    assert(rows(streaming.EventStream.posIndexReadAsOf(spark, s"$base/p", 0L)) ==
      rows(TextAnalysis.termPositionsOf(docs.filter(col("doc_id") <= q2))),
      "positions-index as-of 0 must equal the prefix rebuild")
  }

  /** Planted token chain for the cluster tests: J(A,B)=J(B,C)=8/9 >= 0.8
    * but J(A,C)=7/9 < 0.8 (LSH may propose A-C; exact verify rejects
    * it), and D extends A the same way — so clusters FORM separately,
    * then merge, then a smaller id dethrones the rep, building a 2-hop
    * redirect chain.
    */
  private def clusterChainBatches: Seq[Seq[(Long, String)]] = {
    val w = (1 to 11).map(i => s"tok$i")
    val textA = w.slice(0, 10).mkString(" ")          // w1..w10
    val textB = w.slice(0, 11).mkString(" ")          // w1..w11
    val textC = w.slice(1, 11).mkString(" ")          // w2..w11
    val textD = (w.slice(0, 10) :+ "tokX").mkString(" ") // A + one token
    Seq(
      Seq((100L, textA), (900L, "alpha beta gamma delta epsilon zeta")),
      Seq((200L, textC), (901L, "one two three four five six seven")),
      Seq((300L, textB)),   // pairs with BOTH 100 and 200 -> merge
      Seq((50L, textD)))    // pairs with 100 -> dethrones rep 100
  }

  test("incremental clusters: merges append redirects, chains resolve, " +
      "compaction collapses them, and erasure handles rep loss and splits") {
    import spark.implicits._
    val batches = clusterChainBatches
    val docsDf = batches.flatten.toDF("doc_id", "text")
    val stageDir = java.nio.file.Files.createTempDirectory("graft-cluststr")
    batches.zipWithIndex.foreach { case (b, i) =>
      stageFile(b.toDF("doc_id", "text"), stageDir, s"b$i", 80 - i * 10)
    }
    val base = java.nio.file.Files.createTempDirectory("graft-cluststr-out")
    val (pairsDir, indexDir, clusterDir, ckpt) =
      (base.resolve("pairs").toString, base.resolve("index").toString,
        base.resolve("cluster").toString, base.resolve("ckpt").toString)
    def run(): Unit = {
      val stream = spark.readStream.schema(docsDf.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
      val q1 = streaming.EventStream.clusterIngestDedup(
        stream, docsDf.filter(lit(false)), pairsDir, indexDir, clusterDir,
        checkpointDir = Some(ckpt))
      try q1.processAllAvailable() finally q1.stop()
    }
    run()
    def served() = streaming.EventStream.clusterStateServe(spark, clusterDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val want = Map(100L -> 50L, 200L -> 50L, 300L -> 50L, 50L -> 50L,
      900L -> 900L, 901L -> 901L)
    assert(served() == want,
      s"resolved labels ${served()} != expected $want — the 2-hop " +
        "redirect chain (200→100→50) must resolve to the component min")
    // the chain really is lazy: two redirect rows, not rewritten members
    val redirects = streaming.EventStream.clusterRedirectsRead(spark, clusterDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(redirects == Set((200L, 100L), (100L, 50L)),
      s"expected the merge chain as redirect rows, got $redirects")
    // restart over the same checkpoint re-delivers nothing
    run()
    assert(served() == want, "restart re-folded a batch")
    // TIME-TRAVELED serving: members + redirects at the SAME horizon —
    // what the assignment WAS when each batch committed
    def servedAsOf(b: Long) = streaming.EventStream
      .clusterStateServeAsOf(spark, clusterDir, b)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(servedAsOf(1L) == Map(100L -> 100L, 200L -> 200L,
      900L -> 900L, 901L -> 901L),
      "as-of batch 1 must show the pre-merge assignment")
    assert(servedAsOf(2L) == Map(100L -> 100L, 200L -> 100L, 300L -> 100L,
      900L -> 900L, 901L -> 901L),
      "as-of batch 2 must show the merged-but-not-dethroned assignment")
    assert(servedAsOf(3L) == want, "as-of the newest batch must equal live")
    // offline path compression: serving identical, chains gone
    streaming.EventStream.compactClusterState(spark, clusterDir)
    assert(served() == want, "compaction changed served labels")
    // below the live horizon, both tables resolve their retained grace
    // snapshots at the same batch — time travel survives compaction
    // for as long as the expire-later window holds
    assert(servedAsOf(1L) == Map(100L -> 100L, 200L -> 200L,
      900L -> 900L, 901L -> 901L),
      "grace-served as-of must still show the pre-merge assignment")
    assert(streaming.EventStream.clusterRedirectsRead(spark, clusterDir)
      .isEmpty, "compaction must empty the redirect table")
    // ERASURE of a BRIDGE doc: 300 is the only link between {50,100}
    // and {200} (the A-C pair was verify-rejected), so forgetting it
    // must SPLIT the cluster — the case lazy redirects cannot express
    // and the recompute-affected-components path exists for
    streaming.EventStream.forgetDocsFromClusterState(spark, clusterDir,
      pairsDir, Seq(300L).toDF("doc_id"))
    val afterSplit = Map(100L -> 50L, 200L -> 200L, 50L -> 50L,
      900L -> 900L, 901L -> 901L)
    assert(served() == afterSplit,
      s"post-erasure labels ${served()} != $afterSplit — forgetting the " +
        "bridge must split the component and relabel the remainder")
    // erasure EXPIRES time travel (vacuumSuperseded): a retained grace
    // snapshot would keep the forgotten doc's assignment readable
    val errErased = intercept[IllegalArgumentException] { servedAsOf(1L) }
    assert(errErased.getMessage.contains("retained snapshot"),
      "post-erasure time travel into pre-erasure state must fail loudly")
    // ERASURE of the REP itself: 50 is the minimum; survivors must
    // relabel to the new minimum 100
    streaming.EventStream.forgetDocsFromClusterState(spark, clusterDir,
      pairsDir, Seq(50L).toDF("doc_id"))
    val afterRep = Map(100L -> 100L, 200L -> 200L,
      900L -> 900L, 901L -> 901L)
    assert(served() == afterRep,
      s"post-rep-erasure labels ${served()} != $afterRep")
  }

  test("cluster auto-compaction fires inside the stream and serving stays" +
      " transparent across it") {
    import spark.implicits._
    val batches = clusterChainBatches
    val docsDf = batches.flatten.toDF("doc_id", "text")
    val stageDir = java.nio.file.Files.createTempDirectory("graft-clustauto")
    batches.zipWithIndex.foreach { case (b, i) =>
      stageFile(b.toDF("doc_id", "text"), stageDir, s"b$i", 80 - i * 10)
    }
    val base = java.nio.file.Files.createTempDirectory("graft-clustauto-out")
    val (pairsDir, indexDir, clusterDir, ckpt) =
      (base.resolve("pairs").toString, base.resolve("index").toString,
        base.resolve("cluster").toString, base.resolve("ckpt").toString)
    val stream = spark.readStream.schema(docsDf.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
    val q1 = streaming.EventStream.clusterIngestDedup(
      stream, docsDf.filter(lit(false)), pairsDir, indexDir, clusterDir,
      checkpointDir = Some(ckpt), autoCompactAfter = Some(2))
    try q1.processAllAvailable() finally q1.stop()
    // the policy fired mid-stream: the members table holds a rewrite
    // covering the threshold-crossing batch...
    assert(committedGens(s"$clusterDir/members").exists(_.matches("r\\d+_[2-9]")),
      "auto-compaction never fired on the cluster state")
    // ...and serving is transparent: the post-compaction batch's merge
    // (100 -> 50) still resolves on top of the compacted baseline
    val served = streaming.EventStream.clusterStateServe(spark, clusterDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(served == Map(100L -> 50L, 200L -> 50L, 300L -> 50L, 50L -> 50L,
      900L -> 900L, 901L -> 901L),
      s"served labels after in-stream compaction: $served")
  }

  test("auto-compaction policy fires only past the subdir threshold and" +
      " keeps marker evidence intact") {
    import graft.operators.TextAnalysis
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    def run(tag: String, k: Int): String = {
      val stageDir = java.nio.file.Files.createTempDirectory(s"graft-$tag")
      stageFile(docs.filter(isBatch && col("doc_id") % 20 === 9), stageDir, "b1", 60)
      stageFile(docs.filter(isBatch && col("doc_id") % 20 =!= 9), stageDir, "b2", 30)
      val outBase = java.nio.file.Files.createTempDirectory(s"graft-$tag-out")
      val indexDir = outBase.resolve("index").toString
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
      val q1 = streaming.EventStream.tfIndexMaintenanceStream(
        stream, docs.filter(!isBatch), indexDir,
        checkpointDir = Some(outBase.resolve("ckpt").toString),
        autoCompactAfter = Some(k))
      try q1.processAllAvailable() finally q1.stop()
      indexDir
    }
    def served(idx: String) = servedGens(streaming.EventStream.tfIndexRead(spark, idx))
    // threshold 2 with exactly 2 batch appends: 2 > 2 is false — the
    // policy must NOT fire AT the threshold, only past it
    val atIdx = run("autocompact-at", 2)
    assert(served(atIdx) == Seq("a0", "a1", "seed"),
      "policy fired at (not past) the threshold")
    // threshold 1: after a0 the count is 1 (no fire), after a1 it is 2 —
    // the fold path compacts to one rewrite
    val pastIdx = run("autocompact-past", 1)
    assert(served(pastIdx) == Seq("r0_1"),
      s"policy did not fire past the threshold: ${served(pastIdx)}")
    // the replay evidence outlives the auto-compaction: the rewrite
    // covers both batches, so a redelivered pre-compaction batch no-ops
    val before = committedGens(s"$pastIdx/tf")
    streaming.EventStream.tfIndexFoldBatch(spark, pastIdx, docs.filter(isBatch), 0L)
    assert(committedGens(s"$pastIdx/tf") == before,
      "a redelivered compacted batch was folded again")
    // both policies serve the identical full tokenization
    val want = TextAnalysis.termFreqsOf(docs).collect().map(_.toSeq).toSet
    for (idx <- Seq(atIdx, pastIdx))
      assert(streaming.EventStream.tfIndexRead(spark, idx)
        .collect().map(_.toSeq).toSet == want,
        s"auto-compacted index under $idx serves wrong rows")
  }

  test("compactor-vs-erasure interleave: the erasure loses loudly while" +
      " a claim is held, erases nothing, then re-runs to completion") {
    val docs = Tables.documents(spark, sf)
    val (indexDir, tfDir) = claimFixture("tfclaim2")
    def served() = streaming.EventStream.tfIndexRead(spark, indexDir)
      .collect().map(_.toSeq).toSet
    val before = served()
    val gensBefore = committedGens(tfDir)
    val victim = docs.filter(col("doc_id") % 10 === 3).select(col("doc_id"))
    // writer A claimed the next rewrite (sequence 0 over the seed) and is
    // building it — or crashed hard while doing so
    val claim = java.nio.file.Paths.get(s"$tfDir/state/_rewrite_0")
    java.nio.file.Files.createFile(claim)
    // the erasure and a second compaction must both fail at the claim —
    // an erasure that half-ran under a racing compactor could be
    // silently undone by the compactor's fold of the pre-erasure state
    val e = intercept[IllegalStateException] {
      streaming.EventStream.forgetDocsFromTfIndex(spark, indexDir, victim)
    }
    assert(e.getMessage.contains("_rewrite_0") && e.getMessage.contains("delete"),
      s"the loser's error must name the claim and its recovery: ${e.getMessage}")
    intercept[IllegalStateException] {
      streaming.EventStream.compactTfIndex(spark, indexDir)
    }
    // the losers touched nothing: same generations, same served rows,
    // and the holder's claim is still in place
    assert(committedGens(tfDir) == gensBefore, "a losing writer committed")
    assert(served() == before, "a losing writer changed what serves")
    assert(java.nio.file.Files.exists(claim), "a loser released the holder's claim")
    // the holder finishes (its claim stays with its commit) — or, after
    // a crash, the operator deletes the claim — and the losers re-run:
    // regulation-mandated retries run until success
    java.nio.file.Files.delete(claim)
    streaming.EventStream.compactTfIndex(spark, indexDir)
    assert(served() == before, "compaction changed served rows")
    streaming.EventStream.forgetDocsFromTfIndex(spark, indexDir, victim)
    val after = streaming.EventStream.tfIndexRead(spark, indexDir)
    assert(after.filter(col("doc_id") % 10 === 3).count() == 0,
      "re-run erasure left forgotten rows")
    assert(after.collect().map(_.toSeq).toSet ==
      graft.operators.TextAnalysis.termFreqsOf(
        docs.filter(col("doc_id") % 10 =!= 3)).collect().map(_.toSeq).toSet,
      "post-erasure table must equal the surviving-docs tokenization")
    // a retained rewrite keeps its claim, so a writer that listed before
    // it committed can never claim its sequence again; the erasure
    // expired r0_1, and its claim went with it
    val claims = new java.io.File(s"$tfDir/state").list()
      .filter(_.startsWith("_rewrite_")).sorted.toSeq
    assert(claims == Seq("_rewrite_1"), s"claims: $claims")
    assert(committedGens(tfDir) == Seq("r1_1"), committedGens(tfDir).mkString(","))
  }

  test("withWatermark hourly aggregate: append mode finalizes windows the" +
      " watermark passed, drops late rows, and matches the batch spelling") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.functions.Deterministic
    // the genuinely STATEFUL Structured Streaming shape (vs the
    // library's foreachBatch folds): event-time window state held by
    // the engine, finalized and emitted only once the watermark passes
    // the window end, with late data dropped by the engine — the
    // streaming twin of the batch `events_hourly` spelling
    def hourly(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = df
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).alias("n_events"),
        Deterministic.exactSum(col("value"), 2).alias("sum_value"))
      .select(col("window.start").alias("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))
    val mem = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val q = hourly(mem.toDF().toDF("ts", "event_type", "value")
        .withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName("wm_hourly")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val onTime = Seq(
      (ts("2024-01-01 00:10:00"), "click", 1.25),
      (ts("2024-01-01 00:40:00"), "click", 2.50),
      (ts("2024-01-01 01:20:00"), "view", 3.75))
    try {
      // batch 1: the early hours plus a 03:05 event that advances the
      // watermark to 02:05 at batch end
      mem.addData(onTime :+ ((ts("2024-01-01 03:05:00"), "click", 4.00)): _*)
      q.processAllAvailable()
      // batch 2: one LATE row behind the watermark (engine must DROP it
      // — its window is already finalized) and one on-time hour-3 row
      // (its window stays open, so it must NOT be emitted yet)
      mem.addData((ts("2024-01-01 00:30:00"), "click", 999.0),
        (ts("2024-01-01 03:30:00"), "view", 5.00))
      q.processAllAvailable()
    } finally q.stop()
    def rowSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getTimestamp(0), r.getString(1),
        r.getLong(2), r.getDouble(3))).toSet
    val served = rowSet(spark.table("wm_hourly"))
    // exactly the watermark-passed windows were emitted, and the late
    // 999.0 never entered them: 3 on-time early events, nothing else
    assert(served.toSeq.map(_._3).sum == 3,
      s"append output should hold exactly the 3 finalized early events: $served")
    assert(served.forall(_._4 < 100.0),
      s"a late row leaked into a finalized window: $served")
    // parity with the batch spelling over the in-watermark rows
    assert(served == rowSet(hourly(onTime.toDF("ts", "event_type", "value"))),
      "streamed finalized windows diverge from the batch spelling")
  }

  test("append-table retention: retained grace snapshots still" +
      " time-travel, expired as-of reads fail loudly, the newest rewrite" +
      " never expires") {
    val (indexDir, tfDir) = claimFixture("tfexpire")
    def served() = streaming.EventStream.tfIndexRead(spark, indexDir)
      .collect().map(_.toSeq).toSet
    val before = served()
    val asOf0Rows = streaming.EventStream.tfIndexReadAsOf(spark, indexDir, 0L)
      .collect().map(_.toSeq).toSet
    // compaction commits r0_1 and keeps the seed and appends as the
    // grace snapshot
    streaming.EventStream.compactTfIndex(spark, indexDir)
    assert(streaming.EventStream.tfIndexReadAsOf(spark, indexDir, 0L)
      .collect().map(_.toSeq).toSet == asOf0Rows,
      "grace snapshot stopped serving as-of reads before expiry")
    // an uncommitted build (an in-flight or crashed rewrite) is NOT
    // retention's to touch
    val husk = new java.io.File(gen(tfDir, "r5_1"))
    husk.mkdirs()
    // expiry at the rewrite's batch drops exactly the grace snapshot
    val dropped = streaming.EventStream.expireVersionedGenerations(spark, tfDir, 1L)
    assert(dropped.map(d => new java.io.File(d).getName).sorted == Seq("a0", "a1", "seed"),
      s"exactly the grace snapshot should expire: $dropped")
    assert(husk.exists(), "expiry deleted an uncommitted in-flight build")
    assert(served() == before, "expiry changed what the live read serves")
    // the expired window's as-of read fails LOUDLY, never a
    // silently-partial view
    val e = intercept[IllegalArgumentException] {
      streaming.EventStream.tfIndexReadAsOf(spark, indexDir, 0L).collect()
    }
    assert(e.getMessage.contains("retained snapshot"),
      s"expired as-of must fail with the retention message: ${e.getMessage}")
    assert(streaming.EventStream.tfIndexReadAsOf(spark, indexDir, 1L)
      .collect().map(_.toSeq).toSet == before)
    // a horizon past every batch still keeps the newest rewrite serving
    assert(streaming.EventStream.expireVersionedGenerations(spark, tfDir, 99L).isEmpty)
    assert(served() == before, "expiry past the newest batch dropped the newest rewrite")
  }

  test("maintenance-stream retention hook: expireKeepSnapshots beside" +
      " autoCompactAfter keeps the snapshot list bounded") {
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    val stageDir = java.nio.file.Files.createTempDirectory("graft-tfexpstream")
    stageFile(docs.filter(isBatch && col("doc_id") % 20 === 9), stageDir, "b1", 60)
    stageFile(docs.filter(isBatch && col("doc_id") % 20 =!= 9), stageDir, "b2", 30)
    val outBase = java.nio.file.Files.createTempDirectory("graft-tfexpstream-out")
    val indexDir = outBase.resolve("index").toString
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$stageDir/*")
    val q1 = streaming.EventStream.tfIndexMaintenanceStream(
      stream, docs.filter(!isBatch), indexDir,
      checkpointDir = Some(outBase.resolve("ckpt").toString),
      autoCompactAfter = Some(1), expireKeepSnapshots = Some(1))
    try q1.processAllAvailable() finally q1.stop()
    // every auto-compaction's grace snapshot was expired by the hook:
    // exactly one committed generation — the rewrite — remains
    val left = committedGens(s"$indexDir/tf")
    assert(left == Seq("r0_1"), s"retention hook left ${left.mkString(",")}")
    // and the table still serves the full tokenize-once truth
    assert(streaming.EventStream.tfIndexRead(spark, indexDir)
      .collect().map(_.toSeq).toSet ==
      graft.operators.TextAnalysis.termFreqsOf(docs).collect().map(_.toSeq).toSet,
      "retention/compaction changed served rows")
  }

  test("a torn ANN batch (codes committed, cells missing) serves unchanged until replay") {
    import graft.operators.Similarity
    val cents = Similarity.maintainedCentroids(spark, sf)
    val cb = Similarity.maintainedCodebooks(spark, sf)
    val history = Similarity.maintainedHistory(spark, sf)
    val batch = Similarity.maintainedBatch(spark, sf)
    val indexDir = java.nio.file.Files.createTempDirectory("graft-anntorn").toString
    // seed the index directly (the stream's own seed shape)
    streaming.EventStream.seedAppendTables(spark,
      s"$indexDir/codes" -> Similarity.pqEncodeWith(history, cb),
      s"$indexDir/cells" -> Similarity.assignCellsTo(history, cents))
    val served0 = Similarity.ivfpqServeTop5(spark, sf,
      streaming.EventStream.annIndexCellsRead(spark, indexDir),
      streaming.EventStream.annIndexCodesRead(spark, indexDir), cb)
      .collect().map(_.toSeq).toSet
    // the torn state the write ORDER guarantees: codes a99 committed,
    // cells a99 never written (crash between the two writes); listing-
    // served, so the committed codes generation IS read
    Similarity.pqEncodeWith(batch, cb).write.parquet(gen(s"$indexDir/codes", "a99"))
    dropManifests(s"$indexDir/codes")
    val served1 = Similarity.ivfpqServeTop5(spark, sf,
      streaming.EventStream.annIndexCellsRead(spark, indexDir),
      streaming.EventStream.annIndexCodesRead(spark, indexDir), cb)
      .collect().map(_.toSeq).toSet
    assert(served1 == served0,
      "codes-without-cells rows changed what the index serves")
  }

  test("compacting a half-seeded index fails loudly instead of publishing an empty seed") {
    val idx = java.nio.file.Files.createTempDirectory("graft-halfseed").toString
    // the crash state: the seed generation dir exists, no _SUCCESS
    // (write died mid-job)
    val seed = java.nio.file.Paths.get(gen(s"$idx/shingles", "seed"))
    java.nio.file.Files.createDirectories(seed)
    java.nio.file.Files.write(seed.resolve("part-00000"), Array[Byte](1, 2, 3))
    val e = intercept[IllegalArgumentException] {
      streaming.EventStream.compactIngestIndex(spark, idx)
    }
    assert(e.getMessage.contains("no committed seed"), s"wrong failure: $e")
    // the uncommitted data was not destroyed
    assert(java.nio.file.Files.exists(seed.resolve("part-00000")))
  }

  test("compacting a never-seeded index table fails loudly (requireSeed)") {
    // the ADVICE-named window: an index whose history seed crashed
    // before its dir landed (or was never seeded) must not be compacted
    // into an empty committed seed the seed guard then trusts forever —
    // the seedless layout is legitimate only for OUTPUT (pairs) tables
    val idx = java.nio.file.Files.createTempDirectory("graft-noseed").toString
    // one committed batch append but NO seed
    Tables.documents(spark, sf).limit(1).select(
        col("doc_id"), array(col("text")).alias("sh"))
      .write.parquet(gen(s"$idx/shingles", "a0"))
    val e = intercept[IllegalArgumentException] {
      streaming.EventStream.compactIngestIndex(spark, idx)
    }
    assert(e.getMessage.contains("no committed seed"), s"wrong failure: $e")
  }

  test("foreachBatch phash ingest-dedup equals the batch pair set across restarted runs") {
    // the BINARY twin of the text ingest-dedup gate: the media increment
    // arrives in TWO separate stream RUNS over the same checkpoint +
    // index dirs (restart-resume), with a compaction between them — the
    // union of emitted pairs must equal the from-scratch batch
    // multimodal_phash_dupes pair set minus its history↔history rows
    val docs = Tables.documents(spark, sf)
    def media(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id").alias("media_id"),
        col("text").cast("binary").alias("payload"))
    val dir = java.nio.file.Files.createTempDirectory("graft-phstream")
    val outBase = java.nio.file.Files.createTempDirectory("graft-phstream-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    val ckpt = outBase.resolve("ckpt").toString
    val history = media(docs.filter(col("doc_id") % 10 =!= 9))
    val mediaSchema = media(docs).schema
    def run(): Unit = {
      val stream = spark.readStream.schema(mediaSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val query = streaming.EventStream.phashIngestDedup(
        stream, history, out, idx, checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    media(docs.filter(col("doc_id") % 20 === 9))
      .coalesce(1).write.mode("append").parquet(dir.toString)
    run()
    assert(streaming.EventStream.phashPairsRead(spark, out).count() > 0,
      "run 1 emitted no pairs — fixture drift?")
    // compact between the runs: run 2 must probe the consolidated index
    // exactly as it would the per-batch generations
    streaming.EventStream.compactPhashIndex(spark, idx)
    val bandDirs = servedGens(streaming.EventStream.phashBandsRead(spark, idx))
    assert(bandDirs == Seq("r0_0"), s"bands: ${bandDirs.mkString(",")}")
    media(docs.filter(col("doc_id") % 20 === 19))
      .coalesce(1).write.mode("append").parquet(dir.toString)
    run()
    val streamed = streaming.EventStream.phashPairsRead(spark, out)
    val batchOnly = (c: org.apache.spark.sql.Column) => c % 10 === 9
    val want = q("multimodal_phash_dupes")
      .filter(batchOnly(col("media_a")) || batchOnly(col("media_b")))
    assert(want.count() > 0, "fixture has no increment-involved phash pairs")
    assert(streamed.count() == want.count())
    assert(streamed.exceptAll(want).count() == 0)
    assert(want.exceptAll(streamed).count() == 0)
  }

  test("foreachBatch ANN index maintenance serves identically to the batch-maintained gate") {
    import graft.operators.Similarity
    // frozen history-trained parameters — the same ones the registered
    // maintained gate uses, so parity is end-to-end
    val cents = Similarity.maintainedCentroids(spark, sf)
    val cb = Similarity.maintainedCodebooks(spark, sf)
    val history = Similarity.maintainedHistory(spark, sf)
    val batch = Similarity.maintainedBatch(spark, sf)
    assert(batch.count() >= 2, "need at least two batch vectors for two micro-batches")
    val historyCells = Similarity.assignCellsTo(history, cents)
    val historyCodes = Similarity.pqEncodeWith(history, cb)
    // the crawl increment arrives in TWO separate stream RUNS over the
    // same checkpoint + index dirs — each run is one micro-batch, and
    // run 2 is a brand-new StreamingQuery that must RESUME against the
    // tables run 1 appended (the restart path the scaladoc claims)
    val vecDir = java.nio.file.Files.createTempDirectory("graft-annstream")
    val indexDir = java.nio.file.Files.createTempDirectory("graft-annindex").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-annckpt").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(vecDir.toString)
      val query = streaming.EventStream.annIndexMaintenanceStream(
        stream, historyCells, historyCodes, cents, cb, indexDir,
        checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    batch.filter(col("vec_id") % 2 === 0).coalesce(1)
      .write.mode("append").parquet(vecDir.toString)
    run()
    batch.filter(col("vec_id") % 2 === 1).coalesce(1)
      .write.mode("append").parquet(vecDir.toString)
    run()
    // the appended tables are row-identical to the batch-maintained index
    val cells = streaming.EventStream.annIndexCellsRead(spark, indexDir)
    val codes = streaming.EventStream.annIndexCodesRead(spark, indexDir)
    val wantCells = Similarity.maintainedCells(spark, sf)
    val wantCodes = Similarity.maintainedCodes(spark, sf)
    assert(cells.exceptAll(wantCells).count() == 0)
    assert(wantCells.exceptAll(cells).count() == 0)
    assert(codes.exceptAll(wantCodes).count() == 0)
    assert(wantCodes.exceptAll(codes).count() == 0)
    // and SERVING through the parquet-backed tables returns the same
    // top-5 the registered gate serves
    val served = Similarity.ivfpqServeTop5(spark, sf, cells, codes, cb)
    val want = Similarity.ivfpqMaintainedTop5(spark, sf)
    assert(served.count() == want.count() && want.count() > 0)
    assert(served.exceptAll(want).count() == 0)
    // compaction collapses the per-batch generations and changes
    // NOTHING the index serves
    streaming.EventStream.compactAnnIndex(spark, indexDir)
    val cellDirs = servedGens(streaming.EventStream.annIndexCellsRead(spark, indexDir))
    assert(cellDirs == Seq("r0_1"), s"cells: ${cellDirs.mkString(",")}")
    val cells2 = streaming.EventStream.annIndexCellsRead(spark, indexDir)
    val codes2 = streaming.EventStream.annIndexCodesRead(spark, indexDir)
    assert(cells2.exceptAll(wantCells).count() == 0)
    assert(wantCells.exceptAll(cells2).count() == 0)
    assert(codes2.exceptAll(wantCodes).count() == 0)
    assert(wantCodes.exceptAll(codes2).count() == 0)
  }

  test("MinHash index erasure: pairs/bands/shingles all drop the victim," +
      " a ghost re-ingest never pairs, later batches keep folding") {
    import graft.operators.Dedup
    import spark.implicits._
    // a shingle set reconstructs most of a document — the MinHash index
    // is derived personal content and must honor deletion exactly like
    // the tf/ANN/phash tiers; the sharpest witness is the GHOST PROBE:
    // a byte-identical re-ingest of the forgotten text under a fresh id
    // sits at Jaccard 1 of the victim, so any surviving band/shingle row
    // WOULD pair with it
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-mhforget")
    val outBase = java.nio.file.Files.createTempDirectory("graft-mhforget-out")
    val out = outBase.resolve("pairs").toString
    val idx = outBase.resolve("index").toString
    val ckpt = outBase.resolve("ckpt").toString
    val history = docs.filter(col("doc_id") % 10 =!= 9)
    def run(): Unit = {
      val stream = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(dir.toString)
      val query = streaming.EventStream.minhashIngestDedup(
        stream, history, out, idx, checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    docs.filter(col("doc_id") % 10 === 9)
      .coalesce(1).write.mode("append").parquet(dir.toString)
    run()
    val pairs0 = streaming.EventStream.ingestPairsRead(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs0.nonEmpty, "fixture emitted no pairs")
    // victim: a HISTORY endpoint of an emitted pair (seed-table reach);
    // erasure must provably delete that pair
    val victim = pairs0.flatMap(p => Seq(p._1, p._2))
      .find(_ % 10 != 9).getOrElse(fail("no history endpoint in pairs"))
    streaming.EventStream.forgetDocsFromMinhashIndex(spark, idx, out,
      Seq(victim).toDF("doc_id"))
    val pairs1 = streaming.EventStream.ingestPairsRead(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs1.length < pairs0.length, "erasure deleted no pairs")
    assert(!pairs1.exists(p => p._1 == victim || p._2 == victim),
      "a pair naming the forgotten document survived erasure")
    // erasure expires the older (forgotten-rows) generations immediately
    for (t <- Seq(s"$idx/shingles", s"$idx/bands", out))
      assert(committedGens(t) == Seq("r0_0"),
        s"$t kept an older generation: ${committedGens(t).mkString(",")}")
    // ghost probe THROUGH THE STREAM: run 2 ingests the victim's exact
    // text under a fresh id — it must not pair with the victim's ghost
    // (its bands/shingles are gone), and the stream keeps operating
    // against the rewritten tables
    docs.filter(col("doc_id") === victim)
      .select(lit(1000001L).alias("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .coalesce(1).write.mode("append").parquet(dir.toString)
    run()
    val pairs2 = streaming.EventStream.ingestPairsRead(spark, out)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(!pairs2.exists(p => p._1 == victim || p._2 == victim),
      "the ghost re-ingest paired with the forgotten document")
    // the erased+extended shingle table equals the surviving-docs
    // tokenization: history minus the victim, the folded batch, and the
    // run-2 clone
    val wantDocs = docs.filter(col("doc_id") =!= victim)
      .unionByName(docs.filter(col("doc_id") === victim)
        .select(lit(1000001L).alias("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars")))
    val gotSh = streaming.EventStream.ingestShinglesRead(spark, idx)
      .select(col("doc_id"), explode(col("sh")).alias("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val wantSh = Dedup.shingleDocs(wantDocs)
      .select(col("doc_id"), explode(col("sh")).alias("s"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(gotSh == wantSh,
      "erased index diverged from the surviving-docs shingle rebuild")
  }

  test("positions-index erasure serves the surviving-docs phrase ranking;" +
      " plain compaction keeps a grace snapshot") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val isBatch = col("doc_id") % 10 === 9
    val indexDir = java.nio.file.Files.createTempDirectory("graft-posforget").toString
    streaming.EventStream.posIndexSeed(spark, indexDir, docs.filter(!isBatch))
    streaming.EventStream.posIndexFoldBatch(spark, indexDir,
      docs.filter(isBatch), 0L)
    val phrases = TextAnalysis.PhraseQueries.toDF("query_id", "p_text")
    def serve() = TextAnalysis.phraseTopDocsFromPositions(
        streaming.EventStream.posIndexRead(spark, indexDir), phrases)
      .collect().map(_.toSeq).toSeq
    assert(serve() == q("phrase_top_docs").collect().map(_.toSeq).toSeq,
      "stored-positions serving diverged from the session phrase query")
    // PLAIN compaction keeps the generations it folded as a grace
    // snapshot — an in-flight reader that resolved before the commit can
    // still materialize against them (the expire-snapshots-later
    // discipline); erasure below must NOT
    streaming.EventStream.compactPosIndex(spark, indexDir)
    val afterCompact = committedGens(s"$indexDir/pos")
    assert(afterCompact == Seq("a0", "r0_0", "seed"),
      s"plain compaction did not keep the grace snapshot: ${afterCompact.mkString(",")}")
    assert(serve() == q("phrase_top_docs").collect().map(_.toSeq).toSeq)
    // erasure: forgotten docs leave the stored positions (verbatim
    // document content) and serving equals the surviving-docs ranking —
    // with NO grace snapshot left behind
    val isForgotten = col("doc_id") % 10 === 3
    streaming.EventStream.forgetDocsFromPosIndex(spark, indexDir,
      docs.filter(isForgotten).select(col("doc_id")))
    val tp = streaming.EventStream.posIndexRead(spark, indexDir)
    assert(tp.filter(col("doc_id") % 10 === 3).count() == 0,
      "forgotten docs still present in the stored positions index")
    val afterErase = committedGens(s"$indexDir/pos")
    assert(afterErase == Seq("r1_0"),
      s"erasure left older (forgotten-rows) generations: ${afterErase.mkString(",")}")
    val want = TextAnalysis.phraseTopDocsOf(docs.filter(!isForgotten), phrases)
      .collect().map(_.toSeq).toSeq
    assert(serve() == want && want.nonEmpty,
      "post-erasure phrase serving diverged from the surviving-docs rebuild")
  }

  test("ANN erasure composes with the maintenance stream: forgotten vectors" +
      " stay out of serving while later batches keep folding in") {
    import graft.operators.Similarity
    // the forgetKeys-composition discipline carried to the embeddings
    // tier: erasure between two stream runs must wipe the victims from
    // the stored index AND leave the stream fully operational — run 2's
    // batch folds into the erased (rewritten) tables and serves
    val cents = Similarity.maintainedCentroids(spark, sf)
    val cb = Similarity.maintainedCodebooks(spark, sf)
    val history = Similarity.maintainedHistory(spark, sf)
    val batch = Similarity.maintainedBatch(spark, sf)
    val historyCells = Similarity.assignCellsTo(history, cents)
    val historyCodes = Similarity.pqEncodeWith(history, cb)
    val vecDir = java.nio.file.Files.createTempDirectory("graft-annforgets")
    val indexDir = java.nio.file.Files.createTempDirectory("graft-annforgets-idx").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-annforgets-ck").toString
    def run(): Unit = {
      val stream = spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", "1").parquet(vecDir.toString)
      val query = streaming.EventStream.annIndexMaintenanceStream(
        stream, historyCells, historyCodes, cents, cb, indexDir,
        checkpointDir = Some(ckpt))
      try query.processAllAvailable() finally query.stop()
    }
    // batch ids are all ===9 mod 10, so the two stream runs split on
    // mod 20 (9, 29, ... vs 19, 39, ...)
    batch.filter(col("vec_id") % 20 === 9).coalesce(1)
      .write.mode("append").parquet(vecDir.toString)
    run()
    // victims: two history vectors plus one vector run 1 already folded
    // (erasure must reach the per-batch appends, not only the seed)
    val hv = history.filter(col("vec_id") >= 10).select(col("vec_id"))
      .orderBy("vec_id").limit(2).collect().map(_.getLong(0)).toSeq
    val bv = batch.filter(col("vec_id") % 20 === 9 && col("vec_id") >= 10)
      .select(col("vec_id")).orderBy("vec_id").limit(1)
      .collect().map(_.getLong(0)).toSeq
    val victims = hv ++ bv
    assert(victims.size == 3)
    import spark.implicits._
    streaming.EventStream.forgetVectorsFromAnnIndex(spark, indexDir,
      victims.toDF("vec_id"))
    // run 2 folds the remaining batch half into the ERASED index
    batch.filter(col("vec_id") % 20 === 19).coalesce(1)
      .write.mode("append").parquet(vecDir.toString)
    run()
    val cells = streaming.EventStream.annIndexCellsRead(spark, indexDir)
    val codes = streaming.EventStream.annIndexCodesRead(spark, indexDir)
    val vSet = victims.map(Long.box)
    assert(cells.filter(col("vec_id").isin(vSet: _*)).count() == 0,
      "forgotten vectors re-surfaced in the cell table after a later fold")
    assert(codes.filter(col("vec_id").isin(vSet: _*)).count() == 0,
      "forgotten vectors re-surfaced in the code table after a later fold")
    // the surviving index is row-identical to the frozen-parameter
    // rebuild over (history + batch) minus the victims
    val wantCells = Similarity.maintainedCells(spark, sf)
      .filter(!col("vec_id").isin(vSet: _*))
    assert(cells.exceptAll(wantCells).count() == 0)
    assert(wantCells.exceptAll(cells).count() == 0)
    // and serving through the erased-then-extended index never returns a
    // victim
    val served = Similarity.ivfpqServeTop5(spark, sf, cells, codes, cb)
    assert(served.count() > 0)
    assert(served.filter(col("neighbor_id").isin(vSet: _*)).count() == 0,
      "a forgotten vector was served as a neighbor after later ingestion")
  }

  test("a versioned read of a missing or unseeded state dir fails naming" +
      " the dir; a zero-row seed reads as empty") {
    import graft.operators.TextAnalysis
    val base = java.nio.file.Files.createTempDirectory("graft-unseeded")
    val missing = base.resolve("no-such-state").toString
    val empty = java.nio.file.Files.createTempDirectory(base, "empty").toString
    for (dir <- Seq(missing, empty);
         read <- Seq[String => org.apache.spark.sql.DataFrame](
           EventStream.totalsVersionedRead(spark, _),
           EventStream.termStatsVersionedRead(spark, _))) {
      val e = intercept[IllegalArgumentException](read(dir))
      assert(e.getMessage.contains(dir) &&
        e.getMessage.contains("no committed versioned state"), e.getMessage)
    }
    // a state seeded with ZERO rows (the dfForgetStored bootstrap) has a
    // committed seed and must read as empty, not fail
    val seededEmpty = java.nio.file.Files.createTempDirectory(base, "seeded").toString
    EventStream.seedVersionedState(
      TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(
        Tables.documents(spark, sf).filter(lit(false)))),
      "term", seededEmpty)
    assert(EventStream.termStatsVersionedRead(spark, seededEmpty).count() == 0)
    assert(EventStream.termStatsVersionedReadAsOf(spark, seededEmpty, -1L).count() == 0)
  }

  test("stateful mapGroupsWithState latest-per-user equals the batch query") {
    val dir = java.nio.file.Files.createTempDirectory("graft-stream2")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      dir.resolve("events.parquet"))
    val stream = EventStream.readEvents(spark, dir.toString)
    val query = EventStream.runToMemory(
      EventStream.statefulLatestPerUser(stream).toDF(), "stateful_smoke", "update")
    try {
      // single input file → single micro-batch → one state row per user
      val streamed = spark.table("stateful_smoke")
        .select(col("user_id"), col("last_event_id"), col("n_events"))
      val batch = q("events_latest_per_user")
        .select(col("user_id"), col("event_id").alias("last_event_id"))
      val counts = Tables.events(spark, sf).groupBy("user_id")
        .agg(count(lit(1)).alias("n_expected"))
      val joined = streamed.join(batch, Seq("user_id", "last_event_id"), "inner")
        .join(counts, "user_id")
      assert(joined.count() == batch.count())
      assert(joined.filter(col("n_events") =!= col("n_expected")).count() == 0)
    } finally query.stop()
  }
}
