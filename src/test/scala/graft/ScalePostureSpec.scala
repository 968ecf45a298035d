package graft

import org.apache.spark.sql.functions._

/** Plan-shape assertions for the knobs a 100 TB deployment leans on:
  * join-strategy hints and range-clustered output layout. These pin
  * behavior that silent Catalyst changes could regress.
  */
class ScalePostureSpec extends SparkSpec {

  test("join strategy hints select the hinted physical join") {
    val l = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf)
    val merge = l.join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
    assert(merge.queryExecution.executedPlan.toString.contains("SortMergeJoin"))
    val shuffleHash = l.join(o.hint("shuffle_hash"), l("l_orderkey") === o("o_orderkey"))
    assert(shuffleHash.queryExecution.executedPlan.toString.contains("ShuffledHashJoin"))
    val bcast = l.join(broadcast(o), l("l_orderkey") === o("o_orderkey"))
    assert(bcast.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("time-range filters push down to the events parquet scan (any ts encoding)") {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    Tables.eventsSchemaFor(spark, s"$sf/events.parquet")("ts").dataType match {
      case LongType =>
        // nanos generation: the converted `ts` wraps the physical long in
        // an expression parquet cannot skip on — a 100 TB time-slice scan
        // must filter the RAW nanos first (same instant × 1000)
        val cutoffNs = 1704067200L * 1000000000L // 2024-01-01T00:00Z
        val raw = spark.read.schema(Tables.eventsPhysicalSchema)
          .parquet(s"$sf/events.parquet")
          .filter(col("ts") >= cutoffNs)
        val scan = raw.queryExecution.executedPlan.toString.linesIterator
          .find(_.contains("PushedFilters"))
        assert(scan.isDefined && scan.get.contains("GreaterThanOrEqual(ts"),
          scan.getOrElse("no scan line"))
        val viaConverted = Tables.events(spark, sf)
          .filter(unix_micros(col("ts")) >= cutoffNs / 1000).count()
        assert(raw.count() == viaConverted)
      case _ =>
        // timestamp generation: the loader requests TimestampType in the
        // READ SCHEMA (not NTZ-read-then-cast), so `ts` stays a plain
        // attribute and the range predicate reaches the scan directly.
        // The cutoff derives from the data (median ts) so a future
        // fixture regeneration shifting the event epoch cannot turn the
        // strictly-between assertion below into 0 or all rows
        val cutoff = Tables.events(spark, sf)
          .select(percentile_approx(col("ts").cast("double"), lit(0.5), lit(100)))
          .head().getDouble(0)
        val filtered = Tables.events(spark, sf)
          .filter(col("ts") >= timestamp_seconds(lit(cutoff)))
        val scan = filtered.queryExecution.executedPlan.toString.linesIterator
          .find(_.contains("PushedFilters"))
        assert(scan.isDefined && scan.get.contains("GreaterThanOrEqual(ts"),
          scan.getOrElse("no scan line"))
        // the slice is real: strictly between empty and the full table
        val n = filtered.count()
        assert(n > 0 && n < Tables.events(spark, sf).count())
    }
  }

  test("loadSpread repartitions narrow scans only — wide scans stay shuffle-free") {
    // single-file fixture: one input split < parallelism → spread fires
    val narrow = Tables.loadSpread(spark, sf, "documents")
    assert(narrow.rdd.getNumPartitions ==
      spark.sparkContext.defaultParallelism)
    // multi-file input already at/above parallelism: no exchange at all —
    // an unconditional repartition here would be a corpus-sized shuffle
    // in front of every narrow pipeline at 100 TB
    val dir = java.nio.file.Files.createTempDirectory("graft-spread").toString
    Tables.documents(spark, sf)
      .repartition(spark.sparkContext.defaultParallelism * 2)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val wide = Tables.loadSpread(spark, dir, "documents")
    assert(!wide.queryExecution.executedPlan.toString.contains("Exchange"),
      "loadSpread shuffled an already-wide scan")
  }

  test("AQE splits a planted skewed shuffle join (OptimizeSkewedJoin fires)") {
    // the automatic first line of defense functions/Skew.saltedJoin
    // documents: plant a power-law key (one key owns half the probe
    // side), force a shuffle join with tiny partition/skew thresholds,
    // and assert AQE's skew rule marks the join. Salting remains for the
    // regimes AQE can't fix (broadcast-ineligible build side arriving
    // skewed at a non-join operator, pre-AQE engines).
    import spark.implicits._
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val previous = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // one key owns half the probe side: even ids collapse onto k=7
      val probe = spark.range(0, 40000).select(
        when(col("id") % 2 === 0, lit(7L)).otherwise(col("id")).alias("k"),
        concat(lit("payload-payload-payload-"), col("id")).alias("p"))
      val build = spark.range(0, 200).select(col("id").alias("k"),
        concat(lit("dim-"), col("id")).alias("d"))
      val joined = probe.join(build.hint("merge"), Seq("k"))
      // collect() — not count(), which builds its OWN QueryExecution and
      // would leave this one unexecuted (isFinalPlan=false, no AQE rules)
      // 20 000 hot-key rows + odd ids 1,3,…,199 = 100 singleton matches
      assert(joined.collect().length == 20100)
      // AQE finalizes the plan at the action; the skew rule marks the
      // join and replaces the hot partition with split readers
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not fire:\n${finalPlan.take(1200)}")
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("AQE marks the PageRank per-round join on a planted hub graph (skew posture)") {
    // the r15-verdict #6 ask: PageRank's rank-propagation join shuffles
    // on the node key and co-purchase graphs are power-law — plant a
    // hub whose src key owns most of the edge side and assert AQE's
    // OptimizeSkewedJoin marks the FACTORED production round
    // (Relational.pagerankRound — the body the registered query's loop
    // runs), so the per-round join self-heals with split readers and no
    // saltedJoin routing is needed
    import spark.implicits._
    import graft.operators.{Dedup, Relational}
    val confs = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val previous = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      // hub-and-spoke: node 7 touches every spoke, so after the
      // undirected symmetrization src=7 owns half the edge rows — one
      // hot shuffle partition against ~uniform singleton spokes
      val nSpokes = 30000L
      val pairs = spark.range(10, 10 + nSpokes)
        .select(lit(7L).alias("part_a"), col("id").alias("part_b"))
      val edges = Dedup.undirectedEdges(pairs, "part_a", "part_b")
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).alias("outdeg"))
      // the production loop CHECKPOINTS the RESPREAD degree-annotated
      // edge frame (degreeAnnotatedEdges + materializeGeneration) — the
      // round join reads a leaf and pays a fresh src-keyed shuffle whose
      // map outputs are round-robin mixed. Both halves are load-bearing:
      // without the leaf the join reuses the annotation join's
      // partitioning (no shuffle stage for the skew rule to split), and
      // without the respread the hub's edges sit in ONE map output and
      // the rule declines — the split is map-chunk-granular (this spec
      // caught exactly that before degreeAnnotatedEdges gained its
      // repartition)
      val ewd = Relational.degreeAnnotatedEdges(edges, deg)
        .localCheckpoint(true)
      // the rank frame is ALSO a materialized generation in production
      // (each round folds from a checkpointed leaf) — an un-materialized
      // aggregate lineage here would sit between the shuffle stage and
      // the join and take the plan outside the skew rule's
      // sort-over-stage pattern
      val rank0 = deg.select(col("src").alias("node"),
        lit(1000000000L).alias("rank_q")).localCheckpoint(true)
      // no join hint: with broadcast disabled (as at 100 TB rank-side
      // sizes) the planner picks SMJ on its own — the spec pins the plan
      // the production loop actually produces, not a hint-forced one
      val round = Relational.pagerankRound(ewd, rank0,
        teleport = 150000000L)
      // collect(), not count() — count plans its own QueryExecution and
      // leaves this one without its final AQE plan
      assert(round.collect().length == nSpokes + 1)
      val finalPlan = round.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"OptimizeSkewedJoin did not mark the PageRank round join:\n${finalPlan.take(1500)}")
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("Catalyst injects its own runtime bloom filter when thresholds allow") {
    // the automatic twin of functions/BloomPrune: with the application-side
    // size gate lowered, InjectRuntimeFilter plants a might_contain probe
    // from the selective build side into the large probe side
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val previous = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val l = Tables.lineitem(spark, sf)
      val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 450000.0)
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"no runtime bloom filter injected:\n${optimized.take(800)}")
      // and the filtered plan returns the same rows as the plain join
      assert(joined.count() > 0)
    } finally previous.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("temperature mix ranks in prefix shards, never one window per language") {
    // a Zipfian corpus puts ~half the rows in one language: any Window
    // whose partition key is lang ALONE is a single-task sort at 100 TB.
    // The corpus-sized rank must run partitioned by (lang, shard); the
    // only lang-alone aggregation allowed is over the tiny counts side.
    val plan = SparkEntry.queries("docs_temperature_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty, s"no window node found:\n${plan.take(800)}")
    val rankWindows = windowLines.filter(_.contains("row_number"))
    assert(rankWindows.nonEmpty, "row_number window missing from the plan")
    rankWindows.foreach { l =>
      assert(l.contains("shard"),
        s"corpus rank window not sharded (skew-weak at scale): $l")
    }
  }

  test("token-budget mix and equi-depth rank in prefix shards, like the temperature mix") {
    // same skew rule as the temperature-mix pin: any corpus-sized window
    // must be partitioned by the shard key; lang-alone or unpartitioned
    // windows are allowed only over the tiny offsets/counts aggregates
    val mixPlan = SparkEntry.queries("docs_token_budget_mix")(spark, sf)
      .queryExecution.executedPlan.toString
    // the corpus-sized prefix sum is the one ordered by the md5 sort key
    val mixCorpus = mixPlan.linesIterator
      .filter(l => l.contains("Window ") && l.contains("md5_key")).toSeq
    assert(mixCorpus.nonEmpty, s"no md5-ordered window:\n${mixPlan.take(800)}")
    mixCorpus.foreach { l =>
      assert(l.contains("shard"), s"corpus prefix sum not sharded: $l")
    }
    val eqPlan = SparkEntry.queries("order_price_equidepth")(spark, sf)
      .queryExecution.executedPlan.toString
    // the corpus-sized window is the row_number rank; the only
    // unpartitioned window allowed is the per-shard offsets running sum
    val eqRanks = eqPlan.linesIterator
      .filter(l => l.contains("Window ") && l.contains("row_number")).toSeq
    assert(eqRanks.nonEmpty, s"no rank window:\n${eqPlan.take(800)}")
    eqRanks.foreach { l =>
      assert(l.contains("shard"), s"fact rank window not sharded: $l")
    }
  }

  test("curation pipeline reads the shingle caches, never re-shingles the corpus") {
    // the pipeline embeds dedup + both decontamination branches; the
    // 3-gram and 13-gram shingle tables are session-persisted, so the
    // executed plan must source them from InMemoryTableScan — a plan
    // that re-derives shingles per branch multiplies the most expensive
    // narrow stage by the number of consumers at 100 TB
    val plan = SparkEntry.queries("docs_curation_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    val scans = plan.linesIterator.count(_.contains("InMemoryTableScan"))
    assert(scans >= 2,
      s"expected >=2 cached shingle scans in the pipeline plan, found $scans")
  }

  test("dynamic partition pruning fires on a partitioned fact scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .partitionBy("l_returnflag").parquet(s"$dir/lineitem")
    val fact = spark.read.parquet(s"$dir/lineitem")
    // the dim must be file-backed: a filtered LocalRelation folds to a
    // plain literal table during optimization and no longer counts as a
    // "selective predicate" for the DPP heuristic
    Seq(("R", "returned"), ("X", "unused")).toDF("flag", "note")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim").filter(col("note") === "returned")
    val joined = fact.join(dim, fact("l_returnflag") === dim("flag"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"no DPP subquery on the partitioned scan:\n${plan.take(800)}")
    // semantics: identical to the statically-filtered scan
    assert(joined.count() ==
      fact.filter(col("l_returnflag") === "R").count())
  }

  test("z-order clustering bounds every file in BOTH dimensions") {
    import graft.functions.ZOrder
    // 1) the Catalyst expression matches the JVM reference bit for bit
    val probe = spark.range(0, 1000, 7).select(
      col("id").alias("a"), (col("id") * 2654435761L % 4294967296L).alias("b"))
    val got = probe.select(col("a"), col("b"),
      ZOrder.morton32(col("a"), col("b")).alias("m")).collect()
    got.foreach { r =>
      assert(r.getLong(2) == ZOrder.morton32Ref(r.getLong(0), r.getLong(1)),
        s"morton(${r.getLong(0)}, ${r.getLong(1)})")
    }
    // 2) layout: orders clustered by morton(custkey, epoch-day) give each
    // file a bounding box covering a FRACTION of the (custkey × day)
    // plane — single-key clustering can never shrink the second dimension
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val base = Tables.orders(spark, sf).select(
      col("o_custkey"),
      datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
        .cast("long").alias("day"))
    ZOrder.cluster(base, col("o_custkey"), col("day"), 8)
      .write.mode("overwrite").parquet(s"$dir/orders")
    val global = base.agg(
      max(col("o_custkey")) - min(col("o_custkey")),
      max(col("day")) - min(col("day"))).head()
    val (gc, gd) = (global.getLong(0).toDouble, global.getLong(1).toDouble)
    val files = new java.io.File(s"$dir/orders").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 4)
    val areas = files.map { f =>
      val r = spark.read.parquet(f).agg(
        max(col("o_custkey")) - min(col("o_custkey")),
        max(col("day")) - min(col("day"))).head()
      (r.getLong(0) / gc) * (r.getLong(1) / gd)
    }
    // mean bounding-box area well under the full plane (files at z-curve
    // quadrant seams may individually straddle; the average cannot)
    val meanArea = areas.sum / areas.length
    assert(meanArea < 0.5, f"mean z-order bounding-box area $meanArea%.2f")
    // and the row set survives the re-layout
    assert(spark.read.parquet(s"$dir/orders").count() == base.count())
  }

  test("z-order layout actually prunes the scan: second-dimension predicate reads a fraction of the rows") {
    import graft.functions.ZOrder
    // two independent uniform dims; linear layout clusters on x only, so a
    // y-band predicate can never skip a row group there — the z layout can
    val n = 1 << 14
    val base = spark.range(n).select(
      (col("id") % 1024).alias("x"),
      ((col("id") * 2654435761L) % 1024).alias("y"))
    val dir = java.nio.file.Files.createTempDirectory("graft-zprune").toString
    base.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$dir/linear")
    ZOrder.cluster(base, col("x"), col("y"), 16)
      .write.mode("overwrite").parquet(s"$dir/zorder")

    // scan-level rows read (post row-group pruning, pre per-row filter):
    // the scan node's numOutputRows; AQE off so the executed plan holds
    // the FileSourceScanExec directly
    def rowsRead(path: String, pred: org.apache.spark.sql.Column): (Long, Long) = {
      val df = spark.read.parquet(path).filter(pred)
      val result = df.collect().length.toLong // executes THIS plan, filling its metrics
      val scan = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }
      assert(scan.nonEmpty, "expected a FileSourceScanExec leaf")
      (scan.map(_.metrics("numOutputRows").value).sum, result)
    }
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val yBand = col("y").between(100, 160)
      val (linRead, linRows) = rowsRead(s"$dir/linear", yBand)
      val (zRead, zRows) = rowsRead(s"$dir/zorder", yBand)
      // same answer either way
      assert(linRows == zRows && zRows > 0)
      // linear layout cannot skip anything on y (every file spans all y)
      assert(linRead == n.toLong, s"linear read $linRead of $n")
      // the z layout's actual scan skips most row groups on the SECOND dim
      assert(zRead < linRead / 2,
        s"z layout read $zRead rows vs linear $linRead — pruning payoff missing")
      // and a conjunctive band on both dims prunes at least as hard
      val (zBoth, _) = rowsRead(s"$dir/zorder",
        col("x").between(100, 160) && yBand)
      assert(zBoth <= zRead)
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("zorder_pruned_scan: registered query pushes both predicates and skips files") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the registered query (runs the cluster+write side effect and the
      // verified projection)
      val rows = graft.operators.Layout.zorderPrunedScan(spark, sf).collect()
      assert(rows.nonEmpty, "the band predicate must select rows at sf0.001")
      // measure pruning on the sort-free band scan: the global sort's
      // range-sampling pass re-executes the scan and double-counts its
      // metrics, so the query's own plan can't be measured directly
      val dir = graft.operators.Layout.layoutDir(sf)
      val scan = graft.operators.Layout.prunedRead(spark, dir)
      val n = scan.collect().length
      assert(n == rows.length, "sort-free scan must select the same rows")
      val scans = scan.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, "expected a FileSourceScanExec over the layout")
      val pushed = scans.map(_.metadata("PushedFilters")).mkString
      for (c <- Seq("o_custkey", "o_day"))
        assert(pushed.contains(c), s"predicate on $c not pushed: $pushed")
      // row-group-level payoff (vanilla Spark prunes parquet row groups
      // via pushed filters, not the file listing): the scan must emit
      // well under the full table — every row group whose bounding box
      // misses the band is skipped before the per-row filter
      val scanRows = scans.map(_.metrics("numOutputRows").value).sum
      val total = Tables.orders(spark, sf).count()
      assert(scanRows < total / 2,
        s"scan read $scanRows of $total rows — row-group pruning missing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("scd2_snapshot_pruned_scan: snapshot predicate skips most year partitions") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      // the registered query (runs the partitioned write side effect)
      val rows = graft.operators.WindowAnalytics
        .scd2SnapshotPrunedScan(spark, sf).collect()
      assert(rows.nonEmpty, "the snapshot must select rows at sf0.001")
      // measure pruning on the sort-free snapshot scan (the global
      // sort's sampling pass would double-count scan metrics)
      val dir = graft.operators.WindowAnalytics.scd2LayoutDir(sf)
      val scan = graft.operators.WindowAnalytics.prunedSnapshotRead(spark, dir)
      assert(scan.collect().length == rows.length,
        "sort-free scan must select the same rows")
      val scans = scan.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }
      assert(scans.nonEmpty, "expected a FileSourceScanExec over the layout")
      // the derived partition-key predicate must land in PartitionFilters
      // (catalog-level pruning), not survive only as a data filter
      val pf = scans.map(_.metadata("PartitionFilters")).mkString
      assert(pf.contains("valid_until_year"),
        s"partition predicate not recognized: $pf")
      // partition-level payoff: versions closed before the snapshot year
      // never reach the scan — files read < half the layout's files
      def parquetFiles(d: java.io.File): Long =
        if (d.isDirectory) d.listFiles().map(parquetFiles).sum
        else if (d.getName.endsWith(".parquet")) 1L else 0L
      val totalFiles = parquetFiles(new java.io.File(dir))
      val readFiles = scans.map(_.metrics("numFiles").value).sum
      assert(readFiles > 0 && totalFiles > 2)
      assert(readFiles * 2 < totalFiles,
        s"scan read $readFiles of $totalFiles files — partition pruning missing")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("z-order cluster degenerate inputs: empty frame and numFiles=1") {
    import graft.functions.ZOrder
    val base = spark.range(100).select(
      (col("id") % 10).alias("x"), (col("id") / 10).alias("y"))
    // empty input: no min/max to probe — must not throw, must stay empty
    val empty = ZOrder.cluster(base.filter(col("x") < -1), col("x"), col("y"), 8)
    assert(empty.count() == 0)
    assert(empty.columns.toSeq == Seq("x", "y"), "helper columns must not leak")
    // numFiles=1: one partition, sorted by the code, schema unchanged
    val one = ZOrder.cluster(base, col("x"), col("y"), 1)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.count() == 100)
    assert(one.columns.toSeq == Seq("x", "y"))
    // row set survives every path
    assert(ZOrder.cluster(base, col("x"), col("y"), 4).count() == 100)
    // null dimensions: null-coded rows route to the first shard and are
    // kept — lossless, deterministic, not an error
    val nb = spark.range(100).select(
      (col("id") % 10).alias("x"),
      when(col("id") % 7 === 0, lit(null).cast("long"))
        .otherwise(col("id") / 10).alias("y"))
    assert(ZOrder.cluster(nb, col("x"), col("y"), 4).count() == 100)
  }

  test("repartitionByRange + sortWithinPartitions writes range-clustered files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-range").toString
    Tables.orders(spark, sf)
      .repartitionByRange(4, col("o_orderdate"))
      .sortWithinPartitions(col("o_orderdate"))
      .write.mode("overwrite").parquet(s"$dir/orders")
    // each file covers a disjoint date range → downstream date filters
    // can skip whole files via parquet row-group stats
    val files = new java.io.File(s"$dir/orders").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    assert(files.length > 1)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min(unix_micros(col("o_orderdate").cast("timestamp"))),
          max(unix_micros(col("o_orderdate").cast("timestamp")))).head
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    for (Array(a, b) <- ranges.sliding(2))
      assert(a._2 <= b._1, s"overlapping file ranges: $a vs $b")
    // and the full row set survives the re-layout
    assert(spark.read.parquet(s"$dir/orders").count() ==
      Tables.orders(spark, sf).count())
  }

  test("bucketed_colocated_join: join and rollup run shuffle-free over the layout") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the sort-merge path: at fixture scale AQE would broadcast
    // the join, hiding the distribution property the layout exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // own table suffix — see the bucketed-merge test: the DEFAULT
      // tables back the registered query's durable-memoized frame
      graft.operators.Layout.writeBucketedTables(spark, sf, suffix = "_spec")
      val df = graft.operators.Layout.bucketedJoinRead(spark, sf, suffix = "_spec")
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        s"expected a SortMergeJoin over the bucketed scans:\n$plan")
      // the layout's whole claim: scans arrive pre-hashed on the join
      // key, and the orderkey-led aggregate reuses that distribution —
      // ZERO exchanges anywhere in join + rollup
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
      assert(exchanges.isEmpty,
        s"bucketed join plan must be shuffle-free, found:\n$plan")
      // and the shuffle-free plan computes the same answer as the
      // shuffled join over the raw tables
      val raw = Tables.orders(spark, sf)
        .join(Tables.lineitem(spark, sf),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderpriority"))
        .agg(count(lit(1)).alias("n_lines"),
          graft.functions.Deterministic.exactSum(
            col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
            .alias("gross"))
        .filter(pmod(col("o_orderkey"), lit(17)) === 0)
      assert(df.orderBy("o_orderkey").collect().toSeq ==
        raw.orderBy("o_orderkey").collect().toSeq)
      assert(df.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("fact_totals_bucketed_merge: the nightly state+delta merge is exchange-free") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force the sort-merge path: at fixture scale AQE would broadcast
    // the outer join, hiding the co-partitioning the layout exists for
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // own table suffix: rewriting the DEFAULT tables here would strand
      // the registered query's durable-memoized frame on a stale file
      // listing (it resolves its part files at build) — the exact hazard
      // the suffix parameter exists to prevent
      graft.operators.Layout.writeTotalsStateTables(spark, sf, suffix = "_spec")
      val df = graft.operators.Layout.bucketedMergeRead(spark, sf, suffix = "_spec")
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case j: SortMergeJoinExec => j }.nonEmpty,
        s"expected a SortMergeJoin over the bucketed partial-state scans:\n$plan")
      // the maintenance claim: state and delta partials arrive pre-hashed
      // on product_key, so the merge join shuffles NOTHING — history is
      // neither rescanned nor reshuffled at merge time
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e }
      assert(exchanges.isEmpty,
        s"bucketed merge plan must be shuffle-free, found:\n$plan")
      // and the exchange-free merge equals the from-scratch rebuild
      // (incremental ≡ rebuild — the same gate fact the oracle pins)
      val rebuild = q("fact_product_totals_incremental")
      assert(df.orderBy("product_key").collect().toSeq ==
        rebuild.collect().toSeq)
      assert(df.count() > 0)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("versioned state reads: as-of scans only the serving generations;" +
      " superseded bucket versions never enter the plan") {
    import graft.operators.StarSchema
    import org.apache.spark.sql.execution.FileSourceScanExec
    val detail = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("o_orderdate"))
    val cut = "1996-07-01"
    val stateDir = java.nio.file.Files.createTempDirectory("graft-vposture").toString
    streaming.EventStream.seedVersionedState(
      StarSchema.totalsPartialsOfDetail(detail.filter(col("o_orderdate") < cut)),
      "product_key", stateDir)
    // batch 0: the full post-cut window (touches every occupied bucket);
    // batch 1: rows of ONE key-derived bucket only — so the live read
    // must stitch g1 (one bucket) with g0 (the rest) and read NOTHING
    // from the seed or from g0's superseded target-bucket files
    val buckets = streaming.EventStream.StateBuckets
    val bucketOf = pmod(hash(col("l_partkey")), lit(buckets))
    val TargetBucket = 3
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir,
      detail.filter(col("o_orderdate") >= cut), 0L)
    streaming.EventStream.totalsFoldBatchVersioned(spark, stateDir,
      detail.filter(col("o_orderdate") >= cut)
        .filter(bucketOf === TargetBucket), 1L)
    // the SEED window resolves to seed files only — no generation dir in
    // the plan's file set (inputFiles is partition-filter-blind, which
    // is fine here: the claim is about WHICH DIRS are scanned at all)
    val seedFiles = streaming.EventStream
      .totalsVersionedReadAsOf(spark, stateDir, -1L).inputFiles
    assert(seedFiles.nonEmpty && seedFiles.forall(_.contains("/state/seed/")),
      s"as-of(-1) escaped the seed: ${seedFiles.filterNot(_.contains("/state/seed/")).take(3).mkString(",")}")
    // asOf(0) resolves to g0 only (every bucket superseded the seed)
    val g0Files = streaming.EventStream
      .totalsVersionedReadAsOf(spark, stateDir, 0L).inputFiles
    assert(g0Files.nonEmpty && g0Files.forall(_.contains("/state/g0/")),
      "as-of(0) read outside g0 — a superseded or future generation leaked")
    // the LIVE read stitches g1's target bucket with g0's others, and
    // its g0 scan carries a bucket partition filter that skips the
    // superseded target-bucket files (metrics, not inputFiles — the
    // FileSourceScanExec numFiles proof, AQE off so metrics land on the
    // executed scans)
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val live = streaming.EventStream.totalsVersionedRead(spark, stateDir)
      assert(live.inputFiles.exists(_.contains("/state/g1/")) &&
        live.inputFiles.exists(_.contains("/state/g0/")) &&
        !live.inputFiles.exists(_.contains("/state/seed/")),
        "live read should stitch g0 + g1 and never touch the seed")
      assert(live.collect().nonEmpty)
      val scans = live.queryExecution.executedPlan.collect {
        case s: FileSourceScanExec => s }
      assert(scans.nonEmpty)
      assert(scans.exists(_.metadata("PartitionFilters").contains("bucket")),
        "per-generation scans lost their bucket partition filter")
      val readFiles = scans.map(_.metrics("numFiles").value).sum
      def filesUnder(dir: String): Long = {
        val p = java.nio.file.Paths.get(dir)
        if (!java.nio.file.Files.exists(p)) 0L
        else java.nio.file.Files.walk(p).filter(f =>
          f.toString.endsWith(".parquet")).count()
      }
      val g0Total = filesUnder(s"$stateDir/state/g0")
      val g1Total = filesUnder(s"$stateDir/state/g1")
      assert(readFiles < g0Total + g1Total,
        s"live read scanned $readFiles of ${g0Total + g1Total} generation " +
          "files — the superseded target-bucket version was not pruned")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    // and the stitched live read equals the from-scratch rebuild over
    // history + both batch windows (the batches overlap deliberately:
    // the target bucket's g1 version REPLACES its g0 version — serving
    // both would double-count, which this equality would catch)
    val got = StarSchema.finalizeTotals(
        streaming.EventStream.totalsVersionedRead(spark, stateDir))
      .orderBy("product_key").collect().toSeq
    val want = StarSchema.finalizeTotals(StarSchema.totalsPartialsOfDetail(
        detail.filter(col("o_orderdate") < cut)
          .unionAll(detail.filter(col("o_orderdate") >= cut))
          .unionAll(detail.filter(col("o_orderdate") >= cut)
            .filter(bucketOf === TargetBucket))))
      .orderBy("product_key").collect().toSeq
    assert(got == want && want.nonEmpty)
  }

  test("ivfpq re-rank: candidates broadcast by hint, corpus vectors never shuffle") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    // warm the memoized ADC-ranked candidate frame first so the plan
    // below reads the cached index instead of re-planning its build
    graft.operators.Similarity.ivfpqTop5(spark, sf).count()
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // the claim is that the re-rank does NOT depend on the auto-broadcast
    // threshold: the |Q|·20 candidate key set carries an explicit hint.
    // AQE off for inspection only — AdaptiveSparkPlanExec is opaque to
    // plan.collect (the same pattern as the bucketed-layout tests)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = graft.operators.Similarity.ivfpqRerankTop5(spark, sf)
        .queryExecution.executedPlan
      assert(plan.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
        s"re-rank joins must broadcast (candidates + queries):\n${plan.toString.take(900)}")
      assert(plan.collect { case j: SortMergeJoinExec => j }.isEmpty,
        s"re-rank must never sort-merge-shuffle the vector corpus:\n${plan.toString.take(900)}")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("fact_totals_bucketed_merge: degenerate CDC nights (empty state, empty delta)" +
      " still merge to the rebuild") {
    // day-one bootstrap: cutover before all orders → state table is EMPTY,
    // everything arrives as the first batch; and the no-op night: cutover
    // past all orders → delta EMPTY. The full-outer merge's coalesce
    // arithmetic must hand back the exact rebuild in both extremes.
    val rebuild = q("fact_product_totals_incremental").collect().toSeq
    for ((cut, suffix) <- Seq(("1900-01-01", "_bootstrap"), ("2999-01-01", "_noop"))) {
      graft.operators.Layout.writeTotalsStateTables(spark, sf, cut, suffix)
      val merged = graft.operators.Layout.bucketedMergeRead(spark, sf, suffix)
        .orderBy("product_key").collect().toSeq
      assert(merged == rebuild, s"cut=$cut merge != rebuild")
    }
  }

  test("column pruning reaches the documents scan in the r12 narrow queries") {
    // a 100 TB corpus scan that drags lang/source/n_chars (or the text
    // payload where only counts are needed) through a 2-column operator
    // is reading terabytes it never uses — pin the pruned ReadSchema
    def readSchema(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString.linesIterator
        .find(_.contains("ReadSchema"))
        .getOrElse(fail("no ReadSchema line in plan"))
    val chunk = readSchema(q("docs_chunk_dedup"))
    assert(chunk.contains("doc_id") && chunk.contains("text"))
    assert(!chunk.contains("n_chars") && !chunk.contains("lang"),
      s"chunk-dedup scan reads unused columns: $chunk")
    val profile = readSchema(q("docs_length_profile"))
    assert(profile.contains("source") && profile.contains("text"))
    assert(!profile.contains("n_chars") && !profile.contains("doc_id"),
      s"length-profile scan reads unused columns: $profile")
  }

  test("AMS sketch shuffles only the bounded counter grid, never the keys") {
    // every Exchange in the plan must sit above an aggregate keyed by the
    // 8192-bucket counter id (or the estimator union) — a shuffle keyed
    // by l_partkey would mean the sketch degenerated into exact groupBy
    // ... except the exact twin, which IS a l_partkey groupBy by design;
    // assert the sketch legs' shuffles carry (b) / () keys only by
    // checking partial aggregation is present on every leg
    val plan = q("lineitem_selfjoin_size_ams")
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_sum") || plan.contains("Partial"),
      s"AMS sketch lost map-side partial aggregation:\n${plan.take(600)}")
  }

  test("bm25: query terms broadcast-probe the tf index, independent of the threshold") {
    // the claim: the query-term probe does not depend on the auto
    // broadcast threshold — the tiny query set carries an explicit hint
    // (at 100 TB the tf index is corpus-sized; the query set is not)
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = q("bm25_top_docs").queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"query-term probe lost its broadcast:\n${plan.take(800)}")
      assert(!plan.contains("CartesianProduct"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("pagerank: round lineage is truncated — the final plan reads a checkpointed leaf") {
    import spark.implicits._
    // without the materializeGeneration rotation each round's plan would
    // contain its predecessor's (join + agg) twice over — 5 rounds of
    // compounding; the pin is that the returned frame's analyzed plan is
    // a handful of nodes over LogicalRDD leaves (the CC lesson)
    val pairs = ((1 to 6).map(i => (100L, i.toLong)) :+ (200L, 201L))
      .toDF("part_a", "part_b")
    val ranked = graft.operators.Relational.pagerankOf(pairs)
    val analyzed = ranked.queryExecution.analyzed
    val leaves = analyzed.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
        _.getClass.getSimpleName.contains("LogicalRDD")),
      s"expected checkpointed LogicalRDD leaves, got: ${leaves.map(_.getClass.getSimpleName)}")
    val nodes = analyzed.collect { case p => p }.size
    assert(nodes < 20, s"pagerank plan grew with rounds: $nodes nodes")
  }

  // a batch whose keys all hash into ONE bucket writes a generation
  // holding ONLY that bucket, rewrites no seed file, and every other
  // bucket keeps serving the seed's rows; `want` is the from-scratch
  // state over seed + batch
  private def assertFoldRewritesOnlyTarget(input: String, keyCol: String,
      target: Int, seed: String => Unit, fold: String => Unit,
      read: String => org.apache.spark.sql.DataFrame,
      want: org.apache.spark.sql.DataFrame): Unit = {
    val buckets = streaming.EventStream.StateBuckets
    def md5(p: java.nio.file.Path): String =
      java.util.HexFormat.of.formatHex(
        java.security.MessageDigest.getInstance("MD5")
          .digest(java.nio.file.Files.readAllBytes(p)))
    def snapshot(stateDir: String): Map[String, (Long, String)] = {
      val base = java.nio.file.Paths.get(s"$stateDir/state")
      val out = scala.collection.mutable.Map.empty[String, (Long, String)]
      java.nio.file.Files.walk(base).forEach { p =>
        val rel = base.relativize(p).toString
        if (rel.contains("bucket=") && p.toFile.isFile && !rel.endsWith("_SUCCESS"))
          out(rel) = (java.nio.file.Files.size(p), md5(p))
      }
      out.toMap
    }
    def rows(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val stateDir = java.nio.file.Files.createTempDirectory("graft-foldprune").toString
    seed(stateDir)
    val before = snapshot(stateDir)
    assert(before.keys.exists(!_.startsWith(s"seed/bucket=$target/")),
      s"$input: seeded state has no untouched-bucket files to compare")
    fold(stateDir)
    val after = snapshot(stateDir)
    // copy-on-write: no seed file was rewritten...
    assert(before.forall { case (rel, sig) => after.get(rel).contains(sig) },
      s"$input: the fold rewrote seed files")
    // ...and the batch's generation holds ONLY the target bucket, so
    // every other bucket resolves to its unchanged seed files
    val genBuckets = after.keys.filter(_.startsWith("g0/"))
      .map(_.split("/")(1)).toSet
    assert(genBuckets == Set(s"bucket=$target"),
      s"$input: generation 0 holds buckets $genBuckets")
    val live = read(stateDir)
    val untouched = pmod(hash(col(keyCol)), lit(buckets)) =!= target
    val seedRows = spark.read.schema(live.schema)
      .parquet(s"$stateDir/state/seed").drop("bucket")
    assert(rows(live.filter(untouched)) == rows(seedRows.filter(untouched)),
      s"$input: buckets outside the batch changed")
    // and the fold landed the batch exactly
    assert(rows(live) == rows(want.select(live.columns.map(col): _*)),
      s"$input: the folded state differs from the rebuild")
  }

  test("bucketed streaming state: a fold rewrites ONLY the buckets the batch touches") {
    import graft.operators.WindowAnalytics
    // LONG key: the SCD2 fold over post-cutover orders of customer keys
    // landing in ONE bucket
    val orders = Tables.orders(spark, sf)
    val cut = "1996-07-01"
    val history0 = WindowAnalytics.priorityIntervalHistoryOf(
      orders.filter(col("o_orderdate") < cut))
    val scd2Schema = streaming.EventStream.scd2VersionedSchema(history0.schema)
    val custBucket = 3
    val custBatch = orders.filter(col("o_orderdate") >= cut)
      .filter(pmod(hash(col("o_custkey")),
        lit(streaming.EventStream.StateBuckets)) === custBucket)
    assert(!custBatch.isEmpty, "fixture has no rows in the target bucket")
    assertFoldRewritesOnlyTarget("long key", "customer_key", custBucket,
      dir => streaming.EventStream.seedVersionedState(history0, "customer_key", dir),
      dir => streaming.EventStream.scd2FoldBatchVersioned(spark, dir,
        scd2Schema, custBatch, 0L),
      dir => streaming.EventStream.versionedRead(spark, dir, scd2Schema),
      WindowAnalytics.priorityIntervalHistoryOf(
        orders.filter(col("o_orderdate") < cut).unionAll(custBatch)))
  }

  test("term-stats fold rewrites only the buckets the batch's terms hash into (string key)") {
    import graft.operators.TextAnalysis
    // STRING key: a one-term batch ("window" three times, one new doc)
    val docs = Tables.documents(spark, sf)
    val terms0 = TextAnalysis.termStatsOf(TextAnalysis.termFreqsOf(docs))
    val termBatch = spark.range(1).select(
      lit(999999L).alias("doc_id"), lit("window window window").alias("text"))
    val termBucket = spark.range(1).select(pmod(hash(lit("window")),
      lit(streaming.EventStream.StateBuckets))).head.getInt(0)
    val window = terms0.filter(col("term") === "window").head()
    assertFoldRewritesOnlyTarget("string key", "term", termBucket,
      dir => streaming.EventStream.seedVersionedState(terms0, "term", dir),
      dir => streaming.EventStream.termStatsFoldBatchVersioned(spark, dir,
        termBatch, 0L),
      dir => streaming.EventStream.termStatsVersionedRead(spark, dir),
      terms0.filter(col("term") =!= "window").unionByName(spark.range(1).select(
        lit("window").alias("term"), lit(window.getLong(1) + 1L).alias("df"),
        lit(window.getLong(2) + 3L).alias("tf_sum"))))
  }

  test("as-of and incremental reads scan ONLY the window's batch subdirs") {
    // time travel / change capture must be a LISTING filter: at 100 TB
    // an as-of read that still enumerates (or worse, scans) the
    // out-of-window subdirs pays the full table's I/O for a snapshot
    // question — pin the scanned file set, not just the row values
    val docs = Tables.documents(spark, sf)
    val ids = docs.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    val (q1, q2) = (ids(ids.length / 4), ids(ids.length / 2))
    val base = java.nio.file.Files.createTempDirectory("graft-asofscan")
    val outDir = base.resolve("out").toString
    val indexDir = base.resolve("index").toString
    streaming.EventStream.chunkIndexSeed(spark, indexDir,
      docs.filter(col("doc_id") <= q1))
    streaming.EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
      docs.filter(col("doc_id") > q1 && col("doc_id") <= q2), 0L)
    streaming.EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
      docs.filter(col("doc_id") > q2), 1L)
    val asof0 = streaming.EventStream.chunkIndexReadAsOf(spark, indexDir, 0L)
    assert(asof0.inputFiles.nonEmpty &&
      asof0.inputFiles.forall(f => !f.contains("/a1/")),
      "as-of batch 0 scanned batch 1's files")
    assert(asof0.inputFiles.exists(_.contains("/seed/")) &&
      asof0.inputFiles.exists(_.contains("/a0/")),
      "as-of batch 0 must scan the seed and a0")
    val chg = streaming.EventStream.chunkIndexChanges(spark, indexDir, 0L, 1L)
    assert(chg.inputFiles.nonEmpty && chg.inputFiles.forall(_.contains("/a1/")),
      "changes(0,1] must scan a1's files and nothing else — " +
        s"got ${chg.inputFiles.mkString(", ")}")
  }

  test("bm25_stored_asof scans ONLY the seed snapshot's files") {
    // the retrieval-tier zero-copy claim as a gate fact: the registered
    // as-of serving must read the seed subdir alone — a plan that also
    // enumerates the batch fold's files would pay tonight's I/O for a
    // yesterday question
    import graft.operators.{Layout, TextAnalysis}
    TextAnalysis.bm25StoredAsOf(spark, sf).collect()
    val indexDir = Layout.tmpPath("graft-tflog", sf)
    val tf = streaming.EventStream.tfIndexReadAsOf(spark, indexDir, -1L)
    assert(tf.inputFiles.nonEmpty &&
      tf.inputFiles.forall(_.contains("/seed/")),
      s"as-of −1 must scan the seed only — got ${tf.inputFiles.take(5).mkString(", ")}")
  }
}
