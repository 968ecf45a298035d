package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("WARN")
    // Untimed warm-up at the BENCH scale factor itself, then a full Spark
    // cache reset. Round-6 evidence: warming at a sibling SF left loop 1
    // ~1.9× loop 2 (raw totals 81.6 s vs 42.8 s), because loop 1 still
    // paid the bench-SF-specific one-time compilation: AQE and broadcast
    // decisions differ by input size, so sf0.1 plans generate codegen
    // classes the sibling-SF warm-up never compiled, and Janino + C2 pay
    // for ~100 queries' worth of them inside the first timed loop. (OS
    // page cache is NOT the cause: the whole sf0.1 dir is ~17 MB — a
    // sub-second read.) Warming on the bench data absorbs exactly those
    // costs; the cache reset after it (clearCache + CacheLifecycle
    // release, identical to the between-loops reset) means BOTH timed
    // loops then rebuild every session-cached intermediate from scratch —
    // the loops measure the same steady-state work a long-lived session
    // does, which is the quantity the artifact claims. Measured effect
    // (see BENCH_NOTES.md): loop1/loop2 drop from 1.9× to ≤1.23×, and
    // back-to-back separate-JVM headlines agree within 4%.
    // Materialize EVERY column through the built-in noop sink, not
    // count(): under count() Catalyst prunes all computed columns and
    // eliminates the final sort, so a narrow map-only query (language-ID,
    // fingerprints, PII redaction) was being timed as a bare row count —
    // parquet footer metadata, microseconds — while its actual per-row
    // work went unmeasured. Discovered in round 9 when session-persisting
    // text_langid_ngram forced full materialization and its bench entry
    // jumped 0.3 s → 3.7 s: the 3.7 s was always the query's true cost.
    // The noop write executes the complete physical plan (all columns,
    // all sorts) and discards rows — the standard Spark benchmarking
    // sink. bench_schema 4 marks the change: schema-4 totals measure
    // strictly MORE work than schema-3 totals and must not be compared
    // across the boundary without BENCH_NOTES.md's per-query bridge.
    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    SparkEntry.queries.valuesIterator.foreach(fn =>
      try materialize(fn(spark, sfDir))
      catch { case scala.util.control.NonFatal(_) => })
    CacheLifecycle.unpersistAll()
    spark.catalog.clearCache()
    // Two timed loops. Rationale: the recorded round-5 total (264 s) was
    // 7× the idle-machine number (36 s, same binary) — the bench window
    // shares the host with other driver work, and a contention burst
    // landing on one loop otherwise corrupts the artifact unrecoverably.
    // Caches are reset between loops, so loop 2 rebuilds the
    // session-cached intermediates exactly like loop 1.
    // A failing query must not masquerade as a fast timing: round 13's
    // uncapped BOM walk threw RECURSION_ROW_LIMIT_EXCEEDED inside the
    // loop and its ~1.9 s failure time read as a normal entry for a full
    // bench run before BenchOrder surfaced it. Failures still count
    // toward the loop total (the loop did spend that time) but are named
    // in the artifact so a red query can never hide in a green-looking
    // number. NonFatal only: an OutOfMemoryError or other fatal error
    // must abort the run — a "timing" produced by a dying JVM is not a
    // measurement, and swallowing the error would record it as one.
    // (The optional "failed" field under bench_schema 4 is documented in
    // BENCH_NOTES.md — absent on a clean run, present naming the red
    // queries otherwise.)
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    def timedLoop(): Map[String, Double] = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { materialize(fn(spark, sfDir)) }
      catch { case scala.util.control.NonFatal(t) =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${t.getClass.getSimpleName}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    val loop1 = timedLoop()
    CacheLifecycle.unpersistAll()
    spark.catalog.clearCache()
    val loop2 = timedLoop()
    // Artifact semantics (bench_schema 4): "value" is the BEST MEASURED
    // LOOP TOTAL — a number one loop actually achieved end-to-end, never a
    // per-query composite. The per-query-min sum (a useful noise-floor
    // estimate no single run achieved) is reported separately as
    // "min_total"; raw loop totals stay visible so noise is inspectable.
    val results = loop1.map { case (name, t1) => name -> math.min(t1, loop2(name)) }
    val minTotal = if (results.nonEmpty) results.values.sum else 0.0
    val loop1Total = loop1.values.sum
    val loop2Total = loop2.values.sum
    val total = math.min(loop1Total, loop2Total)
    // Locale-pinned formatting: the default-locale `f` interpolator can emit a
    // comma decimal separator, which would corrupt the JSON line.
    def num(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def entry(k: String, v: Double): String = "\"" + k + "\":" + num(v)
    // The harness keeps only the last ~2000 characters of stdout and parses
    // the JSON line out of that tail. With ~100 registered queries the full
    // per-query map no longer fits, so the printed line carries the slowest
    // queries only, up to a fixed character budget; the complete maps go to
    // bench_full.json beside the repo for inspection.
    val sortedDesc = results.toSeq.sortBy(-_._2)
    val failedJson =
      if (failed.isEmpty) ""
      else s""","failed":[${failed.map("\"" + _ + "\"").mkString(",")}]"""
    val header = s""""metric":"total","value":${num(total)},"unit":"sec","bench_schema":4,""" +
      s""""min_total":${num(minTotal)},"n_queries":${results.size},""" +
      s""""loop_totals":[${num(loop1Total)},${num(loop2Total)}]$failedJson"""
    val fullJson = {
      def qmap(m: Map[String, Double]): String =
        sortedDesc.map { case (k, _) => entry(k, m(k)) }.mkString("{", ",", "}")
      s"""{$header,"queries":${qmap(results)},"loop1":${qmap(loop1)},"loop2":${qmap(loop2)},"sf":"$sfDir"}"""
    }
    try {
      val w = new java.io.PrintWriter("bench_full.json")
      try w.println(fullJson) finally w.close()
    } catch { case scala.util.control.NonFatal(_) => () }
    val budget = 1400 // chars for the queries map; keeps the whole line well under the 2000-char tail
    // stop at the FIRST entry that no longer fits, so the printed map is a
    // true slowest-prefix — a greedy fill would skip a slow long-named
    // query yet keep faster short-named ones after it
    val kept = scala.collection.mutable.ListBuffer.empty[String]
    var used = 0
    var full = false
    sortedDesc.foreach { case (k, v) =>
      val e = entry(k, v)
      if (!full && used + e.length + 1 <= budget) { kept += e; used += e.length + 1 }
      else full = true
    }
    val qs = kept.mkString("{", ",", "}")
    println(s"""{$header,"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
