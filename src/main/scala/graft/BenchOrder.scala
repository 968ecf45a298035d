package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: replicate the Bench measurement loop exactly (bench-SF
  * warm-up + cache reset, then a timed loop in registry iteration order)
  * but print per-query seconds in RUN order, to separate per-query cost
  * from run-position cost (JIT, GC, cache rebuilds landing on early
  * queries). Not part of the driver contract.
  */
object BenchOrder {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("ERROR")
    // optional args: restrict the timed loop to the named queries (the
    // warm-up below still covers the full registry, so isolation timings
    // run over warm code and cold caches exactly like a full loop).
    // Unknown names fail LOUDLY — a silent filter would time an empty or
    // partial selection and read as a misleadingly fast run — and BEFORE
    // the warm-up, so a typo costs nothing instead of a multi-minute loop
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    if (unknown.nonEmpty) {
      System.err.println(
        s"unknown queries: ${unknown.mkString(", ")} — " +
          s"valid names:\n  ${SparkEntry.queries.keys.toSeq.sorted.mkString("\n  ")}")
      spark.stop()
      sys.exit(2)
    }
    // warm-up + reset mirror Bench v3: warm at the BENCH SF itself (AQE
    // and broadcast plans are input-size-specific, so sibling-SF warm-up
    // leaves the first timed loop paying bench-SF codegen), then release
    // every session-cached intermediate so the timed loop rebuilds them
    SparkEntry.queries.valuesIterator.foreach(fn =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save() catch { case _: Throwable => })
    CacheLifecycle.unpersistAll()
    spark.catalog.clearCache()
    // with explicit args, run in ARG order (shared session-persisted
    // stages are paid by whichever query runs first, so marginal-cost
    // questions — "what does X cost once its inputs are warm?" — need
    // caller-controlled sequencing); the no-arg loop keeps registry
    // iteration order to mirror Bench exactly
    val selected: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      if (args.isEmpty) SparkEntry.queries.toSeq
      else args.toSeq.map(n => n -> SparkEntry.queries(n))
    var i = 0
    val t00 = System.nanoTime()
    selected.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      // a failed query must not print a normal-looking timing
      val status =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); "" }
        catch { case t: Throwable => s"  FAILED: ${t.getClass.getSimpleName}" }
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"[$i%02d] $name%-35s ${dt}%7.3f s$status")
      i += 1
    }
    println(f"TOTAL ${(System.nanoTime() - t00) / 1e9}%.3f s")
    spark.stop()
  }
}
