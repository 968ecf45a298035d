package graft

import org.apache.spark.sql.SparkSession

/** Dev tool (not part of the driver contract): materialize the named
  * queries N times through the noop sink, print per-iteration seconds,
  * and dump the FINAL (post-AQE) executed plan — the only place
  * runtime exchange/stage reuse and operator choices (ReusedExchange,
  * ObjectHashAggregate fallback, broadcast rewrites) are visible,
  * where ExplainAudit shows the initial plan only.
  *
  * Usage: runMain graft.DevProbe <iters> <query> [query ...]
  */
object DevProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.build("ERROR")
    val iters = args.head.toInt
    val names = args.tail.toSeq
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    for (name <- names) {
      for (i <- 1 to iters) {
        CacheLifecycle.unpersistAll()
        spark.catalog.clearCache()
        val j0 = jobs.get()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200)
        println(f"[$name iter $i] ${dt}%7.3f s  jobs=${jobs.get() - j0}")
        if (i == iters) {
          println(s"########## $name FINAL PLAN ##########")
          println(df.queryExecution.executedPlan.toString.take(12000))
        }
      }
    }
    spark.stop()
  }
}
