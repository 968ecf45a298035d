package graft

import org.apache.spark.sql.SparkSession

/** The ONE SparkSession builder of the library's mains (Bench,
  * BenchOrder, Verify, DevProbe, ExplainAudit): `local[N]` with N
  * shuffle partitions, N from `SPARK_GRAFT_CPUS` (default 4), UI off,
  * and the two settings every measurement and gate depends on:
  *  - the UTC session time zone: zorder_pruned_scan clusters on
  *    to_date(o_orderdate)/datediff, which are session-timezone
  *    dependent — on a non-UTC host an unpinned session would cluster
  *    and scan a slightly different band than the one the verify gate
  *    proves lossless;
  *  - a 10,000-entry codegen cache: the static default of 100 thrashes
  *    across the registry's plans, and Janino recompiles the SAME
  *    classes mid-run — measured as multi-second single-threaded stalls
  *    landing on arbitrary queries (bench totals swung 77 s ↔ 182 s).
  * `extra` adds a main's own settings.
  */
object GraftSession {
  def build(logLevel: String, extra: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
    extra.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
