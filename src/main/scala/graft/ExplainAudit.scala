package graft
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    // GRAFT_EXPLAIN_NOBROADCAST=1 dumps the scale-posture plan: with
    // auto-broadcast off, exchange-reuse claims (ReusedExchange on
    // self-join branches) are visible instead of being masked by a
    // fixture-size broadcast that would never fire at 100 TB.
    val spark = GraftSession.build("ERROR",
      (if (sys.env.get("GRAFT_EXPLAIN_NOBROADCAST").contains("1"))
        Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1") else Nil): _*)
    val sf = "/root/testdata/sf0.001"
    for (name <- args) {
      println(s"########## $name ##########")
      // full plan, not a prefix: the optimization-round plan artifacts
      // (plans/rNN/<query>_{before,after}.txt) need every operator's
      // detail section, and a 4000-char cut dropped exactly the
      // PushedFilters/ReadSchema lines claims are checked against
      println(SparkEntry.queries(name)(spark, sf).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
