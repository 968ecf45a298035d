package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** Table catalog over the harness fixture directory.
  *
  * Analog of the reference's table-dict loader
  * (`code_base/transform_to_bq.py:77-83`): lazy Parquet scans, data does
  * not move until an action fires. Column pruning and predicate pushdown
  * reach the scan because nothing here forces materialization.
  *
  * Read schemas: declared for the seven star tables ([[starSchemas]], the
  * reference's `TABLE_SCHEMAS` discipline), so a star read runs no
  * footer-inference job; `events` is footer-sniffed
  * ([[eventsSchemaFor]]); the corpus tables (`documents`, `embeddings`)
  * are inferred from footers.
  *
  * Scale note: at 100 TB each `load` is a partitioned multi-file scan; the
  * single-`.parquet`-file fixture layout is just the harness shape. Nothing
  * in this object assumes single-file or single-partition input.
  */
object Tables {
  /** TPC-H-ish star schema tables. */
  val star: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")

  /** LLM-pipeline tier tables. */
  val northStar: Seq[String] = Seq("events", "documents", "embeddings")

  val all: Seq[String] = star ++ northStar

  /** Declared star-table schemas (FIXTURES.md §1), field order = file
    * column order. The one definition both jobs use: job 1 enforces it at
    * ingest ([[graft.jobs.IngestJob.tableSchemas]]), job 2 and every star
    * query read the lake through it in [[load]]. Declared nullability is
    * intent, not enforcement: file reads come back nullable.
    */
  val starSchemas: Map[String, StructType] = Map(
    "region" -> StructType(Seq(
      StructField("r_regionkey", IntegerType, nullable = false),
      StructField("r_name", StringType))),
    "nation" -> StructType(Seq(
      StructField("n_nationkey", IntegerType, nullable = false),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType))),
    "customer" -> StructType(Seq(
      StructField("c_custkey", LongType, nullable = false),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType))),
    "supplier" -> StructType(Seq(
      StructField("s_suppkey", LongType, nullable = false),
      StructField("s_name", StringType),
      StructField("s_nationkey", IntegerType),
      StructField("s_acctbal", DoubleType))),
    "part" -> StructType(Seq(
      StructField("p_partkey", LongType, nullable = false),
      StructField("p_name", StringType),
      StructField("p_brand", StringType),
      StructField("p_type", StringType),
      StructField("p_size", IntegerType),
      StructField("p_retailprice", DoubleType))),
    "orders" -> StructType(Seq(
      StructField("o_orderkey", LongType, nullable = false),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampNTZType),
      StructField("o_orderpriority", StringType))),
    "lineitem" -> StructType(Seq(
      StructField("l_orderkey", LongType, nullable = false),
      StructField("l_partkey", LongType),
      StructField("l_suppkey", LongType),
      StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType),
      StructField("l_extendedprice", DoubleType),
      StructField("l_discount", DoubleType),
      StructField("l_tax", DoubleType),
      StructField("l_returnflag", StringType),
      StructField("l_linestatus", StringType),
      StructField("l_shipdate", TimestampNTZType))),
  )

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  /** Lazy scan of one table: star tables through their declared schema
    * (no inference job; a footer that drifts from it is caught by
    * `TablesSchemaSpec`, not here — a declared read null-fills a missing
    * column), any other table with its schema inferred from the footer.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    starSchemas.get(name) match {
      case Some(schema) => spark.read.schema(schema).parquet(path(sfDir, name))
      case None         => spark.read.parquet(path(sfDir, name))
    }

  /** Load + spread across the cluster for CPU-heavy narrow pipelines —
    * CONDITIONALLY.
    *
    * The fixture tables are single parquet files, so a plain scan yields
    * ONE input partition and a compute-bound stage (shingling, hashing,
    * vector math) runs on one core — measured 3.5s single-threaded for
    * work that takes 0.2s spread. The round-robin repartition is a tiny
    * shuffle (the rows themselves), bought back many times over by the
    * parallel stage.
    *
    * The repartition only fires when the SCAN ITSELF is narrower than
    * the cluster: an unconditional `repartition` is a full shuffle of
    * whatever it reads — at 100 TB that is a corpus-sized exchange
    * inserted in front of every narrow pipeline, which a multi-file
    * input never needed (the scan already yields ≥ parallelism
    * splits). The partition probe reads the file index, not the data.
    */
  def loadSpread(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = load(spark, sfDir, name)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  def region(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame       = load(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame     = load(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame   = load(spark, sfDir, "lineitem")
  /** Fallback physical schema of `events.parquet` for fixture generations
    * whose `ts` is INT64 TIMESTAMP(NANOS) — Spark's Parquet reader rejects
    * nanos at schema inference (no nanos timestamp type), so that
    * generation is read with `ts` as a plain long and converted via
    * [[eventsTsMicrosExpr]]. Newer fixture generations write
    * TIMESTAMP(MICROS) which inference handles natively; [[eventsSchemaFor]]
    * sniffs the footer and picks the right shape. Shared by the batch
    * reader below and the streaming reader
    * (`graft.streaming.EventStream`), so the contract lives in exactly
    * one place.
    */
  val eventsPhysicalSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** Nanos-long `ts` → TimestampType(micros), flooring like DuckDB's
    * TIMESTAMP_NS→TIMESTAMP cast does (−0.5µs → −1µs; a bare `div`
    * truncates toward zero and would disagree for pre-epoch instants).
    * Integral `div` keeps the arithmetic exact — a double division would
    * lose precision above 2^53 nanos (~1970+104 days).
    */
  val eventsTsMicrosExpr: String =
    "timestamp_micros((ts - pmod(ts, 1000)) div 1000)"

  /** Footer-sniffed read schema for an events parquet path. The fixture's
    * `ts` physical encoding has varied across driver generations (INT64
    * TIMESTAMP(NANOS) vs TIMESTAMP(MICROS, isAdjustedToUTC=false)); a
    * hard-coded schema silently mis-scales one of them (a micros value
    * pushed through the nanos `div 1000` lands in 1970), so the footer is
    * authoritative. Only SUCCESSFUL inference is cached (one footer read
    * per (path, JVM) on the timestamp generations); the nanos fallback is
    * returned uncached and the catch is narrowed to `AnalysisException`
    * (the class both the nanos "Illegal Parquet type" rejection and the
    * empty-dir "unable to infer" failure raise). Caching the fallback on
    * ANY exception was a trap: a micros-generation directory first
    * sniffed while empty — or during a transient IO error — would be
    * pinned to the nanos `div 1000` arm for the JVM lifetime, recreating
    * the 1000× mis-scale this sniff exists to prevent; now such a sniff
    * merely retries on the next access, and genuine IO errors propagate
    * instead of masquerading as the nanos generation.
    */
  private val eventsSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  def eventsSchemaFor(spark: SparkSession, p: String): StructType = {
    val hit = eventsSchemaCache.get(p)
    if (hit != null) hit
    else
      try {
        // request TimestampType where the footer says TIMESTAMP_NTZ: the
        // reader converts in place (wall-clock-exact under the UTC
        // session every graft entry point pins) and `ts` stays a PLAIN
        // ATTRIBUTE — an NTZ read + cast would wrap it in an expression
        // parquet cannot skip on, losing time-range filter pushdown
        // (asserted in ScalePostureSpec)
        val inferred = spark.read.parquet(p).schema
        val sniffed = StructType(inferred.map {
          case f if f.name == "ts" && f.dataType == TimestampNTZType =>
            f.copy(dataType = TimestampType)
          case f => f
        })
        eventsSchemaCache.putIfAbsent(p, sniffed)
        sniffed
      } catch {
        case _: org.apache.spark.sql.AnalysisException => eventsPhysicalSchema
      }
  }

  /** Normalize the sniffed `ts` to TimestampType(micros) wall-clock:
    * long = nanos generation (floor-div to micros); timestamp
    * generations arrive as TimestampType straight from the reader
    * ([[eventsSchemaFor]] rewrites NTZ in the read schema) and pass
    * through untouched.
    */
  private def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr(eventsTsMicrosExpr))
      case _        => df
    }

  def eventsFrom(spark: SparkSession, p: String): DataFrame =
    normalizeEventsTs(spark.read.schema(eventsSchemaFor(spark, p)).parquet(p))

  /** Streaming twin of [[eventsFrom]] — file stream sources need an
    * explicit schema, so the footer sniff runs over the directory via the
    * batch reader first, then the same `ts` normalization applies.
    */
  def eventsStreamFrom(spark: SparkSession, dir: String): DataFrame =
    normalizeEventsTs(
      spark.readStream.schema(eventsSchemaFor(spark, dir)).parquet(dir))

  def events(spark: SparkSession, sfDir: String): DataFrame =
    eventsFrom(spark, path(sfDir, "events"))

  /** [[loadSpread]]'s contract on the schema-sniffed events reader — for
    * the per-row JSON/variant parse queries whose map work would
    * otherwise run at the single-file fixture scan's width. Same
    * conditional: a multi-split scan (the 100 TB case) spreads nothing.
    */
  def eventsSpread(spark: SparkSession, sfDir: String): DataFrame = {
    val df = events(spark, sfDir)
    val target = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }
  def documents(spark: SparkSession, sfDir: String): DataFrame  = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")
}
