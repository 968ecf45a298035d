package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.operators.StarSchema
import graft.sources.{ParquetSink, Sink}

/** Job 2 rebuild — Parquet lake → star schema → schema-ordered sink
  * (reference: `/root/reference/code_base/transform_to_bq.py:94-169`).
  *
  * Six independent writes on one session, exactly the reference's
  * lifecycle; each output is projected to its declared schema before the
  * write (`transform_to_bq.py:85-91` convention via
  * [[graft.sources.Sink.writeWithSchema]]). Declared nullability is
  * documentation of intent, not enforcement — same stance as the
  * reference (SURVEY.md §1).
  *
  * Writes are unsorted, as in the reference: each output is
  * [[StarSchema.marts]], which carries no ORDER BY, so a write is its
  * query's stages plus the file commit — no range-sampling job, no range
  * exchange. The lake is read through [[graft.Tables.load]]'s declared
  * star schemas, so no read runs a footer-inference job. Row order in the
  * written files is unspecified; the registered queries
  * ([[StarSchema.queries]]) add the verification order.
  *
  * The sink is pluggable: ParquetSink for the harness, BigQuerySink (same
  * trait) in a warehouse deployment.
  */
object TransformJob {

  /** Declared output schemas — the `BQ_SCHEMAS` analog
    * (`transform_to_bq.py:28-74`), field order = published column order.
    */
  val outputSchemas: Map[String, StructType] = Map(
    "dim_customer" -> StructType(Seq(
      StructField("customer_key", LongType, nullable = false),
      StructField("customer_name", StringType),
      StructField("market_segment", StringType),
      StructField("nation_name", StringType),
      StructField("account_balance", DoubleType))),
    "dim_product" -> StructType(Seq(
      StructField("product_key", LongType, nullable = false),
      StructField("product_name", StringType),
      StructField("subcategory_name", StringType),
      StructField("category_name", StringType),
      StructField("list_price", DoubleType))),
    "dim_territory" -> StructType(Seq(
      StructField("territory_key", IntegerType, nullable = false),
      StructField("territory_name", StringType))),
    "dim_date" -> StructType(Seq(
      StructField("date", DateType, nullable = false),
      StructField("date_key", IntegerType, nullable = false),
      StructField("year", IntegerType),
      StructField("month", IntegerType),
      StructField("day_of_month", IntegerType),
      StructField("day_of_week", IntegerType))),
    "fact_sales_detail" -> StructType(Seq(
      StructField("order_key", LongType, nullable = false),
      StructField("line_number", IntegerType, nullable = false),
      StructField("product_key", LongType),
      StructField("supplier_key", LongType),
      StructField("customer_key", LongType),
      StructField("date_key", IntegerType),
      StructField("order_quantity", DoubleType),
      StructField("unit_price", DoubleType),
      StructField("discount", DoubleType),
      StructField("line_total", DoubleType))),
    "fact_sales_agg_daily_product" -> StructType(Seq(
      StructField("date_key", IntegerType, nullable = false),
      StructField("product_key", LongType, nullable = false),
      StructField("total_quantity_sold", DoubleType),
      StructField("total_revenue", DoubleType),
      StructField("n_lines", LongType))),
  )

  /** Build all six outputs (lazy, unsorted) — [[StarSchema.marts]], the
    * reference mart contract; the engine-side extras StarSchema also
    * registers (e.g. the incremental-maintenance gate) are not part of it.
    */
  def outputs(spark: SparkSession, sfDir: String): Map[String, DataFrame] =
    StarSchema.marts.map { case (name, fn) => name -> fn(spark, sfDir) }

  /** Run the job: each output written through its declared schema, with
    * an `observe`d row count riding the SAME pass — the write audit a
    * 100 TB pipeline needs without paying a second scan per table
    * (a `.count()` after the write would re-run each plan). Returns the
    * per-output row counts.
    */
  def run(spark: SparkSession, sfDir: String,
      sinkFor: String => Sink): Map[String, Long] =
    outputs(spark, sfDir).map { case (name, df) =>
      val audit = org.apache.spark.sql.Observation(s"graft_audit_$name")
      sinkFor(name).writeWithSchema(
        df.observe(audit, org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).alias("rows")),
        outputSchemas(name))
      name -> audit.get("rows").asInstanceOf[Long]
    }

  /** Harness entry: star schema as a parquet mart under `outDir`. */
  def runToParquet(spark: SparkSession, sfDir: String,
      outDir: String): Map[String, Long] =
    run(spark, sfDir, name => ParquetSink(s"$outDir/$name"))
}
