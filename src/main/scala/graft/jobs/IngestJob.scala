package graft.jobs

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.{JdbcSource, ParquetSink, Sink}

/** Job 1 rebuild — source → explicit-schema DataFrames → Parquet lake
  * (reference: `/root/reference/code_base/db_to_parquet.py:154-199`).
  *
  * Differences from the reference, on purpose (SURVEY.md §4):
  *  - The JDBC path takes a [[graft.sources.JdbcPartitioning]] so a large
  *    table lands as N parallel range/predicate scans, not one connection.
  *  - Sources are pluggable ([[TableProvider]]): the harness runs the
  *    same job against Parquet fixtures; production runs it against JDBC
  *    with the identical schema/sink wiring.
  *
  * Explicit schemas mirror the reference's `TABLE_SCHEMAS` discipline
  * (`db_to_parquet.py:29-144`): declared, not inferred, so a source
  * catalog change surfaces as an analysis error instead of silent drift.
  */
object IngestJob {

  /** Declared fixture-table schemas (FIXTURES.md §1) — the one star
    * definition, [[graft.Tables.starSchemas]], which job 2 reads through.
    */
  val tableSchemas: Map[String, StructType] = Tables.starSchemas

  /** One table's source — explicit schema applied at the reader. */
  trait TableProvider {
    def read(spark: SparkSession, table: String, schema: StructType): DataFrame
  }

  /** Harness source: fixture parquet with the declared schema enforced. */
  final case class ParquetProvider(sfDir: String) extends TableProvider {
    def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
      spark.read.schema(schema).parquet(Tables.path(sfDir, table))
  }

  /** Production source: partitioned JDBC (reference option surface). */
  final case class JdbcProvider(base: JdbcSource) extends TableProvider {
    def read(spark: SparkSession, table: String, schema: StructType): DataFrame =
      base.copy(table = table, schema = Some(schema)).load(spark)
  }

  /** Ingest every declared table through `provider` into `sinkFor`.
    * The reference's loop (`db_to_parquet.py:194-199`) with the sink
    * abstracted; each write is an independent Spark job, as there.
    */
  def run(spark: SparkSession, provider: TableProvider,
      sinkFor: String => Sink = name => ParquetSink(name)): Unit =
    tableSchemas.foreach { case (table, schema) =>
      sinkFor(table).write(provider.read(spark, table, schema))
    }

  /** Harness entry: fixtures → parquet lake under `outDir`, one
    * `Tables.path(outDir, table)` per table — the layout
    * [[TransformJob.runToParquet]] reads, so `outDir` is job 2's `sfDir`.
    */
  def runFromParquet(spark: SparkSession, sfDir: String, outDir: String): Unit =
    run(spark, ParquetProvider(sfDir), name => ParquetSink(Tables.path(outDir, name)))
}
