package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.types.StructType

import graft.io.Writes

/** Sink abstraction isolating storage specifics from query logic — the
  * rebuild of the reference's two write paths:
  *  - Parquet overwrite (`db_to_parquet.py:166`) → [[ParquetSink]]
  *  - BigQuery indirect write via a staging bucket
  *    (`transform_to_bq.py:87-91`) → [[BigQuerySink]] (configuration
  *    surface only; the connector jar is environment-provided)
  * plus the schema-ordered projection convention of
  * `transform_to_bq.py:85-86` ([[Sink.writeWithSchema]]).
  */
trait Sink {
  def write(df: DataFrame): Unit

  /** Reference convention: reorder/subset columns to a declared output
    * schema before writing (`final_df = df.select([col(f.name) ...])`).
    * Catalyst prunes the upstream scan through this projection. Keeps no
    * row order of its own: the files hold `df`'s rows in the order its
    * tasks produce them, so an unsorted frame (the star mart outputs)
    * lands unsorted; a reader that needs an order sorts on read.
    */
  def writeWithSchema(df: DataFrame, schema: StructType): Unit = {
    import org.apache.spark.sql.functions.col
    write(df.select(schema.fieldNames.map(col).toIndexedSeq: _*))
  }
}

/** Parquet directory sink. At scale: set `partitionByCols` to the
  * partition-pruning keys consumers filter on, and `maxRecordsPerFile` to
  * bound file sizes; writes are task-parallel, one file per task per
  * output partition.
  */
final case class ParquetSink(
    path: String,
    mode: SaveMode = SaveMode.Overwrite,
    partitionByCols: Seq[String] = Nil,
    maxRecordsPerFile: Option[Long] = None) extends Sink {
  def write(df: DataFrame): Unit = {
    var w = Writes.of(df).mode(mode)
    if (partitionByCols.nonEmpty) w = w.partitionBy(partitionByCols: _*)
    maxRecordsPerFile.foreach(n => w = w.option("maxRecordsPerFile", n.toString))
    w.parquet(path)
  }
}

/** CSV sink (header on) — round-trip-tested with [[ParquetSink]]. */
final case class CsvSink(path: String, mode: SaveMode = SaveMode.Overwrite)
  extends Sink {
  def write(df: DataFrame): Unit =
    Writes.of(df).mode(mode).option("header", "true").csv(path)
}

/** JSON-lines sink. */
final case class JsonSink(path: String, mode: SaveMode = SaveMode.Overwrite)
  extends Sink {
  def write(df: DataFrame): Unit = Writes.of(df).mode(mode).json(path)
}

/** ORC sink — the second columnar format the Spark distribution carries
  * natively; same pushdown/pruning behavior as Parquet at the scan.
  */
final case class OrcSink(path: String, mode: SaveMode = SaveMode.Overwrite)
  extends Sink {
  def write(df: DataFrame): Unit = Writes.of(df).mode(mode).orc(path)
}

/** Bucketed managed-table sink: pre-shuffles data into `buckets` files
  * per partition keyed by `bucketCols` (optionally sorted within each
  * bucket), so equi-joins and aggregations on the bucket key skip their
  * shuffle entirely — the 100 TB answer to a fact⋈fact join that would
  * otherwise move both tables every query. Requires a metastore-backed
  * `saveAsTable` (bucketing metadata lives in the catalog, not the
  * files).
  */
final case class BucketedTableSink(
    table: String,
    buckets: Int,
    bucketCols: Seq[String],
    sortCols: Seq[String] = Nil,
    mode: SaveMode = SaveMode.Overwrite) extends Sink {
  def write(df: DataFrame): Unit = {
    var w = Writes.of(df).mode(mode)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty) w = w.sortBy(sortCols.head, sortCols.tail: _*)
    w.saveAsTable(table)
  }
}

/** BigQuery indirect-write sink — the reference's exact option surface
  * (`transform_to_bq.py:87-91`): format "bigquery", target table,
  * temporary GCS staging bucket, overwrite mode. Requires the
  * spark-bigquery connector on the classpath at runtime; in this offline
  * harness it exists as configuration only (validated by shape, not by a
  * live write), keeping query logic portable between local Parquet and
  * warehouse deployments.
  */
final case class BigQuerySink(
    table: String,
    temporaryGcsBucket: String,
    mode: SaveMode = SaveMode.Overwrite) extends Sink {

  def writerOptions: Map[String, String] =
    Map("table" -> table, "temporaryGcsBucket" -> temporaryGcsBucket)

  def write(df: DataFrame): Unit =
    df.write.format("bigquery").options(writerOptions).mode(mode).save()
}
