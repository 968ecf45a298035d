package graft

import org.apache.spark.sql.types.StructType

/** Schema-drift guard for the declared star reads. `Tables.load` reads
  * the seven star tables with `Tables.starSchemas` and no footer
  * inference; a declared read null-fills a column the file lacks and
  * raises nothing, so every star fixture footer is checked against its
  * declared schema here: names, order and types (nullability ignored —
  * file reads come back nullable). JobsSpec's ingest test makes the same
  * check on a lake written by `IngestJob`.
  */
class TablesSchemaSpec extends SparkSpec {
  import TablesSchemaSpec.shape

  test("the declared star schemas cover exactly the star tables") {
    assert(Tables.starSchemas.keySet == Tables.star.toSet)
  }

  // the fixture scales sit side by side with the smoke fixture `sf`
  private val fixtures = new java.io.File(sf).getParent

  for (scale <- Seq("sf0.001", "sf0.01", "sf0.1"))
    test(s"$scale star footers match the declared schemas") {
      Tables.star.foreach { table =>
        val inferred = spark.read.parquet(Tables.path(s"$fixtures/$scale", table)).schema
        assert(shape(inferred) == shape(Tables.starSchemas(table)),
          s"$scale/$table: footer schema drifted from Tables.starSchemas")
      }
    }
}

object TablesSchemaSpec {

  /** A schema's columns as (name, type) in order, nullability dropped. */
  def shape(s: StructType): Seq[(String, String)] =
    s.fields.toSeq.map(f => f.name -> f.dataType.simpleString)
}
