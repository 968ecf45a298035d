package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.jobs.{IngestJob, TransformJob}
import graft.operators.StarSchema

class JobsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def multiset(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupMapReduce(identity)(_ => 1)(_ + _)

  /** Job 1 over the sf0.001 fixture: the lake job 2 reads below. */
  private lazy val lake: String = {
    val out = Files.createTempDirectory("graft-lake").toString
    IngestJob.runFromParquet(spark, sf, out)
    out
  }

  /** One job 2 pass over [[lake]] and what it ran: the SQL execution id
    * of every Spark job (none for a schema-inference job) and the
    * executed plan of every write.
    */
  private case class Transform(mart: String, audits: Map[String, Long],
      executionIds: Seq[Option[String]], writes: Seq[SparkPlan])

  private lazy val transform: Transform = {
    val mart = Files.createTempDirectory("graft-mart").toString
    val ids = mutable.Buffer.empty[Option[String]]
    val writes = mutable.Buffer.empty[SparkPlan]
    val jobListener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = ids.synchronized {
        ids += Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
      }
    }
    val planListener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        writes.synchronized { writes += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val in = lake // job 1 runs before the listeners attach
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    val audits =
      try TransformJob.runToParquet(spark, in, mart)
      finally {
        ListenerBusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(jobListener)
        spark.listenerManager.unregister(planListener)
      }
    Transform(mart, audits, ids.toSeq, writes.toSeq)
  }

  test("IngestJob lands every declared table with its declared schema") {
    IngestJob.tableSchemas.foreach { case (table, schema) =>
      val back = spark.read.parquet(Tables.path(lake, table))
      // the footer drift guard of TablesSchemaSpec, on a lake job 1 wrote
      assert(TablesSchemaSpec.shape(back.schema) == TablesSchemaSpec.shape(schema), table)
      assert(back.count() == Tables.load(spark, sf, table).count(), table)
    }
  }

  test("TransformJob writes the six star outputs in declared column order") {
    TransformJob.outputSchemas.foreach { case (name, schema) =>
      val back = spark.read.parquet(s"${transform.mart}/$name")
      assert(back.schema.fieldNames.toSeq == schema.fieldNames.toSeq, name)
      // the files are unsorted: same rows as the registered query over the
      // fixture, as a multiset (values, duplicates and count), in any order
      val want = q(name)
      assert(multiset(back.select(want.columns.toIndexedSeq.map(col): _*)) == multiset(want), name)
      // the observe audit rode the write pass — no re-scan, same count
      assert(transform.audits(name) == back.count(), s"$name audit")
    }
  }

  test("TransformJob runs no inference job and no range sort; the registry keeps its ORDER BY") {
    val ids = transform.executionIds
    val unscoped = ids.count(_.isEmpty)
    assert(ids.nonEmpty)
    assert(unscoped == 0, s"$unscoped of ${ids.size} jobs carry no spark.sql.execution.id")

    assert(transform.writes.size == TransformJob.outputSchemas.size)
    val ranged = transform.writes.flatMap(p => collect(p) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    })
    assert(ranged.isEmpty, s"range exchanges in the mart writes:\n${ranged.mkString("\n")}")

    StarSchema.marts.keys.foreach { name =>
      q(name).queryExecution.optimizedPlan match {
        case s: Sort => assert(s.global, s"$name ends in a local sort")
        case other   => fail(s"$name no longer ends in a global Sort:\n$other")
      }
    }
  }

  test("fact join drops nothing at fixture integrity (all lineitems keep an order)") {
    val out = q("fact_sales_detail").count()
    assert(out == Tables.lineitem(spark, sf).count())
  }
}
