package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Work counters of one span (or of the whole session). */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val inputRecords, inputBytes, outputRecords, outputBytes = new AtomicLong
  val shuffleReadRecords, shuffleReadBytes = new AtomicLong
  val shuffleWriteRecords, shuffleWriteBytes = new AtomicLong
  val spillBytes, peakExecMem = new AtomicLong

  def snapshot: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "run_ms" -> runMs.get, "cpu_ns" -> cpuNs.get, "task_gc_ms" -> gcMs.get,
    "input_records" -> inputRecords.get, "input_bytes" -> inputBytes.get,
    "output_records" -> outputRecords.get, "output_bytes" -> outputBytes.get,
    "shuffle_read_records" -> shuffleReadRecords.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_records" -> shuffleWriteRecords.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get, "peak_exec_mem" -> peakExecMem.get)
}

object Counters {
  /** Counters that must repeat exactly on a rerun of the same input. */
  val exact: Seq[String] = Seq("jobs", "stages", "tasks", "input_records",
    "output_records", "shuffle_read_records", "shuffle_write_records")

  def diff(after: Map[String, Long], before: Map[String, Long]): Map[String, Long] =
    after.map { case (k, v) =>
      k -> (if (k == "peak_exec_mem") v else v - before.getOrElse(k, 0L))
    }
}

/** Totals Spark work for the whole session and, when tracing, per span.
  *
  * A span is named by the benchmark around each call into a layer; the
  * open spans are carried to every job as the `perfbench.spans` local
  * property (`a|b` when `b` is nested in `a`), and a job, its stages and
  * their tasks are credited to every span in that list. Work outside any
  * span (checks, oracle loads) is only in the session totals.
  */
final class Telemetry(spark: SparkSession) extends SparkListener {
  import Telemetry.Prop

  /** Whether spans are recorded; off, `span` only runs its body. */
  @volatile var tracing = false

  val total = new Counters
  private val spans = new ConcurrentHashMap[String, Counters]()
  private val stageSpans = new ConcurrentHashMap[Int, Seq[String]]()
  private val openSpans = scala.collection.mutable.ArrayBuffer.empty[String]
  private val spanWall = new ConcurrentHashMap[String, AtomicLong]()
  private val stageLog = new ConcurrentLinkedQueue[(String, String)]()

  spark.sparkContext.addSparkListener(this)

  private def spansOf(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty(Prop)))
      .filter(_.nonEmpty).map(_.split('|').toSeq).getOrElse(Nil)

  private def counters(span: String): Counters =
    spans.computeIfAbsent(span, _ => new Counters)

  private def credited(ss: Seq[String]): Seq[Counters] =
    total +: ss.map(counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    credited(spansOf(e.properties)).foreach(_.jobs.incrementAndGet())

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val ss = spansOf(e.properties)
    stageSpans.put(e.stageInfo.stageId, ss)
    credited(ss).foreach(_.stages.incrementAndGet())
  }

  /** Each completed stage of a span, as `(span, summary)`, so a counter
    * that does not repeat can be traced to the stage it came from.
    */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = Option(i.taskMetrics)
    def n(f: org.apache.spark.executor.TaskMetrics => Long) = m.map(f).getOrElse(-1L)
    val summary = s"stage ${i.stageId}.${i.attemptNumber()} tasks=${i.numTasks} " +
      s"in=${n(_.inputMetrics.recordsRead)} shuffle_read=${n(_.shuffleReadMetrics.recordsRead)} " +
      s"shuffle_write=${n(_.shuffleWriteMetrics.recordsWritten)} " +
      s"out=${n(_.outputMetrics.recordsWritten)} ${i.name}"
    stageSpans.getOrDefault(i.stageId, Nil).foreach(sp => stageLog.add(sp -> summary))
  }

  /** The stage summaries per span since the last call, in completion order. */
  def takeStageLog(): Map[String, Seq[String]] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val out = Iterator.continually(stageLog.poll()).takeWhile(_ != null).toSeq
    out.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) credited(stageSpans.getOrDefault(e.stageId, Nil)).foreach { c =>
      c.tasks.incrementAndGet()
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputRecords.addAndGet(m.inputMetrics.recordsRead)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.outputRecords.addAndGet(m.outputMetrics.recordsWritten)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      c.shuffleReadRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
      c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWriteRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
    }
  }

  /** Run `body` inside span `name`; without tracing, just run it. */
  def span[T](name: String)(body: => T): T =
    if (!tracing) body
    else {
      val sc = spark.sparkContext
      openSpans += name
      sc.setLocalProperty(Prop, openSpans.mkString("|"))
      val t0 = System.nanoTime()
      try body
      finally {
        spanWall.computeIfAbsent(name, _ => new AtomicLong)
          .addAndGet(System.nanoTime() - t0)
        openSpans.remove(openSpans.length - 1)
        sc.setLocalProperty(Prop,
          if (openSpans.isEmpty) null else openSpans.mkString("|"))
      }
    }

  /** Everything credited so far, per span: counters plus `wall_ns`. */
  def spanSnapshot(): Map[String, Map[String, Long]] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val names = spans.keySet.asScala ++ spanWall.keySet.asScala
    names.map { n =>
      n -> (Option(spans.get(n)).map(_.snapshot).getOrElse(new Counters().snapshot) +
        ("wall_ns" -> Option(spanWall.get(n)).map(_.get).getOrElse(0L)))
    }.toMap
  }

  def totals(): Map[String, Long] = {
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    total.snapshot
  }
}

object Telemetry {
  val Prop = "perfbench.spans"
}

/** JVM-side readings: GC time, the largest heap in use right after a
  * collection, and Spark's whole-stage codegen compile totals.
  */
object Jvm {
  private val peakAfterGc = new AtomicLong

  /** Subscribe to GC notifications once; each records its post-GC heap. */
  lazy val install: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType ==
              com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
              .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peakAfterGc.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ => ()
    }

  /** Reset the post-GC heap peak; returns the peak since the last reset. */
  def takePeakHeapBytes(): Long = peakAfterGc.getAndSet(0L)

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def codegenCompileNanos(): Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  def codegenClasses(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
