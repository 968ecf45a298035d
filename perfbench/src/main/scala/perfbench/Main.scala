package perfbench

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Long => n.toString
    case n: Int => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** The per-layer metrics, `<module>.<span>.<metric>`, with their units. */
object Layers {
  private val spanMetrics = Seq("wall_s" -> "s", "cpu_s" -> "s", "stages" -> "count",
    "tasks" -> "count", "input_records" -> "count", "shuffle_records" -> "count",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "output_bytes" -> "bytes",
    "cores_busy" -> "cores")
  private val operatorMetrics = Seq("wall_s" -> "s", "cpu_s" -> "s", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "shuffle_records" -> "count",
    "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes", "cores_busy" -> "cores")
  private val tierMetrics = Seq("seed_s" -> "s", "fold_s" -> "s", "fold_jobs" -> "count",
    "fold_bytes" -> "bytes", "fold_files" -> "count", "read_s" -> "s", "forget_s" -> "s")
  val tiers = Seq("tf", "chunk", "minhash")

  val all: Seq[(String, String)] =
    Seq("jobs.ingest", "jobs.transform").flatMap(s => spanMetrics.map { case (m, u) => s"$s.$m" -> u }) ++
      Seq("sources.write.wall_s" -> "s", "sources.write.files" -> "count",
        "sources.write.output_bytes" -> "bytes", "sources.write_amp" -> "ratio") ++
      CorpusCuration.queries.flatMap(q => operatorMetrics.map { case (m, u) => s"operators.$q.$m" -> u }) ++
      Seq("CacheLifecycle.cached_mb" -> "MB", "CacheLifecycle.persisted_rdds" -> "count",
        "CacheLifecycle.unpersist_s" -> "s") ++
      tiers.flatMap(t => tierMetrics.map { case (m, u) => s"streaming.$t.$m" -> u }) ++
      Seq("streaming.tf.compact_s" -> "s", "streaming.fold_p50_s" -> "s", "streaming.fold_p90_s" -> "s",
        "streaming.erase_s" -> "s", "streaming.state_bytes" -> "bytes",
        "streaming.state_files" -> "count", "streaming.write_amp" -> "ratio",
        "spark.cpu_s" -> "s", "spark.gc_s" -> "s", "spark.peak_heap_mb" -> "MB",
        "spark.codegen_compile_ms" -> "ms",
        "spark.codegen_classes" -> "count", "trace.overhead" -> "ratio",
        "trace.counter_repeat_share" -> "share")

  /** One span's value of a metric, from its per-pass counter deltas. */
  def fromSpan(c: Map[String, Long], metric: String): Double = {
    val wall = c.getOrElse("wall_ns", 0L) / 1e9
    metric match {
      case "wall_s" | "seed_s" | "fold_s" | "read_s" | "forget_s" | "compact_s" => wall
      case "cpu_s" => c("cpu_ns") / 1e9
      case "shuffle_records" => c("shuffle_read_records").toDouble
      case "shuffle_bytes" => c("shuffle_read_bytes").toDouble
      case "fold_jobs" => c("jobs").toDouble
      case "fold_bytes" => c("output_bytes").toDouble
      case "cores_busy" => if (wall > 0) c("run_ms") / 1e3 / wall else 0.0
      case m => c(m).toDouble
    }
  }

  /** Span name and metric of a per-layer name measured by a span. */
  def spanOf(name: String): Option[(String, String)] = {
    val i = name.lastIndexOf('.')
    val (prefix, metric) = (name.take(i), name.drop(i + 1))
    prefix.split('.') match {
      case Array("streaming", t, _*) if tiers.contains(t) && metric != "fold_files" =>
        val phase = metric match {
          case "fold_jobs" | "fold_bytes" => "fold"
          case m => m.stripSuffix("_s")
        }
        Some(s"streaming.$t.$phase" -> metric)
      case Array("jobs", _) | Array("operators", _) => Some(prefix -> metric)
      case Array("sources", "write") if metric == "wall_s" => Some(prefix -> metric)
      case Array("CacheLifecycle") if metric == "unpersist_s" =>
        Some("CacheLifecycle.unpersist" -> "wall_s")
      case _ => None
    }
  }
}

final case class PassStats(traced: Boolean, wallS: Double, cpuS: Double, gcS: Double,
    peakHeapMb: Double, liveHeapMb: Double, failures: Seq[String], attempted: Int,
    layer: Map[String, Double], spans: Map[String, Map[String, Long]],
    stages: Map[String, Seq[String]], checkS: Double)

/** One benchmark run in one JVM: session start, a warm-up pass (timed as
  * set-up), oracle preparation, then verified passes back to back until
  * `--seconds` have elapsed and at least two passes ran. With `--trace 1`
  * passes alternate traced and untraced, so the result carries the
  * per-layer numbers and the tracing overhead.
  */
object Main {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seconds = opt.getOrElse("seconds", "0").toDouble
    val trace = opt.get("trace").contains("1")
    val cores = opt.getOrElse("cores", "4")
    Jvm.install
    val (spark, sessionS) = Workload.timed {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.local.dir", s"${opt("work")}/spark-local")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tel = new Telemetry(spark)
    if (workloadName == "train") {
      // one unchecked star_etl pass, so the class-data-sharing archive this
      // JVM writes at exit holds Spark's session, SQL and Parquet classes
      new StarEtl(Ctx(spark, opt("data"), opt("work"), tel, "none")).run(0)
      spark.stop()
      return
    }
    val ctx = Ctx(spark, opt("data"), opt("work"), tel, opt.getOrElse("negative", "none"))
    val workload = Workload(workloadName, ctx)
    var oracleS = 0.0

    def runPass(pass: Int, traced: Boolean, beforeCheck: () => Unit = () => ()): PassStats = {
      tel.tracing = traced
      val spans0 = if (traced) tel.spanSnapshot() else Map.empty[String, Map[String, Long]]
      val before = tel.totals()
      val gc0 = Jvm.gcMillis()
      Jvm.takePeakHeapBytes()
      val run = workload.run(pass)
      val gcS = (Jvm.gcMillis() - gc0) / 1e3
      val work = Counters.diff(tel.totals(), before)
      val spans = if (traced) tel.spanSnapshot().map { case (k, v) =>
        k -> Counters.diff(v, spans0.getOrElse(k, Map.empty))
      } else Map.empty[String, Map[String, Long]]
      val stages = if (traced) tel.takeStageLog() else Map.empty[String, Seq[String]]
      tel.tracing = false
      val peak = Jvm.takePeakHeapBytes() / 1048576.0
      System.gc()
      val live = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
        1048576.0
      beforeCheck()
      val (checks, checkS) = Workload.timed(run.check())
      PassStats(traced, run.wallS, work("cpu_ns") / 1e9, gcS, math.max(peak, live), live,
        checks.flatten, checks.size, run.layer, spans, stages, checkS)
    }

    def codegen() = (Jvm.codegenCompileNanos(), Jvm.codegenClasses())
    val cg0 = codegen()
    var cg1 = cg0
    // the expected results are prepared after the warm-up pass has run
    // (and paid the cold start), and before that pass is checked
    val warm = runPass(0, traced = false, () => {
      cg1 = codegen()
      oracleS = Workload.timed(workload.prepare())._2
    })

    val passes = scala.collection.mutable.ArrayBuffer.empty[PassStats]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // at least two passes (two traced and one untraced with --trace 1);
    // a host fast enough to finish a pass in under half of --seconds runs more
    def enough = if (!trace) passes.size >= 2
      else passes.count(_.traced) >= 2 && passes.exists(!_.traced)
    while (elapsed < seconds || !enough)
      passes += runPass(passes.size + 1, traced = trace && passes.size % 2 == 0)
    val measureS = elapsed

    val measured = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced).toSeq
    val failures = (warm +: passes).flatMap(_.failures)
    val attempted = (warm +: passes).map(_.attempted).sum
    val inputRows = opt("input-rows").toDouble
    val passS = median(measured.map(_.wallS).toSeq)
    val e2e = Map(
      "pass_s" -> passS,
      "rows_per_s" -> inputRows / passS,
      "live_heap_mb" -> median(measured.map(_.liveHeapMb).toSeq))

    // Exact counters per span across traced passes: did each repeat? For a
    // span where one did not, the result keeps each traced pass's stages.
    val spanNames = traced.flatMap(_.spans.keys).distinct
    val repeated: Map[String, Boolean] = spanNames.flatMap { span =>
      Counters.exact.map { c =>
        s"$span.$c" -> (traced.map(_.spans.getOrElse(span, Map.empty).getOrElse(c, 0L)).distinct.size == 1)
      }
    }.toMap
    val unrepeatedStages = spanNames.filter(span => Counters.exact.exists(c => !repeated(s"$span.$c")))
      .map(span => span -> traced.map(_.stages.getOrElse(span, Nil))).toMap
    val perLayer: Map[String, Double] = if (traced.isEmpty) Map.empty else {
      Layers.all.map { case (name, _) =>
        val value = name match {
          case "spark.gc_s" => median(traced.map(_.gcS))
          case "spark.cpu_s" => median(traced.map(_.cpuS))
          case "spark.peak_heap_mb" => median(traced.map(_.peakHeapMb))
          case "spark.codegen_compile_ms" => (cg1._1 - cg0._1) / 1e6
          case "spark.codegen_classes" => (cg1._2 - cg0._2).toDouble
          case "trace.overhead" => median(traced.map(_.wallS)) / passS
          case "trace.counter_repeat_share" =>
            if (repeated.isEmpty) 1.0 else repeated.count(_._2).toDouble / repeated.size
          case n => median(traced.map(p => Layers.spanOf(n) match {
            case Some((span, metric)) => p.spans.get(span).map(Layers.fromSpan(_, metric)).getOrElse(0.0)
            case None => p.layer.getOrElse(n, 0.0)
          }))
        }
        name -> value
      }.toMap
    }

    def passJson(p: PassStats): Map[String, Any] = Map("traced" -> p.traced,
      "wall_s" -> p.wallS, "cpu_s" -> p.cpuS, "gc_s" -> p.gcS, "peak_heap_mb" -> p.peakHeapMb,
      "live_heap_mb" -> p.liveHeapMb,
      "attempted" -> p.attempted, "check_s" -> p.checkS, "failures" -> p.failures,
      "layer" -> p.layer, "spans" -> p.spans)
    val stateBytes = passes.flatMap(_.layer.get("streaming.state_bytes")).distinct
    val result = Map(
      "workload" -> workloadName,
      "cores" -> cores.toInt,
      "setup" -> Map("session_s" -> sessionS, "warm_pass_s" -> warm.wallS, "oracle_s" -> oracleS),
      "measure_s" -> measureS,
      "passes" -> passes.size,
      "attempted" -> attempted,
      "failed" -> failures.size,
      "failures" -> failures.distinct.take(20),
      "end_to_end" -> e2e,
      "per_layer" -> perLayer,
      "counters_repeated" -> repeated,
      "unrepeated_span_stages" -> unrepeatedStages,
      "state_bytes_repeated" -> (if (stateBytes.isEmpty) None else Some(stateBytes.size == 1)),
      "warm_pass" -> passJson(warm),
      "pass_detail" -> passes.map(passJson))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("result")), Json(result))
    spark.stop()
  }
}
