package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.jobs.{IngestJob, TransformJob}
import graft.sources.{ParquetSink, Sink}
import graft.streaming.EventStream

/** What one pass hands back: its timed wall time, per-layer values that
  * are not Spark counters, and the check to run after the counters are
  * read (so checking work never lands in a pass's numbers).
  */
final case class PassRun(wallS: Double, layer: Map[String, Double],
    check: () => Seq[Option[String]])

final case class Ctx(spark: SparkSession, data: String, work: String,
    tel: Telemetry, negative: String) {
  def passDir(pass: Int): String = f"$work/pass_$pass%04d"
}

trait Workload {
  /** Untimed preparation: oracle results and expected states. */
  def prepare(): Unit
  /** One timed pass, then (via `PassRun.check`) its correctness checks. */
  def run(pass: Int): PassRun
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "star_etl" => new StarEtl(ctx)
    case "corpus_curation" => new CorpusCuration(ctx)
    case "maintained_state" => new MaintainedState(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Files and bytes under `dir` (0, 0 when absent). */
  def du(dir: String): (Long, Long) = {
    def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatten.flatMap(walk)
      else Iterator(f)
    val files = walk(new File(dir)).filter(_.isFile).toSeq
    (files.size.toLong, files.map(_.length).sum)
  }

  def deleteTree(dir: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(dir))
  }

  /** Run the program's registered DuckDB oracle SQL (name -> SQL) over
    * the generated inputs with `perfbench/oracle.py` (the JVM's working
    * directory is the repository root); results land in
    * `<work>/oracle/<name>.parquet`.
    */
  def runOracles(ctx: Ctx, sql: Map[String, String]): String = {
    val dir = s"${ctx.work}/oracle"
    new File(dir).mkdirs()
    val json = sql.map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    java.nio.file.Files.writeString(new File(s"$dir/sql.json").toPath, json)
    val proc = new ProcessBuilder("python3", "perfbench/oracle.py", ctx.data, s"$dir/sql.json", dir)
      .inheritIO().start()
    val code = proc.waitFor()
    require(code == 0, s"oracle.py exited with $code")
    dir
  }
}

/** Job 1 → job 2 of the reference: `IngestJob.run` copies the seven star
  * tables into a lake as `<lake>/<table>.parquet` (the naming
  * `TransformJob` reads through `Tables.path`), then `TransformJob.run`
  * writes the six mart outputs.
  */
final class StarEtl(ctx: Ctx) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private var lakeWant = Map.empty[String, (Seq[String], IndexedSeq[Seq[Any]])]
  private var martWant = Map.empty[String, (Seq[String], IndexedSeq[Seq[Any]])]

  /** Rows of a parquet table read with its declared schema (no inference job). */
  private def read(path: String, schema: StructType) =
    Check.canonical(spark.read.schema(schema).parquet(path))

  /** The expected lake (the input tables) and mart (the DuckDB oracles). */
  def prepare(): Unit = {
    val outputs = TransformJob.outputSchemas.keySet
    val dir = runOracles(ctx, graft.operators.StarSchema.oracles.filter(kv => outputs(kv._1)))
    lakeWant = IngestJob.tableSchemas.map { case (t, schema) =>
      t -> read(s"${ctx.data}/$t.parquet", schema) }
    martWant = outputs.map(n => n -> Check.oracle(spark, s"$dir/$n.parquet")).toMap
  }

  /** The timing `Sink` wrapper: each write is a `sources.write` span,
    * and the files and bytes it left are added up.
    */
  private final class TimedSink(inner: ParquetSink, files: Array[Long]) extends Sink {
    def write(df: DataFrame): Unit = {
      ctx.tel.span("sources.write")(inner.write(df))
      val (n, b) = du(inner.path)
      files(0) += n
      files(1) += b
    }
  }

  /** Negative control: the sink drops the row with the smallest key. */
  private final class DropOneRow(inner: Sink, key: String) extends Sink {
    def write(df: DataFrame): Unit =
      inner.write(df.filter(col(key) =!= df.agg(min(col(key))).head().get(0)))
  }

  def run(pass: Int): PassRun = {
    val lake = s"${ctx.passDir(pass)}/lake"
    val mart = s"${ctx.passDir(pass)}/mart"
    val written = Array(0L, 0L)
    def sink(path: String): Sink =
      if (ctx.tel.tracing) new TimedSink(ParquetSink(path), written) else ParquetSink(path)
    val (audit, wall) = timed {
      ctx.tel.span("jobs.ingest") {
        IngestJob.run(spark, IngestJob.ParquetProvider(ctx.data),
          name => sink(s"$lake/$name.parquet"))
      }
      ctx.tel.span("jobs.transform") {
        TransformJob.run(spark, lake, name =>
          if (ctx.negative == "drop_row" && name == "dim_customer")
            new DropOneRow(sink(s"$mart/$name"), "customer_key")
          else sink(s"$mart/$name"))
      }
    }
    val inBytes = IngestJob.tableSchemas.keys.map(t => new File(s"${ctx.data}/$t.parquet").length).sum
    val outBytes = du(lake)._2 + du(mart)._2
    val layer = Map(
      "sources.write.files" -> written(0).toDouble,
      "sources.write.output_bytes" -> written(1).toDouble,
      "sources.write_amp" -> outBytes.toDouble / inBytes)
    PassRun(wall, layer, () => {
      // the lake must be an exact copy of the input, the mart must equal
      // the oracle, and each `observe` audit count its oracle's row count
      val lakeDiffs = lakeWant.toSeq.sortBy(_._1).map { case (t, want) =>
        Check.compare(read(s"$lake/$t.parquet", IngestJob.tableSchemas(t)), want, ordered = false)
          .map(m => s"lake $t: $m")
      }
      val martDiffs = martWant.toSeq.sortBy(_._1).map { case (n, want) =>
        Check.compare(read(s"$mart/$n", TransformJob.outputSchemas(n)), want, ordered = false)
          .map(m => s"mart $n: $m")
          .orElse(audit.get(n).filter(_ != want._2.size).map(c =>
            s"mart $n: audit counted $c rows, the oracle has ${want._2.size}"))
      }
      deleteTree(ctx.passDir(pass))
      lakeDiffs ++ martDiffs
    })
  }
}

/** The LLM-corpus tier, read-only: one registered query of each of the
  * Dedup, TextAnalysis, Curation, Similarity and Retrieval operators,
  * collected to the driver, then the library's cached intermediates
  * released. Later queries reuse what earlier ones cached within the pass
  * (the tf table, the quantized vectors).
  */
final class CorpusCuration(ctx: Ctx) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private var want = Map.empty[String, (Seq[String], IndexedSeq[Seq[Any]])]
  private val registry = graft.SparkEntry.queries

  def prepare(): Unit = {
    val dir = runOracles(ctx,
      graft.SparkEntry.oracleSql.filter(kv => CorpusCuration.queries.contains(kv._1)))
    want = CorpusCuration.queries.map(q => q -> Check.oracle(spark, s"$dir/$q.parquet")).toMap
  }

  def run(pass: Int): PassRun = {
    val sc = spark.sparkContext
    val (out, wall) = timed {
      val results = CorpusCuration.queries.map { q =>
        q -> ctx.tel.span(s"operators.$q") {
          val df = registry(q)(spark, ctx.data)
          (df.columns.toSeq, df.collect())
        }
      }
      val cachedMb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
      val persisted = sc.getPersistentRDDs.size.toDouble
      ctx.tel.span("CacheLifecycle.unpersist") {
        graft.CacheLifecycle.unpersistAll()
        spark.catalog.clearCache()
      }
      (results, cachedMb, persisted)
    }
    val (results, cachedMb, persisted) = out
    val layer = Map("CacheLifecycle.cached_mb" -> cachedMb,
      "CacheLifecycle.persisted_rdds" -> persisted)
    PassRun(wall, layer, () => results.map { case (q, (cols, rows)) =>
      val kept = if (ctx.negative == "drop_row" && q == CorpusCuration.queries.head) rows.dropRight(1)
        else rows
      Check.compare(Check.canonical(cols, kept), want(q), ordered = true).map(m => s"$q: $m")
    })
  }
}

object CorpusCuration {
  val queries: Seq[String] = Seq("dedup_prefix_filter", "text_tfidf_top_terms",
    "docs_pii_redacted", "similar_pairs_per_label", "hybrid_rrf_top_docs")
}

/** Maintained state, writes beside reads: seed the tf, chunk and MinHash
  * indexes from the history split, fold the micro-batches (each fold
  * followed by a served tf read; the chunk and MinHash outputs are read
  * after the last), erase one cohort from all tiers, compact the tf
  * index. Every pass starts from a fresh state root.
  */
final class MaintainedState(ctx: Ctx) extends Workload {
  import Workload._
  private val spark = ctx.spark
  private def docs(name: String): DataFrame = spark.read.parquet(s"${ctx.data}/$name.parquet")
  private val batchIds: Seq[Long] =
    new File(ctx.data).list().filter(_.matches("batch_\\d+\\.parquet")).map(
      _.stripPrefix("batch_").stripSuffix(".parquet").toLong).sorted.toSeq
  private lazy val cohort = docs("cohort")
  private lazy val cohortIds: Set[Long] = cohort.collect().map(_.getLong(0)).toSet
  private var expected = Map.empty[String, (Seq[String], IndexedSeq[Seq[Any]])]
  private var expectedTfTotal: Seq[Any] = Nil

  private def reads(root: String): Map[String, DataFrame] = Map(
    "tf" -> EventStream.tfIndexRead(spark, s"$root/tf"),
    "chunk" -> EventStream.chunkIndexRead(spark, s"$root/chunk"),
    "minhash_shingles" -> EventStream.ingestShinglesRead(spark, s"$root/minhash"),
    "minhash_bands" -> EventStream.ingestBandsRead(spark, s"$root/minhash"))

  private def tfTotal(root: String): Seq[Any] =
    EventStream.tfIndexRead(spark, s"$root/tf").agg(count(lit(1)), sum(col("tf")))
      .head().toSeq

  /** The expected stores: a from-scratch seed over the surviving
    * documents, and the tf totals of a seed over every document.
    */
  def prepare(): Unit = {
    val all = (docs("history") +: batchIds.map(b => docs(s"batch_$b"))).reduce(_.unionByName(_))
    val survivors = all.join(cohort, Seq("doc_id"), "left_anti")
    val scratch = s"${ctx.work}/expect/survivors"
    EventStream.tfIndexSeed(spark, s"$scratch/tf", survivors)
    EventStream.chunkIndexSeed(spark, s"$scratch/chunk", survivors)
    EventStream.minhashIndexSeed(spark, s"$scratch/minhash", survivors)
    expected = reads(scratch).map { case (k, df) => k -> Check.canonical(df) }
    EventStream.tfIndexSeed(spark, s"${ctx.work}/expect/all/tf", all)
    expectedTfTotal = tfTotal(s"${ctx.work}/expect/all")
    deleteTree(s"${ctx.work}/expect")
  }

  def run(pass: Int): PassRun = {
    val root = s"${ctx.passDir(pass)}/state"
    val tel = ctx.tel
    val history = docs("history")
    val batches = batchIds.map(b => b -> docs(s"batch_$b"))
    val pairsDir = s"$root/minhash_pairs"
    val foldS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastTf: Seq[Any] = Nil
    var lastPairs: Array[(Long, Long)] = Array.empty
    var eraseS = 0.0
    val filesAfter = scala.collection.mutable.Map.empty[String, Long]
    val (_, wall) = timed {
      tel.span("streaming.tf.seed")(EventStream.tfIndexSeed(spark, s"$root/tf", history))
      tel.span("streaming.chunk.seed")(EventStream.chunkIndexSeed(spark, s"$root/chunk", history))
      tel.span("streaming.minhash.seed")(
        EventStream.minhashIndexSeed(spark, s"$root/minhash", history))
      val seeded = Seq("tf", "chunk", "minhash").map(t => t -> du(s"$root/$t")._1).toMap
      batches.foreach { case (b, batch) =>
        foldS += timed {
          tel.span("streaming.tf.fold")(EventStream.tfIndexFoldBatch(spark, s"$root/tf", batch, b))
          tel.span("streaming.chunk.fold")(EventStream.chunkIngestFoldBatch(
            spark, s"$root/chunk_out", s"$root/chunk", batch, b))
          tel.span("streaming.minhash.fold")(EventStream.minhashIngestFoldBatch(
            spark, pairsDir, s"$root/minhash", batch, b))
        }._2
        lastTf = tel.span("streaming.tf.read")(tfTotal(root))
      }
      tel.span("streaming.chunk.read")(EventStream.chunkOutRead(spark, s"$root/chunk_out")
        .agg(count(lit(1)), sum(col("n_removed"))).head())
      lastPairs = tel.span("streaming.minhash.read")(
        EventStream.ingestPairsRead(spark, pairsDir).select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      Seq("tf", "chunk", "minhash").foreach(t =>
        filesAfter(t) = du(s"$root/$t")._1 + (if (t == "minhash") du(pairsDir)._1 else 0L) -
          seeded(t))
      eraseS = timed {
        tel.span("streaming.tf.forget")(EventStream.forgetDocsFromTfIndex(spark, s"$root/tf", cohort))
        if (ctx.negative != "skip_forget")
          tel.span("streaming.chunk.forget")(
            EventStream.forgetDocsFromChunkIndex(spark, s"$root/chunk", cohort))
        tel.span("streaming.minhash.forget")(EventStream.forgetDocsFromMinhashIndex(
          spark, s"$root/minhash", pairsDir, cohort))
      }._2
      tel.span("streaming.tf.compact")(EventStream.compactTfIndex(spark, s"$root/tf"))
    }
    val (stateFiles, stateBytes) = du(root)
    val sorted = foldS.sorted
    def pct(p: Double): Double = sorted(math.ceil(p * sorted.size).toInt - 1)  // nearest rank
    val inBytes = (("history" +: batchIds.map(b => s"batch_$b"))
      .map(n => new File(s"${ctx.data}/$n.parquet").length)).sum
    val layer = Map(
      "streaming.fold_p50_s" -> pct(0.5), "streaming.fold_p90_s" -> pct(0.9),
      "streaming.erase_s" -> eraseS,
      "streaming.state_bytes" -> stateBytes.toDouble,
      "streaming.state_files" -> stateFiles.toDouble,
      "streaming.write_amp" -> stateBytes.toDouble / inBytes) ++
      filesAfter.map { case (t, n) => s"streaming.$t.fold_files" -> n.toDouble }
    PassRun(wall, layer, () => {
      val got = reads(root).map { case (k, df) => k -> Check.canonical(df) }
      val stores = expected.toSeq.sortBy(_._1).map { case (k, w) =>
        Check.compare(got(k), w, ordered = false).map(m => s"$k: $m")
      }
      val residue = got.toSeq.sortBy(_._1).map { case (k, (cols, rows)) =>
        val id = cols.indexOf("doc_id")
        val n = rows.count(r => cohortIds(r(id).asInstanceOf[Long]))
        if (n == 0) None else Some(s"$k: $n rows of the erased cohort remain")
      }
      val wantPairs = lastPairs.filterNot { case (a, b) => cohortIds(a) || cohortIds(b) }.sorted.toSeq
      val gotPairs = EventStream.ingestPairsRead(spark, pairsDir).select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      val pairs = if (gotPairs == wantPairs) None
        else Some(s"minhash_pairs: ${gotPairs.size} pairs after erasure, expected ${wantPairs.size}")
      val served = if (lastTf == expectedTfTotal) None
        else Some(s"tf read after the last fold: $lastTf, expected $expectedTfTotal")
      deleteTree(ctx.passDir(pass))
      (stores ++ residue) :+ pairs :+ served
    })
  }
}
