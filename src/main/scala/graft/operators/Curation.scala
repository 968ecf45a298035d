package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.{Deterministic, TextFunctions, VectorFunctions => V}

/** Corpus-curation operators — the filtering/mixing stages a training-data
  * pipeline runs between dedup and tokenization (north-star tier; no
  * reference analog): benchmark decontamination, repetition-based quality
  * filtering, denylist redaction, temperature-weighted resampling, and a
  * per-entity threshold filter (the decorrelated correlated-subquery
  * shape).
  */
object Curation {

  /** The held-out "benchmark" source whose content must not leak into
    * training data; src0 is one of the fixture's 20 uniform sources.
    */
  private[graft] val BenchmarkSource = "src0"
  private val ContaminationThreshold = 0.5

  /** Gopher-style repetition-quality thresholds — interpolated into BOTH
    * the Scala plans and every oracle that applies the keep rule, so a
    * retune cannot leave a consumer on the old rule.
    */
  private val QualityDistinctRatioMin = 0.15
  private val QualityTopTokenFracMax = 0.15
  private val QualityDupBigramFracMax = 0.5

  /** Shared quality-metric CTEs (assume a `toks(doc_id, t)` CTE in scope)
    * and the keep predicate over their columns — spliced into the
    * `text_repetition_quality` oracle and the pipeline oracle.
    */
  private val qualityCte =
    s"""flat AS (
       |  SELECT doc_id, unnest(t) AS token FROM toks),
       |cnt AS (
       |  SELECT doc_id, token, CAST(count(*) AS BIGINT) AS c
       |  FROM flat GROUP BY 1, 2),
       |top AS (
       |  SELECT doc_id, max(c) AS top_token_n FROM cnt GROUP BY 1),
       |m AS (
       |  SELECT doc_id,
       |         CAST(len(t) AS INT) AS n_tokens,
       |         CAST(len(list_distinct(t)) AS INT) AS n_distinct,
       |         CAST(len(${TextFunctions.shinglesSql("t", 2)}) AS INT) AS n_bi
       |  FROM toks)""".stripMargin

  private val qualityKeepSql =
    s"""n_distinct / n_tokens >= $QualityDistinctRatioMin
       | AND top_token_n / n_tokens <= $QualityTopTokenFracMax
       | AND (CASE WHEN n_tokens >= 2 THEN 1.0 - n_bi / (n_tokens - 1)
       |      ELSE 0.0 END) <= $QualityDupBigramFracMax""".stripMargin

  /** Contamination CTEs shared by the pipeline and funnel oracles (assume
    * [[Dedup.shingleCte]]'s `toks`/`sh`/`sizes` in scope): `contam_ratio`
    * = ≥50%-overlap rule, `contam_exact` = any-13-gram rule.
    */
  private lazy val contaminationCte =
    s"""bench AS (SELECT doc_id FROM documents WHERE source = '$BenchmarkSource'),
       |bsh AS (
       |  SELECT DISTINCT s FROM sh
       |  WHERE doc_id IN (SELECT doc_id FROM bench)),
       |ov AS (
       |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
       |  FROM sh JOIN bsh USING (s)
       |  WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
       |  GROUP BY 1),
       |contam_ratio AS (
       |  SELECT o.doc_id FROM ov o JOIN sizes z ON o.doc_id = z.doc_id
       |  WHERE n_overlap / z.n >= $ContaminationThreshold),
       |sharr13 AS (
       |  SELECT doc_id, ${TextFunctions.shinglesSql("t", 13)} AS sh13 FROM toks),
       |s13 AS (SELECT doc_id, unnest(sh13) AS s FROM sharr13),
       |bsh13 AS (
       |  SELECT DISTINCT s FROM s13
       |  WHERE doc_id IN (SELECT doc_id FROM bench)),
       |contam_exact AS (
       |  SELECT DISTINCT s13.doc_id FROM s13 JOIN bsh13 USING (s)
       |  WHERE s13.doc_id NOT IN (SELECT doc_id FROM bench))""".stripMargin

  /** Every CTE the pipeline semantics need, in dependency order. */
  private lazy val pipelineCtes =
    s"""${Dedup.shingleCte},
       |${Dedup.removalsCte},
       |$contaminationCte,
       |$qualityCte,
       |quality_keep AS (
       |  SELECT m.doc_id FROM m JOIN top ON m.doc_id = top.doc_id
       |  WHERE $qualityKeepSql),
       |aug AS (
       |  SELECT doc_id, ${piiAugSql("text", "doc_id")} AS aug_text
       |  FROM documents),
       |haug AS (
       |  SELECT doc_id, ${htmlAugSql("text", "doc_id")} AS haug_text
       |  FROM documents),
       |hclean AS (
       |  SELECT doc_id, haug_text, ${htmlCleanSql("haug_text")} AS clean_text
       |  FROM haug),
       |caug AS (
       |  SELECT doc_id, ${piiAugSql("clean_text", "doc_id")} AS caug_text
       |  FROM hclean),
       |$gateSignalCtes,
       |gate_keep AS (
       |  SELECT doc_id FROM gate_final WHERE quality_score >= $GateKeepMin),
       |${Similarity.quantizedSql},
       |${Similarity.cellsSql},
       |bvv AS (
       |  SELECT cell, v AS bv, n2 AS bn2 FROM cells
       |  WHERE vec_id IN (SELECT doc_id FROM bench)),
       |contam_semantic AS (
       |  SELECT DISTINCT a.vec_id AS doc_id
       |  FROM cells a JOIN bvv b USING (cell)
       |  WHERE a.vec_id NOT IN (SELECT doc_id FROM bench)
       |    AND ${V.qdotSql("a.v", "b.bv", Similarity.Dim)}
       |          / (sqrt(a.n2) * sqrt(b.bn2)) >= $SemanticContamThreshold)""".stripMargin

  /** The pipeline keep-filter over those CTEs — shared by the pipeline
    * oracle's final SELECT and the funnel's n_final subquery.
    */
  private lazy val pipelineKeepWhere =
    s"""source != '$BenchmarkSource'
       |  AND doc_id NOT IN (SELECT doc_id FROM removals)
       |  AND doc_id NOT IN (SELECT doc_id FROM contam_ratio)
       |  AND doc_id NOT IN (SELECT doc_id FROM contam_exact)
       |  AND doc_id NOT IN (SELECT doc_id FROM contam_semantic)
       |  AND doc_id IN (SELECT doc_id FROM quality_keep)
       |  AND doc_id IN (SELECT doc_id FROM gate_keep)""".stripMargin

  /** Estimated broadcast bytes per hashed 8-byte key in a
    * BroadcastHashJoin's LongHashedRelation: the key itself, the UnsafeRow
    * envelope, and hash-map slack. Deliberately pessimistic — the guard
    * exists to keep executors alive, not to squeeze the last broadcast in.
    */
  private val BytesPerHashedKey = 32L

  /** Hard ceiling for a deliberate broadcast regardless of configuration —
    * past a few hundred MB per executor the broadcast itself is the
    * memory problem the guard exists to prevent.
    */
  private val ExplicitBroadcastCeilingBytes = 256L << 20

  /** Maximum key count an explicit `broadcast()` hint may carry, derived
    * from the session's `spark.sql.autoBroadcastJoinThreshold` so retuning
    * that conf moves this guard with it (a fixed row constant and the conf
    * would silently drift apart). A deliberate hint gets 16× the
    * optimizer's conservative auto threshold (default 10 MB → 160 MB →
    * ~5M hashed keys), clamped to [[ExplicitBroadcastCeilingBytes]]; with
    * auto-broadcast disabled (-1) the budget stays at the conservative
    * 1/16 of the ceiling rather than inheriting "unlimited".
    */
  private[graft] def maxBroadcastKeys(spark: SparkSession): Long = {
    val auto =
      try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
      catch { case _: Throwable => -1L }
    val budgetBytes =
      if (auto > 0) math.min(auto * 16, ExplicitBroadcastCeilingBytes)
      else ExplicitBroadcastCeilingBytes / 16
    math.max(budgetBytes / BytesPerHashedKey, 1L)
  }

  /** Benchmark DECONTAMINATION: flag corpus documents whose 3-gram shingle
    * sets overlap a held-out benchmark set (`source = src0`) by ≥ 50% —
    * the standard eval-leak guard run before training. Shares the
    * session-cached shingle table with the dedup tier; the benchmark
    * shingle set (small by construction — benchmarks are a fixed corpus,
    * not a scale-out input) rides a BROADCAST join against the exploded
    * corpus shingles, so the corpus never shuffles: one scan, one
    * broadcast probe, one per-doc aggregation.
    */
  def decontaminate(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): every flag-frame/pipeline
    // re-invocation otherwise re-analyzes this stage's plan on the driver
    graft.CacheLifecycle.memoized(s"curation.decontaminate:$sfDir")(
      decontaminateBuild(spark, sfDir))

  private def decontaminateBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val bench = Tables.documents(spark, sfDir)
      .filter(col("source") === BenchmarkSource)
      .select(col("doc_id"))
    val sh = Dedup.shingled(spark, sfDir)
    val exploded = sh.select(col("doc_id"), explode(col("sh")).alias("s"))
      .select(col("doc_id"), TextFunctions.md5Hash60(col("s")).alias("hs"))
    // Persisted so the guard count below doubles as the materialization:
    // the count job fills the cache and the main query's probe join reads
    // it back instead of re-deriving the bench set from the (corpus-wide)
    // shingle explode a second time. Tracked for release via
    // CacheLifecycle.unpersistAll.
    val benchShingles = exploded.join(bench, Seq("doc_id")).select(col("hs")).distinct()
      .transform(graft.CacheLifecycle.sessionPersist)
    // Broadcast only while the benchmark shingle set is actually broadcast-
    // sized. Benchmarks are a fixed corpus by premise, but the premise is
    // an input property, not an invariant — an oversized held-out source
    // under an unconditional hint would OOM every executor. The cap is
    // byte-derived from the session's broadcast threshold (see
    // [[maxBroadcastKeys]]); past it the join falls back to the shuffle
    // plan: same rows, no broadcast. The guard count is one small job over
    // the benchmark side only (and materializes the persist above).
    val benchSide =
      if (benchShingles.count() <= maxBroadcastKeys(spark)) broadcast(benchShingles)
      else benchShingles
    val sizes = sh.select(col("doc_id"), size(col("sh")).alias("n_shingles"))
    exploded.join(bench, Seq("doc_id"), "left_anti")
      .join(benchSide, Seq("hs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_overlap"))
      .join(sizes, Seq("doc_id"))
      .select(col("doc_id"), col("n_overlap"), col("n_shingles"),
        (col("n_overlap") / col("n_shingles")).alias("contamination"))
      .filter(col("contamination") >= ContaminationThreshold)
      .orderBy("doc_id")
      // three registered consumers (own row, pipeline, funnel) — the
      // corpus probe join runs once per session; tracked for release
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** EXACT-SUBSTRING decontamination (the 13-gram rule): flag corpus
    * documents sharing ANY exact 13-token run with the held-out benchmark
    * — the standard used alongside the overlap-ratio rule (a single
    * verbatim benchmark sentence inside a long document never reaches a
    * 50% shingle-overlap but is still a leak). Same plan shape as
    * [[decontaminate]]: corpus never shuffles, benchmark 13-gram hashes
    * ride a size-guarded broadcast, one per-doc aggregation. Documents
    * shorter than 13 tokens produce no shingles and cannot be flagged —
    * by construction of the rule, not an edge-case bug.
    */
  /** Session-persisted 13-gram shingle table — same role and lifecycle as
    * [[Dedup.shingled]] for the 3-gram tier: referenced twice per
    * invocation (benchmark-side materialization + corpus probe) and
    * shared between [[decontaminateExact]] and [[curationPipeline]], so
    * the tokenize+shingle pass runs once per session, not 2× per query.
    */
  private def shingled13(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"curation.shingled13:$sfDir")(
      shingled13Build(spark, sfDir))

  private def shingled13Build(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).alias("t"))
      .select(col("doc_id"), TextFunctions.shingles(col("t"), 13).alias("sh"))
      .transform(graft.CacheLifecycle.sessionPersist)

  def decontaminateExact(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): every flag-frame/pipeline
    // re-invocation otherwise re-analyzes this stage's plan on the driver
    graft.CacheLifecycle.memoized(s"curation.decontaminateExact:$sfDir")(
      decontaminateExactBuild(spark, sfDir))

  private def decontaminateExactBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val bench = Tables.documents(spark, sfDir)
      .filter(col("source") === BenchmarkSource)
      .select(col("doc_id"))
    val sh = shingled13(spark, sfDir)
    val exploded = sh.select(col("doc_id"), explode(col("sh")).alias("s"))
      .select(col("doc_id"), TextFunctions.md5Hash60(col("s")).alias("hs"))
    val benchShingles = exploded.join(bench, Seq("doc_id")).select(col("hs")).distinct()
      .transform(graft.CacheLifecycle.sessionPersist)
    val benchSide =
      if (benchShingles.count() <= maxBroadcastKeys(spark)) broadcast(benchShingles)
      else benchShingles
    exploded.join(bench, Seq("doc_id"), "left_anti")
      .join(benchSide, Seq("hs"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_hit_13grams"))
      .orderBy("doc_id")
      // three registered consumers (own row, pipeline, funnel) — the
      // 13-gram probe join runs once per session; tracked for release
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** Threshold for SEMANTIC decontamination — matches the embedding
    * near-dup ladder (0.4) so the three decon rungs and the dedup tier
    * are directly comparable on the fixture; production tunes this per
    * embedding model (typically much higher).
    */
  private val SemanticContamThreshold = 0.4

  /** SEMANTIC decontamination (the embedding-space rung beside the
    * 50%-overlap ratio rule and the exact 13-gram rule): flag corpus
    * documents whose EMBEDDING sits within cosine
    * [[SemanticContamThreshold]] of any held-out benchmark document's
    * embedding — the leak class n-gram rules cannot see (paraphrased or
    * re-worded benchmark items share no 13-gram but embed nearby).
    * `vec_id` ≡ `doc_id` by fixture construction.
    *
    * Scale shape: candidates are IVF-CELL-BUCKETED exactly like SemDeDup
    * ([[Similarity.assignedCells]] is the shared session-persisted
    * assignment) — a corpus vector is scored only against benchmark
    * vectors in ITS cell, so the join is an equi-join on the cell id and
    * the corpus never meets the benchmark set all-pairs. The benchmark
    * side is small by premise (and cell-partitioned); the oracle mirrors
    * the cell restriction, so the registered result is exact for the
    * operator AS DEFINED (candidate recall is the IVF trade the ANN
    * recall queries measure).
    */
  def decontaminateSemantic(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): every flag-frame/pipeline
    // re-invocation otherwise re-analyzes this stage's plan on the driver
    graft.CacheLifecycle.memoized(s"curation.decontaminateSemantic:$sfDir")(
      decontaminateSemanticBuild(spark, sfDir))

  private def decontaminateSemanticBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val bench = Tables.documents(spark, sfDir)
      .filter(col("source") === BenchmarkSource)
      .select(col("doc_id"))
    val cells = Similarity.assignedCells(spark, sfDir)
    val benchVecs = cells.join(bench, cells("vec_id") === bench("doc_id"))
      .select(col("cell"), col("v").alias("bv"), col("n2").alias("bn2"))
    val corpus = cells.join(bench, cells("vec_id") === bench("doc_id"), "left_anti")
    corpus.join(benchVecs, Seq("cell"))
      .select(col("vec_id").alias("doc_id"),
        V.qcosineFrom(V.qdot(col("v"), col("bv")), col("n2"), col("bn2"))
          .alias("cos_sim"))
      .filter(col("cos_sim") >= SemanticContamThreshold)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_bench_neighbors"),
        max(col("cos_sim")).alias("max_cos"))
      .orderBy("doc_id")
      // three registered consumers (own row, pipeline, funnel)
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** Repetition-based QUALITY metrics per document (the Gopher-style
    * rules): distinct-token ratio, most-frequent-token share, duplicate
    * bigram fraction, and the resulting keep/drop verdict. All ratios are
    * int/int divisions — one IEEE op on identical operands — so the
    * doubles (and the boolean threshold verdict) are bit-identical across
    * engines. The top-token count is the only shuffle (keyed
    * (doc_id, token)); everything else is per-row array math on the
    * materialized token column.
    */
  def repetitionQuality(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): every flag-frame/pipeline
    // re-invocation otherwise re-analyzes this stage's plan on the driver
    graft.CacheLifecycle.memoized(s"curation.repetitionQuality:$sfDir")(
      repetitionQualityBuild(spark, sfDir))

  /** The repetition ratio/verdict columns over the fused signal frame —
    * shared spelling between [[repetitionQuality]] and [[qualityGate]]
    * (which now recomputes `rep_keep` as a narrow expression instead of
    * joining the repetition frame on doc_id).
    */
  /** Per-doc Gopher repetition verdict over an ARBITRARY document frame
    * — the per-batch form the ingestion-time curation stream runs: the
    * same [[withRepetitionMetrics]] body as the registered
    * `text_repetition_quality`, fed from the batch's own tokenization
    * (the [[graft.operators.TextAnalysis.termFreqsOf]] lineage, so the
    * stream and the batch query can never disagree on tokens). Inner
    * join on the tf frame deliberately drops token-less documents —
    * they were never scored, so the pipeline's keep-semi-join drops
    * them, exactly the batch `top_token_n IS NOT NULL` row set.
    */
  private[graft] def repetitionKeepOf(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).alias("t"))
      .select(col("doc_id"),
        size(col("t")).alias("n_tokens"),
        size(array_distinct(col("t"))).alias("n_distinct"),
        size(TextFunctions.shingles(col("t"), 2)).alias("n_distinct_bigrams"))
    val top = TextAnalysis.termFreqsOf(docs)
      .groupBy(col("doc_id")).agg(max(col("tf")).alias("top_token_n"))
    withRepetitionMetrics(base.join(top, Seq("doc_id")))
      .select(col("doc_id"), col("rep_keep"))
  }

  /** The held-out benchmark's distinct hashed 13-gram set — the STATIC
    * side input of the streaming exact-decontamination probe (the
    * benchmark is fixed before the crawl starts; at 100 TB this is a
    * broadcast-sized table by premise).
    */
  private[graft] def benchHashes13Of(benchDocs: DataFrame): DataFrame =
    benchDocs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).alias("t"))
      .select(explode(TextFunctions.shingles(col("t"), 13)).alias("s"))
      .select(TextFunctions.md5Hash60(col("s")).alias("hs"))
      .distinct()

  /** EXACT decontamination of an arbitrary document frame against a
    * prepared benchmark 13-gram hash set ([[benchHashes13Of]]) — the
    * per-batch body of the streaming pipeline's decon probe; the same
    * shingle/hash lineage as the registered `docs_decontaminate_exact`.
    */
  private[graft] def exactContamIdsOf(docs: DataFrame,
      benchHashes: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).alias("t"))
      .select(col("doc_id"), explode(TextFunctions.shingles(col("t"), 13)).alias("s"))
      .select(col("doc_id"), TextFunctions.md5Hash60(col("s")).alias("hs"))
      .join(broadcast(benchHashes), Seq("hs"), "left_semi")
      .select(col("doc_id")).distinct()

  /** The redact half of clean-then-redact over HTML-cleaned text — PII
    * augmentation (the fixture's deterministic injection, see
    * [[piiAugmented]]), redaction, md5 to keep the verified output
    * narrow. ONE Column definition behind the batch output frame's
    * `text_redacted_md5` and the ingestion-time stream's survivor map.
    */
  private def redactedMd5OfClean(clean: Column, docId: Column): Column =
    md5(piiRedact(piiAugmented(clean, docId)))

  /** The ingestion-time stream's OUTPUT MAP over a survivor frame —
    * HTML clean (with the fixture's deterministic augmentation,
    * [[htmlAugmented]]) then [[redactedMd5OfClean]], the chain
    * [[docOutputs]] computes for the batch [[curationPipeline]], so the
    * two cannot drift on it.
    */
  private[graft] def redactedSurvivorOutput(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
      redactedMd5OfClean(htmlClean(htmlAugmented(col("text"), col("doc_id"))),
        col("doc_id")).alias("text_redacted_md5"))

  /** The four gate signals + integer score as COLUMNS over the fused
    * signal frame — one spelling shared by [[qualityGate]], the flag
    * frame, and the pipeline's keep filter, so the three consumers can
    * never drift on the ensemble. Expects [[TextAnalysis.docSignals]]
    * columns; rows with NULL top_token_n (token-less docs the original
    * inner joins dropped) are NOT filtered here — each consumer applies
    * its own row-set rule.
    */
  private def withGateSignals(ds: DataFrame): DataFrame =
    withRepetitionMetrics(ds)
      .withColumn("rep_ok", col("rep_keep"))
      .withColumn("len_ok", col("n_tokens") >= GateMinTokens)
      .withColumn("rare_ok",
        coalesce(col("n_rare") * GateRareMult <= col("n_bigrams"), lit(true)))
      .withColumn("lang_ok",
        greatest(col("g_en"), col("g_es"), col("g_de"), col("g_fr"))
          >= GateLangConfMin)
      .withColumn("quality_score",
        col("rep_ok").cast("int") + col("len_ok").cast("int")
          + col("rare_ok").cast("int") + col("lang_ok").cast("int"))

  private def withRepetitionMetrics(ds: DataFrame): DataFrame =
    ds.withColumn("distinct_ratio", col("n_distinct") / col("n_tokens"))
      .withColumn("top_token_frac", col("top_token_n") / col("n_tokens"))
      .withColumn("dup_bigram_frac",
        when(col("n_tokens") >= 2,
            lit(1.0) - col("n_distinct_bigrams") / (col("n_tokens") - 1))
          .otherwise(lit(0.0)))
      .withColumn("rep_keep",
        col("distinct_ratio") >= QualityDistinctRatioMin &&
          col("top_token_frac") <= QualityTopTokenFracMax &&
          col("dup_bigram_frac") <= QualityDupBigramFracMax)

  private def repetitionQualityBuild(spark: SparkSession, sfDir: String): DataFrame =
    // narrow projection of the one-pass signal frame (persisted there);
    // the top_token_n filter restores this query's original inner-join
    // row set (a NULL-text doc has no token rows — it was never scored
    // here, though langIdNgram keeps it)
    withRepetitionMetrics(TextAnalysis.docSignals(spark, sfDir))
      .filter(col("top_token_n").isNotNull)
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_token_n"),
        col("distinct_ratio"), col("top_token_frac"), col("dup_bigram_frac"),
        col("rep_keep").alias("keep"))
      .orderBy("doc_id")

  /** Denylist terms masked before training (the same stateless-map shape
    * as PII scrubbing — swap the alternation for email/phone patterns on
    * a real corpus; the fixture vocabulary has no digits, so the denylist
    * keeps the demo non-trivially exercised).
    */
  private val DenylistPattern = "\\b(customer|spark)\\b"

  /** Denylist REDACTION: count and mask denylisted terms per document.
    * Pure narrow work — regexp over each row, no shuffle (the output sort
    * is the verification gate, not the operator). The redacted text rides
    * as an md5 so the verified output stays narrow.
    */
  def denylistRedact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(DenylistPattern), lit(0)))
          .alias("n_hits"),
        md5(regexp_replace(col("text"), DenylistPattern, "[REDACTED]"))
          .alias("redacted_md5"))
      .orderBy("doc_id")

  /** Composite quality-gate thresholds. Each signal is a boolean over
    * exact integer arithmetic (the rare-ratio cut is the cross-multiplied
    * `n_rare · 20 ≤ n_bigrams` ⇔ ratio ≤ 1/20 — never a float compare),
    * so the score and verdict are bit-identical cross-engine. Keep rule:
    * majority vote, ≥ [[GateKeepMin]] of 4 signals — the "quality
    * classifier lite" shape (a weighted ensemble of cheap signals
    * standing in for a learned classifier's logit).
    */
  private val GateMinTokens = 20
  private val GateRareMult = 20
  private val GateLangConfMin = 4
  private val GateKeepMin = 3

  /** COMPOSITE QUALITY GATE: one scored keep/drop verdict per document
    * from four independent cheap signals — Gopher-style repetition rules
    * ([[repetitionQuality]]), minimum length, rare-bigram share (the
    * gibberish proxy, [[TextAnalysis.rareBigramRatio]]), and n-gram
    * language-ID confidence ([[TextAnalysis.langIdNgram]] best profile
    * overlap). Documents too short to have bigrams simply lack rare-
    * bigram evidence and default that signal to pass (`coalesce`, LEFT
    * join) — the length signal is what penalizes them.
    *
    * Shape: three keyed joins of per-doc signal frames (each signal
    * frame's own scale posture is audited at its definition; the gate
    * adds only doc_id-keyed equi-joins and per-row boolean math).
    * Session-persisted: own registry row, the pipeline's semi-join, and
    * the funnel's fail count all read it.
    */
  def qualityGate(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): every flag-frame/pipeline
    // re-invocation otherwise re-analyzes this stage's plan on the driver
    graft.CacheLifecycle.memoized(s"curation.qualityGate:$sfDir")(
      qualityGateBuild(spark, sfDir))

  private def qualityGateBuild(spark: SparkSession, sfDir: String): DataFrame =
    // all four signals are now columns of the one-pass fused frame —
    // the gate is a narrow projection plus boolean math, ZERO joins
    // (r14-verdict ask #6: the per-signal doc_id joins are gone); the
    // signal spelling is the shared [[withGateSignals]]
    withGateSignals(TextAnalysis.docSignals(spark, sfDir))
      .filter(col("top_token_n").isNotNull) // the gate's original row set
      .select(col("doc_id"), col("rep_ok"), col("len_ok"), col("rare_ok"),
        col("lang_ok"), col("quality_score"),
        (col("quality_score") >= GateKeepMin).alias("keep"))
      .orderBy("doc_id")

  /** DuckDB literal lists for the language profiles — same spelling as
    * the `text_langid_ngram` oracle.
    */
  private lazy val gateLangListsSql = TextAnalysis.bigramProfiles.map {
    case (l, prof) => l -> prof.map(b => s"'$b'").mkString("[", ", ", "]")
  }.toMap

  /** Gate-signal CTE chain — assumes `toks` (t column) and [[qualityCte]]
    * (`m`/`top`) in scope; ends at `gate_final` with the per-doc signals
    * and integer score.
    */
  private lazy val gateSignalCtes =
    s"""gdb AS (
       |  SELECT DISTINCT doc_id, bigram FROM (
       |    SELECT doc_id, unnest(list_transform(
       |      generate_series(1, greatest(len(t) - 1, 0)),
       |      i -> t[i] || ' ' || t[i+1])) AS bigram
       |    FROM toks)),
       |gdf AS (
       |  SELECT bigram, CAST(count(*) AS BIGINT) AS df FROM gdb GROUP BY 1),
       |gate_rare AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |         CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
       |  FROM gdb JOIN gdf USING (bigram) GROUP BY 1),
       |gate_bg AS (
       |  SELECT doc_id, list_distinct(list_transform(
       |    generate_series(1, greatest(length(text) - 1, 1)),
       |    i -> substr(text, i, 2))) AS b
       |  FROM documents),
       |gate_lang AS (
       |  SELECT doc_id, greatest(
       |    len(list_intersect(b, ${gateLangListsSql("en")})),
       |    len(list_intersect(b, ${gateLangListsSql("es")})),
       |    len(list_intersect(b, ${gateLangListsSql("de")})),
       |    len(list_intersect(b, ${gateLangListsSql("fr")}))) AS lang_best
       |  FROM gate_bg),
       |gate_scored AS (
       |  SELECT m.doc_id,
       |         ($qualityKeepSql) AS rep_ok,
       |         m.n_tokens >= $GateMinTokens AS len_ok,
       |         coalesce(gr.n_rare * $GateRareMult <= gr.n_bigrams, TRUE) AS rare_ok,
       |         gl.lang_best >= $GateLangConfMin AS lang_ok
       |  FROM m JOIN top ON m.doc_id = top.doc_id
       |  LEFT JOIN gate_rare gr ON m.doc_id = gr.doc_id
       |  JOIN gate_lang gl ON m.doc_id = gl.doc_id),
       |gate_final AS (
       |  SELECT doc_id, rep_ok, len_ok, rare_ok, lang_ok,
       |         CAST(rep_ok AS INT) + CAST(len_ok AS INT)
       |           + CAST(rare_ok AS INT) + CAST(lang_ok AS INT) AS quality_score
       |  FROM gate_scored)""".stripMargin

  /** HTML strip rules in APPLICATION ORDER (name, pattern, replacement)
    * — the raw-crawl pipeline's FIRST operator, spelled entirely with
    * codegen `regexp_replace` in the Java-regex ∩ RE2 subset (the
    * [[PiiRules]] discipline: inline `(?s)`/`(?m)` flags, `\b`, lazy
    * quantifiers — all common; no lookaround, no backreferences), so
    * Spark and the DuckDB oracle execute the same automaton. Order is
    * load-bearing: script/style BLOCKS go first (their contents must
    * not survive as text), the nav-line rule runs while anchors are
    * still tags (link density is only visible pre-strip), then the
    * generic tag strip.
    */
  private[graft] val HtmlStripRules: Seq[(String, String, String)] = Seq(
    // rule 0: LINE-ENDING NORMALIZATION. Every (?m) rule below relies
    // on Java-regex and RE2 agreeing on what a "line" is, and they
    // don't on raw crawl text: Java's `.`/`^`/`$` treat \r and
    // U+2028/U+2029 as line terminators where RE2 recognizes only \n.
    // Real crawls are CRLF-heavy, so without this rule the "same
    // automaton on both engines" property held only for \n-only input
    // like the fixture. Normalizing first (\r\n, bare \r, and the
    // Unicode separators all → \n) makes every later line-anchored
    // rule see identical line structure in both engines; \x{hhhh} is
    // the escape spelling both regex dialects share.
    ("newline", "\\r\\n?|\\x{2028}|\\x{2029}", "\n"),
    // (?i): HTML tag names are case-insensitive and uppercase tags are
    // common in older crawls — a case-sensitive script rule would leak
    // <SCRIPT> contents into the corpus as text (both engines would
    // agree, so no oracle gate could catch it; a spec pins it instead)
    ("script", "(?is)<script\\b.*?</script>", " "),
    ("style", "(?is)<style\\b.*?</style>", " "),
    // a line consisting ONLY of anchor tags and separators — the
    // nav-bar/link-farm boilerplate rule (jusText/trafilatura's
    // link-density heuristic at density 1)
    ("navline", "(?im)^\\s*(<a\\b[^>]*>[^<]*</a>\\s*\\|?\\s*)+$", ""),
    ("tag", "<[^>]*>", " "))

  /** Entity decode table in APPLICATION ORDER — `&amp;` LAST is
    * load-bearing: decoding it first would turn the literal text
    * `&amp;lt;` into `&lt;` and then a later rule into `<` (double
    * decode); amp-last yields the correct single-pass `&lt;`.
    */
  private[graft] val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Short-line drop threshold: lines of at most this many characters
    * are removed by the first tidy rule. This is a TUNABLE with a real
    * content-loss tradeoff, not a neutral cleanup: it targets menu
    * crumbs and "ok"-grade navigation residue, but it also deletes
    * legitimate short lines — headings, code lines, CJK text where 12
    * characters is a whole sentence — and because BOTH engines apply
    * the same rule, the oracle gate can never flag the loss. A
    * deployment curating heading-dense or CJK-heavy sources should
    * lower it (0 disables nothing — the rule always drops empty lines)
    * or replace the rule with a link-density/markup-evidence gate;
    * 12 is calibrated for the Latin-script boilerplate this fixture
    * models.
    */
  private[graft] val HtmlShortLineMax = 12

  /** Post-strip tidy rules: short-line boilerplate (≤
    * [[HtmlShortLineMax]] chars — see its content-loss caveat),
    * whitespace-run collapse, line-edge trims, blank-line collapse, end
    * trims. `\s+$`-style patterns deliberately CONSUME the trailing
    * newline rather than anchoring before it — Java's bare `$` matches
    * before a final line terminator where RE2's does not, and consuming
    * the terminator is the spelling on which both engines agree.
    */
  private[graft] val HtmlTidyRules: Seq[(String, String)] = Seq(
    (s"(?m)^.{0,$HtmlShortLineMax}$$", ""),
    ("[ \\t]+", " "),
    ("(?m)^ ", ""),
    ("(?m) $", ""),
    ("\\n{2,}", "\n"),
    ("^\\s+|\\s+$", ""))

  /** The full cleaning fold: strip → decode → tidy. Pure narrow per-row
    * codegen work (chained `regexp_replace`/`replace`, no UDF, no
    * shuffle) — composable onto any text column, exactly the
    * [[piiRedact]] shape.
    */
  private[graft] def htmlClean(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val stripped = HtmlStripRules.foldLeft(c) { case (acc, (_, pat, rep)) =>
      regexp_replace(acc, pat, rep) }
    val decoded = HtmlEntities.foldLeft(stripped) { case (acc, (e, ch)) =>
      replace(acc, lit(e), lit(ch)) }
    HtmlTidyRules.foldLeft(decoded) { case (acc, (pat, rep)) =>
      regexp_replace(acc, pat, rep) }
  }

  /** A string as a DuckDB single-quoted literal — EVERY pattern,
    * replacement, and entity splice goes through this, so a future rule
    * containing a quote (an attribute-value pattern, say) generates
    * correct oracle SQL instead of silently-broken SQL at a distance
    * (only the `&#39;` entity decode used to handle its own quote).
    */
  private def sqlLit(s: String): String = s"'${s.replace("'", "''")}'"

  private def htmlCleanSql(inner: String): String = {
    val stripped = HtmlStripRules.foldLeft(inner) { case (acc, (_, pat, rep)) =>
      s"regexp_replace($acc, ${sqlLit(pat)}, ${sqlLit(rep)}, 'g')" }
    val decoded = HtmlEntities.foldLeft(stripped) { case (acc, (e, ch)) =>
      s"replace($acc, ${sqlLit(e)}, ${sqlLit(ch)})" }
    HtmlTidyRules.foldLeft(decoded) { case (acc, (pat, rep)) =>
      s"regexp_replace($acc, ${sqlLit(pat)}, ${sqlLit(rep)}, 'g')" }
  }

  /** HTML-bearing demo text (the [[piiAugmented]] discipline): the
    * fixture vocabulary has no markup, so the cleaning stage plants
    * DETERMINISTIC wrappers derived from doc_id — residue classes give
    * every strip rule independent coverage (a multiline script block
    * exercising `(?s)`, a style block, a paragraph wrap, raw entities,
    * a nav line for the link-density rule, a short boilerplate line)
    * plus overlap combinations, and docs hitting NO residue stay
    * markup-free so the `changed` flag is informative. On a real crawl
    * the stage runs directly on `text`; the augmentation is the demo's
    * input, not part of the operator.
    */
  private[graft] def htmlAugmented(text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      when(pmod(id, lit(3)) === 0,
        lit("<html><body><script type=\"text/javascript\">\nvar x = 1;\n</script>"))
        .otherwise(lit("")),
      when(pmod(id, lit(4)) === 0, lit("<style>\np { color: red }\n</style>"))
        .otherwise(lit("")),
      when(pmod(id, lit(3)) === 1, concat(lit("<p>"), text, lit("</p>")))
        .otherwise(text),
      when(pmod(id, lit(5)) === 0,
        lit(" a &amp; b &lt;x&gt; &quot;q&quot; &#39;s&#39; &nbsp;end"))
        .otherwise(lit("")),
      when(pmod(id, lit(7)) === 0,
        lit("\n<a href=\"/h\">Home</a> | <a href=\"/a\">About</a>"))
        .otherwise(lit("")),
      when(pmod(id, lit(11)) === 0, lit("\nok")).otherwise(lit("")),
      when(pmod(id, lit(3)) === 0, lit("</body></html>")).otherwise(lit("")))

  // ONE line on purpose — the piiAugSql stripMargin-splice discipline
  private def htmlAugSql(text: String, id: String): String = Seq(
    s"CASE WHEN $id % 3 = 0 THEN '<html><body><script type=\"text/javascript\">' || chr(10) || 'var x = 1;' || chr(10) || '</script>' ELSE '' END",
    s"CASE WHEN $id % 4 = 0 THEN '<style>' || chr(10) || 'p { color: red }' || chr(10) || '</style>' ELSE '' END",
    s"CASE WHEN $id % 3 = 1 THEN '<p>' || $text || '</p>' ELSE $text END",
    s"CASE WHEN $id % 5 = 0 THEN ' a &amp; b &lt;x&gt; &quot;q&quot; &#39;s&#39; &nbsp;end' ELSE '' END",
    s"CASE WHEN $id % 7 = 0 THEN chr(10) || '<a href=\"/h\">Home</a> | <a href=\"/a\">About</a>' ELSE '' END",
    s"CASE WHEN $id % 11 = 0 THEN chr(10) || 'ok' ELSE '' END",
    s"CASE WHEN $id % 3 = 0 THEN '</body></html>' ELSE '' END"
  ).mkString(" || ")

  /** HTML/BOILERPLATE CLEANING — the raw-corpus pipeline's first
    * operator (the r15-verdict #3 ask): tag/script/style stripping,
    * entity decoding, line-level boilerplate removal. Per-document
    * diagnostics (tag/entity counts on the raw text) plus the md5 of
    * the cleaned text and the `changed` flag the funnel counts. Pure
    * per-row regex work; no shuffle beyond the verification sort.
    */
  def htmlCleaned(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"curation.htmlCleaned:$sfDir")(
      htmlCleanedBuild(spark, sfDir))

  /** ONE-PASS PER-DOCUMENT OUTPUT/REDACTION FRAME — the regex-family
    * twin of [[TextAnalysis.docSignals]] (r21-verdict #1, adapted to
    * measurement): the HTML-clean diagnostics + md5, the four PII hit
    * counts + redacted md5, and the pipeline's clean-then-redact output
    * md5 all derive from the same `documents` scan with heavily shared
    * regex chains (the clean text feeds both `clean_md5` and the
    * pipeline chain), yet r21 computed them as THREE separate spread
    * scans (htmlCleaned ~17 regexes over 100% of docs, piiRedacted ~8
    * over 100%, and the pipeline's survivor map ~25 over the ~80% that
    * survive). This frame pays ONE scan + spread and evaluates each
    * chain once per row — staged withColumns, because CollapseProject
    * does not inline non-cheap expressions referenced more than once,
    * so `haug`/`aug`/`clean` are shared by their consumers. A fused-
    * into-docSignals variant was measured and REJECTED: widening the
    * signal frame's cache taxed its many narrow consumers more than the
    * saved scan (same-window BenchOrder A/B, OPTIMIZATION_r22.md).
    * Chain spellings are the oracle-pinned ones (clean_md5,
    * redacted_md5, text_redacted_md5 all hash-checked).
    */
  private[graft] def docOutputs(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"curation.docOutputs:$sfDir")(
      docOutputsBuild(spark, sfDir))

  private def docOutputsBuild(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .withColumn("haug", htmlAugmented(col("text"), col("doc_id")))
      .withColumn("aug", piiAugmented(col("text"), col("doc_id")))
      .withColumn("clean", htmlClean(col("haug")))
      .select(
        Seq(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          size(regexp_extract_all(col("haug"), lit("<[^>]*>"), lit(0)))
            .alias("n_tags"),
          size(regexp_extract_all(col("haug"),
            lit("&(amp|lt|gt|quot|nbsp|#39);"), lit(0))).alias("n_entities"),
          (col("clean") =!= col("haug")).alias("changed"),
          md5(col("clean")).alias("clean_md5"))
          ++ PiiRules.map { case (name, pat, _) =>
            size(regexp_extract_all(col("aug"), lit(pat), lit(0)))
              .alias(s"n_$name") }
          ++ Seq(
            md5(piiRedact(col("aug"))).alias("redacted_md5"),
            redactedMd5OfClean(col("clean"), col("doc_id"))
              .alias("text_redacted_md5")): _*)
      // three registered consumers project/join from this one pass
      // (html gate, pii gate, pipeline); tracked for release
      .transform(graft.CacheLifecycle.sessionPersist)

  private def htmlCleanedBuild(spark: SparkSession, sfDir: String): DataFrame =
    // narrow projection of the fused one-pass output frame (persisted
    // there) — this gate adds only the verification sort; persisted so
    // its second consumer (the funnel flag leg) is a cached read
    docOutputs(spark, sfDir)
      .select(col("doc_id"), col("n_tags"), col("n_entities"),
        col("changed"), col("clean_md5"))
      .orderBy("doc_id")
      .transform(graft.CacheLifecycle.sessionPersist)

  /** PII rules in APPLICATION ORDER (name, pattern, replacement) — the
    * order is load-bearing: the credit-card rule must fire before the
    * phone rule so a partially-consumed card number can never be
    * re-matched as a phone (the patterns are disjoint on intact text —
    * a spec pins it — but sequential redaction makes the guarantee
    * structural rather than coincidental). Patterns stay inside the
    * common Java-regex ∩ RE2 subset (no lookaround, no backreferences)
    * so the Spark plans and the DuckDB oracle execute the SAME automaton;
    * separators are hyphen-only for the same reason — a production
    * deployment widens the alternations, not the machinery.
    */
  private[graft] val PiiRules: Seq[(String, String, String)] = Seq(
    ("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
    ("cc", "\\b\\d{4}-\\d{4}-\\d{4}-\\d{4}\\b", "[CC]"),
    ("phone", "\\b\\d{3}-\\d{3}-\\d{4}\\b", "[PHONE]"),
    ("ipv4", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "[IP]"))

  /** Sequential redaction over [[PiiRules]] — pure narrow per-row work
    * (the same stateless-map shape as [[denylistRedact]]): four chained
    * codegen'd `regexp_replace`s, no shuffle, composable onto any text
    * column.
    */
  private[graft] def piiRedact(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    PiiRules.foldLeft(c) { case (acc, (_, pat, rep)) => regexp_replace(acc, pat, rep) }

  private def piiRedactSql(inner: String): String =
    PiiRules.foldLeft(inner) { case (acc, (_, pat, rep)) =>
      s"regexp_replace($acc, '$pat', '$rep', 'g')" }

  /** PII-bearing demo text: the fixture vocabulary has no digits or
    * @-signs (the same gap the denylist stage notes), so the PII stage
    * plants DETERMINISTIC synthetic contact spans derived from doc_id —
    * residue classes 3/7/4/5 give each rule independent coverage plus
    * every overlap combination — and both engines compute the identical
    * augmented string (integer mod + lpad + concat, nothing
    * engine-specific). On a real corpus the stage runs directly on
    * `text`; the augmentation is the demo's input, not part of the
    * operator.
    */
  private[operators] def piiAugmented(text: org.apache.spark.sql.Column,
      id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def pad(m: Int, w: Int) = lpad(pmod(id, lit(m)).cast("string"), w, "0")
    concat(text,
      when(pmod(id, lit(3)) === 0,
        concat(lit(" contact user"), id.cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(pmod(id, lit(7)) === 0,
        concat(lit(" card 4111-1111-1111-"), pad(10000, 4))).otherwise(lit("")),
      when(pmod(id, lit(4)) === 0,
        concat(lit(" call 555-"), pad(1000, 3), lit("-"), pad(10000, 4)))
        .otherwise(lit("")),
      when(pmod(id, lit(5)) === 0,
        concat(lit(" host 10."), pmod(id, lit(200)).cast("string"), lit(".0."),
          pmod(id, lit(250)).cast("string"))).otherwise(lit("")))
  }

  // ONE line on purpose: this splices into outer stripMargin oracle
  // strings, and a continuation line starting with " || " would have its
  // first "|" eaten as a margin marker, silently corrupting the SQL
  private def piiAugSql(text: String, id: String): String = Seq(
    text,
    s"CASE WHEN $id % 3 = 0 THEN ' contact user' || CAST($id AS VARCHAR) || '@example.com' ELSE '' END",
    s"CASE WHEN $id % 7 = 0 THEN ' card 4111-1111-1111-' || lpad(CAST($id % 10000 AS VARCHAR), 4, '0') ELSE '' END",
    s"CASE WHEN $id % 4 = 0 THEN ' call 555-' || lpad(CAST($id % 1000 AS VARCHAR), 3, '0') || '-' || lpad(CAST($id % 10000 AS VARCHAR), 4, '0') ELSE '' END",
    s"CASE WHEN $id % 5 = 0 THEN ' host 10.' || CAST($id % 200 AS VARCHAR) || '.0.' || CAST($id % 250 AS VARCHAR) ELSE '' END"
  ).mkString(" || ")

  /** PII REDACTION: per-document hit counts for each [[PiiRules]] family
    * plus the md5 of the sequentially-redacted text (narrow output, like
    * [[denylistRedact]]). Counts are taken per rule on the UNREDACTED
    * text — independent diagnostics, the per-rule analog of the funnel's
    * overlapping flag counts — and the redaction itself is the chained
    * fold, so counts and redaction cannot disagree about what a rule
    * matches. Pure per-row regex work: no shuffle beyond the
    * verification sort.
    */
  def piiRedacted(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): every flag-frame/pipeline
    // re-invocation otherwise re-analyzes this stage's plan on the driver
    graft.CacheLifecycle.memoized(s"curation.piiRedacted:$sfDir")(
      piiRedactedBuild(spark, sfDir))

  private def piiRedactedBuild(spark: SparkSession, sfDir: String): DataFrame =
    // narrow projection of the fused one-pass output frame (see
    // [[docOutputs]]); persisted for its funnel-leg consumer
    docOutputs(spark, sfDir)
      .select(col("doc_id") +:
        (PiiRules.map { case (name, _, _) => col(s"n_$name") }
          :+ col("redacted_md5")): _*)
      .orderBy("doc_id")
      .transform(graft.CacheLifecycle.sessionPersist)

  /** Temperature-weighted corpus RESAMPLING (α = 0.5): language l with
    * n_l documents gets a target of `N · ⌊√n_l⌋ / Σ_m ⌊√n_m⌋` slots
    * (N = half the corpus), flattening the language distribution toward
    * low-resource languages — the standard multilingual mixing rule. The
    * integer-sqrt weights keep every quantity exact integer math (no
    * float pow/sum to drift cross-engine). Selection within a language is
    * deterministic "random": documents are ordered by md5(doc_id) and the
    * first target_l win.
    *
    * The rank is computed SHARDED, never as one window per language: a
    * real multilingual corpus is Zipfian — `partitionBy(lang)` would put
    * ~half of 100 TB in a single window partition (full shuffle on a
    * skewed key + a single-task sort). Because the shard key is a PREFIX
    * of the sort key (first two md5 hex chars → 256 uniform shards),
    * shards are contiguous ranges of the global md5 order, so
    * `global rank = rank within (lang, shard) + Σ counts of earlier
    * shards`. The offsets come from a (lang × 256)-row aggregate that
    * rides a broadcast; the corpus shuffles once on the composite
    * (lang, shard) key whose partitions are 1/256th the skewed size —
    * identical output, de-skewed plan.
    */
  def temperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).alias("n_l"))
      .withColumn("w_l", floor(sqrt(col("n_l"))).cast(LongType))
    val totals = counts.agg(sum(col("n_l")).alias("n_total"),
      sum(col("w_l")).alias("w_sum"))
    val targets = counts.crossJoin(broadcast(totals))
      .select(col("lang"),
        expr("(n_total div 2) * w_l div w_sum").alias("target_l"))
    val keyed = docs
      .withColumn("md5_key", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("md5_key"), 1, 2))
    // per-(lang, shard) row counts → rank offset of each shard = running
    // sum of the shards sorted before it; ≤ lang_count × 256 rows total,
    // so the cumulative window and the join back are broadcast-cheap
    val offsets = keyed.groupBy(col("lang"), col("shard"))
      .agg(count(lit(1)).alias("n_shard"))
      .withColumn("shard_offset",
        sum(col("n_shard")).over(
          Window.partitionBy(col("lang")).orderBy(col("shard")))
          - col("n_shard"))
      .select(col("lang"), col("shard"), col("shard_offset"))
    val ranked = keyed
      .withColumn("shard_rank",
        row_number().over(
          Window.partitionBy(col("lang"), col("shard")).orderBy(col("md5_key"))))
      .join(broadcast(offsets), Seq("lang", "shard"))
      // long, never int: the sharded rank exists precisely because one
      // language can hold >2³¹ documents at 100 TB — an int cast here
      // would wrap silently under non-ANSI semantics and corrupt the
      // sample, reintroducing the limit the sharding removed
      .withColumn("sample_rank", col("shard_offset") + col("shard_rank"))
    ranked.join(broadcast(targets), Seq("lang"))
      .filter(col("sample_rank") <= col("target_l"))
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy("doc_id")
  }

  /** Share of each language's char mass the token-budget mix keeps. */
  private[operators] val BudgetPct = 30L

  /** TOKEN-BUDGET mixture selection: each language contributes documents
    * until a fixed share ([[BudgetPct]]%) of its TOKEN MASS (chars as the
    * tokenizer-free proxy) is filled — the unit a training mixture
    * actually budgets in, where [[temperatureMix]] targets document
    * COUNTS. Selection order is the same deterministic md5 shuffle; the
    * cutoff is a grouped PREFIX SUM: a document is kept iff the char mass
    * of the documents ordered before it is still under the language's
    * budget (the boundary-crossing document is included, making the
    * budget a floor). Every quantity is an exact integer.
    *
    * The prefix sum is computed SHARDED, generalizing the temperature
    * mix's de-skewed rank from row counts to VALUE sums: because the
    * two-hex-char shard is a PREFIX of the md5 sort key, shards are
    * contiguous runs of the per-language order, so `chars_before = Σ char
    * totals of earlier shards (a (lang × 256)-row broadcast) + in-shard
    * running sum − own chars`. Identical output to a per-language global
    * window; the corpus shuffles once on the composite (lang, shard) key
    * whose partitions are 1/256th of the most skewed language.
    */
  def tokenBudgetMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val budgets = docs.groupBy(col("lang"))
      .agg(sum(col("n_chars")).alias("chars_total"))
      .select(col("lang"),
        expr(s"chars_total * $BudgetPct div 100").alias("budget_chars"))
    val keyed = docs
      .withColumn("md5_key", md5(col("doc_id").cast("string")))
      .withColumn("shard", substring(col("md5_key"), 1, 2))
    val offsets = keyed.groupBy(col("lang"), col("shard"))
      .agg(sum(col("n_chars")).alias("chars_shard"))
      .withColumn("chars_offset",
        sum(col("chars_shard")).over(
          Window.partitionBy(col("lang")).orderBy(col("shard")))
          - col("chars_shard"))
      .select(col("lang"), col("shard"), col("chars_offset"))
    val inShard = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("md5_key"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed
      .withColumn("prefix_in_shard", sum(col("n_chars")).over(inShard))
      .join(broadcast(offsets), Seq("lang", "shard"))
      .withColumn("chars_before",
        col("chars_offset") + col("prefix_in_shard") - col("n_chars"))
      .join(broadcast(budgets), Seq("lang"))
      .filter(col("chars_before") < col("budget_chars"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("chars_before"))
      .orderBy("doc_id")
  }

  /** SOURCE-OVERLAP MATRIX: pairwise token-set Jaccard between corpus
    * sources — the composition diagnostic run before fixing mixture
    * weights (two sources with near-1 overlap are mirrors and should not
    * both get full weight; near-0 overlap marks genuinely new material).
    * Group-level set similarity, the complement of the document-level
    * dedup tier.
    *
    * Shape: distinct (source, token-hash) — the vocabulary projection,
    * orders of magnitude smaller than the corpus — then a self-equi-join
    * on the 8-byte hash ([[Dedup]]'s candidate-join discipline; fan-out
    * per token is bounded by the SOURCE count, not the corpus). At 100 TB
    * add a document-frequency cap so ubiquitous stopword tokens don't
    * dominate the join, exactly as the shingle pipeline prescribes.
    *
    * Hash-vs-string asymmetry against the oracle: this side compares
    * md5-60 TOKEN HASHES while the DuckDB twin joins exact token strings,
    * so a 60-bit collision would deflate a source's vocabulary count (or
    * inflate n_common) and surface as a hash-mismatch in the harness —
    * accepted under the same vanishing-probability discipline as
    * [[Dedup.shingleIntersections]] (~10⁻¹⁸ per pair at fixture
    * vocabulary sizes); the df-cap note above is also the escape hatch
    * here, shrinking the joined vocabulary if a colliding corpus ever
    * materializes.
    */
  def sourceOverlapMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    val vocab = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("source"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).alias("tok"))
      .select(col("source"),
        graft.functions.TextFunctions.md5Hash60(col("tok")).alias("h"))
      .distinct()
      .transform(graft.CacheLifecycle.sessionPersist)
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).alias("n"))
    vocab.alias("a")
      .join(vocab.alias("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").alias("source_a"), col("b.source").alias("source_b"))
      .agg(count(lit(1)).alias("n_common"))
      .join(sizes.alias("sa"), col("source_a") === col("sa.source"))
      .join(sizes.alias("sb"), col("source_b") === col("sb.source"))
      .select(col("source_a"), col("source_b"), col("n_common"),
        col("sa.n").alias("n_a"), col("sb.n").alias("n_b"),
        // reference the UNDERLYING columns, not the sibling aliases —
        // sibling references resolve only via lateral-column-alias support
        (col("n_common") / (col("sa.n") + col("sb.n") - col("n_common")))
          .alias("jaccard"))
      .orderBy("source_a", "source_b")
  }

  /** The FULL curation pipeline as one declarative plan — what a
    * training-data run actually executes between raw corpus and
    * tokenization: drop near-dup non-survivors (MinHash+LSH verified
    * pairs), drop contaminated documents (EITHER the 50%-overlap ratio
    * rule OR the exact 13-gram rule), keep only quality-passing documents
    * (Gopher-style repetition rules). Composing the tiers in one query is
    * the point: Catalyst sees every stage, the session-persisted shingle
    * table feeds dedup and both decontamination branches (one shingling
    * pass, not three), and the anti/semi joins are all key-only — the
    * document payload rides through exactly once.
    */
  def curationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val removals = Dedup.minhashLsh(spark, sfDir)
      .select(col("doc_b").alias("doc_id"))
    val contaminated = decontaminate(spark, sfDir).select(col("doc_id"))
      .union(decontaminateExact(spark, sfDir).select(col("doc_id")))
      .union(decontaminateSemantic(spark, sfDir).select(col("doc_id")))
      .distinct()
    val qualityKeep = repetitionQuality(spark, sfDir)
      .filter(col("keep")).select(col("doc_id"))
    val gateKeep = qualityGate(spark, sfDir)
      .filter(col("keep")).select(col("doc_id"))
    // The pipeline rides the fused output frame: the survivor map's
    // clean-then-redact md5 is [[docOutputs]]'s `text_redacted_md5`
    // column, computed in the one shared corpus regex pass — the per-row
    // regex work no longer re-runs here, so the pipeline itself is a
    // key-only anti/semi chain over cached frames plus the verification
    // sort. Output rows and their doc_id total order are unchanged.
    docOutputs(spark, sfDir)
      // the held-out benchmark source itself never enters training data —
      // decontamination protects against LEAKS of it; this drops the
      // source proper
      .filter(col("source") =!= BenchmarkSource)
      .join(removals, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(qualityKeep, Seq("doc_id"), "left_semi")
      .join(gateKeep, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text_redacted_md5"))
      .orderBy("doc_id")
      // two registered consumers (own row, funnel n_final) — the anti/
      // semi join chain runs once per session; tracked for release
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** INGESTION-TIME (STREAMED) CURATION as a registered gate — the
    * corpus arrives as two doc-id-ordered batches against an
    * empty-seeded band index, each batch running the per-arrival stage
    * subset through [[graft.streaming.EventStream.curationIngestFoldBatch]]
    * (the exact foreachBatch body of the streaming query; the stream
    * form itself, plus redelivery/restart/funnel-additivity, is pinned
    * in StreamingSpec): benchmark drop, stored-index MinHash dedup
    * probe, exact 13-gram decon, per-doc repetition gate, and the
    * shared clean+redact output map. The oracle is the from-scratch
    * SQL over the SAME stage set (the existing pipeline CTEs minus the
    * corpus-statistic stages) — streamed-over-batches ≡ one-shot,
    * per-document, through the hash of the redacted text.
    *
    * Memoized durably: seed and folds are commit-gated, so a
    * second JVM replays both batches as no-ops and re-reads the stored
    * survivors.
    */
  def curationStreamed(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"curation.streamed:$sfDir") {
      import graft.streaming.EventStream
      val base = Layout.tmpPath("graft-curlog", sfDir)
      val (outDir, funnelDir, indexDir) =
        (s"$base/out", s"$base/funnel", s"$base/index")
      val docs = Tables.documents(spark, sfDir)
      val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .head().getDouble(0)
      EventStream.minhashIndexSeed(spark, indexDir, docs.filter(lit(false)))
      val benchHashes = benchHashes13Of(
        docs.filter(col("source") === BenchmarkSource))
        .transform(graft.CacheLifecycle.sessionPersist)
      EventStream.curationIngestFoldBatch(spark, outDir, funnelDir, indexDir,
        benchHashes, docs.filter(col("doc_id") <= mid), 0L)
      EventStream.curationIngestFoldBatch(spark, outDir, funnelDir, indexDir,
        benchHashes, docs.filter(col("doc_id") > mid), 1L)
      EventStream.curationStreamRead(spark, outDir).orderBy("doc_id")
    }

  /** Per-document FLAG FRAME joining every curation stage's verdict onto
    * the document key: one narrow row per document with each rule's
    * independent flag, the per-family PII hit counts, and the pipeline's
    * final keep decision recomputed from the flags (the same conjunction
    * [[curationPipeline]] evaluates with its anti/semi chain — a spec
    * pins the equivalence). Every input is an already-session-persisted
    * stage frame, so building this is a chain of key-only left joins on
    * doc_id — no stage recomputes, the payload never rides.
    *
    * 100 TB posture: each join shuffles only (doc_id, flag) pairs; the
    * frame itself is O(corpus rows) × a few dozen bytes. This is the
    * signal-frame pattern [[qualityGate]] established, widened to the
    * whole pipeline.
    */
  private[graft] def curationFlags(spark: SparkSession, sfDir: String): DataFrame =
    // memoized by KEY, not only plan-matched ([[CacheLifecycle
    // .sessionPersist]]): the frame unions ten stage reads, and a
    // re-invocation that misses the cache-manager's canonical-plan match
    // re-materializes the whole union — measured 1.7 s per funnel call
    // at sf0.1 even with every stage warm; the memo pins the one frame
    graft.CacheLifecycle.memoized(s"curation.flags:$sfDir") {
      curationFlagsBuild(spark, sfDir)
    }

  private def curationFlagsBuild(spark: SparkSession, sfDir: String): DataFrame = {
    // r22 shape (the r21-verdict #1 ask, adapted to measurement): the
    // corpus-grain signals now live as COLUMNS of exactly two cached
    // one-pass frames — quality/gate keep in [[TextAnalysis.docSignals]],
    // html_changed + the PII counts + source in [[docOutputs]] — so the
    // flag frame is ONE doc_id equi-join of those two cached frames plus
    // a left join of the five MEMBERSHIP sets (dedup removals,
    // winnow-overlap endpoints, the three decon rungs), pivoted from a
    // tiny union. r21's nine-leg (doc_id, sig, v) union + pivot + corpus
    // left join shuffled ~8 narrow rows per document through the pivot
    // exchange plus two corpus-grain join exchanges (warm marginal
    // measured 2.0 s in the r22 baseline window); this shape shuffles
    // each document's row ONCE per side of the one join, and the
    // membership sets are flagged-subset-sized, so their pivot is a tiny
    // aggregate and the left join broadcasts under AQE (degrading to one
    // doc_id-keyed shuffle at 100 TB — still strictly fewer corpus-grain
    // exchanges than the union).
    //
    // winnow endpoints — the copied-block signal the funnel counts (r19
    // verdict #6): a document appearing in any served overlap pair
    // carries boilerplate-block reuse; shares the memoized pair frame
    // with the registered gates.
    val winnowPairs = Dedup.winnowingOverlapPairs(spark, sfDir)
    val winnowDocs = winnowPairs.select(col("doc_a").alias("doc_id"))
      .unionByName(winnowPairs.select(col("doc_b").alias("doc_id")))
      .distinct()
    val memberFlags = Seq("is_dup", "winnow_overlap", "contam_ratio",
      "contam_exact", "contam_sem")
    val memberSets = Seq(
      Dedup.minhashLsh(spark, sfDir)
        .select(col("doc_b").alias("doc_id")).distinct(),
      winnowDocs,
      decontaminate(spark, sfDir).select(col("doc_id")),
      decontaminateExact(spark, sfDir).select(col("doc_id")),
      decontaminateSemantic(spark, sfDir).select(col("doc_id")))
    // each set frame ends in an exchange or cached read (persisted stage
    // frames / aggregates), so the coalesce narrows only its bounded
    // post-exchange tail — the r21 leg discipline, over five tiny sets
    val marks = memberFlags.zip(memberSets).map { case (name, df) =>
      df.select(col("doc_id"), lit(name).alias("sig")).coalesce(1)
    }.reduce(_.unionByName(_))
      .groupBy(col("doc_id"))
      .agg(max(col("sig") === memberFlags.head).alias(memberFlags.head),
        memberFlags.tail.map(s => max(col("sig") === s).alias(s)): _*)
    val gateProj = withGateSignals(TextAnalysis.docSignals(spark, sfDir))
      .select(col("doc_id"),
        (col("top_token_n").isNotNull && col("rep_keep")).alias("qual_keep"),
        (col("top_token_n").isNotNull &&
          col("quality_score") >= GateKeepMin).alias("gate_keep"))
    docOutputs(spark, sfDir)
      .select(Seq(col("doc_id"), col("source"),
        (col("source") === BenchmarkSource).alias("is_bench"),
        col("changed").alias("html_changed")) ++
        PiiRules.map { case (name, _, _) => col(s"n_$name") }: _*)
      // inner join: both one-pass frames carry every document by
      // construction (docSignals' joins are LEFT; docOutputs is a map)
      .join(gateProj, Seq("doc_id"))
      .join(marks, Seq("doc_id"), "left")
      .na.fill(false, memberFlags)
      .withColumn("kept",
        !col("is_bench") && !col("is_dup") &&
          !col("contam_ratio") && !col("contam_exact") && !col("contam_sem") &&
          col("qual_keep") && col("gate_keep"))
      // one registered consumer today (the funnel), but the frame is the
      // natural seam for any future per-rule diagnostic; tracked for
      // release
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** Per-stage FUNNEL REPORT for the curation pipeline — the single-row
    * monitoring record every production curation run emits: how many
    * documents each rule flags INDEPENDENTLY (the sets overlap — these
    * are per-rule diagnostics, not a partition of the drop) plus the
    * final keep count. ONE conditional-sum aggregate over
    * [[curationFlags]] — the former spelling cross-joined ten one-row
    * aggregates, which was ten job submissions whose fixed cost grew
    * linearly with stage count; the flag frame collapses it to a single
    * pass (the per-rule sets still overlap — conditional counts, not a
    * partition).
    */
  def curationFunnelReport(spark: SparkSession, sfDir: String): DataFrame = {
    def n(cond: Column, alias: String) = count(when(cond, lit(1))).alias(alias)
    val aggs = Seq(
      count(lit(1)).alias("n_documents"),
      n(col("is_bench"), "n_benchmark"),
      n(col("is_dup"), "n_dedup_removed"),
      n(col("contam_ratio"), "n_contaminated_ratio"),
      n(col("contam_exact"), "n_contaminated_exact"),
      n(col("contam_sem"), "n_contaminated_semantic"),
      n(!coalesce(col("qual_keep"), lit(false)), "n_quality_fail"),
      n(!coalesce(col("gate_keep"), lit(false)), "n_gate_fail"),
      n(col("html_changed"), "n_html_changed_docs"),
      n(col("winnow_overlap"), "n_winnow_overlap_docs"),
      n(col("kept"), "n_final")) ++
      PiiRules.map { case (name, _, _) =>
        n(col(s"n_$name") > 0, s"n_pii_${name}_docs") }
    curationFlags(spark, sfDir).agg(aggs.head, aggs.tail: _*)
  }

  /** PER-SOURCE curation report — the funnel grouped by origin: how much
    * of each source the pipeline keeps and which rule bites it (the
    * number that decides whether a crawl dump stays in the mix). One
    * conditional-sum aggregate over the memoized [[curationFlags]] frame
    * — the flag frame's second registered consumer, which is exactly the
    * reuse the memo exists for; `source` is carried IN the frame (it
    * joins the catalog exactly once, at build), so this report adds no
    * corpus-wide join of its own. n_contaminated counts docs flagged by
    * ANY decon rung (the per-rung splits are the funnel's columns).
    */
  def curationSourceReport(spark: SparkSession, sfDir: String): DataFrame = {
    def n(cond: Column, alias: String) = count(when(cond, lit(1))).alias(alias)
    curationFlags(spark, sfDir)
      .groupBy(col("source"))
      .agg(
        count(lit(1)).alias("n_docs"),
        n(col("is_dup"), "n_dup"),
        n(col("contam_ratio") || col("contam_exact") || col("contam_sem"),
          "n_contaminated"),
        n(!col("qual_keep"), "n_quality_fail"),
        n(!col("gate_keep"), "n_gate_fail"),
        n(col("kept"), "n_kept"))
      .withColumn("keep_rate", col("n_kept").cast("double") / col("n_docs"))
      .orderBy("source")
  }

  val oracles: Map[String, String] = Map(
    "curation_source_report" ->
      s"""WITH $pipelineCtes,
         |per_doc AS (
         |  SELECT source,
         |         CASE WHEN doc_id IN (SELECT doc_id FROM removals)
         |              THEN 1 END AS dup_hit,
         |         CASE WHEN doc_id IN (SELECT doc_id FROM contam_ratio)
         |                OR doc_id IN (SELECT doc_id FROM contam_exact)
         |                OR doc_id IN (SELECT doc_id FROM contam_semantic)
         |              THEN 1 END AS contam_hit,
         |         CASE WHEN doc_id NOT IN (SELECT doc_id FROM quality_keep)
         |              THEN 1 END AS qfail_hit,
         |         CASE WHEN doc_id NOT IN (SELECT doc_id FROM gate_keep)
         |              THEN 1 END AS gfail_hit,
         |         CASE WHEN $pipelineKeepWhere THEN 1 END AS kept_hit
         |  FROM documents)
         |SELECT source,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(dup_hit) AS BIGINT) AS n_dup,
         |       CAST(count(contam_hit) AS BIGINT) AS n_contaminated,
         |       CAST(count(qfail_hit) AS BIGINT) AS n_quality_fail,
         |       CAST(count(gfail_hit) AS BIGINT) AS n_gate_fail,
         |       CAST(count(kept_hit) AS BIGINT) AS n_kept,
         |       CAST(count(kept_hit) AS DOUBLE) / count(*) AS keep_rate
         |FROM per_doc GROUP BY 1 ORDER BY source""".stripMargin,
    "docs_decontaminate" ->
      s"""WITH ${Dedup.shingleCte},
         |bench AS (SELECT doc_id FROM documents WHERE source = '$BenchmarkSource'),
         |bsh AS (
         |  SELECT DISTINCT s FROM sh
         |  WHERE doc_id IN (SELECT doc_id FROM bench)),
         |ov AS (
         |  SELECT sh.doc_id, CAST(count(*) AS BIGINT) AS n_overlap
         |  FROM sh JOIN bsh USING (s)
         |  WHERE sh.doc_id NOT IN (SELECT doc_id FROM bench)
         |  GROUP BY 1)
         |SELECT o.doc_id AS doc_id, n_overlap,
         |       CAST(z.n AS INT) AS n_shingles,
         |       n_overlap / z.n AS contamination
         |FROM ov o JOIN sizes z ON o.doc_id = z.doc_id
         |WHERE n_overlap / z.n >= $ContaminationThreshold
         |ORDER BY doc_id""".stripMargin,
    "docs_curation_pipeline" ->
      s"""WITH $pipelineCtes
         |SELECT doc_id, lang, source, n_chars,
         |       md5(${piiRedactSql("(SELECT caug_text FROM caug WHERE caug.doc_id = documents.doc_id)")})
         |         AS text_redacted_md5
         |FROM documents
         |WHERE $pipelineKeepWhere
         |ORDER BY doc_id""".stripMargin,
    // the streamed gate: the SAME CTE pieces restricted to the
    // per-arrival stage subset (no corpus-statistic stages) — streamed
    // over batches ≡ this one-shot SQL, per document, through the
    // redacted-text hash
    "docs_curation_streamed" ->
      s"""WITH ${Dedup.shingleCte},
         |${Dedup.removalsCte},
         |$contaminationCte,
         |$qualityCte,
         |quality_keep AS (
         |  SELECT m.doc_id FROM m JOIN top ON m.doc_id = top.doc_id
         |  WHERE $qualityKeepSql),
         |haug AS (
         |  SELECT doc_id, ${htmlAugSql("text", "doc_id")} AS haug_text
         |  FROM documents),
         |hclean AS (
         |  SELECT doc_id, ${htmlCleanSql("haug_text")} AS clean_text
         |  FROM haug),
         |caug AS (
         |  SELECT doc_id, ${piiAugSql("clean_text", "doc_id")} AS caug_text
         |  FROM hclean)
         |SELECT doc_id, lang, source, n_chars,
         |       md5(${piiRedactSql("(SELECT caug_text FROM caug WHERE caug.doc_id = documents.doc_id)")})
         |         AS text_redacted_md5
         |FROM documents
         |WHERE source != '$BenchmarkSource'
         |  AND doc_id NOT IN (SELECT doc_id FROM removals)
         |  AND doc_id NOT IN (SELECT doc_id FROM contam_exact)
         |  AND doc_id IN (SELECT doc_id FROM quality_keep)
         |ORDER BY doc_id""".stripMargin,
    "curation_funnel_report" ->
      s"""WITH $pipelineCtes,
         |${Dedup.winnowFpCte},
         |${Dedup.winnowPairsCte},
         |wdocs AS (SELECT doc_a AS doc_id FROM wpairs
         |          UNION SELECT doc_b FROM wpairs)
         |SELECT (SELECT count(*) FROM documents) AS n_documents,
         |       (SELECT count(*) FROM bench) AS n_benchmark,
         |       (SELECT count(*) FROM removals) AS n_dedup_removed,
         |       (SELECT count(*) FROM contam_ratio) AS n_contaminated_ratio,
         |       (SELECT count(*) FROM contam_exact) AS n_contaminated_exact,
         |       (SELECT count(*) FROM contam_semantic) AS n_contaminated_semantic,
         |       (SELECT count(*) FROM documents)
         |         - (SELECT count(*) FROM quality_keep) AS n_quality_fail,
         |       (SELECT count(*) FROM gate_final
         |        WHERE quality_score < $GateKeepMin) AS n_gate_fail,
         |       (SELECT count(*) FROM hclean
         |        WHERE clean_text != haug_text) AS n_html_changed_docs,
         |       (SELECT count(*) FROM wdocs) AS n_winnow_overlap_docs,
         |       (SELECT count(*) FROM documents
         |        WHERE $pipelineKeepWhere) AS n_final,
         |${PiiRules.map { case (name, pat, _) =>
             s"       (SELECT count(*) FROM aug WHERE len(regexp_extract_all(aug_text, '$pat')) > 0) AS n_pii_${name}_docs"
           }.mkString(",\n")}""".stripMargin,
    "docs_decontaminate_semantic" ->
      s"""WITH ${Similarity.quantizedSql},
         |${Similarity.cellsSql},
         |bench AS (SELECT doc_id FROM documents WHERE source = '$BenchmarkSource'),
         |bvv AS (
         |  SELECT cell, v AS bv, n2 AS bn2 FROM cells
         |  WHERE vec_id IN (SELECT doc_id FROM bench)),
         |scored AS (
         |  SELECT a.vec_id AS doc_id,
         |         ${V.qdotSql("a.v", "b.bv", Similarity.Dim)}
         |           / (sqrt(a.n2) * sqrt(b.bn2)) AS cos_sim
         |  FROM cells a JOIN bvv b USING (cell)
         |  WHERE a.vec_id NOT IN (SELECT doc_id FROM bench))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bench_neighbors,
         |       max(cos_sim) AS max_cos
         |FROM scored WHERE cos_sim >= $SemanticContamThreshold
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "docs_quality_gate" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |$qualityCte,
         |$gateSignalCtes
         |SELECT doc_id, rep_ok, len_ok, rare_ok, lang_ok, quality_score,
         |       quality_score >= $GateKeepMin AS keep
         |FROM gate_final ORDER BY doc_id""".stripMargin,
    // the md5 gate over the cleaned text: any divergence in the strip/
    // decode/tidy automaton between engines fails the hash
    "docs_html_cleaned" ->
      s"""WITH haug AS (
         |  SELECT doc_id, ${htmlAugSql("text", "doc_id")} AS haug_text
         |  FROM documents),
         |hc AS (
         |  SELECT doc_id, haug_text, ${htmlCleanSql("haug_text")} AS clean_text
         |  FROM haug)
         |SELECT doc_id,
         |       CAST(len(regexp_extract_all(haug_text, '<[^>]*>')) AS INT) AS n_tags,
         |       CAST(len(regexp_extract_all(haug_text, '&(amp|lt|gt|quot|nbsp|#39);')) AS INT) AS n_entities,
         |       clean_text != haug_text AS changed,
         |       md5(clean_text) AS clean_md5
         |FROM hc ORDER BY doc_id""".stripMargin,
    "docs_pii_redacted" ->
      s"""WITH aug AS (
         |  SELECT doc_id, ${piiAugSql("text", "doc_id")} AS aug_text
         |  FROM documents)
         |SELECT doc_id,
         |${PiiRules.map { case (name, pat, _) =>
             s"       CAST(len(regexp_extract_all(aug_text, '$pat')) AS INT) AS n_$name"
           }.mkString(",\n")},
         |       md5(${piiRedactSql("aug_text")}) AS redacted_md5
         |FROM aug ORDER BY doc_id""".stripMargin,
    "docs_decontaminate_exact" ->
      s"""WITH toks13 AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |sharr13 AS (
         |  SELECT doc_id, ${TextFunctions.shinglesSql("t", 13)} AS sh FROM toks13),
         |sh13 AS (SELECT doc_id, unnest(sh) AS s FROM sharr13),
         |bench AS (SELECT doc_id FROM documents WHERE source = '$BenchmarkSource'),
         |bsh AS (
         |  SELECT DISTINCT s FROM sh13
         |  WHERE doc_id IN (SELECT doc_id FROM bench))
         |SELECT sh13.doc_id AS doc_id,
         |       CAST(count(*) AS BIGINT) AS n_hit_13grams
         |FROM sh13 JOIN bsh USING (s)
         |WHERE sh13.doc_id NOT IN (SELECT doc_id FROM bench)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "text_repetition_quality" ->
      s"""WITH toks AS (
         |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |$qualityCte
         |SELECT m.doc_id AS doc_id, n_tokens, n_distinct, top_token_n,
         |       n_distinct / n_tokens AS distinct_ratio,
         |       top_token_n / n_tokens AS top_token_frac,
         |       CASE WHEN n_tokens >= 2 THEN 1.0 - n_bi / (n_tokens - 1)
         |            ELSE 0.0 END AS dup_bigram_frac,
         |       ($qualityKeepSql) AS keep
         |FROM m JOIN top ON m.doc_id = top.doc_id
         |ORDER BY doc_id""".stripMargin,
    "docs_denylist_redact" ->
      """SELECT doc_id,
        |       CAST(len(regexp_extract_all(text, '\b(customer|spark)\b')) AS INT)
        |         AS n_hits,
        |       md5(regexp_replace(text, '\b(customer|spark)\b', '[REDACTED]', 'g'))
        |         AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    "docs_temperature_mix" ->
      """WITH counts AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_l,
        |         CAST(floor(sqrt(count(*))) AS BIGINT) AS w_l
        |  FROM documents GROUP BY 1),
        |totals AS (
        |  SELECT sum(n_l) AS n_total, sum(w_l) AS w_sum FROM counts),
        |targets AS (
        |  SELECT lang, (n_total // 2) * w_l // w_sum AS target_l
        |  FROM counts, totals),
        |ranked AS (
        |  SELECT doc_id, lang,
        |         CAST(row_number() OVER (PARTITION BY lang
        |           ORDER BY md5(CAST(doc_id AS VARCHAR))) AS BIGINT) AS sample_rank
        |  FROM documents)
        |SELECT doc_id, r.lang AS lang, sample_rank
        |FROM ranked r JOIN targets USING (lang)
        |WHERE sample_rank <= target_l
        |ORDER BY doc_id""".stripMargin,
    "source_overlap_matrix" ->
      """WITH vocab AS (
        |  SELECT DISTINCT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |sizes AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM vocab GROUP BY 1),
        |inter AS (
        |  SELECT a.source AS source_a, b.source AS source_b,
        |         CAST(count(*) AS BIGINT) AS n_common
        |  FROM vocab a JOIN vocab b
        |    ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT source_a, source_b, n_common, sa.n AS n_a, sb.n AS n_b,
        |       n_common / (sa.n + sb.n - n_common) AS jaccard
        |FROM inter JOIN sizes sa ON source_a = sa.source
        |           JOIN sizes sb ON source_b = sb.source
        |ORDER BY source_a, source_b""".stripMargin,
    "docs_token_budget_mix" ->
      s"""WITH budgets AS (
         |  SELECT lang,
         |         CAST(sum(n_chars) AS BIGINT) * $BudgetPct // 100 AS budget_chars
         |  FROM documents GROUP BY 1),
         |ranked AS (
         |  SELECT doc_id, lang, n_chars,
         |         CAST(sum(n_chars) OVER (PARTITION BY lang
         |           ORDER BY md5(CAST(doc_id AS VARCHAR))
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |           - n_chars AS chars_before
         |  FROM documents)
         |SELECT doc_id, r.lang AS lang, n_chars, chars_before
         |FROM ranked r JOIN budgets USING (lang)
         |WHERE chars_before < budget_chars
         |ORDER BY doc_id""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "docs_decontaminate"        -> decontaminate _,
    "docs_decontaminate_exact"  -> decontaminateExact _,
    "docs_decontaminate_semantic" -> decontaminateSemantic _,
    "docs_curation_pipeline"    -> curationPipeline _,
    "docs_curation_streamed"    -> curationStreamed _,
    "docs_html_cleaned"         -> htmlCleaned _,
    "curation_funnel_report"    -> curationFunnelReport _,
    "curation_source_report"    -> curationSourceReport _,
    "text_repetition_quality"   -> repetitionQuality _,
    "docs_denylist_redact"      -> denylistRedact _,
    "docs_pii_redacted"         -> piiRedacted _,
    "docs_quality_gate"         -> qualityGate _,
    "docs_temperature_mix"      -> temperatureMix _,
    "docs_token_budget_mix"     -> tokenBudgetMix _,
    "source_overlap_matrix"     -> sourceOverlapMatrix _,
  )
}
