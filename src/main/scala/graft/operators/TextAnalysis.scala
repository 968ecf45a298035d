package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextFunctions

/** Text-analysis operators over the `documents` table — the language-ID /
  * quality-scoring / token-counting / fingerprinting tier a training-data
  * pipeline needs (north-star spec; no reference analog — the reference's
  * only string work is column renames).
  *
  * All operators are per-row narrow transformations (split / filter /
  * aggregate higher-order functions — codegen'd Catalyst expressions, no
  * UDFs) followed by at most one hash aggregation. At 100 TB: the per-row
  * tier is embarrassingly parallel; the only shuffle is the final
  * per-language rollup whose cardinality is tiny (#languages).
  */
object TextAnalysis {

  private val stopEn = Seq("the", "a", "of", "and", "to", "in", "is")
  private val stopEs = Seq("el", "la", "los", "de", "que", "y")
  private val stopDe = Seq("der", "die", "das", "und", "ist")
  private val stopFr = Seq("le", "les", "des", "et", "est")

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(lit): _*)))

  private def sqlCountIn(toksExpr: String, words: Seq[String]): String = {
    val list = words.map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter($toksExpr, t -> t IN ($list))) AS INT)"
  }

  /** Per-language corpus statistics in ONE pass over exploded tokens:
    * doc count, token count, exact vocabulary size, avg tokens/doc.
    * Scale note: explode widens rows but the aggregate is partial+final;
    * vocabulary uses exact distinct here because the oracle needs
    * determinism — `text_vocab_approx` (bounded-oracle) is the HLL-based
    * scale path for 100 TB.
    */
  def tokenStats(spark: SparkSession, sfDir: String): DataFrame =
    // spread: the tokenize + explode map is CPU-heavy narrow work over
    // the single-file fixture scan (the winnowFingerprints rationale);
    // the aggregates are exact/HLL — partitioning-independent
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("lang"), col("doc_id"),
        explode(TextFunctions.tokens(col("text"))).alias("token"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).alias("n_docs"),
        count(lit(1)).alias("n_tokens"),
        countDistinct(col("token")).alias("vocab"),
        (count(lit(1)) / countDistinct(col("doc_id"))).alias("avg_tokens_per_doc"))
      .orderBy("lang")

  /** DATASET-CARD LENGTH PROFILE per source: doc count, mean tokens, and
    * exact interpolated p50/p90/p99 token-count percentiles — the
    * distribution summary a corpus datasheet publishes per dump, and the
    * first thing a mixture rebalance consults (a source whose p99 is 10×
    * its p50 needs chunking; one whose p50 collapses is boilerplate).
    * Token counts are exact integers; the mean is one division of two
    * exact aggregates, and the oracle spells Spark's `percentile`
    * interpolation EXPLICITLY — `(hi−pos)·a + (pos−lo)·b` over the
    * sorted list, the formula `Percentile.getPercentile` evaluates —
    * instead of trusting DuckDB's `quantile_cont` to agree to the last
    * ulp (its `a + (b−a)·frac` spelling can differ by one ulp, a
    * latent hash-gate break on an engine upgrade; see [[pinnedPctSql]]).
    * Scale: one narrow (source, n_tokens) aggregation; at 100 TB swap
    * `percentile` for the mergeable `approx_percentile` exactly as
    * `order_price_quantiles_approx` pins.
    */
  def lengthProfile(spark: SparkSession, sfDir: String): DataFrame =
    // spread: tokenize-per-row map at cluster width (see tokenStats)
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("source"),
        size(TextFunctions.tokens(col("text"))).alias("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).alias("n_docs"),
        (sum(col("n_tokens")) / count(lit(1))).alias("mean_tokens"),
        percentile(col("n_tokens"), lit(0.5)).alias("p50_tokens"),
        percentile(col("n_tokens"), lit(0.9)).alias("p90_tokens"),
        percentile(col("n_tokens"), lit(0.99)).alias("p99_tokens"))
      .orderBy("source")

  /** BPE-ish greedy subword segmentation via one regex pass: maximal
    * vowel runs and consonant runs (`[aeiou]+|[^aeiou ]+`) — the
    * longest-match-wins behavior that makes byte-pair-style tokenizers
    * regex-expressible. Pure per-row codegen'd work (`regexp_extract_all`),
    * no shuffle until the trivial final sort — the right shape for
    * token-counting 100 TB of text.
    */
  def bpeTokens(spark: SparkSession, sfDir: String): DataFrame =
    // spread: regex segmentation per row at cluster width (see tokenStats)
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"),
        regexp_extract_all(col("text"), lit("[aeiou]+|[^aeiou ]+"), lit(0))
          .alias("sub"))
      .select(col("doc_id"),
        size(col("sub")).alias("n_subtokens"),
        size(array_distinct(col("sub"))).alias("n_unique_subtokens"))
      .orderBy("doc_id")

  /** BPE MERGE LEARNING — tokenizer TRAINING, not just application (the
    * [[bpeTokens]] segmenter's missing half): learn the first
    * [[BpeMergeRounds]] byte-pair merges from the corpus exactly the way
    * HF/SentencePiece BPE trainers do. One corpus-sized pass builds the
    * word histogram (the only big-data step — at 100 TB this is a plain
    * token groupBy); every training round then runs on the VOCABULARY
    * grain (distinct words × max word length — many orders of magnitude
    * smaller): count adjacent symbol pairs weighted by word frequency,
    * take the argmax pair (count desc, pair asc — the deterministic
    * tie-break both engines share), and re-segment every word by the
    * GREEDY LEFT-TO-RIGHT merge fold (a skip-carry `aggregate` HOF over
    * the symbol array — one emitted merge consumes its right neighbour,
    * the textbook BPE application step). The per-round argmax is a
    * bounded single-row collect — the [[Similarity.kmeansIterate]]
    * convergence-probe precedent: the merge RULE is a scalar the next
    * round's plan embeds.
    *
    * The DuckDB oracle replays the IDENTICAL training run — word
    * histogram, per-round weighted pair counts, argmax, and the greedy
    * fold spelled as a recursive CTE carrying (pos, out, skip) — so the
    * learned merge table is an exact cross-engine gate fact, not a
    * smoke check. (A `replace`-until-fixpoint spelling is NOT
    * equivalent: on a run of ≥ 5 identical symbols it merges different
    * occurrences than the greedy fold — found while building the
    * oracle, which is why both engines spell the fold explicitly.)
    *
    * Round plans re-derive from the persisted histogram (vocabulary
    * grain, 3 rounds — plan growth is bounded); a production trainer
    * running hundreds of rounds would checkpoint the symbol table every
    * few rounds exactly like [[Similarity.kmeansIterate]]'s generation
    * rotation.
    */
  def bpeLearnedMerges(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"textanalysis.bpeMerges:$sfDir")(
      bpeLearnedMergesBuild(spark, sfDir))

  private val BpeMergeRounds = 3

  /** The corpus word histogram every BPE consumer trains on — the one
    * corpus-sized pass; session-persisted so the merges and vocabulary
    * queries share it.
    */
  private def bpeWords(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(explode(TextFunctions.tokens(col("text"))).alias("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).alias("freq"))
      .transform(graft.CacheLifecycle.sessionPersist)

  private def bpeLearnedMergesBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val (merges, _) = bpeTrained(spark, sfDir)
    import spark.implicits._
    merges.toDF("rank", "left_sym", "right_sym", "pair_count").orderBy("rank")
  }

  /** One training run per session serving BOTH registered artifacts
    * (merges table + segmented vocabulary) — [[bpeTrainOn]] returns the
    * pair, so training twice under two memo keys would double the
    * vocab-grain jobs and driver argmaxes for nothing. Dead-session
    * entries are dropped and rebuilt, mirroring
    * [[graft.CacheLifecycle.memoized]]; a benign double-build under a
    * concurrent race is acceptable (the result is deterministic).
    */
  private val bpeTrainedCache = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(Int, String, String, Long)], DataFrame)]()

  private def bpeTrained(spark: SparkSession,
      sfDir: String): (Seq[(Int, String, String, Long)], DataFrame) = {
    val hit = bpeTrainedCache.get(sfDir)
    if (hit != null && !hit._2.sparkSession.sparkContext.isStopped) hit
    else {
      val (merges, symRaw) = bpeTrainOn(bpeWords(spark, sfDir), BpeMergeRounds)
      // persist the FINAL segmented symbol frame: its three consumers
      // (vocabulary artifact, id-table collect, tokenization dictionary
      // broadcast) each re-executed the whole merge-fold chain over the
      // histogram otherwise — the per-round re-derivation is bounded by
      // design (3 rounds), but paying it once per consumer is not
      val trained = (merges, graft.CacheLifecycle.sessionPersist(symRaw))
      bpeTrainedCache.put(sfDir, trained)
      // evict with the session caches: a cache surviving unpersistAll
      // would let bench loops skip re-training after their reset,
      // breaking the loops-measure-steady-state-rebuild discipline every
      // other memoized stage follows (CacheLifecycle.memoized entries
      // are cleared there; this private two-artifact cache must match)
      graft.CacheLifecycle.trackedRelease(() => {
        bpeTrainedCache.remove(sfDir); ()
      })
      trained
    }
  }

  /** The BPE training loop proper over any word-histogram frame
    * (`w`, `freq`) — factored so specs can train on PLANTED vocabularies
    * (symbol runs ≥ 5 distinguish the greedy fold from lookalike
    * spellings; quoted symbols exercise the literal escaping). Returns
    * the learned merges and the final segmented symbol frame
    * (`w`, `freq`, `s`).
    */
  /** Spark SQL string-literal escaping for injected merge symbols:
    * backslash doubles (the default parser processes \x escapes) and a
    * single quote doubles (SQL-standard; differential-pinned by the
    * planted-vocabulary spec). The DuckDB oracle needs neither — it
    * reads the merge pair through scalar subqueries, no injection.
    */
  private def escSym(x: String): String =
    x.replace("\\", "\\\\").replace("'", "''")

  /** The GREEDY LEFT-TO-RIGHT merge fold as a SQL fragment over the
    * symbol array `arr` (a column name or lambda variable): one emitted
    * merge consumes its right neighbour via the skip carry — the
    * textbook BPE application step, shared verbatim between training
    * ([[bpeTrainOn]] folds the vocabulary) and corpus tokenization
    * ([[bpeTokenIds]] folds every document word). `arr` must be a BOUND
    * value (attribute or lambda var), never a textually-substituted
    * expression — it is referenced several times.
    */
  private def greedyMergeFoldSql(arr: String, le: String, re: String): String =
    s"""aggregate(sequence(1, size($arr)),
       |  named_struct('out', cast(array() as array<string>), 'skip', false),
       |  (acc, i) -> CASE
       |    WHEN acc.skip THEN named_struct('out', acc.out, 'skip', false)
       |    WHEN i < size($arr) AND element_at($arr, i) = '$le'
       |         AND element_at($arr, i + 1) = '$re'
       |      THEN named_struct(
       |        'out', concat(acc.out, array(element_at($arr, i) || element_at($arr, i + 1))),
       |        'skip', true)
       |    ELSE named_struct('out', concat(acc.out, array(element_at($arr, i))),
       |                      'skip', false) END,
       |  acc -> acc.out)""".stripMargin

  private[graft] def bpeTrainOn(words: DataFrame, rounds: Int)
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    var sym = words.select(col("w"), col("freq"),
      expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").alias("s"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    def esc(x: String): String = escSym(x)
    var round = 1
    var exhausted = false
    while (round <= rounds && !exhausted) {
      val topRows = sym.filter(size(col("s")) >= 2)
        .select(col("freq"), explode(expr(
          "transform(sequence(1, size(s) - 1), " +
            "j -> struct(element_at(s, j) AS l, element_at(s, j + 1) AS r))"))
          .alias("p"))
        .groupBy(col("p.l").alias("l"), col("p.r").alias("r"))
        .agg(sum(col("freq")).alias("c"))
        .orderBy(col("c").desc, col("l").asc, col("r").asc)
        .limit(1).collect()
      if (topRows.isEmpty) {
        // every word is a single symbol — the vocabulary is fully merged
        // before the requested round count; a normal terminal state for
        // a trainer (tiny vocab or large `rounds`), not an error
        exhausted = true
      } else {
      val top = topRows(0)
      val (l, r, c) = (top.getString(0), top.getString(1), top.getLong(2))
      merges += ((round, l, r, c))
      sym = sym.select(col("w"), col("freq"),
        expr(greedyMergeFoldSql("s", esc(l), esc(r))).alias("s"))
      round += 1
      }
    }
    (merges.toSeq, sym)
  }

  /** The TRAINED-TOKENIZER VOCABULARY — every corpus word segmented by
    * the [[BpeMergeRounds]] learned merges, with its frequency and
    * symbol count: the artifact a tokenizer build publishes beside the
    * merge table (and the direct input to a token-count estimate under
    * the new vocabulary). Same training loop as [[bpeLearnedMerges]]
    * over the shared persisted histogram; the oracle replays training
    * and reads the final symbol table, so the SEGMENTATIONS themselves
    * — not just the merge rules — are the gate fact (symbols join to a
    * string because the harness hash-compares scalars, not arrays).
    */
  def bpeVocab(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"textanalysis.bpeVocab:$sfDir") {
      val (_, sym) = bpeTrained(spark, sfDir)
      sym.select(col("w"), col("freq"),
        size(col("s")).alias("n_sym"),
        array_join(col("s"), " ").alias("segmented"))
        .orderBy("w")
    }

  /** CORPUS TOKENIZATION UNDER THE TRAINED VOCABULARY — the application
    * half that closes the training → tokenization loop: every document
    * word is segmented by the LEARNED merges and the symbols map to
    * dense vocabulary ids, so downstream packing/budget queries can
    * count REAL trained-tokenizer tokens instead of whitespace words.
    *
    * Mechanics (the token-cache shape a production tokenizer job has):
    * segmentation is a pure function of the word, so it runs ONCE PER
    * DISTINCT WORD — and that table already exists: [[bpeTrained]]'s
    * final symbol frame is exactly the word → segmentation dictionary
    * (the training corpus IS the application corpus). The corpus pass is
    * then a positional token explode, a BROADCAST dictionary join on the
    * word, and one per-doc reassembly shuffle — no per-occurrence
    * folding (the first spelling ran the merge fold as an interpreted
    * higher-order aggregate over every word occurrence: measured 5.6 s
    * vs ~1 s for the dictionary join at sf0.1). At 100 TB the
    * distinct-word dictionary outgrows a broadcast and the join becomes
    * a plain equi-join on `w` — or the fold moves back in-plan as the
    * map-side form; either way the corpus payload rides once.
    *
    *   - ids are assigned by SYMBOL SORT ORDER (0-based) — the
    *     deterministic cross-engine rule, like the argmax tie-break;
    *     the id table is a driver-held map literal (bounded:
    *     |alphabet| + merge rounds).
    *   - OOV rule (word absent from the dictionary — impossible when
    *     applying to the training corpus, pinned by the planted spec):
    *     CHARACTER FALLBACK, the byte-fallback analog — the word
    *     segments to single characters, each mapped through the id
    *     table, unknown characters to id -1.
    *
    * The oracle replays training as the recursive CTE ([[bpeRoundSql]]),
    * assigns ids by the same sort rule, and joins documents' positional
    * tokens to the segmented word grain — the same dictionary shape.
    * Documents with no non-empty tokens are excluded on both sides.
    */
  def bpeTokenIds(spark: SparkSession, sfDir: String): DataFrame =
    // memoized + persisted (the maintainedCells pattern): the packing
    // consumer and this query's own materialization would otherwise each
    // re-run the corpus-sized dictionary join — the memo alone caches
    // only the frame object, not its blocks
    graft.CacheLifecycle.memoized(s"textanalysis.bpeTokenIds:$sfDir") {
      val (_, sym) = bpeTrained(spark, sfDir)
      val docs = Tables.loadSpread(spark, sfDir, "documents")
        .select(col("doc_id"),
          filter(TextFunctions.tokens(col("text")), w => w =!= "").alias("t"))
      graft.CacheLifecycle.sessionPersist(
        bpeTokenIdsOf(docs, sym, trainedVocabIds(sym))
          .orderBy("doc_id"))
    }

  /** The trained vocabulary in id order: distinct final symbols, sorted
    * — a bounded driver-side list (|alphabet| + merge rounds).
    */
  private[graft] def trainedVocabIds(sym: DataFrame): Seq[String] =
    sym.select(explode(col("s")).alias("sym")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** Tokenize a (`doc_id`, `t`: array of non-empty words) frame under a
    * segmentation dictionary `sym` (`w`, `s`: symbol array — the
    * trained vocabulary frame) and the id table `vocab` — factored so
    * specs can tokenize PLANTED documents (multi-merge words end-to-end,
    * both OOV fallback cases) under planted training runs.
    */
  private[graft] def bpeTokenIdsOf(docs: DataFrame, sym: DataFrame,
      vocab: Seq[String]): DataFrame = {
    val idMap = map(vocab.zipWithIndex.flatMap {
      case (s, i) => Seq(lit(s), lit(i)) }: _*)
    def idsOf(symbols: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      array_join(transform(symbols,
        x => coalesce(element_at(idMap, x), lit(-1)).cast("string")), " ")
    val wordIds = sym.select(col("w"),
      size(col("s")).alias("n_sym"), idsOf(col("s")).alias("ids_str"))
    docs
      .select(col("doc_id"), posexplode(col("t")).as(Seq("pos", "w")))
      .join(broadcast(wordIds), Seq("w"), "left")
      .select(col("doc_id"), col("pos"),
        // character fallback for OOV words: segment to single chars,
        // map each through the id table, unknown chars to -1
        coalesce(col("n_sym"), length(col("w"))).alias("n_sym"),
        coalesce(col("ids_str"),
          idsOf(transform(sequence(lit(1), length(col("w"))),
            i => col("w").substr(i, lit(1))))).alias("ids_str"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_words"),
        sum(col("n_sym")).alias("n_bpe_tokens"),
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("ids_str")))),
          x => x.getField("ids_str")), " ").alias("token_ids"))
  }

  /** TOKEN PACKING UNDER THE TRAINED TOKENIZER — the downstream consumer
    * that makes [[bpeTokenIds]]'s point concrete: the bin-packing step a
    * training-data pipeline runs sizes documents by MODEL tokens, and
    * with the tokenizer applied those counts exist — this query is
    * `docs_token_packing`'s exact distributed-prefix-sum machinery
    * ([[Features.tokenPackingOf]]) fed by `n_bpe_tokens` instead of the
    * whitespace word count. Rides the memoized tokenization frame, so
    * the marginal cost is the packing cumsum alone. Documents with no
    * non-empty tokens are absent (as in [[bpeTokenIds]]); the oracle
    * replays training + the word-grain count join + the same window
    * cumsum.
    */
  def bpeTokenPacking(spark: SparkSession, sfDir: String): DataFrame =
    Features.tokenPackingOf(
      bpeTokenIds(spark, sfDir)
        .select(col("doc_id"), col("n_bpe_tokens").alias("n_tokens")))

  /** Top-5 word bigrams per language, positional (every occurrence counts,
    * unlike the distinct shingles of the dedup tier). The token array is
    * materialized in its own projection BEFORE the index-walk — an inline
    * `split` would re-evaluate per bigram (see
    * [[TextFunctions.shingles]]'s performance contract).
    */
  def topBigramsPerLang(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.loadSpread(spark, sfDir, "documents")
      // spread: the bigram index-walk explode is the heavy map (see tokenStats)
      .select(col("lang"), col("doc_id"), TextFunctions.tokens(col("text")).alias("toks"))
    val bigrams = toks.select(col("lang"),
      explode(when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => concat_ws(" ", element_at(col("toks"), i),
            element_at(col("toks"), i + 1))))
        .otherwise(array().cast("array<string>"))).alias("bigram"))
    val counts = bigrams.groupBy(col("lang"), col("bigram"))
      .agg(count(lit(1)).alias("n"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n").desc, col("bigram").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .orderBy("lang", "rank")
  }

  /** RARE-BIGRAM RATIO — a language-model-free fluency signal: the share
    * of a document's DISTINCT word bigrams that almost no other document
    * uses (corpus document-frequency ≤ 2). Machine-generated or corrupted
    * text is dominated by never-seen-again transitions, natural text
    * re-uses common ones — the integer-ratio stand-in for LM perplexity
    * scoring (no log-probabilities, so every quantity is an exact count
    * and the single terminal division is cross-engine identical).
    *
    * Shape: distinct (doc, bigram) → bigram document-frequency (one
    * shuffle on the bigram key, partial-aggregated) → join back → per-doc
    * conditional count. The df join is term-keyed exactly like TF-IDF's —
    * never a window over documents.
    */
  def rareBigramRatio(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): own registry row + the
    // quality gate both invoke this; one analysis, one frame
    graft.CacheLifecycle.memoized(s"textanalysis.rareBigramRatio:$sfDir")(
      docSignals(spark, sfDir)
        // docs too short for bigrams have NO bigram rows in the original
        // build — the fused frame's left join carries them as nulls;
        // dropping them here keeps this query's row set identical
        .filter(col("n_bigrams").isNotNull)
        .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
          (col("n_rare") / col("n_bigrams")).alias("rare_ratio"))
        .orderBy("doc_id"))

  /** ONE-PASS PER-DOCUMENT SIGNAL FRAME — the shared build behind the
    * four quality-gate signals (repetition metrics, length, rare-bigram
    * counts, language-ID profile scores). The r13/r14 rounds built each
    * signal as its own scan → shuffle → sort → persist and joined them
    * in the gate; the signals share the tokenize-once lineage, so this
    * frame computes ALL of them in one pass: one documents scan, the two
    * irreducible shuffles (per-doc top-token count; bigram document
    * frequency), the narrow per-row metrics and profile scores, and ONE
    * session persist. [[rareBigramRatio]], [[langIdNgram]],
    * `Curation.repetitionQuality`, and `Curation.qualityGate` are now
    * cheap narrow projections of this frame — the gate's three
    * doc_id-keyed joins are gone entirely.
    *
    * At 100 TB the fusion matters more, not less: each retired signal
    * frame was a full corpus scan plus its own shuffle spill and cache
    * copy; the fused frame pays the corpus once and the join it retains
    * (top/rare onto the narrow row) is the same key, co-partitioned.
    */
  private[operators] def docSignals(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"textanalysis.docSignals:$sfDir")(
      docSignalsBuild(spark, sfDir))

  private def docSignalsBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val base = Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        TextFunctions.tokens(col("text")).alias("t"))
    // top-token count derives from the SHARED (doc, term) tf frame
    val top = termFreqs(spark, sfDir)
      .groupBy(col("doc_id")).agg(max(col("tf")).alias("top_token_n"))
    val docBigrams = base.select(col("doc_id"),
      explode(when(size(col("t")) >= 2,
        array_distinct(transform(sequence(lit(1), size(col("t")) - 1),
          i => concat_ws(" ", element_at(col("t"), i),
            element_at(col("t"), i + 1)))))
        .otherwise(array().cast("array<string>"))).alias("bigram"))
    val dfreq = docBigrams.groupBy(col("bigram"))
      .agg(count(lit(1)).alias("df"))
    val rare = docBigrams.join(dfreq, Seq("bigram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_bigrams"),
        sum(when(col("df") <= 2, 1L).otherwise(0L)).alias("n_rare"))
    val scoreCols = bigramProfiles.map { case (l, prof) =>
      prof.map(b => when(col("text").contains(b), 1).otherwise(0))
        .reduce(_ + _).alias(s"g_$l")
    }
    val narrow = base.select(
      Seq(col("doc_id"), col("lang").alias("actual_lang"),
        size(col("t")).alias("n_tokens"),
        size(array_distinct(col("t"))).alias("n_distinct"),
        size(TextFunctions.shingles(col("t"), 2)).alias("n_distinct_bigrams"))
        ++ scoreCols: _*)
    // BOTH joins are LEFT: a NULL-text document has no token rows at all
    // (explode drops it from tf), but langIdNgram historically scored it
    // per-row (profiles 0 → 'und') — the fused frame must keep every
    // document; the repetition/gate projections re-apply their original
    // inner-join row set by filtering top_token_n
    narrow.join(top, Seq("doc_id"), "left")
      .join(rare, Seq("doc_id"), "left")
      // four registered consumers project from this one frame; tracked
      // for release
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** Approximate vocabulary via HyperLogLog — the 100 TB path for distinct
    * counting. HLL estimates are engine-specific, so the raw estimate
    * can't hash-match a DuckDB oracle; instead the VERIFIED output is the
    * exact vocabulary plus a boolean asserting the HLL estimate landed
    * within 5% of it (the sketch's rsd) — the oracle pins the exact value
    * and expects `true`, so a drifting sketch fails the gate rather than
    * dropping to a rows-only check. Production keeps the estimate-only
    * aggregation (drop the `countDistinct` and the bound column); this
    * spelling exists to keep the sketch under the correctness gate.
    */
  def vocabApprox(spark: SparkSession, sfDir: String): DataFrame =
    // spread: HLL registers merge by max — partitioning-independent
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("lang"), explode(TextFunctions.tokens(col("text"))).alias("token"))
      .groupBy(col("lang"))
      .agg(countDistinct(col("token")).alias("vocab_exact"),
        approx_count_distinct(col("token")).alias("est"))
      .select(col("lang"), col("vocab_exact"),
        (abs(col("est") - col("vocab_exact"))
          <= col("vocab_exact") * lit(0.05)).alias("hll_within_5pct"))
      .orderBy("lang")

  /** Per-document quality scoring: char/token counts, mean token length,
    * stopword ratio, and a boolean quality gate. Pure narrow
    * transformations — no shuffle at all (the sort is verification-only).
    */
  def quality(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    // spread: tokenize + stopword counting per row (see tokenStats)
    Tables.loadSpread(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).alias("n_chars"),
        size(toks).alias("n_tokens"),
        countIn(toks, stopEn).alias("n_stopwords"))
      .select(
        col("doc_id"), col("n_chars"), col("n_tokens"), col("n_stopwords"),
        ((col("n_chars") - col("n_tokens") + lit(1)) / col("n_tokens")).alias("avg_token_len"),
        (col("n_stopwords") / col("n_tokens")).alias("stopword_ratio"),
        (col("n_tokens") >= 20 && (col("n_stopwords") / col("n_tokens")) < 0.5)
          .alias("is_quality"))
      .orderBy("doc_id")
  }

  /** N-gram-free language-ID heuristic: per-language stopword hit counts,
    * argmax with a fixed priority tiebreak. Degenerate on the synthetic
    * corpus (scores near zero) but exercises the real machinery: token
    * filters + CASE argmax, all codegen'd.
    */
  def langId(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextFunctions.tokens(col("text"))
    val scored = Tables.loadSpread(spark, sfDir, "documents").select(
      col("doc_id"), col("lang").alias("actual_lang"),
      countIn(toks, stopEn).alias("s_en"),
      countIn(toks, stopEs).alias("s_es"),
      countIn(toks, stopDe).alias("s_de"),
      countIn(toks, stopFr).alias("s_fr"))
    val best = greatest(col("s_en"), col("s_es"), col("s_de"), col("s_fr"))
    scored.select(
      col("doc_id"), col("actual_lang"),
      col("s_en"), col("s_es"), col("s_de"), col("s_fr"),
      when(best === 0, lit("und"))
        .when(col("s_en") === best, lit("en"))
        .when(col("s_es") === best, lit("es"))
        .when(col("s_de") === best, lit("de"))
        .otherwise(lit("fr")).alias("predicted_lang"))
      .orderBy("doc_id")
  }

  /** Character-bigram profiles per language, derived from the stopword
    * lists (distinct intra-word bigrams) — self-contained, computed at
    * plan-build time and embedded as literals in both engines.
    */
  private[operators] val bigramProfiles: Seq[(String, Seq[String])] =
    Seq("en" -> stopEn, "es" -> stopEs, "de" -> stopDe, "fr" -> stopFr).map {
      case (l, words) =>
        l -> words.flatMap(w => w.sliding(2).filter(_.length == 2)).distinct.sorted
    }

  /** DuckDB CTE chain ending in `pred` (doc_id, actual_lang, g_*,
    * predicted_lang) — the n-gram language-ID prediction shared by the
    * `text_langid_ngram` oracle and the `langid_confusion` eval report,
    * so the matrix summarizes exactly the predictions the per-doc query
    * serves. Keeps the independent array-intersect spelling (the
    * differential check on the Spark probe-sum rewrite).
    */
  private lazy val langIdNgramPredCte: String = {
    val profLists = bigramProfiles.map { case (l, prof) =>
      l -> prof.map(b => s"'$b'").mkString("[", ", ", "]")
    }.toMap
    s"""bg AS (
       |  SELECT doc_id, lang AS actual_lang,
       |         list_distinct(list_transform(
       |           generate_series(1, greatest(length(text) - 1, 1)),
       |           i -> substr(text, i, 2))) AS b
       |  FROM documents),
       |scored AS (
       |  SELECT doc_id, actual_lang,
       |         CAST(len(list_intersect(b, ${profLists("en")})) AS INT) AS g_en,
       |         CAST(len(list_intersect(b, ${profLists("es")})) AS INT) AS g_es,
       |         CAST(len(list_intersect(b, ${profLists("de")})) AS INT) AS g_de,
       |         CAST(len(list_intersect(b, ${profLists("fr")})) AS INT) AS g_fr
       |  FROM bg),
       |pred AS (
       |  SELECT doc_id, actual_lang, g_en, g_es, g_de, g_fr,
       |         CASE WHEN greatest(g_en, g_es, g_de, g_fr) = 0 THEN 'und'
       |              WHEN g_en = greatest(g_en, g_es, g_de, g_fr) THEN 'en'
       |              WHEN g_es = greatest(g_en, g_es, g_de, g_fr) THEN 'es'
       |              WHEN g_de = greatest(g_en, g_es, g_de, g_fr) THEN 'de'
       |              ELSE 'fr' END AS predicted_lang
       |  FROM scored)""".stripMargin
  }

  /** N-gram-heuristic language ID: score = |doc char-bigrams ∩ language
    * profile| (the classic character-n-gram profile method, reduced to
    * set overlap so the oracle is exact); argmax with the same CASE
    * tiebreak as the stopword variant. Pure per-row narrow work.
    *
    * The overlap is computed as `Σ_{b ∈ profile} contains(text, b)` —
    * the profiles are FIXED literal sets, so presence of each profile
    * bigram as a substring IS membership in the doc's bigram set, and
    * the sum of ~150 codegen'd `contains` probes per language does zero
    * allocation. The materialize-the-bigram-array spelling
    * (`array_distinct(transform(...substr...))` + `array_intersect`)
    * computes the same value but allocates ~n_chars two-char strings
    * per document plus two hash sets per intersect — measured 6–7×
    * slower at sf0.1 (3.4–4.1 s → 0.53 s isolated); the DuckDB oracle
    * keeps that independent array spelling, which doubles as the
    * differential check that the probe-sum rewrite is exact.
    */
  def langIdNgram(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized (see Dedup.shingled): own registry row + the
    // quality gate both invoke this; one analysis, one frame
    graft.CacheLifecycle.memoized(s"textanalysis.langIdNgram:$sfDir")(
      langIdNgramBuild(spark, sfDir))

  private def langIdNgramBuild(spark: SparkSession, sfDir: String): DataFrame = {
    // the profile scores ride the fused one-pass signal frame
    val scored = docSignals(spark, sfDir)
    val best = greatest(bigramProfiles.map { case (l, _) => col(s"g_$l") }: _*)
    scored.select(
      col("doc_id"), col("actual_lang"),
      col("g_en"), col("g_es"), col("g_de"), col("g_fr"),
      when(best === 0, lit("und"))
        .when(col("g_en") === best, lit("en"))
        .when(col("g_es") === best, lit("es"))
        .when(col("g_de") === best, lit("de"))
        .otherwise(lit("fr")).alias("predicted_lang"))
      .orderBy("doc_id")
      // narrow projection over the persisted fused frame — no second cache
  }

  /** CLASSIFIER EVAL REPORT — the (actual, predicted) confusion matrix
    * with per-actual share, over the n-gram language-ID predictions: the
    * accuracy audit a pipeline emits whenever a heuristic classifier
    * gates data (here: is the langid trustworthy enough to stratify the
    * mixture by?). The `lang` column is the ground-truth label the
    * fixture carries, so the eval needs no side channel. Rides the
    * memoized [[langIdNgram]] frame — one bounded (≤ |langs|·(|langs|+1))
    * aggregate over the persisted signal projection; the oracle shares
    * the prediction CTE with `text_langid_ngram`, so the matrix cannot
    * drift from the per-doc predictions it summarizes.
    */
  def langIdConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    langIdNgram(spark, sfDir)
      .groupBy(col("actual_lang"), col("predicted_lang"))
      .agg(count(lit(1)).alias("n_docs"))
      .withColumn("share_pct",
        (col("n_docs") * lit(100)).cast("double")
          / sum(col("n_docs")).over(Window.partitionBy(col("actual_lang"))))
      .orderBy("actual_lang", "predicted_lang")
  }

  /** Top-3 TF-IDF terms per document. The idf factor is the LINEAR
    * `n_docs / df` (no logarithm): `ln` differs in the last ulp across
    * libm implementations, which would break the bit-exact oracle gate,
    * and the score here only feeds a per-document ranking — for a FIXED
    * term frequency the log is monotone in `n_docs / df`, and the linear
    * form is itself a standard idf variant. Score arithmetic is one
    * integer product cast to double and one divide — bit-identical on any
    * IEEE-754 engine.
    *
    * Scale shape: tf is a (doc, term)-keyed partial+final aggregation; df
    * is a term-keyed distinct count; the tf⋈df join shuffles on term
    * (vocabulary can be huge at 100 TB — never broadcast it); the
    * corpus-size singleton rides a broadcast; the final top-k is one
    * window shuffle on doc_id.
    */
  /** The SHARED (doc_id, term, tf) term-frequency frame — ONE corpus
    * tokenize + explode + (doc, term) shuffle per session, consumed by
    * [[tfidfTopTerms]], [[surprisalQuality]], [[bm25TopDocs]], and the
    * fused [[docSignals]] top-token metric (df, dl, and top-token all
    * derive from it by cheap aggregations over the cached blocks). At
    * 100 TB this is THE token-cache table a text pipeline materializes
    * once per corpus snapshot; four consumers re-shuffling the raw
    * corpus was the r15 bench's most repeated work.
    */
  private[operators] def termFreqs(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"textanalysis.termFreqs:$sfDir")(
      termFreqsOf(Tables.loadSpread(spark, sfDir, "documents"))
        .transform(graft.CacheLifecycle.sessionPersist))

  /** [[termFreqs]] over any (doc_id, text) frame — the tokenize +
    * (doc, term) aggregate, shared with the streaming term-stats fold
    * (which must tokenize exactly like the batch lineage or the
    * maintained statistics drift from the rebuild).
    */
  private[graft] def termFreqsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).alias("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).alias("tf"))

  /** The per-term corpus statistics table — `df` (documents containing
    * the term) and `tf_sum` (total occurrences): the exact statistics
    * [[bm25TopDocs]] / [[tfidfTopTerms]] / [[surprisalQuality]] join on,
    * materialized as a maintainable TABLE. `(doc, term)` is unique in
    * tf, so df is a row count.
    */
  private[graft] def termStatsOf(tf: DataFrame): DataFrame =
    tf.groupBy(col("term"))
      .agg(count(lit(1)).alias("df"), sum(col("tf")).alias("tf_sum"))

  /** Merge a term-stats delta into the current table: both statistics
    * are additive over DISJOINT document sets, so the merge is a
    * full-outer join + long addition — the same algebra as
    * [[StarSchema.mergeTotalsPartials]], keyed by term. This exact
    * function is what the streaming fold applies per micro-batch
    * ([[graft.streaming.EventStream]]'s term-stats stream), so the
    * `text_df_incremental` oracle certifies the operator the stream
    * runs.
    */
  private[graft] def mergeTermStats(state: DataFrame, delta: DataFrame): DataFrame =
    state.alias("s").join(delta.alias("d"), Seq("term"), "full_outer")
      .select(col("term"),
        (coalesce(col("s.df"), lit(0L)) + coalesce(col("d.df"), lit(0L)))
          .alias("df"),
        (coalesce(col("s.tf_sum"), lit(0L)) + coalesce(col("d.tf_sum"), lit(0L)))
          .alias("tf_sum"))

  /** INCREMENTAL TERM-STATISTICS MAINTENANCE — the text tier's
    * "incremental ≡ rebuild" gate beside the dedup-index, SCD2, totals,
    * and ANN-index gates: a daily crawl must update the df/tf statistics
    * BM25 and TF-IDF rank with by tokenizing ONLY its own batch, never
    * re-scanning the stored corpus. History (doc_id % 10 ≠ 9) plays the
    * maintained table, the batch's delta folds in through
    * [[mergeTermStats]], and the DuckDB oracle recomputes the statistics
    * from the FULL corpus — additivity over disjoint doc sets is the
    * theorem under test. Rides the session [[termFreqs]] frame (the
    * history/batch split filters the cached (doc, term) grain — no
    * second tokenize). Streaming form: the bucketed term-keyed fold in
    * EventStream (partial state rewrite, watermark-idempotent), parity
    * spec-pinned.
    */
  def dfIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = termFreqs(spark, sfDir)
    val isBatch = col("doc_id") % 10 === 9
    mergeTermStats(
      termStatsOf(tf.filter(!isBatch)),
      termStatsOf(tf.filter(isBatch)))
      .orderBy("term")
  }

  /** TIME TRAVEL ON THE VERSIONED TERM-STATS TIER (r19 verdict #4): the
    * corpus arrives as two doc-id-ordered batches against an
    * empty-seeded COPY-ON-WRITE generation state
    * ([[graft.streaming.EventStream.termStatsFoldBatchVersioned]] — the
    * exact foreachBatch body of the versioned maintenance stream; each
    * batch tokenizes only its own documents and merges through the same
    * [[mergeTermStats]] the incremental gate certifies), and this gate
    * reads the table AS OF batch 0 — the df statistics BM25 served the
    * moment the first dump committed, the question an in-place
    * rewrite destroys at fold time. Oracle = the
    * from-scratch statistics over EXACTLY the batch-0 prefix, so a
    * generation served beyond the as-of bound, a missed bucket, or a
    * horizon misread all surface as row diffs. StreamingSpec pins the
    * catch-up invariant (live ≡ full rebuild), copy-on-write byte
    * identity (batch 1 never touches batch 0's generation), and the
    * loud below-horizon failure after expiry.
    *
    * Memoized durably: seed + folds are commit-gated, so a second JVM
    * replays both batches as no-ops and re-reads the stored state.
    */
  def dfAsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"text.dfAsof:$sfDir") {
      import graft.streaming.EventStream
      val stateDir = Layout.tmpPath("graft-termver", sfDir)
      val docs = Tables.documents(spark, sfDir)
      val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .head().getDouble(0)
      EventStream.seedVersionedState(
        termStatsOf(termFreqsOf(docs.filter(lit(false)))), "term", stateDir)
      EventStream.termStatsFoldBatchVersioned(spark, stateDir,
        docs.filter(col("doc_id") <= mid), 0L)
      EventStream.termStatsFoldBatchVersioned(spark, stateDir,
        docs.filter(col("doc_id") > mid), 1L)
      EventStream.termStatsVersionedReadAsOf(spark, stateDir, asOfBatch = 0L)
        .orderBy("term")
    }

  /** ERASURE ON THE VERSIONED (copy-on-write) TERM-STATS TIER — the
    * right-to-be-forgotten story for the layout that RETAINS history by
    * design: the generation log that makes `text_df_asof` answerable is
    * exactly what a deletion request must also reach, so erasure here
    * is the negated-delta forget generation PLUS a history horizon
    * PLUS the emptied-bucket sweep
    * ([[graft.streaming.EventStream.termStatsForgetVersioned]]): the
    * corrected generation discharges serving (df ≤ 0 rows vanish — a
    * zero-count tombstone still discloses the term), the horizon
    * discharges time travel (as-of reads into the pre-forget window
    * fail LOUDLY; the superseded bucket versions holding the forgotten
    * statistics are deleted), and the sweep closes the one silent gap
    * (a bucket emptied by the forget would otherwise resolve to its
    * stale pre-forget version). Gate: build the versioned state over
    * two batches, forget the `doc_id % 10 = 7` cohort, serve LIVE;
    * oracle = the from-scratch statistics over the SURVIVING documents
    * (subtract-fold ≡ filter-rebuild, exact in integers — the
    * `text_df_forget_docs` theorem, on the stored versioned tier).
    * StreamingSpec pins the file-level residue direction (no surviving
    * parquet under the state dir still contains a vanished term), the
    * loud pre-forget as-of failure, the emptied-bucket sweep on a
    * planted all-forgotten corpus, and re-run idempotence.
    */
  def dfForgetStored(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"text.dfForgetStored:$sfDir") {
      import graft.streaming.EventStream
      val stateDir = Layout.tmpPath("graft-termforgetlog", sfDir)
      val docs = Tables.documents(spark, sfDir)
      val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .head().getDouble(0)
      // once the horizon reads >= the forget batch, the two history
      // folds ALREADY ran and their generations were legitimately
      // expired — a second JVM must not replay them (the replay's as-of
      // read would fail the loud horizon check, which is the protocol
      // doing its job; the dim_customer_forget_keys seed-guard
      // discipline, horizon-keyed)
      if (EventStream.versionedExpiredThrough(spark, stateDir) < 2L) {
        EventStream.seedVersionedState(
          termStatsOf(termFreqsOf(docs.filter(lit(false)))), "term", stateDir)
        EventStream.termStatsFoldBatchVersioned(spark, stateDir,
          docs.filter(col("doc_id") <= mid), 0L)
        EventStream.termStatsFoldBatchVersioned(spark, stateDir,
          docs.filter(col("doc_id") > mid), 1L)
      }
      // idempotent either way: the forget skips on its own generation
      // commit, expiry is monotone, the sweep finds nothing left
      EventStream.termStatsForgetVersioned(spark, stateDir,
        docs.filter(col("doc_id") % 10 === 7), 2L)
      EventStream.termStatsVersionedRead(spark, stateDir).orderBy("term")
    }

  /** ERASURE IN AGGREGATE SPACE — the term-statistics half of the
    * right-to-be-forgotten story ([[graft.streaming.EventStream.forgetKeys]]
    * is the ROW half): forgetting documents from a maintained df/tf_sum
    * index is not a row deletion — the statistics are SUMS over documents,
    * so erasure means tokenizing ONLY the forgotten docs and folding their
    * delta in NEGATED through the exact same additive merge the
    * maintenance stream applies ([[mergeTermStats]] — additivity works in
    * both directions over disjoint doc sets). The `df > 0` drop is
    * load-bearing, not cosmetic: a term occurring ONLY in forgotten
    * documents must VANISH from the index, not linger at df = 0 — the
    * term's very existence can be the private datum (a name, an id), and
    * a zero-count tombstone still discloses it.
    *
    * The oracle recomputes the statistics from scratch over the surviving
    * documents, so the driver gate proves subtract-fold ≡ rebuild — the
    * erasure twin of `text_df_incremental`'s maintain ≡ rebuild. Scale
    * shape: HERE the delta filters the session [[termFreqs]] frame (no
    * second tokenize — the frame already exists for the ranking
    * consumers); at 100 TB, where no corpus-wide frame is live, the
    * delta reads the forgotten docs' rows from the STORED (doc, term)
    * tf index by key — either way the erasure pays batch-sized work,
    * never a corpus re-scan, and the fold is the term-keyed full-outer
    * merge the bucketed streaming state already runs.
    */
  def dfForgetDocs(spark: SparkSession, sfDir: String): DataFrame =
    dfForgetDocsOf(termFreqs(spark, sfDir), col("doc_id") % 10 === 7)
      .orderBy("term")

  /** [[dfForgetDocs]] over any (doc_id, term, tf) frame and erasure
    * predicate — the planted vanish-not-tombstone spec drives THIS, so
    * the property is pinned against the production operator, not a
    * re-spelling.
    */
  private[graft] def dfForgetDocsOf(tf: DataFrame,
      isForgotten: org.apache.spark.sql.Column): DataFrame = {
    val negDelta = termStatsOf(tf.filter(isForgotten))
      .select(col("term"), (-col("df")).alias("df"),
        (-col("tf_sum")).alias("tf_sum"))
    mergeTermStats(termStatsOf(tf), negDelta)
      .filter(col("df") > 0)
  }

  def tfidfTopTerms(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = termFreqs(spark, sfDir)
    // df derives from tf — (doc, term) is unique there, so the distinct
    // count collapses to a row count and the corpus is tokenized ONCE
    // (tf feeds both branches of the join through one shuffle output)
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).alias("df"))
    val nd = Tables.documents(spark, sfDir).agg(count(lit(1)).alias("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nd))
      .withColumn("tfidf", (col("tf") * col("n_docs")).cast("double") / col("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("tfidf"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** IDF-SURPRISAL quality score — the integer-exact stand-in for the
    * language-model perplexity filter a pretraining pipeline runs:
    * a token occurring in df of N documents carries
    * `⌊log₂(N/df)⌋` bits of surprisal, computed EXACTLY as
    * `length(bin(N div df)) − 1` (binary-digit count — no float log, so
    * both engines agree bit-for-bit where a `ln`-based spelling could
    * disagree in the last ulp at power-of-two boundaries). A document's
    * score is its mean per-token surprisal: low = boilerplate built from
    * ubiquitous tokens, high = rare-token-dense (OCR noise, codes) —
    * the two tails a perplexity gate trims. Shares the tokenize-once
    * tf→df shape of [[tfidfTopTerms]]: one corpus shuffle, term-keyed df
    * join, no document windows.
    */
  def surprisalQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val tf = termFreqs(spark, sfDir)
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).alias("df"))
    val nd = Tables.documents(spark, sfDir).agg(count(lit(1)).alias("n_docs"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nd))
      .withColumn("bits", (length(bin(expr("n_docs div df"))) - 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).alias("n_tokens"),
        sum(col("bits") * col("tf")).alias("total_bits"))
      .withColumn("mean_bits",
        col("total_bits").cast("double") / col("n_tokens"))
      .orderBy("doc_id")
  }

  /** The fixed phrase-query set [[phraseTopDocs]] ranks against —
    * order-sensitive multi-term phrases over the fixture vocabulary,
    * including a repeated-word run (`batch batch batch`) so the
    * overlapping-occurrence arithmetic is exercised, not just spelled.
    */
  private[graft] val PhraseQueries: Seq[(Int, String)] = Seq(
    1 -> "merge sort",
    2 -> "window merge",
    3 -> "batch batch batch",
    4 -> "table scan")

  /** POSITIONAL RETRIEVAL — exact-phrase top-5 documents per query, the
    * order-sensitive rung above [[bm25TopDocs]]'s bag-of-words: an
    * eval-contamination lookup or quote-detection pass needs "these
    * words ADJACENT, in order", which no tf statistic can express. The
    * tokenize-once lineage gains its positions grain
    * ([[termPositionsOf]] — posexplode of the SAME whitespace
    * tokenizer, so phrase matching and BM25 can never disagree on what
    * a token is).
    *
    * The match is ONE broadcast join, not k self-joins: each corpus
    * token matching ANY phrase word votes for the phrase START it would
    * imply (`start = pos − k` for the k-th phrase word), and a start
    * where the distinct-k vote count equals the phrase length is an
    * exact occurrence — repeated phrase words (the `batch batch batch`
    * run) and overlapping occurrences fall out of the same arithmetic
    * (a token matching several k's votes for several starts; a run of
    * r+k tokens yields r overlapping occurrences). Ranking: occurrence
    * count desc, doc_id asc, top-5 per query with the rank filter
    * directly on the window (WindowGroupLimit).
    *
    * Scale shape: phrase words ride a BROADCAST probe into the
    * token-positions scan; only MATCHING tokens shuffle (on the
    * (query, doc, start) key), never the corpus; the per-query top-5
    * window sees only hit documents. At 100 TB this is the stored
    * token-cache posture with a positions column — the standard
    * positional-index layout.
    */
  def phraseTopDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    phraseTopDocsOf(Tables.loadSpread(spark, sfDir, "documents"),
      PhraseQueries.toDF("query_id", "p_text"))
  }

  /** BM25's stored-table precedent carried to the POSITIONS grain: the
    * phrase query served from the maintained on-disk positions index
    * ([[graft.streaming.EventStream.posIndexRead]] — history tokenized
    * once into the seed, the batch folded as one committed append
    * generation), no session tokenization in the returned lineage. Oracle =
    * `phrase_top_docs`'s oracle VERBATIM, so the scaladoc claim "at
    * 100 TB this is the stored positional-index layout" is a gate fact,
    * not prose.
    */
  def phraseStoredTopDocs(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"textanalysis.phraseStored:$sfDir") {
      import spark.implicits._
      import graft.streaming.EventStream
      val indexDir = Layout.tmpPath("graft-poslog", sfDir)
      val docs = Tables.documents(spark, sfDir)
      val isBatch = col("doc_id") % 10 === 9
      EventStream.posIndexSeed(spark, indexDir, docs.filter(!isBatch))
      EventStream.posIndexFoldBatch(spark, indexDir, docs.filter(isBatch), 0L)
      phraseTopDocsFromPositions(EventStream.posIndexRead(spark, indexDir),
        PhraseQueries.toDF("query_id", "p_text"))
    }

  /** POSITIONS-TIER TIME TRAVEL, the [[bm25StoredAsOf]] pattern on the
    * phrase grain: the stored positional index read AS OF the pre-batch
    * snapshot (seed only — the batch-0 subdir excluded by the listing
    * filter, zero data copy) serving the identical phrase arm. With the
    * tf tier's gate this makes BOTH retrieval index grains
    * snapshot-addressable — the reproducibility read a training run
    * pins ("which documents matched this phrase when the corpus
    * snapshot was cut?"). Oracle = the phrase arm rebuilt from scratch
    * over exactly the history window.
    */
  def phraseStoredAsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"textanalysis.phraseStoredAsof:$sfDir") {
      import spark.implicits._
      import graft.streaming.EventStream
      // build (or find, commit-gated) the stored index + its batch fold
      phraseStoredTopDocs(spark, sfDir)
      val indexDir = Layout.tmpPath("graft-poslog", sfDir)
      phraseTopDocsFromPositions(
        EventStream.posIndexReadAsOf(spark, indexDir, asOfBatch = -1L),
        PhraseQueries.toDF("query_id", "p_text"))
    }

  /** [[phraseTopDocs]] over any (doc_id, text) + (query_id, p_text)
    * frames — the planted adjacent-vs-scattered spec drives this
    * factored core directly.
    */
  private[graft] def phraseTopDocsOf(docs: DataFrame,
      phrases: DataFrame): DataFrame =
    phraseTopDocsFromPositions(termPositionsOf(docs), phrases)

  /** The phrase core over any (doc_id, pos, term) positions frame — ONE
    * body behind the session query and the stored-index gate.
    */
  private[graft] def phraseTopDocsFromPositions(tp: DataFrame,
      phrases: DataFrame): DataFrame = {
    val qwords = phrases.select(col("query_id"),
      size(TextFunctions.tokens(col("p_text"))).alias("len"),
      posexplode(TextFunctions.tokens(col("p_text")))
        .as(Seq("k", "term")))
    val starts = tp
      .join(broadcast(qwords), Seq("term"))
      .select(col("query_id"), col("doc_id"),
        (col("pos") - col("k")).alias("start"), col("len"), col("k"))
      .groupBy(col("query_id"), col("doc_id"), col("start"), col("len"))
      .agg(countDistinct(col("k")).alias("nk"))
      .filter(col("nk") === col("len"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_occurrences").desc, col("doc_id").asc)
    starts.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).alias("n_occurrences"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("doc_id"), col("rank"), col("n_occurrences"))
      .orderBy("query_id", "rank")
  }

  /** The token-POSITIONS grain of the tokenize-once lineage — the same
    * [[graft.functions.TextFunctions.tokens]] split as [[termFreqsOf]],
    * exploded with ordinals.
    */
  private[graft] def termPositionsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "term")))

  /** The proximity-query set and window width for [[proximityTopDocs]].
    * Query 1 is [[PhraseQueries]]' "merge sort" REVERSED — the case that
    * separates proximity (order-free, still a hit) from exact-phrase
    * matching; terms within a query are distinct (coverage semantics).
    */
  private[graft] val ProximityQueries: Seq[(Int, String)] = Seq(
    1 -> "sort merge",
    2 -> "customer filter",
    3 -> "vector stream batch")

  private[graft] val ProximityWindow = 8

  /** PROXIMITY-WINDOW RETRIEVAL — the order-free rung between
    * [[bm25TopDocs]]'s bag-of-words and [[phraseTopDocs]]' exact
    * adjacency: a document scores where ALL query terms co-occur within
    * a [[ProximityWindow]]-token window, in any order (the "near each
    * other" predicate passage-retrieval and quote-paraphrase checks
    * need). Score = number of ANCHORED covering windows: each matched
    * token position p₀ is an anchor, and an anchor counts when every
    * distinct query term appears in [p₀, p₀+W) — exact integer
    * arithmetic, deterministic on both engines, monotone in how densely
    * the terms co-occur.
    *
    * Shape: the same broadcast probe into the token-positions scan as
    * the phrase query (only matching tokens survive), then a
    * (query, doc)-keyed SELF-join of the small match set with the
    * window residual — an equi-join with a bounded per-doc fan-out
    * (matches-per-doc², matches per doc being a handful), never a
    * corpus-sized or non-equi join.
    */
  def proximityTopDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    proximityTopDocsOf(Tables.loadSpread(spark, sfDir, "documents"),
      ProximityQueries.toDF("query_id", "p_text"), ProximityWindow)
  }

  /** [[proximityTopDocs]] over any (doc_id, text) + (query_id, p_text)
    * frames — the planted within-window / spread / reversed spec drives
    * this factored core directly.
    */
  private[graft] def proximityTopDocsOf(docs: DataFrame, queries: DataFrame,
      win: Int): DataFrame = {
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(TextFunctions.tokens(col("p_text"))))
        .alias("term"))
    val nTerms = qterms.groupBy(col("query_id"))
      .agg(count(lit(1)).alias("n_terms"))
    val matches = termPositionsOf(docs)
      .join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("pos"), col("term"))
      // read twice (anchor side + window side) — one probe pass
      .transform(graft.CacheLifecycle.sessionPersist)
    val anchors = matches
      .select(col("query_id"), col("doc_id"), col("pos").alias("p0"))
    val covered = anchors
      .join(matches, Seq("query_id", "doc_id"))
      .filter(col("pos") >= col("p0") && col("pos") < col("p0") + lit(win))
      .groupBy(col("query_id"), col("doc_id"), col("p0"))
      .agg(countDistinct(col("term")).alias("nt"))
      .join(broadcast(nTerms), Seq("query_id"))
      .filter(col("nt") === col("n_terms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_windows").desc, col("doc_id").asc)
    covered.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).alias("n_windows"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("doc_id"), col("rank"), col("n_windows"))
      .orderBy("query_id", "rank")
  }

  /** The registered phrase top-5 report — ONE spelling behind
    * `phrase_top_docs` (session tokenize) and `phrase_stored_top_docs`
    * (stored positions index), the shared-oracle discipline. The
    * positional spelling replayed verbatim: zipped unnest gives the
    * token/ordinal grain (0-based via `range(len(t))` — DuckDB's
    * `generate_subscripts` is itself an unnest macro and would nest),
    * the start-vote count(DISTINCT k) = len rule is the same arithmetic.
    */
  private lazy val phraseTop5OracleSql: String =
    phraseTop5OracleSqlOver("documents")

  /** [[phraseTop5OracleSql]] parameterized by the document window — the
    * positions-tier as-of gate replays the arm over the snapshot's
    * window (the [[bm25RankedCteOver]] discipline).
    */
  private def phraseTop5OracleSqlOver(docsFrom: String): String = {
    val values = PhraseQueries.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""WITH phrases(query_id, p_text) AS (VALUES $values),
       |pw0 AS (SELECT query_id, string_split(p_text, ' ') AS t FROM phrases),
       |pw AS (
       |  SELECT query_id,
       |         unnest(range(len(t))) AS k,
       |         unnest(t) AS term,
       |         len(t) AS len
       |  FROM pw0),
       |tp0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM $docsFrom),
       |tp AS (
       |  SELECT doc_id,
       |         unnest(range(len(t))) AS pos,
       |         unnest(t) AS term
       |  FROM tp0),
       |st AS (
       |  SELECT query_id, doc_id, pos - k AS start, len,
       |         count(DISTINCT k) AS nk
       |  FROM tp JOIN pw USING (term)
       |  GROUP BY 1, 2, 3, 4),
       |occ AS (
       |  SELECT query_id, doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
       |  FROM st WHERE nk = len GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc_id, n_occurrences,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY n_occurrences DESC, doc_id ASC) AS INT) AS rank
       |  FROM occ)
       |SELECT query_id, doc_id, rank, n_occurrences
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The fixed retrieval query set [[bm25TopDocs]] ranks against —
    * data-plausible multi-term queries over the fixture vocabulary,
    * including the rare term (`dup`) whose idf dominates where it hits.
    * A production run swaps in the live query table; the engine shape
    * (broadcast query terms probing the tf index) is identical.
    */
  private[graft] val Bm25Queries: Seq[(Int, String)] = Seq(
    1 -> "window merge sort",
    2 -> "dup scan",
    3 -> "customer join filter",
    4 -> "vector stream batch")

  /** DuckDB CTE chain for the BM25 ranking arm over [[Bm25Queries]],
    * ending in `ranked` (query_id, doc_id, score_m, n_hit_terms, rank) —
    * the twin of [[bm25Ranked]], shared by the `bm25_top_docs` oracle
    * (rank ≤ 5) and the hybrid-fusion oracle's lexical arm (rank ≤ 20)
    * so the arm definition cannot drift between them. Keep the arithmetic
    * in sync with [[bm25Ranked]].
    */
  private[operators] lazy val bm25RankedCte: String =
    bm25RankedCteOver(
      docsFrom = "documents",
      ndSql = "SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents")

  /** [[bm25RankedCte]] parameterized by the document window and the
    * corpus-count source — the as-of gate serves the SAME arm over the
    * snapshot's document window, with `n_docs` derived from the
    * snapshot itself (the tf table), not the live corpus.
    */
  private[operators] def bm25RankedCteOver(docsFrom: String,
      ndSql: String): String = {
    val values = Bm25Queries.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
    s"""queries(query_id, q_text) AS (VALUES $values),
       |qterms AS (
       |  SELECT DISTINCT query_id, unnest(string_split(q_text, ' ')) AS term
       |  FROM queries),
       |toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM $docsFrom),
       |tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |  FROM toks GROUP BY 1, 2),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t_tokens FROM tf),
       |nd AS ($ndSql),
       |term_scores AS (
       |  SELECT query_id, doc_id,
       |         CAST(floor(CAST(n_docs * 22 * tf * t_tokens AS DOUBLE)
       |           / CAST(df * (10 * tf * t_tokens + 3 * t_tokens + 9 * dl * n_docs) AS DOUBLE)
       |           * 1000000.0) AS BIGINT) AS term_m
       |  FROM tf JOIN qterms USING (term) JOIN dfreq USING (term)
       |       JOIN dl USING (doc_id) CROSS JOIN tot CROSS JOIN nd),
       |by_doc AS (
       |  SELECT query_id, doc_id, CAST(sum(term_m) AS BIGINT) AS score_m,
       |         CAST(count(*) AS BIGINT) AS n_hit_terms
       |  FROM term_scores GROUP BY 1, 2),
       |ranked AS (
       |  SELECT query_id, doc_id, score_m, n_hit_terms,
       |         CAST(row_number() OVER (PARTITION BY query_id
       |           ORDER BY score_m DESC, doc_id ASC) AS INT) AS rank
       |  FROM by_doc)""".stripMargin
  }

  /** The registered top-5 report over `ranked` — ONE spelling behind
    * `bm25_top_docs` (session tokenize) and `bm25_stored_top_docs`
    * (stored-table serving), the shared-oracle discipline.
    */
  private lazy val bm25Top5OracleSql: String =
    s"""WITH $bm25RankedCte
       |SELECT query_id, doc_id, rank, n_hit_terms, score_m,
       |       CAST(score_m AS DOUBLE) / 1000000.0 AS bm25
       |FROM ranked WHERE rank <= 5
       |ORDER BY query_id, rank""".stripMargin

  /** RANKED RETRIEVAL — BM25 top-5 documents per query, the
    * query→documents shape an LLM data pipeline runs constantly
    * (hard-negative mining, eval-contamination lookups) and the one
    * scoring tier (TF-IDF, surprisal, rare-bigram) never closed: these
    * SCORE documents; this RETRIEVES them.
    *
    * Exactness discipline (the `lineitem_corr` / [[tfidfTopTerms]]
    * precedent): no float transcendentals anywhere. The idf factor is
    * the LINEAR `n_docs / df` ([[tfidfTopTerms]]'s variant — `ln` is
    * monotone in it for a fixed term, and the fixture's 31-word
    * vocabulary makes a floor-log2 idf degenerate), kept as an exact
    * rational. The BM25 tf-saturation factor with k1 = 6/5, b = 3/4 and
    * `avgdl = T/N` cross-multiplies to one integer ratio:
    *
    *   idf · tf·(k1+1) / (tf + k1·(1−b+b·dl·N/T))
    *     = (N·22·tf·T) / (df·(10·tf·T + 3·T + 9·dl·N))
    *
    * — numerator and denominator are exact longs (< 2^53 at every
    * fixture scale, so their doubles are exact), the single division is
    * IEEE exactly-rounded and therefore bit-identical on any engine,
    * and the per-term score is pinned to integer MILLIONTHS before the
    * cross-term sum, so summation order cannot drift the total (the
    * `Deterministic.exactSum` pattern).
    *
    * Scale shape: query terms are a BROADCAST probe into the tf index
    * (the only corpus-sized frames are tf/df/dl, all one tokenize-once
    * shuffle — shared shape with [[tfidfTopTerms]]); per-query top-5 is
    * one window over the hit set, never the corpus.
    */
  def bm25TopDocs(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val queries = Bm25Queries.toDF("query_id", "q_text")
    // rides the SHARED session term-frequency frame ([[termFreqs]])
    bm25FromTf(termFreqs(spark, sfDir),
      Tables.documents(spark, sfDir).agg(count(lit(1)).alias("n_docs")),
      queries)
  }

  /** BM25 SERVED FROM THE STORED TOKEN-CACHE TABLE — the r15 verdict's
    * "materialize the token cache" ask made a registered gate: the
    * (doc_id, term, tf) index lives ON DISK as the maintained table
    * [[graft.streaming.EventStream.tfIndexMaintenanceStream]] writes
    * (history tokenized once into the seed; the nightly batch folded in
    * as one committed append generation through the SAME commit-gated
    * `tfIndexFoldBatch` the stream runs), and serving is
    * [[bm25FromTf]] over [[graft.streaming.EventStream.tfIndexRead]] —
    * a READ of the stored table, no session-frame tokenization
    * anywhere in the returned lineage. The oracle is `bm25_top_docs`'s
    * oracle VERBATIM: passing the gate proves stored-table serving ≡
    * the session-frame retrieval query, i.e. the materialized token
    * cache is a drop-in substitute for tokenize-at-query-time.
    *
    * 100 TB posture: this IS the production shape — the corpus is
    * tokenized once per snapshot into the stored table; every retrieval
    * query pays a broadcast probe into it, never a corpus re-tokenize.
    * The session [[termFreqs]] frame remains the spelling for ad-hoc
    * sessions without a maintained index.
    *
    * Memoized durably behind the index's own committed-seed guard: a
    * second JVM skips the seed/fold writes (marker + `_SUCCESS`
    * evidence) and pays only the stored-table read.
    */
  def bm25StoredTopDocs(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"textanalysis.bm25Stored:$sfDir") {
      import spark.implicits._
      import graft.streaming.EventStream
      val indexDir = Layout.tmpPath("graft-tflog", sfDir)
      val docs = Tables.documents(spark, sfDir)
      val isBatch = col("doc_id") % 10 === 9
      EventStream.tfIndexSeed(spark, indexDir, docs.filter(!isBatch))
      EventStream.tfIndexFoldBatch(spark, indexDir, docs.filter(isBatch), 0L)
      bm25FromTf(EventStream.tfIndexRead(spark, indexDir),
        docs.agg(count(lit(1)).alias("n_docs")),
        Bm25Queries.toDF("query_id", "q_text"))
    }

  /** BM25 SERVED FROM THE STORED TF INDEX *AS OF* THE PRE-BATCH SNAPSHOT
    * — the retrieval-tier time-travel gate (the `chunk_index_asof`
    * pattern one tier up): what retrieval served BEFORE tonight's fold,
    * the read a training run pins for reproducibility ("which documents
    * did this query surface when the corpus snapshot was cut?"). The
    * index is [[bm25StoredTopDocs]]'s stored table (seed = history docs,
    * batch 0 = the `doc_id % 10 = 9` fold); serving reads it AS OF
    * batch −1 ([[graft.streaming.EventStream.tfIndexReadAsOf]] — the
    * seed snapshot, the batch-0 subdir EXCLUDED by the listing filter)
    * through the identical [[bm25FromTf]] arm, with `n_docs` derived
    * from the snapshot itself (distinct doc_ids in the as-of tf — the
    * corpus count retrieval KNEW at that snapshot, not today's). The
    * oracle rebuilds the arm from scratch over exactly the history
    * window, so a batch row served past the as-of bound, a dropped seed
    * row, or a stale corpus count all surface as rank/score diffs.
    * StreamingSpec pins the tf-tier catch-up invariant
    * (asOf(0) ∪ changes(0,1] = asOf(1)) and the loud-failure direction.
    *
    * 100 TB shape: time travel is a LISTING filter over the per-batch
    * write units — zero data copy; the serving plan is byte-identical
    * to the live stored read.
    */
  def bm25StoredAsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"textanalysis.bm25StoredAsof:$sfDir") {
      import spark.implicits._
      import graft.streaming.EventStream
      // build (or find, commit-gated) the stored index + its batch fold
      bm25StoredTopDocs(spark, sfDir)
      val indexDir = Layout.tmpPath("graft-tflog", sfDir)
      val tf = EventStream.tfIndexReadAsOf(spark, indexDir, asOfBatch = -1L)
      bm25FromTf(tf,
        tf.select(col("doc_id")).distinct().agg(count(lit(1)).alias("n_docs")),
        Bm25Queries.toDF("query_id", "q_text"))
    }

  /** [[bm25TopDocs]] over any (doc_id, text) + (query_id, q_text) pair
    * of frames — the planted-relevance spec drives this directly.
    */
  private[graft] def bm25TopDocsOf(docs: DataFrame, queries: DataFrame): DataFrame =
    bm25FromTf(termFreqsOf(docs), docs.agg(count(lit(1)).alias("n_docs")), queries)

  // private[graft]: the streaming tf-index parity spec serves BM25 from
  // the MAINTAINED index through this exact plan (n_docs supplied as the
  // additively-maintained document counter)
  private[graft] def bm25FromTf(tf: DataFrame, nd: DataFrame,
      queries: DataFrame): DataFrame =
    bm25Ranked(tf, nd, queries, depth = 5)
      .select(col("query_id"), col("doc_id"), col("rank"),
        col("n_hit_terms"), col("score_m"),
        (col("score_m").cast("double") / lit(1000000.0)).alias("bm25"))
      .orderBy("query_id", "rank")

  /** The BM25 ranking ARM at an arbitrary list depth — the shared core of
    * [[bm25FromTf]] (depth 5, the registered retrieval query) and the
    * lexical arm of [[Retrieval.hybridRrfTopDocs]] (depth 20: fusion
    * wants deeper per-arm lists than either arm would serve alone). The
    * rank filter sits directly on the row_number window so Spark's
    * WindowGroupLimit keeps per-partition state at `depth` rows instead
    * of sorting every hit.
    */
  private[operators] def bm25Ranked(tf: DataFrame, nd: DataFrame,
      queries: DataFrame, depth: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // df and dl both derive from tf — the corpus is tokenized ONCE and
    // one (doc, term) shuffle feeds every statistic
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).alias("df"))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).alias("dl"))
    val tot = tf.agg(sum(col("tf")).alias("t_tokens"))
    val qterms = queries
      .select(col("query_id"), explode(TextFunctions.tokens(col("q_text"))).alias("term"))
      .distinct()
    val termScores = tf
      .join(broadcast(qterms), Seq("term"))
      .join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(nd))
      .withColumn("term_m",
        floor((col("n_docs") * lit(22L) * col("tf") * col("t_tokens")).cast("double")
            / (col("df") * (lit(10L) * col("tf") * col("t_tokens")
              + lit(3L) * col("t_tokens")
              + lit(9L) * col("dl") * col("n_docs"))).cast("double")
          * lit(1000000.0)).cast("long"))
    val byDoc = termScores.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("term_m")).alias("score_m"),
        count(lit(1)).alias("n_hit_terms"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_m").desc, col("doc_id").asc)
    byDoc.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= depth)
  }

  /** Order-sensitive rolling-hash document fingerprint + full-text md5 —
    * the compact dedup/fingerprint keys a 100 TB pipeline carries instead
    * of raw text.
    */
  def fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    // spread: md5 + rolling-hash per row (see tokenStats)
    Tables.loadSpread(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        md5(col("text")).alias("text_md5"),
        TextFunctions.rollingFingerprint(TextFunctions.tokens(col("text")))
          .alias("rolling_fp"))
      .orderBy("doc_id")

  /** Normalization pipeline: lowercase → digits collapsed to '#' →
    * whitespace squeezed → md5 of the canonical form. The string-function
    * tier (lower / regexp_replace / trim) ahead of any dedup hash; the
    * regex is deliberately portable (character classes only — no
    * engine-specific syntax).
    */
  def normalizedFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    // spread: two regex passes + md5 per row (see tokenStats)
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[0-9]+", "#"),
          " +", " ")).alias("canonical"))
      .select(col("doc_id"), length(col("canonical")).cast("int").alias("canonical_len"),
        md5(col("canonical")).alias("canonical_md5"))
      .orderBy("doc_id")

  private val toksSql = "string_split(text, ' ')"

  /** One BPE training round as DuckDB CTEs (keep in sync with the round
    * body in [[bpeLearnedMergesBuild]]): weighted pair counts over
    * `sym{i-1}`, argmax `m{i}`, and the greedy left-to-right merge fold
    * as a recursive CTE carrying (pos, out, skip) — the same fold the
    * Spark side spells as an `aggregate` HOF.
    */
  private def bpeRoundSql(i: Int): String =
    s"""pc$i AS (
       |  SELECT p.l, p.r, CAST(sum(freq) AS BIGINT) AS c
       |  FROM sym${i - 1} t, unnest(list_transform(range(1, len(t.s)),
       |    j -> struct_pack(l := t.s[CAST(j AS INT)], r := t.s[CAST(j AS INT) + 1]))) AS u(p)
       |  GROUP BY 1, 2),
       |m$i AS (SELECT l, r, c FROM pc$i ORDER BY c DESC, l ASC, r ASC LIMIT 1),
       |r$i(w, freq, s, pos, out, skip) AS (
       |  SELECT w, freq, s, 1, CAST([] AS VARCHAR[]), false FROM sym${i - 1}
       |  UNION ALL
       |  SELECT w, freq, s, pos + 1,
       |    CASE WHEN skip THEN out
       |         WHEN pos < len(s) AND s[pos] = (SELECT l FROM m$i)
       |              AND s[pos + 1] = (SELECT r FROM m$i)
       |           THEN list_append(out, s[pos] || s[pos + 1])
       |         ELSE list_append(out, s[pos]) END,
       |    CASE WHEN skip THEN false
       |         WHEN pos < len(s) AND s[pos] = (SELECT l FROM m$i)
       |              AND s[pos + 1] = (SELECT r FROM m$i) THEN true
       |         ELSE false END
       |  FROM r$i WHERE pos <= len(s)),
       |sym$i AS (SELECT w, freq, out AS s FROM r$i WHERE pos = len(s) + 1)""".stripMargin

  /** DuckDB spelling of Spark's `Percentile` interpolation, PINNED to the
    * exact arithmetic `Percentile.getPercentile` performs — pos =
    * (n−1)·q, lo = floor(pos), hi = ceil(pos), and the interpolated
    * value is `(hi−pos)·arr[lo] + (pos−lo)·arr[hi]` with the lo==hi case
    * returned directly (the general formula would yield 0 there).
    * `quantile_cont`'s algebraically-equal `a + (b−a)·frac` form can
    * differ in the last ulp, so the oracle evaluates the same IEEE ops
    * in the same order instead of assuming the engines' builtins agree.
    * Expects CTE columns `n_docs` (count) and `arr` (sorted BIGINT list,
    * 1-based indexing).
    */
  private def pinnedPctSql(q: String): String = {
    val pos = s"(CAST(n_docs - 1 AS DOUBLE) * CAST($q AS DOUBLE))"
    s"""CASE WHEN floor($pos) = ceil($pos)
       |  THEN CAST(arr[CAST(floor($pos) AS BIGINT) + 1] AS DOUBLE)
       |  ELSE (ceil($pos) - $pos)
       |         * CAST(arr[CAST(floor($pos) AS BIGINT) + 1] AS DOUBLE)
       |       + ($pos - floor($pos))
       |         * CAST(arr[CAST(ceil($pos) AS BIGINT) + 1] AS DOUBLE) END""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "text_bpe_learned_merges" ->
      s"""WITH RECURSIVE
         |words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  WHERE w != '' GROUP BY 1),
         |sym0 AS (
         |  SELECT w, freq,
         |         list_transform(range(1, len(w) + 1),
         |           i -> substring(w, CAST(i AS INT), 1)) AS s
         |  FROM words),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)}
         |SELECT * FROM (
         |  SELECT CAST(1 AS INT) AS rank, l AS left_sym, r AS right_sym,
         |         c AS pair_count FROM m1
         |  UNION ALL SELECT 2, l, r, c FROM m2
         |  UNION ALL SELECT 3, l, r, c FROM m3)
         |ORDER BY rank""".stripMargin,
    "text_bpe_vocab" ->
      s"""WITH RECURSIVE
         |words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  WHERE w != '' GROUP BY 1),
         |sym0 AS (
         |  SELECT w, freq,
         |         list_transform(range(1, len(w) + 1),
         |           i -> substring(w, CAST(i AS INT), 1)) AS s
         |  FROM words),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)}
         |SELECT w, freq, CAST(len(s) AS INT) AS n_sym,
         |       array_to_string(s, ' ') AS segmented
         |FROM sym3 ORDER BY w""".stripMargin,
    // ids by symbol sort order: DuckDB's default binary collation and
    // Scala's string ordering agree on the fixture's ASCII vocabulary —
    // the same cross-engine assumption every ORDER BY in this file makes
    "docs_bpe_token_ids" ->
      s"""WITH RECURSIVE
         |words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  WHERE w != '' GROUP BY 1),
         |sym0 AS (
         |  SELECT w, freq,
         |         list_transform(range(1, len(w) + 1),
         |           i -> substring(w, CAST(i AS INT), 1)) AS s
         |  FROM words),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)},
         |vocab AS (
         |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) - 1 AS INT) AS id
         |  FROM (SELECT DISTINCT unnest(s) AS sym FROM sym3)),
         |word_sym AS (
         |  SELECT t.w, u.p.spos AS spos, u.p.sym AS sym
         |  FROM sym3 t, unnest(list_transform(range(1, len(t.s) + 1),
         |    j -> struct_pack(spos := j, sym := t.s[CAST(j AS INT)]))) AS u(p)),
         |word_ids AS (
         |  SELECT w,
         |         string_agg(CAST(coalesce(v.id, -1) AS VARCHAR), ' ' ORDER BY spos) AS ids_str,
         |         CAST(count(*) AS BIGINT) AS n_sym
         |  FROM word_sym ws LEFT JOIN vocab v ON ws.sym = v.sym
         |  GROUP BY w),
         |doctoks AS (
         |  SELECT d.doc_id, u.p.pos AS pos, u.p.w AS w
         |  FROM (SELECT doc_id, $toksSql AS t FROM documents) d,
         |    unnest(list_transform(range(1, len(d.t) + 1),
         |      i -> struct_pack(pos := i, w := d.t[CAST(i AS INT)]))) AS u(p)
         |  WHERE u.p.w != '')
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(n_sym) AS BIGINT) AS n_bpe_tokens,
         |       string_agg(ids_str, ' ' ORDER BY pos) AS token_ids
         |FROM doctoks JOIN word_ids USING (w)
         |GROUP BY doc_id
         |ORDER BY doc_id""".stripMargin,
    "docs_token_packing_bpe" ->
      s"""WITH RECURSIVE
         |words AS (
         |  SELECT w, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest($toksSql) AS w FROM documents)
         |  WHERE w != '' GROUP BY 1),
         |sym0 AS (
         |  SELECT w, freq,
         |         list_transform(range(1, len(w) + 1),
         |           i -> substring(w, CAST(i AS INT), 1)) AS s
         |  FROM words),
         |${bpeRoundSql(1)},
         |${bpeRoundSql(2)},
         |${bpeRoundSql(3)},
         |wn AS (SELECT w, CAST(len(s) AS BIGINT) AS n_sym FROM sym3),
         |dt AS (
         |  SELECT doc_id, w FROM (
         |    SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |  WHERE w != ''),
         |sized AS (
         |  SELECT doc_id, CAST(sum(n_sym) AS BIGINT) AS n_tokens
         |  FROM dt JOIN wn USING (w) GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |       CAST(sum(n_tokens) OVER (ORDER BY doc_id
         |         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
         |       CAST((sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
         |             - n_tokens) // ${Features.PackBudget} AS BIGINT) AS bin_id
         |FROM sized ORDER BY doc_id""".stripMargin,
    "docs_length_profile" ->
      s"""WITH t AS (
         |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |g AS (
         |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |         sum(n_tokens) / count(*) AS mean_tokens,
         |         list(n_tokens ORDER BY n_tokens) AS arr
         |  FROM t GROUP BY source)
         |SELECT source, n_docs, mean_tokens,
         |       ${pinnedPctSql("0.5")} AS p50_tokens,
         |       ${pinnedPctSql("0.9")} AS p90_tokens,
         |       ${pinnedPctSql("0.99")} AS p99_tokens
         |FROM g ORDER BY source""".stripMargin,
    "text_normalized_fingerprint" ->
      """WITH canon AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text), '[0-9]+', '#', 'g'),
        |              ' +', ' ', 'g')) AS canonical
        |  FROM documents)
        |SELECT doc_id, CAST(length(canonical) AS INT) AS canonical_len,
        |       md5(canonical) AS canonical_md5
        |FROM canon ORDER BY doc_id""".stripMargin,
    "text_bpe_tokens" ->
      """WITH seg AS (
        |  SELECT doc_id, regexp_extract_all(text, '[aeiou]+|[^aeiou ]+') AS sub
        |  FROM documents)
        |SELECT doc_id, CAST(len(sub) AS INT) AS n_subtokens,
        |       CAST(len(list_distinct(sub)) AS INT) AS n_unique_subtokens
        |FROM seg ORDER BY doc_id""".stripMargin,
    "text_rare_bigram_ratio" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |db AS (
        |  SELECT DISTINCT doc_id, bigram FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      generate_series(1, greatest(len(t) - 1, 0)),
        |      i -> t[i] || ' ' || t[i+1])) AS bigram
        |    FROM toks)),
        |dfq AS (
        |  SELECT bigram, CAST(count(*) AS BIGINT) AS df FROM db GROUP BY 1)
        |SELECT doc_id,
        |       CAST(count(*) AS BIGINT) AS n_bigrams,
        |       CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
        |       CAST(sum(CASE WHEN df <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |         / count(*) AS rare_ratio
        |FROM db JOIN dfq USING (bigram)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "top_bigrams_per_lang" ->
      """WITH toks AS (
        |  SELECT lang, doc_id, string_split(text, ' ') AS t FROM documents),
        |bigrams AS (
        |  SELECT lang, unnest(list_transform(
        |    generate_series(1, greatest(len(t) - 1, 0)),
        |    i -> t[i] || ' ' || t[i+1])) AS bigram
        |  FROM toks),
        |counts AS (
        |  SELECT lang, bigram, CAST(count(*) AS BIGINT) AS n
        |  FROM bigrams GROUP BY 1, 2)
        |SELECT lang, bigram, n,
        |       CAST(row_number() OVER (PARTITION BY lang
        |         ORDER BY n DESC, bigram ASC) AS INT) AS rank
        |FROM counts QUALIFY rank <= 5
        |ORDER BY lang, rank""".stripMargin,
    "text_langid_ngram" ->
      s"""WITH $langIdNgramPredCte
         |SELECT doc_id, actual_lang, g_en, g_es, g_de, g_fr, predicted_lang
         |FROM pred ORDER BY doc_id""".stripMargin,
    // the eval report over the same shared prediction CTE — the matrix
    // cannot drift from the per-doc predictions it summarizes
    "langid_confusion" ->
      s"""WITH $langIdNgramPredCte
         |SELECT actual_lang, predicted_lang,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(*) * 100 AS DOUBLE)
         |         / sum(count(*)) OVER (PARTITION BY actual_lang) AS share_pct
         |FROM pred GROUP BY actual_lang, predicted_lang
         |ORDER BY actual_lang, predicted_lang""".stripMargin,
    // as-of ≡ the prefix rebuild: the same statistics over exactly the
    // batch-0 documents (the split's own (min+max)/2 spelling)
    "text_df_asof" ->
      s"""WITH mid AS (
         |  SELECT (min(doc_id) + max(doc_id)) / 2 AS m FROM documents)
         |SELECT w AS term, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(c) AS BIGINT) AS tf_sum
         |FROM (SELECT doc_id, w, count(*) AS c
         |      FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents
         |            WHERE doc_id <= (SELECT m FROM mid))
         |      GROUP BY doc_id, w)
         |GROUP BY w ORDER BY term""".stripMargin,
    "text_df_incremental" ->
      s"""SELECT w AS term, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(c) AS BIGINT) AS tf_sum
         |FROM (SELECT doc_id, w, count(*) AS c
         |      FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents)
         |      GROUP BY doc_id, w)
         |GROUP BY w ORDER BY term""".stripMargin,
    // the erasure gate: subtract-fold ≡ rebuild over the SURVIVING docs —
    // a term living only in forgotten documents must be absent entirely
    // erasure on the stored VERSIONED tier == the same filter-rebuild
    // over survivors (subtract-fold + horizon + sweep leave exactly the
    // surviving-corpus statistics, served live)
    "text_df_forget_stored" ->
      s"""SELECT w AS term, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(c) AS BIGINT) AS tf_sum
         |FROM (SELECT doc_id, w, count(*) AS c
         |      FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents
         |            WHERE doc_id % 10 != 7)
         |      GROUP BY doc_id, w)
         |GROUP BY w ORDER BY term""".stripMargin,
    "text_df_forget_docs" ->
      s"""SELECT w AS term, CAST(count(*) AS BIGINT) AS df,
         |       CAST(sum(c) AS BIGINT) AS tf_sum
         |FROM (SELECT doc_id, w, count(*) AS c
         |      FROM (SELECT doc_id, unnest($toksSql) AS w FROM documents
         |            WHERE doc_id % 10 != 7)
         |      GROUP BY doc_id, w)
         |GROUP BY w ORDER BY term""".stripMargin,
    "text_vocab_approx" ->
      """SELECT lang,
        |       CAST(count(DISTINCT token) AS BIGINT) AS vocab_exact,
        |       TRUE AS hll_within_5pct
        |FROM (SELECT lang, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_token_stats" ->
      """SELECT lang,
        |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |       CAST(count(*) AS BIGINT) AS n_tokens,
        |       CAST(count(DISTINCT token) AS BIGINT) AS vocab,
        |       count(*) / count(DISTINCT doc_id) AS avg_tokens_per_doc
        |FROM (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin,
    "text_quality" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |         CAST(length(text) AS INT) AS n_chars,
         |         CAST(len($toksSql) AS INT) AS n_tokens,
         |         ${sqlCountIn(toksSql, stopEn)} AS n_stopwords
         |  FROM documents)
         |SELECT doc_id, n_chars, n_tokens, n_stopwords,
         |       (n_chars - n_tokens + 1) / n_tokens AS avg_token_len,
         |       n_stopwords / n_tokens AS stopword_ratio,
         |       (n_tokens >= 20 AND n_stopwords / n_tokens < 0.5) AS is_quality
         |FROM base ORDER BY doc_id""".stripMargin,
    "text_langid" ->
      s"""WITH scored AS (
         |  SELECT doc_id, lang AS actual_lang,
         |         ${sqlCountIn(toksSql, stopEn)} AS s_en,
         |         ${sqlCountIn(toksSql, stopEs)} AS s_es,
         |         ${sqlCountIn(toksSql, stopDe)} AS s_de,
         |         ${sqlCountIn(toksSql, stopFr)} AS s_fr
         |  FROM documents)
         |SELECT doc_id, actual_lang, s_en, s_es, s_de, s_fr,
         |       CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
         |            WHEN s_en = greatest(s_en, s_es, s_de, s_fr) THEN 'en'
         |            WHEN s_es = greatest(s_en, s_es, s_de, s_fr) THEN 'es'
         |            WHEN s_de = greatest(s_en, s_es, s_de, s_fr) THEN 'de'
         |            ELSE 'fr' END AS predicted_lang
         |FROM scored ORDER BY doc_id""".stripMargin,
    "text_fingerprint" ->
      s"""SELECT doc_id, md5(text) AS text_md5,
         |       ${TextFunctions.rollingFingerprintSql(toksSql)} AS rolling_fp
         |FROM documents ORDER BY doc_id""".stripMargin,
    "text_surprisal_quality" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT doc_id,
        |       CAST(sum(tf) AS BIGINT) AS n_tokens,
        |       CAST(sum((length(bin(n_docs // df)) - 1) * tf) AS BIGINT)
        |         AS total_bits,
        |       CAST(sum((length(bin(n_docs // df)) - 1) * tf) AS DOUBLE)
        |         / sum(tf) AS mean_bits
        |FROM tf JOIN dfreq USING (term) CROSS JOIN nd
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "bm25_top_docs" -> bm25Top5OracleSql,
    // the stored-table gate's oracle IS the session-frame query's oracle:
    // passing both proves materialized-index serving ≡ tokenize-at-query
    "bm25_stored_top_docs" -> bm25Top5OracleSql,
    // the stored arm rebuilt from scratch over EXACTLY the as-of
    // snapshot's document window (seed = history docs), n_docs derived
    // from the snapshot's own tf — see [[bm25StoredAsOf]]
    "bm25_stored_asof" ->
      s"""WITH ${bm25RankedCteOver(
              "(SELECT doc_id, text FROM documents WHERE doc_id % 10 != 9) d",
              "SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM tf")}
         |SELECT query_id, doc_id, rank, n_hit_terms, score_m,
         |       CAST(score_m AS DOUBLE) / 1000000.0 AS bm25
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // the anchored-covering-window spelling replayed verbatim: the match
    // probe, the (query, doc)-keyed window self-join, coverage =
    // count(DISTINCT term) per anchor, occurrences = qualifying anchors
    "proximity_top_docs" -> {
      val values = ProximityQueries.map { case (id, t) => s"($id, '$t')" }.mkString(", ")
      s"""WITH qry(query_id, p_text) AS (VALUES $values),
         |qt AS (
         |  SELECT query_id,
         |         unnest(list_distinct(string_split(p_text, ' '))) AS term
         |  FROM qry),
         |qcnt AS (
         |  SELECT query_id, CAST(count(*) AS BIGINT) AS n_terms
         |  FROM qt GROUP BY 1),
         |tp0 AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |tp AS (
         |  SELECT doc_id,
         |         unnest(range(len(t))) AS pos,
         |         unnest(t) AS term
         |  FROM tp0),
         |m AS (
         |  SELECT query_id, doc_id, pos, term FROM tp JOIN qt USING (term)),
         |cov AS (
         |  SELECT a.query_id, a.doc_id, a.pos AS p0,
         |         count(DISTINCT b.term) AS nt
         |  FROM m a JOIN m b
         |    ON a.query_id = b.query_id AND a.doc_id = b.doc_id
         |   AND b.pos >= a.pos AND b.pos < a.pos + $ProximityWindow
         |  GROUP BY 1, 2, 3),
         |occ AS (
         |  SELECT c.query_id, c.doc_id, CAST(count(*) AS BIGINT) AS n_windows
         |  FROM cov c JOIN qcnt USING (query_id)
         |  WHERE nt = n_terms GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, doc_id, n_windows,
         |         CAST(row_number() OVER (PARTITION BY query_id
         |           ORDER BY n_windows DESC, doc_id ASC) AS INT) AS rank
         |  FROM occ)
         |SELECT query_id, doc_id, rank, n_windows
         |FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "phrase_top_docs" -> phraseTop5OracleSql,
    // the stored-index gate's oracle IS the session query's oracle:
    // passing both proves stored-positions serving ≡ tokenize-at-query
    "phrase_stored_top_docs" -> phraseTop5OracleSql,
    // the phrase arm rebuilt over EXACTLY the as-of snapshot's window
    // (seed = history docs) — see [[phraseStoredAsOf]]
    "phrase_stored_asof" -> phraseTop5OracleSqlOver(
      "(SELECT doc_id, text FROM documents WHERE doc_id % 10 != 9) d"),
    "text_tfidf_top_terms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tf AS (
        |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dfreq AS (
        |  SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM toks GROUP BY 1),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df,
        |         CAST(tf * n_docs AS DOUBLE) / df AS tfidf,
        |         CAST(row_number() OVER (PARTITION BY doc_id
        |           ORDER BY CAST(tf * n_docs AS DOUBLE) / df DESC, term ASC) AS INT) AS rank
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN nd)
        |SELECT doc_id, term, tf, df, tfidf, rank
        |FROM scored WHERE rank <= 3
        |ORDER BY doc_id, rank""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_normalized_fingerprint" -> normalizedFingerprint _,
    "docs_length_profile" -> lengthProfile _,
    "text_token_stats"  -> tokenStats _,
    "text_bpe_tokens"   -> bpeTokens _,
    "text_bpe_learned_merges" -> bpeLearnedMerges _,
    "text_bpe_vocab" -> bpeVocab _,
    "docs_bpe_token_ids" -> bpeTokenIds _,
    "docs_token_packing_bpe" -> bpeTokenPacking _,
    "text_langid_ngram" -> langIdNgram _,
    "langid_confusion" -> langIdConfusion _,
    "top_bigrams_per_lang" -> topBigramsPerLang _,
    "text_rare_bigram_ratio" -> rareBigramRatio _,
    "text_vocab_approx" -> vocabApprox _,
    "text_df_incremental" -> dfIncremental _,
    "text_df_asof"          -> dfAsOf _,
    "text_df_forget_docs" -> dfForgetDocs _,
    "text_df_forget_stored" -> dfForgetStored _,
    "text_quality"      -> quality _,
    "text_langid"       -> langId _,
    "text_fingerprint"  -> fingerprint _,
    "text_tfidf_top_terms" -> tfidfTopTerms _,
    "bm25_top_docs" -> bm25TopDocs _,
    "bm25_stored_top_docs" -> bm25StoredTopDocs _,
    "bm25_stored_asof"     -> bm25StoredAsOf _,
    "phrase_top_docs" -> phraseTopDocs _,
    "phrase_stored_top_docs" -> phraseStoredTopDocs _,
    "phrase_stored_asof"     -> phraseStoredAsOf _,
    "proximity_top_docs" -> proximityTopDocs _,
    "text_surprisal_quality" -> surprisalQuality _,
  )
}
