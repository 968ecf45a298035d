package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.Tables
import graft.functions.TextFunctions

/** Deduplication tier over `documents` — exact, MinHash+LSH, SimHash, and
  * exhaustive n-gram-Jaccard (north-star spec; no reference analog).
  *
  * Algorithms and their 100 TB posture:
  *  - Exact: hash-groupBy on the full text (one shuffle keyed by text
  *    hash; at scale, group on `xxhash64(text)` so the shuffle carries an
  *    8-byte key, with an md5 confirm inside the group).
  *  - Exhaustive n-gram Jaccard: explode distinct 3-gram shingles →
  *    self-equi-join on shingle → intersection counts → Jaccard. Correct
  *    but candidate-quadratic in shingle frequency — the oracle/baseline
  *    path, not the scale path (at 100 TB, cap shingle document-frequency
  *    before the self-join).
  *  - MinHash+LSH: 16 min-hashes per doc from salted md5-60 hashes of the
  *    shingles, banded 8×2 → band-bucket equi-join proposes candidates →
  *    exact Jaccard verify on the candidate pairs only. This is the scale
  *    path: the self-join runs on tiny band keys, candidates are ~linear
  *    in the number of true near-dup pairs, and the verify touches only
  *    candidates. With the fixture's similarity gap (planted pairs ≈0.99,
  *    background <0.5) the banded+verified output provably equals the
  *    exhaustive output (miss probability per pair ≈ (1-0.99²)⁸ ≈ 1e-14),
  *    which is why both share one oracle.
  *  - SimHash: 60-bit signature per document from token hashes; near-dup
  *    pairs are small-Hamming-distance signatures (bucketable by signature
  *    prefix at scale). Signature computation is pure Catalyst
  *    higher-order expressions.
  *
  * Everything is built-ins (`transform`/`aggregate`/`array_*` HOFs) — no
  * UDFs, no collect, no driver-side loops.
  */
object Dedup {

  private[operators] val JaccardThreshold = 0.8


  /** Release every intermediate the library has persisted — see
    * [[graft.CacheLifecycle.unpersistAll]] (drivers iterating sfDirs call
    * this between corpora).
    */
  def unpersistAll(): Unit = graft.CacheLifecycle.unpersistAll()

  /** doc_id, distinct-3-gram-shingle array. Tokens are materialized in
    * their own projection first — see the performance contract on
    * [[TextFunctions.shingles]].
    */
  private[operators] def shingled(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized like the curation flag frame: the shingle table is
    // re-invoked by every near-dup consumer, and each re-invocation
    // otherwise pays plan re-analysis + cache-manager canonicalization
    // of this lineage on the driver (~0.1-0.3 s per call at sf0.1)
    graft.CacheLifecycle.memoized(s"dedup.shingled:$sfDir")(
      shingledBuild(spark, sfDir))

  private def shingledBuild(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"), TextFunctions.tokens(col("text")).alias("t"))
      .select(col("doc_id"), TextFunctions.shingles(col("t"), 3).alias("sh"))
      // The shingle table is the shared intermediate of every near-dup
      // operator and is referenced several times per query plan (explode,
      // size, candidate re-attach). Persisting it means shingling runs
      // once per session instead of 3-5× per query — Spark's cache
      // manager dedups by canonicalized plan, so every dedup query (and a
      // re-run) hits the same cache entry. Size ≈ corpus shingle set
      // (spills to disk if not); at 100 TB the same role is played by
      // materializing the shingle table to storage once per corpus rev.
      // Lifecycle: tracked for release via [[unpersistAll]].
      .transform(graft.CacheLifecycle.sessionPersist)

  /** Exact dedup: one survivor (min doc_id) per identical text. The
    * fixture corpus has no exact duplicates, so n_copies is 1 throughout —
    * semantics are exercised with constructed duplicates in the test
    * suite.
    */
  def exact(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).alias("keep_id"), count(lit(1)).alias("n_copies"))
      .select(col("keep_id"), col("n_copies"), md5(col("text")).alias("text_md5"))
      .orderBy("keep_id")

  /** Exhaustive n-gram Jaccard near-dup pairs (the baseline/oracle path):
    * candidates = pairs sharing ≥1 shingle, verified exactly.
    */
  /** Shared candidate generation of the exhaustive near-dup paths:
    * (doc_a, doc_b, n_common, n_a, n_b) for every pair sharing ≥1
    * shingle. The self-join keys on an 8-byte hash of the shingle, not
    * the ~20-byte string — less shuffle I/O; 60-bit hashes make
    * collisions (which would inflate a count) vanishingly unlikely at
    * any realistic corpus size. Consumers apply their own similarity
    * measure (Jaccard, containment) — changing this pipeline (e.g. the
    * 100 TB shingle document-frequency cap) changes all of them at once.
    */
  private def shingleIntersections(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"dedup.shingleIntersections:$sfDir")(
      shingleIntersectionsBuild(spark, sfDir))

  private def shingleIntersectionsBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingled(spark, sfDir)
    val exploded = sh.select(col("doc_id"),
      explode(col("sh")).alias("s"))
      .select(col("doc_id"), TextFunctions.md5Hash60(col("s")).alias("hs"))
    val sizes = sh.select(col("doc_id"), size(col("sh")).alias("n"))
    exploded.alias("a")
      .join(exploded.alias("b"),
        col("a.hs") === col("b.hs") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b"))
      .agg(count(lit(1)).alias("n_common"))
      .join(sizes.alias("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sizes.alias("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        col("sa.n").alias("n_a"), col("sb.n").alias("n_b"))
      // the exhaustive candidate join feeds both the Jaccard and the
      // containment rows — one self-join per session; tracked for release
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** THRESHOLD-TUNING HISTOGRAM: pair counts per 0.05 Jaccard band
    * (≥ 0.5) — the artifact you read before committing to a dedup
    * threshold: the planted near-dup mass should sit in the top bands
    * with a clear gap to the background, and a threshold drifting into
    * a populated band surfaces here as moved counts. Binning is EXACT
    * integer arithmetic (`(20·n_common) div (n_a+n_b−n_common)` — never
    * a float compare at a band edge, the brand_revenue_pareto rule).
    * Rides the session-persisted exhaustive intersection frame, so its
    * in-loop marginal cost is one bounded aggregate; at 100 TB the
    * histogram rides the LSH-verified candidate set instead (exact
    * intersections exist only above the banding recall floor — stated
    * per the no-silent-caps rule).
    */
  def jaccardHistogram(spark: SparkSession, sfDir: String): DataFrame =
    shingleIntersections(spark, sfDir)
      .select(expr("(n_common * 20) div (n_a + n_b - n_common)").alias("bin"))
      .filter(col("bin") >= 10)
      .groupBy(col("bin"))
      .agg(count(lit(1)).alias("n_pairs"))
      .select(col("bin"), (col("bin").cast("double") / 20.0).alias("jaccard_lo"),
        col("n_pairs"))
      .orderBy("bin")

  def ngramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    shingleIntersections(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
          .alias("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("doc_a", "doc_b")

  /** Containment (overlap-coefficient) near-dup pairs:
    * `|A∩B| / min(|A|,|B|)` ≥ 0.8 — the asymmetric-length complement to
    * Jaccard: a short document embedded verbatim in a long one scores
    * near 1.0 here but low on Jaccard (union-normalized), which is why
    * training-data dedup runs both. Same candidate generation as
    * [[ngramJaccard]] (shared shingle cache + hash-keyed self-join).
    */
  def containment(spark: SparkSession, sfDir: String): DataFrame =
    shingleIntersections(spark, sfDir)
      .select(col("doc_a"), col("doc_b"), col("n_common"),
        (col("n_common") / least(col("n_a"), col("n_b"))).alias("containment"))
      .filter(col("containment") >= 0.8)
      .orderBy("doc_a", "doc_b")

  /** 16 min-hashes per document (array<long>) from ONE md5 per shingle:
    * base hash h = md5_60(shingle) mod p (p = 2³¹-1), permuted through 16
    * affine maps h ↦ (a_i·h + b_i) mod p.
    * A single `aggregate` fold updates all 16 minima per shingle, so the
    * md5 — the expensive part — is evaluated exactly once per shingle
    * (the earlier one-md5-per-(seed,shingle) form cost 16× more and
    * dominated the sf0.1 bench).
    */
  private val MinhashP = 2147483647L

  /** The 16 affine parameters (a_i, b_i), each derived from an md5 digest
    * so the permutations are effectively independent draws — sequential
    * seeds like (2i+1, 12345i+7) are strongly correlated across i (i=0 is
    * an order-preserving shift), which would make the 8 LSH bands
    * non-independent and void the (1-s²)⁸ miss bound. a_i ∈ [1, p-1],
    * b_i ∈ [0, p-1], packed as a_i·2³¹ + b_i so the fold's lambda unpacks
    * with a shift/mask instead of zipping two literal arrays.
    */
  private val MinhashParams: Seq[Long] = {
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.takeRight(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xffL)) &
        ((1L << 60) - 1)
    }
    Seq.tabulate(16) { i =>
      val a = h60(s"graft-minhash-a-$i") % (MinhashP - 1) + 1
      val b = h60(s"graft-minhash-b-$i") % MinhashP
      (a << 31) + b
    }
  }

  // h < p < 2³¹ and a_i < p, so h·a_i < 2⁶² — no overflow before the mod.
  // Production path: the codegen'd one-pass expression. The interpreted
  // HOF spelling below it is kept for the differential spec
  // (ExpressionPropertySpec asserts bit-equality on randomized inputs)
  // and as executable documentation of the algorithm.
  private[graft] def minhashSignature(sh: Column): Column =
    graft.plans.GraftFunctions.minHash16(sh, MinhashParams)

  private[graft] def minhashSignatureHof(sh: Column): Column =
    aggregate(
      transform(sh, x => TextFunctions.md5Hash60(x) % lit(MinhashP)),
      array_repeat(lit(Long.MaxValue), 16),
      (acc, h) => zip_with(acc, typedLit(MinhashParams),
        (m, c) => least(m,
          (h * shiftright(c, 31) + c.bitwiseAND(lit((1L << 31) - 1))) % lit(MinhashP))))

  /** MinHash+LSH near-dup pairs: band-bucket join (8 bands × 2 rows) →
    * exact-Jaccard verification of candidates only. Output (and oracle)
    * identical to [[ngramJaccard]] — see class doc for why.
    */
  def minhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    // key-memoized: the verified pair set anchors five registered
    // queries plus the curation flag frame — see [[shingled]] for why
    // plan-match dedup alone is not enough
    graft.CacheLifecycle.memoized(s"dedup.minhashLsh:$sfDir")(
      minhashLshBuild(spark, sfDir))

  /** (doc_id, band) rows — band key b=0..7 → "b:sig[2b]:sig[2b+1]". The
    * band join and the candidate distinct carry ONLY (band, doc_id) —
    * shingle arrays are re-attached afterwards so no array ever rides
    * through a shuffle key.
    */
  private def bandsOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), minhashSignature(col("sh")).alias("sig"))
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(7)),
          b => concat_ws(":", b.cast("string"),
            get(col("sig"), b * 2).cast("string"),
            get(col("sig"), b * 2 + 1).cast("string")))).alias("band"))

  /** Shingle an arbitrary documents frame (`doc_id`, `text`) — the same
    * derivation as the memoized corpus [[shingled]] table, for callers
    * that shingle a SUBSET they hold themselves (the streaming
    * ingest-dedup micro-batch, whose whole point is shingling only its
    * own rows). Empty shingle sets are dropped here, as every band
    * consumer requires.
    */
  private[graft] def shingleDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), TextFunctions.tokens(col("text")).alias("t"))
      .select(col("doc_id"), TextFunctions.shingles(col("t"), 3).alias("sh"))
      .filter(size(col("sh")) > 0)

  /** The stored band-index rows for a shingle frame — [[bandsOf]] opened
    * to the streaming module (graft-private, not API).
    */
  private[graft] def bandIndex(sh: DataFrame): DataFrame = bandsOf(sh)

  /** [[verifyCandidates]] opened to the streaming module. */
  private[graft] def verifyPairs(sh: DataFrame, candidates: DataFrame): DataFrame =
    verifyCandidates(sh, candidates)

  private def minhashLshBuild(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingled(spark, sfDir).filter(size(col("sh")) > 0)
    val banded = bandsOf(sh)
    val candidates = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b"))
      .distinct()
    // the verified pair set anchors five registered queries (its own row,
    // survivors, clusters, the curation pipeline and funnel) — persist
    // the tiny result so the band join + exact verify runs once per
    // session; tracked for release via [[unpersistAll]]
    verifyCandidates(sh, candidates)
      .transform(graft.CacheLifecycle.sessionPersist)
  }

  /** CROSS-SOURCE DUPLICATE MATRIX: the verified near-dup pairs rolled up
    * by (source, source) — the crawl-overlap diagnostic a dedup run emits
    * (how much of dump A is republished in dump B decides whether a new
    * source is worth ingesting). The pair endpoints join to the document
    * catalog for their sources and the pair counts into a canonical
    * (least, greatest) cell so A↔B and B↔A accumulate together; the
    * diagonal is within-source duplication. Scale shape: two key-only
    * joins of the (tiny, session-persisted) verified pair set against the
    * catalog, then a bounded |sources|² aggregate — the corpus itself
    * never reshuffles. Token-overlap twin: `source_overlap_matrix`
    * (Curation) measures VOCABULARY sharing; this measures verified
    * near-DUPLICATES.
    */
  def crossSourcePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val src = Tables.documents(spark, sfDir).select(col("doc_id"), col("source"))
    minhashLsh(spark, sfDir).select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").alias("doc_a"), col("source").alias("sa")), Seq("doc_a"))
      .join(src.select(col("doc_id").alias("doc_b"), col("source").alias("sb")), Seq("doc_b"))
      .groupBy(least(col("sa"), col("sb")).alias("source_a"),
        greatest(col("sa"), col("sb")).alias("source_b"))
      .agg(count(lit(1)).alias("n_dup_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** SPLIT-LEAKAGE REPORT: verified near-dup pairs whose endpoints land
    * in DIFFERENT train/val/test splits — the release-blocking leakage a
    * benchmark-honest pipeline must drain to zero (a test document with a
    * train-side near-duplicate inflates eval scores; the reason dedup
    * runs BEFORE the split). Composes the two registered facts it audits:
    * the verified pair set ([[minhashLsh]], session-persisted) and the
    * md5-residue split assignment (`docs_train_val_test_split` — the
    * same bucket spelling, so this report certifies THAT split, not a
    * twin). Decontamination twin: `docs_decontaminate_*` measure overlap
    * against an EXTERNAL eval set; this measures internal cross-split
    * leakage. Scale shape: two key-only joins of the tiny pair set
    * against a map-side hash column — the corpus never reshuffles; at
    * 100 TB the pair set is the dedup run's own output table.
    */
  def splitLeakageReport(spark: SparkSession, sfDir: String): DataFrame = {
    val split = Tables.documents(spark, sfDir)
      .select(col("doc_id"), Stats.splitOf(col("doc_id")).alias("split"))
    minhashLsh(spark, sfDir)
      .join(split.select(col("doc_id").alias("doc_a"), col("split").alias("split_a")),
        Seq("doc_a"))
      .join(split.select(col("doc_id").alias("doc_b"), col("split").alias("split_b")),
        Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"),
        col("n_common"), col("n_a"), col("n_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** PREFIX-FILTERED exact Jaccard join (the ppjoin/ssjoin family) — a
    * second scale path beside MinHash+LSH that is LOSSLESS BY THEOREM,
    * not by probability: order every document's shingles by a global
    * (document-frequency asc, shingle) key — rarest first — and keep only
    * the first `p = n − ⌈t·n⌉ + 1` as its PREFIX. Any pair with
    * Jaccard ≥ t must (a) satisfy the length filter `t·|A| ≤ |B|` and
    * (b) share at least one prefix element under the same global order
    * (sharing none leaves fewer than the required ⌈t·n⌉ overlaps
    * available), so the prefix equi-join proposes a candidate SUPERSET
    * and the exact verify loses nothing — which is why this query shares
    * the exhaustive oracle verbatim, with no similarity-gap caveat.
    *
    * Scale shape: two shuffles on the shingle hash (df count + re-join),
    * one on doc_id (prefix rebuild), then the candidate join runs on
    * PREFIX tokens only — rare tokens first means candidate lists stay
    * short exactly where the data is densest; at t=0.8 the prefix is
    * ~20% of each document. The df ordering is the part worth paying
    * for: a fixed pseudo-random order is also correct but proposes
    * maximally many candidates instead of minimally few.
    */
  def prefixFilterJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingled(spark, sfDir).filter(size(col("sh")) > 0)
    // df attach, r22 shape: a TWO-PHASE groupBy(s) count (map-side
    // partial aggregation → one VOCABULARY-sized exchange of (s, count)
    // rows) joined back onto the exploded frame. r21 attached df with
    // `count(1) over (partition by s)` over an explicit s-repartition —
    // one corpus-sized exchange PLUS a window that buffered every row of
    // a shingle inside one window partition (a stopword-grade shingle at
    // 100 TB = one spilling straggler task). Here nothing buffers per
    // key: the df aggregate's state is one (s, count) entry per distinct
    // shingle, and the join-back streams. No explicit repartition —
    // ENSURE_REQUIREMENTS inserts the corpus-side s-exchange exactly
    // when the join needs it (sort-merge at scale); at fixture size AQE
    // broadcasts the df side and the corpus side is never exchanged on s
    // at all (one corpus-grain exchange — the doc_id prefix rebuild —
    // instead of r21's two). df values are identical by definition:
    // count of exploded rows per shingle either way.
    val exploded = sh.select(col("doc_id"), explode(col("sh")).alias("s"))
    val dfreq = exploded.groupBy(col("s"))
      .agg(count(lit(1)).alias("df"))
    // memoized + persisted: BOTH candidate self-join branches read this
    // frame — unpersisted, each branch re-derived the whole explode +
    // df-attach + collect chain (the captured plan showed no reuse
    // across the broadcast boundary). Doc-grain, same size class as the
    // session shingle cache it derives from.
    val ordered = graft.CacheLifecycle.memoized(s"dedup.prefixOrdered:$sfDir")(
      graft.CacheLifecycle.sessionPersist(
        exploded.join(dfreq, Seq("s"))
          .groupBy(col("doc_id"))
          // array_sort over (df, s) structs = lexicographic (df asc, s asc):
          // a total order identical on every engine and every partitioning
          .agg(array_sort(collect_list(struct(col("df"), col("s")))).alias("oss"))
          .select(col("doc_id"),
            expr("transform(oss, x -> x.s)").alias("os"))
          .withColumn("n", size(col("os")))
          .withColumn("p",
            (col("n") - ceil(col("n") * lit(JaccardThreshold)) + 1).cast("int"))))
    val prefixes = ordered.select(col("doc_id"), col("n"),
      explode(slice(col("os"), lit(1), col("p"))).alias("s"))
    val candidates = prefixes.alias("a")
      .join(prefixes.alias("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: Jaccard >= t forces t·max(|A|,|B|) <= min(|A|,|B|)
          col("b.n") >= ceil(col("a.n") * lit(JaccardThreshold)) &&
          col("a.n") >= ceil(col("b.n") * lit(JaccardThreshold)))
      .select(col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b"))
      .distinct()
    verifyCandidates(sh, candidates)
  }

  /** Exact-Jaccard verification of a candidate pair set: re-attach both
    * shingle arrays by key, intersect, threshold. Shared tail of every
    * lossless candidate generator ([[minhashLsh]], [[prefixFilterJaccard]]).
    */
  private def verifyCandidates(sh: DataFrame, candidates: DataFrame): DataFrame =
    candidates
      .join(sh.select(col("doc_id"), col("sh").alias("sh_a")), col("doc_a") === col("doc_id"))
      .drop("doc_id")
      .join(sh.select(col("doc_id"), col("sh").alias("sh_b")), col("doc_b") === col("doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(LongType).alias("n_common"),
        size(col("sh_a")).alias("n_a"), size(col("sh_b")).alias("n_b"))
      .select(col("doc_a"), col("doc_b"), col("n_common"), col("n_a"), col("n_b"),
        (col("n_common") / (col("n_a") + col("n_b") - col("n_common")))
          .alias("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("doc_a", "doc_b")

  /** INCREMENTAL MinHash dedup — the daily-crawl index-probe shape, and
    * the dedup tier's "incremental ≡ rebuild" gate beside
    * `dim_customer_scd2_incremental` (dimensions) and
    * `fact_product_totals_incremental` (aggregates). Docs with
    * `doc_id % 10 == 9` play the incoming batch; the rest are the
    * already-indexed history. The incremental union —
    *
    *  1. history↔history pairs (yesterday's answer, from the stored
    *     band index alone),
    *  2. batch-probe pairs (new docs' bands probe the FULL index:
    *     history bands for new↔old, each other for new↔new),
    *
    * — verified by the same exact-Jaccard step, must equal the
    * from-scratch [[minhashLsh]] pair set; both share the exhaustive
    * oracle. At 100 TB this is the shape that makes dedup affordable at
    * all: the shingle/signature/band state of the history is stored
    * once, each crawl increment shingles ONLY its own documents, and
    * the band equi-join against the stored index replaces re-banding
    * the corpus (the history self-join here stands in for "yesterday's
    * pair set", which production reads from storage rather than
    * recomputing).
    */
  def minhashIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    val sh = shingled(spark, sfDir).filter(size(col("sh")) > 0)
    val banded = bandsOf(sh)
    val isBatch = col("doc_id") % 10 === 9
    val history = banded.filter(!isBatch)
    val batch = banded.filter(isBatch)
    val histPairs = history.alias("a")
      .join(history.alias("b"),
        col("a.band") === col("b.band") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b"))
    val batchPairs = batch.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).alias("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).alias("doc_b"))
    verifyCandidates(sh, histPairs.unionAll(batchPairs).distinct())
  }

  /** Deduplicated corpus: drop the higher doc_id of every verified
    * near-dup pair (left-anti join against the pair set).
    */
  def survivors(spark: SparkSession, sfDir: String): DataFrame = {
    val removals = minhashLsh(spark, sfDir).select(col("doc_b").alias("doc_id"))
    Tables.documents(spark, sfDir)
      .join(removals, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Per-document 60-bit SimHash over the token multiset: bit b of the
    * signature is the sign of Σ_tokens (±1 by bit b of the token's md5-60
    * hash). MSB-first fold avoids any shift function. Pure nested
    * higher-order expressions.
    */
  private def simhashSigs(spark: SparkSession, sfDir: String): DataFrame =
    Tables.loadSpread(spark, sfDir, "documents")
      .select(col("doc_id"),
        expr(s"transform(split(text, ' '), t -> ${md5Hash60SqlSpark("t")})").alias("hashes"))
      // the sign-of-column-sum fold runs as the codegen'd
      // graft.plans.SimHash60 expression — the interpreted HOF spelling
      // (kept verbatim in the DuckDB oracle and differential-tested in
      // ExpressionPropertySpec) walks the token array 60×: measured ~5 s
      // vs ~50 ms
      // for the 5 000-doc sf0.1 corpus
      .select(col("doc_id"),
        graft.plans.GraftFunctions.simHash60(col("hashes")).alias("simhash"))
      // shared by the signature query and the banded pair join (both
      // sides of the self-join) — one signature pass per session;
      // tracked for release via [[unpersistAll]]
      .transform(graft.CacheLifecycle.sessionPersist)

  def simhash(spark: SparkSession, sfDir: String): DataFrame =
    simhashSigs(spark, sfDir).orderBy("doc_id")

  /** SimHash near-dup pairs (Hamming ≤ 3) through a band-bucket join that
    * is PROVABLY lossless here: the 60-bit signature splits into 4
    * 15-bit bands, and ≤3 differing bits can touch at most 3 bands
    * (pigeonhole), so every qualifying pair shares ≥1 exact band — the
    * equi-join on (band index, band value) proposes a candidate superset
    * and `bit_count(xor)` verifies exactly. The oracle is the exhaustive
    * all-pairs scan; equality is structural, not probabilistic. At 100 TB
    * the join shuffles on small int band keys — never the cross product.
    */
  def simhashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = simhashSigs(spark, sfDir)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(expr(
        "transform(sequence(0, 3), b -> struct(b AS band, (simhash div CAST(pow(2, b * 15) AS BIGINT)) % 32768 AS v))"))
        .alias("bv"))
      .select(col("doc_id"), col("simhash"),
        col("bv.band").alias("band"), col("bv.v").alias("v"))
    banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").alias("doc_a"), col("b.doc_id").alias("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).alias("hamming"))
      .filter(col("hamming") <= 3)
      .distinct() // a pair can share several bands
      .orderBy("doc_a", "doc_b")
  }

  /** Near-dup CLUSTERS: connected components over the verified pair graph
    * (pairs as edges), each document labeled with the minimum doc_id
    * reachable from it — the canonical "keep one per duplicate cluster"
    * grouping that pairwise output can't express (A~B, B~C but A≁C still
    * belong together).
    *
    * Algorithm: distributed min-label propagation — labels start as the
    * node's own id; each round every node takes the min of its own and
    * its neighbors' labels; fixpoint = component minima (unique, so the
    * result is deterministic regardless of execution order). The driver
    * loop only orchestrates; each round is a join + aggregate over the
    * PAIR GRAPH (nodes that appear in some near-dup pair), which is
    * orders of magnitude smaller than the corpus — the classic shape for
    * iterative algorithms on Spark. Rounds needed = component diameter
    * (near-dup clusters are small); each round's labels are persisted and
    * the previous round's released so lineage stays bounded (at serious
    * depth, swap persist for `localCheckpoint`). Oracle: DuckDB recursive
    * CTE computing min reachable id over the same edges.
    *
    * Singleton documents (no near-dup pair) are excluded — the output is
    * the cluster map, joined back to the corpus by callers as needed.
    */
  def clusters(spark: SparkSession, sfDir: String): DataFrame =
    // driver-side memo, not plan-level persist: connectedComponents RUNS
    // its rounds during construction, so without this the second consumer
    // (cluster reps) replays the whole loop for a plan-identical result
    graft.CacheLifecycle.memoized(s"dedup.clusters:$sfDir") {
      val pairs = minhashLsh(spark, sfDir).select(col("doc_a"), col("doc_b"))
      val edges = undirectedEdges(pairs, "doc_a", "doc_b")
        .transform(graft.CacheLifecycle.sessionPersist)
      val (labels, _) = connectedComponents(edges)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      labels.select(col("node").alias("doc_id"), col("label").alias("cluster_id"))
        .withColumn("n_members", count(lit(1)).over(w))
        .orderBy("doc_id")
    }

  /** Distributed connected components over a SYMMETRIC edge set (both
    * directions present): returns each node labeled with its component's
    * minimum node id, plus the number of rounds run.
    *
    * Each round combines TWO label moves, which is what turns O(diameter)
    * convergence into O(log diameter):
    *
    *  1. PROPAGATION — `L(u) := min(L(u), min over neighbors v of L(v))`:
    *     the classic one-hop min-label step (join + aggregate on the pair
    *     graph).
    *  2. POINTER SHORTCUT (path doubling) — `L(u) := L(L(u))`: labels are
    *     node ids, so the current label can itself be looked up; composing
    *     the label map with itself roughly doubles how far a minimum has
    *     effectively traveled each round (the same shortcutting that powers
    *     the large-star/small-star family). On a chain of diameter d the
    *     reach after round k is ≈ 3·2ᵏ, so convergence takes ~log₂ d
    *     rounds instead of d — pinned by the DedupSpec chain test. The
    *     shortcut mapping is built over the DISTINCT current labels only:
    *     the label→node lookup join is skew-prone (labels concentrate onto
    *     component minima as rounds progress), and the distinct-label set
    *     both shrinks every round and keys the hot join at one row per
    *     label instead of one per node.
    *
    * Both moves only ever DECREASE labels toward the component minimum, and
    * a fixpoint of the propagation step alone already implies labels are
    * constant per component (symmetric edges force L(u)=L(v) across every
    * edge at fixpoint), so the shortcut is a pure accelerator — the
    * label-sum convergence test below is exact for the combined step.
    *
    * Lineage stays bounded two ways: the first rounds persist (cheap,
    * releasable), and past `localCheckpointDepth` rounds the generation is
    * `localCheckpoint`ed instead — persist alone still GROWS the logical
    * plan every round (each generation's plan contains its predecessor's
    * SIX times over: prop appears thrice in the round plan and holds two
    * label references plus the edge join), so plan analysis compounds
    * ~6–12× per persisted round and dwarfs the data work within a few
    * rounds when the edge plan is itself deep — measured at round 3 over
    * the semantic-dedup edge plan: 145M plan chars, 48 s for a 178-edge
    * graph. The checkpoint truncates the plan to the materialized blocks,
    * so the depth default is 2: one persisted round for cheap replay,
    * truncation before the geometric growth bites.
    * Superseded generations are released EXPLICITLY each round — including
    * checkpointed ones, whose blocks `Dataset.unpersist` does not free
    * (see [[org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint]]).
    * Fault-tolerance trade: `localCheckpoint` blocks live on executors and
    * do NOT survive executor loss — a production run on a lossy cluster
    * should swap in reliable `checkpoint` against a checkpoint dir at the
    * cost of one write per round. Rounds-to-convergence is logged (stderr).
    */
  /** Symmetrize an undirected pair frame into a directed (src, dst) edge
    * list via ONE explode — not `union(pairs, pairs.reversed)`, which
    * would evaluate the pair pipeline twice. The shared graph primitive
    * behind every CC/PageRank consumer (text clusters, media clusters,
    * embedding clusters, co-purchase rank).
    */
  private[graft] def undirectedEdges(pairs: DataFrame,
      a: String, b: String): DataFrame =
    pairs.select(explode(array(
        struct(col(a).alias("src"), col(b).alias("dst")),
        struct(col(b).alias("src"), col(a).alias("dst")))).alias("e"))
      .select(col("e.src").alias("src"), col("e.dst").alias("dst"))

  private[graft] def connectedComponents(edges: DataFrame,
      maxRounds: Int = 50, localCheckpointDepth: Int = 2): (DataFrame, Int) = {
    // Round 0 folds initialization and the first propagation hop into ONE
    // aggregation: label = min(node, direct neighbors). Every node appears
    // as some src (edges carry both directions), so the groupBy covers the
    // full node set.
    def labelSum(df: DataFrame): (java.math.BigDecimal, Long) = {
      // decimal sum: at 100 TB doc_ids × node count would overflow a long
      val r = df.agg(sum(col("label").cast("decimal(38,0)")), count(lit(1))).head()
      // a null sum means zero nodes (empty graph converges trivially) or a
      // decimal overflow turned null — both must not silently compare as
      // "unchanged" round over round
      require(r.getLong(1) == 0L || r.getDecimal(0) != null,
        "label sum null over a non-empty node set (decimal overflow?)")
      (r.getDecimal(0), r.getLong(1))
    }
    // value comparison via compareTo: BigDecimal.equals is scale-sensitive
    // (2E+1 != 20), so a future change to the cast type or sum spelling
    // would otherwise loop past real convergence
    def sameSum(a: (java.math.BigDecimal, Long), b: (java.math.BigDecimal, Long)): Boolean =
      a._2 == b._2 && ((a._1 == null && b._1 == null) ||
        (a._1 != null && b._1 != null && a._1.compareTo(b._1) == 0))
    // shared rotation helper: persist generations release via unpersist,
    // checkpointed generations via the bridge (plain unpersist is a no-op
    // for them); the final generation's checkpoint release is registered
    // with CacheLifecycle so unpersistAll can free what we return
    def materialize(df: DataFrame, round: Int): (DataFrame, () => Unit) =
      graft.CacheLifecycle.materializeGeneration(df, round, localCheckpointDepth)
    // The EDGES side of every round's join carries the caller's full
    // logical plan — persist dedups the DATA but Catalyst still re-analyzes
    // the whole tree each round, and the round plan references edges in
    // both the propagation join and round 0. Over a deep edge lineage
    // (semantic dedup: IVF assignment → pre-collapse window → pair join)
    // that analysis dwarfs the data work: measured 11.4 s for a 48-edge
    // graph at sf0.001, 1.1 s after this truncation. One localCheckpoint
    // at entry makes edges a leaf for every round; its release is
    // registered with CacheLifecycle (returned labels may reference it).
    val (flatEdges, _) = graft.CacheLifecycle.materializeGeneration(
      edges, localCheckpointDepth, localCheckpointDepth)
    // Round 0 folds initialization and the first propagation hop into ONE
    // aggregation (see labelSum note above on the decimal sum).
    var (labels, release) = materialize(flatEdges.groupBy(col("src"))
      .agg(min(col("dst")).alias("mn"))
      .select(col("src").alias("node"),
        least(col("mn"), col("src")).alias("label")), 0)
    // Convergence via the label-sum invariant: both moves only ever
    // DECREASE labels, so the (sum, count) pair is unchanged iff no label
    // moved — one aggregation per round instead of a join + filter + count
    // against the previous generation (the aggregation action also
    // materializes the round's persist/checkpoint).
    var prevSum = labelSum(labels)
    var rounds = 0
    var converged = false
    // doubling needs ~log₂(diameter) rounds + 1 no-change round to detect
    // the fixpoint; the cap only guards against a logic regression
    while (!converged && rounds < maxRounds) {
      // 1-hop propagation
      val neighborLabels = flatEdges.join(labels, col("dst") === col("node"))
        .select(col("src").alias("node"), col("label"))
      val prop = labels.union(neighborLabels)
        .groupBy(col("node")).agg(min(col("label")).alias("label"))
      // pointer shortcut: every label is a node id, so L∘L is a self-join
      // of the label map — restricted to the distinct current labels
      val mapping = prop.select(col("label").alias("l")).distinct()
        .join(prop, col("l") === col("node"))
        .select(col("l"), col("label").alias("ll"))
      val (next, nextRelease) = materialize(
        prop.join(mapping, col("label") === col("l"))
          .select(col("node"), least(col("label"), col("ll")).alias("label")),
        rounds + 1)
      val nextSum = labelSum(next)
      converged = sameSum(nextSum, prevSum)
      prevSum = nextSum
      release()
      labels = next
      release = nextRelease
      rounds += 1
    }
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    System.err.println(s"[graft] connectedComponents converged in $rounds rounds")
    (labels, rounds)
  }

  /** Canonical REPRESENTATIVE per near-dup cluster — the selection step a
    * dedup pipeline runs after clustering: instead of the survivors
    * query's pair-local "drop the higher doc_id", pick ONE document per
    * CLUSTER by an explicit quality rule (longest text by n_chars, doc_id
    * tie-break), so A~B~C collapses to a single deliberate keeper even
    * when A≁C directly. Output: per-cluster representative, its length,
    * member count and how many documents the cluster retires.
    *
    * Shape: the cluster map (already orders-of-magnitude smaller than the
    * corpus — near-dup members only) joins doc lengths on the uniform
    * doc_id key, then one rank window per cluster. Clusters are small by
    * construction (near-dup groups), so the window partitions cannot
    * skew; the corpus itself never shuffles.
    */
  def clusterReps(spark: SparkSession, sfDir: String): DataFrame = {
    val byQuality = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    clusters(spark, sfDir)
      .join(Tables.documents(spark, sfDir).select(col("doc_id"), col("n_chars")),
        Seq("doc_id"))
      .withColumn("rn", row_number().over(byQuality))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").alias("rep_doc_id"),
        col("n_chars").alias("rep_n_chars"), col("n_members"),
        (col("n_members") - 1).alias("n_dropped"))
      .orderBy("cluster_id")
  }

  /** Spark-SQL-dialect twin of TextFunctions.md5Hash60Sql (conv vs CAST). */
  private def md5Hash60SqlSpark(e: String): String =
    s"CAST(conv(substring(md5($e), 18, 15), 16, 10) AS BIGINT)"

  /** DuckDB twin of [[simhashSigs]] — keep in sync. */
  private val simhashCteSql =
    """hashed AS (
      |  SELECT doc_id,
      |         list_transform(string_split(text, ' '),
      |           t -> CAST('0x' || substr(md5(t), 18, 15) AS BIGINT)) AS hashes
      |  FROM documents),
      |sims AS (
      |  SELECT doc_id,
      |       list_reduce(
      |         list_prepend(CAST(0 AS BIGINT), generate_series(59, 0, -1)),
      |         (acc, b) -> acc * 2 + (CASE WHEN
      |            list_sum(list_transform(hashes,
      |              h -> CASE WHEN (h // CAST(pow(2, b) AS BIGINT)) % 2 = 1
      |                   THEN 1 ELSE -1 END)) > 0
      |            THEN 1 ELSE 0 END)) AS simhash
      |  FROM hashed)""".stripMargin

  /** The shingle CTE chain over an optionally-filtered corpus (`where`
    * is empty or a leading-space " WHERE ..." fragment) — the
    * time-traveled cluster oracle replays the SAME derivation over the
    * batch-0 prefix.
    */
  private def shingleCteWhere(where: String) =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents$where),
       |sharr AS (SELECT doc_id, ${TextFunctions.shinglesSql("t", 3)} AS sh FROM toks),
       |sh AS (SELECT doc_id, unnest(sh) AS s FROM sharr),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)""".stripMargin

  private[operators] val shingleCte = shingleCteWhere("")

  /** Shared near-dup-removal CTEs (assumes [[shingleCte]] is in scope):
    * `removals` = the higher doc_id of every ≥-threshold Jaccard pair —
    * spliced into both the `dedup_survivors` oracle and the curation
    * pipeline oracle so the threshold and pair rule cannot drift apart.
    */
  private[operators] val removalsCte =
    s"""inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |removals AS (
       |  SELECT DISTINCT doc_b AS doc_id
       |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |             JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE n_common / (sa.n + sb.n - n_common) >= $JaccardThreshold)""".stripMargin

  /** Shared connected-component CTE block (assumes [[shingleCte]] is in a
    * `WITH RECURSIVE` scope): verified pairs → symmetric edges → min
    * reachable id per node as `comp(doc_id, cluster_id)`. Spliced into
    * both the `dedup_clusters` and `dedup_cluster_reps` oracles so the
    * threshold and the component rule cannot drift between them.
    */
  private val clusterCompCte =
    s"""inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT doc_a, doc_b
       |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |             JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE n_common / (sa.n + sb.n - n_common) >= $JaccardThreshold),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT src AS node, src AS r FROM edges
       |  UNION
       |  SELECT reach.node, edges.dst FROM reach JOIN edges ON reach.r = edges.src),
       |comp AS (
       |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY 1)""".stripMargin

  /** The verified-pair CTE chain (assumes `sh`/`sizes` from
    * [[shingleCte]] are in scope), ending in `vpairs` with the full
    * output projection — ONE spelling of the Jaccard-threshold pair rule
    * shared by the exhaustive oracle, the cross-source matrix, and the
    * split-leakage report, so a threshold or shingle change cannot leave
    * one consumer certifying a different pair set.
    */
  private[operators] def vpairsCte =
    s"""inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(count(*) AS BIGINT) AS n_common
       |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |vpairs AS (
       |  SELECT doc_a, doc_b, n_common,
       |         CAST(sa.n AS INT) AS n_a, CAST(sb.n AS INT) AS n_b,
       |         n_common / (sa.n + sb.n - n_common) AS jaccard
       |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
       |             JOIN sizes sb ON doc_b = sb.doc_id
       |  WHERE n_common / (sa.n + sb.n - n_common) >= $JaccardThreshold)""".stripMargin

  private val exhaustivePairsSql =
    s"""WITH $shingleCte,
       |$vpairsCte
       |SELECT doc_a, doc_b, n_common, n_a, n_b, jaccard
       |FROM vpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Non-overlapping 32-token chunk windows per document. */
  private[operators] val ChunkDedupTokens = 32

  /** SPAN-LEVEL exact dedup with document reassembly (the CCNet /
    * "Deduplicating Training Data Makes Language Models Better"
    * paragraph-granularity rung of the ladder): documents are split into
    * non-overlapping 32-token chunks, every chunk occurrence whose text
    * already appeared earlier in the corpus (first occurrence = smallest
    * `(doc_id, chunk_id)`) is REMOVED, and each document is reassembled
    * from its surviving chunks in order. Document-level dedup
    * ([[exact]], MinHash) drops whole near-identical documents; this
    * rung removes the boilerplate SPANS (headers, license blocks,
    * navigation chrome) that repeat across otherwise-distinct pages —
    * the dominant duplication mode in web corpora. Output per document:
    * chunk count, removed-chunk count, and the md5 of the reassembled
    * text (NULL when every chunk was removed — i.e. the whole document
    * was prior art).
    *
    * Scale shape: ONE shuffle keyed by the 128-bit chunk hash decides
    * first-occurrence (row_number over the hash partition — at 100 TB
    * group on the hash so the shuffle key is bounded, and the heavy
    * chunk payload rides exactly once), then ONE shuffle back on doc_id
    * for reassembly carrying only surviving chunks. No self-join, no
    * candidate blowup — cost is linear in corpus tokens either way.
    */
  /** (doc_id, chunk_id, chunk_text): non-overlapping [[ChunkDedupTokens]]
    * windows; an empty/short document yields exactly one (possibly
    * short) chunk, never a descending `sequence` (the `greatest` guard —
    * Spark's sequence(0, -1) counts DOWN where DuckDB's
    * generate_series(0, -1) is empty).
    */
  private[graft] def chunksOf(docs: DataFrame): DataFrame = {
    val C = ChunkDedupTokens
    docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).alias("t"))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(0, greatest(cast(ceil(size(t) / $C.0) as int) - 1, 0)), " +
          s"k -> array_join(slice(t, k * $C + 1, $C), ' '))")))
      .withColumnsRenamed(Map("pos" -> "chunk_id", "col" -> "chunk_text"))
  }

  /** Per-document reassembly from a removal-flagged chunk frame
    * (`doc_id`, `chunk_id`, `chunk_text`, `removed`) — ONE spelling
    * shared by the batch [[chunkDedup]] and the streamed ingestion fold
    * ([[graft.streaming.EventStream]]'s chunk-index probe), so the two
    * consumers cannot drift on the reassembly arithmetic (the shared-
    * production-body discipline).
    */
  private[graft] def chunkReassembly(flagged: DataFrame): DataFrame =
    flagged
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).alias("n_chunks"),
        sum(when(col("removed"), 1L).otherwise(0L)).alias("n_removed"),
        sort_array(collect_list(struct(col("chunk_id"),
          when(!col("removed"), col("chunk_text")).alias("kt")))).alias("cs"))
      .withColumn("kept", expr("transform(filter(cs, s -> s.kt IS NOT NULL), s -> s.kt)"))
      .select(col("doc_id"), col("n_chunks"), col("n_removed"),
        when(size(col("kept")) === 0, lit(null))
          .otherwise(md5(array_join(col("kept"), " "))).alias("kept_md5"))

  /** Hashed chunk-occurrence rows (`h`, `doc_id`, `chunk_id`) — the
    * GRAIN of the stored chunk index: every occurrence, not only the
    * first, so index erasure by doc_id anti-join is EXACTLY the
    * filter-rebuild over survivors (a first-occurrence-only index would
    * lose a chunk entirely when its first holder is forgotten even
    * though a surviving doc still carries it).
    */
  private[graft] def chunkHashesOf(docs: DataFrame): DataFrame =
    chunksOf(docs).select(md5(col("chunk_text")).alias("h"),
      col("doc_id"), col("chunk_id"))

  def chunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_id"))
    chunkReassembly(
      chunksOf(Tables.loadSpread(spark, sfDir, "documents"))
        .withColumn("h", md5(col("chunk_text")))
        .withColumn("rn", row_number().over(w))
        .withColumn("removed", col("rn") > 1))
      .orderBy("doc_id")
  }

  /** INGESTION-TIME (STORED-INDEX) CHUNK DEDUP — the streamed form of
    * [[chunkDedup]] as a registered driver gate: the corpus arrives as
    * two doc-id-ordered batches against an empty-seeded stored chunk
    * index ([[graft.streaming.EventStream.chunkIngestFoldBatch]] — the
    * exact foreachBatch body the streaming query runs; the stream form
    * itself is pinned in StreamingSpec), each batch probing the spans
    * every PRIOR batch folded in. The oracle is the batch
    * `docs_chunk_dedup` SQL verbatim — streamed-over-batches ≡
    * one-shot, the ingestion-dedup parity discipline
    * (`dedup_minhash_incremental`'s shape at the span grain). Serving
    * reads the per-batch output subdirs — near-zero marginal cost,
    * exactly the 100 TB argument (the corpus is never re-chunked).
    *
    * Memoized durably: seed + folds are commit-gated, so a
    * second JVM replays both batches as no-ops and re-reads the stored
    * output.
    */
  def chunkDedupStreamed(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"dedup.chunkStream:$sfDir") {
      import graft.streaming.EventStream
      val base = Layout.tmpPath("graft-chunklog", sfDir)
      val (outDir, indexDir) = (s"$base/out", s"$base/index")
      val docs = Tables.documents(spark, sfDir)
      val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .head().getDouble(0)
      EventStream.chunkIndexSeed(spark, indexDir, docs.filter(lit(false)))
      EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
        docs.filter(col("doc_id") <= mid), 0L)
      EventStream.chunkIngestFoldBatch(spark, outDir, indexDir,
        docs.filter(col("doc_id") > mid), 1L)
      EventStream.chunkOutRead(spark, outDir).orderBy("doc_id")
    }

  /** INCREMENTALLY-MAINTAINED NEAR-DUP CLUSTERS as a registered gate:
    * the corpus arrives as two doc-id-ordered batches; each batch runs
    * the stored-index MinHash pair probe
    * ([[graft.streaming.EventStream.minhashIngestFoldBatch]]) and folds
    * the pairs it emitted into the maintained members/redirects state
    * ([[graft.streaming.EventStream.clusterFoldBatch]], fed by the
    * incremental pairs read of exactly that batch). Serving resolves
    * the redirect closure — labels are the component MINIMUM, so the
    * oracle is the batch `dedup_clusters` recursive SQL VERBATIM:
    * incremental ≡ rebuild, the seventh maintenance gate. The
    * `n_members > 1` filter matches the batch query's node set (every
    * doc in the oracle's reachability appears in some verified pair).
    *
    * 100 TB shape: per batch the fold touches pair ENDPOINTS (point
    * equi-joins into the stored members) plus connected components
    * over the batch's REP graph — the corpus-wide CC never re-runs;
    * merges are one appended redirect row each, collapsed offline by
    * [[graft.streaming.EventStream.compactClusterState]].
    */
  def clustersIncremental(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"dedup.clustersIncr:$sfDir") {
      import graft.streaming.EventStream
      val base = Layout.tmpPath("graft-clusterlog", sfDir)
      val (pairsDir, indexDir, clusterDir) =
        (s"$base/pairs", s"$base/index", s"$base/cluster")
      val docs = Tables.documents(spark, sfDir)
      val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .head().getDouble(0)
      EventStream.minhashIndexSeed(spark, indexDir, docs.filter(lit(false)))
      Seq(docs.filter(col("doc_id") <= mid), docs.filter(col("doc_id") > mid))
        .zipWithIndex.foreach { case (b, i) =>
          EventStream.minhashIngestFoldBatch(spark, pairsDir, indexDir, b, i.toLong)
          EventStream.clusterFoldBatch(spark, clusterDir,
            b.select(col("doc_id")),
            EventStream.ingestPairsChanges(spark, pairsDir, i - 1L, i.toLong),
            i.toLong)
        }
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      EventStream.clusterStateServe(spark, clusterDir)
        .withColumn("n_members", count(lit(1)).over(w))
        .filter(col("n_members") > 1)
        .orderBy("doc_id")
    }

  /** TIME-TRAVELED CLUSTER ASSIGNMENTS as a registered gate: the
    * maintained state of [[clustersIncremental]] served AS OF batch 0
    * ([[graft.streaming.EventStream.clusterStateServeAsOf]] — members
    * and redirects at the SAME horizon), i.e. what the dedup decisions
    * WERE when the first dump committed — the read a training run pins
    * for reproducibility. Oracle = the cluster derivation replayed from
    * scratch over EXACTLY the batch-0 prefix, so a subdir served beyond
    * the horizon, a mis-resolved redirect, or a cross-table horizon
    * mismatch all surface as label diffs.
    */
  def clustersAsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"dedup.clustersAsof:$sfDir") {
      import graft.streaming.EventStream
      // build (or find, commit-gated) the maintained cluster state
      clustersIncremental(spark, sfDir)
      val clusterDir = s"${Layout.tmpPath("graft-clusterlog", sfDir)}/cluster"
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
      EventStream.clusterStateServeAsOf(spark, clusterDir, asOfBatch = 0L)
        .withColumn("n_members", count(lit(1)).over(w))
        .filter(col("n_members") > 1)
        .orderBy("doc_id")
    }

  /** TIME-TRAVEL GATE over the stored chunk index: read the index AS OF
    * batch 0 of [[chunkDedupStreamed]]'s two-batch ingestion
    * ([[graft.streaming.EventStream.chunkIndexReadAsOf]] — seed plus
    * committed subdirs `<= 0`) and fingerprint each document's span
    * hashes. The oracle recomputes the chunk hashes from scratch over
    * EXACTLY the batch-0 documents (`doc_id <= (min+max)/2` — the
    * split's own spelling), so the gate pins the protocol's as-of
    * semantics end to end: a subdir served beyond the as-of bound, a
    * dropped batch-0 row, or a horizon misread all break the md5.
    * StreamingSpec pins the failure direction (as-of below a
    * compaction horizon errors loudly) and as-of-latest ≡ live.
    *
    * 100 TB shape: time travel is a LISTING filter on the snapshot
    * log — no data copy, no extra shuffle beyond the consumer's own
    * aggregate; the per-batch write units double as the snapshot
    * history exactly as in a production table format.
    */
  def chunkIndexAsOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"dedup.chunkAsof:$sfDir") {
      import graft.streaming.EventStream
      // build (or find, commit-gated) the stored index + its batches
      chunkDedupStreamed(spark, sfDir)
      val indexDir = s"${Layout.tmpPath("graft-chunklog", sfDir)}/index"
      EventStream.chunkIndexReadAsOf(spark, indexDir, asOfBatch = 0L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          md5(concat_ws(",", expr(
            "transform(array_sort(collect_list(struct(chunk_id, h))), x -> x.h)")))
            .as("chunks_md5"))
        .orderBy("doc_id")
    }

  /** INCREMENTAL-READ GATE: the chunk-index CHANGES between snapshot 0
    * and snapshot 1 of [[chunkDedupStreamed]]'s ingestion
    * ([[graft.streaming.EventStream.chunkIndexChanges]]) — exactly what
    * a downstream incremental consumer processes to catch up, without
    * re-reading the table. The oracle rebuilds batch 1's chunk hashes
    * from scratch (`doc_id > (min+max)/2`), so a change set that leaks
    * a prior batch's rows, drops a batch-1 row, or misreads the window
    * bounds breaks the md5. Zero data copy at any scale: the change set
    * is a listing filter over the per-batch write units.
    */
  def chunkIndexChangesGate(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"dedup.chunkChanges:$sfDir") {
      import graft.streaming.EventStream
      chunkDedupStreamed(spark, sfDir)
      val indexDir = s"${Layout.tmpPath("graft-chunklog", sfDir)}/index"
      EventStream.chunkIndexChanges(spark, indexDir,
        fromExclusive = 0L, toInclusive = 1L)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          md5(concat_ws(",", expr(
            "transform(array_sort(collect_list(struct(chunk_id, h))), x -> x.h)")))
            .as("chunks_md5"))
        .orderBy("doc_id")
    }

  /** BATCH NOVELTY REPORT — "how much genuinely new content does this
    * dump bring, per source": the incremental change set (batch 1's
    * chunk occurrences) anti-probed against the PRIOR snapshot's
    * distinct span hashes (as-of batch 0), rolled up per source. The
    * crawl-triage signal a curation pipeline reads before spending
    * compute on a dump — a source whose novelty ratio collapses is
    * re-crawled boilerplate. Composes the protocol's two snapshot
    * readers: changes(0,1] for the probe side, as-of(0) for the prior
    * art; the corpus is never re-chunked.
    *
    * 100 TB shape: the probe side is ONE batch (not the corpus); the
    * prior side ships only distinct hashes into the equi-join; the
    * rollup output is |sources|. No full-table scan anywhere.
    */
  def chunkBatchNovelty(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"dedup.chunkNovelty:$sfDir") {
      import graft.streaming.EventStream
      chunkDedupStreamed(spark, sfDir)
      val indexDir = s"${Layout.tmpPath("graft-chunklog", sfDir)}/index"
      val changes = EventStream.chunkIndexChanges(spark, indexDir,
        fromExclusive = 0L, toInclusive = 1L)
      val prior = EventStream.chunkIndexReadAsOf(spark, indexDir, 0L)
        .select(col("h")).distinct().withColumn("seen", lit(1))
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), col("source"))
      changes.join(prior, Seq("h"), "left")
        .join(docs, Seq("doc_id"))
        .groupBy(col("source"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty_ratio",
          col("n_novel").cast("double") / col("n_chunks").cast("double"))
        .orderBy("source")
    }

  private val chunkDedupOracleSql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |chunks AS (
         |  SELECT doc_id,
         |         unnest(generate_series(0,
         |           greatest(CAST(ceil(len(t) / $ChunkDedupTokens.0) AS INT) - 1, 0)))
         |           AS chunk_id,
         |         t
         |  FROM toks),
         |c2 AS (
         |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |         array_to_string(list_slice(t,
         |           chunk_id * $ChunkDedupTokens + 1,
         |           chunk_id * $ChunkDedupTokens + $ChunkDedupTokens), ' ') AS chunk_text
         |  FROM chunks),
         |flagged AS (
         |  SELECT *, row_number() OVER (PARTITION BY md5(chunk_text)
         |                               ORDER BY doc_id, chunk_id) AS rn
         |  FROM c2)
         |SELECT doc_id,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |       md5(string_agg(CASE WHEN rn = 1 THEN chunk_text END, ' '
         |                      ORDER BY chunk_id)) AS kept_md5
         |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** One spelling of the cluster oracle (exhaustive pairs → recursive
    * reachability → min-id label), shared by the batch `dedup_clusters`
    * and its incrementally-maintained twin.
    */
  private val clustersOracleSql =
    s"""WITH RECURSIVE $shingleCte,
       |$clusterCompCte
       |SELECT doc_id, cluster_id,
       |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
       |FROM comp ORDER BY doc_id""".stripMargin

  /** Oracle for [[chunkIndexAsOf]]: chunk hashes recomputed from
    * scratch over EXACTLY the ingestion's batch-0 documents — what an
    * as-of-batch-0 read of the stored index must contain, to the md5.
    */
  private val chunkAsOfOracleSql =
    s"""WITH pre AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id <= (SELECT (min(doc_id) + max(doc_id)) / 2
         |                   FROM documents)),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM pre),
         |chunks AS (
         |  SELECT doc_id,
         |         unnest(generate_series(0,
         |           greatest(CAST(ceil(len(t) / $ChunkDedupTokens.0) AS INT) - 1, 0)))
         |           AS chunk_id,
         |         t
         |  FROM toks),
         |c2 AS (
         |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |         md5(array_to_string(list_slice(t,
         |           chunk_id * $ChunkDedupTokens + 1,
         |           chunk_id * $ChunkDedupTokens + $ChunkDedupTokens), ' ')) AS h
         |  FROM chunks)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       md5(string_agg(h, ',' ORDER BY chunk_id)) AS chunks_md5
         |FROM c2 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for [[chunkIndexChangesGate]]: batch 1's chunk hashes
    * rebuilt from scratch — what changes(0, 1] must contain exactly.
    */
  private val chunkChangesOracleSql =
    s"""WITH chg AS (
         |  SELECT doc_id, text FROM documents
         |  WHERE doc_id > (SELECT (min(doc_id) + max(doc_id)) / 2
         |                  FROM documents)),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM chg),
         |chunks AS (
         |  SELECT doc_id,
         |         unnest(generate_series(0,
         |           greatest(CAST(ceil(len(t) / $ChunkDedupTokens.0) AS INT) - 1, 0)))
         |           AS chunk_id,
         |         t
         |  FROM toks),
         |c2 AS (
         |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |         md5(array_to_string(list_slice(t,
         |           chunk_id * $ChunkDedupTokens + 1,
         |           chunk_id * $ChunkDedupTokens + $ChunkDedupTokens), ' ')) AS h
         |  FROM chunks)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |       md5(string_agg(h, ',' ORDER BY chunk_id)) AS chunks_md5
         |FROM c2 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Oracle for [[chunkBatchNovelty]]: batch 1's occurrences left-anti
    * the distinct prior-snapshot hashes, per source, from scratch.
    */
  private val chunkNoveltyOracleSql =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |chunks AS (
         |  SELECT doc_id,
         |         unnest(generate_series(0,
         |           greatest(CAST(ceil(len(t) / $ChunkDedupTokens.0) AS INT) - 1, 0)))
         |           AS chunk_id,
         |         t
         |  FROM toks),
         |c2 AS (
         |  SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
         |         md5(array_to_string(list_slice(t,
         |           chunk_id * $ChunkDedupTokens + 1,
         |           chunk_id * $ChunkDedupTokens + $ChunkDedupTokens), ' ')) AS h
         |  FROM chunks),
         |mid AS (SELECT (min(doc_id) + max(doc_id)) / 2 AS m FROM documents),
         |prior AS (SELECT DISTINCT h FROM c2
         |          WHERE doc_id <= (SELECT m FROM mid)),
         |chg AS (SELECT * FROM c2 WHERE doc_id > (SELECT m FROM mid))
         |SELECT d.source,
         |       CAST(count(DISTINCT chg.doc_id) AS BIGINT) AS n_docs,
         |       CAST(count(*) AS BIGINT) AS n_chunks,
         |       CAST(sum(CASE WHEN prior.h IS NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_novel,
         |       CAST(sum(CASE WHEN prior.h IS NULL THEN 1 ELSE 0 END)
         |            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS novelty_ratio
         |FROM chg LEFT JOIN prior ON chg.h = prior.h
         |JOIN documents d ON chg.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ====================================================================
  // WINNOWING (local document fingerprinting) — the k-gram window-min
  // selection scheme of Schleimer/Wilkerson/Aiken, "Winnowing: Local
  // Algorithms for Document Fingerprinting" (SIGMOD 2003, public): hash
  // every k-gram of the text, slide a window of w consecutive hashes,
  // select each window's MINIMUM (rightmost on ties), and keep the
  // distinct (position, hash) selections as the document's fingerprints.
  // The paper's guarantee: any substring match of length ≥ w + k − 1
  // between two documents yields at least one SHARED fingerprint hash —
  // so fingerprint overlap detects LOCAL reuse (a copied paragraph, a
  // shared boilerplate block) that whole-document hashes (the
  // `text_fingerprint` grain) and coarse chunk hashes miss, at an
  // expected density of only 2/(w+1) of positions. This is the missing
  // granularity between exact/chunk dedup and MinHash similarity.
  //
  // 100 TB shape: the whole selection — k-gram hashing, window minima,
  // change-dedup — runs inside ONE codegen'd expression per document
  // ([[graft.plans.WinnowFingerprints]]), so the fingerprint frame is a
  // NARROW plan: no lambda, no UDF, no explode of unselected k-grams,
  // and zero shuffles before the consumer's own aggregate. The overlap
  // join runs on the 40-bit fingerprint-hash key with a
  // document-frequency cap (WinnowDfCap) as the skew guard — boilerplate
  // hashes shared by hundreds of documents are dropped BEFORE the join
  // (the banding/ppjoin discipline), so the join never quadratically
  // explodes on a hot key.
  // ====================================================================

  private[graft] val WinnowK = 8       // k-gram length (chars)
  private[graft] val WinnowW = 4       // window size (hashes)
  private[graft] val WinnowDfCap = 20  // overlap join's hash-df skew cap
  private[graft] val WinnowShareMin = 10 // served pair threshold
  // 40-bit hashes so hash·2²⁰ + pos stays inside a BIGINT on both engines
  private val WinnowHashMod = 1L << 40
  private val WinnowPosEnc = 1L << 20

  /** The distinct (doc_id, p, h) winnowing fingerprints of a (doc_id,
    * text) frame — rightmost-min-per-window selection, encoded exactly
    * once for both engines as min(h·2²⁰ + (2²⁰−1−p)) per window, and
    * computed by the codegen'd [[graft.plans.WinnowFingerprints]]
    * expression in ONE narrow pass per document (r19 verdict #2): hash,
    * window minima, and selection-dedup all happen inside the scan, so
    * the frame plans with ZERO shuffles (the HOF + window spelling paid
    * an interpreted k-gram `transform`, an ~|text|-row explode, a
    * doc-keyed window exchange, and a `distinct` exchange — measured as
    * the registry's #2 expense). The expression also carries the
    * position-overflow guard (ADVICE r19): a document too long for the
    * 20-bit position field THROWS instead of silently encoding wrong
    * fingerprints on both engines.
    *
    * [[winnowFingerprintsOfHof]] keeps the former spelling as the
    * differential reference (ExpressionPropertySpec pins equality on
    * fixture and generated text).
    */
  private[graft] def winnowFingerprintsOf(docs: DataFrame): DataFrame =
    docs
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        explode(graft.plans.GraftFunctions.winnowFp(col("text"),
          WinnowK, WinnowW, WinnowHashMod, WinnowPosEnc)).alias("c"))
      .select(col("doc_id"),
        expr(s"c div $WinnowPosEnc").alias("h"),
        (lit(WinnowPosEnc - 1) - pmod(col("c"), lit(WinnowPosEnc))).alias("p"))

  /** The retired HOF + window-frame spelling of [[winnowFingerprintsOf]]
    * — the exact in-Spark twin of the DuckDB oracle CTE, kept as the
    * differential reference for the codegen expression (the
    * [[graft.operators.Multimodal.phashSigsHof]] discipline).
    */
  private[graft] def winnowFingerprintsOfHof(docs: DataFrame): DataFrame = {
    val kg = docs
      .filter(length(col("text")) >= WinnowK + WinnowW - 1)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, length(text) - $WinnowK), " +
            s"i -> substring(text, i + 1, $WinnowK))")))
      .select(col("doc_id"), col("pos").cast(LongType).alias("p"),
        (TextFunctions.md5Hash60(col("col")) % WinnowHashMod).alias("h"))
    val wEnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
      .rowsBetween(-(WinnowW - 1), 0)
    kg.withColumn("c",
        min(col("h") * WinnowPosEnc + (lit(WinnowPosEnc - 1) - col("p")))
          .over(wEnd))
      .filter(col("p") >= WinnowW - 1) // full windows only
      .select(col("doc_id"),
        expr(s"c div $WinnowPosEnc").alias("h"),
        (lit(WinnowPosEnc - 1) - pmod(col("c"), lit(WinnowPosEnc))).alias("p"))
      .distinct()
  }

  /** The session fingerprint frame over the corpus — shared by both
    * registered winnowing gates (one selection pass per session).
    */
  private def winnowFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    // loadSpread, not a plain scan: the selection expression is a
    // CPU-heavy NARROW pass (14M md5s at sf0.1), and the fixture table
    // is one parquet file — unspread it runs on one core (measured
    // 3.3 s; spread ~0.5 s). At 100 TB the scan yields >= parallelism
    // splits and the spread is a no-op (the loadSpread contract).
    graft.CacheLifecycle.memoized(s"dedup.winnowFp:$sfDir")(
      graft.CacheLifecycle.sessionPersist(
        winnowFingerprintsOf(Tables.loadSpread(spark, sfDir, "documents"))))

  /** Per-document fingerprint report: selection count, distinct hash
    * count, and a position-weighted checksum over the selected
    * (position, hash) set — order- and selection-sensitive, so a wrong
    * tie-break, a missed window, or an off-by-one grid fails the hash.
    */
  def docsWinnowingFingerprints(spark: SparkSession, sfDir: String): DataFrame =
    winnowFingerprints(spark, sfDir)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).alias("n_fp"),
        countDistinct(col("h")).alias("n_hash"),
        sum((col("p") + 1) * col("h")).alias("fp_checksum"))
      .orderBy("doc_id")

  /** LOCAL-OVERLAP PAIRS: documents sharing ≥ [[WinnowShareMin]]
    * distinct fingerprint hashes after the df cap — the copied-block
    * detector. Equi-join on the hash key only; the df cap is applied to
    * BOTH sides before the join (never a hot-key blowup).
    */
  def winnowingOverlapPairs(spark: SparkSession, sfDir: String): DataFrame =
    // memoized + persisted (the minhashLsh pattern): the curation flag
    // frame's winnow leg re-derived the whole overlap join on every
    // invocation — measured ~1.9 s per call at sf0.1 even with the
    // fingerprint frame warm; the memo makes the second consumer a
    // cached read (bounded pair rows)
    graft.CacheLifecycle.memoized(s"dedup.winnowPairs:$sfDir")(
      graft.CacheLifecycle.sessionPersist(
        winnowOverlapOf(winnowFingerprints(spark, sfDir))
          .orderBy("doc_a", "doc_b")))

  /** The overlap-pair derivation over ANY (doc_id, h, …) fingerprint
    * frame — ONE spelling shared by the session gate
    * ([[winnowingOverlapPairs]]), the stored-index gate
    * ([[winnowingStoredOverlap]]), and the curation funnel's
    * winnowing signal, so the df-cap/threshold semantics can never
    * drift between the batch and serving forms.
    */
  private[graft] def winnowOverlapOf(fp: DataFrame): DataFrame = {
    // r22 shape: ONE bounded aggregate replaces r21's repartition +
    // in-place dedup + `count(1) over (partition by h)` window + rare
    // self-join (guide §2.3 aggregate-before-shuffle, §5 bounded state):
    //
    //   groupBy(h) agg distinct_min_k(doc_id, cap+1) → size filter →
    //   in-group pair explode → pair aggregate.
    //
    // distinct_min_k (plans/DistinctMinK.scala) keeps the cap+1 smallest
    // DISTINCT doc ids per hash in a ≤(cap+1)-long buffer that
    // partial-aggregates MAP-SIDE, so (a) the one h-exchange carries at
    // most (cap+1)·|distinct h per mapper| longs instead of every
    // (doc_id, h) occurrence row, (b) no operator ever buffers an
    // unbounded hash's rows — the r21 window buffered every row of a
    // hash inside one window partition, a stopword-grade hash at 100 TB
    // being one spilling straggler task — and (c) hot hashes are
    // equivalent to a df-cap filter by construction: a hash with
    // df ≤ cap never evicts, so its array IS the complete sorted
    // distinct doc set (size = df); a hash with df > cap saturates at
    // cap+1 and the size filter discards it — exactly the rows the old
    // dedup + window-df ≤ cap pipeline kept.
    //
    // Pairs then come from IN-GROUP generation over the (complete,
    // ascending) per-hash doc array — ≤ cap·(cap−1)/2 pairs per hash,
    // the same (a < b) orientation the r21 self-join produced, whose
    // second branch the captured no-broadcast plan showed paying its own
    // exchange and re-running the dedup + window (no ReusedExchange).
    // Row semantics are untouched — dedup keys (distinct insertion), df
    // cap, pair count and threshold are the ones the three registered
    // gates' oracles pin.
    fp.select(col("doc_id"), col("h"))
      .groupBy(col("h"))
      .agg(graft.plans.DistinctMinK.distinctMinK(col("doc_id"), WinnowDfCap + 1)
        .alias("docs"))
      .filter(size(col("docs")).between(2, WinnowDfCap))
      .select(explode(expr(
        "flatten(transform(docs, (a, i) -> " +
          "transform(slice(docs, i + 2, size(docs) - i - 1), " +
          "b -> struct(a AS doc_a, b AS doc_b))))")).alias("pr"))
      .groupBy(col("pr.doc_a").alias("doc_a"), col("pr.doc_b").alias("doc_b"))
      .agg(count(lit(1)).alias("n_shared"))
      .filter(col("n_shared") >= WinnowShareMin)
  }

  /** STORED-INDEX WINNOWING OVERLAP as a registered gate (r19 verdict
    * #1 — the one dedup grain still session-only): the corpus arrives
    * as two doc-id-ordered batches against an empty-seeded stored
    * fingerprint index
    * ([[graft.streaming.EventStream.winnowIngestFoldBatch]] — the exact
    * foreachBatch body the streaming query runs; each batch fingerprints
    * ONLY its own documents with the same codegen expression and folds
    * them in as a committed subdir, manifest-before-marker). Serving
    * reads the stored per-occurrence (h, doc_id, p) table and derives
    * the overlap pairs through the SHARED [[winnowOverlapOf]] body, so
    * the oracle is the batch query's SQL VERBATIM — stored-over-batches
    * ≡ one-shot, the ingestion-dedup parity discipline at the
    * fingerprint grain. At 100 TB the corpus is never re-fingerprinted:
    * a nightly crawl pays one batch-scale selection pass, and the
    * ingestion-time probe (its ghost/erasure directions pinned in
    * StreamingSpec) equi-joins the batch's fingerprints against the
    * stored table under the same df cap.
    *
    * Memoized durably: seed + folds are commit-gated, so a
    * second JVM replays both batches as no-ops and re-reads the stored
    * index.
    */
  def winnowingStoredOverlap(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"dedup.winnowStored:$sfDir") {
      import graft.streaming.EventStream
      val indexDir = s"${Layout.tmpPath("graft-winnowlog", sfDir)}/index"
      // spread for the same reason as winnowFingerprints: each fold's
      // selection pass is narrow and compute-bound
      val docs = Tables.loadSpread(spark, sfDir, "documents")
      val mid = docs.agg((min(col("doc_id")) + max(col("doc_id"))) / 2)
        .head().getDouble(0)
      EventStream.winnowIndexSeed(spark, indexDir, docs.filter(lit(false)))
      EventStream.winnowIngestFoldBatch(spark, indexDir,
        docs.filter(col("doc_id") <= mid), 0L)
      EventStream.winnowIngestFoldBatch(spark, indexDir,
        docs.filter(col("doc_id") > mid), 1L)
      winnowOverlapOf(EventStream.winnowIndexRead(spark, indexDir))
        .orderBy("doc_a", "doc_b")
    }

  /** RIGHT-TO-BE-FORGOTTEN THROUGH THE WINNOW INDEX as a registered
    * gate — the [[Multimodal.phashForgetMedia]] discipline at the
    * fingerprint grain: the stored index is seeded from the full
    * corpus, the deletion cohort (`doc_id % 10 = 7` — the text tier's
    * forget rule, one doc-forget story across the text grains) is
    * propagated through
    * [[graft.streaming.EventStream.forgetDocsFromWinnowIndex]]
    * (erasure-as-rewrite: an anti-join rewrite that expires the older
    * generations), and the SERVED overlap pairs are what
    * this query returns. Oracle = the pair derivation over SURVIVING
    * documents only — erasure ≡ filter-rebuild through the serving
    * plan, including the df-cap subtlety that makes this non-trivial:
    * document frequencies are computed over the SURVIVOR fingerprint
    * set, so forgetting documents can LOWER a boilerplate hash under
    * the cap and surface pairs the pre-erasure index suppressed — the
    * gate would catch a lazy implementation that merely filtered the
    * old pair list. Memoized durably behind the seed guard (the
    * second-JVM re-run replays the erasure as a content no-op).
    */
  def winnowingForgetDocs(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"dedup.winnowForget:$sfDir") {
      import graft.streaming.EventStream
      val indexDir = s"${Layout.tmpPath("graft-winnowforgetlog", sfDir)}/index"
      val docs = Tables.loadSpread(spark, sfDir, "documents")
      EventStream.winnowIndexSeed(spark, indexDir, docs)
      EventStream.forgetDocsFromWinnowIndex(spark, indexDir,
        docs.filter(col("doc_id") % 10 === 7).select(col("doc_id")))
      winnowOverlapOf(EventStream.winnowIndexRead(spark, indexDir))
        .orderBy("doc_a", "doc_b")
    }

  /** DuckDB twin of [[winnowFingerprintsOf]] — keep in sync (the same
    * end-anchored sliding-frame min over full windows).
    */
  private[operators] val winnowFpCte: String =
    s"""wpos AS (
       |  SELECT doc_id, text,
       |         unnest(generate_series(0, length(text) - $WinnowK)) AS p
       |  FROM documents WHERE length(text) >= ${WinnowK + WinnowW - 1}),
       |wkg AS (
       |  SELECT doc_id, CAST(p AS BIGINT) AS p,
       |         ${TextFunctions.md5Hash60Sql(
               s"substr(text, CAST(p AS INT) + 1, $WinnowK)")}
       |           % $WinnowHashMod AS h
       |  FROM wpos),
       |wsel AS (
       |  SELECT doc_id, p,
       |         min(h * $WinnowPosEnc + (${WinnowPosEnc - 1} - p))
       |           OVER (PARTITION BY doc_id ORDER BY p
       |                 ROWS BETWEEN ${WinnowW - 1} PRECEDING AND CURRENT ROW)
       |           AS c
       |  FROM wkg),
       |wfp AS (
       |  SELECT DISTINCT doc_id, c // $WinnowPosEnc AS h,
       |         ${WinnowPosEnc - 1} - (c % $WinnowPosEnc) AS p
       |  FROM wsel WHERE p >= ${WinnowW - 1})""".stripMargin

  /** DuckDB twin of [[winnowOverlapOf]] over the `wfp` CTE — shared by
    * the batch gate, the stored-index gate, and the curation funnel's
    * winnowing column. Requires [[winnowFpCte]] in the same WITH.
    */
  private[operators] val winnowPairsCte: String =
    s"""whd AS (SELECT DISTINCT doc_id, h FROM wfp),
       |wdf AS (SELECT h, count(*) AS df FROM whd GROUP BY 1),
       |wrare AS (SELECT doc_id, h FROM whd JOIN wdf USING (h)
       |          WHERE df <= $WinnowDfCap),
       |wpairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(count(*) AS BIGINT) AS n_shared
       |  FROM wrare a JOIN wrare b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= $WinnowShareMin)""".stripMargin

  /** The overlap-pair oracle — ONE spelling behind the batch gate and
    * its stored-index twin (stored-over-batches ≡ one-shot).
    */
  private val winnowPairsOracleSql: String =
    s"""WITH $winnowFpCte,
       |$winnowPairsCte
       |SELECT doc_a, doc_b, n_shared FROM wpairs
       |ORDER BY doc_a, doc_b""".stripMargin

  val oracles: Map[String, String] = Map(
    "docs_winnowing_fingerprints" ->
      s"""WITH $winnowFpCte
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp,
         |       CAST(count(DISTINCT h) AS BIGINT) AS n_hash,
         |       CAST(sum((p + 1) * h) AS BIGINT) AS fp_checksum
         |FROM wfp GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "winnowing_overlap_pairs" -> winnowPairsOracleSql,
    // erasure ≡ filter-rebuild through the serving plan: the SAME pair
    // derivation restricted to surviving documents — the df cap runs
    // over the SURVIVOR fingerprint set (see [[winnowingForgetDocs]])
    "winnowing_forget_docs" ->
      s"""WITH $winnowFpCte,
         |whd AS (SELECT DISTINCT doc_id, h FROM wfp
         |        WHERE doc_id % 10 != 7),
         |wdf AS (SELECT h, count(*) AS df FROM whd GROUP BY 1),
         |wrare AS (SELECT doc_id, h FROM whd JOIN wdf USING (h)
         |          WHERE df <= $WinnowDfCap),
         |wpairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS n_shared
         |  FROM wrare a JOIN wrare b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= $WinnowShareMin)
         |SELECT doc_a, doc_b, n_shared FROM wpairs
         |ORDER BY doc_a, doc_b""".stripMargin,
    // stored-over-batches ≡ one-shot: the SAME oracle verbatim (the
    // ingestion-dedup parity discipline at the fingerprint grain)
    "winnowing_stored_overlap" -> winnowPairsOracleSql,
    "docs_chunk_dedup" -> chunkDedupOracleSql,
    // streamed-over-batches == one-shot: the SAME oracle verbatim
    "docs_chunk_dedup_streamed" -> chunkDedupOracleSql,
    "chunk_index_asof" -> chunkAsOfOracleSql,
    "chunk_index_changes" -> chunkChangesOracleSql,
    "chunk_batch_novelty" -> chunkNoveltyOracleSql,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_copies,
        |       md5(text) AS text_md5
        |FROM documents GROUP BY text ORDER BY keep_id""".stripMargin,
    "dedup_ngram_jaccard" -> exhaustivePairsSql,
    "dedup_minhash_lsh"   -> exhaustivePairsSql,
    "dedup_minhash_incremental" -> exhaustivePairsSql,
    "dedup_jaccard_histogram" ->
      s"""WITH $shingleCte,
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS n_common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |binned AS (
         |  SELECT (n_common * 20) // (sa.n + sb.n - n_common) AS bin
         |  FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |             JOIN sizes sb ON doc_b = sb.doc_id)
         |SELECT bin, CAST(bin AS DOUBLE) / 20.0 AS jaccard_lo,
         |       CAST(count(*) AS BIGINT) AS n_pairs
         |FROM binned WHERE bin >= 10
         |GROUP BY bin ORDER BY bin""".stripMargin,
    "dedup_cross_source_pairs" ->
      s"""WITH $shingleCte,
         |$vpairsCte,
         |ps AS (
         |  SELECT least(da.source, db.source) AS source_a,
         |         greatest(da.source, db.source) AS source_b
         |  FROM vpairs
         |  JOIN documents da ON vpairs.doc_a = da.doc_id
         |  JOIN documents db ON vpairs.doc_b = db.doc_id)
         |SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs
         |FROM ps GROUP BY 1, 2 ORDER BY source_a, source_b""".stripMargin,
    // lossless by the prefix-filter theorem — same oracle, no caveat
    "dedup_prefix_filter" -> exhaustivePairsSql,
    // the split CTE is the SHARED Stats.splitCaseSql spelling and the
    // pair CTE the shared vpairsCte — the report certifies the split and
    // pair set the registry actually ships, structurally
    "split_leakage_report" ->
      s"""WITH $shingleCte,
         |$vpairsCte,
         |spl AS (
         |  SELECT doc_id,
         |         ${Stats.splitCaseSql("CAST(doc_id AS VARCHAR)")} AS split
         |  FROM documents)
         |SELECT doc_a, doc_b, a.split AS split_a, b.split AS split_b,
         |       n_common, n_a, n_b, jaccard
         |FROM vpairs JOIN spl a ON doc_a = a.doc_id
         |            JOIN spl b ON doc_b = b.doc_id
         |WHERE a.split != b.split
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_containment" ->
      s"""WITH $shingleCte,
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(count(*) AS BIGINT) AS n_common
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, n_common,
         |       n_common / least(sa.n, sb.n) AS containment
         |FROM inter JOIN sizes sa ON doc_a = sa.doc_id
         |           JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE n_common / least(sa.n, sb.n) >= 0.8
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_survivors" ->
      s"""WITH $shingleCte,
         |$removalsCte
         |SELECT doc_id, lang, source, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT doc_id FROM removals)
         |ORDER BY doc_id""".stripMargin,
    "dedup_simhash" ->
      s"""WITH $simhashCteSql
         |SELECT doc_id, simhash FROM sims ORDER BY doc_id""".stripMargin,
    "dedup_clusters" -> clustersOracleSql,
    // incrementally-maintained-over-batches == one-shot rebuild: the
    // SAME oracle verbatim (the maintenance-gate discipline — stable
    // min-id labels are exactly the rebuild's labels)
    "dedup_clusters_incremental" -> clustersOracleSql,
    // the as-of twin: the SAME derivation over the batch-0 prefix only
    "dedup_clusters_asof" ->
      s"""WITH RECURSIVE ${shingleCteWhere(
             " WHERE doc_id <= (SELECT (min(doc_id) + max(doc_id)) / 2" +
               " FROM documents)")},
         |$clusterCompCte
         |SELECT doc_id, cluster_id,
         |       CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS n_members
         |FROM comp ORDER BY doc_id""".stripMargin,
    "dedup_cluster_reps" ->
      s"""WITH RECURSIVE $shingleCte,
         |$clusterCompCte,
         |mem AS (
         |  SELECT c.doc_id, c.cluster_id, d.n_chars,
         |         CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT)
         |           AS n_members
         |  FROM comp c JOIN documents d USING (doc_id))
         |SELECT cluster_id, doc_id AS rep_doc_id, n_chars AS rep_n_chars,
         |       n_members, n_members - 1 AS n_dropped
         |FROM mem
         |QUALIFY row_number() OVER (PARTITION BY cluster_id
         |                           ORDER BY n_chars DESC, doc_id ASC) = 1
         |ORDER BY cluster_id""".stripMargin,
    // exhaustive all-pairs oracle — the banded Spark plan provably equals
    // it (pigeonhole over 4 bands; see simhashPairs doc)
    "dedup_simhash_pairs" ->
      s"""WITH $simhashCteSql
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "docs_winnowing_fingerprints" -> docsWinnowingFingerprints _,
    "winnowing_overlap_pairs"     -> winnowingOverlapPairs _,
    "winnowing_stored_overlap"    -> winnowingStoredOverlap _,
    "winnowing_forget_docs"       -> winnowingForgetDocs _,
    "dedup_exact"         -> exact _,
    "dedup_ngram_jaccard" -> ngramJaccard _,
    "dedup_containment"   -> containment _,
    "dedup_minhash_lsh"   -> minhashLsh _,
    "dedup_cross_source_pairs" -> crossSourcePairs _,
    "dedup_prefix_filter" -> prefixFilterJaccard _,
    "split_leakage_report" -> splitLeakageReport _,
    "dedup_survivors"     -> survivors _,
    "dedup_simhash"       -> simhash _,
    "dedup_simhash_pairs" -> simhashPairs _,
    "dedup_clusters"      -> clusters _,
    "dedup_clusters_incremental" -> clustersIncremental _,
    "dedup_clusters_asof" -> clustersAsOf _,
    "dedup_cluster_reps"  -> clusterReps _,
    "docs_chunk_dedup"    -> chunkDedup _,
    "docs_chunk_dedup_streamed" -> chunkDedupStreamed _,
    "chunk_index_asof"    -> chunkIndexAsOf _,
    "chunk_index_changes" -> chunkIndexChangesGate _,
    "chunk_batch_novelty" -> chunkBatchNovelty _,
    "dedup_minhash_incremental" -> minhashIncremental _,
    "dedup_jaccard_histogram" -> jaccardHistogram _,
  )
}
