package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.Deterministic
import graft.io.Writes

/** Structured Streaming forms of the event pipelines. Batch twins live in
  * `graft.operators.Events` — Spark shares the `window()` semantics
  * between modes, so the transformation bodies are the same; what differs
  * is the source (`readStream`), the watermark, and the sink contract
  * (north-star spec; the reference has no streaming surface).
  *
  * At scale: the stateful aggregation keys on (window, event_type) —
  * state store size is bounded by watermark eviction; shuffle partitions
  * size the state store parallelism. File sources at 100 TB become Kafka
  * sources with the same plan shape.
  */
object EventStream {

  /** File-based streaming source over an events directory — same
    * footer-sniffed physical schema and `ts` normalization as the batch
    * reader (both defined once on [[graft.Tables]]).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.eventsStreamFrom(spark, dir)

  /** Tumbling 1-hour windowed counts/sums with a 2-hour watermark —
    * identical aggregation body to the batch `events_hourly` query.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).alias("n_events"),
        Deterministic.exactSum(col("value"), 2).alias("sum_value"))
      .select(col("window.start").alias("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Gap-based sessions via the built-in `session_window` — the SAME
    * aggregation body as the batch `events_session_window` query; in
    * streaming mode Spark merges windows incrementally in the state
    * store and emits a session once the watermark passes its end.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).alias("n_events"),
        Deterministic.exactSum(col("value"), 2).alias("session_value"))
      .select(col("user_id"),
        col("session_window.start").alias("session_start"),
        col("session_window.end").alias("session_end"),
        col("n_events"), col("session_value"))

  /** Input row for the stateful pipelines (micros timestamp for exact
    * state arithmetic).
    */
  final case class EventLite(user_id: Long, event_id: Long, ts_us: Long)

  /** Per-user running state surfaced by [[statefulLatestPerUser]]. */
  final case class UserLatest(
      user_id: Long, n_events: Long, last_event_id: Long, last_ts_us: Long)

  /** Arbitrary stateful processing via `mapGroupsWithState`: a per-user
    * running (count, latest-event) state updated each micro-batch — the
    * streaming twin of the batch `events_latest_per_user` query. State is
    * O(#users); at 100 TB the state store shards with shuffle
    * partitions and would add a timeout policy for idle keys.
    */
  def statefulLatestPerUser(events: DataFrame): Dataset[UserLatest] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).alias("ts_us"))
      .as[EventLite]
      .groupByKey(_.user_id)
      .mapGroupsWithState[(Long, Long, Long), UserLatest](
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        var (n, lid, lts) = state.getOption.getOrElse((0L, -1L, Long.MinValue))
        it.foreach { e =>
          n += 1
          if (e.ts_us > lts || (e.ts_us == lts && e.event_id > lid)) {
            lts = e.ts_us; lid = e.event_id
          }
        }
        state.update((n, lid, lts))
        UserLatest(uid, n, lid, lts)
      }
  }

  /** One gap-delimited session of [[sessionizeStateful]]. */
  final case class Session(
      user_id: Long, session_id: Long, n_events: Long,
      session_start_us: Long, session_end_us: Long)

  /** Per-user open-session continuation state. */
  final case class SessionState(
      next_id: Long, n: Long, start_us: Long, end_us: Long)

  /** Gap-based sessionization (30-minute gap) via `flatMapGroupsWithState`
    * — the streaming twin of the batch `events_sessionize` window
    * pipeline. Each micro-batch sorts the user's new events (bounded:
    * one user's batch slice), folds them into the open session carried in
    * state, and emits every session touched this batch (update mode —
    * a session spanning batches re-emits with its final extent). State is
    * one open session per user; production would add an event-time
    * timeout to flush idle users.
    */
  def sessionizeStateful(events: DataFrame): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val GapUs = 1800L * 1000000L
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).alias("ts_us"))
      .as[EventLite]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        org.apache.spark.sql.streaming.OutputMode.Update,
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        // micro-batch iterators carry no ordering guarantee — sort the
        // user's slice (bounded by the batch) before folding
        val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
        var st = state.getOption.getOrElse(SessionState(1L, 0L, 0L, Long.MinValue))
        val out = scala.collection.mutable.ArrayBuffer.empty[Session]
        def emit(): Unit = if (st.n > 0)
          out += Session(uid, st.next_id, st.n, st.start_us, st.end_us)
        sorted.foreach { e =>
          if (st.n > 0 && e.ts_us - st.end_us > GapUs) {
            emit()
            st = SessionState(st.next_id + 1, 0L, 0L, Long.MinValue)
          }
          st = st.copy(n = st.n + 1,
            start_us = if (st.n == 0) e.ts_us else st.start_us,
            end_us = math.max(st.end_us, e.ts_us))
        }
        emit()
        state.update(st)
        out.iterator
      }
  }

  /** Stream-stream interval join: purchases joined to the same user's
    * non-purchase events in the preceding 30 minutes — the streaming twin
    * of the batch `purchase_attribution_30m` pair set. Both sides carry
    * watermarks and the join condition bounds event time on both, so
    * Spark can evict join state past `watermark + interval`.
    */
  def purchaseAttributionPairs(purchases: DataFrame, others: DataFrame): DataFrame = {
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").alias("purchase_id"), col("user_id").alias("p_user"),
        col("ts").alias("p_ts"))
      .withWatermark("p_ts", "2 hours")
    val e = others.filter(col("event_type") =!= "purchase")
      .select(col("event_id").alias("prior_event_id"), col("user_id"), col("ts"))
      .withWatermark("ts", "2 hours")
    p.join(e,
      col("p_user") === col("user_id") &&
        col("ts") < col("p_ts") &&
        col("ts") >= col("p_ts") - expr("INTERVAL 30 MINUTES"))
  }

  /** Stream-static dimension enrichment: the event stream joined to a
    * static (batch) dimension on the user key — stateless (no watermark
    * needed; each micro-batch joins against the current static side), the
    * dimension rides a broadcast, so the stream never shuffles. This is
    * the streaming twin of every batch fact⋈dim join in the star tier;
    * at scale the static side is a slowly-changing dim re-resolved per
    * batch.
    */
  def enrichedEvents(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment").alias("segment"))

  /** Streaming exact dedup by event id within the watermark horizon —
    * the ingestion-side guard against at-least-once source duplicates.
    * State holds one entry per id seen within the watermark; eviction is
    * automatic past it.
    */
  def dedupedEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Shingle-table read schema for the parquet-backed ingest-dedup index
    * — explicit schemas everywhere a state dir could legitimately be
    * empty or freshly seeded (the same discipline as
    * [[versionedStateRead]]).
    */
  private val ingestShinglesSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sh", ArrayType(StringType))))

  private val ingestBandsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("band", StringType)))

  private val ingestPairsSchema = StructType(Seq(
    StructField("doc_a", LongType),
    StructField("doc_b", LongType),
    StructField("n_common", LongType),
    StructField("n_a", IntegerType),
    StructField("n_b", IntegerType),
    StructField("jaccard", DoubleType)))

  /** The verified near-dup pairs an ingest-dedup run has emitted so far
    * (every batch's append generation of the `pairsOutDir` table).
    */
  def ingestPairsRead(spark: SparkSession, pairsOutDir: String): DataFrame =
    appendRead(spark, pairsOutDir, ingestPairsSchema)

  /** The stored MinHash index tables — the read side of
    * [[minhashIngestDedup]]'s probe, public for the erasure
    * certificate's per-tier residue audit.
    */
  def ingestShinglesRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/shingles", ingestShinglesSchema)

  def ingestBandsRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/bands", ingestBandsSchema)

  /** The auto-compaction policy over the tf index — the entry the tf
    * maintenance stream runs per fold when `autoCompactAfter` is set
    * (see [[maintainAppendTables]]). Returns whether a compaction ran.
    */
  def compactTfIndexIfCrowded(spark: SparkSession, indexDir: String,
      maxAppends: Int): Boolean = {
    val c = crowded(spark, s"$indexDir/tf", maxAppends)
    if (c) compactTfIndex(spark, indexDir)
    c
  }

  /** Compact the ingest-dedup index tables (see [[rewriteAppendTable]];
    * the bands table commits the fold, so it is the batch evidence).
    */
  def compactIngestIndex(spark: SparkSession, indexDir: String): Unit = {
    val bandsDir = s"$indexDir/bands"
    rewriteAppendTable(spark, s"$indexDir/shingles", ingestShinglesSchema,
      bandsDir, requireSeed = true)()
    rewriteAppendTable(spark, bandsDir, ingestBandsSchema, bandsDir,
      requireSeed = true)()
  }

  /** Compact the maintained ANN index tables (see [[rewriteAppendTable]]). */
  def compactAnnIndex(spark: SparkSession, indexDir: String): Unit = {
    val cellsDir = s"$indexDir/cells"
    rewriteAppendTable(spark, cellsDir, annCellsSchema, cellsDir,
      requireSeed = true)()
    rewriteAppendTable(spark, s"$indexDir/codes", annCodesSchema, cellsDir,
      requireSeed = true)()
  }

  /** Band-table read schema for the parquet-backed phash ingest-dedup
    * index: the 4×15-bit pigeonhole band keys with the full hash carried
    * alongside, so the Hamming verify reads no second table.
    */
  private val phashBandsSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("phash", LongType),
    StructField("band", IntegerType),
    StructField("v", LongType)))

  private val phashPairsSchema = StructType(Seq(
    StructField("media_a", LongType),
    StructField("media_b", LongType),
    StructField("hamming", IntegerType)))

  /** The verified near-dup pairs a phash ingest-dedup run has emitted so
    * far (every batch's append generation of the `pairsOutDir` table).
    */
  def phashPairsRead(spark: SparkSession, pairsOutDir: String): DataFrame =
    appendRead(spark, pairsOutDir, phashPairsSchema)

  /** The stored phash band index — the read side of
    * [[phashIngestDedup]]'s probe (and the erasure spec's ghost-probe
    * witness).
    */
  def phashBandsRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/bands", phashBandsSchema)

  /** Compact the phash ingest-dedup band index (see [[rewriteAppendTable]]). */
  def compactPhashIndex(spark: SparkSession, indexDir: String): Unit = {
    val bandsDir = s"$indexDir/bands"
    rewriteAppendTable(spark, bandsDir, phashBandsSchema, bandsDir,
      requireSeed = true)()
  }

  /** Compact the verified-pairs OUTPUT table — the served side of the
    * ingest-dedup gates accumulates one append generation per batch like
    * the indexes, and every [[ingestPairsRead]] scans them. The fold's
    * commit evidence is the index's bands table, so the compactor takes
    * both paths; the first compaction gives the table its first rewrite
    * (pairs tables start at `a0` — no history seed exists).
    */
  def compactIngestPairs(spark: SparkSession, pairsOutDir: String,
      indexDir: String): Unit =
    rewriteAppendTable(spark, pairsOutDir, ingestPairsSchema,
      s"$indexDir/bands")()

  /** RIGHT-TO-BE-FORGOTTEN over the MinHash ingest-dedup index — the
    * text tier's stored shingle/band tables hold per-document DERIVED
    * CONTENT (a shingle set reconstructs most of the text), so a
    * deletion request must reach them exactly as it reaches the tf
    * index. Pairs first (the served surface; a pair dies when EITHER
    * endpoint is forgotten), then bands and shingles — each an
    * anti-join rewrite that expires every older generation (they hold
    * the forgotten rows). Idempotent; quiesced-stream contract;
    * StreamingSpec pins that a forgotten document's byte-identical
    * re-ingest under a fresh id never pairs with the ghost and that the
    * erased index equals the surviving-docs rebuild.
    */
  def forgetDocsFromMinhashIndex(spark: SparkSession, indexDir: String,
      pairsOutDir: String, docIds: DataFrame): Unit =
    withForgetList(docIds, "doc_id") { ids =>
      val bandsDir = s"$indexDir/bands"
      erasePairEndpoints(spark, pairsOutDir, ingestPairsSchema, bandsDir,
        ids, "doc_a", "doc_b")
      // bands before shingles — the candidacy-gates-serving order (the
      // ANN cells-first rule): a bands-erased victim can no longer be
      // PROPOSED even while its shingles await their erasure
      eraseKeysFromTable(spark, bandsDir, ingestBandsSchema, bandsDir,
        ids, "doc_id")
      eraseKeysFromTable(spark, s"$indexDir/shingles", ingestShinglesSchema,
        bandsDir, ids, "doc_id")
    }

  /** INGESTION-TIME PERCEPTUAL-HASH DEDUP via `foreachBatch` — the BINARY
    * twin of [[minhashIngestDedup]], closing the r14-verdict composition
    * gap: a daily media crawl must not re-band its whole asset corpus to
    * find tonight's near-dups. Each micro-batch of media rows
    * (`media_id`, `payload: binary`) hashes ONLY its own payloads
    * (codegen [[graft.plans.PHash60]], the batch `multimodal_phash_dupes`
    * hash), decomposes them into the same 4×15-bit pigeonhole bands,
    * probes the STORED band index (history bands for new↔old plus its
    * own bands for new↔new), verifies candidates exactly by
    * `bit_count(xor) <= 3` on the carried hashes, writes the verified
    * pairs, and folds its own bands into the index for the next batch.
    *
    * Same storage/commit contract as the text gate: both tables are
    * append tables on the generation log ([[appendFoldPending]] — the
    * bands generation commits the batch), the probe reads the index as
    * of the previous batch (a crashed attempt's leftovers are never
    * history), a restarted stream resumes against the stored index, and
    * [[compactPhashIndex]] is the OPTIMIZE half. Pass `checkpointDir`
    * for cross-restart exactly-once (the [[maintenanceWriter]] contract).
    *
    * At 100 TB the probe is a (band, v) equi-join of the SMALL batch
    * against the stored index — 4 rows of a few longs per stored asset,
    * never the payloads, never all-pairs; the pigeonhole bound makes the
    * banding lossless for Hamming ≤ 3 exactly as the batch gate proves.
    */
  def phashIngestDedup(mediaStream: DataFrame, historyMedia: DataFrame,
      pairsOutDir: String, indexDir: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    import graft.operators.Multimodal
    val spark = mediaStream.sparkSession
    val bandsDir = s"$indexDir/bands"
    seedAppendTables(spark,
      bandsDir -> Multimodal.phashBandsOf(Multimodal.phashSigsOf(historyMedia)))
    maintenanceWriter(mediaStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (appendFoldPending(spark, batchId, pairsOutDir, bandsDir)) {
          val batchBands = Multimodal.phashBandsOf(
            Multimodal.phashSigsOf(batch.toDF())).persist()
          try {
            val stored = appendRead(spark, bandsDir, phashBandsSchema,
              Some(batchId - 1))
            // the ONE shared candidate/verify spelling (Multimodal):
            // history bands give new↔old, own bands give new↔new
            writeAppend(spark, pairsOutDir, batchId,
              Multimodal.phashVerifiedPairs(batchBands, stored.unionAll(batchBands)))
            writeAppend(spark, bandsDir, batchId, batchBands)
          } finally {
            batchBands.unpersist()
            ()
          }
        }
      }
      .start()
  }

  /** Seed the MinHash ingest index tables from `historyDocs` unless the
    * LAST-written table (bands) holds a committed base
    * ([[seedAppendTables]]) — factored out of [[minhashIngestDedup]] for
    * the curation stream, which maintains the same band index.
    */
  def minhashIndexSeed(spark: SparkSession, indexDir: String,
      historyDocs: DataFrame): Unit = {
    import graft.operators.Dedup
    val histSh = Dedup.shingleDocs(historyDocs).persist()
    try seedAppendTables(spark, s"$indexDir/shingles" -> histSh,
      s"$indexDir/bands" -> Dedup.bandIndex(histSh))
    finally {
      histSh.unpersist()
      ()
    }
  }

  /** Probe the stored band index AS OF the previous batch with one
    * batch's shingles/bands and exact-Jaccard-verify the candidates — the
    * ONE probe spelling [[minhashIngestDedup]] and the curation ingest
    * stream share: stored bands give new↔old candidates, the batch's own
    * bands give new↔new, canonical (least, greatest) so a pair lands
    * once. Reading as of `batchId − 1` is what makes a replay safe: a
    * crashed attempt's committed leftovers of this batch are above the
    * window and never probed as history.
    */
  private def minhashProbeBatch(spark: SparkSession, indexDir: String,
      batchSh: DataFrame, batchBands: DataFrame, batchId: Long): DataFrame = {
    import graft.operators.Dedup
    val prior = Some(batchId - 1)
    val storedBands = appendRead(spark, s"$indexDir/bands", ingestBandsSchema, prior)
    val cands = batchBands.alias("a")
      .join(storedBands.unionAll(batchBands).alias("b"),
        col("a.band") === col("b.band") && col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).alias("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).alias("doc_b"))
      .distinct()
    val storedSh = appendRead(spark, s"$indexDir/shingles", ingestShinglesSchema, prior)
    Dedup.verifyPairs(storedSh.unionAll(batchSh), cands)
  }

  /** INGESTION-TIME MinHash dedup via `foreachBatch` — the streaming form
    * of the batch `dedup_minhash_incremental` gate, i.e. what a live
    * crawl actually runs: each micro-batch of documents shingles ONLY its
    * own rows, computes their MinHash band keys, probes the STORED band
    * index (history bands for new↔old plus its own bands for new↔new),
    * exact-Jaccard-verifies the candidates, writes the verified pairs,
    * and folds its own shingles+bands into the index for the next batch.
    * StreamingSpec pins the parity: over any batch split, the union of
    * emitted pairs plus the pre-existing history↔history pairs equals
    * the from-scratch batch `dedup_minhash_lsh` pair set.
    *
    * The index is STORAGE-BACKED (`indexDir/bands`, `indexDir/shingles`
    * as append tables on the generation log): the probe re-reads the
    * tables each batch, so the plan never grows with batch count, and the
    * index SURVIVES the session — a new stream over the same `indexDir`
    * resumes serving it (the restart-resume StreamingSpec case). Every
    * batch writes one append generation per table and the bands
    * generation commits it, so a re-delivered batch is a no-op — never a
    * double-append. Pass `checkpointDir` for cross-restart exactly-once:
    * without it a fresh stream re-reads all files, and the generation
    * commits skip the replays ONLY while the batchId↔files mapping is
    * unchanged — new files arriving before a checkpoint-less restart
    * would be re-batched into already-applied ids and silently skipped
    * (the [[maintenanceWriter]] contract).
    *
    * At 100 TB the probe is a band-key equi-join of the SMALL batch
    * against the stored index — the corpus is never re-banded, which is
    * what makes ingestion-time dedup affordable at all; the per-batch
    * generations are the append-only commit shape an object store serves
    * directly.
    */
  def minhashIngestDedup(docsStream: DataFrame, historyDocs: DataFrame,
      pairsOutDir: String, indexDir: String,
      checkpointDir: Option[String] = None,
      autoCompactAfter: Option[Int] = None,
      expireKeepSnapshots: Option[Int] = None): StreamingQuery = {
    val spark = docsStream.sparkSession
    minhashIndexSeed(spark, indexDir, historyDocs)
    maintenanceWriter(docsStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        minhashIngestFoldBatch(spark, pairsOutDir, indexDir,
          batch.toDF(), batchId)
        maintainAppendTables(spark, s"$indexDir/bands", autoCompactAfter,
          expireKeepSnapshots)(s"$indexDir/shingles" -> ingestShinglesSchema,
          s"$indexDir/bands" -> ingestBandsSchema, pairsOutDir -> ingestPairsSchema)
      }
      .start()
  }

  /** One MinHash-ingestion micro-batch — the exact `foreachBatch` body
    * of [[minhashIngestDedup]], opened (the [[chunkIngestFoldBatch]]
    * precedent) so the registered incremental-clustering gate runs the
    * SAME pair-detection fold the stream does. Pairs, shingles and bands
    * are written in that order; the bands generation commits the batch.
    */
  def minhashIngestFoldBatch(spark: SparkSession, pairsOutDir: String,
      indexDir: String, batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val shDir = s"$indexDir/shingles"
    val bandsDir = s"$indexDir/bands"
    if (appendFoldPending(spark, batchId, pairsOutDir, shDir, bandsDir)) {
      val batchSh = Dedup.shingleDocs(batch).persist()
      val batchBands = Dedup.bandIndex(batchSh).persist()
      try {
        writeAppend(spark, pairsOutDir, batchId,
          minhashProbeBatch(spark, indexDir, batchSh, batchBands, batchId))
        writeAppend(spark, shDir, batchId, batchSh)
        writeAppend(spark, bandsDir, batchId, batchBands)
      } finally {
        batchSh.unpersist()
        batchBands.unpersist()
        ()
      }
    }
  }

  /** Incremental read of the verified-pairs output ([[appendChanges]]) —
    * the feed the cluster maintainer consumes.
    */
  def ingestPairsChanges(spark: SparkSession, pairsOutDir: String,
      fromExclusive: Long, toInclusive: Long): DataFrame =
    appendChanges(spark, pairsOutDir, ingestPairsSchema,
      fromExclusive, toInclusive)

  // ======================================================================
  // INCREMENTAL CLUSTER MAINTENANCE — near-dup clusters with STABLE
  // min-id labels, maintained per micro-batch as an incremental consumer
  // of the verified-pairs table, WITHOUT re-running connected components
  // over the corpus. Two append tables on the generation log:
  //   members:   (doc_id, cluster_id) — one row per ingested doc, written
  //              once at its arrival batch with the label resolved at
  //              that moment;
  //   redirects: (old_id, new_id)     — a LAZY RELABEL edge appended when
  //              a later batch merges two existing clusters: the losing
  //              representative points at the winner (always the smaller
  //              id, so the fully-resolved label is the component MINIMUM
  //              — exactly the batch `dedup_clusters` labeling, which is
  //              what makes incremental ≡ rebuild checkable).
  // Serving resolves members through the redirect closure (pointer
  // jumping over the SMALL redirect map — one row per merge event, never
  // per doc); compaction folds the closure into members and empties the
  // redirect table, exactly a union-find's path compression run offline.
  // At 100 TB: a batch's fold touches the pair ENDPOINTS' labels (point
  // equi-joins) plus a connected-components run over the batch's
  // REP-graph (edges = merges this batch proposes), never the corpus.
  // ======================================================================

  private val clusterMembersSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("cluster_id", LongType)))

  private val clusterRedirectsSchema = StructType(Seq(
    StructField("old_id", LongType),
    StructField("new_id", LongType)))

  def clusterMembersRead(spark: SparkSession, clusterDir: String): DataFrame =
    appendRead(spark, s"$clusterDir/members", clusterMembersSchema)

  def clusterRedirectsRead(spark: SparkSession, clusterDir: String): DataFrame =
    appendRead(spark, s"$clusterDir/redirects", clusterRedirectsSchema)

  /** The redirect map resolved to its FIXPOINT (old_id → final id) by
    * pointer jumping: each round substitutes targets that are themselves
    * redirected, roughly halving every chain, so rounds ~ log₂(longest
    * chain) — and chains are bounded by batches-since-compaction (each
    * merge event appends one hop; compaction collapses all of them).
    * The map is one row per MERGE EVENT — at most #docs−1 ever, in
    * practice tiny next to the corpus — so the self-join is small no
    * matter the data scale. Convergence = no target is still a source
    * (the fixpoint invariant serving relies on: re-applying a resolved
    * map is a no-op because final labels never appear as old ids).
    */
  private[graft] def resolvedRedirects(spark: SparkSession,
      clusterDir: String): DataFrame =
    resolveClosure(clusterRedirectsRead(spark, clusterDir))

  private def resolveClosure(redirects: DataFrame): DataFrame = {
    var m = redirects.localCheckpoint(eager = true)
    var unresolved = !m.alias("a").join(m.alias("b"),
      col("a.new_id") === col("b.old_id"), "left_semi").isEmpty
    while (unresolved) {
      m = m.alias("a").join(m.alias("b"),
          col("a.new_id") === col("b.old_id"), "left")
        .select(col("a.old_id"),
          coalesce(col("b.new_id"), col("a.new_id")).alias("new_id"))
        .localCheckpoint(eager = true)
      unresolved = !m.alias("a").join(m.alias("b"),
        col("a.new_id") === col("b.old_id"), "left_semi").isEmpty
    }
    m
  }

  /** Members relabeled through a resolved redirect map — the ONE
    * serving join, shared by live and as-of serving and by compaction.
    */
  private def relabeled(members: DataFrame, resolved: DataFrame): DataFrame =
    members.alias("m")
      .join(resolved.alias("r"), col("m.cluster_id") === col("r.old_id"), "left")
      .select(col("m.doc_id"),
        coalesce(col("r.new_id"), col("m.cluster_id")).alias("cluster_id"))

  /** The SERVED cluster assignment: members resolved through the
    * redirect closure — every doc's CURRENT component-minimum label.
    */
  def clusterStateServe(spark: SparkSession, clusterDir: String): DataFrame =
    relabeled(clusterMembersRead(spark, clusterDir),
      resolvedRedirects(spark, clusterDir))

  /** TIME-TRAVELED cluster serving: members AND redirects read as of
    * the SAME batch (the fold writes them as one unit per batch, so equal
    * as-of bounds ARE the consistent cross-table snapshot), resolved
    * through the closure the redirect rows up to that batch form. What
    * the cluster assignment WAS when batch `asOfBatch` committed — the
    * reproducibility read a training run pins its dedup decisions to.
    */
  def clusterStateServeAsOf(spark: SparkSession, clusterDir: String,
      asOfBatch: Long): DataFrame =
    relabeled(
      appendRead(spark, s"$clusterDir/members", clusterMembersSchema, Some(asOfBatch)),
      resolveClosure(appendRead(spark, s"$clusterDir/redirects",
        clusterRedirectsSchema, Some(asOfBatch))))

  /** One cluster-maintenance micro-batch: `batchDocs` are the batch's
    * doc ids, `batchPairs` the verified near-dup pairs the SAME batch's
    * MinHash probe emitted ([[ingestPairsChanges]] of exactly this
    * batch — the maintainer is an incremental consumer of the pairs
    * table). The fold:
    *   1. resolve the pair endpoints' labels as of the previous batch
    *      (point lookups into members + the redirect closure; a batch doc
    *      defaults to itself);
    *   2. run connected components over the REP graph those pairs
    *      induce (edges between current representatives — the merge
    *      proposals, a graph sized by this batch's pair set);
    *   3. append members rows for the batch's docs with their resolved
    *      final label, and ONE redirect row for every existing
    *      representative the merge dethroned.
    * Idempotence: members then redirects, and the redirects generation
    * commits the batch ([[appendFoldPending]]); a replay re-folds from
    * the state as of the previous batch, which is deterministic, so the
    * rewrite is byte-stable.
    */
  def clusterFoldBatch(spark: SparkSession, clusterDir: String,
      batchDocs: DataFrame, batchPairs: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val (membersDir, redirectsDir) = (s"$clusterDir/members", s"$clusterDir/redirects")
    if (appendFoldPending(spark, batchId, membersDir, redirectsDir)) {
      val ids = batchDocs.select(col("doc_id")).distinct()
        .localCheckpoint(eager = true)
      val pairs = batchPairs.select(col("doc_a"), col("doc_b")).distinct()
        .localCheckpoint(eager = true)
      val cur = clusterStateServeAsOf(spark, clusterDir, batchId - 1)
      val endpoints = pairs.select(col("doc_a").alias("doc_id"))
        .union(pairs.select(col("doc_b").alias("doc_id"))).distinct()
      // current representative per endpoint: stored label for history
      // docs, self for this batch's docs (not yet members)
      val reps = endpoints.alias("e")
        .join(cur.alias("c"), col("e.doc_id") === col("c.doc_id"), "left")
        .select(col("e.doc_id"),
          coalesce(col("c.cluster_id"), col("e.doc_id")).alias("rep"))
      // edges between CURRENT representatives only — a batch doc is its
      // own rep, so it enters the graph through its own pairs, and a
      // history doc's label updates through its rep's redirect, never
      // through a doc-keyed edge (a doc-keyed redirect would let one
      // old_id appear twice in the map and break the fixpoint
      // invariant resolution relies on)
      val repEdges = pairs
        .join(reps.select(col("doc_id").alias("doc_a"), col("rep").alias("rep_a")),
          Seq("doc_a"))
        .join(reps.select(col("doc_id").alias("doc_b"), col("rep").alias("rep_b")),
          Seq("doc_b"))
        .select(col("rep_a"), col("rep_b"))
        .filter(col("rep_a") =!= col("rep_b")).distinct()
      val edges = Dedup.undirectedEdges(repEdges, "rep_a", "rep_b")
      val (labels, _) = Dedup.connectedComponents(edges)
      val finalLabels = labels
        .select(col("node").alias("doc_id"), col("label"))
        .localCheckpoint(eager = true)
      // members: every batch doc, labeled by its component minimum (or
      // itself when unpaired)
      val newMembers = ids.alias("i")
        .join(finalLabels.alias("l"), col("i.doc_id") === col("l.doc_id"), "left")
        .select(col("i.doc_id"),
          coalesce(col("label"), col("i.doc_id")).alias("cluster_id"))
      // redirects: an EXISTING representative (a label some member row
      // points at — i.e. not one of this batch's docs) that lost
      val newRedirects = finalLabels
        .join(ids, Seq("doc_id"), "left_anti")
        .filter(col("doc_id") =!= col("label"))
        .select(col("doc_id").alias("old_id"), col("label").alias("new_id"))
      writeAppend(spark, membersDir, batchId, newMembers)
      writeAppend(spark, redirectsDir, batchId, newRedirects)
    }
  }

  /** OFFLINE PATH COMPRESSION: fold the redirect closure into the
    * members table (a rewrite) and empty the redirect table — serving
    * labels are byte-identical before and after (spec'd), redirect
    * chains reset to zero length. Quiesced-writers contract as every
    * compaction. Crash between the two rewrites is safe: re-applying the
    * already-folded redirects to resolved members matches nothing (the
    * fixpoint invariant — final labels never appear as old ids).
    */
  def compactClusterState(spark: SparkSession, clusterDir: String): Unit = {
    val r = resolvedRedirects(spark, clusterDir)
    val redirectsDir = s"$clusterDir/redirects"
    rewriteAppendTable(spark, s"$clusterDir/members", clusterMembersSchema,
      redirectsDir)(relabeled(_, r))
    rewriteAppendTable(spark, redirectsDir, clusterRedirectsSchema,
      redirectsDir)(_.filter(lit(false)))
  }

  /** RIGHT-TO-BE-FORGOTTEN through the cluster state. Removing a doc
    * can change its component's minimum (the victim WAS the label) and
    * can SPLIT the component (the victim was the only bridge) — neither
    * is expressible as a redirect, so erasure recomputes exactly the
    * AFFECTED components from the surviving pair evidence and rewrites
    * the result in (an erasing rewrite — the older generations hold the
    * forgotten rows). Self-contained against erasure ordering: the pair
    * feed is filtered to both-endpoints-surviving here, so it is
    * correct whether or not [[forgetDocsFromMinhashIndex]]'s pair-table
    * erasure ran first. Unaffected clusters' rows are carried through
    * untouched (resolved — the erasure doubles as compaction).
    */
  def forgetDocsFromClusterState(spark: SparkSession, clusterDir: String,
      pairsOutDir: String, forgetIds: DataFrame): Unit = {
    import graft.operators.Dedup
    val victims = forgetIds.select(col("doc_id")).distinct()
      .localCheckpoint(eager = true)
    val cur = clusterStateServe(spark, clusterDir)
      .localCheckpoint(eager = true)
    val affected = cur.join(victims, Seq("doc_id"))
      .select(col("cluster_id")).distinct()
      .localCheckpoint(eager = true)
    val survivorsOfAffected = cur.join(affected, Seq("cluster_id"))
      .join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    // pair evidence counts only between LIVE members: this batch's
    // victims are excluded, and so are pairs still naming docs a PRIOR
    // erasure removed (the pairs table's own erasure is the MinHash
    // tier's job and may run before or after this one — membership,
    // not the pair table, is authoritative for who exists)
    val liveDocs = cur.join(victims, Seq("doc_id"), "left_anti")
      .select(col("doc_id"))
    val pairs = ingestPairsRead(spark, pairsOutDir)
      .select(col("doc_a"), col("doc_b"))
      .join(liveDocs.select(col("doc_id").alias("doc_a")), Seq("doc_a"), "left_semi")
      .join(liveDocs.select(col("doc_id").alias("doc_b")), Seq("doc_b"), "left_semi")
      .join(survivorsOfAffected.select(col("doc_id").alias("doc_a")), Seq("doc_a"),
        "left_semi")
    val (labels, _) = Dedup.connectedComponents(
      Dedup.undirectedEdges(pairs, "doc_a", "doc_b"))
    val recomputed = survivorsOfAffected.alias("s")
      .join(labels.alias("l"), col("s.doc_id") === col("l.node"), "left")
      .select(col("s.doc_id"),
        coalesce(col("label"), col("s.doc_id")).alias("cluster_id"))
      .localCheckpoint(eager = true)
    val redirectsDir = s"$clusterDir/redirects"
    rewriteAppendTable(spark, s"$clusterDir/members", clusterMembersSchema,
        redirectsDir, erase = true) { m =>
      relabeled(m, resolvedRedirects(spark, clusterDir))
        .join(affected, Seq("cluster_id"), "left_anti")
        .join(victims, Seq("doc_id"), "left_anti")
        .unionByName(recomputed)
    }
    rewriteAppendTable(spark, redirectsDir, clusterRedirectsSchema,
      redirectsDir, erase = true)(_.filter(lit(false)))
  }

  /** INGESTION-TIME NEAR-DUP CLUSTERING via `foreachBatch`: each
    * micro-batch runs the stored-index MinHash pair probe
    * ([[minhashIngestFoldBatch]]) and folds the emitted pairs into the
    * maintained cluster state ([[clusterFoldBatch]] consuming
    * [[ingestPairsChanges]] of exactly this batch). StreamingSpec pins
    * streamed-over-batches ≡ the batch `dedup_clusters`, restart
    * no-op, compaction transparency, and erasure.
    */
  def clusterIngestDedup(docsStream: DataFrame, historyDocs: DataFrame,
      pairsOutDir: String, indexDir: String, clusterDir: String,
      checkpointDir: Option[String] = None,
      autoCompactAfter: Option[Int] = None,
      expireKeepSnapshots: Option[Int] = None): StreamingQuery = {
    val spark = docsStream.sparkSession
    minhashIndexSeed(spark, indexDir, historyDocs)
    maintenanceWriter(docsStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        minhashIngestFoldBatch(spark, pairsOutDir, indexDir,
          batch.toDF(), batchId)
        clusterFoldBatch(spark, clusterDir, batch.toDF().select(col("doc_id")),
          ingestPairsChanges(spark, pairsOutDir, batchId - 1, batchId), batchId)
        maintainAppendTables(spark, s"$indexDir/bands", autoCompactAfter,
          expireKeepSnapshots)(s"$indexDir/shingles" -> ingestShinglesSchema,
          s"$indexDir/bands" -> ingestBandsSchema, pairsOutDir -> ingestPairsSchema)
        // cluster auto-compaction moves BOTH tables as one unit (path
        // compression is only valid against the closure it folded)
        autoCompactAfter.foreach { k =>
          if (crowded(spark, s"$clusterDir/members", k))
            compactClusterState(spark, clusterDir)
        }
        maintainAppendTables(spark, s"$clusterDir/redirects", None,
          expireKeepSnapshots)(s"$clusterDir/members" -> clusterMembersSchema,
          s"$clusterDir/redirects" -> clusterRedirectsSchema)
      }
      .start()
  }

  private val curationOutSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("text_redacted_md5", StringType)))

  private val curationFunnelSchema = StructType(Seq(
    StructField("batch_id", LongType),
    StructField("n_docs", LongType),
    StructField("n_benchmark", LongType),
    StructField("n_dedup_removed", LongType),
    StructField("n_contaminated_exact", LongType),
    StructField("n_quality_fail", LongType),
    StructField("n_final", LongType)))

  /** The streamed curation pipeline's survivor table and per-batch
    * funnel deltas (the read side of [[curationIngestStream]]).
    */
  def curationStreamRead(spark: SparkSession, outDir: String): DataFrame =
    appendRead(spark, outDir, curationOutSchema)

  def curationFunnelRead(spark: SparkSession, funnelDir: String): DataFrame =
    appendRead(spark, funnelDir, curationFunnelSchema)

  /** One curation-ingestion micro-batch — the exact `foreachBatch` body
    * of [[curationIngestStream]], opened to the registered
    * `docs_curation_streamed` gate so both consumers run ONE fold
    * spelling. Stages, in crawl order, all on the batch's own rows:
    * benchmark-source drop → near-dup probe against the STORED MinHash
    * band index ([[minhashProbeBatch]] — history and every earlier
    * batch; the later/greater doc of a verified pair is removed, the
    * batch `dedup_minhash_lsh` removal rule) → exact 13-gram
    * decontamination against the static benchmark hash set
    * ([[graft.operators.Curation.exactContamIdsOf]]) → per-doc Gopher
    * repetition gate ([[graft.operators.Curation.repetitionKeepOf]]) →
    * the shared HTML-clean + PII-redact output map
    * ([[graft.operators.Curation.redactedSurvivorOutput]]). Emits the
    * per-batch survivor generation plus a one-row funnel DELTA, and folds
    * the batch's shingles/bands into the index for the next batch.
    *
    * The corpus-statistic stages of the BATCH pipeline (rare-bigram
    * gate, ratio/semantic decon) are deliberately absent: they read
    * corpus-global state and belong to the nightly batch pass — this is
    * the per-arrival subset a crawl ingests with, and the parity gate
    * holds exactly for this stage set when batches arrive in doc-id
    * order (streamed ≡ the same composition run once over the union).
    * The doc-id-monotone caveat is load-bearing, same as
    * [[chunkIngestFoldBatch]]'s: the minhash removal rule drops the
    * GREATER doc of a verified pair, and a greater doc that arrived in
    * an earlier batch was already emitted and cannot be retracted — a
    * deployment whose arrival order is not id-monotone keeps the
    * near-dup guarantee only one-directionally (no batch re-admits a
    * dup of anything already stored) and reconciles retroactive
    * removals in the nightly batch pass.
    *
    * Commit shape: survivors first, funnel second, index tables last;
    * the bands generation commits all four writes — a crash anywhere
    * leaves the batch pending and the replay rewrites every table's
    * generation.
    *
    * 100 TB shape: every stage is batch-scale (narrow maps + the
    * band-key equi-join probe into the stored index) — the corpus is
    * never re-shingled, re-scored, or re-cleaned; the funnel delta is
    * the monitoring record each arrival appends.
    */
  def curationIngestFoldBatch(spark: SparkSession, outDir: String,
      funnelDir: String, indexDir: String, benchHashes: DataFrame,
      batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{Curation, Dedup}
    val shDir = s"$indexDir/shingles"
    val bandsDir = s"$indexDir/bands"
    if (appendFoldPending(spark, batchId, outDir, funnelDir, shDir, bandsDir)) {
      val b = batch.persist()
      val batchSh = Dedup.shingleDocs(b).persist()
      val batchBands = Dedup.bandIndex(batchSh).persist()
      try {
        val removals = minhashProbeBatch(spark, indexDir, batchSh, batchBands, batchId)
          .select(col("doc_b").alias("doc_id")).distinct()
        val contam = Curation.exactContamIdsOf(b, benchHashes)
        val keep = Curation.repetitionKeepOf(b)
          .filter(col("rep_keep")).select(col("doc_id"))
        // flags once, consumed by the survivor filter AND the funnel
        // delta — one probe pass per batch, not two
        val flagged = b.select(col("doc_id"), col("lang"), col("source"),
            col("n_chars"), col("text"),
            (col("source") === Curation.BenchmarkSource).alias("is_bench"))
          .join(removals.withColumn("is_dup", lit(true)), Seq("doc_id"), "left")
          .join(contam.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
          .join(keep.withColumn("q_keep", lit(true)), Seq("doc_id"), "left")
          .na.fill(false, Seq("is_dup", "is_contam", "q_keep"))
          .withColumn("kept",
            !col("is_bench") && !col("is_dup") && !col("is_contam") && col("q_keep"))
          .persist()
        try {
          writeAppend(spark, outDir, batchId,
            Curation.redactedSurvivorOutput(flagged.filter(col("kept"))))
          def n(c: org.apache.spark.sql.Column, a: String) =
            count(when(c, lit(1))).alias(a)
          writeAppend(spark, funnelDir, batchId, flagged.agg(
              count(lit(1)).alias("n_docs"),
              n(col("is_bench"), "n_benchmark"),
              n(col("is_dup"), "n_dedup_removed"),
              n(col("is_contam"), "n_contaminated_exact"),
              n(!col("q_keep"), "n_quality_fail"),
              n(col("kept"), "n_final"))
            .select(lit(batchId).alias("batch_id"), col("n_docs"),
              col("n_benchmark"), col("n_dedup_removed"),
              col("n_contaminated_exact"), col("n_quality_fail"), col("n_final")))
          writeAppend(spark, shDir, batchId, batchSh)
          writeAppend(spark, bandsDir, batchId, batchBands)
        } finally {
          flagged.unpersist()
          ()
        }
      } finally {
        b.unpersist()
        batchSh.unpersist()
        batchBands.unpersist()
        ()
      }
    }
  }

  /** INGESTION-TIME CURATION via `foreachBatch` — the streaming form of
    * `docs_curation_pipeline`'s per-arrival stage subset, the shape a
    * crawl pipeline actually executes per micro-batch (the r16-verdict
    * #2 ask): see [[curationIngestFoldBatch]] for the stages and commit
    * shape. `benchDocs` is the fixed held-out benchmark (static side
    * input, prepared once per stream); history documents seed the
    * MinHash band index so arrivals dedup against the existing corpus.
    * StreamingSpec pins streamed-over-two-batches ≡ the same composition
    * over the union, redelivery no-op, restart resume, and the funnel
    * deltas' additivity; the registered gate's oracle is the
    * from-scratch SQL over the same stage set.
    */
  def curationIngestStream(docsStream: DataFrame, historyDocs: DataFrame,
      benchDocs: DataFrame, outDir: String, funnelDir: String,
      indexDir: String, checkpointDir: Option[String] = None,
      autoCompactAfter: Option[Int] = None,
      expireKeepSnapshots: Option[Int] = None): StreamingQuery = {
    import graft.operators.Curation
    val spark = docsStream.sparkSession
    minhashIndexSeed(spark, indexDir, historyDocs)
    // static side input: computed once per stream, reused by every fold
    val benchHashes = Curation.benchHashes13Of(benchDocs)
      .transform(graft.CacheLifecycle.sessionPersist)
    maintenanceWriter(docsStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        curationIngestFoldBatch(spark, outDir, funnelDir, indexDir,
          benchHashes, batch.toDF(), batchId)
        maintainAppendTables(spark, s"$indexDir/bands", autoCompactAfter,
          expireKeepSnapshots)(s"$indexDir/shingles" -> ingestShinglesSchema,
          s"$indexDir/bands" -> ingestBandsSchema, outDir -> curationOutSchema,
          funnelDir -> curationFunnelSchema)
      }
      .start()
  }

  /** The common `foreachBatch` writer for every maintenance stream:
    * AvailableNow trigger, optional DURABLE checkpoint. The generation
    * commits alone guard REDELIVERY of an unchanged batchId↔files
    * mapping (Spark's retry-within-a-run, or a restart over the same
    * file set); they cannot guard a checkpoint-less restart that sees
    * NEW files, because the file source then re-batches everything and
    * an applied batchId may swallow never-processed files. Pass
    * `checkpointDir` for cross-restart exactly-once — the checkpoint
    * pins the batchId↔files mapping, and the generation commits close
    * the commit-vs-checkpoint race per batch.
    */
  private def maintenanceWriter(stream: DataFrame,
      checkpointDir: Option[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val w = stream.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
    checkpointDir.foreach(d => w.option("checkpointLocation", d))
    w
  }

  /** Bucket count of every versioned state table — small because the
    * fixtures are small; production sizes this to executor-heap-sized
    * bucket partitions (e.g. 4096 over a 100 TB state table), exactly
    * like [[graft.operators.Layout]]'s tables.
    */
  private[graft] val StateBuckets = 8

  /** The key → partition-bucket derivation every versioned state table
    * is laid out by: `pmod(hash(key), StateBuckets)`. Hash (not plain
    * mod) so sequential key ranges spread, and `hash()` takes any key
    * type (term-stats keys on a string). The bucket is a real partition
    * directory (`bucket=k/`), so a filter on it PRUNES at the file
    * listing — the mechanism that lets a micro-batch read and write only
    * the buckets it touches.
    */
  private def stateBucketOf(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hash(key), lit(StateBuckets))

  /** The sorted buckets `df`'s `keyCol` values hash into — a driver-side
    * collect bounded by [[StateBuckets]], never data-sized.
    */
  private def bucketsOf(df: DataFrame, keyCol: String): Seq[Int] =
    df.select(stateBucketOf(col(keyCol))).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  /** ONE VERSIONED LOG FOR EVERY MAINTAINED TABLE. A table is a log of
    * copy-on-write GENERATIONS under `<table>/state/`, and no file is
    * ever rewritten in place. Two table shapes share it:
    *
    *   `seed/`                  the seeded baseline (covers batch −1)
    *   KEYED tables — totals, term-stats, the SCD2 interval history (its
    *   append stream, as-of fold and corrections), the [[forgetKeys]] row
    *   state and the OLS sums — bucketed by key (`bucket=k/`):
    *   `g{batchId}/bucket=k/…`  a fold: only the buckets it touched
    *   `f{batchId}/bucket=k/…`  a forget: only the buckets it rewrote
    *   APPEND tables — the tf, positions, chunk, winnowing, MinHash,
    *   pHash, ANN and cluster indexes and the ingest output tables — as
    *   whole-table generations:
    *   `a{batchId}/…`           one batch's rows, appended
    *   `r{v}_{t}/…`             rewrite number `v` (compaction or
    *                            erasure) of everything through batch `t`
    *
    * ONE serving rule ([[servingOf]]), per bucket (an append table is
    * one bucket): the newest REPLACING generation covering at most the
    * read's batch — keyed generations ordered by batch id, rewrites by
    * the sequence the log assigns them — plus every APPEND generation
    * above the batch it covers. The live read takes the newest overall,
    * an as-of read the newest with `batch <= asOf`. Untouched buckets
    * are never copied (their generation keeps serving, byte-identical
    * across any number of commits — spec'd), so time travel costs one
    * generation per TOUCHED bucket per batch. "What did the state look
    * like before tonight's batch" — the question an in-place MERGE
    * destroys — becomes a listing filter.
    *
    * A generation's root `_SUCCESS` is both its commit and the batch's
    * replay evidence: a crashed write leaves an uncommitted dir every
    * reader ignores and the replay overwrites wholesale. Keyed changes go
    * through [[versionedFold]] and [[versionedForget]], append tables
    * through [[appendFoldPending]] / [[writeAppend]] and one rewrite body
    * ([[rewriteAppendTable]]); every fold reads the stored state AS OF
    * the previous batch, so its own crashed leftovers are never probed
    * as history. Every change that can REMOVE rows (a forget, an erasing
    * rewrite) then expires the history below itself
    * ([[expireVersionedGenerations]]): a removal is only complete once
    * no older version can serve it. This is a table format's
    * snapshot-per-commit contract (Delta Lake, Armbrust et al., VLDB
    * 2020).
    *
    * Resolution cost: one listing plus one `_SUCCESS` probe per
    * generation (bounded by retention) — driver-side and metadata-sized,
    * cut to one listing plus one file read by the manifest
    * ([[writeVersionedManifest]]).
    */
  private def versionedStatePath(stateDir: String): String = s"$stateDir/state"

  /** Batch-keyed generations: keyed folds and forgets, batch appends. */
  private val versionedGenName = "([gfa])(\\d+)".r

  /** Append-table rewrites: log sequence `v`, covering batches through `t`. */
  private val rewriteGenName = "r(\\d+)_(-?\\d+)".r

  /** A rewrite writer's claim on log sequence `v` ([[rewriteAppendTable]]). */
  private val rewriteClaimName = "_rewrite_(\\d+)".r

  /** The batch a generation covers through; the seed precedes every
    * batch (−1).
    */
  private def genId(gen: String): Long = gen match {
    case versionedGenName(_, id) => id.toLong
    case rewriteGenName(_, through) => through.toLong
    case _ => -1L
  }

  /** Log order among replacing generations: batch id, or a rewrite's
    * sequence (the seed precedes both).
    */
  private def genOrder(gen: String): (Long, String) = gen match {
    case rewriteGenName(v, _) => (v.toLong, gen)
    case _ => (genId(gen), gen)
  }

  private def isAppendGen(gen: String): Boolean = gen.startsWith("a")

  private def isBaseGen(gen: String): Boolean = gen match {
    case "seed" | rewriteGenName(_, _) => true
    case _ => false
  }

  /** The pseudo-bucket of a whole-table generation. */
  private val WholeTable = -1

  /** Committed generation dirs of a table, in log order. A table dir
    * with none is checked for the retired published-tree layout
    * ([[requireNoTrees]]), so such a dir is refused by name rather than
    * read as an empty or unseeded table.
    */
  private def versionedCommittedGens(spark: SparkSession,
      stateDir: String): Seq[String] =
    committedGensOf(spark, stateDir,
      StateFs.list(spark, versionedStatePath(stateDir)))

  /** [[versionedCommittedGens]] over an existing listing `names` of the
    * table's `state/` dir.
    */
  private def committedGensOf(spark: SparkSession, stateDir: String,
      names: Seq[String]): Seq[String] = {
    val base = versionedStatePath(stateDir)
    val gens = names
      .filter { case "seed" | versionedGenName(_, _) | rewriteGenName(_, _) => true
                case _ => false }
      .filter(g => StateFs.exists(spark, s"$base/$g/_SUCCESS"))
      .sortBy(genOrder)
    if (gens.isEmpty) requireNoTrees(spark, stateDir)
    gens
  }

  /** The one guard against the retired published-tree layout: a table
    * dir holding its numbered `t{n}` tree dirs fails naming the dir —
    * never served as an empty table beside state the log cannot see.
    */
  private def requireNoTrees(spark: SparkSession, dir: String): Unit = {
    val trees = StateFs.list(spark, dir).filter(_.matches("t\\d+"))
    require(trees.isEmpty,
      s"$dir holds published-tree entries (${trees.mkString(", ")}) of the " +
        "retired snapshot-pointer layout — refusing to read them as an empty " +
        "table. Re-seed the table into a fresh dir")
  }

  private def versionedGenPath(stateDir: String, gen: String): String =
    s"${versionedStatePath(stateDir)}/$gen"

  /** The bucket partitions one generation dir holds, ascending; an
    * append or rewrite generation, and a seed without bucket partitions,
    * is one [[WholeTable]] bucket.
    */
  private def genBuckets(spark: SparkSession, stateDir: String,
      gen: String): Seq[Int] = gen match {
    case versionedGenName("a", _) | rewriteGenName(_, _) => Seq(WholeTable)
    case _ =>
      val buckets = StateFs.list(spark, versionedGenPath(stateDir, gen))
        .collect { case s if s.startsWith("bucket=") => s.drop(7).toInt }.sorted
      if (buckets.isEmpty && gen == "seed") Seq(WholeTable) else buckets
  }

  private val expiredThroughName = "_expired_through_(-?\\d+)".r

  /** The retention horizon recorded by [[expireVersionedGenerations]]
    * (name-encoded: a content-bearing record could tear). As-of reads
    * strictly below it fail loudly: the generations that window needed
    * were expired. Long.MinValue = nothing expired.
    */
  private[graft] def versionedExpiredThrough(spark: SparkSession,
      stateDir: String): Long =
    expiredThroughOf(StateFs.list(spark, versionedStatePath(stateDir)))

  private def expiredThroughOf(names: Seq[String]): Long =
    names.collect { case expiredThroughName(v) => v.toLong }
      .reduceOption(_ max _).getOrElse(Long.MinValue)

  /** THE serving rule of the log, over a (generation → buckets)
    * inventory — ONE resolution for the listing-derived and
    * manifest-derived paths, keyed and append tables alike. Per bucket:
    * the newest replacing generation ([[genOrder]]) covering at most
    * `asOf`, plus every append generation above the batch it covers and
    * at most `asOf`.
    */
  private def servingOf(gens: Seq[(String, Seq[Int])],
      asOf: Option[Long]): Map[String, Seq[Int]] = {
    val bound = asOf.getOrElse(Long.MaxValue)
    gens.flatMap { case (g, bs) => bs.map(_ -> g) }.groupBy(_._1).toSeq
      .flatMap { case (b, held) =>
        val (appends, replacing) = held.map(_._2).partition(isAppendGen)
        val base = replacing.filter(genId(_) <= bound).sortBy(genOrder).lastOption
        val from = base.fold(Long.MinValue)(genId)
        (base.toSeq ++ appends.filter(a => genId(a) > from && genId(a) <= bound))
          .map(_ -> b)
      }
      .groupBy(_._1).map { case (g, bs) => g -> bs.map(_._2).sorted }
  }

  private def requireAboveHorizon(asOf: Option[Long], horizon: Long,
      stateDir: String): Unit =
    asOf.foreach { bound =>
      require(bound >= horizon,
        s"as-of batch $bound predates the retention horizon $horizon of " +
          s"$stateDir — no retained snapshot covers it: the generations that " +
          "window needed were expired (expireVersionedGenerations). Rebuild " +
          "from raw history; refusing to serve a silently-partial view")
    }

  /** Per-bucket serving map as of `asOf` (None = live), from the
    * AUTHORITATIVE listings — the metadata cost the manifest exists to
    * bound. A keyed (`seeded`) state dir with no committed generation and
    * no expiry horizon is missing or was never seeded, and fails naming
    * `stateDir` — an empty serving map there would read as a silently
    * empty table. A seed of zero rows still commits `seed/_SUCCESS`, and
    * a table an erasure emptied keeps its `_expired_through_` marker, so
    * both read as empty. An append table that was never written (an
    * output table before its first batch) reads empty.
    */
  private def versionedServingGens(spark: SparkSession, stateDir: String,
      asOf: Option[Long], seeded: Boolean): Map[String, Seq[Int]] = {
    val horizon = versionedExpiredThrough(spark, stateDir)
    requireAboveHorizon(asOf, horizon, stateDir)
    val committed = versionedCommittedGens(spark, stateDir)
    require(committed.nonEmpty || horizon > Long.MinValue || !seeded,
      s"no committed versioned state under $stateDir: neither " +
        "state/seed/_SUCCESS nor a committed state/g<batchId> generation " +
        "exists — seed it first (seedVersionedState)")
    servingOf(committed.map(g => g -> genBuckets(spark, stateDir, g)), asOf)
  }

  /** MANIFEST OF THE LOG — `state/_vmanifest_<seq>` records the
    * retention horizon plus every committed generation with its bucket
    * list (`#end`-terminated, seq-numbered supersede-don't-overwrite), so
    * a read resolves its serving map from ONE listing + ONE file read
    * instead of one probe PER generation. A seed or keyed fold is
    * recorded by its batch id (−1 = the seed), every other generation by
    * its dir name (`f{k}`, `a{k}`, `r{v}_{t}`); a whole-table generation
    * lists the one [[WholeTable]] bucket.
    *
    * CACHE semantics with a structural heal: the manifest is written
    * from the authoritative listings after every seed, fold, append,
    * forget, rewrite and expiry. The one crash window — a generation's
    * `_SUCCESS` landed, the manifest write didn't — cannot go
    * stale-forever even though the generation dir doubles as the batch's
    * idempotence marker: the replayed fold or forget SKIPS on the commit
    * but first checks the manifest covers its generation and rewrites it
    * when it doesn't (and any LATER commit rewrites it wholesale). Until
    * healed, manifest readers serve the consistent PRE-batch snapshot.
    * Readers fall back to the listings when the manifest is absent,
    * torn, or points at an expired generation (the read throws at
    * file-index construction and retries — never a partial view, and a
    * fallback that finds nothing left to serve rethrows rather than
    * serve an empty table); a too-low recorded horizon converges the
    * same way (phantom paths → listing path → its own loud horizon
    * check).
    */
  private val vManifestName = "_vmanifest_(\\d+)".r

  private def manifestToken(gen: String): String = gen match {
    case "seed" | versionedGenName("g", _) => genId(gen).toString
    case _ => gen
  }

  private def genOfToken(token: String): String = token match {
    case versionedGenName(_, _) | rewriteGenName(_, _) => token
    case _ => if (token.toLong == -1L) "seed" else s"g${token.toLong}"
  }

  private[graft] def writeVersionedManifest(spark: SparkSession,
      stateDir: String): Unit = {
    // ONE listing of `state/` yields the generations, the next manifest
    // sequence and the horizon
    val base = versionedStatePath(stateDir)
    val names = StateFs.list(spark, base)
    val entries = committedGensOf(spark, stateDir, names).map { g =>
      s"${manifestToken(g)} ${genBuckets(spark, stateDir, g).mkString(",")}"
    }
    val seq = names.collect { case vManifestName(n) => n.toLong }
      .reduceOption(_ max _).getOrElse(0L) + 1
    StateFs.writeFile(spark, s"$base/_vmanifest_$seq",
      (s"horizon ${expiredThroughOf(names)}" +: entries :+ "#end").mkString("\n"))
    names.collect { case m @ vManifestName(n) if n.toLong < seq => m }
      .foreach(m => StateFs.deleteFile(spark, s"$base/$m"))
  }

  /** (horizon, generation inventory) from the newest well-formed
    * manifest; None → fall back to listings.
    *
    * The served horizon is max(manifest-recorded horizon, the
    * `_expired_through_` marker) — the marker is written BEFORE any
    * deletion ([[expireVersionedGenerations]]) and its name rides the
    * SAME listing this read already performs, so the max costs nothing
    * and closes the one crash window a recorded horizon alone leaves
    * open: expiry writes the marker, deletes per-bucket generation
    * dirs, and crashes (or races a reader) before the manifest rewrite.
    * A stale manifest then still records the OLD lower horizon, and an
    * as-of read in [oldHorizon, newHorizon) would pass the horizon
    * check yet resolve a bucket to a generation whose bucket partition
    * was deleted while the generation dir survives (retained for other
    * buckets) — the parquet read succeeds, the bucket filter returns
    * zero rows, and the read serves a silently-partial view with no
    * exception to trigger the listing fallback. With the marker maxed
    * in, that window fails loudly at [[requireAboveHorizon]] instead.
    */
  private def versionedManifestOpt(spark: SparkSession,
      stateDir: String): Option[(Long, Seq[(String, Seq[Int])])] = {
    val base = versionedStatePath(stateDir)
    val names = StateFs.list(spark, base)
    val markerHorizon = names
      .collect { case expiredThroughName(v) => v.toLong }
      .reduceOption(_ max _).getOrElse(Long.MinValue)
    names.collect { case vManifestName(n) => n.toLong }
      .sorted.reverseIterator
      .flatMap { n =>
        StateFs.readFileOpt(spark, s"$base/_vmanifest_$n").flatMap { body =>
          val lines = body.split("\n").toSeq.map(_.trim).filter(_.nonEmpty)
          if (!lines.lastOption.contains("#end") || lines.size < 1 ||
              !lines.head.startsWith("horizon ")) None
          else try {
            val horizon = lines.head.drop(8).toLong
            val gens = lines.drop(1).dropRight(1).map { e =>
              val parts = e.split(" ", 2)
              genOfToken(parts(0)) -> (if (parts.length < 2 || parts(1).isEmpty) Seq.empty[Int]
                else parts(1).split(",").toSeq.map(_.toInt))
            }
            Some((math.max(horizon, markerHorizon), gens))
          } catch { case _: NumberFormatException => None }
        }
      }.nextOption()
  }

  /** Read a table of the log as of `asOf` (None = live). Whole-table
    * serving generations are ONE multi-path parquet scan (an append
    * table's seed or rewrite plus its appends — the probe every fold
    * runs per batch); each bucketed generation is one partition-pruned
    * read of exactly the buckets it serves, unioned. Serving resolution
    * is manifest-first with listing fallback (see
    * [[writeVersionedManifest]]; a manifest listing no generation defers
    * to the listings); the loud below-horizon failure propagates from
    * EITHER path, the unseeded-state failure from the listings
    * ([[versionedServingGens]]).
    */
  private def versionedStateRead(spark: SparkSession, stateDir: String,
      schema: StructType, asOf: Option[Long], seeded: Boolean = true): DataFrame = {
    def build(serving: Map[String, Seq[Int]]): DataFrame = {
      val (whole, bucketed) = serving.toSeq.sortBy(s => genOrder(s._1))
        .partition(_._2 == Seq(WholeTable))
      val scans = Seq(whole.map(w => versionedGenPath(stateDir, w._1)))
        .filter(_.nonEmpty).map(paths => spark.read.schema(schema).parquet(paths: _*)) ++
        bucketed.map { case (g, buckets) =>
          spark.read.schema(schema).parquet(versionedGenPath(stateDir, g))
            .filter(col("bucket").isin(buckets.map(Integer.valueOf): _*))
        }
      scans.reduceOption(_.unionByName(_)).getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema))
    }
    versionedManifestOpt(spark, stateDir) match {
      case Some((horizon, gens)) if gens.nonEmpty =>
        requireAboveHorizon(asOf, horizon, stateDir)
        try build(servingOf(gens, asOf))
        catch {
          case e: org.apache.spark.sql.AnalysisException =>
            val listed = versionedServingGens(spark, stateDir, asOf, seeded)
            if (listed.isEmpty) throw e
            build(listed)
        }
      case _ =>
        build(versionedServingGens(spark, stateDir, asOf, seeded))
    }
  }

  /** Any versioned state table, live and reader-shaped: `schema` is the
    * stored schema (the table's columns plus `bucket`, e.g.
    * [[scd2VersionedSchema]]), and the `bucket` column is dropped.
    */
  def versionedRead(spark: SparkSession, stateDir: String,
      schema: StructType): DataFrame =
    versionedStateRead(spark, stateDir, schema, None).drop("bucket")

  /** Seed the versioned state's baseline generation (`state/seed`)
    * unless COMMIT evidence exists — `_SUCCESS`, not bare dir existence:
    * a crash mid-seed leaves a partial dir a bare-existence check would
    * serve or fold onto forever; the re-seed overwrite is idempotent.
    */
  private[graft] def seedVersionedState(initial: DataFrame, keyCol: String,
      stateDir: String): Unit = {
    val seedPath = versionedGenPath(stateDir, "seed")
    if (!StateFs.exists(initial.sparkSession, s"$seedPath/_SUCCESS")) {
      Writes.of(initial.withColumn("bucket", stateBucketOf(col(keyCol)))
          .repartition(col("bucket")))
        .mode("overwrite").partitionBy("bucket").parquet(seedPath)
      writeVersionedManifest(initial.sparkSession, stateDir)
    }
  }

  /** Heal the manifest when a replayed fold or forget skips on its
    * committed generation — the commit/manifest crash window's
    * structural fix (see [[writeVersionedManifest]]). A table with no
    * manifest at all is listing-served and needs no heal.
    */
  private def healVersionedManifest(spark: SparkSession, stateDir: String,
      gen: String): Unit =
    versionedManifestOpt(spark, stateDir) match {
      case Some((_, gens)) if !gens.exists(_._1 == gen) =>
        writeVersionedManifest(spark, stateDir)
      case _ => ()
    }

  /** Write generation `gen` of a versioned table: read ONLY the
    * `touched` buckets' serving generations as of the batch before
    * `gen` (partition-pruned — a replay must not resolve its own
    * uncommitted or half-replayed generation), `merge` the reader-shaped
    * rows, and write the result bucketed by `keyCol` into the fresh
    * generation dir. Copy-on-write: the plan never reads its write
    * target (no materialization needed), and a torn commit is
    * unobservable (readers require the generation's `_SUCCESS`; the
    * replay overwrites the torn dir wholesale). `merge` must only yield
    * keys of the touched buckets — every key a batch changes hashes into
    * one, and each key's whole history lives in its bucket, so the
    * untouched buckets are exactly the keys a full-table merge would
    * carry unchanged.
    */
  private def writeGeneration(spark: SparkSession, stateDir: String,
      schema: StructType, keyCol: String, gen: String, touched: Seq[Int])(
      merge: DataFrame => DataFrame): Unit = {
    val current = versionedStateRead(spark, stateDir, schema, Some(genId(gen) - 1))
      .filter(col("bucket").isin(touched.map(Integer.valueOf): _*))
      .drop("bucket")
    Writes.of(merge(current)
        .withColumn("bucket", stateBucketOf(col(keyCol)))
        .repartition(col("bucket")))
      .mode("overwrite").partitionBy("bucket")
      .parquet(versionedGenPath(stateDir, gen))
    writeVersionedManifest(spark, stateDir)
  }

  /** THE FOLD of every versioned table: batch `batchId` becomes
    * generation `g{batchId}`, holding only the `touched` buckets (see
    * [[writeGeneration]]). Skips on the generation's commit, healing the
    * manifest; `touched` is only evaluated when the batch still has to
    * run, and a batch touching no bucket writes nothing.
    */
  private def versionedFold(spark: SparkSession, stateDir: String,
      schema: StructType, keyCol: String, batchId: Long, touched: => Seq[Int])(
      merge: DataFrame => DataFrame): Unit = {
    require(batchId >= 0, s"versioned fold batchId must be >= 0, got $batchId")
    val gen = s"g$batchId"
    if (StateFs.exists(spark, s"${versionedGenPath(stateDir, gen)}/_SUCCESS"))
      healVersionedManifest(spark, stateDir, gen)
    else {
      val buckets = touched
      if (buckets.nonEmpty)
        writeGeneration(spark, stateDir, schema, keyCol, gen, buckets)(merge)
    }
  }

  /** THE FORGET of every versioned table — every change that can REMOVE
    * keys (erasure, retraction), because a generation log RETAINS the
    * removed rows by design. Three steps:
    *
    *  1. write generation `f{batchId}` like a fold: the `touched`
    *     buckets, merged as of the batch before (a key whose rows all
    *     go leaves no row; a bucket whose every key goes leaves no
    *     partition) — this discharges SERVING;
    *  2. [[expireVersionedGenerations]] at `batchId` — this discharges
    *     HISTORY: every superseded bucket version at or below the forget
    *     is deleted, and as-of reads into the pre-forget window fail
    *     LOUDLY instead of resurrecting the removed rows (time travel
    *     and the right to be forgotten are in direct tension; the
    *     horizon is the resolution);
    *  3. the EMPTIED-BUCKET SWEEP: a touched bucket the forget generation
    *     does not hold lost every key, and per-bucket newest-generation
    *     resolution would otherwise fall back to the STALE version expiry
    *     kept for it. Only generations BELOW the forget are swept — a
    *     later commit is newer state, never residue.
    *
    * Replay evidence is the forget generation's own `_SUCCESS`, which
    * expiry never removes (a forget's husk stays even when it holds no
    * bucket): a replay skips step 1 and re-runs the idempotent steps 2
    * and 3. A forget that has not run must name a batch ABOVE every
    * committed generation — an id a fold already committed would
    * otherwise silently forget nothing — and fails loudly when it does
    * not. `touched` is evaluated on every run (the sweep needs it); a
    * forget touching no bucket writes nothing and raises no horizon.
    */
  private def versionedForget(spark: SparkSession, stateDir: String,
      schema: StructType, keyCol: String, batchId: Long, touched: => Seq[Int])(
      merge: DataFrame => DataFrame): Unit = {
    require(batchId >= 0, s"versioned forget batchId must be >= 0, got $batchId")
    val gen = s"f$batchId"
    val done = StateFs.exists(spark, s"${versionedGenPath(stateDir, gen)}/_SUCCESS")
    if (!done) {
      val newest = versionedCommittedGens(spark, stateDir).lastOption
      require(newest.forall(genId(_) < batchId),
        s"forget batch $batchId on $stateDir is not above the newest committed " +
          s"generation ${newest.getOrElse("")}: a forget takes a batchId no fold " +
          "or forget of this table has used")
    }
    val buckets = touched
    if (buckets.nonEmpty) {
      if (done) healVersionedManifest(spark, stateDir, gen)
      else writeGeneration(spark, stateDir, schema, keyCol, gen, buckets)(merge)
      val present = genBuckets(spark, stateDir, gen).toSet
      expireVersionedGenerations(spark, stateDir, batchId)
      val emptied = buckets.filterNot(present)
      val stale = versionedCommittedGens(spark, stateDir)
        .filter(genId(_) < batchId)
        .flatMap(g => genBuckets(spark, stateDir, g).filter(emptied.contains)
          .map(b => s"${versionedGenPath(stateDir, g)}/bucket=$b"))
      if (stale.nonEmpty) {
        stale.foreach(StateFs.deleteRecursively(spark, _))
        dropFoldHusks(spark, stateDir)
        writeVersionedManifest(spark, stateDir)
      }
    }
  }

  /** The `foreachBatch` stream behind every versioned maintenance
    * stream: seed (commit-guarded, so a restart resumes against the
    * existing table), then `fold` each micro-batch at its batchId.
    */
  private def versionedMaintenanceStream(stream: DataFrame,
      initial: DataFrame, keyCol: String, stateDir: String,
      checkpointDir: Option[String])(fold: (DataFrame, Long) => Unit): StreamingQuery = {
    seedVersionedState(initial, keyCol, stateDir)
    maintenanceWriter(stream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        fold(batch.toDF(), batchId)
      }
      .start()
  }

  /** Run `body` over `df` persisted — the delta frames the folds read
    * twice (bucket collect + merge).
    */
  private def withPersisted(df: DataFrame)(body: DataFrame => Unit): Unit = {
    val p = df.persist()
    try body(p) finally { p.unpersist(); () }
  }

  /** Versioned-state read schema for the totals tier — the partials plus
    * the `bucket` partition column.
    */
  private val totalsVersionedSchema = StructType(Seq(
    StructField("product_key", LongType),
    StructField("q2", LongType),
    StructField("r4", LongType),
    StructField("n", LongType),
    StructField("bucket", IntegerType)))

  /** One totals micro-batch: aggregate the batch to partials and fold
    * them through [[graft.operators.StarSchema.mergeTotalsPartials]].
    */
  private[graft] def totalsFoldBatchVersioned(spark: SparkSession,
      stateDir: String, batch: DataFrame, batchId: Long): Unit =
    withPersisted(graft.operators.StarSchema.totalsPartialsOfDetail(batch)) { partials =>
      versionedFold(spark, stateDir, totalsVersionedSchema, "product_key",
          batchId, bucketsOf(partials, "product_key"))(
        graft.operators.StarSchema.mergeTotalsPartials(_, partials))
    }

  /** The versioned totals state, live. */
  def totalsVersionedRead(spark: SparkSession, stateDir: String): DataFrame =
    versionedRead(spark, stateDir, totalsVersionedSchema)

  /** TIME TRAVEL on the versioned totals state: the table exactly as a
    * live read served it the moment batch `asOfBatch` committed
    * (−1 = the seeded baseline). A listing filter over bucket
    * generations — zero data copy.
    */
  def totalsVersionedReadAsOf(spark: SparkSession, stateDir: String,
      asOfBatch: Long): DataFrame =
    versionedStateRead(spark, stateDir, totalsVersionedSchema, Some(asOfBatch))
      .drop("bucket")

  /** STREAMING AGGREGATE MAINTENANCE — [[totalsFoldBatchVersioned]]
    * per micro-batch under Structured Streaming, with time travel as a
    * side effect of how commits are laid out.
    */
  def totalsMaintenanceStreamVersioned(detailStream: DataFrame,
      initialState: DataFrame, stateDir: String,
      checkpointDir: Option[String] = None): StreamingQuery =
    versionedMaintenanceStream(detailStream, initialState, "product_key",
        stateDir, checkpointDir)(
      totalsFoldBatchVersioned(detailStream.sparkSession, stateDir, _, _))

  /** The versioned state schema of a keyed table: its own columns plus
    * the `bucket` partition column. Key-column-generic — the SCD2
    * interval history and the row-state tables [[forgetKeys]] erases
    * both use it.
    */
  private[graft] def scd2VersionedSchema(historySchema: StructType): StructType =
    StructType(historySchema.fields :+ StructField("bucket", IntegerType))

  /** One SCD2 CDC micro-batch: the orders batch folds through
    * [[graft.operators.WindowAnalytics.scd2ApplyChanges]]
    * (gaps-and-islands compaction, boundary merge, append-only contract
    * ENFORCED — a violating batch throws before its generation commits,
    * so a restart retries it and fails again instead of skipping it) on
    * ONLY the buckets its customer keys hash into. "The dimension as of
    * batch B" — the question a lakehouse MERGE destroys — becomes a
    * listing filter (the `dim_customer_scd2_asof` gate).
    */
  private[graft] def scd2FoldBatchVersioned(spark: SparkSession,
      stateDir: String, schema: StructType, batch: DataFrame,
      batchId: Long): Unit =
    versionedFold(spark, stateDir, schema, "customer_key", batchId,
        bucketsOf(batch, "o_custkey"))(
      graft.operators.WindowAnalytics.scd2ApplyChanges(_, batch))

  /** The versioned SCD2 interval history as of `asOfBatch` (−1 = the
    * seeded baseline), reader-shaped.
    */
  def scd2VersionedReadAsOf(spark: SparkSession, stateDir: String,
      historySchema: StructType, asOfBatch: Long): DataFrame =
    versionedStateRead(spark, stateDir, scd2VersionedSchema(historySchema),
        Some(asOfBatch))
      .drop("bucket")

  /** STREAMING SCD2 MAINTENANCE — [[scd2FoldBatchVersioned]] per CDC
    * micro-batch: the dimension lives as a versioned table bucketed by
    * `customer_key`, each batch reads and writes only the buckets its
    * affected keys hash into (untouched buckets are never listed, read or
    * rewritten — spec'd byte-identical), and a restarted stream resumes
    * against the existing table, redelivered batches skipping on their
    * generation commits. At 100 TB this is the difference between
    * rewriting the whole dimension nightly and writing the few buckets
    * tonight's keys hash to.
    */
  def scd2MaintenanceStreamVersioned(ordersStream: DataFrame,
      initialHistory: DataFrame, stateDir: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    val schema = scd2VersionedSchema(initialHistory.schema)
    versionedMaintenanceStream(ordersStream, initialHistory, "customer_key",
        stateDir, checkpointDir)(
      scd2FoldBatchVersioned(ordersStream.sparkSession, stateDir, schema, _, _))
  }

  /** RETENTION for the log — keep every generation a read at or after
    * `keepAsOfFrom` can resolve: what [[servingOf]] serves at the horizon
    * plus everything covering a later batch, per bucket — and delete the
    * rest (a superseded bucket version, an older rewrite and the appends
    * it folded, which only time travel below the horizon needed). The
    * horizon is recorded FIRST (a name-encoded `_expired_through_<h>`
    * marker — the value rides the name because a content-bearing record
    * can tear between create and write; monotone), so an as-of read
    * below it fails loudly ([[versionedServingGens]]) instead of
    * resolving a silently-partial view; reads at or above the horizon
    * are untouched by construction. Rewrite claims below the oldest
    * retained base go with it. Returns the deleted bucket partition and
    * whole-table generation dirs.
    */
  def expireVersionedGenerations(spark: SparkSession, stateDir: String,
      keepAsOfFrom: Long): Seq[String] = {
    val base = versionedStatePath(stateDir)
    val prior = versionedExpiredThrough(spark, stateDir)
    val horizon = math.max(keepAsOfFrom, prior)
    if (horizon > prior)
      StateFs.touch(spark, s"$base/_expired_through_$horizon")
    val names = StateFs.list(spark, base)
    names.foreach {
      case expiredThroughName(v) if v.toLong < horizon =>
        StateFs.deleteFile(spark, s"$base/_expired_through_$v")
      case _ => ()
    }
    val inventory = versionedCommittedGens(spark, stateDir)
      .map(g => g -> genBuckets(spark, stateDir, g))
    val kept = servingOf(inventory, Some(horizon)).toSeq
      .flatMap { case (g, bs) => bs.map(g -> _) }.toSet
    val dropped = inventory.filter { case (g, _) => genId(g) <= horizon }
      .flatMap { case (g, bs) => bs.filterNot(b => kept((g, b))).map(g -> _) }
      .map { case (g, b) =>
        val dir = if (b == WholeTable) versionedGenPath(stateDir, g)
          else s"${versionedGenPath(stateDir, g)}/bucket=$b"
        StateFs.deleteRecursively(spark, dir)
        dir
      }
    // a rewrite claim below the oldest retained base guards nothing: a
    // writer that could still claim it reads an expired base and fails
    val oldestBase = inventory.map(_._1)
      .filter(g => isBaseGen(g) && !dropped.contains(versionedGenPath(stateDir, g)))
      .map(genOrder(_)._1).reduceOption(_ min _).getOrElse(Long.MinValue)
    names.foreach {
      case c @ rewriteClaimName(v) if v.toLong < oldestBase =>
        StateFs.deleteFile(spark, s"$base/$c")
      case _ => ()
    }
    dropFoldHusks(spark, stateDir)
    // the manifest reflects the post-expiry inventory + horizon (crash
    // before this line: the stale manifest lists expired paths — reads
    // throw, fall back to the listing, and its loud horizon check rules)
    if (dropped.nonEmpty || StateFs.list(spark, base)
        .exists { case vManifestName(_) => true; case _ => false })
      writeVersionedManifest(spark, stateDir)
    dropped
  }

  /** Drop fold generations stripped of every bucket — pure metadata,
    * kept out of the listings. The seed's and every forget's husk stay:
    * their `_SUCCESS` is the seed's and the forget's replay evidence.
    */
  private def dropFoldHusks(spark: SparkSession, stateDir: String): Unit =
    versionedCommittedGens(spark, stateDir)
      .filter(g => g.startsWith("g") && genBuckets(spark, stateDir, g).isEmpty)
      .foreach(g => StateFs.deleteRecursively(spark, versionedGenPath(stateDir, g)))

  /** An APPEND table of the log, live or as of batch `asOf`: its newest
    * seed or rewrite plus every append above it, ONE parquet scan. A
    * table that was never written (an output table before its first
    * batch) reads empty.
    */
  private def appendRead(spark: SparkSession, dir: String, schema: StructType,
      asOf: Option[Long] = None): DataFrame =
    versionedStateRead(spark, dir, schema, asOf, seeded = false)

  /** INCREMENTAL (change-data) read of an append table: the rows
    * batches `fromExclusive+1 .. toInclusive` appended — what a
    * downstream incremental consumer processes to catch up from
    * snapshot `fromExclusive` to snapshot `toInclusive` without
    * re-reading the table (a table format's incremental scan). The
    * change set IS the append generations in the window: a listing
    * filter, zero data copy. A compaction keeps the appends it folded,
    * so the window's low edge need only be at or above the retention
    * horizon — below it the evidence was expired and the read fails
    * loudly; the consumer must fall back to a full as-of read.
    */
  private def appendChanges(spark: SparkSession, dir: String,
      schema: StructType, fromExclusive: Long, toInclusive: Long): DataFrame = {
    requireAboveHorizon(Some(fromExclusive), versionedExpiredThrough(spark, dir), dir)
    val window = versionedCommittedGens(spark, dir).filter(g =>
      isAppendGen(g) && genId(g) > fromExclusive && genId(g) <= toInclusive)
    if (window.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(window.map(versionedGenPath(dir, _)): _*)
  }

  /** The newest batch an append table's log has applied: its newest
    * append, or the batch its newest rewrite covers (Long.MinValue when
    * neither exists).
    */
  private def appliedThrough(spark: SparkSession, dir: String): Long =
    versionedCommittedGens(spark, dir)
      .filter(g => isAppendGen(g) || isBaseGen(g)).map(genId)
      .reduceOption(_ max _).getOrElse(Long.MinValue)

  /** The replay gate of an append fold over `dirs`, written in that
    * order: batch `batchId` is applied once the LAST table's append
    * generation commits (or a rewrite of it covers the batch), so a fold
    * that crashed after its first j generations replays whole — the
    * replay overwrites them, and its reads as of `batchId − 1` never saw
    * them. A replay of an applied batch heals the manifests and skips.
    */
  private def appendFoldPending(spark: SparkSession, batchId: Long,
      dirs: String*): Boolean = {
    val gens = versionedCommittedGens(spark, dirs.last)
    val appended = gens.contains(s"a$batchId")
    if (appended) dirs.foreach(d => healVersionedManifest(spark, d, s"a$batchId"))
    !appended && !gens.exists(g => isBaseGen(g) && genId(g) >= batchId)
  }

  /** Write batch `batchId`'s rows as the table's append generation. */
  private def writeAppend(spark: SparkSession, dir: String, batchId: Long,
      rows: DataFrame): Unit = {
    Writes.of(rows).mode("overwrite").parquet(versionedGenPath(dir, s"a$batchId"))
    writeVersionedManifest(spark, dir)
  }

  /** Seed append tables from history, in order, unless the LAST one
    * already holds a committed seed or rewrite — the guard that makes a
    * seed-then-erase build idempotent across JVMs (an erased table is
    * never re-seeded with pre-erasure rows), and a crash mid-seed
    * re-seeds every table (overwrite). The ONE seed entry of every
    * append index, the operator modules' one-shot stand-ins included.
    */
  private[graft] def seedAppendTables(spark: SparkSession,
      tables: (String, DataFrame)*): Unit =
    if (!versionedCommittedGens(spark, tables.last._1).exists(isBaseGen))
      tables.foreach { case (dir, rows) =>
        Writes.of(rows).mode("overwrite").parquet(versionedGenPath(dir, "seed"))
        writeVersionedManifest(spark, dir)
      }

  /** THE REWRITE of an append table — the one body behind compaction
    * (OPTIMIZE: a long-run stream otherwise accumulates one small-file
    * generation per batch, and at 100 TB the per-batch file count — not
    * the data — becomes the probe's cost) and erasure. It reads the
    * serving generations (the newest seed or rewrite plus every append
    * above it), passes them through `transform`, and commits them as
    * rewrite `r{v}_{t}`: `v` is the next sequence of the table's log,
    * `t` the newest batch it covers. Readers resolve the rewrite plus the
    * appends above `t`, so rows are identical before and after a plain
    * compaction (spec'd). Before it writes, the rewrite expires every
    * generation older than its base ([[expireVersionedGenerations]] at
    * the batch the base covers): the base and the appends it folds stay
    * readable as of their batches as the ONE grace snapshot, so a table
    * holds at most the live snapshot plus one grace snapshot however
    * often it is compacted. Under `erase` the rewrite then expires
    * every generation below itself as well: they hold the forgotten
    * rows. A compaction with no append above the newest rewrite has
    * nothing to fold and writes nothing.
    *
    * Safety:
    *  - a batch the stream will replay is never folded: when the table
    *    holds an append above what `commitDir` (the table its fold
    *    commits through) has applied, the rewrite fails loudly — let the
    *    stream replay the batch, then re-run;
    *  - two rewrite writers never both commit: each first creates the
    *    sequence it claims, `_rewrite_{v}`, create-only, and a committed
    *    rewrite keeps it while the rewrite is retained. The loser fails
    *    loudly before writing and the winner's table is intact. Because
    *    `v` is the base's sequence plus one, a writer whose base went
    *    stale finds `v` taken and fails the same way — there is no
    *    window between listing and claiming; a writer whose base was
    *    expired meanwhile may claim a released sequence but fails reading
    *    the expired base. A cleanly failed writer releases its claim;
    *    one that crashed hard leaves it, and later rewrites fail naming
    *    it until an operator who has checked no writer is running
    *    deletes it (lease recovery is an operator decision: a paused
    *    writer looks like a dead one);
    *  - with `requireSeed` (the index tables, whose streams seed
    *    history) a table without a committed seed fails loudly:
    *    compacting it would commit an empty baseline and the seed guard
    *    would then skip history seeding forever. Output tables start at
    *    `a0`, and one that was never written is left alone.
    *
    * Run compaction on a QUIESCED stream (between runs, as the specs
    * do), the contract a table format's OPTIMIZE has too.
    */
  private def rewriteAppendTable(spark: SparkSession, dir: String,
      schema: StructType, commitDir: String, requireSeed: Boolean = false,
      erase: Boolean = false)(transform: DataFrame => DataFrame = identity): Unit = {
    val gens = versionedCommittedGens(spark, dir)
    val base = gens.filter(isBaseGen).lastOption
    require(!requireSeed || base.nonEmpty,
      s"rewrite of $dir: no committed seed — an index table whose history " +
        "seed never landed must be re-seeded, not compacted into an empty baseline")
    val serving = appendServing(gens)
    // a compaction with no append to fold is a no-op, like OPTIMIZE
    if (erase && gens.nonEmpty || serving.exists(isAppendGen)) {
      val applied = appliedThrough(spark, commitDir)
      val pending = serving.filter(g => isAppendGen(g) && genId(g) > applied)
      require(pending.isEmpty,
        s"rewrite of $dir: ${pending.sorted.mkString(", ")} belong to batches " +
          s"$commitDir has not committed — a fold the stream will replay. Let " +
          "it replay, then re-run")
      val v = base.fold(0L)(genOrder(_)._1 + 1)
      val through = serving.map(genId).max
      val claim = s"${versionedStatePath(dir)}/_rewrite_$v"
      try StateFs.touchExclusive(spark, claim)
      catch {
        case e: IllegalStateException => throw new IllegalStateException(
          s"rewrite $v of $dir is claimed by another writer ($claim): wait " +
            "for it and re-run; if no writer is running it crashed — delete " +
            "the claim and re-run", e)
      }
      // entry expiry: the current base and the appends above it stay as
      // the one grace snapshot, everything older goes
      base.filter(_ != "seed")
        .foreach(b => expireVersionedGenerations(spark, dir, genId(b)))
      try Writes.of(transform(spark.read.schema(schema)
          .parquet(serving.map(versionedGenPath(dir, _)): _*)))
        .mode("overwrite").parquet(versionedGenPath(dir, s"r${v}_$through"))
      catch {
        case e: Throwable => StateFs.deleteFile(spark, claim); throw e
      }
      writeVersionedManifest(spark, dir)
      if (erase) expireVersionedGenerations(spark, dir, through)
    }
  }

  /** Whether more than `maxAppends` append generations serve above the
    * table's newest seed or rewrite — the auto-compaction trigger.
    */
  private def crowded(spark: SparkSession, dir: String, maxAppends: Int): Boolean = {
    require(maxAppends >= 1,
      s"auto-compaction threshold must be >= 1, got $maxAppends")
    appendServing(versionedCommittedGens(spark, dir)).count(isAppendGen) > maxAppends
  }

  /** The live serving generations of an append table's committed log. */
  private def appendServing(gens: Seq[String]): Seq[String] =
    servingOf(gens.map(_ -> Seq(WholeTable)), None).keys.toSeq

  /** The two retention knobs of every append maintenance stream, run
    * after each fold — the stream is its tables' only writer and sits
    * between folds, so the rewrite's quiesced contract holds by
    * construction. `autoCompactAfter = k` rewrites a table once more than
    * `k` appends serve above its newest rewrite (at 100 TB the trigger is
    * file-count pressure, not a calendar); `expireKeepSnapshots = k`
    * keeps the `k` newest seeds and rewrites readable as of their
    * batches and expires everything older
    * ([[expireVersionedGenerations]] at the batch the `k`-th newest
    * covers).
    */
  private def maintainAppendTables(spark: SparkSession, commitDir: String,
      autoCompactAfter: Option[Int], expireKeepSnapshots: Option[Int])(
      tables: (String, StructType)*): Unit = {
    autoCompactAfter.foreach { k =>
      tables.foreach { case (dir, schema) =>
        if (crowded(spark, dir, k)) rewriteAppendTable(spark, dir, schema, commitDir)()
      }
    }
    expireKeepSnapshots.foreach { k =>
      require(k >= 1, s"expireKeepSnapshots must be >= 1 (the newest rewrite " +
        s"always serves), got $k")
      tables.foreach { case (dir, _) =>
        val bases = versionedCommittedGens(spark, dir).filter(isBaseGen)
        if (bases.size > k)
          expireVersionedGenerations(spark, dir, genId(bases(bases.size - k)))
      }
    }
  }

  /** RIGHT-TO-BE-FORGOTTEN DELETE PROPAGATION over a versioned keyed
    * table — the privacy-erasure pass every lakehouse deployment must run
    * (GDPR art. 17 / CCPA): remove EVERY row whose `keyCol` is in `keys`,
    * as the [[versionedForget]] at `batchId` — so the pre-erasure
    * versions are expired and as-of reads below the forget fail loudly,
    * and no file under the state dir keeps a victim row. `schema` is the
    * stored schema ([[scd2VersionedSchema]] of the table's columns).
    *
    * A semi-join PROBE first finds the buckets that actually HOLD a
    * forgotten key (in the forget's own as-of view), and only those are
    * rewritten: untouched buckets are never read or rewritten
    * (byte-identical — spec'd), so at 100 TB the erasure costs a few
    * buckets, not a table rewrite, and a re-run finds its committed
    * generation (or, when nothing was held, probes an erased table and
    * hits nothing) — a byte-exact no-op. The delete list is cast to the
    * STATE's key type before anything hashes it: hash(int 3) !=
    * hash(long 3), so an uncast IntegerType list against a LongType table
    * would derive the WRONG buckets and silently erase nothing.
    */
  def forgetKeys(spark: SparkSession, stateDir: String, schema: StructType,
      keyCol: String, keys: DataFrame, batchId: Long): Unit = {
    // checkpointed once: the list may carry an expensive lineage and is
    // consumed by the bucket collect, the probe and the merge
    val delKeys = keys.select(col(keyCol).cast(schema(keyCol).dataType))
      .distinct().localCheckpoint(true)
    try {
      versionedForget(spark, stateDir, schema, keyCol, batchId, {
        val hashed = bucketsOf(delKeys, keyCol)
        if (hashed.isEmpty) Seq.empty[Int]
        else versionedStateRead(spark, stateDir, schema, Some(batchId))
          .filter(col("bucket").isin(hashed.map(Integer.valueOf): _*))
          .join(delKeys, Seq(keyCol), "left_semi")
          .select(col("bucket")).distinct()
          .collect().map(_.getInt(0)).toSeq.sorted
      })(_.join(delKeys, Seq(keyCol), "left_anti"))
    } finally {
      org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(delKeys)
    }
  }

  /** CDC CORRECTION / RETRACTION for the versioned SCD2 interval history
    * — the out-of-order path [[scd2FoldBatchVersioned]]'s append-only
    * contract deliberately rejects: a real feed eventually sends a
    * correction (an order voided, a mis-keyed backfill), and "rebuild
    * the dimension" is not an answer at 100 TB. The correction batch
    * re-sends each affected key's FULL corrected order stream (the
    * standard CDC snapshot-correction shape; a key whose every order is
    * retracted appears in `affectedKeys` with no corrected rows), and
    * the [[versionedForget]] at `batchId` REPLACES exactly those keys'
    * interval chains — the chain is a per-key-independent structure, so
    * a wholesale per-key rebuild composes with neighbors sharing the
    * bucket: carried rows are anti-joined out, the replacement chains
    * come from the same gaps-and-islands compaction the from-scratch
    * build runs, and only the buckets the affected keys hash into are
    * read or written. A correction can empty a bucket (every key in it
    * retracted outright), so it is a forget: history below it expires
    * and the emptied bucket is swept.
    *
    * The registered `dim_customer_scd2_corrected` gate proves
    * correction ≡ rebuild: its oracle is the from-scratch dimension SQL
    * over the corrected order stream.
    */
  def scd2CorrectKeysVersioned(spark: SparkSession, stateDir: String,
      schema: StructType, affectedKeys: DataFrame, correctedOrders: DataFrame,
      batchId: Long): Unit = {
    val keys = affectedKeys.select(col("customer_key")
        .cast(schema("customer_key").dataType))
      .distinct().localCheckpoint(true)
    try {
      versionedForget(spark, stateDir, schema, "customer_key", batchId,
          bucketsOf(keys, "customer_key")) { cur =>
        cur.join(keys, Seq("customer_key"), "left_anti")
          .unionByName(graft.operators.WindowAnalytics
            .priorityIntervalHistoryOf(correctedOrders))
      }
    } finally {
      org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(keys)
    }
  }

  /** Versioned-state read schema for the term-stats tier — (term, df,
    * tf_sum) plus the `bucket` partition column.
    */
  private val termStatsVersionedSchema = StructType(Seq(
    StructField("term", StringType),
    StructField("df", LongType),
    StructField("tf_sum", LongType),
    StructField("bucket", IntegerType)))

  /** The (term, df, tf_sum) delta of a document set — tokenized through
    * the exact [[graft.operators.TextAnalysis.termFreqsOf]] lineage the
    * batch queries ride.
    */
  private def termStatsDelta(docs: DataFrame): DataFrame =
    graft.operators.TextAnalysis.termStatsOf(
      graft.operators.TextAnalysis.termFreqsOf(docs))

  /** One term-statistics micro-batch — the text tier's fold: the (term,
    * df, tf_sum) table BM25/TF-IDF statistics join on is keyed and
    * bucketed by TERM. Term-stats is the tier scoring SERVES from, so
    * "what did the df table look like before tonight's crawl folded in"
    * is exactly the question a ranking regression investigation asks.
    * Each micro-batch tokenizes only its own documents and merges
    * through the same [[graft.operators.TextAnalysis.mergeTermStats]]
    * the batch gates certify; the registered `text_df_asof` gate pins
    * as-of ≡ the prefix rebuild against the DuckDB oracle.
    */
  private[graft] def termStatsFoldBatchVersioned(spark: SparkSession,
      stateDir: String, batch: DataFrame, batchId: Long): Unit =
    withPersisted(termStatsDelta(batch)) { delta =>
      versionedFold(spark, stateDir, termStatsVersionedSchema, "term",
          batchId, bucketsOf(delta, "term"))(
        graft.operators.TextAnalysis.mergeTermStats(_, delta))
    }

  /** The versioned term-stats table, live (reader-shaped). */
  def termStatsVersionedRead(spark: SparkSession, stateDir: String): DataFrame =
    versionedRead(spark, stateDir, termStatsVersionedSchema)

  /** RIGHT-TO-BE-FORGOTTEN on the term-stats tier — a NEGATED delta
    * [[versionedForget]] at `batchId`: tokenize ONLY the forgotten docs
    * and fold their negated statistics through the same
    * [[graft.operators.TextAnalysis.mergeTermStats]] (additivity works in
    * both directions); the merge drops `df <= 0` rows because a term
    * living only in forgotten documents must VANISH, not linger as a
    * zero-count tombstone that still discloses it. The forget's expiry
    * and emptied-bucket sweep then take the pre-forget statistics out of
    * history as well.
    */
  def termStatsForgetVersioned(spark: SparkSession, stateDir: String,
      forgottenDocs: DataFrame, batchId: Long): Unit =
    withPersisted(termStatsDelta(forgottenDocs)) { delta =>
      versionedForget(spark, stateDir, termStatsVersionedSchema, "term",
          batchId, bucketsOf(delta, "term")) { cur =>
        graft.operators.TextAnalysis.mergeTermStats(cur,
            delta.select(col("term"), (-col("df")).alias("df"),
              (-col("tf_sum")).alias("tf_sum")))
          .filter(col("df") > 0) // vanish, never tombstone
      }
    }

  /** TIME TRAVEL on the versioned term-stats state: the df/tf_sum table
    * exactly as a live read served it the moment batch `asOfBatch`
    * committed (−1 = the seeded baseline) — a listing filter over
    * bucket generations, zero data copy.
    */
  def termStatsVersionedReadAsOf(spark: SparkSession, stateDir: String,
      asOfBatch: Long): DataFrame =
    versionedStateRead(spark, stateDir, termStatsVersionedSchema,
        Some(asOfBatch))
      .drop("bucket")

  /** STREAMING TERM-STATISTICS MAINTENANCE — [[termStatsFoldBatchVersioned]]
    * per micro-batch under Structured Streaming, with time travel as a
    * side effect of how commits are laid out.
    */
  def termStatsMaintenanceStreamVersioned(docsStream: DataFrame,
      initialStats: DataFrame, stateDir: String,
      checkpointDir: Option[String] = None): StreamingQuery =
    versionedMaintenanceStream(docsStream, initialStats, "term", stateDir,
        checkpointDir)(
      termStatsFoldBatchVersioned(docsStream.sparkSession, stateDir, _, _))

  /** Versioned state schema of the OLS sufficient statistics — the
    * maintained (return_flag → nine exact-integer normal-equation sums)
    * table of the TRAINED-MODEL tier, DECIMAL(38,0) sums (the
    * [[graft.operators.Stats]] exactness envelope, on disk). O(|flags|)
    * rows, so a nightly generation is a few rows; its as-of view is
    * "what the model served before tonight's fold".
    */
  private val olsSumsStateSchema = StructType(
    StructField("return_flag", StringType) +:
      graft.operators.Stats.OlsSumCols.map(c =>
        StructField(c, DecimalType(38, 0))) :+
      StructField("bucket", IntegerType))

  /** The maintained OLS sums table, reader-shaped — what the
    * closed-form solve ([[graft.operators.Stats.olsBetasFromSums]])
    * reads to retrain in O(|flags|).
    */
  def olsSumsRead(spark: SparkSession, stateDir: String): DataFrame =
    versionedRead(spark, stateDir, olsSumsStateSchema)

  /** Seed the stored OLS sums from a (return_flag → nine sums) frame —
    * commit-guarded like every seed ([[seedVersionedState]]).
    */
  def olsSumsSeed(spark: SparkSession, stateDir: String,
      initialSums: DataFrame): Unit =
    seedVersionedState(initialSums, "return_flag", stateDir)

  /** Fold one nine-sum DELTA into the stored OLS state — the nightly
    * model-maintenance fold ([[versionedFold]]). The merge is
    * [[graft.operators.Stats.mergeOlsSums]] — keyed full-outer decimal
    * addition, additive over disjoint row sets, so fold-then-solve ≡
    * rebuild exactly (integer sums, no reassociation caveat).
    */
  def olsSumsFoldBatch(spark: SparkSession, stateDir: String,
      deltaSums: DataFrame, batchId: Long): Unit =
    withPersisted(deltaSums) { delta =>
      versionedFold(spark, stateDir, olsSumsStateSchema, "return_flag",
          batchId, bucketsOf(delta, "return_flag"))(
        graft.operators.Stats.mergeOlsSums(_, delta))
    }

  /** ERASURE IN AGGREGATE SPACE ON THE STORED MODEL TIER — the durable
    * form of `lineitem_ols_forget`: the forgotten cohort's nine-sum
    * delta folds in NEGATED through the same merge as
    * [[olsSumsFoldBatch]] (additivity works in both directions over
    * disjoint row sets), as the [[versionedForget]] at `batchId`, so the
    * STORED model provably forgets without a history rescan and its
    * pre-forget sums leave history. A negated fold is NOT naturally
    * idempotent (subtracting twice would over-forget); the forget
    * generation's commit makes a re-run (second JVM, crash recovery) a
    * provable no-op.
    */
  def forgetFromOlsSums(spark: SparkSession, stateDir: String,
      forgottenSums: DataFrame, batchId: Long): Unit =
    withPersisted(graft.operators.Stats.negateOlsSums(forgottenSums)) { delta =>
      versionedForget(spark, stateDir, olsSumsStateSchema, "return_flag",
          batchId, bucketsOf(delta, "return_flag"))(
        graft.operators.Stats.mergeOlsSums(_, delta))
    }

  private val tfIndexSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("term", StringType),
    StructField("tf", LongType)))

  /** The maintained token-cache (tf) index on disk — the read side of
    * [[tfIndexMaintenanceStream]] (its seed plus every batch's append
    * generation above the newest rewrite).
    */
  def tfIndexRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/tf", tfIndexSchema)

  /** Time-travel read of the tf index ([[appendRead]] as of a batch). */
  def tfIndexReadAsOf(spark: SparkSession, indexDir: String,
      asOfBatch: Long): DataFrame =
    appendRead(spark, s"$indexDir/tf", tfIndexSchema, Some(asOfBatch))

  /** Incremental read of the tf index ([[appendChanges]]). */
  def tfIndexChanges(spark: SparkSession, indexDir: String,
      fromExclusive: Long, toInclusive: Long): DataFrame =
    appendChanges(spark, s"$indexDir/tf", tfIndexSchema,
      fromExclusive, toInclusive)

  /** Compact the tf index's append generations into one rewrite — the
    * quiesced-stream contract of [[rewriteAppendTable]].
    */
  def compactTfIndex(spark: SparkSession, indexDir: String): Unit = {
    val tfDir = s"$indexDir/tf"
    rewriteAppendTable(spark, tfDir, tfIndexSchema, tfDir, requireSeed = true)()
  }

  /** RIGHT-TO-BE-FORGOTTEN over the maintained tf INDEX — the retrieval
    * half of the erasure story beside the dimension-row half
    * ([[forgetKeys]]) and the statistics half
    * ([[graft.operators.TextAnalysis.dfForgetDocs]]): every
    * (doc_id, term, tf) row of the forgotten documents leaves the served
    * token cache by ERASURE-AS-REWRITE — the serving generations are
    * read, anti-joined against the delete list, and committed as a new
    * rewrite ([[rewriteAppendTable]]). Copy-on-write matters more here
    * than for plain compaction: an in-place `mode(overwrite)` rewrite
    * deletes the target at job START, so a crash mid-write would destroy
    * the only copy of the NON-forgotten rows — the rewrite never touches
    * the generations it reads until it has committed. Unlike plain
    * compaction every older generation is expired IMMEDIATELY: they hold
    * the forgotten rows, and a grace snapshot would defeat the deletion.
    *
    * The quiesced contract is load-bearing beyond the compaction
    * reason: a batch the stream will replay is REGENERATED WITH the
    * forgotten docs by the checkpointed batch — so an erasure refuses a
    * table holding a batch its fold has not finished committing, and
    * must be re-run after any later replay (erasure jobs run until
    * success by regulation anyway). Serving parity after erasure — BM25
    * over the erased index ≡ the batch query over the surviving
    * documents — is spec'd in StreamingSpec.
    */
  def forgetDocsFromTfIndex(spark: SparkSession, indexDir: String,
      docs: DataFrame): Unit =
    withForgetList(docs, "doc_id") { ids =>
      val tfDir = s"$indexDir/tf"
      eraseKeysFromTable(spark, tfDir, tfIndexSchema, tfDir, ids, "doc_id")
    }

  /** Checkpoint a delete list once (cast to the key type and
    * deduplicated — the [[forgetKeys]] key-type lesson; the list may
    * carry an expensive lineage and several table erasures consume it),
    * run the per-table erasures, release. ONE wrapper behind every
    * index-tier forget entry point, so the erasure protocol has one
    * body to fix, not five.
    */
  private def withForgetList(list: DataFrame, keyCol: String)
      (body: DataFrame => Unit): Unit = {
    val ids = list.select(col(keyCol).cast(LongType)).distinct()
      .localCheckpoint(true)
    try body(ids)
    finally org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(ids)
  }

  /** ONE erasure body for a single-key index table: anti-join the
    * (single-column) delete list against `joinCol` in an erasing
    * rewrite (every older generation holds the forgotten rows).
    */
  private def eraseKeysFromTable(spark: SparkSession, dir: String,
      schema: StructType, commitDir: String, ids: DataFrame,
      joinCol: String): Unit =
    rewriteAppendTable(spark, dir, schema, commitDir, requireSeed = true,
      erase = true)(_.join(ids.toDF(joinCol), Seq(joinCol), "left_anti"))

  /** Pair-table erasure: a pair dies when EITHER endpoint is forgotten.
    * A pairs OUTPUT table that was never written (the stream seeded its
    * index but no micro-batch ran yet) is a legitimate NO-OP, not an
    * error — failing here would abort the whole erasure before the
    * index tables holding the victim's derived content were reached,
    * and regulation-mandated retries would keep failing identically.
    */
  private def erasePairEndpoints(spark: SparkSession, pairsDir: String,
      schema: StructType, commitDir: String, ids: DataFrame,
      aCol: String, bCol: String): Unit =
    rewriteAppendTable(spark, pairsDir, schema, commitDir, erase = true)(
      _.join(ids.toDF(aCol), Seq(aCol), "left_anti")
        .join(ids.toDF(bCol), Seq(bCol), "left_anti"))

  /** STREAMING BM25 INDEX MAINTENANCE — the retrieval tier's nightly
    * refresh, completing the term-stats gate's story: documents are
    * append-only, so the (doc_id, term, tf) token-cache table the
    * retrieval queries probe ([[graft.operators.TextAnalysis]]'s
    * `termFreqs` shape) maintains by APPEND, not fold — each micro-batch
    * tokenizes only its own documents and commits one append generation
    * (the [[annIndexMaintenanceStream]] commit shape; [[compactTfIndex]]
    * is the OPTIMIZE half). Serving reads the seed plus the appends and
    * runs the identical BM25 probe plan — StreamingSpec pins served top-k
    * parity with the batch `bm25_top_docs` after two micro-batches,
    * through compaction, with `n_docs` supplied as the trivially-additive
    * document counter. Beside it, [[termStatsMaintenanceStreamVersioned]]
    * maintains the AGGREGATE (term-keyed df/tf_sum) view of the same
    * lineage by fold — append for the per-doc grain, fold for the
    * statistic, the two shapes a 100 TB text index actually runs nightly.
    */
  def tfIndexMaintenanceStream(docsStream: DataFrame, historyDocs: DataFrame,
      indexDir: String, checkpointDir: Option[String] = None,
      autoCompactAfter: Option[Int] = None,
      expireKeepSnapshots: Option[Int] = None): StreamingQuery = {
    val spark = docsStream.sparkSession
    tfIndexSeed(spark, indexDir, historyDocs)
    maintenanceWriter(docsStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        tfIndexFoldBatch(spark, indexDir, batch.toDF(), batchId)
        maintainAppendTables(spark, s"$indexDir/tf", autoCompactAfter,
          expireKeepSnapshots)(s"$indexDir/tf" -> tfIndexSchema)
      }
      .start()
  }

  /** Seed the tf index from `historyDocs` unless commit evidence exists
    * — the seed half of [[tfIndexMaintenanceStream]], opened to the
    * registered stored-serving gate (`bm25_stored_top_docs`).
    */
  def tfIndexSeed(spark: SparkSession, indexDir: String,
      historyDocs: DataFrame): Unit =
    seedAppendTables(spark,
      s"$indexDir/tf" -> graft.operators.TextAnalysis.termFreqsOf(historyDocs))

  /** One tf-index micro-batch — the exact `foreachBatch` body of
    * [[tfIndexMaintenanceStream]] (one append generation, skipped once
    * committed), opened to the registered stored-serving gate so both
    * consumers run ONE fold spelling.
    */
  def tfIndexFoldBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    val tfDir = s"$indexDir/tf"
    if (appendFoldPending(spark, batchId, tfDir))
      writeAppend(spark, tfDir, batchId,
        graft.operators.TextAnalysis.termFreqsOf(batch))
  }

  private val chunkIndexSchema = StructType(Seq(
    StructField("h", StringType),
    StructField("doc_id", LongType),
    StructField("chunk_id", IntegerType)))

  private val chunkOutSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("n_chunks", LongType),
    StructField("n_removed", LongType),
    StructField("kept_md5", StringType)))

  /** The stored chunk-hash index (`h`, `doc_id`, `chunk_id` — every
    * occurrence; see [[graft.operators.Dedup.chunkHashesOf]] for why
    * per-occurrence grain is the erasure-sound one) and the per-batch
    * survivor output of [[chunkIngestDedup]].
    */
  def chunkIndexRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/chunks", chunkIndexSchema)

  def chunkOutRead(spark: SparkSession, outDir: String): DataFrame =
    appendRead(spark, outDir, chunkOutSchema)

  /** TIME-TRAVEL reads of the chunk tables — the state as of batch
    * `asOfBatch` ([[appendRead]]): what the index/output served the
    * moment that batch committed, failing loudly past the retention
    * horizon. The registered `chunk_index_asof` gate pins as-of ≡ the
    * prefix rebuild against the DuckDB oracle.
    */
  def chunkIndexReadAsOf(spark: SparkSession, indexDir: String,
      asOfBatch: Long): DataFrame =
    appendRead(spark, s"$indexDir/chunks", chunkIndexSchema, Some(asOfBatch))

  /** Incremental read of the chunk index ([[appendChanges]]): the
    * occurrence rows batches `fromExclusive+1 .. toInclusive` appended.
    */
  def chunkIndexChanges(spark: SparkSession, indexDir: String,
      fromExclusive: Long, toInclusive: Long): DataFrame =
    appendChanges(spark, s"$indexDir/chunks", chunkIndexSchema,
      fromExclusive, toInclusive)

  /** Compact the chunk index (the chunk table commits its own fold). */
  def compactChunkIndex(spark: SparkSession, indexDir: String): Unit = {
    val chunksDir = s"$indexDir/chunks"
    rewriteAppendTable(spark, chunksDir, chunkIndexSchema, chunksDir,
      requireSeed = true)()
  }

  /** RIGHT-TO-BE-FORGOTTEN over the chunk index — chunk hashes plus
    * positions reconstruct span structure (and the hashes are
    * dictionary-attackable for short spans), so the erasure story must
    * reach this tier; same erasure-as-rewrite shape as
    * [[forgetDocsFromPosIndex]]. Per-occurrence grain makes the
    * anti-join EXACTLY the filter-rebuild: a chunk still carried by a
    * surviving doc keeps that doc's rows and keeps matching future
    * ingests, while a chunk only the forgotten doc carried stops
    * matching — its ghost no longer dedups a re-submission
    * (StreamingSpec's ghost-probe pins both directions).
    */
  def forgetDocsFromChunkIndex(spark: SparkSession, indexDir: String,
      docs: DataFrame): Unit =
    withForgetList(docs, "doc_id") { ids =>
      val chunksDir = s"$indexDir/chunks"
      eraseKeysFromTable(spark, chunksDir, chunkIndexSchema, chunksDir,
        ids, "doc_id")
    }

  /** Seed the chunk index from `historyDocs` unless commit evidence
    * exists — the [[tfIndexSeed]] shape on the chunk grain. An EMPTY
    * history is legitimate (a crawl starting cold); the seed then
    * commits an empty table the first batch builds on.
    */
  def chunkIndexSeed(spark: SparkSession, indexDir: String,
      historyDocs: DataFrame): Unit =
    seedAppendTables(spark,
      s"$indexDir/chunks" -> graft.operators.Dedup.chunkHashesOf(historyDocs))

  /** One chunk-ingestion micro-batch — the exact `foreachBatch` body of
    * [[chunkIngestDedup]], opened to the registered stored-serving gate
    * (`docs_chunk_dedup_streamed`) so both consumers run ONE fold
    * spelling. A batch chunk is REMOVED when its hash already exists in
    * the STORED index as of the previous batch (any prior doc — history
    * or an earlier batch) or earlier within its own batch (smaller
    * `(doc_id, chunk_id)` — the batch [[graft.operators.Dedup.chunkDedup]]
    * first-occurrence rule, which the streamed form reproduces exactly
    * when batches arrive in doc-id order). Survivor reassembly is the
    * SHARED [[graft.operators.Dedup.chunkReassembly]] body. Output
    * generation first, index generation second — the index generation
    * commits the batch, and a replay rewrites both.
    *
    * 100 TB shape: the probe is a hash equi-join of the SMALL batch's
    * chunks against the stored index — the corpus is never re-chunked;
    * repeated boilerplate SPANS are caught at ingestion, composing with
    * the document-level MinHash probe ([[minhashIngestDedup]]) as the
    * two dedup grains a crawl pipeline runs side by side.
    */
  def chunkIngestFoldBatch(spark: SparkSession, outDir: String,
      indexDir: String, batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val chunksDir = s"$indexDir/chunks"
    if (appendFoldPending(spark, batchId, outDir, chunksDir)) {
      val batchChunks = Dedup.chunksOf(batch)
        .withColumn("h", md5(col("chunk_text"))).persist()
      try {
        val storedHashes = appendRead(spark, chunksDir, chunkIndexSchema,
            Some(batchId - 1))
          .select(col("h")).distinct()
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_id"))
        val flagged = batchChunks
          .withColumn("rn", row_number().over(w))
          .join(storedHashes.withColumn("seen", lit(1)), Seq("h"), "left")
          .withColumn("removed", col("rn") > 1 || col("seen").isNotNull)
        writeAppend(spark, outDir, batchId, Dedup.chunkReassembly(flagged))
        writeAppend(spark, chunksDir, batchId,
          batchChunks.select(col("h"), col("doc_id"), col("chunk_id")))
      } finally {
        batchChunks.unpersist()
        ()
      }
    }
  }

  /** INGESTION-TIME CHUNK (SPAN) DEDUP via `foreachBatch` — the stored-
    * index form of the batch `docs_chunk_dedup` gate: each micro-batch
    * chunks ONLY its own documents, probes the stored chunk-hash index
    * for spans already seen (history or any earlier batch), emits the
    * per-doc survivor record, and folds its own chunk rows in for the
    * next batch. The [[minhashIngestDedup]] commit/restart/redelivery
    * contract verbatim; StreamingSpec pins streamed-over-two-batches ≡
    * the batch query over the union, redelivery no-op, and erasure
    * through the index.
    */
  def chunkIngestDedup(docsStream: DataFrame, historyDocs: DataFrame,
      outDir: String, indexDir: String,
      checkpointDir: Option[String] = None,
      autoCompactAfter: Option[Int] = None,
      expireKeepSnapshots: Option[Int] = None): StreamingQuery = {
    val spark = docsStream.sparkSession
    chunkIndexSeed(spark, indexDir, historyDocs)
    maintenanceWriter(docsStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        chunkIngestFoldBatch(spark, outDir, indexDir, batch.toDF(), batchId)
        maintainAppendTables(spark, s"$indexDir/chunks", autoCompactAfter,
          expireKeepSnapshots)(s"$indexDir/chunks" -> chunkIndexSchema,
          outDir -> chunkOutSchema)
      }
      .start()
  }

  private val winnowIndexSchema = StructType(Seq(
    StructField("h", LongType),
    StructField("doc_id", LongType),
    StructField("p", LongType)))

  /** The STORED WINNOWING FINGERPRINT INDEX (r19 verdict #1 — the one
    * dedup grain that was still session-only): every selected
    * fingerprint OCCURRENCE (`h`, `doc_id`, `p`) as an append table,
    * the [[chunkIndexRead]] protocol at the fingerprint grain.
    * Per-occurrence grain is the erasure-sound one, exactly the
    * chunk index's argument: a fingerprint hash still carried by a
    * surviving document keeps that document's rows (and keeps matching
    * future ingests) while a hash only the forgotten document carried
    * vanishes — and fingerprints are derived TEXT state (a position
    * plus a 40-bit content hash, dictionary-attackable for short
    * blocks), so the right-to-be-forgotten story must reach this tier
    * the moment it is stored (erasure-certificate tier 15).
    */
  def winnowIndexRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/winnow", winnowIndexSchema)

  /** Seed the winnowing fingerprint index from `historyDocs` unless
    * commit evidence exists — the [[chunkIndexSeed]] shape. An EMPTY
    * history is legitimate (a crawl starting cold).
    */
  def winnowIndexSeed(spark: SparkSession, indexDir: String,
      historyDocs: DataFrame): Unit =
    seedAppendTables(spark, s"$indexDir/winnow" ->
      graft.operators.Dedup.winnowFingerprintsOf(historyDocs)
        .select(col("h"), col("doc_id"), col("p")))

  /** One winnowing-ingestion micro-batch — fingerprint ONLY the batch's
    * own documents (the same codegen [[graft.plans.WinnowFingerprints]]
    * pass the batch lineage runs — the fold must select exactly like
    * the batch query or the maintained index drifts from the rebuild)
    * and fold them in as one append generation. 100 TB shape: a nightly
    * crawl pays one batch-scale narrow selection pass; the corpus is
    * never re-fingerprinted.
    */
  def winnowIngestFoldBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    val winnowDir = s"$indexDir/winnow"
    if (appendFoldPending(spark, batchId, winnowDir))
      writeAppend(spark, winnowDir, batchId,
        graft.operators.Dedup.winnowFingerprintsOf(batch)
          .select(col("h"), col("doc_id"), col("p")))
  }

  /** INGESTION-TIME OVERLAP PROBE of the stored fingerprint index: the
    * (small) batch's fingerprints equi-join the stored occurrences on
    * the hash key, under the SAME stored-side df cap as the serving
    * join ([[graft.operators.Dedup]]'s `WinnowDfCap` skew guard — a
    * boilerplate hash carried by hundreds of stored documents is
    * dropped before it can fan the probe out), and pairs sharing ≥
    * `shareMin` distinct hashes surface as (new doc, prior doc) local
    * overlaps — the copied-block signal AT ARRIVAL, before the batch is
    * folded in. StreamingSpec pins both erasure directions through this
    * probe (a forgotten document must stop matching future ingests).
    */
  def winnowProbeStored(spark: SparkSession, indexDir: String,
      batch: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val bfp = Dedup.winnowFingerprintsOf(batch)
      .select(col("doc_id").alias("doc_new"), col("h")).distinct()
    val stored = winnowIndexRead(spark, indexDir)
      .select(col("doc_id").alias("doc_prior"), col("h")).distinct()
    val rare = stored.join(
      stored.groupBy(col("h")).agg(count(lit(1)).alias("df"))
        .filter(col("df") <= Dedup.WinnowDfCap),
      Seq("h"))
    bfp.join(rare, Seq("h"))
      .groupBy(col("doc_new"), col("doc_prior"))
      .agg(count(lit(1)).alias("n_shared"))
      .filter(col("n_shared") >= Dedup.WinnowShareMin)
  }

  /** RIGHT-TO-BE-FORGOTTEN over the winnowing fingerprint index —
    * erasure-as-rewrite, the [[forgetDocsFromChunkIndex]] shape at
    * the fingerprint grain (per-occurrence rows make the anti-join
    * exactly the filter-rebuild).
    */
  def forgetDocsFromWinnowIndex(spark: SparkSession, indexDir: String,
      docs: DataFrame): Unit =
    withForgetList(docs, "doc_id") { ids =>
      val winnowDir = s"$indexDir/winnow"
      eraseKeysFromTable(spark, winnowDir, winnowIndexSchema, winnowDir,
        ids, "doc_id")
    }

  /** STREAMING WINNOWING-INDEX MAINTENANCE via `foreachBatch` — the
    * stored-index form of the batch `winnowing_overlap_pairs` gate:
    * each micro-batch fingerprints only its own documents and folds
    * them in ([[winnowIngestFoldBatch]] — the exact foreachBatch body,
    * opened to the registered `winnowing_stored_overlap` gate so both
    * consumers run ONE fold spelling). Same commit/restart/redelivery
    * contract as [[chunkIngestDedup]].
    */
  def winnowIngestDedup(docsStream: DataFrame, historyDocs: DataFrame,
      indexDir: String, checkpointDir: Option[String] = None): StreamingQuery = {
    val spark = docsStream.sparkSession
    winnowIndexSeed(spark, indexDir, historyDocs)
    maintenanceWriter(docsStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        winnowIngestFoldBatch(spark, indexDir, batch.toDF(), batchId)
      }
      .start()
  }

  private val posIndexSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("pos", IntegerType),
    StructField("term", StringType)))

  /** The maintained token-POSITIONS index on disk — the positional twin
    * of the tf index ([[tfIndexRead]]): the (doc_id, pos, term) grain
    * phrase/proximity retrieval probes, maintained by APPEND exactly
    * like the tf table (documents are append-only; each batch tokenizes
    * only its own rows). At 100 TB this is the standard
    * positional-index layout a search tier stores beside the frequency
    * index.
    */
  def posIndexRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/pos", posIndexSchema)

  /** Time-travel read of the positions index ([[appendRead]] as of a batch). */
  def posIndexReadAsOf(spark: SparkSession, indexDir: String,
      asOfBatch: Long): DataFrame =
    appendRead(spark, s"$indexDir/pos", posIndexSchema, Some(asOfBatch))

  /** Seed the positions index from `historyDocs` unless commit evidence
    * exists — the [[tfIndexSeed]] shape on the positions grain.
    */
  def posIndexSeed(spark: SparkSession, indexDir: String,
      historyDocs: DataFrame): Unit =
    seedAppendTables(spark,
      s"$indexDir/pos" -> graft.operators.TextAnalysis.termPositionsOf(historyDocs))

  /** One positions-index micro-batch — one append generation, the
    * [[tfIndexFoldBatch]] shape. The replay evidence is the POS table's
    * own generation, never a record shared with the frequency index
    * beside it under `indexDir`: a shared record would make whichever
    * fold ran first silently swallow the other's batch.
    */
  def posIndexFoldBatch(spark: SparkSession, indexDir: String,
      batch: DataFrame, batchId: Long): Unit = {
    val posDir = s"$indexDir/pos"
    if (appendFoldPending(spark, batchId, posDir))
      writeAppend(spark, posDir, batchId,
        graft.operators.TextAnalysis.termPositionsOf(batch))
  }

  /** Compact the positions index (see [[rewriteAppendTable]]). */
  def compactPosIndex(spark: SparkSession, indexDir: String): Unit = {
    val posDir = s"$indexDir/pos"
    rewriteAppendTable(spark, posDir, posIndexSchema, posDir,
      requireSeed = true)()
  }

  /** RIGHT-TO-BE-FORGOTTEN over the positions index — token positions
    * reconstruct the document verbatim (stronger than shingles), so the
    * erasure story must reach this tier the moment it exists; same
    * erasure-as-rewrite shape as [[forgetDocsFromTfIndex]].
    */
  def forgetDocsFromPosIndex(spark: SparkSession, indexDir: String,
      docs: DataFrame): Unit =
    withForgetList(docs, "doc_id") { ids =>
      val posDir = s"$indexDir/pos"
      eraseKeysFromTable(spark, posDir, posIndexSchema, posDir, ids, "doc_id")
    }

  private val annCellsSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("v", ArrayType(LongType)),
    StructField("n2", LongType),
    StructField("cell", LongType)))

  private val annCodesSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("j", IntegerType),
    StructField("code", LongType)))

  /** RIGHT-TO-BE-FORGOTTEN over the maintained ANN INDEX — the
    * embeddings half of the erasure story: the stored cells/codes
    * tables hold PER-ITEM DERIVED DATA (an embedding is personal data
    * under GDPR exactly as the text that produced it is), so a deletion
    * request must reach them, not only the raw vectors. Every row of
    * the forgotten `vec_id`s leaves both tables by erasure-as-rewrite
    * ([[forgetDocsFromTfIndex]]'s shape): read the serving generations,
    * anti-join the delete list, commit a new rewrite and expire every
    * older generation immediately (they hold the forgotten rows).
    *
    * CELLS are erased FIRST — the mirror of the maintenance stream's
    * codes-before-cells write order, and for the same serving reason:
    * candidates come from the cells table and are ranked by their
    * codes, so in the crash window between the two erasures a
    * cells-erased vector can no longer be PROPOSED (its leftover codes
    * rows are invisible dead weight), whereas erasing codes first would
    * leave the vector proposable but unrankable. Idempotent: a re-run
    * anti-joins rows that are already gone (erasure jobs run until
    * success by regulation anyway). Quiesced-stream contract as always;
    * re-run after any replay regenerates a pre-erasure batch.
    *
    * Served-side guarantee (spec'd in StreamingSpec + the registered
    * `ann_forget_vectors` gate): after erasure a forgotten vector can
    * never be served as a neighbor, and serving over the erased index
    * equals serving over an index rebuilt with the SAME frozen
    * parameters from the surviving vectors only — erasure ≡
    * filter-rebuild through serving.
    */
  def forgetVectorsFromAnnIndex(spark: SparkSession, indexDir: String,
      vecIds: DataFrame): Unit =
    withForgetList(vecIds, "vec_id") { ids =>
      val cellsDir = s"$indexDir/cells"
      eraseKeysFromTable(spark, cellsDir, annCellsSchema, cellsDir,
        ids, "vec_id")
      eraseKeysFromTable(spark, s"$indexDir/codes", annCodesSchema, cellsDir,
        ids, "vec_id")
    }

  /** RIGHT-TO-BE-FORGOTTEN over the phash MEDIA index — the binary
    * tier's erasure: a perceptual hash is derived biometric-adjacent
    * data, so a forgotten asset must leave BOTH the band index (or it
    * keeps matching future ingest batches as a ghost neighbor) and the
    * served verified-pairs table (or the pair itself keeps publishing
    * the asset's near-dup relationships). Pairs are erased FIRST — they
    * are the externally SERVED surface, the bands only feed future
    * probes — each by an erasing rewrite. A pair is dropped when EITHER
    * endpoint is forgotten. Idempotent; quiesced-stream contract; the
    * registered `phash_forget_media` gate proves erasure ≡
    * filter-rebuild through the pair-serving plan.
    */
  def forgetMediaFromPhashIndex(spark: SparkSession, indexDir: String,
      pairsOutDir: String, mediaIds: DataFrame): Unit =
    withForgetList(mediaIds, "media_id") { ids =>
      val bandsDir = s"$indexDir/bands"
      erasePairEndpoints(spark, pairsOutDir, phashPairsSchema, bandsDir,
        ids, "media_a", "media_b")
      eraseKeysFromTable(spark, bandsDir, phashBandsSchema, bandsDir,
        ids, "media_id")
    }

  /** The maintained ANN index tables on disk (cells + PQ codes) — the
    * read side of [[annIndexMaintenanceStream]].
    */
  def annIndexCellsRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/cells", annCellsSchema)

  def annIndexCodesRead(spark: SparkSession, indexDir: String): DataFrame =
    appendRead(spark, s"$indexDir/codes", annCodesSchema)

  /** STREAMING ANN INDEX MAINTENANCE via `foreachBatch` — the streaming
    * form of the `ivfpq_maintained_recall_at_5` gate, completing the
    * symmetry: all FOUR incremental "≡ rebuild" gates (MinHash
    * index-probe, SCD2, aggregate maintenance, ANN index) now run under
    * Structured Streaming. The index parameters are FROZEN — `cents`
    * (`c_id`, `cv`, `cn2`) and `cb` (`j`, `c_id`, `cv`) come from the
    * caller's history-only training run — and each micro-batch of
    * quantized vectors (`vec_id`, `v`, `n2`) assigns to its nearest
    * frozen centroid and PQ-encodes with the frozen codebooks, APPENDING
    * both to the index tables (one append generation per table per
    * batch — the [[minhashIngestDedup]] commit shape; an append-only
    * index needs no partial rewrite). A restarted stream resumes against
    * the existing tables.
    *
    * CODES BEFORE CELLS, in the seed and in every batch, and the cells
    * generation commits: a crash between the two writes re-runs both.
    * The order is load-bearing for what a torn state SERVES in the
    * crash-to-replay window: candidates come from the cells table and
    * are ranked by their codes, so codes-without-cells rows are
    * invisible dead weight, while cells-without-codes would propose
    * candidates that cannot be ranked — the served top-k would silently
    * diverge until the replay.
    *
    * 100 TB posture: the nightly crawl pays only its own batch's N·C
    * assignment and N·m·k encoding — the stored corpus is never
    * re-scored; serving reads the appended tables through the identical
    * probe plan (StreamingSpec pins served-top-5 parity with the
    * batch-maintained gate after two micro-batches).
    */
  def annIndexMaintenanceStream(vectorsStream: DataFrame,
      historyCells: DataFrame, historyCodes: DataFrame,
      cents: DataFrame, cb: DataFrame, indexDir: String,
      checkpointDir: Option[String] = None): StreamingQuery = {
    import graft.operators.Similarity
    val spark = vectorsStream.sparkSession
    val cellsDir = s"$indexDir/cells"
    val codesDir = s"$indexDir/codes"
    seedAppendTables(spark, codesDir -> historyCodes, cellsDir -> historyCells)
    maintenanceWriter(vectorsStream, checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (appendFoldPending(spark, batchId, codesDir, cellsDir)) {
          val b = batch.toDF().persist()
          try {
            writeAppend(spark, codesDir, batchId, Similarity.pqEncodeWith(b, cb))
            writeAppend(spark, cellsDir, batchId, Similarity.assignCellsTo(b, cents))
          } finally {
            b.unpersist()
            ()
          }
        }
      }
      .start()
  }

  /** Drive a streaming aggregation to a named in-memory table and process
    * everything currently available (synchronous smoke harness — the
    * pattern the test suite uses).
    */
  def runToMemory(agg: DataFrame, name: String,
      outputMode: String = "complete"): StreamingQuery = {
    val q = agg.writeStream
      .outputMode(outputMode)
      .format("memory")
      .queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.processAllAvailable()
    q
  }
}
