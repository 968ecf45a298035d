package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic
import graft.io.Writes

/** Windowed analytics and exact distribution statistics beyond the basic
  * rank window (SURVEY.md §2c "window functions: none in reference").
  *
  * Determinism notes: running sums over a rows-frame accumulate in the
  * window's sort order — identical sequence in any engine, so doubles
  * compare exactly; percent_rank/cume_dist are integer-ratio divisions;
  * stddev is computed from exact integer power sums with an identical
  * final double formula on both sides (never from an engine's own
  * streaming variance, whose accumulation order is unspecified).
  */
object WindowAnalytics {

  /** Per-customer order timeline: row_number, running spend (rows frame),
    * previous-order gap in days (lag + datediff), quartile (ntile),
    * percent_rank and cume_dist by price within the customer.
    */
  def customerOrderTimeline(spark: SparkSession, sfDir: String): DataFrame = {
    val byDate = Window.partitionBy(col("customer_key"))
      .orderBy(col("order_date").asc, col("order_key").asc)
    val byPrice = Window.partitionBy(col("customer_key"))
      .orderBy(col("total_price").asc, col("order_key").asc)
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").alias("order_key"),
        col("o_custkey").alias("customer_key"),
        to_date(col("o_orderdate")).alias("order_date"),
        col("o_totalprice").alias("total_price"))
      .filter(col("customer_key") <= 50) // bounded output for the dump
      .select(
        col("order_key"), col("customer_key"), col("order_date"), col("total_price"),
        row_number().over(byDate).alias("order_seq"),
        // cumulative sum over exact cents: a double-typed running total is
        // NOT portable (engines may accumulate tree-wise, not row-wise)
        (sum(graft.functions.Deterministic.quantize(col("total_price"), 2))
          .over(byDate.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          / lit(100.0)).cast("double").alias("running_spend"),
        datediff(col("order_date"), lag(col("order_date"), 1).over(byDate))
          .alias("days_since_prev"),
        ntile(4).over(byPrice).alias("price_quartile"),
        percent_rank().over(byPrice).alias("price_pct_rank"),
        cume_dist().over(byPrice).alias("price_cume_dist"))
      .orderBy("customer_key", "order_seq")
  }

  /** Exact distribution stats per order status from integer power sums:
    * s1 = Σ round(price), s2 = Σ round(price)² (both exact BIGINTs —
    * round-to-dollars keeps s2 < 2⁶³ at any realistic SF), then
    * mean/stddev as one identical double formula per engine.
    */
  def orderPriceStats(spark: SparkSession, sfDir: String): DataFrame = {
    val q = graft.functions.Deterministic.quantize(col("o_totalprice"), 0)
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus").alias("order_status"))
      .agg(
        count(lit(1)).alias("n"),
        min(col("o_totalprice")).alias("min_price"),
        max(col("o_totalprice")).alias("max_price"),
        sum(q).alias("s1"),
        sum(q * q).alias("s2"))
      .select(
        col("order_status"), col("n"), col("min_price"), col("max_price"),
        (col("s1").cast("double") / col("n")).alias("mean_price"),
        sqrt((col("s2").cast("double") - col("s1").cast("double") * col("s1") / col("n"))
          / (col("n") - lit(1))).alias("stddev_price"))
      .orderBy("order_status")
  }

  /** Exact interpolated quantiles per status (`percentile`, not the
    * t-digest `approx_percentile` — at 100 TB the approx form is the
    * scale path, but its estimate is engine-specific; the exact form is
    * the verifiable one).
    */
  def orderPriceQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    exactPriceQuantiles(spark, sfDir).orderBy("order_status")

  /** The exact per-status quantile trio — memoized + persisted because
    * TWO registered queries aggregate it (the exact gate and the approx
    * gate's exact twin), and spelled as ONE array-argument `percentile`
    * so each group buffers its values once instead of three times
    * (identical interpolated values, one aggregate buffer per group).
    */
  private def exactPriceQuantiles(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoized(s"windowanalytics.priceQuantiles:$sfDir")(
      graft.CacheLifecycle.sessionPersist(
        Tables.orders(spark, sfDir)
          .groupBy(col("o_orderstatus").alias("order_status"))
          .agg(percentile(col("o_totalprice"),
            array(lit(0.25), lit(0.5), lit(0.75))).alias("ps"))
          .select(col("order_status"),
            col("ps").getItem(0).alias("p25"),
            col("ps").getItem(1).alias("p50"),
            col("ps").getItem(2).alias("p75"))))

  /** RANGE-frame window: for each order, the same customer's order count
    * and exact revenue over the TRAILING 30 DAYS (value-based frame, not
    * row-based — simultaneous/drought periods change the frame width per
    * row). Ordering key is the epoch-day integer, so the frame bound is
    * an exact integer offset in both engines; the framed sum runs over
    * quantized longs (tree-accumulation-safe) and divides once per row.
    * One shuffle on the customer key, like every window here.
    */
  def customerOrders30d(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("customer_key"))
      .orderBy(col("day_num"))
      .rangeBetween(-30, 0)
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").alias("order_key"),
        col("o_custkey").alias("customer_key"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").alias("day_num"),
        Deterministic.quantize(col("o_totalprice"), 2).alias("price_q"))
      .select(col("order_key"), col("customer_key"), col("day_num"),
        count(lit(1)).over(w).alias("n_orders_30d"),
        (sum(col("price_q")).over(w) / lit(100.0)).cast("double")
          .alias("revenue_30d"))
      .orderBy("order_key")
  }

  /** Forward-looking window: days until each customer's NEXT order
    * (`lead` — the mirror of the timeline query's `lag`), null on the
    * last order. Same single shuffle on the customer key.
    */
  def customerNextOrderGap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("customer_key"))
      .orderBy(col("day_num").asc, col("order_key").asc)
    Tables.orders(spark, sfDir)
      .select(
        col("o_orderkey").alias("order_key"),
        col("o_custkey").alias("customer_key"),
        datediff(to_date(col("o_orderdate")), lit("1970-01-01").cast("date"))
          .cast("long").alias("day_num"))
      .select(col("order_key"), col("customer_key"), col("day_num"),
        (lead(col("day_num"), 1).over(w) - col("day_num"))
          .alias("days_to_next_order"))
      .orderBy("order_key")
  }

  /** Scale path of the exact quantiles: `approx_percentile` (a mergeable
    * QuantileSummaries sketch — one pass, bounded memory, partial
    * aggregation) versus the exact interpolated percentile which must
    * sort each group. Sketch estimates are engine-specific, so the
    * VERIFIED output is the exact quantiles plus a boolean asserting
    * every approximate quantile landed within 2% of its exact value —
    * the oracle pins the exact values and expects `true` (the bounded-
    * gate pattern of `text_vocab_approx`). Gate spelling only: production
    * keeps the one-pass sketch aggregation without the exact twin.
    */
  def orderPriceQuantilesApprox(spark: SparkSession, sfDir: String): DataFrame = {
    def ok(approx: org.apache.spark.sql.Column,
        exact: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      abs(approx - exact) <= abs(exact) * lit(0.02)
    // the exact trio rides the shared memoized frame (one buffering
    // aggregate per session, not one per gate); the sketch side is one
    // array-argument approx_percentile — a single QuantileSummaries
    // buffer per group instead of three. The 3-row × 3-row equi-join
    // replaces nothing but in-plan duplication; values are identical.
    Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus").alias("order_status"))
      .agg(percentile_approx(col("o_totalprice"),
        array(lit(0.25), lit(0.5), lit(0.75)), lit(1000)).alias("as_"))
      .join(exactPriceQuantiles(spark, sfDir), Seq("order_status"))
      .select(col("order_status"), col("p25"), col("p50"), col("p75"),
        (ok(col("as_").getItem(0), col("p25")) &&
          ok(col("as_").getItem(1), col("p50")) &&
          ok(col("as_").getItem(2), col("p75"))).alias("approx_within_2pct"))
      .orderBy("order_status")
  }

  /** Gaps-and-islands CHANGE COMPACTION — the SCD-Type-2 build primitive:
    * each customer's order stream (ordered by order timestamp, key
    * tie-break) collapses into runs of consecutive equal order priority,
    * one validity interval per run: `[valid_from, valid_to]` (observed
    * bounds) plus the SCD2 exclusive upper bound `valid_until` = next
    * interval's `valid_from` (NULL = current version). This is the
    * operator that turns an append-only event/CDC log into a versioned
    * dimension.
    *
    * Shape: island ids come from the classic lag-change flag + running
    * count — two window passes over ONE (customer_key, order) sort (same
    * partitioning and ordering, so Catalyst plans a single shuffle +
    * sort), then a partial-aggregated groupBy on (customer, island) and
    * one tiny lead window over the compacted intervals (orders-of-
    * magnitude fewer rows than the input). Per-customer history is
    * bounded in any real workload, so the window partitions never skew
    * the way a per-language corpus window would ([[Curation]]'s sharded
    * rank covers that regime).
    */
  private[graft] def priorityIntervalHistoryOf(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("customer_key"))
      .orderBy(col("o_orderdate").asc, col("order_key").asc)
    val flagged = orders
      .select(col("o_custkey").alias("customer_key"),
        col("o_orderkey").alias("order_key"),
        col("o_orderdate"),
        col("o_orderpriority").alias("priority"))
      .withColumn("chg",
        when(lag(col("priority"), 1).over(w).isNull ||
          lag(col("priority"), 1).over(w) =!= col("priority"), 1L).otherwise(0L))
    val intervals = flagged
      .withColumn("island", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("customer_key"), col("island"))
      // min(priority) = the run's constant priority (an island is a run of
      // equal values by construction)
      .agg(min(col("priority")).alias("priority"),
        to_date(min(col("o_orderdate"))).alias("valid_from"),
        to_date(max(col("o_orderdate"))).alias("valid_to"),
        count(lit(1)).alias("n_orders"))
    val byIsland = Window.partitionBy(col("customer_key")).orderBy(col("island"))
    intervals
      .withColumn("valid_until", lead(col("valid_from"), 1).over(byIsland))
  }

  private def priorityIntervalHistory(spark: SparkSession, sfDir: String): DataFrame =
    // memoized + persisted: four consumers (the interval gate, the SCD2
    // dimension, the correction seed, the incremental gate's oracle
    // twin) each re-ran the two gaps-and-islands window passes over the
    // order table otherwise — the run grain is orders-of-magnitude
    // smaller than its input, exactly what a session pin is for
    graft.CacheLifecycle.memoized(s"windowanalytics.intervalHistory:$sfDir")(
      graft.CacheLifecycle.sessionPersist(
        priorityIntervalHistoryOf(Tables.orders(spark, sfDir))))

  /** SCD2 APPLY-CHANGES (incremental merge): fold a CDC batch into an
    * existing interval history WITHOUT rebuilding unaffected keys. The
    * batch is compacted into runs by the same gaps-and-islands pass,
    * appended after each key's existing runs, and a SECOND islands pass
    * over the RUN stream merges across the boundary (a new run whose
    * value equals the key's current version extends that version —
    * `valid_to` advances and `n_orders` accumulates — while a changed
    * value closes it and opens the next). Versions renumber by interval
    * order per key, so the merged history is ROW-IDENTICAL to the
    * from-scratch build over the full input — the registered incremental
    * query's oracle IS the from-scratch SQL, making that equivalence a
    * driver-gate fact rather than a unit assertion.
    *
    * Contract: append-only CDC — every batch row for a key is at or
    * after that key's last `valid_from` (out-of-order history belongs to
    * the from-scratch build). The contract is ENFORCED by default
    * (`enforceAppendOnly`): per affected key, the batch's min order date
    * is checked against the history's max `valid_from` — one small
    * eager action over the compact run grain plus a batch key aggregate
    * — and a violation fails loudly with the offending keys instead of
    * returning a silently wrong merged dimension. A caller whose batch
    * satisfies the contract BY CONSTRUCTION (e.g. the registered
    * incremental query's strict date split) may pass
    * `enforceAppendOnly = false` to skip the check's job. `seq` orders
    * runs within equal `valid_from` (existing runs carry their version,
    * batch runs their island offset past any version), which can only
    * matter for same-day changes.
    *
    * Scale shape: both islands passes and the final lead window sort the
    * RUN grain (orders-of-magnitude smaller than the event grain); the
    * unaffected-key rows never shuffle at all in a real deployment
    * (they'd be partition-pruned by the affected-key anti-join; here the
    * merged history recomputes per affected key only).
    */
  def scd2ApplyChanges(history: DataFrame, changes: DataFrame,
      enforceAppendOnly: Boolean = true): DataFrame = {
    if (enforceAppendOnly) {
      val batchMin = changes.groupBy(col("o_custkey").alias("customer_key"))
        .agg(to_date(min(col("o_orderdate"))).alias("batch_min_date"))
      val histMax = history.groupBy(col("customer_key"))
        .agg(max(col("valid_from")).alias("hist_max_from"))
      val violating = batchMin.join(histMax, Seq("customer_key"))
        .filter(col("batch_min_date") < col("hist_max_from"))
        .select(col("customer_key")).limit(10).collect().map(_.get(0))
      require(violating.isEmpty,
        s"scd2ApplyChanges: append-only CDC contract violated — batch rows " +
          s"predate the last valid_from for keys ${violating.mkString(", ")}" +
          s" (first 10); out-of-order history needs the from-scratch build")
    }
    val affected = changes.select(col("o_custkey").alias("customer_key")).distinct()
    val carried = history.join(affected, Seq("customer_key"), "left_anti")
    val oldRuns = history.join(affected, Seq("customer_key"), "left_semi")
      .select(col("customer_key"), col("island").alias("seq"),
        col("priority"), col("valid_from"), col("valid_to"), col("n_orders"))
    val batchRuns = priorityIntervalHistoryOf(changes)
      .select(col("customer_key"), (col("island") + lit(1L << 40)).alias("seq"),
        col("priority"), col("valid_from"), col("valid_to"), col("n_orders"))
    val w = Window.partitionBy(col("customer_key"))
      .orderBy(col("valid_from").asc, col("seq").asc)
    val merged = oldRuns.unionByName(batchRuns)
      .withColumn("chg",
        when(lag(col("priority"), 1).over(w).isNull ||
          lag(col("priority"), 1).over(w) =!= col("priority"), 1L).otherwise(0L))
      .withColumn("mi", sum(col("chg"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("customer_key"), col("mi"))
      .agg(min(col("priority")).alias("priority"),
        min(col("valid_from")).alias("valid_from"),
        max(col("valid_to")).alias("valid_to"),
        sum(col("n_orders")).alias("n_orders"))
      .withColumnRenamed("mi", "island")
    val byIsland = Window.partitionBy(col("customer_key")).orderBy(col("island"))
    carried.unionByName(
      merged.withColumn("valid_until", lead(col("valid_from"), 1).over(byIsland)))
  }

  /** POINT-IN-TIME snapshot of the SCD2 dimension — the query every
    * consumer of a versioned dimension actually runs ("the customer's
    * state as of date D"): the one version per key whose half-open
    * validity window `[valid_from, valid_until)` covers D, open versions
    * covering everything from their `valid_from` on. Customers whose
    * history starts after D are absent (they did not exist yet). A pure
    * filter over the dimension — at scale this is the predicate a
    * date-partitioned or z-ordered dimension layout prunes on.
    */
  def dimCustomerSnapshot(spark: SparkSession, sfDir: String): DataFrame = {
    val d = lit("1997-06-01").cast("date")
    dimCustomerScd2(spark, sfDir)
      .filter(col("valid_from") <= d &&
        (col("valid_until").isNull || col("valid_until") > d))
      .orderBy("customer_key")
  }

  /** Snapshot date of the PRUNED scan — deliberately LATE in the
    * fixture's 1995-2001 history (unlike [[dimCustomerSnapshot]]'s
    * mid-history 1997 date) so that most versions are closed before it
    * and the year(valid_until) partitioning has something to prune.
    */
  private val PrunedSnapshotDate = "2000-06-01"

  private[graft] def scd2LayoutDir(sfDir: String): String =
    Layout.tmpPath("graft-scd2layout", sfDir)

  /** PARTITION-PRUNED SCD2 SNAPSHOT — [[dimCustomerSnapshot]]'s scaladoc
    * names the layout a versioned dimension prunes on at scale; this
    * query makes that a GATE FACT the way `zorder_pruned_scan` did for
    * z-order: the dimension is written date-partitioned and the snapshot
    * predicate provably skips most partitions (ScalePostureSpec asserts
    * partitions read < half), while the oracle is the UNPARTITIONED
    * twin's SQL verbatim (same projection, snapshot date 2000-06-01 —
    * late in the fixture's 1995-2001 history so most versions are
    * CLOSED by then, which is the long-lived-dimension regime the
    * layout exists for) — a row lost, duplicated, or mutated by the
    * layout round trip fails the hash gate.
    *
    * The partition key is `year(valid_until)` (open versions → sentinel
    * 9999), NOT `year(valid_from)`: a point-in-time snapshot keeps only
    * versions still valid AT the date — `valid_until > D OR NULL` — and
    * in a long-lived dimension almost every version is CLOSED BEFORE the
    * snapshot date (at 2000-06-01, 5 of the 8 year partitions), whereas
    * `valid_from <= D` keeps nearly all of history (only future years
    * prune). The pruning predicate `valid_until_year >= year(D)` is
    * IMPLIED by the exact predicate (`valid_until > D ⟹ year ≥
    * year(D)`; NULL → 9999 ≥ anything), so adding it changes no rows —
    * the standard derived-partition-key pattern.
    *
    * Memoized DURABLY like the z-order layout: the partitioned write
    * runs once per JVM and survives cache resets, so bench loops pay
    * only the pruned read — the production path this query exercises.
    */
  def scd2SnapshotPrunedScan(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"windowanalytics.scd2Pruned:$sfDir") {
      val dir = scd2LayoutDir(sfDir)
      Writes.of(dimCustomerScd2(spark, sfDir)
          .withColumn("valid_until_year",
            coalesce(year(col("valid_until")), lit(9999))))
        .mode("overwrite").partitionBy("valid_until_year").parquet(dir)
      prunedSnapshotRead(spark, dir)
        .select(col("customer_sk"), col("customer_key"), col("customer_name"),
          col("mkt_segment"), col("nation"), col("priority"), col("version"),
          col("valid_from"), col("valid_to"), col("valid_until"),
          col("is_current"))
        .orderBy("customer_key")
    }

  /** The snapshot scan over a written SCD2 layout, pre-projection —
    * shared with the ScalePostureSpec pruning measurement.
    */
  private[graft] def prunedSnapshotRead(spark: SparkSession, dir: String): DataFrame = {
    val d = lit(PrunedSnapshotDate).cast("date")
    spark.read.parquet(dir)
      .filter(col("valid_until_year") >= year(d) &&
        col("valid_from") <= d &&
        (col("valid_until").isNull || col("valid_until") > d))
  }

  /** Registered incremental SCD2 build: the dimension from pre-1997
    * history with every 1997+ order applied through [[scd2ApplyChanges]]
    * — the oracle is [[dimCustomerScd2]]'s from-scratch SQL over the
    * FULL order table, so the driver gate proves incremental ≡ rebuild
    * on every run.
    */
  def dimCustomerScd2Incremental(spark: SparkSession, sfDir: String): DataFrame = {
    val orders = Tables.orders(spark, sfDir)
    val cutoff = lit("1997-01-01").cast("timestamp")
    val history = priorityIntervalHistoryOf(orders.filter(col("o_orderdate") < cutoff))
    // the strict date split satisfies the append-only contract BY
    // CONSTRUCTION (every batch date >= cutoff > every history date), so
    // the guard's check job is skipped here
    val merged = scd2ApplyChanges(history,
      orders.filter(col("o_orderdate") >= cutoff), enforceAppendOnly = false)
    scd2Dimension(spark, sfDir, merged)
  }

  def customerPriorityIntervals(spark: SparkSession, sfDir: String): DataFrame =
    priorityIntervalHistory(spark, sfDir).orderBy("customer_key", "island")

  /** TIME TRAVEL ON THE VERSIONED DIMENSION (the SCD2 face of the
    * copy-on-write bucket-generation layout, beside `fact_totals_asof`):
    * the SCD2 interval history lives as a VERSIONED bucketed table —
    * history (orders before the cutover) seeds the baseline, tonight's
    * CDC batch folds through the same
    * [[scd2ApplyChanges]] into its own generation
    * ([[graft.streaming.EventStream.scd2FoldBatchVersioned]]) — and
    * this gate serves the dimension AS OF batch −1: every interval
    * chain exactly as it stood BEFORE the batch, including the
    * `valid_until`/`is_current` frontier the apply-changes fold
    * REWRITES when a key's chain extends (the state an in-place
    * merge destroys — and the reason SCD2 is the harder time-travel
    * case than additive totals: the batch doesn't just add rows, it
    * mutates the open versions of every affected key). Oracle = the
    * from-scratch SCD2 dimension over EXACTLY the history window
    * (the parameterized gaps-and-islands CTE chain), so a
    * batch-extended chain served past the bound, a lost frontier
    * rewrite, or a stale generation resolved all fail the hash.
    *
    * 100 TB shape: the as-of read is a listing filter over bucket
    * generations — zero data copy; the batch paid one generation write
    * of its touched buckets, the same write volume a partial in-place
    * rewrite would pay.
    */
  def dimCustomerScd2Asof(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"windowanalytics.scd2Asof:$sfDir") {
      import graft.streaming.EventStream
      val stateDir = Layout.tmpPath("graft-scd2asof", sfDir)
      val orders = Tables.orders(spark, sfDir)
      val cutoff = lit("1997-01-01").cast("timestamp")
      val hist = priorityIntervalHistoryOf(
        orders.filter(col("o_orderdate") < cutoff))
      EventStream.seedVersionedState(hist, "customer_key", stateDir)
      EventStream.scd2FoldBatchVersioned(spark, stateDir,
        EventStream.scd2VersionedSchema(hist.schema),
        orders.filter(col("o_orderdate") >= cutoff), batchId = 0L)
      scd2Dimension(spark, sfDir,
        EventStream.scd2VersionedReadAsOf(spark, stateDir, hist.schema,
          asOfBatch = -1L))
    }

  /** RIGHT-TO-BE-FORGOTTEN over the versioned dimension — the registered
    * face of [[graft.streaming.EventStream.forgetKeys]]: the SCD2
    * dimension is seeded as a versioned state table (the streaming
    * maintenance layout), every version of the customers in the erasure
    * list (`customer_key % 97 == 3` — the fixture's stand-in for a GDPR
    * request queue) is deleted by a forget generation holding only the
    * buckets those keys hash into, and the SERVED table is what this
    * query returns. The oracle is the from-scratch dimension SQL with the
    * erasure predicate — so the gate proves delete-propagation ≡
    * filter-rebuild, the erasure twin of the incremental gates'
    * maintain ≡ rebuild theorem. Byte-identity of untouched buckets,
    * emptied-bucket clearing and the expired pre-erasure history are
    * spec'd in StreamingSpec.
    *
    * Memoized durably (the [[scd2SnapshotPrunedScan]] discipline): seed +
    * erase run once per JVM; the returned lineage is only the state-table
    * scan. Idempotent end-to-end — a second JVM finds the seed and the
    * forget generation committed and re-runs nothing.
    */
  def dimCustomerForgetKeys(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"windowanalytics.scd2Forget:$sfDir") {
      import graft.streaming.EventStream
      val stateDir = Layout.tmpPath("graft-scd2forgetlog", sfDir)
      val dim = dimCustomerScd2(spark, sfDir)
      val schema = EventStream.scd2VersionedSchema(dim.schema)
      EventStream.seedVersionedState(dim, "customer_key", stateDir)
      // no distinct here: forgetKeys distincts its list itself, and
      // filter-before-anything avoids aggregating every dimension key
      EventStream.forgetKeys(spark, stateDir, schema, "customer_key",
        dim.select(col("customer_key"))
          .filter(pmod(col("customer_key"), lit(97L)) === 3L), batchId = 0L)
      EventStream.versionedRead(spark, stateDir, schema)
        .orderBy("customer_sk")
    }

  /** The correction gate's retraction rule — orders voided after the
    * fact (`customer_key % 7 == 2` from [[RetractCutoff]] on, the
    * fixture's stand-in for a correction feed). ONE spelling for the
    * Spark side and (via [[retractKeepSql]]) the DuckDB oracle.
    */
  private val RetractCutoff = "1998-01-01"

  private def retractedRule(custkey: org.apache.spark.sql.Column,
      orderdate: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(custkey, lit(7L)) === 2L &&
      orderdate >= lit(RetractCutoff).cast("timestamp")

  private val retractKeepSql =
    s"NOT (o_custkey % 7 = 2 AND o_orderdate >= TIMESTAMP '$RetractCutoff')"

  /** CDC CORRECTION / RETRACTION through the versioned SCD2 state — the
    * SIXTH incremental "≡ rebuild" gate (after MinHash index, SCD2
    * append, totals, term stats, ANN index): [[scd2ApplyChanges]]
    * rejects out-of-order batches by contract, and this is the path a
    * real feed then takes — a retraction batch voids orders
    * retroactively ([[retractedRule]]), the feed re-sends each affected
    * key's full corrected order stream, and
    * [[graft.streaming.EventStream.scd2CorrectKeysVersioned]] replaces
    * exactly those keys' interval chains in a forget generation holding
    * only the buckets they hash into. The oracle is the from-scratch
    * dimension SQL over the corrected order stream — correction ≡
    * rebuild as a driver-gate fact. Untouched-bucket byte-identity and
    * idempotent replay are spec'd in StreamingSpec.
    *
    * Memoized durably (the [[dimCustomerForgetKeys]] discipline): seed +
    * correct run once per JVM behind the state table's commit evidence;
    * a second JVM finds the correction's generation committed and
    * replays it as a no-op.
    */
  def dimCustomerScd2Corrected(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"windowanalytics.scd2Correct:$sfDir") {
      import graft.streaming.EventStream
      val stateDir = Layout.tmpPath("graft-scd2correctlog", sfDir)
      val orders = Tables.orders(spark, sfDir)
      val hist = priorityIntervalHistory(spark, sfDir)
      val schema = EventStream.scd2VersionedSchema(hist.schema)
      EventStream.seedVersionedState(hist, "customer_key", stateDir)
      val retracted = retractedRule(col("o_custkey"), col("o_orderdate"))
      val affected = orders.filter(retracted)
        .select(col("o_custkey").alias("customer_key")).distinct()
      val corrected = orders
        .join(affected, col("o_custkey") === col("customer_key"), "left_semi")
        .filter(!retracted)
      EventStream.scd2CorrectKeysVersioned(spark, stateDir, schema,
        affected, corrected, batchId = 0L)
      scd2Dimension(spark, sfDir, EventStream.versionedRead(spark, stateDir, schema))
        .orderBy("customer_sk")
    }

  /** SCD-TYPE-2 DIMENSION BUILD — the versioned `dim_customer_scd2` the
    * standard warehouse pattern produces from a change history: one row
    * per (customer, attribute version) carrying the static customer
    * attributes, the tracked attribute's value for that validity window,
    * `valid_from`/`valid_to` (observed bounds), the exclusive
    * `valid_until` (NULL on the open/current version), `is_current`, and
    * a SURROGATE KEY. The change history is [[priorityIntervalHistory]]
    * (the gaps-and-islands compaction); the reference's star schema
    * (transform_to_bq.py:102-110) builds only the Type-1 current-state
    * dimension — this is the Type-2 extension.
    *
    * The surrogate key is the ARITHMETIC composite
    * `customer_key · 2²⁰ + version` — deterministic and computed
    * per-row with no coordination, unlike `monotonically_increasing_id`
    * (nondeterministic across retries: a re-executed task re-draws ids,
    * so a join written against a lost dimension partition stops
    * matching) or a global `row_number()` (one-partition sort of the
    * whole dimension). Capacity: 2²⁰ versions per customer — an
    * attribute changing hourly for 120 years; natural keys above 2⁴³
    * would overflow and take a wider split, not a different design.
    *
    * Scale shape: one equi-join of the compacted history against the
    * customer dimension (shuffle on the customer key; the history is
    * orders-of-magnitude smaller than the fact table that produced it)
    * plus a broadcast of the 25-row nation dim.
    */
  def dimCustomerScd2(spark: SparkSession, sfDir: String): DataFrame =
    // memoized + persisted: the snapshot gate, the forget-keys seed and
    // the pruned-layout write all re-derive the full dimension otherwise
    graft.CacheLifecycle.memoized(s"windowanalytics.scd2Dim:$sfDir")(
      graft.CacheLifecycle.sessionPersist(
        scd2Dimension(spark, sfDir, priorityIntervalHistory(spark, sfDir))))

  /** The attribute join + surrogate projection shared by the from-scratch
    * and incremental SCD2 builds; `hist` is an interval history frame.
    */
  private def scd2Dimension(spark: SparkSession, sfDir: String,
      hist: DataFrame): DataFrame = {
    val cust = Tables.customer(spark, sfDir).select(
      col("c_custkey"), col("c_name"), col("c_mktsegment"), col("c_nationkey"))
    val nat = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    hist.join(cust, col("customer_key") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(
        (col("customer_key") * lit(1048576L) + col("island")).alias("customer_sk"),
        col("customer_key"),
        col("c_name").alias("customer_name"),
        col("c_mktsegment").alias("mkt_segment"),
        col("n_name").alias("nation"),
        col("priority"),
        col("island").alias("version"),
        col("valid_from"), col("valid_to"), col("valid_until"),
        col("valid_until").isNull.alias("is_current"))
      .orderBy("customer_sk")
  }

  /** Shared gaps-and-islands CTEs (DuckDB twin of
    * [[priorityIntervalHistory]]) — spliced into both the interval query
    * and the SCD2 dimension oracle so the island rule cannot drift.
    */
  private val priorityIntervalTailCtes =
    """
      |isl AS (
      |  SELECT *, CAST(sum(chg) OVER (PARTITION BY customer_key
      |         ORDER BY o_orderdate ASC, order_key ASC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |         AS island
      |  FROM seq),
      |iv AS (
      |  SELECT customer_key, island, min(priority) AS priority,
      |         CAST(min(o_orderdate) AS DATE) AS valid_from,
      |         CAST(max(o_orderdate) AS DATE) AS valid_to,
      |         CAST(count(*) AS BIGINT) AS n_orders
      |  FROM isl GROUP BY 1, 2),
      |hist AS (
      |  SELECT customer_key, island, priority, valid_from, valid_to, n_orders,
      |         lead(valid_from, 1) OVER (PARTITION BY customer_key
      |           ORDER BY island) AS valid_until
      |  FROM iv)""".stripMargin

  /** The gaps-and-islands CTE chain over an arbitrary order source —
    * `src` is the FROM clause body, so the correction gate runs the
    * identical automaton over the retraction-filtered stream.
    */
  private def priorityIntervalCtesOver(src: String) =
    s"""seq AS (
      |  SELECT o_custkey AS customer_key, o_orderkey AS order_key,
      |         o_orderdate, o_orderpriority AS priority,
      |         CASE WHEN lag(o_orderpriority) OVER w IS NULL
      |                OR lag(o_orderpriority) OVER w <> o_orderpriority
      |              THEN 1 ELSE 0 END AS chg
      |  FROM $src
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate ASC, o_orderkey ASC)),""".stripMargin +
    priorityIntervalTailCtes

  private val priorityIntervalCtes = priorityIntervalCtesOver("orders")

  /** The SCD2 dimension SELECT every versioned-dimension oracle shares
    * (projection + attribute joins + surrogate key), appended to a CTE
    * chain ending at `hist`.
    */
  private def scd2DimensionSelectSql(where: String = "") =
    s"""SELECT customer_key * 1048576 + island AS customer_sk,
       |       customer_key,
       |       c_name AS customer_name,
       |       c_mktsegment AS mkt_segment,
       |       n_name AS nation,
       |       priority,
       |       island AS version,
       |       valid_from, valid_to, valid_until,
       |       valid_until IS NULL AS is_current
       |FROM hist
       |JOIN customer ON customer_key = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |$where
       |ORDER BY customer_sk""".stripMargin

  val oracles: Map[String, String] = Map(
    // correction ≡ rebuild: the from-scratch dimension SQL over the
    // RETRACTION-FILTERED order stream — a chain the correction failed
    // to rewrite (or rewrote for an unaffected key) fails the hash
    "dim_customer_scd2_corrected" ->
      s"""WITH ${priorityIntervalCtesOver(
             s"(SELECT * FROM orders WHERE $retractKeepSql)")}
         |${scd2DimensionSelectSql()}""".stripMargin,
    "customer_priority_intervals" ->
      s"""WITH $priorityIntervalCtes
         |SELECT customer_key, island, priority, valid_from, valid_to,
         |       n_orders, valid_until
         |FROM hist ORDER BY customer_key, island""".stripMargin,
    "dim_customer_snapshot" ->
      s"""WITH $priorityIntervalCtes
         |SELECT customer_key * 1048576 + island AS customer_sk,
         |       customer_key,
         |       c_name AS customer_name,
         |       c_mktsegment AS mkt_segment,
         |       n_name AS nation,
         |       priority,
         |       island AS version,
         |       valid_from, valid_to, valid_until,
         |       valid_until IS NULL AS is_current
         |FROM hist
         |JOIN customer ON customer_key = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE valid_from <= DATE '1997-06-01'
         |  AND (valid_until IS NULL OR valid_until > DATE '1997-06-01')
         |ORDER BY customer_key""".stripMargin,
    // the pruned layout's oracle is the UNPARTITIONED snapshot SQL
    // verbatim: passing the gate proves the partitioned round trip
    // lossless; the pruning payoff itself is plan-asserted in
    // ScalePostureSpec
    "scd2_snapshot_pruned_scan" ->
      s"""WITH $priorityIntervalCtes
         |SELECT customer_key * 1048576 + island AS customer_sk,
         |       customer_key,
         |       c_name AS customer_name,
         |       c_mktsegment AS mkt_segment,
         |       n_name AS nation,
         |       priority,
         |       island AS version,
         |       valid_from, valid_to, valid_until,
         |       valid_until IS NULL AS is_current
         |FROM hist
         |JOIN customer ON customer_key = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE valid_from <= DATE '2000-06-01'
         |  AND (valid_until IS NULL OR valid_until > DATE '2000-06-01')
         |ORDER BY customer_key""".stripMargin,
    // the incremental build's oracle is the FROM-SCRATCH dimension SQL:
    // passing the gate means applying the 1997+ batch onto the pre-1997
    // dimension reproduced the full-history rebuild row-for-row
    // the as-of gate: the from-scratch dimension over EXACTLY the
    // pre-batch history window — what the versioned read must serve
    "dim_customer_scd2_asof" ->
      s"""WITH ${priorityIntervalCtesOver(
             "(SELECT * FROM orders WHERE o_orderdate < '1997-01-01') o")}
         |${scd2DimensionSelectSql()}""".stripMargin,
    "dim_customer_scd2_incremental" ->
      s"""WITH $priorityIntervalCtes
         |SELECT customer_key * 1048576 + island AS customer_sk,
         |       customer_key,
         |       c_name AS customer_name,
         |       c_mktsegment AS mkt_segment,
         |       n_name AS nation,
         |       priority,
         |       island AS version,
         |       valid_from, valid_to, valid_until,
         |       valid_until IS NULL AS is_current
         |FROM hist
         |JOIN customer ON customer_key = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY customer_sk""".stripMargin,
    "dim_customer_scd2" ->
      s"""WITH $priorityIntervalCtes
         |SELECT customer_key * 1048576 + island AS customer_sk,
         |       customer_key,
         |       c_name AS customer_name,
         |       c_mktsegment AS mkt_segment,
         |       n_name AS nation,
         |       priority,
         |       island AS version,
         |       valid_from, valid_to, valid_until,
         |       valid_until IS NULL AS is_current
         |FROM hist
         |JOIN customer ON customer_key = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY customer_sk""".stripMargin,
    // the erasure gate: delete-propagation through the bucketed state
    // table must equal the from-scratch dimension with the erasure
    // predicate — a version surviving for a forgotten key, or lost for a
    // kept one, fails the hash
    "dim_customer_forget_keys" ->
      s"""WITH $priorityIntervalCtes
         |SELECT customer_key * 1048576 + island AS customer_sk,
         |       customer_key,
         |       c_name AS customer_name,
         |       c_mktsegment AS mkt_segment,
         |       n_name AS nation,
         |       priority,
         |       island AS version,
         |       valid_from, valid_to, valid_until,
         |       valid_until IS NULL AS is_current
         |FROM hist
         |JOIN customer ON customer_key = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE customer_key % 97 != 3
         |ORDER BY customer_sk""".stripMargin,
    "customer_next_order_gap" ->
      """WITH base AS (
        |  SELECT o_orderkey AS order_key, o_custkey AS customer_key,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num
        |  FROM orders)
        |SELECT order_key, customer_key, CAST(day_num AS BIGINT) AS day_num,
        |       CAST(lead(day_num, 1) OVER (PARTITION BY customer_key
        |              ORDER BY day_num ASC, order_key ASC) - day_num AS BIGINT)
        |         AS days_to_next_order
        |FROM base ORDER BY order_key""".stripMargin,
    "customer_orders_30d" ->
      """WITH base AS (
        |  SELECT o_orderkey AS order_key, o_custkey AS customer_key,
        |         datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS day_num,
        |         CAST(round(o_totalprice * 1e2) AS BIGINT) AS price_q
        |  FROM orders)
        |SELECT order_key, customer_key, CAST(day_num AS BIGINT) AS day_num,
        |       CAST(count(*) OVER w AS BIGINT) AS n_orders_30d,
        |       CAST(CAST(sum(price_q) OVER w AS BIGINT) / 100.0 AS DOUBLE) AS revenue_30d
        |FROM base
        |WINDOW w AS (PARTITION BY customer_key ORDER BY day_num
        |             RANGE BETWEEN 30 PRECEDING AND CURRENT ROW)
        |ORDER BY order_key""".stripMargin,
    "order_price_quantiles" ->
      """SELECT o_orderstatus AS order_status,
        |       quantile_cont(o_totalprice, 0.25) AS p25,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.75) AS p75
        |FROM orders GROUP BY 1 ORDER BY order_status""".stripMargin,
    "order_price_quantiles_approx" ->
      """SELECT o_orderstatus AS order_status,
        |       quantile_cont(o_totalprice, 0.25) AS p25,
        |       quantile_cont(o_totalprice, 0.5) AS p50,
        |       quantile_cont(o_totalprice, 0.75) AS p75,
        |       TRUE AS approx_within_2pct
        |FROM orders GROUP BY 1 ORDER BY order_status""".stripMargin,
    "customer_order_timeline" ->
      """WITH o AS (
        |  SELECT o_orderkey AS order_key, o_custkey AS customer_key,
        |         CAST(o_orderdate AS DATE) AS order_date,
        |         o_totalprice AS total_price
        |  FROM orders WHERE o_custkey <= 50)
        |SELECT order_key, customer_key, order_date, total_price,
        |       CAST(row_number() OVER wd AS INT) AS order_seq,
        |       CAST(CAST(sum(CAST(round(total_price * 100) AS BIGINT)) OVER (
        |         PARTITION BY customer_key
        |         ORDER BY order_date ASC, order_key ASC
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |         / 100.0 AS DOUBLE) AS running_spend,
        |       CAST(date_diff('day', lag(order_date, 1) OVER wd, order_date) AS INT)
        |         AS days_since_prev,
        |       CAST(ntile(4) OVER wp AS INT) AS price_quartile,
        |       percent_rank() OVER wp AS price_pct_rank,
        |       cume_dist() OVER wp AS price_cume_dist
        |FROM o
        |WINDOW wd AS (PARTITION BY customer_key ORDER BY order_date ASC, order_key ASC),
        |       wp AS (PARTITION BY customer_key ORDER BY total_price ASC, order_key ASC)
        |ORDER BY customer_key, order_seq""".stripMargin,
    "order_price_stats" ->
      """WITH base AS (
        |  SELECT o_orderstatus AS order_status,
        |         CAST(count(*) AS BIGINT) AS n,
        |         min(o_totalprice) AS min_price,
        |         max(o_totalprice) AS max_price,
        |         CAST(SUM(CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS s1,
        |         CAST(SUM(CAST(round(o_totalprice) AS BIGINT)
        |                  * CAST(round(o_totalprice) AS BIGINT)) AS BIGINT) AS s2
        |  FROM orders GROUP BY 1)
        |SELECT order_status, n, min_price, max_price,
        |       CAST(s1 AS DOUBLE) / n AS mean_price,
        |       sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1))
        |         AS stddev_price
        |FROM base ORDER BY order_status""".stripMargin,
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "customer_order_timeline" -> customerOrderTimeline _,
    "customer_orders_30d"     -> customerOrders30d _,
    "customer_next_order_gap" -> customerNextOrderGap _,
    "order_price_stats"       -> orderPriceStats _,
    "order_price_quantiles"   -> orderPriceQuantiles _,
    "order_price_quantiles_approx" -> orderPriceQuantilesApprox _,
    "customer_priority_intervals"  -> customerPriorityIntervals _,
    "dim_customer_scd2"            -> dimCustomerScd2 _,
    "dim_customer_scd2_incremental" -> dimCustomerScd2Incremental _,
    "dim_customer_scd2_asof"       -> dimCustomerScd2Asof _,
    "dim_customer_snapshot"        -> dimCustomerSnapshot _,
    "scd2_snapshot_pruned_scan"    -> scd2SnapshotPrunedScan _,
    "dim_customer_forget_keys"     -> dimCustomerForgetKeys _,
    "dim_customer_scd2_corrected"  -> dimCustomerScd2Corrected _,
  )
}
