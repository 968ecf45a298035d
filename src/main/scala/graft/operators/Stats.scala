package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

import graft.Tables
import graft.functions.{Deterministic, TextFunctions}

/** Statistical / analytical operators beyond the reference's groupBy-sum
  * surface (no analog in `/root/reference/code_base/transform_to_bq.py`,
  * whose only aggregate is A1's sum, `transform_to_bq.py:160-165`):
  * range join, deterministic mode, exact-integer correlation/covariance,
  * explicit GROUPING SETS (SQL entry point), and deterministic
  * hash-stratified sampling.
  *
  * Scale notes:
  *  - The range join broadcasts the (tiny) band dimension; each probe row
  *    tests 10 intervals inside whole-stage codegen — no shuffle of the
  *    fact at all. Uniform-width bands could instead compute an equi-key
  *    (`floor(x / width)`) which is the preferred shape when band count
  *    grows; both forms are one pass over the fact.
  *  - Mode is groupBy-count + one rank window — two shuffles on small
  *    (group, value) cardinality, never on the raw fact.
  *  - Correlation uses exact integer power sums (quantized inputs,
  *    DECIMAL(38,0) accumulators): the sums are order-independent (safe
  *    under any partitioning / AQE re-plan) and map-side combinable,
  *    unlike a naive double `corr` which is neither deterministic nor
  *    oracle-comparable bit-exactly.
  *  - Stratified sampling is a stateless per-row hash test — embarrassingly
  *    parallel, no shuffle, reproducible on any engine (md5-derived
  *    threshold), which is what a 100 TB training-data sampling pass needs
  *    (resumable, no RNG state, stable under retries).
  */
object Stats {

  private val BandWidth = 50000.0

  /** Range (interval) join: orders binned into 10 price bands via a
    * broadcast nested-loop join on `lo <= price < hi`; the last band is
    * open-ended (`hi` NULL) so the bands PARTITION the whole domain —
    * no order can silently fall off the top at a bigger scale factor.
    */
  def rangeJoinPriceBand(spark: SparkSession, sfDir: String): DataFrame = {
    val bands = spark.range(0, 10).select(
      col("id").alias("band_id"),
      (col("id") * BandWidth).cast("double").alias("lo"),
      when(col("id") < 9, (col("id") + 1) * BandWidth).cast("double").alias("hi"))
    val o = Tables.orders(spark, sfDir)
    o.join(broadcast(bands),
        o("o_totalprice") >= bands("lo") &&
          (bands("hi").isNull || o("o_totalprice") < bands("hi")))
      .groupBy(col("band_id"), col("lo"), col("hi"))
      .agg(count(lit(1)).alias("n_orders"),
        Deterministic.exactSum(col("o_totalprice"), 2).alias("total_revenue"))
      .orderBy("band_id")
  }

  /** Equi-key histogram — the scale-preferred twin of
    * [[rangeJoinPriceBand]] for uniform-width bands, exactly as that
    * operator's doc prescribes: the bucket is computed per row
    * (`cents div width` — exact integer math, no float edge ambiguity at
    * bucket boundaries), so the plan is a single partial-aggregated
    * groupBy with NO join at all and ~one group per bucket. This is the
    * one-pass histogram shape a 100 TB feature-binning scan wants;
    * sparse-by-construction (empty buckets absent — gap-fill with a
    * spine join like `orders_daily_gapfill` when density is required).
    */
  def orderPriceHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val widthCents = 5000000L // $50k buckets in exact cents
    Tables.orders(spark, sfDir)
      .select(Deterministic.quantize(col("o_totalprice"), 2).alias("cents"),
        col("o_totalprice"))
      .groupBy(expr(s"cents div $widthCents").alias("bucket"))
      .agg(count(lit(1)).alias("n_orders"),
        Deterministic.exactSum(col("o_totalprice"), 2).alias("total_revenue"))
      .select(col("bucket"),
        (col("bucket") * lit(widthCents) / lit(100.0)).alias("bucket_lo"),
        col("n_orders"), col("total_revenue"))
      .orderBy("bucket")
  }

  /** EQUI-DEPTH (quantile-bucket) histogram of order prices — exact
    * `ntile(10)` semantics WITHOUT a global sort or an unpartitioned
    * window. The equi-WIDTH twin ([[orderPriceHistogram]]) computes its
    * bucket per row; equi-depth needs each row's GLOBAL rank, which naive
    * spellings get from `ntile() OVER (ORDER BY price)` — a single-task
    * sort of the whole table at 100 TB. Instead the rank is assembled the
    * same way [[Curation.temperatureMix]] de-skews its per-language rank:
    *
    *  1. shard every row by a key that is MONOTONE in the sort order
    *     ($1k-wide cent ranges — data-independent, so shards are
    *     contiguous runs of the global (cents, order_key) order);
    *  2. per-shard counts → running-sum offsets (the only "global" step,
    *     a window over one row PER SHARD — bounded by the price domain,
    *     ~hundreds of rows — which then rides a broadcast);
    *  3. global rank = shard offset + rank within shard (the heavy
    *     shuffle keys on the shard, partitions 1/shards-th of the table).
    *
    * The ntile bucket is then pure integer arithmetic on (rank, total):
    * the first `n % k` buckets take `n div k + 1` rows, the rest
    * `n div k` — exactly the SQL-standard distribution DuckDB's `ntile`
    * oracle produces. Output: 10 buckets with count, exact price bounds,
    * and exact-cents revenue.
    */
  def orderPriceEquidepth(spark: SparkSession, sfDir: String): DataFrame =
    shardRankedDepthBuckets(equidepthBase(spark, sfDir), Nil, nBuckets = 10)

  /** Shared (o_orderkey, o_totalprice, cents, shard) projection of the
    * equi-depth family: $1k coarse cent ranges — data-independent and
    * monotone in the (cents, order_key) sort order, so shards are
    * contiguous runs of it.
    */
  private def equidepthBase(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        Deterministic.quantize(col("o_totalprice"), 2).alias("cents"))
      .withColumn("shard", expr("cents div 100000"))

  /** Shared shard-ranked equi-depth core, parameterized on the group key
    * (empty = one global histogram). Offsets come from a (group × shard)
    * aggregate — one row per OCCUPIED shard, bounded by the price domain,
    * so the only group-partitioned (or unpartitioned, in the global case)
    * running sum is over that tiny table and never the fact; ranks run
    * per (group, shard); per-group totals ride a broadcast. The ntile
    * bucket is then pure integer arithmetic on (rank, total) — the
    * SQL-standard remainder-first distribution.
    */
  private def shardRankedDepthBuckets(base: DataFrame, groupCols: Seq[String],
      nBuckets: Int): DataFrame = {
    val gc = groupCols.map(col)
    val offsets = base.groupBy(gc :+ col("shard"): _*)
      .agg(count(lit(1)).alias("n_shard"))
      .withColumn("shard_offset",
        // the global (no-group) histogram would otherwise pass an EMPTY
        // partition spec here — same single-partition plan over the
        // bounded shard table, minus the WindowExec warning
        sum(col("n_shard")).over(
          Window.partitionBy((if (gc.nonEmpty) gc
            else Seq(Deterministic.onePartitionKey(col("shard")))): _*)
            .orderBy(col("shard")))
          - col("n_shard"))
      .select(gc :+ col("shard") :+ col("shard_offset"): _*)
    val totals =
      if (groupCols.isEmpty) base.agg(count(lit(1)).alias("n_total"))
      else base.groupBy(gc: _*).agg(count(lit(1)).alias("n_total"))
    val ranked = base
      .withColumn("shard_rank", row_number().over(
        Window.partitionBy(gc :+ col("shard"): _*)
          .orderBy(col("cents").asc, col("o_orderkey").asc)))
      .join(broadcast(offsets), groupCols :+ "shard")
      .withColumn("r", col("shard_offset") + col("shard_rank"))
    val withTotal =
      if (groupCols.isEmpty) ranked.crossJoin(broadcast(totals))
      else ranked.join(broadcast(totals), groupCols)
    withTotal
      .withColumn("q", expr(s"n_total div $nBuckets"))
      .withColumn("rem", col("n_total") % nBuckets)
      .withColumn("bucket", expr(
        s"""CASE WHEN r <= rem * (q + 1) THEN (r - 1) div (q + 1) + 1
           |     ELSE rem + ((r - rem * (q + 1) - 1) div q) + 1 END""".stripMargin))
      .groupBy(gc :+ col("bucket"): _*)
      .agg(count(lit(1)).alias("n_orders"),
        min(col("o_totalprice")).alias("min_price"),
        max(col("o_totalprice")).alias("max_price"),
        Deterministic.exactSum(col("o_totalprice"), 2).alias("total_revenue"))
      .orderBy(gc :+ col("bucket"): _*)
  }

  /** GROUPED equi-depth quartiles — [[orderPriceEquidepth]] generalized
    * to per-group binning (`ntile(4) OVER (PARTITION BY status ...)`),
    * the form feature engineering actually uses: bucket boundaries per
    * segment, not global. Same de-skew construction with the group key
    * prepended everywhere: offsets come from a (status × shard) aggregate
    * (broadcast), ranks from (status, shard)-partitioned windows, and the
    * per-group row total joins back by the group key — so a Zipfian group
    * distribution still never produces a single-task per-group sort.
    */
  def orderPriceQuartilesByStatus(spark: SparkSession, sfDir: String): DataFrame =
    shardRankedDepthBuckets(
      equidepthBase(spark, sfDir)
        .withColumnRenamed("o_orderstatus", "order_status"),
      Seq("order_status"), nBuckets = 4)

  /** Deterministic mode: most frequent order priority per status
    * (ties broken by priority string ascending).
    */
  def ordersModePriority(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.orders(spark, sfDir)
      .groupBy(col("o_orderstatus").alias("order_status"),
        col("o_orderpriority").alias("mode_priority"))
      .agg(count(lit(1)).alias("n"))
    val w = Window.partitionBy(col("order_status"))
      .orderBy(col("n").desc, col("mode_priority").asc)
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1).drop("rk")
      .orderBy("order_status")
  }

  /** Pearson correlation + population covariance of (quantity,
    * extendedprice) per return flag, from exact integer power sums.
    *
    * Inputs quantize exactly (quantity is integral, price has 2 decimals);
    * the five sums accumulate in DECIMAL(38,0) (sum of qy² reaches ~7e19
    * at sf0.1 — past both long and double-exact range). The closed forms
    * are evaluated in the same operation order as the oracle: every
    * intermediate is an exact integer until the single cast-to-double,
    * so both engines round identically.
    */
  def lineitemCorr(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val qx = Deterministic.quantize(col("l_quantity"), 0).cast(dec)
    val qy = Deterministic.quantize(col("l_extendedprice"), 2).cast(dec)
    val agg = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").alias("return_flag"), qx.alias("qx"), qy.alias("qy"))
      .groupBy(col("return_flag"))
      .agg(count(lit(1)).cast(dec).alias("n"),
        sum(col("qx")).alias("sx"), sum(col("qy")).alias("sy"),
        sum(col("qx") * col("qx")).alias("sxx"),
        sum(col("qy") * col("qy")).alias("syy"),
        sum(col("qx") * col("qy")).alias("sxy"))
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val denx = sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
    val deny = sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))
    agg.select(col("return_flag"), col("n").cast(LongType).alias("n"),
        (num / (denx * deny)).alias("corr_qty_price"),
        // covariance of the QUANTIZED pair / 100 = covariance of the raw
        // pair (qty × price·100); one more exact-integer-to-double divide
        (num / (col("n") * col("n")).cast("double") / lit(100.0))
          .alias("covar_pop_qty_price"))
      .orderBy("return_flag")
  }

  /** Explicit GROUPING SETS through the SQL entry point (distinct from the
    * rollup/cube DataFrame forms in [[Relational]]): per-year totals,
    * per-status totals, and the grand total — no cross set.
    */
  def salesGroupingSets(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.orders(spark, sfDir)
      .select(year(to_date(col("o_orderdate"))).alias("year"),
        col("o_orderstatus").alias("order_status"), col("o_totalprice"))
      .createOrReplaceTempView("graft_gs_orders")
    spark.sql(
      """SELECT year, order_status,
        |       CAST(SUM(CAST(round(o_totalprice * 1e2) AS BIGINT)) / 1e2 AS DOUBLE)
        |         AS total_revenue,
        |       count(*) AS n_orders
        |FROM graft_gs_orders
        |GROUP BY GROUPING SETS ((year), (order_status), ())
        |ORDER BY year ASC NULLS FIRST, order_status ASC NULLS FIRST""".stripMargin)
  }

  /** Per-language sampling rates (percent). English is downsampled hard —
    * the usual shape when rebalancing a web corpus.
    */
  private val SampleRates: Seq[(String, Int)] =
    Seq("de" -> 40, "en" -> 10, "es" -> 40, "fr" -> 40, "zh" -> 40)

  /** Deterministic stratified sample of `documents`: keep a row iff
    * md5₆₀(doc_id) mod 100 < rate(lang). The rate table rides a broadcast
    * join; the test itself is a stateless per-row predicate.
    */
  def docsStratifiedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val rates = spark.createDataFrame(SampleRates).toDF("r_lang", "rate_pct")
    Tables.documents(spark, sfDir)
      .join(broadcast(rates), col("lang") === col("r_lang"))
      .filter(pmod(TextFunctions.md5Hash60(col("doc_id").cast("string")), lit(100L))
        < col("rate_pct"))
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  private val ReservoirK = 5

  /** Fixed-size deterministic per-stratum sample — the "show me k
    * documents from each source" spot-check a corpus-curation run emits
    * beside the rate-based [[docsStratifiedSample]]: the `k` documents
    * whose md5₆₀(doc_id) sorts smallest within each source, with rank.
    * Selection is reproducible from ids alone (no RNG state, stable
    * under retries and engine changes — the split/sample discipline of
    * this module).
    *
    * Runs as the bounded mergeable aggregate
    * [[graft.plans.MinKByHash]] rather than a rank window: the window
    * spelling (the DuckDB oracle, verbatim) shuffles and FULLY SORTS
    * every stratum to keep five rows, while the aggregate's partial
    * state is ≤ k pairs per partition×source and the exchange carries
    * ≤ k·|sources| pairs total — at 100 TB the difference between a
    * corpus sort and a metadata shuffle.
    */
  def docsReservoirSample(spark: SparkSession, sfDir: String): DataFrame =
    Tables.documents(spark, sfDir)
      .select(col("source"),
        TextFunctions.md5Hash60(col("doc_id").cast("string")).alias("h"),
        col("doc_id"))
      .groupBy(col("source"))
      .agg(graft.plans.MinKByHash.minKByHash(col("h"), col("doc_id"), ReservoirK)
        .alias("sample"))
      .select(col("source"), posexplode(col("sample")))
      .select(col("source"), (col("pos") + 1).cast(LongType).alias("rank"),
        col("col.h").alias("h"), col("col.id").alias("doc_id"))
      .orderBy("source", "rank")

  /** Skew-resilient fact-dim join: brand revenue through
    * [[graft.functions.Skew.saltedJoin]] — the probe (lineitem) scatters
    * each row across 8 salt buckets, the tiny build side (part)
    * replicates to all of them, so a hot part key's rows land on 8
    * reducers instead of one. Row-identical to the plain join by
    * construction, which is exactly what the oracle asserts (the oracle
    * is the UNSALTED join — any salting artifact fails the gate).
    */
  def skewJoinBrandRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir)
    val p = Tables.part(spark, sfDir)
    graft.functions.Skew.saltedJoin(
      probe = l, build = p,
      probeKey = "l_partkey", buildKey = "p_partkey",
      scatterOn = col("l_orderkey") * 8 + col("l_linenumber"),
      saltBuckets = 8)
      .groupBy(col("p_brand").alias("brand"))
      .agg(count(lit(1)).alias("n_items"),
        Deterministic.exactSum(
          col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
          .alias("revenue"))
      .orderBy("brand")
  }

  /** Bloom-pruned semi join: revenue of line items belonging to high-value
    * orders, with the probe (lineitem) pre-filtered by a Bloom sketch of
    * the qualifying order keys before the exact semi join — see
    * [[graft.functions.BloomPrune]] for the 100 TB rationale. The oracle
    * is the UNPRUNED semi join: any sketch artifact fails the gate.
    */
  def bloomPrunedOrderItems(spark: SparkSession, sfDir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, sfDir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"))
    graft.functions.BloomPrune.prunedSemiJoin(
      probe = Tables.lineitem(spark, sfDir), build = bigOrders,
      probeKey = "l_orderkey", buildKey = "o_orderkey",
      fpp = 0.01)
      .groupBy(col("l_returnflag").alias("return_flag"))
      .agg(count(lit(1)).alias("n_items"),
        Deterministic.exactSum(col("l_extendedprice"), 2).alias("revenue"))
      .orderBy("return_flag")
  }

  /** Population skewness and excess kurtosis of `l_quantity` per return
    * flag from exact integer power sums — the higher-moment extension of
    * [[lineitemCorr]]'s pattern. Every numerator/denominator is an exact
    * DECIMAL(38,0) integer; the closed forms then run the same
    * double-precision operation sequence on both engines (sqrt is IEEE
    * correctly-rounded; no `pow`, whose libm results differ), so the
    * comparison is bit-exact. Magnitudes: with quantity ≤ 50 the largest
    * term (sx⁴) stays < 1e38 up to ~10⁸ rows per group; beyond that,
    * center first or widen the quantization — noted, not needed here.
    */
  def lineitemMoments(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val qx = Deterministic.quantize(col("l_quantity"), 0).cast(dec)
    val agg = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").alias("return_flag"), qx.alias("x"))
      .groupBy(col("return_flag"))
      .agg(count(lit(1)).cast(dec).alias("n"),
        sum(col("x")).alias("s1"),
        sum(col("x") * col("x")).alias("s2"),
        sum(col("x") * col("x") * col("x")).alias("s3"),
        sum(col("x") * col("x") * col("x") * col("x")).alias("s4"))
    val n = col("n")
    val mean = col("s1").cast("double") / n.cast("double")
    val m2 = (n * col("s2") - col("s1") * col("s1")).cast("double") /
      (n * n).cast("double")
    val m3 = (n * n * col("s3") - lit(3).cast(dec) * n * col("s1") * col("s2") +
      lit(2).cast(dec) * col("s1") * col("s1") * col("s1")).cast("double") /
      (n * n * n).cast("double")
    val m4 = (n * n * n * col("s4") -
      lit(4).cast(dec) * n * n * col("s1") * col("s3") +
      lit(6).cast(dec) * n * col("s1") * col("s1") * col("s2") -
      lit(3).cast(dec) * col("s1") * col("s1") * col("s1") * col("s1")).cast("double") /
      (n * n * n * n).cast("double")
    agg.select(col("return_flag"), n.cast(LongType).alias("n"),
        mean.alias("mean_qty"), m2.alias("var_pop_qty"),
        (m3 / (sqrt(m2) * m2)).alias("skewness_qty"),
        (m4 / (m2 * m2) - lit(3.0)).alias("kurtosis_excess_qty"))
      .orderBy("return_flag")
  }

  /** Least-squares regression of extendedprice on quantity per return
    * flag, slope/intercept from the same exact power sums as
    * [[lineitemCorr]] (y is quantized at cents, so the closed forms
    * divide the quantization factor back out exactly once).
    */
  def lineitemRegression(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val qx = Deterministic.quantize(col("l_quantity"), 0).cast(dec)
    val qy = Deterministic.quantize(col("l_extendedprice"), 2).cast(dec)
    val agg = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").alias("return_flag"), qx.alias("x"), qy.alias("y"))
      .groupBy(col("return_flag"))
      .agg(count(lit(1)).cast(dec).alias("n"),
        sum(col("x")).alias("sx"), sum(col("y")).alias("sy"),
        sum(col("x") * col("x")).alias("sxx"),
        sum(col("x") * col("y")).alias("sxy"))
    val n = col("n")
    // slope in quantized units (y·100 per x·1), /100 restores raw units
    val slope = (n * col("sxy") - col("sx") * col("sy")).cast("double") /
      (n * col("sxx") - col("sx") * col("sx")).cast("double") / lit(100.0)
    val intercept = col("sy").cast("double") / n.cast("double") / lit(100.0) -
      slope * (col("sx").cast("double") / n.cast("double"))
    agg.select(col("return_flag"), n.cast(LongType).alias("n"),
        slope.alias("slope_price_per_qty"), intercept.alias("intercept_price"))
      .orderBy("return_flag")
  }

  /** Per-flag normal-equation sums for the 2-feature OLS — every entry
    * an EXACT integer (quantized inputs, DECIMAL(38,0) accumulators):
    * order-independent, map-side combinable, and small enough that the
    * 3×3 solve happens in the SELECT, not on the driver.
    */
  private[graft] val OlsSumCols =
    Seq("n", "sx2", "sx3", "sx22", "sx23", "sx33", "sy", "sx2y", "sx3y")

  /** The quantized regression rows — one spelling of the exact-integer
    * inputs for every OLS consumer (full-corpus sums, the split-grouped
    * incremental gate).
    */
  private[graft] def olsQuantized(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag").alias("return_flag"),
        col("l_orderkey"),
        Deterministic.quantize(col("l_quantity"), 0).cast(dec).alias("x2"),
        Deterministic.quantize(col("l_discount"), 2).cast(dec).alias("x3"),
        Deterministic.quantize(col("l_extendedprice"), 2).cast(dec).alias("y"))
  }

  /** The nine normal-equation aggregates over an arbitrary grouping —
    * shared by the full-corpus pass and the per-arrival-split pass.
    */
  private[graft] def olsAgg(
      g: org.apache.spark.sql.RelationalGroupedDataset): DataFrame = {
    val dec = DecimalType(38, 0)
    g.agg(count(lit(1)).cast(dec).alias("n"),
      sum(col("x2")).alias("sx2"), sum(col("x3")).alias("sx3"),
      sum(col("x2") * col("x2")).alias("sx22"),
      sum(col("x2") * col("x3")).alias("sx23"),
      sum(col("x3") * col("x3")).alias("sx33"),
      sum(col("y")).alias("sy"),
      sum(col("x2") * col("y")).alias("sx2y"),
      sum(col("x3") * col("y")).alias("sx3y"))
  }

  private def olsSums(spark: SparkSession, sfDir: String): DataFrame =
    // memoized + persisted: this IS the maintained sufficient-statistics
    // table — the full-corpus betas read it, and the erasure gate folds
    // its negated delta against it, so the corpus aggregation runs once
    graft.CacheLifecycle.memoized(s"stats.olsSums:$sfDir")(
      graft.CacheLifecycle.sessionPersist(
        olsAgg(olsQuantized(spark, sfDir).groupBy(col("return_flag")))))

  /** Merge an OLS sufficient-statistics delta into the maintained sums
    * table: every statistic is an exact-integer SUM over rows, so the
    * merge over disjoint row sets is a keyed full-outer join + decimal
    * addition — the [[graft.operators.TextAnalysis]] `mergeTermStats` /
    * totals-merge algebra on the model-training tier. Negating a delta
    * erases it (the aggregate-space right-to-be-forgotten direction).
    */
  private[graft] def mergeOlsSums(state: DataFrame, delta: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    state.alias("s").join(delta.alias("d"), Seq("return_flag"), "full_outer")
      .select(col("return_flag") +: OlsSumCols.map(c =>
        (coalesce(col(s"s.$c"), lit(0)) + coalesce(col(s"d.$c"), lit(0)))
          .cast(dec).alias(c)): _*)
  }

  /** Negate a nine-sum frame — the erasure direction of the additive
    * algebra: folding a NEGATED delta through [[mergeOlsSums]] is exact
    * subtraction over disjoint row sets (the stored forget path,
    * [[graft.streaming.EventStream.forgetFromOlsSums]]).
    */
  private[graft] def negateOlsSums(sums: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    sums.select(col("return_flag") +: OlsSumCols.map(c =>
      (-col(c)).cast(dec).alias(c)): _*)
  }

  /** MULTIVARIATE OLS in closed form — fit `extendedprice ~ quantity +
    * discount` per return flag by Cramer's rule over the normal
    * equations: ONE aggregation pass collects nine exact-integer sums,
    * the 3×3 determinants expand in DECIMAL(38,0) (still exact — the
    * largest term is ~1e37 at sf100, inside both Spark's decimal and
    * DuckDB's HUGEINT), and the β = detᵢ/det quotients are QUANTIZED to
    * micro-units as the model's canonical coefficients. The
    * quantization is load-bearing for the differential gate: the
    * determinants exceed 2^53, and Java's BigDecimal→double is
    * correctly rounded where DuckDB's int128→double may round twice
    * (hi·2⁶⁴ + lo), so the raw quotients can differ in the last ulp —
    * measured here, the classic not-all-integer-to-double-conversions-
    * agree trap. Integer micro-coefficients compare bit-exactly, and
    * every downstream consumer derives its doubles FROM them (identical
    * divisions), restoring bit-exact residuals too. This is the
    * train-a-model-in-the-pipeline shape: no driver loop, no iterative
    * solver, no collect — at 100 TB the cost is one map-side-combined
    * pass.
    */
  def lineitemOlsMulti(spark: SparkSession, sfDir: String): DataFrame =
    olsBetas(spark, sfDir)
      .select(col("return_flag"), col("n"), col("intercept_micro"),
        col("coef_qty_micro"), col("coef_disc_micro"))
      .orderBy("return_flag")

  private def olsBetas(spark: SparkSession, sfDir: String): DataFrame =
    // memoized + session-persisted: both registered consumers
    // (lineitem_ols_multi and lineitem_residual_outliers) train the
    // same 3-row model — the persist makes the lineitem aggregation
    // pass run ONCE and the 3-row result serve both, the shared-stage
    // discipline every other multi-consumer frame follows (memoized
    // alone would only dedup the plan object, not the computation)
    graft.CacheLifecycle.memoized(s"stats.olsBetas:$sfDir")(
      graft.CacheLifecycle.sessionPersist(olsBetasBuild(spark, sfDir)))

  private def olsBetasBuild(spark: SparkSession, sfDir: String): DataFrame =
    olsBetasFromSums(olsSums(spark, sfDir))

  /** INCREMENTAL MODEL MAINTENANCE — the EIGHTH "incremental ≡ rebuild"
    * gate, on the training tier: the OLS model retrains from MAINTAINED
    * sufficient statistics without rescanning history. The nine
    * normal-equation sums are exact-integer aggregates, additive over
    * disjoint row sets, so a nightly batch folds its nine-sum delta
    * into the maintained (flag → sums) table by keyed addition
    * ([[mergeOlsSums]]) and the closed-form solve
    * ([[olsBetasFromSums]]) re-derives the betas from the table alone
    * — O(|flags|) retraining. History (l_orderkey % 10 ≠ 9) plays the
    * maintained table, the batch folds in, and the oracle is
    * `lineitem_ols_multi`'s full-corpus SQL VERBATIM: additivity over
    * the split is the theorem under test, and it holds EXACTLY
    * (integer sums — no floating-point reassociation caveat).
    *
    * 100 TB shape: the fixture computes both partials in ONE grouped
    * pass (the split keys the aggregation); a deployment reads the
    * maintained sums table and aggregates only the batch. Erasure in
    * aggregate space follows for free: fold the forgotten rows' delta
    * NEGATED through the same merge (the `text_df_forget` direction).
    */
  def lineitemOlsIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    // persisted: the state and delta sides both read this |flags|·2-row
    // partials frame — without the pin each side would re-run the
    // lineitem aggregation (the plan is a DAG only through the cache)
    val parts = graft.CacheLifecycle.sessionPersist(
      olsAgg(olsQuantized(spark, sfDir)
        .withColumn("is_batch", col("l_orderkey") % 10 === 9)
        .groupBy(col("return_flag"), col("is_batch"))))
    def side(batch: Boolean) =
      parts.filter(col("is_batch") === batch).drop("is_batch")
    olsBetasFromSums(mergeOlsSums(side(batch = false), side(batch = true)))
      .select(col("return_flag"), col("n"), col("intercept_micro"),
        col("coef_qty_micro"), col("coef_disc_micro"))
      .orderBy("return_flag")
  }

  /** The erasure rule of the OLS forget gate — a deterministic order
    * cohort playing the GDPR request queue; ONE spelling for the Spark
    * side and (interpolated) the oracle.
    */
  private[graft] def olsForgottenRule(orderKey: Column): Column =
    orderKey % 13 === 5

  private val OlsForgetKeepSql = "NOT (l_orderkey % 13 = 5)"

  /** ERASURE IN AGGREGATE SPACE ON THE TRAINING TIER — the gate form of
    * [[lineitemOlsIncremental]]'s closing claim: forgetting rows from a
    * maintained model is not a row deletion — the sufficient statistics
    * are SUMS, so erasure aggregates ONLY the forgotten rows and folds
    * their nine-sum delta in NEGATED through the exact same merge the
    * maintenance fold applies (additivity works in both directions over
    * disjoint row sets), then re-derives the betas from the table —
    * the model provably forgets the cohort without a history rescan.
    * The maintained table is the session [[olsSums]] frame (shared with
    * the full-corpus model — built independently of the forgotten-side
    * aggregation, so the gate exercises real subtraction, not algebraic
    * cancellation); the oracle retrains from scratch over SURVIVORS, so
    * subtract-fold ≡ filter-rebuild is the theorem — exact, because the
    * sums are integers (the `text_df_forget` direction, on the tier
    * where the erased artifact is a trained model's coefficients).
    */
  def lineitemOlsForget(spark: SparkSession, sfDir: String): DataFrame = {
    val forgotten = olsAgg(
      olsQuantized(spark, sfDir).filter(olsForgottenRule(col("l_orderkey")))
        .groupBy(col("return_flag")))
    olsBetasFromSums(mergeOlsSums(olsSums(spark, sfDir), negateOlsSums(forgotten)))
      .select(col("return_flag"), col("n"), col("intercept_micro"),
        col("coef_qty_micro"), col("coef_disc_micro"))
      .orderBy("return_flag")
  }

  /** THE STORED MODEL STATE TABLE (r18 verdict #1): the nine-sum
    * sufficient statistics live ON DISK as a versioned state table
    * ([[graft.streaming.EventStream.olsSumsFoldBatch]] — the same
    * machinery as the totals/SCD2/term-stats tiers: `_SUCCESS`-guarded
    * seed, copy-on-write bucket generations whose commit is each fold's
    * replay evidence), and the betas are SERVED FROM THE STORED TABLE —
    * no session aggregate anywhere in the returned lineage. History
    * (`l_orderkey % 10 != 9`) seeds the state; tonight's batch
    * (`% 10 == 9`) aggregates only its own rows and folds its nine-sum
    * delta in by keyed decimal addition; the closed-form solve then
    * reads |flags| rows from disk. The oracle is the full-corpus solve
    * VERBATIM — stored-fold-then-solve ≡ rebuild is the gate fact,
    * exact because the sums are integers.
    *
    * 100 TB shape: this IS the nightly-model deployment — the state
    * table holds one row per segment, the batch pays one map-side
    * combined aggregation over its own rows, retraining is O(|flags|)
    * from the table alone. Erasure folds a negated delta through the
    * same stored machinery
    * ([[graft.streaming.EventStream.forgetFromOlsSums]] — audited as
    * erasure-certificate tier `ols_sums`).
    *
    * Memoized durably behind the state's own commit evidence: a second
    * JVM finds the committed seed + batch generation, skips both writes,
    * and pays only the stored-table read.
    */
  def lineitemOlsStored(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"stats.olsStored:$sfDir") {
      import graft.streaming.EventStream
      val stateDir = Layout.tmpPath("graft-olslog", sfDir)
      val q = olsQuantized(spark, sfDir)
      val isBatch = col("l_orderkey") % 10 === 9
      EventStream.olsSumsSeed(spark, stateDir,
        olsAgg(q.filter(!isBatch).groupBy(col("return_flag"))))
      EventStream.olsSumsFoldBatch(spark, stateDir,
        olsAgg(q.filter(isBatch).groupBy(col("return_flag"))), batchId = 0L)
      olsBetasFromSums(EventStream.olsSumsRead(spark, stateDir))
        .select(col("return_flag"), col("n"), col("intercept_micro"),
          col("coef_qty_micro"), col("coef_disc_micro"))
        .orderBy("return_flag")
    }

  /** The closed-form Cramer solve over any (flag → nine sums) frame —
    * ONE spelling behind the full-corpus model and the
    * maintained-statistics retrain.
    */
  private def olsBetasFromSums(s: DataFrame): DataFrame = {
    // minor M = sx22*sx33 − sx23² appears in det and det0 — spelled once
    val detRaw = col("n") * (col("sx22") * col("sx33") - col("sx23") * col("sx23")) -
      col("sx2") * (col("sx2") * col("sx33") - col("sx23") * col("sx3")) +
      col("sx3") * (col("sx2") * col("sx23") - col("sx22") * col("sx3"))
    // OVERFLOW/SINGULARITY guard: the determinants grow ~n³ — ~1e37 at
    // sf100 fits DECIMAL(38,0), but one more order of magnitude of data
    // overflows the 38-digit cap and (ANSI off) Spark returns NULL on
    // decimal-multiply overflow, which would silently null the betas
    // and every downstream residual. A null or zero det fails LOUDLY
    // here instead of serving null coefficients past the documented
    // envelope.
    val det = when(detRaw.isNotNull && detRaw =!= lit(0), detRaw)
      .otherwise(raise_error(lit(
        "olsBetas: normal-equation determinant is NULL or zero — decimal " +
          "overflow past the documented ~sf100 envelope (or a singular " +
          "design matrix); refusing to serve null coefficients. Rescale " +
          "the quantization or shard the fit.")))
    val det0 = col("sy") * (col("sx22") * col("sx33") - col("sx23") * col("sx23")) -
      col("sx2") * (col("sx2y") * col("sx33") - col("sx23") * col("sx3y")) +
      col("sx3") * (col("sx2y") * col("sx23") - col("sx22") * col("sx3y"))
    val det1 = col("n") * (col("sx2y") * col("sx33") - col("sx23") * col("sx3y")) -
      col("sy") * (col("sx2") * col("sx33") - col("sx23") * col("sx3")) +
      col("sx3") * (col("sx2") * col("sx3y") - col("sx2y") * col("sx3"))
    val det2 = col("n") * (col("sx22") * col("sx3y") - col("sx2y") * col("sx23")) -
      col("sx2") * (col("sx2") * col("sx3y") - col("sx2y") * col("sx3")) +
      col("sy") * (col("sx2") * col("sx23") - col("sx22") * col("sx3"))
    // quantized-space betas → raw units (y and discount are ×100, so the
    // intercept and quantity coefficient divide back; the discount
    // coefficient's scales cancel) → micro-unit integers (see
    // [[lineitemOlsMulti]] for why the quantization is load-bearing)
    s.select(col("return_flag"), col("n").cast(LongType).alias("n"),
      Deterministic.quantize(
        det0.cast("double") / det.cast("double") / lit(100.0), 6)
        .alias("intercept_micro"),
      Deterministic.quantize(
        det1.cast("double") / det.cast("double") / lit(100.0), 6)
        .alias("coef_qty_micro"),
      Deterministic.quantize(det2.cast("double") / det.cast("double"), 6)
        .alias("coef_disc_micro"))
  }

  /** APPLY the trained model: top-5 lineitems per flag by |residual| —
    * the anomaly-by-model-residual read (a mispriced row, not merely an
    * expensive one). The 3-row coefficient frame broadcast-joins on the
    * flag key; scoring is a narrow codegen map; the per-flag top-5 is a
    * rank window (WindowGroupLimit — per-partition heap). Residuals are
    * bit-identical to the oracle because the betas are (see
    * [[lineitemOlsMulti]]) and the scoring expression is written
    * identically on both engines.
    */
  def lineitemResidualOutliers(spark: SparkSession, sfDir: String): DataFrame = {
    // doubles derived FROM the canonical micro-integers — identical on
    // both engines, so the residuals compare bit-exactly
    val m = olsBetas(spark, sfDir).select(col("return_flag"),
      (col("intercept_micro").cast("double") / lit(1e6)).alias("b0"),
      (col("coef_qty_micro").cast("double") / lit(1e6)).alias("b1"),
      (col("coef_disc_micro").cast("double") / lit(1e6)).alias("b2"))
    val scored = Tables.lineitem(spark, sfDir)
      .withColumn("return_flag", col("l_returnflag"))
      .join(broadcast(m), Seq("return_flag"))
      .withColumn("residual", col("l_extendedprice") -
        (col("b0") + col("b1") * col("l_quantity") +
          col("b2") * col("l_discount")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("return_flag"))
          .orderBy(abs(col("residual")).desc, col("l_orderkey"),
            col("l_linenumber"))))
      .filter(col("rank") <= 5)
      .select(col("return_flag"), col("rank"),
        col("l_orderkey").alias("order_key"),
        col("l_linenumber").alias("line_number"), col("residual"))
      .orderBy("return_flag", "rank")
  }

  /** DuckDB twin of [[olsBetas]] — HUGEINT (int128) plays Spark's
    * DECIMAL(38,0): the determinant arithmetic is exact on both, and the
    * only doubles are the final divisions, written in the same order.
    */
  private val olsBetasCteSql = olsBetasCteSqlOver("lineitem")

  /** [[olsBetasCteSql]] parameterized by the row window — the erasure
    * gate replays the solve over SURVIVORS only.
    */
  private def olsBetasCteSqlOver(from: String): String =
    s"""q AS (SELECT l_returnflag AS return_flag,
      |             CAST(round(l_quantity * 1e0) AS BIGINT) AS x2,
      |             CAST(round(l_discount * 1e2) AS BIGINT) AS x3,
      |             CAST(round(l_extendedprice * 1e2) AS BIGINT) AS y
      |      FROM $from),
      |s AS (SELECT return_flag,
      |             CAST(count(*) AS HUGEINT) AS n,
      |             CAST(sum(x2) AS HUGEINT) AS sx2,
      |             CAST(sum(x3) AS HUGEINT) AS sx3,
      |             CAST(sum(x2*x2) AS HUGEINT) AS sx22,
      |             CAST(sum(x2*x3) AS HUGEINT) AS sx23,
      |             CAST(sum(x3*x3) AS HUGEINT) AS sx33,
      |             CAST(sum(y) AS HUGEINT) AS sy,
      |             CAST(sum(x2*y) AS HUGEINT) AS sx2y,
      |             CAST(sum(x3*y) AS HUGEINT) AS sx3y
      |      FROM q GROUP BY return_flag),
      |betas AS (SELECT return_flag, CAST(n AS BIGINT) AS n,
      |  CAST(round(CAST(sy*(sx22*sx33 - sx23*sx23) - sx2*(sx2y*sx33 - sx23*sx3y)
      |         + sx3*(sx2y*sx23 - sx22*sx3y) AS DOUBLE)
      |    / CAST(n*(sx22*sx33 - sx23*sx23) - sx2*(sx2*sx33 - sx23*sx3)
      |         + sx3*(sx2*sx23 - sx22*sx3) AS DOUBLE) / 100.0 * 1e6) AS BIGINT)
      |    AS intercept_micro,
      |  CAST(round(CAST(n*(sx2y*sx33 - sx23*sx3y) - sy*(sx2*sx33 - sx23*sx3)
      |         + sx3*(sx2*sx3y - sx2y*sx3) AS DOUBLE)
      |    / CAST(n*(sx22*sx33 - sx23*sx23) - sx2*(sx2*sx33 - sx23*sx3)
      |         + sx3*(sx2*sx23 - sx22*sx3) AS DOUBLE) / 100.0 * 1e6) AS BIGINT)
      |    AS coef_qty_micro,
      |  CAST(round(CAST(n*(sx22*sx3y - sx2y*sx23) - sx2*(sx2*sx3y - sx2y*sx3)
      |         + sy*(sx2*sx23 - sx22*sx3) AS DOUBLE)
      |    / CAST(n*(sx22*sx33 - sx23*sx23) - sx2*(sx2*sx33 - sx23*sx3)
      |         + sx3*(sx2*sx23 - sx22*sx3) AS DOUBLE) * 1e6) AS BIGINT)
      |    AS coef_disc_micro
      |  FROM s)""".stripMargin

  val oracles: Map[String, String] = Map(
    "lineitem_ols_multi" ->
      s"""WITH $olsBetasCteSql
         |SELECT return_flag, n, intercept_micro, coef_qty_micro,
         |       coef_disc_micro
         |FROM betas ORDER BY return_flag""".stripMargin,
    // the full-corpus solve VERBATIM — additivity of the nine integer
    // sums over the history/batch split is the theorem under test
    // (see [[lineitemOlsIncremental]])
    "lineitem_ols_incremental" ->
      s"""WITH $olsBetasCteSql
         |SELECT return_flag, n, intercept_micro, coef_qty_micro,
         |       coef_disc_micro
         |FROM betas ORDER BY return_flag""".stripMargin,
    // the full-corpus solve VERBATIM again — stored-fold-then-solve ≡
    // rebuild is the theorem (see [[lineitemOlsStored]])
    "lineitem_ols_stored" ->
      s"""WITH $olsBetasCteSql
         |SELECT return_flag, n, intercept_micro, coef_qty_micro,
         |       coef_disc_micro
         |FROM betas ORDER BY return_flag""".stripMargin,
    // retrain-from-scratch over SURVIVORS — subtract-fold ≡
    // filter-rebuild is the theorem (see [[lineitemOlsForget]])
    "lineitem_ols_forget" ->
      s"""WITH ${olsBetasCteSqlOver(
             s"(SELECT * FROM lineitem WHERE $OlsForgetKeepSql) l")}
         |SELECT return_flag, n, intercept_micro, coef_qty_micro,
         |       coef_disc_micro
         |FROM betas ORDER BY return_flag""".stripMargin,
    "lineitem_residual_outliers" ->
      s"""WITH $olsBetasCteSql,
         |raw AS (SELECT return_flag,
         |               CAST(intercept_micro AS DOUBLE) / 1e6 AS b0,
         |               CAST(coef_qty_micro AS DOUBLE) / 1e6 AS b1,
         |               CAST(coef_disc_micro AS DOUBLE) / 1e6 AS b2
         |        FROM betas),
         |scored AS (
         |  SELECT l.l_returnflag AS return_flag, l.l_orderkey, l.l_linenumber,
         |         l.l_extendedprice - (b.b0
         |           + b.b1 * l.l_quantity
         |           + b.b2 * l.l_discount) AS residual
         |  FROM lineitem l JOIN raw b ON l.l_returnflag = b.return_flag)
         |SELECT return_flag,
         |       CAST(row_number() OVER (PARTITION BY return_flag
         |         ORDER BY abs(residual) DESC, l_orderkey, l_linenumber)
         |         AS INT) AS rank,
         |       l_orderkey AS order_key, l_linenumber AS line_number,
         |       residual
         |FROM scored
         |QUALIFY rank <= 5
         |ORDER BY return_flag, rank""".stripMargin,
    "docs_train_val_test_split" -> {
      s"""WITH s AS (
         |  SELECT lang,
         |         ${splitCaseSql("CAST(doc_id AS VARCHAR)")} AS split
         |  FROM documents)
         |SELECT lang, split, CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(count(*) * 100 AS DOUBLE)
         |         / sum(count(*)) OVER (PARTITION BY lang) AS share_pct
         |FROM s GROUP BY lang, split
         |ORDER BY lang, split""".stripMargin
    },
    "docs_reservoir_sample" -> {
      // the rank-window spelling the aggregate replaces, verbatim
      val h = TextFunctions.md5Hash60Sql("CAST(doc_id AS VARCHAR)")
      s"""WITH hashed AS (
         |  SELECT source, $h AS h, doc_id FROM documents),
         |ranked AS (
         |  SELECT source, h, doc_id,
         |         row_number() OVER (PARTITION BY source ORDER BY h, doc_id)
         |           AS rank
         |  FROM hashed)
         |SELECT source, rank, h, doc_id FROM ranked
         |WHERE rank <= 5 ORDER BY source, rank""".stripMargin
    },
    "bloom_pruned_order_items" ->
      s"""SELECT l_returnflag AS return_flag, CAST(count(*) AS BIGINT) AS n_items,
         |       ${Deterministic.exactSumSql("l_extendedprice", 2)} AS revenue
         |FROM lineitem
         |WHERE EXISTS (SELECT 1 FROM orders
         |              WHERE o_orderkey = l_orderkey AND o_totalprice > 400000.0)
         |GROUP BY 1 ORDER BY return_flag""".stripMargin,
    "lineitem_moments" ->
      """WITH sums AS (
        |  SELECT l_returnflag AS return_flag,
        |         CAST(count(*) AS HUGEINT) AS n,
        |         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS s1,
        |         CAST(SUM(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS s2,
        |         CAST(SUM(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS s3,
        |         CAST(SUM(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS s4
        |  FROM lineitem GROUP BY 1),
        |m AS (
        |  SELECT return_flag, n,
        |         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean_qty,
        |         CAST(n * s2 - s1 * s1 AS DOUBLE) / CAST(n * n AS DOUBLE) AS m2,
        |         CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1 AS DOUBLE)
        |           / CAST(n * n * n AS DOUBLE) AS m3,
        |         CAST(n * n * n * s4 - 4 * n * n * s1 * s3
        |              + 6 * n * s1 * s1 * s2 - 3 * s1 * s1 * s1 * s1 AS DOUBLE)
        |           / CAST(n * n * n * n AS DOUBLE) AS m4
        |  FROM sums)
        |SELECT return_flag, CAST(n AS BIGINT) AS n, mean_qty,
        |       m2 AS var_pop_qty,
        |       m3 / (sqrt(m2) * m2) AS skewness_qty,
        |       m4 / (m2 * m2) - 3.0 AS kurtosis_excess_qty
        |FROM m ORDER BY return_flag""".stripMargin,
    "lineitem_regression" ->
      """WITH sums AS (
        |  SELECT l_returnflag AS return_flag,
        |         CAST(count(*) AS HUGEINT) AS n,
        |         CAST(SUM(CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS sx,
        |         CAST(SUM(CAST(round(l_extendedprice * 1e2) AS BIGINT)) AS HUGEINT) AS sy,
        |         CAST(SUM(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)) AS HUGEINT) AS sxx,
        |         CAST(SUM(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_extendedprice * 1e2) AS BIGINT)) AS HUGEINT) AS sxy
        |  FROM lineitem GROUP BY 1),
        |s AS (
        |  SELECT return_flag, n,
        |         CAST(n * sxy - sx * sy AS DOUBLE)
        |           / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0 AS slope,
        |         sx, sy
        |  FROM sums)
        |SELECT return_flag, CAST(n AS BIGINT) AS n,
        |       slope AS slope_price_per_qty,
        |       CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 100.0
        |         - slope * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS intercept_price
        |FROM s ORDER BY return_flag""".stripMargin,
    "skew_join_brand_revenue" ->
      s"""SELECT p_brand AS brand, CAST(count(*) AS BIGINT) AS n_items,
         |       ${Deterministic.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY brand""".stripMargin,
    "range_join_price_band" ->
      s"""WITH bands AS (
         |  SELECT i AS band_id, i * $BandWidth AS lo,
         |         CASE WHEN i < 9 THEN (i + 1) * $BandWidth END AS hi
         |  FROM generate_series(0, 9) t(i))
         |SELECT band_id, lo, hi, CAST(count(*) AS BIGINT) AS n_orders,
         |       ${Deterministic.exactSumSql("o_totalprice", 2)} AS total_revenue
         |FROM orders JOIN bands
         |  ON o_totalprice >= lo AND (hi IS NULL OR o_totalprice < hi)
         |GROUP BY 1, 2, 3
         |ORDER BY band_id""".stripMargin,
    "order_price_histogram" ->
      s"""SELECT CAST(round(o_totalprice * 1e2) AS BIGINT) // 5000000 AS bucket,
         |       (CAST(round(o_totalprice * 1e2) AS BIGINT) // 5000000)
         |         * 5000000 / 100.0 AS bucket_lo,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       ${Deterministic.exactSumSql("o_totalprice", 2)} AS total_revenue
         |FROM orders
         |GROUP BY 1, 2
         |ORDER BY bucket""".stripMargin,
    "order_price_equidepth" ->
      s"""WITH ranked AS (
         |  SELECT o_orderkey, o_totalprice,
         |         ntile(10) OVER (ORDER BY CAST(round(o_totalprice * 1e2) AS BIGINT) ASC,
         |                         o_orderkey ASC) AS bucket
         |  FROM orders)
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       min(o_totalprice) AS min_price,
         |       max(o_totalprice) AS max_price,
         |       ${Deterministic.exactSumSql("o_totalprice", 2)} AS total_revenue
         |FROM ranked GROUP BY 1 ORDER BY bucket""".stripMargin,
    "order_price_quartiles_by_status" ->
      s"""WITH ranked AS (
         |  SELECT o_orderstatus AS order_status, o_orderkey, o_totalprice,
         |         ntile(4) OVER (PARTITION BY o_orderstatus
         |           ORDER BY CAST(round(o_totalprice * 1e2) AS BIGINT) ASC,
         |                    o_orderkey ASC) AS bucket
         |  FROM orders)
         |SELECT order_status, CAST(bucket AS BIGINT) AS bucket,
         |       CAST(count(*) AS BIGINT) AS n_orders,
         |       min(o_totalprice) AS min_price,
         |       max(o_totalprice) AS max_price,
         |       ${Deterministic.exactSumSql("o_totalprice", 2)} AS total_revenue
         |FROM ranked GROUP BY 1, 2 ORDER BY order_status, bucket""".stripMargin,
    "orders_mode_priority" ->
      """WITH counts AS (
        |  SELECT o_orderstatus AS order_status, o_orderpriority AS mode_priority,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2)
        |SELECT order_status, mode_priority, n FROM counts
        |QUALIFY row_number() OVER (PARTITION BY order_status
        |                           ORDER BY n DESC, mode_priority ASC) = 1
        |ORDER BY order_status""".stripMargin,
    "lineitem_corr" ->
      """WITH sums AS (
        |  SELECT l_returnflag AS return_flag,
        |         CAST(count(*) AS HUGEINT) AS n,
        |         SUM(CAST(round(l_quantity) AS BIGINT)) AS sx,
        |         SUM(CAST(round(l_extendedprice * 1e2) AS BIGINT)) AS sy,
        |         SUM(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_quantity) AS BIGINT)) AS sxx,
        |         SUM(CAST(round(l_extendedprice * 1e2) AS BIGINT)
        |           * CAST(round(l_extendedprice * 1e2) AS BIGINT)) AS syy,
        |         SUM(CAST(round(l_quantity) AS BIGINT)
        |           * CAST(round(l_extendedprice * 1e2) AS BIGINT)) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT return_flag, CAST(n AS BIGINT) AS n,
        |       CAST(n * sxy - sx * sy AS DOUBLE)
        |         / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |            * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_qty_price,
        |       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * n AS DOUBLE) / 100.0
        |         AS covar_pop_qty_price
        |FROM sums ORDER BY return_flag""".stripMargin,
    "sales_grouping_sets" ->
      s"""SELECT CAST(year(CAST(o_orderdate AS DATE)) AS INT) AS year,
         |       o_orderstatus AS order_status,
         |       ${Deterministic.exactSumSql("o_totalprice", 2)} AS total_revenue,
         |       CAST(count(*) AS BIGINT) AS n_orders
         |FROM orders
         |GROUP BY GROUPING SETS ((1), (2), ())
         |ORDER BY year ASC NULLS FIRST, order_status ASC NULLS FIRST""".stripMargin,
    "docs_stratified_sample" -> {
      val rateCase = SampleRates
        .map { case (l, r) => s"WHEN '$l' THEN $r" }.mkString(" ")
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE ${TextFunctions.md5Hash60Sql("CAST(doc_id AS VARCHAR)")} % 100
         |      < (CASE lang $rateCase ELSE 0 END)
         |ORDER BY doc_id""".stripMargin
    },
  )

  /** DETERMINISTIC TRAIN/VAL/TEST SPLIT — the dataset-release step after
    * curation: every document lands in exactly one split by hashing its
    * id into 100 residue buckets (80/10/10), so the assignment is
    * reproducible from the id alone (no stored split table, no RNG
    * state), stable under corpus growth (a new doc never moves an old
    * one — the property shuffle-split lacks), and stratification-free by
    * construction (hash independence ⇒ every language lands ~80/10/10
    * without per-group machinery; the per-(lang, split) counts this
    * query emits are the release audit that checks exactly that).
    * Same md5-residue idiom as `docs_stratified_sample`, so both
    * engines derive identical buckets. Scale: one map-side hash +
    * bounded (lang × 3) aggregate.
    */
  /** THE release split rule — 100 md5-residue buckets, 80/10/10. One
    * definition shared by `docs_train_val_test_split` and
    * [[Dedup.splitLeakageReport]] (and their oracles via [[splitCaseSql]])
    * so the leakage report certifies THIS split structurally: a future
    * rate or hash change cannot leave the auditor certifying a split
    * nobody ships.
    */
  private[operators] def splitOf(idCol: Column): Column = {
    val bucket = pmod(TextFunctions.md5Hash60(idCol.cast("string")), lit(100L))
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
  }

  /** DuckDB twin of [[splitOf]] — keep in sync. */
  private[operators] def splitCaseSql(idExpr: String): String = {
    val bucket = TextFunctions.md5Hash60Sql(idExpr) + " % 100"
    s"CASE WHEN $bucket < 80 THEN 'train' WHEN $bucket < 90 THEN 'val' " +
      "ELSE 'test' END"
  }

  def docsTrainValTestSplit(spark: SparkSession, sfDir: String): DataFrame = {
    Tables.documents(spark, sfDir)
      .select(col("lang"), splitOf(col("doc_id")).alias("split"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).alias("n_docs"))
      .withColumn("share_pct",
        (col("n_docs") * lit(100)).cast("double") /
          sum(col("n_docs")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("lang"))))
      .orderBy("lang", "split")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "docs_train_val_test_split" -> docsTrainValTestSplit _,
    "range_join_price_band"  -> rangeJoinPriceBand _,
    "order_price_histogram"  -> orderPriceHistogram _,
    "order_price_equidepth"  -> orderPriceEquidepth _,
    "order_price_quartiles_by_status" -> orderPriceQuartilesByStatus _,
    "orders_mode_priority"   -> ordersModePriority _,
    "lineitem_corr"          -> lineitemCorr _,
    "sales_grouping_sets"    -> salesGroupingSets _,
    "docs_stratified_sample" -> docsStratifiedSample _,
    "docs_reservoir_sample"  -> docsReservoirSample _,
    "skew_join_brand_revenue" -> skewJoinBrandRevenue _,
    "bloom_pruned_order_items" -> bloomPrunedOrderItems _,
    "lineitem_moments"        -> lineitemMoments _,
    "lineitem_regression"     -> lineitemRegression _,
    "lineitem_ols_multi"      -> lineitemOlsMulti _,
    "lineitem_ols_incremental" -> lineitemOlsIncremental _,
    "lineitem_ols_stored"     -> lineitemOlsStored _,
    "lineitem_ols_forget"     -> lineitemOlsForget _,
    "lineitem_residual_outliers" -> lineitemResidualOutliers _,
  )
}
