package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Deterministic

/** Reference-parity star-schema queries, retargeted onto the TPC-H-ish
  * fixture tables (mapping per SURVEY.md §7).
  *
  * Semantics source: `/root/reference/code_base/transform_to_bq.py:102-167`
  * — 4 dimension queries + 2 fact queries, all declarative compositions of
  * projection / filter / inner-equi-join / distinct / groupBy-sum. Rebuilt
  * here Spark-first on `org.apache.spark.sql`: lazy DataFrames, Catalyst
  * does pushdown/pruning/join-selection, AQE picks physical join strategies.
  *
  * Scale notes (100 TB design):
  *  - `nation` (25 rows) and `region` (5 rows) have fixed cardinality at any
  *    scale factor → explicit `broadcast()` hint, no shuffle ever.
  *  - `customer`/`orders` grow with SF → no forced broadcast; AQE decides
  *    (broadcast at harness scale, shuffled hash/sort-merge at cluster
  *    scale). The fact⋈orders join shuffles on the join key only.
  *  - Aggregations are partial+final hash aggregates (map-side combine),
  *    so the shuffle carries one row per (group × partition), not raw rows.
  *  - The six mart outputs are built without ORDER BY, as in the
  *    reference: [[marts]] is what the mart job writes. A global sort of
  *    the fact table is a range-sampling scan plus a full range shuffle
  *    and gives a Parquet or BigQuery consumer nothing. The verification
  *    order (each oracle's ORDER BY) is appended only in the [[queries]]
  *    registry, for the deterministic dumps the oracle gate diffs.
  */
object StarSchema {

  /** dim_customer analog: null-reject filter → inner equi-join → rename.
    * Reference: customer ⋈ person with `personid IS NOT NULL` pre-filter
    * (`transform_to_bq.py:102-110`). Fixture: customer ⋈ nation.
    * The manual isNotNull mirrors the reference; Catalyst would infer it
    * from the inner join anyway (`InferFiltersFromConstraints`).
    */
  def dimCustomer(spark: SparkSession, sfDir: String): DataFrame = {
    val c = Tables.customer(spark, sfDir).alias("c")
    val n = Tables.nation(spark, sfDir).alias("n")
    c.filter(col("c.c_nationkey").isNotNull)
      .join(broadcast(n), col("c.c_nationkey") === col("n.n_nationkey"), "inner")
      .select(
        col("c.c_custkey").alias("customer_key"),
        col("c.c_name").alias("customer_name"),
        col("c.c_mktsegment").alias("market_segment"),
        col("n.n_name").alias("nation_name"),
        col("c.c_acctbal").alias("account_balance"))
  }

  /** dim_product analog: 3-way inner equi-join chain → rename.
    * Reference: product ⋈ productsubcategory ⋈ productcategory, where the
    * inner joins intentionally drop rows with a null mid-level key
    * (`transform_to_bq.py:112-123`). Fixture chain with the same shape:
    * supplier ⋈ nation ⋈ region. Both lookup sides are broadcast —
    * fixed-cardinality dims.
    */
  def dimProduct(spark: SparkSession, sfDir: String): DataFrame = {
    val s = Tables.supplier(spark, sfDir).alias("s")
    val n = Tables.nation(spark, sfDir).alias("n")
    val r = Tables.region(spark, sfDir).alias("r")
    s.join(broadcast(n), col("s.s_nationkey") === col("n.n_nationkey"), "inner")
      .join(broadcast(r), col("n.n_regionkey") === col("r.r_regionkey"), "inner")
      .select(
        col("s.s_suppkey").alias("product_key"),
        col("s.s_name").alias("product_name"),
        col("n.n_name").alias("subcategory_name"),
        col("r.r_name").alias("category_name"),
        col("s.s_acctbal").alias("list_price"))
  }

  /** dim_territory analog: pure projection/rename, no joins.
    * Reference: salesterritory rename (`transform_to_bq.py:125-131`).
    * Fixture: region.
    */
  def dimTerritory(spark: SparkSession, sfDir: String): DataFrame =
    Tables.region(spark, sfDir)
      .select(
        col("r_regionkey").alias("territory_key"),
        col("r_name").alias("territory_name"))

  /** dim_date analog: to_date → distinct → calendar attributes.
    * Reference: `transform_to_bq.py:133-141`. Note Spark's `dayofweek` is
    * 1=Sunday..7=Saturday — the oracle SQL pins the same convention
    * (DuckDB `dayofweek` is 0=Sunday..6, hence the +1 there).
    */
  def dimDate(spark: SparkSession, sfDir: String): DataFrame =
    Tables.orders(spark, sfDir)
      .select(to_date(col("o_orderdate")).alias("date"))
      .distinct()
      .select(
        col("date"),
        date_format(col("date"), "yyyyMMdd").cast("int").alias("date_key"),
        year(col("date")).alias("year"),
        month(col("date")).alias("month"),
        dayofmonth(col("date")).alias("day_of_month"),
        dayofweek(col("date")).alias("day_of_week"))

  /** fact_sales_detail analog (the flagship): fact ⋈ header with derived
    * surrogate `date_key` and per-line `line_total`.
    * Reference: salesorderdetail ⋈ salesorderheader on salesorderid with
    * `line_total = orderqty * unitprice` (`transform_to_bq.py:143-158`).
    * Fixture: lineitem ⋈ orders on l_orderkey = o_orderkey,
    * `line_total = l_extendedprice * (1 - l_discount)` (per-row IEEE double
    * arithmetic — deterministic, no cross-engine drift).
    *
    * This is the only join where both sides scale with SF — left to
    * Catalyst/AQE (sort-merge or shuffled-hash on the shuffled key); no
    * broadcast hint on purpose.
    */
  def factSalesDetail(spark: SparkSession, sfDir: String): DataFrame = {
    // NOT loadSpread, deliberately: (order_key, line_number) is not
    // unique in the fixture, so the declared ORDER BY is not a total
    // order and the cross-engine gate additionally pins the scan-order
    // tie-break — a round-robin spread reorders ties and fails the
    // oracle (measured: 12k+ row diffs at sf0.01). The map side stays
    // at scan width; at 100 TB that IS cluster width (multi-split scan),
    // so only the single-file fixture pays the narrow pass.
    val l = Tables.lineitem(spark, sfDir).alias("l")
    val o = Tables.orders(spark, sfDir).alias("o")
    l.join(o, col("l.l_orderkey") === col("o.o_orderkey"), "inner")
      .select(
        col("l.l_orderkey").alias("order_key"),
        col("l.l_linenumber").alias("line_number"),
        col("l.l_partkey").alias("product_key"),
        col("l.l_suppkey").alias("supplier_key"),
        col("o.o_custkey").alias("customer_key"),
        date_format(to_date(col("o.o_orderdate")), "yyyyMMdd").cast("int").alias("date_key"),
        col("l.l_quantity").alias("order_quantity"),
        col("l.l_extendedprice").alias("unit_price"),
        col("l.l_discount").alias("discount"),
        (col("l.l_extendedprice") * (lit(1.0) - col("l.l_discount"))).alias("line_total"))
  }

  /** fact_sales_agg_daily_product analog: groupBy(date_key, product_key) →
    * sums. Reference recomputes the un-cached detail lineage
    * (`transform_to_bq.py:160-167`) — kept here for parity; Catalyst still
    * collapses it into one job with partial+final hash aggregation.
    * Sums use [[Deterministic.exactSum]] (integer-quantized, order-independent).
    */
  def factSalesAggDailyProduct(spark: SparkSession, sfDir: String): DataFrame = {
    val l = Tables.lineitem(spark, sfDir).alias("l")
    val o = Tables.orders(spark, sfDir).alias("o")
    l.join(o, col("l.l_orderkey") === col("o.o_orderkey"), "inner")
      .select(
        date_format(to_date(col("o.o_orderdate")), "yyyyMMdd").cast("int").alias("date_key"),
        col("l.l_partkey").alias("product_key"),
        col("l.l_quantity").alias("order_quantity"),
        (col("l.l_extendedprice") * (lit(1.0) - col("l.l_discount"))).alias("line_total"))
      .groupBy(col("date_key"), col("product_key"))
      .agg(
        Deterministic.exactSum(col("order_quantity"), 2).alias("total_quantity_sold"),
        Deterministic.exactSum(col("line_total"), 4).alias("total_revenue"),
        count(lit(1)).alias("n_lines"))
  }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the materialized-view twin of
    * the SCD2 apply-changes gate: lifetime per-product sales totals
    * maintained as MERGEABLE PARTIAL STATE. History (orders before
    * 1997-01-01) and the CDC batch (1997+) are each aggregated to
    * per-product partials, and the merge SUMS THE QUANTIZED LONGS —
    * only the final merged sum is divided back to a double, so the
    * incremental result is bit-identical to the from-scratch aggregate
    * (summing two already-divided doubles would not be: (a+b)/f ≠
    * a/f + b/f in IEEE). The oracle IS the from-scratch one-shot
    * GROUP BY over all rows — incremental ≡ rebuild is the gate fact,
    * exactly like `dim_customer_scd2_incremental`.
    *
    * Scale shape: at 100 TB the stored table holds the integer partials
    * per key; a nightly batch aggregates only its own rows and merges by
    * key — history is never rescanned. Partial+final hash aggregation on
    * both legs; the merge shuffles only per-key partial rows.
    */
  /** The CDC cutover date the incremental-maintenance gates split on:
    * orders before it are "history" (the stored state), from it on are
    * "tonight's batch". Shared with [[Layout.bucketedIncrementalMerge]],
    * whose oracle is the same from-scratch rebuild.
    */
  private[graft] val TotalsCutover = "1997-01-01"

  /** Per-product MERGEABLE PARTIAL STATE over the order subset `pred`
    * selects: integer-quantized sums (exact, order-independent) plus the
    * line count — the row format an incremental materialized view stores
    * per key. Shared by [[factProductTotalsIncremental]] (in-plan union
    * merge) and [[Layout.bucketedIncrementalMerge]] (bucketed-table
    * merge); predicates reference the aliased scans as `l.*` / `o.*`.
    */
  private[graft] def productTotalsPartials(spark: SparkSession, sfDir: String,
      pred: Column): DataFrame = {
    val l = Tables.lineitem(spark, sfDir).alias("l")
    val o = Tables.orders(spark, sfDir).alias("o")
    totalsPartialsOfDetail(
      l.join(o, col("l.l_orderkey") === col("o.o_orderkey"), "inner")
        .filter(pred))
  }

  /** The partial-aggregation step alone, over any frame carrying detail
    * columns (`l_partkey`, `l_quantity`, `l_extendedprice`,
    * `l_discount`) — shared with the streaming maintenance fold, whose
    * micro-batch IS such a frame.
    */
  private[graft] def totalsPartialsOfDetail(detail: DataFrame): DataFrame =
    detail
      .select(col("l_partkey").alias("product_key"),
        col("l_quantity").alias("qty"),
        (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).alias("line_total"))
      .groupBy(col("product_key"))
      .agg(sum(Deterministic.quantize(col("qty"), 2)).alias("q2"),
        sum(Deterministic.quantize(col("line_total"), 4)).alias("r4"),
        count(lit(1)).alias("n"))

  /** Merge two partial-state frames by key (full-outer + long addition)
    * — the MERGEABLE-STATE operation every consumer of the totals state
    * runs; stays in integer partials so folds compose associatively.
    */
  private[graft] def mergeTotalsPartials(state: DataFrame, delta: DataFrame): DataFrame =
    state.alias("s").join(delta.alias("d"), Seq("product_key"), "full_outer")
      .select(col("product_key"),
        (coalesce(col("s.q2"), lit(0L)) + coalesce(col("d.q2"), lit(0L))).alias("q2"),
        (coalesce(col("s.r4"), lit(0L)) + coalesce(col("d.r4"), lit(0L))).alias("r4"),
        (coalesce(col("s.n"), lit(0L)) + coalesce(col("d.n"), lit(0L))).alias("n"))

  /** Divide the integer partials back to the published schema — ONCE,
    * after all merges, so the result is bit-identical to the one-shot
    * aggregate (summing already-divided doubles would not be).
    */
  private[graft] def finalizeTotals(partials: DataFrame): DataFrame =
    partials.select(col("product_key"),
      (col("q2") / lit(1e2)).cast("double").alias("total_quantity_sold"),
      (col("r4") / lit(1e4)).cast("double").alias("total_revenue"),
      col("n").alias("n_lines"))

  /** The joined detail window (lineitem ⋈ orders, `pred` applied) with
    * raw `l_*` columns — the micro-batch shape the maintenance folds
    * aggregate themselves.
    */
  private def detailWindow(spark: SparkSession, sfDir: String,
      pred: Column): DataFrame = {
    val l = Tables.lineitem(spark, sfDir).alias("l")
    val o = Tables.orders(spark, sfDir).alias("o")
    l.join(o, col("l.l_orderkey") === col("o.o_orderkey"), "inner").filter(pred)
  }

  /** TIME TRAVEL ON THE PARTIAL-REWRITE STATE TIER (r18 verdict #2):
    * the maintained per-product totals live as a VERSIONED bucketed
    * table ([[graft.streaming.EventStream.totalsFoldBatchVersioned]] —
    * copy-on-write bucket generations instead of in-place dynamic
    * overwrite), history seeds the baseline, tonight's batch (orders ≥
    * [[TotalsCutover]]) folds into its own generation, and this gate
    * reads the table AS OF batch −1 — the dimension exactly as a live
    * read served it BEFORE the batch, the question the in-place layout
    * destroys at fold time. The oracle rebuilds the totals from scratch
    * over EXACTLY the history window: a batch row served past the as-of
    * bound, a seed bucket lost to the fold, or a stale generation
    * resolved all surface as value diffs. StreamingSpec pins the
    * catch-up invariant (asOf(B) ≡ the prefix rebuild for every B), the
    * untouched-generation byte identity, and the loud failure past the
    * retention horizon.
    *
    * 100 TB shape: time travel is a LISTING filter over bucket
    * generations — zero data copy; the serving plan is the same
    * partition-pruned union a live read runs.
    */
  def factTotalsAsof(spark: SparkSession, sfDir: String): DataFrame =
    graft.CacheLifecycle.memoizedDurable(s"starschema.totalsAsof:$sfDir") {
      import graft.streaming.EventStream
      val stateDir = Layout.tmpPath("graft-totalsasof", sfDir)
      EventStream.seedVersionedState(
        productTotalsPartials(spark, sfDir,
          col("o.o_orderdate") < lit(TotalsCutover)),
        "product_key", stateDir)
      EventStream.totalsFoldBatchVersioned(spark, stateDir,
        detailWindow(spark, sfDir,
          col("o.o_orderdate") >= lit(TotalsCutover)), batchId = 0L)
      finalizeTotals(EventStream.totalsVersionedReadAsOf(spark, stateDir,
          asOfBatch = -1L))
        .orderBy("product_key")
    }

  def factProductTotalsIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    def partials(pred: Column): DataFrame =
      productTotalsPartials(spark, sfDir, pred)
    partials(col("o.o_orderdate") < lit(TotalsCutover))
      .unionAll(partials(col("o.o_orderdate") >= lit(TotalsCutover)))
      .groupBy(col("product_key"))
      .agg(sum(col("q2")).alias("q2m"), sum(col("r4")).alias("r4m"),
        sum(col("n")).alias("n_lines"))
      .select(col("product_key"),
        (col("q2m") / lit(1e2)).cast("double").alias("total_quantity_sold"),
        (col("r4m") / lit(1e4)).cast("double").alias("total_revenue"),
        col("n_lines"))
      .orderBy("product_key")
  }

  /** Oracle SQL (DuckDB dialect) for each query above — same table names,
    * same column aliases, same deterministic ordering.
    */
  val oracles: Map[String, String] = Map(
    // the from-scratch rebuild over EXACTLY the pre-batch history
    // window — what the as-of read must serve (see [[factTotalsAsof]])
    "fact_totals_asof" ->
      s"""SELECT l_partkey AS product_key,
         |       ${Deterministic.exactSumSql("l_quantity", 2)} AS total_quantity_sold,
         |       ${Deterministic.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS total_revenue,
         |       CAST(count(*) AS BIGINT) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderdate < '$TotalsCutover'
         |GROUP BY 1
         |ORDER BY product_key""".stripMargin,
    "fact_product_totals_incremental" ->
      s"""SELECT l_partkey AS product_key,
         |       ${Deterministic.exactSumSql("l_quantity", 2)} AS total_quantity_sold,
         |       ${Deterministic.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS total_revenue,
         |       CAST(count(*) AS BIGINT) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1
         |ORDER BY product_key""".stripMargin,
    "dim_customer" ->
      """SELECT c_custkey AS customer_key, c_name AS customer_name,
        |       c_mktsegment AS market_segment, n_name AS nation_name,
        |       c_acctbal AS account_balance
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_nationkey IS NOT NULL
        |ORDER BY customer_key""".stripMargin,
    "dim_product" ->
      """SELECT s_suppkey AS product_key, s_name AS product_name,
        |       n_name AS subcategory_name, r_name AS category_name,
        |       s_acctbal AS list_price
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |              JOIN region ON n_regionkey = r_regionkey
        |ORDER BY product_key""".stripMargin,
    "dim_territory" ->
      """SELECT r_regionkey AS territory_key, r_name AS territory_name
        |FROM region ORDER BY territory_key""".stripMargin,
    "dim_date" ->
      """SELECT date,
        |       CAST(strftime(date, '%Y%m%d') AS INT) AS date_key,
        |       CAST(year(date) AS INT) AS year,
        |       CAST(month(date) AS INT) AS month,
        |       CAST(dayofmonth(date) AS INT) AS day_of_month,
        |       CAST(dayofweek(date) + 1 AS INT) AS day_of_week
        |FROM (SELECT DISTINCT CAST(o_orderdate AS DATE) AS date FROM orders)
        |ORDER BY date""".stripMargin,
    "fact_sales_detail" ->
      """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        |       l_partkey AS product_key, l_suppkey AS supplier_key,
        |       o_custkey AS customer_key,
        |       CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INT) AS date_key,
        |       l_quantity AS order_quantity, l_extendedprice AS unit_price,
        |       l_discount AS discount,
        |       l_extendedprice * (1.0 - l_discount) AS line_total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |ORDER BY order_key, line_number""".stripMargin,
    "fact_sales_agg_daily_product" ->
      s"""SELECT CAST(strftime(CAST(o_orderdate AS DATE), '%Y%m%d') AS INT) AS date_key,
         |       l_partkey AS product_key,
         |       ${Deterministic.exactSumSql("l_quantity", 2)} AS total_quantity_sold,
         |       ${Deterministic.exactSumSql("l_extendedprice * (1.0 - l_discount)", 4)} AS total_revenue,
         |       CAST(count(*) AS BIGINT) AS n_lines
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1, 2
         |ORDER BY date_key, product_key""".stripMargin,
  )

  /** The six reference mart outputs, unsorted, each with its
    * verification order (the ORDER BY of its oracle).
    */
  private val martsInOrder: Map[String, ((SparkSession, String) => DataFrame, Seq[String])] = Map(
    "dim_customer"                 -> (dimCustomer _, Seq("customer_key")),
    "dim_product"                  -> (dimProduct _, Seq("product_key")),
    "dim_territory"                -> (dimTerritory _, Seq("territory_key")),
    "dim_date"                     -> (dimDate _, Seq("date")),
    "fact_sales_detail"            -> (factSalesDetail _, Seq("order_key", "line_number")),
    "fact_sales_agg_daily_product" -> (factSalesAggDailyProduct _, Seq("date_key", "product_key")),
  )

  /** The mart outputs as written: no ORDER BY (see the header). */
  val marts: Map[String, (SparkSession, String) => DataFrame] =
    martsInOrder.map { case (name, (build, _)) => name -> build }

  /** Query registry fragment for SparkEntry: each mart output sorted in
    * its verification order, plus the engine-side maintenance gates.
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    martsInOrder.map { case (name, (build, order)) =>
      name -> ((spark: SparkSession, sfDir: String) =>
        build(spark, sfDir).orderBy(order.map(col): _*))
    } ++ Map(
      "fact_product_totals_incremental" -> factProductTotalsIncremental _,
      "fact_totals_asof"                -> factTotalsAsof _,
    )
}
