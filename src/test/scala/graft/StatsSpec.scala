package graft

import org.apache.spark.sql.functions._

import graft.operators.{AsOfJoin, Stats}

class StatsSpec extends SparkSpec {

  test("range join covers every order exactly once (bands partition the domain)") {
    val banded = q("range_join_price_band")
    val total = banded.agg(sum("n_orders")).head.getLong(0)
    assert(total == Tables.orders(spark, sf).count())
    // row-level: every order matches EXACTLY one band (half-open bounds,
    // open-ended last band) — an aggregate-level check could be fooled by
    // a double count compensating a drop
    val bands = spark.range(0, 10).select(
      col("id").alias("band_id"),
      (col("id") * 50000.0).alias("lo"),
      when(col("id") < 9, (col("id") + 1) * 50000.0).alias("hi"))
    val o = Tables.orders(spark, sf)
    val matchesPerOrder = o.join(bands,
        o("o_totalprice") >= bands("lo") &&
          (bands("hi").isNull || o("o_totalprice") < bands("hi")))
      .groupBy("o_orderkey").count()
    assert(matchesPerOrder.filter(col("count") =!= 1).count() == 0)
    assert(matchesPerOrder.count() == o.count())
  }

  test("equi-key histogram agrees with the range-join bands bucket by bucket") {
    // same $50k width: histogram bucket b ≡ band b for b < 9; the open
    // top band 9 aggregates every histogram bucket >= 9
    val hist = q("order_price_histogram").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val bands = q("range_join_price_band").collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    for (b <- 0L until 9L)
      assert(hist.getOrElse(b, 0L) == bands.getOrElse(b, 0L), s"bucket $b")
    assert(hist.filter(_._1 >= 9L).values.sum == bands.getOrElse(9L, 0L))
    assert(hist.values.sum == Tables.orders(spark, sf).count())
  }

  test("equi-depth histogram: ntile discipline and lossless tiling of the price axis") {
    val rows = q("order_price_equidepth").collect().sortBy(_.getLong(0))
    // buckets numbered 1..10
    assert(rows.map(_.getLong(0)).toSeq == (1L to 10L))
    val sizes = rows.map(_.getLong(1))
    // equi-depth: sizes differ by at most one, larger buckets first
    // (remainder discipline), and every order lands in exactly one bucket
    assert(sizes.max - sizes.min <= 1)
    assert(sizes.sameElements(sizes.sortBy(-_)))
    assert(sizes.sum == Tables.orders(spark, sf).count())
    // buckets tile the axis in order: each bucket's min price sits at or
    // above the previous bucket's max (one-cent slack — the sort key is
    // exact cents, raw prices within a cent may straddle a boundary)
    for (i <- 1 until rows.length)
      assert(rows(i).getDouble(2) >= rows(i - 1).getDouble(3) - 0.01,
        s"bucket ${i + 1} overlaps bucket $i")
  }

  test("grouped quartiles: ntile discipline holds independently per status") {
    val rows = q("order_price_quartiles_by_status").collect()
    val statusCounts = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus")).agg(count(lit(1)))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.groupBy(_.getString(0)).keySet == statusCounts.keySet)
    for ((status, rs) <- rows.groupBy(_.getString(0))) {
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 4L), s"$status buckets")
      val sizes = sorted.map(_.getLong(2))
      assert(sizes.max - sizes.min <= 1, s"$status depth skew")
      assert(sizes.sameElements(sizes.sortBy(-(_: Long))), s"$status remainder order")
      assert(sizes.sum == statusCounts(status), s"$status total")
      for (i <- 1 until sorted.length)
        assert(sorted(i).getDouble(3) >= sorted(i - 1).getDouble(4) - 0.01,
          s"$status bucket ${i + 1} overlaps")
    }
  }

  test("priority intervals losslessly compact the order stream (SCD2 invariants)") {
    val iv = q("customer_priority_intervals").collect()
    // per-customer order counts reconcile
    val perCust = iv.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(5)).sum)
    val expected = Tables.orders(spark, sf).groupBy(col("o_custkey"))
      .agg(count(lit(1))).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perCust.toMap == expected)
    for ((_, rows) <- iv.groupBy(_.getLong(0))) {
      val sorted = rows.sortBy(_.getLong(1))
      // islands numbered 1..n per customer
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length))
      // the current (last) version is open-ended; all others point at the
      // successor's valid_from
      assert(sorted.last.isNullAt(6))
      for (Array(a, b) <- sorted.sliding(2) if sorted.length > 1) {
        assert(a.getString(2) != b.getString(2),
          s"adjacent intervals share priority — compaction incomplete")
        assert(!a.getDate(4).after(b.getDate(3)), "intervals out of order")
        assert(a.getDate(6) == b.getDate(3), "valid_until != successor valid_from")
      }
    }
  }

  test("dim_customer_scd2: surrogate keys unique, one current version, chain closed") {
    val dim = q("dim_customer_scd2").collect()
    // surrogate key is injective over the whole dimension
    assert(dim.map(_.getLong(0)).distinct.length == dim.length)
    // row count = interval count (the dim join loses/duplicates nothing)
    assert(dim.length == q("customer_priority_intervals").count())
    for ((cust, rows) <- dim.groupBy(_.getLong(1))) {
      val sorted = rows.sortBy(_.getLong(6))
      // versions 1..n, surrogate = cust * 2^20 + version
      assert(sorted.map(_.getLong(6)).toSeq == (1L to sorted.length))
      sorted.foreach(r =>
        assert(r.getLong(0) == cust * 1048576L + r.getLong(6)))
      // exactly one open/current version — the last
      assert(sorted.count(_.getBoolean(10)) == 1)
      assert(sorted.last.getBoolean(10) && sorted.last.isNullAt(9))
      // static attributes constant across a customer's versions
      assert(sorted.map(_.getString(2)).distinct.length == 1)
      assert(sorted.map(_.getString(4)).distinct.length == 1)
      for (Array(a, b) <- sorted.sliding(2) if sorted.length > 1)
        assert(a.getDate(9) == b.getDate(7), "valid_until != successor valid_from")
    }
  }

  test("scd2 apply-changes reproduces the from-scratch dimension row-for-row") {
    val full = q("dim_customer_scd2")
    val inc = q("dim_customer_scd2_incremental")
    assert(inc.exceptAll(full).count() == 0 && full.exceptAll(inc).count() == 0)
    // the split is real on this fixture: both sides of the cutoff carry
    // orders, so the merge exercises extension AND closure paths
    val orders = Tables.orders(spark, sf)
    val cutoff = lit("1997-01-01").cast("timestamp")
    assert(orders.filter(col("o_orderdate") < cutoff).count() > 0)
    assert(orders.filter(col("o_orderdate") >= cutoff).count() > 0)
  }

  test("scd2ApplyChanges enforces the append-only contract by default") {
    import spark.implicits._
    // history: key 1's single version runs Jan–Jun 1995
    val hist = Seq((1L, 1L, "1-URGENT",
        java.sql.Date.valueOf("1995-01-01"), java.sql.Date.valueOf("1995-06-01"),
        3L, Option.empty[java.sql.Date]))
      .toDF("customer_key", "island", "priority",
        "valid_from", "valid_to", "n_orders", "valid_until")
    def batch(date: String) = Seq(
        (1L, 100L, java.sql.Timestamp.valueOf(s"$date 00:00:00"), "2-HIGH"))
      .toDF("o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority")
    // out-of-order batch (predates the key's last valid_from) fails LOUDLY
    val ex = intercept[IllegalArgumentException] {
      operators.WindowAnalytics.scd2ApplyChanges(hist, batch("1994-03-01"))
    }
    assert(ex.getMessage.contains("append-only"), ex.getMessage)
    // an in-order batch passes the guard and merges
    val merged = operators.WindowAnalytics
      .scd2ApplyChanges(hist, batch("1996-01-01")).collect()
    assert(merged.length == 2, merged.mkString("; "))
    // and the same out-of-order batch slips through only when the caller
    // EXPLICITLY claims the contract holds by construction
    operators.WindowAnalytics
      .scd2ApplyChanges(hist, batch("1994-03-01"), enforceAppendOnly = false)
      .collect()
  }

  test("scd2_snapshot_pruned_scan matches the unpartitioned snapshot row-for-row") {
    val d = lit("2000-06-01").cast("date")
    val pruned = q("scd2_snapshot_pruned_scan")
    // unpartitioned twin: the same point-in-time filter over the plain
    // dimension (the pruned query's own late snapshot date)
    val plain = q("dim_customer_scd2")
      .filter(col("valid_from") <= d &&
        (col("valid_until").isNull || col("valid_until") > d))
    assert(pruned.exceptAll(plain).count() == 0 &&
      plain.exceptAll(pruned).count() == 0)
  }

  test("scd2 snapshot: at most one version per customer, window covers the date") {
    val d = java.sql.Date.valueOf("1997-06-01")
    val snap = q("dim_customer_snapshot").collect()
    assert(snap.map(_.getLong(1)).distinct.length == snap.length)
    snap.foreach { r =>
      assert(!r.getDate(7).after(d))
      assert(r.isNullAt(9) || r.getDate(9).after(d))
    }
    // every customer with history starting by the date is present
    val expected = q("dim_customer_scd2").filter(col("version") === 1)
      .filter(col("valid_from") <= lit("1997-06-01").cast("date")).count()
    assert(snap.length.toLong == expected)
  }

  test("triangle census matches a driver-side adjacency count on the same graph") {
    // independent reference: materialize the support-2 edge set, then
    // count oriented wedges/triangles with plain Scala adjacency sets
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey")).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val pairCounts = items.groupBy(_._1).values.flatMap { basket =>
      val parts = basket.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.groupBy(identity).view.mapValues(_.size)
    val edges = pairCounts.collect { case (e, n) if n >= 2 => e }.toSet
    val adjUp = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val degrees = edges.toSeq.flatMap(e => Seq(e._1, e._2))
      .groupBy(identity).view.mapValues(_.size.toLong)
    val wedges = degrees.values.map(d => d * (d - 1) / 2).sum
    val triangles = edges.toSeq.map { case (a, b) =>
      adjUp.getOrElse(b, Set.empty).count(c => edges((a, c)))
    }.sum
    val r = q("copurchase_triangles").collect()
    assert(r.length == 1)
    assert(r(0).getLong(0) == edges.size.toLong, "edge count")
    assert(r(0).getLong(1) == wedges, "wedge count")
    assert(r(0).getLong(2) == triangles.toLong, "triangle count")
    assert(triangles > 0, "fixture graph should close some triangles")
    assert(r(0).getDouble(3) == 3.0 * triangles / wedges, "clustering coefficient")
  }

  test("bloom-pruned semi join is row-identical to the plain semi join") {
    val l = Tables.lineitem(spark, sf)
    val big = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0).select("o_orderkey")
    val plain = l.join(big, l("l_orderkey") === big("o_orderkey"), "left_semi")
      .groupBy(col("l_returnflag").alias("return_flag"))
      .agg(count(lit(1)).alias("n_items"))
    val pruned = q("bloom_pruned_order_items").select("return_flag", "n_items")
    assert(pruned.except(plain).count() == 0 && plain.except(pruned).count() == 0)
    assert(pruned.count() > 0)
  }

  test("bloom predicate actually prunes: sketch rejects keys outside the build set") {
    import java.io.ByteArrayOutputStream
    val big = Tables.orders(spark, sf)
      .filter(col("o_totalprice") > 400000.0).select("o_orderkey")
    val bf = big.stat.bloomFilter("o_orderkey", 100000L, 0.01)
    val keys = big.collect().map(_.getLong(0)).toSet
    // every build key passes (no false negatives)
    assert(keys.forall(bf.mightContainLong))
    // fpp holds on definitely-absent keys (disjoint range)
    val absent = (1000000000L until 1000010000L)
    val fpCount = absent.count(bf.mightContainLong)
    assert(fpCount < 300, s"false-positive count $fpCount way above 1% of 10000")
    // and the Catalyst predicate agrees with the driver-side sketch
    // (sketch bytes ride a broadcast variable, not a plan literal)
    val bos = new ByteArrayOutputStream(); bf.writeTo(bos)
    val bloomBc = spark.sparkContext.broadcast(bos.toByteArray)
    val viaExpr = Tables.lineitem(spark, sf)
      .where(graft.functions.BloomPrune.mightContain(bloomBc, col("l_orderkey")))
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    assert(viaExpr.forall(bf.mightContainLong))
    // every lineitem key that IS a build key must survive the pruning
    // (build keys with no lineitem rows can't appear on the probe side)
    val lineitemKeys = Tables.lineitem(spark, sf)
      .select("l_orderkey").distinct().collect().map(_.getLong(0)).toSet
    assert((keys intersect lineitemKeys).subsetOf(viaExpr))
  }

  test("moments agree with Spark's built-in skewness/kurtosis to float tolerance") {
    val ours = q("lineitem_moments").collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    val ref = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(avg("l_quantity").alias("m"), var_pop("l_quantity").alias("v"),
        skewness("l_quantity").alias("s"), kurtosis("l_quantity").alias("k"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    for ((flag, (m, v, s, k)) <- ref) {
      val (om, ov, os, ok) = ours(flag)
      assert(math.abs(om - m) < 1e-6 && math.abs(ov - v) < 1e-4)
      assert(math.abs(os - s) < 1e-6, s"skewness $flag: $os vs $s")
      assert(math.abs(ok - k) < 1e-4, s"kurtosis $flag: $ok vs $k")
    }
  }

  test("regression slope/intercept minimize squared error (perturbation check)") {
    val rows = q("lineitem_regression").collect()
    val data = Tables.lineitem(spark, sf)
      .select(col("l_returnflag"), col("l_quantity"), col("l_extendedprice")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    for (row <- rows) {
      val flag = row.getString(0)
      val (slope, intercept) = (row.getDouble(2), row.getDouble(3))
      val pts = data.filter(_._1 == flag)
      def sse(a: Double, b: Double): Double =
        pts.map { case (_, x, y) => val e = y - (a * x + b); e * e }.sum
      val base = sse(slope, intercept)
      for (da <- Seq(-1.0, 1.0); db <- Seq(-100.0, 100.0))
        assert(base <= sse(slope + da, intercept + db))
    }
  }

  test("dq audit lists every rule and proves the fixture clean") {
    val rows = q("dq_violations").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == Set("nonpositive_total", "orderdate_out_of_range",
      "null_custkey", "duplicate_orderkey", "orphan_custkey"))
    assert(rows.values.forall(_ == 0L), s"fixture not clean: $rows")
  }

  test("dq rules catch injected violations") {
    import spark.implicits._
    // same predicate shapes as the audit, on data with planted defects
    val bad = Seq(
      (1L, Some(10L), -5.0, "1989-12-31"),  // nonpositive + out-of-range
      (1L, Some(11L), 20.0, "2000-06-01"),  // duplicate key
      (2L, None, 30.0, "2000-06-01"))       // null custkey
      .toDF("okey", "ckey", "total", "d")
    assert(bad.filter(col("total") <= 0).count() == 1)
    assert(bad.filter(to_date(col("d")) < to_date(lit("1990-01-01"))).count() == 1)
    assert(bad.filter(col("ckey").isNull).count() == 1)
    assert(bad.groupBy("okey").count().filter(col("count") > 1).count() == 1)
  }

  test("mode is the argmax of the per-group counts with the pinned tiebreak") {
    val m = q("orders_mode_priority").collect()
    val counts = Tables.orders(spark, sf)
      .groupBy("o_orderstatus", "o_orderpriority").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    for (row <- m) {
      val (status, mode, n) = (row.getString(0), row.getString(1), row.getLong(2))
      val group = counts.filter(_._1 == status)
      assert(n == group.map(_._3).max)
      // tie → lexicographically smallest priority wins
      assert(mode == group.filter(_._3 == n).map(_._2).min)
    }
  }

  test("exact-power-sum correlation matches Spark's corr to double precision") {
    val got = q("lineitem_corr").select("return_flag", "corr_qty_price").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    val ref = Tables.lineitem(spark, sf)
      .groupBy("l_returnflag")
      .agg(corr(col("l_quantity"), col("l_extendedprice")).alias("c")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // Spark's corr is a streaming-moment implementation; ours is exact
    // integer sums — they agree to ~1e-9 relative, not bit-exactly
    for ((k, v) <- got) assert(math.abs(v - ref(k)) < 1e-9, s"$k: $v vs ${ref(k)}")
  }

  test("grouping sets emits per-year, per-status, and grand-total rows only") {
    val gs = q("sales_grouping_sets").collect()
    val nYears = Tables.orders(spark, sf)
      .select(year(to_date(col("o_orderdate")))).distinct().count()
    val nStatus = Tables.orders(spark, sf)
      .select("o_orderstatus").distinct().count()
    assert(gs.length == nYears + nStatus + 1)
    // no cross rows: year and status never both non-null
    assert(!gs.exists(r => !r.isNullAt(0) && !r.isNullAt(1)))
    val grand = gs.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 &&
      grand.head.getLong(3) == Tables.orders(spark, sf).count())
  }

  test("stratified sample is a deterministic subset with per-stratum thinning") {
    val s1 = q("docs_stratified_sample").collect()
    val s2 = q("docs_stratified_sample").collect()
    assert(s1.toSeq == s2.toSeq) // same plan, same rows, same order
    val byLang = s1.groupBy(_.getString(1)).map { case (l, rs) => l -> rs.length }
    val totals = Tables.documents(spark, sf).groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // en is thinned to ~10%, others ~40% — allow wide hash variance at sf0.001
    assert(byLang("en").toDouble / totals("en") < 0.25)
    assert(byLang("de").toDouble / totals("de") > 0.2)
  }

  test("salted join result is row-identical to the plain join") {
    val salted = q("skew_join_brand_revenue")
    val plain = Tables.lineitem(spark, sf)
      .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").alias("brand"))
      .agg(count(lit(1)).alias("n_items"))
    assert(salted.select("brand", "n_items").exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted.select("brand", "n_items")).count() == 0)
  }

  test("asOfForward picks the earliest right row at-or-after each left time") {
    import spark.implicits._
    val left = Seq((1L, 100L, 10L), (2L, 100L, 21L), (3L, 100L, 99L))
      .toDF("lid", "k", "lt")
    val right = Seq((7L, 100L, 10L), (8L, 100L, 20L), (9L, 100L, 30L))
      .toDF("rid", "rk", "rt")
    val out = AsOfJoin.asOfForward(left, right,
        leftKey = "k", rightKey = "rk",
        leftTimeUs = col("lt"), rightTimeUs = col("rt"),
        carries = Seq("rid"), rightTiebreak = "rid")
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // lid 1 at t=10 → rid 7 (inclusive); lid 2 at t=21 → rid 9 (next after);
    // lid 3 at t=99 → nothing later → dropped (inner semantics)
    assert(out == Map(1L -> 7L, 2L -> 9L))
  }

  test("sliding window emits each event into 4 windows") {
    val sliding = q("events_sliding_window")
    val total = sliding.agg(sum("n_events")).head.getLong(0)
    assert(total == Tables.events(spark, sf).count() * 4)
  }

  test("containment dominates Jaccard on every candidate pair") {
    val j = q("dedup_ngram_jaccard").select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val c = q("dedup_containment").select("doc_a", "doc_b", "containment").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // |A∩B|/min ≥ |A∩B|/union: every Jaccard pair ≥0.8 must appear here
    for ((pair, jac) <- j) assert(c.contains(pair) && c(pair) >= jac - 1e-12)
  }

  test("frame sampling takes every 2nd frame with the tail frame short") {
    val fs = q("multimodal_frame_sample").collect()
    val byDoc = fs.groupBy(_.getLong(0))
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), length(col("text")).alias("len")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    for ((id, rows) <- byDoc) {
      val nFrames = (lens(id) + 255) / 256
      assert(rows.length == (nFrames + 1) / 2) // indices 0,2,4,...
      for (r <- rows) {
        val idx = r.getInt(1)
        val expected = math.min(256, lens(id) - idx * 256)
        assert(r.getInt(2) == expected)
      }
    }
  }

  test("reservoir sample: k rows per source, dense ranks, no window in the plan") {
    val rows = q("docs_reservoir_sample").collect()
    val perSource = Tables.documents(spark, sf)
      .groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySource = rows.groupBy(_.getString(0))
    assert(bySource.keySet == perSource.keySet)
    for ((s, rs) <- bySource) {
      assert(rs.length == math.min(5L, perSource(s)), s"source $s")
      assert(rs.map(_.getLong(1)).sorted.toSeq == (1L to rs.length).toSeq)
      // ranks follow the (h, doc_id) sort order
      val sorted = rs.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3)))
      assert(sorted.toSeq == sorted.sorted.toSeq)
    }
    // the scale contract: two-phase bounded aggregate, no per-stratum
    // window sort anywhere in the physical plan
    val plan = q("docs_reservoir_sample").queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan.take(500))
    assert(!plan.contains("Window"), "window sort crept into the sample plan")
  }

  test("OLS maintenance gates: incremental equals the full model exactly;" +
      " the erasure fold materially changes it") {
    import operators.Stats
    def byFlag(name: String) = q(name).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val full = byFlag("lineitem_ols_multi")
    // additivity of the integer sums is EXACT — no tolerance
    assert(byFlag("lineitem_ols_incremental") == full,
      "maintained-statistics retrain diverged from the full-corpus model")
    val erased = byFlag("lineitem_ols_forget")
    assert(erased.keySet == full.keySet)
    // the cohort is non-empty at this fixture and the model really moved:
    // row counts drop for every flag, and at least one coefficient changes
    // (a forget gate that provably changes nothing would be vacuous)
    val nForgotten = Tables.lineitem(spark, sf)
      .filter(Stats.olsForgottenRule(col("l_orderkey"))).count()
    assert(nForgotten > 0, "erasure rule matches no rows — fixture drift?")
    full.keySet.foreach { f =>
      assert(erased(f)._1 < full(f)._1, s"flag $f row count did not drop")
    }
    assert(full.exists { case (f, v) =>
      (v._2, v._3, v._4) != (erased(f)._2, erased(f)._3, erased(f)._4) },
      "forgetting the cohort left every coefficient bit-identical")
  }

  /** md5 snapshot of every data file under a bucketed state table — the
    * byte-identity witness (the StreamingSpec crash-replay discipline).
    */
  private def bucketSnapshot(stateDir: String): Map[String, (Long, String)] = {
    def md5(p: java.nio.file.Path): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
      new java.math.BigInteger(1, d.digest(java.nio.file.Files.readAllBytes(p)))
        .toString(16)
    }
    val base = java.nio.file.Paths.get(s"$stateDir/state")
    val out = scala.collection.mutable.Map.empty[String, (Long, String)]
    java.nio.file.Files.walk(base).forEach { p =>
      val rel = base.relativize(p).toString
      if (rel.contains("bucket=") && p.toFile.isFile && !rel.endsWith("_SUCCESS"))
        out(rel) = (java.nio.file.Files.size(p), md5(p))
    }
    out.toMap
  }

  test("stored OLS sums: betas served from disk equal the session model;" +
      " replaying the fold and re-running the negated forget are byte-exact no-ops") {
    import operators.Stats
    import graft.streaming.EventStream
    // the registered gate ≡ the session full-corpus model, exactly
    assert(q("lineitem_ols_stored").collect().toSeq ==
      q("lineitem_ols_multi").collect().toSeq,
      "stored-table serving diverged from the session model")
    // fresh state table: seed history, fold the batch, replay it — the
    // replay skips on the batch's committed generation, byte-exact (the
    // totals discipline on the model tier)
    val q0 = Stats.olsQuantized(spark, sf)
    val isBatch = col("l_orderkey") % 10 === 9
    def agg(df: org.apache.spark.sql.DataFrame) =
      Stats.olsAgg(df.groupBy(col("return_flag")))
    val stateDir = java.nio.file.Files.createTempDirectory("graft-olsreplay").toString
    EventStream.olsSumsSeed(spark, stateDir, agg(q0.filter(!isBatch)))
    EventStream.olsSumsFoldBatch(spark, stateDir, agg(q0.filter(isBatch)), 0L)
    val afterFold = bucketSnapshot(stateDir)
    EventStream.olsSumsFoldBatch(spark, stateDir, agg(q0.filter(isBatch)), 0L)
    assert(bucketSnapshot(stateDir) == afterFold,
      "replay rewrote state a committed fold already applied")
    // stored sums == the full-corpus aggregation, exactly (fold ≡ rebuild)
    def sumsOf(df: org.apache.spark.sql.DataFrame): Set[Seq[String]] =
      df.collect().map(_.toSeq.map(String.valueOf)).toSet
    assert(sumsOf(EventStream.olsSumsRead(spark, stateDir)) == sumsOf(agg(q0)),
      "stored sums diverged from the from-scratch aggregation")
    // the negated forget: applies once, then a re-run (second JVM /
    // crash recovery) provably cannot subtract twice — it skips on the
    // forget generation's own commit
    val cohort = agg(q0.filter(Stats.olsForgottenRule(col("l_orderkey"))))
    EventStream.forgetFromOlsSums(spark, stateDir, cohort, 1L)
    val afterForget = bucketSnapshot(stateDir)
    EventStream.forgetFromOlsSums(spark, stateDir, cohort, 1L)
    assert(bucketSnapshot(stateDir) == afterForget,
      "re-run of the negated fold double-subtracted the cohort")
    // and the erased stored state == the survivor rebuild, exactly
    assert(sumsOf(EventStream.olsSumsRead(spark, stateDir)) ==
      sumsOf(agg(q0.filter(!Stats.olsForgottenRule(col("l_orderkey"))))),
      "stored forget diverged from the filter-rebuild")
  }
}
