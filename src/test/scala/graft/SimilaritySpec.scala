package graft

import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{VectorFunctions => V}

class SimilaritySpec extends SparkSpec {

  test("knn: 5 neighbors per query, ranks 1..5, cosine within [-1,1]") {
    val df = q("knn_brute_cosine")
    assert(df.count() == 50) // 10 queries × 5
    val bad = df.filter(
      col("cos_sim") < -1.0 || col("cos_sim") > 1.0 ||
      col("rank") < 1 || col("rank") > 5 ||
      col("query_id") === col("neighbor_id")).count()
    assert(bad == 0)
  }

  test("knn ranking is descending in cos_sim per query") {
    val df = q("knn_brute_cosine").orderBy("query_id", "rank").collect()
    df.groupBy(_.getAs[Long]("query_id")).values.foreach { rows =>
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("cos_sim"))
      assert(sims.sameElements(sims.sortBy(-_)))
    }
  }

  test("ann candidates come from the query's own bucket and match brute scores") {
    val ann = q("ann_lsh_cosine")
    assert(ann.count() > 0)
    // every (query, neighbor) pair in ANN must carry the same score brute force computed
    val brute = q("knn_brute_cosine")
      .select(col("query_id"), col("neighbor_id"), col("cos_sim").alias("bcos"))
    val joined = ann.join(brute, Seq("query_id", "neighbor_id"), "inner")
      .filter(col("cos_sim") =!= col("bcos"))
    assert(joined.count() == 0)
  }

  test("ann_recall_report: counts match the registered twins, recall in (0,1]") {
    val r = q("ann_recall_report").collect()
    assert(r.length == 1)
    val (nEx, nLsh, recall) = (r(0).getLong(1), r(0).getLong(2), r(0).getDouble(3))
    assert(nEx == q("embedding_near_dup").count(),
      "exhaustive count drifted from the registered exhaustive twin")
    assert(nLsh == q("embedding_near_dup_lsh").count(),
      "lsh count drifted from the registered lsh twin")
    assert(nLsh <= nEx, "LSH pairs must be a subset of exhaustive pairs")
    assert(recall == nLsh.toDouble / nEx && recall > 0.0 && recall <= 1.0)
  }

  test("kmeans step: counts constant per cell, cover the corpus, exact means") {
    val rows = q("kmeans_lloyd_step").collect()
    val byCell = rows.groupBy(_.getLong(0))
    // every cell carries all 64 dims with ONE member count
    byCell.foreach { case (cell, rs) =>
      assert(cell % 97 == 0, s"cell $cell is not a seed centroid id")
      assert(rs.map(_.getInt(1)).sorted.toSeq == (0 until 64), s"cell $cell dims")
      assert(rs.map(_.getLong(2)).distinct.length == 1, s"cell $cell counts differ")
    }
    // assignment is a partition: per-cell members sum to the corpus size
    val corpus = Tables.loadSpread(spark, sf, "embeddings").count()
    assert(byCell.values.map(_.head.getLong(2)).sum == corpus)
    // the emitted mean is exactly the one terminal division of the sums
    rows.foreach { r =>
      assert(r.getDouble(4) == r.getLong(3).toDouble / r.getLong(2))
    }
  }

  test("ivf_recall_at_5: one row per query, hits bounded by both top-5 lists") {
    val rows = q("ivf_recall_at_5").collect()
    assert(rows.length == q("knn_brute_cosine")
      .select("query_id").distinct().count().toInt)
    rows.foreach { r =>
      val (nBrute, nHits, recall) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nBrute == 5L)
      assert(nHits >= 0L && nHits <= nBrute)
      assert(recall == nHits.toDouble / nBrute)
    }
    // the fixture's cells are coherent enough that IVF finds SOMETHING
    assert(rows.map(_.getLong(2)).sum > 0, "IVF recall is zero everywhere")
  }

  test("sq8: codes bounded to [-127,127], recall rows well-formed and non-zero") {
    import org.apache.spark.sql.functions._
    // int8 range: every quantized code fits the byte domain
    val outOfRange = graft.operators.Similarity.quantized8(spark, sf)
      .select(explode(col("v8")).alias("x"))
      .filter(abs(col("x")) > 127).count()
    assert(outOfRange == 0, "SQ8 code outside [-127, 127]")
    val rows = q("sq8_recall_at_5").collect()
    assert(rows.length == q("knn_brute_cosine")
      .select("query_id").distinct().count().toInt)
    rows.foreach { r =>
      val (nExact, nHits, recall) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nExact == 5L)
      assert(nHits >= 0L && nHits <= nExact)
      assert(recall == nHits.toDouble / nExact)
    }
    // 8-bit scoring of 64-dim vectors preserves most of the ranking —
    // zero overall recall would mean the quantization is broken, not lossy
    assert(rows.map(_.getLong(2)).sum > 0, "SQ8 recall is zero everywhere")
  }

  test("pq adc recall: rows well-formed; 8-byte codes recover signal over 64 dims") {
    val rows = q("pq_adc_recall_at_5").collect()
    assert(rows.length == q("knn_brute_cosine")
      .select("query_id").distinct().count().toInt)
    rows.foreach { r =>
      val (nExact, nHits, recall) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nExact == 5L)
      assert(nHits >= 0L && nHits <= nExact)
      assert(recall == nHits.toDouble / nExact)
    }
    // 8 one-byte codes per 64-dim vector is a lossy 8x compression; zero
    // recall everywhere would mean broken encoding, not lossy scoring
    assert(rows.map(_.getLong(2)).sum > 0, "PQ/ADC recall is zero everywhere")
  }

  test("multi-probe IVF recall dominates nprobe=1 for every query") {
    def pairs(name: String) = q(name).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = pairs("knn_brute_cosine")
    val p1 = pairs("ivf_ann_cosine")
    val p2 = pairs("ivf_ann_nprobe2")
    // probing a superset of cells can only add candidates, so per-query
    // hits against the exhaustive top-5 must not decrease
    val queries = brute.map(_._1)
    queries.foreach { qid =>
      val hits1 = brute.count(p => p._1 == qid && p1(p))
      val hits2 = brute.count(p => p._1 == qid && p2(p))
      assert(hits2 >= hits1, s"query $qid: nprobe=2 recall $hits2 < nprobe=1 $hits1")
    }
    // and the nprobe=1 probe cell is among the two probed cells: every
    // nprobe=1 CANDIDATE that made top-5 under nprobe=2 scoring is kept
    assert(queries.nonEmpty)
  }

  test("kmeansIterate converges on a planted 3-cluster fixture") {
    import spark.implicits._
    import graft.operators.Similarity
    // three well-separated centers; jitter (j*7+d*3)%5-2 ∈ [-2,2] cycles
    // uniformly over the 20 points per cluster, so the per-dim jitter
    // mean is EXACTLY 0 and the true Lloyd fixpoint is the planted center
    val centers = Seq(
      Array(100.0, 0.0, 0.0, 0.0),
      Array(0.0, 100.0, 0.0, 0.0),
      Array(0.0, 0.0, 100.0, 0.0))
    val pts = for {
      (c, ci) <- centers.zipWithIndex
      j <- 0 until 20
    } yield ((ci * 20 + j).toLong,
      c.zipWithIndex.map { case (x, d) => x + ((j * 7 + d * 3) % 5 - 2).toDouble })
    val vectors = pts.toDF("vec_id", "v")
    // seed with one (jittered) point per planted cluster
    val init = vectors.filter(col("vec_id") % 20 === 0)
      .select((col("vec_id") / 20).cast("long").alias("cell"), col("v").alias("cv"))
    val (cents, iters) = Similarity.kmeansIterate(vectors, init,
      maxIter = 10, tol = 1e-9, localCheckpointDepth = 1)
    assert(iters < 10, "planted clusters must converge before the cap")
    val rows = cents.orderBy("cell").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getLong(1) == 20L, "every planted cluster keeps its 20 members")
      val cv = r.getSeq[Double](2)
      val planted = centers(r.getLong(0).toInt)
      cv.zip(planted).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"centroid drifted: $a vs planted $b")
      }
    }
  }

  test("quantized cosine tracks double-precision cosine within quantization error") {
    val e = Tables.embeddings(spark, sf).limit(50)
    val a = e.select(col("vec_id").alias("ia"), col("embedding").alias("ea"))
    val b = e.select(col("vec_id").alias("ib"), col("embedding").alias("eb"))
    val pairs = a.join(b, col("ia") < col("ib"))
      .select(
        V.cosine(col("ea"), col("eb")).alias("dcos"),
        V.qcosineFrom(
          V.qdot(V.quantize1000(col("ea")), V.quantize1000(col("eb"))),
          V.qnorm2(V.quantize1000(col("ea"))),
          V.qnorm2(V.quantize1000(col("eb")))).alias("qcos"))
    val maxErr = pairs.agg(max(abs(col("dcos") - col("qcos")))).collect()(0).getDouble(0)
    assert(maxErr < 0.01, s"quantization error $maxErr")
  }

  test("multi-probe LSH recall dominates the single-bucket path for every query") {
    // dominance is a THEOREM here (candidate superset; a brute-top-5 hit
    // can only be displaced by a neighbor that is itself brute-top-5), so
    // the assertion is per query, not on the mean
    val brute = q("knn_brute_cosine").select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(name: String): Map[Long, Int] =
      q(name).select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.count(brute)).toMap
    val single = hits("ann_lsh_cosine")
    val multi = hits("ann_lsh_multiprobe")
    val report = q("lsh_multiprobe_recall_at_5").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(report.nonEmpty)
    for ((qid, h) <- report) {
      assert(h == multi.getOrElse(qid, 0).toLong,
        s"registered multiprobe recall disagrees with recomputed hits for $qid")
      assert(h >= single.getOrElse(qid, 0).toLong,
        s"query $qid: multiprobe hits $h < single-bucket ${single.getOrElse(qid, 0)}")
    }
    // and the probe widening actually buys something on this fixture
    assert(multi.values.sum > single.values.sum)
  }

  test("refined-centroid IVF recall holds the subsample baseline's level") {
    // NOT a theorem (Lloyd refinement has no per-query monotonicity, unlike
    // nprobe's candidate superset) — the spec pins the measured fixture
    // property: mean recall must not collapse under refinement
    def mean(name: String): Double = {
      val rows = q(name).collect()
      assert(rows.length == 10 && rows.forall(r => r.getLong(2) <= 5L))
      rows.map(_.getDouble(3)).sum / rows.length
    }
    val base = mean("ivf_recall_at_5")
    val refined = mean("ivf_recall_refined")
    assert(refined >= base - 0.1,
      s"refined-centroid mean recall $refined collapsed vs subsample $base")
  }

  test("refined-codebook PQ recall holds the subsample codebook's level") {
    // same contract as the IVF twin: Lloyd refinement has no per-query
    // monotonicity theorem, so the spec pins the measured fixture
    // property — mean recall must not collapse under refinement
    def mean(name: String): Double = {
      val rows = q(name).collect()
      assert(rows.length == 10 && rows.forall(r => r.getLong(2) <= 5L))
      rows.map(_.getDouble(3)).sum / rows.length
    }
    val base = mean("pq_adc_recall_at_5")
    val refined = mean("pq_recall_refined")
    assert(refined >= base - 0.1,
      s"refined-codebook mean recall $refined collapsed vs subsample $base")
  }

  test("ivfpq: every served neighbor comes from the query's probed cell; report well-formed") {
    // the IVFADC composition's structural property: candidates are the
    // IVF restriction — a neighbor outside the query's (nprobe=1) cell
    // means the candidate join leaked
    val cellOf = operators.Similarity.assignedCells(spark, sf)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val top5 = operators.Similarity.ivfpqTop5(spark, sf).collect()
    assert(top5.nonEmpty)
    top5.foreach { r =>
      val (q5, n5) = (r.getLong(0), r.getLong(1))
      assert(q5 != n5, "self-match served")
      assert(cellOf(n5) == cellOf(q5),
        s"neighbor $n5 (cell ${cellOf(n5)}) served to query $q5 (cell ${cellOf(q5)})")
    }
    // the registered report: one row per query, counts bounded, recall a
    // MEASURED number in [0,1] (the pinned figure lives in the oracle
    // gate; here only well-formedness)
    val rows = q("ivfpq_recall_at_5").collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      assert(r.getLong(1) == 5L && r.getLong(2) <= 5L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // no recall floor asserted: on the unstructured synthetic fixture
    // the composed losses (cell pruning × code quantization) are exactly
    // what the registered number measures — the oracle gate pins it
  }

  test("ivfpq re-rank dominates the un-reranked IVF-PQ recall per query (theorem)," +
      " and served neighbors stay inside the probed cell") {
    // THE THEOREM: re-rank candidates (ADC top-20) ⊇ ADC top-5, and the
    // re-rank scores with the EXACT cosine — a brute-top-5 member among
    // the candidates can be out-scored by at most 4 vectors in the whole
    // corpus, so it always survives the exact top-5. Hence every
    // un-reranked hit is a re-ranked hit, query by query.
    val unreranked = q("ivfpq_recall_at_5").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val reranked = q("ivfpq_rerank_recall_at_5").collect()
    assert(reranked.length == 10)
    reranked.foreach { r =>
      val qid = r.getLong(0)
      assert(r.getLong(1) == 5L)
      assert(r.getLong(2) >= unreranked(qid),
        s"query $qid: re-rank hits ${r.getLong(2)} < un-reranked hits ${unreranked(qid)}")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // the re-rank changes SCORING only, never the candidate restriction:
    // served neighbors still come from the query's probed cell
    val cellOf = operators.Similarity.assignedCells(spark, sf)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val top5 = operators.Similarity.ivfpqRerankTop5(spark, sf).collect()
    assert(top5.nonEmpty)
    top5.foreach { r =>
      val (qid, nid) = (r.getLong(0), r.getLong(1))
      assert(qid != nid, "self-match served")
      assert(cellOf(nid) == cellOf(qid),
        s"re-ranked neighbor $nid (cell ${cellOf(nid)}) served to query $qid (cell ${cellOf(qid)})")
    }
  }

  test("maintained ANN index: fold-then-union equals the frozen-parameter rebuild," +
      " and a batch vector lands in its true nearest cell") {
    import operators.Similarity
    // THE GATE THEOREM (incremental ≡ rebuild): assignment and encoding
    // are per-vector maps under FROZEN parameters, so the maintained
    // tables (history indexed at build + batch folded in) must be
    // row-identical to assigning/encoding the whole union from scratch
    // with the same frozen centroids/codebooks
    val cents = Similarity.maintainedCentroids(spark, sf)
    val batch = Similarity.maintainedBatch(spark, sf)
    assert(batch.count() > 0, "fixture has no batch vectors")
    val maintCells = Similarity.maintainedCells(spark, sf)
    val maintCodes = Similarity.maintainedCodes(spark, sf)
    val union = maintCells.select(col("vec_id"), col("v"), col("n2"))
    val rebuildCells = Similarity.assignCellsTo(union, cents)
    assert(maintCells.exceptAll(rebuildCells).count() == 0)
    assert(rebuildCells.exceptAll(maintCells).count() == 0)
    val rebuildCodes = Similarity.maintainedCodesRebuilt(spark, sf)
    assert(maintCodes.exceptAll(rebuildCodes).count() == 0)
    assert(rebuildCodes.exceptAll(maintCodes).count() == 0)
    // the batch rows are genuinely IN the maintained index
    val batchIds = batch.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val cellIds = maintCells.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(batchIds.subsetOf(cellIds), "batch vectors missing from the cell table")
    assert(maintCodes.filter(col("vec_id").isin(batchIds.toSeq.map(Long.box): _*))
      .count() == batchIds.size * 8, "batch vectors missing PQ codes")
    // independent argmax spelling: every batch vector's assigned cell is
    // its TRUE nearest frozen centroid (score desc, centroid id asc) —
    // max(struct(score, -c_id)) picks exactly that without a window
    val expected = batch.join(broadcast(cents))
      .select(col("vec_id"), col("c_id"),
        graft.functions.VectorFunctions.qcosineFrom(
          graft.functions.VectorFunctions.qdot(col("v"), col("cv")),
          col("n2"), col("cn2")).alias("s"))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("s"), (-col("c_id")).alias("nc"))).alias("m"))
      .select(col("vec_id"), (-col("m.nc")).alias("true_cell"))
    val wrong = maintCells.join(expected, "vec_id")
      .filter(col("cell") =!= col("true_cell"))
    assert(wrong.count() == 0,
      s"batch vectors assigned off their nearest centroid: ${wrong.collect().mkString(",")}")
    // the registered report: well-formed, queries include the folded
    // batch vector (vec_id 9 probes THROUGH the maintained index)
    val rows = q("ivfpq_maintained_recall_at_5").collect()
    assert(rows.length == 10 && rows.exists(_.getLong(0) == 9L))
    rows.foreach { r =>
      assert(r.getLong(1) == 5L && r.getLong(2) <= 5L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("ann drift report flags the shifted cohort; frozen-index recall" +
      " degrades on a boundary-straddling batch and retraining recovers it") {
    import operators.Similarity
    import spark.implicits._
    // 1) the report's decision relations: an in-distribution batch reads
    // INSIDE the history band, the shifted cohort reads far beyond it
    val rep = q("ann_drift_report").collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val hMax = rep("history")._3
    assert(rep("batch")._1 <= hMax,
      "in-distribution batch p50 left the history band — the report would false-alarm")
    assert(rep("batch_shifted")._1 > 5 * hMax,
      s"shifted cohort p50 ${rep("batch_shifted")._1} not clearly beyond history max $hMax")
    // 2) the recall theorem the report exists to trigger: a new-mode
    // cluster STRADDLING a frozen Voronoi boundary loses its own
    // neighbors at nprobe=1, and retraining on history+batch recovers
    // them. The plant is built at runtime from the REAL frozen
    // centroids: base direction between the two most-populated cells,
    // alternating ±(c1−c2) side component (the straddle), and a
    // three-class jitter so each vector's nearest neighbors span BOTH
    // sides of the boundary.
    val hist = Similarity.maintainedHistory(spark, sf)
      .select(col("vec_id"), col("v"), col("n2"))
    val cents = Similarity.maintainedCentroids(spark, sf)
    val topCells = Similarity.assignCellsTo(hist, cents)
      .groupBy(col("cell")).agg(count(lit(1)).alias("n"))
      .orderBy(col("n").desc, col("cell").asc)
      .limit(2).collect().map(_.getLong(0))
    val centArr = cents.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    val (c1, c2) = (centArr(topCells(0)), centArr(topCells(1)))
    val dim = c1.length
    // one planted id is ≡ 0 mod 97 so the retrain SEEDS inside the new
    // mode (lloydRefinedCentroidsOf's seed rule)
    val baseId = 97L * 11000
    val planted = (0 until 12).map { i =>
      val side = if (i % 2 == 0) 1L else -1L
      val v = Array.tabulate(dim)(d => 8L * (c1(d) + c2(d)) + side * (c1(d) - c2(d)))
      v(40 + (i % 3)) += 3000L
      (baseId + i, v.toSeq)
    }
    val plantedDf = planted.toDF("vec_id", "v")
      .withColumn("n2", V.qnorm2(col("v")))
    val corpus = hist.unionByName(plantedDf)
      .localCheckpoint(true)
    val vecs = corpus.collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      var (d, na, nb) = (0.0, 0.0, 0.0)
      var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val queryIds = planted.map(_._1).take(4)
    def trueTop5(qid: Long): Set[Long] = vecs.toSeq
      .filter(_._1 != qid)
      .map { case (id, v) => (id, cos(vecs(qid), v)) }
      .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
    // serving at nprobe=1 through the PRODUCTION assignment
    // (assignCellsTo): candidates are the query's own cell
    def recallWith(c: org.apache.spark.sql.DataFrame): (Double, Map[Long, Long]) = {
      val cells = Similarity.assignCellsTo(corpus, c)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val recalls = queryIds.map { qid =>
        val cands = cells.collect {
          case (id, cell) if cell == cells(qid) && id != qid => id }
        val served = cands.toSeq
          .map(id => (id, cos(vecs(qid), vecs(id))))
          .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
        (served intersect trueTop5(qid)).size / 5.0
      }
      (recalls.sum / recalls.length, cells.filter(k => planted.exists(_._1 == k._1)))
    }
    val (frozenRecall, frozenCells) = recallWith(cents)
    // the plant's premise holds: the cluster genuinely straddles cells
    assert(frozenCells.values.toSet.size >= 2,
      s"planted cluster did not straddle a frozen boundary: $frozenCells")
    // every planted vector's true neighbors are other planted vectors
    // (the cluster is a genuinely NEW tight mode, not history noise)
    queryIds.foreach { qid =>
      assert(trueTop5(qid).subsetOf(planted.map(_._1).toSet),
        s"planted cluster not tight enough: $qid's top-5 leaks into history")
    }
    val retrained = Similarity.lloydRefinedCentroidsOf(corpus)
    val (retrainedRecall, _) = recallWith(retrained)
    assert(frozenRecall < retrainedRecall,
      s"frozen $frozenRecall !< retrained $retrainedRecall — drift did not degrade serving")
    assert(retrainedRecall >= 0.9,
      s"retraining failed to recover the new mode: recall $retrainedRecall")
    org.apache.spark.sql.GraftSqlBridge.unpersistLocalCheckpoint(corpus)
  }

  test("ann_forget_vectors: forgotten vectors are never served and the" +
      " erased index equals the frozen-parameter filter-rebuild") {
    import operators.Similarity
    import graft.streaming.EventStream
    val forgotten = Similarity.annForgottenRule(col("vec_id"))
    // the erasure list is genuinely non-empty at this fixture scale
    val nVictims = Similarity.maintainedCells(spark, sf).filter(forgotten).count()
    assert(nVictims > 0, "erasure rule matches no vectors — fixture drift?")
    // run the registered gate (seeds + erases the stored index tables)
    val report = q("ann_forget_vectors").collect()
    assert(report.length == 10)
    report.foreach { r =>
      assert(r.getLong(1) == 5L && r.getLong(2) <= 5L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val indexDir = operators.Layout.tmpPath("graft-annforgetlog", sf)
    val cells = EventStream.annIndexCellsRead(spark, indexDir)
    val codes = EventStream.annIndexCodesRead(spark, indexDir)
    // no forgotten row survives in EITHER stored table
    assert(cells.filter(forgotten).count() == 0,
      "forgotten vectors still present in the stored cell table")
    assert(codes.filter(forgotten).count() == 0,
      "forgotten vectors still present in the stored code table")
    // erasure ≡ filter-rebuild at the TABLE level: the erased tables are
    // row-identical to assigning/encoding the survivors with the same
    // frozen parameters
    val wantCells = Similarity.maintainedCells(spark, sf).filter(!forgotten)
    assert(cells.exceptAll(wantCells).count() == 0)
    assert(wantCells.exceptAll(cells).count() == 0)
    val wantCodes = Similarity.maintainedCodes(spark, sf).filter(!forgotten)
    assert(codes.exceptAll(wantCodes).count() == 0)
    assert(wantCodes.exceptAll(codes).count() == 0)
    // ...and THROUGH SERVING: the probe/LUT/ADC plan over the erased
    // tables never returns a forgotten id as a neighbor
    val served = Similarity.ivfpqServeTop5(spark, sf, cells, codes,
      Similarity.maintainedCodebooks(spark, sf))
    assert(served.count() > 0)
    assert(served.filter(Similarity.annForgottenRule(col("neighbor_id")))
      .count() == 0, "a forgotten vector was served as a neighbor")
  }

  test("exact-vector pre-collapse bounds the cell join on a planted 10³-copy mass") {
    import spark.implicits._
    // adversarial input: 1000 byte-identical vectors (mirror-crawl shape)
    // plus two distinct near-neighbors, all in one cell — the uncollapsed
    // intra-cell join would emit ~C(1000,2) ≈ 5·10⁵ pairs
    val mass = (0L until 1000L).map(i => (i, Seq.fill(4)(10L), 400L, 7))
    val others = Seq(
      (2000L, Seq(10L, 10L, 10L, 9L), 381L, 7),
      (3000L, Seq(-10L, 10L, -10L, 9L), 381L, 7))
    val cells = (mass ++ others).toDF("vec_id", "v", "n2", "cell")
    val pairs = graft.operators.Similarity.semanticDupPairsFrom(cells)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // 999 dup→rep edges + rep pairs among the 3 distinct vectors (bounded
    // by 3 choose 2), never the 5·10⁵ quadratic blowup
    assert(pairs.length <= 999 + 3, s"fan-out not bounded: ${pairs.length} pairs")
    assert(pairs.count { case (a, b) => a == 0L && b < 1000L } == 999,
      "every duplicate must attach to its representative")
    // and the duplicates all land in ONE component with the rep: the
    // pre-collapse changes the edge set, not the clusters
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    assert((0L until 1000L).map(find).toSet.size == 1, "mass must stay one cluster")
  }

  test("dense-cell star decomposition bounds fan-out on a planted 10³ ε-jittered mass") {
    import spark.implicits._
    // adversarial input the exact pre-collapse CANNOT fold: 1000 DISTINCT
    // near-identical vectors (ε-jittered mirror-crawl copies, pairwise
    // cosine ≈ 1) in one cell, plus two mutually-orthogonal outsiders —
    // the uncollapsed intra-cell join would emit ~C(1000,2) ≈ 5·10⁵ pairs
    val mass = (0L until 1000L).map { i =>
      (i, Seq(1000L, 1000L, 1000L, 1000L + i),
        3000000L + (1000L + i) * (1000L + i), 7)
    }
    val others = Seq(
      (2000L, Seq(1000L, -1000L, 1000L, -1000L), 4000000L, 7),
      (3000L, Seq(-1000L, 1000L, -1000L, 1000L), 4000000L, 7))
    val all = mass ++ others
    val pairs = graft.operators.Similarity
      .semanticDupPairsFrom(all.toDF("vec_id", "v", "n2", "cell"))
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the jittered mass is entirely anchor-adjacent → 999 star edges, no
    // quadratic tail; the outsiders are below threshold to everything
    assert(pairs.length == 999,
      s"fan-out not bounded: ${pairs.length} pairs (expected 999 star edges)")

    // exactness: components of the emitted edge set must equal components
    // of the FULL quadratic threshold graph, computed independently here
    val vecs = all.map(t => t._1 -> ((t._2.toArray, t._3))).toMap
    def cos(x: Long, y: Long): Double = {
      val ((va, na), (vb, nb)) = (vecs(x), vecs(y))
      val dot = va.zip(vb).map { case (p, q) => p.toDouble * q.toDouble }.sum
      dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
    }
    val ids = all.map(_._1)
    val fullPairs = for {
      i <- ids; j <- ids if i < j && cos(i, j) >= 0.4
    } yield (i, j)
    def components(es: Seq[(Long, Long)]): Map[Long, Set[Long]] = {
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      parent.keys.toSeq.map(x => (find(x), x)).groupBy(_._1)
        .map { case (r, xs) => r -> xs.map(_._2).toSet }
    }
    assert(components(pairs.toSeq) == components(fullPairs),
      "star decomposition changed the connected components")
  }

  test("label_centroid_matrix: full matrix, bounded cosines, centroid arithmetic matches driver-side") {
    val rows = q("label_centroid_matrix").collect()
    val labels = Tables.loadSpread(spark, sf, "embeddings")
      .select("label").distinct().count().toInt
    assert(rows.length == labels * (labels - 1) / 2, "one row per unordered pair")
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= -1.0000001 && c <= 1.0000001, s"cosine $c out of range")
      assert(r.getInt(0) < r.getInt(1), "pairs must be ordered label_a < label_b")
    }
    // centroid arithmetic: recompute one label's requantized centroid
    // driver-side from the raw embeddings and compare one matrix entry
    import spark.implicits._
    val raw = Tables.loadSpread(spark, sf, "embeddings")
      .select(col("label"), col("embedding")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray)
    def centroid(l: Int): Array[Long] = {
      val vs = raw.filter(_._1 == l).map(_._2
        .map(x => math.round(x.toDouble * 1000.0)))
      Array.tabulate(vs.head.length) { d =>
        math.round(vs.map(_(d)).sum.toDouble / vs.length)
      }
    }
    val (c0, c1) = (centroid(0), centroid(1))
    val dot = c0.zip(c1).map { case (x, y) => x * y }.sum.toDouble
    val expected = dot / (math.sqrt(c0.map(x => x * x).sum.toDouble)
      * math.sqrt(c1.map(x => x * x).sum.toDouble))
    val got = rows.find(r => r.getInt(0) == 0 && r.getInt(1) == 1).get.getDouble(2)
    assert(got == expected, s"entry (0,1): got $got expected $expected")
  }

  test("semantic dedup: cell pairs are a subset of exhaustive pairs; reps are the cluster outliers") {
    // (1) candidate soundness: the cell-bucketed pair set never invents a
    // pair — every semantic-dup pair is also an exhaustive near-dup pair
    // at the same threshold (cell restriction only PRUNES)
    val semPairs = graft.operators.Similarity.semanticDupPairs(spark, sf)
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val allPairs = q("embedding_near_dup")
      .select("vec_a", "vec_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(semPairs.nonEmpty, "fixture should contain intra-cell semantic dups")
    assert(semPairs.subsetOf(allPairs),
      s"cell bucketing invented pairs: ${(semPairs -- allPairs).take(5)}")

    // (2) representative rule, checked against an independent driver-side
    // union-find over the same pair set: one rep per component, and the
    // rep is the member farthest from its centroid (min c_score, then id)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    semPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = parent.keys.map(x => (find(x), x)).groupBy(_._1)
      .map { case (root, xs) => (root, xs.map(_._2).toSet) }
    val reps = q("semantic_dedup").collect()
    assert(reps.length == members.size, "one row per semantic cluster")
    val cScore = graft.operators.Similarity.assignedCells(spark, sf)
      .select("vec_id", "c_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    reps.foreach { r =>
      val cluster = r.getLong(0); val rep = r.getLong(1)
      val m = members(cluster)
      assert(m.contains(rep), s"rep $rep not a member of cluster $cluster")
      assert(r.getLong(3) == m.size.toLong, s"n_members mismatch for $cluster")
      assert(r.getLong(4) == m.size.toLong - 1, s"n_dropped mismatch for $cluster")
      assert(m.size >= 2, "clusters only exist where at least one pair merged")
      // outlier rule: rep minimizes (c_score, vec_id) over the cluster
      val want = m.toSeq.map(v => (cScore(v), v)).min
      assert((r.getDouble(2), rep) == want,
        s"cluster $cluster rep ($rep, ${r.getDouble(2)}) != farthest member $want")
    }
  }

  test("mrl re-rank dominates truncation-only recall per query (theorem)," +
      " and recall values stay in range") {
    val trunc = q("mrl_truncation_recall_at_5").collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val rerank = q("mrl_rerank_recall_at_5").collect()
    assert(rerank.length == 10)
    rerank.foreach { r =>
      val qid = r.getLong(0)
      assert(r.getLong(1) == 5L)
      assert(r.getLong(2) >= trunc(qid),
        s"query $qid: re-rank hits ${r.getLong(2)} < truncation hits ${trunc(qid)}")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("mrlRecallAt5 matches a driver-side truncated-cosine recomputation") {
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map { r =>
        val arr = r.getSeq[Float](1).map(f => math.round(f.toDouble * 1000.0)).toArray
        r.getLong(0) -> arr
      }.sortBy(_._1)
    def top5(dim: Int): Map[Long, Set[Long]] = {
      def cos(a: Array[Long], b: Array[Long]): Double = {
        var d = 0L; var na = 0L; var nb = 0L; var i = 0
        while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        d / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
      }
      vecs.filter(_._1 < 10).map { case (qid, qv) =>
        qid -> vecs.filter(_._1 != qid)
          .map { case (nid, nv) => (nid, cos(qv, nv)) }
          .sortBy { case (nid, c) => (-c, nid) }.take(5).map(_._1).toSet
      }.toMap
    }
    val brute = top5(64); val trunc = top5(32)
    val got = q("mrl_truncation_recall_at_5").collect()
    assert(got.length == 10)
    got.foreach { r =>
      val qid = r.getLong(0)
      assert(r.getLong(1) == 5L)
      val wantHits = (brute(qid) intersect trunc(qid)).size.toLong
      assert(r.getLong(2) == wantHits, s"query $qid hits")
      assert(r.getDouble(3) == wantHits / 5.0)
    }
  }

  test("filtered ANN: served neighbors honor the predicate; over-fetch" +
      " dominates naive post-filter at equal budget; deeper fetch helps") {
    import operators.Similarity
    // registered report well-formed: 10 queries (odd-label queries
    // still ask), baseline is always the full filtered top-5
    val rep = q("ann_filtered_recall_at_5").collect()
    assert(rep.length == 10)
    rep.foreach { r =>
      assert(r.getLong(1) == 5L && r.getLong(2) <= 5L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    val labels = Tables.embeddings(spark, sf)
      .select(col("vec_id").alias("neighbor_id"), col("label"))
    // every served neighbor satisfies the predicate — the contract a
    // filtered query means; a single leak is a correctness bug
    val leaked = Similarity.ivfpqFilteredTop5(spark, sf, Similarity.FilteredOverfetch)
      .join(labels, Seq("neighbor_id"))
      .filter(!Similarity.annFilterPred(col("label")))
    assert(leaked.count() == 0, "filtered serving leaked a predicate-violating neighbor")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val base = pairSet(Similarity.bruteTop5PairsFiltered(spark, sf))
    def hitsPerQuery(served: Set[(Long, Long)]): Map[Long, Int] =
      (0L until 10L).map(q => q -> (base intersect served).count(_._1 == q)).toMap
    // DOMINANCE at equal candidate budget (20): filter-then-rerank vs
    // rerank-then-filter. Theorem: a naive survivor (exact rank <= 5
    // among ALL candidates, predicate-true) re-appears in the filtered
    // rerank with rank no worse, so per-query hits can only improve.
    val overSet20 = pairSet(Similarity.ivfpqFilteredTop5(spark, sf, 20))
    val naiveSet20 = pairSet(Similarity.ivfpqNaiveFilteredTop5(spark, sf, 20))
    // the dominance theorem, setwise: every naive survivor re-appears in
    // the filtered re-rank with rank no worse, so naive ⊆ over-fetch
    assert(naiveSet20.subsetOf(overSet20),
      s"dominance broken: naive served ${naiveSet20 -- overSet20} that over-fetch dropped")
    val over20 = hitsPerQuery(overSet20)
    val naive20 = hitsPerQuery(naiveSet20)
    (0L until 10L).foreach { qid =>
      assert(over20(qid) >= naive20(qid),
        s"query $qid: over-fetch ${over20(qid)} < naive ${naive20(qid)} — dominance theorem broken")
    }
    // the naive arm's REAL failure mode is result starvation: filtering
    // AFTER the top-5 cut leaves some query with fewer than k results,
    // while filter-then-rerank fills the slots from the same budget
    def servedCounts(s: Set[(Long, Long)]): Map[Long, Int] =
      (0L until 10L).map(q => q -> s.count(_._1 == q)).toMap
    val starved = (0L until 10L).filter(q =>
      servedCounts(naiveSet20)(q) < 5 && servedCounts(overSet20)(q) == 5)
    assert(starved.nonEmpty,
      s"fixture surprise: naive post-filter starved no query " +
        s"(naive counts ${servedCounts(naiveSet20)})")
    // deeper over-fetch is monotone: candidates(40) ⊇ candidates(20)
    // and a baseline member inside the candidate set survives exact
    // re-ranking, so hits can only grow with the budget
    val over40 = hitsPerQuery(pairSet(
      Similarity.ivfpqFilteredTop5(spark, sf, Similarity.FilteredOverfetch)))
    (0L until 10L).foreach { qid =>
      assert(over40(qid) >= over20(qid),
        s"query $qid: deeper over-fetch lost hits (${over40(qid)} < ${over20(qid)})")
    }
    // the pre-filter rung is the nprobe=1 recall CEILING: over-fetch
    // candidates ⊆ the query's cell ⊇-filtered survivors (the
    // pre-filter candidate set), and exact scoring of a superset can
    // only gain baseline hits
    val pre = hitsPerQuery(pairSet(Similarity.ivfPrefilteredTop5(spark, sf)))
    (0L until 10L).foreach { qid =>
      assert(pre(qid) >= over40(qid),
        s"query $qid: pre-filter ${pre(qid)} < over-fetch ${over40(qid)} — " +
          "containment theorem broken")
    }
    // nprobe is the filtered-recall recovery knob: probing the second
    // cell grows the survivor candidate set ⊇, so hits are monotone
    val pre2 = hitsPerQuery(pairSet(
      Similarity.ivfPrefilteredTop5Nprobe(spark, sf, nprobe = 2)))
    (0L until 10L).foreach { qid =>
      assert(pre2(qid) >= pre(qid),
        s"query $qid: nprobe=2 lost hits (${pre2(qid)} < ${pre(qid)})")
    }
    assert(pre2.values.sum > pre.values.sum,
      s"nprobe=2 ${pre2.values.sum} !> nprobe=1 ${pre.values.sum} — " +
        "the second probe cell contributed nothing at this fixture")
  }

  test("sharp-predicate filtered ANN: over-fetch starves at equal budget" +
      " where the mild predicate fills every list; pre-filter dominates" +
      " per query and strictly improves total recall") {
    import operators.Similarity
    // registered pair well-formed: 10 queries each, recall in [0,1]
    Seq("ann_filtered_sharp_recall_at_5",
        "ann_prefiltered_sharp_recall_at_5").foreach { name =>
      val rep = q(name).collect()
      assert(rep.length == 10, name)
      rep.foreach { r =>
        assert(r.getLong(1) >= 1L && r.getLong(1) <= 5L && r.getLong(2) <= r.getLong(1))
        assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      }
    }
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def servedCounts(s: Set[(Long, Long)]): Map[Long, Int] =
      (0L until 10L).map(q => q -> s.count(_._1 == q)).toMap
    val overSharp = pairSet(Similarity.ivfpqFilteredTop5(spark, sf,
      Similarity.FilteredOverfetch, Similarity.annSharpFilterPred))
    val preSharp = pairSet(
      Similarity.ivfPrefilteredTop5(spark, sf, Similarity.annSharpFilterPred))
    // every served neighbor honors the sharp predicate — a single leak
    // is a correctness bug, same contract as the mild rung
    val labelOf = Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toMap
    Seq("over-fetch" -> overSharp, "pre-filter" -> preSharp).foreach {
      case (arm, served) =>
        val leaked = served.filterNot {
          case (_, n) => labelOf(n) == Similarity.AnnSharpLabel.toLong
        }
        assert(leaked.isEmpty,
          s"$arm sharp serving leaked non-survivor neighbors: $leaked")
    }
    // STARVATION at equal budget — the crossover's mechanism: the SAME
    // k·f = 40 budget that fills every mild query's top-5 leaves sharp
    // queries with overfetch·sel ≈ 4 expected survivors, so some lists
    // cannot even fill k slots. The mild contrast proves the budget is
    // sufficient absent the sharp predicate — the starvation is the
    // predicate's, not the index's.
    val overMild = pairSet(Similarity.ivfpqFilteredTop5(spark, sf,
      Similarity.FilteredOverfetch))
    assert((0L until 10L).forall(qid => servedCounts(overMild)(qid) == 5),
      s"mild over-fetch failed to fill a list (${servedCounts(overMild)}) — " +
        "the starvation contrast needs a full mild baseline")
    val starved = (0L until 10L).filter(qid => servedCounts(overSharp)(qid) < 5)
    assert(starved.nonEmpty,
      s"fixture surprise: sharp over-fetch starved no query " +
        s"(served ${servedCounts(overSharp)}) — the crossover's sharp half " +
        "lost its mechanism; re-sweep AnnSharpLabel")
    // containment under the sharp predicate too: over-fetch candidates
    // ⊆ the query's cell's sharp survivors (the pre-filter candidate
    // set), exact scoring of a superset only gains baseline hits
    val base = pairSet(Similarity.bruteTop5PairsFiltered(spark, sf,
      Similarity.annSharpFilterPred))
    def hitsPerQuery(served: Set[(Long, Long)]): Map[Long, Int] =
      (0L until 10L).map(q => q -> (base intersect served).count(_._1 == q)).toMap
    val overHits = hitsPerQuery(overSharp)
    val preHits = hitsPerQuery(preSharp)
    (0L until 10L).foreach { qid =>
      assert(preHits(qid) >= overHits(qid),
        s"query $qid: sharp pre-filter ${preHits(qid)} < over-fetch " +
          s"${overHits(qid)} — containment theorem broken")
    }
    // and the crossover DIRECTION is strict on this fixture: where
    // over-fetch starves, survivors-only candidates recover real recall
    assert(preHits.values.sum > overHits.values.sum,
      s"sharp pre-filter ${preHits.values.sum} !> over-fetch " +
        s"${overHits.values.sum} — the sharp half of the crossover " +
        "shows no measured advantage")
    // the recovery knob on the SHARP arm (the matrix's last cell, r19
    // verdict #3): nprobe=2 candidates ⊇ nprobe=1's (the second probe
    // cell only adds survivors), exact scoring ⇒ per-query hits are
    // monotone — the regime where recall is lowest is exactly where the
    // knob must provably not hurt
    val preSharp2 = pairSet(Similarity.ivfPrefilteredTop5Nprobe(
      spark, sf, nprobe = 2, Similarity.annSharpFilterPred))
    val leaked2 = preSharp2.filterNot {
      case (_, n) => labelOf(n) == Similarity.AnnSharpLabel.toLong
    }
    assert(leaked2.isEmpty,
      s"sharp nprobe=2 serving leaked non-survivor neighbors: $leaked2")
    val pre2Hits = hitsPerQuery(preSharp2)
    (0L until 10L).foreach { qid =>
      assert(pre2Hits(qid) >= preHits(qid),
        s"query $qid: sharp nprobe=2 lost hits " +
          s"(${pre2Hits(qid)} < ${preHits(qid)})")
    }
    // registered-gate shape for the new rung
    val rep2 = q("ann_prefiltered_sharp_nprobe2_recall_at_5").collect()
    assert(rep2.length == 10)
    rep2.foreach { r =>
      assert(r.getLong(1) >= 1L && r.getLong(2) <= r.getLong(1))
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("ann_retrain_recall: the registered report shows the recovery —" +
      " frozen serving degrades on the planted mode, retraining recovers") {
    import operators.Similarity
    val rows = q("ann_retrain_recall").collect()
    assert(rows.length == 2 * Similarity.RetrainQueryCount)
    rows.foreach { r =>
      assert(r.getLong(2) == 5L && r.getLong(3) <= 5L)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0)
    }
    val meanByMode = rows.groupBy(_.getString(0))
      .map { case (m, rs) => m -> rs.map(_.getDouble(4)).sum / rs.length }
    assert(meanByMode("frozen") < meanByMode("retrained"),
      s"retraining did not improve recall: $meanByMode")
    assert(meanByMode("retrained") >= 0.9,
      s"retraining failed to recover the planted mode: $meanByMode")
  }
}
