package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.streaming.EventStream

/** Crash windows of the append tables on the generation log, as a
  * property over the three tables the maintained-state workload runs
  * (tf, chunk, MinHash): for random splits of the sf0.001 corpus into a
  * history seed and 2–4 micro-batches, with one batch re-delivered, one
  * multi-table fold torn after its first j generations and replayed, and
  * a cohort erased and the tables compacted afterwards —
  *  - every stored read equals a from-scratch seed of the survivors;
  *  - the MinHash pairs equal an uninterrupted run's pairs minus every
  *    pair naming the cohort.
  * Fixed seed, so a failing split is reproducible.
  */
class AppendLogPropertySpec extends SparkSpec {
  import AppendLogPropertySpec.Split

  private val splits: Gen[Split] = for {
    n <- Gen.chooseNum(2, 4)
    salt <- Gen.chooseNum(0, 1000)
    redeliver <- Gen.chooseNum(0, n - 1)
    crash <- Gen.chooseNum(0, n - 1)
    mhJ <- Gen.chooseNum(0, 2) // of pairs, shingles, bands
    chJ <- Gen.chooseNum(0, 1) // of out, chunks
    cohortSalt <- Gen.chooseNum(0, 1000)
  } yield Split(n, salt, redeliver, crash, mhJ, chJ, cohortSalt)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def pairsOf(df: DataFrame): Seq[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted

  /** The crash state after the first `j` of a fold's table generations
    * committed: the next table holds the batch's files without their
    * commit, the later ones nothing, and no manifest lists either.
    */
  private def tear(dirs: Seq[String], batchId: Long, j: Int): Unit =
    dirs.drop(j).zipWithIndex.foreach { case (d, i) =>
      val g = java.nio.file.Paths.get(s"$d/state/a$batchId")
      if (i == 0) java.nio.file.Files.delete(g.resolve("_SUCCESS"))
      else java.nio.file.Files.walk(g).sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
      EventStream.writeVersionedManifest(spark, d)
    }

  test("append tables on the log: re-delivery, a torn multi-table fold," +
      " erasure and compaction equal a from-scratch seed of the survivors") {
    val docs = Tables.documents(spark, sf)
    val cases = Gen.listOfN(3, splits).apply(Gen.Parameters.default, Seed(20261019L)).get
    cases.zipWithIndex.foreach { case (c, caseNo) =>
      val part = pmod(xxhash64(col("doc_id"), lit(c.salt)), lit(c.nBatches + 1))
      val history = docs.filter(part === c.nBatches)
      val batches = (0 until c.nBatches).map(b => docs.filter(part === b))
      val cohort = docs.filter(pmod(xxhash64(col("doc_id"), lit(c.cohortSalt)), lit(7)) === 0)
        .select(col("doc_id"))
      val cohortIds = cohort.collect().map(_.getLong(0)).toSet
      val root = java.nio.file.Files.createTempDirectory(s"graft-applog$caseNo").toString
      val (tf, chunkIdx, chunkOut, mh, mhPairs) =
        (s"$root/tf", s"$root/chunk", s"$root/chunk_out", s"$root/mh", s"$root/mh_pairs")
      EventStream.tfIndexSeed(spark, tf, history)
      EventStream.chunkIndexSeed(spark, chunkIdx, history)
      EventStream.minhashIndexSeed(spark, mh, history)
      def fold(b: Int): Unit = {
        EventStream.tfIndexFoldBatch(spark, tf, batches(b), b.toLong)
        EventStream.chunkIngestFoldBatch(spark, chunkOut, chunkIdx, batches(b), b.toLong)
        EventStream.minhashIngestFoldBatch(spark, mhPairs, mh, batches(b), b.toLong)
      }
      (0 until c.nBatches).foreach { b =>
        fold(b)
        if (b == c.crashBatch) {
          tear(Seq(chunkOut, s"$chunkIdx/chunks"), b.toLong, c.chunkJ)
          tear(Seq(mhPairs, s"$mh/shingles", s"$mh/bands"), b.toLong, c.minhashJ)
          fold(b) // the replay
        }
        if (b == c.redeliver) fold(b)
      }
      // the uninterrupted run's pairs over the same split
      val clean = s"$root/clean"
      EventStream.minhashIndexSeed(spark, s"$clean/mh", history)
      (0 until c.nBatches).foreach(b => EventStream.minhashIngestFoldBatch(
        spark, s"$clean/pairs", s"$clean/mh", batches(b), b.toLong))
      val wantPairs = pairsOf(EventStream.ingestPairsRead(spark, s"$clean/pairs"))
        .filterNot { case (a, b) => cohortIds(a) || cohortIds(b) }
      // erase, then compact
      EventStream.forgetDocsFromTfIndex(spark, tf, cohort)
      EventStream.forgetDocsFromChunkIndex(spark, chunkIdx, cohort)
      EventStream.forgetDocsFromMinhashIndex(spark, mh, mhPairs, cohort)
      EventStream.compactTfIndex(spark, tf)
      EventStream.compactChunkIndex(spark, chunkIdx)
      EventStream.compactIngestIndex(spark, mh)
      // the expected stores: a from-scratch seed of the survivors
      val survivors = docs.join(cohort, Seq("doc_id"), "left_anti")
      val want = s"$root/want"
      EventStream.tfIndexSeed(spark, s"$want/tf", survivors)
      EventStream.chunkIndexSeed(spark, s"$want/chunk", survivors)
      EventStream.minhashIndexSeed(spark, s"$want/mh", survivors)
      val label = s"case $caseNo $c"
      assert(sameRows(EventStream.tfIndexRead(spark, tf),
        EventStream.tfIndexRead(spark, s"$want/tf")), s"$label: tf")
      assert(sameRows(EventStream.chunkIndexRead(spark, chunkIdx),
        EventStream.chunkIndexRead(spark, s"$want/chunk")), s"$label: chunk index")
      assert(sameRows(EventStream.ingestShinglesRead(spark, mh),
        EventStream.ingestShinglesRead(spark, s"$want/mh")), s"$label: shingles")
      assert(sameRows(EventStream.ingestBandsRead(spark, mh),
        EventStream.ingestBandsRead(spark, s"$want/mh")), s"$label: bands")
      val gotPairs = pairsOf(EventStream.ingestPairsRead(spark, mhPairs))
      assert(gotPairs == wantPairs, s"$label: pairs " +
        s"only-got=${gotPairs.diff(wantPairs).take(3)} only-want=${wantPairs.diff(gotPairs).take(3)}")
    }
  }
}

object AppendLogPropertySpec {
  private final case class Split(nBatches: Int, salt: Int, redeliver: Int,
      crashBatch: Int, minhashJ: Int, chunkJ: Int, cohortSalt: Int)
}
