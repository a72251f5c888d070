package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins [[Dedup.pairJaccardArrays]] to brute-force set Jaccard over
  * `Set[Long]`: one row per distinct pair whose ids are BOTH in the
  * array frame, repeated hashes counted once, and two empty sets
  * scoring 0.0. Then pins the LSH-verified frame the dedup queries
  * share, built on this kernel, to the gram-string `pairJaccard` form
  * at the queries' jacc >= 0.5 threshold. */
class JaccardArraysSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(4242L + i)))

  private def reference(pairs: Seq[(Long, Long)],
                        sets: Map[Long, Set[Long]]): Map[(Long, Long), Double] =
    pairs.distinct.collect { case (a, b) if sets.contains(a) && sets.contains(b) =>
      val u = (sets(a) | sets(b)).size
      (a, b) -> (if (u == 0) 0.0 else (sets(a) & sets(b)).size.toDouble / u)
    }.toMap

  private def kernel(pairs: Seq[(Long, Long)],
                     arrays: Seq[(Long, Seq[Long])]): Seq[((Long, Long), Double)] =
    Dedup.pairJaccardArrays(pairs.toDF("doc_a", "doc_b"), arrays.toDF("id", "hs"))
      .as[(Long, Long, Double)].collect().toSeq.map(r => (r._1, r._2) -> r._3)

  test("random pairs and arrays: equals brute-force set Jaccard") {
    // ids 0..9 may carry an array (possibly empty, with repeated hashes
    // from a 13-value domain); pair ids reach 11, so some are never in
    // the array frame; self pairs and repeated pairs occur
    val arraysGen = Gen.listOfN(10, Gen.zip(Gen.prob(0.8),
        Gen.choose(0, 8).flatMap(Gen.listOfN(_, Gen.choose(0L, 12L)))))
      .map(_.zipWithIndex.collect { case ((true, hs), id) => (id.toLong, hs) })
    val pairsGen = Gen.choose(1, 30).flatMap(Gen.listOfN(_,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L))))
      .map(ps => ps ++ ps.take(3)) // repeated pairs
    for ((arrays, pairs) <- samples(Gen.zip(arraysGen, pairsGen), 12)) {
      val got = kernel(pairs, arrays)
      val want = reference(pairs, arrays.map { case (id, hs) => id -> hs.toSet }.toMap)
      assert(got.size == got.map(_._1).distinct.size, s"repeated pair rows: $got")
      assert(got.toMap == want, s"pairs $pairs arrays $arrays")
    }
  }

  test("contract edges: missing ids drop, empty and NULL arrays score 0.0") {
    val arrays = Seq[(Long, Seq[Long])](
      1L -> Nil, 2L -> Nil, 4L -> Seq(5L, 5L, 6L), 5L -> Seq(6L, 6L, 7L), 6L -> null)
    val got = kernel(
      Seq(1L -> 2L, 1L -> 3L, 3L -> 3L, 9L -> 4L, 4L -> 4L, 4L -> 5L, 6L -> 1L, 6L -> 4L),
      arrays).toMap
    assert(got == Map(
      (1L, 2L) -> 0.0,   // two empty sets: 0.0, not an ANSI 0/0
      (4L, 4L) -> 1.0,   // a self pair compares the set with itself
      (4L, 5L) -> 1.0 / 3, // {5,6} vs {6,7}: repeated hashes count once
      (6L, 1L) -> 0.0, (6L, 4L) -> 0.0), // NULL reads as the empty set
      s"got $got") // (1,3), (3,3), (9,4): a side is missing, no row
  }

  test("sf0.001: LSH-verified pairs on the array kernel == gram-string pairJaccard at jacc >= 0.5") {
    val docs = Tables.documents(spark, sf0001)
    val cands = Dedup.candidatePairs(
      Dedup.lshBands(Dedup.minhashFromText(docs, "doc_id", "text"), 8, 2)).cache()
    try {
      def verified(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("jacc") >= 0.5).as[(Long, Long, Double)].collect().toSet
      val arr = verified(Dedup.pairJaccardArrays(cands,
        Dedup.shingleHashArrays(docs, "doc_id", "text")))
      val str = verified(JaccardRef.pairJaccard(cands, Dedup.shingles(docs, "doc_id", "text")))
      assert(arr.nonEmpty)
      assert(arr == str, s"array-only ${arr -- str}; string-only ${str -- arr}")
      DedupQueries.evictCaches(sf0001)
      assert(verified(DedupQueries.queries("d_minhash_lsh")(spark, sf0001)) == arr)
    } finally {
      cands.unpersist()
      DedupQueries.evictCaches(sf0001)
    }
  }
}
