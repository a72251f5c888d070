package graft.llm

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Cross-validation: the engine's md5-based minhash/LSH pipeline vs
  * spark.ml's MinHashLSH — independent implementations must agree on
  * the seeded near-duplicate pairs. */
class DedupCrossSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf0001).cache()

  private lazy val enginePairs: Set[(Long, Long)] = {
    val sh = Dedup.shingles(docs, "doc_id", "text").cache()
    val cands = Dedup.candidatePairs(Dedup.lshBands(Dedup.minhashSignature(sh, 8), 8, 2))
    JaccardRef.pairJaccard(cands, sh).filter(col("jacc") >= 0.8)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
  }

  test("engine minhash finds the seeded near-duplicates") {
    assert(enginePairs.nonEmpty, "no near-dup pairs found at jacc >= 0.8")
  }

  test("spark.ml MinHashLSH recovers the same high-jaccard pairs") {
    val mlPairs = TfIdf.mlMinhashPairs(docs, "doc_id", "text", maxJaccardDist = 0.2)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // every engine pair (true jaccard >= 0.8 ⇒ dist <= 0.2) should be
    // recovered by the ml implementation, modulo LSH probability — with
    // 8 tables at j≈0.99 the miss probability is negligible.
    val missed = enginePairs -- mlPairs
    assert(missed.isEmpty, s"ml pipeline missed: $missed")
  }

  test("tf-idf pipeline produces a populated feature vector per doc") {
    val out = TfIdf.tfidf(docs.limit(50), "text")
    assert(out.count() == 50)
    val v = out.select("features").head().getAs[org.apache.spark.ml.linalg.Vector](0)
    assert(v.numNonzeros > 0)
  }
}
