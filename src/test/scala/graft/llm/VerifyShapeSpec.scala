package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the r15 array-shaped verification frame to the exploded-row
  * form it replaces: [[Dedup.shingleHashArrays]] exploded is exactly
  * [[Dedup.shingleHashes]]' distinct (id, h) set, and
  * [[Dedup.pairJaccardArrays]] scores every pair with the identical
  * jacc value as [[Dedup.pairJaccardHashed]] (the array form keeps
  * intersection-free pairs at jacc 0.0, which any positive threshold
  * then drops — asserted too). */
class VerifyShapeSpec extends SparkSpec {

  private def docs = spark.createDataFrame(Seq(
    (1L, "the quick brown fox jumps over the lazy dog tonight"),
    (2L, "the quick brown fox jumps over the lazy dog today"),
    (3L, "a completely different document with other words entirely here"),
    (4L, "the quick brown fox jumps over the lazy dog tonight"), // exact dup of 1
    (5L, "short doc"),                                           // < 3 tokens after split? (2 tokens)
    (6L, "the quick brown fox leaps over the lazy dog tonight")
  )).toDF("doc_id", "text")

  test("shingleHashArrays exploded == shingleHashes distinct rows") {
    val exploded = Dedup.shingleHashArrays(docs, "doc_id", "text")
      .select(col("id"), explode(col("hs")).as("h"))
    val rows = Dedup.shingleHashes(docs, "doc_id", "text", spread = false)
    assert(exploded.exceptAll(rows).isEmpty && rows.exceptAll(exploded).isEmpty,
      "array form must explode to exactly the distinct (id, h) row set")
    // a sub-n-token doc yields an empty array (the row form emits no rows)
    val short = Dedup.shingleHashArrays(docs, "doc_id", "text")
      .filter(col("id") === 5L).select(size(col("hs"))).head().getInt(0)
    assert(short == 0, "sub-n-token doc must carry an empty hash array")
  }

  test("pairJaccardArrays == pairJaccardHashed on every scored pair") {
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (1L, 4L), (1L, 3L), (2L, 6L)
    )).toDF("doc_a", "doc_b")
    val hashed = Dedup.pairJaccardHashed(pairs,
      Dedup.shingleHashes(docs, "doc_id", "text", spread = false))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val arr = Dedup.pairJaccardArrays(pairs,
      Dedup.shingleHashArrays(docs, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // the exploded form drops zero-intersection pairs; the array form
    // keeps them at exactly 0.0 — identical values on the shared keys
    for ((k, v) <- hashed)
      assert(arr(k) == v, s"pair $k: array ${arr(k)} != exploded $v")
    for ((k, v) <- arr if !hashed.contains(k))
      assert(v == 0.0, s"pair $k present only in array form must be 0.0, got $v")
    // (1,4) is an exact dup: jacc 1.0; (1,3) shares nothing: 0.0
    assert(arr((1L, 4L)) == 1.0 && arr((1L, 3L)) == 0.0)
  }
}
