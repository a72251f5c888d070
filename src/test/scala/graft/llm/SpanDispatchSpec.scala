package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

/** Pins spanCoverage's DISPATCH, not just shape-identity
  * (RepeatedSpansSpec proves the shapes agree; this spec proves the
  * right shape actually fires). The design depends on an asymmetry —
  * estimate failures must err toward the scalable shape, which is
  * correct at any size — so a refactor that silently inverted the
  * comparison would pass every result-identity test while melting
  * down at 5M docs. Discriminator: only the scalable shape carries a
  * LeftSemi join + bloom might_contain probe; the window shape is
  * join-free (both shapes use a window internally for
  * gaps-and-islands, so "contains Window" does NOT discriminate). */
class SpanDispatchSpec extends SparkSpec {
  import spark.implicits._

  private def w(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  private def docs: DataFrame = {
    val t = w(22, "s")
    Seq((1L, t), (2L, t), (3L, w(30, "z"))).toDF("doc_id", "text")
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString()

  private def isScalable(plan: String): Boolean =
    plan.contains("LeftSemi") && plan.toLowerCase.contains("might_contain")

  test("small estimate under default threshold picks the window shape (no join)") {
    val plan = planOf(Dedup.spanCoverage(
      Dedup.spanHashes(docs, "doc_id", "text", 20), 20))
    assert(!plan.contains("LeftSemi"), s"expected join-free window shape:\n$plan")
  }

  test("windowShapeMaxBytes=0 forces the scalable shape (bloom + LeftSemi)") {
    spark.conf.set("graft.span.windowShapeMaxBytes", "0")
    try {
      val plan = planOf(Dedup.spanCoverage(
        Dedup.spanHashes(docs, "doc_id", "text", 20), 20))
      assert(isScalable(plan), s"expected bloom+semi scalable shape:\n$plan")
    } finally spark.conf.unset("graft.span.windowShapeMaxBytes")
  }

  test("sizeHint overrides the plan estimate in both directions") {
    val spans = Dedup.spanHashes(docs, "doc_id", "text", 20)
    // a huge hint must pick scalable even though the data is tiny —
    // this is the asymmetry the curation pipeline relies on when its
    // join-blown estimates are garbage and it passes scan-level hints
    val over = planOf(Dedup.spanCoverage(spans, 20,
      sizeHint = Some(BigInt(Long.MaxValue))))
    assert(isScalable(over), s"huge sizeHint must pick scalable:\n$over")
    val under = planOf(Dedup.spanCoverage(spans, 20, sizeHint = Some(BigInt(1))))
    assert(!under.contains("LeftSemi"), s"tiny sizeHint must pick window:\n$under")
  }

  test("threshold boundary: est <= max is window, est > max is scalable") {
    val spans = Dedup.spanHashes(docs, "doc_id", "text", 20)
    spark.conf.set("graft.span.windowShapeMaxBytes", "1000")
    try {
      assert(!planOf(Dedup.spanCoverage(spans, 20, sizeHint = Some(BigInt(1000))))
        .contains("LeftSemi"), "est == max must stay on the window shape")
      assert(isScalable(planOf(
        Dedup.spanCoverage(spans, 20, sizeHint = Some(BigInt(1001))))),
        "est just past max must dispatch scalable")
    } finally spark.conf.unset("graft.span.windowShapeMaxBytes")
  }

  test("windowShapeMaxBytes: a value that is not a byte count >= 0 fails naming key and value") {
    for (bad <- Seq("abc", "-1", "1.5", "")) {
      spark.conf.set("graft.span.windowShapeMaxBytes", bad)
      try {
        val e = intercept[IllegalArgumentException](Dedup.windowShapeMaxBytes(spark))
        assert(e.getMessage.contains("graft.span.windowShapeMaxBytes") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset("graft.span.windowShapeMaxBytes")
    }
    spark.conf.set("graft.span.windowShapeMaxBytes", "0")
    try assert(Dedup.windowShapeMaxBytes(spark) == 0L)
    finally spark.conf.unset("graft.span.windowShapeMaxBytes")
    assert(Dedup.windowShapeMaxBytes(spark) == (16L << 20))
  }
}
