package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Exact repeated-span detection over hand-built documents where the
  * duplicated windows are known by construction. */
class RepeatedSpansSpec extends SparkSpec {
  import spark.implicits._

  private def w(n: Int, tag: String): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("a 20-token span shared by two docs is reported once, others not") {
    // docs 1 and 2 share exactly one 20-token run; doc 3 is disjoint.
    val shared = w(20, "s")
    val docs = Seq(
      (1L, s"${w(5, "a")} $shared ${w(5, "b")}"),
      (2L, s"${w(7, "c")} $shared"),
      (3L, w(40, "z"))
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(Dedup.spanHashes(docs, "doc_id", "text", 20))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("n_docs") == 2L)
    assert(r.getAs[Long]("n_occ") == 2L)
    assert(r.getAs[Long]("first_doc") == 1L)
  }

  test("a span repeated twice within ONE doc does not qualify; across docs it counts occurrences") {
    val shared = w(20, "s")
    val docs = Seq(
      // within-doc repeat only (n_docs=1): must NOT appear
      (1L, s"$shared ${w(3, "x")} $shared"),
      (2L, w(30, "q"))
    ).toDF("doc_id", "text")
    assert(Dedup.repeatedSpans(Dedup.spanHashes(docs, "doc_id", "text", 20)).isEmpty)

    // same shape but doc 2 also carries the span: now n_occ counts all 3
    val docs2 = Seq(
      (1L, s"$shared ${w(3, "x")} $shared"),
      (2L, s"${w(4, "q")} $shared")
    ).toDF("doc_id", "text")
    val out = Dedup.repeatedSpans(Dedup.spanHashes(docs2, "doc_id", "text", 20))
      .filter(col("n_occ") === 3).collect()
    assert(out.length == 1 && out.head.getAs[Long]("n_docs") == 2L)
  }

  test("docs shorter than the window emit nothing") {
    val docs = Seq((1L, w(19, "s")), (2L, w(19, "s"))).toDF("doc_id", "text")
    assert(Dedup.spanHashes(docs, "doc_id", "text", 20).isEmpty)
  }

  test("window count per doc is len - w + 1") {
    val docs = Seq((1L, w(25, "u"))).toDF("doc_id", "text")
    assert(Dedup.spanHashes(docs, "doc_id", "text", 20).count() == 6L)
  }

  test("coverage merges overlapping duplicated windows") {
    // docs 1 and 2 are identical 22-token texts: every one of their 3
    // windows duplicates, intervals [0,19],[1,20],[2,21] merge to the
    // whole doc -> coverage exactly 1.0, never 3x.
    val t = w(22, "s")
    val docs = Seq((1L, t), (2L, t), (3L, w(30, "z"))).toDF("doc_id", "text")
    val rows = Dedup.spanCoverage(
      Dedup.spanHashes(docs, "doc_id", "text", 20), 20).collect()
    assert(rows.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L))
    rows.foreach { r =>
      assert(r.getAs[Long]("covered_tokens") == 22L)
      assert(r.getAs[Double]("coverage") == 1.0)
    }
  }

  test("both adaptive shapes agree: window and count-sized bloom") {
    // spanCoverage picks its plan shape from size estimates/confs; the
    // two shapes must be result-identical on a corpus with known
    // coverage (docs 1,2 fully duplicated; 4,5 share one island).
    val t = w(22, "s"); val shared = w(20, "p")
    val docs = Seq(
      (1L, t), (2L, t), (3L, w(30, "z")),
      (4L, s"$shared ${w(6, "x")}"), (5L, s"${w(3, "y")} $shared")
    ).toDF("doc_id", "text")
    def run(): Map[Long, (Long, Double)] =
      Dedup.spanCoverage(Dedup.spanHashes(docs, "doc_id", "text", 20), 20)
        .collect()
        .map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[Long]("covered_tokens"), r.getAs[Double]("coverage"))).toMap
    val window = run() // tiny estimate → window shape
    spark.conf.set("graft.span.windowShapeMaxBytes", "0")
    val bloom = run() // scalable shape: count-sized bloom + shuffle semi
    spark.conf.unset("graft.span.windowShapeMaxBytes")
    assert(window.keySet == Set(1L, 2L, 4L, 5L))
    assert(window(4L)._1 == 20L && window(1L)._2 == 1.0)
    assert(bloom == window)
  }

  test("coverage with a gap counts both islands once each") {
    val shared = w(20, "s")
    // doc 1: [shared][5 filler][shared again] — two disjoint islands of
    // the same duplicated span; doc 2 carries one copy.
    val docs = Seq(
      (1L, s"$shared ${w(5, "x")} $shared"),
      (2L, shared)
    ).toDF("doc_id", "text")
    val byDoc = Dedup.spanCoverage(
      Dedup.spanHashes(docs, "doc_id", "text", 20), 20)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("covered_tokens")).toMap
    assert(byDoc(1L) == 40L, s"expected 40 covered tokens, got $byDoc")
    assert(byDoc(2L) == 20L)
  }
}
