package graft.llm

import graft.SparkSpec
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Pins both paths of [[Dedup.pagerankInt]] — the driver-side rounds
  * under `driverCap` and the distributed loop (forced with
  * `driverCap = 0`) — to a plain-Scala integer PageRank over the
  * symmetric distinct edge set, and bounds the Spark jobs `d_pagerank`
  * runs. */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(777L + i)))

  /** Exact-integer reference: 10⁶ start, floor(p/deg) per edge,
    * p' = 150000 + floor(17·s/20). */
  private def reference(pairs: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val edges = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.toSet
    val nbrs = edges.groupBy(_._1).map { case (u, es) => u -> es.toSeq.map(_._2) }
    var pr = nbrs.map { case (u, _) => u -> 1000000L }
    for (_ <- 1 to rounds) {
      val c = nbrs.map { case (v, ns) => v -> math.floor(pr(v).toDouble / ns.size).toLong }
      pr = nbrs.map { case (u, ns) =>
        u -> (150000L + math.floor((ns.map(c).sum * 17).toDouble / 20).toLong) }
    }
    pr
  }

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.as[(Long, Long)].collect()
    assert(rows.map(_._1).distinct.length == rows.length, "one row per id")
    rows.toMap
  }

  private val graphGen: Gen[Seq[(Long, Long)]] = {
    val node = Gen.choose(0L, 24L)
    val isolated = Gen.zip(node, node)
      .suchThat(p => p._1 != p._2).map(Seq(_))
    val star = Gen.zip(node, Gen.choose(1, 6).flatMap(Gen.listOfN(_, node)))
      .map { case (hub, leaves) => leaves.filter(_ != hub).map(hub -> _) }
    val path = Gen.choose(2, 7).flatMap(Gen.listOfN(_, node))
      .map(ns => ns.zip(ns.tail).filter(p => p._1 != p._2))
    Gen.choose(1, 5).flatMap(Gen.listOfN(_, Gen.oneOf(isolated, star, path)))
      .flatMap { parts =>
        val ps = parts.flatten
        // duplicate and reversed copies of some pairs
        Gen.someOf(ps).map(extra => ps ++ extra ++ extra.map(_.swap))
      }
  }

  test("random graphs: driver path == distributed loop == plain-Scala reference") {
    for (pairs <- samples(graphGen, 10); rounds <- Seq(1, 3)) {
      val df = pairs.toDF("doc_a", "doc_b")
      val want = reference(pairs, rounds)
      val driver = ranks(Dedup.pagerankInt(df, rounds))
      val dist = ranks(Dedup.pagerankInt(df, rounds, driverCap = 0))
      assert(driver == want, s"driver path, rounds $rounds, pairs $pairs")
      assert(dist == want, s"distributed loop, rounds $rounds, pairs $pairs")
    }
  }

  test("both paths: same schema, NULL ends are not edges, empty input is empty") {
    val ints = Seq((1, 2), (2, 3), (3, 3)).toDF("doc_a", "doc_b")
    val a = Dedup.pagerankInt(ints, 3)
    val b = Dedup.pagerankInt(ints, 3, driverCap = 0)
    assert(a.schema.map(f => f.name -> f.dataType) == b.schema.map(f => f.name -> f.dataType))
    assert(a.except(b).isEmpty && b.except(a).isEmpty)

    val withNull = Seq[(Option[Long], Option[Long])](
      (Some(1L), Some(2L)), (Some(1L), None), (None, Some(3L)), (None, None))
      .toDF("doc_a", "doc_b")
    val want = reference(Seq(1L -> 2L), 3)
    assert(ranks(Dedup.pagerankInt(withNull, 3)) == want)
    assert(ranks(Dedup.pagerankInt(withNull, 3, driverCap = 0)) == want)

    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.pagerankInt(empty, 3).isEmpty)
    assert(Dedup.pagerankInt(empty, 3, driverCap = 0).isEmpty)
  }

  test("d_pagerank on sf0.001 runs at most 6 Spark jobs from cold module caches") {
    val q = DedupQueries.queries("d_pagerank")
    q(spark, sf0001).collect() // warm-up: class loading, codegen
    DedupQueries.evictCaches(sf0001)
    try {
      val (rows, jobs) = jobsDuring(q(spark, sf0001).collect())
      assert(rows.nonEmpty)
      assert(jobs <= 6, s"d_pagerank ran $jobs jobs")
    } finally DedupQueries.evictCaches(sf0001)
  }
}
