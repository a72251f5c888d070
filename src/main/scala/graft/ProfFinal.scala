package graft

import graft.llm.{CurationQueries, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev profile: decompose the e2e pipeline's `final jaccard+cc+rollup`
  * residual at soak scale — which sub-step carries it, and what the
  * intermediate cardinalities are.
  * Run: SPARK_DRIVER_MEM=48g sbt "runMain graft.ProfFinal [nDocs]" */
object ProfFinal {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(5000000)
    val spark = Sessions.build(
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val docs = spark.range(n).select(
        col("id").as("doc_id"),
        (col("id") % 3).cast("string").as("source"),
        expr(s"""CASE WHEN id % 97 = 5 THEN concat_ws(' ', transform(sequence(0, 79), i ->
             | concat('w', pmod(hash(31337 * 100 + i), 65536))))
             | ELSE concat_ws(' ', transform(sequence(0, 79), i ->
             | concat('w',
             |   pmod(hash(CASE WHEN id % 50 = 1 AND i % 20 = 7 THEN -(id * 100 + i)
             |             WHEN id % 50 = 1 THEN (id - 1) * 100 + i
             |             ELSE id * 100 + i END), 65536)))) END""".stripMargin)
          .as("text"))
      .repartition(32).cache()
    docs.count()
    def t[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[prof-final] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    var frames = Map[String, DataFrame]()
    val rollup = CurationQueries.pipelineE2e(docs,
      (name, f) => { val d = t(s"stage: $name")(f()); frames += name.split(" ")(0) -> d; d })
    val cand = frames("cand"); val shCand = frames("shCand"); val ids3 = frames("ids3")
    println(s"[prof-final] counts: ids3=${ids3.count()} cand=${cand.count()} shCand=${shCand.count()}")
    // shCand's shape follows graft.pipeline.verifyShape: per-doc hash
    // arrays (id, hs) by default, exploded (id, h) rows otherwise
    val pairs = t("pairJaccard + filter (ckpt)") {
      (if (shCand.columns.contains("hs")) Dedup.pairJaccardArrays(cand, shCand)
       else Dedup.pairJaccardHashed(cand, shCand))
        .filter(col("jacc") >= 0.5).select("doc_a", "doc_b").localCheckpoint()
    }
    println(s"[prof-final] verified pairs = ${pairs.count()}")
    val dropFuzzy = t("canonicalize") {
      Dedup.canonicalize(pairs).filter(col("id") =!= col("canonical"))
        .select(col("id").as("doc_id")).localCheckpoint()
    }
    println(s"[prof-final] dropFuzzy = ${dropFuzzy.count()}")
    t("anti-join + rollup") {
      ids3.join(dropFuzzy, Seq("doc_id"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
        .write.mode("overwrite").format("noop").save()
    }
    t("full final (as the soak times it)") {
      rollup.write.mode("overwrite").format("noop").save()
    }
    spark.stop()
  }
}
