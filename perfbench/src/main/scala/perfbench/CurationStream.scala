package perfbench

import graft.streaming.StreamCuration
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** curation_stream: a seeded corpus (exact duplicates, near-duplicates,
  * boilerplate) arrives in id-ordered batches through the calls the
  * streaming runner's batch body makes: load state → process batch →
  * kept write → save deltas. The kept set must equal the one-shot
  * batch pipeline's over the whole corpus. */
object CurationStream extends Workload {
  val name = "curation_stream"

  private var corpus = ""
  private var nDocs = 0L
  private var nBatches = 0
  private var expected: Set[Long] = Set.empty

  def setup(ctx: Ctx): Unit = {
    nDocs = if (ctx.smoke) 400 else 2000
    nBatches = if (ctx.smoke) 2 else 4
    corpus = ctx.fresh("curation/corpus").resolve("docs").toString
    docs(ctx, nDocs).write.mode("overwrite").parquet(corpus)
  }

  /** The soak generator's shape, seeded: id % 50 == 1 is a near-dup of
    * its predecessor, id % 97 == 5 an exact copy of a fixed template. */
  private def docs(ctx: Ctx, n: Long): DataFrame = {
    val vocab = (0 until 64).map(i => s"'w$i'").mkString("array(", ",", ")")
    val s = ctx.seed
    ctx.spark.range(n).select(col("id").as("doc_id"),
      (col("id") % 3).cast("string").as("source"),
      expr(s"""CASE WHEN id % 97 = 5 THEN concat_ws(' ', transform(sequence(0, 79), i ->
           | element_at($vocab, pmod(hash($s, 31337 * 100 + i), 64) + 1)))
           | ELSE concat_ws(' ', transform(sequence(0, 79), i ->
           | element_at($vocab, pmod(hash($s, CASE WHEN id % 50 = 1 AND i = 7 THEN -id
           |   WHEN id % 50 = 1 THEN (id - 1) * 100 + i ELSE id * 100 + i END), 64) + 1)))
           | END""".stripMargin).as("text"))
  }

  def warmup(ctx: Ctx): Unit = {
    val all = ctx.spark.read.parquet(corpus)
    expected = StreamCuration.endstateBatch(all).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    stream(ctx, 1)
  }

  def unit(ctx: Ctx, i: Int): Unit = stream(ctx, nBatches)

  /** Stream the first `batches` batches into fresh state. */
  private def stream(ctx: Ctx, batches: Int): Unit = {
    val spark = ctx.spark
    val state = ctx.fresh("curation/state").toString
    val kept = ctx.fresh("curation/kept").toString
    val all = spark.read.parquet(corpus)
    val per = nDocs / nBatches
    (0 until batches).foreach { b =>
      val (lo, hi) = (b * per, if (b == nBatches - 1) nDocs else (b + 1) * per)
      ctx.ops.run("curation.batch") {
        val st = ctx.span("streaming.load_state")(StreamCuration.loadState(spark, state, dedup = false))
        val (k, delta) = ctx.span("streaming.process_batch") {
          val (k, d) = StreamCuration.processBatch(
            all.filter(col("doc_id") >= lo && col("doc_id") < hi), st)
          if (!ctx.traced) (k, d)
          else (k.localCheckpoint(), d.copy(fps = d.fps.localCheckpoint(),
            spans = d.spans.localCheckpoint(), bands = d.bands.localCheckpoint(),
            docs = d.docs.localCheckpoint(), wm = d.wm.localCheckpoint()))
        }
        ctx.span("streaming.kept_write")(k.write.mode("append").parquet(kept))
        ctx.span("streaming.save_deltas")(StreamCuration.saveDeltas(delta, state))
      } { _ =>
        val got = spark.read.parquet(kept).filter(col("doc_id") >= lo && col("doc_id") < hi)
          .select("doc_id").collect().map(_.getLong(0)).toSet
        val want = expected.filter(id => id >= lo && id < hi)
        if (got == want) None
        else Some(s"batch $b kept ${got.size} docs, the one-shot pipeline keeps ${want.size}")
      }
    }
  }

  def endToEnd(ctx: Ctx, unitSeconds: Seq[Double]): Map[String, Double] = {
    val batches = ctx.ops.of("curation.batch")
    Map(
      "throughput_per_s" -> nDocs.toDouble / nBatches * batches.size / batches.sum,
      "pass_s" -> Stats.median(unitSeconds),
      "p50_ms" -> Stats.quantile(batches.map(_ * 1000), 0.5),
      "p95_ms" -> Stats.quantile(batches.map(_ * 1000), 0.95))
  }

  /** State size and kept share after the last full pass. */
  override def layers(ctx: Ctx): Map[String, Double] = {
    val st = StreamCuration.loadState(ctx.spark, ctx.work.resolve("curation/state").toString,
      dedup = false)
    val kept = ctx.spark.read.parquet(ctx.work.resolve("curation/kept").toString).count()
    Map("streaming.state_rows" -> Seq(st.fps, st.spans, st.bands, st.docs).map(_.count()).sum.toDouble,
      "streaming.kept_ratio" -> kept.toDouble / nDocs)
  }
}
