package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-stage scaling measurement for the batch curation pipeline at
  * 50k / 200k / 1M docs — evidence for the claim that the
  * d_pipeline_e2e bench row's gap to DuckDB is a fixed job-scheduling
  * floor that AMORTIZES with corpus size. Runs the REAL query body
  * (`CurationQueries.pipelineE2e` — the registered query delegates to
  * the same function, so the soak cannot drift from what the bench
  * measures), timing each materialized boundary plus the final
  * aggregate. Corpus: seeded exact dups every 97 ids and near-dups
  * every 50 that differ at FOUR spread positions (i % 20 == 7) — one
  * changed word per 20-gram span, so the boilerplate gate can NOT
  * remove them (every 20-span contains a change) and the LSH +
  * jaccard stages verify ~20k true candidates per million docs
  * (3-gram jaccard ≈ 0.73). The r10 generator's single-word near-dups
  * were span-covered and dropped BEFORE fuzzy dedup, so the LSH
  * stages only ever processed birthday noise. Run on a QUIET host:
  * `SPARK_DRIVER_MEM=48g sbt "runMain graft.SoakPipelineScale [sizes,csv]"`. */
object SoakPipelineScale {
  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(50000, 200000, 1000000))
    val spark = Sessions.build(
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)

    // 65536-word vocabulary: SoakCuration's 64-word vocab is fine at
    // 100k docs but adversarial at 1M — with 64 words there are only
    // ~262k possible 3-gram shingles, so minhash band buckets flood
    // with RANDOM collisions and the jaccard-verify stage measures the
    // hot-bucket pathology instead of pipeline scaling. A real corpus
    // has a vocabulary that dwarfs its shingle collision rate.
    def corpus(n: Int) = spark.range(n).select(
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

    val stages = scala.collection.mutable.LinkedHashMap[String,
      scala.collection.mutable.Buffer[(Int, Double)]]()
    // per-stage heap high-water mark (local[32]: driver + executors
    // share one JVM, so the heap peak bounds the whole pipeline's
    // memory). Pool peaks reset before each stage, max-of-pools read
    // after — catches transient build-side/sort spikes that a
    // usedMemory sample after the stage would miss.
    import scala.jdk.CollectionConverters._
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
    def resetPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())
    def peakGiB: Double =
      heapPools.map(_.getPeakUsage.getUsed).sum / (1L << 30).toDouble
    def record(size: Int, name: String, dt: Double): Unit = {
      // read-then-reset: each record reports the window since the
      // previous one, so stage windows are disjoint
      val hwm = peakGiB; resetPeaks()
      println(f"[soak-scale] n=$size%8d  $name%-26s $dt%8.3f s  heap-hwm $hwm%6.2f GiB")
      stages.getOrElseUpdate(name, scala.collection.mutable.Buffer()) += ((size, dt))
    }

    for (n <- sizes; pass <- 1 to 2) { // pass 1 warms JIT/codegen per size
      val docs = corpus(n)
      docs.count() // materialize outside the timed stages
      if (pass == 2) resetPeaks()
      val total0 = System.nanoTime()
      def stage(name: String, f: () => DataFrame): DataFrame = {
        val t0 = System.nanoTime()
        val r = f()
        if (pass == 2) record(n, name, (System.nanoTime() - t0) / 1e9)
        r
      }
      val tAgg = System.nanoTime()
      graft.llm.CurationQueries.pipelineE2e(docs, stage)
        .write.mode("overwrite").format("noop").save()
      if (pass == 2) {
        record(n, "final jaccard+cc+rollup",
          (System.nanoTime() - tAgg) / 1e9 -
            stages.filterNot(_._1.startsWith("final")).values
              .flatMap(_.filter(_._1 == n).lastOption.map(_._2)).sum)
        val total = (System.nanoTime() - total0) / 1e9
        println(f"[soak-scale] n=$n%8d  TOTAL $total%8.3f s  ${n / total}%9.0f docs/s")
        stages.getOrElseUpdate("TOTAL",
          scala.collection.mutable.Buffer()) += ((n, total))
      }
      docs.unpersist(blocking = true)
    }

    println("[soak-scale] ---- per-stage scaling (time ratio largest/smallest size) ----")
    val span = sizes.max.toDouble / sizes.min
    stages.foreach { case (name, xs) =>
      val lo = xs.minBy(_._1)._2; val hi = xs.maxBy(_._1)._2
      println(f"[soak-scale] $name%-26s ${hi / lo}%6.1fx time over ${span}%4.0fx docs" +
        f"  (${xs.map { case (s, d) => f"$s%d:$d%.2fs" }.mkString("  ")})")
    }
    spark.stop()
  }
}
