package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generate a scaled-up testdata tier by replicating an existing SF
  * with shifted keys (r14 VERDICT #7: the 8-vs-32-core scaling block
  * reads ≈1 on every row at sf0.1 because every query is floor-bound;
  * a work-dominated tier lets the c8/c32 ratio actually certify
  * per-query parallelism). HARNESS ARTIFACT ONLY — the driver's bench
  * contract stays on the provided /root/testdata tiers; this feeds the
  * SCALE.md scaling table.
  *
  * Replica i shifts every key family by i*10^9 (orderkey, custkey,
  * partkey, suppkey, doc_id, vec_id, event_id, user_id), preserving
  * referential integrity within each replica. Document text gets a
  * per-replica prefix token so exact/fuzzy dedup does not collapse
  * replicas at stage 1 (the point is to scale the WORK, and a
  * replica-constant prefix shifts every span window, so the span and
  * shingle planes scale too while originals stay near-dup-free).
  *
  * Run: tools/run_main.sh graft.GenScale SRC DST K
  * e.g. tools/run_main.sh graft.GenScale /root/testdata/sf0.1 /tmp/sfx1 10 */
object GenScale {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenScale SRC DST K")
    val (src, dst, k) = (args(0), args(1), args(2).toInt)
    val spark = Sessions.build(
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val Off = 1000000000L

    def reps(df: DataFrame, shift: Seq[String], f: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until k).map { i =>
        val shifted = shift.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(i * Off)))
        f(shifted, i)
      }.reduce(_.unionByName(_))

    def write(name: String, df: DataFrame): Unit = {
      df.coalesce(math.max(1, k / 2)).write.mode("overwrite")
        .parquet(s"$dst/$name.parquet")
      println(s"[gen-scale] wrote $name x$k")
    }

    write("lineitem", reps(Tables.lineitem(spark, src),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("orders", reps(Tables.orders(spark, src),
      Seq("o_orderkey", "o_custkey")))
    write("customer", reps(Tables.customer(spark, src), Seq("c_custkey")))
    write("supplier", reps(Tables.supplier(spark, src), Seq("s_suppkey")))
    write("part", reps(Tables.part(spark, src), Seq("p_partkey")))
    // dimensions stay as-is (broadcast side everywhere)
    Tables.nation(spark, src).write.mode("overwrite").parquet(s"$dst/nation.parquet")
    Tables.region(spark, src).write.mode("overwrite").parquet(s"$dst/region.parquet")
    write("events", reps(Tables.read(spark, src, "events"),
      Seq("event_id", "user_id")))
    write("documents", reps(Tables.documents(spark, src), Seq("doc_id"),
      (d, i) => d.withColumn("text", concat(lit(f"r$i%03d "), col("text")))
        .withColumn("n_chars", col("n_chars") + lit(5L))))
    write("embeddings", reps(Tables.embeddings(spark, src), Seq("vec_id")))
    spark.stop()
  }
}
