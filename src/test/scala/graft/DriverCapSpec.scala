package graft

import graft.model.collectUnderCap
import org.apache.spark.sql.functions.{concat, lit, repeat}

/** `collectUnderCap` decides and fetches in one Spark job over every
  * partition: all the rows while they number at most the cap, None past
  * it. The job fetches about 2 × cap rows at most, however many
  * partitions it has; a skewed input under the cap still comes back
  * whole. */
class DriverCapSpec extends SparkSpec {
  import spark.implicits._

  // 40 rows in 5 partitions, no shuffle in front
  private val df = spark.range(0, 40, 1, 5).select($"id", concat(lit("r"), $"id").as("s"))

  test("under, at and past the cap, in one Spark job each") {
    val all = df.collect().map(_.getLong(0)).sorted.toSeq
    for (cap <- Seq(0L, 1L, 39L, 40L, 41L, graft.model.DriverCap)) {
      val (got, jobs) = jobsDuring(collectUnderCap(df, cap))
      assert(jobs == 1, s"cap=$cap ran $jobs jobs")
      if (cap >= 40) assert(got.map(_.map(_.getLong(0)).sorted.toSeq).contains(all), s"cap=$cap")
      else assert(got.isEmpty, s"cap=$cap")
    }
  }

  test("rows keep the schema; an empty frame is under any cap") {
    val got = collectUnderCap(df.filter($"id" === 7L), 1L).get
    assert(got.toSeq.map(r => (r.getLong(0), r.getString(1))) == Seq((7L, "r7")))
    assert(got.head.schema == df.schema)
    assert(collectUnderCap(df.filter($"id" < 0L), 0L).exists(_.isEmpty))
  }

  test("past the cap, many partitions under it each fetch about 2 × cap rows in all") {
    // 16 partitions of 90 rows of ~2 KB: each partition alone is under
    // a cap of 100, all 1,440 rows together are far past it
    val (parts, perPart, cap, payload) = (16, 90, 100L, 2000)
    val wide = spark.range(0, parts.toLong * perPart, 1, parts)
      .select($"id", repeat(lit("x"), payload).as("pad"))
    val sc = spark.sparkContext
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.resultSize))
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    val got =
      try { val r = collectUnderCap(wide, cap); org.apache.spark.ListenerDrain(sc); r }
      finally sc.removeSparkListener(listener)
    assert(got.isEmpty)
    // each task ships its share, ceil(2 × cap / parts) = 13 rows, plus its
    // metrics; shipping every partition's rows would be ~2.9 MB
    val bound = (2 * cap + 2 * parts) * payload + parts * 16384L
    assert(bytes.get <= bound, s"fetched ${bytes.get} bytes, bound $bound")
  }

  test("a skewed input under the cap comes back whole; past it, None") {
    // partition 0 holds 30 rows, partitions 1-4 hold 2 each: 38 rows
    val skewed = spark.range(0, 5, 1, 5).as[Long]
      .flatMap(p => (0 until (if (p == 0) 30 else 2)).map(j => p * 100 + j)).toDF("id")
    val all = skewed.collect().map(_.getLong(0)).sorted.toSeq
    assert(all.size == 38)
    // a cap of 40 gives each partition a share of 16 rows
    assert(collectUnderCap(skewed, 40L).map(_.map(_.getLong(0)).sorted.toSeq).contains(all))
    assert(collectUnderCap(skewed, 38L).map(_.map(_.getLong(0)).sorted.toSeq).contains(all))
    assert(collectUnderCap(skewed, 37L).isEmpty)
  }
}
