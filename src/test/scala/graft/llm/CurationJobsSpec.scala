package graft.llm

import graft.{SparkEntry, SparkSpec}

/** Scheduled-job bounds for the two curation queries whose plan
  * switches collapsed to their measured winners: after a warm-up, each
  * runs no more jobs than the switch-era default did (measured at
  * sf0.001: d_pipeline_e2e 25, d_incremental_endstate 14). */
class CurationJobsSpec extends SparkSpec {
  for ((q, bound) <- Seq("d_pipeline_e2e" -> 25, "d_incremental_endstate" -> 14))
    test(s"$q runs at most $bound jobs after warm-up") {
      val fn = SparkEntry.queries(q)
      fn(spark, sf0001).write.mode("overwrite").format("noop").save() // warm-up
      val (_, jobs) = jobsDuring(fn(spark, sf0001).write.mode("overwrite").format("noop").save())
      assert(jobs <= bound, s"$q ran $jobs jobs")
    }
}
