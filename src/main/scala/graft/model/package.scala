package graft

import scala.reflect.ClassTag

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.SQLExecution

package object model {
  /** A registered engine query: (session, data dir) => result.
    * The driver's correctness gate runs each of these at sf0.01 and
    * compares against the DuckDB oracle SQL with the same name. */
  type QueryFn = (SparkSession, String) => DataFrame

  /** One module's contribution to the engine surface. */
  trait QueryModule {
    def queries: Map[String, QueryFn]
    def oracleSql: Map[String, String]

    /** Release any per-dataset cached frames this module holds (the
      * materialized shared-index pattern). A long-lived service calls
      * this when a dataset is retired; Verify/Bench call it between
      * datasets so storage blocks never outlive the run that built
      * them. Default: nothing cached. */
    def evictCaches(dir: String): Unit = ()

    /** Release ALL cached frames this module holds. */
    def clearCaches(): Unit = ()
  }

  /** Default `driverCap` of the graph operators that run on the driver
    * when their edge set is small — `Dedup.canonicalize`,
    * `Dedup.pagerankInt` and `Derivation.transitiveDownstream`: up to
    * 1M edges (≈ 16 MB of (long, long)) are collected and walked
    * locally; past it each runs its distributed loop. The zonal reducer
    * has its own, smaller gate, `graft.ops.Zonal.DriverRows`. */
  val DriverCap: Long = 1L << 20

  /** `df`'s rows when it has at most `cap` of them, else None. Inputs
    * that are not skewed take one Spark job over all partitions, where a
    * `limit(cap + 1).collect()` probe takes two (`executeTake` scans one
    * partition first, then the rest). Each task ships at most its
    * [[perPartition]] share of the cap, so the job fetches at most about
    * 2 × cap rows however many partitions it has. Past the cap it
    * returns None after that job. When one partition holds more than its
    * share but the rows fetched leave room under the cap, an
    * `executeTake` probe decides. */
  def collectUnderCap(df: DataFrame, cap: Long): Option[Array[Row]] = {
    val limit = math.min(math.max(cap, 0L), Int.MaxValue - 1L)
    val schema = df.schema
    // (the first `share` rows, whether the partition holds more)
    val parts = perPartition(df, "collect", limit) { (share, rows) =>
      val unsafe = UnsafeProjection.create(schema)
      val kept = Array.newBuilder[UnsafeRow]
      var n = 0L
      while (n < share && rows.hasNext) { kept += unsafe(rows.next()).copy(); n += 1 }
      (kept.result(), rows.hasNext)
    }
    // a partition that holds more than its share holds at least one more row
    val atLeast = parts.map { case (rows, more) => rows.length + (if (more) 1L else 0L) }.sum
    if (atLeast > limit) None
    else if (parts.forall(!_._2)) {
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      Some(parts.flatMap(_._1).map(r => toRow(r).asInstanceOf[Row]))
    } else {
      val probe = df.limit(limit.toInt + 1).collect()
      if (probe.length <= limit) Some(probe) else None
    }
  }

  /** Runs `task` once on each partition of `df`, in one Spark job tracked
    * as one SQL execution named `name`, and returns the task results in
    * partition order. `task` gets the partition's share of a driver
    * budget of `cap` items, `min(cap, ceil(2 × cap / partitions))`, and
    * must ship at most that many (or a marker). The job then fetches at
    * most about 2 × cap items in total, where a share of `cap` per task
    * could fetch partitions × cap and pass `spark.driver.maxResultSize`. */
  private[graft] def perPartition[U: ClassTag](df: DataFrame, name: String, cap: Long)(
      task: (Long, Iterator[InternalRow]) => U): Array[U] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      val rdd = qe.toRdd
      val parts = rdd.getNumPartitions
      val n = math.max(parts, 1)
      val c = math.min(math.max(cap, 0L), Long.MaxValue / 4)
      val share = math.min(c, (2 * c + n - 1) / n)
      // the general runJob, not mapPartitions(…).collect(): Spark's
      // ClosureCleaner reads and parses the class that declares each
      // closure it cleans, on every job, and collect's two closures are
      // declared in RDD and SparkContext (~200 KB each)
      val out = new Array[U](parts)
      rdd.sparkContext.runJob(rdd, (_: TaskContext, rows: Iterator[InternalRow]) => task(share, rows),
        0 until parts, (i: Int, u: U) => out(i) = u)
      out
    }
  }

  /** Intra-query stage boundaries: `persist()` in place of the old
    * eager `localCheckpoint()` barriers. A multi-stage pipeline needs
    * each stage's output computed ONCE even when several downstream
    * stages consume it (the doubled-reference pathology), but an eager
    * checkpoint pays a whole Spark job + driver scheduling barrier per
    * stage — at small scale those constants dominate the query. With
    * lazy persist the single final action materializes every boundary
    * in ONE job (independent stages can even overlap), and the cache
    * serves each downstream consumer from memory.
    *
    * Honesty contract: `reset(key)` at query entry unpersists the
    * PREVIOUS invocation's boundaries, so a re-run (bench min-of-2,
    * Verify-then-Bench) pays full compute every time — these caches are
    * intra-run plumbing, never a cross-run materialized view. */
  private[graft] object StageBoundaries {
    private val live =
      new java.util.concurrent.ConcurrentHashMap[String, List[DataFrame]]()
    /** Drop the previous invocation's cached boundaries for `key`. */
    def reset(key: String): Unit =
      Option(live.remove(key)).foreach(_.foreach(_.unpersist(blocking = false)))
    /** Register `df` as a stage boundary of query `key`. */
    def mark(key: String, df: DataFrame): DataFrame = {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      live.merge(key, List(df), (a, b) => b ::: a)
      df
    }
    def clear(): Unit = {
      live.values().forEach(_.foreach(_.unpersist(blocking = false)))
      live.clear()
    }
  }

  /** Shared helper for the module-level materialized-frame caches:
    * unpersist + drop every entry (or one dataset's entry). */
  private[graft] object FrameCache {
    // blocking unpersist: "evicted" must mean the storage blocks are
    // GONE when the call returns, not queued for async removal — a
    // service evicts precisely because it needs the memory back now
    def evict(m: java.util.concurrent.ConcurrentHashMap[String, DataFrame], dir: String): Unit =
      Option(m.remove(dir)).foreach(_.unpersist(blocking = true))
    def clear(m: java.util.concurrent.ConcurrentHashMap[String, DataFrame]): Unit = {
      m.values().forEach(df => { df.unpersist(blocking = true); () })
      m.clear()
    }
  }
}
