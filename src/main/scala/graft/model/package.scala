package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * locally; past it each runs its distributed loop. */
  val DriverCap: Long = 1L << 20

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
