package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession construction for the engine's entry points.
  * local[N] here; on a real cluster the same configs apply (AQE on,
  * shuffle partitions sized to cores, UTC session time).
  */
object Sessions {
  def build(cpus: String): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("georivaspark")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // shuffles START wide and AQE coalesces them down by advisory
      // size: a fixed 32-partition width is the measured wall once a
      // single box holds >1M docs/per-stage exchange (9.5M-row
      // per-task sorts spill; SCALE.md r11 — exact-dedup 9.6→3.4 s and
      // the quality-gate join 25.5→6.2 s at 5M docs with a wider
      // start). Small exchanges coalesce back to a handful of
      // partitions, so bench-scale plans are unchanged; at cluster
      // scale this is the standard initialPartitionNum ≫ cores setup.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (math.max(1, cpus.toIntOption.getOrElse(32)) * 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // let AQE re-plan (and in particular coalesce) the shuffle that
      // feeds a cached relation: the default false pins every .cache()d
      // frame at spark.sql.shuffle.partitions even when the data is a
      // few MB, so each downstream stage pays shuffle-partition-count
      // task launches against tiny cached partitions (measured: the
      // 230k-row pinned grid cube aggregated 4x faster once its cache
      // landed in AQE-coalesced partitions; the whole pinned-frame
      // serving family shares the win). On a real cluster the same
      // advisory-size coalescing applies — cached partitions track data
      // volume, not the static shuffle width.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      // ~100 registered queries × several codegen stages each evicts the
      // default 100-entry generated-class cache mid-run, forcing
      // recompiles of plans that will run again (static conf — must be
      // set before the first session)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.ui.enabled", "false")
      // every stage broadcasts its task binary, and TorrentBroadcast
      // writes a broadcast into chunks of this size: at the default 4 MB
      // each job allocates 4 MB arrays, which G1 places as humongous
      // objects outside the young generation. Once the kernels cut the
      // per-row garbage, young collections came rarer, humongous chunks
      // filled the heap between them, and a collection ran out of
      // to-space (serve_mixed heap after a collection ~290 → 320–800 MB;
      // SCALE.md). 256 KB chunks stay under a 1 MB region's half.
      .config("spark.broadcast.blockSize", "256k")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // partition keys are STRING by contract everywhere (unit_id,
      // collection, date); inference would silently retype "2" → int
      // and break ledger/unit joins on read-back
      .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
      // native expressions and the as-of planner strategy: the same
      // injection a spark-submit deployment configures through
      // spark.sql.extensions
      .withExtensions(new GraftExtensions)
    // A/B hook for the storage-noise study (SCALE.md): point shuffle /
    // block-manager scratch at a tmpfs (e.g. /dev/shm/graft) to take the
    // root filesystem's online-discard (TRIM) churn out of soak
    // measurements. Unset = Spark's default (java.io.tmpdir).
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").foreach(d =>
      builder.config("spark.local.dir", d))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
