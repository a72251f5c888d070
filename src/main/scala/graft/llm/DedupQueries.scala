package graft.llm

import graft.Tables
import graft.model.QueryModule
import org.apache.spark.sql.functions._

/** Verified near-dup queries over `documents`. The DuckDB oracles rebuild
  * the identical md5-deterministic pipelines in SQL. */
object DedupQueries extends QueryModule {

  /** Shared materialized shingle index — the gram-string overlap
    * frames below ([[pairJaccOf]], [[cappedPairsOf]]) and the simhash
    * query consume the same (id, shingle) set; building it once per
    * dataset is the multi-query analogue of a materialized CTE. */
  private val shCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def shinglesOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    shCache.computeIfAbsent(dir, d =>
      Dedup.shingles(Tables.documents(s, d), "doc_id", "text").cache())

  /** Shared LSH-verified pair frame (doc_a, doc_b, jacc): one-pass
    * minhash signatures → bands → candidates, verified against per-doc
    * distinct shingle-hash ARRAYS ([[Dedup.pairJaccardArrays]], the
    * d_pipeline_e2e verify). No gram string, corpus-wide distinct or
    * per-id size aggregate is built; jacc equals the oracle's
    * md5-truncated shingle Jaccard on every pair it keeps
    * (JaccardArraysSpec). The production near-dup path —
    * d_minhash_lsh, d_decontaminate, d_pagerank and, through
    * [[canonOf]], the canonicalization queries consume it; the
    * all-pairs frame below exists for the exhaustive-baseline operator
    * only. */
  private val lshPairsCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def lshVerifiedOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    lshPairsCache.computeIfAbsent(dir, d => {
      val docs = Tables.documents(s, d)
      val sig = Dedup.minhashFromText(docs, "doc_id", "text")
      val cands = Dedup.candidatePairs(Dedup.lshBands(sig, 8, 2))
      Dedup.pairJaccardArrays(cands, Dedup.shingleHashArrays(docs, "doc_id", "text")).cache()
    })

  /** Shared canonical labels (id, canonical) over the verified
    * near-dup pairs — three queries consume the SAME component labels
    * (d_dedup_canonical, d_dedup_keep_best, d_cluster_sizes). The
    * verified pair set is dup-cluster-sized, so `canonicalize` labels
    * it with its driver-side union-find; the cache keeps the three
    * consumers from re-paying the verify and the label jobs. */
  private val canonCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def canonOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    canonCache.computeIfAbsent(dir, d =>
      Dedup.canonicalize(
        lshVerifiedOf(s, d).filter(col("jacc") >= 0.5).select("doc_a", "doc_b"), 3).cache())

  /** Shared distinct word-bigram index (id, s) — consumed by
    * t_ngram_freq and t_bigram_commonness (previously each call re-built
    * and re-cached its own copy, leaking storage). */
  private val sh2Cache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def bigramsOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    sh2Cache.computeIfAbsent(dir, d =>
      Dedup.shingles(Tables.documents(s, d), "doc_id", "text", n = 2).cache())

  /** Shared all-pairs Jaccard frame (doc_a, doc_b, jacc) over pairs with
    * ≥1 common shingle — EXACT BASELINE ONLY (quadratic in the hottest
    * shingle's posting list); consumed solely by the labeled
    * d_ngram_jaccard baseline. Production overlap queries ride
    * [[cappedPairsOf]]. */
  private val pairsCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def pairJaccOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    pairsCache.computeIfAbsent(dir, d => {
      val sh = shinglesOf(s, d)
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("c"))
      sh.select(col("id").as("doc_a"), col("s"))
        .join(sh.select(col("id").as("doc_b"), col("s")), Seq("s"))
        .filter(col("doc_a") < col("doc_b"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
        .join(sizes.select(col("id").as("doc_a"), col("c").as("ca")), Seq("doc_a"))
        .join(sizes.select(col("id").as("doc_b"), col("c").as("cb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("i"), col("ca"), col("cb"),
          (col("i").cast("double") / (col("ca") + col("cb") - col("i"))).as("jacc"))
        .cache()
    })

  /** Shared CAPPED-generation exact-overlap frame — the production
    * counterpart of [[pairJaccOf]]: shingles whose posting list exceeds
    * the cap are excluded from pair GENERATION (a stop-phrase shared by
    * 10⁶ docs would otherwise make 10¹² pairs), then hot-shingle
    * intersections are added back for the surviving candidates only, so
    * i/ca/cb — and every score derived from them (Jaccard,
    * containment) — stay EXACT for any pair that meets through a rare
    * shingle. The one-row dropped-shingle count rides along on every
    * row for observability. Columns: (doc_a, doc_b, i, ca, cb,
    * n_dropped_shingles). */
  private val cappedCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private val cappedIcoldCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private val shingleCap = 40
  private def cappedPairsOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    cappedCache.computeIfAbsent(dir, d => {
      val sh = shinglesOf(s, d)
      val hot = sh.groupBy("s").agg(count(lit(1)).as("pc")).filter(col("pc") > shingleCap)
      val cold = sh.join(broadcast(hot.select("s")), Seq("s"), "left_anti")
      val hotPost = sh.join(broadcast(hot.select("s")), Seq("s"))
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("c"))
      // icold feeds both the hot-correction join and the final merge;
      // a REGISTERED cache materializes the (bounded, candidate-sized)
      // frame once per reference — and unlike a localCheckpoint, the
      // eviction hooks can actually release its blocks (a checkpoint
      // RDD would linger until GC + async cleaner).
      val icold = cappedIcoldCache.computeIfAbsent(d, _ =>
        cold.select(col("id").as("doc_a"), col("s"))
          .join(cold.select(col("id").as("doc_b"), col("s")), Seq("s"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ic"))
          .cache())
      // hot-shingle intersections computed ONLY for surviving candidates:
      // cost ∝ candidates × hot shingles per doc, never posting² of a
      // stop-phrase
      val ihot = icold.select("doc_a", "doc_b")
        .join(hotPost.select(col("id").as("doc_a"), col("s")), Seq("doc_a"))
        .join(hotPost.select(col("id").as("doc_b"), col("s")), Seq("doc_b", "s"))
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("ih"))
      icold.join(ihot, Seq("doc_a", "doc_b"), "left")
        .withColumn("i", col("ic") + coalesce(col("ih"), lit(0L)))
        .join(sizes.select(col("id").as("doc_a"), col("c").as("ca")), Seq("doc_a"))
        .join(sizes.select(col("id").as("doc_b"), col("c").as("cb")), Seq("doc_b"))
        .select(col("doc_a"), col("doc_b"), col("i"), col("ca"), col("cb"))
        .crossJoin(broadcast(hot.agg(count(lit(1)).as("n_dropped_shingles"))))
        .cache()
    })

  override def evictCaches(dir: String): Unit =
    Seq(shCache, lshPairsCache, canonCache, sh2Cache, pairsCache, cappedCache, cappedIcoldCache)
      .foreach(graft.model.FrameCache.evict(_, dir))
  override def clearCaches(): Unit =
    Seq(shCache, lshPairsCache, canonCache, sh2Cache, pairsCache, cappedCache, cappedIcoldCache)
      .foreach(graft.model.FrameCache.clear)

  /** Shared oracle CTEs: words → distinct 3-gram shingles → set sizes. */
  private val shinglesCte =
    """words AS (
      |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
      |  FROM words CROSS JOIN range(400) t(i) WHERE i < len(ws) - 2),
      |sizes AS (SELECT id, count(*) AS c FROM sh GROUP BY 1)""".stripMargin

  /** Shared oracle CTEs: minhash signatures → LSH band buckets (with the
    * >1024-doc hot-bucket skew cap mirroring Dedup.candidatePairs) →
    * candidate pairs → exact shingle intersections. */
  private val lshInterCte =
    """hashed AS (SELECT id, md5(s) AS h, md5(s || '~') AS h2 FROM sh),
      |sig AS (
      |  SELECT id,
      |    min(CAST(concat('0x', substring(h, 1, 8)) AS BIGINT) & 2147483647) AS m1, min(CAST(concat('0x', substring(h, 9, 8)) AS BIGINT) & 2147483647) AS m2,
      |    min(CAST(concat('0x', substring(h, 17, 8)) AS BIGINT) & 2147483647) AS m3, min(CAST(concat('0x', substring(h, 25, 8)) AS BIGINT) & 2147483647) AS m4,
      |    min(CAST(concat('0x', substring(h2, 1, 8)) AS BIGINT) & 2147483647) AS m5, min(CAST(concat('0x', substring(h2, 9, 8)) AS BIGINT) & 2147483647) AS m6,
      |    min(CAST(concat('0x', substring(h2, 17, 8)) AS BIGINT) & 2147483647) AS m7, min(CAST(concat('0x', substring(h2, 25, 8)) AS BIGINT) & 2147483647) AS m8
      |  FROM hashed GROUP BY id),
      |bands AS (
      |  SELECT id, 1 AS band, CAST(m1 AS BIGINT) * 2147483648 + m2 AS key FROM sig UNION ALL
      |  SELECT id, 2, CAST(m3 AS BIGINT) * 2147483648 + m4 FROM sig UNION ALL
      |  SELECT id, 3, CAST(m5 AS BIGINT) * 2147483648 + m6 FROM sig UNION ALL
      |  SELECT id, 4, CAST(m7 AS BIGINT) * 2147483648 + m8 FROM sig),
      |hotb AS (SELECT band, key FROM bands GROUP BY band, key HAVING count(*) > 1024),
      |bandsc AS (
      |  SELECT b.id, b.band, b.key FROM bands b
      |  WHERE NOT EXISTS (SELECT 1 FROM hotb h WHERE h.band = b.band AND h.key = b.key)),
      |cands AS (
      |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
      |  FROM bandsc a JOIN bandsc b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
      |shh AS (
      |  SELECT id, CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
      |inter AS (
      |  SELECT doc_a, doc_b, count(*) AS i
      |  FROM cands
      |  JOIN shh sa ON sa.id = doc_a
      |  JOIN shh sb ON sb.id = doc_b AND sb.h = sa.h
      |  GROUP BY 1, 2)""".stripMargin

  override def queries = Map(
    // MinHash (k=8) → LSH (4 bands × 2 rows) → exact-Jaccard verify
    // over per-doc shingle-hash arrays (lshVerifiedOf).
    "d_minhash_lsh" -> ((s, dir) =>
      lshVerifiedOf(s, dir).filter(col("jacc") >= 0.5)),

    // Exact all-pairs n-gram Jaccard via the shingle inverted index:
    // one self-join aggregated straight to intersection counts (no
    // distinct-pairs detour, no re-join against the shingle table).
    // EXACT BASELINE ONLY: quadratic in the hottest shingle's posting
    // list — d_minhash_lsh is the production path, and the capped
    // variant below is the bounded exact-ish alternative.
    "d_ngram_jaccard" -> ((s, dir) =>
      pairJaccOf(s, dir).filter(col("jacc") >= 0.3)
        .select("doc_a", "doc_b", "jacc")),

    // Asymmetric near-containment: C = |A∩B| / min(|A|,|B|) — catches a
    // document swallowed whole by a larger one (quotes, boilerplate
    // wrappers, concatenations), which symmetric Jaccard dilutes below
    // any usable threshold. Rides the CAPPED-generation frame (this is
    // a production operator, not a labeled baseline): the score is
    // exact for any pair meeting through a rare shingle, and no
    // stop-phrase posting list ever goes quadratic. The trade is
    // explicit: a pair whose ONLY overlap is capped-hot shingles (a
    // doc that is 100% corpus-wide boilerplate) never generates — by
    // design, because such content is the d_span_coverage /
    // d_repeated_spans family's job (coverage flags it per-doc without
    // any pair explosion), not a pairwise operator's.
    "d_containment" -> ((s, dir) =>
      cappedPairsOf(s, dir)
        .withColumn("containment",
          col("i").cast("double") / least(col("ca"), col("cb")))
        .withColumn("jacc",
          col("i").cast("double") / (col("ca") + col("cb") - col("i")))
        .filter(col("containment") >= 0.8)
        .select("doc_a", "doc_b", "containment", "jacc")),

    // Production-bounded n-gram Jaccard: shingles whose posting list
    // exceeds a cap are excluded from pair GENERATION (stop-phrases
    // shared by 10^6 docs would otherwise make 10^12 pairs), and the
    // dropped-shingle count is reported in every row for observability.
    // Intersection/union still count ALL shingles, so the score is exact
    // for any pair that still meets through a rare shingle.
    "d_ngram_jaccard_capped" -> ((s, dir) =>
      cappedPairsOf(s, dir)
        .select(col("doc_a"), col("doc_b"),
          (col("i").cast("double") / (col("ca") + col("cb") - col("i"))).as("jacc"),
          col("n_dropped_shingles"))
        .filter(col("jacc") >= 0.3)),

    // LSH bucket profile: the observability face of candidatePairs'
    // hot-bucket skew guard — every band bucket generating pairs
    // (n_docs ≥ 2), so a pipeline report can see exactly which buckets
    // a production cap (default 1024) would drop and how many docs
    // they hold. On a healthy corpus the tail is tiny; a template
    // flood shows up here before it shows up as a stuck reducer.
    "d_lsh_bucket_profile" -> ((s, dir) =>
      Dedup.hotBuckets(
        Dedup.lshBands(
          Dedup.minhashFromText(Tables.documents(s, dir), "doc_id", "text"), 8, 2),
        maxBucket = 1)),

    // Benchmark decontamination: the hash-gate split (t_dataset_split's
    // trick) marks ~10% of documents as the held-out benchmark set;
    // cross-set near-dup pairs (banded minhash candidates, exact-Jaccard
    // verified) are contamination — training documents that leak
    // benchmark content. Same-set duplicates are NOT contamination and
    // are excluded.
    "d_decontaminate" -> ((s, dir) => {
      def gate(c: String) =
        expr(s"CAST(conv(substring(md5(CAST($c AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100")
      lshVerifiedOf(s, dir).filter(col("jacc") >= 0.5)
        .withColumn("ba", gate("doc_a") >= 90)
        .withColumn("bb", gate("doc_b") >= 90)
        .filter(col("ba") =!= col("bb")) // cross-set only
        .select(
          when(col("ba"), col("doc_a")).otherwise(col("doc_b")).as("bench_doc"),
          when(col("ba"), col("doc_b")).otherwise(col("doc_a")).as("train_doc"),
          col("jacc"))
    }),

    // Cluster canonicalization: verified near-dup pairs → connected
    // components → keep-minimum-id representative (the "which copy do we
    // keep" step of a dedup pipeline).
    "d_dedup_canonical" -> ((s, dir) => canonOf(s, dir)),

    // Cluster-size distribution over the near-dup components — the
    // dedup observability report ("how big are my duplicate
    // families"): a heavy tail here means template floods that belong
    // upstream in exact dedup, a flat histogram means genuine pairwise
    // near-dups. Two small aggregates on top of the canonical labels;
    // nothing new shuffles at corpus scale.
    "d_cluster_sizes" -> ((s, dir) =>
      canonOf(s, dir)
        .groupBy("canonical").agg(count(lit(1)).as("n_members"))
        .groupBy("n_members").agg(count(lit(1)).as("n_clusters"))),

    // End-to-end dedup decision: cluster the verified near-dups, then
    // keep each cluster's HIGHEST-QUALITY member (t_quality_score's
    // formula) instead of the arbitrary min-id — the last step of a
    // real dedup pipeline, composing the LSH sweep, connected
    // components, and the quality screen in one verified query.
    "d_dedup_keep_best" -> ((s, dir) => {
      val canon = canonOf(s, dir)
      val q = Tables.documents(s, dir).select(col("doc_id").as("id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("canonical").orderBy(col("quality").desc, col("id").asc)
      canon.join(q, Seq("id"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("canonical").as("cluster"), col("id").as("keep_id"), col("quality"))
    }),

    // Duplicate-cluster centrality: integer PageRank over the verified
    // near-dup graph — the "keep the most-linked copy" alternative to
    // min-id canonicalization (a hub shared by many variants outranks a
    // leaf that matched once). The verified pairs are fetched in one
    // action and, being dup-cluster-sized, ranked on the driver
    // (pagerankInt's size gate).
    "d_pagerank" -> ((s, dir) =>
      Dedup.pagerankInt(
        lshVerifiedOf(s, dir).filter(col("jacc") >= 0.5).select("doc_a", "doc_b"), 3)),

    // Word-bigram frequency table (top corpus n-grams; count arithmetic
    // only, so it oracles exactly).
    "t_ngram_freq" -> ((s, dir) => {
      val sh2 = bigramsOf(s, dir)
      sh2.groupBy(col("s").as("bigram"))
        .agg(count(lit(1)).as("n_docs"))
        .filter(col("n_docs") >= 50)
    }),

    // Document typicality: mean corpus document-frequency of the doc's
    // bigrams — the cheap "does this look like the corpus" quality
    // signal (a rational-arithmetic stand-in for n-gram perplexity,
    // which needs log and therefore can't hash cross-engine).
    "t_bigram_commonness" -> ((s, dir) => {
      val sh2 = bigramsOf(s, dir)
      val freq = sh2.groupBy("s").agg(count(lit(1)).as("df"))
      sh2.join(freq, "s")
        .groupBy(col("id").as("doc_id"))
        .agg((sum(col("df")).cast("double") / count(lit(1))).as("mean_df"),
          count(lit(1)).as("n_bigrams"))
    }),

    // SimHash-64 near-dups: hamming distance ≤ 8 pairs over the shared
    // shingle index (word-level simhash degenerates on template corpora).
    // Candidates come from pigeonhole blocking (9 blocks of the 64-bit
    // hash; ≤8 flipped bits leave ≥1 block identical → equi-join on
    // (blk, value)), so the plan has no cartesian product; the cheap
    // hamming filter runs map-side in the join stage and only survivors
    // pay the distinct() — same answer as the quadratic scan.
    // Exact repeated-span detection (Lee et al.-style substring dedup):
    // rolling 20-token window hashes; any hash in ≥2 docs is verbatim
    // cross-document duplication. Scan → windowing projection → one
    // groupBy on the hash; no joins, no candidate generation.
    "d_repeated_spans" -> ((s, dir) =>
      Dedup.repeatedSpans(
        Dedup.spanHashes(Tables.documents(s, dir), "doc_id", "text", 20))),

    // Per-doc duplicated-span coverage: fraction of tokens inside ≥1
    // cross-document duplicated window (merged intervals, so nested /
    // overlapping windows never double-count). The downstream decision
    // is "drop docs with coverage > θ" — boilerplate-heavy documents.
    "d_span_coverage" -> ((s, dir) =>
      Dedup.spanCoverage(
        Dedup.spanHashes(Tables.documents(s, dir), "doc_id", "text", 20), 20)),

    "d_simhash" -> ((s, dir) => {
      val sim = Dedup.simhash64(shinglesOf(s, dir))
      // salt hot pigeonhole buckets (>1000 docs agreeing on one block)
      // across 8 reducers — semantics-preserving, so the exact
      // quadratic oracle stays the ground truth; on a healthy corpus
      // the salted branch is empty and the plan degenerates to the
      // plain equi-join.
      Dedup.simhashCandidates(sim, maxDist = 8, saltBuckets = 8, saltThreshold = 1000)
        .withColumn("hamming", expr("CAST(bit_count(ha ^ hb) AS INT)"))
        .filter(col("hamming") <= 8)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    })
  )

  override def oracleSql = Map(
    "d_minhash_lsh" ->
      s"""WITH $shinglesCte,
         |$lshInterCte
         |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.c + cb.c - i) AS jacc
         |FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
         |WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5""".stripMargin,
    "d_decontaminate" ->
      s"""WITH $shinglesCte,
         |$lshInterCte,
         |vp AS (
         |  SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.c + cb.c - i) AS jacc
         |  FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5),
         |g AS (
         |  SELECT doc_a, doc_b, jacc,
         |    CAST(concat('0x', substring(md5(CAST(doc_a AS VARCHAR)), 1, 8)) AS BIGINT) % 100 >= 90 AS ba,
         |    CAST(concat('0x', substring(md5(CAST(doc_b AS VARCHAR)), 1, 8)) AS BIGINT) % 100 >= 90 AS bb
         |  FROM vp)
         |SELECT CASE WHEN ba THEN doc_a ELSE doc_b END AS bench_doc,
         |       CASE WHEN ba THEN doc_b ELSE doc_a END AS train_doc, jacc
         |FROM g WHERE ba != bb""".stripMargin,
    "d_ngram_jaccard_capped" ->
      s"""WITH $shinglesCte,
         |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 40),
         |cold AS (SELECT id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
         |icold AS (
         |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS ic
         |  FROM cold a JOIN cold b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2),
         |hotpost AS (SELECT id, s FROM sh WHERE s IN (SELECT s FROM hot)),
         |ihot AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS ih
         |  FROM icold c
         |  JOIN hotpost ha ON ha.id = c.doc_a
         |  JOIN hotpost hb ON hb.id = c.doc_b AND hb.s = ha.s
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT icold.doc_a AS doc_a, icold.doc_b AS doc_b,
         |    ic + coalesce(ih, 0) AS i
         |  FROM icold LEFT JOIN ihot
         |    ON icold.doc_a = ihot.doc_a AND icold.doc_b = ihot.doc_b),
         |nd AS (SELECT count(*) AS n_dropped_shingles FROM hot)
         |SELECT j.doc_a AS doc_a, j.doc_b AS doc_b,
         |  CAST(i AS DOUBLE) / (sa.c + sb.c - i) AS jacc,
         |  nd.n_dropped_shingles AS n_dropped_shingles
         |FROM j JOIN sizes sa ON sa.id = j.doc_a
         |JOIN sizes sb ON sb.id = j.doc_b CROSS JOIN nd
         |WHERE CAST(i AS DOUBLE) / (sa.c + sb.c - i) >= 0.3""".stripMargin,
    "d_containment" ->
      s"""WITH $shinglesCte,
         |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > 40),
         |cold AS (SELECT id, s FROM sh WHERE s NOT IN (SELECT s FROM hot)),
         |icold AS (
         |  SELECT a.id AS doc_a, b.id AS doc_b, count(*) AS ic
         |  FROM cold a JOIN cold b ON a.s = b.s AND a.id < b.id
         |  GROUP BY 1, 2),
         |hotpost AS (SELECT id, s FROM sh WHERE s IN (SELECT s FROM hot)),
         |ihot AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS ih
         |  FROM icold c
         |  JOIN hotpost ha ON ha.id = c.doc_a
         |  JOIN hotpost hb ON hb.id = c.doc_b AND hb.s = ha.s
         |  GROUP BY 1, 2),
         |j AS (
         |  SELECT icold.doc_a AS doc_a, icold.doc_b AS doc_b,
         |    ic + coalesce(ih, 0) AS i
         |  FROM icold LEFT JOIN ihot
         |    ON icold.doc_a = ihot.doc_a AND icold.doc_b = ihot.doc_b)
         |SELECT j.doc_a AS doc_a, j.doc_b AS doc_b,
         |  CAST(i AS DOUBLE) / least(sa.c, sb.c) AS containment,
         |  CAST(i AS DOUBLE) / (sa.c + sb.c - i) AS jacc
         |FROM j JOIN sizes sa ON sa.id = j.doc_a
         |JOIN sizes sb ON sb.id = j.doc_b
         |WHERE CAST(i AS DOUBLE) / least(sa.c, sb.c) >= 0.8""".stripMargin,
    "d_lsh_bucket_profile" ->
      s"""WITH $shinglesCte,
         |hashed AS (SELECT id, md5(s) AS h, md5(s || '~') AS h2 FROM sh),
         |sig AS (
         |  SELECT id,
         |    min(CAST(concat('0x', substring(h, 1, 8)) AS BIGINT) & 2147483647) AS m1, min(CAST(concat('0x', substring(h, 9, 8)) AS BIGINT) & 2147483647) AS m2,
         |    min(CAST(concat('0x', substring(h, 17, 8)) AS BIGINT) & 2147483647) AS m3, min(CAST(concat('0x', substring(h, 25, 8)) AS BIGINT) & 2147483647) AS m4,
         |    min(CAST(concat('0x', substring(h2, 1, 8)) AS BIGINT) & 2147483647) AS m5, min(CAST(concat('0x', substring(h2, 9, 8)) AS BIGINT) & 2147483647) AS m6,
         |    min(CAST(concat('0x', substring(h2, 17, 8)) AS BIGINT) & 2147483647) AS m7, min(CAST(concat('0x', substring(h2, 25, 8)) AS BIGINT) & 2147483647) AS m8
         |  FROM hashed GROUP BY id),
         |bands AS (
         |  SELECT id, 1 AS band, CAST(m1 AS BIGINT) * 2147483648 + m2 AS key FROM sig UNION ALL
         |  SELECT id, 2, CAST(m3 AS BIGINT) * 2147483648 + m4 FROM sig UNION ALL
         |  SELECT id, 3, CAST(m5 AS BIGINT) * 2147483648 + m6 FROM sig UNION ALL
         |  SELECT id, 4, CAST(m7 AS BIGINT) * 2147483648 + m8 FROM sig)
         |SELECT band, key, count(*) AS n_docs
         |FROM bands GROUP BY band, key HAVING count(*) > 1""".stripMargin,
    "d_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |pairs AS (
         |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
         |  FROM sh a JOIN sh b ON a.s = b.s AND a.id < b.id),
         |inter AS (
         |  SELECT doc_a, doc_b, count(*) AS i
         |  FROM pairs
         |  JOIN sh sa ON sa.id = doc_a
         |  JOIN sh sb ON sb.id = doc_b AND sb.s = sa.s
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, CAST(i AS DOUBLE) / (ca.c + cb.c - i) AS jacc
         |FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
         |WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.3""".stripMargin,
    "d_dedup_canonical" ->
      s"""WITH $shinglesCte,
         |$lshInterCte,
         |pairs AS MATERIALIZED (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT u AS id, u AS canonical FROM edges),
         |h1 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM l0 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN l0 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r1 AS MATERIALIZED (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h1 h JOIN h1 n ON n.id = h.canonical),
         |h2 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM r1 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN r1 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r2 AS MATERIALIZED (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h2 h JOIN h2 n ON n.id = h.canonical),
         |h3 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM r2 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN r2 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r3 AS (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h3 h JOIN h3 n ON n.id = h.canonical)
         |SELECT id, canonical FROM r3""".stripMargin,
    "d_cluster_sizes" ->
      s"""WITH $shinglesCte,
         |$lshInterCte,
         |pairs AS MATERIALIZED (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT u AS id, u AS canonical FROM edges),
         |h1 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM l0 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN l0 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r1 AS MATERIALIZED (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h1 h JOIN h1 n ON n.id = h.canonical),
         |h2 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM r1 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN r1 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r2 AS MATERIALIZED (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h2 h JOIN h2 n ON n.id = h.canonical),
         |h3 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM r2 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN r2 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r3 AS (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h3 h JOIN h3 n ON n.id = h.canonical)
         |SELECT n_members, CAST(count(*) AS BIGINT) AS n_clusters FROM (
         |  SELECT canonical, CAST(count(*) AS BIGINT) AS n_members
         |  FROM r3 GROUP BY 1) t
         |GROUP BY 1""".stripMargin,
    "d_dedup_keep_best" ->
      s"""WITH $shinglesCte,
         |$lshInterCte,
         |pairs AS MATERIALIZED (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS u, doc_b AS v FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |l0 AS (SELECT DISTINCT u AS id, u AS canonical FROM edges),
         |h1 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM l0 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN l0 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r1 AS MATERIALIZED (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h1 h JOIN h1 n ON n.id = h.canonical),
         |h2 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM r1 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN r1 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r2 AS MATERIALIZED (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h2 h JOIN h2 n ON n.id = h.canonical),
         |h3 AS MATERIALIZED (
         |  SELECT l.id, least(l.canonical, coalesce(min(n.canonical), l.canonical)) AS canonical
         |  FROM r2 l LEFT JOIN edges e ON e.u = l.id LEFT JOIN r2 n ON n.id = e.v
         |  GROUP BY l.id, l.canonical),
         |r3 AS MATERIALIZED (SELECT h.id AS id, n.canonical AS canonical
         |       FROM h3 h JOIN h3 n ON n.id = h.canonical),
         |qual AS (
         |  SELECT doc_id AS id,
         |    least(1.0, greatest(0.0,
         |      0.25 + CAST(len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in|is|that|for)\\b')) AS BIGINT)
         |               / CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) * 2.0
         |           - CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
         |               / CAST(length(text) AS BIGINT) * 3.0
         |           + CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT)
         |               / CAST(length(text) AS BIGINT) * 0.5)) AS quality
         |  FROM documents)
         |SELECT canonical AS cluster, id AS keep_id, quality FROM (
         |  SELECT r3.canonical AS canonical, r3.id AS id, qual.quality AS quality,
         |    row_number() OVER (PARTITION BY r3.canonical
         |                       ORDER BY qual.quality DESC, r3.id ASC) AS rn
         |  FROM r3 JOIN qual ON r3.id = qual.id) t
         |WHERE rn = 1""".stripMargin,
    "d_pagerank" ->
      s"""WITH $shinglesCte,
         |$lshInterCte,
         |vp AS MATERIALIZED (
         |  SELECT doc_a, doc_b
         |  FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
         |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5),
         |edges AS MATERIALIZED (
         |  SELECT doc_a AS u, doc_b AS v FROM vp
         |  UNION SELECT doc_b, doc_a FROM vp),
         |deg AS MATERIALIZED (SELECT u AS id, count(*) AS deg FROM edges GROUP BY 1),
         |p0 AS (SELECT id, CAST(1000000 AS BIGINT) AS pr FROM deg),
         |c1 AS (SELECT p0.id AS v, CAST(floor(CAST(pr AS DOUBLE) / deg) AS BIGINT) AS c
         |       FROM p0 JOIN deg ON p0.id = deg.id),
         |p1 AS (SELECT e.u AS id,
         |         150000 + CAST(floor(CAST(sum(c) * 17 AS DOUBLE) / 20) AS BIGINT) AS pr
         |       FROM edges e JOIN c1 ON e.v = c1.v GROUP BY 1),
         |c2 AS (SELECT p1.id AS v, CAST(floor(CAST(pr AS DOUBLE) / deg) AS BIGINT) AS c
         |       FROM p1 JOIN deg ON p1.id = deg.id),
         |p2 AS (SELECT e.u AS id,
         |         150000 + CAST(floor(CAST(sum(c) * 17 AS DOUBLE) / 20) AS BIGINT) AS pr
         |       FROM edges e JOIN c2 ON e.v = c2.v GROUP BY 1),
         |c3 AS (SELECT p2.id AS v, CAST(floor(CAST(pr AS DOUBLE) / deg) AS BIGINT) AS c
         |       FROM p2 JOIN deg ON p2.id = deg.id),
         |p3 AS (SELECT e.u AS id,
         |         150000 + CAST(floor(CAST(sum(c) * 17 AS DOUBLE) / 20) AS BIGINT) AS pr
         |       FROM edges e JOIN c3 ON e.v = c3.v GROUP BY 1)
         |SELECT id, pr FROM p3""".stripMargin,
    "d_repeated_spans" ->
      """WITH words AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
        |spans AS (
        |  SELECT id, CAST(concat('0x', substring(md5(array_to_string(ws[i+1:i+20], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT id, ws, unnest(range(greatest(len(ws) - 19, 0))) AS i FROM words))
        |SELECT h AS span_hash, count(DISTINCT id) AS n_docs, count(*) AS n_occ,
        |  min(id) AS first_doc
        |FROM spans GROUP BY h HAVING count(DISTINCT id) >= 2""".stripMargin,
    "d_span_coverage" ->
      """WITH words AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
        |spans AS (
        |  SELECT id, len(ws) AS n_tokens, i AS start, i + 19 AS fin,
        |         CAST(concat('0x', substring(md5(array_to_string(ws[i+1:i+20], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT id, ws, unnest(range(greatest(len(ws) - 19, 0))) AS i FROM words)),
        |dup AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT id) >= 2),
        |iv AS (SELECT id, n_tokens, start, fin FROM spans JOIN dup USING (h)),
        |m AS (SELECT id, n_tokens, start, fin,
        |        max(fin) OVER (PARTITION BY id ORDER BY start
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM iv)
        |SELECT id AS doc_id,
        |  CAST(sum(greatest(0, fin - greatest(start - 1, coalesce(pm, -1)))) AS BIGINT) AS covered_tokens,
        |  CAST(min(n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(greatest(0, fin - greatest(start - 1, coalesce(pm, -1)))) AS DOUBLE)
        |    / min(n_tokens) AS coverage
        |FROM m GROUP BY id""".stripMargin,
    "t_ngram_freq" ->
      """WITH words AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
        |sh2 AS (
        |  SELECT DISTINCT id, ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM words CROSS JOIN range(400) t(i) WHERE i < len(ws) - 1)
        |SELECT s AS bigram, count(*) AS n_docs FROM sh2
        |GROUP BY 1 HAVING count(*) >= 50""".stripMargin,
    "t_bigram_commonness" ->
      """WITH words AS (
        |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM documents),
        |sh2 AS (
        |  SELECT DISTINCT id, ws[i+1] || ' ' || ws[i+2] AS s
        |  FROM words CROSS JOIN range(400) t(i) WHERE i < len(ws) - 1),
        |freq AS (SELECT s, count(*) AS df FROM sh2 GROUP BY 1)
        |SELECT id AS doc_id,
        |  CAST(sum(df) AS DOUBLE) / count(*) AS mean_df,
        |  count(*) AS n_bigrams
        |FROM sh2 JOIN freq USING (s)
        |GROUP BY 1""".stripMargin,
    "d_simhash" ->
      s"""WITH $shinglesCte,
         |m AS (
         |  SELECT id, CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT) AS hi,
         |         CAST(concat('0x', substring(md5(s), 9, 8)) AS BIGINT) AS lo
         |  FROM sh),
         |votes AS (
         |  SELECT id, p,
         |    sum(CASE WHEN ((CASE WHEN p < 32 THEN lo ELSE hi END) >> (p % 32)) & 1 = 1
         |        THEN 1 ELSE -1 END) AS sgn
         |  FROM m CROSS JOIN range(64) pp(p) GROUP BY 1, 2),
         |sim AS (
         |  SELECT id,
         |    sum(CASE WHEN p >= 32 AND sgn >= 0 THEN 1::BIGINT << CAST(p - 32 AS INT) ELSE 0 END) AS hi,
         |    sum(CASE WHEN p < 32 AND sgn >= 0 THEN 1::BIGINT << CAST(p AS INT) ELSE 0 END) AS lo
         |  FROM votes GROUP BY id)
         |SELECT a.id AS doc_a, b.id AS doc_b,
         |  CAST(bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS INT) AS hamming
         |FROM sim a JOIN sim b ON a.id < b.id
         |WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 8""".stripMargin
  )
}
