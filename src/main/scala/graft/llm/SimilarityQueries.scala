package graft.llm

import graft.Tables
import graft.model.QueryModule
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Verified similarity-search queries over `embeddings`. */
object SimilarityQueries extends QueryModule {

  /** Shared materialized quantized-vector view (and LSH buckets) — all
    * three similarity operators consume it. */
  private val qCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def quantizedOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    qCache.computeIfAbsent(dir, d =>
      Similarity.quantized(Tables.embeddings(s, d)).cache())

  /** Trained-model caches (train-once-serve-many, the FAISS shape): the
    * deterministic k-means chains collect their centroids driver-side
    * anyway, so the cached frames are LITERAL-backed — consumers never
    * re-execute training lineage. */
  private val coarseCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def coarseOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    coarseCache.computeIfAbsent(dir, d => {
      import s.implicits._
      Similarity.ivfKmeansCentroids(quantizedOf(s, d), 8, 2)
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2))).toSeq
        .toDF("cid", "cq", "cnrm2")
    })
  private val pqCbCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def pqCodebooksOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    pqCbCache.computeIfAbsent(dir, d =>
      Similarity.pqCodebooks(Similarity.pqSub(quantizedOf(s, d), 4, 16), 8, 2))

  /** Residual frame (vec_id, cell, q = x − coarse_centroid(x)) — shared
    * by residual-PQ training and encoding. */
  private def residOf(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val coarse = coarseOf(s, dir)
    Similarity.assignNearest(quantizedOf(s, dir), coarse)
      .join(broadcast(coarse), Seq("cid"))
      .select(col("vec_id"), col("cid").as("cell"),
        expr("zip_with(q, cq, (x, y) -> x - y)").as("q"))
  }
  private val residCbCache = new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.DataFrame]()
  private def residCodebooksOf(s: org.apache.spark.sql.SparkSession, dir: String) =
    residCbCache.computeIfAbsent(dir, d =>
      Similarity.pqCodebooks(Similarity.pqSub(residOf(s, d), 4, 16), 8, 2))

  /** Built incremental-index cache (dataset dir → persisted index
    * path): the on-disk index IS the trained model, so it follows the
    * train-once-serve-many pattern of the frames above — rebuilding
    * per invocation would re-pay training + three partitioned writes
    * per call and leak temp directories. Evict deletes the files. */
  private val idxCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def streamIndexOf(s: org.apache.spark.sql.SparkSession, dir: String): String =
    idxCache.computeIfAbsent(dir, d => {
      val q = quantizedOf(s, d)
      val idx = java.nio.file.Files.createTempDirectory("graft-sidx-").toString
      Seq((0L, 200L), (200L, 350L), (350L, Long.MaxValue)).foreach { case (lo, hi) =>
        graft.streaming.StreamIndex.processBatch(
          q.filter(col("vec_id") >= lo && col("vec_id") < hi), idx,
          k = graft.streaming.StreamIndex.K)
      }
      idx
    })
  /** Incremental-SemDeDup state cache: same 3-batch id-ordered build
    * as the incremental IVF (quantizer trained on the FIRST batch and
    * frozen), drops accumulate under <dir>/drops. */
  private val sddCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def semdedupStreamOf(s: org.apache.spark.sql.SparkSession, dir: String): String =
    sddCache.computeIfAbsent(dir, d => {
      val q = quantizedOf(s, d)
      val idx = java.nio.file.Files.createTempDirectory("graft-sdds-").toString
      Seq((0L, 200L), (200L, 350L), (350L, Long.MaxValue)).foreach { case (lo, hi) =>
        graft.streaming.StreamIndex.semdedupBatch(
          q.filter(col("vec_id") >= lo && col("vec_id") < hi), idx, minCos = 0.4,
          k = graft.streaming.StreamIndex.K)
      }
      idx
    })
  private def deleteIdx(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(path))
  }

  override def evictCaches(dir: String): Unit = {
    Seq(qCache, coarseCache, pqCbCache, residCbCache)
      .foreach(graft.model.FrameCache.evict(_, dir))
    Option(idxCache.remove(dir)).foreach(deleteIdx)
    Option(sddCache.remove(dir)).foreach(deleteIdx)
  }
  override def clearCaches(): Unit = {
    Seq(qCache, coarseCache, pqCbCache, residCbCache)
      .foreach(graft.model.FrameCache.clear)
    idxCache.values().forEach(deleteIdx(_))
    idxCache.clear()
    sddCache.values().forEach(deleteIdx(_))
    sddCache.clear()
  }

  private val quantSql =
    """q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1048576) AS BIGINT)) AS qv
      |  FROM embeddings),
      |qn AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nrm2 FROM q)""".stripMargin

  /** Shared oracle CTE chain: supplied-label IVF — per-label centroids,
    * top-2 probe, exact cosine within probed cells, scored as
    * `ivfscored(qid, vec_id, cos)`. Consumed by BOTH the s_ann_ivf
    * oracle and the recall harness so the index definition cannot
    * drift between them. */
  private val ivfScoredCte =
    """ql AS (SELECT qn.vec_id AS vec_id, qv, nrm2, label
      |       FROM qn JOIN embeddings e ON qn.vec_id = e.vec_id),
      |comps AS (
      |  SELECT label, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
      |  FROM ql CROSS JOIN range(64) ii(i)),
      |cent AS (
      |  SELECT label, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
      |  FROM comps GROUP BY 1, 2),
      |centv AS (SELECT label, list(cv ORDER BY i) AS cq FROM cent GROUP BY 1),
      |centn AS (SELECT label, cq, list_dot_product(cq, cq) AS cnrm2 FROM centv),
      |queries AS (SELECT vec_id AS qid, qv AS qa, nrm2 AS na FROM ql WHERE vec_id < 8),
      |probe AS (
      |  SELECT qid, qa, na, label,
      |    row_number() OVER (PARTITION BY qid ORDER BY
      |      CAST(list_dot_product(qa, cq) AS DOUBLE)
      |        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(cnrm2 AS DOUBLE))) DESC,
      |      label ASC) AS crank
      |  FROM queries CROSS JOIN centn),
      |probed AS (SELECT qid, qa, na, label FROM probe WHERE crank <= 2),
      |ivfscored AS (
      |  SELECT qid, b.vec_id AS vec_id,
      |    CAST(list_dot_product(qa, b.qv) AS DOUBLE)
      |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
      |  FROM probed JOIN ql b ON probed.label = b.label AND b.vec_id != qid)""".stripMargin

  override def queries = Map(
    // Brute-force cosine top-5 per query vector (vec_id < 8), the exact
    // baseline every ANN variant is judged against.
    "s_ann_bruteforce" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val queries = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"))
      val corpus = q.select(col("vec_id"), col("q").as("qb"), col("nrm2").as("nb"))
      val scored = queries.crossJoin(corpus)
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(Similarity.cosExpr))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("qid", "vec_id", "cos", "rank")
    }),

    // Recall@k evaluation: the acceptance harness every index change
    // runs before shipping — exact top-3 ground truth vs the IVF
    // index's top-3, per query. At scale the truth side is the one
    // expensive leg (brute force over the corpus), computed once per
    // evaluation batch and reused across candidate index configs; the
    // per-query join is evaluation-set-sized.
    "s_ann_recall_eval" -> ((s, dir) => {
      val truth = queries("s_ann_bruteforce")(s, dir)
        .filter(col("rank") <= 3).select(col("qid"), col("vec_id"))
      val approx = queries("s_ann_ivf")(s, dir)
        .select(col("qid"), col("vec_id")).withColumn("hit", lit(1L))
      truth.join(approx, Seq("qid", "vec_id"), "left")
        .groupBy("qid").agg(
          count(lit(1)).as("n_truth"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("qid"), col("n_truth"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth")).as("recall"))
    }),

    // LSH-bucketed ANN: candidates share an 8-bit hyperplane bucket;
    // exact cosine within bucket, top-3. The scale path — the bucket join
    // replaces the all-pairs cross join.
    "s_ann_lsh" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val b = Similarity.buckets(q, 8)
      val qb = q.join(b, "vec_id")
      val queries = qb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"), col("bucket"))
      val corpus = qb.select(col("vec_id"), col("q").as("qb"), col("nrm2").as("nb"), col("bucket"))
      val scored = queries.join(corpus, Seq("bucket"))
        .filter(col("qid") =!= col("vec_id"))
        .withColumn("cos", expr(Similarity.cosExpr))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("qid", "vec_id", "cos", "rank")
    }),

    // IVF-bucketed ANN: rank the (broadcast) per-label centroids by
    // cosine, probe the top-2 inverted lists, exact cosine within the
    // probed lists only — vectors outside the probe set are never
    // touched (the 100 TB path: centroid table is tiny, lists are
    // partition-pruned).
    "s_ann_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = quantizedOf(s, dir)
        .join(emb.select(col("vec_id"), col("label")), "vec_id")
      val cents = Similarity.ivfCentroids(q, "label")
      val queries = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"))
      val corpus = q.select(col("label"), col("vec_id"),
        col("q").as("qb"), col("nrm2").as("nb"))
      Similarity.scoreTopK(
        Similarity.probeCells(queries, cents, "label", nprobe = 2),
        corpus, "label", topK = 3)
    }),

    // IVF with a LEARNED coarse quantizer: deterministic k-means (k=8,
    // 2 iterations, exact integer distances) replaces the supplied
    // partition key — the full IVF shape: train centroids, assign the
    // corpus once (inverted lists), probe the top-2 lists per query.
    "s_ann_ivf_kmeans" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val cents = coarseOf(s, dir)
      val assigned = Similarity.assignNearest(q, cents)
      val queries = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"))
      val corpus = assigned.select(col("cid"), col("vec_id"),
        col("q").as("qb"), col("nrm2").as("nb"))
      Similarity.scoreTopK(
        Similarity.probeCells(queries, cents, "cid", nprobe = 2),
        corpus, "cid", topK = 3)
    }),

    // Incrementally-built IVF index (streaming/StreamIndex): the corpus
    // arrives in three vec_id-ordered batches; centroids train on the
    // FIRST batch and freeze, later batches broadcast-assign and append
    // to cid-partitioned lists, and the search reads ONLY the probed
    // cells' partitions. Frozen centroids make the incremental build
    // EQUAL to a batch build, which is exactly what this oracle checks:
    // the SQL trains k-means on the first batch, assigns the whole
    // corpus, and probes — the engine answers from the persisted
    // incremental index.
    "s_ann_ivf_stream" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val idx = streamIndexOf(s, dir)
      val queries = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"))
      graft.streaming.StreamIndex.search(s, idx, queries, nprobe = 2, topK = 3)
    }),

    // Incremental SemDeDup: the corpus arrives in three id-ordered
    // batches; each batch's docs drop against every EARLIER doc of
    // their (frozen-quantizer) cluster — state probed through the
    // partition-pruned touched-cell read only. Greedy arrival-order =
    // the batch rule under monotone ids, so the accumulated drop set
    // equals the one-shot batch answer the oracle computes with the
    // same first-batch-trained centroids.
    "s_semdedup_stream" -> ((s, dir) => {
      val idx = semdedupStreamOf(s, dir)
      graft.Tables.open(s, s"$idx/drops").distinct() // replayed appends collapse (X2)
    }),

    // Product-quantization ANN (ADC): 4 subspaces × 8 codes trained with
    // the deterministic integer k-means (2 rounds), corpus encoded as 4
    // small codes per vector, query distance = sum of per-subspace
    // lookup-table entries. THE 100 TB shape: raw vectors are read once
    // at encode time; at query time only the 4-byte/vector code table
    // and a broadcast 32-entry LUT per query are touched — approximate
    // distances never open an embedding. Exact integer arithmetic end
    // to end, so ranking is deterministic and hashable.
    "s_ann_pq" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val sub = Similarity.pqSub(q, 4, 16)
      val cents = pqCodebooksOf(s, dir)
      val codes = Similarity.pqAssign(sub, cents).select("vec_id", "m", "cid")
      val lut = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("m"), col("sv"), col("snrm2"))
        .join(broadcast(cents), Seq("m"))
        .withColumn("d2", col("snrm2") + col("cnrm2") - lit(2L) *
          expr("q_dot(sv, cq)"))
        .select("qid", "m", "cid", "d2")
      val adc = codes.join(broadcast(lut), Seq("m", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id").agg(sum("d2").as("adist2"))
      val w = Window.partitionBy(col("qid")).orderBy(col("adist2").asc, col("vec_id").asc)
      adc.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("qid", "vec_id", "adist2", "rank")
    }),

    // Two-stage retrieval (the production PQ serving shape measured in
    // SoakAnn): ADC over codes picks a top-20 candidate set, exact
    // cosine re-ranks it to top-5 — raw vectors are opened for 20
    // rows/query instead of the corpus. Final scores are EXACT, so the
    // approximation only moves which rows are considered, never their
    // reported similarity.
    "s_ann_pq_rerank" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val sub = Similarity.pqSub(q, 4, 16)
      val cents = pqCodebooksOf(s, dir)
      val codes = Similarity.pqAssign(sub, cents).select("vec_id", "m", "cid")
      val lut = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("m"), col("sv"), col("snrm2"))
        .join(broadcast(cents), Seq("m"))
        .withColumn("d2", col("snrm2") + col("cnrm2") - lit(2L) *
          expr("q_dot(sv, cq)"))
        .select("qid", "m", "cid", "d2")
      // window 20 is ORACLE-PINNED (the DuckDB SQL carries the same
      // constant); production sizing is Similarity.adaptiveRerankWindow
      // (α·points/cells — the rule the 1M clustered soak measured).
      Similarity.pqRerankTopK(codes, lut, q,
        q.filter(col("vec_id") < 8)
          .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na")),
        k = 5, rerankWindow = 20)
    }),

    // IVF-PQ (the FAISS IVFPQ shape, no residual encoding): a learned
    // coarse quantizer partitions the corpus into cells; within cells,
    // distances are approximated by PQ ADC over 4-byte codes. Query
    // cost = rank 8 broadcast centroids + scan the ~2/8 probed cells'
    // CODE rows with a broadcast 32-entry LUT — neither raw vectors nor
    // unprobed cells are ever touched after encode. One corpus-sized
    // equi-join on vec_id attaches cells to codes (bucketable/co-
    // partitionable at scale); everything downstream is broadcast.
    "s_ann_ivfpq" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val coarse = coarseOf(s, dir)
      val cells = Similarity.assignNearest(q, coarse)
        .select(col("vec_id"), col("cid").as("cell"))
      val sub = Similarity.pqSub(q, 4, 16)
      val cb = pqCodebooksOf(s, dir)
      val codes = Similarity.pqAssign(sub, cb).select("vec_id", "m", "cid")
      val queries = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"))
      val probe = queries.crossJoin(broadcast(coarse))
        .withColumn("ccos",
          expr("CAST(q_dot(qa, cq) AS DOUBLE)" +
            " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(cnrm2 AS DOUBLE)))"))
      val wc = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid").asc)
      val probed = probe.withColumn("crank", row_number().over(wc))
        .filter(col("crank") <= 2).select(col("qid"), col("cid").as("cell"))
      val lut = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("m"), col("sv"), col("snrm2"))
        .join(broadcast(cb), Seq("m"))
        .withColumn("d2", col("snrm2") + col("cnrm2") - lit(2L) *
          expr("q_dot(sv, cq)"))
        .select("qid", "m", "cid", "d2")
      codes.join(cells, Seq("vec_id"))
        .join(broadcast(probed), Seq("cell"))
        .filter(col("vec_id") =!= col("qid"))
        .join(broadcast(lut), Seq("qid", "m", "cid"))
        .groupBy("qid", "vec_id").agg(sum("d2").as("adist2"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adist2").asc, col("vec_id").asc)))
        .filter(col("rank") <= 5)
        .select("qid", "vec_id", "adist2", "rank")
    }),

    // IVF-PQ + exact rerank via the production operator
    // (Similarity.ivfpqRerankTopK) with its DEFAULT adaptive window —
    // no constant is passed: the operator sizes the rerank window as
    // adaptiveRerankWindow(points, cells) = max(20, ceil(2·n/8)), and
    // the ORACLE computes the identical formula from its own counts,
    // so the adaptive rule itself is oracle-gated at every sf.
    "s_ann_ivfpq_rerank" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val coarse = coarseOf(s, dir)
      val cells = Similarity.assignNearest(q, coarse)
        .select(col("vec_id"), col("cid").as("cell"))
      val sub = Similarity.pqSub(q, 4, 16)
      val cb = pqCodebooksOf(s, dir)
      val codes = Similarity.pqAssign(sub, cb).select("vec_id", "m", "cid")
      val queries = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"))
      val lut = sub.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("m"), col("sv"), col("snrm2"))
        .join(broadcast(cb), Seq("m"))
        .withColumn("d2", col("snrm2") + col("cnrm2") - lit(2L) *
          expr("q_dot(sv, cq)"))
        .select("qid", "m", "cid", "d2")
      Similarity.ivfpqRerankTopK(q, coarse, cells, codes, lut, queries,
        k = 5, nProbe = 2)
    }),

    // Residual IVF-PQ (the full FAISS IVFPQ design): PQ quantizes the
    // RESIDUAL x − c(x) after the coarse cell centroid, so code cells
    // are sized by within-cell variance — the soak measured bare
    // (non-residual) PQ recall pinned at the floor on clustered data
    // for ANY code count, while residual codes recover 4× at the same
    // byte budget. Query time: rank broadcast centroids, build a
    // PER-CELL residual LUT for the probed cells, ADC over code rows
    // of those cells only.
    "s_ann_ivfpq_resid" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
      val coarse = coarseOf(s, dir)
      val resid = residOf(s, dir)
      val rsub = Similarity.pqSub(resid, 4, 16)
      val rcb = residCodebooksOf(s, dir)
      val codes = Similarity.pqAssign(rsub, rcb)
        .join(resid.select("vec_id", "cell"), Seq("vec_id"))
        .select("vec_id", "cell", "m", "cid")
      val queries = q.filter(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("q").as("qa"), col("nrm2").as("na"))
      val probe = queries.crossJoin(broadcast(coarse))
        .withColumn("ccos",
          expr("CAST(q_dot(qa, cq) AS DOUBLE)" +
            " / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(cnrm2 AS DOUBLE)))"))
      val wc = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid").asc)
      val probed = probe.withColumn("crank", row_number().over(wc))
        .filter(col("crank") <= 2)
        .select(col("qid"), col("qa"), col("cid").as("cell"), col("cq"))
        .withColumn("rq", expr("zip_with(qa, cq, (x, y) -> x - y)"))
      val slices = (0 until 4).map(i =>
        struct(lit(i).as("m"), expr(s"slice(rq, ${i * 16 + 1}, 16)").as("sv")))
      val qsub = probed
        .select(col("qid"), col("cell"), explode(array(slices.toIndexedSeq: _*)).as("b"))
        .select(col("qid"), col("cell"), col("b.m").as("m"), col("b.sv").as("sv"))
        .withColumn("snrm2", expr("aggregate(sv, 0L, (acc, v) -> acc + v * v)"))
      val lut = qsub.join(broadcast(rcb), Seq("m"))
        .withColumn("d2", col("snrm2") + col("cnrm2") - lit(2L) *
          expr("q_dot(sv, cq)"))
        .select("qid", "cell", "m", "cid", "d2")
      codes.join(broadcast(lut), Seq("cell", "m", "cid"))
        .filter(col("vec_id") =!= col("qid"))
        .groupBy("qid", "vec_id").agg(sum("d2").as("adist2"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("adist2").asc, col("vec_id").asc)))
        .filter(col("rank") <= 5)
        .select("qid", "vec_id", "adist2", "rank")
    }),

    // Embedding-cosine near-dup sweep: same-label pairs within 2 bucket
    // bits (multi-probe hyperplane LSH) verified at cosine >= 0.4. The
    // blocking IS the operator's definition — at real scale a label can
    // hold 10^7 vectors and a within-label all-pairs join is quadratic;
    // here candidates come from a pigeonhole equi-join on bucket blocks
    // and only candidates pay the exact cosine.
    "s_embed_neardup" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
        .join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")), "vec_id")
      Similarity.neardupBlocked(q, "label", nPlanes = 8, probeDist = 2, minCos = 0.4)
    }),

    // SemDeDup (Abbas et al. 2023): the trained coarse k-means bounds
    // the comparison set, within-cluster pairs verify by exact
    // quantized cosine, and a doc drops iff an earlier cluster-mate
    // sits at cos >= 0.4 (this corpus's near-dup band, same threshold
    // as s_embed_neardup). Clusters past the maxCluster guard skip
    // pair generation — the cap is mirrored in the oracle. Reuses the
    // literal-backed trained centroids (train-once-serve-many), so
    // dedup is one cid equi-join + one aggregate: never all-pairs.
    "s_semdedup" -> ((s, dir) => {
      Similarity.semdedup(
        Similarity.assignNearest(quantizedOf(s, dir), coarseOf(s, dir)),
        minCos = 0.4)
    }),

    // Embedding outlier sweep (semantic curation): distance to the own-
    // label centroid, top-3 farthest per label — the "mislabeled or
    // junk" screen run before training. Distances are EXACT integer
    // squared-L2 (‖a−c‖² = ‖a‖² + ‖c‖² − 2·a·c over quantized vectors),
    // so ranking is deterministic; the centroid table broadcasts and the
    // corpus aggregates map-side — no vector ever shuffles.
    "s_embed_outliers" -> ((s, dir) => {
      val q = quantizedOf(s, dir)
        .join(Tables.embeddings(s, dir).select(col("vec_id"), col("label")), "vec_id")
      val cents = Similarity.ivfCentroids(q, "label")
      val scored = q.join(broadcast(cents), Seq("label"))
        .withColumn("dot",
          expr("q_dot(q, cq)"))
        .withColumn("dist2", col("nrm2") + col("cnrm2") - lit(2L) * col("dot"))
      val w = Window.partitionBy(col("label")).orderBy(col("dist2").desc, col("vec_id").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("label", "vec_id", "dist2", "rank")
    })
  )

  /** Shared IVF-PQ oracle chain through `adc(qid, vec_id, adist2)` —
    * consumed by BOTH the s_ann_ivfpq oracle and the rerank oracle so
    * the index definition cannot drift between them. */
  private lazy val ivfpqAdcChain: String = {
    // coarse k-means chain (identical to s_ann_ivf_kmeans)
    def cAssign(cents: String): String =
      s"""SELECT vec_id, qv, nrm2, cid FROM (
         |  SELECT qn.vec_id AS vec_id, qn.qv AS qv, qn.nrm2 AS nrm2, $cents.cid AS cid,
         |    row_number() OVER (PARTITION BY qn.vec_id ORDER BY
         |      qn.nrm2 + $cents.cnrm2 - 2 * list_dot_product(qn.qv, $cents.cq) ASC,
         |      $cents.cid ASC) AS rn
         |  FROM qn CROSS JOIN $cents) t WHERE rn = 1""".stripMargin
    def cUpdate(assigned: String, pfx: String, out: String): String =
      s"""${pfx}comp AS (
         |  SELECT cid, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
         |  FROM $assigned CROSS JOIN range(64) ii(i)),
         |${pfx}v AS (
         |  SELECT cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |  FROM ${pfx}comp GROUP BY 1, 2),
         |$out AS (
         |  SELECT cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
         |    SELECT cid, list(cv ORDER BY i) AS cq FROM ${pfx}v GROUP BY 1) t)""".stripMargin
    // product-quantization chain (identical to s_ann_pq)
    def pAssign(cents: String, out: String): String =
      s"""$out AS (
         |  SELECT vec_id, m, sv, snrm2, cid FROM (
         |    SELECT s.vec_id AS vec_id, s.m AS m, s.sv AS sv, s.snrm2 AS snrm2, c.cid AS cid,
         |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
         |        s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) ASC, c.cid ASC) AS rn
         |    FROM subn s JOIN $cents c ON s.m = c.m) t WHERE rn = 1)""".stripMargin
    def pUpdate(assigned: String, pfx: String, out: String): String =
      s"""${pfx}comp AS (
         |  SELECT m, cid, CAST(i AS INT) AS i, sv[CAST(i+1 AS INT)] AS c
         |  FROM $assigned CROSS JOIN range(16) ii(i)),
         |${pfx}v AS (
         |  SELECT m, cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |  FROM ${pfx}comp GROUP BY 1, 2, 3),
         |$out AS (
         |  SELECT m, cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
         |    SELECT m, cid, list(cv ORDER BY i) AS cq FROM ${pfx}v GROUP BY 1, 2) t)""".stripMargin
    s"""WITH $quantSql,
       |ci0 AS (
       |  SELECT CAST(vec_id AS INT) AS cid, qv AS cq, list_dot_product(qv, qv) AS cnrm2
       |  FROM qn WHERE vec_id < 8),
       |ca1 AS (${cAssign("ci0")}),
       |${cUpdate("ca1", "cu1", "ci1")},
       |ca2 AS (${cAssign("ci1")}),
       |${cUpdate("ca2", "cu2", "ci2")},
       |cells AS (SELECT vec_id, cid AS cell FROM (${cAssign("ci2")}) z),
       |sub AS (
       |  SELECT vec_id, CAST(m AS INT) AS m,
       |    list_slice(qv, CAST(m*16+1 AS INT), CAST(m*16+16 AS INT)) AS sv
       |  FROM qn CROSS JOIN range(4) mm(m)),
       |subn AS (SELECT vec_id, m, sv, list_dot_product(sv, sv) AS snrm2 FROM sub),
       |pi0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS cq, snrm2 AS cnrm2
       |        FROM subn WHERE vec_id < 8),
       |${pAssign("pi0", "pa1")},
       |${pUpdate("pa1", "pu1", "pi1")},
       |${pAssign("pi1", "pa2")},
       |${pUpdate("pa2", "pu2", "pi2")},
       |${pAssign("pi2", "codes")},
       |queries AS (SELECT vec_id AS qid, qv AS qa, nrm2 AS na FROM qn WHERE vec_id < 8),
       |probe AS (
       |  SELECT qid, cid AS cell,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      CAST(list_dot_product(qa, cq) AS DOUBLE)
       |        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(cnrm2 AS DOUBLE))) DESC,
       |      cid ASC) AS crank
       |  FROM queries CROSS JOIN ci2),
       |probed AS (SELECT qid, cell FROM probe WHERE crank <= 2),
       |lut AS (
       |  SELECT s.vec_id AS qid, c.m AS m, c.cid AS cid,
       |    s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) AS d2
       |  FROM subn s JOIN pi2 c ON s.m = c.m WHERE s.vec_id < 8),
       |adc AS (
       |  SELECT probed.qid AS qid, codes.vec_id AS vec_id, CAST(sum(d2) AS BIGINT) AS adist2
       |  FROM codes
       |  JOIN cells ON codes.vec_id = cells.vec_id
       |  JOIN probed ON cells.cell = probed.cell AND codes.vec_id != probed.qid
       |  JOIN lut ON lut.qid = probed.qid AND lut.m = codes.m AND lut.cid = codes.cid
       |  GROUP BY 1, 2)""".stripMargin
  }

  override def oracleSql = Map(
    "s_ann_bruteforce" ->
      s"""WITH $quantSql,
         |scored AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM qn a JOIN qn b ON a.vec_id < 8 AND b.vec_id != a.vec_id)
         |SELECT qid, vec_id, cos, rank FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin,
    "s_ann_recall_eval" ->
      s"""WITH $quantSql,
         |truth AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         |      row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |        CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |          / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) DESC,
         |        b.vec_id ASC) AS rank
         |    FROM qn a JOIN qn b ON a.vec_id < 8 AND b.vec_id != a.vec_id) t
         |  WHERE rank <= 3),
         |$ivfScoredCte,
         |ivfr AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS rank
         |    FROM ivfscored) t
         |  WHERE rank <= 3)
         |SELECT t.qid AS qid, CAST(count(*) AS BIGINT) AS n_truth,
         |  CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(sum(CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*) AS recall
         |FROM truth t LEFT JOIN ivfr i ON t.qid = i.qid AND t.vec_id = i.vec_id
         |GROUP BY 1""".stripMargin,
    "s_ann_lsh" ->
      s"""WITH $quantSql,
         |comps AS (
         |  SELECT vec_id, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
         |  FROM qn CROSS JOIN range(64) ii(i)),
         |planes AS (
         |  SELECT vec_id, p, sum(
         |    CASE WHEN strpos('01234567', substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) > 0
         |         THEN c ELSE -c END) AS proj
         |  FROM comps CROSS JOIN range(8) pp(p)
         |  GROUP BY 1, 2),
         |bkt AS (
         |  SELECT vec_id, sum(CASE WHEN proj >= 0 THEN 1::BIGINT ELSE 0::BIGINT END << p) AS bucket
         |  FROM planes GROUP BY 1),
         |qb AS (SELECT qn.vec_id AS vec_id, qv, nrm2, bucket FROM qn JOIN bkt ON qn.vec_id = bkt.vec_id),
         |scored AS (
         |  SELECT a.vec_id AS qid, b.vec_id AS vec_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM qb a JOIN qb b ON a.bucket = b.bucket AND a.vec_id < 8 AND b.vec_id != a.vec_id)
         |SELECT qid, vec_id, cos, rank FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin,
    "s_ann_ivf" ->
      s"""WITH $quantSql,
         |$ivfScoredCte
         |SELECT qid, vec_id, cos, rank FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM ivfscored) t
         |WHERE rank <= 3""".stripMargin,
    "s_ann_ivf_kmeans" -> {
      def assignSql(cents: String): String =
        s"""SELECT vec_id, qv, nrm2, cid FROM (
           |  SELECT qn.vec_id AS vec_id, qn.qv AS qv, qn.nrm2 AS nrm2, $cents.cid AS cid,
           |    row_number() OVER (PARTITION BY qn.vec_id ORDER BY
           |      qn.nrm2 + $cents.cnrm2 - 2 * list_dot_product(qn.qv, $cents.cq) ASC,
           |      $cents.cid ASC) AS rn
           |  FROM qn CROSS JOIN $cents) t WHERE rn = 1""".stripMargin
      def updateSql(assigned: String, comp: String, cv: String, out: String): String =
        s"""$comp AS (
           |  SELECT cid, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(64) ii(i)),
           |$cv AS (
           |  SELECT cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM $comp GROUP BY 1, 2),
           |$out AS (
           |  SELECT cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT cid, list(cv ORDER BY i) AS cq FROM $cv GROUP BY 1) t)""".stripMargin
      s"""WITH $quantSql,
         |i0 AS (
         |  SELECT CAST(vec_id AS INT) AS cid, qv AS cq, list_dot_product(qv, qv) AS cnrm2
         |  FROM qn WHERE vec_id < 8),
         |a1 AS (${assignSql("i0")}),
         |${updateSql("a1", "c1comp", "c1v", "i1")},
         |a2 AS (${assignSql("i1")}),
         |${updateSql("a2", "c2comp", "c2v", "i2")},
         |assign AS (${assignSql("i2")}),
         |queries AS (SELECT vec_id AS qid, qv AS qa, nrm2 AS na FROM qn WHERE vec_id < 8),
         |probe AS (
         |  SELECT qid, qa, na, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      CAST(list_dot_product(qa, cq) AS DOUBLE)
         |        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(cnrm2 AS DOUBLE))) DESC,
         |      cid ASC) AS crank
         |  FROM queries CROSS JOIN i2),
         |probed AS (SELECT qid, qa, na, cid FROM probe WHERE crank <= 2),
         |scored AS (
         |  SELECT qid, b.vec_id AS vec_id,
         |    CAST(list_dot_product(qa, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM probed JOIN assign b ON probed.cid = b.cid AND b.vec_id != qid)
         |SELECT qid, vec_id, cos, rank FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin
    },
    // Incremental SemDeDup's endstate contract in SQL: k-means trains
    // on the FIRST batch only (vec_id < 200, matching the frozen
    // quantizer), the whole corpus is assigned with those centroids,
    // and the drop rule is the batch rule — which greedy arrival-order
    // processing must (and does) reproduce under monotone ids.
    "s_semdedup_stream" -> {
      def assignSql(src: String, cents: String): String =
        s"""SELECT vec_id, qv, nrm2, cid FROM (
           |  SELECT $src.vec_id AS vec_id, $src.qv AS qv, $src.nrm2 AS nrm2, $cents.cid AS cid,
           |    row_number() OVER (PARTITION BY $src.vec_id ORDER BY
           |      $src.nrm2 + $cents.cnrm2 - 2 * list_dot_product($src.qv, $cents.cq) ASC,
           |      $cents.cid ASC) AS rn
           |  FROM $src CROSS JOIN $cents) t WHERE rn = 1""".stripMargin
      def updateSql(assigned: String, comp: String, cv: String, out: String): String =
        s"""$comp AS (
           |  SELECT cid, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(64) ii(i)),
           |$cv AS (
           |  SELECT cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM $comp GROUP BY 1, 2),
           |$out AS (
           |  SELECT cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT cid, list(cv ORDER BY i) AS cq FROM $cv GROUP BY 1) t)""".stripMargin
      s"""WITH $quantSql,
         |tr AS (SELECT * FROM qn WHERE vec_id < 200),
         |i0 AS (
         |  SELECT CAST(vec_id AS INT) AS cid, qv AS cq, list_dot_product(qv, qv) AS cnrm2
         |  FROM qn WHERE vec_id < 8),
         |a1 AS (${assignSql("tr", "i0")}),
         |${updateSql("a1", "c1comp", "c1v", "i1")},
         |a2 AS (${assignSql("tr", "i1")}),
         |${updateSql("a2", "c2comp", "c2v", "i2")},
         |assign AS (${assignSql("qn", "i2")}),
         |ok AS (SELECT cid FROM assign GROUP BY cid HAVING count(*) <= 4096),
         |pairs AS (
         |  SELECT a.cid AS cid, a.vec_id AS doc_a, b.vec_id AS doc_b,
         |    CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM assign a JOIN ok USING (cid)
         |  JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT cid, doc_b AS vec_id, min(doc_a) AS dup_of, max(cos) AS max_cos
         |FROM pairs WHERE cos >= 0.4 GROUP BY 1, 2""".stripMargin
    },

    // SemDeDup: the same trained-k-means chain, then within-cluster
    // pairwise cosine with the 4096 cluster-size cap mirrored (HAVING
    // <= 4096 — vacuous at this SF, load-bearing at scale) and the
    // keep-min-id drop rule.
    "s_semdedup" -> {
      def assignSql(cents: String): String =
        s"""SELECT vec_id, qv, nrm2, cid FROM (
           |  SELECT qn.vec_id AS vec_id, qn.qv AS qv, qn.nrm2 AS nrm2, $cents.cid AS cid,
           |    row_number() OVER (PARTITION BY qn.vec_id ORDER BY
           |      qn.nrm2 + $cents.cnrm2 - 2 * list_dot_product(qn.qv, $cents.cq) ASC,
           |      $cents.cid ASC) AS rn
           |  FROM qn CROSS JOIN $cents) t WHERE rn = 1""".stripMargin
      def updateSql(assigned: String, comp: String, cv: String, out: String): String =
        s"""$comp AS (
           |  SELECT cid, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(64) ii(i)),
           |$cv AS (
           |  SELECT cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM $comp GROUP BY 1, 2),
           |$out AS (
           |  SELECT cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT cid, list(cv ORDER BY i) AS cq FROM $cv GROUP BY 1) t)""".stripMargin
      s"""WITH $quantSql,
         |i0 AS (
         |  SELECT CAST(vec_id AS INT) AS cid, qv AS cq, list_dot_product(qv, qv) AS cnrm2
         |  FROM qn WHERE vec_id < 8),
         |a1 AS (${assignSql("i0")}),
         |${updateSql("a1", "c1comp", "c1v", "i1")},
         |a2 AS (${assignSql("i1")}),
         |${updateSql("a2", "c2comp", "c2v", "i2")},
         |assign AS (${assignSql("i2")}),
         |ok AS (SELECT cid FROM assign GROUP BY cid HAVING count(*) <= 4096),
         |pairs AS (
         |  SELECT a.cid AS cid, a.vec_id AS doc_a, b.vec_id AS doc_b,
         |    CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM assign a JOIN ok USING (cid)
         |  JOIN assign b ON a.cid = b.cid AND a.vec_id < b.vec_id)
         |SELECT cid, doc_b AS vec_id, min(doc_a) AS dup_of, max(cos) AS max_cos
         |FROM pairs WHERE cos >= 0.4 GROUP BY 1, 2""".stripMargin
    },

    // The incremental index's frozen-quantizer contract in SQL: k-means
    // trains on the FIRST batch only (vec_id < 200), the whole corpus is
    // assigned with those centroids, probing is unchanged — the batch
    // answer the incremental build must (and does) reproduce.
    "s_ann_ivf_stream" -> {
      def assignSql(src: String, cents: String): String =
        s"""SELECT vec_id, qv, nrm2, cid FROM (
           |  SELECT $src.vec_id AS vec_id, $src.qv AS qv, $src.nrm2 AS nrm2, $cents.cid AS cid,
           |    row_number() OVER (PARTITION BY $src.vec_id ORDER BY
           |      $src.nrm2 + $cents.cnrm2 - 2 * list_dot_product($src.qv, $cents.cq) ASC,
           |      $cents.cid ASC) AS rn
           |  FROM $src CROSS JOIN $cents) t WHERE rn = 1""".stripMargin
      def updateSql(assigned: String, comp: String, cv: String, out: String): String =
        s"""$comp AS (
           |  SELECT cid, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(64) ii(i)),
           |$cv AS (
           |  SELECT cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM $comp GROUP BY 1, 2),
           |$out AS (
           |  SELECT cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT cid, list(cv ORDER BY i) AS cq FROM $cv GROUP BY 1) t)""".stripMargin
      s"""WITH $quantSql,
         |tr AS (SELECT * FROM qn WHERE vec_id < 200),
         |i0 AS (
         |  SELECT CAST(vec_id AS INT) AS cid, qv AS cq, list_dot_product(qv, qv) AS cnrm2
         |  FROM qn WHERE vec_id < 8),
         |a1 AS (${assignSql("tr", "i0")}),
         |${updateSql("a1", "c1comp", "c1v", "i1")},
         |a2 AS (${assignSql("tr", "i1")}),
         |${updateSql("a2", "c2comp", "c2v", "i2")},
         |assign AS (${assignSql("qn", "i2")}),
         |queries AS (SELECT vec_id AS qid, qv AS qa, nrm2 AS na FROM qn WHERE vec_id < 8),
         |probe AS (
         |  SELECT qid, qa, na, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      CAST(list_dot_product(qa, cq) AS DOUBLE)
         |        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(cnrm2 AS DOUBLE))) DESC,
         |      cid ASC) AS crank
         |  FROM queries CROSS JOIN i2),
         |probed AS (SELECT qid, qa, na, cid FROM probe WHERE crank <= 2),
         |scored AS (
         |  SELECT qid, b.vec_id AS vec_id,
         |    CAST(list_dot_product(qa, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM probed JOIN assign b ON probed.cid = b.cid AND b.vec_id != qid)
         |SELECT qid, vec_id, cos, rank FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin
    },
    "s_ann_pq" -> {
      def assignSql(cents: String, out: String): String =
        s"""$out AS (
           |  SELECT vec_id, m, sv, snrm2, cid FROM (
           |    SELECT s.vec_id AS vec_id, s.m AS m, s.sv AS sv, s.snrm2 AS snrm2, c.cid AS cid,
           |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
           |        s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) ASC, c.cid ASC) AS rn
           |    FROM subn s JOIN $cents c ON s.m = c.m) t WHERE rn = 1)""".stripMargin
      def updateSql(assigned: String, pfx: String, out: String): String =
        s"""${pfx}comp AS (
           |  SELECT m, cid, CAST(i AS INT) AS i, sv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(16) ii(i)),
           |${pfx}v AS (
           |  SELECT m, cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM ${pfx}comp GROUP BY 1, 2, 3),
           |$out AS (
           |  SELECT m, cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT m, cid, list(cv ORDER BY i) AS cq FROM ${pfx}v GROUP BY 1, 2) t)""".stripMargin
      s"""WITH $quantSql,
         |sub AS (
         |  SELECT vec_id, CAST(m AS INT) AS m,
         |    list_slice(qv, CAST(m*16+1 AS INT), CAST(m*16+16 AS INT)) AS sv
         |  FROM qn CROSS JOIN range(4) mm(m)),
         |subn AS (SELECT vec_id, m, sv, list_dot_product(sv, sv) AS snrm2 FROM sub),
         |i0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS cq, snrm2 AS cnrm2
         |       FROM subn WHERE vec_id < 8),
         |${assignSql("i0", "a1")},
         |${updateSql("a1", "u1", "i1")},
         |${assignSql("i1", "a2")},
         |${updateSql("a2", "u2", "i2")},
         |${assignSql("i2", "codes")},
         |lut AS (
         |  SELECT s.vec_id AS qid, c.m AS m, c.cid AS cid,
         |    s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) AS d2
         |  FROM subn s JOIN i2 c ON s.m = c.m WHERE s.vec_id < 8),
         |adc AS (
         |  SELECT qid, codes.vec_id AS vec_id, CAST(sum(d2) AS BIGINT) AS adist2
         |  FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
         |  WHERE codes.vec_id != qid GROUP BY 1, 2)
         |SELECT qid, vec_id, adist2, rank FROM (
         |  SELECT qid, vec_id, adist2,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist2 ASC, vec_id ASC) AS INT) AS rank
         |  FROM adc) t
         |WHERE rank <= 5""".stripMargin
    },
    "s_ann_pq_rerank" -> {
      def assignSql(cents: String, out: String): String =
        s"""$out AS (
           |  SELECT vec_id, m, sv, snrm2, cid FROM (
           |    SELECT s.vec_id AS vec_id, s.m AS m, s.sv AS sv, s.snrm2 AS snrm2, c.cid AS cid,
           |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
           |        s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) ASC, c.cid ASC) AS rn
           |    FROM subn s JOIN $cents c ON s.m = c.m) t WHERE rn = 1)""".stripMargin
      def updateSql(assigned: String, pfx: String, out: String): String =
        s"""${pfx}comp AS (
           |  SELECT m, cid, CAST(i AS INT) AS i, sv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(16) ii(i)),
           |${pfx}v AS (
           |  SELECT m, cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM ${pfx}comp GROUP BY 1, 2, 3),
           |$out AS (
           |  SELECT m, cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT m, cid, list(cv ORDER BY i) AS cq FROM ${pfx}v GROUP BY 1, 2) t)""".stripMargin
      s"""WITH $quantSql,
         |sub AS (
         |  SELECT vec_id, CAST(m AS INT) AS m,
         |    list_slice(qv, CAST(m*16+1 AS INT), CAST(m*16+16 AS INT)) AS sv
         |  FROM qn CROSS JOIN range(4) mm(m)),
         |subn AS (SELECT vec_id, m, sv, list_dot_product(sv, sv) AS snrm2 FROM sub),
         |i0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS cq, snrm2 AS cnrm2
         |       FROM subn WHERE vec_id < 8),
         |${assignSql("i0", "a1")},
         |${updateSql("a1", "u1", "i1")},
         |${assignSql("i1", "a2")},
         |${updateSql("a2", "u2", "i2")},
         |${assignSql("i2", "codes")},
         |lut AS (
         |  SELECT s.vec_id AS qid, c.m AS m, c.cid AS cid,
         |    s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) AS d2
         |  FROM subn s JOIN i2 c ON s.m = c.m WHERE s.vec_id < 8),
         |adc AS (
         |  SELECT qid, codes.vec_id AS vec_id, CAST(sum(d2) AS BIGINT) AS adist2
         |  FROM codes JOIN lut ON codes.m = lut.m AND codes.cid = lut.cid
         |  WHERE codes.vec_id != qid GROUP BY 1, 2),
         |cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist2 ASC, vec_id ASC) AS crank
         |    FROM adc) t WHERE crank <= 20),
         |scored AS (
         |  SELECT cand.qid AS qid, cand.vec_id AS vec_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM cand
         |  JOIN qn a ON a.vec_id = cand.qid
         |  JOIN qn b ON b.vec_id = cand.vec_id)
         |SELECT qid, vec_id, cos, rank FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin
    },
    "s_ann_ivfpq" ->
      s"""$ivfpqAdcChain
         |SELECT qid, vec_id, adist2, rank FROM (
         |  SELECT qid, vec_id, adist2,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist2 ASC, vec_id ASC) AS INT) AS rank
         |  FROM adc) t
         |WHERE rank <= 5""".stripMargin,
    // IVF-PQ + exact rerank with the ADAPTIVE window: the oracle
    // computes w = greatest(20, ceil(2.0 * points / cells)) from its
    // OWN counts — the same formula as Similarity.adaptiveRerankWindow
    // — so the production operator's default sizing rule is itself
    // oracle-gated at every scale factor.
    "s_ann_ivfpq_rerank" ->
      s"""$ivfpqAdcChain,
         |wparam AS (
         |  SELECT greatest(20, CAST(ceil(2.0 * (SELECT count(*) FROM qn)
         |    / (SELECT count(*) FROM ci2)) AS INT)) AS w),
         |cand AS (
         |  SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY adist2 ASC, vec_id ASC) AS crank
         |    FROM adc) t WHERE crank <= (SELECT w FROM wparam)),
         |scored AS (
         |  SELECT cand.qid AS qid, cand.vec_id AS vec_id,
         |    CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |      / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |  FROM cand
         |  JOIN qn a ON a.vec_id = cand.qid
         |  JOIN qn b ON b.vec_id = cand.vec_id)
         |SELECT qid, vec_id, cos, rank FROM (
         |  SELECT qid, vec_id, cos,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 5""".stripMargin,
    "s_ann_ivfpq_resid" -> {
      def cAssign(cents: String): String =
        s"""SELECT vec_id, qv, nrm2, cid FROM (
           |  SELECT qn.vec_id AS vec_id, qn.qv AS qv, qn.nrm2 AS nrm2, $cents.cid AS cid,
           |    row_number() OVER (PARTITION BY qn.vec_id ORDER BY
           |      qn.nrm2 + $cents.cnrm2 - 2 * list_dot_product(qn.qv, $cents.cq) ASC,
           |      $cents.cid ASC) AS rn
           |  FROM qn CROSS JOIN $cents) t WHERE rn = 1""".stripMargin
      def cUpdate(assigned: String, pfx: String, out: String): String =
        s"""${pfx}comp AS (
           |  SELECT cid, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(64) ii(i)),
           |${pfx}v AS (
           |  SELECT cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM ${pfx}comp GROUP BY 1, 2),
           |$out AS (
           |  SELECT cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT cid, list(cv ORDER BY i) AS cq FROM ${pfx}v GROUP BY 1) t)""".stripMargin
      def pAssign(cents: String, out: String): String =
        s"""$out AS (
           |  SELECT vec_id, m, sv, snrm2, cid FROM (
           |    SELECT s.vec_id AS vec_id, s.m AS m, s.sv AS sv, s.snrm2 AS snrm2, c.cid AS cid,
           |      row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
           |        s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) ASC, c.cid ASC) AS rn
           |    FROM subn s JOIN $cents c ON s.m = c.m) t WHERE rn = 1)""".stripMargin
      def pUpdate(assigned: String, pfx: String, out: String): String =
        s"""${pfx}comp AS (
           |  SELECT m, cid, CAST(i AS INT) AS i, sv[CAST(i+1 AS INT)] AS c
           |  FROM $assigned CROSS JOIN range(16) ii(i)),
           |${pfx}v AS (
           |  SELECT m, cid, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
           |  FROM ${pfx}comp GROUP BY 1, 2, 3),
           |$out AS (
           |  SELECT m, cid, cq, list_dot_product(cq, cq) AS cnrm2 FROM (
           |    SELECT m, cid, list(cv ORDER BY i) AS cq FROM ${pfx}v GROUP BY 1, 2) t)""".stripMargin
      s"""WITH $quantSql,
         |ci0 AS (
         |  SELECT CAST(vec_id AS INT) AS cid, qv AS cq, list_dot_product(qv, qv) AS cnrm2
         |  FROM qn WHERE vec_id < 8),
         |ca1 AS (${cAssign("ci0")}),
         |${cUpdate("ca1", "cu1", "ci1")},
         |ca2 AS (${cAssign("ci1")}),
         |${cUpdate("ca2", "cu2", "ci2")},
         |cells0 AS (${cAssign("ci2")}),
         |resid AS (
         |  SELECT cells0.vec_id AS vec_id, cells0.cid AS cell,
         |    list_transform(generate_series(1, 64),
         |      i -> cells0.qv[CAST(i AS INT)] - ci2.cq[CAST(i AS INT)]) AS rqv
         |  FROM cells0 JOIN ci2 ON cells0.cid = ci2.cid),
         |sub AS (
         |  SELECT vec_id, CAST(m AS INT) AS m,
         |    list_slice(rqv, CAST(m*16+1 AS INT), CAST(m*16+16 AS INT)) AS sv
         |  FROM resid CROSS JOIN range(4) mm(m)),
         |subn AS (SELECT vec_id, m, sv, list_dot_product(sv, sv) AS snrm2 FROM sub),
         |pi0 AS (SELECT m, CAST(vec_id AS INT) AS cid, sv AS cq, snrm2 AS cnrm2
         |        FROM subn WHERE vec_id < 8),
         |${pAssign("pi0", "pa1")},
         |${pUpdate("pa1", "pu1", "pi1")},
         |${pAssign("pi1", "pa2")},
         |${pUpdate("pa2", "pu2", "pi2")},
         |${pAssign("pi2", "codes0")},
         |codes AS (
         |  SELECT codes0.vec_id AS vec_id, resid.cell AS cell, codes0.m AS m, codes0.cid AS cid
         |  FROM codes0 JOIN resid ON codes0.vec_id = resid.vec_id),
         |queries AS (SELECT vec_id AS qid, qv AS qa, nrm2 AS na FROM qn WHERE vec_id < 8),
         |probe AS (
         |  SELECT qid, qa, cid AS cell,
         |    row_number() OVER (PARTITION BY qid ORDER BY
         |      CAST(list_dot_product(qa, cq) AS DOUBLE)
         |        / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(cnrm2 AS DOUBLE))) DESC,
         |      cid ASC) AS crank
         |  FROM queries CROSS JOIN ci2),
         |probed AS (
         |  SELECT qid, probe.cell AS cell,
         |    list_transform(generate_series(1, 64),
         |      i -> qa[CAST(i AS INT)] - ci2.cq[CAST(i AS INT)]) AS rq
         |  FROM probe JOIN ci2 ON probe.cell = ci2.cid WHERE crank <= 2),
         |qsub AS (
         |  SELECT qid, cell, CAST(m AS INT) AS m,
         |    list_slice(rq, CAST(m*16+1 AS INT), CAST(m*16+16 AS INT)) AS sv
         |  FROM probed CROSS JOIN range(4) mm(m)),
         |qsubn AS (SELECT qid, cell, m, sv, list_dot_product(sv, sv) AS snrm2 FROM qsub),
         |lut AS (
         |  SELECT qid, cell, c.m AS m, c.cid AS cid,
         |    s.snrm2 + c.cnrm2 - 2 * list_dot_product(s.sv, c.cq) AS d2
         |  FROM qsubn s JOIN pi2 c ON s.m = c.m),
         |adc AS (
         |  SELECT lut.qid AS qid, codes.vec_id AS vec_id, CAST(sum(d2) AS BIGINT) AS adist2
         |  FROM codes
         |  JOIN lut ON codes.cell = lut.cell AND codes.m = lut.m AND codes.cid = lut.cid
         |  WHERE codes.vec_id != lut.qid
         |  GROUP BY 1, 2)
         |SELECT qid, vec_id, adist2, rank FROM (
         |  SELECT qid, vec_id, adist2,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY adist2 ASC, vec_id ASC) AS INT) AS rank
         |  FROM adc) t
         |WHERE rank <= 5""".stripMargin
    },
    "s_embed_outliers" ->
      s"""WITH $quantSql,
         |ql AS (SELECT qn.vec_id AS vec_id, qv, nrm2, label
         |       FROM qn JOIN embeddings e ON qn.vec_id = e.vec_id),
         |comps AS (
         |  SELECT label, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
         |  FROM ql CROSS JOIN range(64) ii(i)),
         |cent AS (
         |  SELECT label, i, CAST(floor(CAST(sum(c) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |  FROM comps GROUP BY 1, 2),
         |centv AS (SELECT label, list(cv ORDER BY i) AS cq FROM cent GROUP BY 1),
         |centn AS (SELECT label, cq, list_dot_product(cq, cq) AS cnrm2 FROM centv),
         |scored AS (
         |  SELECT ql.label AS label, vec_id,
         |    CAST(nrm2 + cnrm2 - 2 * list_dot_product(qv, cq) AS BIGINT) AS dist2
         |  FROM ql JOIN centn ON ql.label = centn.label)
         |SELECT label, vec_id, dist2, rank FROM (
         |  SELECT label, vec_id, dist2,
         |    CAST(row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id ASC) AS INT) AS rank
         |  FROM scored) t
         |WHERE rank <= 3""".stripMargin,
    "s_embed_neardup" ->
      s"""WITH $quantSql,
         |ql AS (SELECT qn.vec_id AS vec_id, qv, nrm2, label
         |       FROM qn JOIN embeddings e ON qn.vec_id = e.vec_id),
         |comps AS (
         |  SELECT vec_id, CAST(i AS INT) AS i, qv[CAST(i+1 AS INT)] AS c
         |  FROM qn CROSS JOIN range(64) ii(i)),
         |planes AS (
         |  SELECT vec_id, p, sum(
         |    CASE WHEN strpos('01234567', substring(md5(CAST(p AS VARCHAR) || '_' || CAST(i AS VARCHAR)), 1, 1)) > 0
         |         THEN c ELSE -c END) AS proj
         |  FROM comps CROSS JOIN range(8) pp(p)
         |  GROUP BY 1, 2),
         |bkt AS (
         |  SELECT vec_id, sum(CASE WHEN proj >= 0 THEN 1::BIGINT ELSE 0::BIGINT END << p) AS bucket
         |  FROM planes GROUP BY 1),
         |qlb AS (SELECT ql.vec_id AS vec_id, qv, nrm2, label, bucket
         |        FROM ql JOIN bkt ON ql.vec_id = bkt.vec_id)
         |SELECT a.label AS label, a.vec_id AS doc_a, b.vec_id AS doc_b,
         |  CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |    / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) AS cos
         |FROM qlb a JOIN qlb b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE bit_count(xor(a.bucket, b.bucket)) <= 2
         |  AND CAST(list_dot_product(a.qv, b.qv) AS DOUBLE)
         |    / (sqrt(CAST(a.nrm2 AS DOUBLE)) * sqrt(CAST(b.nrm2 AS DOUBLE))) >= 0.4""".stripMargin
  )
}
