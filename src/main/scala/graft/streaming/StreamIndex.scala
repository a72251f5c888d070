package graft.streaming

import graft.llm.Similarity
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incrementally-maintained IVF embedding index — the similarity-search
  * twin of [[StreamCuration]]: documents (with embeddings) arrive in
  * batches, the index absorbs each batch as it lands, and searches hit
  * the accumulated index at any point.
  *
  * The layout is the train-once-serve-many FAISS shape on open storage:
  *
  *   - `centroids/` — the coarse quantizer, trained by deterministic
  *     k-means ([[Similarity.ivfKmeansCentroids]]) on the FIRST batch
  *     and then FROZEN. Frozen centroids are what make the incremental
  *     index EQUAL to a batch build: assignment is a pure per-row
  *     function of (vector, centroids), so arrival order cannot change
  *     any cell's membership. (Production practice is the same —
  *     re-training the quantizer is an offline rebuild, not an
  *     incremental step; drift shows up as recall decay, not wrong
  *     results, since probed cells are still searched exactly.)
  *   - `lists/` — the inverted lists: `(vec_id, q, nrm2)` parquet
  *     PARTITIONED BY the assigned cell `cid`. Appending a batch is a
  *     broadcast-assign (k centroid rows to every executor; the batch
  *     never shuffles) plus an append into the matching cell
  *     directories.
  *
  * Search ranks cells per query against the tiny centroid table,
  * collects the union of probed cell ids (config-scale: queries ×
  * nprobe ints), and reads `lists/` with a `cid IN (...)` filter —
  * PARTITION PRUNING, so a 10⁹-vector index reads only the probed
  * cells' files, never the corpus ([[StreamIndexSpec]] asserts the
  * pruned scan). Everything downstream is the already-gated IVF search
  * plan (exact integer dot products, deterministic tie-breaks).
  *
  * Idempotence (X2): list appends are keyed rows; loads `distinct()`
  * before scoring, so a replayed batch perturbs nothing. The one
  * non-append write — the first batch's centroid table — goes through
  * overwrite, so a replayed FIRST batch rewrites the identical
  * deterministic centroids.
  *
  * Reference intent: the event-driven derivation loop
  * (georiva/src/georiva/processing/invocation.py:25-105) applied to
  * the ANN index the LLM-pipeline queries serve.
  */
object StreamIndex {

  /** Fixed coarse-quantizer shape for the ORACLE-GATED queries (the
    * DuckDB twin replays k-means with this literal k — s_ann_ivf_stream
    * / s_semdedup_stream pass it explicitly). Production callers leave
    * `k = Auto` and get [[Similarity.cellCount]] (⌈√n⌉ of the training
    * batch, the SemDeDup-paper 10⁴–10⁵-cells band at web scale) so the
    * per-batch pruned state read tracks cell occupancy, not the corpus. */
  val K = 8
  val Iters = 2

  /** Sentinel: derive k from the training batch via Similarity.cellCount. */
  val Auto = 0

  private def fsOf(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Absorb one batch of quantized vectors `(vec_id, q, nrm2)` into the
    * index at `dir`: train-and-freeze centroids if this is the first
    * batch, then broadcast-assign and append to the cell partitions.
    * `k`/`iters` only matter on the training (first) call — afterwards
    * the persisted quantizer governs. */
  def processBatch(batch: DataFrame, dir: String,
                   k: Int = Auto, iters: Int = Iters): Unit = {
    val s = batch.sparkSession
    import s.implicits._
    val centPath = new Path(s"$dir/centroids")
    val fs = fsOf(s, centPath)
    val cents =
      if (fs.exists(centPath)) graft.Tables.open(s, centPath.toString)
      else {
        val kEff = if (k > 0) k else Similarity.cellCount(batch.count())
        // literal-back the trained centroids (config-scale collect, the
        // coarseOf pattern) so neither the write nor every later
        // assignment re-executes the k-means lineage
        val trained = Similarity.ivfKmeansCentroids(batch, kEff, iters)
          .collect().map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2)))
          .toSeq.toDF("cid", "cq", "cnrm2")
        trained.write.mode("overwrite").parquet(centPath.toString)
        trained
      }
    Similarity.assignNearest(batch, cents)
      .write.mode("append").partitionBy("cid").parquet(s"$dir/lists")
  }

  /** Incremental SemDeDup over the same index layout — the semantic-
    * dedup twin of [[processBatch]]: per batch, a document DROPS iff
    * an EARLIER document (persisted state, or a smaller id in this
    * batch) of its cluster sits at cosine ≥ `minCos`. With monotone
    * arrival ids this greedy rule IS the batch rule (∃ a < b
    * in-cluster above τ): the predicate is a pure per-pair function of
    * frozen-quantizer assignments, so batch ≡ incremental for any
    * id-ordered split — no retroactive cluster merges to chase (the
    * contrast with CC canonicalization that makes SemDeDup the
    * maintainable semantics online).
    *
    * State stays the FULL arrived corpus (drops are REPORTED, not
    * removed): the comparison set is "every earlier doc", so a dropped
    * doc still suppresses its own later duplicates, exactly like the
    * batch form. The batch-vs-state comparison reads ONLY the batch's
    * touched cells via partition pruning — per-batch cost tracks the
    * batch, not the corpus. The `maxCluster` flood guard evaluates on
    * the combined state ∪ batch population of each touched cluster
    * (prefix-exact, same corpus-wide-cap caveat as StreamCuration's
    * combined-index cap). Drops append to `dir/drops`; a replayed
    * batch re-derives identical rows, collapsing under the reader's
    * `distinct()` (X2). */
  def semdedupBatch(batch: DataFrame, dir: String, minCos: Double,
                    maxCluster: Int = 4096,
                    k: Int = Auto, iters: Int = Iters): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val centPath = new Path(s"$dir/centroids")
    val fs = fsOf(s, centPath)
    val cents =
      if (fs.exists(centPath)) graft.Tables.open(s, centPath.toString)
      else {
        val kEff = if (k > 0) k else Similarity.cellCount(batch.count())
        val trained = Similarity.ivfKmeansCentroids(batch, kEff, iters)
          .collect().map(r => (r.getInt(0), r.getSeq[Long](1), r.getLong(2)))
          .toSeq.toDF("cid", "cq", "cnrm2")
        trained.write.mode("overwrite").parquet(centPath.toString)
        trained
      }
    val assigned = Similarity.assignNearest(batch, cents).localCheckpoint()
    val touched = assigned.select("cid").distinct()
      .collect().map(_.getInt(0)).sorted // config-scale: ≤ k cell ids
    val listsPath = new Path(s"$dir/lists")
    val state =
      if (fsOf(s, listsPath).exists(listsPath))
        graft.Tables.open(s, listsPath.toString)
          // partition-pruned to the touched cells (string keys by
          // session contract — prune on strings, cast after)
          .filter(col("cid").isin(touched.map(_.toString): _*))
          .withColumn("cid", col("cid").cast("int"))
          .distinct() // replayed appends collapse (X2)
          .select(col("cid"), col("vec_id"), col("q"), col("nrm2"))
      else assigned.limit(0).select("cid", "vec_id", "q", "nrm2")
    if (sys.env.contains("GRAFT_STAGE_TIMING"))
      println(s"[sdd] touched=${touched.length} cells, pruned state read=${state.count()} rows")
    val combined = state.unionByName(assigned.select("cid", "vec_id", "q", "nrm2"))
    val hot = combined.groupBy("cid").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxCluster).select("cid")
    val aSide = combined.join(hot, Seq("cid"), "left_anti")
      .select(col("cid"), col("vec_id").as("doc_a"),
        col("q").as("qa"), col("nrm2").as("na"))
    val bSide = assigned.join(hot, Seq("cid"), "left_anti")
      .select(col("cid"), col("vec_id").as("doc_b"),
        col("q").as("qb"), col("nrm2").as("nb"))
    val drops = aSide.join(bSide, Seq("cid")).filter(col("doc_a") < col("doc_b"))
      .withColumn("cos", expr(Similarity.cosExpr))
      .filter(col("cos") >= minCos)
      .groupBy(col("cid"), col("doc_b").as("vec_id"))
      .agg(min("doc_a").as("dup_of"), max("cos").as("max_cos"))
      .localCheckpoint()
    drops.write.mode("append").parquet(s"$dir/drops")
    assigned.write.mode("append").partitionBy("cid").parquet(s"$dir/lists")
    drops
  }

  /** Top-k cosine search against the accumulated index. `queries` is
    * `(qid, qa, na)`; returns `(qid, vec_id, cos, rank)` — the same
    * contract (and the same probe → prune → score → window plan) as the
    * batch IVF queries, except the corpus scan is the PRUNED read of
    * the probed cells' partitions only. */
  def search(s: SparkSession, dir: String, queries: DataFrame,
             nprobe: Int, topK: Int): DataFrame = {
    import s.implicits._
    val cents = graft.Tables.open(s, s"$dir/centroids")
    // the probed frame is queries × nprobe rows — literal-back it (one
    // collect) so the probe lineage runs ONCE, serving both the
    // partition-filter cid set and the scoring join's build side
    val probed = Similarity.probeCells(queries, cents, "cid", nprobe)
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1), r.getLong(2), r.getInt(3)))
      .toSeq
    val probedDf = probed.toDF("qid", "qa", "na", "cid")
    // the partition-pruning hinge: the probed cell ids push into the
    // lists scan as a partition filter — only those cells' files are
    // ever opened. Sessions reads partition keys back as STRING (type
    // inference off by contract), so prune on the string directory
    // value and cast after.
    val cids = probed.map(_._4).distinct.sorted
    val lists = graft.Tables.open(s, s"$dir/lists")
      .filter(col("cid").isin(cids.map(_.toString): _*))
      .withColumn("cid", col("cid").cast("int"))
      .distinct() // replayed-batch appends collapse (X2)
      .select(col("cid"), col("vec_id"), col("q").as("qb"), col("nrm2").as("nb"))
    Similarity.scoreTopK(broadcast(probedDf), lists, "cid", topK)
  }
}
