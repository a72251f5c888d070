package graft.streaming

import graft.llm.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Incremental (event-driven) counterpart of the batch curation
  * pipeline `d_pipeline_e2e` — the reference's heart is incremental
  * derivation (processing/invocation.py:25-105): new documents arrive,
  * are curated against PERSISTED state, and only the novel survivors
  * flow downstream.
  *
  * Four stages, greedy ARRIVAL-ORDER semantics (doc_id order; batches
  * must arrive id-ordered, the event-time contract of any log-shaped
  * feed):
  *
  *  1. exact dedup — drop a doc whose normalized fingerprint was seen
  *     in ANY earlier doc;
  *  2. quality gate — stateless score ≥ 0.3;
  *  3. stale-span gate — drop a doc if > 50% of its tokens sit in
  *     20-token windows already emitted by an earlier stage-2 survivor
  *     (the streaming generalization of the batch boilerplate gate);
  *  4. fuzzy dedup — drop a doc with an LSH-verified Jaccard ≥ 0.5
  *     match to any earlier stage-3 survivor.
  *
  * The greedy rule "drop the newcomer iff it matches ANY earlier doc"
  * — rather than batch connected-components canonicalization — is
  * deliberately chosen because it is EXACTLY maintainable online: a CC
  * canonical can merge two old clusters when a bridging doc arrives,
  * which would demand retroactive un-keeps. Greedy keeps are final the
  * moment they are emitted, and the induction "every batch sees the
  * same earlier-doc state the single-batch run would see" makes
  * incremental ≡ batch for ANY id-ordered batch split
  * (`StreamCurationSpec` proves it; `d_incremental_endstate` oracles
  * the batch form against DuckDB). One bounded exception: the LSH
  * hot-bucket skew cap is prefix-scoped online (see the stage-4
  * comment), so exact equivalence is guaranteed whenever no band
  * bucket exceeds the cap corpus-wide; past it the incremental run
  * drops a (still exactly-verified) superset.
  *
  * State is four key-sets (fingerprints; span hashes of stage-2
  * survivors; LSH band keys of stage-3 survivors; the stage-3
  * survivors' text for candidate verification) plus a fingerprint
  * bloom sidecar. All updates are APPEND-only and all loads dedupe
  * (`distinct`), so a replayed batch (X2 idempotence) perturbs
  * nothing; [[compactState]] bounds file count. Every per-batch join
  * touches state ONLY through equi-keys (fp, span hash, band key),
  * and every state access keeps corpus-sized state SCAN-ONLY — no
  * state-side exchange, no state-side sort, per-batch shuffle cost
  * tracks the batch:
  * Every key-set persists in a table BUCKETED by its equi-join key
  * (fps by fp, spans by h, bands by (band, key), docs by doc_id), and
  * every per-batch access makes state the STREAMED side of a
  * shuffle-hash join whose build side is a batch-bounded probe:
  *   - fingerprints: bloom-sidecar pre-filter, then the tiny
  *     bloom-positive set probes fp state (confirm semi-join);
  *   - span hashes: the batch's distinct hashes probe span state;
  *   - band index: batch-touched (band, key)s probe band state, and
  *     both the hot-bucket count and the cross-batch candidate join
  *     ride that ONE batch-restricted pass;
  *   - docs: candidate ids (tiny) probe doc state before any reuse.
  * `StreamCurationPlanSpec` asserts the no-state-side-exchange shape
  * on the executed plans with state ≫ batch.
  */
object StreamCuration {

  /** Thresholds shared by the batch and incremental forms. */
  val QualityMin = 0.3
  val StaleCoverageMax = 0.5
  val JaccardMin = 0.5
  val SpanW = 20

  case class State(fps: DataFrame, spans: DataFrame,
                   bands: DataFrame, docs: DataFrame, wm: DataFrame,
                   fpBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None)

  def emptyState(s: SparkSession): State = {
    def empty(schema: StructType) =
      s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    State(
      fps = empty(StructType(Seq(StructField("fp", StringType)))),
      spans = empty(StructType(Seq(StructField("h", LongType)))),
      bands = empty(StructType(Seq(StructField("id", LongType),
        StructField("band", IntegerType), StructField("key", LongType)))),
      docs = empty(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType)))),
      wm = empty(StructType(Seq(StructField("max_id", LongType)))))
  }

  /** Eager stage materialization with optional wall-clock visibility:
    * set GRAFT_STAGE_TIMING=1 (Soak harnesses) to print per-boundary
    * seconds. Semantics identical to bare localCheckpoint(). */
  private def chk(label: String)(df: DataFrame): DataFrame =
    if (sys.env.contains("GRAFT_STAGE_TIMING")) {
      val t0 = System.nanoTime()
      val r = df.localCheckpoint()
      println(f"[chk] $label%-12s ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    } else df.localCheckpoint()

  /** Classify one id-ordered batch against the accumulated state.
    * Returns (kept(doc_id, source, n_tokens), state DELTAS to append).
    * With empty state this IS the batch pipeline (see
    * [[endstateBatch]]). `maxBucket` is the LSH hot-bucket cap applied
    * to the combined (state ∪ batch) band index — configurable so
    * tests can drive the capped cross-batch path at spec scale.
    *
    * `oneShot` (set only by [[endstateBatch]]) declares that state is
    * empty AND the returned deltas will never be consumed: the k2 and
    * spans boundaries then fold into the single k3 job — every
    * consumer of both frames sits inside it and meets through an
    * exchange (fp for k1, h for the span gate), so ReusedExchange
    * dedupes the recomputation and the fold removes two corpus-sized
    * text materializations plus two job constants (the same argument
    * that removed d_pipeline_e2e's d2 boundary). The streaming path
    * must NOT fold them: saveDeltas consumes spans/k2-derived deltas
    * in separate jobs, where an unchecked frame re-runs its subtree. */
  def processBatch(batchIn: DataFrame, st: State,
                   maxBucket: Int = 1024,
                   oneShot: Boolean = false): (DataFrame, State) = {
    val batch = batchIn.select(col("doc_id"), col("source"), col("text"))

    // Arrival-order contract, ENFORCED: every semantics above keys
    // "earlier" off doc_id, so a batch STRADDLING the state's
    // high-water mark would be silently curated against the wrong
    // "earlier" set — fail loudly; disorder needs an upstream
    // reorder, not a quietly different answer. A batch ENTIRELY at or
    // below the mark is allowed through: that is at-least-once
    // redelivery (a replayed batch finds all its fingerprints in
    // state and no-ops — the X2 idempotence path), and for genuinely
    // late new docs, curating against the fuller state errs only
    // toward dropping more near-dups, never wrongly keeping.
    // The watermark probe is a tiny aggregate; the batch range scan
    // runs ONLY when state has a mark, so the batch form (empty
    // state) pays nothing.
    // oneShot skips the probe job outright: endstateBatch always
    // passes emptyState, so the mark is known-absent.
    val hwmOpt: Option[Long] =
      if (oneShot) None
      else {
        val wmRow = st.wm.agg(max("max_id")).head()
        if (wmRow.isNullAt(0)) None else Some(wmRow.getLong(0))
      }
    val hasState = hwmOpt.isDefined
    hwmOpt.foreach { hwm =>
      val batchRange = batch.agg(min("doc_id"), max("doc_id")).head()
      if (!batchRange.isNullAt(0)) {
        val (bMin, bMax) = (batchRange.getLong(0), batchRange.getLong(1))
        require(bMin > hwm || bMax <= hwm,
          s"arrival-order violation: batch [$bMin, $bMax] straddles the state " +
            s"high-water mark $hwm — new ids mixed with already-processed ones " +
            "would be curated against the wrong 'earlier' set; reorder upstream")
      }
    }

    // -- stage 1: exact dedup. "Earlier" = any previously seen doc
    // (state) or a smaller-id doc in this batch — kept or not, since a
    // dropped duplicate's fingerprint equals its keeper's.
    //
    // A plain anti-join against corpus-sized fingerprint state builds
    // its hash on the STATE side — a full state shuffle every batch.
    // With the bloom sidecar (maintained by saveDeltas, whose invariant
    // is that an existing sidecar covers EVERY persisted fingerprint),
    // the batch pre-filters to bloom-positive fingerprints (true dups
    // + fpp noise), the state is SCANNED once with that tiny set as
    // the broadcast probe, and only bloom-confirmed fingerprints join
    // back — per-batch state cost drops from shuffle-everything to
    // scan-only. Bloom false positives are removed by the confirm
    // join; false negatives cannot occur under the sidecar invariant —
    // so the answer is exactly the plain anti-join's.
    val fp = batch.withColumn("fp", TextAnalysis.fingerprint(col("text")))
    val firstIn = fp.groupBy("fp").agg(min("doc_id").as("first_id"))
    val fpMin = fp.join(firstIn, "fp").filter(col("doc_id") === col("first_id"))
    // The one-shot form (r15, same-JVM rotated A/Bs, SCALE.md) takes
    // three restructures the streaming path cannot:
    //   - stage 1 joins back on doc_id (min per fp group), so the
    //     fingerprint regex+md5 runs ONE corpus pass instead of two;
    //   - stage 3 takes min(doc_id) over (partition by h) instead of
    //     groupBy+join-back: one span-digest pass and no join.
    //     Size-gated like Dedup.spanCoverage: the window sorts the
    //     exploded span frame, which melts down past ~1M docs, so
    //     above graft.span.windowShapeMaxBytes (batch-scan estimate,
    //     the trustworthy signal) the scalable groupBy+join runs;
    //   - stage 4 verifies candidates against per-doc DISTINCT hash
    //     ARRAYS (Dedup.pairJaccardArrays): the corpus-wide (id, h)
    //     distinct exchange and the per-id size aggregation disappear.
    // Known-empty state: every state-side subtree below is skipped —
    // an anti/semi join against an empty relation is a no-op by value
    // but still costs plan nodes, a broadcast of nothing, and (for
    // the checkpointed stateTouched) a whole scheduled job.
    val k1 = (if (!hasState) {
      if (oneShot)
        // min(doc_id) per fp group ≡ "doc_id == first_id of its own
        // fp" (each doc_id appears once), so the semi-join keeps
        // exactly fpMin's rows — but the probe side is the raw batch,
        // never re-evaluating the fingerprint
        batch.join(fp.groupBy("fp").agg(min("doc_id").as("doc_id"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
      else fpMin
    } else st.fpBloom match {
      case Some(bloom) =>
        // fpMin feeds both the pre-filter and the final anti-join —
        // materialize it or the fingerprint+groupBy subtree runs twice
        // (the doubled-reference pathology the later stages also guard)
        val fpm = chk("fpm")(fpMin)
        val bc = batch.sparkSession.sparkContext.broadcast(bloom)
        val might = udf((f: String) => bc.value.mightContainString(f))
        val maybeDup = fpm.filter(might(col("fp")))
        // shuffle-hash with the tiny bloom-positive set as build side:
        // fp state (bucketed by fp) streams through the probe with no
        // exchange — planner-guaranteed, not an AQE runtime rescue
        val confirmed = st.fps.join(
          maybeDup.select("fp").distinct().hint("shuffle_hash"),
          Seq("fp"), "left_semi")
        fpm.join(confirmed, Seq("fp"), "left_anti")
      case None =>
        fpMin.join(st.fps, Seq("fp"), "left_anti")
    }).select("doc_id", "source", "text")

    // Stream-only boundaries (see `oneShot` in the method scaladoc):
    // folded into the k3 job for the one-shot batch form.
    def streamChk(label: String)(df: DataFrame): DataFrame =
      if (oneShot) df else chk(label)(df)

    // -- stage 2: quality gate (stateless). Materialized once: spans,
    // the stage-3 filter, and the state delta all consume it.
    val k2 = streamChk("k2")(
      k1.filter(TextAnalysis.qualityScore(col("text")) >= QualityMin))

    // -- stage 3: stale-span gate. A span is stale for doc d iff an
    // EARLIER stage-2 survivor emitted the same hash (state spans, or a
    // smaller-id doc in this batch).
    val spans = streamChk("spans")(
      Dedup.spanWindows(k2.select(col("doc_id"), col("text")),
        "text", SpanW, keep = Seq("doc_id")))
    val staleInBatch =
      if (oneShot && batch.queryExecution.optimizedPlan.stats.sizeInBytes <=
          Dedup.windowShapeMaxBytes(batchIn.sparkSession)) {
        // window form: ONE span-digest pass, no join-back — min over
        // the h partition includes the row itself, so doc_id > min ⇔
        // doc_id > h_first exactly
        import org.apache.spark.sql.expressions.Window
        spans.withColumn("h_first",
            min(col("doc_id")).over(Window.partitionBy("h")))
          .filter(col("doc_id") > col("h_first"))
          .select("doc_id", "n_tokens", "pos")
      } else {
        val hFirst = spans.groupBy("h").agg(min("doc_id").as("h_first"))
        spans.join(hFirst, "h")
          .filter(col("doc_id") > col("h_first"))
          .select("doc_id", "n_tokens", "pos")
      }
    // State access is direction-flipped so corpus-sized span state is
    // STREAMED, never shuffled or sorted: the batch's distinct hashes
    // are the shuffle-hash BUILD side (batch-sized hash table per
    // partition), persisted state — bucketed by h, see saveDeltas — is
    // the probe side whose bucket layout already satisfies the join's
    // distribution, and only the intersection (≤ batch hashes) flows
    // on. The trailing distinct makes the intersection a set even when
    // a crash-replayed append left duplicate state rows; it reuses the
    // state-side bucketing, so it introduces no exchange either.
    // Empty state: staleInBatch alone, and duplicate-free by
    // construction (spanWindows emits one row per (doc_id, pos) and
    // the hFirst join never multiplies rows), so the union leg AND
    // the dedup shuffle both drop.
    val stale =
      if (!hasState) staleInBatch
      else {
        val batchH = spans.select("h").distinct()
        val stateHits = st.spans.join(batchH.hint("shuffle_hash"), Seq("h"), "left_semi")
          .distinct()
        val staleFromState = spans.join(stateHits, Seq("h"), "left_semi")
          .select("doc_id", "n_tokens", "pos")
        staleInBatch.unionByName(staleFromState).distinct()
      }
    val heavy = Dedup.mergedCoverage(stale.select(col("doc_id").as("id"),
        col("n_tokens"), col("pos").as("start"),
        (col("pos") + (SpanW - 1)).as("fin")))
      .filter(col("coverage") > StaleCoverageMax)
      .select("doc_id")
    val k3 = chk("k3")(k2.join(heavy, Seq("doc_id"), "left_anti"))

    // -- stage 4: fuzzy dedup. Candidates through shared LSH band keys
    // only — in-batch pairs via the capped generator, cross-batch pairs
    // via an equi-join against the state band index; both verified with
    // exact Jaccard before any drop. State membership = docs that
    // ENTERED this stage (stage-3 survivors), so no retroactive
    // un-keeps are ever needed.
    //
    // Shuffle discipline at scale: state is corpus-sized, the batch
    // is not. In the cross-batch joins below the batch side is the
    // small build side (AQE picks broadcast from runtime sizes — no
    // hard hint, same OOM reasoning as candidatePairs), so persisted
    // state is SCANNED once per batch, never shuffled; only matched
    // candidates flow further. The combined-index bucket count is the
    // one aggregation that reads state per batch — its map-side
    // partials reduce to one row per distinct (band, key).
    //
    // The hot-bucket skew cap is evaluated over the COMBINED band
    // index (state ∪ batch) so a template bucket that crosses the cap
    // as state accumulates stops generating pairs on BOTH the in-batch
    // and cross-batch sides — the same one-reducer blowup guard the
    // batch pipeline has. Cap semantics across splits are necessarily
    // prefix-scoped (an online run cannot know a bucket will cross the
    // cap in a future batch), so batch ≡ incremental is EXACT whenever
    // no bucket exceeds the cap corpus-wide — every healthy corpus;
    // past the cap the incremental run degrades gracefully: its extra
    // early pairs were exactly verified, so it only drops MORE true
    // near-dups than the batch run's whole-bucket exclusion.
    // Verification frame in the HASHED shape (r15; the move
    // d_pipeline_e2e made in r9): distinct (id, 60-bit md5-truncation)
    // longs from the one-pass native window hasher instead of distinct
    // (id, gram-string) rows — the distinct exchange and the two
    // pairJaccard probe joins move 8-byte keys, never ~50-byte gram
    // strings, and no gram string ever materializes (guide §2.3
    // shuffle keys, not payloads). Same-JVM rotated at sf0.1 (r15):
    // the candidate+verify chain drops 1.78 → 1.09 s med. The oracle
    // applies the IDENTICAL truncation on both the set sizes and the
    // intersection, so the cross-engine gate stays exact even on a
    // (within-doc) truncation collision — measured zero such
    // collisions at every test SF, so results are bit-identical to
    // the string form.
    // lazy: only the streaming path consumes it — the one-shot form
    // verifies on per-doc hash arrays, and an unused eager chk would
    // still schedule a checkpoint job
    lazy val sh = chk("sh")(
      Dedup.shingleHashes(k3.select("doc_id", "text"), "doc_id", "text", spread = false))
    // signatures from the one-pass minhash kernel (bit-identical to the
    // shingle-aggregate form, MinhashSlotsSpec): the sig path costs one
    // scan of k3 and no exchange; sh above remains the VERIFICATION
    // frame (pairJaccardHashed and the cross-batch shingle-hash union)
    val sig = Dedup.minhashFromText(k3, "doc_id", "text")
    // bands is batch-sized and consumed three times (bucket count,
    // capped generation, cross-batch probe) — on the STREAMING path,
    // materialize IT, never the state-sized union (a checkpoint of
    // state ∪ batch would copy the whole corpus index every batch).
    // The one-shot form folds it: its consumers meet inside the final
    // job, where ReusedExchange dedupes them (r14 same-JVM rotated A/B
    // at sf0.1: med 3.58 s vs 3.97 s checkpointed). k3 stays a
    // boundary in both forms — folding it re-runs the span-coverage
    // anti-join under each consumer (med 6.98 s).
    val bands = streamChk("bands")(Dedup.lshBands(sig, 8, 2))
    // The combined-index cap only matters for buckets the BATCH
    // touches: a bucket with no batch member generates no new pair on
    // either the in-batch or cross-batch side, so its hotness is
    // irrelevant this batch. Restricting state to batch-touched
    // (band, key)s first — same streamed-state/shuffle-hash-batch
    // shape as the span semi above, over band state bucketed by
    // (band, key) — turns the per-batch hot-bucket aggregation from a
    // corpus-sized shuffle into a batch-bounded one, and the single
    // restricted frame then serves BOTH the count and the cross-batch
    // candidate probe (one state scan for the whole band path). The
    // counts stay exact for every batch-touched bucket, so cap
    // decisions are unchanged from the unrestricted form.
    val stateTouchedOpt =
      if (!hasState) None
      else {
        val batchKeys = bands.select("band", "key").distinct()
        Some(chk("stateTouched")(st.bands
          .join(batchKeys.hint("shuffle_hash"), Seq("band", "key"), "left_semi")
          .distinct()))
      }
    val drop = stateTouchedOpt match {
      case None =>
        // Empty state: combined ≡ bands, so the hot-bucket cap rides
        // candidatePairs' own bounded-ids aggregate (NULL past cap IS
        // the whole-bucket exclusion, same strict > threshold as
        // hotBuckets) — the band stream is aggregated ONCE instead of
        // [hotBuckets count pass → anti-join → candidatePairs pass],
        // dropping one corpus-band aggregation and one anti-join from
        // the one-shot final job (§2.4 remove shuffles outright; r15,
        // A/B'd with the endstate row).
        val cands = Dedup.candidatePairs(bands, maxBucket)
        val inVerified =
          if (oneShot)
            // per-doc distinct hash arrays: identical jacc values
            // (see pairJaccardArrays), no corpus-wide verify exchange
            Dedup.pairJaccardArrays(cands,
              Dedup.shingleHashArrays(k3.select("doc_id", "text"),
                "doc_id", "text"))
              .filter(col("jacc") >= JaccardMin)
          else
            Dedup.pairJaccardHashed(cands, sh).filter(col("jacc") >= JaccardMin)
        inVerified.select(col("doc_b").as("doc_id")).distinct()
      case Some(stateTouched) =>
        val combined = bands.select("id", "band", "key").unionByName(stateTouched)
        val hot = Dedup.hotBuckets(combined, maxBucket).select("band", "key")
        val bandsCapped = bands.join(hot, Seq("band", "key"), "left_anti")
        val inVerified = Dedup.pairJaccardHashed(
            Dedup.candidatePairs(bandsCapped, maxBucket = Int.MaxValue), sh)
          .filter(col("jacc") >= JaccardMin)
        val candOld = bandsCapped
          .join(stateTouched.join(hot, Seq("band", "key"), "left_anti")
            .withColumnRenamed("id", "doc_a"), Seq("band", "key"))
          .select(col("doc_a"), col("id").as("doc_b")).distinct()
        val oldIds = candOld.select(col("doc_a").as("doc_id")).distinct()
        // restrict-then-dedupe: oldIds is candidate-sized, so the distinct
        // that guards against crash-replayed duplicate doc rows runs on a
        // tiny frame, never on corpus-sized doc state; the shuffle-hash
        // hint streams doc state (bucketed by doc_id) through the probe
        val shOld = Dedup.shingleHashes(
          st.docs.join(oldIds.hint("shuffle_hash"), Seq("doc_id")).distinct(),
          "doc_id", "text", spread = false)
        val oldVerified = Dedup.pairJaccardHashed(candOld, sh.unionByName(shOld))
          .filter(col("jacc") >= JaccardMin)
        inVerified.select(col("doc_b").as("doc_id"))
          .unionByName(oldVerified.select(col("doc_b").as("doc_id"))).distinct()
    }
    val kept = k3.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n_tokens"))

    val deltas = State(
      fps = fp.select("fp").distinct(),
      spans = spans.select("h").distinct(),
      bands = bands.select("id", "band", "key"),
      docs = k3.select("doc_id", "text"),
      // lazy one-row frame — no driver action on the batch path
      wm = batch.agg(max("doc_id").as("max_id")).filter(col("max_id").isNotNull))
    (kept, deltas)
  }

  /** The whole corpus as ONE batch — the oracle-gated batch form
    * (`d_incremental_endstate`). */
  def endstateBatch(docs: DataFrame, maxBucket: Int = 1024): DataFrame =
    processBatch(docs, emptyState(docs.sparkSession), maxBucket,
      oneShot = true)._1

  // ---- persisted-state runner -------------------------------------

  private def part(dir: String, name: String) = s"$dir/$name"

  /** Bucket count for the span/band state tables — matches the
    * session's shuffle partitioning so batch-side exchanges line up
    * 1:1 with state buckets. */
  val StateBuckets = 32

  /** Band-key format version persisted as a `_band_format` sentinel in
    * the state dir. "2" = two 31-bit md5 minhash slots per band key
    * (round 11, `functions/MinhashSlots.scala`); version 1 (16-bit
    * slots) never wrote a sentinel and is detected by value space in
    * [[ensureStateTables]]. Bump whenever band-key VALUES change even
    * if the LongType schema does not. */
  val BandFormatVersion = "2"

  /** Span and band state live in BUCKETED tables (hash-clustered by
    * their equi-join keys) so the per-batch state accesses in
    * [[processBatch]] read the bucket layout directly: the batch side
    * shuffles into the state's partitioning and state itself is
    * streamed with NO exchange and NO sort — per-batch shuffle cost
    * tracks the batch, not the accumulated corpus. Bucketing metadata
    * lives in the session catalog, so the (idempotent) DDL below is
    * re-issued on every load/save — a restarted job re-registers the
    * same external tables over the same state-dir locations. */
  private def tableId(dir: String, name: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    s"graft_curation_${name}_" + md.take(8).map("%02x".format(_)).mkString
  }

  /** The four key-set tables, each hash-clustered by its equi-join
    * key. wm (one row per batch) stays plain parquet. */
  private val BucketedState = Seq("fps", "spans", "bands", "docs")

  /** DDL columns (in order — inserts are POSITIONAL) and bucket keys
    * per state set. */
  private def tableShape(name: String): (Seq[(String, String)], Seq[String]) = name match {
    case "fps"   => (Seq("fp" -> "STRING"), Seq("fp"))
    case "spans" => (Seq("h" -> "BIGINT"), Seq("h"))
    case "bands" => (Seq("id" -> "BIGINT", "band" -> "INT", "key" -> "BIGINT"), Seq("band", "key"))
    case "docs"  => (Seq("doc_id" -> "BIGINT", "text" -> "STRING"), Seq("doc_id"))
    case other   => sys.error(s"no bucketed state table for '$other'")
  }

  private def stateTableDdl(table: String, name: String, location: String): String = {
    val (cols, keys) = tableShape(name)
    s"""CREATE TABLE IF NOT EXISTS $table (${cols.map(c => s"${c._1} ${c._2}").mkString(", ")}) USING PARQUET
       |CLUSTERED BY (${keys.mkString(", ")}) INTO $StateBuckets BUCKETS
       |LOCATION '$location'""".stripMargin
  }

  /** Idempotently register the bucketed state tables for `dir`,
    * healing two non-happy paths first:
    *
    *  - a compaction (or migration) interrupted between its two swap
    *    renames leaves the live location missing/empty with the intact
    *    pre-swap state under `.<name>.old` — restore it (the old
    *    content is semantically identical: same rows, more files). A
    *    leftover `.old` NEXT TO a populated location means the swap
    *    completed and only the cleanup was lost — drop it.
    *  - state written by the pre-bucketed engine (plain parquet
    *    appends, file names without the `_NNNNN` bucket-id suffix)
    *    would make every bucketed scan throw "Invalid bucket file" —
    *    detect it and rewrite ONCE through the bucketed table (the
    *    same swap discipline as compaction).
    *
    * Returns table name by state-set name. */
  def ensureStateTables(s: SparkSession, dir: String): Map[String, String] =
    BucketedState.map { name =>
      val p = new org.apache.hadoop.fs.Path(part(dir, name))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val old = new org.apache.hadoop.fs.Path(part(dir, s".$name.old"))
      if (fs.exists(old)) {
        if (!fs.exists(p) || fs.listStatus(p).isEmpty) {
          fs.delete(p, true)
          require(fs.rename(old, p), s"state crash-recovery rename failed for $name")
        } else fs.delete(old, true)
      }
      // pre-create the location so reading a never-written table lists
      // an empty dir instead of logging FileNotFound on every load
      fs.mkdirs(p)
      // Integer-key format guard: span hashes and band keys switched
      // from md5 hex strings to fixed-width longs (round 9). A state
      // dir persisted by the string-key engine is NOT readable through
      // the BIGINT table (Parquet BINARY vs bigint), and band keys are
      // not derivable from their md5-of-concat form — so fail by name
      // instead of with a raw Parquet conversion error.
      if (name == "spans" || name == "bands") {
        val keyCol = if (name == "spans") "h" else "key"
        if (fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))) {
          val actual = graft.Tables.open(s, part(dir, name)).schema
          actual.find(_.name == keyCol).foreach { f =>
            require(f.dataType == org.apache.spark.sql.types.LongType,
              s"persisted '$name' state at ${part(dir, name)} stores '$keyCol' as " +
                s"${f.dataType.simpleString} — written by the pre-integer-key engine " +
                "(md5 hex keys). Delete the state directory and replay the stream; " +
                "band keys cannot be derived from their md5-of-concatenation form.")
          }
        }
      }
      // VALUE-space format guard: minhash slots widened 16 → 31 bits
      // (round 11), which changed band-key VALUES inside the same
      // LongType schema — 16-bit-era keys (< 2^32) essentially never
      // match new keys (two 31-bit slots ≈ 2^55+), so cross-batch
      // probing against old state would silently return nothing. A
      // `_band_format` sentinel versions the dir; a sentinel-less dir
      // with data is classified by key value space (a new-format key
      // lands below 2^32 with probability ~2^-30 per row, so max(key)
      // over the table is a certain detector) and fails by name like
      // the string-key guard above. Runs at most once per dir: the
      // sentinel short-circuits every later open.
      if (name == "bands") {
        val fmtP = new org.apache.hadoop.fs.Path(dir, "_band_format")
        val verOk = fs.exists(fmtP) && {
          val in = fs.open(fmtP)
          val buf = new Array[Byte](16)
          val n = math.max(0, in.read(buf)); in.close()
          new String(buf, 0, n, "UTF-8").trim == BandFormatVersion
        }
        if (!verOk) {
          if (fs.listStatus(p).exists(_.getPath.getName.endsWith(".parquet"))) {
            val mx = graft.Tables.open(s, part(dir, name))
              .agg(org.apache.spark.sql.functions.max("key")).head
            require(mx.isNullAt(0) || mx.getLong(0) >= (1L << 32),
              s"persisted 'bands' state at ${part(dir, name)} holds only " +
                "sub-2^32 band keys — written by the 16-bit-minhash-slot " +
                "engine (pre round 11). New 31-bit-slot keys would never " +
                "match it, silently missing historical near-dups. Delete " +
                "the curation state directory and replay the stream.")
          }
          val out = fs.create(fmtP, true)
          out.write(BandFormatVersion.getBytes("UTF-8")); out.close()
        }
      }
      val t = tableId(dir, name)
      s.sql(stateTableDdl(t, name, part(dir, name)))
      val unbucketed = fs.listStatus(p).map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("."))
        .filterNot(n => "_\\d{5}\\.".r.findFirstIn(n).isDefined)
      if (unbucketed.nonEmpty) migrateToBucketed(s, dir, name, t, p, fs)
      name -> t
    }.toMap

  /** One-time rewrite of a plain-parquet state dir into its bucketed
    * table (write-to-temp + two-rename swap; [[ensureStateTables]]'
    * recovery covers a crash between the renames). */
  private def migrateToBucketed(s: SparkSession, dir: String, name: String,
                                t: String,
                                p: org.apache.hadoop.fs.Path,
                                fs: org.apache.hadoop.fs.FileSystem): Unit = {
    val (cols, keys) = tableShape(name)
    val tmpT = t + "_migrate"
    val tmpLoc = part(dir, s".$name.migrate")
    val tmp = new org.apache.hadoop.fs.Path(tmpLoc)
    s.sql(s"DROP TABLE IF EXISTS $tmpT")
    fs.delete(tmp, true); fs.mkdirs(tmp)
    s.sql(stateTableDdl(tmpT, name, tmpLoc))
    graft.Tables.open(s, p.toString).distinct()
      .select(cols.map(c => col(c._1)): _*) // positional insert order
      .repartition(StateBuckets, keys.map(col): _*)
      .write.mode("append").insertInto(tmpT)
    s.sql(s"DROP TABLE IF EXISTS $tmpT")
    val old = new org.apache.hadoop.fs.Path(part(dir, s".$name.old"))
    fs.delete(old, true)
    require(fs.rename(p, old) && fs.rename(tmp, p),
      s"state migration rename failed for $name")
    fs.delete(old, true)
    s.catalog.refreshTable(t)
  }

  /** Bloom sidecar sizing. All blooms MUST share these parameters so
    * per-batch filters merge into the accumulated one (~12 MB at 10⁷
    * items / 1% fpp). Size for the expected corpus; past it the FPP
    * degrades gracefully — more confirm-join work, never a wrong
    * answer (false POSITIVES are the graceful direction; false
    * negatives are excluded by the saveDeltas sidecar invariant).
    * At 10⁹+ docs shard the sidecar by fp prefix. */
  val BloomItems = 10000000L
  val BloomFpp = 0.01

  /** Load persisted state (empty on first run).
    *
    * With `dedup = true` (the default, for inspection and external
    * readers) every key-set collapses crash-replayed appends via
    * `distinct()` — but that distinct is a corpus-sized aggregation
    * embedded in EVERY downstream plan, so the hot streaming path
    * ([[run]]) loads with `dedup = false`: [[processBatch]] is
    * duplicate-tolerant by construction (state reaches it only through
    * membership semi/anti joins, which duplicates cannot perturb, or
    * through frames re-deduped AFTER a batch-bounded restriction), so
    * raw appends curate identically — X2 idempotence without paying a
    * corpus-sized dedup per batch. */
  def loadState(s: SparkSession, dir: String, dedup: Boolean = true): State = {
    val e = emptyState(s)
    val tables = ensureStateTables(s, dir)
    def maybeDedup(df: DataFrame) = if (dedup) df.distinct() else df
    def read(name: String, fallback: DataFrame) = {
      // existence through the Hadoop filesystem of the path's scheme —
      // java.io.File would silently report hdfs://…/s3a://… state dirs
      // as absent and curate every batch against empty state
      val p = new org.apache.hadoop.fs.Path(part(dir, name))
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) maybeDedup(graft.Tables.open(s, part(dir, name))) else fallback
    }
    // key-sets read through their bucketed-table identity so plans
    // see the HashPartitioning the files were written with
    def readBucketed(name: String) = maybeDedup(s.table(tables(name)))
    val bloomPath = new org.apache.hadoop.fs.Path(part(dir, "fp.bloom"))
    val bloomFs = bloomPath.getFileSystem(s.sparkContext.hadoopConfiguration)
    val bloom =
      if (!bloomFs.exists(bloomPath)) None
      else {
        val in = bloomFs.open(bloomPath)
        try Some(org.apache.spark.util.sketch.BloomFilter.readFrom(in))
        finally in.close()
      }
    State(
      fps = readBucketed("fps"),
      spans = readBucketed("spans"),
      bands = readBucketed("bands"),
      docs = readBucketed("docs"),
      wm = read("wm", e.wm),
      fpBloom = bloom)
  }

  /** Append one batch's deltas. Append-only: no state file is ever
    * rewritten, so a crash between writes at worst replays a batch —
    * which the dedup-on-load absorbs.
    *
    * Sidecar invariant: an EXISTING `fp.bloom` always covers every
    * fingerprint in the persisted `fps` set. A bloom false NEGATIVE on
    * a persisted fingerprint would make stage 1 keep a true duplicate
    * — a wrong answer, not slow — so the invariant is load-bearing and
    * maintained two ways: (a) the merged bloom is written BEFORE the
    * fps append (a crash between the two leaves a bloom that is a
    * SUPERSET of fps — harmless, the confirm join kills the extras);
    * (b) a missing sidecar over non-empty fps state (pre-sidecar
    * directory, or a crash inside the delete+rename swap) is HEALED
    * here by rebuilding from the full persisted set — a one-time
    * state-sized scan, after which batches are scan-only again.
    * loadState meanwhile returns fpBloom=None for a missing sidecar,
    * so reads between the loss and the heal take the plain anti-join:
    * correct, just not fast. */
  def saveDeltas(delta: State, dir: String): Unit = {
    val s = delta.fps.sparkSession
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(part(dir, "fp.bloom"))
    val fs = p.getFileSystem(conf)
    val tables = ensureStateTables(s, dir)
    // the batch filter is built distributed with the SAME sizing as
    // the accumulated one so the two merge
    val batchBloom = delta.fps.stat.bloomFilter("fp", BloomItems, BloomFpp)
    val merged =
      if (fs.exists(p)) {
        val in = fs.open(p)
        val prior = try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
        prior.mergeInPlace(batchBloom)
      } else {
        // heal: cover the whole persisted set, not just this batch —
        // read through the table so an empty/missing fps location
        // contributes an empty set instead of failing schema inference
        // (a bloom aggregated over ZERO rows has no bit array and
        // NPEs on merge, hence the isEmpty guard)
        val persisted = s.table(tables("fps"))
        if (persisted.isEmpty) batchBloom
        else persisted.stat.bloomFilter("fp", BloomItems, BloomFpp)
          .mergeInPlace(batchBloom)
      }
    val tmp = new org.apache.hadoop.fs.Path(part(dir, ".fp.bloom.tmp"))
    val out = fs.create(tmp, true)
    try merged.writeTo(out) finally out.close()
    fs.delete(p, false)
    require(fs.rename(tmp, p), "bloom sidecar rename failed")
    // wm FIRST: processBatch gates its state-join skips on wm presence
    // (the cheap one-row probe), so wm-present must be a sound proxy
    // for state-MAY-be-present. Key-sets-before-wm would let a crash
    // between the two leave non-empty persisted key-sets behind an
    // empty wm: the restart would skip every state-side join and
    // silently drop cross-batch dedup. This order's failure mode is
    // the safe direction — wm present over (partially) missing
    // key-set appends makes the joins run against smaller state,
    // which is a value no-op at worst, and the foreachBatch
    // checkpoint replays the interrupted batch's appends anyway.
    delta.wm.write.mode("append").parquet(part(dir, "wm"))
    // key-sets append THROUGH their bucketed tables so every state
    // file carries a bucket id reads can trust. The repartition aligns
    // write tasks 1:1 with buckets (repartition and bucketing share
    // HashPartitioning semantics), so each append adds at most one
    // file per bucket instead of tasks × buckets.
    delta.fps.repartition(StateBuckets, col("fp"))
      .write.mode("append").insertInto(tables("fps"))
    delta.spans.repartition(StateBuckets, col("h"))
      .write.mode("append").insertInto(tables("spans"))
    delta.bands.repartition(StateBuckets, col("band"), col("key"))
      .write.mode("append").insertInto(tables("bands"))
    delta.docs.repartition(StateBuckets, col("doc_id"))
      .write.mode("append").insertInto(tables("docs"))
  }

  /** Compact the append-only state: each key-set rewrites to a single
    * deduped snapshot (write-to-temp + atomic rename), bounding both
    * file count (one file set per processed batch otherwise) and the
    * dedup work every `loadState` repeats. Run it on whatever cadence
    * the batch count warrants — it is an optimization, never a
    * semantic change: loadState(after) ≡ loadState(before)
    * (`StreamCurationSpec`). Not concurrency-safe with an in-flight
    * batch; call between triggers (foreachBatch is serial, so from
    * inside the batch function or while the query is stopped). */
  def compactState(s: SparkSession, dir: String): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    for (name <- Seq("wm")) {
      val p = new org.apache.hadoop.fs.Path(part(dir, name))
      val fs = p.getFileSystem(conf)
      if (fs.exists(p)) {
        val tmp = new org.apache.hadoop.fs.Path(part(dir, s".$name.compact"))
        fs.delete(tmp, true)
        // the distinct's shuffle partitioning sets the snapshot's file
        // count — one file SET total, vs one per processed batch
        graft.Tables.open(s, p.toString).distinct().write.parquet(tmp.toString)
        val old = new org.apache.hadoop.fs.Path(part(dir, s".$name.old"))
        fs.delete(old, true)
        require(fs.rename(p, old) && fs.rename(tmp, p),
          s"state compaction rename failed for $name")
        fs.delete(old, true)
      }
    }
    // key-set tables compact through a TEMPORARY bucketed table at a
    // sibling location: a plain-parquet rewrite would strip the bucket
    // ids from the file names and poison every later bucketed read.
    // Same write-to-temp + atomic-rename shape as above; the catalog
    // entry is refreshed after the swap so cached file listings drop.
    ensureStateTables(s, dir)
    for (name <- BucketedState) {
      val p = new org.apache.hadoop.fs.Path(part(dir, name))
      val fs = p.getFileSystem(conf)
      // ensureStateTables pre-creates the (possibly empty) location dir,
      // so existence alone no longer means there is anything to compact
      if (fs.exists(p) && fs.listStatus(p).nonEmpty) {
        val t = tableId(dir, name)
        val tmpT = t + "_compact"
        val tmpLoc = part(dir, s".$name.compact")
        val tmp = new org.apache.hadoop.fs.Path(tmpLoc)
        s.sql(s"DROP TABLE IF EXISTS $tmpT")
        fs.delete(tmp, true)
        fs.mkdirs(tmp)
        s.sql(stateTableDdl(tmpT, name, tmpLoc))
        s.table(t).distinct().write.mode("append").insertInto(tmpT)
        s.sql(s"DROP TABLE IF EXISTS $tmpT")
        val old = new org.apache.hadoop.fs.Path(part(dir, s".$name.old"))
        fs.delete(old, true)
        require(fs.rename(p, old) && fs.rename(tmp, p),
          s"state compaction rename failed for $name")
        fs.delete(old, true)
        s.catalog.refreshTable(t)
      }
    }
  }

  /** Wire the pipeline onto any id-ordered document stream:
    * per micro-batch, curate against persisted state, append survivors
    * to `keptDir` and deltas to `stateDir`.
    *
    * `keptDir` is AT-LEAST-ONCE: kept rows append before saveDeltas
    * persists state, so a crash between the two replays the batch on
    * restart against pre-batch state and appends the same kept rows
    * again (state itself is unharmed — the replayed deltas are
    * duplicate-tolerant). Consumers must dedupe on read
    * (`distinct()`, or MERGE on doc_id — the X2 pattern); the
    * alternative order would be worse: state-first + crash would
    * DROP the batch's kept rows forever, since the replay finds every
    * fingerprint already in state. */
  def run(stream: DataFrame, stateDir: String, keptDir: String,
          checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, _: Long) =>
        val s = b.sparkSession
        // dedup=false: processBatch tolerates replayed duplicate state
        // rows (see loadState), and the load-time distinct would embed
        // a corpus-sized aggregation in every per-batch plan
        val (kept, delta) = processBatch(b, loadState(s, stateDir, dedup = false))
        kept.write.mode("append").parquet(keptDir)
        saveDeltas(delta, stateDir)
      }
      .start()
}
