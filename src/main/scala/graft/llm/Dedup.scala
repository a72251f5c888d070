package graft.llm

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Near-duplicate detection for training-data pipelines:
  * word-shingle Jaccard, MinHash + LSH banding, SimHash.
  *
  * Everything is hash-deterministic (md5-derived), expressed in Column
  * functions / relational ops only — no UDFs — so the same pipeline
  * scales to a 1000-executor cluster: shingling is a projection,
  * signatures are a groupBy, band bucketing is an equi-join (never an
  * all-pairs cross join), and only candidate pairs pay the exact-overlap
  * verification join.
  */
object Dedup {

  /** Distinct word n-gram shingles per document: (id, s).
    * `spread = false` skips the pre-explode repartition — pass it when
    * the input is already distributed (a checkpointed pipeline stage,
    * a join output); the exchange only earns its cost on raw
    * small-file reads that would otherwise explode on one task. */
  def shingles(docs: DataFrame, idCol: String, textCol: String, n: Int = 3,
               spread: Boolean = true): DataFrame = {
    val ws = split(trim(lower(col(textCol))), "\\s+")
    // documents often arrive as one small file = one input split; spread
    // the regex/explode work across the cluster before the narrow ops.
    (if (spread) docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
     else docs)
      .select(col(idCol).as("id"), ws.as("ws"))
      .select(col("id"), explode(
        when(size(col("ws")) >= n,
          transform(sequence(lit(0), size(col("ws")) - n),
            i => concat_ws(" ",
              (0 until n).map(d => element_at(col("ws"), i + d + 1)): _*)))
          .otherwise(array().cast("array<string>"))).as("s"))
      .distinct()
  }

  /** Distinct (id, h) shingle HASHES: like `shingles`, but each n-gram
    * leaves the scan as a 60-bit integer (the first 15 hex chars of its
    * md5) instead of the n-gram string. This is the 100 TB inverted-
    * index key shape — the distinct and every downstream shuffle move
    * 8-byte longs, never ~50-byte gram strings — and because the
    * oracle derives the SAME value from the same md5, the cross-engine
    * gate stays exact even on a hash collision (both engines produce
    * the identical extra pair). */
  def shingleHashes(docs: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, spread: Boolean = true): DataFrame = {
    // Same tokenization and short-document guard as shingleFrame, but
    // the per-gram key comes from the one-pass native window hasher:
    // span_hash_windows_long(ws, n) digests "tok1 tok2 … tokn" per
    // position — exactly md5(concat_ws(" ", …)) truncated to 60 bits,
    // so the values (and the oracles) are unchanged while the
    // concat/md5 Catalyst allocation storm becomes one compiled loop.
    // A sub-n-token doc yields an empty hash array, which explode
    // drops — the same rows the WHEN-guarded form emitted.
    val ws = split(trim(lower(col(textCol))), "\\s+")
    (if (spread) docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
     else docs)
      .select(col(idCol).as("id"), ws.as("ws"))
      .select(col("id"), explode(
        graft.functions.SpanHashWindows.spanHashWindowsLong(col("ws"), n)).as("h"))
      .distinct()
  }

  /** MinHash signatures: k hash slots carved out of TWO md5s per
    * shingle — md5(s) for slots 1-4, md5(s || '~') for slots 5-8,
    * 8-hex-char (31-bit) disjoint fields each (disjoint substrings of
    * a strong hash behave as independent hash functions) — one pass,
    * no k× row blowup, a single groupBy with map-side partial mins.
    * 31 bits matter at scale: with 16-bit slots the min over ~80
    * shingles concentrated each slot into a ~2^10 effective range, so
    * 2-slot band keys collided at random past ~10^6 documents and the
    * LSH candidate set grew QUADRATICALLY with corpus size (measured,
    * SCALE.md r11 — 5M docs produced 16.2M candidate pairs, 97%
    * noise). The 0x7fffffff mask keeps every slot non-negative so a
    * 2-slot band key packs one non-negative long (see [[lshBands]]).
    * Output one row per id with m1..mk (k ≤ 8). */
  def minhashSignature(sh: DataFrame, k: Int = 8): DataFrame = {
    require(k <= 8, "k slots of 8 hex chars must fit two md5s")
    val hashed = sh.select(col("id"), md5(col("s")).as("h"),
      md5(concat(col("s"), lit("~"))).as("h2"))
    val slots = (1 to k).map { x =>
      val (hc, f) = if (x <= 4) (col("h"), x) else (col("h2"), x - 4)
      min(conv(substring(hc, (f - 1) * 8 + 1, 8), 16, 10).cast("long")
        .bitwiseAND(lit(2147483647L)).cast("int")).as(s"m$x")
    }
    hashed.groupBy("id").agg(slots.head, slots.tail: _*)
  }

  /** MinHash signatures straight from document text, as a single
    * map-side projection: the [[graft.functions.MinhashSlots]] kernel
    * folds the 8 slot minima over the n-token window digests in one
    * compiled pass per document. Because min is idempotent, the minimum
    * over all window POSITIONS equals the minimum over the distinct
    * shingle SET — signatures are bit-identical to
    * `minhashSignature(shingles(docs))` (spec-pinned), but the shingle
    * explode, the distinct exchange and the per-doc aggregation
    * exchange all disappear: at any scale the signature stage costs
    * exactly one scan. Documents shorter than n tokens produce no row,
    * matching the relational form. */
  def minhashFromText(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, k: Int = 8): DataFrame = {
    require(k == 8, "the minhash kernel folds all 8 md5 slot fields")
    val ws = split(trim(lower(col(textCol))), "\\s+")
    docs.select(col(idCol).as("id"),
        graft.functions.MinhashSlots.minhashSlots(ws, n).as("ms"))
      .filter(size(col("ms")) > 0)
      .select(col("id") +:
        (1 to k).map(x => col("ms").getItem(x - 1).as(s"m$x")): _*)
  }

  /** LSH banding: k minhash slots → k/rows band keys; docs sharing any
    * band key become candidates. (id, band, key). The key packs the
    * band's 31-bit slots into ONE long (rows ≤ 2) — exact
    * (collision-free, unlike the old md5-of-concatenation string key)
    * and 8 bytes on the wire instead of 32 chars, so the band
    * equi-join/group shuffles a fraction of the bytes. */
  def lshBands(sig: DataFrame, k: Int = 8, rows: Int = 2): DataFrame = {
    // rows <= 2 keeps the packed key within 62 bits, so it is always
    // non-negative; rows = 3 would need 93 bits and wrap (still
    // injective per 64-bit wrap, but any oracle that errors on BIGINT
    // overflow instead of wrapping would diverge).
    require(rows <= 2, "band key packs 31-bit slots into one non-negative long (rows <= 2)")
    val bands = (1 to k / rows).map { b =>
      val cols = ((b - 1) * rows + 1 to b * rows).map(x => col(s"m$x"))
      val key = cols.foldLeft(lit(0L).cast("long")) {
        (acc, c) => acc * lit(2147483648L) + c.cast("long") }
      struct(lit(b).as("band"), key.as("key"))
    }
    sig.select(col("id"), explode(array(bands: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Candidate pairs from shared band keys (doc_a < doc_b, distinct).
    *
    * Hot-bucket cap: a band key shared by more than `maxBucket` docs
    * (exact-duplicate floods, template corpora) would emit
    * O(bucket²) pairs through one reducer — the classic LSH skew
    * killer. Such a bucket carries no per-pair signal worth a
    * quadratic blowup (its members are better handled by the exact
    * dedup stage that precedes fuzzy dedup in any real pipeline), so
    * buckets above the cap are excluded from pair generation entirely;
    * [[hotBuckets]] reports what was dropped. A pair can still meet
    * through any of its other k/rows band keys.
    *
    * No broadcast hint on the self-join: AQE broadcasts the band frame
    * when its runtime size is under the threshold and falls back to a
    * shuffled equi-join on (band, key) beyond that. (A hard
    * `broadcast()` never falls back — at 10⁹ docs the 4-rows/doc band
    * frame would be a forced driver-side build → OOM.) */
  def candidatePairs(bands: DataFrame, maxBucket: Int = 1024): DataFrame = {
    // ONE two-phase aggregation materializes each bucket's (bounded)
    // id list — NULL past the cap, which IS the hot-bucket exclusion —
    // then two Generates stream the within-bucket pairs. The previous
    // shape (count-groups pass → hot-bucket anti-join → band
    // self-join) exchanged the band stream three times; this exchanges
    // it once, and the per-group state is O(maxBucket) worst-case
    // (functions/BoundedIds.scala), so no adversarial bucket can OOM
    // an aggregation buffer the way a bare collect_list could.
    val buckets = bands.groupBy("band", "key")
      .agg(graft.functions.BoundedIds.boundedIds(col("id"), maxBucket).as("ids"))
      .filter(col("ids").isNotNull && size(col("ids")) >= 2)
    buckets
      .select(explode(col("ids")).as("doc_a"), col("ids"))
      .select(col("doc_a"),
        explode(expr("filter(ids, x -> x > doc_a)")).as("doc_b"))
      .distinct()
  }

  /** Band buckets above the pair-generation cap: (band, key, n_docs).
    * The observability side of [[candidatePairs]]' skew guard — a
    * pipeline report joins this to see how many docs were excluded
    * from fuzzy-dedup pair generation and why (always template/exact
    * floods; legitimate near-dup clusters are orders of magnitude
    * smaller than any sane cap). */
  def hotBuckets(bands: DataFrame, maxBucket: Int = 1024): DataFrame =
    bands.groupBy("band", "key").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)

  /** Exact Jaccard for given pairs over a HASHED shingle frame (id, h)
    * — e.g. [[shingleHashes]] output, so a verification-only caller
    * never materializes gram strings and the intersection shuffle moves
    * 8-byte keys. Set sizes and intersections both count the given
    * rows, so a caller handing a DISTINCT-hash frame must mirror that
    * distinctness in its oracle (collision-collapsed on both sides). */
  def pairJaccardHashed(pairs: DataFrame, shh: DataFrame): DataFrame = {
    val sizes = shh.groupBy("id").agg(count(lit(1)).as("c"))
    val inter = pairs
      .join(shh.select(col("id").as("doc_a"), col("h")), Seq("doc_a"))
      .join(shh.select(col("id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select(col("id").as("doc_a"), col("c").as("ca")), Seq("doc_a"))
      .join(sizes.select(col("id").as("doc_b"), col("c").as("cb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (col("i").cast("double") / (col("ca") + col("cb") - col("i"))).as("jacc"))
  }

  /** Per-document DISTINCT shingle-hash ARRAYS (id, hs): the same
    * 60-bit keys as [[shingleHashes]], but deduplicated per document
    * map-side (array_distinct) instead of through a corpus-wide
    * distinct exchange — (id, h) distinctness is per-document by
    * construction (id is in the key), so exploding `hs` yields exactly
    * [[shingleHashes]]' row set while this form never shuffles at all.
    * A document shorter than n tokens yields an EMPTY array row (its
    * exploded form would have no rows). */
  def shingleHashArrays(docs: DataFrame, idCol: String, textCol: String,
                        n: Int = 3): DataFrame = {
    val ws = split(trim(lower(col(textCol))), "\\s+")
    docs.select(col(idCol).as("id"),
      array_distinct(
        graft.functions.SpanHashWindows.spanHashWindowsLong(ws, n)).as("hs"))
  }

  /** [[pairJaccardHashed]] over per-document hash ARRAYS
    * ([[shingleHashArrays]] output) instead of exploded (id, h) rows.
    * Identical jacc values — |array_intersect| and |array_union| are
    * set sizes, so i / (|A| + |B| − i) is the same double — but the
    * plan shape differs where it matters: the exploded form pays a
    * corpus-wide distinct exchange plus a corpus-sized per-id size
    * aggregation before any pair is scored; this form references the
    * (never-shuffled) array frame ONCE — both pair sides reach it
    * through one union — so the only exchange is the candidate-bounded
    * per-pair aggregation, and the verification hashing runs in
    * exactly one pass (guide §2.3/§2.4).
    *
    * Set semantics, pinned against brute-force set Jaccard by
    * JaccardArraysSpec: one row per distinct (doc_a, doc_b); repeated
    * hashes inside an array count once. A pair is scored only when
    * BOTH ids are in `shArr` — a pair with a missing side is dropped,
    * never compared with itself. Pairs whose Jaccard is 0 survive with
    * jacc = 0.0 (the exploded form's inner intersection join drops
    * them), and so does a pair of empty (or NULL) arrays, whose 0/0 is
    * defined as 0.0; callers filter on a positive threshold, where the
    * two forms agree row-for-row. `shArr` holds one row per id. */
  def pairJaccardArrays(pairs: DataFrame, shArr: DataFrame): DataFrame = {
    val legs = pairs
      .select(col("doc_a"), col("doc_b"), col("doc_a").as("id"), lit(0).as("side"))
      .unionByName(pairs
        .select(col("doc_a"), col("doc_b"), col("doc_b").as("id"), lit(1).as("side")))
    legs.join(shArr, Seq("id"))
      .groupBy("doc_a", "doc_b")
      .agg(min_by(col("hs"), col("side")).as("ha"),
           max_by(col("hs"), col("side")).as("hb"),
           min(col("side")).as("s0"), max(col("side")).as("s1"))
      .filter(col("s0") < col("s1")) // both legs found
      .withColumn("i", size(array_intersect(col("ha"), col("hb"))))
      .withColumn("u", size(array_union(col("ha"), col("hb"))))
      .select(col("doc_a"), col("doc_b"),
        when(col("u") > 0, col("i").cast("double") / col("u"))
          .otherwise(lit(0.0)).as("jacc"))
  }

  /** Canonical representative per near-duplicate cluster: treat verified
    * pairs as undirected edges and propagate the minimum doc id for
    * `rounds` iterations, each round = one-hop neighbor-min followed by
    * a POINTER JUMP (label := label(label)) — the path-compression step
    * that makes coverage double per round (~2^rounds−1 hops; plain
    * propagation moves the min only one hop per round and silently
    * mislabels deeper chains). Returns (id, canonical). The
    * keep-one-per-cluster step of a dedup pipeline.
    *
    * ADAPTIVE: the edge set is materialized once (it is reused every
    * round regardless), and when it is small — ≤ `driverCap` edges,
    * default [[graft.model.DriverCap]], the size gate [[pagerankInt]]
    * and `Derivation.transitiveDownstream` share — the whole iterative
    * loop collapses to a single driver-side union-find: ~2 scheduled jobs instead of ~3·rounds. After LSH +
    * Jaccard verification the surviving pair set at ANY corpus scale
    * is dup-cluster-sized, orders below the corpus (at the bench it is
    * 256 pairs paying 1.1 s of pure job scheduling), so the small path
    * is the common one; past the cap the distributed pointer-jump loop
    * runs unchanged on the already-materialized edges. Union-find
    * labels every component by its true minimum (exact CC), which the
    * jump loop converges to — PropertySpec's fixpoint law holds on
    * both paths. */
  def canonicalize(pairs: DataFrame, rounds: Int = 3,
                   driverCap: Long = graft.model.DriverCap): DataFrame = {
    val s = pairs.sparkSession
    // ids must be integral: the long cast below would quietly NULL
    // string/UUID ids and corrupt labels far from the cause
    Seq("doc_a", "doc_b").foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.ByteType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.LongType).contains(dt),
        s"canonicalize needs integral doc ids; '$c' is $dt — hash or " +
          "dictionary-encode non-numeric ids first")
    }
    val edgesRaw = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .localCheckpoint()
    if (edgesRaw.count() <= driverCap) {
      import s.implicits._
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      edgesRaw.as[(Long, Long)].collect().foreach { case (a, b) =>
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        // always attach the larger root under the smaller, so every
        // root IS its component's minimum id
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      val out = parent.keys.toArray.map(id => (id, find(id)))
      return s.createDataset(out.toSeq).toDF("id", "canonical")
    }
    val edges = edgesRaw
      .unionByName(edgesRaw.select(col("v").as("u"), col("u").as("v")))
    val nodes = edges.select(col("u").as("id")).distinct()
    // A self-loop per node carries its own label through each round, so
    // the hop step is ONE equi-join + ONE min-aggregate: labels_{k+1}(u)
    // = min(labels_k(u), min over neighbors labels_k(v)). Label values
    // are always node ids, so the jump step is an equi-join of the
    // label frame with itself (label(c) <= c by construction — no
    // least() needed). Lineage stays linear; only the reused edge set
    // is cached.
    val edgesPlus = edges
      .unionByName(nodes.select(col("id").as("u"), col("id").as("v")))
      .distinct().localCheckpoint()
    var labels = nodes.withColumn("canonical", col("id"))
    for (r <- 1 to rounds) {
      // The jump self-join references `hop` twice, so without ANY
      // materialization each round's plan embeds the previous round's
      // subtree twice — 2^rounds re-evaluations AND a plan whose size
      // doubles per round, which Catalyst then re-optimizes on every
      // execution (measured: 6.7 s/run fixed cost on a 45-node graph vs
      // 0.8 s checkpointed; a cache() alone doesn't help because the
      // plan, not the data, is the cost). Checkpointing EVERY round is
      // the other extreme: each localCheckpoint is a scheduled job
      // whose constant dominates at low volume. Truncating every OTHER
      // round bounds the embedded depth at one lazy round — its
      // duplicated references meet in the next job's exchanges, where
      // ReusedExchange computes them once — and halves the per-call job
      // count. Lineage discipline is unchanged in kind (GraphX Pregel
      // checkpoints on an interval for the same reason); on executor
      // loss the job restarts at most two rounds back.
      val hopRaw = edgesPlus
        .join(labels.withColumnRenamed("id", "v"), Seq("v"))
        .groupBy(col("u").as("id")).agg(min("canonical").as("canonical"))
      val hop = if (r % 2 == 0) hopRaw.localCheckpoint() else hopRaw
      labels = hop
        .join(hop.select(col("id").as("canonical"), col("canonical").as("c2")),
          Seq("canonical"))
        .select(col("id"), col("c2").as("canonical"))
    }
    labels
  }

  /** Integer PageRank over an undirected pair graph (e.g. verified
    * near-dup pairs): rank duplicates by centrality so the cluster
    * representative can be the most-linked copy instead of min-id.
    * Returns (id, pr) for every id on an edge; a pair with a NULL end
    * is not an edge.
    *
    * All arithmetic is exact-integer so results hash cross-engine:
    * scores are scaled by 10⁶, the damping step is the exact rational
    * p' = 150000 + floor(17·s/20) (0.85 = 17/20), and per-edge
    * contributions floor(p/deg), over the symmetric DISTINCT edge set
    * (rank, not convergence, is the goal: `rounds` is fixed).
    *
    * ADAPTIVE, with the same size gate as [[canonicalize]] and
    * `Derivation.transitiveDownstream` (`driverCap`, default
    * [[graft.model.DriverCap]] pairs): ONE job over all partitions
    * fetches the pairs while they number at most driverCap
    * ([[graft.model.collectUnderCap]]), and under the cap the rounds run
    * on the driver over those rows — verified near-dup pairs are
    * dup-cluster-sized at any corpus scale (256 at the bench, where the
    * distributed loop paid ~20 scheduled jobs). Past the cap the
    * distributed loop runs: the reused edge and degree frames are
    * checkpointed once, and the strictly linear rank chain (each p_k
    * read once by p_{k+1}) stays lazy, one equi-join + one aggregate per
    * round. Both paths give the same rows (PageRankSpec). */
  def pagerankInt(pairs: DataFrame, rounds: Int = 3,
                  driverCap: Long = graft.model.DriverCap): DataFrame = {
    val valid = pairs.filter(col("doc_a").isNotNull && col("doc_b").isNotNull)
    val directed = valid.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(valid.select(col("doc_b").as("u"), col("doc_a").as("v")))
    val idType = directed.schema("u").dataType
    graft.model.collectUnderCap(
        valid.select(col("doc_a").cast(idType), col("doc_b").cast(idType)), driverCap) match {
      case Some(probe) =>
        val adj = scala.collection.mutable.LinkedHashMap.empty[Any,
          scala.collection.mutable.Set[Any]]
        probe.foreach { r =>
          adj.getOrElseUpdate(r.get(0), scala.collection.mutable.Set.empty) += r.get(1)
          adj.getOrElseUpdate(r.get(1), scala.collection.mutable.Set.empty) += r.get(0)
        }
        // the distributed loop's arithmetic: long overflow throws there
        // under ANSI, so it throws here too
        var pr = adj.map { case (u, _) => u -> 1000000L }
        for (_ <- 1 to rounds) {
          val c = adj.map { case (v, ns) => v -> math.floor(pr(v).toDouble / ns.size).toLong }
          pr = adj.map { case (u, ns) =>
            val sum = ns.foldLeft(0L)((acc, v) => Math.addExact(acc, c(v)))
            u -> Math.addExact(150000L,
              math.floor(Math.multiplyExact(sum, 17L).toDouble / 20).toLong)
          }
        }
        pairs.sparkSession.createDataFrame(
          pr.toSeq.map { case (u, p) => Row(u, p) }.asJava,
          StructType(Seq(StructField("id", idType), StructField("pr", LongType, nullable = false))))
      case None =>
        val edges = directed.distinct().localCheckpoint()
        val deg = edges.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
          .localCheckpoint()
        var p = deg.select(col("id"), lit(1000000L).as("pr"))
        for (_ <- 1 to rounds) {
          val contrib = p.join(deg, Seq("id"))
            .select(col("id").as("v"), floor(col("pr").cast("double") / col("deg")).cast("long").as("c"))
          p = edges.join(contrib, Seq("v"))
            .groupBy(col("u").as("id")).agg(sum("c").as("s"))
            .select(col("id"),
              (lit(150000L) + floor((col("s") * 17).cast("double") / 20).cast("long")).as("pr"))
        }
        p
    }
  }

  /** Pigeonhole-blocked candidate pairs for hamming(simhash) <= maxDist.
    *
    * Split the `bits`-wide hash into maxDist+1 contiguous blocks: a pair
    * within hamming maxDist has at most maxDist differing bits, which can
    * touch at most maxDist blocks, so at least ONE block is bit-identical
    * (pigeonhole). Candidates therefore come from an equi-join on
    * (block_idx, block_value) — never an all-pairs product — and only the
    * candidates pay the exact hamming verification. Completeness is
    * guaranteed, so the result is identical to the quadratic scan.
    *
    * Skew guard (salt + recombine, SEMANTICS-PRESERVING): a hot block
    * value — every doc in a template corpus agreeing on one 7-bit
    * block — funnels its whole O(bucket²) pair generation through ONE
    * reducer. Buckets whose posting count exceeds `saltThreshold` are
    * split: the left side keeps one deterministic salt per doc
    * (pmod(hash(id), saltBuckets)), the right side is replicated to
    * every salt, so each pair still meets EXACTLY once while the
    * reducer work drops to bucket²/saltBuckets per task. Cold buckets
    * join unsalted — no replication tax where there is no skew. The
    * output pair set is bit-identical to the unsalted plan (verified
    * by `SkewSpec`); only the shuffle layout changes, so the exact
    * quadratic oracle stays the ground truth at every scale.
    *
    * Input: (id, simhash). Output: (doc_a, doc_b, ha, hb) pairs with
    * doc_a < doc_b, superset of the true hamming<=maxDist pairs. NOT
    * deduplicated: a pair agreeing on several blocks appears once per
    * block — callers must apply the cheap hamming filter FIRST and
    * distinct() the survivors, so the wide pre-filter set never pays a
    * shuffle (the filter runs map-side in the join stage).
    */
  def simhashCandidates(sim: DataFrame, maxDist: Int = 6, bits: Int = 64,
                        saltBuckets: Int = 0, saltThreshold: Int = 100000): DataFrame = {
    val nBlocks = maxDist + 1
    val bounds = (0 to nBlocks).map(i => i * bits / nBlocks)
    val blocks = (0 until nBlocks).map { i =>
      val lo = bounds(i); val width = bounds(i + 1) - lo
      struct(lit(i).as("blk"),
        shiftright(col("simhash"), lo).bitwiseAND(lit((1L << width) - 1)).as("bv"))
    }
    val exploded = sim
      .select(col("id"), col("simhash"), explode(array(blocks: _*)).as("b"))
      .select(col("id"), col("simhash"), col("b.blk").as("blk"), col("b.bv").as("bv"))
      .cache() // consumed by both sides of the self-join below
    def pairsOf(df: DataFrame, joinKeys: Seq[String]): DataFrame = {
      val a = df.select((joinKeys :+ "id" :+ "simhash").map(col): _*)
        .withColumnsRenamed(Map("id" -> "doc_a", "simhash" -> "ha"))
      val b = df.select((joinKeys :+ "id" :+ "simhash").map(col): _*)
        .withColumnsRenamed(Map("id" -> "doc_b", "simhash" -> "hb"))
      a.join(b, joinKeys).filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
    }
    if (saltBuckets <= 1) pairsOf(exploded, Seq("blk", "bv"))
    else {
      val hot = exploded.groupBy("blk", "bv").agg(count(lit(1)).as("pc"))
        .filter(col("pc") > saltThreshold).select("blk", "bv")
        .localCheckpoint() // tiny (≤ blocks × values); consumed up to 3×
      // healthy corpora have NO hot blocks — skip the anti-join/union
      // machinery entirely so the skew guard costs one small aggregate,
      // not a second join tree (the check is a driver action on an
      // already-reduced frame)
      if (hot.isEmpty) return pairsOf(exploded, Seq("blk", "bv"))
      val cold = exploded.join(hot, Seq("blk", "bv"), "left_anti")
      val hotRows = exploded.join(hot, Seq("blk", "bv"))
      val aH = hotRows
        .withColumn("salt", pmod(hash(col("id")), lit(saltBuckets)))
        .select(col("blk"), col("bv"), col("salt"), col("id").as("doc_a"), col("simhash").as("ha"))
      val bH = hotRows
        .select(col("blk"), col("bv"), explode(sequence(lit(0), lit(saltBuckets - 1))).as("salt"),
          col("id").as("doc_b"), col("simhash").as("hb"))
      val saltedPairs = aH.join(bH, Seq("blk", "bv", "salt"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
      pairsOf(cold, Seq("blk", "bv")).unionByName(saltedPairs)
    }
  }

  /** 64-bit SimHash over a document's distinct shingle set (input: the
    * (id, s) frame from `shingles`). Word-level features degenerate on
    * template-heavy corpora — majority votes over a shared vocabulary
    * converge to one hash for unrelated documents — so the feature is
    * the same word n-gram shingle the minhash path uses, which keeps
    * hamming distance bimodal: true near-dups land <=8 of 64 bits apart
    * while unrelated pairs sit near 32. (id, simhash).
    *
    * The 64 mask bits are two 32-bit md5 halves (bit 32+p = bit p of
    * hex chars 1-8, bit p = bit p of chars 9-16 — a fixed PERMUTATION
    * of the digit layout, which XOR+popcount and the pigeonhole blocks
    * are invariant to). sgn_p = (+1 votes) − (−1 votes) = 2·c_p − n ≥ 0
    * ⇔ 2·c_p ≥ n, so one hash-aggregate with 64 map-side bit sums does
    * the whole vote — no per-bit row explosion, ONE shuffle total.
    */
  def simhash64(sh: DataFrame): DataFrame = {
    val masked = sh.withColumn("mask",
      expr("shiftleft(CAST(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT), 32)" +
        " | CAST(conv(substring(md5(s), 9, 8), 16, 10) AS BIGINT)"))
    val cnt = (0 until 64).map(p =>
      sum(expr(s"shiftright(mask, $p) & 1")).as(s"c$p"))
    val simBits = (0 until 64).map(p =>
      expr(s"CASE WHEN 2 * c$p >= n THEN ${1L << p}L ELSE 0L END"))
      .reduce(_ + _)
    masked.groupBy("id")
      .agg(count(lit(1)).as("n"), cnt: _*)
      .select(col("id"), simBits.as("simhash"))
  }

  /** Shared windowing projection for the exact-substring span family:
    * tokenize, drop docs shorter than the window, and emit one row per
    * window position with `keep` passthrough columns plus
    * (n_tokens, pos, h). Hashing is the one-pass native
    * `span_hash_windows_long` kernel — `h` is the 60-bit integer value
    * of the window md5's first 15 hex chars (the same oracle-mirrorable
    * truncation as [[shingleHashes]]), so every downstream span
    * shuffle/join/group moves 8-byte longs instead of 32-char hex
    * strings. The whole thing is a stateless projection, so batch
    * ([[spanHashes]]) and streaming (`Windows.novelSpans`) share one
    * definition of "a span". */
  def spanWindows(docs: DataFrame, textCol: String, w: Int,
                  keep: Seq[String]): DataFrame = {
    val ws = split(trim(lower(col(textCol))), "\\s+")
    docs.select(keep.map(col) :+ ws.as("ws"): _*)
      .filter(size(col("ws")) >= w)
      .select(keep.map(col) :+ size(col("ws")).cast("long").as("n_tokens") :+
        posexplode(graft.functions.SpanHashWindows.spanHashWindowsLong(col("ws"), w)): _*)
      .select(keep.map(col) :+ col("n_tokens") :+
        col("pos").cast("long").as("pos") :+ col("col").as("h"): _*)
  }

  /** Rolling w-token window hashes per document:
    * (id, n_tokens, pos, h), one row per window position (NOT
    * distinct — within-doc repeats count).
    *
    * This is the exact-substring dedup signal (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): a window hash seen in
    * ≥2 documents marks verbatim boilerplate/contamination at token
    * granularity, complementing the whole-document Jaccard family.
    * Plan shape: ONE round-robin exchange spreads the raw documents
    * (small-file inputs otherwise land on one task; at real scale the
    * source is already partitioned and this exchange drops out), then
    * windowing is a stateless projection via the one-pass native
    * `span_hash_windows` kernel; a consumer like [[repeatedSpans]]
    * additionally shuffles only the distinct-aggregate's reduced
    * partials (keys (h,id) then h), never raw windows. */
  def spanHashes(docs: DataFrame, idCol: String, textCol: String, w: Int = 20,
                 spread: Boolean = true): DataFrame =
    spanWindows(
      (if (spread) docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
       else docs)
        .select(col(idCol).as("id"), col(textCol)),
      textCol, w, keep = Seq("id"))

  /** Window hashes shared by ≥2 documents:
    * (span_hash, n_docs, n_occ, first_doc). One hash shuffle, partial
    * aggregation map-side. */
  def repeatedSpans(spans: DataFrame): DataFrame =
    spans.groupBy(col("h").as("span_hash"))
      .agg(countDistinct("id").as("n_docs"), count(lit(1)).as("n_occ"),
        min("id").as("first_doc"))
      .filter(col("n_docs") >= 2)

  /** The span-shape size gate: estimated span bytes up to which the
    * single-pass window shape runs (default 16 MB). Shared by
    * [[spanCoverage]] and the one-shot stale-span gate in
    * `streaming/StreamCuration`. */
  def windowShapeMaxBytes(s: org.apache.spark.sql.SparkSession): Long =
    s.conf.getOption("graft.span.windowShapeMaxBytes").map(_.toLong).getOrElse(16L << 20)

  /** Per-document fraction of tokens covered by cross-document
    * duplicated spans — the "how much of this doc is boilerplate"
    * filter signal. Duplicated window positions become intervals
    * [pos, pos+w-1]; overlaps merge via the gaps-and-islands window
    * (running max of interval end over the doc's position order), so a
    * doc whose every window duplicates still reports coverage 1.0, not
    * w×.
    *
    * Plan shape (the r12 singleton-pruning form — the r11 window over
    * h carried the one measured super-linearity left at the 5M-doc
    * soak: WindowExec sorts the full exploded frame and pays a
    * per-group constant across ~300M one-row hash groups): singleton
    * span hashes are the overwhelming majority and carry zero
    * coverage signal, so they must never reach a second exchange.
    * (1) duplicated-hash detection is groupBy(h).agg(min(id),
    * max(id)), min≠max, over the span stream REPARTITIONED BY H —
    * the pre-partitioning makes partial+final aggregation run
    * in-stage over AQE-sized partitions; without it the map-side
    * partial builds an input-split-sized hash map (9.5M keys/split at
    * 5M docs) that spills into sort fallback and measures 2x WORSE
    * than the window it replaces (SCALE.md). (2) The narrow
    * dup column materializes ONCE via a lazy localCheckpoint —
    * exchange reuse does not cross the scalar-subquery boundary, so
    * without it the whole dup pipeline evaluates twice. (3) A bloom
    * over the duplicated hashes ([[graft.functions.BloomSemi]], the
    * manual form of Spark's runtime-filter injection) prunes the
    * second pass over the span stream MAP-SIDE, before any exchange —
    * measured 2x end-to-end at 5M docs vs the same plan without it.
    * (4) An exact left-semi join kills the bloom's false positives on
    * the thinned survivors. The windowing projection runs twice (both
    * passes re-derive spans from the documents), which measures far
    * cheaper than materializing or sorting the exploded frame — the
    * r9 checkpoint experiment stored the pipeline's biggest frame
    * just to read it twice.
    *
    * The shape is ADAPTIVE — the same stats-vs-threshold decision
    * Spark's JoinSelection makes for broadcast, applied one level up:
    *
    * - Below `graft.span.windowShapeMaxBytes` (default 16 MB of
    *   ESTIMATED span bytes — Catalyst's own sizeInBytes for the
    *   spansIn plan) the r11 single-pass window shape runs: min/max
    *   over h as window functions, one job, one pass over the spans,
    *   and — decisive inside the curation pipeline — no checkpoint or
    *   subquery boundary, so the span branch fuses into its consumer
    *   job and the upstream exchanges dedupe via ReusedExchange.
    *   This shape is 2x cheaper below ~1M docs (0.36 s vs 0.68 s at
    *   sf0.1; 8.1 s vs 9.4 s at 1M, SCALE.md) and melts down above
    *   (it sorts the full exploded frame: 163 s at 5M).
    * - Above the threshold, the r12 scalable shape, with its bloom
    *   sized FROM the measured duplicated-hash count (one cheap
    *   count() over the checkpointed narrow dup column: items = nDup,
    *   bits for ~3% fpp, capped at 2^28 ≈ 32 MB broadcast payload; a
    *   warn names the cap when the count outruns it — the r12 fixed
    *   4M/2^25 sizing degraded silently past the 5M-doc soak).
    *
    * Estimate failure modes are asymmetric by construction: non-CBO
    * stats only ever propagate SHRINK-free (filters keep child size),
    * joins MULTIPLY them, and an unknown size defaults to
    * spark.sql.defaultSizeInBytes (huge) — all err toward the
    * scalable shape, which is correct at any size, merely ~2x slower
    * at bench scale. A caller whose span stream sits above joins
    * (whose product-blown stats would always pick the scalable shape
    * — the curation pipeline's d2 estimates 153 GB at sf0.1) passes
    * `sizeHint` captured at SCAN level, where Catalyst's estimate is
    * trustworthy. */
  def spanCoverage(spansIn: DataFrame, w: Int = 20,
                   sizeHint: Option[BigInt] = None): DataFrame = {
    val windowMax = windowShapeMaxBytes(spansIn.sparkSession)
    val est = sizeHint.getOrElse(
      spansIn.queryExecution.optimizedPlan.stats.sizeInBytes)
    org.slf4j.LoggerFactory.getLogger(getClass).info(
      s"spanCoverage shape=${if (est <= windowMax) "window" else "scalable"} " +
        s"est=$est windowMax=$windowMax")
    if (est <= windowMax) {
      import org.apache.spark.sql.expressions.Window
      val wh = Window.partitionBy("h")
      return mergedCoverage(spansIn
        .withColumn("mn", min(col("id")).over(wh))
        .withColumn("mx", max(col("id")).over(wh))
        .filter(col("mn") =!= col("mx"))
        .select(col("id"), col("n_tokens"), col("pos").as("start"),
          (col("pos") + (w - 1)).as("fin")))
    }
    val dup = spansIn.repartition(col("h")).groupBy("h")
      .agg(min(col("id")).as("mn"), max(col("id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select("h")
      .localCheckpoint(false)
    // one cheap action over the checkpointed narrow column: sizes the
    // bloom from the MEASURED duplicated-hash count (the r12 fixed
    // 4M/2^25 sizing degraded silently past the 5M-doc soak — ADVICE
    // item) and materializes the checkpoint for its two consumers.
    // An r13 interim shape swapped the bloom for a broadcast left-semi
    // when the count was small; measured warm at 1M docs it was 1.5x
    // SLOWER than this bloom+shuffle-semi plan (42.1 s vs 27.8 s
    // interleaved same-JVM, SCALE.md r13), so the thinning is
    // unconditional.
    val nDup = dup.count()
    // ~3% fpp wants n*7.3 bits; cap bounds the broadcast payload AND
    // the per-map partial-merge traffic through the one-group reducer.
    val wantBits = math.max(nDup * 8L, 1L << 20)
    val bits = math.min(wantBits, 1L << 28)
    if (bits < wantBits)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"spanCoverage bloom capped at 2^28 bits for $nDup duplicated " +
          "hashes; false-positive rate degrades (results stay exact " +
          "via the semi-join) — raise the cap or partition the corpus")
    val thinned = spansIn.filter(graft.functions.BloomSemi.probe(
        dup, "h", col("h"), items = math.max(nDup, 1L), bits = bits))
      .join(dup, Seq("h"), "left_semi")
    mergedCoverage(thinned
      .select(col("id"), col("n_tokens"), col("pos").as("start"),
        (col("pos") + (w - 1)).as("fin")))
  }

  /** Merged-interval token coverage per doc: input (id, n_tokens,
    * start, fin) intervals; overlaps merge via the gaps-and-islands
    * window (running max of interval end over the doc's position
    * order), so a doc whose every window matches still reports
    * coverage 1.0, not w×. Output (doc_id, covered_tokens, n_tokens,
    * coverage); only docs with ≥1 interval appear. Shared by the batch
    * boilerplate gate ([[spanCoverage]]) and the incremental
    * stale-span gate (`streaming/StreamCuration`). */
  def mergedCoverage(iv: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val prevMax = max(col("fin")).over(
      Window.partitionBy("id").orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1))
    iv.withColumn("pm", prevMax)
      .withColumn("add",
        greatest(lit(0L), col("fin") - greatest(col("start") - 1, coalesce(col("pm"), lit(-1L)))))
      .groupBy(col("id").as("doc_id"))
      .agg(sum("add").as("covered_tokens"), first("n_tokens").as("n_tokens"))
      .withColumn("coverage",
        col("covered_tokens").cast("double") / col("n_tokens"))
  }
}
