package graft.llm

import graft.Tables
import graft.model.QueryModule
import org.apache.spark.sql.functions._

/** Training-data curation operators beyond the dedup/similarity core:
  * exact n-gram decontamination, multi-rule quality gating (the Gopher
  * rules shape), and vocabulary-coverage filtering. All arithmetic is
  * integer counts + single IEEE divisions, so results hash-match the
  * DuckDB oracles bit-for-bit. */
object CurationQueries extends QueryModule {

  /** Deterministic benchmark gate (same md5 gate as t_dataset_split):
    * ~10% of documents form the held-out benchmark set. */
  private def gateSpark(c: String) =
    s"CAST(conv(substring(md5(CAST($c AS STRING)), 1, 8), 16, 10) AS BIGINT) % 100"
  private def gateDuck(c: String) =
    s"CAST(concat('0x', substring(md5(CAST($c AS VARCHAR)), 1, 8)) AS BIGINT) % 100"

  /** Reference vocabulary for coverage filtering (a fixed, versioned
    * artifact in a real pipeline — here an inline broadcast list). */
  private val vocab = Seq("table", "value", "query", "scan", "fast", "row",
    "key", "join", "sort", "filter", "data", "column", "group", "order",
    "the", "a")

  override def queries = Map[String, graft.model.QueryFn](
    // The WHOLE curation pipeline as one plan — what a user actually
    // runs: exact dedup (normalized fingerprint, keep min id) → quality
    // gate (≥ 0.3) → boilerplate gate (duplicated-span coverage ≤ 0.5,
    // computed among survivors) → fuzzy dedup (minhash-LSH-verified
    // clusters, keep the min-id canonical) → per-source corpus stats.
    // Every stage is the library operator the standalone queries gate
    // individually; this query gates their COMPOSITION.
    "d_pipeline_e2e" -> ((s, dir) => pipelineE2e(Tables.documents(s, dir))),

    // The INCREMENTAL curation pipeline's end state, batch form: same
    // four stages as d_pipeline_e2e but with greedy ARRIVAL-ORDER
    // semantics (drop a doc iff an EARLIER doc already covers it) —
    // the semantics an event-driven pipeline can maintain exactly,
    // because a keep is final the moment it is emitted (batch CC
    // canonicalization can merge old clusters retroactively). The
    // streaming runner (streaming/StreamCuration.run) computes the
    // identical answer over any id-ordered batch split —
    // StreamCurationSpec proves batch ≡ incremental; this query gates
    // the batch form against DuckDB.
    "d_incremental_endstate" -> ((s, dir) =>
      graft.streaming.StreamCuration.endstateBatch(Tables.documents(s, dir)))
  ) ++ otherQueries

  /** The d_pipeline_e2e plan over an arbitrary documents frame —
    * shared by the registered query and the scaling soak
    * (SoakPipelineScale), so the soak can never drift from what the
    * bench row actually runs. `stage` wraps each materialized
    * boundary (the localCheckpoints); the default just evaluates it —
    * the soak passes a timing wrapper. */
  def pipelineE2e(docs: org.apache.spark.sql.DataFrame,
                  stage: (String, () => org.apache.spark.sql.DataFrame) =>
                    org.apache.spark.sql.DataFrame = (_, f) => f())
      : org.apache.spark.sql.DataFrame = {
      // ids3, bands and cand are localCheckpoint boundaries. Folding
      // any of them (r14, same-JVM rotated A/B at sf0.1, SCALE.md) was
      // never faster: each single fold measured inside noise and every
      // combination much worse (b+c+s 3.15 s, +ids3 6.20 s vs 2.35 s),
      // because the boundaries feed consumers in SEPARATE downstream
      // jobs, so a folded frame re-runs its subtree instead of deduping
      // via ReusedExchange.
      // 1. exact dedup
      val keep1 = docs
        .withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .groupBy("fp").agg(min("doc_id").as("doc_id")).select("doc_id")
      val d1 = docs.join(keep1, "doc_id")
      // 2. quality gate (t_quality_score's formula, shared helper)
      val quality = TextAnalysis.qualityScore(col("text"))
      // Boundary discipline (r9, replacing the r8 shape that
      // checkpointed full text at d3 and the corpus shingle set at
      // sh): every multiply-consumed frame is materialized once, but
      // the PAYLOADS are keys and signatures — survivor ids (ids3),
      // band keys (~50 B/doc), candidate pair ids, and the CANDIDATE
      // docs' shingles — never the corpus text or the corpus shingle
      // set. Text re-reads from the source parquet behind an id
      // semi-join where needed (column-pruned scan-only; at 100 TB a
      // compressed source re-scan strictly beats writing the corpus
      // to block store and reading it back). d2 is still NOT a
      // boundary: its consumers meet inside the ids3 job, where its
      // shuffles dedupe via ReusedExchange. Lazy persist boundaries
      // were tried and are 1.7-4.7x SLOWER here: AQE loses the
      // materialized sizes and concurrent stages race-compute the
      // shared cache.
      val d2 = d1.filter(quality >= 0.3)
      // 3. boilerplate gate: duplicated-span coverage among survivors;
      // checkpoint SURVIVOR IDS only — plus the per-doc (source,
      // n_tokens) pair, ~24 B/doc, computed in the SAME scan that
      // evaluates the quality gate, so the final per-source stats
      // stage aggregates the id frame directly and the corpus text is
      // never re-read (or re-split) after this point.
      // Shape hint from the SOURCE scan's stats: d2's own estimate is
      // join-product-blown (153 GB at sf0.1) and would always pick
      // spanCoverage's scalable shape; the docs scan estimate is the
      // trustworthy scale signal (d2 ⊆ docs). LAZY because the
      // scalable shape runs its dup-detection jobs at construction
      // (the exact-count dispatch) — deferring construction into the
      // ids3 stage keeps the soaks' per-stage attribution honest.
      lazy val heavy = Dedup.spanCoverage(
          Dedup.spanHashes(d2, "doc_id", "text", 20, spread = false), 20,
          sizeHint = Some(docs.queryExecution.optimizedPlan.stats.sizeInBytes))
        .filter(col("coverage") > 0.5).select("doc_id")
      val ids3 = stage("ids3 dedup+quality+span", () => (
        d2.select(col("doc_id"), col("source"),
            size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
          .join(heavy, Seq("doc_id"), "left_anti")).localCheckpoint())
      def d3text = docs.join(ids3.select("doc_id"), Seq("doc_id"), "left_semi")
      // 4. fuzzy dedup on what's left. Signatures come from the one-pass
      // minhash kernel — a map-side projection over the survivor scan
      // (no shingle explode, no distinct, no per-doc aggregation); the
      // candidate set's shingle hashes rebuild from the source later.
      val bands = stage("bands minhash-kernel", () =>
        Dedup.lshBands(
          Dedup.minhashFromText(d3text, "doc_id", "text")).localCheckpoint())
      val cand = stage("cand candidatePairs", () =>
        Dedup.candidatePairs(bands).localCheckpoint())
      val candIds = cand.select(col("doc_a").as("doc_id"))
        .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
      // verification needs only HASHES: per-doc DISTINCT 60-bit hash
      // ARRAYS (no gram strings ever materialize; the oracle collapses
      // the same truncation), scored by pairJaccardArrays — no distinct
      // exchange, no per-id size aggregation. The frame has exactly ONE
      // consumer, so it stays inline with no checkpoint (the stage hook
      // still wraps the lazy construction, so soak attribution moves
      // into the final job). Measured vs the r9 exploded row form
      // (r15, N=9 and N=15 rotated at sf0.1): med 1.895 →
      // 1.807 s, min 1.658 → 1.529 s.
      val candDocs = docs.join(candIds, Seq("doc_id"), "left_semi")
      val shCand = stage("shCand candidate-hashes", () =>
        Dedup.shingleHashArrays(candDocs, "doc_id", "text"))
      val pairs = Dedup.pairJaccardArrays(cand, shCand)
        .filter(col("jacc") >= 0.5).select("doc_a", "doc_b")
      val dropFuzzy = Dedup.canonicalize(pairs)
        .filter(col("id") =!= col("canonical"))
        .select(col("id").as("doc_id"))
      ids3.join(dropFuzzy, Seq("doc_id"), "left_anti")
        .groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"))
  }

  private def otherQueries: Map[String, graft.model.QueryFn] = Map(
    // Exact n-gram-collision decontamination (the published long-n-gram
    // overlap method, complementary to d_decontaminate's LSH sweep): a
    // training document sharing ANY 8-gram with a held-out benchmark
    // document is contaminated. The 8-gram inverted index makes this an
    // equi-join — at 100 TB the index is the shuffle and no pair ever
    // forms except through a shared 8-gram. The index key is a 60-bit
    // md5-derived integer (Dedup.shingleHashes), mirrored in the
    // oracle, so the shuffle moves longs instead of gram strings.
    "d_decontaminate_ngram" -> ((s, dir) => {
      // Shape notes (this is the index build + probe, so the exchange
      // structure IS the query):
      //  - gate FIRST: the split is a pure doc_id function, so each
      //    document shingles once (one explode per side over disjoint
      //    subsets = one corpus pass total);
      //  - dedup rides the JOIN's partitioning: repartition(h) below
      //    dropDuplicates(id, h) satisfies the aggregate's clustering
      //    (h ⊂ {id, h}) AND the join's, so each side's gram stream
      //    crosses the wire ONCE — the naive distinct() + join plans
      //    two full exchanges per side (one on (id, h), one on h).
      val docs = Tables.documents(s, dir)
        .withColumn("g", expr(gateSpark("doc_id")))
      def grams(side: org.apache.spark.sql.DataFrame, out: String): org.apache.spark.sql.DataFrame = {
        val ws = split(trim(lower(col("text"))), "\\s+")
        side.select(col("doc_id").as("id"), ws.as("ws"))
          .select(col("id"), explode(
            graft.functions.SpanHashWindows.spanHashWindowsLong(col("ws"), 8)).as("h"))
          .repartition(col("h"))
          .dropDuplicates("id", "h")
          .select(col("id").as(out), col("h"))
      }
      grams(docs.filter(col("g") >= 90), "bench_doc")
        .join(grams(docs.filter(col("g") < 90), "train_doc"), "h")
        .groupBy("bench_doc", "train_doc")
        .agg(count(lit(1)).as("n_collisions"))
    }),

    // Multi-rule quality gate (the Gopher-rules shape): word count,
    // mean word length, type-token ratio, and the top-bigram repetition
    // fraction, each an integer-count signal; the pass flag ANDs the
    // configured windows. Every signal is a PER-DOCUMENT array fold —
    // distinct counts and the top-bigram count come from sorted-array
    // run lengths — so the whole query is one shuffle-free projection.
    // (The previous explode form pushed ~200 rows/doc through two wide
    // aggregations plus a join: corpus-sized shuffles for per-row
    // answers. At 100 TB the fold is the only plan that scales.)
    "t_gopher_quality" -> ((s, dir) => {
      val ws = split(trim(lower(col("text"))), "\\s+")
      val docs = Tables.documents(s, dir).select(col("doc_id"), ws.as("ws"))
      val nWords = size(col("ws")).cast("long")
      // Σ length(word) = length of the separator-less concatenation
      val sumLen = length(concat_ws("", col("ws"))).cast("long")
      // distinct words / top-bigram run: ONE fused native kernel call
      // per document (functions/RunStats.scala) — word hashes computed
      // once, bigram keys are adjacent-hash mixes, primitive sorts
      val rs = graft.functions.BigramRunStats.bigramStats(col("ws"))
      val nDistinct = rs.getField("n_distinct_words")
      val maxRun = rs.getField("max_bigram_run")
      val sumB = rs.getField("n_bigrams")
      val ttr = nDistinct.cast("double") / nWords
      val mwl = sumLen.cast("double") / nWords
      val rep = when(sumB > 0, maxRun.cast("double") / sumB).otherwise(lit(0.0))
      docs.select(
        col("doc_id"), nWords.as("n_words"),
        mwl.as("mean_word_len"), ttr.as("ttr"),
        rep.as("top_bigram_frac"),
        (nWords >= 30 && ttr >= 0.35 && rep <= 0.1 &&
          mwl >= 3.8 && mwl <= 5.2).cast("int").as("pass"))
    }),

    // Domain-mixture table: per-(source, lang) token mass, corpus share,
    // and the up/down-sampling factor that re-mixes the corpus to a
    // uniform per-domain token budget — the "how much of each domain
    // goes in the run" planning step. Two hash aggregations; the
    // corpus-total side is one broadcast row.
    "t_domain_mix" -> ((s, dir) => {
      val tok = Tables.documents(s, dir).select(
        col("source"), col("lang"),
        TextAnalysis.tokenCountWs(col("text")).cast("long").as("n"))
      val g = tok.groupBy("source", "lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
      val tot = g.agg(sum(col("n_tokens")).as("total_tokens"),
        count(lit(1)).as("n_domains"))
      g.crossJoin(broadcast(tot)).select(
        col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("total_tokens")).as("share"),
        (col("total_tokens").cast("double") / (col("n_domains") * col("n_tokens")))
          .as("uniform_weight"))
    }),

    // PII redaction (the Dolma/FineWeb scrub step): emails, international
    // phone numbers and IPv4 addresses replaced with typed tags, plus
    // per-doc match counts for the redaction audit trail. Pure map-side
    // scan work — at 100 TB this is scan-rate bound like every other
    // text op. The synthetic corpus carries no organic PII, so the query
    // seeds each doc with deterministic PII derived from doc_id — the
    // SAME seeding runs in the DuckDB oracle, so the redaction engine
    // (not the seeding) is what the hash gate compares. Detection runs
    // in the fused PiiScan kernel (functions/PiiScan.scala), whose
    // scanners reproduce the Java∩RE2 regex semantics the oracle runs
    // — PiiScanSpec fuzzes the kernel against the regexp_* forms.
    "d_pii_redact" -> ((s, dir) => {
      val seeded = concat(col("text"),
        lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com tel +120655500"),
        lpad((col("doc_id") % 100).cast("string"), 2, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".77"))
      val pii = graft.functions.PiiScan.scanCol(seeded)
      Tables.documents(s, dir).select(col("doc_id"), pii.as("p"))
        .select(col("doc_id"),
          col("p.n_emails").as("n_emails"),
          col("p.n_phones").as("n_phones"),
          col("p.n_ips").as("n_ips"),
          col("p.redacted").as("redacted"))
    }),

    // Unigram surprisal scoring (the CCNet LM-filter shape): score each
    // doc by its mean per-token surprisal under a corpus-trained
    // add-one-smoothed unigram model — wiki-like text scores low,
    // gibberish high. Surprisal is QUANTIZED TO INTEGER BITS —
    // length(bin((N+V) div (c+1))) ≈ log2(1/p) — so the whole query is
    // integer arithmetic end-to-end: no transcendental ever runs, and
    // the DuckDB oracle cannot drift by a ULP of a libm ln(). Shape at
    // 100 TB: one shuffle to count the vocab, one to join tokens back
    // (both on the word key), map-side partial everywhere; the totals
    // side is a one-row broadcast.
    "t_unigram_surprisal" -> ((s, dir) => {
      val words = Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
      val vocab = words.groupBy("w").agg(count(lit(1)).as("c"))
      val tot = vocab.agg(sum(col("c")).as("n_corpus"), count(lit(1)).as("v"))
      words.join(vocab, "w").crossJoin(broadcast(tot))
        .select(col("doc_id"),
          length(bin(expr("(n_corpus + v) DIV (c + 1)"))).cast("long").as("bits"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("bits")).as("sum_bits"))
        .select(col("doc_id"), col("n_tokens"), col("sum_bits"),
          (col("sum_bits").cast("double") / col("n_tokens")).as("mean_bits"))
    }),

    // Vocabulary coverage / OOV-rate filter: fraction of tokens outside
    // a fixed reference vocabulary (tokenizer coverage screening). The
    // vocabulary is a broadcast-scale literal; the scan is one map-side
    // aggregation over exploded tokens.
    "t_vocab_coverage" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("doc_id"),
          explode(split(trim(lower(col("text"))), "\\s+")).as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"),
          sum(when(col("w").isin(vocab: _*), 0L).otherwise(1L)).as("n_oov"))
        .select(col("doc_id"), col("n_words"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_words")).as("oov_rate"),
          (col("n_oov").cast("double") / col("n_words") <= 0.5).cast("int").as("keep"))
    }),

    // Context-window chunking (the curation→packing bridge): each
    // document splits into ChunkLen-token windows on a ChunkStride
    // stride (overlap keeps boundary context), the final window
    // clamped at the document end. Pure map-side: the chunk list is a
    // per-row transform over the word array, posexploded — no shuffle,
    // so at 100 TB the cost is the scan plus the ~1.33x token
    // re-emission from overlap.
    "t_chunk_windows" -> ((s, dir) => {
      val ws = split(trim(lower(col("text"))), "\\s+")
      val nChunks = greatest(lit(0),
        ceil((size(col("ws")) - ChunkLen).cast("double") / ChunkStride).cast("int"))
      Tables.documents(s, dir).select(col("doc_id"), ws.as("ws"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), nChunks),
            i => slice(col("ws"), i * ChunkStride + 1, lit(ChunkLen)))))
        .select(col("doc_id"), col("pos").cast("int").as("chunk_idx"),
          size(col("col")).cast("long").as("n_tokens"),
          md5(concat_ws(" ", col("col"))).as("chunk_hash"))
    })
  )

  /** Chunking geometry for t_chunk_windows: 32-token windows on a
    * 24-token stride (8-token overlap) — the context-window prep step
    * between curation and packing. (Real pipelines use 2-8k windows;
    * the driver corpus averages ~54 words/doc, so the spec-scale
    * geometry is shrunk proportionally to actually exercise the
    * multi-chunk and clamped-tail paths.) */
  private val ChunkLen = 32
  private val ChunkStride = 24

  private val wordsCte =
    """words AS (
      |  SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws
      |  FROM documents)""".stripMargin

  override def oracleSql = Map(
    "t_chunk_windows" ->
      s"""WITH $wordsCte,
         |idx AS (
         |  SELECT id, ws, unnest(range(0, greatest(0,
         |    CAST(ceil((len(ws) - $ChunkLen) / $ChunkStride.0) AS BIGINT)) + 1)) AS chunk_idx
         |  FROM words),
         |c AS (
         |  SELECT id, chunk_idx,
         |    ws[chunk_idx * $ChunkStride + 1 :
         |       least(chunk_idx * $ChunkStride + $ChunkLen, len(ws))] AS chunk
         |  FROM idx)
         |SELECT id AS doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(len(chunk) AS BIGINT) AS n_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_hash
         |FROM c""".stripMargin,
    "t_unigram_surprisal" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        |  FROM documents),
        |v AS (SELECT w, count(*) AS c FROM w GROUP BY w),
        |tot AS (SELECT sum(c) AS n_corpus, count(*) AS vs FROM v),
        |sc AS (
        |  SELECT doc_id, CAST(length(bin((n_corpus + vs) // (c + 1))) AS BIGINT) AS bits
        |  FROM w JOIN v USING (w) CROSS JOIN tot)
        |SELECT doc_id, count(*) AS n_tokens, CAST(sum(bits) AS BIGINT) AS sum_bits,
        |  CAST(sum(bits) AS DOUBLE) / count(*) AS mean_bits
        |FROM sc GROUP BY doc_id""".stripMargin,
    "d_pii_redact" ->
      """WITH seeded AS (
        |  SELECT doc_id,
        |    text || ' contact: user' || CAST(doc_id AS VARCHAR) ||
        |    '@example.com tel +120655500' ||
        |    lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') ||
        |    ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77' AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\+\d{8,15}')) AS BIGINT) AS n_phones,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\+\d{8,15}', '[PHONE]', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g') AS redacted
        |FROM seeded""".stripMargin,
    "d_pipeline_e2e" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |keep1 AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY fp),
        |d1 AS (SELECT d.* FROM documents d JOIN keep1 USING (doc_id)),
        |qc AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nw,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS na,
        |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS np,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for)\b')) AS BIGINT) AS ns
        |  FROM d1),
        |d2 AS MATERIALIZED (
        |  SELECT d1.* FROM d1 JOIN qc USING (doc_id)
        |  WHERE least(1.0, greatest(0.0,
        |    0.25 + CAST(ns AS DOUBLE) / nw * 2.0
        |         - CAST(np AS DOUBLE) / nc * 3.0
        |         + CAST(na AS DOUBLE) / nc * 0.5)) >= 0.3),
        |w3 AS (SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM d2),
        |spans AS MATERIALIZED (
        |  SELECT id, i AS start, i + 19 AS fin,
        |         CAST(concat('0x', substring(md5(array_to_string(ws[i+1:i+20], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT id, ws, unnest(range(greatest(len(ws) - 19, 0))) AS i FROM w3)),
        |duph AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT id) >= 2),
        |iv AS (SELECT id, start, fin FROM spans JOIN duph USING (h)),
        |m AS (SELECT id, start, fin,
        |        max(fin) OVER (PARTITION BY id ORDER BY start
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM iv),
        |wn AS (SELECT id, len(ws) AS nw FROM w3),
        |covt AS (
        |  SELECT m.id,
        |    CAST(sum(greatest(0, fin - greatest(start - 1, coalesce(pm, -1)))) AS DOUBLE)
        |      / min(wn.nw) AS coverage
        |  FROM m JOIN wn ON m.id = wn.id GROUP BY m.id),
        |d3 AS MATERIALIZED (
        |  SELECT * FROM d2
        |  WHERE doc_id NOT IN (SELECT id FROM covt WHERE coverage > 0.5)),
        |wsh AS (SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM d3),
        |sh AS MATERIALIZED (
        |  SELECT DISTINCT id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
        |  FROM (SELECT id, ws, unnest(range(greatest(len(ws) - 2, 0))) AS i FROM wsh)),
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
        |  SELECT id, 4, CAST(m7 AS BIGINT) * 2147483648 + m8 FROM sig),
        |hotb AS (SELECT band, key FROM bands GROUP BY band, key HAVING count(*) > 1024),
        |bandsc AS (
        |  SELECT b.id, b.band, b.key FROM bands b
        |  WHERE NOT EXISTS (SELECT 1 FROM hotb h WHERE h.band = b.band AND h.key = b.key)),
        |cands AS (
        |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
        |  FROM bandsc a JOIN bandsc b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |shh AS (
        |  SELECT DISTINCT id, CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
        |sizesh AS (SELECT id, count(*) AS c FROM shh GROUP BY 1),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS i
        |  FROM cands
        |  JOIN shh sa ON sa.id = doc_a
        |  JOIN shh sb ON sb.id = doc_b AND sb.h = sa.h
        |  GROUP BY 1, 2),
        |prs AS MATERIALIZED (
        |  SELECT doc_a, doc_b
        |  FROM inter JOIN sizesh ca ON ca.id = doc_a JOIN sizesh cb ON cb.id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5),
        |edges AS MATERIALIZED (
        |  SELECT doc_a AS u, doc_b AS v FROM prs
        |  UNION SELECT doc_b, doc_a FROM prs),
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
        |       FROM h3 h JOIN h3 n ON n.id = h.canonical),
        |dropf AS (SELECT id FROM r3 WHERE id != canonical)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS n_tokens
        |FROM d3 WHERE doc_id NOT IN (SELECT id FROM dropf)
        |GROUP BY source""".stripMargin,
    "d_incremental_endstate" ->
      """WITH fpt AS (
        |  SELECT doc_id, source, text,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |k1 AS (
        |  SELECT f.doc_id, f.source, f.text FROM fpt f
        |  JOIN (SELECT fp, min(doc_id) AS first_id FROM fpt GROUP BY 1) fm
        |    ON f.fp = fm.fp AND f.doc_id = fm.first_id),
        |qc AS (
        |  SELECT doc_id,
        |    CAST(length(text) AS BIGINT) AS nc,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS nw,
        |    CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS na,
        |    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS np,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in|is|that|for)\b')) AS BIGINT) AS ns
        |  FROM k1),
        |k2 AS MATERIALIZED (
        |  SELECT k1.* FROM k1 JOIN qc USING (doc_id)
        |  WHERE least(1.0, greatest(0.0,
        |    0.25 + CAST(ns AS DOUBLE) / nw * 2.0
        |         - CAST(np AS DOUBLE) / nc * 3.0
        |         + CAST(na AS DOUBLE) / nc * 0.5)) >= 0.3),
        |w3 AS (SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM k2),
        |spans AS MATERIALIZED (
        |  SELECT id, len(ws) AS n_tokens, i AS start, i + 19 AS fin,
        |         CAST(concat('0x', substring(md5(array_to_string(ws[i+1:i+20], ' ')), 1, 15)) AS BIGINT) AS h
        |  FROM (SELECT id, ws, unnest(range(greatest(len(ws) - 19, 0))) AS i FROM w3)),
        |hfirst AS (SELECT h, min(id) AS h_first FROM spans GROUP BY 1),
        |iv AS (SELECT DISTINCT s.id, s.n_tokens, s.start, s.fin
        |       FROM spans s JOIN hfirst USING (h) WHERE s.id > h_first),
        |m AS (SELECT id, n_tokens, start, fin,
        |        max(fin) OVER (PARTITION BY id ORDER BY start
        |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        |      FROM iv),
        |covt AS (
        |  SELECT id,
        |    CAST(sum(greatest(0, fin - greatest(start - 1, coalesce(pm, -1)))) AS DOUBLE)
        |      / min(n_tokens) AS coverage
        |  FROM m GROUP BY id),
        |k3 AS MATERIALIZED (
        |  SELECT * FROM k2
        |  WHERE doc_id NOT IN (SELECT id FROM covt WHERE coverage > 0.5)),
        |wsh AS (SELECT doc_id AS id, string_split_regex(trim(lower(text)), '\s+') AS ws FROM k3),
        |sh AS MATERIALIZED (
        |  SELECT DISTINCT id, ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS s
        |  FROM (SELECT id, ws, unnest(range(greatest(len(ws) - 2, 0))) AS i FROM wsh)),
        |shh AS MATERIALIZED (
        |  SELECT DISTINCT id, CAST(concat('0x', substring(md5(s), 1, 15)) AS BIGINT) AS h FROM sh),
        |sizes AS (SELECT id, count(*) AS c FROM shh GROUP BY 1),
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
        |  SELECT id, 4, CAST(m7 AS BIGINT) * 2147483648 + m8 FROM sig),
        |hotb AS (SELECT band, key FROM bands GROUP BY band, key HAVING count(*) > 1024),
        |bandsc AS (
        |  SELECT b.id, b.band, b.key FROM bands b
        |  WHERE NOT EXISTS (SELECT 1 FROM hotb h WHERE h.band = b.band AND h.key = b.key)),
        |cands AS (
        |  SELECT DISTINCT a.id AS doc_a, b.id AS doc_b
        |  FROM bandsc a JOIN bandsc b ON a.band = b.band AND a.key = b.key AND a.id < b.id),
        |inter AS (
        |  SELECT doc_a, doc_b, count(*) AS i
        |  FROM cands
        |  JOIN shh sa ON sa.id = doc_a
        |  JOIN shh sb ON sb.id = doc_b AND sb.h = sa.h
        |  GROUP BY 1, 2),
        |dropf AS (
        |  SELECT DISTINCT doc_b AS id
        |  FROM inter JOIN sizes ca ON ca.id = doc_a JOIN sizes cb ON cb.id = doc_b
        |  WHERE CAST(i AS DOUBLE) / (ca.c + cb.c - i) >= 0.5)
        |SELECT doc_id, source,
        |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |FROM k3 WHERE doc_id NOT IN (SELECT id FROM dropf)""".stripMargin,
    "d_decontaminate_ngram" -> {
      val joins = (1 to 8).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
      s"""WITH $wordsCte,
         |sh AS (
         |  SELECT DISTINCT id,
         |    CAST(concat('0x', substring(md5($joins), 1, 15)) AS BIGINT) AS h
         |  FROM words CROSS JOIN range(400) t(i) WHERE i < len(ws) - 7),
         |g AS (SELECT DISTINCT id, ${gateDuck("id")} AS gg FROM sh)
         |SELECT a.id AS bench_doc, b.id AS train_doc, count(*) AS n_collisions
         |FROM sh a JOIN sh b ON a.h = b.h
         |JOIN g ga ON ga.id = a.id JOIN g gb ON gb.id = b.id
         |WHERE ga.gg >= 90 AND gb.gg < 90
         |GROUP BY 1, 2""".stripMargin
    },
    "t_gopher_quality" ->
      s"""WITH $wordsCte,
         |w AS (SELECT id, unnest(ws) AS w FROM words),
         |wa AS (
         |  SELECT id, count(*) AS n_words, count(DISTINCT w) AS n_distinct,
         |         sum(length(w)) AS sum_len
         |  FROM w GROUP BY 1),
         |bg AS (
         |  SELECT id, ws[i+1] || ' ' || ws[i+2] AS s
         |  FROM words CROSS JOIN range(400) t(i) WHERE i < len(ws) - 1),
         |bgc AS (SELECT id, s, count(*) AS c FROM bg GROUP BY 1, 2),
         |bga AS (SELECT id, max(c) AS maxc, sum(c) AS sumc FROM bgc GROUP BY 1)
         |SELECT wa.id AS doc_id, n_words,
         |  CAST(sum_len AS DOUBLE) / n_words AS mean_word_len,
         |  CAST(n_distinct AS DOUBLE) / n_words AS ttr,
         |  coalesce(CAST(maxc AS DOUBLE) / sumc, 0.0) AS top_bigram_frac,
         |  CAST(n_words >= 30 AND CAST(n_distinct AS DOUBLE) / n_words >= 0.35
         |    AND coalesce(CAST(maxc AS DOUBLE) / sumc, 0.0) <= 0.1
         |    AND CAST(sum_len AS DOUBLE) / n_words >= 3.8
         |    AND CAST(sum_len AS DOUBLE) / n_words <= 5.2 AS INT) AS pass
         |FROM wa LEFT JOIN bga ON wa.id = bga.id""".stripMargin,
    "t_domain_mix" ->
      """WITH tok AS (
        |  SELECT source, lang,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |g AS (
        |  SELECT source, lang, count(*) AS n_docs, sum(n) AS n_tokens
        |  FROM tok GROUP BY 1, 2),
        |tot AS (SELECT sum(n_tokens) AS total_tokens, count(*) AS n_domains FROM g)
        |SELECT source, lang, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_tokens AS DOUBLE) / total_tokens AS share,
        |  CAST(total_tokens AS DOUBLE) / (n_domains * n_tokens) AS uniform_weight
        |FROM g CROSS JOIN tot""".stripMargin,
    "t_vocab_coverage" -> {
      val inList = vocab.map(v => s"'$v'").mkString(", ")
      s"""WITH $wordsCte,
         |w AS (SELECT id, unnest(ws) AS w FROM words)
         |SELECT id AS doc_id, count(*) AS n_words,
         |  CAST(sum(CASE WHEN w IN ($inList) THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         |  CAST(sum(CASE WHEN w IN ($inList) THEN 0 ELSE 1 END) AS DOUBLE) / count(*) AS oov_rate,
         |  CAST(CAST(sum(CASE WHEN w IN ($inList) THEN 0 ELSE 1 END) AS DOUBLE) / count(*) <= 0.5 AS INT) AS keep
         |FROM w GROUP BY 1""".stripMargin
    }
  )
}
