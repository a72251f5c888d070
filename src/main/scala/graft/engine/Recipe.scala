package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Derivation recipe contract (reference processing/recipe.py:169-225,
  * registry.py:12-33; ADR 0005/0008): a recipe enumerates idempotent
  * production units from its inputs, each with a content input_hash, and
  * a pure transform materializes the outputs for the units that need
  * (re)computation.
  */
trait Recipe {
  def name: String
  def version: Int

  /** (unit_id: string, input_hash: string) for the current inputs. The
    * hash must cover every contributing input + the recipe version so a
    * changed input or bumped recipe re-derives exactly its units. */
  def units(inputs: DataFrame): DataFrame

  /** Materialize outputs for the given units; every output row must
    * carry its `unit_id`. */
  def transform(inputs: DataFrame, toRun: DataFrame): DataFrame

  /** Readiness gate (reference ADR-0020 parking, processing/engine.py:
    * 354-365, invocation.py:109-152): (unit_id, ready, reason). Units
    * that are not ready are PARKED — recorded in the parked ledger, not
    * run, not hashed — and revived on any later run once their required
    * inputs resolve (each run re-evaluates readiness, which is both the
    * completion wake-up and the periodic sweep of the reference).
    * Default: everything ready. */
  def readiness(inputs: DataFrame, units: DataFrame): DataFrame =
    units.select(col("unit_id"), lit(true).as("ready"),
      lit(null).cast("string").as("reason"))
}

object RecipeRegistry {
  private val recipes = scala.collection.mutable.LinkedHashMap[String, Recipe]()
  def register(r: Recipe): Unit = recipes(r.name) = r
  def get(name: String): Option[Recipe] = recipes.get(name)
  def all: Seq[Recipe] = recipes.values.toSeq
}

/** Executes recipes with content-hash idempotency and lineage
  * (engine.py:287-423): skip unchanged units, overwrite-in-place changed
  * ones, append lineage for every materialization. State lives in three
  * parquet datasets under `stateDir`: ledger/ outputs/ lineage/.
  * (At scale each write is a Delta MERGE in one txn; on plain parquet we
  * rewrite the affected datasets atomically via a temp dir + move.)
  */
class Engine(spark: SparkSession, stateDir: String) {

  /** Empty only when `path` is absent or holds no parquet files (a
    * first run, or a ledger reset to its `_run_seq` alone). Any other
    * read failure propagates: a corrupt ledger read as empty would
    * silently re-insert every unit. */
  private def readOrEmpty(path: String, schemaOf: DataFrame): DataFrame =
    graft.Tables.openIfPresent(spark, path).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schemaOf.schema))

  /** Run one recipe over `inputs`. Returns the per-unit action audit
    * (insert/overwrite/skip/keep). */
  def run(recipe: Recipe, inputs: DataFrame): DataFrame = {
    // intra-run caches register as stage boundaries: a re-run (bench
    // warm pass, engine re-trigger) drops the previous run's blocks
    // first instead of re-caching identical plans (CacheManager
    // "already cached" warnings + storage leak)
    graft.model.StageBoundaries.reset(s"recipe:${recipe.name}")
    def mark(df: DataFrame) =
      graft.model.StageBoundaries.mark(s"recipe:${recipe.name}", df)
    val ledgerPath = s"$stateDir/${recipe.name}/ledger"
    val outPath = s"$stateDir/${recipe.name}/outputs"
    val linPath = s"$stateDir/${recipe.name}/lineage"

    val allUnits = recipe.units(inputs)
      .withColumn("input_hash",
        sha2(concat_ws("|", col("input_hash"), lit(recipe.version)), 256))

    // Park not-ready units (honest rows in parked/, excluded from the
    // hash ledger so they classify as fresh inserts once revived); the
    // parked set is rewritten each run = the reference's sweep.
    val ready = mark(recipe.readiness(inputs, allUnits))
    val parked = ready.filter(!col("ready"))
      .select(col("unit_id"), col("reason"), current_timestamp().as("parked_at"))
    replaceParquet(parked, s"$stateDir/${recipe.name}/parked")
    val units = allUnits.join(
      ready.filter(col("ready")).select("unit_id"), "unit_id")

    // Legacy flat-layout outputs (root-level parquet files from the old
    // full-rewrite path) would corrupt partition discovery under dynamic
    // overwrite. The remedy clears BOTH the data and the ledger BEFORE
    // classification (the ledger's hashes describe the data just
    // deleted, so every unit must re-classify as a fresh insert) — but
    // deleting user data on a structural heuristic is not something the
    // engine may do silently on every run, so the migration is gated on
    // an explicit opt-in conf; without it the layout fails BY NAME.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val outP = new org.apache.hadoop.fs.Path(outPath)
    if (fs.exists(outP) && fs.listStatus(outP).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))) {
      require(spark.conf.getOption(Engine.MigrateFlatLayoutConf).contains("true"),
        s"output dir $outPath holds root-level parquet files — the " +
          "pre-partitioned flat layout, which corrupts partition discovery " +
          s"under dynamic overwrite. Set ${Engine.MigrateFlatLayoutConf}=true " +
          "to clear the flat outputs AND the ledger and re-derive every unit " +
          "ONCE, or clean the directory manually.")
      // preserve the run sequence across the reset: a fresh seq=0 would
      // let the re-derivation's lineage digest collide with the very
      // first run's (same empty prior ledger, possibly same batch)
      val preservedSeq = readRunSeq(fs, ledgerPath)
      fs.delete(outP, true)
      fs.delete(new org.apache.hadoop.fs.Path(ledgerPath), true)
      if (preservedSeq > 0L) {
        fs.mkdirs(new org.apache.hadoop.fs.Path(ledgerPath))
        val out = fs.create(
          new org.apache.hadoop.fs.Path(ledgerPath, "_run_seq"), true)
        out.write(preservedSeq.toString.getBytes("UTF-8")); out.close()
      }
    }
    // Legacy flat lineage files (pre run_id= partitioning) mixed with
    // run_id= subdirs fail partition discovery — tuck them into a
    // literal run_id=legacy partition once, preserving history.
    val linP = new org.apache.hadoop.fs.Path(linPath)
    if (fs.exists(linP)) {
      val flatLin = fs.listStatus(linP).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      if (flatLin.nonEmpty) {
        val legacy = new org.apache.hadoop.fs.Path(linPath, "run_id=legacy")
        fs.mkdirs(legacy)
        flatLin.foreach { st =>
          require(fs.rename(st.getPath,
            new org.apache.hadoop.fs.Path(legacy, st.getPath.getName)),
            s"legacy lineage migration rename failed for ${st.getPath}")
        }
      }
    }

    val ledger = readOrEmpty(ledgerPath, units.select(col("unit_id"), col("input_hash")))
    // A unit that ran before and has since become not-ready appears in
    // the ledger but not in `units`, so the merge would emit a 'keep'
    // row for it — anti-join the parked set so parked units stay OUT of
    // the ledger entirely (they revive as fresh inserts) and the audit
    // carries exactly one row per parked unit.
    val audit = Derivation.idempotentMerge(ledger, units, "unit_id", "input_hash")
      .join(parked.select("unit_id"), Seq("unit_id"), "left_anti")
      // the audit ESCAPES run() as its return value, and this run
      // overwrites the ledger files its lineage reads — a lazy cache
      // would be invalidated by the NEXT run's reset and silently
      // re-read the new ledger (or hit deleted files). localCheckpoint
      // materializes it eagerly and cuts the lineage, so the returned
      // frame stays valid across subsequent runs; blocks free via the
      // ContextCleaner when the caller drops it.
      .unionByName(parked.select(col("unit_id"),
        lit(null).cast("string").as("input_hash"), lit("parked").as("action")))
      .localCheckpoint()

    val toRun = audit.filter(col("action").isin("insert", "overwrite"))
      .select(col("unit_id"))
    if (toRun.isEmpty) {
      // Nothing re-derives, but a unit may have PARKED this run (its
      // 'keep' row was anti-joined out above) — the on-disk ledger must
      // still drop it, or revival would classify as a stale 'skip'.
      commitLedger(audit.filter(col("action") =!= "parked")
        .select(col("unit_id"), col("input_hash")), ledgerPath,
        readRunSeq(fs, ledgerPath) + 1)
      return audit
    }

    val produced = mark(recipe.transform(inputs, toRun))

    // Overwrite-in-place, partition-pruned: outputs are partitioned by
    // unit_id and dynamic overwrite replaces exactly the re-derived
    // units' partitions — untouched units' files are never rewritten, so
    // per-run write cost is bounded by the BATCH, not by table history
    // (the IngestStream.upsertBatch pattern; at scale, a Delta MERGE).
    // The dynamic mode is scoped to THIS write via the writer option
    // (it takes precedence over the session conf) — never mutated on the
    // shared session. Legacy flat layouts were cleared before the ledger
    // read above, so partition discovery here is always clean.
    produced.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("unit_id").parquet(outPath)

    // ---- commit protocol (SURVEY §7.4 hard-part 5): outputs →
    // lineage → ledger, with the LEDGER swap as the single commit
    // point. Lineage lands FIRST in a run directory whose name is a
    // deterministic digest of (run sequence, the batch's (unit_id,
    // input_hash) set), written mode-overwrite: a crash anywhere before
    // the ledger swap leaves the old ledger AND the old sequence in
    // place, so the re-run classifies the SAME batch, rewrites the same
    // output partitions (idempotent dynamic overwrite), and overwrites
    // the SAME lineage run directory — no lineage row can be lost (the
    // old failure mode: ledger committed, append crashed) and none can
    // duplicate. The sequence (bumped at every COMMITTED run) keeps two
    // genuinely distinct runs that re-derive an identical batch — a
    // parked-then-revived unit with unchanged inputs, or an opt-in
    // flat-layout reset — from colliding on one run directory and
    // mode-overwriting the earlier run's lineage history.
    val batch = audit.filter(col("action").isin("insert", "overwrite"))
      .select(col("unit_id"), col("input_hash"))
      .collect() // unit-CATALOG-sized metadata, never data rows
      .map(r => s"${r.getString(0)}\u0000${r.getString(1)}")
      .sorted
    val runSeq = readRunSeq(fs, ledgerPath)
    val runId = {
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(s"seq:$runSeq ".getBytes("UTF-8"))
      batch.foreach(s => md.update(s.getBytes("UTF-8")))
      md.digest().map("%02x".format(_)).mkString.take(16)
    }
    // Lineage: one row per (re)materialized unit (engine.py:384-404),
    // hive-partitioned by run_id so history stays append-only per run
    // while each run's own rows are idempotent under re-execution.
    val lineage = audit.filter(col("action").isin("insert", "overwrite"))
      .select(col("unit_id"), col("input_hash"),
        lit(recipe.name).as("recipe"), lit(recipe.version).as("recipe_version"),
        current_timestamp().as("derived_at"))
    lineage.write.mode("overwrite").parquet(s"$linPath/run_id=$runId")

    // Ledger LAST — the commit point. It reflects the post-merge hash
    // state; parked units stay OUT of it so a revived unit classifies
    // as a fresh insert. (Full rewrite is fine here: the ledger is
    // unit-level METADATA — two small columns per unit — not data; it
    // does not grow with history.)
    commitLedger(audit.filter(col("action") =!= "parked")
      .select(col("unit_id"), col("input_hash")), ledgerPath, runSeq + 1)
    audit
  }

  /** Monotonic committed-run counter, an `_run_seq` text file living
    * INSIDE the ledger directory so the ledger swap commits both
    * atomically (underscore-prefixed files are invisible to parquet
    * reads). A crash-replay of an interrupted run sees the unchanged
    * pre-swap sequence and regenerates the SAME run id; any committed
    * run — including park-only and all-skip runs — advances it, so two
    * distinct runs never share a lineage directory even when they
    * re-derive an identical (unit_id, input_hash) batch. */
  private def readRunSeq(fs: org.apache.hadoop.fs.FileSystem,
                         ledgerPath: String): Long = {
    val p = new org.apache.hadoop.fs.Path(ledgerPath, "_run_seq")
    if (!fs.exists(p)) 0L
    else {
      val in = fs.open(p)
      val buf = new Array[Byte](32)
      val n = math.max(0, in.read(buf)); in.close()
      new String(buf, 0, n, "UTF-8").trim.toLong
    }
  }

  /** Ledger commit: [[replaceParquet]] plus the run sequence riding in
    * the same directory swap. */
  private def commitLedger(df: DataFrame, path: String, nextSeq: Long): Unit = {
    val tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(new org.apache.hadoop.fs.Path(tmp, "_run_seq"), true)
    out.write(nextSeq.toString.getBytes("UTF-8")); out.close()
    val dst = new org.apache.hadoop.fs.Path(path)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }

  /** Atomic-ish full rewrite: write to tmp, swap directories. */
  private def replaceParquet(df: DataFrame, path: String): Unit = {
    val tmp = path + ".tmp"
    df.write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dst = new org.apache.hadoop.fs.Path(path)
    fs.delete(dst, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
  }
}

object Engine {
  /** Opt-in conf enabling the one-time destructive migration of
    * pre-partitioned flat-layout outputs (clears outputs + ledger so
    * every unit re-derives). Off by default: the engine refuses to
    * delete user data on a structural heuristic alone. */
  val MigrateFlatLayoutConf = "graft.engine.migrateFlatLayout"
}

/** Content hashing for recipe units (recipe.py:28-42 hashes asset
  * checksums, never raw content rows). Per-granule digests are computed
  * with a commutative XOR-combine of per-row 64-bit hashes — one plain
  * aggregation, order-independent, and NEVER a collect of pixels into a
  * driver-sized array (a granule can hold 10^8 pixels at real scale).
  * Unit hashes then digest the SORTED, bounded list of granule digests —
  * the 2-level shape: content → granule hash → unit hash. */
object RecipeHash {
  import org.apache.spark.sql.Column

  /** Order-independent 64-bit content digest over the given columns,
    * as an aggregate expression (distinct rows assumed, which (y,x)
    * pixel frames guarantee). */
  def rowDigest(cols: Column*): Column =
    bit_xor(xxhash64(cols: _*))

  /** Unit-level hash over a bounded set of granule digests. */
  def combine(granuleHash: Column): Column =
    sha2(concat_ws("|", sort_array(collect_list(granuleHash.cast("string")))), 256)
}

/** Identity/promotion recipe: publish staging granules unchanged — the
  * reference's bootstrap recipe (recipes/promotion.py:1-12). Unit = one
  * granule; hash = the granule content digest. */
class PromotionRecipe extends Recipe {
  val name = "promotion"; val version = 1
  def units(inputs: DataFrame): DataFrame =
    inputs.groupBy(col("granule_id").as("unit_id"))
      .agg(RecipeHash.rowDigest(col("y"), col("x"), col("v")).cast("string").as("input_hash"))
  def transform(inputs: DataFrame, toRun: DataFrame): DataFrame =
    inputs.withColumnRenamed("granule_id", "unit_id")
      .join(toRun, "unit_id")
}

/** Anomaly recipe — downstream of climatology in the derivation DAG
  * (docs/adr/0007 rolling anomaly): unit = one timestep; inputs = the
  * slice AND its slot normal, so the unit's input_hash covers both and
  * a re-derived climatology automatically invalidates its dependents
  * (the X5 staleness chain, processing/invocation.py:71-105). */
class AnomalyRecipe(clim: DataFrame) extends Recipe {
  val name = "anomaly"; val version = 1
  private def climSlots = clim.select(col("unit_id").as("slot"), col("y"), col("x"), col("clim"))
  private def slotted(inputs: DataFrame) =
    inputs.withColumn("slot", month(col("t")).cast("string"))
  private def withClim(inputs: DataFrame) =
    slotted(inputs).join(climSlots, Seq("slot", "y", "x"))
  /** Units enumerate from the INPUT slices alone (left join): a slice
    * whose slot normal hasn't been derived yet still becomes a unit —
    * it just isn't READY, so it parks instead of silently vanishing
    * (the reference's NOT_READY contract, engine.py:354-365). */
  def units(inputs: DataFrame): DataFrame =
    slotted(inputs).join(climSlots, Seq("slot", "y", "x"), "left")
      .groupBy(col("t").cast("string").as("unit_id"))
      .agg(RecipeHash.rowDigest(col("y"), col("x"), col("v"), col("clim"))
        .cast("string").as("input_hash"))
  override def readiness(inputs: DataFrame, units: DataFrame): DataFrame =
    slotted(inputs).join(climSlots, Seq("slot", "y", "x"), "left")
      .groupBy(col("t").cast("string").as("unit_id"))
      .agg(sum(when(col("clim").isNull, 1).otherwise(0)).as("miss"))
      .select(col("unit_id"), (col("miss") === 0).as("ready"),
        when(col("miss") > 0, concat(lit("missing climatology normal for "),
          col("miss"), lit(" pixel(s)"))).otherwise(lit(null)).cast("string").as("reason"))
  def transform(inputs: DataFrame, toRun: DataFrame): DataFrame =
    withClim(inputs)
      .withColumn("unit_id", col("t").cast("string"))
      .join(toRun, "unit_id")
      .select(col("unit_id"), col("t"), col("y"), col("x"),
        (col("v") - col("clim")).as("anom"))
}

/** Zonal-stats gold table recipe (analysis/zonal_stats/service.py →
  * BoundaryZonalStats): unit = one timestep; output = per (boundary,
  * timestep) stats rows. Inputs must carry (t, y, x, v, lon, lat) and a
  * broadcastable `boundaries` frame is bound at construction.
  *
  * `levels` mirrors the collection's `boundary_stats_levels: int[]`
  * (core/models/collection.py:41): when non-empty the boundary table must
  * carry a `level` column, only the configured levels participate
  * (service.py:158-175 groups boundaries by level), and each granule fans
  * out into per-(level, boundary, t) gold rows. The level is part of the
  * key of ONE zonal index — the pixel scan is paid once, not once per
  * level. `transform` runs the zonal scan job when called. */
class ZonalStatsRecipe(boundaries: DataFrame, levels: Seq[Int] = Nil) extends Recipe {
  val name = "zonal_stats"; val version = 1
  private val bound =
    if (levels.isEmpty) boundaries
    else boundaries.filter(col("level").isin(levels.map(Integer.valueOf): _*))
  def units(inputs: DataFrame): DataFrame =
    inputs.groupBy(col("t").cast("string").as("unit_id"))
      .agg(RecipeHash.rowDigest(col("y"), col("x"), col("v"))
        .cast("string").as("input_hash"))
  def transform(inputs: DataFrame, toRun: DataFrame): DataFrame = {
    val scoped = inputs.withColumn("unit_id", col("t").cast("string")).join(toRun, "unit_id")
    val stats =
      if (levels.isEmpty) graft.ops.Zonal.zonalStats(scoped, bound)
      else graft.ops.Zonal.zonalStatsLeveled(scoped, bound)
    stats.withColumn("unit_id", col("t").cast("string"))
  }
}

/** Slot climatology recipe (docs/adr/0007): unit = calendar slot
  * (month-of-year); inputs = all granules landing in that slot across
  * years; output = per-pixel mean with contributing count. */
class ClimatologyRecipe extends Recipe {
  val name = "climatology"; val version = 1
  private def slotted(inputs: DataFrame) =
    inputs.withColumn("slot", month(col("t")))
  def units(inputs: DataFrame): DataFrame =
    slotted(inputs)
      .groupBy(col("t"), col("slot"))
      .agg(RecipeHash.rowDigest(col("y"), col("x"), col("v")).as("ghash"))
      .groupBy(col("slot").cast("string").as("unit_id"))
      .agg(RecipeHash.combine(col("ghash")).as("input_hash"))
  def transform(inputs: DataFrame, toRun: DataFrame): DataFrame =
    slotted(inputs)
      .withColumn("unit_id", col("slot").cast("string"))
      .join(toRun, "unit_id")
      .groupBy("unit_id", "y", "x")
      .agg(avg(col("v")).as("clim"), count(lit(1)).as("n_contrib"))
}
