package graft.engine

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

class EngineSpec extends SparkSpec {
  import spark.implicits._

  private def mkInputs(bump: Boolean) = {
    // 3 months × 2×2 pixels; when `bump`, February's data changes.
    val rows = for {
      m <- 1 to 3; y <- 0 to 1; x <- 0 to 1
    } yield (java.sql.Timestamp.valueOf(f"2024-$m%02d-01 00:00:00"), y, x,
      (m * 10 + y * 2 + x).toDouble + (if (bump && m == 2) 100.0 else 0.0))
    rows.toDF("t", "y", "x", "v")
  }

  test("climatology recipe: idempotent skip, targeted re-derivation, lineage") {
    val stateDir = Files.createTempDirectory("graft-engine-").toString
    val engine = new Engine(spark, stateDir)
    val recipe = new ClimatologyRecipe

    // First run: every slot inserts.
    val a1 = engine.run(recipe, mkInputs(bump = false))
    assert(a1.groupBy("action").count().as[(String, Long)].collect().toMap
      == Map("insert" -> 3))
    val out1 = spark.read.parquet(s"$stateDir/climatology/outputs")
    assert(out1.count() == 12) // 3 slots × 4 pixels

    // Re-run with identical inputs: all skip, outputs untouched.
    val a2 = engine.run(recipe, mkInputs(bump = false))
    assert(a2.groupBy("action").count().as[(String, Long)].collect().toMap
      == Map("skip" -> 3))

    // February's input changes: exactly that slot overwrites.
    val a3 = engine.run(recipe, mkInputs(bump = true))
    val acts = a3.as[(String, String, String)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(acts == Map("1" -> "skip", "2" -> "overwrite", "3" -> "skip"))
    val out3 = spark.read.parquet(s"$stateDir/climatology/outputs")
    assert(out3.count() == 12)
    val feb = out3.filter(col("unit_id") === "2" && col("y") === 0 && col("x") === 0)
      .select("clim").as[Double].collect()(0)
    assert(feb == 120.0)

    // Lineage: 3 inserts + 1 overwrite = 4 materializations.
    assert(spark.read.parquet(s"$stateDir/climatology/lineage").count() == 4)
  }

  test("crash window cannot drop or duplicate lineage (ledger swap is the commit point)") {
    val stateDir = Files.createTempDirectory("graft-engine-crash-").toString
    val engine = new Engine(spark, stateDir)
    val ledgerDir = java.nio.file.Paths.get(s"$stateDir/climatology/ledger")
    val linDir = s"$stateDir/climatology/lineage"

    engine.run(new ClimatologyRecipe, mkInputs(bump = false)) // 3 inserts
    assert(spark.read.parquet(linDir).count() == 3)

    // snapshot the committed ledger, then run the February bump —
    // outputs + lineage land, ledger swaps
    val snap = Files.createTempDirectory("graft-ledger-snap-")
    def copyDir(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
      java.nio.file.Files.walk(from).forEach { p =>
        val t = to.resolve(from.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(t)
        else java.nio.file.Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
    copyDir(ledgerDir, snap)
    engine.run(new ClimatologyRecipe, mkInputs(bump = true)) // 1 overwrite
    assert(spark.read.parquet(linDir).count() == 4)

    // SIMULATED CRASH between the lineage write and the ledger swap:
    // restore the pre-run ledger (outputs and lineage keep the new
    // state — exactly the on-disk picture a kill in that window leaves)
    def rmDir(p: java.nio.file.Path): Unit = if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(java.nio.file.Files.delete(_))
    rmDir(ledgerDir)
    copyDir(snap, ledgerDir)

    // RE-RUN after the crash: the old ledger classifies the same batch
    // again, the same lineage run directory overwrites idempotently —
    // no duplicate rows — and the ledger commit completes
    val a = engine.run(new ClimatologyRecipe, mkInputs(bump = true))
    assert(a.filter(col("action") === "overwrite").count() == 1)
    val lineage = spark.read.parquet(linDir)
    assert(lineage.count() == 4,
      s"crash re-run must not duplicate lineage rows, got ${lineage.count()}")
    // one row per materialization, and February's carries the new hash
    assert(lineage.groupBy("unit_id", "input_hash").count()
      .filter(col("count") > 1).count() == 0)
    // a THIRD run with identical inputs is all-skip and leaves lineage alone
    val a2 = engine.run(new ClimatologyRecipe, mkInputs(bump = true))
    assert(a2.filter(col("action") =!= "skip").count() == 0)
    assert(spark.read.parquet(linDir).count() == 4)
  }

  test("re-deriving an identical batch in a LATER run never overwrites earlier lineage") {
    val stateDir = Files.createTempDirectory("graft-engine-seq-").toString
    val engine = new Engine(spark, stateDir)
    val linDir = s"$stateDir/climatology/lineage"
    val ledgerDir = s"$stateDir/climatology/ledger"

    engine.run(new ClimatologyRecipe, mkInputs(bump = false)) // 3 inserts
    assert(spark.read.parquet(linDir).count() == 3)

    // Simulate a ledger reset that re-classifies the ORIGINAL batch
    // (the park-then-revive / opt-in-migration shape): drop the ledger
    // parquet but keep the committed run sequence, exactly what the
    // flat-layout migration preserves.
    val lp = java.nio.file.Paths.get(ledgerDir)
    java.nio.file.Files.list(lp).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(java.nio.file.Files.delete(_))

    val a = engine.run(new ClimatologyRecipe, mkInputs(bump = false))
    assert(a.filter(col("action") === "insert").count() == 3)
    // identical (unit_id, input_hash) batch, but a DISTINCT run id: the
    // first run's lineage rows (and derived_at history) must survive
    val lineage = spark.read.parquet(linDir)
    assert(lineage.count() == 6,
      s"second derivation of the same batch must append a new run " +
        s"directory, not overwrite the first — got ${lineage.count()} rows")
    assert(lineage.select("run_id").distinct().count() == 2)
  }

  test("engine rewrites only re-derived units' partitions (pruned writes)") {
    val stateDir = Files.createTempDirectory("graft-engine5-").toString
    val engine = new Engine(spark, stateDir)
    engine.run(new ClimatologyRecipe, mkInputs(bump = false))

    def partFiles(unit: String): Map[String, Long] = {
      val dir = java.nio.file.Paths.get(s"$stateDir/climatology/outputs/unit_id=$unit")
      val files = java.nio.file.Files.list(dir).toArray.map(_.asInstanceOf[java.nio.file.Path])
      files.filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.toString -> java.nio.file.Files.getLastModifiedTime(p).toMillis).toMap
    }
    val before1 = partFiles("1"); val before3 = partFiles("3")
    assert(before1.nonEmpty && before3.nonEmpty)
    Thread.sleep(1100) // FS mtime granularity

    // February changes: only slot 2's partition may be rewritten.
    engine.run(new ClimatologyRecipe, mkInputs(bump = true))
    assert(partFiles("1") == before1, "slot-1 partition files were rewritten")
    assert(partFiles("3") == before3, "slot-3 partition files were rewritten")
    val feb = spark.read.parquet(s"$stateDir/climatology/outputs")
      .filter(col("unit_id") === "2" && col("y") === 0 && col("x") === 0)
      .select("clim").as[Double].collect()(0)
    assert(feb == 120.0)
  }

  test("legacy flat-layout outputs: clearing also clears the ledger so skipped units re-derive") {
    val stateDir = Files.createTempDirectory("graft-engine6-").toString
    val engine = new Engine(spark, stateDir)
    engine.run(new ClimatologyRecipe, mkInputs(bump = false))

    // Simulate the old flat rewrite: root-level parquet files, no
    // unit_id= partition dirs — the state an upgraded deployment finds.
    val outDir = s"$stateDir/climatology/outputs"
    val flat = spark.read.parquet(outDir)
    val tmp = Files.createTempDirectory("graft-flat-").toString
    flat.coalesce(1).write.mode("overwrite").parquet(tmp)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(outDir))
    new java.io.File(outDir).mkdirs()
    java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(p => java.nio.file.Files.copy(p,
        java.nio.file.Paths.get(outDir, p.getFileName.toString)))

    // Without the opt-in the engine must refuse BY NAME rather than
    // silently delete user data on a structural heuristic.
    val refusal = intercept[IllegalArgumentException] {
      engine.run(new ClimatologyRecipe, mkInputs(bump = false))
    }
    assert(refusal.getMessage.contains(Engine.MigrateFlatLayoutConf))

    // Identical inputs would classify every unit 'skip' against the old
    // ledger — but the flat data is about to be cleared, so the engine
    // must drop the ledger too and re-derive EVERYTHING, or skipped
    // units' rows are silently lost.
    spark.conf.set(Engine.MigrateFlatLayoutConf, "true")
    val audit = try engine.run(new ClimatologyRecipe, mkInputs(bump = false))
    finally spark.conf.unset(Engine.MigrateFlatLayoutConf)
    assert(audit.groupBy("action").count().as[(String, Long)].collect().toMap
      == Map("insert" -> 3), "flat-layout migration must re-derive every unit")
    val out = spark.read.parquet(outDir)
    assert(out.count() == 12, "full output set must be re-materialized")
    assert(out.filter(col("unit_id") === "2").count() == 4)
  }

  test("zonal recipe fills the gold table; late-arriving timestep resurrects (X4)") {
    val stateDir = Files.createTempDirectory("graft-engine3-").toString
    val engine = new Engine(spark, stateDir)
    val boundaries = Seq(
      (0, "POLYGON ((-180 -90, 180 -90, 180 90, -180 90, -180 -90))",
        -180.0, -90.0, 180.0, 90.0)).toDF("boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    val recipe = new ZonalStatsRecipe(boundaries)
    def withGeo(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("lon", col("x").cast("double"))
      .withColumn("lat", col("y").cast("double"))

    // months 1..2 arrive first; month 3 arrives late => only it derives.
    val first = withGeo(mkInputs(bump = false)).filter(month(col("t")) <= 2)
    val a1 = engine.run(recipe, first)
    assert(a1.filter(col("action") === "insert").count() == 2)
    val late = withGeo(mkInputs(bump = false))
    val a2 = engine.run(recipe, late)
    assert(a2.as[(String, String, String)].collect()
      .map(r => r._1.take(7) -> r._3).toMap ==
      Map("2024-01" -> "skip", "2024-02" -> "skip", "2024-03" -> "insert"))
    val gold = spark.read.parquet(s"$stateDir/zonal_stats/outputs")
    assert(gold.count() == 3) // 1 boundary × 3 timesteps
    assert(gold.filter(col("zcount") === 4).count() == 3)
  }

  test("zonal recipe with boundary_stats_levels fans one granule into per-level rows") {
    val stateDir = Files.createTempDirectory("graft-engine4-").toString
    val engine = new Engine(spark, stateDir)
    // level 1: the whole 2×2 frame; level 2: west/east halves;
    // level 3 configured OUT via the levels list, must not appear.
    val boundaries = Seq(
      (1, 10, "POLYGON ((-1 -1, 2 -1, 2 2, -1 2, -1 -1))", -1.0, -1.0, 2.0, 2.0),
      (2, 20, "POLYGON ((-1 -1, 0.5 -1, 0.5 2, -1 2, -1 -1))", -1.0, -1.0, 0.5, 2.0),
      (2, 21, "POLYGON ((0.5 -1, 2 -1, 2 2, 0.5 2, 0.5 -1))", 0.5, -1.0, 2.0, 2.0),
      (3, 30, "POLYGON ((-1 -1, 2 -1, 2 2, -1 2, -1 -1))", -1.0, -1.0, 2.0, 2.0)
    ).toDF("level", "boundary_id", "geom_wkt", "bw", "bs", "be", "bn")
    val recipe = new ZonalStatsRecipe(boundaries, levels = Seq(1, 2))
    val inputs = mkInputs(bump = false)
      .withColumn("lon", col("x").cast("double"))
      .withColumn("lat", col("y").cast("double"))
    val a1 = engine.run(recipe, inputs)
    assert(a1.filter(col("action") === "insert").count() == 3)
    val gold = spark.read.parquet(s"$stateDir/zonal_stats/outputs")
    // 3 timesteps × (1 level-1 + 2 level-2) boundaries; level 3 excluded
    assert(gold.count() == 9)
    assert(gold.select("level").distinct().as[Int].collect().toSet == Set(1, 2))
    // level-1 covers all 4 pixels; each level-2 half covers 2
    assert(gold.filter(col("level") === 1 && col("zcount") === 4).count() == 3)
    assert(gold.filter(col("level") === 2 && col("zcount") === 2).count() == 6)
    // per-level sums reconcile with the full frame
    val bySum = gold.groupBy("level").agg(sum("zsum").cast("double").as("s"))
      .as[(Int, Double)].collect().toMap
    assert(bySum(1) == bySum(2))
  }

  test("derivation chain: changed input cascades climatology → anomaly (X5)") {
    val stateDir = Files.createTempDirectory("graft-chain-").toString
    val engine = new Engine(spark, stateDir)
    val clim = new ClimatologyRecipe

    // round 1: both stages derive everything
    engine.run(clim, mkInputs(bump = false))
    val climOut1 = spark.read.parquet(s"$stateDir/climatology/outputs")
    val anom = new AnomalyRecipe(climOut1)
    val a1 = engine.run(anom, mkInputs(bump = false))
    assert(a1.filter(col("action") === "insert").count() == 3)
    // anomaly of v against its own slot mean of one year = 0 everywhere
    val out1 = spark.read.parquet(s"$stateDir/anomaly/outputs")
    assert(out1.filter(col("anom") =!= 0.0).isEmpty)

    // round 2: February input changes → climatology slot 2 overwrites →
    // anomaly unit for the February timestep re-derives; others skip.
    engine.run(clim, mkInputs(bump = true))
    val climOut2 = spark.read.parquet(s"$stateDir/climatology/outputs")
    val a2 = engine.run(new AnomalyRecipe(climOut2), mkInputs(bump = true))
    val acts = a2.as[(String, String, String)].collect()
      .map(r => r._1.take(7) -> r._3).toMap
    assert(acts == Map("2024-01" -> "skip", "2024-02" -> "overwrite", "2024-03" -> "skip"))
  }

  test("not-ready units park with a reason and resurrect when inputs resolve (X4)") {
    val stateDir = Files.createTempDirectory("graft-park-").toString
    val engine = new Engine(spark, stateDir)
    val clim12 = { // normals derived for slots 1 and 2 only
      val d = Files.createTempDirectory("graft-park-clim-").toString
      new Engine(spark, d).run(new ClimatologyRecipe,
        mkInputs(bump = false).filter(month(col("t")) <= 2))
      spark.read.parquet(s"$d/climatology/outputs")
    }

    // March has no slot normal yet: it PARKS, the others derive.
    val a1 = engine.run(new AnomalyRecipe(clim12), mkInputs(bump = false))
    val acts1 = a1.as[(String, String, String)].collect().map(r => r._1.take(7) -> r._3).toMap
    assert(acts1 == Map("2024-01" -> "insert", "2024-02" -> "insert", "2024-03" -> "parked"))
    val parked = spark.read.parquet(s"$stateDir/anomaly/parked")
    assert(parked.count() == 1)
    assert(parked.select("reason").as[String].collect()(0).contains("missing climatology"))
    assert(spark.read.parquet(s"$stateDir/anomaly/outputs")
      .select("unit_id").distinct().count() == 2)

    // The slot-3 normal lands: the next run IS the sweep — the parked
    // unit revives as a fresh insert; the parked ledger empties.
    val climAll = {
      val d = Files.createTempDirectory("graft-park-clim2-").toString
      new Engine(spark, d).run(new ClimatologyRecipe, mkInputs(bump = false))
      spark.read.parquet(s"$d/climatology/outputs")
    }
    val a2 = engine.run(new AnomalyRecipe(climAll), mkInputs(bump = false))
    val acts2 = a2.as[(String, String, String)].collect().map(r => r._1.take(7) -> r._3).toMap
    assert(acts2 == Map("2024-01" -> "skip", "2024-02" -> "skip", "2024-03" -> "insert"))
    assert(spark.read.parquet(s"$stateDir/anomaly/parked").isEmpty)
    assert(spark.read.parquet(s"$stateDir/anomaly/outputs")
      .select("unit_id").distinct().count() == 3)
  }

  test("a previously-run unit that becomes not-ready leaves the ledger (parked, not kept)") {
    val stateDir = Files.createTempDirectory("graft-park2-").toString
    val engine = new Engine(spark, stateDir)
    def climFor(maxMonth: Int) = {
      val d = Files.createTempDirectory("graft-park2-clim-").toString
      new Engine(spark, d).run(new ClimatologyRecipe,
        mkInputs(bump = false).filter(month(col("t")) <= maxMonth))
      spark.read.parquet(s"$d/climatology/outputs")
    }

    // All three slots derive, then March's normal disappears: the March
    // unit must emit exactly ONE audit row (parked), and its old hash
    // must leave the ledger — not survive as a 'keep' row.
    engine.run(new AnomalyRecipe(climFor(3)), mkInputs(bump = false))
    val a2 = engine.run(new AnomalyRecipe(climFor(2)), mkInputs(bump = false))
    val march = a2.filter(col("unit_id").startsWith("2024-03"))
    assert(march.count() == 1)
    assert(march.select("action").as[String].collect()(0) == "parked")
    val ledger = spark.read.parquet(s"$stateDir/anomaly/ledger")
    assert(ledger.filter(col("unit_id").startsWith("2024-03")).isEmpty)

    // The normal returns with UNCHANGED content: the revived unit must
    // classify as a fresh insert (parked units never 'skip' back in).
    val a3 = engine.run(new AnomalyRecipe(climFor(3)), mkInputs(bump = false))
    val acts3 = a3.as[(String, String, String)].collect().map(r => r._1.take(7) -> r._3).toMap
    assert(acts3 == Map("2024-01" -> "skip", "2024-02" -> "skip", "2024-03" -> "insert"))
    assert(spark.read.parquet(s"$stateDir/anomaly/parked").isEmpty)
  }

  test("promotion recipe publishes granules unchanged and idempotently") {
    val stateDir = Files.createTempDirectory("graft-engine2-").toString
    val engine = new Engine(spark, stateDir)
    val inputs = Seq(("g1", 0, 0, 1.0), ("g1", 0, 1, 2.0), ("g2", 0, 0, 9.0))
      .toDF("granule_id", "y", "x", "v")
    val a1 = engine.run(new PromotionRecipe, inputs)
    assert(a1.filter(col("action") === "insert").count() == 2)
    assert(spark.read.parquet(s"$stateDir/promotion/outputs").count() == 3)
    val a2 = engine.run(new PromotionRecipe, inputs)
    assert(a2.filter(col("action") === "skip").count() == 2)
  }

  test("an audit frame stays valid after the NEXT run rewrites the ledger") {
    import java.nio.file.Files
    val stateDir = Files.createTempDirectory("graft-engine3-").toString
    val engine = new Engine(spark, stateDir)
    val inputs = Seq(("g1", 0, 0, 1.0), ("g2", 0, 0, 9.0))
      .toDF("granule_id", "y", "x", "v")
    val a1 = engine.run(new PromotionRecipe, inputs)
    val a1Actions = a1.collect().map(r =>
      (r.getString(0), r.getString(2))).sortBy(_._1).toSeq
    engine.run(new PromotionRecipe, inputs) // overwrites the ledger a1's lineage read
    // the ESCAPED first-run audit must still read 'insert', not
    // recompute against the new ledger (which would say 'skip') or
    // die on the replaced parquet files
    val again = a1.collect().map(r =>
      (r.getString(0), r.getString(2))).sortBy(_._1).toSeq
    assert(again == a1Actions && a1Actions.forall(_._2 == "insert"),
      s"first audit drifted: $a1Actions -> $again")
  }

  test("a corrupt ledger fails the run; a ledger holding no data files reads as empty") {
    val stateDir = Files.createTempDirectory("graft-engine-ledger-").toString
    val engine = new Engine(spark, stateDir)
    val ledgerDir = new java.io.File(s"$stateDir/climatology/ledger")
    engine.run(new ClimatologyRecipe, mkInputs(bump = false))
    val parts = ledgerDir.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(parts.nonEmpty)

    // truncated part files: an unreadable ledger must not read as "no
    // units" (that would re-insert every unit over existing outputs)
    parts.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      Files.write(f.toPath, bytes.take(bytes.length / 2))
    }
    intercept[Exception](engine.run(new ClimatologyRecipe, mkInputs(bump = false)).collect())
    assert(spark.read.parquet(s"$stateDir/climatology/lineage").count() == 3,
      "a failed run must not append lineage")

    // only the run counter left: the ledger is empty, every unit inserts
    parts.foreach(_.delete())
    assert(!ledgerDir.listFiles().exists(_.getName.endsWith(".parquet")))
    val again = engine.run(new ClimatologyRecipe, mkInputs(bump = false))
    assert(again.groupBy("action").count().as[(String, Long)].collect().toMap
      == Map("insert" -> 3))
  }

  test("transitiveDownstream: driver BFS equals the distributed walk exactly") {
    // diamond + chain + disconnected node; seed reaches 12 by two
    // routes (depths 1 and 2) — min must win on both paths
    val edges = Seq(
      (1L, 11L), (1L, 12L), (11L, 12L), (12L, 13L), (13L, 14L),
      (2L, 21L), (99L, 98L)).toDF("src", "dst")
    val seeds = Seq(1L, 2L).toDF("unit_id")
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1))).sortBy(_._1).toSeq
    val fast = sorted(Derivation.transitiveDownstream(edges, seeds, 3))
    val dist = sorted(Derivation.transitiveDownstream(edges, seeds, 3, driverCap = 0))
    assert(fast == dist, s"driver $fast vs distributed $dist")
    assert(fast == Seq((1L, 0), (2L, 0), (11L, 1), (12L, 1), (13L, 2), (14L, 3), (21L, 1)))
  }
}
