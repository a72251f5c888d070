package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Derivation-engine primitives (SURVEY §2.9, reference
  * processing/engine.py + invocation.py):
  *
  *  - content-hash idempotent upsert (X2): a unit re-run is a no-op when
  *    the recorded input_hash matches; changed inputs overwrite in place;
  *    new units insert. Ref: engine.py:224-237,344-352.
  *  - staleness invalidation (X5): a changed input walks the lineage DAG
  *    forward transitively and re-dispatches every downstream unit.
  *    Ref: invocation.py:71-105,210-247.
  *
  * Both are pure DataFrame transforms: MERGE is a full outer join keyed
  * on unit id (at scale: a Delta/Iceberg MERGE with the same predicate);
  * the transitive walk is a bounded iterative join (lineage DAGs are
  * shallow — depth = recipe chain length).
  */
object Derivation {

  /** Classify an incoming batch against existing state:
    * 'skip' (same hash), 'overwrite' (hash changed), 'insert' (new unit),
    * and keep untouched existing rows as 'keep'. Returns the post-merge
    * state with an `action` audit column. */
  def idempotentMerge(existing: DataFrame, incoming: DataFrame,
                      unitCol: String, hashCol: String): DataFrame = {
    val ex = existing.select(col(unitCol).as("unit_id"), col(hashCol).as("old_hash"))
    val in = incoming.select(col(unitCol).as("unit_id"), col(hashCol).as("new_hash"))
    ex.join(in, Seq("unit_id"), "full_outer")
      .select(col("unit_id"),
        coalesce(col("new_hash"), col("old_hash")).as("input_hash"),
        when(col("old_hash").isNull, "insert")
          .when(col("new_hash").isNull, "keep")
          .when(col("old_hash") === col("new_hash"), "skip")
          .otherwise("overwrite").as("action"))
  }

  /** All units downstream of `seeds` in `edges(src, dst)`, walked up to
    * maxDepth levels (inclusive of the seeds at depth 0). Returns
    * (unit_id, depth) with the minimal depth per unit. Up to
    * `driverCap` edges (default [[graft.model.DriverCap]], the size gate
    * `Dedup.canonicalize` and `Dedup.pagerankInt` share) the walk runs
    * on the driver; past it, as a distributed loop. */
  def transitiveDownstream(edges: DataFrame, seeds: DataFrame,
                           maxDepth: Int, driverCap: Long = graft.model.DriverCap): DataFrame = {
    val spark = edges.sparkSession
    // ADAPTIVE, with the size gate Dedup.canonicalize and
    // Dedup.pagerankInt share (SCALE.md r9 #8): a derivation lineage
    // graph is unit-CATALOG-sized metadata, not corpus-sized — under
    // the cap (graft.model.DriverCap edges) the whole walk is one driver
    // BFS over the collected edge list, where the distributed loop
    // would pay ~2 scheduled jobs of pure latency per depth level.
    // Past the cap the loop below runs unchanged. Exact same minima
    // both paths (spec-gated).
    // ONE job decides and fetches: under the cap the rows in hand ARE
    // the edge list (no count job, no checkpoint); over it, fall back to
    // the distributed loop (which recomputes the edge frame — the rare
    // big-graph case)
    graft.model.collectUnderCap(edges.select(col("src"), col("dst")), driverCap) match {
      case Some(probe) =>
        val adj = scala.collection.mutable.Map.empty[Any,
          scala.collection.mutable.Buffer[Any]]
        probe.foreach(r =>
          adj.getOrElseUpdate(r.get(0),
            scala.collection.mutable.Buffer.empty[Any]) += r.get(1))
        val depth = scala.collection.mutable.LinkedHashMap.empty[Any, Int]
        var frontier: Seq[Any] =
          seeds.select(col("unit_id")).distinct().collect().map(_.get(0)).toSeq
        frontier.foreach(u => depth(u) = 0)
        for (d <- 1 to maxDepth) {
          frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
            .distinct.filterNot(depth.contains)
          frontier.foreach(u => depth(u) = d) // BFS order == minimal depth
        }
        val schema = org.apache.spark.sql.types.StructType(Seq(
          edges.schema("src").copy(name = "unit_id"),
          org.apache.spark.sql.types.StructField("depth",
            org.apache.spark.sql.types.IntegerType, nullable = false)))
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](
            scala.jdk.CollectionConverters.SeqHasAsJava(
              depth.toSeq.map { case (u, d) =>
                org.apache.spark.sql.Row(u, d) }).asJava), schema)
      case None =>
        // each frontier is consumed twice (next join + the union) — cache per
        // level or the lineage re-executes once per remaining depth. The
        // caches register as stage boundaries so a RE-invocation (bench
        // warm pass, repeated staleness sweeps) unpersists the previous
        // walk's blocks instead of re-caching identical plans (the
        // CacheManager "already cached" warning + a storage leak).
        val key = "derivation:transitive"
        graft.model.StageBoundaries.reset(key)
        def mark(df: DataFrame) = graft.model.StageBoundaries.mark(key, df)
        val eM = mark(edges.select(col("src"), col("dst")))
        var frontier = mark(seeds.select(col("unit_id"), lit(0).as("depth")))
        var acc = frontier
        for (d <- 1 to maxDepth) {
          frontier = mark(frontier
            .join(eM, frontier("unit_id") === eM("src"))
            .select(col("dst").as("unit_id"), lit(d).as("depth"))
            .distinct())
          acc = acc.unionByName(frontier)
        }
        acc.groupBy("unit_id").agg(min(col("depth")).as("depth"))
    }
  }
}
