package graft.geom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DBSCAN (Ester et al., KDD'96) over integer planar coordinates — the
  * density clustering a geo pipeline runs when grid-bucket clustering
  * ([[graft.cell.GridCluster]]) is too coarse: a point is CORE when at
  * least `minPts` points (itself included) lie within distance eps;
  * core points within eps of each other share a cluster; a non-core
  * point within eps of a core point joins that core's cluster as a
  * BORDER point; everything else is NOISE.
  *
  * Exactness: distances compare as `dx² + dy² ≤ eps2` in Long
  * arithmetic (the [[PointPattern]] contract — same bounds, same
  * overflow guards), so the core/border/noise decision is bit-stable
  * and DuckDB-oracleable. The one non-relational choice DBSCAN leaves
  * open — which cluster claims a border point reachable from several —
  * is pinned deterministically: the SMALLEST component label among its
  * core neighbors (classic DBSCAN is first-scan-order-dependent here;
  * a distributed engine must not be).
  *
  * Scale shape: candidate pairs come from [[PointPattern.distanceBand]]
  * (3×3 cell-binned equi-join — work is linear for bounded density,
  * never points × points); degrees are ONE groupBy over pair incidence;
  * components run on the core-core subgraph only (via
  * [[graft.dedup.Dedup.connectedComponents]]'s size gate, so a
  * pathological all-one-cluster input degrades to star contraction
  * instead of driver collapse); border attachment is one join + min
  * aggregation over the already-materialized pairs. The corpus is
  * scanned once into the binned frame and again for the core and final
  * role joins; the pairs are cut once with a lazy local checkpoint.
  */
object Dbscan {

  /** (id, role, cluster) per input point; role ∈ core|border|noise,
    * cluster = smallest member core id (−1 for noise). `points` needs
    * (id, x, y) integer columns; eps is given as its SQUARE `eps2`.
    */
  def cluster(spark: SparkSession, points: DataFrame, eps2: Long,
      minPts: Int): DataFrame = {
    require(minPts >= 1, s"minPts=$minPts must be >= 1")
    val pts = points.select(col("id").cast("long").as("id"),
        col("x").cast("long").as("x"), col("y").cast("long").as("y"))
    // unordered eps-pairs, each exactly once (rel_a < rel_b); cut once —
    // they feed degrees, the core-core edge list, and border attachment
    val pairs = PointPattern.distanceBand(pts, eps2).localCheckpoint(false)
    val deg = pairs.select(col("rel_a").as("id"))
      .union(pairs.select(col("rel_b").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("nbrs"))
    // +1: the point itself counts toward minPts (Ester et al. §3.1)
    val core = pts.join(deg, Seq("id"), "left")
      .filter(coalesce(col("nbrs"), lit(0L)) + 1L >= minPts)
      .select(col("id"))
    val coreEdges = pairs
      .join(core.select(col("id").as("rel_a")), Seq("rel_a"), "left_semi")
      .join(core.select(col("id").as("rel_b")), Seq("rel_b"), "left_semi")
      .select(col("rel_a").as("src"), col("rel_b").as("dst"))
    // edge-less core points (a dense knot smaller than eps around one
    // point, or minPts=1 singletons) still own a cluster: label = own id
    val coreLabel = core
      .join(graft.dedup.Dedup.connectedComponents(spark, coreEdges), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
    // border: non-core endpoint of a pair whose other endpoint is core —
    // attach to the smallest core-neighbor cluster (deterministic where
    // the classic scan-order algorithm is not)
    val touch = pairs
      .select(col("rel_a").as("id"), col("rel_b").as("nb"))
      .union(pairs.select(col("rel_b").as("id"), col("rel_a").as("nb")))
    val borderLabel = touch
      .join(core, Seq("id"), "left_anti")
      .join(coreLabel.select(col("id").as("nb"), col("cluster")), Seq("nb"))
      .groupBy(col("id")).agg(min(col("cluster")).as("cluster"))
    val labeled = coreLabel.withColumn("role", lit("core"))
      .union(borderLabel.withColumn("role", lit("border")))
    pts.join(labeled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("cluster"), lit(-1L)).as("cluster"))
  }
}
