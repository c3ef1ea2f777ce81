package graft.cell

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Grid-density spatial clustering — the DBSCAN-lite every geo pipeline
  * runs before per-region work (hot-spot detection, geofence grouping,
  * crawl-region partitioning): points hash to grid cells
  * ([[CellIndex.cellOf]]); occupied cells that TOUCH (Chebyshev-1
  * adjacency with [[CellIndex.kRing]] semantics — x wraps across the
  * antimeridian, y clamps at the poles) merge into one cluster via
  * connected components; every point inherits its cell's cluster.
  *
  * Scale shape: cell assignment is narrow column arithmetic; the
  * occupied-cell set is one distinct whose output is bounded by the
  * GRID (4^res cells), not the corpus; adjacency is the broadcast
  * 9-offset ring + one cell-keyed semi-join; components run on the
  * occupied-cell graph (grid-sized, via
  * [[graft.dedup.Dedup.connectedComponents]]); the per-cluster stats are one groupBy each. The corpus is
  * scanned exactly twice (cell assignment feeds both the occupied set
  * and the final point count — cut once between them) and never joins
  * itself.
  */
object GridCluster {

  /** (cluster, n_cells, n_points) per spatial cluster; cluster = the
    * minimum member cell id (deterministic label). `points` needs
    * (lat, lon) columns.
    */
  def clusters(spark: SparkSession, points: DataFrame, res: Int): DataFrame = {
    val withCell = points.select(
        graft.functions.GraftFunctions.cellOfCol(col("lat"), col("lon"), res).as("cell"))
      // scanned twice (occupied set + final count): cut, not cached
      .localCheckpoint(false)
    val occ = withCell.distinct()
    // ring includes the (0,0) offset → a self-edge per occupied cell, so
    // isolated cells stay known to the component search
    val nb = graft.join.Knn.ringCandidates(spark, occ, 1, res)
    val edges = nb
      .join(occ.select(col("cell").as("ccell")), Seq("ccell"), "left_semi")
      .select(col("cell").as("src"), col("ccell").as("dst"))
    val labels = graft.dedup.Dedup.connectedComponents(spark, edges)
    val cellStats = labels.groupBy(col("component")).agg(count(lit(1)).as("n_cells"))
    val ptStats = withCell
      .join(labels.withColumnRenamed("id", "cell"), Seq("cell"))
      .groupBy(col("component")).agg(count(lit(1)).as("n_points"))
    cellStats.join(ptStats, Seq("component"))
      .select(col("component").as("cluster"), col("n_cells"), col("n_points"))
  }
}
