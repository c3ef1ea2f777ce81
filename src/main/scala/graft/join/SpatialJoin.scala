package graft.join

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cell.CellIndex
import graft.geom.PolygonRow
import graft.functions.GraftFunctions

/** Cell-indexed point-in-polygon join (SURVEY.md §4 custom-physical item 1).
  *
  * Logical form `points ⋈ polygons ON contains(poly, pt)` is a theta join
  * Catalyst would nested-loop; we rewrite it BY CONSTRUCTION:
  *
  *   build side:  polygons → flatMap cover(rings, res) → (cell, polygon)
  *   probe side:  points.withColumn("cell", cellOf(lat, lon, res))
  *   equi-join on cell  →  exact ray-cast refine (native Expression)
  *
  * Scale contract: the build side (polygon×cell rows) is collected on the
  * driver and broadcast; the probe table (the 10^12-row image table)
  * streams map-side — NO shuffle of the big side at all. This holds
  * whenever Σ|cover| fits the driver and an executor (the reference's whole
  * output is "a few hundred" boundaries; `polygonCells` caps each cover).
  * The probe side is never repartitioned, so a hot cell (a dense city)
  * costs no skew.
  */
object SpatialJoin {

  final case class CellPoly(cell: Long, relation_id: Long, name: String)

  /** Build side: one row per (cover cell, polygon id). Rings are NOT
    * duplicated per cover cell — a detailed polygon (10⁵ vertices) covering
    * 10³ cells would otherwise put vertices×cells into the broadcast, a
    * scale-killer. They ride in a second, per-polygon-unique frame
    * (`polygonRings`) attached after the cell match.
    *
    * Multi-resolution: each polygon covers at the FINEST res ≤ `res` whose
    * cover stays under `maxCells` (CellIndex.coverAuto) — small polygons
    * get fine cells, a continent gets coarse ones, and nothing throws. The
    * probe side must then encode at every res present (assign does).
    */
  def polygonCells(spark: SparkSession, polys: Dataset[PolygonRow], res: Int,
      maxCells: Int = 4096): Dataset[CellPoly] = {
    import spark.implicits._
    polys.flatMap { p =>
      CellIndex.coverAuto(p.rings, res, maxCells)._2.map(c =>
        CellPoly(c, p.relation_id, p.name))
    }
  }

  /** One row per polygon: (relation_id, rings) — the exact-refine side. */
  def polygonRings(spark: SparkSession, polys: Dataset[PolygonRow]): DataFrame = {
    import spark.implicits._
    polys.map(p => (p.relation_id, p.rings)).toDF("relation_id", "rings")
  }

  /** Assign each probe row its containing polygons.
    *
    * @param probes must contain `idCol`, `latCol`, `lonCol`
    * @param idCol the probe key; every probe column passes through as-is,
    *        so the join itself never reads it
    * @return probe id + lat/lon + (relation_id, name) per containing polygon
    *         (inner: unassigned probes dropped)
    */
  def assign(
      spark: SparkSession,
      probes: DataFrame,
      polys: Dataset[PolygonRow],
      res: Int,
      idCol: String = "image_id",
      latCol: String = "lat",
      lonCol: String = "lon"): DataFrame = {
    GraftFunctions.register(spark)
    import spark.implicits._
    // The probe must encode one cell per distinct cover resolution present
    // on the build side (usually 1, occasionally 2-3 with mixed polygon
    // sizes) so every polygon is matchable at ITS cover resolution. That
    // res list and the build rows come from ONE cover computation, collected
    // once on the driver: the same array serves the res list and the
    // broadcast, so the cover flatMap runs exactly once per assign.
    val cells = polygonCells(spark, polys, res).collect()
    val covered = cells.iterator.map(c => (c.cell >>> 58).toInt).toSet.toSeq.sorted
    val resList = if (covered.isEmpty) Seq(res) else covered
    val build = spark.createDataset(cells.toIndexedSeq).toDF()
      .withColumnRenamed("name", "polygon_name")
    val p = probes.withColumn("cell", explode(array(
      resList.map(r => GraftFunctions.cellOfCol(col(latCol), col(lonCol), r)): _*)))

    // all probe columns pass through — the big side is read ONCE (an extra
    // self-join to re-attach payloads would double the 100 TB scan). Rings
    // attach via a second broadcast keyed per polygon (unique — one copy
    // each regardless of cover size).
    p.join(broadcast(build), Seq("cell"))
      .join(broadcast(polygonRings(spark, polys)), Seq("relation_id"))
      .filter(GraftFunctions.rayCastContains(col("rings"), col(latCol), col(lonCol)))
      .drop("rings")
  }
}
