package graft.join

import org.apache.spark.sql.{DataFrame, Dataset, PlanBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.{IntegerType, LongType}
import graft.cell.CellIndex
import graft.geom.{PolygonRow, Pt}
import graft.functions.{GraftFunctions, RayCastContains}

/** Cell-indexed point-in-polygon join (SURVEY.md §4 custom-physical item 1).
  *
  * Logical form `points ⋈ polygons ON contains(poly, pt)` is a theta join
  * Catalyst would nested-loop. [[pipPlan]] builds the cell-indexed form
  * instead, and both entry points reach it: [[assign]] calls it directly,
  * and the [[graft.plans.PipJoinRewrite]] optimizer rule calls it for a
  * declarative `probes.join(polys, ray_cast_contains(rings, lat, lon))`.
  *
  *   polygon side: collected once on the driver; polygon i (its position
  *                 in the collected array is its key) covers at the finest
  *                 resolution whose cover stays under the cap ([[cover]])
  *   broadcast 1:  (cell, key) rows — no rings
  *   broadcast 2:  (key, polygon columns) — each polygon's rings once
  *   probe side:   one cell per cover resolution present, from the
  *                 codegen'd `GraftFunctions.cellOfCol` arithmetic
  *   cell equi-join → key equi-join → exact ray-cast refine (codegen'd)
  *
  * Scale contract: both build sides are broadcast; the probe table (the
  * 10^12-row image table) streams map-side — NO shuffle of the big side at
  * all. This holds whenever the polygon set and its cover fit the driver
  * and an executor (the reference's whole output is "a few hundred"
  * boundaries, and [[cover]] caps each polygon's cells). The probe side is
  * never repartitioned, so a hot cell (a dense city) costs no skew.
  */
object SpatialJoin {

  /** Bbox cells one polygon's cover may scan before it coarsens. */
  private val MaxCoverCells = 4096

  final case class CellPoly(cell: Long, relation_id: Long, name: String)

  /** One polygon's cover: the finest resolution ≤ `maxRes` whose bbox
    * spans at most 4096 cells, and the cells the polygon touches there
    * (CellIndex.coverAuto). Small polygons get fine cells, a continent
    * gets coarse ones, and nothing throws; the probe side then encodes at
    * every resolution present.
    */
  def cover(rings: Seq[Seq[Pt]], maxRes: Int): (Int, Seq[Long]) =
    CellIndex.coverAuto(rings, maxRes, MaxCoverCells)

  /** One row per (cover cell, polygon): the cell side of the join as a
    * Dataset, for callers that count candidates outside the join.
    */
  def polygonCells(spark: SparkSession, polys: Dataset[PolygonRow], res: Int): Dataset[CellPoly] = {
    import spark.implicits._
    polys.flatMap(p => cover(p.rings, res)._2.map(c => CellPoly(c, p.relation_id, p.name)))
  }

  /** The point-in-polygon join plan: each row of `probe` paired with each
    * row of `polys` whose `rings` contain (`lat`, `lon`), union-of-rings
    * semantics (graft.geom.Geom.containsPoint). `rings` is over
    * `polys.output`, `lat`/`lon` over `probe.output`. Collects `polys`
    * once. Output: `probe.output`, the probe's matched cell, `polys.output`.
    */
  private[graft] def pipPlan(spark: SparkSession, probe: LogicalPlan, polys: LogicalPlan,
      rings: Expression, lat: Expression, lon: Expression, maxRes: Int): LogicalPlan = {
    val qe = PlanBridge.ofRows(spark, polys).queryExecution
    val rows = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
    val ringsOf = BindReferences.bindReference(rings, polys.output)
    val covers = rows.map(r => cover(parseRings(ringsOf.eval(r)), maxRes))

    val cell = AttributeReference("__graft_cover_cell", LongType, nullable = false)()
    val key = AttributeReference("__graft_poly_key", IntegerType, nullable = false)()
    val polyKey = key.newInstance()
    val cells = LocalRelation(Seq(cell, key),
      for ((c, k) <- covers.toSeq.zipWithIndex; id <- c._2) yield InternalRow(id, k))
    val keyed = LocalRelation(polys.output :+ polyKey,
      rows.toSeq.zipWithIndex.map { case (r, k) => InternalRow.fromSeq(r.toSeq(polys.schema) :+ k) })

    val present = covers.collect { case (r, cs) if cs.nonEmpty => r }.distinct.sorted.toSeq
    val probeCells = PlanBridge.ofRows(spark, probe).select(col("*"), explode(array(
        (if (present.isEmpty) Seq(maxRes) else present).map(r => GraftFunctions.cellOfCol(
          PlanBridge.column(lat), PlanBridge.column(lon), r)): _*)).as("__graft_cell"))
      .queryExecution.analyzed

    val bc = JoinHint(None, Some(HintInfo(strategy = Some(BROADCAST))))
    val matched = Join(probeCells, cells, Inner, Some(EqualTo(probeCells.output.last, cell)), bc)
    val withRings = Join(matched, keyed, Inner, Some(EqualTo(key, polyKey)), bc)
    Project(probeCells.output ++ polys.output, Filter(RayCastContains(rings, lat, lon), withRings))
  }

  /** Catalyst `array<array<struct<lat:float,lon:float>>>` → rings. */
  private def parseRings(v: Any): Seq[Seq[Pt]] = v match {
    case a: ArrayData => (0 until a.numElements()).filterNot(a.isNullAt).map { i =>
      val ring = a.getArray(i)
      (0 until ring.numElements()).map { k =>
        val p = ring.getStruct(k, 2)
        Pt(p.getFloat(0), p.getFloat(1))
      }
    }
    case _ => Nil
  }

  /** Assign each probe row its containing polygons ([[pipPlan]]).
    *
    * @param probes must contain `latCol`, `lonCol`
    * @param idCol the probe key; every probe column passes through as-is,
    *        so the join itself never reads it
    * @return relation_id, the matched probe cell (`cell`), every probe
    *         column, polygon_name — one row per containing polygon (inner:
    *         unassigned probes dropped)
    */
  def assign(
      spark: SparkSession,
      probes: DataFrame,
      polys: Dataset[PolygonRow],
      res: Int,
      idCol: String = "image_id",
      latCol: String = "lat",
      lonCol: String = "lon"): DataFrame = {
    val probe = probes.queryExecution.analyzed
    val poly = polys.select(col("relation_id"), col("name").as("polygon_name"), col("rings"))
      .queryExecution.analyzed
    val Seq(relationId, polygonName, rings) = poly.output
    def attr(name: String) = probe.resolveQuoted(name, spark.sessionState.conf.resolver).getOrElse(
      throw new IllegalArgumentException(s"probe column $name not found in ${probe.output}"))
    val plan = pipPlan(spark, probe, poly, rings, attr(latCol), attr(lonCol), res)
    val cell = Alias(plan.output(probe.output.length), "cell")()
    PlanBridge.ofRows(spark, Project(Seq(relationId, cell) ++ probe.output :+ polygonName, plan))
  }
}
