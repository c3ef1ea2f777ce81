package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import graft.functions.RayCastContains
import graft.join.SpatialJoin

/** Catalyst optimizer rule: a point-in-polygon THETA join written
  * declaratively as
  *
  *   probes.join(polys, ray_cast_contains(rings, lat, lon))
  *
  * would execute as BroadcastNestedLoopJoin — every probe row against every
  * polygon. This rule replaces it with the cell-indexed plan
  * `SpatialJoin.assign` uses ([[SpatialJoin.pipPlan]]), covering at
  * resolutions up to [[MaxRes]], and projects the join's own output back on
  * top, so either side order works.
  *
  * The polygon side is collected when the rule fires: the probe side needs
  * the list of cover resolutions, and the rings attach after the cell match
  * by a per-polygon key, and both exist only once the polygon side is
  * materialized. Semantics are preserved exactly: each polygon's cover is
  * a superset of the cells containing any of its points, each probe has
  * one cell per resolution, so the equi-joins lose no candidate pair and
  * duplicate none, and the original predicate refines.
  */
object PipJoinRewrite extends Rule[LogicalPlan] {

  /** Finest cover resolution of a rewritten join. */
  val MaxRes = 7

  /** Install on a LIVE session (extensions configs only apply at session
    * construction; `getOrCreate` silently ignores them on reuse). Idempotent.
    */
  def install(spark: SparkSession): Unit = {
    graft.functions.GraftFunctions.register(spark)
    if (!spark.experimental.extraOptimizations.contains(PipJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ PipJoinRewrite
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(rc: RayCastContains), _) =>
      val ringsRefs = rc.rings.references
      val probeRefs = rc.lat.references ++ rc.lon.references
      val sides =
        if (ringsRefs.subsetOf(right.outputSet) && probeRefs.subsetOf(left.outputSet))
          Some((left, right))
        else if (ringsRefs.subsetOf(left.outputSet) && probeRefs.subsetOf(right.outputSet))
          Some((right, left))
        else None
      sides.fold[LogicalPlan](j) { case (probe, polys) =>
        Project(j.output, SpatialJoin.pipPlan(SparkSession.active, probe, polys,
          rc.rings, rc.lat, rc.lon, MaxRes))
      }
  }
}

/** Session extensions: inject [[PipJoinRewrite]] and register
  * `ray_cast_contains`, so a declarative PIP join runs the cell-indexed
  * plan. Use via `.config("spark.sql.extensions",
  * "graft.plans.GraftExtensions")` or `.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => PipJoinRewrite)
    e.injectFunction(
      (new org.apache.spark.sql.catalyst.FunctionIdentifier("ray_cast_contains"),
        new ExpressionInfo("graft.functions.RayCastContains", "ray_cast_contains"),
        (exprs: Seq[Expression]) => RayCastContains(exprs(0), exprs(1), exprs(2))))
  }
}
