package graft.geom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Point-pattern analysis over integer planar coordinates — the two
  * classic constructions a spatial-statistics layer needs beyond the
  * polygon-contiguity graph ([[graft.osm.BoundaryExtract.contiguity]]):
  * distance-band neighbor weights (GeoDa's "distance weights", the queen/
  * radius generalization of rook contiguity) and Ripley's K pair counts
  * (Ripley 1976 — the clustering-vs-dispersion curve of a point process).
  *
  * Both are EXACT: coordinates are integers, the radius is given as its
  * SQUARE d², and every comparison is `dx² + dy² ≤ d²` in Long
  * arithmetic. Two bounds keep that arithmetic overflow-free and BOTH
  * are enforced: |x|, |y| < 2³¹ in-plan (the contiguity-guard pattern —
  * a raise_error conjunct the optimizer can neither split nor prune),
  * and d² ≤ 2⁶⁰ by require. The coordinate bound alone is NOT enough:
  * candidates live within one cell of each other, so |dx| < 2·cell ≈
  * 2·√d², and dist2 < 8·d² — at d² past 2⁶⁰ a candidate's dist2 could
  * wrap negative, pass the ≤ d² filter, and emit a spurious pair.
  *
  * Scale shape (both operators): bin points to square cells of pitch
  * ceil(√d²), scatter the PROBE side to its 3×3 cell neighborhood
  * (narrow, ×9), ONE cell-keyed hash equi-join against the build side
  * binned once, then the exact distance filter. Work is
  * Σ_cell |probe(cell)|·|build(3×3 ring)| — linear for bounded density,
  * never points × points. A pair is emitted once: the probe scatter
  * finds each unordered pair from both sides and the `id_a < id_b`
  * filter keeps exactly one.
  */
object PointPattern {

  private val CoordBound = 1L << 31

  private def guarded(c: String) =
    when(abs(col(c)) < CoordBound, col(c))
      .otherwise(raise_error(concat(lit(s"PointPattern: |$c| >= 2^31 overflows dist2 at id "),
        col("id"))).cast("long"))

  private def binned(points: DataFrame, cell: Long): DataFrame =
    points.select(col("id").cast("long").as("id"),
        guarded("x").as("x"), guarded("y").as("y"))
      .withColumn("cx", floor(col("x").cast("double") / cell.toDouble).cast("long"))
      .withColumn("cy", floor(col("y").cast("double") / cell.toDouble).cast("long"))

  /** All unordered point pairs with squared distance ≤ d², as
    * (rel_a, rel_b, dist2) with rel_a < rel_b — column names chosen so
    * the output drops into every contiguity consumer (spatialLag,
    * localMoran/localG, globalAutocorr, joinCounts, dissolve) as a
    * distance-band weight matrix.
    */
  private val MaxD2 = 1L << 60

  def distanceBand(points: DataFrame, d2: Long): DataFrame = {
    require(d2 > 0 && d2 <= MaxD2,
      s"d2=$d2 out of (0, 2^60] — candidate dist2 is bounded by 8*d2 and must fit a Long")
    val cell = math.max(1L, math.ceil(math.sqrt(d2.toDouble)).toLong)
    pairsWithin(points, cell, d2)
  }

  /** Ripley's K pair counts: one row per squared radius in `r2s` —
    * (r2, n_points, pairs) with `pairs` the EXACT number of unordered
    * pairs at distance² ≤ r2. The caller turns counts into K̂(r) =
    * area · 2·pairs / n² (edge corrections are a presentation choice);
    * the integers are the part engines must agree on. One binned join
    * at the LARGEST radius, every threshold counted in the same pass
    * (a ×|r2s| narrow explode of candidate pairs, then one tiny
    * aggregation) — the pair generation is never repeated per radius.
    */
  def ripleyK(points: DataFrame, r2s: Seq[Long]): DataFrame = {
    require(r2s.nonEmpty && r2s.forall(r => r > 0 && r <= MaxD2),
      s"radii must lie in (0, 2^60], got $r2s")
    val rmax = r2s.max
    val cell = math.max(1L, math.ceil(math.sqrt(rmax.toDouble)).toLong)
    val (pairs, b) = pairsWithinBinned(points, cell, rmax)
    val n = b.agg(count(lit(1)).as("n_points"))
    val hits = pairs.select(explode(array(r2s.map { r2 =>
        struct(lit(r2).as("r2"),
          when(col("dist2") <= r2, 1L).otherwise(0L).as("hit"))
      }: _*)).as("t"))
      .groupBy(col("t.r2").as("r2"))
      .agg(sum(col("t.hit")).as("pairs"))
    // radii with zero candidate pairs still get a row (left join from the
    // literal radius list, count coalesced)
    val radii = pairs.sparkSession.createDataFrame(
      pairs.sparkSession.sparkContext.parallelize(r2s.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("r2",
          org.apache.spark.sql.types.LongType, nullable = false))))
    radii.join(hits, Seq("r2"), "left")
      .crossJoin(broadcast(n))
      .select(col("r2"), col("n_points"),
        coalesce(col("pairs"), lit(0L)).as("pairs"))
  }

  private def pairsWithin(points: DataFrame, cell: Long, d2: Long): DataFrame =
    pairsWithinBinned(points, cell, d2)._1

  /** The pair pipeline plus the shared binned frame it was built on —
    * binned ONCE and cut with a lazy local checkpoint (it feeds the build
    * side, the probe side and, in [[ripleyK]], the global count; uncut,
    * the upstream scan would run three times).
    */
  private def pairsWithinBinned(points: DataFrame, cell: Long,
      d2: Long): (DataFrame, DataFrame) = {
    val b = binned(points, cell).localCheckpoint(false)
    val build = b
      .select(col("id").as("id_b"), col("x").as("xb"), col("y").as("yb"),
        col("cx"), col("cy"))
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val probe = b
      .select(col("id").as("id_a"), col("x").as("xa"), col("y").as("ya"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
        }: _*)).as("t"))
      .select(col("id_a"), col("xa"), col("ya"), col("t.cx"), col("t.cy"))
    val dist2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
      (col("ya") - col("yb")) * (col("ya") - col("yb"))
    val pairs = probe.join(build, Seq("cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("rel_a"), col("id_b").as("rel_b"),
        dist2.as("dist2"))
      .filter(col("dist2") <= d2)
    (pairs, b)
  }
}
