package graft.geom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact convex hull (EXTREME points) per group over integer
  * coordinates — Andrew's monotone chain (Andrew, IPL 1979) with STRICT
  * turns, so collinear boundary points are dropped and the output is
  * precisely the set of extreme points: p such that
  * p ∉ conv(points ∖ {p}). That definition has a pure ANSI oracle via
  * Carathéodory (2D): p ∈ conv(others) iff p lies in a nondegenerate
  * triangle of three others (inclusive) or on a segment between two
  * others.
  *
  * Scale shape — the two-level reduction hull(S) = hull(hull(S₁) ∪ … ∪
  * hull(Sₖ)) is EXACT (an extreme point of S is extreme in every subset
  * containing it), so: level 1 computes partial hulls per (grp, salt)
  * sub-bucket after ONE hash exchange — sub-bucket memory is |group|/
  * nSalt, sized by the caller; level 2 reduces each group's partial
  * hull points (O(k·hull size), typically ≪ |group| — O(log n) expected
  * for random points) to the exact hull. All integer cross products —
  * callers must keep |coordinate| < ~2^31 so deltas² stay in Long
  * (checked, not assumed).
  */
object Hull extends Serializable {

  /** Monotone chain, strict turns; input need not be sorted or unique.
    * Returns the extreme points (no particular order). n ≤ 2 distinct
    * points are all extreme.
    */
  def chain(pts: Array[(Long, Long)]): Array[(Long, Long)] = {
    val s = pts.distinct.sortBy(p => (p._1, p._2))
    if (s.length <= 2) return s
    def cross(o: (Long, Long), a: (Long, Long), b: (Long, Long)): Long =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    def half(seq: Iterator[(Long, Long)]): List[(Long, Long)] = {
      var h = List.empty[(Long, Long)] // head = last accepted
      for (p <- seq) {
        while (h.lengthCompare(2) >= 0 && cross(h.tail.head, h.head, p) <= 0)
          h = h.tail
        h = p :: h
      }
      h
    }
    val lower = half(s.iterator).tail // drop the shared endpoints:
    val upper = half(s.reverseIterator).tail // each half keeps its start
    (lower ++ upper).toArray
  }

  /** (grp, x, y) extreme points per group. Input columns (grp, x, y),
    * integer-valued; coordinates are validated |c| < 2^31 in the level-1
    * pass (a malformed row fails the job loudly rather than silently
    * overflowing a cross product).
    */
  def extremePoints(spark: SparkSession, points: DataFrame,
      nSalt: Int = 16): DataFrame = {
    import spark.implicits._
    require(nSalt >= 1, s"nSalt=$nSalt")
    val lim = 1L << 31
    def hullOf(it: Iterator[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
      val arr = it.toArray
      val grp = arr.head._1
      chain(arr.map(t => (t._2, t._3))).iterator.map(p => (grp, p._1, p._2))
    }
    val p = points
      .select(col("grp").cast("long"), col("x").cast("long"), col("y").cast("long"))
      .as[(Long, Long, Long)]
      .map { t =>
        require(math.abs(t._2) < lim && math.abs(t._3) < lim,
          s"coordinate out of exact-arithmetic range: $t")
        t
      }
    val partial = p
      .groupByKey(t => (t._1, (t._2 * 0x9E3779B97F4A7C15L + t._3) % nSalt))
      .flatMapGroups((_, it) => hullOf(it))
    partial.groupByKey(_._1).flatMapGroups((_, it) => hullOf(it))
      .toDF("grp", "x", "y")
  }

  /** Per-group point-set diameter: the maximum squared pairwise
    * distance, with the witnessing pair (lexicographically smallest on
    * ties, x1 < x2 or (x1 = x2, y1 < y2)). Emits (grp, diam2, x1, y1,
    * x2, y2); groups with fewer than two distinct points emit nothing.
    *
    * The diameter of a set equals the diameter of its EXTREME points
    * (a pair containing a non-extreme point is strictly beaten along
    * the hull edge containing it — squared distance is strictly convex
    * on a segment), so the pair join runs on [[extremePoints]] output
    * only: hull-sized × hull-sized per group, never |group|², after
    * the same one exchange the hull itself needs. A brute-force
    * all-vertex-pairs oracle therefore cross-validates the hull
    * reduction itself.
    */
  /** Per-group minimum-area oriented bounding rectangle, EXACT. Emits
    * (grp, n_hull, area_num, area_den) with area = area_num/area_den
    * (not reduced; canonical representative = the achieving direction
    * with the lexicographically smallest (area_den, area_num), so the
    * row is deterministic and a DuckDB oracle reproduces it verbatim).
    *
    * Method — rotating calipers made relational. The minimum-area
    * enclosing rectangle has a side collinear with a hull edge
    * (Freeman–Shapira 1975), so the global minimum over ALL directions
    * equals the minimum over hull-edge directions; enumerating every
    * ordered pair of EXTREME points is a superset of the hull edges and
    * therefore attains the same minimum — no edge identification
    * needed. For direction (dx,dy) from such a pair, project every hull
    * point: dot = dx·x+dy·y (along), crs = dx·y−dy·x (normal); the
    * rectangle area is Δdot·Δcrs/(dx²+dy²) — an exact integer rational.
    * The argmin is an anti-join: direction e survives iff no direction
    * f in the group has n_f·d_e < n_e·d_f (cross-multiplied in
    * decimal(38,0) — exact, no floats anywhere).
    *
    * Scale shape: everything past [[extremePoints]] is hull-sized —
    * h(h−1)/2 directions × h projections per group (h = O(log n)
    * expected for random points), one hash exchange for the hull, and
    * per-group-local joins after it.
    *
    * Exact-arithmetic bound: |coordinate| ≤ 2^14 (16384), checked —
    * then |Δdot|, |Δcrs| ≤ 2^31, area_num ≤ 2^62 (Long-safe output),
    * d ≤ 2^31, and the cross-comparison products ≤ 2^93 sit well inside
    * decimal(38,0). Groups with a single distinct point (no direction
    * pair) emit nothing; two collinear points emit area 0.
    */
  def orientedMbr(spark: SparkSession, points: DataFrame,
      nSalt: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val lim = 1L << 14
    val checked = points.select(
      col("grp").cast("long"),
      when(abs(col("x").cast("long")) <= lim, col("x").cast("long"))
        .otherwise(raise_error(concat(lit("orientedMbr: |x| > 2^14: "),
          col("x").cast("string")))).as("x"),
      when(abs(col("y").cast("long")) <= lim, col("y").cast("long"))
        .otherwise(raise_error(concat(lit("orientedMbr: |y| > 2^14: "),
          col("y").cast("string")))).as("y"))
    val hull = extremePoints(spark, checked, nSalt)
    val nh = hull.groupBy(col("grp")).agg(count(lit(1)).as("n_hull"))
    val a = hull.select(col("grp"), col("x").as("ax"), col("y").as("ay"))
    val b = hull.select(col("grp"), col("x").as("bx"), col("y").as("by"))
    val dirs = a.join(b, Seq("grp"))
      .filter(col("ax") < col("bx") ||
        (col("ax") === col("bx") && col("ay") < col("by")))
      .select(col("grp"), (col("bx") - col("ax")).as("dx"),
        (col("by") - col("ay")).as("dy"))
      .distinct()
      .withColumn("d", col("dx") * col("dx") + col("dy") * col("dy"))
    val ext = dirs.join(hull, Seq("grp"))
      .withColumn("dot", col("dx") * col("x") + col("dy") * col("y"))
      .withColumn("crs", col("dx") * col("y") - col("dy") * col("x"))
      .groupBy(col("grp"), col("dx"), col("dy"), col("d"))
      .agg((max(col("dot")) - min(col("dot"))).as("ddot"),
        (max(col("crs")) - min(col("crs"))).as("dcrs"))
      .withColumn("n", col("ddot") * col("dcrs"))
      .select(col("grp"), col("d"), col("n"))
    val dec = DecimalType(38, 0)
    val better = ext.select(col("grp").as("fgrp"), col("d").as("fd"),
      col("n").as("fn"))
    val surv = ext.join(better,
        col("grp") === col("fgrp") &&
          col("fn").cast(dec) * col("d") < col("n").cast(dec) * col("fd"),
        "left_anti")
    surv.groupBy(col("grp"))
      .agg(min(struct(col("d"), col("n"))).as("m"))
      .select(col("grp"), col("m.n").as("area_num"), col("m.d").as("area_den"))
      .join(nh, Seq("grp"))
      .select(col("grp"), col("n_hull"), col("area_num"), col("area_den"))
  }

  def diameter2(spark: SparkSession, points: DataFrame,
      nSalt: Int = 16): DataFrame = {
    val hull = extremePoints(spark, points, nSalt)
    val a = hull.select(col("grp"), col("x").as("x1"), col("y").as("y1"))
    val b = hull.select(col("grp"), col("x").as("x2"), col("y").as("y2"))
    val pairs = a.join(b, Seq("grp"))
      .filter(col("x1") < col("x2") ||
        (col("x1") === col("x2") && col("y1") < col("y2")))
      .withColumn("d2",
        (col("x1") - col("x2")) * (col("x1") - col("x2")) +
          (col("y1") - col("y2")) * (col("y1") - col("y2")))
    val mx = pairs.groupBy(col("grp"))
      .agg(max(col("d2")).as("diam2"))
      .withColumnRenamed("grp", "mgrp")
    val out = pairs.join(mx,
        col("grp") === col("mgrp") && col("d2") === col("diam2"))
      .drop("mgrp")
      .groupBy(col("grp"), col("diam2"))
      .agg(min(struct(col("x1"), col("y1"), col("x2"), col("y2"))).as("m"))
      .select(col("grp"), col("diam2"), col("m.x1").as("x1"),
        col("m.y1").as("y1"), col("m.x2").as("x2"), col("m.y2").as("y2"))
    out
  }
}
