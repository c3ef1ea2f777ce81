package graft.geom

/** Geometry kernels, written from scratch (no JTS in product code).
  *
  * Coordinate model follows the reference (`/root/reference/src/converter.rs:13-17`):
  * points are single-precision `(lat: Float, lon: Float)`; all kernel math is
  * performed in double precision for robustness, but inputs/outputs stay f32.
  */
final case class Pt(lat: Float, lon: Float)

/** A polygon row exactly as the reference's `Polygon` struct
  * (`/root/reference/src/converter.rs:6-11`): `rings` is a list of stitched
  * rings (holes are NOT subtracted — every ring is free-standing, matching
  * `/root/reference/src/output/file_writer_geojson.rs:53-60`).
  */
final case class PolygonRow(
    name: String,
    rings: Seq[Seq[Pt]],
    relation_id: Long,
    admin_level: Long)

object Geom {

  /** Even-odd (crossing-number) ray cast: is (lat, lon) inside the ring?
    * The ring is treated as closed (an implicit last→first edge), matching
    * the GeoJSON emitter's auto-closure semantics. Points exactly on an edge
    * may land on either side (standard ray-cast caveat); test fixtures avoid
    * exact-boundary probes except where the expected value is pinned.
    */
  def rayCastContainsRing(ring: Seq[Pt], lat: Double, lon: Double): Boolean = {
    if (ring.lengthCompare(3) < 0) return false
    var inside = false
    // one pass with the previous vertex carried along: O(V) for a List
    // (what a Dataset decodes rings to) as well as for an indexed Seq
    var pj = ring.last
    val it = ring.iterator
    while (it.hasNext) {
      val pi = it.next()
      val yi = pi.lat.toDouble; val xi = pi.lon.toDouble
      val yj = pj.lat.toDouble; val xj = pj.lon.toDouble
      // edge (j -> i); cast ray in +lon direction at latitude `lat`
      if (((yi > lat) != (yj > lat)) &&
          (lon < (xj - xi) * (lat - yi) / (yj - yi) + xi)) {
        inside = !inside
      }
      pj = pi
    }
    inside
  }

  /** The closed ring's edges (v0, v1), …, (v(n-1), v0) in one pass. */
  private def existsEdge(ring: Seq[Pt])(f: (Pt, Pt) => Boolean): Boolean =
    ring.nonEmpty && {
      val it = ring.iterator
      var a = it.next()
      var hit = false
      while (!hit && it.hasNext) { val b = it.next(); hit = f(a, b); a = b }
      hit || f(a, ring.head)
    }

  /** Union-of-rings containment: the reference emits every ring of a relation
    * as a free-standing exterior ring (roles ignored, holes not subtracted —
    * `/root/reference/src/osm_reader.rs:55-57`,
    * `/root/reference/src/output/file_writer_geojson.rs:53-60`), so a point is
    * "in the polygon" iff it is inside ANY ring.
    */
  def containsPoint(rings: Seq[Seq[Pt]], lat: Double, lon: Double): Boolean =
    rings.exists(r => rayCastContainsRing(r, lat, lon))

  /** (minLat, minLon, maxLat, maxLon) over all rings. */
  def bbox(rings: Seq[Seq[Pt]]): (Double, Double, Double, Double) = {
    var minLat = Double.MaxValue; var minLon = Double.MaxValue
    var maxLat = Double.MinValue; var maxLon = Double.MinValue
    rings.foreach(_.foreach { p =>
      if (p.lat < minLat) minLat = p.lat
      if (p.lat > maxLat) maxLat = p.lat
      if (p.lon < minLon) minLon = p.lon
      if (p.lon > maxLon) maxLon = p.lon
    })
    (minLat, minLon, maxLat, maxLon)
  }

  /** Twice the signed area of a ring (shoelace, x=lon, y=lat).
    * >0 = counter-clockwise. Used for winding-order normalization tests.
    */
  def signedArea2(ring: Seq[Pt]): Double = {
    def cross(a: Pt, b: Pt): Double =
      a.lon.toDouble * b.lat.toDouble - b.lon.toDouble * a.lat.toDouble
    var s = 0.0
    // one pass carrying the previous vertex, closing edge last: O(V) on a
    // List, with the indexed loop's summation order
    if (ring.nonEmpty) {
      val it = ring.iterator
      val first = it.next()
      var a = first
      while (it.hasNext) { val b = it.next(); s += cross(a, b); a = b }
      s += cross(a, first)
    }
    s
  }

  /** Twice the signed area on DECIMICRO integer coords — EXACT (no float
    * anywhere). Origin-translated to the first vertex so per-product
    * magnitudes stay ≤ 3.6e9·1.8e9 ≈ 6.5e18 (inside Long), then
    * accumulated in signed 128 bits via Math.multiplyHigh. Intermediate
    * two's-complement wraps would self-correct, but the RESULT itself
    * reaches 2·(3.6e9·1.8e9) ≈ 1.3e19 for a world-spanning ring — past
    * 2^63 — and a Long accumulator hands back the wrapped garbage with no
    * warning. The 128-bit narrowing throws ArithmeticException when the
    * true value exceeds Long range — loud, never silently wrong.
    * Duplicate consecutive vertices and a closing duplicate contribute
    * zero. >0 = counter-clockwise (x=lon, y=lat).
    */
  def signedArea2Dm(latDm: Array[Int], lonDm: Array[Int]): Long = {
    val n = latDm.length
    require(lonDm.length == n, s"ring arrays differ: $n vs ${lonDm.length}")
    if (n < 3) return 0L
    val x0 = lonDm(0).toLong
    val y0 = latDm(0).toLong
    var hi = 0L
    var lo = 0L
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val xi = lonDm(i) - x0; val yi = latDm(i) - y0
      val xj = lonDm(j) - x0; val yj = latDm(j) - y0
      // (hi, lo) += xi*yj  followed by  (hi, lo) += (-xj)*yi, each product
      // as a full signed 128-bit value (|delta| ≤ 3.6e9 so -xj never wraps)
      var pLo = xi * yj
      var newLo = lo + pLo
      hi += Math.multiplyHigh(xi, yj) +
        (if (java.lang.Long.compareUnsigned(newLo, pLo) < 0) 1L else 0L)
      lo = newLo
      pLo = -xj * yi
      newLo = lo + pLo
      hi += Math.multiplyHigh(-xj, yi) +
        (if (java.lang.Long.compareUnsigned(newLo, pLo) < 0) 1L else 0L)
      lo = newLo
      i += 1
    }
    if (hi != (lo >> 63))
      throw new ArithmeticException(
        s"signed area2 of $n-vertex ring exceeds Long range (hi=$hi lo=$lo)")
    lo
  }

  /** Polygon centroid on decimicro coords, EXACT: the standard
    * cross-product centroid evaluated as a BigInt rational
    * (Σ(dᵢ+dⱼ)·crossᵢⱼ) / (3·Σcrossᵢⱼ) relative to the first vertex, then
    * rounded half-up to integer decimicro. Third powers of global-span
    * coordinates overflow even origin-translated Longs (~7e24), hence the
    * BigInt accumulation; the result is a deterministic integer pair.
    * Returns None for degenerate rings (zero signed area).
    */
  def centroidDm(latDm: Array[Int], lonDm: Array[Int]): Option[(Int, Int)] = {
    val n = latDm.length
    require(lonDm.length == n, s"ring arrays differ: $n vs ${lonDm.length}")
    if (n < 3) return None
    val x0 = lonDm(0).toLong; val y0 = latDm(0).toLong
    var a2 = BigInt(0); var sx = BigInt(0); var sy = BigInt(0)
    var i = 0
    while (i < n) {
      val j = if (i + 1 == n) 0 else i + 1
      val xi = lonDm(i) - x0; val yi = latDm(i) - y0
      val xj = lonDm(j) - x0; val yj = latDm(j) - y0
      val cross = BigInt(xi) * yj - BigInt(xj) * yi
      a2 += cross
      sx += cross * (xi + xj)
      sy += cross * (yi + yj)
      i += 1
    }
    if (a2 == 0) return None
    var den = a2 * 3
    if (den < 0) { den = -den; sx = -sx; sy = -sy }
    def roundDiv(num: BigInt): Long = {
      // round half-up = floor((2num + den) / 2den); BigInt `/` truncates
      // toward zero, so adjust negative inexact quotients down
      val a = num * 2 + den; val b = den * 2
      val q = a / b
      (if (a % b != 0 && a.sign * b.sign < 0) q - 1 else q).toLong
    }
    Some(((y0 + roundDiv(sy)).toInt, (x0 + roundDiv(sx)).toInt))
  }

  /** Do segments (a1,a2) and (b1,b2) intersect (inclusive of endpoints)? */
  def segmentsIntersect(
      ax1: Double, ay1: Double, ax2: Double, ay2: Double,
      bx1: Double, by1: Double, bx2: Double, by2: Double): Boolean = {
    def orient(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Int = {
      val v = (qx - px) * (ry - py) - (qy - py) * (rx - px)
      if (v > 0) 1 else if (v < 0) -1 else 0
    }
    def onSeg(px: Double, py: Double, qx: Double, qy: Double, rx: Double, ry: Double): Boolean =
      math.min(px, qx) <= rx && rx <= math.max(px, qx) &&
        math.min(py, qy) <= ry && ry <= math.max(py, qy)
    val o1 = orient(ax1, ay1, ax2, ay2, bx1, by1)
    val o2 = orient(ax1, ay1, ax2, ay2, bx2, by2)
    val o3 = orient(bx1, by1, bx2, by2, ax1, ay1)
    val o4 = orient(bx1, by1, bx2, by2, ax2, ay2)
    if (o1 != o2 && o3 != o4) true
    else (o1 == 0 && onSeg(ax1, ay1, ax2, ay2, bx1, by1)) ||
      (o2 == 0 && onSeg(ax1, ay1, ax2, ay2, bx2, by2)) ||
      (o3 == 0 && onSeg(bx1, by1, bx2, by2, ax1, ay1)) ||
      (o4 == 0 && onSeg(bx1, by1, bx2, by2, ax2, ay2))
  }

  /** Does any ring of the polygon intersect the axis-aligned rectangle
    * [minLat,maxLat]×[minLon,maxLon]? True when: a rect corner is inside the
    * polygon, a polygon vertex is inside the rect, or any ring edge crosses a
    * rect edge. Used to prune a polygon's cell cover to cells it touches.
    */
  def ringsIntersectRect(
      rings: Seq[Seq[Pt]],
      minLat: Double, minLon: Double, maxLat: Double, maxLon: Double): Boolean = {
    // polygon vertex inside rect
    if (rings.exists(_.exists(p =>
        p.lat >= minLat && p.lat <= maxLat && p.lon >= minLon && p.lon <= maxLon)))
      return true
    // rect corner inside polygon
    val corners = Seq((minLat, minLon), (minLat, maxLon), (maxLat, minLon), (maxLat, maxLon))
    if (corners.exists { case (la, lo) => containsPoint(rings, la, lo) }) return true
    // edge crossings (ring treated as closed)
    val rectEdges = Seq(
      (minLon, minLat, maxLon, minLat), (maxLon, minLat, maxLon, maxLat),
      (maxLon, maxLat, minLon, maxLat), (minLon, maxLat, minLon, minLat))
    rings.exists(ring => existsEdge(ring) { (a, b) =>
      rectEdges.exists { case (x1, y1, x2, y2) =>
        segmentsIntersect(a.lon, a.lat, b.lon, b.lat, x1, y1, x2, y2)
      }
    })
  }

  /** Euclidean distance in (lat, lon) degree space — the kNN metric.
    * Deliberately planar (not haversine): SQL-expressible so the DuckDB
    * oracle can reproduce it exactly.
    */
  def dist2(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dy = lat1 - lat2; val dx = lon1 - lon2
    dy * dy + dx * dx
  }

  /** Per-ring convexity audit over an exploded vertex table
    * (ring_id, idx, n, x, y) with idx ∈ [0, n) in ring order —
    * INTEGER-exact: signed doubled area for the winding, the turn
    * cross product at every vertex classified against the ring
    * orientation. Emits (ring_id, n_verts, area2, winding, n_reflex,
    * n_collinear, is_convex) with area2 = |Σ x_i·y_{i+1} − x_{i+1}·y_i|,
    * winding ∈ {ccw, cw}, reflex = turns opposing the orientation,
    * is_convex = 1 iff no reflex turn (collinear vertices allowed —
    * weak convexity, matching the usual polygon-simplification
    * contract). Two modular-successor equi-joins + one ring-keyed
    * aggregation; nothing quadratic, no window.
    *
    * Assumes simple rings with nonzero area (the q120 segment-overlay
    * audit is the simplicity check; compose them).
    */
  def ringConvexity(verts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val v = verts.select(col("ring_id").cast("long").as("ring_id"),
      col("idx").cast("long").as("idx"), col("n").cast("long").as("n"),
      col("x").cast("long").as("x"), col("y").cast("long").as("y"))
    val nxt = v.select(col("ring_id").as("brid"), col("idx").as("bidx"),
      col("x").as("bx"), col("y").as("by"))
    val nn2 = v.select(col("ring_id").as("crid"), col("idx").as("cidx"),
      col("x").as("cx"), col("y").as("cy"))
    val area = v.join(nxt,
        col("brid") === col("ring_id") &&
          col("bidx") === (col("idx") + 1) % col("n"))
      .groupBy(col("ring_id").as("rid"))
      .agg(sum(col("x") * col("by") - col("bx") * col("y")).as("s2"),
        count(lit(1)).as("n_verts"))
    val turns = v.join(nxt,
        col("brid") === col("ring_id") &&
          col("bidx") === (col("idx") + 1) % col("n"))
      .join(nn2,
        col("crid") === col("ring_id") &&
          col("cidx") === (col("idx") + 2) % col("n"))
      .select(col("ring_id"),
        ((col("bx") - col("x")) * (col("cy") - col("by")) -
          (col("by") - col("y")) * (col("cx") - col("bx"))).as("cr"))
    turns.join(area, turns("ring_id") === col("rid"))
      .groupBy(col("ring_id"))
      .agg(max(col("n_verts")).as("n_verts"),
        max(abs(col("s2"))).as("area2"),
        max(when(col("s2") > 0, "ccw").otherwise("cw")).as("winding"),
        sum(when(signum(col("cr")) * signum(col("s2")) < 0, 1L)
          .otherwise(0L)).as("n_reflex"),
        sum(when(col("cr") === 0, 1L).otherwise(0L)).as("n_collinear"))
      .withColumn("is_convex", (col("n_reflex") === 0).cast("int"))
  }
}
