package graft.geom

import graft.emit.FloatFmt.fmtF32

/** EXTENSIONS beyond the reference (clearly opt-in — the reference ignores
  * member roles and emits every ring as a free-standing exterior with no
  * winding rewind, `/root/reference/src/output/file_writer_geojson.rs:53-60`;
  * graft's default emitters preserve that exactly). The north star names
  * winding-order normalization and inner/outer hole handling as engine
  * capabilities, provided here:
  *
  *  - RFC 7946 winding normalization: exterior rings counter-clockwise,
  *    holes clockwise.
  *  - Role-aware hole assignment: each inner ring becomes a hole of the
  *    (innermost) outer ring that contains it; unmatched inner rings stay
  *    free-standing exteriors.
  */
object Holes {

  final case class HolePolygon(outer: Seq[Pt], holes: Seq[Seq[Pt]])

  /** Ring orientation in (x=lon, y=lat): true = counter-clockwise. */
  def isCcw(ring: Seq[Pt]): Boolean = Geom.signedArea2(dedupClosed(ring)) > 0

  /** Drop the duplicate closing vertex (and stitch-duplicated junction
    * vertices) so area/orientation math sees a simple ring.
    */
  def dedupClosed(ring: Seq[Pt]): Seq[Pt] = {
    // each vertex against its predecessor in one pass: O(V) on a List
    val r = ring.take(1).toVector ++
      ring.iterator.zip(ring.iterator.drop(1)).collect { case (a, b) if b != a => b }
    if (r.length > 1 && r.head == r.last) r.init else r
  }

  def normalizeWinding(ring: Seq[Pt], ccw: Boolean): Seq[Pt] =
    if (isCcw(ring) == ccw) ring else ring.reverse

  /** Assign each inner ring to the smallest-area outer ring containing its
    * first vertex; inner rings contained by no outer remain exteriors.
    */
  def assignHoles(outers: Seq[Seq[Pt]], inners: Seq[Seq[Pt]]): Seq[HolePolygon] = {
    val base = outers.map(o => (o, scala.collection.mutable.ArrayBuffer.empty[Seq[Pt]]))
    val orphans = scala.collection.mutable.ArrayBuffer.empty[Seq[Pt]]
    inners.foreach { in =>
      val p = dedupClosed(in).headOption
      val candidates = p.toSeq.flatMap(pt =>
        base.filter { case (o, _) => Geom.rayCastContainsRing(o, pt.lat, pt.lon) })
      if (candidates.isEmpty) orphans += in
      else {
        val target = candidates.minBy { case (o, _) => math.abs(Geom.signedArea2(o)) }
        target._2 += in
      }
    }
    base.map { case (o, hs) =>
      HolePolygon(normalizeWinding(o, ccw = true), hs.map(normalizeWinding(_, ccw = false)).toSeq)
    } ++ orphans.map(o => HolePolygon(normalizeWinding(o, ccw = true), Seq.empty))
  }

  private def ringJson(ring: Seq[Pt]): String = {
    val closed =
      if (ring.nonEmpty && ring.head != ring.last) ring :+ ring.head else ring
    closed.map(pt => s"[${fmtF32(pt.lon)},${fmtF32(pt.lat)}]").mkString("[", ",", "]")
  }

  /** RFC 7946-compliant GeoJSON: holes nested inside their exterior ring,
    * exterior CCW / holes CW. Geometry only (callers wrap in a Feature).
    */
  def geoJsonRfc7946(polys: Seq[HolePolygon]): Option[String] = {
    if (polys.isEmpty) return None
    def polyJson(p: HolePolygon): String =
      (ringJson(p.outer) +: p.holes.map(ringJson)).mkString("[", ",", "]")
    Some(
      if (polys.length == 1)
        s"""{"coordinates":${polyJson(polys.head)},"type":"Polygon"}"""
      else
        s"""{"coordinates":[${polys.map(polyJson).mkString(",")}],"type":"MultiPolygon"}""")
  }
}
