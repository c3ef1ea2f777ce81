package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.geom.{Holes, Pt}

class HolesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def sq(lat0: Float, lon0: Float, s: Float) =
    Seq(Pt(lat0, lon0), Pt(lat0, lon0 + s), Pt(lat0 + s, lon0 + s), Pt(lat0 + s, lon0))

  test("winding: normalization yields CCW exteriors and CW holes") {
    val ccw = Seq(Pt(0f, 0f), Pt(0f, 1f), Pt(1f, 1f), Pt(1f, 0f)) // lon-then-lat order → check
    assert(Holes.isCcw(Holes.normalizeWinding(ccw, ccw = true)))
    assert(!Holes.isCcw(Holes.normalizeWinding(ccw, ccw = false)))
    // closing vertex and stitch duplicates don't break orientation math
    val withDups = Seq(Pt(0f, 0f), Pt(0f, 1f), Pt(0f, 1f), Pt(1f, 1f), Pt(1f, 0f), Pt(0f, 0f))
    assert(Holes.dedupClosed(withDups) == Seq(Pt(0f, 0f), Pt(0f, 1f), Pt(1f, 1f), Pt(1f, 0f)))
  }

  test("hole assignment: inner ring inside outer becomes its hole; orphans stay exterior") {
    val outer = sq(0f, 0f, 10f)
    val innerInside = sq(4f, 4f, 2f)
    val innerOutside = sq(50f, 50f, 1f)
    val polys = Holes.assignHoles(Seq(outer), Seq(innerInside, innerOutside))
    assert(polys.length == 2)
    val withHole = polys.find(_.holes.nonEmpty).get
    assert(Holes.isCcw(withHole.outer) && !Holes.isCcw(withHole.holes.head))
    assert(polys.count(_.holes.isEmpty) == 1)
  }

  test("nested outers: hole goes to the innermost containing outer") {
    val big = sq(0f, 0f, 20f)
    val small = sq(5f, 5f, 8f)
    val hole = sq(7f, 7f, 1f)
    val polys = Holes.assignHoles(Seq(big, small), Seq(hole))
    val target = polys.find(_.holes.nonEmpty).get
    assert(Holes.dedupClosed(target.outer).toSet == small.toSet)
  }

  test("rfc7946 geometry json: holes nested, single vs multi polygon") {
    val one = Holes.geoJsonRfc7946(Seq(Holes.HolePolygon(sq(0f, 0f, 2f), Seq(sq(0.5f, 0.5f, 1f))))).get
    assert(one.contains("\"type\":\"Polygon\""))
    assert(one.count(_ == '[') > 2) // two rings present
    val two = Holes.geoJsonRfc7946(Seq(
      Holes.HolePolygon(sq(0f, 0f, 2f), Nil), Holes.HolePolygon(sq(5f, 5f, 2f), Nil))).get
    assert(two.contains("MultiPolygon"))
    assert(Holes.geoJsonRfc7946(Nil).isEmpty)
  }

  test("role-aware extraction end-to-end: S3 scene inner ring becomes a hole") {
    // S3 in the golden scene has an outer ring and a DISJOINT inner ring —
    // build a variant where the inner ring is truly inside the outer
    import graft.fixtures.OsmScenes._
    val outerIds = Seq(1L, 2L, 3L, 4L)
    val innerIds = Seq(10L, 11L, 12L, 13L)
    val nodes =
      outerIds.zip(Seq((0, 0), (0, 10), (10, 10), (10, 0))).map { case (id, (la, lo)) =>
        NodeRow(id, la * 10000000, lo * 10000000, Map.empty)
      } ++ innerIds.zip(Seq((4, 4), (4, 6), (6, 6), (6, 4))).map { case (id, (la, lo)) =>
        NodeRow(id, la * 10000000, lo * 10000000, Map.empty)
      }
    val ways = Seq(
      WayRow(100, outerIds :+ outerIds.head, Map.empty),
      WayRow(101, innerIds :+ innerIds.head, Map.empty))
    val rels = Seq(RelationRow(7,
      Seq(Member("way", 100, "outer"), Member("way", 101, "inner")),
      Map("boundary" -> "administrative", "admin_level" -> "8", "name" -> "Holed")))
    val (n, w, r) = Scene(nodes, ways, rels).toDFs(spark)
    val out = graft.osm.BoundaryExtract.extractRfc7946(spark, r, w, n, 8, 8).collect()
    assert(out.length == 1)
    val row = out.head
    assert(row.getAs[String]("name") == "Holed")
    assert(row.getAs[Int]("n_polygons") == 1 && row.getAs[Int]("n_holes") == 1)
    val js = row.getAs[String]("geometry_rfc7946")
    assert(js.contains("\"type\":\"Polygon\""))
    // default (reference-parity) path still emits both rings hole-free
    val ref = graft.osm.BoundaryExtract.extract(spark, r, w, n, 8, 8).collect().head
    assert(ref.rings.length == 2)
  }

  test("role-aware extraction pins every golden row; all-dangling relations are dropped") {
    import graft.fixtures.OsmScenes._
    // golden S1–S7 plus one admin-8 relation whose member ways (outer and
    // inner) are all missing: the role-aware path keeps only relations with
    // surviving vertices, the reference path keeps it with empty rings
    val g = golden
    val dangling = RelationRow(180,
      Seq(Member("way", 996L, "outer"), Member("way", 997L, "inner")),
      Map("boundary" -> "administrative", "admin_level" -> "8", "name" -> "Ghost"))
    val (n, w, r) = g.copy(relations = g.relations :+ dangling).toDFs(spark)
    val got = graft.osm.BoundaryExtract.extractRfc7946(spark, r, w, n, 8, 8).collect()
      .map(row => (row.getAs[Long]("relation_id"), row.getAs[String]("name"),
        row.getAs[Int]("n_polygons"), row.getAs[Int]("n_holes"),
        row.getAs[String]("geometry_rfc7946")))
      .sortBy(_._1).toSeq
    // closing vertex and stitch-junction duplicates stay in the rings;
    // S3's inner ring is disjoint from its outer, so it stays an exterior
    def square(lat: String, lon: String, lat1: String, lon1: String) =
      s"[[[$lon,$lat],[$lon1,$lat],[$lon1,$lat1],[$lon,$lat1],[$lon,$lat]]]"
    def polygon(c: String) = s"""{"coordinates":$c,"type":"Polygon"}"""
    val s6 = polygon(square("53", "13", "53.1", "13.1"))
    val want = Seq(
      (11L, "Alpha", 1, 0, polygon(
        "[[[8.1,48.1],[8,48.1],[8,48.1],[8,48],[8,48],[8.1,48],[8.1,48.1]]]")),
      (12L, "Beta", 1, 0, polygon(
        "[[[9,49],[9.1,49],[9.1,49.1],[9.1,49.1],[9,49.1],[9,49.1],[9,49]]]")),
      (13L, "Gamma", 2, 0, s"""{"coordinates":[${square("50", "10", "50.2", "10.2")},""" +
        s"""${square("50.5", "10.5", "50.55", "10.55")}],"type":"MultiPolygon"}"""),
      (14L, "Delta", 1, 0, polygon(
        "[[[11.1,51.1],[11,51.1],[11,51],[11,51],[11.1,51],[11.1,51.1]]]")),
      (15L, "Stadt_UNKNOWN_NAME", 1, 0, polygon(square("52", "12", "52.1", "12.1"))),
      (161L, "Vimianzo", 1, 0, s6),
      (162L, "vimianzo", 1, 0, s6),
      (163L, "Vimianzo", 1, 0, s6),
      (164L, "Unique", 1, 0, s6),
      (165L, "ab\\/&:<>|*c", 1, 0, s6),
      (173L, "Exact", 1, 0, polygon(square("54", "14", "54.1", "14.1"))))
    assert(got == want)
    val ref = graft.osm.BoundaryExtract.extract(spark, r, w, n, 8, 8).collect()
      .find(_.relation_id == 180L)
    assert(ref.map(p => (p.name, p.rings)) == Some(("Ghost", Nil)))
  }
}
