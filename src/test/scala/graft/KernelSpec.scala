package graft

import org.scalatest.concurrent.TimeLimits
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}
import graft.osm.AdminLevel
import graft.naming.Naming
import graft.ring.RingAssembler
import graft.ring.RingAssembler.SegNode
import graft.geom.{Geom, Holes, Pt, PolygonRow}
import graft.emit.{Emitters, FloatFmt}
import graft.cell.CellIndex

/** Ports of the reference's 15 inline unit tests (SURVEY.md §5) plus kernel
  * tests the reference lacks (R1 ring assembly, K1 poly format, f32 fmt,
  * cell index). Reference cites per block.
  */
class AdminLevelSpec extends AnyFunSuite {
  // /root/reference/src/osm_reader.rs:168-231 — 5 tests
  test("empty relation has not proper admin level") { // :169-172
    assert(!AdminLevel.hasProperAdminLevel(Map.empty, 1, 8))
  }
  test("admin level too high is not valid") { // :174-181
    assert(!AdminLevel.hasProperAdminLevel(Map("admin_level" -> "9"), 1, 8))
  }
  test("admin level == max is valid") { // :184-192
    assert(AdminLevel.hasProperAdminLevel(Map("admin_level" -> "8"), 1, 8))
  }
  test("min admin level filters out") { // :194-199
    assert(!AdminLevel.hasProperAdminLevel(Map("admin_level" -> "0"), 1, 8))
  }
  test("min == max lets only exact level through") { // :201-231
    assert(!AdminLevel.hasProperAdminLevel(Map("admin_level" -> "2"), 3, 3))
    assert(AdminLevel.hasProperAdminLevel(Map("admin_level" -> "3"), 3, 3))
    assert(!AdminLevel.hasProperAdminLevel(Map("admin_level" -> "4"), 3, 3))
  }
  test("i8 parse edge semantics: out-of-range and garbage default to 127") {
    // parse::<i8>() fails for >127 → default 127 → passes only if max >= 127
    assert(!AdminLevel.hasProperAdminLevel(Map("admin_level" -> "200"), 1, 8))
    assert(AdminLevel.hasProperAdminLevel(Map("admin_level" -> "200"), 1, 127))
    assert(!AdminLevel.hasProperAdminLevel(Map("admin_level" -> " 5"), 1, 8)) // whitespace rejected
    assert(AdminLevel.hasProperAdminLevel(Map("admin_level" -> "+5"), 1, 8)) // sign accepted
  }
}

class NamingSpec extends AnyFunSuite {
  // /root/reference/src/output/output_handler.rs:141-279 — 4 tests
  test("make_safe removes forbidden chars") { // :141-149
    assert(Naming.makeSafe("abc&:<>/\\|*") == "abc")
  }
  test("make_safe doesn't replace harmless characters") { // :151-159
    assert(Naming.makeSafe("jhdsakljvsjkasspasd") == "jhdsakljvsjkasspasd")
  }
  test("duplicate regions all get _relationId suffixes, unique between them doesn't") { // :161-211
    val in = Seq(("spain_region", 100L), ("french_region", 200L),
      ("spain_region", 300L), ("spain_region", 400L))
    assert(Naming.dedupNames(in) ==
      Seq("spain_region_100", "french_region", "spain_region_300", "spain_region_400"))
  }
  test("unique names unsuffixed") { // :213-249
    val in = Seq(("a_region", 1L), ("b_region", 2L), ("c_region", 3L))
    assert(Naming.dedupNames(in) == Seq("a_region", "b_region", "c_region"))
  }
  test("case-insensitive dup detection retains original casing") { // :251-279
    val in = Seq(("Vimianzo", 10L), ("vimianzo", 20L))
    assert(Naming.dedupNames(in) == Seq("Vimianzo_10", "vimianzo_20"))
  }
}

class RingAssemblerSpec extends AnyFunSuite {
  private def seg(ids: Long*): Seq[SegNode] = ids.map(i => SegNode(i, i.toInt * 10, i.toInt * 20))

  test("single pre-closed way passes through") {
    val r = RingAssembler.assemble(Seq(seg(1, 2, 3, 1)))
    assert(r == Seq(seg(1, 2, 3, 1)))
  }

  test("two segments stitched keep duplicate junction node; head-match wins first") {
    // nodes=[A=[1,2,3], B=[3,4,1]]: seed A; find_match(path.FIRST=1) runs
    // before the tail check (converter.rs:55 vs :64) and B's TAIL is 1 →
    // find_match reverses B to [1,4,3]; caller reverses again and prepends →
    // [3,4,1] ++ [1,2,3]. Junction node 1 appears twice (no dedup on append).
    val r = RingAssembler.assemble(Seq(seg(1, 2, 3), seg(3, 4, 1)))
    assert(r == Seq(seg(3, 4, 1, 1, 2, 3)))
  }

  test("head match prepends reversed candidate (converter.rs:55-61)") {
    // path = [5,6,7]; candidate [5,4,3] matches path.head at ITS head →
    // find_match returns it as-is, caller reverses → [3,4,5] ++ path
    val r = RingAssembler.assemble(Seq(seg(5, 6, 7), seg(5, 4, 3)))
    assert(r == Seq(seg(3, 4, 5, 5, 6, 7)))
  }

  test("tail-of-candidate match reverses inside find_match (converter.rs:98-101)") {
    // path=[1,2]; candidate [4,3,2] matches path.last==2 at its TAIL →
    // find_match reverses to [2,3,4]; appended.
    val r = RingAssembler.assemble(Seq(seg(1, 2), seg(4, 3, 2)))
    assert(r == Seq(seg(1, 2, 2, 3, 4)))
  }

  test("swap_remove scan order reproduced on 3+ segments") {
    // nodes=[A,B,C,D]; seed=swap_remove(0) → path=A=[1,2], nodes=[D,B,C]
    // (last moved into slot 0). find_match(head=1): scans D=[9,8] no,
    // B=[2,3] no, C=[7,9] no. find_match(tail=2): D no, B=[2,3] head-match →
    // swap_remove(1): nodes=[D,C]; path=[1,2,2,3]. find_match(tail=3): none;
    // head=1: none → ring1 done. seed=swap_remove(0)=D=[9,8], nodes=[C].
    // head=9: C=[7,9] tail-match → reversed [9,7]; caller path.first branch:
    // m reversed again → [7,9] ++ [9,8] = [7,9,9,8].
    val a = seg(1, 2); val b = seg(2, 3); val c = seg(7, 9); val d = seg(9, 8)
    val r = RingAssembler.assemble(Seq(a, b, c, d))
    assert(r == Seq(seg(1, 2, 2, 3), seg(7, 9, 9, 8)))
  }

  test("empty segments dropped (documented divergence, SURVEY.md §7.4.4)") {
    val r = RingAssembler.assemble(Seq(Seq.empty, seg(1, 2, 1)))
    assert(r == Seq(seg(1, 2, 1)))
  }

  test("property: random ring segmentation reassembles to one closed cycle") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val n = 3 + rnd.nextInt(12)
      val ringIds = (1L to n.toLong) :+ 1L // closed way sequence 1..n..1
      val full = ringIds.map(i => SegNode(i, i.toInt, -i.toInt))
      // cut into 1..n segments at random cut points; each segment shares its
      // boundary node with the next (OSM way-splitting convention)
      val cuts = (1 until full.length - 1).filter(_ => rnd.nextBoolean())
      val bounds = (0 +: cuts :+ (full.length - 1)).distinct.sorted
      var segs = bounds.sliding(2).map { case Seq(a, b) => full.slice(a, b + 1) }.toSeq
      segs = rnd.shuffle(segs).map(s => if (rnd.nextBoolean()) s.reverse else s)
      val out = RingAssembler.assemble(segs)
      assert(out.length == 1, s"expected 1 ring, got ${out.length} for segs=$segs")
      val path = out.head
      assert(path.head.id == path.last.id, s"not closed: $path")
      // distinct ids on the stitched path = the original ring's ids
      assert(path.map(_.id).distinct.toSet == ringIds.toSet)
    }
  }
}

class FloatFmtSpec extends AnyFunSuite {
  test("shortest round-trip matches Rust Display samples") {
    assert(FloatFmt.fmtF32(1.0f) == "1")
    assert(FloatFmt.fmtF32(-0.0f) == "-0")
    assert(FloatFmt.fmtF32(0.0f) == "0")
    assert(FloatFmt.fmtF32(1.1f) == "1.1")
    assert(FloatFmt.fmtF32(-54.3f) == "-54.3")
    assert(FloatFmt.fmtF32(48.94925f) == "48.94925")
    assert(FloatFmt.fmtF32(0.1f) == "0.1")
    assert(FloatFmt.fmtF32(0.30000001f) == "0.3") // same f32 bits as 0.3f → shortest is 0.3
    assert(FloatFmt.fmtF32(100.0f) == "100")
    assert(FloatFmt.fmtF32(5.4302e-5f) == "0.000054302")
  }
  test("property: every rendered value parses back to identical bits") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 5000) {
      val f = (rnd.nextDouble() * 360.0 - 180.0).toFloat
      val s = FloatFmt.fmtF32(f)
      assert(java.lang.Float.parseFloat(s) == f, s"$f -> $s")
      // shortest: the nearest decimal with one fewer SIGNIFICANT digit must
      // not round-trip (HALF_EVEN of the exact value is the nearest p-digit
      // decimal, so if it fails, all p-digit decimals fail)
      val sig = s.replace("-", "").replace(".", "").dropWhile(_ == '0').length
      if (sig > 1) {
        val shorter = new java.math.BigDecimal(f.toDouble)
          .round(new java.math.MathContext(sig - 1)).floatValue()
        assert(shorter != f, s"$f -> $s not shortest")
      }
    }
  }
}

class EmittersSpec extends AnyFunSuite {
  private val square = Seq(Pt(1.0f, 1.0f), Pt(1.0f, 2.0f), Pt(2.0f, 2.0f), Pt(2.0f, 1.0f))
  private val tri = Seq(Pt(0.0f, 0.0f), Pt(0.0f, 1.0f), Pt(1.0f, 0.0f))

  test("poly format: name, area_i, \\t lon \\t lat, END per ring, final END (file_writer_poly.rs:9-31)") {
    val p = PolygonRow("Alpha", Seq(Seq(Pt(48.5f, 8.25f), Pt(48.6f, 8.5f))), 7L, 8L)
    assert(Emitters.polyText(p) ==
      "Alpha\narea_1\n\t8.25 \t48.5\n\t8.5 \t48.6\nEND\nEND\n")
  }
  test("poly format: two rings → area_1, area_2") {
    val p = PolygonRow("B", Seq(Seq(Pt(1f, 2f)), Seq(Pt(3f, 4f))), 1L, 0L)
    assert(Emitters.polyText(p) ==
      "B\narea_1\n\t2 \t1\nEND\narea_2\n\t4 \t3\nEND\nEND\n")
  }

  // /root/reference/src/output/file_writer_geojson.rs:78-236 — 6 tests
  test("single ring → Polygon with lon=x, lat=y (geojson tests :78-100, :183-200)") {
    val p = PolygonRow("A", Seq(tri), 1L, 2L)
    val js = Emitters.geoJson(p).get
    assert(js.contains("\"type\":\"Polygon\""))
    assert(js.contains("\"type\":\"Feature\""))
    // lon first in coordinate pairs; ring auto-closed (first point appended)
    assert(js.contains("[[[0,0],[1,0],[0,1],[0,0]]]"))
  }
  test("multiple rings → MultiPolygon, each ring free-standing, no holes (:102-150, :152-181)") {
    val p = PolygonRow("A", Seq(tri, square), 1L, 2L)
    val js = Emitters.geoJson(p).get
    assert(js.contains("\"type\":\"MultiPolygon\""))
    // two top-level polygons each with a single (exterior) ring
    assert(js.contains("[[[[0,0],[1,0],[0,1],[0,0]]],[[[1,1],[2,1],[2,2],[1,2],[1,1]]]]"))
  }
  test("zero rings → error/None (:202-206)") {
    assert(Emitters.geoJson(PolygonRow("A", Seq.empty, 1L, 2L)).isEmpty)
  }
  test("properties contain name (:208-221) and admin_level (:223-236) and relation_id (:37-43)") {
    val js = Emitters.geoJson(PolygonRow("Papaichton", Seq(tri), 42L, 8L)).get
    assert(js.contains("\"name\":\"Papaichton\""))
    assert(js.contains("\"admin_level\":8"))
    assert(js.contains("\"relation_id\":42"))
  }
  test("already-closed ring not double-closed") {
    val closed = tri :+ tri.head
    val js = Emitters.geoJson(PolygonRow("A", Seq(closed), 1L, 0L)).get
    assert(js.contains("[[[0,0],[1,0],[0,1],[0,0]]]"))
  }
}

class GeomSpec extends AnyFunSuite with TimeLimits {
  private val square = Seq(Pt(0f, 0f), Pt(0f, 10f), Pt(10f, 10f), Pt(10f, 0f))
  private val concave = // C-shape opening right
    Seq(Pt(0f, 0f), Pt(6f, 0f), Pt(6f, 6f), Pt(5f, 6f), Pt(5f, 1f), Pt(1f, 1f), Pt(1f, 6f), Pt(0f, 6f))

  test("ray cast: inside / outside / concave notch") {
    assert(Geom.rayCastContainsRing(square, 5, 5))
    assert(!Geom.rayCastContainsRing(square, 15, 5))
    assert(!Geom.rayCastContainsRing(square, -1, -1))
    assert(Geom.rayCastContainsRing(concave, 0.5, 3)) // bottom bar
    assert(!Geom.rayCastContainsRing(concave, 3, 3)) // inside the notch
  }
  test("union-of-rings containment") {
    val far = Seq(Pt(20f, 20f), Pt(20f, 21f), Pt(21f, 21f), Pt(21f, 20f))
    assert(Geom.containsPoint(Seq(square, far), 20.5, 20.5))
    assert(Geom.containsPoint(Seq(square, far), 5, 5))
    assert(!Geom.containsPoint(Seq(square, far), 15, 15))
  }
  test("signed area sign and magnitude") {
    assert(Geom.signedArea2(Seq(Pt(0f, 0f), Pt(0f, 1f), Pt(1f, 1f), Pt(1f, 0f))) == 2.0) // CCW in (x=lon,y=lat)
    assert(Geom.signedArea2(square.reverse) == -200.0)
  }
  test("rect intersection: vertex-in-rect, rect-in-poly, edge-cross, disjoint") {
    assert(Geom.ringsIntersectRect(Seq(square), -1, -1, 1, 1)) // vertex in rect
    assert(Geom.ringsIntersectRect(Seq(square), 4, 4, 5, 5)) // rect fully inside
    assert(Geom.ringsIntersectRect(Seq(square), 4, -5, 5, 15)) // crosses two edges
    assert(!Geom.ringsIntersectRect(Seq(square), 20, 20, 30, 30))
  }
  test("a 100k-vertex List ring is walked once per call, with the Vector ring's answers") {
    // rings decoded from a Dataset are Lists: indexing one per vertex
    // would walk ~5e9 list nodes per call
    val n = 100000
    val vec = Vector.tabulate(n) { i =>
      val t = 2 * math.Pi * i / n
      Pt((10 * math.sin(t)).toFloat, (10 * math.cos(t)).toFloat)
    }
    val list = vec.toList
    val probes = Seq((0.0, 0.0), (9.99, 0.0), (20.0, 20.0), (-3.0, 7.0))
    failAfter(Span(5, Seconds)) {
      for ((la, lo) <- probes)
        assert(Geom.containsPoint(Seq(list), la, lo) == Geom.containsPoint(Seq(vec), la, lo))
      // a rect clear of the ring reaches the edge-crossing scan
      assert(!Geom.ringsIntersectRect(Seq(list), 20, 20, 30, 30))
      assert(Geom.ringsIntersectRect(Seq(list), 9.5, -1, 11, 1))
    }
  }
  test("signed area and closed-ring dedup walk a 100k-vertex List ring once, with the Vector ring's results") {
    // every 7th vertex repeated (a stitch junction) plus the closing vertex
    val n = 100000
    val vec = Vector.tabulate(n) { i =>
      val t = 2 * math.Pi * i / n
      Pt((10 * math.sin(t)).toFloat, (10 * math.cos(t)).toFloat)
    }.zipWithIndex.flatMap { case (p, i) => if (i % 7 == 0) Seq(p, p) else Seq(p) } :+ Pt(0f, 10f)
    val list = vec.toList
    failAfter(Span(5, Seconds)) {
      assert(Geom.signedArea2(list) == Geom.signedArea2(vec))
      assert(Holes.dedupClosed(list) == Holes.dedupClosed(vec))
      assert(Holes.dedupClosed(list).length == n)
      assert(Holes.isCcw(list) && Holes.isCcw(vec)) // x = lon = cos, y = lat = sin
    }
  }
}

class CellIndexSpec extends AnyFunSuite {
  test("pack/unpack roundtrip") {
    val c = CellIndex.pack(12, 1234, 4321)
    assert(CellIndex.res(c) == 12 && CellIndex.x(c) == 1234 && CellIndex.y(c) == 4321)
  }
  test("cellOf matches plain-arithmetic SQL form") {
    val lat = 48.95; val lon = 8.25; val r = 8
    val x = math.floor((lon + 180.0) / 360.0 * 256).toLong
    val y = math.floor((lat + 90.0) / 180.0 * 256).toLong
    assert(CellIndex.cellOf(lat, lon, r) == r * 288230376151711744L + x * 536870912L + y)
  }
  test("parent/children consistency") {
    val c = CellIndex.cellOf(48.95, 8.25, 10)
    assert(CellIndex.children(CellIndex.parent(c)).contains(c))
    CellIndex.children(c).foreach(ch => assert(CellIndex.parent(ch) == c))
  }
  test("point is always inside its own cell bounds") {
    val rnd = new scala.util.Random(3)
    for (_ <- 1 to 1000) {
      val lat = rnd.nextDouble() * 180 - 90
      val lon = rnd.nextDouble() * 360 - 180
      val r = rnd.nextInt(20)
      val (la0, lo0, la1, lo1) = CellIndex.bounds(CellIndex.cellOf(lat, lon, r))
      assert(lat >= la0 && lat <= la1 && lon >= lo0 && lon <= lo1)
    }
  }
  test("kRing size, wrap, clamp") {
    val mid = CellIndex.cellOf(0, 0, 8)
    assert(CellIndex.kRing(mid, 1).length == 9)
    assert(CellIndex.kRing(mid, 0) == Seq(mid))
    val pole = CellIndex.cellOf(89.9, 0, 8) // y at top edge → clamped rows
    assert(CellIndex.kRing(pole, 1).length == 6)
    val anti = CellIndex.cellOf(0, -179.9, 8) // x wraps
    assert(CellIndex.kRing(anti, 1).length == 9)
    assert(CellIndex.ringAt(mid, 2).length == 16)
  }
  test("cover is a superset of cells containing polygon points, pruned to touching cells") {
    val sq = Seq(Pt(10f, 10f), Pt(10f, 12f), Pt(12f, 12f), Pt(12f, 10f))
    val cov = CellIndex.cover(Seq(sq), 8).toSet
    // every interior sample's cell is covered
    for (la <- BigDecimal(10.1) to BigDecimal(11.9) by 0.2; lo <- BigDecimal(10.1) to BigDecimal(11.9) by 0.2)
      assert(cov.contains(CellIndex.cellOf(la.toDouble, lo.toDouble, 8)))
    // a far-away cell is not
    assert(!cov.contains(CellIndex.cellOf(50, 50, 8)))
  }
  test("coverAuto picks coarser res for big polygons") {
    val world = Seq(Pt(-80f, -170f), Pt(-80f, 170f), Pt(80f, 170f), Pt(80f, -170f))
    val (r, cells) = CellIndex.coverAuto(Seq(world), 14, 64)
    assert(cells.nonEmpty && r < 14)
    val small = Seq(Pt(1f, 1f), Pt(1f, 1.01f), Pt(1.01f, 1.01f))
    val (r2, _) = CellIndex.coverAuto(Seq(small), 14, 64)
    assert(r2 == 14)
  }
}
