package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.geom.{Geom, Pt, PolygonRow, Raster}

/** Raster↔vector: closed-form pins independent of the DuckDB oracle (the
  * oracle replicates the same arithmetic, so a symmetric mistake — e.g.
  * the classic-numbering saddle indices applied to the row-major bit
  * layout — would slip through it; these counts are hand-derived from the
  * fixture geometry instead).
  */
class RasterSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def polyDF(polys: (Long, Seq[Seq[(Int, Int)]])*) =
    spark.createDataset(polys.map { case (id, rings) =>
      PolygonRow(s"p$id", rings.map(_.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) }), id, 8L)
    }).toDF()

  private val lShape = 1L -> Seq(Seq((0, 0), (7, 0), (7, 2), (2, 2), (2, 6), (0, 6)))
  private val comb = 2L -> Seq(Seq((0, 0), (5, 0), (5, 1), (1, 1), (1, 4), (5, 4), (5, 5),
    (1, 5), (1, 8), (5, 8), (5, 9), (0, 9)))
  private val twoRings = 3L -> Seq(Seq((0, 0), (4, 0), (4, 4), (0, 4)),
    Seq((0, 6), (3, 6), (3, 9), (0, 9)))

  test("rasterize: hand-counted cells for rectilinear fixtures") {
    val got = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
      .groupBy("relation_id").count().as[(Long, Long)].collect().toMap
    // L: 2×7 vertical bar + 4×2 horizontal remainder = 22
    // comb: 1×9 base + three 1×4 teeth = 21
    // two rings: 4×4 + 3×3 = 25
    assert(got === Map(1L -> 22L, 2L -> 21L, 3L -> 25L))
  }

  test("rasterize agrees with the scalar ray-cast kernel cell by cell") {
    val polys = Seq(lShape, comb, twoRings,
      4L -> Seq(Seq((0, 4), (4, 8), (8, 4), (4, 0))),
      5L -> Seq(Seq((0, 0), (3, 7), (6, 0))))
    val got = Raster.rasterize(polyDF(polys: _*), 1.0)
      .as[(Long, Long, Long)].collect().toSet
    val want = polys.flatMap { case (id, ringsI) =>
      val rings = ringsI.map(_.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) })
      val (la0, lo0, la1, lo1) = Geom.bbox(rings)
      for {
        cy <- math.floor(la0).toLong to math.floor(la1).toLong
        cx <- math.floor(lo0).toLong to math.floor(lo1).toLong
        if Geom.containsPoint(rings, cy + 0.5, cx + 0.5)
      } yield (id, cx, cy)
    }.toSet
    assert(got === want)
  }

  test("marching squares: perimeter unit-steps for rectilinear rasters, no saddles") {
    val cells = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
    val got = Raster.marchingSquares(cells)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // (id, n_cells, n_blocks, n_segments, n_saddles); segments = perimeter
    // unit steps: L-outline 7+2+5+4+2+6=26; comb walk 44; 2(4+4)+2(3+3)=28
    assert(got(1L)._2 === 22L); assert(got(1L)._4 === 26L); assert(got(1L)._5 === 0L)
    assert(got(2L)._2 === 21L); assert(got(2L)._4 === 44L); assert(got(2L)._5 === 0L)
    assert(got(3L)._2 === 25L); assert(got(3L)._4 === 28L); assert(got(3L)._5 === 0L)
  }

  test("marching squares: diagonal cell pair is the saddle, with two segments") {
    val cells = Seq((9L, 0L, 0L), (9L, 1L, 1L)).toDF("relation_id", "cx", "cy")
    val Array((id, nCells, nBlocks, nSegs, nSaddles)) =
      Raster.marchingSquares(cells).as[(Long, Long, Long, Long, Long)].collect()
    assert(id === 9L && nCells === 2L)
    // 7 nonzero blocks: each cell's 4, minus the shared corner block
    // (1,1) counted once — it holds both diagonal bits (case 9, saddle)
    assert(nBlocks === 7L)
    assert(nSaddles === 1L)
    // two isolated cells each contribute a 4-segment loop; the saddle
    // block carries 2 of the 8
    assert(nSegs === 8L)
  }

  test("two separated rings raster to two loops' worth of boundary (counted via blocks)") {
    // vertically adjacent pair (NOT diagonal) must not count as a saddle
    val cells = Seq((9L, 0L, 0L), (9L, 0L, 1L)).toDF("relation_id", "cx", "cy")
    val Array((_, _, _, nSegs, nSaddles)) =
      Raster.marchingSquares(cells).as[(Long, Long, Long, Long, Long)].collect()
    assert(nSaddles === 0L)
    assert(nSegs === 6L) // 1×2 rectangle: 2(1+2)=6
  }

  test("rasterize plan stays narrow (no exchange)") {
    val narrow = Raster.rasterize(polyDF(lShape), 1.0)
    assert(!narrow.queryExecution.executedPlan.toString.contains("Exchange"))
    assert(narrow.count() === 22L)
  }

  test("zonalStats: hand-built pixels aggregate per intersecting zone only") {
    // zone 1 = {(0,0),(1,0)}, zone 2 = {(1,1),(2,1)} — (2,1) has no pixel
    val zones = Seq((1L, 0L, 0L), (1L, 1L, 0L), (2L, 1L, 1L), (2L, 2L, 1L))
      .toDF("relation_id", "cx", "cy")
    // image a covers a 2×2 grid; image b only pixel (0,0); pixel (9,9)
    // of a sits outside every zone and must drop out
    val pixels = Seq(
      ("a", 0, 0, 10), ("a", 1, 0, 20), ("a", 1, 1, 30), ("a", 0, 1, 99),
      ("a", 9, 9, 7), ("b", 0, 0, 5))
      .toDF("image_id", "x", "y", "g")
    val got = Raster.zonalStats(zones, pixels)
      .as[(String, Long, Long, Long, Int, Int)].collect().toSet
    assert(got === Set(
      ("a", 1L, 2L, 30L, 10, 20), // zone 1: pixels (0,0)+(1,0)
      ("a", 2L, 1L, 30L, 30, 30), // zone 2: only (1,1) exists
      ("b", 1L, 1L, 5L, 5, 5)))
  }

  test("zonalStats over real decoded pixels matches the pixel formula; zones broadcast") {
    import graft.img.{ImageOps, ImageTable}
    val zones = Seq((1L, 0L, 0L)).toDF("relation_id", "cx", "cy") // just pixel (0,0)
    val imgs = ImageTable.generate(spark, 3, 2).toDF()
    val df = Raster.zonalStats(zones, ImageOps.grayPixels(spark, imgs))
    assert(df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val got = df.as[(String, Long, Long, Long, Int, Int)].collect()
      .map(r => r._1 -> r._4).toMap
    val want = (0L until 3L).map { i =>
      val p = ImageTable.pixel(i, 0, 0)
      val g = (((p >> 16) & 255) * 299 + ((p >> 8) & 255) * 587 + (p & 255) * 114) / 1000
      f"img_$i%09d" -> g.toLong
    }.toMap
    assert(got === want)
  }

  test("focalStats: L-triple neighbor sums, isolated cell keeps cnt 0") {
    // (0,0),(1,0),(0,1) mutually adjacent (corner pair diagonal); (5,5) isolated
    val cells = Seq((1L, 0L, 0L, 1L), (1L, 1L, 0L, 2L), (1L, 0L, 1L, 4L),
      (1L, 5L, 5L, 8L)).toDF("relation_id", "cx", "cy", "v")
    val got = Raster.focalStats(cells)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 0L, 0L, 1L, 2L, 6L),
      (1L, 1L, 0L, 2L, 2L, 5L),
      (1L, 0L, 1L, 4L, 2L, 3L),
      (1L, 5L, 5L, 8L, 0L, 0L)))
  }

  test("arealInterp: hand-derived transfer table, non-overlapping pairs absent") {
    // src A = {(0,0),(1,0)} v=10; src B = {(1,1)} v=7
    // dst X = {(1,0),(1,1)}; dst Y = {(9,9)} (overlaps nothing)
    val src = Seq((100L, 0L, 0L), (100L, 1L, 0L), (200L, 1L, 1L))
      .toDF("src_id", "cx", "cy")
    val dst = Seq((1L, 1L, 0L), (1L, 1L, 1L), (2L, 9L, 9L))
      .toDF("dst_id", "cx", "cy")
    val values = Seq((100L, 10L), (200L, 7L)).toDF("src_id", "v")
    val got = Raster.arealInterp(src, dst, values)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 100L, 1L, 2L, 10L, 10L), // X gets half of A: 10·1/2
      (1L, 200L, 1L, 1L, 7L, 7L)))  // X gets all of B
  }

  test("zonalMode: majority class per zone, smallest-class tie-break") {
    val zones = Seq((1L, 0L, 0L), (1L, 1L, 0L), (2L, 5L, 5L)).toDF("relation_id", "cx", "cy")
    // zone 1 sees classes [3, 3, 7] → mode 3; zone 2 sees [2, 9] tied → 2
    val pixels = Seq((0, 0, 3L), (0, 0, 3L), (1, 0, 7L), (5, 5, 9L), (5, 5, 2L))
      .toDF("x", "y", "class")
    val got = Raster.zonalMode(zones, pixels)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 3L, 3L, 2L), (2L, 2L, 2L, 1L)))
  }

  test("zonalRollup: merging batch summaries equals the direct rollup") {
    val mk = (rows: Seq[(String, Long, Long, Long, Int, Int)]) =>
      rows.toDF("image_id", "relation_id", "n_px", "sum_g", "min_g", "max_g")
    val a = mk(Seq(("a", 1L, 2L, 30L, 10, 20), ("a", 2L, 1L, 7L, 7, 7)))
    val b = mk(Seq(("b", 1L, 3L, 9L, 1, 5), ("c", 3L, 4L, 40L, 10, 10)))
    val direct = Raster.zonalRollup(a.unionByName(b))
      .as[(Long, Long, Long, Int, Int)].collect().toSet
    val merged = Raster.zonalRollup(
        Raster.zonalRollup(a).unionByName(Raster.zonalRollup(b)))
      .as[(Long, Long, Long, Int, Int)].collect().toSet
    assert(direct === merged)
    assert(direct === Set((1L, 5L, 39L, 1, 20), (2L, 1L, 7L, 7, 7), (3L, 4L, 40L, 10, 10)))
  }

  test("focalStats: same polygon id required — twin rasters do not bleed") {
    val cells = Seq((1L, 0L, 0L, 1L), (2L, 1L, 0L, 100L)).toDF("relation_id", "cx", "cy", "v")
    val got = Raster.focalStats(cells)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 0L, 0L, 1L, 0L, 0L), (2L, 1L, 0L, 100L, 0L, 0L)))
  }

  test("distanceTransform: closed form on a solid rectangle") {
    // 7×5 rectangle: dist = min distance to each of the four edges, + 1
    val rect = polyDF(9L -> Seq(Seq((0, 0), (5, 0), (5, 7), (0, 7))))
    val got = Raster.distanceTransform(Raster.rasterize(rect, 1.0))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (_, cx, cy, d) => (cx, cy) -> d }.toMap
    assert(got.size == 35)
    for (cy <- 0L to 4L; cx <- 0L to 6L)
      assert(got((cx, cy)) ==
        1L + Seq(cx, 6L - cx, cy, 4L - cy).min, s"cell ($cx,$cy)")
  }

  test("distanceTransform: brute-force BFS oracle on the concave fixtures") {
    val cells = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
    val got = Raster.distanceTransform(cells)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, cx, cy, d) => (id, cx, cy) -> d }.toMap
    val occ = cells.as[(Long, Long, Long)].collect().toSet
    // per-id multi-source BFS seeded OUTSIDE: dist 1 = any cell with a
    // missing rook neighbor, then +1 per ring inward
    val want = occ.groupBy(_._1).flatMap { case (id, cs) =>
      val inside = cs.map { case (_, cx, cy) => (cx, cy) }
      def nbrs(c: (Long, Long)) =
        Seq((c._1 - 1, c._2), (c._1 + 1, c._2), (c._1, c._2 - 1), (c._1, c._2 + 1))
      var frontier = inside.filter(c => nbrs(c).exists(!inside.contains(_)))
      var dist = Map.empty[(Long, Long), Long]
      var d = 1L
      while (frontier.nonEmpty) {
        dist ++= frontier.map(_ -> d)
        frontier = frontier.flatMap(nbrs).filter(inside.contains)
          .filterNot(dist.contains).filterNot(frontier.contains)
        d += 1
      }
      dist.map { case ((cx, cy), dd) => (id, cx, cy) -> dd }
    }
    assert(got === want)
    // every occupied cell is labeled exactly once
    assert(got.keySet === occ.map { case (id, cx, cy) => (id, cx, cy) })
  }

  test("separable distanceTransform equals the level-synchronous BFS sibling") {
    // the closed-form field and the ring-BFS it replaced, pinned equal
    // on every concave fixture (the BFS survives as the cross-oracle)
    val cells = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
    val sep = Raster.distanceTransform(cells)
      .as[(Long, Long, Long, Long)].collect().toSet
    val bfs = RasterSpec.distanceTransformBfs(cells)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(sep === bfs)
  }

  test("voronoiAssign: equidistant tie goes to the smallest seed id") {
    // 1×5 strip, seeds 9 (left end) and 4 (right end): the center cell is
    // 2 hops from both — the tie must resolve to seed 4, NOT first-writer
    val cells = Seq.tabulate(5)(i => (1L, i.toLong, 0L))
      .toDF("relation_id", "cx", "cy")
    val seeds = Seq((1L, 0L, 0L, 9L), (1L, 4L, 0L, 4L))
      .toDF("relation_id", "cx", "cy", "seed")
    val got = Raster.voronoiAssign(cells, seeds)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (_, cx, _, d, sd) => cx -> ((d, sd)) }.toMap
    assert(got === Map(0L -> ((0L, 9L)), 1L -> ((1L, 9L)),
      2L -> ((2L, 4L)), 3L -> ((1L, 4L)), 4L -> ((0L, 4L))))
  }

  test("voronoiAssign: brute-force argmin oracle on the concave fixtures") {
    val cells = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
    val seeds = cells.filter((col("cx") * 5 + col("cy") * 3) % 7 === 0)
      .select(col("relation_id"), col("cx"), col("cy"),
        (col("cx") * 1000 + col("cy")).as("seed"))
    val got = Raster.voronoiAssign(cells, seeds)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map { case (id, cx, cy, d, sd) => (id, cx, cy) -> ((d, sd)) }.toMap
    val occ = cells.as[(Long, Long, Long)].collect().toSet
    // per-seed BFS through the raster, then per cell argmin by (dist, seed)
    val want = occ.groupBy(_._1).flatMap { case (id, cs) =>
      val inside = cs.map { case (_, cx, cy) => (cx, cy) }
      def nbrs(c: (Long, Long)) =
        Seq((c._1 - 1, c._2), (c._1 + 1, c._2), (c._1, c._2 - 1), (c._1, c._2 + 1))
      val seedCells = inside.filter(c => (c._1 * 5 + c._2 * 3) % 7 == 0)
      val best = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
      for (sc <- seedCells) {
        val sid = sc._1 * 1000 + sc._2
        var frontier = Set(sc)
        var seen = Set(sc)
        var d = 0L
        while (frontier.nonEmpty) {
          for (c <- frontier) {
            val cur = best.get(c)
            if (cur.forall(v => d < v._1 || (d == v._1 && sid < v._2)))
              best(c) = (d, sid)
          }
          frontier = frontier.flatMap(nbrs).filter(inside.contains) -- seen
          seen ++= frontier
          d += 1
        }
      }
      best.map { case ((cx, cy), v) => (id, cx, cy) -> v }
    }
    assert(got === want)
  }

  test("voronoiAssign: a component with no seed stays unlabeled") {
    // two disjoint 2-cell components under one id; seed only in the first
    val cells = Seq((1L, 0L, 0L), (1L, 1L, 0L), (1L, 5L, 5L), (1L, 6L, 5L))
      .toDF("relation_id", "cx", "cy")
    val seeds = Seq((1L, 0L, 0L, 77L)).toDF("relation_id", "cx", "cy", "seed")
    val got = Raster.voronoiAssign(cells, seeds)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 0L, 0L, 0L, 77L), (1L, 1L, 0L, 1L, 77L)))
  }

  test("costDistance: cheap detour beats the direct path") {
    // 3×3 grid, seed at (0,0); center cell costs 100, everything else 1:
    // (2,2) is reached around the rim for 4, never through the center
    val cells = (for (cx <- 0L to 2L; cy <- 0L to 2L)
      yield (1L, cx, cy, if (cx == 1 && cy == 1) 100L else 1L))
      .toDF("relation_id", "cx", "cy", "v")
    val seeds = Seq((1L, 0L, 0L)).toDF("relation_id", "cx", "cy")
    val got = Raster.costDistance(cells, seeds)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (_, cx, cy, d) => (cx, cy) -> d }.toMap
    assert(got === Map((0L, 0L) -> 0L, (1L, 0L) -> 1L, (2L, 0L) -> 2L,
      (0L, 1L) -> 1L, (2L, 1L) -> 3L, (0L, 2L) -> 2L, (1L, 2L) -> 3L,
      (2L, 2L) -> 4L, (1L, 1L) -> 101L))
  }

  test("costDistance: Dijkstra oracle on the concave fixtures") {
    val cells = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
      .withColumn("v", lit(1L) + (col("cx") + lit(2L) * col("cy")) % 5L)
    val seeds = cells.groupBy(col("relation_id"))
      .agg(min(struct(col("cy"), col("cx"))).as("m"))
      .select(col("relation_id"), col("m.cx"), col("m.cy"))
    val got = Raster.costDistance(cells, seeds)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, cx, cy, d) => (id, cx, cy) -> d }.toMap
    val occ = cells.as[(Long, Long, Long, Long)].collect()
    val want = occ.groupBy(_._1).flatMap { case (id, cs) =>
      val cost = cs.map { case (_, cx, cy, v) => (cx, cy) -> v }.toMap
      val seed = cost.keySet.minBy { case (cx, cy) => (cy, cx) }
      def nbrs(c: (Long, Long)) =
        Seq((c._1 - 1, c._2), (c._1 + 1, c._2), (c._1, c._2 - 1), (c._1, c._2 + 1))
      val dist = scala.collection.mutable.Map(seed -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, seed))(
        Ordering.by[(Long, (Long, Long)), Long](-_._1))
      while (pq.nonEmpty) {
        val (d, c) = pq.dequeue()
        if (dist(c) == d)
          for (n <- nbrs(c); v <- cost.get(n)
               if dist.get(n).forall(_ > d + v)) {
            dist(n) = d + v; pq.enqueue((d + v, n))
          }
      }
      dist.map { case ((cx, cy), d) => (id, cx, cy) -> d }
    }
    assert(got === want)
  }

  test("costDistance: a non-positive cost fails the job in-plan") {
    val cells = Seq((1L, 0L, 0L, 1L), (1L, 1L, 0L, 0L))
      .toDF("relation_id", "cx", "cy", "v")
    val seeds = Seq((1L, 0L, 0L)).toDF("relation_id", "cx", "cy")
    val e = intercept[Exception] {
      Raster.costDistance(cells, seeds).collect()
    }
    assert(e.getMessage != null)
  }

  test("bufferOut: a single cell becomes the exact Manhattan diamond") {
    val cells = Seq((1L, 5L, 5L)).toDF("relation_id", "cx", "cy")
    val got = Raster.bufferOut(cells, 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (_, cx, cy, d) => (cx, cy) -> d }.toMap
    val want = (for {
      dx <- -2 to 2; dy <- -2 to 2 if math.abs(dx) + math.abs(dy) <= 2
    } yield (5L + dx, 5L + dy) -> (math.abs(dx) + math.abs(dy)).toLong).toMap
    assert(got === want)
  }

  test("bufferOut: brute-force min-distance oracle on the concave fixtures") {
    val cells = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
    val got = Raster.bufferOut(cells, 3)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, cx, cy, d) => (id, cx, cy) -> d }.toMap
    val occ = cells.as[(Long, Long, Long)].collect()
    val want = (for {
      (id, ox, oy) <- occ
      dx <- -3 to 3; dy <- -3 to 3 if math.abs(dx) + math.abs(dy) <= 3
    } yield ((id, ox + dx, oy + dy), (math.abs(dx) + math.abs(dy)).toLong))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    assert(got === want)
    // occupied cells score 0
    for ((id, cx, cy) <- occ) assert(got((id, cx, cy)) == 0L)
  }

  test("borderWeights: hand counts incl. overlap, and the a<b order") {
    // A = {(0,0),(0,1)}, B = {(1,0),(1,1)}: 2 shared faces → 2 ordered
    // pairs (A scatters into B's cells); C overlaps B at (1,1) and also
    // touches it at (2,0)-(1,0) plus within-overlap adjacencies
    val cells = Seq(
      (1L, 0L, 0L), (1L, 0L, 1L),
      (2L, 1L, 0L), (2L, 1L, 1L),
      (3L, 1L, 1L), (3L, 2L, 0L), (3L, 2L, 1L))
      .toDF("relation_id", "cx", "cy")
    val got = Raster.borderWeights(cells)
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, f) => (a, b) -> f }.toMap
    // brute ordered adjacency count
    val occ = cells.as[(Long, Long, Long)].collect()
    val want = (for {
      (pa, ax, ay) <- occ; (pb, bx, by) <- occ
      if pa < pb && math.abs(ax - bx) + math.abs(ay - by) == 1
    } yield (pa, pb)).groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got === want)
    assert(got((1L, 2L)) == 2L) // the clean disjoint case: 2 faces
    assert(got.keySet.forall { case (a, b) => a < b })
  }

  test("focalMode: hand majority with smallest-class tie-break") {
    // strip of classes [7, 3]: both windows see {7, 3} — a 1–1 tie that
    // must resolve to the smaller class 3; strip [7, 7, 3] pins the
    // no-tie majority on each side
    val cells = Seq((1L, 0L, 0L, 7L), (1L, 1L, 0L, 3L),
      (2L, 0L, 0L, 7L), (2L, 1L, 0L, 7L), (2L, 2L, 0L, 3L))
      .toDF("relation_id", "cx", "cy", "class")
    val got = Raster.focalMode(cells)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map { case (id, cx, _, cls, mc, mn) => (id, cx) -> ((cls, mc, mn)) }.toMap
    assert(got === Map(
      (1L, 0L) -> ((7L, 3L, 1L)), (1L, 1L) -> ((3L, 3L, 1L)),
      (2L, 0L) -> ((7L, 7L, 2L)), (2L, 1L) -> ((7L, 7L, 2L)),
      (2L, 2L) -> ((3L, 3L, 1L))))
  }

  test("focalMode: brute-force ×9 dominance parity on the concave fixtures") {
    val cells = Raster.rasterize(polyDF(lShape, comb, twoRings), 1.0)
      .withColumn("class", (col("cx") + lit(2L) * col("cy")) % 5L)
    val got = Raster.focalMode(cells)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map { case (id, cx, cy, cls, mc, mn) => (id, cx, cy) -> ((cls, mc, mn)) }
      .toMap
    val occ = cells.as[(Long, Long, Long, Long)].collect()
    val byId = occ.groupBy(_._1)
    val want = occ.map { case (id, cx, cy, cls) =>
      val nb = byId(id).filter { case (_, nx, ny, _) =>
        math.abs(nx - cx) <= 1 && math.abs(ny - cy) <= 1 }
      val cnts = nb.groupBy(_._4).map { case (c, vs) => c -> vs.size.toLong }
      val (mc, mn) = cnts.toSeq.minBy { case (c, n) => (-n, c) }
      (id, cx, cy) -> ((cls, mc, mn))
    }.toMap
    assert(got === want)
  }

  test("costDistance corridor: a uniform 1-wide strip is its own corridor") {
    // all cells cost 1, seed left end, target right end — f + b − v is
    // constant across the strip, so every cell passes the identity
    val cells = Seq.tabulate(5)(i => (1L, i.toLong, 0L, 1L))
      .toDF("relation_id", "cx", "cy", "v")
    val f = Raster.costDistance(cells, Seq((1L, 0L, 0L)).toDF("relation_id", "cx", "cy"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._2 -> r._4).toMap
    val b = Raster.costDistance(cells, Seq((1L, 4L, 0L)).toDF("relation_id", "cx", "cy"))
      .as[(Long, Long, Long, Long)].collect().map(r => r._2 -> r._4).toMap
    val thr = f(4L) - 1L
    for (cx <- 0L to 4L) assert(f(cx) + b(cx) - 1L == thr)
  }

  test("medialAxis: ridge of the closed-form rectangle field") {
    // 7×5 rectangle: dist = 1 + min(cx, 6−cx, cy, 4−cy); ridge = local
    // maxima of that field — the center row strip at dist 3
    val rect = polyDF(9L -> Seq(Seq((0, 0), (5, 0), (5, 7), (0, 7))))
    val got = Raster.medialAxis(Raster.rasterize(rect, 1.0))
      .as[(Long, Long, Long, Long)].collect()
      .map { case (_, cx, cy, d) => (cx, cy, d) }.toSet
    def dist(cx: Long, cy: Long) = 1L + Seq(cx, 6L - cx, cy, 4L - cy).min
    val want = (for {
      cy <- 0L to 4L; cx <- 0L to 6L
      nbrs = Seq((cx - 1, cy), (cx + 1, cy), (cx, cy - 1), (cx, cy + 1))
        .filter { case (nx, ny) => nx >= 0 && nx <= 6 && ny >= 0 && ny <= 4 }
      if nbrs.forall { case (nx, ny) => dist(nx, ny) <= dist(cx, cy) }
    } yield (cx, cy, dist(cx, cy))).toSet
    assert(got === want)
    // the dist-3 center spine is present (corners ride along as the
    // rectangle medial axis' diagonal-branch endpoints)
    assert(Set((2L, 2L, 3L), (3L, 2L, 3L), (4L, 2L, 3L)).subsetOf(got))
  }

  test("medialAxis: a 1-wide strip is its own skeleton") {
    val cells = Seq.tabulate(5)(i => (1L, i.toLong, 0L))
      .toDF("relation_id", "cx", "cy")
    val got = Raster.medialAxis(cells)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set.tabulate(5)(i => (1L, i.toLong, 0L, 1L)))
  }

  test("distanceTransform: separate polygon ids do not bleed") {
    // two ids sharing the lattice: a lone cell of id 2 adjacent to id 1's
    // interior must still score 1 (its own raster has no neighbors)
    val cells = Seq((1L, 0L, 0L), (1L, 1L, 0L), (1L, 0L, 1L), (1L, 1L, 1L),
      (2L, 2L, 0L)).toDF("relation_id", "cx", "cy")
    val got = Raster.distanceTransform(cells)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 0L, 0L, 1L), (1L, 1L, 0L, 1L), (1L, 0L, 1L, 1L),
      (1L, 1L, 1L, 1L), (2L, 2L, 0L, 1L)))
  }
}

object RasterSpec {
  /** The level-synchronous inward-BFS distance transform the separable
    * [[Raster.distanceTransform]] replaced — kept as the independent
    * cross-oracle (pinned equal to it on every fixture above).
    * One ×4 scatter + semi/anti join per erosion ring.
    */
  def distanceTransformBfs(cells: DataFrame, idCol: String = "relation_id",
      maxRounds: Int = 512): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val occ = cells.select(col(idCol), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"))
      .persist(lvl)
    val offsets = Seq((-1, 0), (1, 0), (0, -1), (0, 1))
    def scatter4(df: DataFrame): DataFrame =
      df.select(col(idCol),
          explode(array(offsets.map { case (dx, dy) =>
            struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
          }: _*)).as("t"))
        .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"))
    val key = Seq(idCol, "cx", "cy")
    // ring 1: occupied cells missing at least one rook neighbor
    val full = scatter4(occ).groupBy(key.map(col): _*)
      .agg(count(lit(1)).as("nn"))
      .filter(col("nn") === 4)
      .join(occ, key, "left_semi")
    var labeled = occ.join(full, key, "left_anti")
      .withColumn("dist", lit(1L))
      .localCheckpoint(true)
    var frontier = labeled
    var round = 2
    var done = false
    while (!done) {
      val next = scatter4(frontier.drop("dist")).distinct()
        .join(occ, key, "left_semi")
        .join(labeled.select(key.map(col): _*), key, "left_anti")
        .withColumn("dist", lit(round.toLong))
        .localCheckpoint(true)
      if (next.isEmpty) {
        next.unpersist()
        if (frontier ne labeled) frontier.unpersist()
        done = true
      } else if (round > maxRounds) {
        next.unpersist()
        if (frontier ne labeled) frontier.unpersist()
        labeled.unpersist()
        occ.unpersist()
        throw new IllegalStateException(
          s"Raster.distanceTransformBfs did not converge within $maxRounds rounds")
      } else {
        val acc = labeled.unionByName(next).localCheckpoint(true)
        labeled.unpersist()
        if (frontier ne labeled) frontier.unpersist()
        labeled = acc
        frontier = next
        round += 1
      }
    }
    occ.unpersist()
    labeled
  }
}
