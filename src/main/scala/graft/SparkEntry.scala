package graft

import org.apache.spark.sql.{DataFrame, SparkSession, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.fixtures.OsmScenes
import graft.osm.{BoundaryExtract, AdminLevel}
import graft.join.SpatialJoin
import graft.functions.GraftFunctions
import graft.geom.{Pt, PolygonRow}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), `oracleSql` in DuckDB-compatible ANSI SQL for every
  * SQL-expressible one. Geo kernels without an ANSI form (ring assembly,
  * arbitrary-polygon ray cast) are rows-only here and pinned by golden
  * fixtures in `sbt test` instead (FIXTURES.md).
  */
object SparkEntry {

  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Shared fixed rectangle "polygons" for the PIP/kNN oracle queries —
    * bounds chosen so no 3-decimal probe coordinate can land on a boundary
    * (offset 0.0005) and f32 rounding (≤2e-5 here) cannot flip a verdict.
    */
  private val rects: Seq[(Long, Double, Double, Double, Double)] =
    (0 until 8).map { i =>
      val latMin = -80.0 + i * 20 + 0.0005
      val lonMin = -170.0 + i * 40 + 0.0005
      (9000L + i, latMin, lonMin, latMin + 14.0, lonMin + 30.0)
    }

  private def rectPolys: Seq[PolygonRow] = rects.map { case (id, la0, lo0, la1, lo1) =>
    PolygonRow(s"rect_$id", Seq(Seq(
      Pt(la0.toFloat, lo0.toFloat), Pt(la0.toFloat, lo1.toFloat),
      Pt(la1.toFloat, lo1.toFloat), Pt(la1.toFloat, lo0.toFloat))), id, 8L)
  }

  private def rectsSqlValues: String =
    rects.map { case (id, la0, lo0, la1, lo1) => s"($id, $la0, $lo0, $la1, $lo1)" }
      .mkString("(VALUES ", ", ", ") AS r(relation_id, lat_min, lon_min, lat_max, lon_max)")

  /** Integer-vertex polygons for the raster↔vector queries (q86/q87):
    * an L, a three-tooth comb (rows with six ray crossings), a two-ring
    * union, a diamond (slope-±1 edges put cell centers exactly ON edges —
    * pinned deterministic either way since both engines evaluate the same
    * IEEE expression), and a slope-7/3 triangle (non-terminating binary
    * division — exercises IEEE-identical rounding across engines).
    * Vertices are (lat, lon) integers, exact in the f32 ring encoding.
    */
  private val rasterPolys: Seq[(Long, Seq[Seq[(Int, Int)]])] = Seq(
    7000L -> Seq(Seq((0, 0), (7, 0), (7, 2), (2, 2), (2, 6), (0, 6))),
    7001L -> Seq(Seq((0, 0), (5, 0), (5, 1), (1, 1), (1, 4), (5, 4), (5, 5),
      (1, 5), (1, 8), (5, 8), (5, 9), (0, 9))),
    7002L -> Seq(Seq((0, 0), (4, 0), (4, 4), (0, 4)), Seq((0, 6), (3, 6), (3, 9), (0, 9))),
    7003L -> Seq(Seq((0, 4), (4, 8), (8, 4), (4, 0))),
    7004L -> Seq(Seq((0, 0), (3, 7), (6, 0))))

  /** q163's planted DBSCAN scene over the orders keys: 5 jittered
    * knots (±20000 around centers (c·10⁶, c²·3·10⁵)) plus a wide
    * uniform scatter for every 7th key — all exact integer hash
    * arithmetic the oracle replays verbatim.
    */
  private def dbscanPtsDF(s: SparkSession, dir: String): DataFrame = {
    val c = col("o_orderkey") % 5
    table(s, dir, "orders").filter(col("o_orderkey") % 23 === 0)
      .select(col("o_orderkey").as("id"),
        when(col("o_orderkey") % 7 === 0,
            abs(col("o_orderkey") * 104729L + 7) % 5000001L)
          .otherwise(c * 1000000L +
            (abs(col("o_orderkey") * 9973L + 11) % 40001L - 20000L)).as("x"),
        when(col("o_orderkey") % 7 === 0,
            abs(col("o_orderkey") * 1299709L + 3) % 5000001L)
          .otherwise(c * c * 300000L +
            (abs(col("o_orderkey") * 7919L + 13) % 40001L - 20000L)).as("y"))
  }

  private def rasterPolyDF(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(rasterPolys.map { case (id, rings) =>
      PolygonRow(s"raster_$id", rings.map(_.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) }),
        id, 8L)
    }).toDF()
  }

  /** The raster fixtures scaled ×4 (lat 0..32, lon 0..36) so their unit-
    * cell burn overlays the synthetic image pixel grid (images are
    * 16..63 px per axis) — the zone side of q145's zonal statistics.
    * Scaling preserves every vertex as a small exact-f32 integer.
    */
  private val zonalPolys: Seq[(Long, Seq[Seq[(Int, Int)]])] =
    rasterPolys.map { case (id, rings) =>
      (id, rings.map(_.map { case (la, lo) => (la * 4, lo * 4) }))
    }

  private def zonalPolyDF(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(zonalPolys.map { case (id, rings) =>
      PolygonRow(s"zonal_$id", rings.map(_.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) }),
        id, 8L)
    }).toDF()
  }

  /** q195's even-odd fixtures: a square donut, a tri-nested
    * ring/hole/island, and two OVERLAPPING rings (whose even-odd burn
    * is the symmetric difference) — the hole-aware semantics
    * [[graft.geom.Raster.rasterize]]'s union rule deliberately skips
    * (reference parity there; the even-odd composition recovers them).
    */
  private val donutPolys: Seq[(Long, Seq[Seq[(Int, Int)]])] = Seq(
    9101L -> Seq(Seq((0, 0), (12, 0), (12, 12), (0, 12)),
      Seq((3, 3), (9, 3), (9, 9), (3, 9))),
    9102L -> Seq(Seq((0, 0), (16, 0), (16, 16), (0, 16)),
      Seq((2, 2), (14, 2), (14, 14), (2, 14)),
      Seq((5, 5), (11, 5), (11, 11), (5, 11))),
    9103L -> Seq(Seq((0, 0), (10, 0), (10, 6), (0, 6)),
      Seq((4, 2), (14, 2), (14, 8), (4, 8))))

  private def donutEdgesSqlValues: String = polyEdgesSqlValues(donutPolys)

  /** q200's planted road network as SQL VALUES — the same arithmetic the
    * engine-side fixture evaluates in Scala.
    */
  private def roadSegsSqlValues: String = (0L until 20L).map { k =>
    val ax = (k * 7919) % 900 + 50; val ay = (k * 104729) % 900 + 50
    val bx = (k * 7919 + k * k * 131 + 200) % 900 + 50
    val by = (k * 104729 + k * 31 + 350) % 900 + 50
    s"($k, $ax, $ay, $bx, $by)"
  }.mkString("(VALUES ", ", ", ") AS s(sid, ax, ay, bx, by)")

  /** The terrain fixture for q186–q189: the zonal burn carrying an
    * integer DEM z = 2·(cx+cy) + ((cx·7 + cy·11) mod 5) — a southwest-
    * tilted plane plus a mod-5 ripple, so D8 paths run long toward the
    * SW boundary while the ripple plants local pits and aspect variety.
    * Exact integer arithmetic the oracle replays verbatim on the same
    * ray-cast lattice.
    */
  private def demCellsDF(s: SparkSession): DataFrame =
    graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0)
      .withColumn("z", lit(2L) * (col("cx") + col("cy")) +
        (col("cx") * 7L + col("cy") * 11L) % 5L)

  private val demSqlCte: String =
    "dem AS (SELECT pid, cx, cy, 2*(cx+cy) + ((cx*7 + cy*11) % 5) AS z FROM inside)"

  /** The D8 direction pick replayed in SQL: positive drops to the 8
    * neighbors ranked by (drop DESC, dir ASC) — CTEs `drops` + `best`
    * over [[demSqlCte]]'s `dem`. Shared by the q187/q188 oracles.
    */
  private val d8BestSqlCtes: String =
    """drops AS (
      |  SELECT a.pid, a.cx, a.cy, b.cx AS nx, b.cy AS ny, a.z - b.z AS drp,
      |    CASE WHEN b.cx - a.cx = 1 AND b.cy - a.cy = 0 THEN 0
      |         WHEN b.cx - a.cx = 1 AND b.cy - a.cy = 1 THEN 1
      |         WHEN b.cx - a.cx = 0 AND b.cy - a.cy = 1 THEN 2
      |         WHEN b.cx - a.cx = -1 AND b.cy - a.cy = 1 THEN 3
      |         WHEN b.cx - a.cx = -1 AND b.cy - a.cy = 0 THEN 4
      |         WHEN b.cx - a.cx = -1 AND b.cy - a.cy = -1 THEN 5
      |         WHEN b.cx - a.cx = 0 AND b.cy - a.cy = -1 THEN 6
      |         ELSE 7 END AS dir
      |  FROM dem a JOIN dem b ON b.pid = a.pid
      |    AND abs(b.cx - a.cx) <= 1 AND abs(b.cy - a.cy) <= 1
      |    AND NOT (b.cx = a.cx AND b.cy = a.cy)
      |  WHERE a.z > b.z),
      |best AS (SELECT pid, cx, cy, nx, ny, dir FROM (
      |  SELECT *, row_number() OVER (PARTITION BY pid, cx, cy
      |    ORDER BY drp DESC, dir) AS rn FROM drops) WHERE rn = 1)""".stripMargin

  /** Target zoning for q149's areal interpolation: the raster fixtures
    * translated (+1, +1) with ids 8000–8004 — every target overlaps its
    * source heavily plus whatever neighbors the shapes graze, so the
    * transfer table has both near-total and partial weights.
    */
  private val arealDstPolys: Seq[(Long, Seq[Seq[(Int, Int)]])] =
    rasterPolys.map { case (id, rings) =>
      (id + 1000L, rings.map(_.map { case (la, lo) => (la + 1, lo + 1) }))
    }

  private def arealDstPolyDF(s: SparkSession): DataFrame = {
    import s.implicits._
    s.createDataset(arealDstPolys.map { case (id, rings) =>
      PolygonRow(s"areal_$id", rings.map(_.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) }),
        id, 8L)
    }).toDF()
  }

  /** Shared oracle scaffolding for q86/q87: CTEs down to `inside(pid, cx,
    * cy)` — the unit-cell raster of [[rasterPolys]] — followed by `tail`
    * (a full SELECT, or with `extraCte` a further CTE chain + SELECT).
    */
  private def rasterCellsSql(tail: String, extraCte: Boolean = false): String =
    rasterCellsSqlOver(rasterEdgesSqlValues, tail, extraCte)

  /** [[rasterCellsSql]] over an arbitrary polygon edge list (q145 burns
    * the ×4-scaled fixtures; the lattice/ray-cast chain is identical).
    */
  private def rasterCellsSqlOver(edgesSqlValues: String, tail: String,
      extraCte: Boolean): String =
    s"""WITH ${insideCtes("", edgesSqlValues)}${if (extraCte) "," else ""}
       |$tail""".stripMargin

  /** The ray-cast lattice CTE chain ending in `inside$suffix(pid, cx,
    * cy)`; suffixing lets one oracle burn two polygon sets (q149's
    * source and target zonings).
    */
  private def insideCtes(suffix: String, edgesSqlValues: String): String =
    insideCtesHaving(suffix, edgesSqlValues, "bool_or(n % 2 = 1)")

  /** [[insideCtes]] with a caller-chosen HAVING over the per-ring
    * crossing counts `n` — bool_or(n % 2 = 1) is the reference's
    * union-of-rings rule; sum(n % 2) % 2 = 1 is the even-odd (donut)
    * rule q195 burns with.
    */
  private def insideCtesHaving(suffix: String, edgesSqlValues: String,
      having: String): String =
    s"""edges$suffix AS (SELECT * FROM $edgesSqlValues),
       |bbox$suffix AS (
       |  SELECT pid,
       |    CAST(floor(min(least(yi, yj))) AS BIGINT) AS cy0,
       |    CAST(floor(max(greatest(yi, yj))) AS BIGINT) AS cy1,
       |    CAST(floor(min(least(xi, xj))) AS BIGINT) AS cx0,
       |    CAST(floor(max(greatest(xi, xj))) AS BIGINT) AS cx1
       |  FROM edges$suffix GROUP BY pid),
       |lat0$suffix AS (SELECT pid, cx0, cx1, unnest(range(cy0, cy1 + 1)) AS cy FROM bbox$suffix),
       |lattice$suffix AS (SELECT pid, cy, unnest(range(cx0, cx1 + 1)) AS cx FROM lat0$suffix),
       |crossings$suffix AS (
       |  SELECT c.pid, c.cx, c.cy, e.ring,
       |    sum(CASE WHEN ((e.yi > c.cy + 0.5) <> (e.yj > c.cy + 0.5)) AND
       |      (c.cx + 0.5 < (e.xj - e.xi) * ((c.cy + 0.5) - e.yi) / (e.yj - e.yi) + e.xi)
       |      THEN 1 ELSE 0 END) AS n
       |  FROM lattice$suffix c JOIN edges$suffix e USING (pid)
       |  GROUP BY c.pid, c.cx, c.cy, e.ring),
       |inside$suffix AS (
       |  SELECT pid, cx, cy FROM crossings$suffix
       |  GROUP BY pid, cx, cy HAVING $having)""".stripMargin

  /** Polygons as a SQL edge list (pid, ring, yi, xi, yj, xj) — consecutive
    * vertex pairs incl. the closing edge; the crossing test is symmetric
    * in edge direction so orientation needn't match the kernel.
    */
  private def polyEdgesSqlValues(polys: Seq[(Long, Seq[Seq[(Int, Int)]])]): String =
    polys.flatMap { case (id, rings) =>
      rings.zipWithIndex.flatMap { case (ring, r) =>
        ring.indices.map { i =>
          val (yi, xi) = ring(i)
          val (yj, xj) = ring((i + 1) % ring.length)
          s"($id::BIGINT, $r, $yi::DOUBLE, $xi::DOUBLE, $yj::DOUBLE, $xj::DOUBLE)"
        }
      }
    }.mkString("(VALUES ", ", ", ") AS e(pid, ring, yi, xi, yj, xj)")

  private def rasterEdgesSqlValues: String = polyEdgesSqlValues(rasterPolys)

  private def zonalEdgesSqlValues: String = polyEdgesSqlValues(zonalPolys)

  private def arealDstEdgesSqlValues: String = polyEdgesSqlValues(arealDstPolys)

  /** The synthetic-image pixel chain as CTEs ending in `px(i, w, h, x, y,
    * g)` — dims + unsigned splitmix hash (the q108 derivation), the
    * banded-gradient pixel formula, BT.601 floor grayscale. Shared by
    * the per-pixel image oracles (q145/q150/q153/q154).
    */
  private def pixelChainCtes(n: Int): String =
    s"""${splitmixDimsCtes(n)},
       |hv AS (SELECT i, w, h,
       |    CAST(hz % 256 AS BIGINT) AS hr,
       |    CAST((hz // 256) % 256 AS BIGINT) AS hg,
       |    CAST((hz // 65536) % 256 AS BIGINT) AS hb
       |  FROM (SELECT i, w, h,
       |    CASE WHEN phash < 0 THEN CAST(phash AS HUGEINT) + 18446744073709551616::HUGEINT
       |         ELSE CAST(phash AS HUGEINT) END AS hz FROM dims)),
       |t1 AS (SELECT *, unnest(range(w)) AS x FROM hv),
       |px AS (SELECT i, w, h, x, unnest(range(h)) AS y,
       |    ((x*7 + hr) % 256 * 299 + (y*11 + hg) % 256 * 587 + ((x+y)*3 + hb) % 256 * 114) // 1000 AS g
       |  FROM t1)""".stripMargin

  /** [[pixelChainCtes]] extended with the exact Otsu argmax — ends in
    * `best(i, t, c0, c1)` (and keeps `px` visible). Histogram + running
    * (count, gray·count), the cross-multiplied variance comparison as a
    * per-image anti-join; HUGEINT because the squared numerator alone
    * needs 127 bits at 63×63 (the SQL replay of the ImageOps.otsu
    * kernel q150 drives). Used by the q242 oracle.
    */
  private def otsuCtes(n: Int): String =
    s"""${pixelChainCtes(n)},
       |hist AS (SELECT i, w, h, g, count(*) AS c FROM px GROUP BY 1, 2, 3, 4),
       |tot AS (SELECT i, CAST(w*h AS BIGINT) AS n, sum(g*c) AS s
       |        FROM hist GROUP BY 1, 2),
       |cum AS (SELECT i, g AS t,
       |    sum(c) OVER (PARTITION BY i ORDER BY g) AS c0,
       |    sum(g*c) OVER (PARTITION BY i ORDER BY g) AS s0 FROM hist),
       |obj AS (
       |  SELECT cum.i, t, c0, tot.n - c0 AS c1,
       |    (CAST(s0 AS HUGEINT)*n - CAST(tot.s AS HUGEINT)*c0)
       |      * (CAST(s0 AS HUGEINT)*n - CAST(tot.s AS HUGEINT)*c0) AS num,
       |    CAST(c0 AS HUGEINT)*(tot.n - c0) AS den
       |  FROM cum JOIN tot ON tot.i = cum.i WHERE c0 > 0 AND c0 < tot.n),
       |best AS (
       |  SELECT o.i, o.t, o.c0, o.c1 FROM obj o
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM obj d WHERE d.i = o.i AND
       |      (d.num*o.den > o.num*d.den OR
       |       (d.num*o.den = o.num*d.den AND d.t < o.t))))""".stripMargin

  /** lcm(1..k), k = 1..40, as a DuckDB list literal — mirrors
    * Series.lcmUpTo for the q241 oracle.
    */
  private val lcmSqlList: String = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1 to 40).scanLeft(1L)((l, k) => l / gcd(l, k) * k).tail
      .mkString("[", ", ", "]")
  }

  /** [[pixelChainCtes]] extended with the per-pixel Sobel pair on
    * interior pixels — ends in `sob(i, w, h, x, y, gx, gy)`. Shared by
    * the gradient-window oracles (q203/q204).
    */
  private def sobelChainCtes(n: Int): String =
    s"""${pixelChainCtes(n)},
       |sob AS (
       |  SELECT p.i, p.w, p.h, p.x, p.y,
       |    (ne.g + 2*e.g + se.g - nw.g - 2*w_.g - sw.g) AS gx,
       |    (sw.g + 2*s_.g + se.g - nw.g - 2*n_.g - ne.g) AS gy
       |  FROM px p
       |  JOIN px nw ON nw.i = p.i AND nw.x = p.x-1 AND nw.y = p.y-1
       |  JOIN px n_ ON n_.i = p.i AND n_.x = p.x   AND n_.y = p.y-1
       |  JOIN px ne ON ne.i = p.i AND ne.x = p.x+1 AND ne.y = p.y-1
       |  JOIN px w_ ON w_.i = p.i AND w_.x = p.x-1 AND w_.y = p.y
       |  JOIN px e  ON e.i  = p.i AND e.x  = p.x+1 AND e.y  = p.y
       |  JOIN px sw ON sw.i = p.i AND sw.x = p.x-1 AND sw.y = p.y+1
       |  JOIN px s_ ON s_.i = p.i AND s_.x = p.x   AND s_.y = p.y+1
       |  JOIN px se ON se.i = p.i AND se.x = p.x+1 AND se.y = p.y+1
       |  WHERE p.x BETWEEN 1 AND p.w-2 AND p.y BETWEEN 1 AND p.h-2)""".stripMargin

  /** Daily event-count series per device, (user_id, x = epoch day,
    * y = count) — the shared prep of the q213/q220–q223 series battery.
    */
  private def dailyCounts(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "events")
      .select(col("user_id"),
        datediff(to_date(col("ts")),
          lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("x"))
      .groupBy(col("user_id"), col("x")).agg(count(lit(1)).as("y"))

  /** Planted community graph for q208/q209: communities of `cs`
    * consecutive nodes — intra-community ring (+1), chord (+2), and a
    * hub star to the community's first node — chained by hub→hub
    * bridges. Dense inside, one thin edge between: the structure
    * majority-vote LPA must keep separate (and connected components
    * would merge).
    */
  private def communityEdgesDF(s: SparkSession, n: Long, cs: Long): DataFrame = {
    val ids = s.range(0, n).select(col("id").as("i"))
    val ring = ids.filter((col("i") + 1) % cs =!= 0 && col("i") + 1 < n)
      .select(col("i").as("src"), (col("i") + 1).as("dst"))
    val chord = ids.filter(col("i") % cs < cs - 2 && col("i") + 2 < n)
      .select(col("i").as("src"), (col("i") + 2).as("dst"))
    val hub = ids.filter(col("i") % cs =!= 0)
      .select(col("i").as("src"), (col("i") - col("i") % cs).as("dst"))
    val bridge = ids.filter(col("i") % cs === 0 && col("i") + cs < n)
      .select(col("i").as("src"), (col("i") + cs).as("dst"))
    ring.union(chord).union(hub).union(bridge)
  }

  /** [[communityEdgesDF]] as DuckDB CTEs ending in `dir(src, dst)` (both
    * orientations, distinct, no self-loops) over `ids(i)`.
    */
  private def communityEdgesSql(n: Long, cs: Long): String =
    s"""ids AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, $n)),
       |e0 AS (
       |  SELECT i AS src, i + 1 AS dst FROM ids
       |    WHERE (i + 1) % $cs <> 0 AND i + 1 < $n
       |  UNION ALL SELECT i, i + 2 FROM ids WHERE i % $cs < ${cs - 2} AND i + 2 < $n
       |  UNION ALL SELECT i, i - (i % $cs) FROM ids WHERE i % $cs <> 0
       |  UNION ALL SELECT i, i + $cs FROM ids WHERE i % $cs = 0 AND i + $cs < $n),
       |dir AS (SELECT DISTINCT src, dst FROM (
       |  SELECT src, dst FROM e0 UNION ALL SELECT dst AS src, src AS dst FROM e0) u
       |  WHERE src <> dst)""".stripMargin

  private def polyVertsSqlValues(polys: Seq[(Long, Seq[Seq[(Int, Int)]])]): String =
    polys.flatMap { case (id, rings) =>
      rings.flatMap(_.map { case (vy, vx) => s"($id::BIGINT, $vy::DOUBLE, $vx::DOUBLE)" })
    }.mkString("(VALUES ", ", ", ") AS v(pid, vy, vx)")

  /** 24 translated instances of the [[rasterPolys]] shapes — the
    * polygon-overlap-join fixture (q88). Integer translations keep every
    * coordinate exact; the (5 mod 13, 7 mod 19) stride mixes clear
    * overlaps, containments, and disjoint pairs.
    */
  private val overlapPolys: Seq[(Long, Seq[Seq[(Int, Int)]])] =
    (0 until 24).map { i =>
      val (_, rings) = rasterPolys(i % rasterPolys.length)
      val dy = (i * 5) % 13; val dx = (i * 7) % 19
      (7100L + i, rings.map(_.map { case (la, lo) => (la + dy, lo + dx) }))
    }

  private def overlapPolyDS(s: SparkSession): Dataset[PolygonRow] = {
    import s.implicits._
    s.createDataset(overlapPolys.map { case (id, rings) =>
      PolygonRow(s"ov_$id", rings.map(_.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) }),
        id, 8L)
    })
  }

  /** Probe points derived from orders by pure BIGINT arithmetic
    * (FIXTURES.md §2) — reproducible in DuckDB.
    */
  /** Scratch dir for the snapshot-table queries (q82/q83/q90): pid-scoped
    * under tmpdir, wiped up front so reruns in one JVM start clean, and
    * removed at JVM exit by a shutdown hook registered ONCE per name (the
    * bench/verify drivers invoke each query several times; re-registering
    * per invocation would leak hooks).
    */
  private val snapshotHooked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def snapshotScratchDir(name: String): java.io.File = {
    val out = new java.io.File(sys.props("java.io.tmpdir"),
      s"graft_${name}_${ProcessHandle.current().pid()}")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
    }
    rm(out)
    if (snapshotHooked.add(name)) sys.addShutdownHook(rm(out))
    out
  }

  private def mixCol(s: SparkSession, c: org.apache.spark.sql.Column) =
    graft.functions.GraftFunctions.splitmixCol(s, c)

  /** Planted link graph shared by q94/q102: each doc links to 3
    * splitmix-derived targets (low-63-bit mod N); CTEs `docs` + `edges`.
    */
  private def plantedEdgesCte: String =
    s"""docs AS (SELECT doc_id FROM documents),
       |ex AS (SELECT doc_id, j FROM docs CROSS JOIN (SELECT unnest([0,1,2]) AS j)),
       |sm AS (SELECT doc_id, j, CAST(doc_id * 7 + j AS HUGEINT) AS sd FROM ex),
       |${splitmixChain("pe", Seq("doc_id", "j"), "sm", "sd")},
       |edges AS (SELECT doc_id AS src,
       |  CAST((z % 9223372036854775808::HUGEINT)
       |    % CAST((SELECT count(*) FROM docs) AS HUGEINT) AS BIGINT) AS dst
       |  FROM pe3)""".stripMargin

  /** The Spark side of [[plantedEdgesCte]]. dst = hash mod N is only a
    * valid doc_id when doc_ids are contiguous 0..N-1 — the oracle derives
    * its node set from `docs` while PageRank/HITS derive theirs from the
    * edges, and contiguity is what makes the two sets equal. Checked, not
    * assumed (one metadata-sized agg).
    */
  private def plantedEdges(s: SparkSession, dir: String): DataFrame = {
    val docs = table(s, dir, "documents").select(col("doc_id"))
    val st = docs.agg(count(lit(1)), min("doc_id"), max("doc_id")).first()
    val n = st.getLong(0)
    require(st.getLong(1) == 0L && st.getLong(2) == n - 1,
      s"planted graph needs contiguous doc_id 0..${n - 1}, " +
        s"got [${st.getLong(1)}, ${st.getLong(2)}]")
    docs.withColumn("j", explode(array(lit(0L), lit(1L), lit(2L))))
      .select(col("doc_id").as("src"),
        pmod(mixCol(s, col("doc_id") * 7 + col("j"))
          .bitwiseAND(lit(Long.MaxValue)), lit(n)).as("dst"))
  }

  private def probePoints(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "orders").select(
      col("o_orderkey"),
      GraftFunctions.latOfKey(col("o_orderkey")).as("lat"),
      GraftFunctions.lonOfKey(col("o_orderkey")).as("lon"))

  private val probeSql =
    """SELECT o_orderkey,
      |  ((abs(o_orderkey*9973+12345) % 170000)/1000.0) - 85.0 AS lat,
      |  ((abs(o_orderkey*7919+54321) % 360000)/1000.0) - 180.0 AS lon
      |FROM orders""".stripMargin

  /** Flagship: boundary extraction on a deterministic OSM grid scene →
    * broadcast cell-indexed spatial join against orders-derived probe
    * points → per-image polygon assignments. Driver smoke-checks rows>0 on
    * sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    flagship(spark, "/root/testdata/sf0.001")

  def flagship(spark: SparkSession, dir: String): DataFrame = {
    val (n, w, r) = OsmScenes.grid(16, 8).toDFs(spark)
    val polys = BoundaryExtract.extract(spark, r, w, n, 8, 8)
    SpatialJoin.assign(spark, probePoints(spark, dir), polys, res = 6,
      idCol = "o_orderkey")
  }

  /** Longest-path closure of a DAG's (u, v) edges by max-plus relation
    * doubling (q271): rows (u, v, len) with `len` the longest u→v path.
    * One [[graft.graph.Fixpoint]] round per doubling; a round marks the
    * pairs it added or lengthened, so a depth-D DAG stops after
    * ⌈log₂ D⌉ + 1 rounds.
    */
  private[graft] def dagLongestPaths(edges: DataFrame, maxRounds: Int): DataFrame =
    graft.graph.Fixpoint.run(
        edges.select(col("u"), col("v"), lit(1L).as("len"), lit(1).as("fresh")),
        maxRounds, 1, "q271 path doubling") { (r, _) =>
      val sq = r.select(col("u"), col("v").as("m"), col("len").as("l1"))
        .join(r.select(col("u").as("m"), col("v"), col("len").as("l2")), Seq("m"))
        .select(col("u"), col("v"), (col("l1") + col("l2")).as("len"), lit(0).as("old"))
      // max(struct(len, old)) keeps the existing row on a tie
      r.select(col("u"), col("v"), col("len"), lit(1).as("old")).unionByName(sq)
        .groupBy(col("u"), col("v"))
        .agg(max(struct(col("len"), col("old"))).as("m"))
        .select(col("u"), col("v"), col("m.len").as("len"),
          (lit(1) - col("m.old")).as("fresh"))
    }

  // ——————————————————————— queries ———————————————————————

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1 — tag-equality filter (osm_reader.rs:94-95)
    "q01_filter_boundary" -> ((s, dir) => {
      table(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
    }),

    // F2 — parse-with-default range predicate (osm_reader.rs:45-53)
    "q02_admin_range" -> ((s, dir) => {
      val lvl = AdminLevel.adminLevelI8Col(substring(col("o_orderpriority"), 1, 1))
      table(s, dir, "orders")
        .withColumn("lvl", lvl)
        .filter(col("lvl").between(2, 4))
        .select(col("o_orderkey"), col("lvl"))
    }),

    // F3 — ordered member projection via posexplode (osm_reader.rs:55-57)
    "q03_member_project" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey")))).as("ms"))
        .select(col("l_orderkey"), posexplode(col("ms")).as(Seq("pos", "m")))
        .filter(col("pos") < 2)
        .select(col("l_orderkey"), col("pos"), col("m.l_partkey").as("l_partkey"))
    }),

    // J1 — left-semi join (osm_reader.rs:127)
    "q04_semi_join" -> ((s, dir) => {
      val big = table(s, dir, "orders").filter(col("o_totalprice") > 200000)
      table(s, dir, "lineitem")
        .join(big, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_cents"))
    }),

    // J3/J4 — selectivity-ordered multi-way inner join (osm_reader.rs:26-30)
    "q05_join_3way" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      table(s, dir, "lineitem")
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("price_cents"))
    }),

    // G1 — order-preserving re-nest: sort_array(collect_list(struct(pos, v)))
    "q06_group_collect" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(concat_ws(",",
          transform(sort_array(collect_list(struct(col("l_linenumber"), col("l_partkey")))),
            x => x.getField("l_partkey").cast("string"))).as("parts"))
    }),

    // R1 — ring assembly (converter.rs:35-105): rows-only, pinned by golden
    // fixtures in sbt test; summary stats per relation over the grid scene.
    "q07_ring_assembly" -> ((s, dir) => {
      import s.implicits._
      val (n, w, r) = OsmScenes.grid(16, 8).toDFs(s)
      BoundaryExtract.extract(s, r, w, n, 8, 8)
        .map(p => (p.relation_id, p.name, p.admin_level, p.rings.length,
          p.rings.map(_.length).sum,
          p.rings.headOption.exists(rr => rr.head == rr.last)))
        .toDF("relation_id", "name", "admin_level", "n_rings", "n_points", "closed")
        .orderBy("relation_id")
    }),

    // R2 — decimicro → f64 ÷ 1e7 → f32 conversion (converter.rs:141-149)
    "q08_coord_convert" -> ((s, dir) => {
      table(s, dir, "orders")
        .withColumn("dm_lat", (col("o_orderkey") % 1800000000L - 900000000L).cast("int"))
        .select(col("o_orderkey"),
          (col("dm_lat").cast("double") / 10000000.0).cast("float").as("lat_f32"))
    }),

    // R3 — name/prefix/default projection (converter.rs:107-123)
    "q09_name_project" -> ((s, dir) => {
      val name = when(col("c_custkey") % 5 =!= 0, concat(lit("c_"), col("c_custkey")))
      val prefix = when(col("c_mktsegment") === "BUILDING", lit("Stadt")).otherwise(lit(""))
      table(s, dir, "customer")
        .withColumn("nm", coalesce(name, lit("UNKNOWN_NAME")))
        .withColumn("pfx", prefix)
        .select(col("c_custkey"),
          when(col("pfx") =!= "", concat(col("pfx"), lit("_"), col("nm")))
            .otherwise(col("nm")).as("full_name"))
    }),

    // N1 — safe-name strip + case-insensitive dup suffix (output_handler.rs:101-129)
    "q10_name_dedup" -> ((s, dir) => {
      val base = table(s, dir, "customer")
        .withColumn("name",
          concat(lit("Region"), when(col("c_custkey") % 3 === 0, lit("/")).otherwise(lit("")),
            lit("_"), (col("c_custkey") % 40).cast("string"),
            when(col("c_custkey") % 7 === 0, lit("X")).otherwise(lit(""))))
        .select(col("c_custkey").as("relation_id"), col("name"))
      graft.naming.Naming.withDedupedNames(base)
        .select(col("relation_id"), col("out_name"))
    }),

    // Cell index — cellOf as pure column arithmetic (SQL-parity with DuckDB)
    "q11_cellof" -> ((s, dir) => {
      probePoints(s, dir)
        .withColumn("cell", GraftFunctions.cellOfCol(col("lat"), col("lon"), 8))
        .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    }),

    // PIP spatial join — written DECLARATIVELY as the ray-cast theta join;
    // the PipJoinRewrite optimizer rule turns it into the cell-indexed plan
    // SpatialJoin.assign builds (the flagship calls assign directly), so
    // the oracle checks the rule's entry point; oracle is the BETWEEN form
    // over the same rectangles.
    "q12_pip_join" -> ((s, dir) => {
      import s.implicits._
      graft.plans.PipJoinRewrite.install(s)
      val polys = s.createDataset(rectPolys).toDF()
      probePoints(s, dir)
        .join(polys, GraftFunctions.rayCastContains(col("rings"), col("lat"), col("lon")))
        .select(col("o_orderkey"), col("relation_id"))
    }),

    // kNN baseline — brute-force top-3 by planar distance, rank by (dist, id)
    "q13_knn_brute" -> ((s, dir) => {
      val probes = probePoints(s, dir).filter(col("o_orderkey") % 97 === 0)
      val cents = s.createDataFrame(rects.map { case (id, la0, lo0, la1, lo1) =>
        (id, (la0 + la1) / 2, (lo0 + lo1) / 2)
      }).toDF("nid", "clat", "clon")
      val d = (col("lat") - col("clat")) * (col("lat") - col("clat")) +
        (col("lon") - col("clon")) * (col("lon") - col("clon"))
      val w = Window.partitionBy(col("o_orderkey")).orderBy(col("dist"), col("nid"))
      probes.crossJoin(broadcast(cents))
        .withColumn("dist", d)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_orderkey"), col("nid"), col("rank"))
    }),

    // Window top-k per group
    "q14_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy(col("bucket")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      table(s, dir, "orders")
        .withColumn("bucket", col("o_custkey") % 100)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("bucket"), col("rk"), col("o_orderkey"))
    }),

    // Aggregation suite (map-side partial agg; integer cents for float parity)
    "q15_agg" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(round(col("l_quantity") * 100, 0).cast("long")).as("sum_qty_cents"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("sum_price_cents"),
          count(lit(1)).as("n"),
          countDistinct(col("l_partkey")).as("n_parts"))
    }),

    // values_to_set — flatten + distinct (utils.rs:4-9)
    "q16_distinct_set" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_quantity") > 45)
        .select(col("l_partkey")).distinct()
    }),

    // Tumbling time window over events (epoch seconds for parity)
    "q17_time_window" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
        .select(unix_timestamp(col("w.start")).as("bucket_s"), col("event_type"),
          col("n"), col("value_cents"))
    }),

    // ——— training-data pipeline ops over documents ———

    // exact dedup by content hash
    "q20_dedup_exact" -> ((s, dir) => {
      table(s, dir, "documents")
        .groupBy(md5(col("text")).as("h"))
        .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
    }),

    // token count (whitespace split, empties kept — same as DuckDB)
    "q21_token_count" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), size(split(col("text"), " ", -1)).as("n_tokens"))
    }),

    // quality scoring: length + sentence-punct count + stopword count
    "q22_quality" -> ((s, dir) => {
      table(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("len"),
        length(regexp_replace(col("text"), "[^.!?]", "")).as("punct"),
        size(filter(split(col("text"), " ", -1),
          w => w.isin("the", "a", "of", "and"))).as("stopwords"))
    }),

    // MinHash+LSH near-dup pairs. DRIVER-ORACLED end-to-end: the whole
    // approximate pipeline (word-trigram shingle hash → 64-permutation
    // minhash → splitmix band keys → capped bucket pairs → exact-Jaccard
    // verify) is deterministic given its kernels, and every kernel is
    // replicated relationally in DuckDB (see minhashOracleSql). The
    // jaccard column ships UNROUNDED — both engines divide the same two
    // integers, so the doubles are bit-identical and rounding could only
    // introduce decimal-tie divergence.
    "q23_minhash_pairs" -> ((s, dir) => {
      val docs = docsWithPlantedDups(s, dir)
      graft.dedup.Dedup.minhashPairs(s, docs, threshold = 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),

    // SimHash near-dup pairs. Driver-oracled end-to-end like q23: word
    // hashes, bit votes, 16-bit band buckets, capped pairs, and Hamming
    // verify are all integer math, replicated in DuckDB (simhashOracleSql).
    "q24_simhash_pairs" -> ((s, dir) => {
      graft.dedup.Dedup.simhashPairs(s, docsWithPlantedDups(s, dir), maxHamming = 3)
    }),

    // BPE-ish regex token count (oracle: DuckDB regexp_extract_all)
    "q25_regex_tokens" -> ((s, dir) => {
      table(s, dir, "documents").select(col("doc_id"),
        graft.text.TextOps.regexTokenCount(col("text")).as("n_tokens"))
    }),

    // language-ID heuristic vs labeled lang (confusion counts). Driver-
    // oracled: the heuristic (CJK script share, else argmax stopword hits
    // with alphabetical tie-break) is replicated relationally in DuckDB.
    "q26_lang_id" -> ((s, dir) => {
      graft.text.TextOps.withLang(s, table(s, dir, "documents"))
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted_lang")
    }),

    // embedding cosine top-5 brute force (oracle: DuckDB list_cosine_similarity)
    "q27_embed_knn" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.sim.Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // embedding near-dup pairs via sign-LSH. Driver-oracled end-to-end:
    // the float kernels (hyperplane sign sums, cosine) accumulate in array
    // order, which DuckDB reproduces bit-exactly with sequential
    // list_reduce — see signLshSigCte. Cosine ships unrounded (identical
    // doubles by construction).
    "q28_embed_neardup" -> ((s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      // plant near-dups: copies of vec_id%25==0 with one component nudged
      val planted = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .map { case (id, v) =>
          (id + 1000000L, v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x })
        }.toDF("vec_id", "embedding")
      graft.sim.Similarity.nearDupPairs(s, e.select("vec_id", "embedding").union(planted), 0.95)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }),

    // winnowing fingerprints: docs sharing a fingerprint. Driver-oracled:
    // the k-gram rolling hash (h·31+char, splitmix-mixed) and window-min
    // selection are recomputed relationally in DuckDB (the selected fp is
    // the window's signed MIN VALUE, so the rightmost-position rule never
    // affects the fingerprint set).
    "q29_fingerprint" -> ((s, dir) => {
      val fps = table(s, dir, "documents").select(
        col("doc_id").cast("long").as("doc_id"),
        explode(graft.text.TextExpr.winnowCol(s, col("text"))).as("fp"))
      fps.groupBy("fp").agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") > 1)
        .agg(count(lit(1)).as("shared_fps"), sum(col("n_docs")).as("doc_slots"))
    }),

    // LSH-bucketed ANN. Driver-oracled end-to-end (approximate ≠
    // nondeterministic): band bucketing, cosine rerank, and top-k are all
    // recomputed relationally with bit-exact float replication.
    "q30_ann_lsh" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.sim.Similarity.lshTopK(s, e.filter(col("vec_id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // image-table synthesis (rows-only; bytes-level invariants in sbt test)
    "q31_image_table" -> ((s, dir) => {
      graft.img.ImageTable.generate(s, 2000, 16).toDF()
        .select(col("image_id"), col("w"), col("h"), col("fmt"), col("caption"), col("phash"))
    }),

    // the LOSSY leg of the input_hint per-row invariant (PSNR ≥ 40 dB for
    // lossy formats): every synthetic image through graft's own baseline
    // JPEG encode→decode, invariant measured per row. Narrow mapPartitions,
    // no shuffle. Oracle is closed-form (q07 style): dims replicate via the
    // splitmix CTE and the invariant column must be uniformly true — a
    // codec regression below 40 dB flips rows to false and reds the check.
    "q56_jpeg_invariant" -> ((s, dir) => {
      import s.implicits._
      s.range(500).as[Long].mapPartitions { it =>
        it.map { i =>
          val w = graft.img.ImageTable.widthOf(i)
          val h = graft.img.ImageTable.heightOf(i)
          val px = graft.img.ImageTable.renderPixels(i, w, h)
          val (back, bw, bh) = graft.img.Jpeg.decode(graft.img.Jpeg.encode(px, w, h))
          val ok = bw == w && bh == h && graft.img.ImageTable.psnrDb(back, px) >= 40.0
          (f"img_$i%09d", w, h, ok)
        }
      }.toDF("image_id", "w", "h", "psnr_ok")
    }),

    // Gopher-style repetition filter (Rae et al. 2021 §A1.1): duplicate-
    // word fraction + top-bigram character fraction per document, with the
    // keep decision at corpus-splitting thresholds. Driver-oracled
    // bit-exactly (integer counts + one double division each; top-bigram
    // tie-break replicated by the oracle's window ORDER BY).
    "q58_repetition_filter" -> ((s, dir) => {
      graft.text.TextOps.withRepetition(s, table(s, dir, "documents"))
        .select(col("doc_id"), col("n_tokens"), col("dup_word_frac"),
          col("top_bigram_frac"), col("keep"))
    }),

    // REAL perceptual hash (DCT pHash, Zauner 2010) over the image corpus —
    // the algorithmic upgrade of the table's metadata phash: 32×32-luma
    // DCT-II thresholded against the non-DC mean, so lossy RE-ENCODES of an
    // image collide at small Hamming distance (pinned with the JPEG codec
    // in PhashSpec; Dedup.hammingPairs turns the hashes into dedup pairs).
    // Fully driver-oracled: the oracle rebuilds the pixel function, the
    // nearest resample, BOTH DCT passes (IEEE basis constants interpolated
    // as shortest-round-trip literals), the 63-term mean, and bit packing.
    "q57_phash" -> ((s, dir) => {
      import s.implicits._
      s.range(64).as[Long].mapPartitions { it =>
        it.map { i =>
          val w = graft.img.ImageTable.widthOf(i)
          val h = graft.img.ImageTable.heightOf(i)
          (f"img_$i%09d",
            graft.img.Phash.phash64(graft.img.ImageTable.renderPixels(i, w, h), w, h))
        }
      }.toDF("image_id", "phash")
    }),

    // kNN via cell-index ring expansion — EXACT (certified radius), so it
    // shares q13's brute-force oracle: same result, scale-path plan
    "q33_knn_cell" -> ((s, dir) => {
      val probes = probePoints(s, dir).filter(col("o_orderkey") % 97 === 0)
        .withColumnRenamed("o_orderkey", "probe_id")
      val cents = s.createDataFrame(rects.map { case (id, la0, lo0, la1, lo1) =>
        (id, (la0 + la1) / 2, (lo0 + lo1) / 2)
      }).toDF("nid", "clat", "clon")
      // res matched to corpus density (8 global centroids → coarse cells so
      // the 1-ring already certifies; a fine res burns rounds on overhead)
      graft.join.Knn.knnPoints(s, probes, cents, k = 3, res = 2)
        .select(col("probe_id").as("o_orderkey"), col("nid"), col("rank"))
    }),

    // K1/K2 + N1 — full sink row: deduped filename, .poly text, GeoJSON.
    // Driver-oracled closed-form (names + exact emitted-string lengths of
    // the golden scene); byte-exact content pinned by golden tests in sbt.
    "q34_sink_rows" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.golden.toDFs(s)
      BoundaryExtract.extractWithSinks(s, r, w, n, 8, 8)
        .select(col("relation_id"), col("out_name"),
          length(col("poly_text")).as("poly_len"),
          length(col("geojson")).as("geojson_len"))
    }),

    // rollup aggregation (grouping-sets family the reference lacks)
    "q35_rollup" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity") * 100, 0).cast("long")).as("qty_cents"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"), col("n"), col("qty_cents"))
    }),

    // JSON extraction from the events props column
    "q36_json_extract" -> ((s, dir) => {
      table(s, dir, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
    }),

    // multimodal: audio feature extraction through the REAL RIFF/WAVE
    // codec (graft.img.Multimodal.Wav). Driver-oracled: the WAV round trip
    // must reproduce the splitmix-derived sample stream exactly — RMS and
    // zero-crossings are recomputed relationally in DuckDB.
    "q37_audio_features" -> ((s, dir) => {
      graft.img.Multimodal.audioFeatures(s, graft.img.Multimodal.synthAudio(s, 500)).toDF()
        .select(col("audio_id"), round(col("rms"), 3).as("rms"),
          col("zero_crossings"), col("caption"))
    }),

    // multimodal: the same features through the REAL LOSSLESS FLAC codec
    // (graft.img.Flac, RFC 9639 subset). Losslessness IS the oracle: the
    // encode→decode round trip must reproduce the integer triangle-wave
    // stream bit-exactly, so DuckDB recomputes the features from the
    // closed-form synth arithmetic — any codec bit-slip reds the check.
    "q62_flac_audio" -> ((s, dir) => {
      graft.img.Multimodal.audioFeatures(s, graft.img.Multimodal.synthAudioFlac(s, 300)).toDF()
        .select(col("audio_id"), round(col("rms"), 3).as("rms"),
          col("zero_crossings"), col("caption"))
    }),

    // multimodal: video frame sampling through the REAL AVI/DIB container
    // (generator-shaped flatMap). Driver-oracled on the sampled-frame
    // structure; the frame BYTES (PNG re-encode of the DIB round trip) are
    // pinned bit-exactly in MultimodalSpec.
    "q38_frame_sample" -> ((s, dir) => {
      graft.img.Multimodal.sampleFrames(s,
        graft.img.Multimodal.synthVideo(s, 100), stride = 2).toDF()
        .select(col("video_id"), col("frame_idx"), col("w"), col("h"))
    }),

    // role-aware hole handling + RFC7946 winding (extension beyond the
    // reference's ignore-roles semantics). Driver-oracled closed-form
    // (polygon/hole counts + geometry lengths); bytes pinned in HolesSpec.
    "q39_holes_rfc7946" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.golden.toDFs(s)
      BoundaryExtract.extractRfc7946(s, r, w, n, 8, 8)
        .select(col("relation_id"), col("name"), col("n_polygons"), col("n_holes"),
          length(col("geometry_rfc7946")).as("geom_len"))
        .orderBy("relation_id")
    }),

    // sequence packing for pretraining (the concat-then-chunk prep every
    // GPT-style run does), in its SHARDED form — the one that runs at
    // corpus scale: docs bucket by splitmix64(doc_id) mod 8, each shard
    // concatenates in doc_id order (per-partition sort after ONE hash
    // exchange — no global sort in the plan), and chunk ids are globally
    // contiguous via driver-collected per-shard offsets (8 rows). Each doc
    // learns its chunk id, offset, and whether it spans a chunk boundary.
    "q60_sequence_pack" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ", -1)).as("n_tokens"))
      graft.text.TextOps.packShards(s, docs, budget = 2048, nShards = 8)
    }),

    // deterministic domain-mixture sampling (fixed per-language quotas, the
    // Pile/DoReMi-style reweighting step): keep a doc iff the low 63 bits
    // of splitmix64(doc_id) mod 1000 fall under its language's quota.
    // Hash-threshold sampling is reproducible, shuffle-free (narrow
    // filter), and composable across reweighting runs; the hash is PURE
    // column arithmetic (GraftFunctions.splitmixCol — codegen'd, no UDF).
    "q61_mixture_sample" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val h = graft.functions.GraftFunctions.splitmixCol(s, col("doc_id"))
      val slot = h.bitwiseAND(lit(Long.MaxValue)) % 1000
      val quota = when(col("lang") === "en", 400)
        .when(col("lang") === "zh", 600).otherwise(900)
      d.filter(slot < quota).select(col("doc_id"), col("lang"))
    }),

    // content-defined chunking + chunk-level dedup (the CDC pass
    // storage/dedup pipelines run): boundaries fall where the winnow-style
    // rolling gram hash lands in the mask (shift-resistant), chunks get
    // md5 identities, and n_copies counts corpus-wide sharing. Narrow
    // flatMap + ONE exchange (window on chunk_md5 — uniform keys).
    "q63_cdc_chunks" -> ((s, dir) =>
      graft.text.TextOps.cdcChunkTable(s, table(s, dir, "documents"))),

    // benchmark decontamination (Brown et al. 2020 §C: 13-word-gram
    // overlap — the check every training run owes its eval sets): an eval
    // set is PLANTED as mid-document slices of every 9th doc (doc-specific
    // by construction — 13 contiguous words never collide by chance; a
    // slice too short to carry a 13-gram emits none, so very short source
    // docs legitimately stay unflagged), both corpora emit md5'd
    // 13-grams, and a train doc is contaminated iff it shares any gram
    // with the eval set. Train and eval fingerprint through SEPARATE
    // narrow pipelines — no union, no id-space tricks, each corpus
    // scanned once; the eval gram set is benchmark-sized → broadcast
    // semi-join; one distinct + one groupBy exchange for per-doc counts.
    "q67_decontaminate" -> ((s, dir) => {
      val n = 13
      def grams(df: DataFrame): DataFrame = df
        .select(col("doc_id"),
          explode(graft.text.TextExpr.tokNgramsCol(s, col("text"), n)).as("gram"))
        .select(col("doc_id"), md5(col("gram")).as("fp"))
        .distinct()
      val docs0 = table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalFps = grams(docs0.filter(col("doc_id") % 9 === 0)
        .select(col("doc_id"), expr("substring(text, 21, 200)").as("text")))
        .select("fp").distinct()
      val shared = grams(docs0)
        .join(evalFps, Seq("fp"))
        .groupBy("doc_id").agg(count(lit(1)).as("n_shared_fps"))
      docs0.select("doc_id").join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"),
          (coalesce(col("n_shared_fps"), lit(0L)) > 0).as("contaminated"))
    }),

    // PII scrubbing (the redact-before-training pass): the corpus is clean
    // by construction, so deterministic emails/IPv4s are PLANTED from
    // doc_id arithmetic (the synth-corpus precedent: the augmentation is
    // part of the query on both sides) and then counted + redacted with
    // Java∩RE2-portable patterns. The md5 of the redacted text pins the
    // BYTE-EXACT match extents, not just the counts. Narrow column op.
    "q64_pii_redact" -> ((s, dir) => {
      import graft.text.TextOps
      val t = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example or 10."),
        col("doc_id") % 256, lit("."), expr("doc_id div 7") % 256, lit(".4"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc admin"), col("doc_id"), lit("@corp.example")))
          .otherwise(lit("")))
      table(s, dir, "documents").select(col("doc_id"),
        size(regexp_extract_all(t, lit(TextOps.EmailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(t, lit(TextOps.Ipv4Re), lit(0))).as("n_ips"),
        length(TextOps.redactPii(t)).as("redacted_len"),
        md5(TextOps.redactPii(t)).as("redacted_md5"))
    }),

    // duplicate-PASSAGE detection (Lee et al. 2021 EXACTSUBSTR): boilerplate
    // passages are PLANTED (the q67/q64 precedent — the augmentation is part
    // of the query on both sides): every 4th doc gets a 15-word header, every
    // 6th a 14-word footer, so the corpus carries heavily-shared 13-grams at
    // both ends of a doc and %12 docs exercise two separate islands. The
    // operator itself (TextOps.dupSpans) finds ALL corpus-duplicated grams —
    // planted or natural — and merges them into maximal per-doc spans.
    "q68_dup_spans" -> ((s, dir) => {
      val hdr = "terms of service apply to all content on this page as described by the provider"
      val ftr = "all rights reserved worldwide contact the publisher for licensing questions and takedown requests here"
      val docs = table(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 4 === 0, lit(hdr + " ")).otherwise(lit("")),
          col("text"),
          when(col("doc_id") % 6 === 0, lit(" " + ftr)).otherwise(lit(""))).as("text"))
      graft.text.TextOps.dupSpans(s, docs)
    }),

    // TF-IDF keyword extraction: top-3 terms per document, integer-exact
    // linear-idf ranking (see TextOps.tfidfTopK for why not log — the
    // oracle replays the floor-division score and the term tie-break).
    "q69_tfidf" -> ((s, dir) =>
      graft.text.TextOps.tfidfTopK(s, table(s, dir, "documents"), k = 3)),

    // corpus-wide heavy hitters, exact form (the Misra–Gries sketch that
    // answers this in bounded memory is sbt-pinned in SketchSpec with its
    // N/(k+1) guarantee; this exact top-k is the driver-oracled anchor)
    "q70_top_terms" -> ((s, dir) =>
      graft.text.TextOps.topTerms(s, table(s, dir, "documents"), k = 20)),

    // GIF lossless-roundtrip invariant (the q56 pattern for the palette
    // codec): rendered pixels are 3-3-2-quantized (≤256 colors — the
    // explicit lossy step), then GIF encode→decode must be EXACT, half the
    // sweep through the interlaced layout. The oracle emits dims from the
    // shared splitmix CTE plus the uniform-true invariant.
    "q71_gif_invariant" -> ((s, dir) => {
      import s.implicits._
      s.range(300).as[Long].mapPartitions { it =>
        it.map { i =>
          val w = graft.img.ImageTable.widthOf(i)
          val h = graft.img.ImageTable.heightOf(i)
          val px = graft.img.Gif.quantize332(graft.img.ImageTable.renderPixels(i, w, h))
          val (back, bw, bh) =
            graft.img.Gif.decode(graft.img.Gif.encode(px, w, h, interlaced = i % 2 == 1))
          (f"img_$i%09d", w, h, bw == w && bh == h && java.util.Arrays.equals(back, px))
        }
      }.toDF("image_id", "w", "h", "lossless")
    }),

    // PMI collocations: top word pairs by pointwise mutual information,
    // integer-exact rational ranking (see TextOps.collocations for why the
    // monotone log argument replaces the float log)
    "q72_collocations" -> ((s, dir) =>
      graft.text.TextOps.collocations(s, table(s, dir, "documents"), minCount = 5, k = 50)),

    // stratified EXACT-quota sampling per language (the mixture-building
    // complement of q61's hash-threshold rates): deterministic splitmix
    // order within each stratum, exact per-stratum counts
    "q73_stratified_sample" -> ((s, dir) =>
      graft.text.TextOps.stratifiedSample(s,
          table(s, dir, "documents").select(col("doc_id"), col("lang")), quota = 50)
        .select(col("doc_id"), col("lang"), col("rnk"))),

    // EXACT polygon geometry stats on the decimicro rings (integer
    // shoelace, pre-float): area, raw stitcher winding, integer bbox. The
    // oracle is fully closed-form over the grid fixture — the winding
    // column pins the stitcher's orientation INVARIANT (the assembled ring
    // always traverses in the direction of the relation's FIRST member way
    // as stored: member perm = k%4 selects the leading way, bit
    // (k >> perm) & 1 is its fixture flip), verified for all 128 cells.
    "q74_polygon_stats" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.grid(16, 8).toDFs(s)
      graft.osm.BoundaryExtract.polygonStats(s, r, w, n).toDF()
        .orderBy("relation_id")
    }),

    // Douglas–Peucker simplification over the assembled rings: exact
    // integer survival decisions → a closed-form oracle. Every grid ring
    // dedups 12 raw vertices (stitch joints double) to 8, and the 4 edge
    // midpoints are exactly collinear, so any positive tolerance leaves
    // the 4 corners + closing point and area is EXACTLY preserved.
    "q75_simplify" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.grid(16, 8).toDFs(s)
      graft.osm.BoundaryExtract.simplifyStats(s, r, w, n, tolDm = 1000L).toDF()
        .orderBy("relation_id")
    }),

    // nearest-neighbor thumbnailing (ImageOps — pure index arithmetic, no
    // resample floats): every image renders, resizes to 16x16, and the
    // thumb's r+g+b checksum is recomputed CLOSED-FORM by the oracle from
    // the splitmix pixel function and the same floor-division sample map.
    "q76_thumbnail" -> ((s, dir) => {
      import s.implicits._
      s.range(300).as[Long].mapPartitions { it =>
        it.map { i =>
          val w = graft.img.ImageTable.widthOf(i)
          val h = graft.img.ImageTable.heightOf(i)
          val thumb = graft.img.ImageOps.resizeNearest(
            graft.img.ImageTable.renderPixels(i, w, h), w, h, 16, 16)
          var sum = 0L
          thumb.foreach(p => sum += ((p >> 16) & 0xFF) + ((p >> 8) & 0xFF) + (p & 0xFF))
          (f"img_$i%09d", w, h, sum)
        }
      }.toDF("image_id", "w", "h", "thumb_sum")
    }),

    // exact integer centroid of each outer ring (BigInt rational, rounded
    // half-up to decimicro — see Geom.centroidDm). Closed-form: the grid
    // cell centroid is the exact cell center, min corner + 72,000,000.
    "q77_centroid" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.grid(16, 8).toDFs(s)
      graft.osm.BoundaryExtract.polygonCentroids(s, r, w, n).toDF()
        .orderBy("relation_id")
    }),

    // quadkey tile naming over the pyramid (Bing tile-system strings):
    // pure column arithmetic on (level, tx, ty) — the same expression
    // text replays in the oracle over the recursive pyramid CTE.
    "q78_quadkey" -> ((s, dir) => {
      val imgs = graft.img.ImageTable.generate(s, 200, 8).toDF()
        .withColumn("relation_id", pmod(col("phash"), lit(64)))
      graft.tile.Tiling.tile(s, imgs).toDF()
        .select(col("image_id"), col("level"), col("tx"), col("ty"),
          graft.tile.Tiling.quadkeyCol(col("level"), col("tx"), col("ty")).as("quadkey"))
    }),

    // interval-containment join done as a bucketed EQUI-join (RangeJoin):
    // 200 deterministic promo windows (10 min – 1 day, overlapping) over
    // the 30-day event stream; each event carries one 6-h bucket, each
    // interval replicates to the ≤5 buckets it overlaps, and a residual
    // `start ≤ ts < end` filter finishes containment. The naive BETWEEN
    // theta join plans as BroadcastNestedLoopJoin — O(|events|·200) per
    // row; this plan is a map-side broadcast hash join (pinned in
    // RangeJoinSpec). All arithmetic in integral microseconds (unix_micros
    // / epoch_us) so both engines compare exact integers.
    "q79_range_join" -> ((s, dir) => {
      val bucketUs = 21600L * 1000000L // 6 h
      val ev = table(s, dir, "events").select(
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), // NTZ → UTC (session TZ pinned)
        round(col("value") * 100, 0).cast("long").as("value_cents"))
      val iv = s.range(200).select(
        col("id").as("interval_id"),
        ((lit(1704067200L) + col("id") * 12960L) * 1000000L).as("start_us"),
        ((lit(1704067200L) + col("id") * 12960L + 600L
          + pmod(col("id") * 7919L, lit(86400L))) * 1000000L).as("end_us"))
      val hits = graft.join.RangeJoin
        .bucketed(ev, "ts_us", iv, "start_us", "end_us", bucketUs)
        .groupBy("interval_id")
        .agg(count(lit(1)).as("n"), sum(col("value_cents")).as("value_cents"))
      iv.select("interval_id").join(hits, Seq("interval_id"), "left")
        .select(col("interval_id"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("value_cents"), lit(0L)).as("value_cents"))
    }),

    // geodesic nearest-neighbor: every probe point → its closest of 64
    // deterministic "city" centroids by GREAT-CIRCLE distance (haversine,
    // clamped asin — GraftFunctions.haversineKm), where the planar cell
    // kNN (q13/q33) would misrank near the poles and the antimeridian.
    // Scale shape: the 64-row dim side broadcasts, distances evaluate
    // map-side per probe row, and min(struct(dist, city_id)) aggregates
    // with a partial (map-side) combine — ONE exchange of one row per
    // probe, corpus never materializes the 64× expansion past the
    // combiner. Ties broken by city_id via the struct's lexicographic
    // order; dist published at 0.1 km so both engines' libm agree.
    "q80_haversine_nn" -> ((s, dir) => {
      val cities = s.range(64).select(
        col("id").as("city_id"),
        ((col("id") * 9973L + 12345L) % 150000L).cast("double") / 1000.0 - 75.0,
        ((col("id") * 7919L + 54321L) % 360000L).cast("double") / 1000.0 - 180.0)
        .toDF("city_id", "clat", "clon")
      val d = probePoints(s, dir).crossJoin(broadcast(cities))
        .withColumn("dist", GraftFunctions.haversineKm(
          col("lat"), col("lon"), col("clat"), col("clon")))
      d.groupBy("o_orderkey")
        .agg(min(struct(col("dist"), col("city_id"))).as("m"))
        .select(col("o_orderkey"), col("m.city_id").as("nearest_id"),
          round(col("m.dist"), 1).as("dist_km"))
    }),

    // Bloom-gated decontamination — the BROADCAST-side scale path next to
    // q67's exact join: the eval set's 13-gram keys build an m=2^16, k=4
    // Bloom bitset (one tiny job, 8 KB collected), and the corpus is then
    // gated by a pure map-side predicate — zero corpus shuffle before the
    // per-doc count, vs q67 shuffling every corpus gram through a join.
    // False positives are part of the operator's contract and are
    // DETERMINISTIC here (splitmix64 probes), so the oracle reproduces the
    // exact same bitset and the exact same verdicts, FPs included.
    "q81_bloom_decontam" -> ((s, dir) => {
      val n = 13
      def gramKeys(df: DataFrame): DataFrame = df
        .select(col("doc_id"),
          explode(graft.text.TextExpr.tokNgramsCol(s, col("text"), n)).as("gram"))
        .select(col("doc_id"), // 60-bit key: md5 prefix, hex-parsed identically in DuckDB
          conv(substring(md5(col("gram")), 1, 15), 16, 10).cast("long").as("key"))
        .distinct()
      val docs0 = table(s, dir, "documents")
        .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      val evalKeys = gramKeys(docs0.filter(col("doc_id") % 9 === 0)
        .select(col("doc_id"), expr("substring(text, 21, 200)").as("text")))
        .select("key").distinct()
      val bloom = graft.text.Bloom.build(s, evalKeys, "key", 1 << 16, 4)
      val hits = gramKeys(docs0)
        .filter(graft.text.Bloom.contains(s, bloom, col("key"), 1 << 16, 4))
        .groupBy("doc_id").agg(count(lit(1)).as("n_bloom_hits"))
      docs0.select("doc_id").join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"),
          (coalesce(col("n_bloom_hits"), lit(0L)) > 0).as("flagged"))
    }),

    // Iceberg-semantics snapshot MERGE (copy-on-write upsert): a 600-row
    // image-metadata table (captions from the same splitmix cell arithmetic
    // as ImageTable.makeRow) takes an 86-update + 100-insert merge; the
    // read-back of v2 IS the upsert semantics, oracled closed-form. Buckets
    // come from splitmix64(idx) % 64 so DuckDB replays the assignment; the
    // file-level carry-forward property is pinned in SnapshotTableSpec and
    // exercised at the row level by q83's incremental scan.
    "q82_snapshot_merge" -> ((s, dir) => {
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q82")
      def mix(c: org.apache.spark.sql.Column) = mixCol(s, c)
      def baseRows(lo: Long, hi: Long): DataFrame = s.range(lo, hi).select(
        col("id").as("idx"),
        format_string("img_%09d", col("id")).as("image_id"),
        concat(lit("caption_"), col("id"), lit(" of cell "),
          abs(mix(col("id"))) % 97).as("caption"))
      val bucketOf = pmod(mix(col("idx")), lit(8L))
      SnapshotTable.create(s, baseRows(0, 600), out.getPath, 8, bucketOf)
      val updates = s.range(0, 600).filter(col("id") % 7 === 0).select(
          col("id").as("idx"),
          format_string("img_%09d", col("id")).as("image_id"),
          concat(lit("updated_"), col("id"), lit(" rev 2")).as("caption"))
        .unionByName(baseRows(600, 700))
      SnapshotTable.merge(s, updates, out.getPath, "idx", bucketOf)
      SnapshotTable.read(s, out.getPath, verify = true)
        .select(col("image_id"), col("caption"))
    }),

    // Iceberg partition-spec EVOLUTION on the snapshot table: two
    // commits record bounds on k1, the spec evolves to k2
    // (metadata-only — no history rewrite), two more commits record k2
    // bounds. A k2-range read must then skip only post-evolution files
    // whose k2 bounds miss, while every pre-evolution file is read and
    // filtered residually (its bounds describe the OLD spec). Files are
    // k2-div-bucketed so the post-evolution bounds are tight: of the 6
    // new files, [45,62] keeps 3; all 4 old files must be read —
    // kept 7 / skipped 3, a closed-form consequence the oracle pins
    // alongside the row aggregate.
    "q245_spec_evolution" -> ((s, _) => {
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q245")
      def rowsOf(lo: Long, hi: Long): DataFrame = s.range(lo, hi).select(
        col("id").as("idx"), (col("id") % 50).as("k1"),
        expr("id div 10").as("k2"),
        concat(lit("cap_"), col("id")).as("caption"))
      val bucketOf = pmod(expr("k2 div 10"), lit(4L))
      SnapshotTable.create(s, rowsOf(0, 200), out.getPath, 4, bucketOf,
        statsCol = Some("k1"))
      SnapshotTable.append(s, rowsOf(200, 400), out.getPath, bucketOf)
      SnapshotTable.evolveStats(out.getPath, "k2")
      SnapshotTable.append(s, rowsOf(400, 800), out.getPath, bucketOf)
      SnapshotTable.append(s, rowsOf(800, 1000), out.getPath, bucketOf)
      val (kept, skipped) = SnapshotTable.prunePlan(out.getPath, 45L, 62L)
      SnapshotTable.readPruned(s, out.getPath, 45L, 62L)
        .agg(count(lit(1)).as("n_rows"), sum(col("idx")).as("sum_idx"))
        .select(col("n_rows"), col("sum_idx"),
          lit(kept.length.toLong).as("kept_files"),
          lit(skipped.length.toLong).as("skipped_files"))
    }),

    // time travel + incremental scan over the same snapshot mechanics: a
    // SPARSE merge (7 updates + 5 inserts into 64 buckets) so the
    // incremental row count discriminates carry-forward from rewrite-all —
    // if merge rewrote every bucket the count would be 605, the oracle's
    // closed-form replay of affected-buckets-only says far less.
    "q83_time_travel" -> ((s, dir) => {
      import s.implicits._
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q83")
      def baseRows(lo: Long, hi: Long): DataFrame = s.range(lo, hi).select(
        col("id").as("idx"),
        concat(lit("caption_"), col("id")).as("caption"))
      val bucketOf = pmod(mixCol(s, col("idx")), lit(64L))
      SnapshotTable.create(s, baseRows(0, 600), out.getPath, 64, bucketOf)
      val updates = s.range(0, 600).filter(col("id") % 97 === 0).select(
          col("id").as("idx"), concat(lit("updated_"), col("id")).as("caption"))
        .unionByName(baseRows(600, 605))
      SnapshotTable.merge(s, updates, out.getPath, "idx", bucketOf)
      Seq(
        ("v1", SnapshotTable.read(s, out.getPath, Some(1L)).count()),
        ("v2", SnapshotTable.read(s, out.getPath, Some(2L)).count()),
        ("incr_v1_v2", SnapshotTable.incremental(s, out.getPath, 1L, 2L).count())
      ).toDF("label", "n_rows")
    }),

    // lake maintenance: small-file compaction. Three commits fragment
    // most buckets into three files; compact rewrites only fragmented
    // buckets into one file each (O(fragmented), carried-by-reference
    // otherwise), rows bit-identical, and a second compact is a no-op
    // (no new version). File counts are oracle-replayed from the same
    // splitmix bucket arithmetic; sum_idx pins content preservation.
    "q90_compaction" -> ((s, dir) => {
      import s.implicits._
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q90")
      def rows(lo: Long, hi: Long): DataFrame = s.range(lo, hi).select(
        col("id").as("idx"), concat(lit("caption_"), col("id")).as("caption"))
      val bucketOf = pmod(mixCol(s, col("idx")), lit(16L))
      SnapshotTable.create(s, rows(0, 300), out.getPath, 16, bucketOf)
      SnapshotTable.append(s, rows(300, 500), out.getPath, bucketOf)
      SnapshotTable.append(s, rows(500, 650), out.getPath, bucketOf)
      val before = SnapshotTable.manifest(out.getPath, SnapshotTable.currentVersion(out.getPath))
      val after = SnapshotTable.compact(s, out.getPath)
      val sumIdx = SnapshotTable.read(s, out.getPath, verify = true)
        .agg(sum(col("idx"))).first().getLong(0)
      Seq(
        ("files_before", before.files.size.toLong),
        ("files_after", after.files.size.toLong),
        ("rows_after", after.totalRows),
        ("sum_idx", sumIdx),
        ("noop_version", SnapshotTable.compact(s, out.getPath).version)
      ).toDF("label", "n")
    }),

    // URL canonicalization + crawl dedup: deterministic planted URLs (the
    // q64/q67 precedent — augmentation shared with the oracle) are
    // canonicalized by pure column regex arithmetic (no UDF, no java.net)
    // and deduped per canonical form; %4∈{0,2} docs with equal (%7,%13)
    // residues collapse cross-case, so the keeper window does real work.
    "q84_url_canonical" -> ((s, dir) => {
      import graft.text.TextOps
      val url =
        when(col("doc_id") % 4 === 0, concat(lit("HTTPS://Example.COM:443/a/"),
          col("doc_id") % 7, lit("?utm_source=feed&id="), col("doc_id") % 13,
          lit("&b=2#frag")))
        .when(col("doc_id") % 4 === 1, concat(lit("http://news.example.org/p/"),
          col("doc_id") % 11, lit("?b=2&a=1&utm_campaign=x")))
        .when(col("doc_id") % 4 === 2, concat(lit("https://example.com/a/"),
          col("doc_id") % 7, lit("?id="), col("doc_id") % 13, lit("&b=2")))
        .otherwise(concat(lit("http://CDN.Example.net:80/img/"), col("doc_id") % 5))
      val w = Window.partitionBy(col("canon_url"))
      table(s, dir, "documents").select(col("doc_id"), url.as("url"))
        .select(col("doc_id"),
          TextOps.canonicalUrlCol(col("url")).as("canon_url"),
          TextOps.registeredDomainCol(col("url")).as("domain"))
        .withColumn("is_keeper", col("doc_id") === min(col("doc_id")).over(w))
    }),

    // as-of join (nearest preceding event per key): each click matches the
    // latest purchase at-or-before it for the same user. One union + one
    // key shuffle + one per-key sort (AsofJoin.backward) vs DuckDB's
    // native ASOF LEFT JOIN as the oracle; ~7% of clicks precede every
    // purchase and exercise the null path.
    "q85_asof_join" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val build = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("bval"))
      val probe = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.join.AsofJoin.backward(probe, build, "user_id", "ts", Seq("bval"))
        .select(col("event_id"),
          unix_micros(col("asof_ts").cast("timestamp")).as("asof_ts_us"), // NTZ → UTC (session TZ pinned)
          round(col("asof_bval") * 100).cast("long").as("asof_value_cents"))
    }),

    // vector→raster: burn the non-convex fixture polygons into the unit
    // cell grid — bounded lattice explode + the codegen'd ray-cast
    // expression; oracled cell-by-cell against a DuckDB replication of
    // the same even-odd crossing arithmetic (IEEE-identical division)
    "q86_rasterize" -> ((s, _) =>
      graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)),

    // raster→vector: marching-squares boundary extraction over q86's
    // raster — scatter ×4, one groupBy to the 2×2-block case index,
    // literal segment lookup; exact integers end to end
    "q87_marching_squares" -> ((s, _) =>
      graft.geom.Raster.marchingSquares(
        graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0))),

    // ANN quality eval: recall@5 of the IVF index against exact brute
    // kNN, per probe, as exact integers (n_hit of k_actual) — the metric
    // a pipeline gates an index build on; both legs are the already-
    // oracled q27/q52 computations
    "q89_ann_recall" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val probes = e.filter(col("vec_id") < 20)
      graft.sim.Similarity.recallAtK(
        graft.sim.Similarity.bruteForceTopK(probes, e, k = 5),
        graft.sim.Similarity.ivfTopK(s, probes, e, k = 5))
    }),

    // polygon–polygon overlap join: grid-partitioned candidates (cell
    // cover equi-join, pair-deduped) + exact proper-cross/containment
    // verify via the poly_intersects native expression; the oracle is
    // the all-pairs form of the SAME exact predicate — identical result,
    // quadratic plan, which is the point of the operator
    "q88_poly_overlap_join" -> ((s, _) =>
      graft.geom.PolyOverlap.overlapSelfJoin(s, overlapPolyDS(s), res = 6)),

    // end-to-end training-set selection: exact-dedup keeper ∧ quality gates
    "q40_training_select" -> ((s, dir) => {
      val w = Window.partitionBy(md5(col("text")))
      table(s, dir, "documents")
        .withColumn("keeper", min(col("doc_id")).over(w))
        .filter(col("doc_id") === col("keeper"))
        .withColumn("n_tokens", size(split(col("text"), " ", -1)))
        .filter(col("n_tokens").between(20, 120))
        .filter(length(col("text")) >= 100)
        .select(col("doc_id"), col("lang"), col("n_tokens"))
    }),

    // batch sessionization (gap = 30 min) — lag + cumulative session ids
    "q41_sessionize" -> ((s, dir) => {
      val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val tsSec = col("ts").cast("timestamp").cast("double") // exact micros
      table(s, dir, "events")
        .withColumn("ts_s", tsSec)
        .withColumn("prev_s", lag(col("ts_s"), 1).over(byUser))
        .withColumn("new_sess",
          when(col("prev_s").isNull || col("ts_s") - col("prev_s") > 1800.0, 1).otherwise(0))
        .withColumn("session_id", sum(col("new_sess")).over(
          byUser.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          floor(min(col("ts_s"))).cast("long").as("first_s"),
          floor(max(col("ts_s"))).cast("long").as("last_s"),
          sum(round(col("value") * 100, 0).cast("long")).as("value_cents"))
    }),

    // set operations: intersect / except over derived key sets
    "q42_set_ops" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val highQty = li.filter(col("l_quantity") > 40).select(col("l_partkey")).distinct()
      val lowTax = li.filter(col("l_tax") < 0.02).select(col("l_partkey")).distinct()
      highQty.intersect(lowTax).withColumn("src", lit("both"))
        .unionAll(highQty.except(lowTax).withColumn("src", lit("high_only")))
    }),

    // approximate distinct (HLL) next to exact — the sketch VALUE is
    // engine-specific, but the ERROR BOUND is oracle-able: the query
    // outputs |approx − exact| ≤ 3·rsd·exact (rsd = 0.05 default → 0.15,
    // integer arithmetic 20·|Δ| ≤ 3·exact) and the oracle asserts TRUE —
    // a green hash means Spark's HLL++ landed inside its published bound
    "q43_approx_distinct" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"),
          approx_count_distinct(col("l_partkey")).as("approx"))
        .select(col("l_returnflag"), col("exact"),
          (abs(col("approx") - col("exact")) * 20 <= col("exact") * 3)
            .as("within_bound"))
    }),

    // exact companion of q43 — the HLL estimate is rows-only by nature
    // (Spark's HLL++ ≠ DuckDB's approx engine), the exact side is oracled
    "q49_exact_distinct" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("exact"))
    }),

    // IVF-flat ANN (the second scale path next to q30's LSH): coarse
    // k-means quantizer → inverted lists → nprobe exact rerank.
    // Driver-oracled end-to-end: the ENTIRE quantizer training (sample
    // selection, 3 unrolled Lloyd iterations with order-exact double
    // accumulation) plus assignment, probing, and rerank are recomputed
    // relationally — see ivfOracleSql.
    "q52_ann_ivf" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.sim.Similarity.ivfTopK(s, e.filter(col("vec_id") < 20), e, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // product-quantization ANN (ADC): the corpus compresses to m=8
    // 4-bit-ish codes per vector, queries rank with a per-query LUT. The
    // oracle replays ALL 8 per-subspace k-means trainings, the corpus
    // encoding, and the two-level ADC summation order bit-exactly.
    "q65_ann_pq" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.sim.Similarity.pqTopK(s, e.filter(col("vec_id") < 20), e, k = 5)
    }),

    // IVF + PQ over residuals (IVFADC — the production composition:
    // coarse lists prune the scan AND the in-list scan is over m-byte
    // residual codes). Oracle replays coarse training, residual casting,
    // all 8 sub-quantizer trainings, probing, and ADC scoring bit-exactly.
    "q66_ann_ivfpq" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      graft.sim.Similarity.ivfpqTopK(s, e.filter(col("vec_id") < 20), e, k = 5)
    }),

    // IVF over BUCKETED STORAGE (the 100 TB layout): corpus written
    // partitioned by inverted list, probed lists read via partition
    // pruning. The quantizer is the same deterministic driver k-means as
    // q52, so the result is identical and SHARES q52's full oracle —
    // the driver gate proves storage-path/compute-path parity.
    "q54_ann_ivf_bucketed" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      // pid-keyed (two JVMs may run this concurrently) + shutdown-hook
      // cleanup so repeated runs never accumulate corpus copies in /tmp
      val out = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q54_${ProcessHandle.current().pid()}")
      sys.addShutdownHook {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(out)
      }
      graft.sim.Similarity.writeIvfBucketed(s, e, out.getPath, nlist = 16)
      graft.sim.Similarity.ivfTopKBucketed(s, e.filter(col("vec_id") < 20), out.getPath, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // PQ over STORED CODES (the compression layout): the corpus is written
    // ONCE as its m-byte code table + IEEE-bit codebook sidecar, then the
    // query scans codes only - raw vectors never read at query time. Same
    // deterministic training as q65, so the result is identical and SHARES
    // q65's full oracle - the driver gate proves the encode->store->score
    // round trip is bit-exact.
    "q135_ann_pq_stored" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val out = snapshotScratchDir("q135") // pid-keyed + deduped cleanup hook
      graft.sim.Similarity.writePqEncoded(s, e, out.getPath)
      graft.sim.Similarity.pqTopKStored(s, e.filter(col("vec_id") < 20),
        out.getPath, k = 5)
    }),

    // IVF index REFRESH (delta-only maintenance of the q54 layout): the
    // quantizer stays FROZEN, upserts assign against the persisted
    // centroids, victims are located by a skinny (vec_id, cid) scan, and
    // only affected list partitions rewrite (dynamic partition
    // overwrite) - the daily-ingest story of q134/q124 applied to the
    // ANN index. Oracle: frozen-quantizer replay (training on the
    // ORIGINAL corpus, assignment + scoring over the mutated one) - any
    // stale, duplicated, or lost row in the refreshed lists changes the
    // ranking and turns the row red.
    "q136_ivf_refresh" -> ((s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val out = snapshotScratchDir("q136")
      graft.sim.Similarity.writeIvfBucketed(s, e, out.getPath, nlist = 16)
      val perturbed = e.filter(col("vec_id") % 25 === 3)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .map { case (id, v) =>
          (id, v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x })
        }.toDF("vec_id", "embedding")
      val fresh = e.filter(col("vec_id") % 31 === 5)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .map { case (id, v) =>
          (id + 500000L, v.zipWithIndex.map { case (x, i) => if (i == 1) x + 0.02f else x })
        }.toDF("vec_id", "embedding")
      val deletes = e.filter(col("vec_id") % 40 === 7).select(col("vec_id"))
      graft.sim.Similarity.ivfRefresh(s, out.getPath,
        perturbed.unionByName(fresh), deletes)
      graft.sim.Similarity.ivfTopKBucketed(s, e.filter(col("vec_id") < 20),
        out.getPath, k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
    }),

    // multimodal dedup agreement — the LAION-style cross-modal gate: a
    // pair is a duplicate only when BOTH the image side (pHash Hamming ≤ 3
    // via the shared banding engine) and the caption side (MinHash LSH +
    // exact-Jaccard verify) agree. Four planted tiers prove the AND gate:
    // a both-modality near-dup tier survives; an image-only tier (fp
    // nudged, novel caption) and a caption-only tier (caption reworded,
    // fresh fp) are each rejected by the other modality. Both legs reuse
    // pinned pipelines (q91's hamming banding, q23's minhash chain); the
    // agreement is ONE equi-join on the canonical (id_a, id_b) pair key.
    "q137_multimodal_agreement" -> ((s, dir) => {
      def mix(c: org.apache.spark.sql.Column) = graft.functions.GraftFunctions.splitmixCol(s, c)
      val docs0 = table(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      val base = docs0.select(col("doc_id").as("id"),
        mix(col("doc_id")).as("fp"), col("text").as("caption"))
      val both = docs0.select((col("doc_id") + 100000L).as("id"),
        mix(col("doc_id")).bitwiseXOR(
          expr("shiftleft(1L, cast(doc_id % 60 as int))")).as("fp"),
        concat(col("text"), lit(" perturbed")).as("caption"))
      val imgOnly = docs0.select((col("doc_id") + 200000L).as("id"),
        mix(col("doc_id")).bitwiseXOR(
          expr("shiftleft(1L, cast((doc_id + 1) % 60 as int))")).as("fp"),
        concat(lit("qq"), col("doc_id"), lit(" ww"), col("doc_id"),
          lit(" ee"), col("doc_id"), lit(" rr"), col("doc_id"),
          lit(" tt"), col("doc_id")).as("caption"))
      val capOnly = docs0.select((col("doc_id") + 300000L).as("id"),
        mix(col("doc_id") + 999983L).as("fp"),
        concat(col("text"), lit(" reworded")).as("caption"))
      val items = base.unionByName(both).unionByName(imgOnly).unionByName(capOnly)
      val imgPairs = graft.dedup.Dedup.hammingPairs(s,
        items.select(col("id"), col("fp")), maxHamming = 3)
      val capPairs = graft.dedup.Dedup.minhashPairs(s, items,
        threshold = 0.5, idCol = "id", textCol = "caption")
      imgPairs.join(capPairs, Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("hamming"), col("jaccard"))
    }),

    // bigram LM surprisal quality filter (CCNet-style perplexity gate) in
    // the exact-integer discipline: per bigram instance
    // floor(log2((c(a)+V)/(c(a,b)+1))) bits via binary length — no float
    // log in either engine, so the DuckDB replay is bit-identical. Corpus
    // pays ONE exchange (the stream-vs-model (a,b) join); the model is
    // bigram-vocab-sized, its marginal a model-to-model join; V broadcast.
    // The keep bar sits at the synthetic corpus's median milli-bits so the
    // threshold comparison is exercised both ways (a real deployment tunes
    // it on held-out text, CCNet-style).
    "q138_lm_surprisal" -> ((s, dir) =>
      graft.text.TextOps.lmSurprisal(s, table(s, dir, "documents"), keepMbits = 4315)),

    // COCO-style column-major RLE mask stats: decode the REAL binary
    // column through graft's own codecs, BT.601 integer grayscale,
    // threshold >= 128, runs over the flat column-major walk (ord = x*h+y,
    // runs continue across column seams — the COCO flattening). Narrow
    // mapPartitions, no shuffle; oracled bit-exactly from the synthetic
    // pixel formula with a window-lag run decomposition.
    "q139_rle_mask" -> ((s, dir) =>
      graft.img.ImageOps.rleMaskStats(s,
        graft.img.ImageTable.generate(s, 300, 16).toDF())),

    // rook-contiguity adjacency over assembled boundary polygons (the
    // GeoDa-style neighbor graph): adjacency = >= 1 identical undirected
    // decimicro ring segment. The flush grid shares border NODES between
    // neighbors (the real-OSM shape), each side contributing its
    // corner-mid and mid-corner edges -> every rook pair shares exactly 2;
    // diagonal neighbors share only a corner vertex and must NOT pair.
    // One edge-key exchange + a pair-sized count; never polygon x polygon.
    "q140_contiguity" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      graft.osm.BoundaryExtract.contiguity(s, r, w, n)
    }),

    // spatial lag + exact-integer Moran's I over the rook graph (the
    // canonical consumer of q140's weights — GeoDa/PySAL's univariate
    // Moran). The attribute is GEOMETRY-derived: x = grid column + row
    // recovered from each assembled polygon's integer bbox corner (a
    // smooth gradient, so I is strongly positive); the oracle recovers
    // the same x from k. Moran's I = n*moran_num / (s0*moran_den) is
    // carried as its four exact integers — no float mean in either
    // engine.
    "q141_moran" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      // ONE relSegments pass (lazily lineage-cut) feeds both the
      // contiguity graph and the stats kernel — the scan->join->re-nest
      // front half used to run twice per ESDA query
      val segs = graft.osm.BoundaryExtract.relSegments(s, r, w, n)
        .localCheckpoint(false)
      val adj = graft.osm.BoundaryExtract.contiguityOf(s, segs)
      // SW bbox corner of cell (ix, iy) is exactly
      // (-60 + 15*iy, -120 + 15*ix) degrees = multiples of 15e7 decimicro
      val values = graft.osm.BoundaryExtract.polygonStatsOf(s, segs).toDF()
        .select(col("relation_id"),
          (((col("min_lon_dm").cast("long") + 1200000000L) / 150000000L).cast("long") +
           ((col("min_lat_dm").cast("long") + 600000000L) / 150000000L).cast("long")).as("x"))
      graft.osm.BoundaryExtract.spatialLag(values, adj)
    }),

    // local Moran (Anselin's LISA) over the same rook weights — the
    // hot/cold-spot classifier. The attribute is the residue pattern
    // x = (ix + iy) mod 5 (recovered from each polygon's integer
    // bbox corner), which is spatially ROUGH, so all four scatterplot
    // quadrants appear; per-polygon lisa_num and quadrant are exact
    // integers/labels in both engines.
    "q142_lisa" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      // ONE relSegments pass (lazily lineage-cut) feeds both the
      // contiguity graph and the stats kernel — the scan->join->re-nest
      // front half used to run twice per ESDA query
      val segs = graft.osm.BoundaryExtract.relSegments(s, r, w, n)
        .localCheckpoint(false)
      val adj = graft.osm.BoundaryExtract.contiguityOf(s, segs)
      val ix = (col("min_lon_dm").cast("long") + 1200000000L) / 150000000L
      val iy = (col("min_lat_dm").cast("long") + 600000000L) / 150000000L
      val values = graft.osm.BoundaryExtract.polygonStatsOf(s, segs).toDF()
        .select(col("relation_id"), ((ix + iy) % 5L).as("x"))
      graft.osm.BoundaryExtract.localMoran(values, adj)
    }),

    // the global autocorrelation battery (Moran's I + Geary's C +
    // Getis-Ord General G) as ONE row of exact integers from ONE edge
    // aggregation — no per-polygon centered column is ever materialized
    // (moran_den = n·(n·Q − S²) etc.). Same rough mod-5 attribute as
    // q142, so I is near zero / C near 1 and every integer is nontrivial.
    "q143_autocorr" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      // ONE relSegments pass (lazily lineage-cut) feeds both the
      // contiguity graph and the stats kernel — the scan->join->re-nest
      // front half used to run twice per ESDA query
      val segs = graft.osm.BoundaryExtract.relSegments(s, r, w, n)
        .localCheckpoint(false)
      val adj = graft.osm.BoundaryExtract.contiguityOf(s, segs)
      val ix = (col("min_lon_dm").cast("long") + 1200000000L) / 150000000L
      val iy = (col("min_lat_dm").cast("long") + 600000000L) / 150000000L
      val values = graft.osm.BoundaryExtract.polygonStatsOf(s, segs).toDF()
        .select(col("relation_id"), ((ix + iy) % 5L).as("x"))
      graft.osm.BoundaryExtract.globalAutocorr(values, adj)
    }),

    // dissolve: rook-adjacent polygons sharing an attribute collapse into
    // one region (contiguity → same-attribute edge filter → connected
    // components → additive region stats). The attribute tiles the 16×8
    // grid into 16 4×2 blocks, so every region needs TRANSITIVE closure
    // (block corners are not directly adjacent) and the oracle is closed
    // form: 8 polygons and 8 exact cell-areas per region, bbox = block.
    "q144_dissolve" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      // ONE relSegments pass (lazily lineage-cut) feeds both the
      // contiguity graph and the stats kernel — the scan->join->re-nest
      // front half used to run twice per ESDA query
      val segs = graft.osm.BoundaryExtract.relSegments(s, r, w, n)
        .localCheckpoint(false)
      val adj = graft.osm.BoundaryExtract.contiguityOf(s, segs)
      val st = graft.osm.BoundaryExtract.polygonStatsOf(s, segs).toDF()
      // flush grid ⇒ the divisions are exact; floor() the block indices
      // explicitly (Column `/` is DOUBLE division, not integer div)
      val ix = (col("min_lon_dm").cast("long") + 1200000000L) / 150000000L
      val iy = (col("min_lat_dm").cast("long") + 600000000L) / 150000000L
      val values = st.select(col("relation_id"),
        (floor(ix / 4d) + floor(iy / 2d) * 4d).cast("long").as("g"))
      graft.osm.BoundaryExtract.dissolve(s, values, adj, st)
    }),

    // zonal statistics — the raster↔vector × image crossover: REAL
    // decoded pixels (graft's own PNG/BMP codecs → BT.601 integer
    // grayscale, exploded per pixel) aggregated per polygon zone, the
    // zones burnt by the same codegen'd ray-cast as q86 from the ×4-
    // scaled fixtures. Zone raster broadcast → map-side join; ONE hash
    // exchange (the (image, zone) aggregation). Exact integers end to
    // end; partial coverage (small images, zone cells past the image
    // edge) drops out of the inner join by construction.
    "q145_zonal_stats" -> ((s, _) => {
      val zones = graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0)
      val pixels = graft.img.ImageOps.grayPixels(s,
        graft.img.ImageTable.generate(s, 64, 16).toDF())
      graft.geom.Raster.zonalStats(zones, pixels)
        .select(col("image_id"), col("relation_id"), col("n_px"),
          col("sum_g"), col("min_g").cast("long").as("min_g"),
          col("max_g").cast("long").as("max_g"))
    }),

    // join-count statistics (Cliff & Ord) — the categorical
    // autocorrelation verdict over the rook graph: BB/BW/WW undirected
    // edge counts for a binary attribute plus the nonfree-sampling
    // expectations as exact integer rationals. The attribute is
    // geometry-derived (b = 1 iff (3·ix + 5·iy) mod 7 < 3, spatially
    // rough so all three counts are nonzero) and the oracle replays the
    // closed-form grid edge list.
    "q146_join_counts" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      // ONE relSegments pass (lazily lineage-cut) feeds both the
      // contiguity graph and the stats kernel — the scan->join->re-nest
      // front half used to run twice per ESDA query
      val segs = graft.osm.BoundaryExtract.relSegments(s, r, w, n)
        .localCheckpoint(false)
      val adj = graft.osm.BoundaryExtract.contiguityOf(s, segs)
      val ix = (col("min_lon_dm").cast("long") + 1200000000L) / 150000000L
      val iy = (col("min_lat_dm").cast("long") + 600000000L) / 150000000L
      val values = graft.osm.BoundaryExtract.polygonStatsOf(s, segs).toDF()
        .select(col("relation_id"),
          when((ix * 3L + iy * 5L) % 7L < 3L, 1L).otherwise(0L).as("b"))
      graft.osm.BoundaryExtract.joinCounts(values, adj)
    }),

    // Getis-Ord local G hot/cold spots over the rook graph — the
    // ABSOLUTE-concentration sibling of q142's LISA (a low cell amid
    // high neighbors is HOT here, HH-excluded there). Same smooth
    // gradient attribute as q141 so both poles appear; the verdict is
    // the exact integer sign of (n−1)·lag − degree·(S−x).
    "q148_local_g" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      // ONE relSegments pass (lazily lineage-cut) feeds both the
      // contiguity graph and the stats kernel — the scan->join->re-nest
      // front half used to run twice per ESDA query
      val segs = graft.osm.BoundaryExtract.relSegments(s, r, w, n)
        .localCheckpoint(false)
      val adj = graft.osm.BoundaryExtract.contiguityOf(s, segs)
      val values = graft.osm.BoundaryExtract.polygonStatsOf(s, segs).toDF()
        .select(col("relation_id"),
          (((col("min_lon_dm").cast("long") + 1200000000L) / 150000000L).cast("long") +
           ((col("min_lat_dm").cast("long") + 600000000L) / 150000000L).cast("long")).as("x"))
      graft.osm.BoundaryExtract.localG(values, adj)
    }),

    // areal interpolation (raster method): transfer an attribute from
    // the q86 fixtures to a (+1,+1)-shifted target zoning, overlap
    // measured on the shared unit-cell burn — ONE cell-keyed equi-join
    // (target side broadcast), exact rational transfer table out. The
    // oracle replays BOTH ray-cast burns and the same join.
    "q149_areal_interp" -> ((s, _) => {
      val src = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .withColumnRenamed("relation_id", "src_id")
      val dst = graft.geom.Raster.rasterize(arealDstPolyDF(s), 1.0)
        .withColumnRenamed("relation_id", "dst_id")
      val values = s.range(0, 5).select((col("id") + 7000L).as("src_id"),
        (col("id") + 1L).as("v"))
      graft.geom.Raster.arealInterp(src, dst, values)
    }),

    // per-image Otsu auto-threshold — the binarization front end of the
    // mask pipeline (q139), EXACT: 256-bin BT.601 histogram, the
    // between-class-variance argmax compared as cross-multiplied
    // BigInt rationals (numerators reach ~2^88), smallest-t tie-break.
    // Narrow mapPartitions decode; the oracle replays the histogram,
    // the HUGEINT dominance test, and the foreground count.
    "q150_otsu" -> ((s, _) =>
      graft.img.ImageOps.otsuStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // distance-band spatial weights — GeoDa's radius weights as the
    // queen/metric generalization of rook contiguity: all point pairs
    // with dx²+dy² ≤ d², built by cell binning + ONE 3×3-scattered
    // equi-join (never points × points), exact Long arithmetic with an
    // in-plan 2³¹ coordinate overflow guard. Points are the polygon
    // bbox centers; d² = 2·(cell pitch)² makes it exactly queen
    // adjacency (diagonals at equality) — the oracle replays it closed
    // form with per-pair dist2.
    "q151_distance_band" -> ((s, dir) => {
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      val st = graft.osm.BoundaryExtract.polygonStats(s, r, w, n).toDF()
      val pts = st.select(col("relation_id").as("id"),
        ((col("min_lon_dm").cast("long") + col("max_lon_dm").cast("long")) / 2)
          .cast("long").as("x"),
        ((col("min_lat_dm").cast("long") + col("max_lat_dm").cast("long")) / 2)
          .cast("long").as("y"))
      graft.geom.PointPattern.distanceBand(pts, 45000000000000000L)
    }),

    // Ripley's K pair counts — the point-process clustering curve as
    // exact integers: unordered pairs within each squared radius, ONE
    // binned join at the largest radius, all thresholds counted in the
    // same pass. The oracle is the all-pairs quadratic form of the same
    // predicate — identical integers, which is the point.
    "q152_ripley_k" -> ((s, dir) => {
      val pts = table(s, dir, "orders").filter(col("o_orderkey") % 17 === 0)
        .select(col("o_orderkey").as("id"),
          (abs(col("o_orderkey") * 9973 + 12345) % 2000001 - 1000000).as("x"),
          (abs(col("o_orderkey") * 7919 + 54321) % 2000001 - 1000000).as("y"))
      graft.geom.PointPattern.ripleyK(pts,
        Seq(10000000000L, 40000000000L, 160000000000L))
    }),

    // histogram equalization — the classic contrast stretch, EXACT: the
    // integer remap out(g) = (cdf−cdfmin)·255/(N−cdfmin) summarized per
    // image as (out_sum, out_min, out_max, out_levels), which pins the
    // whole mapping without shipping pixels. Narrow mapPartitions
    // decode through graft's own codecs.
    "q153_hist_eq" -> ((s, _) =>
      graft.img.ImageOps.histEqStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // GLCM texture features (Haralick) — offset-(1,0) co-occurrence of
    // the 8-level quantized grayscale, reduced to exact integer
    // contrast and ASM numerator; the smooth-vs-noisy texture signal of
    // an image-quality filter. Narrow mapPartitions decode.
    "q154_glcm" -> ((s, _) =>
      graft.img.ImageOps.glcmStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // binary 3×3 morphology counts — erosion/dilation survivors on the
    // ≥128 mask (the open/close building blocks before RLE/blob mask
    // cleanup), interior-only with explicit border semantics; narrow
    // mapPartitions decode, exact integers.
    "q155_morphology" -> ((s, _) =>
      graft.img.ImageOps.morphologyStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // per-zone image-quality rollup — the flagship crossover COMPOSED:
    // the REAL cell-indexed spatial join (SpatialJoin.assign: cover →
    // broadcast cell equi-join → codegen'd ray-cast refine) assigns
    // geotagged images to polygons, the Sobel edge-energy extractor
    // scores them, one groupBy rolls both up per zone. The oracle
    // replays assignment (q12's bbox form — the rects make ray-cast ≡
    // open-interval compare) and energy (q108's 8-join Sobel) end to end.
    "q156_zone_quality" -> ((s, _) => {
      import s.implicits._
      val imgs = graft.img.ImageTable.generate(s, 300, 16).toDF()
      val idx = substring(col("image_id"), 5, 9).cast("long")
      val probes = imgs.select(col("image_id"),
        GraftFunctions.latOfKey(idx).as("lat"),
        GraftFunctions.lonOfKey(idx).as("lon"))
      val assigned = graft.join.SpatialJoin.assign(
        s, probes, s.createDataset(rectPolys), res = 6)
      val energy = graft.img.ImageOps.sobelStats(s, imgs)
      assigned.select(col("image_id"), col("relation_id"))
        .join(energy, "image_id")
        .groupBy(col("relation_id"))
        .agg(count(lit(1)).as("n_images"),
          sum(col("energy")).as("energy_sum"),
          max(col("gmax")).as("gmax_max"))
    }),

    // per-zone image counts of the flagship spatial join alone
    // (SpatialJoin.assign: driver-collected cover → broadcast cell
    // equi-join → ray-cast refine) over 300 geotagged images — q156's
    // assignment without the Sobel scoring. The key name is historical.
    "q157_assign_salted" -> ((s, _) => {
      import s.implicits._
      val idx = substring(col("image_id"), 5, 9).cast("long")
      val probes = graft.img.ImageTable.generate(s, 300, 16).toDF()
        .select(col("image_id"),
          GraftFunctions.latOfKey(idx).as("lat"),
          GraftFunctions.lonOfKey(idx).as("lon"))
      graft.join.SpatialJoin.assign(s, probes, s.createDataset(rectPolys), res = 6)
        .groupBy(col("relation_id"))
        .agg(count(lit(1)).as("n_images"))
    }),

    // incremental zonal-stats refresh: per-batch zone summaries merged
    // by zonalRollup (sum-of-sums / min-of-mins / max-of-maxes) — the
    // O(zones) additive refresh, never a pixel rescan. The oracle is
    // the FULL recompute over base+delta; incremental must equal it
    // exactly.
    "q158_zonal_refresh" -> ((s, _) => {
      val zones = graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0)
      val idx = substring(col("image_id"), 5, 9).cast("long")
      val all = graft.img.ImageTable.generate(s, 96, 16).toDF()
      val base = graft.geom.Raster.zonalRollup(graft.geom.Raster.zonalStats(
        zones, graft.img.ImageOps.grayPixels(s, all.filter(idx < 64))))
      val delta = graft.geom.Raster.zonalRollup(graft.geom.Raster.zonalStats(
        zones, graft.img.ImageOps.grayPixels(s, all.filter(idx >= 64))))
      graft.geom.Raster.zonalRollup(base.unionByName(delta))
        .select(col("relation_id"), col("n_px"), col("sum_g"),
          col("min_g").cast("long").as("min_g"),
          col("max_g").cast("long").as("max_g"))
    }),

    // multi-source BFS hop distance over the rook graph — graph-geodesic
    // region growing (drive-time-zone rings) seeded at two polygons:
    // the SW corner and an interior cell. On the flush grid the minimum
    // hop count IS the min Manhattan distance to a seed, so the oracle
    // is closed form while Bfs.hops walks the graph level by level (max
    // hop 12). The 128-node grid fits the broadcast threshold, so the
    // walk runs in driver memory; BfsSpec pins the blocked Spark loop.
    "q159_bfs_hops" -> ((s, dir) => {
      import s.implicits._
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      val adj = graft.osm.BoundaryExtract.contiguity(s, r, w, n)
      val seeds = Seq(3000000L, 3000071L).toDF("id") // (0,0) and (7,4)
      graft.graph.Bfs.hops(s, adj, seeds)
    }),

    // categorical zonal mode — majority quantized gray class per zone
    // (the classified-raster form of zonal stats): pixel classes pooled
    // across the corpus per zone, argmax via max(struct(cnt, −class))
    // with smallest-class tie-break — one extra hash exchange over
    // q145, no window.
    "q160_zonal_mode" -> ((s, _) => {
      val zones = graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0)
      val pixels = graft.img.ImageOps.grayPixels(s,
          graft.img.ImageTable.generate(s, 64, 16).toDF())
        .select(col("x"), col("y"), shiftright(col("g"), 5).cast("long").as("class"))
      graft.geom.Raster.zonalMode(zones, pixels)
    }),

    // dominant color per image — most frequent 4×4×4 RGB cube bin with
    // smallest-bin tie-break (the thumbnail-palette / near-dup
    // prefilter signal); narrow mapPartitions decode, exact integers.
    "q161_dominant_color" -> ((s, _) =>
      graft.img.ImageOps.dominantColorStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // Hilbert bbox range decomposition — the planner-side pruning
    // primitive over the q113 layout: a 16×8 query bbox at res 6
    // becomes its maximal contiguous d-runs (gaps-and-islands over the
    // bbox cells — a query-sized constant, the one place a global
    // window is the honest shape). The oracle replays the same curve
    // CTEs and island grouping.
    "q162_hilbert_ranges" -> ((s, _) =>
      graft.cell.Hilbert.bboxRanges(s, res = 6, x0 = 10, x1 = 25, y0 = 33, y1 = 40)),

    // DBSCAN over planted integer clusters — 5 jittered knots (±20000)
    // spaced 10^6 apart plus a wide uniform scatter; eps=5000, minPts=5.
    // Candidate pairs ride the q151 cell-binned join; the oracle replays
    // the quadratic pair predicate + the q51 reachability fixpoint +
    // the min-core-neighbor border rule.
    "q163_dbscan" -> ((s, dir) => {
      graft.geom.Dbscan.cluster(s, dbscanPtsDF(s, dir),
        eps2 = 25000000L, minPts = 5)
    }),

    // weighted shortest path (frontier Bellman-Ford) over the q159
    // contiguity graph with deterministic symmetric integer weights
    // w = 1 + (a+b) mod 7 — the travel-cost generalization of BFS hops.
    // The oracle is a bounded recursive-CTE relaxation over the same
    // rook lattice (min over all walk sums below a bound that dominates
    // the true diameter).
    "q164_sssp" -> ((s, dir) => {
      import s.implicits._
      val (n, w, r) = OsmScenes.sharedGrid(16, 8).toDFs(s)
      val adj = graft.osm.BoundaryExtract.contiguity(s, r, w, n)
      val weighted = adj.select(col("rel_a"), col("rel_b"),
        (lit(1L) + (col("rel_a") + col("rel_b")) % 7L).as("w"))
      graft.graph.Sssp.distances(s, weighted, Seq(3000000L).toDF("id"))
    }),

    // Manhattan distance transform over the zonal burn — map algebra's
    // buffer-depth / erosion-ring field: per occupied cell, the hop
    // distance to the nearest cell outside the raster (boundary = 1).
    // Level-synchronous inward BFS on the IMPLICIT lattice — no edge
    // list; each ring is one ×4 scatter + semi/anti join, every cell
    // labeled exactly once. The oracle replays it as a recursive-CTE
    // walk seeded at the boundary ring, min(d) per cell.
    "q165_distance_transform" -> ((s, _) =>
      graft.geom.Raster.distanceTransform(
        graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0))),

    // border-length contiguity weights over the zonal burn — the
    // length-weighted refinement of rook contiguity: ordered adjacent
    // cell pairs per polygon pair. One scatter + one cell-keyed join;
    // the oracle is the quadratic adjacency self-join (lattice-sized).
    "q177_border_weights" -> ((s, _) =>
      graft.geom.Raster.borderWeights(
        graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0))),

    // HOG octant histogram — 3×3 Sobel gradients binned into 8 octants
    // by pure sign/|gx| vs |gy| comparisons (no atan2, no float), L1
    // magnitude votes; zero-gradient pixels dropped. Narrow decode,
    // ≤ 8 rows per image; the oracle replays Sobel + the octant CASE
    // over the shared pixel chain.
    "q178_hog_octants" -> ((s, _) =>
      graft.img.ImageOps.hogOctants(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // regional caption vocabulary — the flagship spatial join composed
    // with the TEXT side of the image+caption table: per assigned
    // polygon, the dominant caption cell-token (parsed from the
    // caption STRING with regexp_extract — the engine works the string
    // path; the oracle re-derives the token from the phash arithmetic
    // the generator used). The LAION-regional-metadata shape: assign →
    // parse → two hash exchanges → argmax, no window.
    "q185_region_captions" -> ((s, _) => {
      import s.implicits._
      val imgs = graft.img.ImageTable.generate(s, 300, 16).toDF()
      val idx = substring(col("image_id"), 5, 9).cast("long")
      val probes = imgs.select(col("image_id"),
        GraftFunctions.latOfKey(idx).as("lat"),
        GraftFunctions.lonOfKey(idx).as("lon"))
      val assigned = graft.join.SpatialJoin.assign(
        s, probes, s.createDataset(rectPolys), res = 6)
      val tok = imgs.select(col("image_id"),
        regexp_extract(col("caption"), "cell (\\d+)$", 1).cast("long").as("ctok"))
      assigned.select(col("image_id"), col("relation_id"))
        .join(tok, "image_id")
        .groupBy(col("relation_id"), col("ctok"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("relation_id"))
        .agg(sum(col("cnt")).as("n_images"),
          max(struct(col("cnt"), (-col("ctok")).as("negt"))).as("m"))
        .select(col("relation_id"), col("n_images"),
          (-col("m.negt")).as("top_token"), col("m.cnt").as("top_cnt"))
    }),

    // Horn slope/aspect over the DEM burn — terrain analysis' first
    // derivative: exact gradient numerators gx/gy, slope² magnitude,
    // the q178 octant convention for aspect, hillshade numerator
    // gy − gx. One ×8 scatter + ONE hash exchange (Horn weights fold
    // into the aggregation — no per-neighbor pivot); interior cells
    // only. The oracle replays the 8-neighborhood as a lattice-sized
    // self-join over the same ray-cast burn.
    "q186_slope_aspect" -> ((s, _) =>
      graft.geom.Terrain.slopeAspect(demCellsDF(s))),

    // D8 flow accumulation — steepest-descent routing (max positive
    // drop, smallest-dir tie-break) then per cell 1 + upstream drainage
    // count. The closure runs POINTER DOUBLING over the flow forest:
    // O(log L) rounds, each one equi-join, no distinct (functional
    // acyclic graph ⇒ every reach pair is produced once). The oracle
    // recomputes D8 by window rank and walks a recursive CTE.
    "q187_flow_acc" -> ((s, _) =>
      graft.geom.Terrain.flowAccumulation(
        graft.geom.Terrain.d8Flow(demCellsDF(s)))),

    // watershed basins — every cell labeled with the terminal sink its
    // D8 path drains to (pits label themselves): pointer doubling on
    // f = next(·), state one row per cell, ⌈log₂ L⌉ rounds. Oracle:
    // the same D8 pick + a recursive walk to the first cell with no
    // positive drop.
    "q188_watershed" -> ((s, _) =>
      graft.geom.Terrain.sinkLabel(
        graft.geom.Terrain.d8Flow(demCellsDF(s)))),

    // line-of-sight viewshed from the per-polygon summit along the 8
    // principal rays — blocked ⇔ some nearer ray cell subtends an
    // equal-or-greater elevation angle, tested as the cross-multiplied
    // rational (zᵢ−z₀)·d ≥ (z−z₀)·dᵢ (no floats). Candidates are
    // rays-only; the blocker join is quadratic in RAY LENGTH (lattice
    // radius), never cell count.
    "q189_viewshed" -> ((s, _) => {
      val dem = demCellsDF(s)
      graft.geom.Terrain.lineOfSight(dem,
        graft.geom.Terrain.summitObservers(dem))
    }),

    // raster mosaic compositing — 24 decoded images placed on a world
    // canvas at overlapping origins ((i mod 5)·8, (⌊i/5⌋ mod 5)·6);
    // per world pixel the contributor count, gray sum, and the
    // highest-index winner (last-write-wins compositing). Narrow
    // decode + ONE hash exchange on the world cell; max(struct) argmax,
    // no window. The oracle replays it over the shared pixel chain.
    "q190_mosaic" -> ((s, _) => {
      val px = graft.img.ImageOps.grayPixels(s,
        graft.img.ImageTable.generate(s, 24, 8).toDF())
      val withIdx = px
        .withColumn("i", substring(col("image_id"), 5, 9).cast("long"))
        .withColumn("wx", (col("i") % 5L) * 8L + col("x"))
        .withColumn("wy", (expr("i div 5") % 5L) * 6L + col("y"))
      withIdx.groupBy(col("wx"), col("wy"))
        .agg(count(lit(1)).as("n_src"),
          sum(col("g")).as("g_sum"),
          max(struct(col("i"), col("g").cast("long").as("g"))).as("m"))
        .select(col("wx"), col("wy"), col("n_src"), col("g_sum"),
          col("m.i").as("top_i"), col("m.g").as("top_g"))
    }),

    // point-set diameter per group — rotating-calipers' answer computed
    // Spark-first: the exact hull (q107's two-level reduction) then the
    // pair max over EXTREME points only (hull² per group, never
    // |group|²; squared distance is strictly convex on a segment, so
    // no maximizing pair contains a non-extreme point). The oracle
    // brute-forces ALL vertex pairs — agreement cross-validates the
    // hull reduction itself.
    "q191_diameter" -> ((s, dir) =>
      graft.geom.Hull.diameter2(s,
        table(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") % 4).as("grp"),
            (abs(col("o_orderkey") * 9973 + 12345) % 2000001 - 1000000).as("x"),
            (abs(col("o_orderkey") * 7919 + 54321) % 2000001 - 1000000).as("y")))),

    // Bresenham polyline rasterization — pure column arithmetic (no
    // UDF, no loop): midpoint rounding as exact integer div after a
    // nonnegativity shift, one cell per major-axis step. Planted
    // integer segments from the orders keys; the oracle unnests
    // range(0, L+1) and replays the identical formula.
    "q192_line_raster" -> ((s, dir) =>
      graft.geom.Raster.lineRaster(
        table(s, dir, "orders").filter(col("o_orderkey") % 131 === 0)
          .select(col("o_orderkey").as("seg_id"),
            (abs(col("o_orderkey") * 7919L + 1) % 241).as("ax"),
            (abs(col("o_orderkey") * 104729L + 5) % 241).as("ay"),
            (abs(col("o_orderkey") * 9973L + 3) % 241).as("bx"),
            (abs(col("o_orderkey") * 1299709L + 7) % 241).as("by")))),

    // skyline (Pareto-dominance) selection over the image table's
    // (w, h, quality) criteria — two-phase: per-partition sort-filter
    // local skylines (narrow), then ONE broadcast dominance anti-join
    // against the union of local Pareto sets; no all-pairs shuffle.
    // Oracle: the ANSI NOT EXISTS dominance definition.
    "q193_skyline" -> ((s, _) => {
      val items = graft.img.ImageTable.generate(s, 400, 16).toDF()
        .select(substring(col("image_id"), 5, 9).cast("long").as("i"),
          col("w").cast("long").as("w"), col("h").cast("long").as("h"),
          (abs(col("phash")) % 1000L).as("q"))
      graft.sim.Skyline.skyline3(s, items, idCol = "i",
        c1 = "w", c2 = "h", c3 = "q")
    }),

    // interval-overlap join — events matched to derived maintenance
    // windows by time containment, computed the scale-correct way:
    // windows EXPLODE to coarse time buckets (windows ≤ 7 min, bucket
    // 10 min ⇒ ≤ 2 buckets each), events hash to their ONE bucket, one
    // equi-join on the bucket + the exact range filter — each matching
    // pair meets in exactly one bucket (the event's), so no dedup is
    // ever needed. Left-grouped so empty windows survive with n 0.
    "q194_interval_join" -> ((s, dir) => {
      val bkt = 600000000L // 10 min in micros
      val ev = table(s, dir, "events")
        .select(col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("t")) // NTZ → UTC (session TZ pinned)
        .withColumn("bk", expr(s"t div ${bkt}L"))
      val win = table(s, dir, "events").filter(col("event_id") % 503 === 0)
        .select(col("event_id").as("win_id"),
          unix_micros(col("ts").cast("timestamp")).as("w0"),
          (unix_micros(col("ts").cast("timestamp")) +
            (col("event_id") % 7 + 1) * 60000000L).as("w1"))
        .withColumn("bk",
          explode(sequence(expr(s"w0 div ${bkt}L"), expr(s"w1 div ${bkt}L"))))
      win.join(ev, win("bk") === ev("bk") &&
          col("t") >= col("w0") && col("t") <= col("w1"), "left")
        .groupBy(col("win_id"), col("w0"), col("w1"))
        .agg(count(col("event_id")).as("n_events"),
          min(col("event_id")).as("min_ev"),
          max(col("event_id")).as("max_ev"))
    }),

    // even-odd (donut) rasterization — holes and overlapping rings via
    // PURE COMPOSITION: each ring burns independently through the
    // existing union rasterizer, then one groupBy keeps cells covered
    // by an ODD number of rings. Recovers the hole-aware semantics the
    // reference's union-of-rings rule skips, at the cost of one hash
    // exchange. The oracle swaps the lattice chain's HAVING to
    // sum(n % 2) % 2 = 1.
    "q195_rasterize_evenodd" -> ((s, _) => {
      import s.implicits._
      val perRing = s.createDataset(donutPolys.flatMap { case (id, rings) =>
        rings.zipWithIndex.map { case (ring, r) =>
          PolygonRow(s"donut_${id}_$r",
            Seq(ring.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) }),
            id * 10 + r, 8L)
        }
      }).toDF()
      graft.geom.Raster.rasterize(perRing, 1.0)
        .withColumn("pid", expr("relation_id div 10"))
        .groupBy(col("pid"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("nrings"))
        .filter(col("nrings") % 2 === 1)
        .select(col("pid").as("relation_id"), col("cx"), col("cy"))
    }),

    // exact bilinear 2× upsample — the co-sited (2w−1)×(2h−1) doubling
    // grid with every sample as its exact ×4 numerator (no division,
    // no clamp), aggregated to sum + position checksum per image;
    // narrow decode, no shuffle. The oracle replays the four parity
    // cases as joins over the pixel chain.
    "q196_bilinear_up" -> ((s, _) =>
      graft.img.ImageOps.bilinearUp2(s,
        graft.img.ImageTable.generate(s, 32, 16).toDF())),

    // discrete Hausdorff distance between planted device trajectories —
    // h(A,B) = max over a of min over b of d², both directions plus the
    // symmetric max, ALL exact squared integers (no sqrt). The pair
    // join is quadratic in TRAJECTORY LENGTH (sampled to ~50 points per
    // device — the bounded-trajectory contract, like the viewshed's
    // ray-length bound), never corpus-sized; two grouped aggregations,
    // no window.
    "q197_hausdorff" -> ((s, dir) => {
      val pts = table(s, dir, "events")
        .filter(col("event_id") % 101 === 0)
        .select((col("user_id") % 12).as("dev"), col("event_id").as("pid"),
          ((col("user_id") * 7919 + col("event_id") * 31) % 501).as("x"),
          ((col("user_id") * 104729 + col("event_id") * 37) % 501).as("y"))
      val a = pts.select(col("dev").as("da"), col("pid").as("pa"),
        col("x").as("xa"), col("y").as("ya"))
      val b = pts.select(col("dev").as("db"), col("pid").as("pb"),
        col("x").as("xb"), col("y").as("yb"))
      val d2 = (col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb"))
      val pair = a.join(b, col("da") < col("db"))
        .select(col("da"), col("db"), col("pa"), col("pb"), d2.as("d2"))
      val hab = pair.groupBy(col("da"), col("db"), col("pa"))
        .agg(min(col("d2")).as("dmin"))
        .groupBy(col("da"), col("db")).agg(max(col("dmin")).as("h_ab"))
      val hba = pair.groupBy(col("da"), col("db"), col("pb"))
        .agg(min(col("d2")).as("dmin"))
        .groupBy(col("da"), col("db")).agg(max(col("dmin")).as("h_ba"))
      hab.join(hba, Seq("da", "db"))
        .select(col("da"), col("db"), col("h_ab"), col("h_ba"),
          greatest(col("h_ab"), col("h_ba")).as("hausdorff2"))
    }),

    // geofence enter/exit detection — each device point assigned to a
    // disjoint planted zone set (broadcast rect join, 0 = outside),
    // then one per-device window pass emits every zone TRANSITION
    // (first fix counts as an enter from zone −1): the geospatial ×
    // temporal composition a fleet/geofencing pipeline runs. One
    // broadcast join + one window shuffle on the device key.
    "q198_geofence" -> ((s, dir) => {
      val pts = table(s, dir, "events")
        .filter(col("event_id") % 13 === 0)
        .select(col("event_id"), col("user_id"), col("ts"),
          ((col("user_id") * 7919 + col("event_id") * 31) % 100).as("x"),
          ((col("user_id") * 104729 + col("event_id") * 37) % 100).as("y"))
      import s.implicits._
      val rects = Seq((1L, 0L, 49L, 0L, 49L), (2L, 50L, 99L, 0L, 49L),
        (3L, 0L, 49L, 50L, 99L), (4L, 60L, 90L, 60L, 90L))
        .toDF("zone_id", "x0", "x1", "y0", "y1")
      val zoned = pts.join(broadcast(rects),
          col("x") >= col("x0") && col("x") <= col("x1") &&
            col("y") >= col("y0") && col("y") <= col("y1"), "left")
        .groupBy(col("user_id"), col("event_id"), col("ts"))
        .agg(coalesce(min(col("zone_id")), lit(0L)).as("zone"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      zoned.select(col("user_id"), col("event_id"), col("zone"),
          coalesce(lag(col("zone"), 1).over(w), lit(-1L)).as("prev_zone"))
        .filter(col("zone") =!= col("prev_zone"))
    }),

    // feathered mosaic — q190's compositing with edge-distance weights
    // wt = min(x+1, w−x, y+1, h−y) (the seamless-mosaic blend, exact
    // integers): per world pixel the weight sum and the Σ g·wt
    // numerator; the consumer divides. Same one-exchange shape as q190.
    "q199_feather_mosaic" -> ((s, _) => {
      val imgs = graft.img.ImageTable.generate(s, 24, 8).toDF()
      val px = graft.img.ImageOps.grayPixels(s, imgs)
        .join(imgs.select(col("image_id"),
          col("w").cast("long").as("w"), col("h").cast("long").as("h")),
          "image_id")
      px.withColumn("i", substring(col("image_id"), 5, 9).cast("long"))
        .withColumn("wx", (col("i") % 5L) * 8L + col("x"))
        .withColumn("wy", (expr("i div 5") % 5L) * 6L + col("y"))
        .withColumn("wt", least(col("x") + 1L, col("w") - col("x"),
          col("y") + 1L, col("h") - col("y")))
        .groupBy(col("wx"), col("wy"))
        .agg(count(lit(1)).as("n_src"), sum(col("wt")).as("wt_sum"),
          sum(col("wt") * col("g")).as("num_sum"))
    }),

    // map matching — every GPS fix snapped to its nearest planted road
    // segment, EXACT: the point-to-segment squared distance is the
    // rational (|pa|²·L2 − dot²)/L2 with endpoint clamping, and the
    // argmin across segments is the cross-multiplied comparison
    // b.num·a.den < a.num·b.den (never a float), smallest segment id on
    // ties. Segments broadcast (road networks are the small side of
    // this join at any scale); the per-point candidate set is the
    // broadcast, so the anti-join argmin is segments² per point,
    // bounded by the network fan-in a cell-binned deployment would cap.
    "q200_map_match" -> ((s, dir) => {
      import s.implicits._
      val segs = (0L until 20L).map { k =>
        (k, (k * 7919) % 900 + 50, (k * 104729) % 900 + 50,
          (k * 7919 + k * k * 131 + 200) % 900 + 50,
          (k * 104729 + k * 31 + 350) % 900 + 50)
      }.toDF("sid", "ax", "ay", "bx", "by")
      val pts = table(s, dir, "events")
        .filter(col("event_id") % 53 === 0)
        .select(col("event_id"),
          ((col("user_id") * 7919 + col("event_id") * 31) % 1000).as("px"),
          ((col("user_id") * 104729 + col("event_id") * 37) % 1000).as("py"))
      val vx = col("bx") - col("ax"); val vy = col("by") - col("ay")
      val wxp = col("px") - col("ax"); val wyp = col("py") - col("ay")
      val l2 = vx * vx + vy * vy
      val dt = wxp * vx + wyp * vy
      val da2 = wxp * wxp + wyp * wyp
      val db2 = (col("px") - col("bx")) * (col("px") - col("bx")) +
        (col("py") - col("by")) * (col("py") - col("by"))
      val cand = pts.join(broadcast(segs))
        .select(col("event_id"), col("sid"),
          when(dt <= 0, da2).when(dt >= l2, db2)
            .otherwise(da2 * l2 - dt * dt).as("num"),
          when(dt <= 0 || dt >= l2, lit(1L)).otherwise(l2).as("den"))
      val beaten = cand.as("a").join(cand.as("b"),
        col("a.event_id") === col("b.event_id") &&
          (col("b.num") * col("a.den") < col("a.num") * col("b.den") ||
            (col("b.num") * col("a.den") === col("a.num") * col("b.den") &&
              col("b.sid") < col("a.sid"))), "left_semi")
      cand.join(beaten, Seq("event_id", "sid"), "left_anti")
        .select(col("event_id"), col("sid"), col("num"), col("den"))
    }),

    // exact 1-D earth mover's distance between consecutive images' gray
    // histograms — EMD as Σ over gray levels of |CA(k)·NB − CB(k)·NA|
    // over the common denominator NA·NB (mass-normalized, still exact
    // integers), computed SPARSELY: only bins where either histogram
    // changes, each weighted by the run length to the next change
    // point. Two per-pair windows (cumsum + lead), never a dense
    // 256-way explode.
    "q201_emd_hist" -> ((s, _) => {
      val imgs = graft.img.ImageTable.generate(s, 32, 8).toDF()
      val hist = graft.img.ImageOps.grayPixels(s, imgs)
        .withColumn("i", substring(col("image_id"), 5, 9).cast("long"))
        .groupBy(col("i"), col("g").cast("long").as("g"))
        .agg(count(lit(1)).as("cnt"))
      val n = hist.groupBy(col("i")).agg(sum(col("cnt")).as("n"))
      // consecutive pairs (i, i+1): tag each histogram row onto the
      // pair(s) it participates in — side 0 = left image, 1 = right
      val tagged = hist
        .select(col("i"), col("g"), col("cnt"),
          explode(array(lit(0L), lit(1L))).as("side"))
        .withColumn("p", col("i") - col("side"))
        .filter(col("p") >= 0 && col("p") <= 30)
      val withN = tagged
        .join(n.select(col("i"), col("n")), Seq("i"))
      val wcum = Window.partitionBy(col("p"), col("side")).orderBy(col("g"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cums = withN
        .withColumn("cum", sum(col("cnt")).over(wcum))
        .groupBy(col("p"), col("g"))
        .agg(max(when(col("side") === 0, col("cum"))).as("ca_raw"),
          max(when(col("side") === 1, col("cum"))).as("cb_raw"),
          max(when(col("side") === 0, col("n"))).as("na_raw"),
          max(when(col("side") === 1, col("n"))).as("nb_raw"))
      // per pair: forward-fill the cumsums over the merged bin set and
      // close each run at the next change point (256 past the last bin
      // contributes nothing: both cums equal full mass there)
      val wp = Window.partitionBy(col("p")).orderBy(col("g"))
      val wAll = Window.partitionBy(col("p"))
      val filled = cums
        .withColumn("ca", last(col("ca_raw"), ignoreNulls = true)
          .over(wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cb", last(col("cb_raw"), ignoreNulls = true)
          .over(wp.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("na", max(col("na_raw")).over(wAll))
        .withColumn("nb", max(col("nb_raw")).over(wAll))
        .withColumn("glen", coalesce(lead(col("g"), 1).over(wp), lit(256L)) - col("g"))
      filled
        .withColumn("term",
          abs(coalesce(col("ca"), lit(0L)) * col("nb") -
            coalesce(col("cb"), lit(0L)) * col("na")) * col("glen"))
        .groupBy(col("p"))
        .agg(sum(col("term")).as("emd_num"),
          max(col("na") * col("nb")).as("den"))
        .select(col("p").as("pair_i"), col("emd_num"), col("den"))
    }),

    // edit-distance similarity join — all caption pairs within
    // Levenshtein distance ≤ 2 via PassJoin pigeonhole segments
    // (EditJoin.passJoin): candidate generation is an equi-join on
    // (segment, ordinal, length) with CONSTANT per-row probe fan-out,
    // verify is one codegen'd levenshtein per candidate. Planted
    // variants: one substitution (id+100000) and a 2-char truncation
    // (id+200000); the oracle brute-forces the full quadratic
    // levenshtein over the same strings — the quadratic IS the spec
    // the linear-probe plan must match.
    "q202_edit_join" -> ((s, _) => {
      val base = s.range(0, 400).select(col("id"),
        format_string("site %04d sector %03d unit %02d",
          (col("id") * 37) % 9000, (col("id") * 7) % 700, col("id") % 53).as("s"))
      val v1 = base.filter(col("id") % 5 === 0)
        .select((col("id") + 100000L).as("id"),
          concat(expr("substring(s, 1, length(s) - 1)"), lit("x")).as("s"))
      val v2 = base.filter(col("id") % 10 === 0)
        .select((col("id") + 200000L).as("id"),
          expr("substring(s, 1, length(s) - 2)").as("s"))
      graft.dedup.EditJoin.passJoin(base.union(v1).union(v2), "id", "s", 2)
    }),

    // stay-point (dwell) detection — per device, consecutive fixes
    // split into segments wherever the squared step exceeds 25, one
    // window cumsum over the device timeline, then per-segment spans;
    // dwells are segments of ≥ 4 fixes. Positions are block-stationary
    // hash arithmetic (the device parks inside each event_id-500 block
    // with ≤ ±2 jitter, jumps between blocks), so real dwells exist by
    // construction. ONE window exchange on the device key + one
    // aggregation — the trajectory-mining shape at fleet scale.
    "q206_staypoints" -> ((s, dir) => {
      val pts = table(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("ts"),
          ((col("user_id") * 13 + (col("event_id") / 500).cast("long") * 37) % 200
            + col("event_id") % 3).as("x"),
          ((col("user_id") * 29 + (col("event_id") / 500).cast("long") * 53) % 200
            + col("event_id") % 5).as("y"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val dx = col("x") - lag(col("x"), 1).over(w)
      val dy = col("y") - lag(col("y"), 1).over(w)
      val brk = when((dx * dx + dy * dy).isNull || dx * dx + dy * dy > 25, 1L)
        .otherwise(0L)
      pts.withColumn("seg",
          sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("seg"))
        .agg(count(lit(1)).as("n_fixes"),
          min(col("event_id")).as("e_first"), max(col("event_id")).as("e_last"),
          min(col("x")).as("x_min"), min(col("y")).as("y_min"))
        .filter(col("n_fixes") >= 4)
    }),

    // origin→destination flow matrix — per (device, day) trip, origin =
    // zone of the first fix, destination = zone of the last (min_by /
    // max_by on the unique event_id, which is ts-ordered within a
    // device), then one count per (o, d) cell: the OD-matrix rollup a
    // mobility pipeline runs. Two exchanges total: (device, day)
    // first/last, then the zone-pair count.
    "q207_od_matrix" -> ((s, dir) => {
      val zoned = table(s, dir, "events")
        .select(col("user_id"), col("event_id"), to_date(col("ts")).as("day"),
          (((col("user_id") * 7919 + col("event_id") * 31) % 100 / 25).cast("long") * 4
            + ((col("user_id") * 104729 + col("event_id") * 37) % 100 / 25).cast("long"))
            .as("zone"))
      zoned.groupBy(col("user_id"), col("day"))
        .agg(expr("min_by(zone, event_id)").as("o_zone"),
          expr("max_by(zone, event_id)").as("d_zone"))
        .groupBy(col("o_zone"), col("d_zone"))
        .agg(count(lit(1)).as("n_trips"))
    }),

    // Harris corner response — the interest-point detector feeding any
    // image-matching/registration pipeline: Sobel structure tensor over
    // a 3×3 window, k=1/25 kept exact by clearing the denominator
    // (R = 25·det − trace²). Narrow per-image kernel, no shuffle; the
    // oracle replays the two-level convolution over the pixel formula.
    "q203_harris" -> ((s, _) =>
      graft.img.ImageOps.harrisStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // 4-direction Hough line transform — edge pixels (Sobel magnitude
    // ≥ 300) vote in the four exact-integer (θ, ρ) families (vertical /
    // horizontal / both diagonals, cos/sin ∈ {0, ±1}); per direction
    // the winning line by (votes desc, ρ asc). Narrow per-image kernel.
    "q204_hough_lines" -> ((s, _) =>
      graft.img.ImageOps.houghStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // 3×3 median filter (salt-and-pepper denoiser) summary — exact 5th
    // of 9 at every interior pixel; Σ median, changed-pixel count, max
    // deviation per image. Narrow per-image kernel; the oracle ranks
    // the 9-neighborhood per center in SQL and picks rank 5.
    "q205_median_filter" -> ((s, _) =>
      graft.img.ImageOps.medianStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // majority-vote label propagation (community detection, Raghavan
    // 2007) — 3 deterministic synchronous rounds over the planted
    // 5-community graph: dense communities keep their own label across
    // the thin hub bridges (where connected components would merge
    // everything). Two hash exchanges per round, node-sized state,
    // per-round plan truncation.
    "q208_label_prop" -> ((s, _) =>
      graft.graph.LabelProp.propagate(s, s.range(0, 100).toDF("id"),
        communityEdgesDF(s, 100, 20), 3)),

    // closeness centrality sufficient statistics — ONE multi-origin
    // level-synchronous BFS over (origin, node) state rows (never |V|
    // traversals): per node the reached count and hop-distance sum.
    // All-pairs state is O(V²) by definition — the operator is for
    // bounded communities, which is exactly the fixture.
    "q209_closeness" -> ((s, _) =>
      graft.graph.Bfs.allPairsHops(s,
          communityEdgesDF(s, 60, 20)
            .select(col("src").as("rel_a"), col("dst").as("rel_b")))
        .groupBy(col("origin"))
        .agg(count(lit(1)).as("n_reached"), sum(col("hops")).as("dist_sum"))
        .select(col("origin").as("id"), col("n_reached"), col("dist_sum"))),

    // 3×3 binary morphology OPENING/CLOSING residues (one composition
    // level past q155's single erosion/dilation pass) — binarize at
    // gray ≥ 128, erosion/dilation on interior pixels, opening =
    // dilation∘erosion and closing = erosion∘dilation on
    // DOUBLY-interior pixels so no border-extension rule is needed;
    // per image the speckles opening removes and pinholes closing
    // fills. Narrow per-image kernel.
    "q210_open_close" -> ((s, _) =>
      graft.img.ImageOps.morphStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // gradient non-maximum suppression (Canny's edge-thinning stage) —
    // all-integer: Sobel L1 magnitude, ≥ 300 edge bar, direction
    // quantized by exact 2|gy|-vs-|gx| comparisons, survive iff
    // mag ≥ prev AND mag > next along the gradient (a run of equals
    // keeps its last pixel; missing neighbors read −1). Narrow.
    "q211_nms_edges" -> ((s, _) =>
      graft.img.ImageOps.nmsStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // minimum vertical seam (Avidan & Shamir 2007) — the content-aware
    // retargeting DP over Sobel L1 energy on the interior grid; per
    // image the cheapest seam's cost and bottom-row x (smallest on
    // ties). Narrow per-image kernel; the oracle unrolls the DP as 61
    // chained min-join CTEs (row y from row y−1 — images stop at their
    // own h−2, taller levels simply produce no rows for them).
    "q212_seam_carve" -> ((s, _) =>
      graft.img.ImageOps.seamStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // FAST-9 segment-test corners (Rosten & Drummond 2006) — per image
    // the bright/dark corner counts: 16-pixel radius-3 Bresenham ring,
    // corner iff ≥ 9 CONTIGUOUS circular ring pixels all > c+20 (or
    // all < c−20); all-integer, disjoint classes (9+9 > 16). Narrow
    // per-image kernel; the oracle enumerates the 16 arc starts and
    // min-reduces each 9-pixel window.
    "q215_fast_corners" -> ((s, _) =>
      graft.img.ImageOps.fastStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // minimum-area oriented bounding rectangle per group, EXACT —
    // rotating calipers made relational (Freeman–Shapira 1975: a side
    // of the optimum is collinear with a hull edge, so the min over
    // all extreme-point-pair directions attains it): q107's two-level
    // hull, h²-pair candidate directions, integer projections, and the
    // rational argmin as a decimal(38,0) cross-multiplied anti-join.
    // Everything past the hull is hull-sized; |coord| ≤ 2^14 keeps
    // every product exact in Long
    "q216_oriented_mbr" -> ((s, dir) =>
      graft.geom.Hull.orientedMbr(s,
        table(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") % 4).as("grp"),
            (abs(col("o_orderkey") * 9973 + 12345) % 32769 - 16384).as("x"),
            (abs(col("o_orderkey") * 7919 + 54321) % 32769 - 16384).as("y")))),

    // per-node eccentricity + graph radius/diameter classification —
    // ONE multi-origin level-synchronous BFS (q209's engine), then the
    // max-hop rollup and a broadcast of the single-row global
    // (radius, diameter) to flag center/periphery nodes. 5-community
    // fixture so the hub-chain diameter is non-trivial.
    "q217_eccentricity" -> ((s, _) => {
      val ecc = graft.graph.Bfs.allPairsHops(s,
          communityEdgesDF(s, 80, 16)
            .select(col("src").as("rel_a"), col("dst").as("rel_b")))
        .groupBy(col("origin"))
        .agg(max(col("hops")).as("ecc"), count(lit(1)).as("n_reached"))
      val g = ecc.agg(min(col("ecc")).as("r"), max(col("ecc")).as("d"))
      ecc.crossJoin(broadcast(g))
        .select(col("origin").as("id"), col("ecc"), col("n_reached"),
          (col("ecc") === col("r")).cast("int").as("is_center"),
          (col("ecc") === col("d")).cast("int").as("is_periphery"))
    }),

    // exact bridge detection — every edge tested in ONE batched
    // per-edge-masked BFS (origins retire the round their far endpoint
    // is reached, so cycle edges stop after ~girth rounds); fixture =
    // the cycle-rich community graph plus a planted pendant path whose
    // 3 edges are the provable bridges (with the 3 hub-hub bridges).
    "q224_bridges" -> ((s, _) => {
      val extra = s.range(0, 3)
        .select((col("id") + 1000).as("src"),
          when(col("id") === 0, 0L).otherwise(col("id") + 999).as("dst"))
      graft.graph.Centrality.bridges(s,
        communityEdgesDF(s, 40, 10).unionByName(extra))
    }),

    // articulation (cut) vertices on the q224 fixture — the vertex
    // analogue of bridge detection, run as ONE batched what-if BFS
    // over (removed-vertex, kind, node) composite state (the q180
    // side-tagging pattern): hub chains make 0/1000/1001 cut vertices.
    "q243_articulation" -> ((s, _) => {
      val extra = s.range(0, 3)
        .select((col("id") + 1000).as("src"),
          when(col("id") === 0, 0L).otherwise(col("id") + 999).as("dst"))
      graft.graph.Centrality.articulation(s,
        communityEdgesDF(s, 40, 10).unionByName(extra))
    }),

    // degree assortativity per community, exact Pearson pieces over
    // (deg(src), deg(dst)) across directed intra-community edge
    // instances — hub-star communities read disassortative (num < 0);
    // composes q208's LPA labels like q219.
    "q225_assortativity" -> ((s, _) => {
      val edges = communityEdgesDF(s, 100, 20)
      graft.graph.Centrality.assortativity(s,
        graft.graph.LabelProp.propagate(s, s.range(0, 100).toDF("id"),
          edges, 3),
        edges)
    }),

    // exact template matching — the fixed 4×4 gray template slid over
    // every anchor, integer-SSD argmin with row-major ties: the
    // where-is-the-patch primitive (logo/watermark localization) as a
    // narrow per-image kernel, oracled against the full relational
    // slide in DuckDB.
    "q226_template_match" -> ((s, _) =>
      graft.img.ImageOps.templateStats(s,
        graft.img.ImageTable.generate(s, 200, 8).toDF())),

    // integer autocorrelation pitch detection THROUGH the real FLAC
    // codec — argmax_L Σ s_k·s_{k+L} over L ∈ [220, 320], smallest lag
    // on ties; the clips are closed-form triangle waves, so the oracle
    // recomputes the argmax from the synth arithmetic and any codec
    // bit-slip moves it. Narrow per-clip kernel.
    "q227_pitch" -> ((s, _) =>
      graft.img.Multimodal.pitchFeatures(s,
        graft.img.Multimodal.synthAudioFlac(s, 100), 220, 320)),

    // per-device lag-1 autocorrelation sufficient statistics over the
    // daily event-count series (q213's prep) — exact Pearson pieces
    // (n·Σab − ΣaΣb and the two variance factors) so nothing square-
    // roots; one bounded window lag + one hash aggregation.
    "q220_lag_autocorr" -> ((s, dir) =>
      graft.stats.Series.lagAutocorr(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // exact CUSUM changepoint per device — argmax_k |n·S_k − k·S_n|
    // (the no-division form of the mean-shift statistic), ties to the
    // smallest k; prefix sums via a series-bounded window, argmax via
    // one struct-max aggregation.
    "q221_changepoint" -> ((s, dir) =>
      graft.stats.Series.cusumChangepoint(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // Mann–Whitney rank-sum per device: weekend vs weekday daily
    // counts, midranks kept DOUBLED so ties stay integer-exact; the
    // weekend flag is pure epoch-day arithmetic ((x+4)%7 ∈ {0,6}) so
    // Spark and the oracle share no calendar library.
    "q222_ranksum" -> ((s, dir) =>
      graft.stats.Series.rankSumU(
          dailyCounts(s, dir)
            .select(col("user_id").as("grp"),
              ((col("x") + 4) % 7).isin(0L, 6L).cast("long").as("side"),
              col("y").as("v")))
        .withColumnRenamed("grp", "user_id")),

    // one exact BPE merge step (Sennrich 2016) — the tokenizer-TRAINING
    // primitive: pair counts over the frequency-weighted word
    // vocabulary, argmax merge (lexicographic ties), GREEDY left-to-
    // right application (run parity handles left==right overlaps), and
    // the post-merge recount that pins the application byte-for-byte.
    // Everything past the word-frequency agg is vocabulary-sized.
    "q238_bpe_step" -> ((s, dir) =>
      graft.text.TextOps.bpeStep(s, table(s, dir, "documents"))),

    // Burrows–Wheeler fingerprint of each document head (48 chars +
    // sentinel) with the primary index — the exact compression-
    // structure fingerprint (TextOps.bwt); oracled against the full
    // relational rotation sort.
    "q247_bwt" -> ((s, dir) =>
      graft.text.TextOps.bwt(s, table(s, dir, "documents"))),

    // BWT → move-to-front → run-length tallies: the bzip2-shaped exact
    // compressibility score per document (zeros fraction and run count
    // of the MTF code stream) — the repetition/quality signal as pure
    // integers (TextOps.mtfRle).
    "q248_mtf_rle" -> ((s, dir) =>
      graft.text.TextOps.mtfRle(s, table(s, dir, "documents"))),

    // Good-Turing frequency-of-frequencies — the LM-smoothing front
    // end: N_f = how many word types occur exactly f times, plus the
    // adjusted-count rational r* = (f+1)·N_{f+1}/N_f as its integer
    // pair (gt_num, n_types). One vocabulary aggregation + one window
    // over the DISTINCT-frequency table (value-domain-sized — the q98
    // class); the unseen-mass estimate N_1/N falls straight out.
    "q274_count_of_counts" -> ((s, dir) => {
      val freqs = table(s, dir, "documents")
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 1)
        .groupBy(col("w")).agg(count(lit(1)).as("f"))
      val nf = freqs.groupBy(col("f")).agg(count(lit(1)).as("n_types"))
      val wv = Window.orderBy(col("f"))
      nf.withColumn("next_f", lead(col("f"), 1).over(wv))
        .withColumn("next_n", lead(col("n_types"), 1).over(wv))
        .select(col("f"), col("n_types"),
          when(col("next_f") === col("f") + 1, col("next_n"))
            .otherwise(0L).as("n_next"),
          (when(col("next_f") === col("f") + 1, col("next_n"))
            .otherwise(0L) * (col("f") + 1)).as("gt_num"))
    }),

    // data-quality constraint report (the Deequ/Great-Expectations
    // shape): completeness, uniqueness, domain, and range checks over
    // the events table computed in ONE aggregation pass and unpivoted
    // to (check, col, value) rows via stack — the audit a pipeline
    // gates ingestion on. Ratios carried as ×10000 integer parts.
    "q270_dq_report" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      ev.agg(
          count(lit(1)).as("n"),
          sum(col("event_type").isNull.cast("long")).as("null_type"),
          sum(col("value").isNull.cast("long")).as("null_value"),
          countDistinct(col("event_type")).as("type_card"),
          (count(lit(1)) - countDistinct(col("event_id"))).as("dup_ids"),
          sum((col("value") < 0).cast("long")).as("neg_values"),
          sum(col("event_type").isin("click", "view", "purchase",
            "signup", "error").cast("long")).as("in_domain"),
          max(round(col("value") * 100, 0).cast("long")).as("max_cents"))
        .selectExpr(
          """stack(8,
            |  'row_count',            'events',     n,
            |  'null_count',           'event_type', null_type,
            |  'null_count',           'value',      null_value,
            |  'distinct_cardinality', 'event_type', type_card,
            |  'uniqueness_violations','event_id',   dup_ids,
            |  'range_violations',     'value',      neg_values,
            |  'domain_pct_x10000',    'event_type', in_domain * 10000 div n,
            |  'max_cents',            'value',      max_cents
            |) AS (check, col, value)""".stripMargin)
    }),

    // RFM segmentation — the classic marketing tercile grid made exact
    // AND scale-shaped: per device recency (days since last event, vs
    // the corpus max day), frequency (event count), monetary (integer
    // cents). Tercile CUTOFFS come from cumulative counts over each
    // axis's DISTINCT-VALUE histogram (the q98 device-domain trick —
    // the window runs over distinct values, never over devices):
    // c1 = smallest v with cum ≥ ⌈n/3⌉, c2 likewise at ⌈2n/3⌉; devices
    // then label by broadcast threshold compare (ties share a tercile
    // by VALUE — deterministic, no id tie-break). Segment =
    // 100·r + 10·f + m, all terciles ascending in the raw value.
    "q265_rfm" -> ((s, dir) => {
      val per = table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(max(datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("1970-01-01")))).cast("long").as("last_day"),
          count(lit(1)).as("freq"),
          sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      val maxDay = per.agg(max(col("last_day")).as("mx"))
      val scored = per.crossJoin(broadcast(maxDay))
        .withColumn("recency", col("mx") - col("last_day"))
        .localCheckpoint(false)
      def cuts(axis: String): DataFrame = {
        val hist = scored.groupBy(col(axis).as("v"))
          .agg(count(lit(1)).as("c"))
        val wv = Window.orderBy(col("v"))
        val wall = Window.partitionBy(lit(1))
        hist.withColumn("cum", sum(col("c")).over(wv))
          .withColumn("n", sum(col("c")).over(wall))
          .agg(
            min(when(lit(3L) * col("cum") >= col("n"), col("v")))
              .as(s"${axis}_c1"),
            min(when(lit(3L) * col("cum") >= lit(2L) * col("n"), col("v")))
              .as(s"${axis}_c2"))
      }
      def terc(axis: String): org.apache.spark.sql.Column =
        when(col(axis) <= col(s"${axis}_c1"), 0L)
          .when(col(axis) <= col(s"${axis}_c2"), 1L).otherwise(2L)
      scored
        .crossJoin(broadcast(cuts("recency")))
        .crossJoin(broadcast(cuts("freq")))
        .crossJoin(broadcast(cuts("cents")))
        .select(col("user_id"), col("recency"), col("freq"), col("cents"),
          (terc("recency") * 100 + terc("freq") * 10 + terc("cents"))
            .as("segment"))
    }),

    // Tukey IQR outlier fences per device over daily counts — exact
    // quartiles (discrete lower-quantile rule) and the doubled-
    // arithmetic 1.5·IQR fences (Series.iqrOutliers); the box-plot
    // outlier screen beside q228's MAD.
    "q268_iqr_outliers" -> ((s, dir) =>
      graft.stats.Series.iqrOutliers(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // burstiness (Fano factor) per device over daily counts — the
    // variance-to-mean ratio as exact integer pieces: fano_num =
    // n·Σy² − (Σy)², fano_den = n·Σy (F = fano_num/fano_den); F ≫ 1 =
    // bursty, ≈ 1 = Poisson-like. One hash aggregation.
    "q266_fano" -> ((s, dir) =>
      dailyCounts(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"), sum(col("y")).as("total"),
          sum(col("y") * col("y")).as("sum_sq"))
        .select(col("user_id"), col("n_days"), col("total"),
          (col("n_days") * col("sum_sq") - col("total") * col("total"))
            .as("fano_num"),
          (col("n_days") * col("total")).as("fano_den"))),

    // Heaps-law vocabulary growth curve — cumulative distinct types vs
    // cumulative tokens over the corpus in doc-id order, bucketed by
    // 50 docs: the distributed-exact cumulative distinct via FIRST
    // OCCURRENCE (a type counts once, at the bucket of its min doc_id
    // — one hash aggregation keyed by type), then cumsums over the
    // BUCKET table (bucket-domain-sized, never corpus-sized). The
    // dedup-yield planning curve: how fast does new vocabulary dry up?
    "q267_vocab_growth" -> ((s, dir) => {
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(split(lower(col("text")), "\\s+")).as("w"))
        .filter(col("w").rlike("^[a-z]+$"))
      val perBucket = toks
        .groupBy(expr("doc_id div 50").as("bucket"))
        .agg(count(lit(1)).as("tokens"))
      val newTypes = toks.groupBy(col("w"))
        .agg(min(col("doc_id")).as("fd"))
        .groupBy(expr("fd div 50").as("bucket"))
        .agg(count(lit(1)).as("new_types"))
      val wb = Window.orderBy(col("bucket"))
      perBucket.join(newTypes, Seq("bucket"), "left")
        .withColumn("new_types", coalesce(col("new_types"), lit(0L)))
        .withColumn("cum_tokens", sum(col("tokens")).over(wb))
        .withColumn("cum_types", sum(col("new_types")).over(wb))
    }),

    // exact two-sample Kolmogorov–Smirnov statistic per device between
    // its click-value and view-value distributions: D = max_t
    // |F_click(t) − F_view(t)| kept integer as d_num / (n_a·n_b) with
    // d_num = max |cumA·nB − cumB·nA| over the merged value order. The
    // distribution-drift screen that complements q222's rank-sum
    // (location) — KS sees shape. One grp-keyed value aggregation +
    // one series-bounded cumsum window.
    "q251_ks_test" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .filter(col("event_type").isin("click", "view"))
        .select(col("user_id"),
          round(col("value") * 100, 0).cast("long").as("cents"),
          col("event_type"))
      val g = ev.groupBy(col("user_id"), col("cents"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("ac"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("bc"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("cents"))
      val wAll = Window.partitionBy(col("user_id"))
      g.withColumn("cuma", sum(col("ac")).over(w))
        .withColumn("cumb", sum(col("bc")).over(w))
        .withColumn("na", sum(col("ac")).over(wAll))
        .withColumn("nb", sum(col("bc")).over(wAll))
        .groupBy(col("user_id"))
        .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
          max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
            .as("d_num"))
        .filter(col("n_a") > 0 && col("n_b") > 0)
    }),

    // deterministic exhaustive RANSAC-style line detection per zone:
    // over every point PAIR, count the points exactly collinear with
    // the pair's line (integer cross product = 0 — no tolerance, no
    // floats), keep the argmax pair (ties to the lexicographically
    // smallest pair coordinates). The robust-model-fitting primitive
    // with the randomness removed: the planted 25-point line dominates
    // every accidental collinear set. Pair and inlier joins are
    // zone-keyed; the fan-out is zone-bounded (n²·n per zone, the
    // documented cost of exhaustive hypothesis search at fixture
    // scale — the sampled variant at corpus scale draws pairs by
    // splitmix hash, same verify join).
    "q252_ransac_line" -> ((s, _) => {
      val pts = s.range(0, 120).select(
        expr("id div 40").as("zone"), (col("id") % 40).as("i"))
        .select(col("zone"),
          when(col("i") < 25, col("i"))
            .otherwise((col("i") * 37 + col("zone") * 11) % 30).as("px"),
          when(col("i") < 25, (col("zone") + 2) * col("i") + 5)
            .otherwise((col("i") * 53 + col("zone") * 29) % 60).as("py"),
          col("i").as("pid"))
      val a = pts.select(col("zone"), col("px").as("ax"), col("py").as("ay"),
        col("pid").as("aid"))
      val b = pts.select(col("zone"), col("px").as("bx"), col("py").as("by"),
        col("pid").as("bid"))
      val pairs = a.join(b, Seq("zone")).filter(col("aid") < col("bid"))
      val inl = pairs.join(pts, Seq("zone"))
        .filter((col("bx") - col("ax")) * (col("py") - col("ay")) ===
          (col("by") - col("ay")) * (col("px") - col("ax")))
        .groupBy(col("zone"), col("ax"), col("ay"), col("bx"), col("by"))
        .agg(count(lit(1)).as("inliers"))
      val w = Window.partitionBy(col("zone"))
        .orderBy(col("inliers").desc, col("ax"), col("ay"), col("bx"), col("by"))
      inl.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("zone"), col("ax"), col("ay"), col("bx"), col("by"),
          col("inliers"))
    }),

    // local Moran's I (Anselin's LISA, 1995) per CELL of the raster
    // field — the hotspot decomposition of q253's per-polygon
    // statistic at cell grain (q142's LISA runs at POLYGON grain over
    // contiguity; this locates hot cells INSIDE each polygon): with
    // the same n-scaled centering, li_num_i = z_i·Σ_{j∈rook(i)} z_j;
    // positive = the cell sits in a like-valued cluster (hot or
    // cold), negative = a spatial outlier. Emits per cell (relation_id, cx, cy, w_i,
    // li_num) plus the polygon-wide Σz² (li_den, shared by every cell)
    // — I_i = n·li_num/li_den without ever dividing. Same joins as
    // q253; one extra cell-keyed aggregation.
    "q260_local_morans" -> ((s, _) => {
      val cells = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .select(col("relation_id"), col("cx"), col("cy"),
          ((col("cx") + lit(2L) * col("cy")) % 5L).as("v"))
      val stats = cells.groupBy(col("relation_id"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val z = cells.join(stats, Seq("relation_id"))
        .select(col("relation_id"), col("cx"), col("cy"), col("n"),
          (col("n") * col("v") - col("sv")).as("z"))
      val zsum = z.groupBy(col("relation_id"))
        .agg(sum(col("z") * col("z")).as("szz"))
      val nb = z.select(col("relation_id"), col("cx"), col("cy"), col("z"))
      def shifted(dx: Long, dy: Long) = nb.select(col("relation_id"),
        (col("cx") - dx).as("cx"), (col("cy") - dy).as("cy"),
        col("z").as("zj"))
      val pairs = Seq((1L, 0L), (-1L, 0L), (0L, 1L), (0L, -1L))
        .map(d => nb.join(shifted(d._1, d._2), Seq("relation_id", "cx", "cy")))
        .reduce(_ unionByName _)
      pairs.groupBy(col("relation_id"), col("cx"), col("cy"))
        .agg(count(lit(1)).as("w_i"), max(col("z")).as("z"),
          sum(col("zj")).as("lag"))
        .join(zsum, Seq("relation_id"))
        .select(col("relation_id"), col("cx"), col("cy"), col("w_i"),
          (col("z") * col("lag")).as("li_num"), col("szz").as("li_den"))
    }),

    // FIELD Geary's C per polygon — q253's local-contrast sibling over
    // the same cell lattice/weights (q143's battery computes the AREAL
    // C across polygons; this is the per-polygon internal-surface
    // form): C = (n−1)·Σw (x_i−x_j)² / (2W·Σ(x_i−x̄)²), exact via the
    // same n-scaled centering ((n·x_i − n·x_j)² = (z_i − z_j)²):
    // c_num = (n−1)·Σ_pairs (z_i−z_j)², c_den = 2·W·Σz². Moran sees
    // global pattern, Geary sees edge contrast.
    "q254_gearys_c" -> ((s, _) => {
      val cells = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .select(col("relation_id"), col("cx"), col("cy"),
          ((col("cx") + lit(2L) * col("cy")) % 5L).as("v"))
      val stats = cells.groupBy(col("relation_id"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val z = cells.join(stats, Seq("relation_id"))
        .select(col("relation_id"), col("cx"), col("cy"), col("n"),
          (col("n") * col("v") - col("sv")).as("z"))
      val zsum = z.groupBy(col("relation_id"))
        .agg(max(col("n")).as("n"), sum(col("z") * col("z")).as("szz"))
      val nb = z.select(col("relation_id"), col("cx"), col("cy"), col("z"))
      def shifted(dx: Long, dy: Long) = nb.select(col("relation_id"),
        (col("cx") - dx).as("cx"), (col("cy") - dy).as("cy"),
        col("z").as("zj"))
      val pairs = Seq((1L, 0L), (-1L, 0L), (0L, 1L), (0L, -1L))
        .map(d => nb.join(shifted(d._1, d._2), Seq("relation_id", "cx", "cy")))
        .reduce(_ unionByName _)
      val wsum = pairs.groupBy(col("relation_id"))
        .agg(count(lit(1)).as("w"),
          sum((col("z") - col("zj")) * (col("z") - col("zj"))).as("sd2"))
      zsum.join(wsum, Seq("relation_id"))
        .select(col("relation_id"), col("n"), col("w"),
          ((col("n") - 1L) * col("sd2")).as("c_num"),
          (lit(2L) * col("w") * col("szz")).as("c_den"))
    }),

    // Simpson diversity per device over its event-type mix, exact:
    // D = 1 − Σn_i(n_i−1)/(N(N−1)) emitted as the rational pieces
    // (conc_num = Σn_i(n_i−1), den = N(N−1)) — the behavioral-
    // concentration screen (one-note device vs varied). Two hash
    // aggregations, label-space bounded.
    "q255_simpson" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("user_id"))
        .agg(sum(col("c")).as("n_events"),
          count(lit(1)).as("n_types"),
          sum(col("c") * (col("c") - 1L)).as("conc_num"))
        .withColumn("den", col("n_events") * (col("n_events") - 1L))),

    // 10%-trimmed aggregate per device — the robust mean's exact
    // sufficient statistics: drop the k = n div 10 lowest and highest
    // integer-cent values (rank ties broken by event_id for
    // determinism) and emit the surviving sum/count. One grp-keyed
    // rank window + one hash aggregation.
    "q250_trimmed_mean" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("cents"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .withColumn("rk", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("user_id"))))
        .withColumn("k", expr("n div 10"))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("n"), max(col("k")).as("k"),
          sum(when(col("rk") > col("k") && col("rk") <= col("n") - col("k"),
            col("cents")).otherwise(0L)).as("trimmed_cents"),
          sum(when(col("rk") > col("k") && col("rk") <= col("n") - col("k"),
            1L).otherwise(0L)).as("trimmed_n"))
    }),

    // exact union-of-rectangles area per zone (strip decomposition +
    // per-strip interval union, RectUnion.areaByZone) — the coverage
    // accounting that Σ w·h double-counts; integer throughout.
    "q249_rect_union" -> ((s, _) => {
      val rects = s.range(0, 60).select(
        (col("id") % 4).as("zone"),
        ((col("id") * 37) % 200).as("x0"),
        ((col("id") * 37) % 200 + 20 + (col("id") * 7) % 40).as("x1"),
        ((col("id") * 53) % 200).as("y0"),
        ((col("id") * 53) % 200 + 15 + (col("id") * 11) % 35).as("y1"))
      graft.geom.RectUnion.areaByZone(s, rects)
    }),

    // relational PIVOT (long→wide reshaping) — per device, event
    // counts and summed integer-cent value per event type as COLUMNS,
    // through Spark's native pivot with an explicit value list (the
    // form that avoids the distinct-scan planning pass and keeps the
    // output schema static — the 100 TB rule: never let the data
    // define the schema). One hash aggregation; map-side partial
    // aggregation applies as usual.
    "q246_pivot" -> ((s, dir) => {
      val w = table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          round(col("value") * 100, 0).cast("long").as("cents"))
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      // pivot emits NULL for absent (device, type) cells; a count
      // should read 0 (the SQL replay's CASE-sum does)
      w.select(col("user_id") +:
        Seq("click", "error", "purchase", "signup", "view").flatMap(t => Seq(
          coalesce(col(s"${t}_n"), lit(0L)).as(s"${t}_n"),
          coalesce(col(s"${t}_cents"), lit(0L)).as(s"${t}_cents"))): _*)
    }),

    // integer-quantized linear-classifier INFERENCE over embeddings —
    // the model-serving shape as a pure Spark pipeline: the weight
    // matrix (5 classes × 64 dims, deterministic integer literals)
    // broadcasts, each embedding quantizes to round(e·1000) once, and
    // score(c) = Σ_k qe_k·w_ck resolves by argmax (ties to the
    // smallest class). Exact integers end to end; posexplode + one
    // broadcast join + class-keyed aggregation — narrow per vector at
    // any corpus size.
    "q262_linear_infer" -> ((s, dir) => {
      import s.implicits._
      val weights = s.createDataset(for (c <- 0L until 5L; k <- 0L until 64L)
          yield (c, k, (c * 73 + k * 37) % 21 - 10)).toDF("cls", "k", "wt")
      val qe = table(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("k", "e")))
        .select(col("vec_id"), col("k").cast("long").as("k"),
          round(col("e") * 1000, 0).cast("long").as("qe"))
      val scores = qe.join(broadcast(weights), Seq("k"))
        .groupBy(col("vec_id"), col("cls"))
        .agg(sum(col("qe") * col("wt")).as("score"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("score").desc, col("cls"))
      scores.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .select(col("vec_id"), col("cls").as("predicted"), col("score"))
    }),

    // k-NN classification of embeddings: queries (vec_id < 50) vote
    // their label from the cosine top-5 among the labeled corpus
    // (vec_id ≥ 50), majority with ties to the smallest label — the
    // eval-probe primitive (is the embedding space label-coherent?).
    // Exact ranks are the q27 bounded form; corpus scale swaps in IVF
    // candidates before the SAME vote.
    "q258_knn_classify" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val knn = graft.sim.Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 50), e.filter(col("vec_id") >= 50), k = 5)
      val votes = knn
        .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
          Seq("neighbor_id"))
        .groupBy(col("query_id"), col("nl")).agg(count(lit(1)).as("v"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("v").desc, col("nl"))
      votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .join(e.select(col("vec_id").as("query_id"), col("label").as("actual")),
          Seq("query_id"))
        .select(col("query_id"), col("nl").cast("long").as("predicted"),
          col("actual").cast("long").as("actual"),
          (col("nl") === col("actual")).cast("long").as("correct"))
    }),

    // spatial coverage-gap audit — per polygon, how much of its cell
    // cover actually holds imagery: the polygon dimension's cell cover
    // (CellIndex.cover at res 8 — metadata-sized, built once)
    // left-joins the image-per-cell rollup; gaps = covered cells with
    // zero images. The acquisition-planning query (where do we lack
    // data?) on the flagship's own cell index.
    "q275_coverage_gaps" -> ((s, _) => {
      import s.implicits._
      val cover = s.createDataset(rectPolys.flatMap(p =>
          graft.cell.CellIndex.cover(p.rings, 8).map(c => (p.relation_id, c))))
        .toDF("relation_id", "cell")
      val imgCells = graft.img.ImageTable.generate(s, 400, 16).toDF()
        .withColumn("idx", substring(col("image_id"), 5, 9).cast("long"))
        .withColumn("lat", GraftFunctions.latOfKey(col("idx")))
        .withColumn("lon", GraftFunctions.lonOfKey(col("idx")))
        .withColumn("cell", GraftFunctions.cellOfCol(col("lat"), col("lon"), 8))
        .groupBy(col("cell")).agg(count(lit(1)).as("n_img"))
      cover.join(imgCells, Seq("cell"), "left")
        .groupBy(col("relation_id"))
        .agg(count(lit(1)).as("n_cells"),
          sum((col("n_img").isNotNull).cast("long")).as("n_with_images"),
          sum(col("n_img").isNull.cast("long")).as("n_gaps"),
          coalesce(sum(col("n_img")), lit(0L)).as("n_images"))
    }),

    // hard-negative mining for contrastive training — for each query
    // embedding, the top-3 most-cosine-similar corpus items whose
    // LABEL DIFFERS (the negatives that actually teach a metric
    // model); deterministic (rank ties to the smaller id). Same
    // bounded exact-rank form as q27; IVF candidates slot in at
    // corpus scale.
    "q273_hard_negatives" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val labeled = e.select(col("vec_id"), col("label"))
      graft.sim.Similarity.bruteForceTopK(
          e.filter(col("vec_id") < 50), e.filter(col("vec_id") >= 50),
          k = 500)
        .join(labeled.select(col("vec_id").as("query_id"),
          col("label").as("ql")), Seq("query_id"))
        .join(labeled.select(col("vec_id").as("neighbor_id"),
          col("label").as("nl")), Seq("neighbor_id"))
        .filter(col("nl") =!= col("ql"))
        .withColumn("neg_rank", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("rank"))))
        .filter(col("neg_rank") <= 3)
        .select(col("query_id"), col("neighbor_id"),
          col("neg_rank").cast("long").as("neg_rank"),
          col("nl").cast("long").as("neg_label"))
    }),

    // reliability diagram of the q258 classifier, exact: confidence =
    // the winning vote count v ∈ {1..5} (v/5 is the classic kNN
    // confidence), per bucket the query count and how many were
    // actually right — the calibration curve's integer sufficient
    // statistics (is 5/5 confidence actually more accurate than
    // 3/5?). Label-space-bounded output.
    "q263_reliability" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
      val knn = graft.sim.Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 50), e.filter(col("vec_id") >= 50), k = 5)
      val votes = knn
        .join(e.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
          Seq("neighbor_id"))
        .groupBy(col("query_id"), col("nl")).agg(count(lit(1)).as("v"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("v").desc, col("nl"))
      votes.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
        .join(e.select(col("vec_id").as("query_id"), col("label").as("actual")),
          Seq("query_id"))
        .groupBy(col("v").as("confidence"))
        .agg(count(lit(1)).as("n"),
          sum((col("nl") === col("actual")).cast("long")).as("n_correct"))
    }),

    // mutual-kNN clustering over embeddings — the semantic-curation
    // grouping: an edge exists iff BOTH endpoints rank each other in
    // their cosine top-5 (mutual-kNN is the standard density-robust
    // sparsifier), clusters = connected components, singletons kept.
    // Exact top-k here is the q27 bounded-fixture form; at corpus
    // scale the candidate generation is the IVF path (q52) feeding the
    // SAME mutual filter + CC. One semi-join for mutuality; CC via
    // Dedup.connectedComponents.
    "q244_mutual_knn" -> ((s, dir) => {
      val lab = mutualKnnClusters(s, dir)
      lab.join(lab.groupBy(col("cluster"))
          .agg(count(lit(1)).as("cluster_size")), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("cluster_size"))
    }),

    // adjusted Rand index between the q244 mutual-kNN clustering and
    // the gold label column — the chance-corrected cluster-vs-truth
    // agreement as EXACT integers (the κ of clusterings). All pair
    // counts kept DOUBLED (m(m−1), never halved — no integer division
    // anywhere): with A2 = Σn_ij(n_ij−1), B2 = Σa_i(a_i−1),
    // C2 = Σb_j(b_j−1), T2 = n(n−1): ari_num = 2(T2·A2 − B2·C2),
    // ari_den = T2·(B2+C2) − 2·B2·C2 — the same ratio as the classic
    // form. Contingency is cluster×label sized; downstream is scalar.
    "q259_rand_index" -> ((s, dir) => {
      val e = table(s, dir, "embeddings").filter(col("vec_id") < 150)
        .select(col("vec_id"), col("label").cast("long").as("label"))
      val cont = mutualKnnClusters(s, dir).join(e, Seq("vec_id"))
        .groupBy(col("cluster"), col("label")).agg(count(lit(1)).as("m"))
        .localCheckpoint(false)
      def pairs2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        sum(c * (c - 1L)).cast("long")
      val a = cont.agg(pairs2(col("m")).as("a2"),
        sum(col("m")).cast("long").as("n"))
      val b = cont.groupBy(col("cluster")).agg(sum(col("m")).as("ai"))
        .agg(pairs2(col("ai")).as("b2"))
      val c = cont.groupBy(col("label")).agg(sum(col("m")).as("bj"))
        .agg(pairs2(col("bj")).as("c2"))
      a.crossJoin(broadcast(b)).crossJoin(broadcast(c))
        .withColumn("t2", col("n") * (col("n") - 1L))
        .select(col("n"), col("a2"), col("b2"), col("c2"),
          (lit(2L) * (col("t2") * col("a2") - col("b2") * col("c2")))
            .as("ari_num"),
          (col("t2") * (col("b2") + col("c2")) -
            lit(2L) * col("b2") * col("c2")).as("ari_den"))
    }),

    // Cohen's kappa between the engine's n-gram language-ID (q26's
    // predictor) and the gold `lang` column — the inter-rater
    // chance-corrected agreement, kept EXACT as the integer pair
    // κ = kappa_num/kappa_den with kappa_num = N·O − Σ_k r_k·c_k and
    // kappa_den = N² − Σ_k r_k·c_k (O = observed agreement count,
    // r/c the gold/predicted marginals). Everything past the per-doc
    // prediction is label-space-sized.
    // exact isotonic regression per device over its daily-count series
    // (PAVA via the minimax identity, lcm-scaled integer averages —
    // Series.isotonic). The calibration primitive: the best monotone
    // non-decreasing fit of activity over days, exact as
    // iso_num/iso_den, constant on pooled blocks.
    "q241_isotonic" -> ((s, dir) =>
      graft.stats.Series.isotonic(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // marching-squares contour cases per image over the image's OWN
    // Otsu threshold (the q150 ImageOps.otsu kernel composed with the
    // 2×2 stencil) — the exact IMAGE-side raster→vector step (q87 is
    // the polygon-lattice form): per (image, case) cell counts and
    // the contour-segment tally.
    "q242_marching_squares" -> ((s, _) =>
      graft.img.ImageOps.marchingSquares(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    "q240_kappa" -> ((s, dir) => {
      val conf = graft.text.TextOps.withLang(s, table(s, dir, "documents"))
        .groupBy(col("lang"), col("predicted_lang"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint(false)
      val tot = conf.agg(sum(col("n")).as("nn"),
        sum(when(col("lang") === col("predicted_lang"), col("n"))
          .otherwise(0L)).as("o"))
      val marg = conf.groupBy(col("lang")).agg(sum(col("n")).as("rn"))
        .join(conf.groupBy(col("predicted_lang")).agg(sum(col("n")).as("cn")),
          col("lang") === col("predicted_lang"))
        .agg(coalesce(sum(col("rn") * col("cn")), lit(0L)).as("p"))
      tot.crossJoin(broadcast(marg))
        .select(col("nn").as("n_items"), col("o").as("observed"),
          (col("nn") * col("o") - col("p")).as("kappa_num"),
          (col("nn") * col("nn") - col("p")).as("kappa_den"))
    }),

    // weighted median along the day axis — per device the first day by
    // which HALF its total event mass has landed (doubled comparison,
    // no halving); the mid-activity point that q47's unweighted
    // percentiles can't express.
    "q236_weighted_median" -> ((s, dir) =>
      graft.stats.Series.weightedMedian(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // merged-interval union per device: each event opens a 5-minute
    // half-open interval (unix millis); islands break where an interval
    // starts past the running max end, covered time = Σ island spans.
    // Overlap semantics — DISTINCT from q41's gap sessionization.
    "q237_interval_union" -> ((s, dir) =>
      graft.stats.Series.intervalUnion(
          table(s, dir, "events")
            .select(col("user_id").as("grp"),
              // ts is TIMESTAMP_NTZ; the session runs UTC, so the cast
              // is the identity embedding DuckDB's epoch_ms(ntz) uses
              unix_millis(col("ts").cast("timestamp")).as("s"),
              (unix_millis(col("ts").cast("timestamp")) + 300000L).as("e")))
        .withColumnRenamed("grp", "user_id")),

    // exact Gini concentration per device over daily event counts —
    // the sorted-form identity keeps G = gini_num/gini_den fully
    // integer; one series-bounded rank window + one hash aggregation.
    // The traffic-concentration screen (is a device's activity spread
    // or spiked?) that pairs with q228's MAD.
    "q234_gini" -> ((s, dir) =>
      graft.stats.Series.gini(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // exact sliding-window distinct count: per device and ACTIVE day,
    // the distinct event types seen in the trailing 7 days — each
    // event-day row explodes to its ≤7 covering windows (explode
    // factor = window length, the documented scale trade), then one
    // distinct aggregation; windows anchored only on active days.
    "q235_sliding_distinct" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("day"),
          col("event_type"))
        .distinct()
      val active = e.select(col("user_id").as("a_user"), col("day").as("a_day"))
        .distinct()
      val contrib = e
        .withColumn("off", explode(sequence(lit(0L), lit(6L))))
        .select(col("user_id"), (col("day") + col("off")).as("wday"),
          col("event_type"))
      contrib.join(active,
          col("user_id") === col("a_user") && col("wday") === col("a_day"))
        .groupBy(col("user_id"), col("wday"))
        .agg(countDistinct(col("event_type")).as("n_types"))
    }),

    // exact χ² contingency pieces: event type × weekend flag over the
    // raw event stream — per observed cell the integer deviation
    // numerator n·N − r·c and denominator N·r·c (χ² = Σ num²/den);
    // three hash aggregations + one broadcast total, no division.
    "q232_chisq" -> ((s, dir) =>
      graft.stats.Contingency.chiSqPieces(
          table(s, dir, "events").select(col("event_type").as("a"),
            (((datediff(to_date(col("ts")),
              lit(java.sql.Date.valueOf("1970-01-01"))).cast("long") + 4) % 7)
              .isin(0L, 6L)).cast("long").as("b")))
        .select(col("a").as("event_type"), col("b").as("is_weekend"),
          col("n"), col("r"), col("c"), col("total"),
          col("dev_num"), col("dev_den"))),

    // per-ring convexity audit — winding from the signed doubled area,
    // reflex/collinear turn counts from the vertex cross products
    // classified against the orientation; fixture plants a dent
    // (reflex), a collinear vertex, and odd-ring reflections so both
    // windings and all three verdicts appear. Complements q120's
    // simplicity audit on the ring QA side of the boundary pipeline.
    "q233_convexity" -> ((s, _) => {
      val oxA = array(Seq(2L, 4L, 6L, 6L, 4L, 2L, 0L, 0L).map(lit): _*)
      val oyA = array(Seq(0L, 0L, 2L, 4L, 6L, 6L, 4L, 2L).map(lit): _*)
      val zl = mixCol(s, col("ring_id")).bitwiseAND(lit((1L << 62) - 1))
      val verts = s.range(0, 300).select(col("id").as("ring_id"))
        .withColumn("c", col("ring_id") % 3)
        .withColumn("cx", pmod(zl.bitwiseAND(lit(0xFFFFL)), lit(50000L)))
        .withColumn("cy", pmod(shiftright(zl, 16).bitwiseAND(lit(0xFFFFL)), lit(50000L)))
        .withColumn("idx", explode(sequence(lit(0L), lit(7L))))
        .withColumn("ox", when(col("c") === 1 && col("idx") === 3, 3L)
          .when(col("c") === 2 && col("idx") === 4, 6L)
          .otherwise(element_at(oxA, (col("idx") + 1).cast("int"))))
        .withColumn("oy0", when(col("c") === 1 && col("idx") === 3, 3L)
          .when(col("c") === 2 && col("idx") === 4, 6L)
          .otherwise(element_at(oyA, (col("idx") + 1).cast("int"))))
        .withColumn("oy",
          when(col("ring_id") % 2 === 1, -col("oy0")).otherwise(col("oy0")))
        .select(col("ring_id"), col("idx"), lit(8L).as("n"),
          (col("cx") + col("ox") * 8).as("x"),
          (col("cy") + col("oy") * 8).as("y"))
      graft.geom.Geom.ringConvexity(verts)
    }),

    // Iceberg-style named refs: tag a version, keep reading it by name
    // while the table advances (append, then a COW merge), retarget the
    // moving tag — the release/nightly pattern. The emitted counts and
    // idx-sums come from ACTUAL reads through each ref, so a pointer
    // slip (stale CURRENT, wrong manifest, ref caught by rollback)
    // turns the row red.
    "q231_snapshot_refs" -> ((s, _) => {
      import s.implicits._
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q231")
      def baseRows(lo: Long, hi: Long): DataFrame = s.range(lo, hi).select(
        col("id").as("idx"),
        concat(lit("caption_"), col("id")).as("caption"))
      val bucketOf = pmod(mixCol(s, col("idx")), lit(64L))
      SnapshotTable.create(s, baseRows(0, 400), out.getPath, 64, bucketOf)
      SnapshotTable.setRef(out.getPath, "release", 1L)
      SnapshotTable.setRef(out.getPath, "nightly", 1L)
      SnapshotTable.append(s, baseRows(400, 500), out.getPath, bucketOf)
      val updates = s.range(0, 500).filter(col("id") % 89 === 0).select(
          col("id").as("idx"), concat(lit("updated_"), col("id")).as("caption"))
        .unionByName(baseRows(500, 510))
      SnapshotTable.merge(s, updates, out.getPath, "idx", bucketOf)
      SnapshotTable.setRef(out.getPath, "nightly", 3L) // retarget
      def probe(label: String, df: DataFrame, v: Long): (String, Long, Long, Long) = {
        val r = df.agg(count(lit(1)), sum(col("idx"))).collect().head
        (label, v, r.getLong(0), r.getLong(1))
      }
      Seq(
        probe("release", SnapshotTable.readRef(s, out.getPath, "release"),
          SnapshotTable.refVersion(out.getPath, "release")),
        probe("nightly", SnapshotTable.readRef(s, out.getPath, "nightly"),
          SnapshotTable.refVersion(out.getPath, "nightly")),
        probe("current", SnapshotTable.read(s, out.getPath),
          SnapshotTable.currentVersion(out.getPath))
      ).toDF("label", "version", "n_rows", "sum_idx")
    }),

    // exact median absolute deviation per device — both medians are
    // rank-⌈n/2⌉ (lower-median) selections so everything stays
    // integer; the robust-dispersion partner of q47's percentiles.
    "q228_mad" -> ((s, dir) =>
      graft.stats.Series.mad(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // Wald–Wolfowitz runs test counts per device — sign against the
    // lower median (zeros dropped), maximal same-sign runs over the
    // day order; the randomness screen for telemetry streams.
    "q229_runs_test" -> ((s, dir) =>
      graft.stats.Series.runsTest(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // Spearman rank correlation pieces per device — doubled midranks
    // on both variables (x unique at daily grain, y midranked under
    // ties), then the integer Pearson pieces over the rank pairs; the
    // non-parametric sibling of q213's OLS and q223's Kendall.
    "q230_spearman" -> ((s, dir) =>
      graft.stats.Series.spearman(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // Kendall concordance counts per device between day and daily
    // count — the τ_b pieces (nc, nd, y-ties) as exact integers over
    // the bounded per-series pair join; the monotone-trend test that
    // complements q213's parametric OLS.
    "q223_kendall" -> ((s, dir) =>
      graft.stats.Series.kendallTau(
          dailyCounts(s, dir).withColumnRenamed("user_id", "grp"))
        .withColumnRenamed("grp", "user_id")),

    // stress centrality (Shimbel 1953) — number of shortest paths
    // THROUGH each node, integer-exact: one batched Brandes forward
    // pass carrying σ path counts (Bfs.allPairsSigma), then a
    // three-way equi-self-join where legs (s→v), (v→t) meet on v and
    // the (s→t) row supplies the d(s,v)+d(v,t)=d(s,t) test. Bounded-
    // community operator by contract (all-pairs state is O(V²)).
    "q218_stress" -> ((s, _) =>
      graft.graph.Centrality.stress(s,
        communityEdgesDF(s, 60, 20)
          .select(col("src").as("rel_a"), col("dst").as("rel_b")))),

    // Newman–Girvan modularity of the LPA assignment, EXACT — per
    // community (intra edges, degree mass) and its contribution to Q
    // as the integer 4·m·L_c − D_c² over the shared denominator 4m²;
    // two label-keyed hash aggregations + one broadcast single-row m.
    // Composes q208's deterministic majority-vote labels with the
    // quality score that validates them.
    "q219_modularity" -> ((s, _) => {
      val edges = communityEdgesDF(s, 100, 20)
      graft.graph.Centrality.modularity(s,
        graft.graph.LabelProp.propagate(s, s.range(0, 100).toDF("id"),
          edges, 3),
        edges)
    }),

    // grouped ordinary least squares — per device the exact
    // closed-form regression of daily event count on the epoch day:
    // slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), intercept =
    // (Σy·Σx² − Σx·Σxy) / same-denominator; emitted as the integer
    // (num, den) pair so nothing rounds. Two hash aggregations
    // (day rollup, then per-device sufficient statistics) — the
    // million-device trend-fit shape with zero windows.
    "q213_group_ols" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("1970-01-01"))).cast("long").as("x"))
        .groupBy(col("user_id"), col("x")).agg(count(lit(1)).as("y"))
      daily.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .filter(col("n_days") >= 2)
        .select(col("user_id"), col("n_days"),
          (col("n_days") * col("sxy") - col("sx") * col("sy")).as("slope_num"),
          (col("n_days") * col("sxx") - col("sx") * col("sx")).as("slope_den"),
          (col("sy") * col("sxx") - col("sx") * col("sxy")).as("icept_num"))
    }),

    // decision stump by the histogram method (the LightGBM binning
    // strategy, made EXACT): feature n_chars bins to ≤ 256 fixed-width
    // buckets in ONE hash aggregation, label = (lang = 'en'); the best
    // split threshold maximizes Σ_side (p² + q²)/n — equivalently
    // minimizes weighted Gini — compared as cross-multiplied
    // DECIMAL(38,0) rationals over the ≤ 256-candidate set (the only
    // window and the dominance anti-join both run on the metadata-
    // sized histogram, never the corpus). Smallest threshold on ties.
    "q214_stump" -> ((s, dir) => {
      val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val hist = table(s, dir, "documents")
        .select(least(expr("n_chars div 2"), lit(255L)).as("bin"),
          when(col("lang") === "en", 1L).otherwise(0L).as("pos"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("c"), sum(col("pos")).as("p"))
      val tot = hist.agg(sum(col("c")).as("n"), sum(col("p")).as("pp"))
      val wspec = Window.orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cand = hist
        .select(col("bin"), sum(col("c")).over(wspec).as("nl"),
          sum(col("p")).over(wspec).as("pl"))
        .crossJoin(broadcast(tot))
        .filter(col("nl") < col("n"))
        .select(col("bin").as("t"), col("nl"), col("pl"),
          (col("n") - col("nl")).as("nr"), (col("pp") - col("pl")).as("pr"))
      def dec(c: org.apache.spark.sql.Column) = c.cast(d38)
      def scored(df: DataFrame, suffix: String): DataFrame = {
        val a = dec(col("pl")) * dec(col("pl")) +
          dec(col("nl") - col("pl")) * dec(col("nl") - col("pl"))
        val b = dec(col("pr")) * dec(col("pr")) +
          dec(col("nr") - col("pr")) * dec(col("nr") - col("pr"))
        df.select(col("t").as(s"t$suffix"),
          (a * dec(col("nr")) + b * dec(col("nl"))).as(s"snum$suffix"),
          (dec(col("nl")) * dec(col("nr"))).as(s"sden$suffix"),
          col("nl").as(s"nl$suffix"), col("pl").as(s"pl$suffix"),
          col("nr").as(s"nr$suffix"), col("pr").as(s"pr$suffix"))
      }
      val sa = scored(cand, "")
      val sb = scored(cand, "2")
      sa.join(broadcast(sb),
          col("snum2") * col("sden") > col("snum") * col("sden2") ||
            (col("snum2") * col("sden") === col("snum") * col("sden2") &&
              col("t2") < col("t")),
          "left_anti")
        .select(col("t"), col("nl"), col("pl"), col("nr"), col("pr"))
    }),

    // binomial half-res pyramid level — 3×3 [1,2,1]² /16 smoothing
    // (floor, clamped borders) sampled at even (x,y): the anti-aliased
    // 2× downsample; exact integer sum + position checksum per image.
    // The oracle replays the clamped convolution over the pixel chain.
    "q184_binomial_pyramid" -> ((s, _) =>
      graft.img.ImageOps.binomialDown2(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // raster change detection — the q86 fixtures as epoch t0 and their
    // (+1,+1)-translated q149 siblings as epoch t1 (ids paired by the
    // +1000 offset): per polygon the exact gain/loss/stable cell
    // counts of the two burns — the temporal-raster diff (NDVI-change
    // / land-cover-transition shape). One full outer join on the cell
    // key, one aggregation; both burns broadcastable at this zoning
    // size, shuffle-keyed on (polygon, cell) at planet scale.
    "q183_change_detect" -> ((s, _) => {
      val t0 = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .select(col("relation_id"), col("cx"), col("cy"), lit(1).as("a"))
      val t1 = graft.geom.Raster.rasterize(arealDstPolyDF(s), 1.0)
        .select((col("relation_id") - 1000L).as("relation_id"),
          col("cx"), col("cy"), lit(1).as("b"))
      t0.join(t1, Seq("relation_id", "cx", "cy"), "full_outer")
        .groupBy(col("relation_id"))
        .agg(
          sum(when(col("a").isNotNull && col("b").isNull, 1L).otherwise(0L)).as("n_loss"),
          sum(when(col("a").isNull && col("b").isNotNull, 1L).otherwise(0L)).as("n_gain"),
          sum(when(col("a").isNotNull && col("b").isNotNull, 1L).otherwise(0L)).as("n_stable"))
    }),

    // exact per-image gray quantiles — discrete lower-quantile rule
    // p_q = min gray with cum ≥ ⌈q·n⌉ from the in-task 256-bin
    // histogram (the exact counterpart to q47's sketch percentiles);
    // narrow decode, one row per image. The oracle replays histogram +
    // running sum + the same ceil thresholds.
    "q182_gray_quantiles" -> ((s, _) =>
      graft.img.ImageOps.grayQuantiles(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // least-cost corridor over the q86 cost surface — the set of cells
    // on ANY optimal seed→target path, well-defined without path
    // tie-breaks: with f = cost-distance from the seed and b =
    // cost-distance from the target, path reversal gives
    // min-forward(u→target) = b(u) − v(u) + v(target), so u is on an
    // optimal path iff f(u) + b(u) − v(u) = f(target) − v(target).
    // Pure composition of two q168 fields + joins; GIS "corridor
    // analysis". Seed = lexicographic-min (cy,cx) cell, target = max.
    "q180_cost_corridor" -> ((s, _) => {
      val key = Seq("relation_id", "cx", "cy")
      val cells = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .withColumn("v", lit(1L) + (col("cx") + lit(2L) * col("cy")) % 5L)
      val seeds = cells.groupBy(col("relation_id"))
        .agg(min(struct(col("cy"), col("cx"))).as("m"))
        .select(col("relation_id"), col("m.cx"), col("m.cy"))
      val targets = cells.groupBy(col("relation_id"))
        .agg(max(struct(col("cy"), col("cx"))).as("m"))
        .select(col("relation_id"), col("m.cx"), col("m.cy"))
      // BOTH fields ride ONE batched relaxation: a side-tagged composite
      // key (2·id for seed-side, 2·id+1 for target-side) makes the two
      // independent fixpoints share every round's jobs — same rounds,
      // half the wall clock; the accumulated frame is checkpointed, so
      // the two filters below read it without recompute
      def side(df: DataFrame, s: Int) = df.withColumn("relation_id",
        col("relation_id") * 2 + lit(s.toLong))
      val both = graft.geom.Raster.costDistance(
        side(cells, 0).unionByName(side(cells, 1)),
        side(seeds, 0).unionByName(side(targets, 1)))
      val f = both.filter(col("relation_id") % 2 === 0)
        .withColumn("relation_id", (col("relation_id") / 2).cast("long"))
      val b = both.filter(col("relation_id") % 2 === 1)
        .withColumn("relation_id", ((col("relation_id") - 1) / 2).cast("long"))
        .withColumnRenamed("dist", "bdist")
      // per-polygon threshold f(target) − v(target)
      val thr = f.join(targets, key, "left_semi")
        .join(cells, key)
        .select(col("relation_id"), (col("dist") - col("v")).as("thr"))
      f.join(b, key)
        .join(cells.select(col("relation_id"), col("cx"), col("cy"), col("v")), key)
        .join(broadcast(thr), Seq("relation_id"))
        .filter(col("dist") + col("bdist") - col("v") === col("thr"))
        .select(col("relation_id"), col("cx"), col("cy"),
          col("dist"), col("bdist"))
    }),

    // focal majority (mode) filter over the q86 burn classified by
    // class = (cx + 2·cy) mod 5 — categorical raster smoothing: most
    // frequent class in the 3×3 neighborhood incl. self, smallest-
    // class tie-break; scatter ×9 + two hash exchanges, no window.
    "q181_focal_mode" -> ((s, _) =>
      graft.geom.Raster.focalMode(
        graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
          .withColumn("class", (col("cx") + lit(2L) * col("cy")) % 5L))),

    // minimum spanning forest via distributed Borůvka over three
    // disjoint 30-node zone graphs (ring + chords + star each) — the
    // single-linkage backbone; strict (w, a, b) total order makes the
    // forest unique, and the oracle is an INDEPENDENT scalar Kruskal
    // over the same fixture run at oracle-construction time.
    "q256_mst" -> ((s, _) => {
      import s.implicits._
      graft.graph.Mst.boruvka(s,
        s.createDataset(mstFixtureEdges).toDF("src", "dst", "w"))
    }),

    // autocomplete (search-suggest) index build: for every word prefix
    // of length 1..4, the top completion by corpus frequency (ties to
    // the lexicographically-first word) — vocabulary-sized explode
    // (×4), one prefix-keyed rank window; the index a search box
    // serves from.
    "q272_autocomplete" -> ((s, dir) => {
      val words = table(s, dir, "documents")
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"))
        .filter(length(col("w")) >= 2)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      val pre = words
        .select(col("w"), col("freq"), explode(array(lit(1), lit(2),
          lit(3), lit(4))).as("p"))
        .filter(length(col("w")) >= col("p"))
        .select(col("w").substr(lit(1), col("p")).as("prefix"),
          col("w"), col("freq"))
      val rk = Window.partitionBy(col("prefix"))
        .orderBy(col("freq").desc, col("w"))
      pre.withColumn("r", row_number().over(rk)).filter(col("r") === 1)
        .select(col("prefix"), col("w").as("completion"), col("freq"))
    }),

    // admin containment hierarchy — the reference's admin_level made
    // STRUCTURAL: each boundary's immediate parent is the max-level
    // strictly-coarser polygon whose region ray-cast-contains its
    // representative vertex (ties to the smallest id). The polygon set
    // is the dimension side by design → broadcast; the ray cast is the
    // q12 native expression, no UDF. Top-level polygons report no
    // parent (level-0 sentinel).
    "q264_admin_nesting" -> ((s, _) => {
      import s.implicits._
      val polys = s.createDataset(nestedPolys).toDF()
      val child = polys.select(col("relation_id").as("child_id"),
        col("admin_level").as("child_level"),
        col("rings")(0)(0)("lat").as("plat"),
        col("rings")(0)(0)("lon").as("plon"))
      val parent = polys.select(col("relation_id").as("parent_id"),
        col("admin_level").as("parent_level"), col("rings"))
      val cand = child.join(broadcast(parent),
        col("parent_level") < col("child_level") &&
          GraftFunctions.rayCastContains(col("rings"),
            col("plat").cast("double"), col("plon").cast("double")))
      val w = Window.partitionBy(col("child_id"))
        .orderBy(col("parent_level").desc, col("parent_id"))
      val nested = cand.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("child_id"), col("child_level"),
          col("parent_id"), col("parent_level"))
      child.select(col("child_id"), col("child_level"))
        .join(nested, Seq("child_id", "child_level"), "left")
        .select(col("child_id"), col("child_level"),
          coalesce(col("parent_id"), lit(0L)).as("parent_id"),
          coalesce(col("parent_level"), lit(0L)).as("parent_level"))
    }),

    // DAG critical-path layering — longest-path depth per node over a
    // planted forward DAG (edges only i → j, i < j): layer(v) = length
    // of the longest path ENDING at v (the scheduling/stage-planning
    // primitive: layer = earliest wave a task can run in). Computed by
    // MAX-PLUS RELATION DOUBLING instead of one frontier round per
    // depth level: R_k(u,v) holds the longest u→v path length over
    // paths of ≤ 2^k edges, and R_{k+1} = max(R_k, R_k ∘ R_k) — one
    // equi-self-join + one max-combine per doubling, so a depth-D DAG
    // converges in ⌈log₂ D⌉ + 1 rounds (7 here vs the 59 the per-level
    // loop paid; driver round-trips, not data, dominate this query).
    // The closure is pair-sized (≤ reachable pairs — the bounded-DAG
    // contract; at 100 TB you layer a job graph, not the raw web).
    "q271_dag_layers" -> ((s, _) => {
      val edges = s.range(0, 60).select(col("id").as("u"))
        .select(col("u"), explode(array(
          col("u") + 1,
          when(col("u") % 3 === 0, col("u") + 7),
          when(col("u") % 5 === 2, col("u") + 13))).as("v"))
        .filter(col("v").isNotNull && col("v") < 60)
      val r = dagLongestPaths(edges, 9)
      s.range(0, 60).select(col("id"))
        .join(r.groupBy(col("v").as("id")).agg(max(col("len")).as("layer")),
          Seq("id"), "left")
        .select(col("id"), coalesce(col("layer"), lit(0L)).as("layer"))
    }),

    // bipartiteness audit per component — 2-color by BFS-parity from
    // each component's min node (one BATCHED multi-seed BFS, disjoint
    // components never interfere), then count monochromatic edges:
    // 0 conflicts ⇔ bipartite (no odd cycle). Fixture: an even cycle
    // (bipartite), an odd cycle (one conflict), a star (bipartite).
    // The two-sided-market / matching precondition check.
    "q261_bipartite" -> ((s, _) => {
      val cyc10 = s.range(0, 10).select(col("id").as("src"),
        ((col("id") + 1) % 10).as("dst"))
      val cyc11 = s.range(0, 11).select((col("id") + 100).as("src"),
        ((col("id") + 1) % 11 + 100).as("dst"))
      val star = s.range(1, 16).select(lit(200L).as("src"),
        (col("id") + 200).as("dst"))
      val edges = cyc10.unionByName(cyc11).unionByName(star)
      val cc = graft.dedup.Dedup.connectedComponents(s, edges)
      val seeds = cc.groupBy(col("component")).agg(min(col("id")).as("id"))
        .select(col("id"))
      val hops = graft.graph.Bfs.hops(s,
        edges.select(col("src").as("rel_a"), col("dst").as("rel_b")), seeds)
      val colored = cc.join(hops, Seq("id"))
        .select(col("id"), col("component"), (col("hops") % 2).as("par"))
      val conflicts = edges
        .join(colored.select(col("id").as("src"), col("par").as("pa"),
          col("component")), Seq("src"))
        .join(colored.select(col("id").as("dst"), col("par").as("pb")),
          Seq("dst"))
        .groupBy(col("component"))
        .agg(count(lit(1)).as("n_edges"),
          sum(when(col("pa") === col("pb"), 1L).otherwise(0L)).as("n_conflicts"))
      cc.groupBy(col("component")).agg(count(lit(1)).as("n_nodes"))
        .join(conflicts, Seq("component"))
        .select(col("component"), col("n_nodes"), col("n_edges"),
          col("n_conflicts"),
          (col("n_conflicts") === 0L).cast("long").as("bipartite"))
    }),

    // single-linkage clustering at threshold τ = 500 by CUTTING the
    // Borůvka forest (the MST-cut ≡ threshold-graph-components
    // equivalence is the point: the oracle union-finds the FULL edge
    // set below τ, the engine cuts the 29-edge-per-zone forest — same
    // clusters, asymmetric algorithms). The hierarchical-dedup
    // primitive: cut level = dedup aggressiveness.
    "q257_single_linkage" -> ((s, _) => {
      import s.implicits._
      val fixture = s.createDataset(mstFixtureEdges).toDF("src", "dst", "w")
      val cut = graft.graph.Mst.boruvka(s, fixture)
        .filter(col("w") < 500L)
      val cc = graft.dedup.Dedup.connectedComponents(s,
        cut.select(col("src"), col("dst")))
      val nodes = fixture.select(col("src").as("id"))
        .union(fixture.select(col("dst").as("id"))).distinct()
      val lab = nodes.join(cc, Seq("id"), "left")
        .select(col("id"), coalesce(col("component"), col("id")).as("cluster"))
      lab.join(lab.groupBy(col("cluster"))
          .agg(count(lit(1)).as("cluster_size")), Seq("cluster"))
        .select(col("id"), col("cluster"), col("cluster_size"))
    }),

    // FIELD Moran's I per polygon — the within-polygon counterpart of
    // q141's AREAL Moran (q141 asks "do adjacent POLYGONS carry similar
    // attributes?" over the contiguity graph; this asks "is each
    // polygon's INTERNAL raster surface patterned or noise?" over its
    // cell lattice, one output row per polygon). Rook weights over
    // cells, the classic I = (n/W)·Σw z_i z_j / Σz² kept integer by
    // the n-scaled centering z_i = n·v_i − Σv: i_num = n·Σ_pairs
    // z_i·z_j, i_den = W·Σ_i z_i² (never divides). Neighbor pairs ride
    // four SHIFTED EQUI-JOINS — no theta join, unlike the oracle's
    // |dx|+|dy| form.
    "q253_morans_i" -> ((s, _) => {
      val cells = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .select(col("relation_id"), col("cx"), col("cy"),
          ((col("cx") + lit(2L) * col("cy")) % 5L).as("v"))
      val stats = cells.groupBy(col("relation_id"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val z = cells.join(stats, Seq("relation_id"))
        .select(col("relation_id"), col("cx"), col("cy"), col("n"),
          (col("n") * col("v") - col("sv")).as("z"))
      val zsum = z.groupBy(col("relation_id"))
        .agg(max(col("n")).as("n"), sum(col("z") * col("z")).as("szz"))
      // rook pairs via two shifted equi-joins (E and S), each counted
      // in both orders — no |dx|+|dy| theta join
      val nb = z.select(col("relation_id"), col("cx"), col("cy"), col("z"))
      def shifted(dx: Long, dy: Long) = nb.select(col("relation_id"),
        (col("cx") - dx).as("cx"), (col("cy") - dy).as("cy"),
        col("z").as("zj"))
      val pairs = Seq((1L, 0L), (-1L, 0L), (0L, 1L), (0L, -1L))
        .map(d => nb.join(shifted(d._1, d._2), Seq("relation_id", "cx", "cy")))
        .reduce(_ unionByName _)
      val wsum = pairs.groupBy(col("relation_id"))
        .agg(count(lit(1)).as("w"), sum(col("z") * col("zj")).as("szij"))
      zsum.join(wsum, Seq("relation_id"))
        .select(col("relation_id"), col("n"), col("w"),
          (col("n") * col("szij")).as("i_num"),
          (col("w") * col("szz")).as("i_den"))
    }),

    // supersampled (anti-aliased) rasterization — the q86 burn at HALF
    // pitch folded 2×2 into parent cells: per cell the exact subcell
    // coverage count 1..4 (the area-weighted burn exact areal
    // statistics want at polygon edges). Pure composition of rasterize
    // + one groupBy; pitch 0.5 keeps every ray-cast decision
    // bit-identical to the oracle's ×2-scaled integer lattice (scaling
    // by a power of two is IEEE-exact).
    "q179_subcell_coverage" -> ((s, _) =>
      graft.geom.Raster.rasterize(rasterPolyDF(s), 0.5)
        .groupBy(col("relation_id"),
          shiftright(col("cx"), 1).as("cx"), shiftright(col("cy"), 1).as("cy"))
        .agg(count(lit(1)).as("cover"))),

    // IDW interpolation over the q163 point scene onto a coarse 8×8
    // target grid — exact linear-decay kernel w = d² − dist², rational
    // (num, den) output, radius 300000 (d² = 9·10¹⁰). Cell-binned 3×3
    // neighbor join, never targets×samples; empty targets keep zeros.
    "q176_idw" -> ((s, dir) => {
      import s.implicits._
      val targets = (for (gx <- 0L to 7L; gy <- 0L to 7L)
        yield (gx * 8 + gy, gx * 625000L + 312500L, gy * 625000L + 312500L))
        .toDF("id", "x", "y")
      val samples = dbscanPtsDF(s, dir)
        .withColumn("v", col("id") % 1000L)
      graft.geom.Idw.interpolate(targets, samples, d2 = 90000000000L)
    }),

    // outward buffer (k=3) of the q86 burn — grid buffering as a
    // closed-form diamond scatter + one min aggregation (no loop, no
    // join); dist = exact Manhattan distance to the nearest occupied
    // cell. The oracle replays the same diamond from the ray-cast
    // lattice.
    "q175_buffer_out" -> ((s, _) =>
      graft.geom.Raster.bufferOut(
        graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0), k = 3)),

    // medial axis over the zonal burn — ridge cells of the q165
    // distance field (4-connected local maxima, plateaus included):
    // raster→vector skeleton extraction. One scatter+max over the
    // already-checkpointed distance transform; the oracle extends the
    // q165 walk with the neighbor-max HAVING rule.
    "q171_medial_axis" -> ((s, _) =>
      graft.geom.Raster.medialAxis(
        graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0))),

    // integral image (summed-area table) per image — exact integer
    // invariants: total = Σg, far corner (≡ total by the SAT identity,
    // pinned independently), Σsat over all pixels (order-sensitive),
    // and the O(1) 4-corner block query over x∈[4,11], y∈[2,9] (always
    // in-bounds — images are ≥16×16). Two windowed prefix passes, each
    // ONE image-bounded hash exchange; no image-global sort.
    "q166_integral_image" -> ((s, _) =>
      graft.img.ImageOps.integralStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // adaptive quadtree partitioning over the q163 skewed point scene
    // (5 dense planted clusters + wide scatter, shifted +2^21 to keep
    // the domain non-negative): split any cell holding > 40 points
    // until depth 8 — dense knots split deep, the scatter stays in
    // shallow leaves. Closed form: one point-sized aggregation at
    // depth 8, then cell-sized rollups + broadcast parent joins; no
    // driver loop. The oracle replays counts at every level and the
    // parent-over-cap leaf rule.
    "q170_quadtree" -> ((s, dir) =>
      graft.cell.QuadTree.leaves(
        dbscanPtsDF(s, dir).select((col("x") + 2097152L).as("x"),
          (col("y") + 2097152L).as("y")),
        res = 23, cap = 40L, maxDepth = 8)),

    // LBP texture histogram — 8-neighbor local binary patterns over
    // the exact BT.601 gray, interior pixels only, per-image 256-bin
    // histogram (non-zero bins). Narrow mapPartitions decode, zero
    // shuffle before the final (image, code) count; the oracle replays
    // the neighborhood over the shared pixel chain.
    "q169_lbp_texture" -> ((s, _) =>
      graft.img.ImageOps.lbpHistogram(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // zonal texture — majority LBP code per map zone: the image
    // texture raster (per-pixel q169 codes, interior pixels) joined
    // against the zonal burn through the q160 mode machinery — the
    // cross-modal composition (image layer × geospatial layer) the
    // engine's layers exist for. Two hash exchanges past the pixel
    // join, no window.
    "q174_zonal_texture" -> ((s, _) => {
      val zones = graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0)
      val codes = graft.img.ImageOps.lbpPixels(s,
          graft.img.ImageTable.generate(s, 64, 16).toDF())
        .select(col("x"), col("y"), col("code").as("class"))
      graft.geom.Raster.zonalMode(zones, codes)
    }),

    // Haar 2-rect features via SAT corner lookups over the fixed
    // interior window — the engine runs the detector's O(1) 4-corner
    // path, the oracle computes DIRECT conditional pixel sums: the
    // comparison cross-validates the summed-area algebra itself.
    "q172_haar_features" -> ((s, _) =>
      graft.img.ImageOps.haarStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // raw + central image moments (integer numerators, Hu's first
    // stage): centroid numerators and the orientation/eccentricity
    // second-moment numerators with the m00 denominator cleared —
    // exact in both engines. Narrow mapPartitions decode.
    "q173_image_moments" -> ((s, _) =>
      graft.img.ImageOps.momentStats(s,
        graft.img.ImageTable.generate(s, 48, 16).toDF())),

    // discrete Voronoi allocation over the zonal burn — every raster
    // cell labeled with its nearest seed through the raster (graph
    // geodesic, barriers respected), min-seed tie-break. Seeds are the
    // deterministic lattice lines (5cx+3cy) ≡ 0 (mod 29), seed id
    // cx·1000+cy. Multi-source BFS with claiming; the oracle replays
    // it as a seed-labeled recursive walk + argmin by (dist, seed).
    "q167_voronoi_assign" -> ((s, _) => {
      val cells = graft.geom.Raster.rasterize(zonalPolyDF(s), 1.0)
      val seeds = cells
        .filter((col("cx") * 5 + col("cy") * 3) % 29 === 0)
        .select(col("relation_id"), col("cx"), col("cy"),
          (col("cx") * 1000 + col("cy")).as("seed"))
      graft.geom.Raster.voronoiAssign(cells, seeds)
    }),

    // cost-distance transform over the q86 burn — map algebra's
    // accumulated-cost surface: entering cell (cx,cy) costs
    // 1 + (cx + 2·cy) mod 5, seeded at each polygon's lexicographic-min
    // (cy,cx) cell. Frontier Bellman-Ford on the implicit lattice (no
    // edge list); the oracle replays it as a bounded recursive-CTE
    // relaxation (min path sum < 240 dominates the fixtures' true
    // weighted diameter ≤ ~150).
    "q168_cost_distance" -> ((s, _) => {
      val cells = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .withColumn("v", lit(1L) + (col("cx") + lit(2L) * col("cy")) % 5L)
      val seeds = cells.groupBy(col("relation_id"))
        .agg(min(struct(col("cy"), col("cx"))).as("m"))
        .select(col("relation_id"), col("m.cx"), col("m.cy"))
      graft.geom.Raster.costDistance(cells, seeds)
    }),

    // focal (3×3 neighborhood) statistics over the q86 burn — map
    // algebra's focal sum/count at every occupied cell with missing
    // neighbors absent, value v = cx + 2·cy: scatter ×8 (narrow), ONE
    // hash exchange on (polygon, cell), left join back so isolated
    // cells keep cnt 0. Exact integers; the oracle replays the same
    // neighborhood over the same ray-cast lattice.
    "q147_focal_stats" -> ((s, _) => {
      val cells = graft.geom.Raster.rasterize(rasterPolyDF(s), 1.0)
        .withColumn("v", col("cx") + lit(2L) * col("cy"))
      graft.geom.Raster.focalStats(cells)
    }),

    // duplicate-cluster assembly: verified near-dup pairs → connected
    // components (Dedup.connectedComponents; the step that turns pairs into one
    // keeper per cluster). Three planted tiers chained A–B–C by adjacent
    // pairs only, so the component requires TRANSITIVE closure — oracled
    // against a DuckDB recursive-CTE reachability fixpoint.
    "q51_dedup_clusters" -> ((s, dir) =>
      fuzzyClusterChain(s, dir)._2
        .select(col("id").as("doc_id"), col("component"))),

    // survivorship / golden-record selection over the q51 clusters —
    // the MDM step AFTER dedup finds groups: each cluster elects ONE
    // survivor by a QUALITY rule (longest text wins, ties to the
    // smallest id — richer-record-wins, not min-id like q53's keeper)
    // and reports the merged-record rollup. Cluster-keyed aggregation
    // over the cc output joined back to the record attributes.
    "q269_survivorship" -> ((s, dir) => {
      val (tiers, cc) = fuzzyClusterChain(s, dir)
      val members = cc.join(
        tiers.select(col("doc_id").as("id"),
          length(col("text")).cast("long").as("len")),
        Seq("id"))
      members.groupBy(col("component"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("len"), (-col("id")).as("nid"))).as("m"),
          sum(col("len")).as("total_chars"))
        .select(col("component"), (-col("m.nid")).as("survivor_doc_id"),
          col("m.len").as("survivor_chars"), col("n_members"),
          col("total_chars"))
    }),

    // end-to-end FUZZY-dedup training-set selection (the pipeline a
    // training-data engine actually runs): near-dup edges → connected
    // components → keep ONE doc per duplicate cluster (the min id) plus
    // every unclustered singleton. Composes q51's cluster assembly with
    // q40's keeper-selection shape; oracled by extending the recursive-CTE
    // reachability fixpoint with the keeper anti-join.
    "q53_fuzzy_select" -> ((s, dir) => {
      val docs0 = table(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text"))
      def tier(k: Int, suffix: String) = docs0.select(
        (col("doc_id") + k * 100000L).as("doc_id"),
        concat(col("text"), lit(suffix)).as("text"))
      val tiers = docs0.union(tier(1, " perturbed")).union(tier(2, " perturbed perturbed"))
      // fused gram kernel — same SQL-split window algebra, one scalar
      // loop per doc instead of an interpreted lambda per window
      def grams(c: org.apache.spark.sql.Column) =
        array_distinct(graft.text.GramExpr.wordGrams(s, c, 3))
      val cand = tiers.select(col("doc_id").as("src"), grams(col("text")).as("ga"))
        .join(tiers.select(col("doc_id").as("dst"), grams(col("text")).as("gb")),
          col("dst") === col("src") + 100000L)
      val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
      val edges = cand
        .filter(inter / (size(col("ga")) + size(col("gb")) - inter) >= 0.5)
        .select(col("src"), col("dst"))
      val labels = graft.dedup.Dedup.connectedComponents(s, edges)
      tiers.join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
        .filter(col("component").isNull || col("doc_id") === col("component"))
        .select(col("doc_id"))
    }),

    // image fuzzy-dedup select — the q53 pipeline on the IMAGE side:
    // Hamming-banded LSH over the table's phash column (the input-hint
    // schema; q57 pins the real pixel pHash) → exact bit_count verify →
    // connected components → min-id keeper. Planted near-dups flip ONE
    // phash bit (below bit 60 — bit 63 shifts diverge between engines'
    // signed semantics), so every 5th image gains a hamming-1 twin.
    "q91_image_dedup_select" -> ((s, _) => {
      def mix(c: org.apache.spark.sql.Column) = graft.functions.GraftFunctions.splitmixCol(s, c)
      val base = s.range(0, 200).select(col("id"), mix(col("id")).as("fp"))
      val dups = s.range(0, 200).filter(col("id") % 5 === 0).select(
        (col("id") + 100000L).as("id"),
        mix(col("id")).bitwiseXOR(
          expr("shiftleft(1L, cast(id % 60 as int))")).as("fp"))
      val fps = base.unionByName(dups)
      val pairs = graft.dedup.Dedup.hammingPairs(s, fps, maxHamming = 3)
      val labels = graft.dedup.Dedup.connectedComponents(s,
        pairs.select(col("id_a").as("src"), col("id_b").as("dst")))
      fps.join(labels, Seq("id"), "left")
        .filter(col("component").isNull || col("id") === col("component"))
        .select(col("id").as("image_idx"))
    }),

    // Z-order lake layout — Morton-interleave the probe points' cell
    // coords (res 8) by pure shift/and/or column arithmetic, key files by
    // the top 6 z-bits, and report per-file stats + the pruning verdict
    // for the bbox lat [10,20] lon [30,50] (cells x 149..163, y 142..156;
    // its containing z-interval is [morton(x0,y0), morton(x1,y1)] by the
    // per-coordinate monotonicity of bit-spreading). The decision a
    // manifest makes at 100 TB, computed as one narrow map + one bounded
    // groupBy; the physical clustered write + static partition pruning is
    // pinned in ZOrderSpec.
    "q92_zorder_layout" -> ((s, dir) => {
      graft.cell.ZOrder.layoutStats(probePoints(s, dir), "lat", "lon",
        res = 8, prefixBits = 6, qx0 = 149, qy0 = 142, qx1 = 163, qy1 = 156)
    }),

    // Count-Min sketch over event user activity: the sketch is a bounded
    // (row, cell) table built by a narrow explode(4) + one groupBy (max
    // 4x256 cells), estimates are min-over-rows upper bounds resolved
    // against the broadcast sketch. Completes the sketch trio (Misra-
    // Gries lower bound, KLL quantiles, CM upper bound); every hash is
    // the codegen'd splitmix64, so counters AND estimates - collisions
    // included - replay bit-exactly in the oracle.
    "q93_cm_sketch" -> ((s, dir) => {
      import graft.text.CountMin
      val ev = table(s, dir, "events")
      val sk = CountMin.counters(s, ev, "user_id", depth = 4, width = 256)
      val probes = ev.filter(col("user_id") % 11 === 0)
      val est = CountMin.estimate(s, sk, probes, "user_id", depth = 4, width = 256)
      val tru = probes.groupBy(col("user_id").as("k"))
        .agg(count(lit(1)).as("true_cnt"))
      est.join(tru, Seq("k"))
        .select(col("k").as("user_id"), col("est"), col("true_cnt"),
          (col("est") >= col("true_cnt")).as("is_upper_bound"))
    }),

    // Integer-exact PageRank over a planted link graph: each document
    // links to 3 splitmix-derived targets (low-63-bit mod N, multi-edges
    // kept), 4 BSP rounds of scaled-long arithmetic - rank div outdeg
    // contributions, (sum*85) div 100 damping - so the result is
    // bit-reproducible (float PageRank would hash-diverge on summation
    // order alone). The crawl-quality ranking signal of a training-data
    // pipeline; N comes from one metadata-sized count.
    "q94_pagerank" -> ((s, dir) =>
      graft.graph.PageRank.ranks(s, plantedEdges(s, dir), iters = 4)),

    // HITS hubs/authorities over the same planted graph: L-infinity-
    // normalized integer power iteration, 3 rounds - the link-analysis
    // complement of q94's PageRank
    "q102_hits" -> ((s, dir) =>
      graft.graph.Hits.hubsAuthorities(s, plantedEdges(s, dir), iters = 3)
        .select(col("doc_id"), col("h").as("hub"), col("a").as("authority"))),

    // exact triangle enumeration with degree-ordered orientation (the
    // "last reducer" fix: wedge fan-out bounded O(sqrt(m)) per node) over
    // the planted graph plus a planted clique - the random 3-out graph
    // alone is triangle-free w.h.p., the clique plants C(k,3) knowns
    "q106_triangles" -> ((s, dir) =>
      graft.graph.Triangles.perNode(s, plantedTriEdges(s, dir))),

    // exact per-group convex hull (extreme points, strict monotone
    // chain): two-level reduction - partial hulls per (grp, salt) bucket
    // after ONE hash exchange, then the exact hull of the partial hull
    // points; hull(S) = hull(hull(S1) u ... u hull(Sk)) makes it exact
    "q107_convex_hull" -> ((s, dir) =>
      graft.geom.Hull.extremePoints(s,
        table(s, dir, "orders").filter(col("o_orderkey") % 97 === 0)
          .select((col("o_orderkey") % 4).as("grp"),
            (abs(col("o_orderkey") * 9973 + 12345) % 2000001 - 1000000).as("x"),
            (abs(col("o_orderkey") * 7919 + 54321) % 2000001 - 1000000).as("y")))),

    // integer Sobel edge energy per image - the detail/blur quality
    // signal: decode the REAL binary column through graft's own codecs,
    // BT.601 integer grayscale, 3x3 Sobel on interior pixels; narrow
    // mapPartitions, no shuffle. Driver-oracled bit-exactly from the
    // synthetic pixel formula
    "q108_sobel_energy" -> ((s, dir) =>
      graft.img.ImageOps.sobelStats(s,
        graft.img.ImageTable.generate(s, 500, 16).toDF())),

    // grid-density spatial clustering (DBSCAN-lite): occupied res-7 cells
    // merge through Chebyshev-1 adjacency (kRing semantics: x wraps the
    // antimeridian) via connected components; corpus scanned twice, the
    // cluster graph is GRID-sized - never a point-pairwise anything
    "q109_grid_cluster" -> ((s, dir) =>
      graft.cell.GridCluster.clusters(s, probePoints(s, dir), res = 7)),

    // multi-resolution heatmap pyramid: ONE corpus groupBy at the finest
    // level, then each coarser level aggregates the grid-sized previous
    // level by integer cell halving (floor composition makes every level
    // exact) - aggregate the aggregate, never re-scan the corpus
    "q110_heatmap_pyramid" -> ((s, dir) =>
      graft.cell.Heatmap.pyramid(s, probePoints(s, dir), res = 7)),

    // snapshot-table copy-on-write DELETE + snapshot expiry - the GDPR /
    // retention leg of the lake CRUD story: only match-containing files
    // rewrite, the rest carry by reference; expire then physically drops
    // the replaced files and the old manifests, and time travel to an
    // expired version fails loudly (asserted, emitted as a row)
    "q111_snapshot_delete" -> ((s, dir) => {
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q111")
      val bucketOf = pmod(mixCol(s, col("idx")), lit(16L))
      def mk(lo: Long, hi: Long) = s.range(lo, hi).select(col("id").as("idx"),
        concat(lit("cap_"), col("id")).as("caption"))
      SnapshotTable.create(s, mk(0, 400), out.getPath, 16, bucketOf)
      SnapshotTable.append(s, mk(400, 650), out.getPath, bucketOf)
      val m3 = SnapshotTable.delete(s, out.getPath, col("idx") % 50 === 0, bucketOf)
      val expired = SnapshotTable.expire(out.getPath, 3L)
      val ttFails =
        try { SnapshotTable.read(s, out.getPath, Some(2L)); 0L }
        catch { case _: Exception => 1L }
      val rowsAfter = SnapshotTable.read(s, out.getPath).count()
      import s.implicits._
      Seq(
        ("rows_after", rowsAfter),
        ("files_v3", m3.files.size.toLong),
        ("expired_data_files", expired.toLong),
        ("current_version", SnapshotTable.currentVersion(out.getPath)),
        ("tt_expired_fails", ttFails)).toDF("label", "n")
    }),

    // row-level change-data-feed (Iceberg create_changelog_view semantics):
    // v1 create(500) -> v2 merge(39 updates + 40 inserts) -> v3 delete
    // (idx%10=7). The diff reads ONLY each manifest pair's
    // symmetric-difference files (carried files are never opened) and
    // filters rewritten-but-identical co-bucketed survivors with a
    // null-safe struct compare - so the oracle's closed form IS the
    // proof that nothing but real changes surfaces
    "q114_change_data_feed" -> ((s, dir) => {
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q114")
      val bucketOf = pmod(mixCol(s, col("idx")), lit(8L))
      def mk(lo: Long, hi: Long) = s.range(lo, hi).select(col("id").as("idx"),
        concat(lit("caption_"), col("id")).as("caption"))
      SnapshotTable.create(s, mk(0, 500), out.getPath, 8, bucketOf)
      val updates = s.range(0, 500).filter(col("id") % 13 === 0)
        .select(col("id").as("idx"),
          concat(lit("updated_"), col("id")).as("caption"))
        .unionByName(mk(500, 540))
      SnapshotTable.merge(s, updates, out.getPath, "idx", bucketOf)
      SnapshotTable.delete(s, out.getPath, col("idx") % 10 === 7, bucketOf)
      SnapshotTable.changes(s, out.getPath, 1L, 2L, "idx")
        .withColumn("step", lit("v1_v2"))
        .unionByName(SnapshotTable.changes(s, out.getPath, 2L, 3L, "idx")
          .withColumn("step", lit("v2_v3")))
        .select(col("step"), col("_change_type").as("op"),
          col("idx"), col("caption"))
    }),

    // incremental (delta) dedup: probe ONLY the new batch against the
    // standing corpus - corpus banded once (the stored-index shape),
    // delta equi-joins on (band, bucket), candidates are new-vs-existing
    // only, work scales with the delta not the table. Planted near-dups
    // (+200000, ' perturbed') must link; planted novel docs (+300000)
    // must not
    "q134_delta_dedup" -> ((s, dir) => {
      val corpus = table(s, dir, "documents").select(col("doc_id"), col("text"))
      val delta = table(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 200000L).as("doc_id"),
          concat(col("text"), lit(" perturbed")).as("text"))
        .unionByName(table(s, dir, "documents").filter(col("doc_id") % 7 === 3)
          .select((col("doc_id") + 300000L).as("doc_id"),
            concat(lit("novel_"), col("doc_id"),
              lit(" alpha beta gamma delta epsilon zeta")).as("text")))
      graft.dedup.Dedup.minhashProbe(s, corpus, delta, threshold = 0.5)
    }),

    // corrupt-input quarantine: every 13th image truncated mid-stream,
    // every (remaining) 17th magic-corrupted; decode runs under a
    // per-row guard that routes failures to a quarantine status instead
    // of killing the stage - the hygiene pass a 10^12-image crawl needs
    // before any decoder touches the hot path. Dims of surviving rows
    // stay bit-exact (splitmix replay); statuses are closed-form
    "q133_decode_quarantine" -> ((s, dir) => {
      import s.implicits._
      import graft.img.ImageTable
      val imgs = ImageTable.generate(s, 300, 8).map { r =>
        val i = r.image_id.stripPrefix("img_").toLong
        val b =
          if (i % 13 == 0) r.bytes.take(r.bytes.length / 2)
          else if (i % 17 == 0) {
            val c = r.bytes.clone(); c(0) = (c(0) ^ 0xFF).toByte; c
          } else r.bytes
        (r.image_id, b)
      }.toDF("image_id", "bytes")
      graft.img.ImageOps.decodeAudit(s, imgs)
    }),

    // timestamp time travel (Iceberg FOR TIMESTAMP AS OF): each commit
    // records its wall-clock in the manifest; versionAsOf resolves the
    // latest commit at-or-before a timestamp, and a time before the
    // first commit fails loudly instead of returning an empty table
    "q132_asof_timestamp" -> ((s, dir) => {
      import s.implicits._
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q132")
      val bucketOf = pmod(mixCol(s, col("idx")), lit(8L))
      def mk(lo: Long, hi: Long) = s.range(lo, hi).select(col("id").as("idx"),
        concat(lit("cap_"), col("id")).as("caption"))
      SnapshotTable.create(s, mk(0, 300), out.getPath, 8, bucketOf)
      val t1 = SnapshotTable.manifest(out.getPath, 1L).tsMillis
      SnapshotTable.append(s, mk(300, 350), out.getPath, bucketOf)
      val t2 = SnapshotTable.manifest(out.getPath, 2L).tsMillis
      val failsBefore =
        try { SnapshotTable.versionAsOf(out.getPath, t1 - 1); 0L }
        catch { case _: IllegalArgumentException => 1L }
      Seq(
        ("asof_t1_rows", SnapshotTable.readAsOf(s, out.getPath, t1).count()),
        ("asof_t1_version", SnapshotTable.versionAsOf(out.getPath, t1)),
        ("asof_t2_rows", SnapshotTable.readAsOf(s, out.getPath, t2).count()),
        ("asof_before_create_fails", failsBefore)).toDF("label", "n")
    }),

    // video shot-boundary detection: real AVI/DIB decode -> integer
    // frame-diff -> threshold; frames within a planted shot are
    // identical and cuts land where splitmix bit f-1 is set, so the
    // detected list must equal the closed-form plant exactly (the
    // codec is lossless - any bit-slip becomes a phantom cut)
    "q131_shot_cuts" -> ((s, dir) =>
      graft.img.Multimodal.shotCuts(s,
        graft.img.Multimodal.synthVideoShots(s, 200), thr = 0L)),

    // cohort retention: users bucketed by first-activity week, exact
    // distinct-user counts per (cohort, week offset) - the standard
    // growth-analytics matrix; two aggregations + one key join
    "q129_retention" -> ((s, dir) => {
      val ev = table(s, dir, "events").select(col("user_id"),
        floor(unix_millis(col("ts").cast("timestamp")) / lit(604800000.0))
          .cast("long").as("wk"))
        .distinct()
      val cohort = ev.groupBy(col("user_id")).agg(min(col("wk")).as("cohort_wk"))
      ev.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    }),

    // event transition matrix: per-user next-event pairs via one lead
    // window (one device-key shuffle), exact transition counts - the
    // path-analysis primitive behind sankeys and Markov models
    "q130_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
    }),

    // geohash cell naming (Niemeyer base32) - the third cell-naming
    // scheme next to quadkey (q78) and Morton keys (q92), and the one
    // geo APIs exchange; a prefix IS containment, so truncated-hash
    // equality joins are grid joins. Pure column arithmetic (spread
    // masks + 5-bit slices), no UDF
    "q128_geohash" -> ((s, dir) =>
      probePoints(s, dir).select(col("o_orderkey"),
        graft.cell.Geohash.geohashCol(col("lat"), col("lon"), p = 6)
          .as("geohash"))),

    // layout-locality comparison: the QUANTIFIED form of q113's claim.
    // Same points, same file count - but files are 48 EQUAL-WIDTH key
    // ranges, NOT power-of-4-aligned prefixes (aligned prefixes make
    // Morton blocks perfect squares and the comparison a tie; real
    // file splits - equal row counts, compaction boundaries - are never
    // aligned). Across unaligned ranges the Hilbert curve's unit steps
    // keep each file's cells one contiguous blob while a Morton range
    // straddles a Z-jump, so Hilbert's summed per-file cell-bbox area
    // must come out smaller - the number a bbox scan actually pays
    "q127_layout_locality" -> ((s, dir) => {
      import graft.cell.{Hilbert, ZOrder}
      val res = 7; val nFiles = 48
      val cells = 1L << (2 * res)
      val pts = probePoints(s, dir)
        .withColumn("x", ZOrder.cellXCol(col("lon"), res))
        .withColumn("y", ZOrder.cellYCol(col("lat"), res))
      def locality(keyed: DataFrame, label: String) = keyed
        .withColumn("file_key",
          floor(col("key") * nFiles / lit(cells.toDouble)).cast("long"))
        .groupBy(col("file_key"))
        .agg(min("x").as("x0"), max("x").as("x1"),
          min("y").as("y0"), max("y").as("y1"))
        .agg(count(lit(1)).as("n_files"),
          sum((col("x1") - col("x0") + 1) * (col("y1") - col("y0") + 1))
            .as("sum_bbox_cells"))
        .select(lit(label).as("layout"), col("n_files"), col("sum_bbox_cells"))
      val zk = pts.withColumn("key", ZOrder.zCol(col("lat"), col("lon"), res))
      val hk = Hilbert.withD(pts, res).withColumn("key", col("d"))
      locality(zk, "zorder").unionByName(locality(hk, "hilbert"))
    }),

    // orphan-file GC (Iceberg remove_orphan_files): two stray parquet
    // files planted under data/s99 simulate a torn commit (data lands
    // before its manifest, so a crash strands it invisibly); the walk
    // finds exactly those two, deletes them, and the table still reads
    // verified - files referenced by ANY retained manifest are never
    // touched, and a grace window shields in-flight commits
    "q126_orphan_gc" -> ((s, dir) => {
      import s.implicits._
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q126")
      val bucketOf = pmod(mixCol(s, col("idx")), lit(16L))
      def mk(lo: Long, hi: Long) = s.range(lo, hi).select(col("id").as("idx"),
        concat(lit("cap_"), col("id")).as("caption"))
      SnapshotTable.create(s, mk(0, 400), out.getPath, 16, bucketOf)
      SnapshotTable.merge(s,
        s.range(0, 400).filter(col("id") % 13 === 0)
          .select(col("id").as("idx"), concat(lit("upd_"), col("id")).as("caption"))
          .unionByName(mk(400, 430)), out.getPath, "idx", bucketOf)
      // torn-commit residue: data files of a version that never committed
      for (b <- Seq(0, 1))
        mk(0, 5).coalesce(1).write.mode("overwrite")
          .parquet(s"${out.getPath}/data/s99/__bucket=$b")
      val found = SnapshotTable.orphanFiles(out.getPath, graceMs = 0L).size
      val deleted = SnapshotTable.deleteOrphans(out.getPath, graceMs = 0L)
      val rows = SnapshotTable.read(s, out.getPath, verify = true).count()
      val after = SnapshotTable.orphanFiles(out.getPath, graceMs = 0L).size
      Seq(
        ("orphans_found", found.toLong),
        ("orphans_deleted", deleted.toLong),
        ("rows_after_gc", rows),
        ("orphans_after_gc", after.toLong)).toDF("label", "n")
    }),

    // manifest-stats file skipping (Iceberg lower/upper bounds): the
    // table is key-clustered (bucket = idx div 50, so every file holds a
    // contiguous key range), each commit records per-file min/max of the
    // stats column, and a range read opens ONLY intersecting files - a
    // pure metadata decision. create(16 files) + append(4) + delete of
    // one whole file's range leaves 19; [375,520] keeps exactly 4
    "q125_stats_pruning" -> ((s, dir) => {
      import s.implicits._
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q125")
      val bucketOf = floor(col("idx") / lit(50.0))
      def mk(lo: Long, hi: Long) = s.range(lo, hi).select(col("id").as("idx"),
        concat(lit("cap_"), col("id")).as("caption"))
      SnapshotTable.create(s, mk(0, 800), out.getPath, 20, bucketOf,
        statsCol = Some("idx"))
      SnapshotTable.append(s, mk(800, 1000), out.getPath, bucketOf)
      SnapshotTable.delete(s, out.getPath, col("idx") >= 100 && col("idx") < 150,
        bucketOf)
      val (kept, skipped) = SnapshotTable.prunePlan(out.getPath, 375L, 520L)
      val pruned = SnapshotTable.readPruned(s, out.getPath, 375L, 520L)
      val (nRows, sumIdx) = pruned.agg(count(lit(1)), sum(col("idx")))
        .as[(Long, Long)].first()
      Seq(
        ("files_total_v3", (kept.size + skipped.size).toLong),
        ("files_kept", kept.size.toLong),
        ("files_skipped", skipped.size.toLong),
        ("rows_in_range", nRows),
        ("sum_idx_in_range", sumIdx)).toDF("label", "n")
    }),

    // CDC-driven incremental tile maintenance: a completed staged tiling
    // run takes an image-level delta (2 inserts, 2 deletes, 1 same-id
    // re-upsert - 5 ids into 6 batches, so some batches stay untouched)
    // and re-tiles ONLY the batches containing a changed image -
    // O(changed batches) like the snapshot table's merge. The read-back
    // of the WHOLE tile store must equal the closed-form full-build
    // pyramid over the post-delta id set: the proof that incremental
    // maintenance converges to the rebuild
    "q124_tile_refresh" -> ((s, dir) => {
      import s.implicits._
      import graft.img.ImageTable
      import graft.tile.TileManifest
      val out = snapshotScratchDir("q124")
      def withRel(df: DataFrame) =
        df.withColumn("relation_id", pmod(col("phash"), lit(64)))
      val base = withRel(ImageTable.generate(s, 120, 8).toDF())
      TileManifest.runStaged(s, base, out.getPath, nBatches = 3)
      val upserts = s.range(120, 122).unionByName(s.range(20, 21))
        .as[Long].map(ImageTable.makeRow).toDF()
      val deletes = s.range(0, 120).filter(col("id") === 3 || col("id") === 43)
        .select(format_string("img_%09d", col("id")).as("image_id"))
      TileManifest.refreshStaged(s, withRel(upserts), deletes, out.getPath)
      s.read.parquet(s"${out.getPath}/tiles")
        .select(col("image_id"), col("relation_id"), col("level"),
          col("tx"), col("ty"), col("tw"), col("th"))
    }),

    // audio silence segmentation: real WAV decode -> per-frame peaks
    // (imperative per row) -> gaps-and-islands over silent frames
    // (declarative window) - the speech/music segmenter an audio
    // pipeline gates clips with. Planted silent gaps make the segment
    // table closed-form; peak < 100 is the exact integer verdict
    "q123_silence_segments" -> ((s, dir) => {
      val peaks = graft.img.Multimodal.framePeaks(s,
        graft.img.Multimodal.synthAudioGapped(s, 300), frame = 64)
      val w = Window.partitionBy(col("audio_id")).orderBy(col("frame"))
      peaks.filter(col("peak") < 100)
        .withColumn("grp", col("frame") - row_number().over(w))
        .groupBy(col("audio_id"), col("grp"))
        .agg(min(col("frame")).as("seg_start"), count(lit(1)).as("n_frames"))
        .select(col("audio_id"), col("seg_start"), col("n_frames"))
    }),

    // frequent co-occurring term pairs (Apriori level 2, Agrawal &
    // Srikant 1994): pass 1 counts single-term support, pass 2 self-joins
    // only the frequent-term-filtered posting lists (broadcast prune) -
    // support is anti-monotone, so the within-doc join can never be
    // vocabulary^2 at corpus scale
    "q121_frequent_pairs" -> ((s, dir) =>
      graft.text.TextOps.frequentPairs(s, table(s, dir, "documents"),
        minItem = 100L, minPair = 150L)),

    // exact Jaccard>=0.9 set-similarity join with PREFIX FILTERING
    // (SSJoin/PPJoin): candidates only where rarest-first prefixes
    // share a token - a theorem, not a cap, so nothing is dropped.
    // Planted 20-item sets from a 10k universe; every tenth doc gets a
    // twin with item 7 swapped out (Jaccard 19/21) - cross-doc overlap
    // is negligible, so the filter prunes ~everything
    "q122_jaccard_join" -> ((s, dir) => {
      val base = s.range(0, 500).select(col("id").as("doc_id"))
        .withColumn("j", explode(sequence(lit(0L), lit(19L))))
        .select(col("doc_id"),
          pmod(mixCol(s, col("doc_id") * 20 + col("j")), lit(10000L)).as("item"))
      val dups = s.range(0, 500).filter(col("id") % 10 === 0)
        .select(col("id").as("b"))
        .withColumn("j", explode(sequence(lit(0L), lit(19L))))
        .select((col("b") + 100000L).as("doc_id"),
          when(col("j") === 7, col("b") + 10000L)
            .otherwise(pmod(mixCol(s, col("b") * 20 + col("j")), lit(10000L))).as("item"))
      graft.dedup.JaccardJoin.similarPairs(s, base.unionByName(dups),
        tNum = 9, tDen = 10)
    }),

    // ring-simplicity audit: the QA gate between ring assembly and the
    // .poly/GeoJSON sinks. Planted octagon rings; ring%7==0 swaps two
    // far vertices (bowtie - crossing non-adjacent edges), ring%7==1
    // moves vertex 2 onto vertex 0 (spike + pinch). Non-adjacent pairs
    // flag on ANY contact, adjacent pairs only on collinear retrace
    // beyond the shared vertex - all exact BIGINT, grid + reference-
    // point dedup, oracle brute-forces within-ring pairs
    "q120_ring_validity" -> ((s, dir) => {
      val oxA = array(Seq(2L, 4L, 6L, 6L, 4L, 2L, 0L, 0L).map(lit): _*)
      val oyA = array(Seq(0L, 0L, 2L, 4L, 6L, 6L, 4L, 2L).map(lit): _*)
      def eoi(v: org.apache.spark.sql.Column) =
        when(col("c") === 0 && v === 2, lit(5L))
          .when(col("c") === 0 && v === 5, lit(2L))
          .when(col("c") === 1 && v === 2, lit(0L))
          .otherwise(v)
      val zl = mixCol(s, col("ring_id")).bitwiseAND(lit((1L << 62) - 1))
      val edges = s.range(0, 400).select(col("id").as("ring_id"))
        .withColumn("c", col("ring_id") % 7)
        .withColumn("cx", pmod(zl.bitwiseAND(lit(0xFFFFL)), lit(50000L)))
        .withColumn("cy", pmod(shiftright(zl, 16).bitwiseAND(lit(0xFFFFL)), lit(50000L)))
        .withColumn("idx", explode(sequence(lit(0L), lit(7L))))
        .select(col("ring_id"), col("idx"), lit(8L).as("n"),
          (col("cx") + element_at(oxA, (eoi(col("idx")) + 1).cast("int")) * 8).as("x1"),
          (col("cy") + element_at(oyA, (eoi(col("idx")) + 1).cast("int")) * 8).as("y1"),
          (col("cx") + element_at(oxA, (eoi((col("idx") + 1) % 8) + 1).cast("int")) * 8).as("x2"),
          (col("cy") + element_at(oyA, (eoi((col("idx") + 1) % 8) + 1).cast("int")) * 8).as("y2"))
      graft.geom.SegmentJoin.selfIntersections(edges, cellSize = 64L)
    }),

    // mask QA: connected-component labeling (4-connected, two-pass
    // union-find) over thresholded REAL encoded images - blob count, max
    // blob area, coverage per mask. The planted masks put a solid
    // rectangle in quadrant q iff splitmix bit q is set (sizes from 8
    // more bits, anchored so rects never touch), so every statistic is
    // closed-form in the same bits; decode runs graft's own PNG and BMP
    // codecs. Narrow mapPartitions, zero shuffle
    "q119_blob_label" -> ((s, dir) =>
      graft.img.Blobs.blobStats(s, graft.img.Blobs.maskTable(s, 300))),

    // incremental view maintenance: a (count,sum) aggregate kept current
    // by applying the v1->v3 changelog delta (q114's CDC) instead of
    // rescanning - O(delta) refresh vs O(table), the reason the
    // changelog exists. v1 create(600) -> merge(47 val updates + 60
    // inserts) -> COW delete(idx%9=4); the maintained view must equal
    // the oracle's direct closed-form aggregate of the v3 state
    "q118_incremental_view" -> ((s, dir) => {
      import graft.lake.{Ivm, SnapshotTable}
      val out = snapshotScratchDir("q118")
      val bucketOf = pmod(mixCol(s, col("idx")), lit(8L))
      def mk(lo: Long, hi: Long, rev: Long) = s.range(lo, hi).select(
        col("id").as("idx"), (col("id") * 10 + rev).as("val"))
      SnapshotTable.create(s, mk(0, 600, 0), out.getPath, 8, bucketOf)
      val agg1 = SnapshotTable.read(s, out.getPath, Some(1L))
        .groupBy((col("idx") % 10).as("grp"))
        .agg(count(lit(1)).as("cnt"), sum(col("val")).as("sm"))
      val updates = s.range(0, 600).filter(col("id") % 13 === 0)
        .select(col("id").as("idx"), (col("id") * 10 + 1).as("val"))
        .unionByName(mk(600, 660, 0))
      SnapshotTable.merge(s, updates, out.getPath, "idx", bucketOf)
      SnapshotTable.delete(s, out.getPath, col("idx") % 9 === 4, bucketOf)
      val cdc = SnapshotTable.changes(s, out.getPath, 1L, 3L, "idx")
        .withColumn("grp", col("idx") % 10)
      Ivm.maintainSumCount(agg1, cdc, "grp", "val")
    }),

    // trajectory cleaning: per-device GPS teleport filter - planted
    // integer positions (smooth per-user jitter + a 5e7-unit teleport on
    // event_id%37) ordered by time per user; a consecutive pair is
    // flagged when dist^2 > (50 units/s * dt)^2, all in exact BIGINT
    // (squared compare, no sqrt, no floats). One window shuffle on the
    // device key, narrow arithmetic - the geotag sanity pass an image
    // crawl runs before trusting locations
    "q117_teleport_filter" -> ((s, dir) => {
      val tele = when(col("event_id") % 37 === 0, 50000000L).otherwise(0L)
      val pts = table(s, dir, "events").select(
        col("event_id"), col("user_id"), col("ts"),
        ((col("user_id") * 7919) % 1000000 + (col("event_id") * 31) % 2001
          - 1000 + tele).as("x"),
        ((col("user_id") * 104729) % 1000000 + (col("event_id") * 37) % 2001
          - 1000).as("y"),
        floor(unix_millis(col("ts").cast("timestamp")) / 1000.0).cast("long").as("sec"))
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      pts.select(col("user_id"), col("event_id"),
          lag(col("event_id"), 1).over(w).as("prev_id"),
          (col("x") - lag(col("x"), 1).over(w)).as("dx"),
          (col("y") - lag(col("y"), 1).over(w)).as("dy"),
          (col("sec") - lag(col("sec"), 1).over(w)).as("dt_s"))
        .filter(col("prev_id").isNotNull &&
          col("dx") * col("dx") + col("dy") * col("dy") >
            lit(2500L) * col("dt_s") * col("dt_s"))
        .select(col("user_id"), col("prev_id"), col("event_id"),
          (col("dx") * col("dx") + col("dy") * col("dy")).as("dist2"),
          col("dt_s"))
    }),

    // k-core decomposition (iterative peeling) on a planted graph whose
    // 3-core is closed-form: a 10-clique and a 20-spoke wheel survive; a
    // leaf-decorated path unravels over several rounds (leaves first,
    // then the exposed path) - the multi-round behavior that makes
    // peeling a loop, not a filter
    "q116_kcore" -> ((s, dir) => {
      val r10 = s.range(0, 10)
      val clique = r10.select(col("id").as("src"))
        .crossJoin(r10.select(col("id").as("dst")))
        .filter(col("src") < col("dst"))
      val spokes = s.range(51, 71).select(lit(50L).as("src"), col("id").as("dst"))
      val cyc = s.range(51, 70).select(col("id").as("src"), (col("id") + 1).as("dst"))
        .unionByName(s.range(70, 71).select(col("id").as("src"), lit(51L).as("dst")))
      val path = s.range(100, 119).select(col("id").as("src"), (col("id") + 1).as("dst"))
      val leaves = s.range(100, 120)
        .select(col("id").as("src"), (col("id") * 2 + 1000).as("dst"))
        .unionByName(s.range(100, 120)
          .select(col("id").as("src"), (col("id") * 2 + 1001).as("dst")))
      val edges = clique.unionByName(spokes).unionByName(cyc)
        .unionByName(path).unionByName(leaves)
      graft.graph.KCore.kCore(s, edges, k = 3)
    }),

    // vector overlay: segment-intersection join between two planted line
    // layers - grid-cell candidates, PBSM reference-point dedup (zero
    // dedup shuffle), and the four-orientation + collinear-on-segment
    // predicate in pure BIGINT column arithmetic. Coordinates bit-sliced
    // from the splitmix low-62 bits so DuckDB replays the layers and
    // brute-forces the same predicate over all 600x600 pairs
    "q115_segment_overlay" -> ((s, dir) => {
      val zl = mixCol(s, col("id")).bitwiseAND(lit((1L << 62) - 1))
      val x1 = pmod(zl.bitwiseAND(lit(0xFFFFFL)), lit(30000L))
      val y1 = pmod(shiftright(zl, 20).bitwiseAND(lit(0xFFFFFL)), lit(30000L))
      val segs = s.range(0, 1200).select(
        col("id"), x1.as("x1"), y1.as("y1"),
        (x1 + shiftright(zl, 40).bitwiseAND(lit(0x7FFL)) - 1024).as("x2"),
        (y1 + shiftright(zl, 51).bitwiseAND(lit(0x7FFL)) - 1024).as("y2"))
      graft.geom.SegmentJoin.intersectingPairs(
        segs.filter(col("id") % 2 === 0),
        segs.filter(col("id") % 2 === 1), cellSize = 2048L)
    }),

    // sparse bag-of-bigrams cosine join: inverted-index candidates with a
    // hot-term cap, cosine >= 8/10 decided SQUARED in pure integers
    // (dot^2 * den^2 >= num^2 * |A|^2 * |B|^2) - the exact IR-style
    // similarity complementing the dense ANN family
    "q112_sparse_cosine" -> ((s, dir) =>
      graft.sim.SparseCosine.similarPairs(s, docsWithPlantedDups(s, dir))),

    // Hilbert-curve lake layout (the locality upgrade over q92's
    // Z-order): unit-step curve -> tighter per-file cell bounding boxes
    // at the same file count; per-file stats are the manifest bbox a
    // scan prunes with. Narrow key chain + one bounded groupBy
    "q113_hilbert_layout" -> ((s, dir) =>
      graft.cell.Hilbert.layoutStats(probePoints(s, dir), "lat", "lon",
        res = 7, prefixBits = 6)),

    // trigram-indexed regex search (Cox 2012 / Google Code Search): the
    // inverted trigram index prunes to candidates containing ALL required
    // trigrams of the pattern's literal segments; the exact regex runs on
    // candidates only - the result is DEFINED by the regex, the index
    // only prunes (so it can never be wrong, only slow)
    "q103_trigram_search" -> ((s, dir) =>
      graft.text.Trigram.search(s, table(s, dir, "documents"), TrigramPattern)),

    // shingle CONTAINMENT (Broder 1997): inter/min(|SA|,|SB|) >= 8/10 over
    // distinct 5-shingles via the inverted-index join with a hot-bucket
    // cap - catches the asymmetric quote-embedding duplication Jaccard
    // structurally misses; planted wrapper docs embed originals whole
    "q104_containment" -> ((s, dir) =>
      graft.dedup.Containment.containedPairs(s, docsWithQuotedDups(s, dir))),

    // sorted-neighborhood dedup (Hernandez & Stolfo 1995): global ranks
    // from a range exchange + driver-cumsum partition offsets, in-window
    // pairs as a rank equi-join (boundary pairs fall out for free), exact
    // levenshtein verify - the no-global-sort, O(w*N)-verify plan
    "q105_snm_pairs" -> ((s, dir) =>
      graft.dedup.Snm.neighborPairs(s, docsWithPlantedDups(s, dir),
        substring(col("text"), 1, 32), w = 4, maxDist = 16)),

    // positional inverted index - the retrieval primitive: one row per
    // (term, doc) with tf + sorted 0-based positions; narrow posexplode +
    // one bounded groupBy. The array-typed API stays as-is for q96/q97
    // composition; the QUERY serializes positions via concat_ws (the q06
    // precedent) because the driver's hasher cannot canonicalize raw
    // array columns.
    "q95_inverted_index" -> ((s, dir) =>
      graft.text.TextOps.positionalPostings(s, table(s, dir, "documents"))
        .withColumn("positions",
          concat_ws(",", transform(col("positions"), _.cast("string"))))),

    // exact phrase search by position adjacency over the index: per-word
    // postings filter BEFORE the (doc, anchor) equi-join, so the rarest
    // word bounds the join input - no LIKE scan over full texts
    "q96_phrase_search" -> ((s, dir) =>
      graft.text.TextOps.phraseSearch(s, table(s, dir, "documents"),
        Seq("table", "value"))),

    // BM25 scoring for a 3-term query in exact scaled-integer arithmetic
    // (rational Robertson idf + cleared-denominator tf saturation, k1=1.2
    // b=0.75) - float ln/division would hash-diverge between engines
    "q97_bm25" -> ((s, dir) =>
      graft.text.TextOps.bm25(s, table(s, dir, "documents"),
        Seq("table", "fast", "merge"))),

    // key-skew diagnostics: discrete count quantiles from the HISTOGRAM
    // of counts (the only window runs over distinct frequency VALUES,
    // never the key set), max/median ratio, and the salt factor that
    // levels the heaviest key - the pre-job report that decides salting
    "q98_skew_report" -> ((s, dir) =>
      graft.lineage.Skew.keyReport(table(s, dir, "events"), col("user_id"))),

    // JL +-1 random projection 64->16: the narrow zero-shuffle pre-step
    // that shrinks every kNN downstream; sign matrix baked into the plan
    // as literals, double folds in array order (bit-reproducible)
    "q99_jl_project" -> ((s, dir) =>
      graft.sim.Similarity.jlProject(s, table(s, dir, "embeddings"),
        inDim = 64, outDim = 16)),

    // event funnel view -> click -> purchase within 48h per step:
    // earliest-qualifying-chain semantics, one filtered aggregate per
    // stage + key-sized joins - no per-user history window or collect
    "q100_funnel" -> ((s, dir) => {
      graft.join.Funnel.funnel(table(s, dir, "events"),
        Seq("view", "click", "purchase"), expr("INTERVAL 48 HOURS"))
        .select(col("user_id"), col("n_stages"),
          unix_micros(col("t1").cast("timestamp")).as("t1_us"), // NTZ → UTC (session TZ pinned)
          unix_micros(col("t2").cast("timestamp")).as("t2_us"),
          unix_micros(col("t3").cast("timestamp")).as("t3_us"))
    }),

    // snapshot-table schema evolution: v2 appends rows carrying a NEW
    // lang column, v3 merges lang into some v1 rows; the manifest schema
    // is authoritative (inference over mixed-schema files would pick
    // whichever file lists first), pre-evolution rows read typed NULLs
    "q101_schema_evolution" -> ((s, dir) => {
      import graft.lake.SnapshotTable
      val out = snapshotScratchDir("q101")
      val bucketOf = pmod(mixCol(s, col("idx")), lit(8L))
      val base = s.range(0, 200).select(col("id").as("idx"),
        concat(lit("cap_"), col("id")).as("caption"))
      SnapshotTable.create(s, base, out.getPath, 8, bucketOf)
      val withLang = s.range(200, 260).select(col("id").as("idx"),
        concat(lit("cap_"), col("id")).as("caption"),
        when(col("id") % 2 === 0, lit("en")).otherwise(lit("de")).as("lang"))
      SnapshotTable.append(s, withLang, out.getPath, bucketOf)
      val upd = s.range(0, 200).filter(col("id") % 50 === 0).select(
        col("id").as("idx"), concat(lit("upd_"), col("id")).as("caption"),
        lit("fr").as("lang"))
      SnapshotTable.merge(s, upd, out.getPath, "idx", bucketOf)
      SnapshotTable.read(s, out.getPath, verify = true)
        .select(col("idx"), col("caption"), col("lang"))
    }),

    // SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): quantizer
    // clusters → within-cluster cosine edges → duplicate groups → one
    // keeper per group. Same planted near-dups as q28; driver-oracled
    // end-to-end (quantizer training shared with q52's oracle, components
    // via the q51 reachability fixpoint) — see semanticDedupOracleSql.
    "q55_semantic_dedup" -> ((s, dir) => {
      import s.implicits._
      val e = table(s, dir, "embeddings")
      val planted = e.filter(col("vec_id") % 25 === 0)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
        .map { case (id, v) =>
          (id + 1000000L, v.zipWithIndex.map { case (x, i) => if (i == 0) x + 0.01f else x })
        }.toDF("vec_id", "embedding")
      graft.sim.Similarity.semanticDedup(s,
        e.select("vec_id", "embedding").union(planted), minCosine = 0.95)
    }),

    // real .osm.pbf container ingestion (the reference's own input format,
    // osm_reader.rs:83-152): deterministic grid scene → PBF bytes on disk →
    // blob-parallel decode → extract. Rows-only here (DuckDB reads no PBF);
    // byte-level round-trip + extract-parity pinned in PbfSpec.
    "q50_pbf_extract" -> ((s, dir) => {
      val scene = OsmScenes.grid(12, 6)
      // per-process filename: a fixed shared path races when two JVMs (e.g.
      // Bench and Verify) rewrite it while each other's executors read
      // blob ranges from an already-built index
      val tmp = new java.io.File(sys.props("java.io.tmpdir"),
        s"graft_q50_${ProcessHandle.current().pid()}.osm.pbf")
      graft.osm.pbf.PbfSource.writeFixture(tmp.getPath, scene.nodes, scene.ways,
        scene.relations, chunk = 64)
      val (r, w, n) = graft.osm.pbf.PbfSource.readTriple(s, tmp.getPath, partitions = 8)
      BoundaryExtract.extract(s, r, w, n, 8, 8).toDF()
        .select(col("relation_id"), col("name"), size(col("rings")).as("n_rings"))
    }),

    // SQL API: the literal SAME SQL text runs on Spark SQL and DuckDB
    "q44_sql_api" -> ((s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
          |  count(DISTINCT l_partkey) AS n_parts
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)
    }),

    // as-of join (operator Spark lacks): each purchase matched to the most
    // recent prior-or-equal signup of the same user — composed from a
    // union-tag + running last_value window (preference (a): built-ins);
    // the oracle uses DuckDB's NATIVE ASOF JOIN
    "q45_asof_join" -> ((s, dir) => {
      val ev = table(s, dir, "events")
        .withColumn("ts_s", col("ts").cast("timestamp").cast("double"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("ts_s"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id"), col("event_id").as("signup_id"), col("ts_s"))
      val tagged = purchases
        .withColumn("kind", lit(1)).withColumn("signup_id", lit(null).cast("long"))
        .select(col("user_id"), col("ts_s"), col("kind"), col("event_id"), col("signup_id"))
        .unionByName(signups
          .withColumn("kind", lit(0)).withColumn("event_id", lit(null).cast("long"))
          .select(col("user_id"), col("ts_s"), col("kind"), col("event_id"), col("signup_id")))
      // order by (ts, kind): a signup at the same instant sorts BEFORE the
      // purchase → "prior-or-equal" matches ASOF JOIN's >= semantics
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("kind"))
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged
        .withColumn("last_signup", last(col("signup_id"), ignoreNulls = true).over(w))
        .filter(col("kind") === 1 && col("last_signup").isNotNull)
        .select(col("user_id"), col("event_id"), col("last_signup"))
    }),

    // exact n-gram (word-trigram) Jaccard between each doc and its planted
    // near-dup — pure set algebra on both engines (DuckDB oracle)
    "q46_ngram_jaccard" -> ((s, dir) => {
      // fused gram kernel (GramExpr.wordGrams) — identical window algebra
      val grams = array_distinct(graft.text.GramExpr.wordGrams(s, col("text"), 3))
      val g = docsWithPlantedDups(s, dir).select(col("doc_id"), grams.as("grams"))
      val a = g.select(col("doc_id").as("id_a"), col("grams").as("ga"))
      val b = g.select(col("doc_id").as("id_b"), col("grams").as("gb"))
      a.join(b, col("id_b") === col("id_a") + 100000L)
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("ga"), col("gb"))).cast("double") /
            (size(col("ga")) + size(col("gb")) - size(array_intersect(col("ga"), col("gb")))))
            .as("jaccard"))
    }),

    // exact interpolated percentiles (Spark percentile ≡ DuckDB quantile_cont)
    "q47_percentile" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.95)"), 4).as("p95"))
    }),

    // star-schema join: the fact table streams through a CHAIN of
    // broadcast dimension joins (supplier → nation → region + part) and
    // shuffles exactly once, at the final aggregation — the plan shape a
    // 100 TB fact table needs (dims are metadata-sized at any scale).
    // Covers the four otherwise-unused dimension tables.
    "q59_star_join" -> ((s, dir) => {
      val l = table(s, dir, "lineitem")
      val sup = table(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey"))
      val nat = table(s, dir, "nation").select(col("n_nationkey"), col("n_regionkey"))
      val reg = table(s, dir, "region").select(col("r_regionkey"), col("r_name"))
      val prt = table(s, dir, "part").select(col("p_partkey"), col("p_brand"))
      l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .join(broadcast(prt), col("l_partkey") === col("p_partkey"))
        .groupBy(col("r_name"), col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100, 0).cast("long")).as("price_cents"))
    }),

    // cube (full grouping-sets lattice)
    "q48_cube" -> ((s, dir) => {
      table(s, dir, "orders")
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100, 0).cast("long")).as("price_cents"))
        .select(coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("price_cents"))
    }),

    // tile pyramid over assigned images (rows-only; PSNR invariant in sbt test)
    "q32_tile_pyramid" -> ((s, dir) => {
      val imgs = graft.img.ImageTable.generate(s, 200, 8).toDF()
        .withColumn("relation_id", pmod(col("phash"), lit(64)))
      graft.tile.Tiling.tile(s, imgs).toDF()
        .select(col("image_id"), col("relation_id"), col("level"),
          col("tx"), col("ty"), col("tw"), col("th"))
    })
  )

  /** documents ∪ perturbed copies of doc_id%10==0 (id+100000, one word
    * appended) — deterministic planted near-duplicates for dedup queries.
    * Built as a single-scan explode (1 row → 1-or-2 rows), not a
    * self-union: minhashPairs/simhashPairs scan their input three times
    * (signature pass + both verify-join sides), and the union form paid
    * two parquet scans per pass where this pays one. Same rows either way
    * (the DuckDB oracle keeps the UNION spelling).
    */
  /** q106's edge set: the planted 3-out graph PLUS a clique over every
    * 50th doc. The planted clique is definitionally quadratic — it is
    * test scaffolding (k = N/50 nodes), not an engine path; the
    * inequality self-join broadcast-nested-loops the k-row side.
    */
  private def plantedTriEdges(s: SparkSession, dir: String): DataFrame = {
    val ids = table(s, dir, "documents").select(col("doc_id"))
      .filter(col("doc_id") % 50 === 0)
    val cl = ids.select(col("doc_id").as("src"))
      .join(ids.select(col("doc_id").as("dst")), col("src") < col("dst"))
    plantedEdges(s, dir).unionByName(cl)
  }

  /** q113's oracle scaffolding: the Hilbert xy2d level chain unrolled as
    * CTEs with per-level SUFFIXED column names (DuckDB resolves
    * same-name lateral aliases against the source relation — suffixes
    * make the reference unambiguous). Carries the original cell coords
    * (xh, yh) through for the bbox stats. Mirrors [[graft.cell.Hilbert]]
    * level by level.
    */
  private def hilbertCtes(res: Int, from: String): String = {
    val n = 1L << res
    val sb = new StringBuilder(
      s"h0 AS (SELECT x AS x0, y AS y0, CAST(0 AS BIGINT) AS d0, x AS xh, y AS yh FROM $from)")
    var k = 0
    var s = n >> 1
    while (s > 0) {
      val j = k + 1
      sb.append(",\n" +
        s"""h$j AS (SELECT
           |  CASE WHEN (y$k & $s) > 0 THEN x$k
           |       WHEN (x$k & $s) > 0 THEN ${n - 1} - y$k ELSE y$k END AS x$j,
           |  CASE WHEN (y$k & $s) > 0 THEN y$k
           |       WHEN (x$k & $s) > 0 THEN ${n - 1} - x$k ELSE x$k END AS y$j,
           |  d$k + ${s * s} * xor(CASE WHEN (x$k & $s) > 0 THEN 3 ELSE 0 END,
           |                       CASE WHEN (y$k & $s) > 0 THEN 1 ELSE 0 END) AS d$j,
           |  xh, yh
           |  FROM h$k)""".stripMargin)
      k = j; s >>= 1
    }
    sb.toString
  }

  /** q103's pattern — one constant so the Spark query and the oracle's
    * required-trigram list can never drift apart.
    */
  private val TrigramPattern = "merge batch.*part"

  /** Planted CONTAINMENT dups (q104): every 10th doc also appears quoted
    * whole inside a wrapper doc — containment(orig, wrapper) = 1 while
    * Jaccard stays low when the wrapper grows.
    */
  private def docsWithQuotedDups(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(explode(when(col("doc_id") % 10 === 0,
          array(struct(col("doc_id"), col("text")),
            struct((col("doc_id") + 300000L).as("doc_id"),
              concat(lit("quoted wrapper begins "), col("text"),
                lit(" wrapper ends here now")).as("text"))))
        .otherwise(array(struct(col("doc_id"), col("text"))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  private def docsWithPlantedDups(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(explode(when(col("doc_id") % 10 === 0,
          array(struct(col("doc_id"), col("text")),
            struct((col("doc_id") + 100000L).as("doc_id"),
              concat(col("text"), lit(" perturbed")).as("text"))))
        .otherwise(array(struct(col("doc_id"), col("text"))))).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.text").as("text"))

  // ——————————————————————— oracles ———————————————————————

  /** CTE block reproducing ImageTable's splitmix64-derived metadata
    * (w, h, phash per image index) in DuckDB. splitmix64 needs mod-2^64
    * wraparound; DuckDB raises on BIGINT overflow and a 64×64-bit product
    * can overflow even HUGEINT, so multiplication runs on 32-bit limbs in
    * HUGEINT. Yields a `dims(i, w, h, phash)` CTE over `range(0, n)`.
    */
  /** 64×64→low-64 multiply on 32-bit limbs in HUGEINT (DuckDB raises on
    * BIGINT overflow and a full 64×64 product can overflow even HUGEINT).
    */
  private def hugMul(a: String, b: String): String =
    s"((($a % 4294967296::HUGEINT) * ($b % 4294967296::HUGEINT) + " +
      s"((($a % 4294967296::HUGEINT) * ($b // 4294967296::HUGEINT) + " +
      s"($a // 4294967296::HUGEINT) * ($b % 4294967296::HUGEINT)) % 4294967296::HUGEINT) * 4294967296::HUGEINT)" +
      s" % 18446744073709551616::HUGEINT)"

  /** splitmix64's finalizer as a 4-CTE chain `<p>0..<p>3` keyed by `keys`,
    * reading the unsigned seed expression column `seed` from CTE `in`; the
    * mixed value is `<p>3.z`. One definition for every oracle that needs
    * the mix — the chain text exists exactly once.
    */
  private def splitmixChain(p: String, keys: Seq[String], in: String, seed: String): String = {
    val m1 = hugMul("x", "13787848793156543929::HUGEINT")
    val m2 = hugMul("x", "10723151780598845931::HUGEINT")
    val ks = if (keys.isEmpty) "" else keys.mkString("", ", ", ", ")
    s"""${p}0 AS (SELECT $ks($seed + 11400714819323198485::HUGEINT) % 18446744073709551616::HUGEINT AS z FROM $in),
       |${p}1 AS (SELECT $ks$m1 AS z FROM (SELECT ${ks}xor(z, z >> 30) AS x FROM ${p}0)),
       |${p}2 AS (SELECT $ks$m2 AS z FROM (SELECT ${ks}xor(z, z >> 27) AS x FROM ${p}1)),
       |${p}3 AS (SELECT ${ks}xor(z, z >> 31) AS z FROM ${p}2)""".stripMargin
  }

  /** Unsigned HUGEINT → signed BIGINT (two's complement reinterpretation). */
  private def toSigned(e: String): String =
    s"CAST(CASE WHEN $e >= 9223372036854775808::HUGEINT THEN $e - 18446744073709551616::HUGEINT ELSE $e END AS BIGINT)"

  /** q57's oracle: graft.img.Phash.phash64 recomputed relationally for the
    * first 64 corpus images. The DCT basis ships as shortest-round-trip
    * literals in EXPONENT notation — measured pitfall: DuckDB 1.0.0 parses
    * a plain decimal literal through a DECIMAL intermediate and
    * double-rounds (41 of these 256 constants land 1 ulp off the Scala
    * doubles that way), while an e-notation literal parses directly as
    * DOUBLE with correct rounding, which IS bijective on shortest
    * representations (verified: all 256 bit-identical). Every accumulation
    * then replays the kernel's order via list_reduce(... ORDER BY ...), so
    * all 64 phash values are bit-exact by construction, not by margin.
    */
  private def phashOracleSql: String = {
    def dlit(d: Double): String = {
      val s = d.toString
      if (s.contains('E') || s.contains('e')) s else s + "e0"
    }
    val basis = (for (u <- 0 until 8; x <- 0 until 32)
      yield s"($u, $x, ${dlit(graft.img.Phash.COS32(u)(x))})").mkString(", ")
    s"""WITH RECURSIVE pows2(e, v) AS (
       |  SELECT 0, 1::HUGEINT UNION ALL
       |  SELECT e+1, v * 2 FROM pows2 WHERE e < 63),
       |${splitmixDimsCtes(64)},
       |pixhash AS (SELECT i, max(CASE WHEN k='p' THEN z END) AS hz FROM s3 GROUP BY i),
       |cb(u, x, c) AS (VALUES $basis),
       |grid AS (
       |  SELECT d.i, gx.range AS x, gy.range AS y,
       |    (gx.range * d.w) // 32 AS sx, (gy.range * d.h) // 32 AS sy
       |  FROM dims d, range(0, 32) gx, range(0, 32) gy),
       |gray AS (
       |  SELECT g.i, g.x, g.y,
       |    0.299 * CAST((g.sx * 7 + ph.hz % 256) % 256 AS DOUBLE) +
       |    0.587 * CAST((g.sy * 11 + (ph.hz // 256) % 256) % 256 AS DOUBLE) +
       |    0.114 * CAST(((g.sx + g.sy) * 3 + (ph.hz // 65536) % 256) % 256 AS DOUBLE) AS lum
       |  FROM grid g JOIN pixhash ph USING (i)),
       |tmp AS (
       |  SELECT gr.i, cb.u, gr.y,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(gr.lum * cb.c ORDER BY gr.x)),
       |      (a, b) -> a + b) AS t
       |  FROM gray gr JOIN cb ON cb.x = gr.x
       |  GROUP BY gr.i, cb.u, gr.y),
       |f AS (
       |  SELECT t.i, t.u, cv.u AS v,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(t.t * cv.c ORDER BY t.y)),
       |      (a, b) -> a + b) AS fv
       |  FROM tmp t JOIN cb cv ON cv.x = t.y
       |  GROUP BY t.i, t.u, cv.u),
       |m AS (
       |  SELECT i,
       |    list_reduce(list_prepend(0.0::DOUBLE, list(fv ORDER BY v * 8 + u)),
       |      (a, b) -> a + b) / 63.0 AS mean
       |  FROM f WHERE NOT (u = 0 AND v = 0) GROUP BY i),
       |bits AS (
       |  SELECT f.i,
       |    CAST(sum(CASE WHEN f.fv > m.mean THEN p2.v ELSE 0::HUGEINT END) AS HUGEINT) AS ph
       |  FROM f JOIN m USING (i) JOIN pows2 p2 ON p2.e = f.v * 8 + f.u
       |  GROUP BY f.i)
       |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, ${toSigned("ph")} AS phash
       |FROM bits""".stripMargin
  }

  private def splitmixDimsCtes(n: Int): String =
    splitmixDimsCtesFrom(s"SELECT CAST(range AS HUGEINT) AS i FROM range(0, $n)")

  /** [[splitmixDimsCtes]] over an arbitrary id set (q124 refreshes a
    * subset of ids; the dims arithmetic is identical).
    */
  private def splitmixDimsCtesFrom(idsSql: String): String = {
    s"""ids AS ($idsSql),
       |seeds AS (
       |  SELECT i, 'w' AS k, (3*i+1) AS s FROM ids
       |  UNION ALL SELECT i, 'h', (3*i+2) FROM ids
       |  UNION ALL SELECT i, 'p', i FROM ids),
       |${splitmixChain("s", Seq("i", "k"), "seeds", "s")},
       |dims AS (
       |  SELECT i,
       |    CAST(16 + (max(CASE WHEN k='w' THEN z END) & 47::HUGEINT) AS INT) AS w,
       |    CAST(16 + (max(CASE WHEN k='h' THEN z END) & 47::HUGEINT) AS INT) AS h,
       |    CAST(CASE WHEN max(CASE WHEN k='p' THEN z END) >= 9223372036854775808::HUGEINT
       |              THEN max(CASE WHEN k='p' THEN z END) - 18446744073709551616::HUGEINT
       |              ELSE max(CASE WHEN k='p' THEN z END) END AS BIGINT) AS phash
       |  FROM s3 GROUP BY i)""".stripMargin
  }

  /** CTE block reproducing Multimodal.synthAudio's splitmix64-derived WAV
    * sample stream in DuckDB: len(i) = 256 + (splitmix64(i) & 255),
    * sample(i,k) = (splitmix64(i·100000+k) & 65535) − 32768. Yields a
    * `samples(i, len, k, s)` CTE. Exactness note: the per-row squared sum
    * is a sum of integers < 2^42, exactly representable at every partial in
    * an IEEE double, so Spark's double accumulation and DuckDB's agree
    * bit-for-bit and the rounded RMS cannot diverge.
    */
  private def splitmixAudioCtes(n: Int): String = {
    s"""ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range(0, $n)),
       |${splitmixChain("l", Seq("i"), "ids", "i")},
       |lens AS (SELECT i, 256 + CAST(z & 255::HUGEINT AS INT) AS len FROM l3),
       |ks AS (SELECT i, len, unnest(range(len)) AS k FROM lens),
       |${splitmixChain("a", Seq("i", "len", "k"), "ks", "(i * 100000::HUGEINT + CAST(k AS HUGEINT))")},
       |samples AS (SELECT i, len, k, CAST(z & 65535::HUGEINT AS BIGINT) - 32768 AS s FROM a3)""".stripMargin
  }

  /** DuckDB replica of TextOps.winnow over the documents table (k=8, w=4):
    * char-explode → 8-gram polynomial hash (h·31+c from base
    * 1125899906842597, i.e. base·31⁸ + Σc·31^j mod 2^64) → splitmix64 →
    * signed window-min per 4-window → distinct fps per doc. Valid while
    * every doc is ≥ k chars with > w grams after whitespace collapse (all
    * testdata docs are ≥48 chars) AND the text stays in the Basic
    * Multilingual Plane: the kernel hashes UTF-16 code units (charAt)
    * while this replica hashes codepoints — identical for BMP, divergent
    * for supplementary-plane characters. Shorter docs take winnow's edge
    * paths, which this replica intentionally omits. Either violation
    * surfaces as a checker red, never a silent pass. The rightmost-min
    * POSITION rule doesn't affect the fp SET (the fp is the window's min
    * value), so no argmax is needed.
    */
  /** Shared 8-gram rolling-hash derivation over `src(doc_id, text)`:
    * normalize → char codes → 31-polynomial → splitmix chain, ending at
    * `g3(doc_id, g, z)` with the normalized text still reachable as
    * `docs.s`. The gram hash exists ONCE — winnow (q29) and CDC (q63)
    * both build on this prefix, so they can never silently diverge.
    */
  private def gramPolyCtes(src: String): String = {
    // (1125899906842597 · 31^8) mod 2^64
    val head = java.lang.Long.toUnsignedString(1125899906842597L * 852891037441L)
    val pow31 = Array.iterate(1L, 8)(_ * 31L) // 31^0 .. 31^7, exact
    val poly = (0 until 8).map { j =>
      val c = if (j == 0) "c" else s"lead(c, $j) OVER w"
      s"CAST($c AS BIGINT) * ${pow31(7 - j)}"
    }.mkString(" + ")
    s"""docs AS (
       |  SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS s FROM $src),
       |codes AS (
       |  SELECT doc_id, unnest(range(length(s))) AS pos,
       |         unnest(list_transform(range(length(s)), p -> unicode(substr(s, CAST(p+1 AS INT), 1)))) AS c
       |  FROM docs),
       |grams AS (
       |  SELECT doc_id, pos AS g, $poly AS poly
       |  FROM codes WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(c, 7) OVER w IS NOT NULL),
       |${splitmixChain("g", Seq("doc_id", "g"), "grams", s"($head::HUGEINT + CAST(poly AS HUGEINT))")}""".stripMargin
  }

  private def winnowFpCte(src: String = "documents"): String = {
    s"""${gramPolyCtes(src)},
       |hs AS (SELECT doc_id, g, ${toSigned("z")} AS h FROM g3),
       |wins AS (
       |  SELECT doc_id, least(h, lead(h,1) OVER w, lead(h,2) OVER w, lead(h,3) OVER w) AS fp
       |  FROM hs WINDOW w AS (PARTITION BY doc_id ORDER BY g)
       |  QUALIFY lead(h,3) OVER w IS NOT NULL),
       |dfps AS (SELECT DISTINCT doc_id, fp FROM wins)""".stripMargin
  }

  /** DuckDB replica of the ENTIRE MinHash+LSH pipeline over
    * docsWithPlantedDups (Dedup.minhashPairs, threshold 0.5, k=64,
    * bands=16, maxBucket=64): word-trigram shingle hashes (char-level
    * 31-polynomial from base 1125899906842597 over "t₀ t₁ t₂ ", splitmix-
    * mixed), 64-permutation signatures (unsigned min of a·x+b with the
    * same PermA/PermB constants, inlined below), splitmix band keys,
    * bucket pair generation incl. the over-cap star-hub policy, and exact
    * shingle-set Jaccard verification. Validity domain: every doc ≥ 3
    * whitespace tokens (testdata min is 10), BMP-only text (charAt vs
    * codepoints, as in winnowFpCte), gram strings ≤ 511 chars (the pows
    * table's cap — a longer gram would drop from the replica and redden
    * the checker), whitespace limited to Java∩RE2 \s (a U+000B separator
    * splits in Java but not RE2), and a root-locale JVM (Java toLowerCase
    * is locale-sensitive, SQL lower() is not). Every violation surfaces
    * as a checker red, never a silent pass.
    */
  /** Shared CTE chain of the MinHash pipeline replica (pows → c3 band
    * keys + docsh shingle sets) over a caller-supplied `docs2` source —
    * the self-join oracle (q23) and the asymmetric probe oracle (q134)
    * hash identically by construction.
    */
  private def minhashChainCtes(docs2Sql: String): String = {
    import graft.dedup.Dedup.{PermA, PermB}
    def u(l: Long): String = java.lang.Long.toUnsignedString(l)
    val permValues = (0 until 64)
      .map(p => s"($p, ${u(PermA(p))}::HUGEINT, ${u(PermB(p))}::HUGEINT)").mkString(", ")
    val bandTerms = (0 until 4)
      .map(j => hugMul(s"sl[CAST(band*4 + ${j + 1} AS INT)]", s"${u(PermA(j))}::HUGEINT"))
      .mkString(" + ")
    s"""pows(e, v) AS (
       |  SELECT 0, 1::HUGEINT UNION ALL
       |  SELECT e+1, (v * 31) % 18446744073709551616::HUGEINT FROM pows WHERE e < 511),
       |docs2 AS ($docs2Sql),
       |toks AS (
       |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ws
       |  FROM docs2),
       |grams AS (
       |  SELECT doc_id, unnest(range(len(ws) - 2)) AS gi,
       |    unnest(list_transform(range(len(ws) - 2),
       |      i -> ws[CAST(i+1 AS INT)] || ' ' || ws[CAST(i+2 AS INT)] || ' ' || ws[CAST(i+3 AS INT)] || ' ')) AS gs
       |  FROM toks),
       |chars AS (
       |  SELECT doc_id, gi, length(gs) AS glen, unnest(range(length(gs))) AS j,
       |    unnest(list_transform(range(length(gs)), p -> unicode(substr(gs, CAST(p+1 AS INT), 1)))) AS c
       |  FROM grams),
       |polysum AS (
       |  SELECT doc_id, gi, max(glen) AS glen,
       |    CAST(sum(CAST(c AS HUGEINT) * pw.v) % 18446744073709551616::HUGEINT AS HUGEINT) AS psum
       |  FROM chars JOIN pows pw ON pw.e = glen - 1 - j
       |  GROUP BY doc_id, gi),
       |h0 AS (
       |  SELECT doc_id, gi,
       |    (${hugMul("1125899906842597::HUGEINT", "pw.v")} + psum) % 18446744073709551616::HUGEINT AS hh
       |  FROM polysum JOIN pows pw ON pw.e = glen),
       |${splitmixChain("x", Seq("doc_id", "gi"), "h0", "hh")},
       |shset AS (SELECT DISTINCT doc_id, z FROM x3),
       |perms(p, a, b) AS (VALUES $permValues),
       |sigs AS (
       |  SELECT doc_id, p, min((${hugMul("a", "z")} + b) % 18446744073709551616::HUGEINT) AS s
       |  FROM shset CROSS JOIN perms GROUP BY doc_id, p),
       |persig AS (SELECT doc_id, list(s ORDER BY p) AS sl FROM sigs GROUP BY doc_id),
       |bandacc AS (
       |  SELECT doc_id, band, (CAST(band AS HUGEINT) + $bandTerms) % 18446744073709551616::HUGEINT AS z
       |  FROM (SELECT doc_id, unnest(range(16)) AS band, sl FROM persig)),
       |${splitmixChain("c", Seq("doc_id", "band"), "bandacc", "z")},
       |docsh AS (SELECT doc_id, list(z) AS sh FROM shset GROUP BY doc_id)""".stripMargin
  }

  /** The LSH-bucket → capped-pair-gen → exact-Jaccard-verify tail over
    * the minhashChainCtes outputs (cap 64, star hub above it) — ONE copy
    * shared by the q23 and q137 oracles, factored for the same
    * no-drift reason as minhashChainCtes itself.
    */
  private def minhashVerifyCtes: String =
    """buckets AS (
      |  SELECT band, z AS bkey, list_sort(list(doc_id)) AS ids
      |  FROM c3 GROUP BY band, z HAVING count(*) >= 2),
      |pairs0 AS (
      |  SELECT DISTINCT pr.id_a, pr.id_b FROM buckets,
      |  UNNEST(CASE WHEN len(ids) <= 64 THEN
      |    flatten(list_transform(range(len(ids)), i ->
      |      list_transform(range(i+1, len(ids)), j ->
      |        {'id_a': ids[CAST(i+1 AS INT)], 'id_b': ids[CAST(j+1 AS INT)]})))
      |  ELSE list_transform(range(1, len(ids)), j ->
      |    {'id_a': ids[1], 'id_b': ids[CAST(j+1 AS INT)]})
      |  END) AS t(pr)),
      |verified AS (
      |  SELECT p.id_a, p.id_b,
      |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |  FROM pairs0 p JOIN docsh a ON a.doc_id = p.id_a JOIN docsh b ON b.doc_id = p.id_b)""".stripMargin

  private def minhashOracleSql: String = {
    s"""WITH RECURSIVE ${minhashChainCtes(
      """SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text || ' perturbed' FROM documents WHERE doc_id % 10 = 0""".stripMargin)},
       |${minhashVerifyCtes}
       |SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.5""".stripMargin
  }

  /** q134's oracle: the identical hash chain over corpus ∪ delta, but
    * pair generation is ASYMMETRIC — per bucket, delta members cross
    * only the corpus members (capped to the min-id representative over
    * 64), never corpus×corpus, then the exact shingle-Jaccard verify.
    */
  private def minhashProbeOracleSql: String = {
    s"""WITH RECURSIVE ${minhashChainCtes(
      """SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 200000, text || ' perturbed' FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 300000,
        |    'novel_' || doc_id || ' alpha beta gamma delta epsilon zeta'
        |  FROM documents WHERE doc_id % 7 = 3""".stripMargin)},
       |buckets AS (
       |  SELECT band, z AS bkey,
       |    list_sort(list(doc_id) FILTER (doc_id < 200000)) AS cids,
       |    list(doc_id) FILTER (doc_id >= 200000) AS nids
       |  FROM c3 GROUP BY band, z),
       |hot AS (
       |  SELECT CASE WHEN len(cids) <= 64 THEN cids ELSE [cids[1]] END AS reps, nids
       |  FROM buckets WHERE len(cids) >= 1 AND len(nids) >= 1),
       |pairs0 AS (
       |  SELECT DISTINCT t2.nid AS new_id, t1.cid AS existing_id
       |  FROM hot, UNNEST(reps) AS t1(cid), UNNEST(nids) AS t2(nid)),
       |verified AS (
       |  SELECT p.new_id, p.existing_id,
       |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
       |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
       |  FROM pairs0 p JOIN docsh a ON a.doc_id = p.new_id
       |    JOIN docsh b ON b.doc_id = p.existing_id)
       |SELECT new_id, existing_id, jaccard FROM verified WHERE jaccard >= 0.5""".stripMargin
  }

  /** q137's oracle: both legs are the already-pinned replicas composed —
    * the caption leg is the q23 minhash chain over the four caption
    * tiers; the image leg is q91's all-pairs `bit_count` form of the
    * banded Hamming pipeline (result-identical: 4×16-bit banding has
    * total recall at Hamming ≤ 3 and no bucket cap triggers at this
    * corpus size) over the same splitmix fp construction the Spark side
    * builds; agreement is the inner join on the canonical pair key.
    */
  private def multimodalOracleSql: String = {
    s"""WITH RECURSIVE ${minhashChainCtes(
      """SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 100000, text || ' perturbed' FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 200000,
        |    'qq' || doc_id || ' ww' || doc_id || ' ee' || doc_id || ' rr' || doc_id || ' tt' || doc_id
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL SELECT doc_id + 300000, text || ' reworded' FROM documents WHERE doc_id % 10 = 0""".stripMargin)},
       |${minhashVerifyCtes},
       |seeds AS (
       |  SELECT doc_id AS i, CAST(doc_id AS HUGEINT) AS seed
       |  FROM documents WHERE doc_id % 10 = 0
       |  UNION ALL SELECT doc_id + 300000, CAST(doc_id + 999983 AS HUGEINT)
       |  FROM documents WHERE doc_id % 10 = 0),
       |${splitmixChain("sp", Seq("i"), "seeds", "seed")},
       |mixed AS (SELECT i, ${toSigned("z")} AS fp FROM sp3),
       |fps AS (
       |  SELECT i AS id, fp FROM mixed WHERE i < 300000
       |  UNION ALL SELECT i + 100000,
       |    xor(fp, CAST(1 AS BIGINT) << CAST(i % 60 AS INT))
       |  FROM mixed WHERE i < 300000
       |  UNION ALL SELECT i + 200000,
       |    xor(fp, CAST(1 AS BIGINT) << CAST((i + 1) % 60 AS INT))
       |  FROM mixed WHERE i < 300000
       |  UNION ALL SELECT i AS id, fp FROM mixed WHERE i >= 300000),
       |img_pairs AS (
       |  SELECT a.id AS id_a, b.id AS id_b,
       |    CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
       |  FROM fps a JOIN fps b ON a.id < b.id
       |  WHERE bit_count(xor(a.fp, b.fp)) <= 3)
       |SELECT e.id_a, e.id_b, e.hamming, v.jaccard
       |FROM img_pairs e JOIN verified v ON v.id_a = e.id_a AND v.id_b = e.id_b
       |WHERE v.jaccard >= 0.5""".stripMargin
  }

  /** DuckDB replica of the SimHash pipeline (Dedup.simhashPairs,
    * maxHamming=3, 4×16-bit bands, maxBucket=64): per-word char-polynomial
    * hashes splitmix-mixed, ±1 bit votes, fingerprint assembly, band
    * bucketing, capped pair generation (star hub over the cap), Hamming
    * verify. Same validity domain as minhashOracleSql.
    */
  private def simhashOracleSql: String = {
    s"""WITH RECURSIVE pows(e, v) AS (
       |  SELECT 0, 1::HUGEINT UNION ALL
       |  SELECT e+1, (v * 31) % 18446744073709551616::HUGEINT FROM pows WHERE e < 511),
       |pows2(e, v) AS (
       |  SELECT 0, 1::HUGEINT UNION ALL
       |  SELECT e+1, v * 2 FROM pows2 WHERE e < 63),
       |docs2 AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 100000, text || ' perturbed' FROM documents WHERE doc_id % 10 = 0),
       |words AS (
       |  SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS wi
       |  FROM (SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS ws
       |        FROM docs2)),
       |chars AS (
       |  SELECT doc_id, wi, length(w) AS wlen, unnest(range(length(w))) AS j,
       |    unnest(list_transform(range(length(w)), p -> unicode(substr(w, CAST(p+1 AS INT), 1)))) AS c
       |  FROM words),
       |polysum AS (
       |  SELECT doc_id, wi, max(wlen) AS wlen,
       |    CAST(sum(CAST(c AS HUGEINT) * pw.v) % 18446744073709551616::HUGEINT AS HUGEINT) AS psum
       |  FROM chars JOIN pows pw ON pw.e = wlen - 1 - j
       |  GROUP BY doc_id, wi),
       |h0 AS (
       |  SELECT doc_id, wi, (${hugMul("1125899906842597::HUGEINT", "pw.v")} + psum) % 18446744073709551616::HUGEINT AS hh
       |  FROM polysum JOIN pows pw ON pw.e = wlen),
       |${splitmixChain("x", Seq("doc_id", "wi"), "h0", "hh")},
       |votes AS (
       |  SELECT doc_id, b.e AS bit,
       |    sum(CASE WHEN (z // b.v) % 2 = 1 THEN 1 ELSE -1 END) AS vote
       |  FROM x3, pows2 b
       |  WHERE b.e < 64
       |  GROUP BY doc_id, b.e),
       |fps AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN vote > 0 THEN p2.v ELSE 0::HUGEINT END) AS HUGEINT) AS fp
       |  FROM votes JOIN pows2 p2 ON p2.e = bit
       |  GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, fp, b.e AS band, CAST((fp // pb.v) % 65536 AS INT) AS bkey
       |  FROM fps, pows2 b JOIN pows2 pb ON pb.e = b.e * 16
       |  WHERE b.e < 4),
       |buckets AS (
       |  SELECT band, bkey, list_sort(list({'id': doc_id, 'fp': fp})) AS xs
       |  FROM banded GROUP BY band, bkey HAVING count(*) >= 2),
       |pairs0 AS (
       |  SELECT DISTINCT pr.id_a, pr.id_b, pr.fa, pr.fb FROM buckets,
       |  ${cappedPairsSql(64, "fp", "fa", "fb")}),
       |ham AS (
       |  SELECT id_a, id_b,
       |    bit_count(xor(
       |      CAST(CASE WHEN fa >= 9223372036854775808::HUGEINT THEN fa - 18446744073709551616::HUGEINT ELSE fa END AS BIGINT),
       |      CAST(CASE WHEN fb >= 9223372036854775808::HUGEINT THEN fb - 18446744073709551616::HUGEINT ELSE fb END AS BIGINT))) AS hamming
       |  FROM pairs0)
       |SELECT id_a, id_b, CAST(min(hamming) AS INT) AS hamming
       |FROM ham WHERE hamming <= 3 GROUP BY id_a, id_b""".stripMargin
  }

  /** Capped within-bucket pair expansion over a sorted `xs` struct list —
    * ≤ cap: all (i<j) pairs; over cap: star pairs against the min-id hub.
    * This is the Spark-side capped-bucket policy (Dedup / Similarity)
    * replicated ONCE for every oracle that buckets then pairs; `payload`
    * names the struct field carried per side and `pa`/`pb` its output
    * aliases (e.g. "fp" → fa/fb, "e" → ea/eb).
    */
  private def cappedPairsSql(cap: Int, payload: String, pa: String, pb: String): String =
    s"""UNNEST(CASE WHEN len(xs) <= $cap THEN
       |    flatten(list_transform(range(len(xs)), i ->
       |      list_transform(range(i+1, len(xs)), j ->
       |        {'id_a': xs[CAST(i+1 AS INT)].id, 'id_b': xs[CAST(j+1 AS INT)].id,
       |          '$pa': xs[CAST(i+1 AS INT)].$payload, '$pb': xs[CAST(j+1 AS INT)].$payload})))
       |  ELSE list_transform(range(1, len(xs)), j ->
       |    {'id_a': xs[1].id, 'id_b': xs[CAST(j+1 AS INT)].id, '$pa': xs[1].$payload, '$pb': xs[CAST(j+1 AS INT)].$payload})
       |  END) AS t(pr)""".stripMargin

  /** Sign-LSH signature CTE over a `vecs(vec_id, embedding)` relation:
    * Similarity.signature's 16 hyperplane sign decisions, each a
    * SEQUENTIAL double sum over the 64 dims — DuckDB's list_reduce
    * reproduces the array-order accumulation, and the hyperplane
    * components ship as the same signed-long-over-Long.MaxValue division
    * both engines round identically, so the float sign decisions are
    * bit-exact (verified per-vector against the Scala kernel). dim is
    * pinned to the testdata embedding width (64); a different width would
    * surface as a checker red.
    */
  private def signLshSigCte(dim: Int = 64, nBits: Int = 16): String = {
    val hyp = (for (b <- 0 until nBits; d <- 0 until dim) yield
      s"($b, $d, ${graft.img.ImageTable.splitmix64(b.toLong * 131071 + d * 524287 + 17)}::DOUBLE / 9223372036854775807)")
      .mkString(", ")
    s"""hyper(b, d, hv) AS (VALUES $hyp),
       |sigterms AS (
       |  SELECT vec_id, b, d, CAST(embedding[CAST(d+1 AS INT)] AS DOUBLE) * hv AS t
       |  FROM vecs CROSS JOIN hyper),
       |sigaccs AS (
       |  SELECT vec_id, b, list_reduce(list_prepend(0.0::DOUBLE, list(t ORDER BY d)), (acc, x) -> acc + x) AS acc
       |  FROM sigterms GROUP BY vec_id, b),
       |sigs AS (
       |  SELECT vec_id, CAST(sum(CASE WHEN acc > 0 THEN power(2, b) ELSE 0 END) AS BIGINT) AS sig
       |  FROM sigaccs GROUP BY vec_id)""".stripMargin
  }

  /** Sequential (array-order) double sum over dims — CosineKernel's
    * accumulation order, which keeps the doubles bit-identical.
    */
  private def seqSumSql(expr: String, dim: Int = 64): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range($dim), i -> $expr)), (acc, x) -> acc + x)"

  private def cosineSql(a: String, b: String): String = {
    val dot = seqSumSql(s"CAST($a[CAST(i+1 AS INT)] AS DOUBLE) * CAST($b[CAST(i+1 AS INT)] AS DOUBLE)")
    val na = seqSumSql(s"CAST($a[CAST(i+1 AS INT)] AS DOUBLE) * CAST($a[CAST(i+1 AS INT)] AS DOUBLE)")
    val nb = seqSumSql(s"CAST($b[CAST(i+1 AS INT)] AS DOUBLE) * CAST($b[CAST(i+1 AS INT)] AS DOUBLE)")
    s"$dot / (sqrt($na) * sqrt($nb))"
  }

  /** q30's full sign-LSH ANN pipeline: signatures → 4×4-bit band join →
    * exact cosine rerank → per-query top-5.
    */
  private def lshAnnOracleSql: String =
    s"""WITH vecs AS (SELECT vec_id, embedding FROM embeddings),
       |${signLshSigCte()},
       |bandsrc(bi, dv) AS (VALUES (0, 1), (1, 16), (2, 256), (3, 4096)),
       |banded AS (
       |  SELECT s.vec_id, e.embedding, bi, CAST((sig // dv) % 16 AS INT) AS bk
       |  FROM sigs s JOIN vecs e USING (vec_id) CROSS JOIN bandsrc),
       |cands AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    q.embedding AS qe, c.embedding AS ce
       |  FROM banded q JOIN banded c ON q.bi = c.bi AND q.bk = c.bk
       |  WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id),
       |cos AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("qe", "ce")} AS cosine FROM cands),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM cos)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** q28's embedding near-dup pipeline: planted nudged copies, full-sig
    * buckets, capped pairs, cosine ≥ 0.95 with cross-band max-dedup.
    */
  private def embedNearDupOracleSql: String =
    s"""WITH vecs AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(range(len(embedding)), i -> CASE WHEN i = 0
       |      THEN CAST(embedding[1] + 0.01::FLOAT AS FLOAT) ELSE embedding[CAST(i+1 AS INT)] END)
       |  FROM embeddings WHERE vec_id % 25 = 0),
       |${signLshSigCte()},
       |buckets AS (
       |  SELECT sig, list_sort(list({'id': s.vec_id, 'e': v.embedding})) AS xs
       |  FROM sigs s JOIN vecs v USING (vec_id)
       |  GROUP BY sig HAVING count(*) >= 2),
       |pairs0 AS (
       |  SELECT DISTINCT pr.id_a, pr.id_b, pr.ea, pr.eb FROM buckets,
       |  ${cappedPairsSql(64, "e", "ea", "eb")}),
       |cos AS (
       |  SELECT id_a, id_b, ${cosineSql("ea", "eb")} AS cosine FROM pairs0)
       |SELECT id_a, id_b, max(cosine) AS cosine FROM cos WHERE cosine >= 0.95
       |GROUP BY id_a, id_b""".stripMargin

  /** q52's IVF-flat ANN replicated end-to-end, INCLUDING quantizer
    * training: the deterministic sample (smallest signed splitmix64(id),
    * tie on id), init = first nlist sample vectors, and three unrolled
    * Lloyd iterations whose centroid means accumulate per-dimension in
    * SAMPLE ORDER — matching Similarity.kmeansDriver's loop exactly, so
    * every double is bit-identical. Assignment argmin = first minimum by
    * (distance, ci), which the window rank's (d, ci) order reproduces.
    * Pinned to q52's parameters (nlist=16, nprobe=4, iters=3, dim=64,
    * sample cap 1024); a parameter change surfaces as a checker red.
    */
  private def ivfDistSql(v: String, c: String): String = seqSumSql(
    s"(CAST($v[CAST(i+1 AS INT)] AS DOUBLE) - $c[CAST(i+1 AS INT)]) * " +
      s"(CAST($v[CAST(i+1 AS INT)] AS DOUBLE) - $c[CAST(i+1 AS INT)])")

  private def ivfIterationSql(k: Int): String =
    s"""dists$k AS (
       |  SELECT s.pos, s.vec_id, s.embedding, c.ci,
       |    row_number() OVER (PARTITION BY s.pos ORDER BY ${ivfDistSql("s.embedding", "c.cl")}, c.ci) AS rk
       |  FROM sample s CROSS JOIN cents${k - 1} c),
       |assign$k AS (SELECT pos, vec_id, embedding, ci AS cid FROM dists$k WHERE rk = 1),
       |sums$k AS (
       |  SELECT cid, d.i AS di,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(CAST(embedding[CAST(d.i+1 AS INT)] AS DOUBLE) ORDER BY pos)), (acc, x) -> acc + x) AS s,
       |    count(*) AS n
       |  FROM assign$k, (SELECT unnest(range(64)) AS i) d
       |  GROUP BY cid, d.i),
       |cents$k AS (
       |  SELECT cid AS ci, list(s / greatest(CAST(n AS DOUBLE), 1.0) ORDER BY di) AS cl
       |  FROM sums$k GROUP BY cid)""".stripMargin

  /** Deterministic IVF quantizer training + full-corpus assignment over a
    * `vecs(vec_id, embedding)` relation — the relational twin of
    * Similarity.sampleCorpus + kmeansDriver + nearestCidOf, shared by the
    * q52/q54 ANN oracles and q55's semantic dedup so the quantizer
    * replication exists ONCE. Ends at corpusassign(vec_id, e, cid).
    */
  /** Training always reads `vecs` (the quantizer's training corpus);
    * `assignSrc` parameterizes which corpus the frozen centroids then
    * assign — q136's index refresh scores a MUTATED corpus against the
    * quantizer trained on the original (frozen-quantizer semantics). */
  private def ivfTrainAssignCte(assignSrc: String = "vecs"): String =
    s"""${splitmixChain("h", Seq("vec_id"), "vecs", "CAST(vec_id AS HUGEINT)")},
       |hs AS (SELECT vec_id, ${toSigned("z")} AS h FROM h3),
       |sample AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS pos, v.vec_id, v.embedding
       |  FROM hs JOIN vecs v USING (vec_id)
       |  ORDER BY h, vec_id LIMIT 1024),
       |cents0 AS (
       |  SELECT CAST(pos AS INT) AS ci, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cl
       |  FROM sample WHERE pos < 16),
       |${ivfIterationSql(1)},
       |${ivfIterationSql(2)},
       |${ivfIterationSql(3)},
       |cadist AS (
       |  SELECT v.vec_id, v.embedding AS e, c.ci,
       |    row_number() OVER (PARTITION BY v.vec_id ORDER BY ${ivfDistSql("v.embedding", "c.cl")}, c.ci) AS rk
       |  FROM $assignSrc v CROSS JOIN cents3 c),
       |corpusassign AS (SELECT vec_id, e, ci AS cid FROM cadist WHERE rk = 1)""".stripMargin

  /** q65's PQ-ADC oracle: per-subspace 8-dim k-means (same sample, same
    * Lloyd loop as the IVF replica, on embedding slices), corpus code
    * assignment per subspace (first-min by (dist, ci)), and the ADC score
    * as the two-level sum Spark computes — LUT cells are inner
    * dimension-order sums, the total folds cells in subspace order. All
    * FP op orders match `Similarity.pqTopK` exactly. Pinned to q65's
    * parameters (m=8, ksub=16, iters=3, dim=64, sample cap 1024).
    */
  private def pqSubDistSql(v: String, c: String, off: Int): String = seqSumSql(
    s"(CAST($v[CAST($off+i+1 AS INT)] AS DOUBLE) - $c[CAST(i+1 AS INT)]) * " +
      s"(CAST($v[CAST($off+i+1 AS INT)] AS DOUBLE) - $c[CAST(i+1 AS INT)])", 8)

  private def pqIterationSql(j: Int, k: Int, trainSrc: String, vcol: String): String = {
    val off = j * 8
    s"""d${j}_$k AS (
       |  SELECT s.pos, s.$vcol, c.ci,
       |    row_number() OVER (PARTITION BY s.pos
       |      ORDER BY ${pqSubDistSql(s"s.$vcol", "c.cl", off)}, c.ci) AS rk
       |  FROM $trainSrc s CROSS JOIN cents${j}_${k - 1} c),
       |a${j}_$k AS (SELECT pos, $vcol, ci AS cid FROM d${j}_$k WHERE rk = 1),
       |s${j}_$k AS (
       |  SELECT cid, d.i AS di,
       |    list_reduce(list_prepend(0.0::DOUBLE,
       |      list(CAST($vcol[CAST($off+d.i+1 AS INT)] AS DOUBLE) ORDER BY pos)),
       |      (acc, x) -> acc + x) AS s,
       |    count(*) AS n
       |  FROM a${j}_$k, (SELECT unnest(range(8)) AS i) d
       |  GROUP BY cid, d.i),
       |cents${j}_$k AS (
       |  SELECT cid AS ci, list(s / greatest(CAST(n AS DOUBLE), 1.0) ORDER BY di) AS cl
       |  FROM s${j}_$k GROUP BY cid)""".stripMargin
  }

  /** All 8 sub-quantizers: init from the first ksub train rows, 3 Lloyd
    * iterations over `trainSrc(pos, trainCol)` slices, then per-subspace
    * corpus codes over `encodeSrc(vec_id, encodeCol)` — shared by the PQ
    * (raw vectors) and IVFPQ (residuals) oracles.
    */
  private def pqSubspacesSql(trainSrc: String, trainCol: String,
      encodeSrc: String, encodeCol: String): String =
    (0 until 8).map { j =>
      val off = j * 8
      val init =
        s"""cents${j}_0 AS (
           |  SELECT CAST(pos AS INT) AS ci,
           |    list_transform(range(8), i -> CAST($trainCol[CAST($off+i+1 AS INT)] AS DOUBLE)) AS cl
           |  FROM $trainSrc WHERE pos < 16)""".stripMargin
      val iters = (1 to 3).map(k => pqIterationSql(j, k, trainSrc, trainCol)).mkString(",\n")
      val code =
        s"""cd$j AS (
           |  SELECT v.vec_id, c.ci,
           |    row_number() OVER (PARTITION BY v.vec_id
           |      ORDER BY ${pqSubDistSql(s"v.$encodeCol", "c.cl", off)}, c.ci) AS rk
           |  FROM $encodeSrc v CROSS JOIN cents${j}_3 c),
           |code$j AS (SELECT vec_id, ci AS cid FROM cd$j WHERE rk = 1)""".stripMargin
      s"$init,\n$iters,\n$code"
    }.mkString(",\n")

  private def pqOracleSql: String = {
    val subspaces = pqSubspacesSql("sample", "embedding", "vecs", "embedding")
    val lutCells = (0 until 8).map(j => pqSubDistSql("p.qe", s"cb$j.cl", j * 8))
      .mkString(",\n      ")
    val codeJoins = (0 until 8).map(j =>
      s"JOIN code$j k$j ON k$j.vec_id = p.neighbor_id JOIN cents${j}_3 cb$j ON cb$j.ci = k$j.cid")
      .mkString("\n  ")
    s"""WITH vecs AS (SELECT vec_id, embedding FROM embeddings),
       |${splitmixChain("h", Seq("vec_id"), "vecs", "CAST(vec_id AS HUGEINT)")},
       |hs AS (SELECT vec_id, ${toSigned("z")} AS h FROM h3),
       |sample AS (
       |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS pos, v.vec_id, v.embedding
       |  FROM hs JOIN vecs v USING (vec_id)
       |  ORDER BY h, vec_id LIMIT 1024),
       |$subspaces,
       |pairs AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS qe, n.vec_id AS neighbor_id
       |  FROM vecs q, vecs n WHERE q.vec_id < 20 AND q.vec_id <> n.vec_id),
       |scored AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    list_reduce(list_prepend(0.0::DOUBLE, [
       |      $lutCells]), (acc, x) -> acc + x) AS adist
       |  FROM pairs p
       |  $codeJoins),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, adist FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** q66's IVFADC oracle: coarse quantizer + corpus assignment straight
    * from [[ivfTrainAssignCte]] (the SAME replica q52/q54/q55 use),
    * float-cast residuals on both the sample (sub-quantizer training) and
    * the corpus (encoding), the shared [[pqSubspacesSql]] trainings over
    * residual slices, nprobe-probe selection by (distance, ci), and the
    * two-level ADC sum over the query's per-probe residual. Every cast
    * and fold order matches `Similarity.ivfpqTopK`.
    */
  private def ivfpqOracleSql: String = {
    def resTransform(v: String, c: String): String =
      s"list_transform(range(64), i -> CAST(CAST($v[CAST(i+1 AS INT)] AS DOUBLE) - $c[CAST(i+1 AS INT)] AS FLOAT))"
    val lutCells = (0 until 8).map(j => pqSubDistSql("p.qr", s"cb$j.cl", j * 8))
      .mkString(",\n      ")
    val codeJoins = (0 until 8).map(j =>
      s"JOIN code$j k$j ON k$j.vec_id = p.neighbor_id JOIN cents${j}_3 cb$j ON cb$j.ci = k$j.cid")
      .mkString("\n  ")
    s"""WITH vecs AS (SELECT vec_id, embedding FROM embeddings),
       |${ivfTrainAssignCte()},
       |sad AS (
       |  SELECT s.pos, s.embedding, c.ci,
       |    row_number() OVER (PARTITION BY s.pos
       |      ORDER BY ${ivfDistSql("s.embedding", "c.cl")}, c.ci) AS rk
       |  FROM sample s CROSS JOIN cents3 c),
       |sres AS (
       |  SELECT sa.pos, ${resTransform("sa.embedding", "c.cl")} AS re
       |  FROM (SELECT pos, embedding, ci FROM sad WHERE rk = 1) sa
       |  JOIN cents3 c ON c.ci = sa.ci),
       |rvec AS (
       |  SELECT ca.vec_id, ca.cid, ${resTransform("ca.e", "c.cl")} AS re
       |  FROM corpusassign ca JOIN cents3 c ON c.ci = ca.cid),
       |${pqSubspacesSql("sres", "re", "rvec", "re")},
       |qp AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS qe, c.ci,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${ivfDistSql("q.embedding", "c.cl")}, c.ci) AS rk
       |  FROM vecs q CROSS JOIN cents3 c WHERE q.vec_id < 20),
       |qres AS (
       |  SELECT qp.query_id, qp.ci AS cid, ${resTransform("qp.qe", "c.cl")} AS qr
       |  FROM qp JOIN cents3 c ON c.ci = qp.ci WHERE qp.rk <= 4),
       |pairs AS (
       |  SELECT qr.query_id, qr.qr, r.vec_id AS neighbor_id
       |  FROM qres qr JOIN rvec r ON r.cid = qr.cid
       |  WHERE qr.query_id <> r.vec_id),
       |scored AS (
       |  SELECT p.query_id, p.neighbor_id,
       |    list_reduce(list_prepend(0.0::DOUBLE, [
       |      $lutCells]), (acc, x) -> acc + x) AS adist
       |  FROM pairs p
       |  $codeJoins),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adist, neighbor_id) AS INT) AS rank
       |  FROM scored)
       |SELECT query_id, neighbor_id, rank, adist FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** q27's exact-kNN oracle, shared with q89's recall eval. */
  /** The q51 fuzzy-dedup fixture + cluster chain, shared with q269's
    * survivorship: planted 3-tier perturbations, word-trigram sets
    * built with the SAME list algebra as the DuckDB oracle (split on
    * single space, 1-based 3-slices, distinct — the fused gram kernel,
    * one scalar loop per doc instead of an interpreted lambda per
    * window) so the ≥ 0.5 Jaccard edge decision cannot diverge on
    * tokenization. Returns (tiers(doc_id, text), cc(id, component)).
    */
  private def fuzzyClusterChain(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs0 = table(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text"))
    def tier(k: Int, suffix: String) = docs0.select(
      (col("doc_id") + k * 100000L).as("doc_id"),
      concat(col("text"), lit(suffix)).as("text"))
    val tiers = docs0.union(tier(1, " perturbed")).union(tier(2, " perturbed perturbed"))
    def grams(c: org.apache.spark.sql.Column) =
      array_distinct(graft.text.GramExpr.wordGrams(s, c, 3))
    val cand = tiers.select(col("doc_id").as("src"), grams(col("text")).as("ga"))
      .join(tiers.select(col("doc_id").as("dst"), grams(col("text")).as("gb")),
        col("dst") === col("src") + 100000L)
    val inter = size(array_intersect(col("ga"), col("gb"))).cast("double")
    val edges = cand
      .filter(inter / (size(col("ga")) + size(col("gb")) - inter) >= 0.5)
      .select(col("src"), col("dst"))
    (tiers, graft.dedup.Dedup.connectedComponents(s, edges))
  }

  /** q244's clustering chain, reused by q259's evaluation: mutual
    * cosine top-5 edges over vec_id < 150, connected components,
    * singletons labeled by themselves. Returns (vec_id, cluster).
    */
  private def mutualKnnClusters(s: SparkSession, dir: String): DataFrame = {
    val e = table(s, dir, "embeddings").filter(col("vec_id") < 150)
    val knn = graft.sim.Similarity.bruteForceTopK(e, e, k = 5)
      .select(col("query_id").as("a"), col("neighbor_id").as("b"))
    val mutual = knn
      .join(knn.select(col("b").as("a"), col("a").as("b")),
        Seq("a", "b"), "left_semi")
      .filter(col("a") < col("b"))
    val cc = graft.dedup.Dedup.connectedComponents(s,
      mutual.select(col("a").as("src"), col("b").as("dst")))
    e.select(col("vec_id"))
      .join(cc, col("vec_id") === col("id"), "left")
      .select(col("vec_id"),
        coalesce(col("component"), col("vec_id")).as("cluster"))
  }

  /** q264's fixture: an admin-nesting hierarchy of axis-aligned
    * rectangles at levels 2/4/6/8 (country → state → county → city),
    * each strictly inside its parent — (id, level, la0, lo0, la1, lo1).
    */
  private val nestedRects: Seq[(Long, Long, Double, Double, Double, Double)] =
    Seq(
      (1L, 2L, 0.0, 0.0, 40.0, 40.0), (2L, 2L, 50.0, 0.0, 90.0, 40.0),
      (11L, 4L, 2.0, 2.0, 18.0, 38.0), (12L, 4L, 22.0, 2.0, 38.0, 38.0),
      (21L, 4L, 52.0, 2.0, 88.0, 38.0),
      (111L, 6L, 4.0, 4.0, 8.0, 20.0), (121L, 6L, 24.0, 4.0, 30.0, 20.0),
      (211L, 6L, 54.0, 4.0, 60.0, 20.0),
      (1111L, 8L, 5.0, 5.0, 6.0, 10.0))

  private def nestedPolys: Seq[PolygonRow] =
    nestedRects.map { case (id, lvl, la0, lo0, la1, lo1) =>
      PolygonRow(s"admin_$id", Seq(Seq(
        Pt(la0.toFloat, lo0.toFloat), Pt(la0.toFloat, lo1.toFloat),
        Pt(la1.toFloat, lo1.toFloat), Pt(la1.toFloat, lo0.toFloat))), id, lvl)
    }

  /** q256's fixture: three disjoint zone graphs (nodes z·100 + 0..29),
    * each a ring (i, i+1 mod 30) + chords (i, i+7 mod 30) for i ≡ 0
    * (mod 3) + star spokes (0, i) for i ≡ 2 (mod 5); the weight is a
    * deterministic hash of the NORMALIZED endpoint pair, so parallel
    * constructions collapse before the algorithm sees them.
    */
  private lazy val mstFixtureEdges: Seq[(Long, Long, Long)] = {
    val raw = for {
      z <- 0L until 3L
      i <- 0L until 30L
      (u, v) <- Seq((i, (i + 1) % 30)) ++
        (if (i % 3 == 0) Seq((i, (i + 7) % 30)) else Nil) ++
        (if (i % 5 == 2) Seq((0L, i)) else Nil)
    } yield {
      val a = math.min(z * 100 + u, z * 100 + v)
      val b = math.max(z * 100 + u, z * 100 + v)
      (a, b, 1L + (a * 7919 + b * 104729) % 997)
    }
    raw.distinct
  }

  /** Scalar Kruskal under the same (w, a, b) order — q256's oracle,
    * computed once at oracle-construction time (the closed-form-oracle
    * pattern of q50): an independent algorithm, not a replay.
    */
  private lazy val mstOracleRows: Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mstFixtureEdges.sortBy { case (a, b, w) => (w, a, b) }
      .filter { case (a, b, _) =>
        val (ra, rb) = (find(a), find(b))
        if (ra == rb) false else { parent(ra) = rb; true }
      }
  }

  /** q257's oracle: union-find over the FULL fixture edge set below
    * the τ = 500 threshold (NOT via the MST — the independence is the
    * oracle's value), labels = component min, with sizes.
    */
  private lazy val singleLinkageOracleRows: Seq[(Long, Long, Long)] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val nodes = mstFixtureEdges.flatMap(e => Seq(e._1, e._2)).distinct
    mstFixtureEdges.filter(_._3 < 500L).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    val lab = nodes.map(id => id -> find(id))
    val size = lab.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    lab.map { case (id, c) => (id, c, size(c)) }
  }

  /** q244's mutual-kNN + reachability-closure clustering as CTEs ending
    * in `lab(vec_id, cluster)` — shared with q259's ARI oracle. Must be
    * opened with WITH RECURSIVE.
    */
  private val mutualKnnLabCtes: String =
    """ranked AS (
      |  SELECT q.vec_id AS a, c.vec_id AS b,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
      |        c.vec_id) AS rank
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 150 AND c.vec_id < 150),
      |knn AS (SELECT a, b FROM ranked WHERE rank <= 5),
      |mutual AS (
      |  SELECT k1.a, k1.b FROM knn k1
      |  JOIN knn k2 ON k2.a = k1.b AND k2.b = k1.a
      |  WHERE k1.a < k1.b),
      |dire AS (SELECT a AS s, b AS d FROM mutual
      |  UNION SELECT b, a FROM mutual),
      |reach(id, r) AS (
      |  SELECT s, s FROM dire
      |  UNION
      |  SELECT re.id, d.d FROM reach re JOIN dire d ON d.s = re.r),
      |comp AS (SELECT id, min(r) AS cluster FROM reach GROUP BY 1),
      |allv AS (SELECT vec_id FROM embeddings WHERE vec_id < 150),
      |lab AS (SELECT vec_id, coalesce(c.cluster, vec_id) AS cluster
      |        FROM allv LEFT JOIN comp c ON c.id = vec_id)""".stripMargin

  /** TextOps.langId replicated relationally, ending in
    * `pred(lang, predicted_lang)` — shared by the q26 confusion-matrix
    * oracle and the q240 kappa oracle. CJK share first, then argmax
    * stopword hits over the same public profiles, ties to the
    * alphabetically-first language, und when nothing matches (incl.
    * NULL text). Tokenizer fidelity: RE2's \p{L} matches Java's for BMP
    * letters; known residual divergence = supplementary-plane
    * characters (UTF-16 length vs codepoints) — out of this corpus's
    * charset.
    */
  private val langPredCtes: String =
    """toks AS (
      |  SELECT doc_id, lang,
      |    list_filter(string_split_regex(lower(text), '[^\p{L}]+'), t -> t <> '') AS ws,
      |    length(text) AS n,
      |    length(regexp_replace(text, '[^\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]', '', 'g')) AS cjk
      |  FROM documents),
      |scored AS (
      |  SELECT lang, n, cjk, ws,
      |    len(list_filter(ws, t -> t IN ('the','and','of','to','a','in','is','that','it','for'))) AS h_en,
      |    len(list_filter(ws, t -> t IN ('der','die','das','und','ist','nicht','ein','mit','zu','auf'))) AS h_de,
      |    len(list_filter(ws, t -> t IN ('el','la','los','las','y','es','en','que','de','un'))) AS h_es,
      |    len(list_filter(ws, t -> t IN ('le','la','les','et','est','en','que','un','une','des'))) AS h_fr,
      |    len(list_filter(ws, t -> t IN ('il','la','di','e','che','un','per','con','del','sono'))) AS h_it
      |  FROM toks),
      |pred AS (
      |  SELECT lang,
      |    CASE
      |      WHEN n IS NULL OR n = 0 THEN 'und'
      |      WHEN cjk * 5 > n THEN 'zh'
      |      WHEN len(ws) = 0 THEN 'und'
      |      WHEN greatest(h_de,h_en,h_es,h_fr,h_it) = 0 THEN 'und'
      |      WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr AND h_de >= h_it THEN 'de'
      |      WHEN h_en >= h_es AND h_en >= h_fr AND h_en >= h_it THEN 'en'
      |      WHEN h_es >= h_fr AND h_es >= h_it THEN 'es'
      |      WHEN h_fr >= h_it THEN 'fr'
      |      ELSE 'it'
      |    END AS predicted_lang
      |  FROM scored)""".stripMargin

  /** The q247 BWT chain as CTEs ending in `bw(doc_id, bwt, idx)` —
    * rotation matrix, per-doc sort, last column — shared by the q247
    * fingerprint and the q248 MTF/RLE recursion.
    */
  private val bwtCtes: String =
    // NOTE: interpolated into strings that stripMargin AFTERWARDS — no
    // line here may start with the || concat operator
    """base AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(lower(coalesce(text, '')), '[^a-z ]', '', 'g'), 1, 48) ||
      |      '~' AS s
      |  FROM documents),
      |pos AS (SELECT doc_id, s, length(s) AS n,
      |        unnest(range(length(s))) AS i FROM base),
      |rot AS (SELECT doc_id, i, n,
      |    substr(s, CAST(i + 1 AS INT)) || substr(s, 1, CAST(i AS INT)) AS r
      |  FROM pos),
      |rk AS (SELECT doc_id, i, n, r,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY r) AS rank
      |  FROM rot),
      |bw AS (SELECT doc_id,
      |    string_agg(substr(r, CAST(n AS INT), 1), '' ORDER BY rank) AS bwt,
      |    CAST(max(CASE WHEN i = 0 THEN rank - 1 END) AS BIGINT) AS idx
      |  FROM rk GROUP BY 1)""".stripMargin

  private val embedKnnOracleSql: String =
    """SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  CAST(row_number() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC, c.vec_id) AS INT) AS rank
      |FROM embeddings q CROSS JOIN embeddings c
      |WHERE q.vec_id < 20 AND q.vec_id <> c.vec_id
      |QUALIFY rank <= 5""".stripMargin

  private def ivfOracleSql: String =
    s"""WITH vecs AS (SELECT vec_id, embedding FROM embeddings),
       |${ivfTrainAssignCte()},
       |probes AS (
       |  SELECT * FROM (
       |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.ci AS cid,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${ivfDistSql("q.embedding", "c.cl")}, c.ci) AS pr
       |    FROM vecs q CROSS JOIN cents3 c WHERE q.vec_id < 20) WHERE pr <= 4),
       |cands AS (
       |  SELECT p.query_id, ca.vec_id AS neighbor_id, p.qe, ca.e AS ce
       |  FROM probes p JOIN corpusassign ca USING (cid)
       |  WHERE p.query_id <> ca.vec_id),
       |cos AS (
       |  SELECT query_id, neighbor_id, ${cosineSql("qe", "ce")} AS cosine FROM cands),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
       |  FROM cos)
       |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin

  /** q55's SemDeDup pipeline replicated end-to-end: planted near-dups,
    * the SHARED quantizer training/assignment CTE (bit-exact doubles —
    * see ivfTrainAssignCte), within-cluster capped pairs (the q28 list
    * algebra), sequential-cosine edges at ≥ 0.95, the q51 reachability
    * fixpoint for duplicate groups, and min-id keeper selection. Output
    * covers EVERY row (vec_id, cid, kept) so the hash pins the full
    * clustering, not just the drop list.
    */
  private def semanticDedupOracleSql: String =
    s"""WITH RECURSIVE vecs AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 1000000,
       |    list_transform(range(len(embedding)), i -> CASE WHEN i = 0
       |      THEN CAST(embedding[1] + 0.01::FLOAT AS FLOAT) ELSE embedding[CAST(i+1 AS INT)] END)
       |  FROM embeddings WHERE vec_id % 25 = 0),
       |${ivfTrainAssignCte()},
       |clusters AS (
       |  SELECT cid, list_sort(list({'id': vec_id, 'e': e})) AS xs
       |  FROM corpusassign GROUP BY cid HAVING count(*) >= 2),
       |pairs0 AS (
       |  SELECT pr.id_a, pr.id_b, pr.ea, pr.eb FROM clusters,
       |  ${cappedPairsSql(512, "e", "ea", "eb")}),
       |cos AS (SELECT id_a, id_b, ${cosineSql("ea", "eb")} AS cosine FROM pairs0),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM cos WHERE cosine >= 0.95),
       |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |nodes AS (SELECT DISTINCT src AS id FROM und),
       |walk(id, r) AS (
       |  SELECT id, id FROM nodes
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN und e ON e.src = w.r),
       |labels AS (SELECT id, min(r) AS component FROM walk GROUP BY id)
       |SELECT ca.vec_id, CAST(ca.cid AS INT) AS cid,
       |  (l.component IS NULL OR ca.vec_id = l.component) AS kept
       |FROM corpusassign ca LEFT JOIN labels l ON l.id = ca.vec_id""".stripMargin

  def oracleSql: Map[String, String] = Map(
    // q52 — IVF-flat ANN incl. full quantizer training replication
    "q52_ann_ivf" -> ivfOracleSql,

    // q54 — the bucketed-storage path must produce the identical result
    // (same deterministic quantizer), so it shares q52's oracle verbatim
    "q54_ann_ivf_bucketed" -> ivfOracleSql,

    // q65 — PQ-ADC ANN incl. all 8 per-subspace k-means replications
    "q65_ann_pq" -> pqOracleSql,
    // q135 - identical result through the stored-codes round trip (the
    // codebook sidecar and parquet codes table are exact), so the SAME
    // oracle pins storage-path/compute-path parity, the q54 precedent
    "q135_ann_pq_stored" -> pqOracleSql,
    // q136 - frozen-quantizer index refresh: training replays over the
    // ORIGINAL corpus (the quantizer never retrains on refresh), then the
    // frozen centroids assign and score the MUTATED corpus (deletes out,
    // upserts replaced, inserts in) - the assignSrc parameter of the
    // shared training CTE
    "q136_ivf_refresh" -> {
      val perturb0 = "list_transform(range(len(embedding)), i -> CASE WHEN i = 0 " +
        "THEN CAST(embedding[1] + 0.01::FLOAT AS FLOAT) ELSE embedding[CAST(i+1 AS INT)] END)"
      val perturb1 = "list_transform(range(len(embedding)), i -> CASE WHEN i = 1 " +
        "THEN CAST(embedding[2] + 0.02::FLOAT AS FLOAT) ELSE embedding[CAST(i+1 AS INT)] END)"
      s"""WITH vecs AS (SELECT vec_id, embedding FROM embeddings),
         |newcorpus AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % 40 <> 7 AND vec_id % 25 <> 3
         |  UNION ALL
         |  SELECT vec_id, $perturb0 FROM embeddings WHERE vec_id % 25 = 3
         |  UNION ALL
         |  SELECT vec_id + 500000, $perturb1 FROM embeddings WHERE vec_id % 31 = 5),
         |${ivfTrainAssignCte("newcorpus")},
         |probes AS (
         |  SELECT * FROM (
         |    SELECT q.vec_id AS query_id, q.embedding AS qe, c.ci AS cid,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY ${ivfDistSql("q.embedding", "c.cl")}, c.ci) AS pr
         |    FROM vecs q CROSS JOIN cents3 c WHERE q.vec_id < 20) WHERE pr <= 4),
         |cands AS (
         |  SELECT p.query_id, ca.vec_id AS neighbor_id, p.qe, ca.e AS ce
         |  FROM probes p JOIN corpusassign ca USING (cid)
         |  WHERE p.query_id <> ca.vec_id),
         |cos AS (
         |  SELECT query_id, neighbor_id, ${cosineSql("qe", "ce")} AS cosine FROM cands),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
         |  FROM cos)
         |SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5""".stripMargin
    },

    // q66 — IVFADC: coarse quantizer (shared replica) + residual PQ
    "q66_ann_ivfpq" -> ivfpqOracleSql,

    // q67 — decontamination: identical planted eval slices, identical
    // whitespace tokenization (Java \s+ ∩ RE2 — divergent only on U+000B,
    // absent from the corpus), 13-word grams md5'd per side, then a
    // broadcast-shaped gram semi-join + per-doc counts
    "q67_decontaminate" -> {
      def gramFps(src: String, alias: String): String =
        s"""${alias}_toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM $src),
           |${alias}_grams AS (
           |  SELECT doc_id, w, unnest(range(len(w) - 12)) AS i
           |  FROM ${alias}_toks WHERE len(w) >= 13),
           |$alias AS (
           |  SELECT DISTINCT doc_id,
           |    md5(array_to_string(list_slice(w, CAST(i+1 AS INT), CAST(i+13 AS INT)), ' ')) AS fp
           |  FROM ${alias}_grams)""".stripMargin
      s"""WITH evaldocs AS (
         |  SELECT doc_id, substr(text, 21, 200) AS text FROM documents WHERE doc_id % 9 = 0),
         |${gramFps("evaldocs", "efps")},
         |${gramFps("documents", "tfps")},
         |evalfps AS (SELECT DISTINCT fp FROM efps),
         |shared AS (
         |  SELECT doc_id, count(*) AS n
         |  FROM tfps JOIN evalfps USING (fp) GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(s.n, 0) AS n_shared_fps,
         |  COALESCE(s.n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN shared s ON s.doc_id = d.doc_id""".stripMargin
    },

    // q68 — duplicate-passage spans: identical planted header/footer
    // augmentation, 13-gram md5 fingerprints, corpus-duplicated-gram set,
    // and the gaps-and-islands merge replayed with the same exact-integer
    // window arithmetic (prev-max-end = max(i) over preceding + 13)
    "q68_dup_spans" -> {
      val hdr = "terms of service apply to all content on this page as described by the provider"
      val ftr = "all rights reserved worldwide contact the publisher for licensing questions and takedown requests here"
      s"""WITH aug AS (
         |  SELECT doc_id,
         |    (CASE WHEN doc_id % 4 = 0 THEN '$hdr ' ELSE '' END) || text ||
         |    (CASE WHEN doc_id % 6 = 0 THEN ' $ftr' ELSE '' END) AS text
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
         |  FROM aug),
         |grams AS (
         |  SELECT doc_id, w, unnest(range(len(w) - 12)) AS i FROM toks WHERE len(w) >= 13),
         |fps AS (
         |  SELECT doc_id, CAST(i AS INT) AS i,
         |    md5(array_to_string(list_slice(w, CAST(i+1 AS INT), CAST(i+13 AS INT)), ' ')) AS fp
         |  FROM grams),
         |dupfps AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) > 1),
         |duppos AS (SELECT doc_id, i FROM fps JOIN dupfps USING (fp)),
         |marks AS (
         |  SELECT doc_id, i,
         |    CASE WHEN i > COALESCE(max(i) OVER (PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 13, -1) THEN 1 ELSE 0 END AS ni
         |  FROM duppos),
         |isl AS (
         |  SELECT doc_id, i, sum(ni) OVER (PARTITION BY doc_id ORDER BY i
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
         |  FROM marks),
         |spans AS (SELECT doc_id, island, min(i) AS s, max(i) + 13 AS e FROM isl GROUP BY 1, 2),
         |perdoc AS (
         |  SELECT doc_id, count(*) AS n_dup_spans, CAST(sum(e - s) AS BIGINT) AS dup_words
         |  FROM spans GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS total_words,
         |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans, COALESCE(p.dup_words, 0) AS dup_words
         |FROM toks t LEFT JOIN perdoc p USING (doc_id)""".stripMargin
    },

    // q69 — TF-IDF top-3: same tokenization, exact floor-division score,
    // same (score desc, term) tie-break
    "q69_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |    CAST((tf * 1000000) // df AS BIGINT) AS score_ppm
        |  FROM tf JOIN df USING (term))
        |SELECT doc_id, term, tf, df, score_ppm, rk FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score_ppm DESC, term) AS INT) AS rk
        |  FROM scored) WHERE rk <= 3""".stripMargin,

    // q70 — exact heavy hitters: (count desc, term) is a total order, so
    // the LIMIT-20 cut is deterministic on both engines
    "q70_top_terms" ->
      """WITH toks AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS n FROM toks GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin,

    // q71 — GIF palette-codec invariant: dims from the shared splitmix CTE;
    // lossless must be uniformly true (quantize-then-roundtrip contract —
    // GifSpec pins the codec itself byte-level)
    "q71_gif_invariant" ->
      s"""WITH ${splitmixDimsCtes(300)}
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h, true AS lossless
         |FROM dims""".stripMargin,

    // q72 — PMI collocations: same bigram stream, same left/right
    // marginals, same integer rational score and (score, a, b) cut
    "q72_collocations" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |bi AS (
        |  SELECT w[CAST(i+1 AS INT)] AS a, w[CAST(i+2 AS INT)] AS b
        |  FROM (SELECT doc_id, w, unnest(range(len(w)-1)) AS i FROM toks WHERE len(w) >= 2)),
        |cab AS (SELECT a, b, count(*) AS cab FROM bi GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
        |cb AS (SELECT b, CAST(sum(cab) AS BIGINT) AS cb FROM cab GROUP BY 1),
        |tot AS (SELECT CAST(sum(cab) AS BIGINT) AS n_big FROM cab)
        |SELECT a, b, CAST(cab AS BIGINT) AS cab, ca, cb,
        |  CAST((CAST(cab AS HUGEINT) * n_big * 1000) // (CAST(ca AS HUGEINT) * cb) AS BIGINT) AS pmi_scaled
        |FROM cab JOIN ca USING (a) JOIN cb USING (b) CROSS JOIN tot
        |WHERE cab >= 5
        |ORDER BY pmi_scaled DESC, a, b LIMIT 50""".stripMargin,

    // q73 — stratified quota sample: the same splitmix order key (signed
    // comparison on both engines), same (key, doc_id) tie-break, same cut
    "q73_stratified_sample" -> {
      s"""WITH ids AS (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS i FROM documents),
         |${splitmixChain("s", Seq("doc_id", "lang"), "ids", "i")},
         |ranked AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY ${toSigned("z")}, doc_id) AS INT) AS rnk
         |  FROM s3)
         |SELECT doc_id, lang, rnk FROM ranked WHERE rnk <= 50""".stripMargin
    },

    // q74 — closed-form polygon geometry: the grid's decimicro corners are
    // exact integers (lat0 = -60 + 15·iy, ×1e7), the 0.96-span edge rounds
    // to exactly 144,000,000 decimicro for every cell (pinned by the
    // constant area below — a ±1 rounding anywhere would break the perfect
    // square 2·144e6²), and winding follows the first-member-direction
    // invariant documented at the query
    "q74_polygon_stats" ->
      """WITH ids AS (SELECT range AS k FROM range(0, 128)),
        |c AS (SELECT k, k % 16 AS ix, k // 16 AS iy, k % 4 AS perm FROM ids)
        |SELECT CAST(1000000 + k AS BIGINT) AS relation_id,
        |  (CASE WHEN k % 7 = 0 THEN 'Stadt_' ELSE '' END) || 'cell_' || CAST(ix AS BIGINT) || '_' || CAST(iy AS BIGINT) AS name,
        |  CAST(1 AS INT) AS n_rings, CAST(12 AS INT) AS n_points,
        |  CAST(41472000000000000 AS BIGINT) AS area2,
        |  CASE WHEN ((k >> perm) & 1) = 0 THEN 'ccw' ELSE 'cw' END AS winding,
        |  CAST(-600000000 + iy*150000000 AS INT) AS min_lat_dm,
        |  CAST(-1200000000 + ix*150000000 AS INT) AS min_lon_dm,
        |  CAST(-456000000 + iy*150000000 AS INT) AS max_lat_dm,
        |  CAST(-1056000000 + ix*150000000 AS INT) AS max_lon_dm
        |FROM c""".stripMargin,

    // q75 — closed-form: 12 raw ring vertices, 5 after DP (4 corners +
    // closing), area exactly preserved (only collinear midpoints removed)
    "q75_simplify" ->
      """WITH ids AS (SELECT range AS k FROM range(0, 128))
        |SELECT CAST(1000000 + k AS BIGINT) AS relation_id,
        |  (CASE WHEN k % 7 = 0 THEN 'Stadt_' ELSE '' END) || 'cell_' || CAST(k % 16 AS BIGINT) || '_' || CAST(k // 16 AS BIGINT) AS name,
        |  CAST(12 AS INT) AS n_before, CAST(5 AS INT) AS n_after,
        |  CAST(41472000000000000 AS BIGINT) AS area2_after
        |FROM ids""".stripMargin,

    // q76 — thumbnail checksum: dims + phash (= splitmix64(i), the pixel
    // seed) from the shared CTE; the 16x16 nearest sample map is the same
    // floor division; channel bytes replay the pixel function (arithmetic
    // >> equals Scala's >>> here because & 255 masks the sign-extended
    // high bits away)
    "q76_thumbnail" ->
      s"""WITH ${splitmixDimsCtes(300)},
         |t AS (SELECT range AS t FROM range(0, 16)),
         |smp AS (
         |  SELECT d.i, d.w, d.h, d.phash,
         |    (a.t * d.w) // 16 AS sx, (b.t * d.h) // 16 AS sy
         |  FROM dims d, t a, t b),
         |px AS (
         |  SELECT i, w, h,
         |    ((sx*7 + (phash & 255)) % 256) +
         |    ((sy*11 + ((phash >> 8) & 255)) % 256) +
         |    (((sx+sy)*3 + ((phash >> 16) & 255)) % 256) AS v
         |  FROM smp)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h,
         |  CAST(sum(v) AS BIGINT) AS thumb_sum
         |FROM px GROUP BY i, w, h""".stripMargin,

    // q77 — closed-form centroids: the rectangle's rational centroid is
    // its exact center, so rounding is a no-op and the expected value is
    // pure integer arithmetic
    "q77_centroid" ->
      """WITH ids AS (SELECT range AS k FROM range(0, 128))
        |SELECT CAST(1000000 + k AS BIGINT) AS relation_id,
        |  (CASE WHEN k % 7 = 0 THEN 'Stadt_' ELSE '' END) || 'cell_' || CAST(k % 16 AS BIGINT) || '_' || CAST(k // 16 AS BIGINT) AS name,
        |  CAST(-600000000 + (k // 16)*150000000 + 72000000 AS INT) AS c_lat_dm,
        |  CAST(-1200000000 + (k % 16)*150000000 + 72000000 AS INT) AS c_lon_dm
        |FROM ids""".stripMargin,

    // q78 — quadkeys over the q32 pyramid CTE: same bit-interleave digit
    // expression, high bit first, level 0 = ''
    "q78_quadkey" ->
      s"""WITH RECURSIVE ${splitmixDimsCtes(200)},
         |lv AS (
         |  SELECT i, w, h, 0 AS level FROM dims
         |  UNION ALL
         |  SELECT i, (w+1)//2, (h+1)//2, level+1 FROM lv WHERE NOT (w <= 16 AND h <= 16)
         |),
         |t1 AS (SELECT *, unnest(range((w+15)//16)) AS tx FROM lv),
         |t2 AS (SELECT *, unnest(range((h+15)//16)) AS ty FROM t1)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(level AS INT) AS level, CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
         |  CASE WHEN level = 0 THEN '' ELSE
         |    array_to_string(list_transform(range(level-1, -1, -1),
         |      j -> CAST(((ty >> j) & 1)*2 + ((tx >> j) & 1) AS VARCHAR)), '') END AS quadkey
         |FROM t2""".stripMargin,

    // q79 — the bucketed interval join collapses to a plain BETWEEN theta
    // join relationally (DuckDB's IEJoin handles it natively); the bucket
    // decomposition is a physical-plan property, not a semantic one
    "q79_range_join" ->
      """WITH iv AS (
        |  SELECT i AS interval_id,
        |    (1704067200 + i*12960) * 1000000 AS start_us,
        |    (1704067200 + i*12960 + 600 + (i*7919 % 86400)) * 1000000 AS end_us
        |  FROM range(0, 200) t(i)),
        |m AS (
        |  SELECT interval_id, count(*) AS n,
        |    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |  FROM events JOIN iv
        |    ON epoch_us(ts) >= start_us AND epoch_us(ts) < end_us
        |  GROUP BY 1)
        |SELECT interval_id, COALESCE(n, 0) AS n,
        |  COALESCE(value_cents, 0) AS value_cents
        |FROM iv LEFT JOIN m USING (interval_id)""".stripMargin,

    // q80 — same haversine term order (clamped asin) so libm differences
    // stay sub-ulp; argmin replayed as QUALIFY row_number over (dist, id)
    "q80_haversine_nn" ->
      s"""WITH c AS (
         |  SELECT i AS city_id,
         |    ((i*9973+12345) % 150000)/1000.0 - 75.0 AS clat,
         |    ((i*7919+54321) % 360000)/1000.0 - 180.0 AS clon
         |  FROM range(0, 64) t(i)),
         |p AS ($probeSql),
         |d AS (
         |  SELECT o_orderkey, city_id,
         |    2*6371.0 * asin(least(1.0, sqrt(
         |      sin(radians(clat-lat)/2)*sin(radians(clat-lat)/2)
         |      + cos(radians(lat))*cos(radians(clat))
         |        * sin(radians(clon-lon)/2)*sin(radians(clon-lon)/2)))) AS dist
         |  FROM p CROSS JOIN c)
         |SELECT o_orderkey, city_id AS nearest_id, round(dist, 1) AS dist_km
         |FROM d
         |QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY dist, city_id) = 1""".stripMargin,

    // q81 — the Bloom gate recomputed relationally: the same eval slice and
    // 13-gram tokenization as q67, each gram keyed by its md5's first 15 hex
    // chars ('0x'-cast, exactly Spark's conv(_,16,10) on a 60-bit value),
    // the m=2^16 bitset replayed as a DISTINCT position set (bit_or over
    // words ≡ set-of-positions), and the 4 splitmix64 probes per key
    // re-mixed in the HUGEINT domain — so even the false positives match
    // bit-for-bit. Membership = all 4 probe positions present (a probe row
    // joins ≤1 position row, so count(*)=4 ⟺ conjunction).
    "q81_bloom_decontam" -> {
      def gramKeys(src: String, alias: String): String =
        s"""${alias}_toks AS (
           |  SELECT doc_id,
           |    list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
           |  FROM $src),
           |${alias}_grams AS (
           |  SELECT doc_id, w, unnest(range(len(w) - 12)) AS i
           |  FROM ${alias}_toks WHERE len(w) >= 13),
           |$alias AS (
           |  SELECT DISTINCT doc_id,
           |    CAST(CAST('0x' || substr(md5(array_to_string(
           |      list_slice(w, CAST(i+1 AS INT), CAST(i+13 AS INT)), ' ')), 1, 15)
           |      AS UBIGINT) AS BIGINT) AS key
           |  FROM ${alias}_grams)""".stripMargin
      s"""WITH evaldocs AS (
         |  SELECT doc_id, substr(text, 21, 200) AS text FROM documents WHERE doc_id % 9 = 0),
         |${gramKeys("evaldocs", "ekeys")},
         |eseeds AS (
         |  SELECT CAST(key AS HUGEINT) + j.jv AS seed
         |  FROM (SELECT DISTINCT key FROM ekeys) CROSS JOIN range(4) j(jv)),
         |${splitmixChain("bb", Seq(), "eseeds", "seed")},
         |bits AS (SELECT DISTINCT (z >> 32) % 65536 AS pos FROM bb3),
         |${gramKeys("documents", "tkeys")},
         |tseeds AS (
         |  SELECT doc_id, key, CAST(key AS HUGEINT) + j.jv AS seed
         |  FROM tkeys CROSS JOIN range(4) j(jv)),
         |${splitmixChain("tp", Seq("doc_id", "key"), "tseeds", "seed")},
         |hits AS (
         |  SELECT doc_id, key
         |  FROM (SELECT doc_id, key, (z >> 32) % 65536 AS pos FROM tp3) p
         |  JOIN bits USING (pos)
         |  GROUP BY doc_id, key HAVING count(*) = 4),
         |perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hits GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(p.n, 0) AS n_bloom_hits, COALESCE(p.n, 0) > 0 AS flagged
         |FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id""".stripMargin
    },

    // q82 — the MERGE read-back replayed closed-form: all 700 final rows,
    // caption = updated text for merged keys, else the base formula with
    // the cell from the HUGEINT splitmix chain (abs via 2^64 - z on the
    // negative half, exactly JVM math.abs on the signed reinterpretation)
    "q82_snapshot_merge" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 700) t(i)),
         |${splitmixChain("sm", Seq("i"), "ids", "seed")},
         |cells AS (
         |  SELECT i, CAST((CASE WHEN z >= 9223372036854775808::HUGEINT
         |    THEN 18446744073709551616::HUGEINT - z ELSE z END) % 97 AS BIGINT) AS cell
         |  FROM sm3)
         |SELECT printf('img_%09d', i) AS image_id,
         |  CASE WHEN i < 600 AND i % 7 = 0 THEN 'updated_' || i || ' rev 2'
         |       ELSE 'caption_' || i || ' of cell ' || cell END AS caption
         |FROM cells""".stripMargin,

    // q83 — the version/changelog counts replayed from the bucket function:
    // v1 = 600, v2 = 605, and the incremental scan = every base row living
    // in a bucket the sparse merge touched (survivors of rewritten buckets)
    // plus the 12 merge rows themselves — the closed form of copy-on-write
    "q83_time_travel" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 605) t(i)),
         |${splitmixChain("sb", Seq("i"), "ids", "seed")},
         |bk AS (SELECT i, CAST(z % 64 AS BIGINT) AS bucket FROM sb3),
         |upd AS (SELECT i FROM range(0, 600) t(i) WHERE i % 97 = 0
         |        UNION ALL SELECT i FROM range(600, 605) t(i)),
         |aff AS (SELECT DISTINCT bucket FROM bk JOIN upd USING (i)),
         |incr AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n FROM bk
         |  WHERE i < 600 AND bucket IN (SELECT bucket FROM aff)
         |    AND i NOT IN (SELECT i FROM upd))
         |SELECT 'v1' AS label, CAST(600 AS BIGINT) AS n_rows
         |UNION ALL SELECT 'v2', CAST(605 AS BIGINT)
         |UNION ALL SELECT 'incr_v1_v2', n + (SELECT CAST(count(*) AS BIGINT) FROM upd)
         |FROM incr""".stripMargin,

    // q137 — both pinned replicas composed; see multimodalOracleSql
    "q137_multimodal_agreement" -> multimodalOracleSql,

    // q138 — the whole LM replayed relationally: shared tokenization, the
    // q72 bigram construction, counts+marginal, and the floor-log2
    // surprisal as binary length of the smoothed integer quotient (the
    // quotient is >= 1 because ca + v >= cab + 1 always) — every value
    // integer, bit-exact
    "q138_lm_surprisal" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |bi AS (
        |  SELECT doc_id, w[CAST(i+1 AS INT)] AS a, w[CAST(i+2 AS INT)] AS b
        |  FROM (SELECT doc_id, w, unnest(range(len(w)-1)) AS i FROM toks WHERE len(w) >= 2)),
        |cab AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cab FROM bi GROUP BY 1, 2),
        |ca AS (SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM cab GROUP BY 1),
        |voc AS (SELECT CAST(count(DISTINCT t) AS BIGINT) AS v
        |        FROM (SELECT unnest(w) AS t FROM toks)),
        |inst AS (
        |  SELECT doc_id, CAST(length(bin((ca + v) // (cab + 1))) - 1 AS BIGINT) AS bits
        |  FROM bi JOIN cab USING (a, b) JOIN ca USING (a) CROSS JOIN voc)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(bits) AS BIGINT) AS sum_bits,
        |  CAST(sum(bits) * 1000 // count(*) AS BIGINT) AS mbits,
        |  (sum(bits) * 1000 // count(*)) < 4315 AS keep
        |FROM inst GROUP BY doc_id""".stripMargin,

    // q139 — dims + pixel formula from the shared splitmix CTE (the q108
    // grayscale), mask at >= 128, runs recovered by a lag-window start
    // marker over the column-major order key x*h + y (runs continue
    // across column seams, matching the COCO flattening); images whose
    // mask is empty keep (0, 0, 0) via the left join
    "q139_rle_mask" ->
      s"""WITH ${splitmixDimsCtes(300)},
         |hv AS (SELECT i, w, h,
         |    CAST(hz % 256 AS BIGINT) AS hr,
         |    CAST((hz // 256) % 256 AS BIGINT) AS hg,
         |    CAST((hz // 65536) % 256 AS BIGINT) AS hb
         |  FROM (SELECT i, w, h,
         |    CASE WHEN phash < 0 THEN CAST(phash AS HUGEINT) + 18446744073709551616::HUGEINT
         |         ELSE CAST(phash AS HUGEINT) END AS hz FROM dims)),
         |t1 AS (SELECT *, unnest(range(w)) AS x FROM hv),
         |px AS (SELECT i, w, h, x, unnest(range(h)) AS y,
         |    ((x*7 + hr) % 256 * 299 + (y*11 + hg) % 256 * 587 + ((x+y)*3 + hb) % 256 * 114) // 1000 AS g
         |  FROM t1),
         |m AS (SELECT i, w, h, x*h + y AS ord,
         |    CASE WHEN g >= 128 THEN 1 ELSE 0 END AS fg FROM px),
         |st AS (SELECT i, w, h, ord, fg,
         |    CASE WHEN fg = 1 AND coalesce(lag(fg) OVER (PARTITION BY i ORDER BY ord), 0) = 0
         |         THEN 1 ELSE 0 END AS start FROM m),
         |rid AS (SELECT i, fg,
         |    sum(start) OVER (PARTITION BY i ORDER BY ord) AS run_id FROM st),
         |per_run AS (SELECT i, run_id, count(*) AS len FROM rid WHERE fg = 1 GROUP BY 1, 2),
         |per_img AS (SELECT i, sum(fg) AS fg, sum(start) AS n_runs FROM st GROUP BY i),
         |longest AS (SELECT i, max(len) AS longest FROM per_run GROUP BY i)
         |SELECT printf('img_%09d', CAST(d.i AS BIGINT)) AS image_id, d.w, d.h,
         |  CAST(coalesce(p.fg, 0) AS BIGINT) AS fg,
         |  CAST(coalesce(p.n_runs, 0) AS BIGINT) AS n_runs,
         |  CAST(coalesce(l.longest, 0) AS BIGINT) AS longest
         |FROM dims d LEFT JOIN per_img p ON p.i = d.i LEFT JOIN longest l ON l.i = d.i""".stripMargin,

    // q140 — closed-form rook adjacency of the 16x8 flush grid: cell
    // k = iy*16 + ix (relation id 3000000 + k) pairs with its east
    // neighbor (k+1, unless ix = 15) and its north neighbor (k+16, unless
    // iy = 7), each pair sharing exactly the 2 half-side edges; diagonal
    // neighbors share only a corner vertex and are absent
    "q140_contiguity" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |h AS (SELECT 3000000 + k AS rel_a, 3000000 + k + 1 AS rel_b
        |      FROM cells WHERE k % 16 <> 15),
        |v AS (SELECT 3000000 + k AS rel_a, 3000000 + k + 16 AS rel_b
        |      FROM cells WHERE k < 112)
        |SELECT rel_a, rel_b, CAST(2 AS BIGINT) AS shared_edges FROM h
        |UNION ALL
        |SELECT rel_a, rel_b, CAST(2 AS BIGINT) AS shared_edges FROM v""".stripMargin,

    // q141 — the same closed-form rook graph as q140 plus the gradient
    // attribute x = ix + iy (recovered from k = rel_id - 3000000); the
    // centered value is c = n*x - sum(x), and Moran's four integers are
    // replayed exactly: num over DIRECTED edges, den = sum c^2,
    // s0 = 2*|E| = 464, n = 128
    "q141_moran" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |vals AS (SELECT 3000000 + k AS rid, (k % 16) + (k // 16) AS x FROM cells),
        |und AS (
        |  SELECT 3000000 + k AS a, 3000000 + k + 1 AS b FROM cells WHERE k % 16 <> 15
        |  UNION ALL
        |  SELECT 3000000 + k, 3000000 + k + 16 FROM cells WHERE k < 112),
        |dir AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
        |g AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM vals),
        |c AS (SELECT rid, x, g.n AS n, g.n * x - g.s AS c FROM vals CROSS JOIN g),
        |lagged AS (SELECT src, COUNT(*) AS degree, SUM(v.x) AS lag
        |           FROM dir JOIN vals v ON v.rid = dir.dst GROUP BY src),
        |num AS (SELECT SUM(ca.c * cb.c) AS moran_num FROM dir
        |        JOIN c ca ON ca.rid = dir.src JOIN c cb ON cb.rid = dir.dst),
        |s0 AS (SELECT COUNT(*) AS s0 FROM dir),
        |den AS (SELECT SUM(c * c) AS moran_den FROM c)
        |SELECT c.rid AS relation_id, CAST(c.x AS BIGINT) AS x,
        |  CAST(coalesce(l.degree, 0) AS BIGINT) AS degree,
        |  CAST(coalesce(l.lag, 0) AS BIGINT) AS lag,
        |  CAST(num.moran_num AS BIGINT) AS moran_num,
        |  CAST(den.moran_den AS BIGINT) AS moran_den,
        |  CAST(s0.s0 AS BIGINT) AS s0, CAST(c.n AS BIGINT) AS n
        |FROM c LEFT JOIN lagged l ON l.src = c.rid
        |CROSS JOIN num CROSS JOIN s0 CROSS JOIN den""".stripMargin,

    // q142 — same closed-form rook graph, rough attribute
    // x = (ix + iy) mod 5; LISA numerator and GeoDa scatterplot
    // quadrant replayed exactly (c = n·x − S, lag_c = n·lag − degree·S)
    "q142_lisa" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |vals AS (SELECT 3000000 + k AS rid,
        |                ((k % 16) + (k // 16)) % 5 AS x FROM cells),
        |und AS (
        |  SELECT 3000000 + k AS a, 3000000 + k + 1 AS b FROM cells WHERE k % 16 <> 15
        |  UNION ALL
        |  SELECT 3000000 + k, 3000000 + k + 16 FROM cells WHERE k < 112),
        |dir AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
        |g AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM vals),
        |lagged AS (SELECT src, COUNT(*) AS degree, SUM(v.x) AS lag
        |           FROM dir JOIN vals v ON v.rid = dir.dst GROUP BY src),
        |t AS (SELECT v.rid, v.x, coalesce(l.degree, 0) AS degree,
        |             coalesce(l.lag, 0) AS lag,
        |             g.n * v.x - g.s AS c,
        |             g.n * coalesce(l.lag, 0) - coalesce(l.degree, 0) * g.s AS lag_c
        |      FROM vals v CROSS JOIN g LEFT JOIN lagged l ON l.src = v.rid)
        |SELECT rid AS relation_id, CAST(x AS BIGINT) AS x,
        |  CAST(degree AS BIGINT) AS degree, CAST(lag AS BIGINT) AS lag,
        |  CAST(c AS BIGINT) AS c, CAST(lag_c AS BIGINT) AS lag_c,
        |  CAST(c * lag_c AS BIGINT) AS lisa_num,
        |  CASE WHEN degree = 0 THEN 'ISO'
        |       WHEN c > 0 AND lag_c > 0 THEN 'HH'
        |       WHEN c > 0 AND lag_c < 0 THEN 'HL'
        |       WHEN c < 0 AND lag_c > 0 THEN 'LH'
        |       WHEN c < 0 AND lag_c < 0 THEN 'LL'
        |       ELSE 'NA' END AS quadrant
        |FROM t""".stripMargin,

    // q143 — the one-row global battery from the same graph/attribute:
    // every statistic reconstructed from edge sums + (n, S, Q) only
    // (moran_den = n·(n·Q − S²), moran_num = n²·P − n·S·E + s0·S²)
    "q143_autocorr" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |vals AS (SELECT 3000000 + k AS rid,
        |                ((k % 16) + (k // 16)) % 5 AS x FROM cells),
        |und AS (
        |  SELECT 3000000 + k AS a, 3000000 + k + 1 AS b FROM cells WHERE k % 16 <> 15
        |  UNION ALL
        |  SELECT 3000000 + k, 3000000 + k + 16 FROM cells WHERE k < 112),
        |dir AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
        |g AS (SELECT COUNT(*) AS n, SUM(x) AS s, SUM(x * x) AS q FROM vals),
        |e AS (SELECT COUNT(*) AS s0, SUM(a.x * b.x) AS p, SUM(a.x + b.x) AS es,
        |             SUM((a.x - b.x) * (a.x - b.x)) AS geary_num
        |      FROM dir JOIN vals a ON a.rid = dir.src JOIN vals b ON b.rid = dir.dst)
        |SELECT CAST(g.n AS BIGINT) AS n,
        |  CAST(g.n * g.n * e.p - g.n * g.s * e.es + e.s0 * g.s * g.s AS BIGINT) AS moran_num,
        |  CAST(g.n * (g.n * g.q - g.s * g.s) AS BIGINT) AS moran_den,
        |  CAST(e.geary_num AS BIGINT) AS geary_num,
        |  CAST(e.p AS BIGINT) AS gg_num,
        |  CAST(g.s * g.s - g.q AS BIGINT) AS gg_den,
        |  CAST(e.s0 AS BIGINT) AS s0
        |FROM g CROSS JOIN e""".stripMargin,

    // q144 — closed form: the 4×2 blocks of the flush grid; region id =
    // the block's SW cell (min relation id), every flush cell is exactly
    // 15°×15° so area2 = 2·(15e7)² = 4.5e16 each, bbox = the block extent
    "q144_dissolve" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |t AS (SELECT k, (k % 16) AS ix, (k // 16) AS iy,
        |             ((k % 16) // 4) + 4 * ((k // 16) // 2) AS g FROM cells)
        |SELECT MIN(3000000 + k) AS region, CAST(g AS BIGINT) AS g,
        |  COUNT(*) AS n_polygons,
        |  CAST(SUM(CAST(45000000000000000 AS BIGINT)) AS BIGINT) AS area2,
        |  CAST(MIN(-600000000 + iy * 150000000) AS INT) AS min_lat_dm,
        |  CAST(MIN(-1200000000 + ix * 150000000) AS INT) AS min_lon_dm,
        |  CAST(MAX(-450000000 + iy * 150000000) AS INT) AS max_lat_dm,
        |  CAST(MAX(-1050000000 + ix * 150000000) AS INT) AS max_lon_dm
        |FROM t GROUP BY g""".stripMargin,

    // q145 — the full crossover replayed relationally: dims + unsigned
    // splitmix hash (the q108 chain), the banded-gradient pixel formula
    // and BT.601 floor grayscale per (x, y), the SAME even-odd ray cast
    // as q86 over the ×4-scaled fixtures, then one equi-join + groupBy.
    // Every value integer — bit-exact across engines.
    "q145_zonal_stats" ->
      s"""WITH ${pixelChainCtes(64)},
         |${insideCtes("", zonalEdgesSqlValues)}
         |SELECT printf('img_%09d', CAST(p.i AS BIGINT)) AS image_id,
         |  z.pid AS relation_id,
         |  CAST(count(*) AS BIGINT) AS n_px,
         |  CAST(sum(p.g) AS BIGINT) AS sum_g,
         |  CAST(min(p.g) AS BIGINT) AS min_g,
         |  CAST(max(p.g) AS BIGINT) AS max_g
         |FROM px p JOIN inside z ON z.cx = p.x AND z.cy = p.y
         |GROUP BY 1, 2""".stripMargin,

    // q146 — the closed-form rook edge list (q141's und CTE) with the
    // rough binary attribute; counts and expectation numerators replayed
    // as exact integers over the shared n·(n−1) denominator
    "q146_join_counts" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |vals AS (SELECT 3000000 + k AS rid,
        |  CASE WHEN ((k % 16) * 3 + (k // 16) * 5) % 7 < 3 THEN 1 ELSE 0 END AS b
        |  FROM cells),
        |und AS (
        |  SELECT 3000000 + k AS a, 3000000 + k + 1 AS b2 FROM cells WHERE k % 16 <> 15
        |  UNION ALL
        |  SELECT 3000000 + k, 3000000 + k + 16 FROM cells WHERE k < 112),
        |e AS (SELECT COUNT(*) AS m,
        |        SUM(va.b * vb.b) AS bb,
        |        SUM((1 - va.b) * (1 - vb.b)) AS ww
        |      FROM und JOIN vals va ON va.rid = und.a
        |               JOIN vals vb ON vb.rid = und.b2),
        |g AS (SELECT COUNT(*) AS n, SUM(b) AS nb FROM vals)
        |SELECT CAST(g.n AS BIGINT) AS n, CAST(g.nb AS BIGINT) AS nb,
        |  CAST(e.m AS BIGINT) AS m, CAST(e.bb AS BIGINT) AS bb,
        |  CAST(e.m - e.bb - e.ww AS BIGINT) AS bw, CAST(e.ww AS BIGINT) AS ww,
        |  CAST(e.m * g.nb * (g.nb - 1) AS BIGINT) AS e_bb_num,
        |  CAST(2 * e.m * g.nb * (g.n - g.nb) AS BIGINT) AS e_bw_num,
        |  CAST(e.m * (g.n - g.nb) * (g.n - g.nb - 1) AS BIGINT) AS e_ww_num,
        |  CAST(g.n * (g.n - 1) AS BIGINT) AS e_den
        |FROM e CROSS JOIN g""".stripMargin,

    // q148 — the closed-form rook graph with the q141 gradient; the
    // hot/cold verdict replayed as the exact sign of
    // (n−1)·lag − degree·(S−x)
    "q148_local_g" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |vals AS (SELECT 3000000 + k AS rid, (k % 16) + (k // 16) AS x FROM cells),
        |und AS (
        |  SELECT 3000000 + k AS a, 3000000 + k + 1 AS b FROM cells WHERE k % 16 <> 15
        |  UNION ALL
        |  SELECT 3000000 + k, 3000000 + k + 16 FROM cells WHERE k < 112),
        |dir AS (SELECT a AS src, b AS dst FROM und UNION ALL SELECT b, a FROM und),
        |g AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM vals),
        |lagged AS (SELECT src, COUNT(*) AS degree, SUM(v.x) AS lag
        |           FROM dir JOIN vals v ON v.rid = dir.dst GROUP BY src),
        |t AS (SELECT v.rid, v.x, coalesce(l.degree, 0) AS degree,
        |             coalesce(l.lag, 0) AS lag,
        |             (g.n - 1) * coalesce(l.lag, 0)
        |               - coalesce(l.degree, 0) * (g.s - v.x) AS g_num
        |      FROM vals v CROSS JOIN g LEFT JOIN lagged l ON l.src = v.rid)
        |SELECT rid AS relation_id, CAST(x AS BIGINT) AS x,
        |  CAST(degree AS BIGINT) AS degree, CAST(lag AS BIGINT) AS lag,
        |  CAST(g_num AS BIGINT) AS g_num,
        |  CASE WHEN degree = 0 THEN 'ISO'
        |       WHEN g_num > 0 THEN 'HOT'
        |       WHEN g_num < 0 THEN 'COLD'
        |       ELSE 'EVEN' END AS spot
        |FROM t""".stripMargin,

    // q149 — BOTH ray-cast burns (source and (+1,+1)-shifted target
    // zonings) through the suffixed lattice chain, then the same
    // cell-keyed overlap join and exact rational transfer table
    "q149_areal_interp" ->
      s"""WITH ${insideCtes("_s", rasterEdgesSqlValues)},
         |${insideCtes("_d", arealDstEdgesSqlValues)},
         |sz AS (SELECT pid, COUNT(*) AS src_cells FROM inside_s GROUP BY pid),
         |ov AS (SELECT s.pid AS src_id, d.pid AS dst_id, COUNT(*) AS overlap_cells
         |       FROM inside_s s JOIN inside_d d ON d.cx = s.cx AND d.cy = s.cy
         |       GROUP BY 1, 2),
         |vals AS (SELECT 7000 + range AS src_id, range + 1 AS v FROM range(0, 5))
         |SELECT ov.dst_id, ov.src_id,
         |  CAST(ov.overlap_cells AS BIGINT) AS overlap_cells,
         |  CAST(sz.src_cells AS BIGINT) AS src_cells,
         |  CAST(vals.v AS BIGINT) AS v,
         |  CAST(vals.v * ov.overlap_cells AS BIGINT) AS transfer_num
         |FROM ov JOIN sz ON sz.pid = ov.src_id
         |        JOIN vals ON vals.src_id = ov.src_id""".stripMargin,

    // q150 — histogram + cumulative sums from the pixel chain, then the
    // between-class-variance argmax as a HUGEINT dominance test
    // (y beats x iff y.a²·x.b > x.a²·y.b; equal value + smaller t also
    // dominates — that encodes the smallest-argmax tie-break), fg from
    // the winning cumulative count
    "q150_otsu" ->
      s"""WITH ${pixelChainCtes(48)},
         |hist AS (SELECT i, w, h, g, count(*) AS c FROM px GROUP BY 1, 2, 3, 4),
         |tot AS (SELECT i, sum(c) AS nt, sum(g * c) AS st FROM hist GROUP BY 1),
         |cum AS (SELECT i, w, h, g AS t,
         |        sum(c) OVER (PARTITION BY i ORDER BY g) AS c0,
         |        sum(g * c) OVER (PARTITION BY i ORDER BY g) AS s0 FROM hist),
         |cand AS (SELECT cum.i, cum.w, cum.h, cum.t, tot.nt, cum.c0,
         |           CAST(tot.st * cum.c0 - tot.nt * cum.s0 AS HUGEINT) AS a,
         |           CAST(cum.c0 AS HUGEINT) * (tot.nt - cum.c0) AS b
         |         FROM cum JOIN tot USING (i)
         |         WHERE cum.c0 > 0 AND cum.c0 < tot.nt AND cum.t < 255),
         |best AS (SELECT x.* FROM cand x WHERE NOT EXISTS (
         |           SELECT 1 FROM cand y WHERE y.i = x.i AND
         |             (y.a * y.a * x.b > x.a * x.a * y.b OR
         |              (y.a * y.a * x.b = x.a * x.a * y.b AND y.t < x.t))))
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h,
         |  CAST(t AS INT) AS threshold, CAST(nt - c0 AS BIGINT) AS fg
         |FROM best""".stripMargin,

    // q151 — the closed-form queen pairs of the 16×8 grid with exact
    // squared distances ((1.5e8 dm)² per index step)
    "q151_distance_band" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |pts AS (SELECT 3000000 + k AS id, (k % 16) AS ix, (k // 16) AS iy FROM cells),
        |pr AS (SELECT a.id AS rel_a, b.id AS rel_b,
        |         (a.ix - b.ix) * (a.ix - b.ix) + (a.iy - b.iy) * (a.iy - b.iy) AS cd2
        |       FROM pts a JOIN pts b ON a.id < b.id
        |       WHERE abs(a.ix - b.ix) <= 1 AND abs(a.iy - b.iy) <= 1)
        |SELECT rel_a, rel_b,
        |  CAST(cd2 * 22500000000000000 AS BIGINT) AS dist2 FROM pr""".stripMargin,

    // q152 — the all-pairs quadratic replica of the binned join: same
    // point derivation as q107, same exact integer distance predicate
    "q152_ripley_k" ->
      """WITH pts AS (SELECT o_orderkey AS id,
        |    abs(o_orderkey*9973+12345) % 2000001 - 1000000 AS x,
        |    abs(o_orderkey*7919+54321) % 2000001 - 1000000 AS y
        |  FROM orders WHERE o_orderkey % 17 = 0),
        |n AS (SELECT COUNT(*) AS n_points FROM pts),
        |pr AS (SELECT (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
        |       FROM pts a JOIN pts b ON a.id < b.id),
        |r(r2) AS (VALUES (10000000000), (40000000000), (160000000000))
        |SELECT CAST(r.r2 AS BIGINT) AS r2,
        |  CAST(n.n_points AS BIGINT) AS n_points,
        |  CAST(count(pr.d2) AS BIGINT) AS pairs
        |FROM r CROSS JOIN n LEFT JOIN pr ON pr.d2 <= r.r2
        |GROUP BY 1, 2""".stripMargin,

    // q153 — histogram + cumulative counts from the pixel chain, the
    // integer remap formula per occupied level, aggregates replayed
    "q153_hist_eq" ->
      s"""WITH ${pixelChainCtes(48)},
         |hist AS (SELECT i, w, h, g, count(*) AS c FROM px GROUP BY 1, 2, 3, 4),
         |tot AS (SELECT i, sum(c) AS nt FROM hist GROUP BY 1),
         |cmin AS (SELECT i, min(g) AS gmin FROM hist GROUP BY 1),
         |cdfm AS (SELECT h.i, h.c AS cdfmin
         |         FROM hist h JOIN cmin m ON m.i = h.i AND h.g = m.gmin),
         |cum AS (SELECT i, w, h, g, c,
         |        sum(c) OVER (PARTITION BY i ORDER BY g) AS cdf FROM hist),
         |outm AS (SELECT cum.i, cum.w, cum.h, cum.c,
         |           (cum.cdf - cdfm.cdfmin) * 255 // (tot.nt - cdfm.cdfmin) AS o
         |         FROM cum JOIN cdfm USING (i) JOIN tot USING (i))
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h,
         |  CAST(sum(c * o) AS BIGINT) AS out_sum,
         |  CAST(min(o) AS INT) AS out_min,
         |  CAST(max(o) AS INT) AS out_max,
         |  CAST(count(DISTINCT o) AS INT) AS out_levels
         |FROM outm GROUP BY 1, 2, 3""".stripMargin,

    // q154 — the offset-(1,0) co-occurrence matrix as a pixel self-join
    // on neighbor coordinates (the q108 pattern), quantized g // 32,
    // contrast and ASM numerator as exact integers
    "q154_glcm" ->
      s"""WITH ${pixelChainCtes(48)},
         |qx AS (SELECT i, x, y, g // 32 AS q FROM px),
         |pairs AS (SELECT a.i, a.q AS qa, b.q AS qb
         |          FROM qx a JOIN qx b ON b.i = a.i AND b.y = a.y AND b.x = a.x + 1),
         |cmat AS (SELECT i, qa, qb, count(*) AS c FROM pairs GROUP BY 1, 2, 3),
         |agg AS (SELECT i, sum((qa - qb) * (qa - qb) * c) AS contrast,
         |               sum(c * c) AS asm FROM cmat GROUP BY 1)
         |SELECT printf('img_%09d', CAST(d.i AS BIGINT)) AS image_id,
         |  CAST((d.w - 1) * d.h AS BIGINT) AS n_pairs,
         |  CAST(a.contrast AS BIGINT) AS contrast,
         |  CAST(a.asm AS BIGINT) AS asm_num
         |FROM agg a JOIN dims d ON d.i = a.i""".stripMargin,

    // q155 — mask from the pixel chain, the two 3×3 reductions replayed
    // by SCATTERING each mask bit to its 9 incident targets (the q87
    // trick) and summing: sm = 9 is erosion, sm ≥ 1 is dilation;
    // interior targets only (border semantics explicit on both sides)
    "q155_morphology" ->
      s"""WITH ${pixelChainCtes(48)},
         |pxm AS (SELECT i, w, h, x, y,
         |          CASE WHEN g >= 128 THEN 1 ELSE 0 END AS m FROM px),
         |sc AS (SELECT i, x + dx.d AS tx, y + dy.d AS ty, m
         |       FROM pxm, (VALUES (-1), (0), (1)) dx(d),
         |                 (VALUES (-1), (0), (1)) dy(d)),
         |s9 AS (SELECT i, tx, ty, sum(m) AS sm FROM sc GROUP BY 1, 2, 3),
         |fgc AS (SELECT i, w, h, sum(m) AS fg FROM pxm GROUP BY 1, 2, 3),
         |mor AS (SELECT s9.i,
         |          sum(CASE WHEN sm = 9 THEN 1 ELSE 0 END) AS eroded,
         |          sum(CASE WHEN sm >= 1 THEN 1 ELSE 0 END) AS dilated
         |        FROM s9 JOIN dims d ON d.i = s9.i
         |        WHERE tx BETWEEN 1 AND d.w - 2 AND ty BETWEEN 1 AND d.h - 2
         |        GROUP BY 1)
         |SELECT printf('img_%09d', CAST(f.i AS BIGINT)) AS image_id, f.w, f.h,
         |  CAST(f.fg AS BIGINT) AS fg,
         |  CAST(coalesce(m.eroded, 0) AS BIGINT) AS eroded,
         |  CAST(coalesce(m.dilated, 0) AS BIGINT) AS dilated
         |FROM fgc f LEFT JOIN mor m ON m.i = f.i""".stripMargin,

    // q156 — assignment (q12's open-interval bbox form over the rect
    // fixtures) × Sobel energy (q108's 8-join chain), rolled up per zone
    "q156_zone_quality" ->
      s"""WITH ${pixelChainCtes(300)},
         |sob AS (
         |  SELECT p.i,
         |    (ne.g + 2*e.g + se.g - nw.g - 2*w_.g - sw.g) AS gx,
         |    (sw.g + 2*s_.g + se.g - nw.g - 2*n_.g - ne.g) AS gy
         |  FROM px p
         |  JOIN px nw ON nw.i = p.i AND nw.x = p.x-1 AND nw.y = p.y-1
         |  JOIN px n_ ON n_.i = p.i AND n_.x = p.x   AND n_.y = p.y-1
         |  JOIN px ne ON ne.i = p.i AND ne.x = p.x+1 AND ne.y = p.y-1
         |  JOIN px w_ ON w_.i = p.i AND w_.x = p.x-1 AND w_.y = p.y
         |  JOIN px e  ON e.i  = p.i AND e.x  = p.x+1 AND e.y  = p.y
         |  JOIN px sw ON sw.i = p.i AND sw.x = p.x-1 AND sw.y = p.y+1
         |  JOIN px s_ ON s_.i = p.i AND s_.x = p.x   AND s_.y = p.y+1
         |  JOIN px se ON se.i = p.i AND se.x = p.x+1 AND se.y = p.y+1
         |  WHERE p.x BETWEEN 1 AND p.w-2 AND p.y BETWEEN 1 AND p.h-2),
         |en AS (SELECT i, sum(abs(gx)+abs(gy)) AS energy,
         |              max(abs(gx)+abs(gy)) AS gmax FROM sob GROUP BY 1),
         |pts AS (SELECT i,
         |          ((abs(i*9973+12345) % 170000)/1000.0) - 85.0 AS lat,
         |          ((abs(i*7919+54321) % 360000)/1000.0) - 180.0 AS lon
         |        FROM dims),
         |asn AS (SELECT i, CAST(relation_id AS BIGINT) AS relation_id
         |        FROM pts JOIN $rectsSqlValues
         |          ON lat > lat_min AND lat < lat_max
         |         AND lon > lon_min AND lon < lon_max)
         |SELECT asn.relation_id,
         |  CAST(count(*) AS BIGINT) AS n_images,
         |  CAST(sum(en.energy) AS BIGINT) AS energy_sum,
         |  CAST(max(en.gmax) AS BIGINT) AS gmax_max
         |FROM asn JOIN en ON en.i = asn.i GROUP BY 1""".stripMargin,

    // q157 — the geotag derivation + open-interval bbox containment
    // (the q12/q156 assignment form), counted per zone
    "q157_assign_salted" ->
      s"""WITH pts AS (SELECT CAST(range AS BIGINT) AS i FROM range(0, 300)),
         |geo AS (SELECT i,
         |          ((abs(i*9973+12345) % 170000)/1000.0) - 85.0 AS lat,
         |          ((abs(i*7919+54321) % 360000)/1000.0) - 180.0 AS lon
         |        FROM pts)
         |SELECT CAST(relation_id AS BIGINT) AS relation_id,
         |  CAST(count(*) AS BIGINT) AS n_images
         |FROM geo JOIN $rectsSqlValues
         |  ON lat > lat_min AND lat < lat_max
         | AND lon > lon_min AND lon < lon_max
         |GROUP BY 1""".stripMargin,

    // q158 — the FULL recompute over all 96 images grouped by zone only;
    // the Spark side assembles it from two batch summaries instead
    "q158_zonal_refresh" ->
      s"""WITH ${pixelChainCtes(96)},
         |${insideCtes("", zonalEdgesSqlValues)}
         |SELECT z.pid AS relation_id,
         |  CAST(count(*) AS BIGINT) AS n_px,
         |  CAST(sum(p.g) AS BIGINT) AS sum_g,
         |  CAST(min(p.g) AS BIGINT) AS min_g,
         |  CAST(max(p.g) AS BIGINT) AS max_g
         |FROM px p JOIN inside z ON z.cx = p.x AND z.cy = p.y
         |GROUP BY 1""".stripMargin,

    // q159 — min rook hops on a flush grid = min Manhattan distance to
    // a seed: least(ix+iy, |ix−7|+|iy−4|), every cell reachable
    "q159_bfs_hops" ->
      """WITH cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |t AS (SELECT 3000000 + k AS id, (k % 16) AS ix, (k // 16) AS iy FROM cells)
        |SELECT id, CAST(least(ix + iy, abs(ix - 7) + abs(iy - 4)) AS BIGINT) AS hops
        |FROM t""".stripMargin,

    // q160 — the q145 pixel×lattice join with g//32 classes, the mode
    // replayed as a count-dominance NOT EXISTS (ties break to the
    // smaller class, matching the struct-max)
    "q160_zonal_mode" ->
      s"""WITH ${pixelChainCtes(64)},
         |${insideCtes("", zonalEdgesSqlValues)},
         |cls AS (SELECT z.pid, CAST(p.g // 32 AS BIGINT) AS class
         |        FROM px p JOIN inside z ON z.cx = p.x AND z.cy = p.y),
         |cnts AS (SELECT pid, class, count(*) AS cnt FROM cls GROUP BY 1, 2),
         |best AS (SELECT c.pid, c.class, c.cnt FROM cnts c WHERE NOT EXISTS (
         |  SELECT 1 FROM cnts d WHERE d.pid = c.pid AND
         |    (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.class < c.class)))),
         |tot AS (SELECT pid, sum(cnt) AS n_px FROM cnts GROUP BY 1)
         |SELECT t.pid AS relation_id, CAST(t.n_px AS BIGINT) AS n_px,
         |  b.class AS mode_class, CAST(b.cnt AS BIGINT) AS mode_cnt
         |FROM tot t JOIN best b ON b.pid = t.pid""".stripMargin,

    // q161 — the three channel formulas re-derived from the shared t1
    // CTE (pixelChainCtes keeps hv/t1 referenceable), the 64-bin cube,
    // and the same smallest-bin dominance argmax
    "q161_dominant_color" ->
      s"""WITH ${pixelChainCtes(48)},
         |px3 AS (SELECT i, w, h, x, unnest(range(h)) AS y, hr, hg, hb FROM t1),
         |bins AS (SELECT i, w, h,
         |    ((x*7 + hr) % 256 // 64) * 16 + ((y*11 + hg) % 256 // 64) * 4
         |      + (((x+y)*3 + hb) % 256 // 64) AS bin
         |  FROM px3),
         |cnts AS (SELECT i, w, h, bin, count(*) AS cnt FROM bins GROUP BY 1, 2, 3, 4),
         |best AS (SELECT c.* FROM cnts c WHERE NOT EXISTS (
         |  SELECT 1 FROM cnts d WHERE d.i = c.i AND
         |    (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.bin < c.bin))))
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h,
         |  CAST(bin AS INT) AS bin, CAST(cnt AS BIGINT) AS cnt
         |FROM best""".stripMargin,

    // q162 — the same Hilbert CTE unrolling as q113 over the bbox
    // lattice, islands by d − row_number
    "q162_hilbert_ranges" ->
      s"""WITH xs AS (SELECT CAST(unnest(range(10, 26)) AS BIGINT) AS x),
         |cells AS (SELECT x, CAST(unnest(range(33, 41)) AS BIGINT) AS y FROM xs),
         |${hilbertCtes(6, "cells")},
         |isl AS (SELECT d6 AS d, d6 - row_number() OVER (ORDER BY d6) AS grp FROM h6)
         |SELECT CAST(min(d) AS BIGINT) AS d_start,
         |  CAST(max(d) AS BIGINT) AS d_end,
         |  CAST(count(*) AS BIGINT) AS n_cells
         |FROM isl GROUP BY grp""".stripMargin,

    // q163 — the same point derivation, the quadratic all-pairs replica
    // of the binned eps-join, degree+core, the q51 reachability fixpoint
    // over core-core edges, and the min-core-neighbor border rule
    "q163_dbscan" ->
      """WITH RECURSIVE base AS (
        |  SELECT o_orderkey AS id, o_orderkey % 5 AS c
        |  FROM orders WHERE o_orderkey % 23 = 0),
        |pts AS (SELECT id,
        |    CASE WHEN id % 7 = 0 THEN abs(id*104729 + 7) % 5000001
        |         ELSE c*1000000 + (abs(id*9973 + 11) % 40001 - 20000) END AS x,
        |    CASE WHEN id % 7 = 0 THEN abs(id*1299709 + 3) % 5000001
        |         ELSE c*c*300000 + (abs(id*7919 + 13) % 40001 - 20000) END AS y
        |  FROM base),
        |pr AS (SELECT a.id AS ia, b.id AS ib
        |       FROM pts a JOIN pts b ON a.id < b.id
        |       WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 25000000),
        |deg AS (SELECT id, count(*) AS nbrs FROM
        |        (SELECT ia AS id FROM pr UNION ALL SELECT ib FROM pr) GROUP BY 1),
        |core AS (SELECT p.id FROM pts p LEFT JOIN deg d ON d.id = p.id
        |         WHERE coalesce(d.nbrs, 0) + 1 >= 5),
        |ce AS (SELECT ia AS src, ib AS dst FROM pr
        |       WHERE ia IN (SELECT id FROM core) AND ib IN (SELECT id FROM core)),
        |und AS (SELECT src, dst FROM ce UNION SELECT dst, src FROM ce),
        |walk(id, r) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN und e ON e.src = w.r),
        |clab AS (SELECT id, min(r) AS cluster FROM walk GROUP BY 1),
        |touch AS (SELECT ia AS id, ib AS nb FROM pr
        |          UNION ALL SELECT ib, ia FROM pr),
        |blab AS (SELECT t.id, min(c.cluster) AS cluster
        |         FROM touch t JOIN clab c ON c.id = t.nb
        |         WHERE t.id NOT IN (SELECT id FROM core)
        |         GROUP BY t.id)
        |SELECT p.id,
        |  CASE WHEN cl.id IS NOT NULL THEN 'core'
        |       WHEN bl.id IS NOT NULL THEN 'border' ELSE 'noise' END AS role,
        |  CAST(coalesce(cl.cluster, bl.cluster, -1) AS BIGINT) AS cluster
        |FROM pts p
        |LEFT JOIN clab cl ON cl.id = p.id
        |LEFT JOIN blab bl ON bl.id = p.id""".stripMargin,

    // q164 — the same rook lattice and weight formula, relaxed as a
    // bounded recursive walk: min over all path sums below 400 (the
    // true weighted diameter is <= 22 hops x 7 = 154, so the bound
    // never clips a shortest path)
    "q164_sssp" ->
      """WITH RECURSIVE cells AS (SELECT CAST(range AS BIGINT) AS k FROM range(0, 128)),
        |t AS (SELECT 3000000 + k AS id, (k % 16) AS ix, (k // 16) AS iy FROM cells),
        |e0 AS (
        |  SELECT a.id AS src, b.id AS dst, 1 + (a.id + b.id) % 7 AS w
        |  FROM t a JOIN t b
        |    ON abs(a.ix - b.ix) + abs(a.iy - b.iy) = 1),
        |walk(id, d) AS (
        |  SELECT CAST(3000000 AS BIGINT), CAST(0 AS BIGINT)
        |  UNION
        |  SELECT e.dst, w.d + e.w FROM walk w JOIN e0 e ON e.src = w.id
        |  WHERE w.d + e.w < 400)
        |SELECT id, min(d) AS dist FROM walk GROUP BY id""".stripMargin,

    // q165 — the same ray-cast lattice as q145/q160, the boundary ring
    // as cells with < 4 rook neighbors inside, then a recursive-CTE
    // walk inward; min(d) per cell is the BFS distance (the walk bound
    // 64 dominates the fixtures' raster radius)
    "q165_distance_transform" ->
      s"""WITH RECURSIVE ${insideCtes("", zonalEdgesSqlValues)},
         |ring1 AS (
         |  SELECT i.pid, i.cx, i.cy FROM inside i
         |  WHERE (SELECT count(*) FROM inside n WHERE n.pid = i.pid
         |           AND abs(n.cx - i.cx) + abs(n.cy - i.cy) = 1) < 4),
         |walk(pid, cx, cy, d) AS (
         |  SELECT pid, cx, cy, CAST(1 AS BIGINT) FROM ring1
         |  UNION
         |  SELECT i.pid, i.cx, i.cy, w.d + 1
         |  FROM walk w JOIN inside i ON i.pid = w.pid
         |    AND abs(i.cx - w.cx) + abs(i.cy - w.cy) = 1
         |  WHERE w.d < 64)
         |SELECT pid AS relation_id, cx, cy, CAST(min(d) AS BIGINT) AS dist
         |FROM walk GROUP BY 1, 2, 3""".stripMargin,

    // q170 — the q163 point scene shifted into [0, 2^23), counts per
    // cell at every level 0..8, then the leaf rule: root ≤ cap, or
    // parent > cap and (own ≤ cap or depth-capped at 8). Count
    // monotonicity makes "immediate parent over cap" equal "every
    // ancestor over cap" — the same closed form the engine runs.
    "q170_quadtree" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id, o_orderkey % 5 AS c
        |  FROM orders WHERE o_orderkey % 23 = 0),
        |pts AS (SELECT
        |    2097152 + CASE WHEN id % 7 = 0 THEN abs(id*104729 + 7) % 5000001
        |         ELSE c*1000000 + (abs(id*9973 + 11) % 40001 - 20000) END AS x,
        |    2097152 + CASE WHEN id % 7 = 0 THEN abs(id*1299709 + 3) % 5000001
        |         ELSE c*c*300000 + (abs(id*7919 + 13) % 40001 - 20000) END AS y
        |  FROM base),
        |lv AS (SELECT CAST(range AS INT) AS l FROM range(0, 9)),
        |cnt AS (
        |  SELECT l.l AS level, p.x >> (23 - l.l) AS qx, p.y >> (23 - l.l) AS qy,
        |    count(*) AS n
        |  FROM pts p CROSS JOIN lv l GROUP BY 1, 2, 3)
        |SELECT c.level, c.qx, c.qy, c.n FROM cnt c
        |LEFT JOIN cnt par ON par.level = c.level - 1
        |  AND par.qx = c.qx >> 1 AND par.qy = c.qy >> 1
        |WHERE (c.level = 0 AND c.n <= 40)
        |   OR (c.level > 0 AND par.n > 40 AND (c.n <= 40 OR c.level = 8))"""
        .stripMargin,

    // q174 — the q169 LBP codes (pixel chain + offset join, interior
    // only) classified per zone through the q160 dominance replica
    "q174_zonal_texture" ->
      s"""WITH ${pixelChainCtes(64)},
         |${insideCtes("", zonalEdgesSqlValues)},
         |off AS (SELECT * FROM (VALUES
         |  (0, -1, -1), (1, 0, -1), (2, 1, -1), (3, 1, 0),
         |  (4, 1, 1), (5, 0, 1), (6, -1, 1), (7, -1, 0)) t(k, dx, dy)),
         |codes AS (
         |  SELECT p.i, p.x, p.y,
         |    CAST(sum(CASE WHEN n.g >= p.g THEN 1 << o.k ELSE 0 END) AS BIGINT)
         |      AS class
         |  FROM px p
         |  CROSS JOIN off o
         |  JOIN px n ON n.i = p.i AND n.x = p.x + o.dx AND n.y = p.y + o.dy
         |  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
         |  GROUP BY 1, 2, 3),
         |cls AS (SELECT z.pid, c.class
         |        FROM codes c JOIN inside z ON z.cx = c.x AND z.cy = c.y),
         |cnts AS (SELECT pid, class, count(*) AS cnt FROM cls GROUP BY 1, 2),
         |best AS (SELECT c.pid, c.class, c.cnt FROM cnts c WHERE NOT EXISTS (
         |  SELECT 1 FROM cnts d WHERE d.pid = c.pid AND
         |    (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.class < c.class)))),
         |tot AS (SELECT pid, sum(cnt) AS n_px FROM cnts GROUP BY 1)
         |SELECT t.pid AS relation_id, CAST(t.n_px AS BIGINT) AS n_px,
         |  b.class AS mode_class, CAST(b.cnt AS BIGINT) AS mode_cnt
         |FROM tot t JOIN best b ON b.pid = t.pid""".stripMargin,

    // q172 — direct conditional sums over the pixel chain (the engine
    // used SAT corner lookups; agreement proves the 4-corner identity)
    "q172_haar_features" ->
      s"""WITH ${pixelChainCtes(48)}
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(sum(CASE WHEN x BETWEEN 4 AND 7 AND y BETWEEN 2 AND 9
         |             THEN g ELSE 0 END)
         |     - sum(CASE WHEN x BETWEEN 8 AND 11 AND y BETWEEN 2 AND 9
         |             THEN g ELSE 0 END) AS BIGINT) AS haar_h,
         |  CAST(sum(CASE WHEN x BETWEEN 4 AND 11 AND y BETWEEN 2 AND 5
         |             THEN g ELSE 0 END)
         |     - sum(CASE WHEN x BETWEEN 4 AND 11 AND y BETWEEN 6 AND 9
         |             THEN g ELSE 0 END) AS BIGINT) AS haar_v
         |FROM px GROUP BY 1""".stripMargin,

    // q173 — the same moment sums over the pixel chain; the central
    // numerators are replayed with HUGEINT intermediates then cast
    "q173_image_moments" ->
      s"""WITH ${pixelChainCtes(48)},
         |m AS (SELECT i, sum(g) AS m00, sum(x*g) AS m10, sum(y*g) AS m01,
         |    sum(x*x*g) AS m20, sum(x*y*g) AS m11, sum(y*y*g) AS m02
         |  FROM px GROUP BY i)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(m00 AS BIGINT) AS m00, CAST(m10 AS BIGINT) AS m10,
         |  CAST(m01 AS BIGINT) AS m01,
         |  CAST(m00*m20 - m10*m10 AS BIGINT) AS mu20n,
         |  CAST(m00*m11 - m10*m01 AS BIGINT) AS mu11n,
         |  CAST(m00*m02 - m01*m01 AS BIGINT) AS mu02n
         |FROM m""".stripMargin,

    // q169 — the q145 pixel chain, the 8-neighbor LBP replayed as a
    // cross join against the offset table + one equi-join back to px
    // (quadratic-free: the join key is exact neighbor position)
    "q169_lbp_texture" ->
      s"""WITH ${pixelChainCtes(48)},
         |off AS (SELECT * FROM (VALUES
         |  (0, -1, -1), (1, 0, -1), (2, 1, -1), (3, 1, 0),
         |  (4, 1, 1), (5, 0, 1), (6, -1, 1), (7, -1, 0)) t(k, dx, dy)),
         |codes AS (
         |  SELECT p.i, p.x, p.y,
         |    sum(CASE WHEN n.g >= p.g THEN 1 << o.k ELSE 0 END) AS code
         |  FROM px p
         |  CROSS JOIN off o
         |  JOIN px n ON n.i = p.i AND n.x = p.x + o.dx AND n.y = p.y + o.dy
         |  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
         |  GROUP BY 1, 2, 3)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(code AS BIGINT) AS code, count(*) AS cnt
         |FROM codes GROUP BY 1, 2""".stripMargin,

    // q167 — the same ray-cast lattice, seeds from the same modulus
    // lines, then a seed-labeled recursive walk; per cell the argmin by
    // (dist, seed) — min(d) first, then min(seed) among walks at that d
    // (the claiming BFS provably reproduces exactly this tie-break)
    "q167_voronoi_assign" ->
      s"""WITH RECURSIVE ${insideCtes("", zonalEdgesSqlValues)},
         |seeds AS (
         |  SELECT pid, cx, cy, cx*1000 + cy AS seed FROM inside
         |  WHERE (cx*5 + cy*3) % 29 = 0),
         |walk(pid, cx, cy, seed, d) AS (
         |  SELECT pid, cx, cy, seed, CAST(0 AS BIGINT) FROM seeds
         |  UNION
         |  SELECT i.pid, i.cx, i.cy, w.seed, w.d + 1
         |  FROM walk w JOIN inside i ON i.pid = w.pid
         |    AND abs(i.cx - w.cx) + abs(i.cy - w.cy) = 1
         |  WHERE w.d < 96),
         |m AS (SELECT pid, cx, cy, min(d) AS dist FROM walk GROUP BY 1, 2, 3)
         |SELECT w.pid AS relation_id, w.cx, w.cy, m.dist,
         |  CAST(min(w.seed) AS BIGINT) AS seed
         |FROM walk w JOIN m ON m.pid = w.pid AND m.cx = w.cx AND m.cy = w.cy
         |  AND w.d = m.dist
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    // q168 — the q86 ray-cast lattice with the same cost formula; the
    // seed is the row_number-1 cell by (cy, cx) per pid (lattice-sized
    // window — oracle-side only), then a bounded recursive relaxation:
    // min over all path sums below 240 (true weighted diameter ≤ ~150)
    "q168_cost_distance" ->
      s"""WITH RECURSIVE ${insideCtes("", rasterEdgesSqlValues)},
         |cost AS (SELECT pid, cx, cy, 1 + (cx + 2*cy) % 5 AS v FROM inside),
         |seed AS (
         |  SELECT pid, cx, cy FROM (
         |    SELECT pid, cx, cy,
         |      row_number() OVER (PARTITION BY pid ORDER BY cy, cx) AS rn
         |    FROM inside) WHERE rn = 1),
         |walk(pid, cx, cy, d) AS (
         |  SELECT pid, cx, cy, CAST(0 AS BIGINT) FROM seed
         |  UNION
         |  SELECT c.pid, c.cx, c.cy, w.d + c.v
         |  FROM walk w JOIN cost c ON c.pid = w.pid
         |    AND abs(c.cx - w.cx) + abs(c.cy - w.cy) = 1
         |  WHERE w.d + c.v < 240)
         |SELECT pid AS relation_id, cx, cy, CAST(min(d) AS BIGINT) AS dist
         |FROM walk GROUP BY 1, 2, 3""".stripMargin,

    // q177 — the zonal lattice's quadratic adjacency self-join across
    // pids (the quadratic form IS the spec the scatter join must match)
    "q177_border_weights" ->
      s"""WITH ${insideCtes("", zonalEdgesSqlValues)}
         |SELECT a.pid AS rel_a, b.pid AS rel_b, count(*) AS faces
         |FROM inside a JOIN inside b ON a.pid < b.pid
         |  AND abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
         |GROUP BY 1, 2""".stripMargin,

    // q178 — Sobel via the weighted offset table over the pixel chain,
    // then the same octant CASE and L1 votes
    "q178_hog_octants" ->
      s"""WITH ${pixelChainCtes(48)},
         |sob AS (SELECT * FROM (VALUES
         |  (-1, -1, -1, -1), (0, -1, 0, -2), (1, -1, 1, -1),
         |  (-1, 0, -2, 0), (1, 0, 2, 0),
         |  (-1, 1, -1, 1), (0, 1, 0, 2), (1, 1, 1, 1)) t(dx, dy, wx, wy)),
         |grad AS (
         |  SELECT p.i, p.x, p.y,
         |    sum(o.wx * n.g) AS gx, sum(o.wy * n.g) AS gy
         |  FROM px p
         |  CROSS JOIN sob o
         |  JOIN px n ON n.i = p.i AND n.x = p.x + o.dx AND n.y = p.y + o.dy
         |  WHERE p.x >= 1 AND p.x <= p.w - 2 AND p.y >= 1 AND p.y <= p.h - 2
         |  GROUP BY 1, 2, 3),
         |oct AS (
         |  SELECT i, CAST(CASE
         |      WHEN gx >= 0 AND gy >= 0 THEN CASE WHEN abs(gx) >= abs(gy) THEN 0 ELSE 1 END
         |      WHEN gx < 0 AND gy >= 0 THEN CASE WHEN abs(gx) < abs(gy) THEN 2 ELSE 3 END
         |      WHEN gx < 0 AND gy < 0 THEN CASE WHEN abs(gx) >= abs(gy) THEN 4 ELSE 5 END
         |      ELSE CASE WHEN abs(gx) < abs(gy) THEN 6 ELSE 7 END
         |    END AS BIGINT) AS octant,
         |    abs(gx) + abs(gy) AS mag
         |  FROM grad WHERE gx <> 0 OR gy <> 0)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, octant,
         |  count(*) AS n_px, CAST(sum(mag) AS BIGINT) AS w_sum
         |FROM oct GROUP BY 1, 2""".stripMargin,

    // q185 — the q156 assignment replica + the token re-derived from
    // the splitmix phash (abs(ph) % 97 — exactly what the generator
    // wrote into the caption), then the q160 dominance rule per zone
    "q185_region_captions" ->
      s"""WITH ${splitmixDimsCtes(300)},
         |pts AS (SELECT i,
         |    ((abs(i*9973+12345) % 170000)/1000.0) - 85.0 AS lat,
         |    ((abs(i*7919+54321) % 360000)/1000.0) - 180.0 AS lon
         |  FROM dims),
         |asn AS (SELECT i, CAST(relation_id AS BIGINT) AS relation_id
         |        FROM pts JOIN $rectsSqlValues
         |          ON lat > lat_min AND lat < lat_max
         |         AND lon > lon_min AND lon < lon_max),
         |tok AS (SELECT i, abs(phash) % 97 AS ctok FROM dims),
         |cnts AS (SELECT a.relation_id, t.ctok, count(*) AS cnt
         |         FROM asn a JOIN tok t ON t.i = a.i GROUP BY 1, 2),
         |best AS (SELECT c.relation_id, c.ctok, c.cnt FROM cnts c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM cnts d WHERE d.relation_id = c.relation_id AND
         |      (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.ctok < c.ctok)))),
         |tot AS (SELECT relation_id, sum(cnt) AS n_images FROM cnts GROUP BY 1)
         |SELECT t.relation_id, CAST(t.n_images AS BIGINT) AS n_images,
         |  CAST(b.ctok AS BIGINT) AS top_token, CAST(b.cnt AS BIGINT) AS top_cnt
         |FROM tot t JOIN best b ON b.relation_id = t.relation_id""".stripMargin,

    // q186 — the DEM over the same ray-cast lattice, the 8-neighborhood
    // as a per-polygon self-join with the Horn weights in the SELECT,
    // interior (nn = 8) cells only, the q178 octant CASE verbatim
    "q186_slope_aspect" ->
      s"""WITH ${insideCtes("", zonalEdgesSqlValues)},
         |$demSqlCte,
         |g AS (SELECT a.pid, a.cx, a.cy, count(*) AS nn,
         |    sum(b.z * (b.cx - a.cx) * (2 - abs(b.cy - a.cy))) AS gx,
         |    sum(b.z * (b.cy - a.cy) * (2 - abs(b.cx - a.cx))) AS gy
         |  FROM dem a JOIN dem b ON b.pid = a.pid
         |    AND abs(b.cx - a.cx) <= 1 AND abs(b.cy - a.cy) <= 1
         |    AND NOT (b.cx = a.cx AND b.cy = a.cy)
         |  GROUP BY 1, 2, 3)
         |SELECT g.pid AS relation_id, g.cx, g.cy, CAST(d.z AS BIGINT) AS z,
         |  CAST(gx AS BIGINT) AS gx, CAST(gy AS BIGINT) AS gy,
         |  CAST(gx*gx + gy*gy AS BIGINT) AS slope2,
         |  CAST(CASE WHEN gx = 0 AND gy = 0 THEN -1
         |    WHEN gx >= 0 AND gy >= 0 THEN
         |      CASE WHEN abs(gx) >= abs(gy) THEN 0 ELSE 1 END
         |    WHEN gx < 0 AND gy >= 0 THEN
         |      CASE WHEN abs(gx) < abs(gy) THEN 2 ELSE 3 END
         |    WHEN gx < 0 AND gy < 0 THEN
         |      CASE WHEN abs(gx) >= abs(gy) THEN 4 ELSE 5 END
         |    ELSE CASE WHEN abs(gx) < abs(gy) THEN 6 ELSE 7 END
         |  END AS BIGINT) AS octant,
         |  CAST(gy - gx AS BIGINT) AS shade
         |FROM g JOIN dem d ON d.pid = g.pid AND d.cx = g.cx AND d.cy = g.cy
         |WHERE nn = 8""".stripMargin,

    // q187 — D8 by window rank over the positive drops, then the flow
    // path as a recursive CTE; acc = 1 + count of walk rows landing on
    // the cell (the forest is acyclic: z strictly decreases per hop)
    "q187_flow_acc" ->
      s"""WITH RECURSIVE ${insideCtes("", zonalEdgesSqlValues)},
         |$demSqlCte,
         |$d8BestSqlCtes,
         |walk(pid, ucx, ucy, vcx, vcy) AS (
         |  SELECT pid, cx, cy, nx, ny FROM best
         |  UNION ALL
         |  SELECT w.pid, w.ucx, w.ucy, b.nx, b.ny FROM walk w
         |  JOIN best b ON b.pid = w.pid AND b.cx = w.vcx AND b.cy = w.vcy),
         |up AS (SELECT pid, vcx AS cx, vcy AS cy, count(*) AS upstream
         |       FROM walk GROUP BY 1, 2, 3)
         |SELECT d.pid AS relation_id, d.cx, d.cy,
         |  CAST(coalesce(b.dir, -1) AS BIGINT) AS dir,
         |  CAST(1 + coalesce(u.upstream, 0) AS BIGINT) AS acc
         |FROM dem d
         |LEFT JOIN best b ON b.pid = d.pid AND b.cx = d.cx AND b.cy = d.cy
         |LEFT JOIN up u ON u.pid = d.pid AND u.cx = d.cx AND u.cy = d.cy""".stripMargin,

    // q188 — the same D8 pick, then each cell walks to the first cell
    // with no positive drop (its basin sink); pits emit themselves
    "q188_watershed" ->
      s"""WITH RECURSIVE ${insideCtes("", zonalEdgesSqlValues)},
         |$demSqlCte,
         |$d8BestSqlCtes,
         |walk(pid, scx, scy, cx, cy) AS (
         |  SELECT pid, cx, cy, cx, cy FROM dem
         |  UNION ALL
         |  SELECT w.pid, w.scx, w.scy, b.nx, b.ny FROM walk w
         |  JOIN best b ON b.pid = w.pid AND b.cx = w.cx AND b.cy = w.cy)
         |SELECT w.pid AS relation_id, w.scx AS cx, w.scy AS cy,
         |  w.cx AS sink_cx, w.cy AS sink_cy
         |FROM walk w
         |LEFT JOIN best b ON b.pid = w.pid AND b.cx = w.cx AND b.cy = w.cy
         |WHERE b.pid IS NULL""".stripMargin,

    // q189 — summit observer by window rank (z DESC, cy, cx), rays-only
    // candidates, and the blocker test replayed as the identical
    // cross-multiplied integer comparison over a per-ray self-join
    "q189_viewshed" ->
      s"""WITH ${insideCtes("", zonalEdgesSqlValues)},
         |$demSqlCte,
         |obs AS (SELECT pid, cx AS ox, cy AS oy, z AS oz FROM (
         |  SELECT pid, cx, cy, z, row_number() OVER (
         |    PARTITION BY pid ORDER BY z DESC, cy, cx) AS rn FROM dem)
         |  WHERE rn = 1),
         |ray AS (SELECT d.pid, d.cx, d.cy, d.z - o.oz AS rz,
         |    d.cx - o.ox AS dx, d.cy - o.oy AS dy,
         |    greatest(abs(d.cx - o.ox), abs(d.cy - o.oy)) AS dd
         |  FROM dem d JOIN obs o ON o.pid = d.pid
         |  WHERE NOT (d.cx = o.ox AND d.cy = o.oy)
         |    AND (d.cx = o.ox OR d.cy = o.oy
         |         OR abs(d.cx - o.ox) = abs(d.cy - o.oy))),
         |rayi AS (SELECT pid, cx, cy, rz, dd,
         |    CAST(CASE WHEN sign(dx) = 1 AND sign(dy) = 0 THEN 0
         |         WHEN sign(dx) = 1 AND sign(dy) = 1 THEN 1
         |         WHEN sign(dx) = 0 AND sign(dy) = 1 THEN 2
         |         WHEN sign(dx) = -1 AND sign(dy) = 1 THEN 3
         |         WHEN sign(dx) = -1 AND sign(dy) = 0 THEN 4
         |         WHEN sign(dx) = -1 AND sign(dy) = -1 THEN 5
         |         WHEN sign(dx) = 0 AND sign(dy) = -1 THEN 6
         |         ELSE 7 END AS BIGINT) AS ray
         |  FROM ray)
         |SELECT a.pid AS relation_id, a.ray, a.cx, a.cy, a.dd AS d,
         |  CAST(1 - max(CASE WHEN b.pid IS NOT NULL
         |    AND b.rz * a.dd >= a.rz * b.dd THEN 1 ELSE 0 END) AS BIGINT)
         |    AS visible
         |FROM rayi a LEFT JOIN rayi b
         |  ON b.pid = a.pid AND b.ray = a.ray AND b.dd < a.dd
         |GROUP BY 1, 2, 3, 4, 5""".stripMargin,

    // q190 — the world placement + compositing replayed over the shared
    // pixel chain: contributor count/sum per world cell, winner by
    // (i DESC) window rank (each image contributes at most one pixel
    // per world cell, so the index order is total)
    "q190_mosaic" ->
      s"""WITH ${pixelChainCtes(24)},
         |wpx AS (SELECT i, CAST((i % 5) * 8 + x AS BIGINT) AS wx,
         |    CAST(((i // 5) % 5) * 6 + y AS BIGINT) AS wy, g FROM px),
         |agg AS (SELECT wx, wy, CAST(count(*) AS BIGINT) AS n_src,
         |    CAST(sum(g) AS BIGINT) AS g_sum FROM wpx GROUP BY 1, 2),
         |top AS (SELECT wx, wy, CAST(i AS BIGINT) AS top_i,
         |    CAST(g AS BIGINT) AS top_g FROM (
         |  SELECT *, row_number() OVER (PARTITION BY wx, wy
         |    ORDER BY i DESC) AS rn FROM wpx) WHERE rn = 1)
         |SELECT a.wx, a.wy, a.n_src, a.g_sum, t.top_i, t.top_g
         |FROM agg a JOIN top t ON t.wx = a.wx AND t.wy = a.wy""".stripMargin,

    // q191 — brute force: max squared distance over ALL distinct vertex
    // pairs (the diameter is attained at extreme points, so agreement
    // with the engine's hull-pairs-only plan validates the reduction);
    // lexicographically smallest witnessing pair on ties
    "q191_diameter" ->
      """WITH pts AS (
        |  SELECT DISTINCT o_orderkey % 4 AS grp,
        |    abs(o_orderkey*9973+12345) % 2000001 - 1000000 AS x,
        |    abs(o_orderkey*7919+54321) % 2000001 - 1000000 AS y
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |pairs AS (SELECT a.grp, a.x AS x1, a.y AS y1, b.x AS x2, b.y AS y2,
        |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
        |  FROM pts a JOIN pts b ON b.grp = a.grp
        |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))),
        |mx AS (SELECT grp, max(d2) AS diam2 FROM pairs GROUP BY 1),
        |best AS (SELECT p.grp, p.d2 AS diam2, p.x1, p.y1, p.x2, p.y2,
        |    row_number() OVER (PARTITION BY p.grp
        |      ORDER BY p.x1, p.y1, p.x2, p.y2) AS rn
        |  FROM pairs p JOIN mx ON mx.grp = p.grp AND p.d2 = mx.diam2)
        |SELECT grp, diam2, x1, y1, x2, y2 FROM best WHERE rn = 1""".stripMargin,

    // q192 — the identical normalized-direction + shifted-integer-div
    // midpoint formula, unnested over range(0, L+1); `//` floors and
    // the engine's `div` truncates, which agree on the nonnegative
    // numerators the shift guarantees
    "q192_line_raster" ->
      """WITH segs AS (
        |  SELECT o_orderkey AS seg_id,
        |    abs(o_orderkey*7919+1) % 241 AS ax,
        |    abs(o_orderkey*104729+5) % 241 AS ay,
        |    abs(o_orderkey*9973+3) % 241 AS bx,
        |    abs(o_orderkey*1299709+7) % 241 AS by
        |  FROM orders WHERE o_orderkey % 131 = 0),
        |norm AS (SELECT seg_id,
        |    CASE WHEN bx < ax OR (bx = ax AND by < ay) THEN bx ELSE ax END AS x0,
        |    CASE WHEN bx < ax OR (bx = ax AND by < ay) THEN by ELSE ay END AS y0,
        |    CASE WHEN bx < ax OR (bx = ax AND by < ay) THEN ax ELSE bx END AS x1,
        |    CASE WHEN bx < ax OR (bx = ax AND by < ay) THEN ay ELSE by END AS y1
        |  FROM segs),
        |d AS (SELECT seg_id, x0, y0, x1 - x0 AS dx, y1 - y0 AS dy,
        |    greatest(abs(x1 - x0), abs(y1 - y0)) AS len FROM norm),
        |steps AS (SELECT *, unnest(range(0, len + 1)) AS t FROM d)
        |SELECT seg_id,
        |  CAST(CASE WHEN len = 0 THEN x0
        |    ELSE x0 + (2*t*dx + len) // (2*len) END AS BIGINT) AS cx,
        |  CAST(CASE WHEN len = 0 THEN y0
        |    ELSE y0 + (2*t*dy + len + 2*len*abs(dy)) // (2*len) - abs(dy)
        |    END AS BIGINT) AS cy
        |FROM steps""".stripMargin,

    // q193 — the ANSI skyline definition: rows no other row weakly
    // dominates with one strict criterion, over the dims-derived
    // (w, h, quality) triple
    "q193_skyline" ->
      s"""WITH ${splitmixDimsCtes(400)},
         |items AS (SELECT CAST(i AS BIGINT) AS i, CAST(w AS BIGINT) AS w,
         |    CAST(h AS BIGINT) AS h, abs(phash) % 1000 AS q FROM dims)
         |SELECT i, w, h, q FROM items a
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM items b
         |  WHERE b.w >= a.w AND b.h >= a.h AND b.q >= a.q
         |    AND (b.w > a.w OR b.h > a.h OR b.q > a.q))""".stripMargin,

    // q194 — the interval join as the plain ANSI theta join the
    // bucketized plan must reproduce exactly
    "q194_interval_join" ->
      """WITH ev AS (SELECT event_id, epoch_us(ts) AS t FROM events),
        |win AS (SELECT event_id AS win_id, epoch_us(ts) AS w0,
        |    epoch_us(ts) + (event_id % 7 + 1) * 60000000 AS w1
        |  FROM events WHERE event_id % 503 = 0)
        |SELECT w.win_id, w.w0, w.w1,
        |  CAST(count(e.event_id) AS BIGINT) AS n_events,
        |  min(e.event_id) AS min_ev, max(e.event_id) AS max_ev
        |FROM win w LEFT JOIN ev e ON e.t >= w.w0 AND e.t <= w.w1
        |GROUP BY 1, 2, 3""".stripMargin,

    // q195 — the same lattice chain with the even-odd HAVING: a cell is
    // in when an ODD number of rings has odd crossing parity
    "q195_rasterize_evenodd" ->
      s"""WITH ${insideCtesHaving("", donutEdgesSqlValues,
             "sum(n % 2) % 2 = 1")}
         |SELECT pid AS relation_id, cx, cy FROM inside""".stripMargin,

    // q196 — the four parity cases of the co-sited doubling grid as
    // joins over the pixel chain (b/c/d guaranteed non-null exactly
    // when their parity case selects them)
    "q196_bilinear_up" ->
      s"""WITH ${pixelChainCtes(32)},
         |imgs AS (SELECT DISTINCT i, w, h FROM px),
         |gx AS (SELECT i, w, h, unnest(range(2*w - 1)) AS ux FROM imgs),
         |up AS (SELECT i, w, h, ux, unnest(range(2*h - 1)) AS uy FROM gx),
         |num AS (SELECT u.i, u.w, u.h, u.ux, u.uy,
         |    CASE WHEN u.ux % 2 = 0 AND u.uy % 2 = 0 THEN 4 * a.g
         |         WHEN u.uy % 2 = 0 THEN 2 * (a.g + b.g)
         |         WHEN u.ux % 2 = 0 THEN 2 * (a.g + c.g)
         |         ELSE a.g + b.g + c.g + d.g END AS num4
         |  FROM up u
         |  JOIN px a ON a.i = u.i AND a.x = u.ux // 2 AND a.y = u.uy // 2
         |  LEFT JOIN px b ON b.i = u.i AND b.x = u.ux // 2 + 1 AND b.y = u.uy // 2
         |  LEFT JOIN px c ON c.i = u.i AND c.x = u.ux // 2 AND c.y = u.uy // 2 + 1
         |  LEFT JOIN px d ON d.i = u.i AND d.x = u.ux // 2 + 1 AND d.y = u.uy // 2 + 1)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(2*w - 1 AS BIGINT) AS up_w, CAST(2*h - 1 AS BIGINT) AS up_h,
         |  CAST(sum(num4) AS BIGINT) AS num4_sum,
         |  CAST(sum(num4 * (ux + 1) * (uy + 2)) AS BIGINT) AS checksum
         |FROM num GROUP BY 1, 2, 3""".stripMargin,

    // q197 — the identical planted trajectories and the min-max
    // definition replayed as grouped aggregations over the pair join
    "q197_hausdorff" ->
      """WITH pts AS (
        |  SELECT user_id % 12 AS dev, event_id AS pid,
        |    (user_id * 7919 + event_id * 31) % 501 AS x,
        |    (user_id * 104729 + event_id * 37) % 501 AS y
        |  FROM events WHERE event_id % 101 = 0),
        |pair AS (SELECT a.dev AS da, b.dev AS db, a.pid AS pa, b.pid AS pb,
        |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
        |  FROM pts a JOIN pts b ON a.dev < b.dev),
        |hab AS (SELECT da, db, max(dmin) AS h_ab FROM (
        |  SELECT da, db, pa, min(d2) AS dmin FROM pair GROUP BY 1,2,3)
        |  GROUP BY 1, 2),
        |hba AS (SELECT da, db, max(dmin) AS h_ba FROM (
        |  SELECT da, db, pb, min(d2) AS dmin FROM pair GROUP BY 1,2,3)
        |  GROUP BY 1, 2)
        |SELECT hab.da, hab.db, h_ab, h_ba, greatest(h_ab, h_ba) AS hausdorff2
        |FROM hab JOIN hba ON hba.da = hab.da AND hba.db = hab.db""".stripMargin,

    // q198 — the same disjoint rects as VALUES, zone 0 outside, and the
    // transition filter replayed with a lag window (first fix vs −1)
    "q198_geofence" ->
      """WITH pts AS (
        |  SELECT event_id, user_id, ts,
        |    (user_id * 7919 + event_id * 31) % 100 AS x,
        |    (user_id * 104729 + event_id * 37) % 100 AS y
        |  FROM events WHERE event_id % 13 = 0),
        |rects AS (SELECT * FROM (VALUES
        |  (1, 0, 49, 0, 49), (2, 50, 99, 0, 49),
        |  (3, 0, 49, 50, 99), (4, 60, 90, 60, 90))
        |  t(zone_id, x0, x1, y0, y1)),
        |zoned AS (SELECT p.user_id, p.event_id, p.ts,
        |    CAST(coalesce(min(r.zone_id), 0) AS BIGINT) AS zone
        |  FROM pts p LEFT JOIN rects r
        |    ON p.x >= r.x0 AND p.x <= r.x1 AND p.y >= r.y0 AND p.y <= r.y1
        |  GROUP BY 1, 2, 3),
        |trans AS (SELECT user_id, event_id, zone,
        |    coalesce(lag(zone) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id), -1) AS prev_zone
        |  FROM zoned)
        |SELECT user_id, event_id, zone, prev_zone FROM trans
        |WHERE zone <> prev_zone""".stripMargin,

    // q199 — q190's placement with the edge-distance blend weights over
    // the shared pixel chain
    "q199_feather_mosaic" ->
      s"""WITH ${pixelChainCtes(24)},
         |wpx AS (SELECT i, CAST((i % 5) * 8 + x AS BIGINT) AS wx,
         |    CAST(((i // 5) % 5) * 6 + y AS BIGINT) AS wy, g,
         |    least(x + 1, w - x, y + 1, h - y) AS wt FROM px)
         |SELECT wx, wy, CAST(count(*) AS BIGINT) AS n_src,
         |  CAST(sum(wt) AS BIGINT) AS wt_sum,
         |  CAST(sum(wt * g) AS BIGINT) AS num_sum
         |FROM wpx GROUP BY 1, 2""".stripMargin,

    // q200 — the same clamped point-to-segment rational per candidate
    // and the NOT EXISTS cross-multiplied argmin (smallest sid on ties)
    "q200_map_match" ->
      s"""WITH pts AS (
         |  SELECT event_id,
         |    (user_id * 7919 + event_id * 31) % 1000 AS px,
         |    (user_id * 104729 + event_id * 37) % 1000 AS py
         |  FROM events WHERE event_id % 53 = 0),
         |segs AS (SELECT * FROM $roadSegsSqlValues),
         |cand AS (
         |  SELECT event_id, sid,
         |    CASE WHEN dt <= 0 THEN da2 WHEN dt >= l2 THEN db2
         |         ELSE da2*l2 - dt*dt END AS num,
         |    CASE WHEN dt <= 0 OR dt >= l2 THEN 1 ELSE l2 END AS den
         |  FROM (
         |    SELECT p.event_id, s.sid,
         |      (s.bx-s.ax)*(s.bx-s.ax) + (s.by-s.ay)*(s.by-s.ay) AS l2,
         |      (p.px-s.ax)*(s.bx-s.ax) + (p.py-s.ay)*(s.by-s.ay) AS dt,
         |      (p.px-s.ax)*(p.px-s.ax) + (p.py-s.ay)*(p.py-s.ay) AS da2,
         |      (p.px-s.bx)*(p.px-s.bx) + (p.py-s.by)*(p.py-s.by) AS db2
         |    FROM pts p CROSS JOIN segs s))
         |SELECT c.event_id, CAST(c.sid AS BIGINT) AS sid,
         |  CAST(c.num AS BIGINT) AS num, CAST(c.den AS BIGINT) AS den
         |FROM cand c WHERE NOT EXISTS (
         |  SELECT 1 FROM cand b WHERE b.event_id = c.event_id
         |    AND (b.num * c.den < c.num * b.den OR
         |         (b.num * c.den = c.num * b.den AND b.sid < c.sid)))""".stripMargin,

    // q201 — the sparse run-length EMD replayed with the identical
    // window chain over pixel-chain histograms
    "q201_emd_hist" ->
      s"""WITH ${pixelChainCtes(32)},
         |hist AS (SELECT i, g, count(*) AS cnt FROM px GROUP BY 1, 2),
         |nmass AS (SELECT i, sum(cnt) AS n FROM hist GROUP BY 1),
         |tagged AS (SELECT h.i, h.g, h.cnt, s.side, h.i - s.side AS p
         |  FROM hist h CROSS JOIN (VALUES (0), (1)) s(side)
         |  WHERE h.i - s.side BETWEEN 0 AND 30),
         |withn AS (SELECT t.p, t.side, t.g, t.cnt, m.n
         |  FROM tagged t JOIN nmass m ON m.i = t.i),
         |cums AS (SELECT p, side, g, n,
         |    sum(cnt) OVER (PARTITION BY p, side ORDER BY g) AS cum
         |  FROM withn),
         |merged AS (SELECT p, g,
         |    max(CASE WHEN side = 0 THEN cum END) AS ca_raw,
         |    max(CASE WHEN side = 1 THEN cum END) AS cb_raw,
         |    max(CASE WHEN side = 0 THEN n END) AS na_raw,
         |    max(CASE WHEN side = 1 THEN n END) AS nb_raw
         |  FROM cums GROUP BY 1, 2),
         |filled AS (SELECT p, g,
         |    last_value(ca_raw IGNORE NULLS) OVER (PARTITION BY p ORDER BY g
         |      ROWS UNBOUNDED PRECEDING) AS ca,
         |    last_value(cb_raw IGNORE NULLS) OVER (PARTITION BY p ORDER BY g
         |      ROWS UNBOUNDED PRECEDING) AS cb,
         |    max(na_raw) OVER (PARTITION BY p) AS na,
         |    max(nb_raw) OVER (PARTITION BY p) AS nb,
         |    coalesce(lead(g) OVER (PARTITION BY p ORDER BY g), 256) - g AS glen
         |  FROM merged)
         |SELECT CAST(p AS BIGINT) AS pair_i,
         |  CAST(sum(abs(coalesce(ca, 0)*nb - coalesce(cb, 0)*na) * glen)
         |    AS BIGINT) AS emd_num,
         |  CAST(max(na*nb) AS BIGINT) AS den
         |FROM filled GROUP BY 1""".stripMargin,

    // q184 — the same clamped 3×3 binomial over the pixel chain via
    // the weighted offset join, floor //16, even samples only
    "q184_binomial_pyramid" ->
      s"""WITH ${pixelChainCtes(48)},
         |off AS (SELECT * FROM (VALUES
         |  (-1, -1, 1), (0, -1, 2), (1, -1, 1),
         |  (-1, 0, 2), (0, 0, 4), (1, 0, 2),
         |  (-1, 1, 1), (0, 1, 2), (1, 1, 1)) t(dx, dy, w)),
         |sm AS (
         |  SELECT p.i, p.x, p.y, sum(o.w * n.g) // 16 AS s
         |  FROM px p
         |  CROSS JOIN off o
         |  JOIN px n ON n.i = p.i
         |    AND n.x = greatest(0, least(p.w - 1, p.x + o.dx))
         |    AND n.y = greatest(0, least(p.h - 1, p.y + o.dy))
         |  WHERE p.x % 2 = 0 AND p.y % 2 = 0
         |  GROUP BY 1, 2, 3)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  count(*) AS n_px, CAST(sum(s) AS BIGINT) AS s_sum,
         |  CAST(sum(s * (x // 2 + 1) * (y // 2 + 3)) AS BIGINT) AS checksum
         |FROM sm GROUP BY 1""".stripMargin,

    // q183 — both ray-cast burns via the suffixed CTE chain, the same
    // full outer join on the cell key (t1 ids mapped back by −1000)
    "q183_change_detect" ->
      s"""WITH ${insideCtes("0", rasterEdgesSqlValues)},
         |${insideCtes("1", arealDstEdgesSqlValues)},
         |t1m AS (SELECT pid - 1000 AS pid, cx, cy FROM inside1)
         |SELECT coalesce(a.pid, b.pid) AS relation_id,
         |  CAST(sum(CASE WHEN a.pid IS NOT NULL AND b.pid IS NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_loss,
         |  CAST(sum(CASE WHEN a.pid IS NULL AND b.pid IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_gain,
         |  CAST(sum(CASE WHEN a.pid IS NOT NULL AND b.pid IS NOT NULL
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stable
         |FROM inside0 a FULL OUTER JOIN t1m b
         |  ON b.pid = a.pid AND b.cx = a.cx AND b.cy = a.cy
         |GROUP BY 1""".stripMargin,

    // q182 — histogram, running sum per image, min gray at the same
    // ceil(q·n) thresholds
    "q182_gray_quantiles" ->
      s"""WITH ${pixelChainCtes(48)},
         |hist AS (SELECT i, w, h, g, count(*) AS c FROM px GROUP BY 1, 2, 3, 4),
         |cum AS (SELECT i, w, h, g,
         |    sum(c) OVER (PARTITION BY i ORDER BY g) AS cum FROM hist)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(min(CASE WHEN cum >= (w*h + 3) // 4 THEN g END) AS BIGINT) AS p25,
         |  CAST(min(CASE WHEN cum >= (w*h + 1) // 2 THEN g END) AS BIGINT) AS p50,
         |  CAST(min(CASE WHEN cum >= (3*w*h + 3) // 4 THEN g END) AS BIGINT) AS p75
         |FROM cum GROUP BY 1""".stripMargin,

    // q180 — the q168 lattice/cost chain with BOTH bounded relaxation
    // walks (forward from the min cell, backward from the max cell)
    // and the reversal identity f + b − v = f(target) − v(target)
    "q180_cost_corridor" ->
      s"""WITH RECURSIVE ${insideCtes("", rasterEdgesSqlValues)},
         |cost AS (SELECT pid, cx, cy, 1 + (cx + 2*cy) % 5 AS v FROM inside),
         |seed AS (
         |  SELECT pid, cx, cy FROM (
         |    SELECT pid, cx, cy,
         |      row_number() OVER (PARTITION BY pid ORDER BY cy, cx) AS rn
         |    FROM inside) WHERE rn = 1),
         |tgt AS (
         |  SELECT pid, cx, cy FROM (
         |    SELECT pid, cx, cy,
         |      row_number() OVER (PARTITION BY pid ORDER BY cy DESC, cx DESC) AS rn
         |    FROM inside) WHERE rn = 1),
         |wf(pid, cx, cy, d) AS (
         |  SELECT pid, cx, cy, CAST(0 AS BIGINT) FROM seed
         |  UNION
         |  SELECT c.pid, c.cx, c.cy, w.d + c.v
         |  FROM wf w JOIN cost c ON c.pid = w.pid
         |    AND abs(c.cx - w.cx) + abs(c.cy - w.cy) = 1
         |  WHERE w.d + c.v < 240),
         |wb(pid, cx, cy, d) AS (
         |  SELECT pid, cx, cy, CAST(0 AS BIGINT) FROM tgt
         |  UNION
         |  SELECT c.pid, c.cx, c.cy, w.d + c.v
         |  FROM wb w JOIN cost c ON c.pid = w.pid
         |    AND abs(c.cx - w.cx) + abs(c.cy - w.cy) = 1
         |  WHERE w.d + c.v < 240),
         |f AS (SELECT pid, cx, cy, min(d) AS dist FROM wf GROUP BY 1, 2, 3),
         |bk AS (SELECT pid, cx, cy, min(d) AS bdist FROM wb GROUP BY 1, 2, 3),
         |thr AS (
         |  SELECT f.pid, f.dist - c.v AS thr
         |  FROM f JOIN tgt t ON t.pid = f.pid AND t.cx = f.cx AND t.cy = f.cy
         |  JOIN cost c ON c.pid = f.pid AND c.cx = f.cx AND c.cy = f.cy)
         |SELECT f.pid AS relation_id, f.cx, f.cy,
         |  CAST(f.dist AS BIGINT) AS dist, CAST(bk.bdist AS BIGINT) AS bdist
         |FROM f
         |JOIN bk ON bk.pid = f.pid AND bk.cx = f.cx AND bk.cy = f.cy
         |JOIN cost c ON c.pid = f.pid AND c.cx = f.cx AND c.cy = f.cy
         |JOIN thr ON thr.pid = f.pid
         |WHERE f.dist + bk.bdist - c.v = thr.thr""".stripMargin,

    // q253 — the lattice chain, n-scaled centering, rook pairs as a
    // |dx|+|dy| = 1 self-join, the two integer I factors
    "q253_morans_i" ->
      s"""WITH ${insideCtes("", rasterEdgesSqlValues)},
         |v AS (SELECT pid, cx, cy, (cx + 2*cy) % 5 AS v FROM inside),
         |st AS (SELECT pid, count(*) AS n, sum(v) AS sv FROM v GROUP BY 1),
         |z AS (SELECT v.pid, cx, cy, st.n, st.n*v.v - st.sv AS z
         |      FROM v JOIN st ON st.pid = v.pid),
         |zs AS (SELECT pid, max(n) AS n, sum(z*z) AS szz FROM z GROUP BY 1),
         |pr AS (SELECT a.pid, a.z AS zi, b.z AS zj
         |  FROM z a JOIN z b ON b.pid = a.pid
         |    AND abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1),
         |ws AS (SELECT pid, count(*) AS w, sum(zi*zj) AS szij FROM pr GROUP BY 1)
         |SELECT zs.pid AS relation_id, CAST(zs.n AS BIGINT) AS n,
         |  CAST(w AS BIGINT) AS w,
         |  CAST(zs.n * szij AS BIGINT) AS i_num,
         |  CAST(w * szz AS BIGINT) AS i_den
         |FROM zs JOIN ws ON ws.pid = zs.pid""".stripMargin,

    // q181 — the ×9 neighborhood replayed as a lattice-sized LEFT
    // self-join with |dx|≤1 ∧ |dy|≤1 (self included), then the q160
    // dominance rule per cell
    "q181_focal_mode" ->
      s"""WITH ${insideCtes("", rasterEdgesSqlValues)},
         |cls AS (SELECT pid, cx, cy, (cx + 2*cy) % 5 AS class FROM inside),
         |nb AS (
         |  SELECT a.pid, a.cx, a.cy, b.class
         |  FROM cls a JOIN cls b ON b.pid = a.pid
         |    AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
         |cnts AS (SELECT pid, cx, cy, class, count(*) AS cnt
         |         FROM nb GROUP BY 1, 2, 3, 4),
         |best AS (SELECT c.pid, c.cx, c.cy, c.class, c.cnt FROM cnts c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM cnts d WHERE d.pid = c.pid AND d.cx = c.cx
         |      AND d.cy = c.cy AND
         |      (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.class < c.class))))
         |SELECT o.pid AS relation_id, o.cx, o.cy, o.class,
         |  b.class AS mode_class, CAST(b.cnt AS BIGINT) AS mode_cnt
         |FROM cls o JOIN best b ON b.pid = o.pid AND b.cx = o.cx AND b.cy = o.cy"""
        .stripMargin,

    // q179 — the same ray-cast chain over the ×2-scaled fixtures (the
    // half-pitch lattice in integer coordinates), folded to parents
    "q179_subcell_coverage" ->
      s"""WITH ${insideCtes("", polyEdgesSqlValues(rasterPolys.map { case (id, rings) =>
             (id, rings.map(_.map { case (la, lo) => (la * 2, lo * 2) })) }))}
         |SELECT pid AS relation_id, cx // 2 AS cx, cy // 2 AS cy,
         |  count(*) AS cover
         |FROM inside GROUP BY 1, 2, 3""".stripMargin,

    // q176 — the q163 point scene with v = id mod 1000, the same 8×8
    // target grid, and the quadratic within-radius join (fixture-sized
    // — the quadratic form IS the spec the binned join must match)
    "q176_idw" ->
      """WITH base AS (
        |  SELECT o_orderkey AS id, o_orderkey % 5 AS c
        |  FROM orders WHERE o_orderkey % 23 = 0),
        |pts AS (SELECT id, id % 1000 AS v,
        |    CASE WHEN id % 7 = 0 THEN abs(id*104729 + 7) % 5000001
        |         ELSE c*1000000 + (abs(id*9973 + 11) % 40001 - 20000) END AS x,
        |    CASE WHEN id % 7 = 0 THEN abs(id*1299709 + 3) % 5000001
        |         ELSE c*c*300000 + (abs(id*7919 + 13) % 40001 - 20000) END AS y
        |  FROM base),
        |g AS (SELECT unnest(range(0, 8)) AS v),
        |tg AS (SELECT gx.v*8 + gy.v AS id, gx.v*625000 + 312500 AS x,
        |         gy.v*625000 + 312500 AS y
        |       FROM g gx CROSS JOIN g gy),
        |nb AS (SELECT t.id, p.v,
        |    90000000000 - ((t.x-p.x)*(t.x-p.x) + (t.y-p.y)*(t.y-p.y)) AS w
        |  FROM tg t JOIN pts p
        |    ON (t.x-p.x)*(t.x-p.x) + (t.y-p.y)*(t.y-p.y) <= 90000000000),
        |agg AS (SELECT id, count(*) AS n_nbrs, sum(v*w) AS num, sum(w) AS den
        |        FROM nb GROUP BY 1)
        |SELECT t.id, CAST(coalesce(a.n_nbrs, 0) AS BIGINT) AS n_nbrs,
        |  CAST(coalesce(a.num, 0) AS BIGINT) AS num,
        |  CAST(coalesce(a.den, 0) AS BIGINT) AS den
        |FROM tg t LEFT JOIN agg a ON a.id = t.id""".stripMargin,

    // q175 — the q86 lattice scattered over the same |dx|+|dy| ≤ 3
    // diamond, min distance per target cell
    "q175_buffer_out" ->
      s"""WITH ${insideCtes("", rasterEdgesSqlValues)},
         |off AS (
         |  SELECT dx.v AS dx, dy.v AS dy
         |  FROM (SELECT unnest(range(-3, 4)) AS v) dx
         |  CROSS JOIN (SELECT unnest(range(-3, 4)) AS v) dy
         |  WHERE abs(dx.v) + abs(dy.v) <= 3)
         |SELECT i.pid AS relation_id, i.cx + o.dx AS cx, i.cy + o.dy AS cy,
         |  CAST(min(abs(o.dx) + abs(o.dy)) AS BIGINT) AS dist
         |FROM inside i CROSS JOIN off o
         |GROUP BY 1, 2, 3""".stripMargin,

    // q171 — the q165 walk to the distance field, then the ridge rule:
    // keep cells whose dist ≥ every present rook neighbor's dist
    "q171_medial_axis" ->
      s"""WITH RECURSIVE ${insideCtes("", zonalEdgesSqlValues)},
         |ring1 AS (
         |  SELECT i.pid, i.cx, i.cy FROM inside i
         |  WHERE (SELECT count(*) FROM inside n WHERE n.pid = i.pid
         |           AND abs(n.cx - i.cx) + abs(n.cy - i.cy) = 1) < 4),
         |walk(pid, cx, cy, d) AS (
         |  SELECT pid, cx, cy, CAST(1 AS BIGINT) FROM ring1
         |  UNION
         |  SELECT i.pid, i.cx, i.cy, w.d + 1
         |  FROM walk w JOIN inside i ON i.pid = w.pid
         |    AND abs(i.cx - w.cx) + abs(i.cy - w.cy) = 1
         |  WHERE w.d < 64),
         |dt AS (SELECT pid, cx, cy, CAST(min(d) AS BIGINT) AS dist
         |       FROM walk GROUP BY 1, 2, 3)
         |SELECT a.pid AS relation_id, a.cx, a.cy, a.dist
         |FROM dt a LEFT JOIN dt b ON b.pid = a.pid
         |  AND abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1
         |GROUP BY 1, 2, 3, 4
         |HAVING a.dist >= coalesce(max(b.dist), 0)""".stripMargin,

    // q166 — the q145 pixel chain, then the SAT replayed as the same
    // two cumulative windows (rows by x within (i, y), then that column
    // by y within (i, x)); the block query replayed 4-corner
    "q166_integral_image" ->
      s"""WITH ${pixelChainCtes(48)},
         |rs AS (SELECT i, x, y, g,
         |    sum(g) OVER (PARTITION BY i, y ORDER BY x) AS rs FROM px),
         |sat AS (SELECT i, x, y, g,
         |    sum(rs) OVER (PARTITION BY i, x ORDER BY y) AS sat FROM rs)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(sum(g) AS BIGINT) AS total,
         |  CAST(max(sat) AS BIGINT) AS corner,
         |  CAST(sum(sat) AS BIGINT) AS sat_sum,
         |  CAST(coalesce(max(CASE WHEN x = 11 AND y = 9 THEN sat END), 0)
         |     - coalesce(max(CASE WHEN x = 3 AND y = 9 THEN sat END), 0)
         |     - coalesce(max(CASE WHEN x = 11 AND y = 1 THEN sat END), 0)
         |     + coalesce(max(CASE WHEN x = 3 AND y = 1 THEN sat END), 0) AS BIGINT)
         |    AS block_sum
         |FROM sat GROUP BY 1""".stripMargin,

    // q147 — the same ray-cast lattice as q86, then the 3×3 neighborhood
    // replayed as a per-polygon LEFT self-join (quadratic but lattice-
    // sized — the quadratic form IS the spec the scatter plan must match)
    "q147_focal_stats" -> rasterCellsSql(
      """vals AS (SELECT pid, cx, cy, cx + 2 * cy AS v FROM inside),
        |nbr AS (
        |  SELECT a.pid, a.cx, a.cy, count(b.cx) AS nbr_cnt,
        |         coalesce(sum(b.v), 0) AS nbr_sum
        |  FROM vals a LEFT JOIN vals b
        |    ON b.pid = a.pid AND abs(b.cx - a.cx) <= 1 AND abs(b.cy - a.cy) <= 1
        |    AND NOT (b.cx = a.cx AND b.cy = a.cy)
        |  GROUP BY 1, 2, 3)
        |SELECT n.pid AS relation_id, n.cx, n.cy, CAST(v.v AS BIGINT) AS v,
        |  CAST(n.nbr_cnt AS BIGINT) AS nbr_cnt,
        |  CAST(n.nbr_sum AS BIGINT) AS nbr_sum
        |FROM nbr n JOIN vals v ON v.pid = n.pid AND v.cx = n.cx AND v.cy = n.cy""".stripMargin,
      extraCte = true),

    // q91 — all-pairs bit_count replication of the banded pipeline (the
    // 4×16-bit banding is total-recall for hamming ≤ 3 and no bucket
    // caps trigger at 240 fps, so the two plans are result-identical),
    // then the q53 reachability fixpoint for components
    "q91_image_dedup_select" ->
      s"""WITH RECURSIVE ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 200) t(i)),
         |${splitmixChain("sp", Seq("i"), "ids", "seed")},
         |base AS (SELECT i AS id, ${toSigned("z")} AS fp FROM sp3),
         |dups AS (SELECT id + 100000 AS id,
         |    xor(fp, CAST(1 AS BIGINT) << CAST(id % 60 AS INT)) AS fp
         |  FROM base WHERE id % 5 = 0),
         |fps AS (SELECT * FROM base UNION ALL SELECT * FROM dups),
         |edges AS (
         |  SELECT a.id AS src, b.id AS dst FROM fps a JOIN fps b ON a.id < b.id
         |  WHERE bit_count(xor(a.fp, b.fp)) <= 3),
         |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
         |nodes AS (SELECT DISTINCT src AS id FROM und),
         |walk(id, r) AS (
         |  SELECT id, id FROM nodes
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN und e ON e.src = w.r),
         |labels AS (SELECT id, min(r) AS component FROM walk GROUP BY id)
         |SELECT f.id AS image_idx
         |FROM fps f LEFT JOIN labels l ON l.id = f.id
         |WHERE l.component IS NULL OR f.id = l.component""".stripMargin,

    // q92 — the same five Morton mask steps as BIGINT shift/and/or; the
    // bbox z-interval endpoints are query parameters computed by the one
    // scalar kernel both plans share
    "q92_zorder_layout" ->
      s"""WITH pts AS ($probeSql),
         |xy AS (SELECT
         |  LEAST(GREATEST(CAST(floor((lon+180.0)/360.0*256.0) AS BIGINT), 0), 255) AS x,
         |  LEAST(GREATEST(CAST(floor((lat+90.0)/180.0*256.0) AS BIGINT), 0), 255) AS y
         |  FROM pts),
         |s1 AS (SELECT (x | (x << 8)) & 16711935 AS xs, (y | (y << 8)) & 16711935 AS ys FROM xy),
         |s2 AS (SELECT (xs | (xs << 4)) & 252645135 AS xs, (ys | (ys << 4)) & 252645135 AS ys FROM s1),
         |s3 AS (SELECT (xs | (xs << 2)) & 858993459 AS xs, (ys | (ys << 2)) & 858993459 AS ys FROM s2),
         |s4 AS (SELECT (xs | (xs << 1)) & 1431655765 AS xs, (ys | (ys << 1)) & 1431655765 AS ys FROM s3),
         |zt AS (SELECT xs | (ys << 1) AS z FROM s4),
         |g AS (SELECT z >> 10 AS file_key, count(*) AS n_rows,
         |        min(z) AS min_z, max(z) AS max_z
         |      FROM zt GROUP BY 1)
         |SELECT file_key, n_rows, min_z, max_z,
         |  (min_z <= ${graft.cell.ZOrder.morton(163L, 156L)}
         |    AND max_z >= ${graft.cell.ZOrder.morton(149L, 142L)}) AS scanned
         |FROM g""".stripMargin,

    // q93 — the full CM build replayed: splitmix chain per (user_id, row),
    // low-8-bit cells, counter groupBy, min-over-rows estimates
    "q93_cm_sketch" ->
      s"""WITH ev AS (SELECT user_id FROM events),
         |ex AS (SELECT user_id, i FROM ev CROSS JOIN (SELECT unnest([0,1,2,3]) AS i)),
         |sm AS (SELECT user_id, i,
         |         CAST(xor(user_id, CAST(i AS BIGINT)) AS HUGEINT) AS sd FROM ex),
         |${splitmixChain("h", Seq("user_id", "i"), "sm", "sd")},
         |cells AS (SELECT user_id, i, CAST(z % 256 AS BIGINT) AS cell FROM h3),
         |counters AS (SELECT i, cell, count(*) AS cnt FROM cells GROUP BY 1, 2),
         |pc AS (SELECT DISTINCT user_id, i, cell FROM cells WHERE user_id % 11 = 0),
         |est AS (SELECT pc.user_id, min(ct.cnt) AS est
         |        FROM pc JOIN counters ct ON ct.i = pc.i AND ct.cell = pc.cell
         |        GROUP BY 1),
         |tru AS (SELECT user_id, count(*) AS true_cnt FROM ev
         |        WHERE user_id % 11 = 0 GROUP BY 1)
         |SELECT e.user_id, e.est, t.true_cnt, e.est >= t.true_cnt AS is_upper_bound
         |FROM est e JOIN tru t ON t.user_id = e.user_id""".stripMargin,

    // q94 — the same planted edges (splitmix low-63 mod N), the same four
    // integer BSP rounds: contributions rank // outdeg, damping
    // (sum*85)//100, base 15% of the 1e12 scale
    "q94_pagerank" -> {
      def round(prev: String, out: String): String =
        s"""c$out AS (SELECT e.dst, sum(r.rank // od.outdeg) AS s
           |  FROM edges e JOIN $prev r ON r.doc_id = e.src
           |  JOIN od ON od.src = e.src GROUP BY 1),
           |$out AS (SELECT d.doc_id,
           |  CAST(150000000000 + (COALESCE(c.s, 0) * 85) // 100 AS BIGINT) AS rank
           |  FROM docs d LEFT JOIN c$out c ON c.dst = d.doc_id)""".stripMargin
      s"""WITH $plantedEdgesCte,
         |od AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
         |r0 AS (SELECT doc_id, CAST(1000000000000 AS BIGINT) AS rank FROM docs),
         |${round("r0", "r1")},
         |${round("r1", "r2")},
         |${round("r2", "r3")},
         |${round("r3", "r4")}
         |SELECT doc_id, rank FROM r4""".stripMargin
    },

    // q102 — same planted edges; three HITS rounds, each half-step a
    // join+groupBy then L-infinity rescale to 1e6 by integer floor
    // division against the round's scalar max
    "q102_hits" -> {
      def half(prev: String, prevCol: String, joinCol: String,
          groupCol: String, out: String, outCol: String): String =
        s"""${out}raw AS (SELECT e.$groupCol AS doc_id, sum(p.$prevCol) AS v
           |  FROM edges e JOIN $prev p ON p.doc_id = e.$joinCol GROUP BY 1),
           |$out AS (SELECT n.doc_id,
           |  CAST(COALESCE(r.v, 0) * 1000000 // (SELECT max(v) FROM ${out}raw) AS BIGINT) AS $outCol
           |  FROM nodes n LEFT JOIN ${out}raw r ON r.doc_id = n.doc_id)""".stripMargin
      s"""WITH $plantedEdgesCte,
         |nodes AS (SELECT src AS doc_id FROM edges UNION SELECT dst FROM edges),
         |a0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) AS a FROM nodes),
         |${half("a0", "a", "dst", "src", "h1", "h")},
         |${half("h1", "h", "src", "dst", "a1", "a")},
         |${half("a1", "a", "dst", "src", "h2", "h")},
         |${half("h2", "h", "src", "dst", "a2", "a")},
         |${half("a2", "a", "dst", "src", "h3", "h")},
         |${half("h3", "h", "src", "dst", "a3", "a")}
         |SELECT h3.doc_id, h3.h AS hub, a3.a AS authority
         |FROM h3 JOIN a3 ON a3.doc_id = h3.doc_id""".stripMargin
    },

    // q106 — same planted edges + clique; triangles found once each via
    // the a<b<c three-way join over the canonical simple edge set (the
    // orientation trick changes the join ORDER, never the triangle set)
    "q106_triangles" -> {
      s"""WITH $plantedEdgesCte,
         |cl AS (SELECT a.doc_id AS src, b.doc_id AS dst FROM docs a, docs b
         |       WHERE a.doc_id % 50 = 0 AND b.doc_id % 50 = 0 AND a.doc_id < b.doc_id),
         |alle AS (SELECT src, dst FROM edges UNION ALL SELECT src, dst FROM cl),
         |canon AS (SELECT DISTINCT least(src, dst) AS lo, greatest(src, dst) AS hi
         |          FROM alle WHERE src <> dst),
         |tri AS (SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
         |        FROM canon e1 JOIN canon e2 ON e2.lo = e1.lo AND e2.hi > e1.hi
         |        JOIN canon e3 ON e3.lo = e1.hi AND e3.hi = e2.hi),
         |pn AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
         |SELECT doc_id, count(*) AS n_tri FROM pn GROUP BY 1""".stripMargin
    },

    // q107 — the extreme-point definition verified from first principles
    // via Caratheodory in 2D: p is NOT extreme iff it lies in a
    // nondegenerate triangle of three OTHER group points (inclusive,
    // orientation-robust sign test) or on a segment between two others.
    // All integer cross products - no epsilon anywhere
    "q107_convex_hull" ->
      """WITH pts AS (
        |  SELECT DISTINCT o_orderkey % 4 AS grp,
        |    abs(o_orderkey*9973+12345) % 2000001 - 1000000 AS x,
        |    abs(o_orderkey*7919+54321) % 2000001 - 1000000 AS y
        |  FROM orders WHERE o_orderkey % 97 = 0)
        |SELECT g.grp, g.x, g.y FROM pts g
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts a, pts b, pts c
        |  WHERE a.grp = g.grp AND b.grp = g.grp AND c.grp = g.grp
        |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
        |    AND (b.x < c.x OR (b.x = c.x AND b.y < c.y))
        |    AND NOT (a.x = g.x AND a.y = g.y) AND NOT (b.x = g.x AND b.y = g.y)
        |    AND NOT (c.x = g.x AND c.y = g.y)
        |    AND (b.x-a.x)*(c.y-a.y) - (b.y-a.y)*(c.x-a.x) <> 0
        |    AND NOT (
        |      (((b.x-a.x)*(g.y-a.y) - (b.y-a.y)*(g.x-a.x) < 0) OR
        |       ((c.x-b.x)*(g.y-b.y) - (c.y-b.y)*(g.x-b.x) < 0) OR
        |       ((a.x-c.x)*(g.y-c.y) - (a.y-c.y)*(g.x-c.x) < 0))
        |      AND
        |      (((b.x-a.x)*(g.y-a.y) - (b.y-a.y)*(g.x-a.x) > 0) OR
        |       ((c.x-b.x)*(g.y-b.y) - (c.y-b.y)*(g.x-b.x) > 0) OR
        |       ((a.x-c.x)*(g.y-c.y) - (a.y-c.y)*(g.x-c.x) > 0))))
        |AND NOT EXISTS (
        |  SELECT 1 FROM pts a, pts b
        |  WHERE a.grp = g.grp AND b.grp = g.grp
        |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
        |    AND NOT (a.x = g.x AND a.y = g.y) AND NOT (b.x = g.x AND b.y = g.y)
        |    AND (b.x-a.x)*(g.y-a.y) = (b.y-a.y)*(g.x-a.x)
        |    AND least(a.x,b.x) <= g.x AND g.x <= greatest(a.x,b.x)
        |    AND least(a.y,b.y) <= g.y AND g.y <= greatest(a.y,b.y))""".stripMargin,

    // q108 — the whole pipeline replayed relationally: dims + unsigned
    // splitmix hash from the shared CTE, the banded-gradient pixel
    // formula per (x, y), grayscale floor division, and the Sobel pair
    // as 8 equi-joins on neighbor coordinates. Every value integer —
    // energy/gmax are bit-exact, not approximate
    "q108_sobel_energy" ->
      s"""WITH ${splitmixDimsCtes(500)},
         |hv AS (SELECT i, w, h,
         |    CAST(hz % 256 AS BIGINT) AS hr,
         |    CAST((hz // 256) % 256 AS BIGINT) AS hg,
         |    CAST((hz // 65536) % 256 AS BIGINT) AS hb
         |  FROM (SELECT i, w, h,
         |    CASE WHEN phash < 0 THEN CAST(phash AS HUGEINT) + 18446744073709551616::HUGEINT
         |         ELSE CAST(phash AS HUGEINT) END AS hz FROM dims)),
         |t1 AS (SELECT *, unnest(range(w)) AS x FROM hv),
         |px AS (SELECT i, w, h, x, unnest(range(h)) AS y,
         |    ((x*7 + hr) % 256 * 299 + (y*11 + hg) % 256 * 587 + ((x+y)*3 + hb) % 256 * 114) // 1000 AS g
         |  FROM t1),
         |sob AS (
         |  SELECT p.i, p.w, p.h,
         |    (ne.g + 2*e.g + se.g - nw.g - 2*w_.g - sw.g) AS gx,
         |    (sw.g + 2*s_.g + se.g - nw.g - 2*n_.g - ne.g) AS gy
         |  FROM px p
         |  JOIN px nw ON nw.i = p.i AND nw.x = p.x-1 AND nw.y = p.y-1
         |  JOIN px n_ ON n_.i = p.i AND n_.x = p.x   AND n_.y = p.y-1
         |  JOIN px ne ON ne.i = p.i AND ne.x = p.x+1 AND ne.y = p.y-1
         |  JOIN px w_ ON w_.i = p.i AND w_.x = p.x-1 AND w_.y = p.y
         |  JOIN px e  ON e.i  = p.i AND e.x  = p.x+1 AND e.y  = p.y
         |  JOIN px sw ON sw.i = p.i AND sw.x = p.x-1 AND sw.y = p.y+1
         |  JOIN px s_ ON s_.i = p.i AND s_.x = p.x   AND s_.y = p.y+1
         |  JOIN px se ON se.i = p.i AND se.x = p.x+1 AND se.y = p.y+1
         |  WHERE p.x BETWEEN 1 AND p.w-2 AND p.y BETWEEN 1 AND p.h-2)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h,
         |  CAST(sum(abs(gx)+abs(gy)) AS BIGINT) AS energy,
         |  CAST(max(abs(gx)+abs(gy)) AS BIGINT) AS gmax
         |FROM sob GROUP BY 1, 2, 3""".stripMargin,

    // q109 — same probe->cell arithmetic as q11 at res 7 (128-cell axes),
    // occupied-cell adjacency with the antimeridian wrap (|dx| <= 1 OR
    // |dx| = 127), reachability fixpoint (q51 style), min-id labels
    "q109_grid_cluster" ->
      s"""WITH RECURSIVE pts AS ($probeSql),
         |pc AS (SELECT o_orderkey,
         |  LEAST(GREATEST(CAST(floor((lon+180.0)/360.0*128.0) AS BIGINT), 0), 127) AS cx,
         |  LEAST(GREATEST(CAST(floor((lat+90.0)/180.0*128.0) AS BIGINT), 0), 127) AS cy
         |  FROM pts),
         |cells AS (SELECT DISTINCT cx, cy FROM pc),
         |ids AS (SELECT cx, cy, 7*288230376151711744 + cx*536870912 + cy AS id FROM cells),
         |und AS (SELECT a.id AS src, b.id AS dst FROM ids a JOIN ids b
         |        ON (abs(a.cx-b.cx) <= 1 OR abs(a.cx-b.cx) = 127) AND abs(a.cy-b.cy) <= 1),
         |walk(id, r) AS (
         |  SELECT id, id FROM ids
         |  UNION
         |  SELECT w.id, e.dst FROM walk w JOIN und e ON e.src = w.r),
         |comp AS (SELECT id, min(r) AS cluster FROM walk GROUP BY id),
         |pcell AS (SELECT o_orderkey,
         |  7*288230376151711744 + cx*536870912 + cy AS id FROM pc)
         |SELECT c.cluster, count(DISTINCT p.id) AS n_cells, count(*) AS n_points
         |FROM pcell p JOIN comp c ON c.id = p.id GROUP BY 1""".stripMargin,

    // q110 — every level recomputed DIRECTLY from the points (the Spark
    // side derives coarse levels by halving the fine level; floor
    // composition + clamp/halve commutation make the two equal exactly —
    // scaling a double by a power of two is exact)
    "q110_heatmap_pyramid" ->
      s"""WITH pts AS ($probeSql),
         |lv(r, g) AS (VALUES (0, 1), (1, 2), (2, 4), (3, 8), (4, 16), (5, 32), (6, 64), (7, 128))
         |SELECT CAST(r AS INT) AS res,
         |  CAST(r AS BIGINT)*288230376151711744
         |    + LEAST(GREATEST(CAST(floor((lon+180.0)/360.0*g) AS BIGINT), 0), g-1)*536870912
         |    + LEAST(GREATEST(CAST(floor((lat+90.0)/180.0*g) AS BIGINT), 0), g-1) AS cell,
         |  count(*) AS n
         |FROM pts CROSS JOIN lv GROUP BY 1, 2""".stripMargin,

    // q111 — file counts replayed from the q90-style bucket arithmetic:
    // touched = (commit, bucket) files holding a deleted row; the delete
    // commit rewrites those buckets' survivors (one file per surviving
    // bucket); expire physically drops exactly the touched files
    "q111_snapshot_delete" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 650) t(i)),
         |${splitmixChain("sc", Seq("i"), "ids", "seed")},
         |bk AS (SELECT i, CAST(z % 16 AS BIGINT) AS bucket FROM sc3),
         |cm AS (SELECT i, bucket, CASE WHEN i < 400 THEN 1 ELSE 2 END AS c FROM bk),
         |touched AS (SELECT DISTINCT c, bucket FROM cm WHERE i % 50 = 0),
         |rw AS (SELECT DISTINCT m.bucket FROM cm m
         |       JOIN touched t ON t.c = m.c AND t.bucket = m.bucket
         |       WHERE m.i % 50 <> 0)
         |SELECT 'rows_after' AS label,
         |  CAST((SELECT count(*) FROM cm WHERE i % 50 <> 0) AS BIGINT) AS n
         |UNION ALL SELECT 'files_v3',
         |  CAST((SELECT count(*) FROM (SELECT DISTINCT c, bucket FROM cm))
         |    - (SELECT count(*) FROM touched) + (SELECT count(*) FROM rw) AS BIGINT)
         |UNION ALL SELECT 'expired_data_files',
         |  CAST((SELECT count(*) FROM touched) AS BIGINT)
         |UNION ALL SELECT 'current_version', 3::BIGINT
         |UNION ALL SELECT 'tt_expired_fails', 1::BIGINT""".stripMargin,

    // q114 — the changelog replayed closed-form from the planted
    // arithmetic: v1→v2 = 40 inserts + 39 update pre/post pairs (i%13=0
    // under 500), v2→v3 = every surviving key with i%10=7 as a delete
    // carrying its v2 caption — and NOTHING else, which is the pin that
    // rewritten-but-identical co-bucketed survivors never leak into the feed
    "q114_change_data_feed" ->
      """WITH upd AS (SELECT i FROM range(0, 500) t(i) WHERE i % 13 = 0),
        |v12 AS (
        |  SELECT 'v1_v2' AS step, 'insert' AS op, i AS idx,
        |         'caption_' || i AS caption FROM range(500, 540) t(i)
        |  UNION ALL SELECT 'v1_v2', 'update_pre', i, 'caption_' || i FROM upd
        |  UNION ALL SELECT 'v1_v2', 'update_post', i, 'updated_' || i FROM upd),
        |v23 AS (
        |  SELECT 'v2_v3' AS step, 'delete' AS op, i AS idx,
        |         CASE WHEN i < 500 AND i % 13 = 0 THEN 'updated_' || i
        |              ELSE 'caption_' || i END AS caption
        |  FROM range(0, 540) t(i) WHERE i % 10 = 7)
        |SELECT * FROM v12 UNION ALL SELECT * FROM v23""".stripMargin,

    // q121 — the same two Apriori passes in SQL (presence counts via
    // DISTINCT (doc, term)); the frequent-item prune changes nothing on
    // a qualifying pair by the anti-monotone property, so the oracle can
    // also be read as the brute-force definition
    "q121_frequent_pairs" ->
      """WITH tok AS (
        |  SELECT DISTINCT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '')) AS term
        |  FROM documents),
        |freq AS (SELECT term FROM tok GROUP BY term HAVING count(*) >= 100),
        |ftok AS (SELECT doc_id, term FROM tok JOIN freq USING (term))
        |SELECT a.term AS term_a, b.term AS term_b, CAST(count(*) AS BIGINT) AS support
        |FROM ftok a JOIN ftok b ON a.doc_id = b.doc_id AND a.term < b.term
        |GROUP BY 1, 2 HAVING count(*) >= 150""".stripMargin,

    // q133 — statuses from the plant arithmetic, dims from the shared
    // splitmix chain for surviving rows, typed NULLs for quarantined
    "q133_decode_quarantine" ->
      s"""WITH ${splitmixDimsCtes(300)}
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CASE WHEN i % 13 = 0 OR i % 17 = 0 THEN 'corrupt' ELSE 'ok' END AS status,
         |  CASE WHEN i % 13 = 0 OR i % 17 = 0 THEN NULL ELSE w END AS w,
         |  CASE WHEN i % 13 = 0 OR i % 17 = 0 THEN NULL ELSE h END AS h
         |FROM dims""".stripMargin,

    // q132 — closed-form: as-of t1 reads v1's 300 rows, as-of t2 reads
    // 350, before-create refuses
    "q132_asof_timestamp" ->
      """SELECT 'asof_t1_rows' AS label, CAST(300 AS BIGINT) AS n
        |UNION ALL SELECT 'asof_t1_version', 1
        |UNION ALL SELECT 'asof_t2_rows', 350
        |UNION ALL SELECT 'asof_before_create_fails', 1""".stripMargin,

    // q131 — the planted cut list straight from the bits: frame f ≥ 1
    // is a cut iff bit f−1 of splitmix64(i·7+5) is set
    "q131_shot_cuts" ->
      s"""WITH ids AS (SELECT i, CAST(i*7 + 5 AS HUGEINT) AS seed FROM range(0, 200) t(i)),
         |${splitmixChain("sc", Seq("i"), "ids", "seed")},
         |bits AS (SELECT i, ${toSigned("z")} AS zl FROM sc3)
         |SELECT printf('vid_%09d', i) AS video_id, f AS frame_idx
         |FROM bits, range(1, 12) r(f)
         |WHERE ((zl >> (f - 1)) & 1) = 1""".stripMargin,

    // q129 — epoch_ms // 604800000 == floor(unix_millis/604800000):
    // identical week bucketing, then the same two aggregations
    "q129_retention" ->
      """WITH ev AS (
        |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS wk FROM events),
        |c AS (SELECT user_id, min(wk) AS cohort_wk FROM ev GROUP BY 1)
        |SELECT cohort_wk, wk - cohort_wk AS week_offset,
        |  CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM ev e JOIN c USING (user_id) GROUP BY 1, 2""".stripMargin,

    // q130 — the same lead window over (ts, event_id) order
    "q130_transitions" ->
      """WITH p AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events)
        |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
        |FROM p WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin,

    // q128 — the same quantize + spread + 5-bit-slice chain in SQL;
    // division-before-multiply order matches the Column form exactly so
    // the double quantization is IEEE-identical
    "q128_geohash" ->
      s"""WITH pts AS ($probeSql),
         |q AS (SELECT o_orderkey,
         |  LEAST(32767, GREATEST(0, CAST(floor((lon+180.0)/360.0*32768.0) AS BIGINT))) AS lo,
         |  LEAST(32767, GREATEST(0, CAST(floor((lat+90.0)/180.0*32768.0) AS BIGINT))) AS la
         |  FROM pts),
         |g1 AS (SELECT o_orderkey, (lo | (lo << 8)) & 16711935 AS xs, (la | (la << 8)) & 16711935 AS ys FROM q),
         |g2 AS (SELECT o_orderkey, (xs | (xs << 4)) & 252645135 AS xs, (ys | (ys << 4)) & 252645135 AS ys FROM g1),
         |g3 AS (SELECT o_orderkey, (xs | (xs << 2)) & 858993459 AS xs, (ys | (ys << 2)) & 858993459 AS ys FROM g2),
         |g4 AS (SELECT o_orderkey, (xs | (xs << 1)) & 1431655765 AS xs, (ys | (ys << 1)) & 1431655765 AS ys FROM g3),
         |vv AS (SELECT o_orderkey, (xs << 1) | ys AS v FROM g4),
         |b AS (SELECT '${graft.cell.Geohash.Base32}' AS t)
         |SELECT o_orderkey,
         |  substr(t, CAST((v >> 25) & 31 AS INT) + 1, 1) ||
         |  substr(t, CAST((v >> 20) & 31 AS INT) + 1, 1) ||
         |  substr(t, CAST((v >> 15) & 31 AS INT) + 1, 1) ||
         |  substr(t, CAST((v >> 10) & 31 AS INT) + 1, 1) ||
         |  substr(t, CAST((v >> 5) & 31 AS INT) + 1, 1) ||
         |  substr(t, CAST(v & 31 AS INT) + 1, 1) AS geohash
         |FROM vv, b""".stripMargin,

    // q127 — both key chains replayed (the q92 spread masks with x/y
    // carried through + the q113 hilbert state machine), 48 equal-width
    // key ranges, bbox areas summed per layout
    "q127_layout_locality" -> {
      s"""WITH pts AS ($probeSql),
         |xy AS (SELECT
         |  LEAST(GREATEST(CAST(floor((lon+180.0)/360.0*128.0) AS BIGINT), 0), 127) AS x,
         |  LEAST(GREATEST(CAST(floor((lat+90.0)/180.0*128.0) AS BIGINT), 0), 127) AS y
         |  FROM pts),
         |z1 AS (SELECT x, y, (x | (x << 8)) & 16711935 AS xs, (y | (y << 8)) & 16711935 AS ys FROM xy),
         |z2 AS (SELECT x, y, (xs | (xs << 4)) & 252645135 AS xs, (ys | (ys << 4)) & 252645135 AS ys FROM z1),
         |z3 AS (SELECT x, y, (xs | (xs << 2)) & 858993459 AS xs, (ys | (ys << 2)) & 858993459 AS ys FROM z2),
         |z4 AS (SELECT x, y, (xs | (xs << 1)) & 1431655765 AS xs, (ys | (ys << 1)) & 1431655765 AS ys FROM z3),
         |zt AS (SELECT x, y, xs | (ys << 1) AS z FROM z4),
         |zg AS (SELECT (z * 48) // 16384 AS fk, min(x) AS x0, max(x) AS x1,
         |         min(y) AS y0, max(y) AS y1 FROM zt GROUP BY 1),
         |${hilbertCtes(7, "xy")},
         |hg AS (SELECT (d7 * 48) // 16384 AS fk, min(xh) AS x0, max(xh) AS x1,
         |         min(yh) AS y0, max(yh) AS y1 FROM h7 GROUP BY 1)
         |SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_files,
         |  CAST(sum((x1-x0+1)*(y1-y0+1)) AS BIGINT) AS sum_bbox_cells FROM zg
         |UNION ALL
         |SELECT 'hilbert', CAST(count(*) AS BIGINT),
         |  CAST(sum((x1-x0+1)*(y1-y0+1)) AS BIGINT) FROM hg""".stripMargin
    },

    // q126 — all counts closed-form: exactly the two planted strays are
    // orphans (one coalesced part file each), 430 rows survive verified
    "q126_orphan_gc" ->
      """SELECT 'orphans_found' AS label, CAST(2 AS BIGINT) AS n
        |UNION ALL SELECT 'orphans_deleted', 2
        |UNION ALL SELECT 'rows_after_gc', 430
        |UNION ALL SELECT 'orphans_after_gc', 0""".stripMargin,

    // q125 — the whole layout is plain division, so everything is
    // closed-form: 20 create/append files minus the deleted [100,150)
    // file = 19; [375,520] intersects files 7..10 (ranges [350,400) ..
    // [500,550)) = 4 kept; rows/sum are the range arithmetic
    "q125_stats_pruning" ->
      """SELECT 'files_total_v3' AS label, CAST(19 AS BIGINT) AS n
        |UNION ALL SELECT 'files_kept', 4
        |UNION ALL SELECT 'files_skipped', 15
        |UNION ALL SELECT 'rows_in_range', 520 - 375 + 1
        |UNION ALL SELECT 'sum_idx_in_range', (375 + 520) * (520 - 375 + 1) // 2""".stripMargin,

    // q124 — q32's pyramid geometry CTE over the POST-DELTA id set
    // (0..119 minus {3, 43}, plus {120, 121}; the re-upsert is
    // id-identical so it alters nothing): incremental == rebuild
    "q124_tile_refresh" -> {
      val ids = "SELECT CAST(i AS HUGEINT) AS i FROM range(0, 122) t(i) " +
        "WHERE i NOT IN (3, 43)"
      s"""WITH RECURSIVE ${splitmixDimsCtesFrom(ids)},
         |lv AS (
         |  SELECT i, w, h, phash, 0 AS level FROM dims
         |  UNION ALL
         |  SELECT i, (w+1)//2, (h+1)//2, phash, level+1 FROM lv WHERE NOT (w <= 16 AND h <= 16)
         |),
         |t1 AS (SELECT *, unnest(range((w+15)//16)) AS tx FROM lv),
         |t2 AS (SELECT *, unnest(range((h+15)//16)) AS ty FROM t1)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  ((phash % 64) + 64) % 64 AS relation_id,
         |  CAST(level AS INT) AS level,
         |  CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
         |  CAST(least(16, w - tx*16) AS INT) AS tw,
         |  CAST(least(16, h - ty*16) AS INT) AS th
         |FROM t2""".stripMargin
    },

    // q123 — the gapped synth replayed sample by sample (q62's triangle
    // CTEs + the zeroed gap frames), then the same frame-peak / islands
    // arithmetic; WAV PCM-16 is lossless so decode == synth exactly
    "q123_silence_segments" ->
      s"""WITH ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range(0, 300)),
         |${splitmixChain("gl", Seq("i"), "ids", "i")},
         |${splitmixChain("gp", Seq("i"), "ids", "(i * 3::HUGEINT + 1::HUGEINT)")},
         |${splitmixChain("ga", Seq("i"), "ids", "(i * 3::HUGEINT + 2::HUGEINT)")},
         |${splitmixChain("gg", Seq("i"), "ids", "(i * 5::HUGEINT + 3::HUGEINT)")},
         |${splitmixChain("gh", Seq("i"), "ids", "(i * 5::HUGEINT + 4::HUGEINT)")},
         |params AS (
         |  SELECT gl3.i AS i,
         |    512 + CAST(gl3.z & 255::HUGEINT AS INT) AS len,
         |    256 + CAST(gp3.z & 511::HUGEINT AS INT) AS period,
         |    4000 + CAST(ga3.z & 8191::HUGEINT AS INT) AS amp,
         |    1 + CAST(gg3.z & 3::HUGEINT AS INT) AS g,
         |    1 + CAST(gh3.z & 1::HUGEINT AS INT) AS glen
         |  FROM gl3 JOIN gp3 ON gp3.i = gl3.i JOIN ga3 ON ga3.i = gl3.i
         |    JOIN gg3 ON gg3.i = gl3.i JOIN gh3 ON gh3.i = gl3.i),
         |ks AS (SELECT i, len, period, amp, g, glen, unnest(range(len)) AS k FROM params),
         |samples AS (
         |  SELECT i, k // 64 AS f,
         |    CASE WHEN k // 64 BETWEEN g AND g + glen - 1 THEN 0
         |      ELSE (2 * least(k % period, period - (k % period)) * amp) // period - amp // 2
         |    END AS s
         |  FROM ks),
         |peaks AS (SELECT i, f, max(abs(s)) AS peak FROM samples GROUP BY 1, 2),
         |silent AS (
         |  SELECT i, f, f - row_number() OVER (PARTITION BY i ORDER BY f) AS grp
         |  FROM peaks WHERE peak < 100)
         |SELECT printf('aud_%09d', CAST(i AS BIGINT)) AS audio_id,
         |  min(f) AS seg_start, CAST(count(*) AS BIGINT) AS n_frames
         |FROM silent GROUP BY i, grp""".stripMargin,

    // q122 — brute force over ALL pairs with the integer threshold test:
    // plan-independent proof the prefix filter loses nothing
    "q122_jaccard_join" ->
      s"""WITH cells AS (
         |  SELECT i, j, CAST(i*20 + j AS HUGEINT) AS seed
         |  FROM range(0, 500) a(i), range(0, 20) b(j)),
         |${splitmixChain("sj", Seq("i", "j"), "cells", "seed")},
         |it AS (SELECT i, j,
         |  ((${toSigned("z")} % 10000) + 10000) % 10000 AS item FROM sj3),
         |alltok AS (
         |  SELECT i AS doc_id, item FROM it
         |  UNION ALL
         |  SELECT i + 100000, CASE WHEN j = 7 THEN i + 10000 ELSE item END
         |  FROM it WHERE i % 10 = 0),
         |tok AS (SELECT DISTINCT doc_id, item FROM alltok),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz FROM tok GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS inter
         |  FROM tok a JOIN tok b ON a.item = b.item AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, inter, na.sz AS sz_a, nb.sz AS sz_b
         |FROM inter JOIN n na ON na.doc_id = doc_a JOIN n nb ON nb.doc_id = doc_b
         |WHERE inter * 10 >= (na.sz + nb.sz - inter) * 9""".stripMargin,

    // q120 — within-ring pairs brute-forced with the identical adjacency
    // dispatch: spike test on consecutive/wrap pairs, full inclusive
    // intersection on the rest; same planted transforms
    "q120_ring_validity" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 400) t(i)),
         |${splitmixChain("sr", Seq("i"), "ids", "seed")},
         |ctr AS (
         |  SELECT i AS ring_id, i % 7 AS c,
         |    (zl & 65535) % 50000 AS cx, ((zl >> 16) & 65535) % 50000 AS cy
         |  FROM (SELECT i, ${toSigned("z")} & 4611686018427387903 AS zl FROM sr3)),
         |off(v, ox, oy) AS (VALUES (0,2,0),(1,4,0),(2,6,2),(3,6,4),(4,4,6),(5,2,6),(6,0,4),(7,0,2)),
         |edges AS (
         |  SELECT ring_id, e AS idx,
         |    cx + o1.ox*8 AS x1, cy + o1.oy*8 AS y1,
         |    cx + o2.ox*8 AS x2, cy + o2.oy*8 AS y2
         |  FROM ctr, range(0, 8) r(e)
         |  JOIN off o1 ON o1.v = CASE WHEN c = 0 AND e = 2 THEN 5
         |    WHEN c = 0 AND e = 5 THEN 2 WHEN c = 1 AND e = 2 THEN 0 ELSE e END
         |  JOIN off o2 ON o2.v = CASE WHEN c = 0 AND (e+1)%8 = 2 THEN 5
         |    WHEN c = 0 AND (e+1)%8 = 5 THEN 2 WHEN c = 1 AND (e+1)%8 = 2 THEN 0
         |    ELSE (e+1)%8 END),
         |p AS (
         |  SELECT a.ring_id, a.idx AS i, b.idx AS j,
         |    a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
         |    b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2,
         |    sign((a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1)) AS d1,
         |    sign((a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1)) AS d2,
         |    sign((b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1)) AS d3,
         |    sign((b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1)) AS d4
         |  FROM edges a JOIN edges b ON a.ring_id = b.ring_id AND a.idx < b.idx)
         |SELECT ring_id, i, j FROM p
         |WHERE CASE
         |  WHEN j = i + 1 THEN
         |    (ax2-ax1)*(by2-ay1) - (ay2-ay1)*(bx2-ax1) = 0
         |    AND (ax1-ax2)*(bx2-ax2) + (ay1-ay2)*(by2-ay2) > 0
         |  WHEN i = 0 AND j = 7 THEN
         |    (bx2-bx1)*(ay2-by1) - (by2-by1)*(ax2-bx1) = 0
         |    AND (bx1-bx2)*(ax2-bx2) + (by1-by2)*(ay2-by2) > 0
         |  ELSE
         |    (d1*d2 < 0 AND d3*d4 < 0)
         |    OR (d1 = 0 AND bx1 BETWEEN least(ax1,ax2) AND greatest(ax1,ax2)
         |               AND by1 BETWEEN least(ay1,ay2) AND greatest(ay1,ay2))
         |    OR (d2 = 0 AND bx2 BETWEEN least(ax1,ax2) AND greatest(ax1,ax2)
         |               AND by2 BETWEEN least(ay1,ay2) AND greatest(ay1,ay2))
         |    OR (d3 = 0 AND ax1 BETWEEN least(bx1,bx2) AND greatest(bx1,bx2)
         |               AND ay1 BETWEEN least(by1,by2) AND greatest(by1,by2))
         |    OR (d4 = 0 AND ax2 BETWEEN least(bx1,bx2) AND greatest(bx1,bx2)
         |               AND ay2 BETWEEN least(by1,by2) AND greatest(by1,by2))
         |  END""".stripMargin,

    // q119 — blob stats replayed from the plant bits alone: rectangles
    // never touch by construction, so n_blobs = popcount(z & 15) and
    // each area is the product of its two 2-bit size fields
    "q119_blob_label" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 300) t(i)),
         |${splitmixChain("sb", Seq("i"), "ids", "seed")},
         |bits AS (SELECT i, ${toSigned("z")} AS zl FROM sb3),
         |quads AS (
         |  SELECT i, q, (zl >> q) & 1 AS present,
         |    (8 + ((zl >> (4 + 2*q)) & 3)) * (8 + ((zl >> (12 + 2*q)) & 3)) AS area
         |  FROM bits, range(0, 4) r(q))
         |SELECT printf('img_%09d', i) AS image_id,
         |  CAST(sum(present) AS BIGINT) AS n_blobs,
         |  CAST(coalesce(max(CASE WHEN present = 1 THEN area END), 0) AS BIGINT) AS max_area,
         |  CAST(sum(present * area) AS BIGINT) AS on_pixels
         |FROM quads GROUP BY i""".stripMargin,

    // q118 — the oracle aggregates the v3 state DIRECTLY (rows 0..660
    // minus idx%9=4, val = idx*10 + 1 for merged keys): if the
    // maintained view equals a from-scratch rescan, the delta application
    // was exact
    "q118_incremental_view" ->
      """WITH v3 AS (
        |  SELECT i AS idx,
        |    i * 10 + CASE WHEN i < 600 AND i % 13 = 0 THEN 1 ELSE 0 END AS val
        |  FROM range(0, 660) t(i) WHERE i % 9 <> 4)
        |SELECT idx % 10 AS grp, CAST(count(*) AS BIGINT) AS cnt,
        |  CAST(sum(val) AS BIGINT) AS sm
        |FROM v3 GROUP BY 1""".stripMargin,

    // q117 — identical planted positions and the identical squared-speed
    // predicate; epoch seconds via epoch_ms // 1000 to match Spark's
    // floor(unix_millis/1000) exactly
    "q117_teleport_filter" ->
      """WITH pts AS (
        |  SELECT event_id, user_id, ts,
        |    (user_id * 7919) % 1000000 + (event_id * 31) % 2001 - 1000 +
        |      CASE WHEN event_id % 37 = 0 THEN 50000000 ELSE 0 END AS x,
        |    (user_id * 104729) % 1000000 + (event_id * 37) % 2001 - 1000 AS y,
        |    epoch_ms(ts) // 1000 AS sec
        |  FROM events),
        |p AS (
        |  SELECT user_id, event_id,
        |    lag(event_id) OVER w AS prev_id,
        |    x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy,
        |    sec - lag(sec) OVER w AS dt_s
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, prev_id, event_id, dx*dx + dy*dy AS dist2, dt_s
        |FROM p
        |WHERE prev_id IS NOT NULL AND dx*dx + dy*dy > 2500 * dt_s * dt_s""".stripMargin,

    // q116 — the planted 3-core in closed form: every clique node keeps
    // degree 9, the hub keeps all 20 spokes, each rim node keeps its two
    // cycle neighbors + the hub; the caterpillar contributes nothing
    "q116_kcore" ->
      """SELECT i AS node, CAST(9 AS BIGINT) AS core_degree FROM range(0, 10) t(i)
        |UNION ALL SELECT 50, 20
        |UNION ALL SELECT i, 3 FROM range(51, 71) t(i)""".stripMargin,

    // q115 — same bit-sliced layers, but the oracle brute-forces ALL
    // 600×600 pairs with the identical integer predicate: a plan-
    // independent check that the grid + reference-point dedup loses and
    // duplicates nothing
    "q115_segment_overlay" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 1200) t(i)),
         |${splitmixChain("sg", Seq("i"), "ids", "seed")},
         |segs AS (
         |  SELECT i AS id,
         |    (zl & 1048575) % 30000 AS x1,
         |    ((zl >> 20) & 1048575) % 30000 AS y1,
         |    (zl & 1048575) % 30000 + ((zl >> 40) & 2047) - 1024 AS x2,
         |    ((zl >> 20) & 1048575) % 30000 + ((zl >> 51) & 2047) - 1024 AS y2
         |  FROM (SELECT i, CAST(z % 4611686018427387904::HUGEINT AS BIGINT) AS zl FROM sg3)),
         |p AS (
         |  SELECT a.id AS a_id, b.id AS b_id,
         |    a.x1 AS ax1, a.y1 AS ay1, a.x2 AS ax2, a.y2 AS ay2,
         |    b.x1 AS bx1, b.y1 AS by1, b.x2 AS bx2, b.y2 AS by2,
         |    sign((a.x2-a.x1)*(b.y1-a.y1) - (a.y2-a.y1)*(b.x1-a.x1)) AS d1,
         |    sign((a.x2-a.x1)*(b.y2-a.y1) - (a.y2-a.y1)*(b.x2-a.x1)) AS d2,
         |    sign((b.x2-b.x1)*(a.y1-b.y1) - (b.y2-b.y1)*(a.x1-b.x1)) AS d3,
         |    sign((b.x2-b.x1)*(a.y2-b.y1) - (b.y2-b.y1)*(a.x2-b.x1)) AS d4
         |  FROM (SELECT * FROM segs WHERE id % 2 = 0) a,
         |       (SELECT * FROM segs WHERE id % 2 = 1) b)
         |SELECT a_id, b_id FROM p
         |WHERE (d1*d2 < 0 AND d3*d4 < 0)
         |   OR (d1 = 0 AND bx1 BETWEEN least(ax1,ax2) AND greatest(ax1,ax2)
         |              AND by1 BETWEEN least(ay1,ay2) AND greatest(ay1,ay2))
         |   OR (d2 = 0 AND bx2 BETWEEN least(ax1,ax2) AND greatest(ax1,ax2)
         |              AND by2 BETWEEN least(ay1,ay2) AND greatest(ay1,ay2))
         |   OR (d3 = 0 AND ax1 BETWEEN least(bx1,bx2) AND greatest(bx1,bx2)
         |              AND ay1 BETWEEN least(by1,by2) AND greatest(by1,by2))
         |   OR (d4 = 0 AND ax2 BETWEEN least(bx1,bx2) AND greatest(bx1,bx2)
         |              AND ay2 BETWEEN least(by1,by2) AND greatest(by1,by2))""".stripMargin,

    // q112 — identical planted dups, bigram tf with multiplicity, the
    // same 2..64 df cap, and the squared integer cosine test
    "q112_sparse_cosine" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' perturbed' FROM documents WHERE doc_id % 10 = 0),
        |tg AS (
        |  SELECT doc_id AS id, unnest(list_transform(
        |      range(1, greatest(len(string_split(text,' ')), 2)),
        |      i -> array_to_string((string_split(text,' '))[i:i+1], ' '))) AS term
        |  FROM docs2),
        |tfc AS (SELECT id, term, CAST(count(*) AS BIGINT) AS tf FROM tg GROUP BY 1, 2),
        |norms AS (SELECT id, CAST(sum(tf*tf) AS BIGINT) AS nsq FROM tfc GROUP BY 1),
        |ok AS (SELECT term FROM tfc GROUP BY term HAVING count(*) BETWEEN 2 AND 64),
        |p AS (SELECT t.term, t.id, t.tf FROM tfc t JOIN ok USING (term)),
        |dot AS (
        |  SELECT a.id AS id_a, b.id AS id_b, CAST(sum(a.tf*b.tf) AS BIGINT) AS dot
        |  FROM p a JOIN p b USING (term) WHERE a.id < b.id GROUP BY 1, 2)
        |SELECT d.id_a, d.id_b, d.dot, na.nsq AS n_a, nb.nsq AS n_b
        |FROM dot d JOIN norms na ON na.id = d.id_a JOIN norms nb ON nb.id = d.id_b
        |WHERE d.dot*d.dot*100 >= 64*na.nsq*nb.nsq""".stripMargin,

    // q113 — the same cell arithmetic at res 7, the xy2d state machine
    // unrolled as 7 generated CTE levels, per-file stats over the final d
    "q113_hilbert_layout" -> {
      s"""WITH pts AS ($probeSql),
         |xy AS (SELECT
         |  LEAST(GREATEST(CAST(floor((lon+180.0)/360.0*128.0) AS BIGINT), 0), 127) AS x,
         |  LEAST(GREATEST(CAST(floor((lat+90.0)/180.0*128.0) AS BIGINT), 0), 127) AS y
         |  FROM pts),
         |${hilbertCtes(7, "xy")}
         |SELECT d7 >> 8 AS file_key, count(*) AS n_rows,
         |  min(d7) AS min_d, max(d7) AS max_d,
         |  min(xh) AS min_x, max(xh) AS max_x,
         |  min(yh) AS min_y, max(yh) AS max_y
         |FROM h7 GROUP BY 1""".stripMargin
    },

    // q103 — full pipeline replay: distinct char trigrams, candidates
    // holding ALL required trigrams (list generated from the SAME
    // pattern constant), then the exact regex (identical unanchored
    // search semantics, pattern restricted to the Java∩RE2 charset)
    "q103_trigram_search" -> {
      val grams = graft.text.Trigram.requiredTrigrams(TrigramPattern)
      val inList = grams.map(g => s"'$g'").mkString(", ")
      s"""WITH tg AS (
         |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(text)-1),
         |    i -> text[i:i+2]))) AS g
         |  FROM documents WHERE len(text) >= 3),
         |cand AS (
         |  SELECT doc_id FROM tg WHERE g IN ($inList)
         |  GROUP BY doc_id HAVING count(*) = ${grams.size})
         |SELECT d.doc_id FROM documents d JOIN cand USING (doc_id)
         |WHERE regexp_matches(d.text, '$TrigramPattern')""".stripMargin
    },

    // q104 — identical planted wrapper docs, identical md5 5-shingles
    // (inclusive list slice [i:i+4] ≡ slice(toks,i,5)), the same
    // 2..64 bucket cap, and the same integer 8/10 threshold
    "q104_containment" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 300000, 'quoted wrapper begins ' || text || ' wrapper ends here now'
        |  FROM documents WHERE doc_id % 10 = 0),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(string_split(text,' ')) - 3, 2)),
        |    i -> md5(array_to_string((string_split(text,' '))[i:i+4], ' '))))) AS g
        |  FROM docs2),
        |sz AS (SELECT doc_id, count(*) AS nsh FROM sh GROUP BY 1),
        |ok AS (SELECT g FROM sh GROUP BY g HAVING count(*) BETWEEN 2 AND 64),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS inter
        |  FROM sh a JOIN sh b USING (g) JOIN ok USING (g)
        |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
        |SELECT id_a, id_b, inter, sa.nsh AS n_a, sb.nsh AS n_b
        |FROM pairs JOIN sz sa ON sa.doc_id = id_a JOIN sz sb ON sb.doc_id = id_b
        |WHERE inter * 10 >= least(sa.nsh, sb.nsh) * 8""".stripMargin,

    // q105 — the same total order (32-char blocking prefix, id tiebreak)
    // via one global row_number, pairs within rank distance w-1 = 3,
    // identical classic levenshtein in both engines
    "q105_snm_pairs" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' perturbed' FROM documents WHERE doc_id % 10 = 0),
        |r AS (SELECT doc_id, text,
        |  row_number() OVER (ORDER BY substring(text, 1, 32), doc_id) AS rk FROM docs2),
        |p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(levenshtein(a.text, b.text) AS BIGINT) AS dist
        |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + 3)
        |SELECT id_a, id_b, dist FROM p WHERE dist <= 16""".stripMargin,

    // q95 — parallel unnest of the filtered token list and its index
    // range replays posexplode's positions exactly
    "q95_inverted_index" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(ws) AS term,
        |        unnest(range(len(ws))) AS pos FROM tok)
        |SELECT term, doc_id, count(*) AS tf,
        |  array_to_string(list_sort(list(pos)), ',') AS positions
        |FROM p GROUP BY 1, 2""".stripMargin,

    // q96 — anchor = pos - word_index; a phrase occurrence is one anchor
    // present in every word's posting set
    "q96_phrase_search" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |p AS (SELECT doc_id, unnest(ws) AS term,
        |        unnest(range(len(ws))) AS pos FROM tok),
        |a0 AS (SELECT doc_id, pos AS anchor FROM p WHERE term = 'table'),
        |a1 AS (SELECT doc_id, pos - 1 AS anchor FROM p WHERE term = 'value')
        |SELECT a0.doc_id, count(*) AS n_matches, min(a0.anchor) AS first_pos
        |FROM a0 JOIN a1 ON a1.doc_id = a0.doc_id AND a1.anchor = a0.anchor
        |GROUP BY 1""".stripMargin,

    // q97 — the same cleared-denominator integer BM25: rational idf
    // (2n-2df+1)/(2df+1) and ratio 22*D*tf/(10*D*tf+3*D+9*dl*n), both
    // floor-scaled by 1e6, per-term scores summed exactly
    "q97_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl FROM tok),
        |tot AS (SELECT CAST(sum(dl) AS BIGINT) AS d, count(*) AS n FROM dl),
        |p AS (SELECT doc_id, unnest(ws) AS term FROM tok),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM p
        |       WHERE term IN ('table', 'fast', 'merge') GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT t.doc_id,
        |  (((1000000 * (2*(SELECT n FROM tot) - 2*f.df + 1)) // (2*f.df + 1))
        |   * ((1000000 * 22 * (SELECT d FROM tot) * t.tf) //
        |      (10*(SELECT d FROM tot)*t.tf + 3*(SELECT d FROM tot)
        |       + 9*l.dl*(SELECT n FROM tot)))) // 1000000 AS s
        |  FROM tf t JOIN dl l USING (doc_id) JOIN dfq f USING (term))
        |SELECT doc_id, CAST(sum(s) AS BIGINT) AS score_scaled
        |FROM sc GROUP BY 1""".stripMargin,

    // q98 — same histogram-of-counts quantiles: smallest count whose
    // cumulative key coverage reaches ceil(q * n_keys)
    "q98_skew_report" ->
      """WITH counts AS (SELECT user_id AS k, count(*) AS c FROM events GROUP BY 1),
        |hist AS (SELECT c, count(*) AS freq FROM counts GROUP BY 1),
        |cum AS (SELECT c, freq, sum(freq) OVER (ORDER BY c
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |        FROM hist),
        |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS n_keys,
        |          CAST(sum(c * freq) AS BIGINT) AS n_rows,
        |          max(c) AS max_count FROM cum),
        |p AS (SELECT
        |  CAST(min(CASE WHEN cum * 2 >= (SELECT n_keys FROM tot) THEN c END) AS BIGINT) AS p50_count,
        |  CAST(min(CASE WHEN cum * 100 >= (SELECT n_keys FROM tot) * 99 THEN c END) AS BIGINT) AS p99_count
        |  FROM cum)
        |SELECT n_keys, n_rows, max_count, p50_count, p99_count,
        |  CAST((max_count * 100) // p50_count AS BIGINT) AS skew_ratio_x100,
        |  CAST((max_count + p50_count - 1) // p50_count AS BIGINT) AS suggested_salt
        |FROM tot, p""".stripMargin,

    // q99 — the same 16x64 +-1 coefficients as literal lists, the same
    // array-order double folds (list_reduce), bit-exact by construction
    "q99_jl_project" -> {
      def yj(j: Int): String = {
        val signs = (0 until 64).map { i =>
          if ((graft.img.ImageTable.splitmix64(j * 131071L + i * 524287L + 99L) & 1L) == 0L)
            "1.0" else "-1.0"
        }.mkString("[", ", ", "]")
        s"list_reduce(list_prepend(0.0::DOUBLE, list_transform(range(64), i -> " +
          s"CAST(embedding[CAST(i+1 AS INT)] AS DOUBLE) * ($signs)[CAST(i+1 AS INT)]))," +
          s" (acc, x) -> acc + x) AS y$j"
      }
      s"SELECT vec_id,\n  ${(0 until 16).map(yj).mkString(",\n  ")}\nFROM embeddings"
    },

    // q100 — the same earliest-qualifying-chain: per-stage min with the
    // [t_prev, t_prev + 48h] containment, left-joined down the chain
    "q100_funnel" ->
      """WITH keys AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, s1.t1, min(e.ts) AS t2 FROM events e
        |       JOIN s1 ON s1.user_id = e.user_id
        |       WHERE e.event_type = 'click' AND e.ts >= s1.t1
        |         AND e.ts <= s1.t1 + INTERVAL 48 HOURS
        |       GROUP BY 1, 2),
        |s3 AS (SELECT e.user_id, s2.t2, min(e.ts) AS t3 FROM events e
        |       JOIN s2 ON s2.user_id = e.user_id
        |       WHERE e.event_type = 'purchase' AND e.ts >= s2.t2
        |         AND e.ts <= s2.t2 + INTERVAL 48 HOURS
        |       GROUP BY 1, 2)
        |SELECT k.user_id,
        |  (CASE WHEN s1.t1 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s2.t2 IS NULL THEN 0 ELSE 1 END
        |   + CASE WHEN s3.t3 IS NULL THEN 0 ELSE 1 END)::BIGINT AS n_stages,
        |  epoch_us(s1.t1) AS t1_us, epoch_us(s2.t2) AS t2_us, epoch_us(s3.t3) AS t3_us
        |FROM keys k
        |LEFT JOIN s1 ON s1.user_id = k.user_id
        |LEFT JOIN s2 ON s2.user_id = k.user_id
        |LEFT JOIN s3 ON s3.user_id = k.user_id""".stripMargin,

    // q101 — closed form: the three commits' contents are fully
    // determined by idx (bucketing never changes row values)
    "q101_schema_evolution" ->
      """WITH ids AS (SELECT unnest(range(260)) AS idx)
        |SELECT idx,
        |  CASE WHEN idx < 200 AND idx % 50 = 0 THEN 'upd_' || idx
        |       ELSE 'cap_' || idx END AS caption,
        |  CASE WHEN idx < 200 AND idx % 50 = 0 THEN 'fr'
        |       WHEN idx >= 200 THEN (CASE WHEN idx % 2 = 0 THEN 'en' ELSE 'de' END)
        |       ELSE NULL END AS lang
        |FROM ids""".stripMargin,

    // q90 — file counts replayed from the same splitmix bucket arithmetic
    // (pmod on a power-of-two modulus ≡ unsigned z % 16): files_before =
    // Σ per-commit distinct buckets, files_after = distinct buckets
    // overall (fragmented buckets rewrite to one file, singles carry)
    "q90_compaction" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 650) t(i)),
         |${splitmixChain("sc", Seq("i"), "ids", "seed")},
         |bk AS (SELECT i, CAST(z % 16 AS BIGINT) AS bucket FROM sc3),
         |cm AS (SELECT i, bucket,
         |  CASE WHEN i < 300 THEN 1 WHEN i < 500 THEN 2 ELSE 3 END AS c FROM bk)
         |SELECT 'files_before' AS label, CAST(count(*) AS BIGINT) AS n
         |  FROM (SELECT DISTINCT c, bucket FROM cm)
         |UNION ALL SELECT 'files_after', CAST(count(DISTINCT bucket) AS BIGINT) FROM cm
         |UNION ALL SELECT 'rows_after', 650::BIGINT
         |UNION ALL SELECT 'sum_idx', CAST(sum(i) AS BIGINT) FROM ids
         |UNION ALL SELECT 'noop_version', 4::BIGINT""".stripMargin,

    // q84 — identical planted URLs, identical canonicalization regexes
    // (Java∩RE2-portable), list_sort ≡ array_sort on ASCII params, and the
    // same min-per-canon keeper window
    "q84_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'HTTPS://Example.COM:443/a/' || (doc_id % 7) ||
        |        '?utm_source=feed&id=' || (doc_id % 13) || '&b=2#frag'
        |      WHEN 1 THEN 'http://news.example.org/p/' || (doc_id % 11) ||
        |        '?b=2&a=1&utm_campaign=x'
        |      WHEN 2 THEN 'https://example.com/a/' || (doc_id % 7) ||
        |        '?id=' || (doc_id % 13) || '&b=2'
        |      ELSE 'http://CDN.Example.net:80/img/' || (doc_id % 5)
        |    END AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
        |    regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path0,
        |    regexp_extract(url, '\?([^#]*)', 1) AS query
        |  FROM u),
        |norm AS (
        |  SELECT doc_id, scheme,
        |    CASE WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$', '')
        |         WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$', '')
        |         ELSE hostport END AS host,
        |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        |    COALESCE(array_to_string(list_sort(list_filter(string_split(query, '&'),
        |      x -> x <> '' AND NOT starts_with(x, 'utm_'))), '&'), '') AS qs
        |  FROM parts),
        |canon AS (
        |  SELECT doc_id,
        |    scheme || '://' || host || path ||
        |      CASE WHEN qs = '' THEN '' ELSE '?' || qs END AS canon_url,
        |    CASE WHEN len(string_split(host, '.')) >= 2
        |      THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
        |      ELSE host END AS domain
        |  FROM norm)
        |SELECT doc_id, canon_url, domain,
        |  doc_id = min(doc_id) OVER (PARTITION BY canon_url) AS is_keeper
        |FROM canon""".stripMargin,

    // q85 — DuckDB's native ASOF LEFT JOIN is the oracle for the
    // union+window implementation; build side pre-aggregated per (user, ts)
    // on both sides so the matched payload is well defined
    "q85_asof_join" ->
      """WITH b AS (
        |  SELECT user_id, ts, max(value) AS bval FROM events
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
        |SELECT p.event_id, epoch_us(b.ts) AS asof_ts_us,
        |  CAST(round(b.bval * 100) AS BIGINT) AS asof_value_cents
        |FROM p ASOF LEFT JOIN b ON p.user_id = b.user_id AND p.ts >= b.ts""".stripMargin,

    // q86 — the same even-odd ray cast over the same unit lattice: bbox
    // from the edge endpoints, cell centers at half-integers, crossing
    // parity per ring, union over rings. The division in the crossing
    // test is IEEE-correctly-rounded in both engines, so the comparison
    // is deterministic even for the slope-7/3 triangle.
    "q86_rasterize" -> rasterCellsSql("SELECT pid AS relation_id, cx, cy FROM inside"),

    // q87 — marching squares over q86's cells: each cell scatters 1/2/4/8
    // into its four incident 2×2 blocks, the block sum is the case index,
    // saddles (6, 9 in this bit layout) carry two segments, empty/full none, the rest one
    "q87_marching_squares" -> rasterCellsSql(
      """blocks AS (
        |  SELECT pid, bx, by, sum(w) AS case_idx FROM (
        |    SELECT pid, cx+1 AS bx, cy+1 AS by, 1 AS w FROM inside
        |    UNION ALL SELECT pid, cx, cy+1, 2 FROM inside
        |    UNION ALL SELECT pid, cx+1, cy, 4 FROM inside
        |    UNION ALL SELECT pid, cx, cy, 8 FROM inside)
        |  GROUP BY 1, 2, 3)
        |SELECT pid AS relation_id,
        |  CAST(sum((case_idx // 8) % 2) AS BIGINT) AS n_cells,
        |  CAST(count(*) AS BIGINT) AS n_blocks,
        |  CAST(sum(CASE WHEN case_idx IN (0, 15) THEN 0
        |                WHEN case_idx IN (6, 9) THEN 2 ELSE 1 END) AS BIGINT) AS n_segments,
        |  CAST(sum(CASE WHEN case_idx IN (6, 9) THEN 1 ELSE 0 END) AS BIGINT) AS n_saddles
        |FROM blocks GROUP BY 1""".stripMargin, extraCte = true),

    // q89 — recall joins the two already-replicated legs: q27's exact
    // kNN and q52's full IVF (training included), WITH-in-subquery so
    // each leg keeps its own CTE stack
    "q89_ann_recall" ->
      s"""WITH exact AS (SELECT * FROM ($embedKnnOracleSql) t),
         |approx AS (SELECT * FROM ($ivfOracleSql) t)
         |SELECT e.query_id,
         |  CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |  CAST(count(*) AS BIGINT) AS k_actual
         |FROM exact e LEFT JOIN approx a
         |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
         |GROUP BY 1""".stripMargin,

    // q88 — all-pairs replication of the exact overlap predicate: proper
    // edge crossing (four orientation signs, exact integer products) OR a
    // vertex of one strictly inside the other (even-odd ray cast per
    // ring). Same arithmetic as the Spark kernel; only the candidate plan
    // differs (quadratic here, grid-partitioned there).
    "q88_poly_overlap_join" ->
      s"""WITH edges AS (SELECT * FROM ${polyEdgesSqlValues(overlapPolys)}),
         |verts AS (SELECT * FROM ${polyVertsSqlValues(overlapPolys)}),
         |xd AS (
         |  SELECT ea.pid AS id_a, eb.pid AS id_b,
         |    (ea.xj-ea.xi)*(eb.yi-ea.yi) - (ea.yj-ea.yi)*(eb.xi-ea.xi) AS d1,
         |    (ea.xj-ea.xi)*(eb.yj-ea.yi) - (ea.yj-ea.yi)*(eb.xj-ea.xi) AS d2,
         |    (eb.xj-eb.xi)*(ea.yi-eb.yi) - (eb.yj-eb.yi)*(ea.xi-eb.xi) AS d3,
         |    (eb.xj-eb.xi)*(ea.yj-eb.yi) - (eb.yj-eb.yi)*(ea.xj-eb.xi) AS d4
         |  FROM edges ea JOIN edges eb ON ea.pid < eb.pid),
         |xpairs AS (
         |  SELECT DISTINCT id_a, id_b FROM xd WHERE d1*d2 < 0 AND d3*d4 < 0),
         |vin AS (
         |  SELECT v.pid AS pv, e.pid AS pe, v.vy, v.vx, e.ring,
         |    sum(CASE WHEN ((e.yi > v.vy) <> (e.yj > v.vy)) AND
         |      (v.vx < (e.xj-e.xi)*(v.vy-e.yi)/(e.yj-e.yi)+e.xi) THEN 1 ELSE 0 END) AS n
         |  FROM verts v JOIN edges e ON v.pid <> e.pid
         |  GROUP BY 1, 2, 3, 4, 5),
         |vhit AS (
         |  SELECT DISTINCT least(pv, pe) AS id_a, greatest(pv, pe) AS id_b
         |  FROM vin WHERE n % 2 = 1)
         |SELECT id_a, id_b FROM xpairs UNION SELECT id_a, id_b FROM vhit""".stripMargin,

    // q55 — SemDeDup end-to-end: shared quantizer replication + cosine
    // edges + reachability components + keeper selection
    "q55_semantic_dedup" -> semanticDedupOracleSql,

    // q23 — the whole LSH pipeline recomputed relationally (see
    // minhashOracleSql for the kernel derivations and validity domain)
    "q23_minhash_pairs" -> minhashOracleSql,
    "q134_delta_dedup" -> minhashProbeOracleSql,

    // q24 — the SimHash pipeline recomputed relationally
    "q24_simhash_pairs" -> simhashOracleSql,

    // q30 — sign-LSH ANN end-to-end incl. bit-exact float replication
    "q30_ann_lsh" -> lshAnnOracleSql,

    // q28 — embedding near-dup end-to-end
    "q28_embed_neardup" -> embedNearDupOracleSql,

    // q29 — winnowing fingerprint sharing recomputed relationally (see
    // winnowFpCte for the hash derivation and validity domain)
    "q29_fingerprint" ->
      s"""WITH ${winnowFpCte()},
         |counts AS (SELECT fp, count(*) AS n_docs FROM dfps GROUP BY fp)
         |SELECT count(*) AS shared_fps, CAST(sum(n_docs) AS BIGINT) AS doc_slots
         |FROM counts WHERE n_docs > 1""".stripMargin,
    "q01_filter_boundary" ->
      "SELECT event_id, user_id, value FROM events WHERE event_type = 'purchase'",

    "q02_admin_range" ->
      """SELECT o_orderkey,
        |  COALESCE(CASE WHEN regexp_matches(substr(o_orderpriority,1,1), '^[+-]?[0-9]+$')
        |                 AND TRY_CAST(substr(o_orderpriority,1,1) AS BIGINT) BETWEEN -128 AND 127
        |            THEN TRY_CAST(substr(o_orderpriority,1,1) AS INT) END, 127) AS lvl
        |FROM orders
        |WHERE COALESCE(CASE WHEN regexp_matches(substr(o_orderpriority,1,1), '^[+-]?[0-9]+$')
        |                 AND TRY_CAST(substr(o_orderpriority,1,1) AS BIGINT) BETWEEN -128 AND 127
        |            THEN TRY_CAST(substr(o_orderpriority,1,1) AS INT) END, 127) BETWEEN 2 AND 4""".stripMargin,

    "q03_member_project" ->
      """SELECT l_orderkey, CAST(row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber, l_partkey) - 1 AS INT) AS pos, l_partkey
        |FROM lineitem
        |QUALIFY pos < 2""".stripMargin,

    "q04_semi_join" ->
      """SELECT l_returnflag, count(*) AS n, CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey AND o_totalprice > 200000)
        |GROUP BY l_returnflag""".stripMargin,

    "q05_join_3way" ->
      """SELECT c_mktsegment, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |              JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment, o_orderpriority""".stripMargin,

    "q06_group_collect" ->
      """SELECT l_orderkey, string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS parts
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,

    // q07 — closed-form expected value of ring assembly over the grid
    // scene: the stitch must survive the scene's deterministic per-cell way
    // reversals and member permutations and still yield exactly one closed
    // 12-point ring per relation with the reference's name projection.
    // (Ring COORDINATES are pinned byte-exact by the golden sbt fixtures —
    // this row makes the structural outcome driver-checkable too.)
    "q07_ring_assembly" ->
      """WITH ids AS (SELECT range AS i FROM range(0, 128))
        |SELECT CAST(1000000 + i AS BIGINT) AS relation_id,
        |  (CASE WHEN i % 7 = 0 THEN 'Stadt_' ELSE '' END) || 'cell_' || CAST(i % 16 AS BIGINT) || '_' || CAST(i // 16 AS BIGINT) AS name,
        |  CAST(8 AS BIGINT) AS admin_level,
        |  CAST(1 AS INT) AS n_rings, CAST(12 AS INT) AS n_points, true AS closed
        |FROM ids""".stripMargin,

    "q08_coord_convert" ->
      """SELECT o_orderkey,
        |  CAST(CAST(CAST(o_orderkey % 1800000000 - 900000000 AS INT) AS DOUBLE)/10000000.0 AS REAL) AS lat_f32
        |FROM orders""".stripMargin,

    "q09_name_project" ->
      """SELECT c_custkey,
        |  CASE WHEN (CASE WHEN c_mktsegment = 'BUILDING' THEN 'Stadt' ELSE '' END) <> ''
        |       THEN (CASE WHEN c_mktsegment = 'BUILDING' THEN 'Stadt' ELSE '' END) || '_' ||
        |            COALESCE(CASE WHEN c_custkey % 5 <> 0 THEN 'c_' || CAST(c_custkey AS VARCHAR) END, 'UNKNOWN_NAME')
        |       ELSE COALESCE(CASE WHEN c_custkey % 5 <> 0 THEN 'c_' || CAST(c_custkey AS VARCHAR) END, 'UNKNOWN_NAME')
        |  END AS full_name
        |FROM customer""".stripMargin,

    "q10_name_dedup" ->
      """WITH base AS (
        |  SELECT c_custkey AS relation_id,
        |    'Region' || (CASE WHEN c_custkey % 3 = 0 THEN '/' ELSE '' END) || '_' ||
        |    CAST(c_custkey % 40 AS VARCHAR) || (CASE WHEN c_custkey % 7 = 0 THEN 'X' ELSE '' END) AS name
        |  FROM customer),
        |safe AS (SELECT relation_id, regexp_replace(name, '[\\/&:<>|*]', '', 'g') AS s FROM base)
        |SELECT relation_id,
        |  CASE WHEN count(*) OVER (PARTITION BY lower(s)) > 1
        |       THEN s || '_' || CAST(relation_id AS VARCHAR) ELSE s END AS out_name
        |FROM safe""".stripMargin,

    "q11_cellof" ->
      s"""WITH pts AS ($probeSql)
         |SELECT 8*288230376151711744 +
         |  LEAST(GREATEST(CAST(floor((lon+180.0)/360.0*256.0) AS BIGINT), 0), 255)*536870912 +
         |  LEAST(GREATEST(CAST(floor((lat+90.0)/180.0*256.0) AS BIGINT), 0), 255) AS cell,
         |  count(*) AS n
         |FROM pts GROUP BY 1""".stripMargin,

    "q12_pip_join" ->
      s"""WITH pts AS ($probeSql)
         |SELECT o_orderkey, CAST(relation_id AS BIGINT) AS relation_id
         |FROM pts JOIN $rectsSqlValues
         |  ON lat > lat_min AND lat < lat_max AND lon > lon_min AND lon < lon_max""".stripMargin,

    "q13_knn_brute" ->
      s"""WITH pts AS ($probeSql),
         |cents AS (SELECT CAST(relation_id AS BIGINT) AS nid, (lat_min+lat_max)/2 AS clat, (lon_min+lon_max)/2 AS clon
         |          FROM $rectsSqlValues)
         |SELECT o_orderkey, nid,
         |  CAST(row_number() OVER (PARTITION BY o_orderkey
         |    ORDER BY (lat-clat)*(lat-clat)+(lon-clon)*(lon-clon), nid) AS INT) AS rank
         |FROM pts CROSS JOIN cents
         |WHERE o_orderkey % 97 = 0
         |QUALIFY rank <= 3""".stripMargin,

    "q33_knn_cell" ->
      s"""WITH pts AS ($probeSql),
         |cents AS (SELECT CAST(relation_id AS BIGINT) AS nid, (lat_min+lat_max)/2 AS clat, (lon_min+lon_max)/2 AS clon
         |          FROM $rectsSqlValues)
         |SELECT o_orderkey, nid,
         |  CAST(row_number() OVER (PARTITION BY o_orderkey
         |    ORDER BY (lat-clat)*(lat-clat)+(lon-clon)*(lon-clon), nid) AS INT) AS rank
         |FROM pts CROSS JOIN cents
         |WHERE o_orderkey % 97 = 0
         |QUALIFY rank <= 3""".stripMargin,

    "q14_window_topk" ->
      """SELECT o_custkey % 100 AS bucket,
        |  CAST(row_number() OVER (PARTITION BY o_custkey % 100 ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rk,
        |  o_orderkey
        |FROM orders
        |QUALIFY rk <= 2""".stripMargin,

    "q15_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_price_cents,
        |  count(*) AS n, count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q16_distinct_set" ->
      "SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity > 45",

    "q17_time_window" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '5 minutes', ts)) AS BIGINT) AS bucket_s,
        |  event_type, count(*) AS n, CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q20_dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keeper, count(*) AS copies FROM documents GROUP BY 1",

    "q35_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf, COALESCE(l_linestatus, 'ALL') AS ls,
        |  count(*) AS n, CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS qty_cents
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""".stripMargin,

    "q36_json_extract" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events",

    // q59 — the star join: same aggregate shape as q05's oracle
    "q59_star_join" ->
      """SELECT r_name, p_brand, count(*) AS n,
        |       CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  JOIN part ON l_partkey = p_partkey
        |GROUP BY r_name, p_brand""".stripMargin,

    "q42_set_ops" ->
      """WITH hq AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_quantity > 40),
        |lt AS (SELECT DISTINCT l_partkey FROM lineitem WHERE l_tax < 0.02)
        |SELECT l_partkey, 'both' AS src FROM (SELECT l_partkey FROM hq INTERSECT SELECT l_partkey FROM lt)
        |UNION ALL
        |SELECT l_partkey, 'high_only' AS src FROM (SELECT l_partkey FROM hq EXCEPT SELECT l_partkey FROM lt)""".stripMargin,

    "q44_sql_api" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity*100) AS BIGINT)) AS BIGINT) AS sum_qty_cents,
        |  count(DISTINCT l_partkey) AS n_parts
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q47_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q48_cube" ->
      """SELECT COALESCE(o_orderpriority, 'ALL') AS pri, COALESCE(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n, CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)""".stripMargin,

    "q46_ngram_jaccard" ->
      """WITH docs2 AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000, text || ' perturbed' FROM documents WHERE doc_id % 10 = 0),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 2)),
        |      i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS grams
        |  FROM docs2)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE) /
        |  (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) AS jaccard
        |FROM g a JOIN g b ON b.doc_id = a.doc_id + 100000""".stripMargin,

    "q51_dedup_clusters" ->
      """WITH RECURSIVE docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |tiers AS (
        |  SELECT doc_id, text FROM docs0
        |  UNION ALL SELECT doc_id + 100000, text || ' perturbed' FROM docs0
        |  UNION ALL SELECT doc_id + 200000, text || ' perturbed perturbed' FROM docs0),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 2)),
        |      i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS grams
        |  FROM tiers),
        |cand AS (
        |  SELECT doc_id AS src, doc_id + 100000 AS dst FROM docs0
        |  UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM docs0),
        |edges AS (
        |  SELECT src, dst FROM cand
        |  JOIN g ga ON ga.doc_id = src
        |  JOIN g gb ON gb.doc_id = dst
        |  WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
        |        (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
        |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |nodes AS (SELECT DISTINCT src AS id FROM und),
        |walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN und e ON e.src = w.r)
        |SELECT id AS doc_id, min(r) AS component FROM walk GROUP BY id""".stripMargin,

    // q269 — the q51 fixpoint + richer-record-wins election and the
    // merged-record rollup
    "q269_survivorship" ->
      """WITH RECURSIVE docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |tiers AS (
        |  SELECT doc_id, text FROM docs0
        |  UNION ALL SELECT doc_id + 100000, text || ' perturbed' FROM docs0
        |  UNION ALL SELECT doc_id + 200000, text || ' perturbed perturbed' FROM docs0),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 2)),
        |      i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS grams
        |  FROM tiers),
        |cand AS (
        |  SELECT doc_id AS src, doc_id + 100000 AS dst FROM docs0
        |  UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM docs0),
        |edges AS (
        |  SELECT src, dst FROM cand
        |  JOIN g ga ON ga.doc_id = src
        |  JOIN g gb ON gb.doc_id = dst
        |  WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
        |        (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
        |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |nodes AS (SELECT DISTINCT src AS id FROM und),
        |walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN und e ON e.src = w.r),
        |comp AS (SELECT id, min(r) AS component FROM walk GROUP BY id),
        |mem AS (SELECT c.component, c.id, length(t.text) AS len
        |        FROM comp c JOIN tiers t ON t.doc_id = c.id),
        |sur AS (SELECT component, id AS survivor_doc_id, len AS survivor_chars
        |  FROM mem QUALIFY row_number() OVER (PARTITION BY component
        |    ORDER BY len DESC, id) = 1),
        |agg AS (SELECT component, count(*) AS n_members, sum(len) AS total_chars
        |        FROM mem GROUP BY 1)
        |SELECT a.component, CAST(survivor_doc_id AS BIGINT) AS survivor_doc_id,
        |  CAST(survivor_chars AS BIGINT) AS survivor_chars,
        |  CAST(n_members AS BIGINT) AS n_members,
        |  CAST(total_chars AS BIGINT) AS total_chars
        |FROM agg a JOIN sur ON sur.component = a.component""".stripMargin,

    // q53 — q51's reachability fixpoint + keeper selection: keep cluster
    // minima and unclustered singletons
    "q53_fuzzy_select" ->
      """WITH RECURSIVE docs0 AS (SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0),
        |tiers AS (
        |  SELECT doc_id, text FROM docs0
        |  UNION ALL SELECT doc_id + 100000, text || ' perturbed' FROM docs0
        |  UNION ALL SELECT doc_id + 200000, text || ' perturbed perturbed' FROM docs0),
        |g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, greatest(len(string_split(text,' ')) - 1, 2)),
        |      i -> array_to_string((string_split(text,' '))[i:i+2], ' '))) AS grams
        |  FROM tiers),
        |cand AS (
        |  SELECT doc_id AS src, doc_id + 100000 AS dst FROM docs0
        |  UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM docs0),
        |edges AS (
        |  SELECT src, dst FROM cand
        |  JOIN g ga ON ga.doc_id = src
        |  JOIN g gb ON gb.doc_id = dst
        |  WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE) /
        |        (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
        |und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |nodes AS (SELECT DISTINCT src AS id FROM und),
        |walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT w.id, e.dst FROM walk w JOIN und e ON e.src = w.r),
        |labels AS (SELECT id, min(r) AS component FROM walk GROUP BY id)
        |SELECT t.doc_id
        |FROM tiers t LEFT JOIN labels l ON l.id = t.doc_id
        |WHERE l.component IS NULL OR t.doc_id = l.component""".stripMargin,

    "q45_asof_join" ->
      """WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
        |s AS (SELECT user_id, event_id AS last_signup, ts FROM events WHERE event_type = 'signup')
        |SELECT p.user_id, p.event_id, s.last_signup
        |FROM p ASOF JOIN s ON p.user_id = s.user_id AND p.ts >= s.ts""".stripMargin,

    // q60 — SHARDED sequence packing: q21's tokenization + the splitmix
    // shard assignment + a per-shard window cumsum + per-shard chunk-count
    // offsets (the driver-collected map re-derived relationally) + integral
    // div/mod per row
    "q60_sequence_pack" ->
      s"""WITH t AS (
         |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
         |         CAST(doc_id AS HUGEINT) AS i
         |  FROM documents),
         |${splitmixChain("s", Seq("doc_id", "n_tokens"), "t", "i")},
         |sh AS (
         |  SELECT doc_id, n_tokens,
         |    CAST((z % 9223372036854775808::HUGEINT) % 8 AS INT) AS shard
         |  FROM s3),
         |c AS (
         |  SELECT doc_id, n_tokens, shard,
         |    COALESCE(CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cum_before
         |  FROM sh),
         |off AS (
         |  SELECT shard,
         |    COALESCE(CAST(sum((tok + 2047) // 2048) OVER (ORDER BY shard
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS chunk_off
         |  FROM (SELECT shard, CAST(sum(n_tokens) AS BIGINT) AS tok FROM sh GROUP BY shard))
         |SELECT c.doc_id, c.n_tokens, c.shard,
         |  chunk_off + cum_before // 2048 AS chunk_id,
         |  cum_before % 2048 AS offset_in_chunk,
         |  ((cum_before + n_tokens - 1) // 2048) > (cum_before // 2048) AS spans_boundary
         |FROM c JOIN off ON off.shard = c.shard""".stripMargin,

    // q61 — mixture sampling: the splitmix chain over doc_id, low-63-bit
    // slot mod 1000 under the per-language quota
    "q61_mixture_sample" ->
      s"""WITH ids AS (SELECT doc_id, lang, CAST(doc_id AS HUGEINT) AS i FROM documents),
         |${splitmixChain("s", Seq("doc_id", "lang"), "ids", "i")}
         |SELECT doc_id, lang FROM s3
         |WHERE (z % 9223372036854775808::HUGEINT) % 1000 <
         |  CASE lang WHEN 'en' THEN 400 WHEN 'zh' THEN 600 ELSE 900 END""".stripMargin,

    // q64 — PII redaction: identical planted augmentation, identical
    // Java∩RE2 patterns ('g' flag = Spark's always-global replace), md5
    // over the same redacted bytes
    "q64_pii_redact" ->
      """WITH aug AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id || '@mail.example or 10.' ||
        |    (doc_id % 256) || '.' || ((doc_id // 7) % 256) || '.4' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN ' cc admin' || doc_id || '@corp.example' ELSE '' END AS t
        |  FROM documents),
        |red AS (
        |  SELECT doc_id, t,
        |    regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g') AS r
        |  FROM aug)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b(\d{1,3}\.){3}\d{1,3}\b')) AS INT) AS n_ips,
        |  CAST(length(r) AS INT) AS redacted_len,
        |  md5(r) AS redacted_md5
        |FROM red""".stripMargin,

    "q40_training_select" ->
      """WITH kept AS (
        |  SELECT doc_id, lang, text,
        |         min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
        |  FROM documents)
        |SELECT doc_id, lang, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens
        |FROM kept
        |WHERE doc_id = keeper
        |  AND len(string_split(text, ' ')) BETWEEN 20 AND 120
        |  AND length(text) >= 100""".stripMargin,

    "q41_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800 THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sess AS (
        |  SELECT user_id, event_id, ts, value,
        |    CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  CAST(floor(min(epoch(ts))) AS BIGINT) AS first_s,
        |  CAST(floor(max(epoch(ts))) AS BIGINT) AS last_s,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS value_cents
        |FROM sess GROUP BY user_id, session_id""".stripMargin,

    "q21_token_count" ->
      "SELECT doc_id, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens FROM documents",

    // q26 — TextOps.langId replicated relationally: CJK share first, then
    // argmax stopword hits over the same public profiles, ties to the
    // alphabetically-first language, und when nothing matches (incl. NULL
    // text). Tokenizer fidelity: RE2's \p{L} matches Java's for BMP
    // letters; known residual divergence = supplementary-plane characters
    // (UTF-16 length vs codepoints) — out of this corpus's charset.
    "q26_lang_id" ->
      s"""WITH $langPredCtes
        |SELECT lang, predicted_lang, count(*) AS n FROM pred GROUP BY 1, 2""".stripMargin,

    "q25_regex_tokens" ->
      """SELECT doc_id, CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_tokens
        |FROM documents""".stripMargin,

    "q27_embed_knn" -> embedKnnOracleSql,

    "q49_exact_distinct" ->
      "SELECT l_returnflag, count(DISTINCT l_partkey) AS exact FROM lineitem GROUP BY 1",

    // q43 — the oracle asserts the HLL++ error bound holds: exact counts
    // from DuckDB, within_bound must be TRUE on every row (the Spark side
    // computes the actual |approx − exact| ≤ 0.15·exact comparison)
    "q43_approx_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact,
        |  TRUE AS within_bound FROM lineitem GROUP BY 1""".stripMargin,

    // q50 — closed-form expected value of the PBF round trip: container
    // encode → blob-parallel decode → extract must reproduce the grid
    // scene's boundary set exactly (same derivation as q07's oracle).
    "q50_pbf_extract" ->
      """WITH ids AS (SELECT range AS i FROM range(0, 72))
        |SELECT CAST(1000000 + i AS BIGINT) AS relation_id,
        |  (CASE WHEN i % 7 = 0 THEN 'Stadt_' ELSE '' END) || 'cell_' || CAST(i % 12 AS BIGINT) || '_' || CAST(i // 12 AS BIGINT) AS name,
        |  CAST(1 AS INT) AS n_rings
        |FROM ids""".stripMargin,

    // q34 — closed-form expected value of the full sink row over the golden
    // scene (same derivation style as q07/q50): the deduped output names
    // follow N1's deterministic rules and the emitted `.poly`/GeoJSON string
    // lengths are exact consequences of the byte-exact goldens pinned in
    // GoldenFileSpec — so the whole sink row is driver-checkable.
    "q34_sink_rows" ->
      """SELECT CAST(relation_id AS BIGINT) AS relation_id, out_name,
        |  CAST(poly_len AS INT) AS poly_len, CAST(geojson_len AS INT) AS geojson_len
        |FROM (VALUES
        |  (11, 'Alpha', 84, 192),
        |  (12, 'Beta', 83, 191),
        |  (13, 'Gamma', 144, 252),
        |  (14, 'Delta', 81, 189),
        |  (15, 'Stadt_UNKNOWN_NAME', 82, 190),
        |  (161, 'Vimianzo_161', 72, 181),
        |  (162, 'vimianzo_162', 72, 181),
        |  (163, 'Vimianzo_163', 72, 181),
        |  (164, 'Unique', 70, 179),
        |  (165, 'abc', 75, 185),
        |  (173, 'Exact', 69, 178)
        |) AS t(relation_id, out_name, poly_len, geojson_len)""".stripMargin,

    // q39 — closed-form expected value of the RFC7946 extension over the
    // golden scene: polygon/hole counts and the exact geometry-string
    // length per relation (byte-level geometry pinned in HolesSpec).
    "q39_holes_rfc7946" ->
      """SELECT CAST(relation_id AS BIGINT) AS relation_id, name,
        |  CAST(n_polygons AS INT) AS n_polygons, CAST(n_holes AS INT) AS n_holes,
        |  CAST(geom_len AS INT) AS geom_len
        |FROM (VALUES
        |  (11, 'Alpha', 1, 0, 99),
        |  (12, 'Beta', 1, 0, 99),
        |  (13, 'Gamma', 2, 0, 159),
        |  (14, 'Delta', 1, 0, 96),
        |  (15, 'Stadt_UNKNOWN_NAME', 1, 0, 84),
        |  (161, 'Vimianzo', 1, 0, 84),
        |  (162, 'vimianzo', 1, 0, 84),
        |  (163, 'Vimianzo', 1, 0, 84),
        |  (164, 'Unique', 1, 0, 84),
        |  (165, 'ab\/&:<>|*c', 1, 0, 84),
        |  (173, 'Exact', 1, 0, 84)
        |) AS t(relation_id, name, n_polygons, n_holes, geom_len)""".stripMargin,

    // q31 — the image table's metadata columns are a pure function of the
    // row index through splitmix64; reproduced here in DuckDB with HUGEINT
    // arithmetic mod 2^64 (see splitmixDimsCtes). Verifies generate()'s
    // metadata end-to-end (bytes are pinned by the codec tests in sbt).
    // q58 — repetition metrics recomputed relationally: word explode →
    // distinct/total + adjacent-pair self-join → per-doc top bigram by
    // (count desc, w1, w2) → one double division per metric (exact ints
    // in, so the doubles are bit-identical)
    "q58_repetition_filter" ->
      """WITH base AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '') AS ws
        |  FROM documents),
        |words AS (
        |  SELECT doc_id, unnest(ws) AS w, unnest(range(len(ws))) AS wi FROM base),
        |wstats AS (
        |  SELECT doc_id, CAST(sum(length(w)) AS BIGINT) AS total_chars,
        |         count(DISTINCT w) AS n_distinct
        |  FROM words GROUP BY doc_id),
        |big AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2, count(*) AS c,
        |         max(length(a.w) + length(b.w)) AS plen
        |  FROM words a JOIN words b ON a.doc_id = b.doc_id AND b.wi = a.wi + 1
        |  GROUP BY a.doc_id, a.w, b.w),
        |top AS (
        |  SELECT doc_id, c, plen FROM (
        |    SELECT doc_id, c, plen,
        |      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, w1, w2) AS rk
        |    FROM big) WHERE rk = 1),
        |-- tot anchors on base (not the exploded words), so a zero-token
        |-- document keeps its (0, 0.0, 0.0) row exactly like the kernel
        |m AS (
        |  SELECT b.doc_id, CAST(len(b.ws) AS INT) AS n_tokens,
        |    CASE WHEN len(b.ws) = 0 THEN 0.0
        |         ELSE 1.0 - CAST(s.n_distinct AS DOUBLE) / len(b.ws) END AS dup_word_frac,
        |    COALESCE(CAST(p.c * p.plen AS DOUBLE) / s.total_chars, 0.0) AS top_bigram_frac
        |  FROM base b LEFT JOIN wstats s USING (doc_id) LEFT JOIN top p USING (doc_id))
        |SELECT doc_id, n_tokens, dup_word_frac, top_bigram_frac,
        |  (dup_word_frac <= 0.6 AND top_bigram_frac <= 0.08) AS keep
        |FROM m""".stripMargin,

    // q57 — pHash replicated end-to-end: pixel function + nearest resample
    // + both DCT passes + mean threshold + bit packing, all bit-exact (the
    // basis constants interpolate from Phash.COS32 as shortest-round-trip
    // decimal literals, which IEEE-754 correctly-rounded parsing maps back
    // to the identical doubles)
    "q57_phash" -> phashOracleSql,

    // q56 — lossy-invariant sweep: dims from the shared splitmix CTE;
    // psnr_ok must be uniformly true (the codec's contract — see the
    // 40 dB round-trip pin in CodecsSpec; a regression reds this row set)
    "q56_jpeg_invariant" ->
      s"""WITH ${splitmixDimsCtes(500)}
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h, true AS psnr_ok
         |FROM dims""".stripMargin,

    "q31_image_table" ->
      s"""WITH ${splitmixDimsCtes(2000)}
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id, w, h,
         |  CASE WHEN i % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt,
         |  'caption_' || CAST(i AS BIGINT) || ' of cell ' || CAST(abs(phash) % 97 AS BIGINT) AS caption,
         |  phash
         |FROM dims""".stripMargin,

    // q32 — the FULL tile-pyramid geometry (every level, tile coordinate,
    // and crop size for every image) recomputed relationally: splitmix dims
    // → recursive 2× downsample levels ((w+1)//2 — exactly
    // Tiling.downsample2x) → unnest tile grids. Pixel bytes stay pinned by
    // the PSNR tests; the pyramid STRUCTURE is driver-oracled.
    "q32_tile_pyramid" ->
      s"""WITH RECURSIVE ${splitmixDimsCtes(200)},
         |lv AS (
         |  SELECT i, w, h, phash, 0 AS level FROM dims
         |  UNION ALL
         |  SELECT i, (w+1)//2, (h+1)//2, phash, level+1 FROM lv WHERE NOT (w <= 16 AND h <= 16)
         |),
         |t1 AS (SELECT *, unnest(range((w+15)//16)) AS tx FROM lv),
         |t2 AS (SELECT *, unnest(range((h+15)//16)) AS ty FROM t1)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  ((phash % 64) + 64) % 64 AS relation_id,
         |  CAST(level AS INT) AS level,
         |  CAST(tx AS INT) AS tx, CAST(ty AS INT) AS ty,
         |  CAST(least(16, w - tx*16) AS INT) AS tw,
         |  CAST(least(16, h - ty*16) AS INT) AS th
         |FROM t2""".stripMargin,

    // q37 — the audio pipeline end-to-end: synthAudio's WAV encode → real
    // RIFF decode → feature kernel must equal DuckDB's relational recompute
    // of the same splitmix sample stream (see splitmixAudioCtes for why the
    // rounded RMS is exact, not approximately equal).
    "q37_audio_features" ->
      s"""WITH ${splitmixAudioCtes(500)},
         |flips AS (
         |  SELECT i, len, k, s, lag(s) OVER (PARTITION BY i ORDER BY k) AS ps
         |  FROM samples),
         |feats AS (
         |  SELECT i, max(len) AS len,
         |    sqrt(CAST(sum(s * s) AS DOUBLE) / max(len)) AS rms,
         |    CAST(sum(CASE WHEN ps IS NOT NULL AND ((s >= 0) <> (ps >= 0))
         |                  THEN 1 ELSE 0 END) AS INT) AS zc
         |  FROM flips GROUP BY i)
         |SELECT printf('aud_%09d', CAST(i AS BIGINT)) AS audio_id,
         |  round(rms, 3) AS rms, zc AS zero_crossings,
         |  'audio caption_' || CAST(i AS BIGINT) AS caption
         |FROM feats""".stripMargin,

    // q62 — FLAC audio features: the codec is lossless, so the decoded
    // stream must equal the closed-form integer triangle-wave synth —
    // recomputed here from the same splitmix-derived (len, period, amp).
    // All sample arithmetic is non-negative-integer (Java / and DuckDB //
    // agree), squares sum < 2^53 (double accumulation exact), so the
    // rounded RMS is bit-exact like q37's.
    "q62_flac_audio" ->
      s"""WITH ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range(0, 300)),
         |${splitmixChain("fl", Seq("i"), "ids", "i")},
         |${splitmixChain("fp", Seq("i"), "ids", "(i * 3::HUGEINT + 1::HUGEINT)")},
         |${splitmixChain("fa", Seq("i"), "ids", "(i * 3::HUGEINT + 2::HUGEINT)")},
         |params AS (
         |  SELECT fl3.i AS i,
         |    512 + CAST(fl3.z & 255::HUGEINT AS INT) AS len,
         |    256 + CAST(fp3.z & 511::HUGEINT AS INT) AS period,
         |    4000 + CAST(fa3.z & 8191::HUGEINT AS INT) AS amp
         |  FROM fl3 JOIN fp3 ON fp3.i = fl3.i JOIN fa3 ON fa3.i = fl3.i),
         |ks AS (SELECT i, len, period, amp, unnest(range(len)) AS k FROM params),
         |samples AS (
         |  SELECT i, len, k,
         |    (2 * least(k % period, period - (k % period)) * amp) // period - amp // 2 AS s
         |  FROM ks),
         |flips AS (
         |  SELECT i, len, k, s, lag(s) OVER (PARTITION BY i ORDER BY k) AS ps
         |  FROM samples),
         |feats AS (
         |  SELECT i, max(len) AS len,
         |    sqrt(CAST(sum(s * s) AS DOUBLE) / max(len)) AS rms,
         |    CAST(sum(CASE WHEN ps IS NOT NULL AND ((s >= 0) <> (ps >= 0))
         |                  THEN 1 ELSE 0 END) AS INT) AS zc
         |  FROM flips GROUP BY i)
         |SELECT printf('aud_%09d', CAST(i AS BIGINT)) AS audio_id,
         |  round(rms, 3) AS rms, zc AS zero_crossings,
         |  'audio caption_' || CAST(i AS BIGINT) AS caption
         |FROM feats""".stripMargin,

    // q63 — CDC chunking: winnow's normalization + gram-hash CTEs, cut
    // after every 8-gram whose splitmix lands in the 64-mask, spans via
    // lead(), md5 of the normalized substring (Spark md5(string) and
    // DuckDB md5 both hash UTF-8), corpus-wide copy counts. Valid under
    // the same BMP caveat as q29's oracle (charAt vs codepoints).
    "q63_cdc_chunks" ->
      s"""WITH ${gramPolyCtes("documents")},
         |bnds AS (
         |  SELECT g3.doc_id, g3.g + 8 AS b
         |  FROM g3 JOIN docs ON docs.doc_id = g3.doc_id
         |  WHERE g3.z % 64::HUGEINT = 0::HUGEINT AND g3.g + 8 < length(docs.s)),
         |starts AS (
         |  SELECT doc_id, 0 AS st FROM docs WHERE length(s) > 0
         |  UNION ALL SELECT doc_id, b FROM bnds),
         |spans AS (
         |  SELECT doc_id, st,
         |    lead(st) OVER (PARTITION BY doc_id ORDER BY st) AS nxt,
         |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1 AS INT) AS chunk_idx
         |  FROM starts),
         |chunks AS (
         |  SELECT sp.doc_id, sp.chunk_idx, CAST(sp.st AS INT) AS chunk_start,
         |    CAST(COALESCE(sp.nxt, length(d.s)) - sp.st AS INT) AS chunk_len,
         |    md5(substr(d.s, sp.st + 1, COALESCE(sp.nxt, length(d.s)) - sp.st)) AS chunk_md5
         |  FROM spans sp JOIN docs d ON d.doc_id = sp.doc_id)
         |SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5,
         |  count(*) OVER (PARTITION BY chunk_md5) AS n_copies
         |FROM chunks""".stripMargin,

    // q38 — sampled-frame structure is closed-form (every stride-th frame
    // of each 8-frame 16x16 synthetic video)
    "q38_frame_sample" ->
      """SELECT printf('vid_%09d', v.range) AS video_id,
        |  CAST(f.range AS INT) AS frame_idx, CAST(16 AS INT) AS w, CAST(16 AS INT) AS h
        |FROM range(0, 100) v, range(0, 8) f
        |WHERE f.range % 2 = 0""".stripMargin,

    // q202 — brute-force quadratic levenshtein over the same planted
    // strings: the PassJoin candidate pipeline must reproduce the full
    // all-pairs result (the pigeonhole guarantee under test)
    "q202_edit_join" ->
      """WITH b AS (SELECT CAST(t.i AS BIGINT) AS id,
        |    printf('site %04d sector %03d unit %02d',
        |      (t.i*37)%9000, (t.i*7)%700, t.i%53) AS s
        |  FROM range(0, 400) t(i)),
        |v1 AS (SELECT id + 100000 AS id, substr(s, 1, length(s)-1) || 'x' AS s
        |       FROM b WHERE id % 5 = 0),
        |v2 AS (SELECT id + 200000 AS id, substr(s, 1, length(s)-2) AS s
        |       FROM b WHERE id % 10 = 0),
        |allv AS (SELECT * FROM b UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2)
        |SELECT a.id AS id_a, c.id AS id_b,
        |  CAST(levenshtein(a.s, c.s) AS INT) AS dist
        |FROM allv a JOIN allv c ON a.id < c.id
        |WHERE abs(length(a.s) - length(c.s)) <= 2
        |  AND levenshtein(a.s, c.s) <= 2""".stripMargin,

    // q206 — the same break/cumsum windows replayed verbatim
    "q206_staypoints" ->
      """WITH pts AS (
        |  SELECT user_id, event_id, ts,
        |    (user_id*13 + (event_id // 500)*37) % 200 + event_id % 3 AS x,
        |    (user_id*29 + (event_id // 500)*53) % 200 + event_id % 5 AS y
        |  FROM events),
        |st AS (
        |  SELECT user_id, event_id, ts, x, y,
        |    x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
        |  FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sg AS (
        |  SELECT user_id, event_id, x, y,
        |    CAST(sum(CASE WHEN dx IS NULL OR dx*dx + dy*dy > 25 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS seg
        |  FROM st)
        |SELECT user_id, seg, count(*) AS n_fixes,
        |  min(event_id) AS e_first, max(event_id) AS e_last,
        |  min(x) AS x_min, min(y) AS y_min
        |FROM sg GROUP BY 1, 2 HAVING count(*) >= 4""".stripMargin,

    // q207 — arg_min/arg_max on the unique event_id ≡ Spark min_by/max_by
    "q207_od_matrix" ->
      """WITH z AS (
        |  SELECT user_id, event_id, CAST(ts AS DATE) AS day,
        |    ((user_id*7919 + event_id*31) % 100 // 25) * 4
        |      + ((user_id*104729 + event_id*37) % 100 // 25) AS zone
        |  FROM events),
        |t AS (
        |  SELECT user_id, day, arg_min(zone, event_id) AS o_zone,
        |    arg_max(zone, event_id) AS d_zone
        |  FROM z GROUP BY 1, 2)
        |SELECT o_zone, d_zone, count(*) AS n_trips FROM t GROUP BY 1, 2""".stripMargin,

    // q203 — the structure tensor replayed as a second 3×3 pass over the
    // per-pixel Sobel CTE (equi-join via exploded offsets, never a
    // range join), exact k=1/25 response in HUGEINT, cast at the edge
    "q203_harris" ->
      s"""WITH ${sobelChainCtes(200)},
         |win AS (
         |  SELECT a.i, a.x, a.y,
         |    sum(CAST(b.gx AS BIGINT) * b.gx) AS sxx,
         |    sum(CAST(b.gy AS BIGINT) * b.gy) AS syy,
         |    sum(CAST(b.gx AS BIGINT) * b.gy) AS sxy
         |  FROM sob a
         |  CROSS JOIN (VALUES (-1), (0), (1)) ox(dx)
         |  CROSS JOIN (VALUES (-1), (0), (1)) oy(dy)
         |  JOIN sob b ON b.i = a.i AND b.x = a.x + ox.dx AND b.y = a.y + oy.dy
         |  WHERE a.x BETWEEN 2 AND a.w-3 AND a.y BETWEEN 2 AND a.h-3
         |  GROUP BY 1, 2, 3),
         |resp AS (
         |  SELECT i, 25*(sxx*syy - sxy*sxy) - (sxx+syy)*(sxx+syy) AS r FROM win)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(sum(CASE WHEN r > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corners,
         |  CAST(max(r) AS BIGINT) AS r_max
         |FROM resp GROUP BY 1""".stripMargin,

    // q204 — votes per exact-integer (θ, ρ) family over the edge set,
    // winner by (votes desc, ρ asc) per direction
    "q204_hough_lines" ->
      s"""WITH ${sobelChainCtes(200)},
         |edges AS (SELECT i, x, y FROM sob WHERE abs(gx) + abs(gy) >= 300),
         |votes AS (
         |  SELECT i, d.dir,
         |    CASE d.dir WHEN 0 THEN x WHEN 1 THEN y WHEN 2 THEN x + y
         |      ELSE x - y END AS rho,
         |    count(*) AS votes
         |  FROM edges CROSS JOIN (VALUES (0), (1), (2), (3)) d(dir)
         |  GROUP BY 1, 2, 3),
         |best AS (
         |  SELECT i, dir, rho, votes,
         |    row_number() OVER (PARTITION BY i, dir ORDER BY votes DESC, rho) AS rn
         |  FROM votes)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(dir AS INT) AS dir, CAST(rho AS BIGINT) AS rho,
         |  CAST(votes AS BIGINT) AS votes
         |FROM best WHERE rn = 1""".stripMargin,

    // q205 — the 9-neighborhood ranked per center pixel, rank 5 is the
    // exact median (multiset order; tie order irrelevant to rank 5)
    "q205_median_filter" ->
      s"""WITH ${pixelChainCtes(200)},
         |nine AS (
         |  SELECT a.i, a.x, a.y, a.g AS cg, b.g AS ng
         |  FROM px a
         |  CROSS JOIN (VALUES (-1), (0), (1)) ox(dx)
         |  CROSS JOIN (VALUES (-1), (0), (1)) oy(dy)
         |  JOIN px b ON b.i = a.i AND b.x = a.x + ox.dx AND b.y = a.y + oy.dy
         |  WHERE a.x BETWEEN 1 AND a.w-2 AND a.y BETWEEN 1 AND a.h-2),
         |ranked AS (
         |  SELECT i, x, y, cg, ng,
         |    row_number() OVER (PARTITION BY i, x, y ORDER BY ng) AS rn
         |  FROM nine),
         |med AS (SELECT i, cg, ng AS m FROM ranked WHERE rn = 5)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(sum(m) AS BIGINT) AS med_sum,
         |  CAST(sum(CASE WHEN m <> cg THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
         |  CAST(max(abs(m - cg)) AS BIGINT) AS max_dev
         |FROM med GROUP BY 1""".stripMargin,

    // q208 — the three synchronous rounds unrolled as CTEs; the argmax
    // is the count-dominance NOT EXISTS with smallest-label ties,
    // matching the struct-max
    "q208_label_prop" -> {
      def round(prev: String, cur: String): String =
        s"""n$cur AS (SELECT d.src AS id, l.lab FROM dir d JOIN l$prev l ON l.id = d.dst),
           |c$cur AS (SELECT id, lab, count(*) AS cnt FROM n$cur GROUP BY 1, 2),
           |l$cur AS (SELECT c.id, c.lab FROM c$cur c WHERE NOT EXISTS (
           |  SELECT 1 FROM c$cur d WHERE d.id = c.id AND
           |    (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.lab < c.lab))))""".stripMargin
      s"""WITH ${communityEdgesSql(100, 20)},
         |l0 AS (SELECT i AS id, i AS lab FROM ids),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")}
         |SELECT id, lab AS label FROM l3""".stripMargin
    },

    // q209 — bounded-hop reachability fixpoint (q51 style) with the hop
    // count carried, min per (origin, node), then the closeness rollup
    "q209_closeness" ->
      s"""WITH RECURSIVE ${communityEdgesSql(60, 20)},
         |walk(origin, id, hops) AS (
         |  SELECT i, i, CAST(0 AS BIGINT) FROM ids
         |  UNION
         |  SELECT w.origin, d.dst, w.hops + 1 FROM walk w
         |  JOIN dir d ON d.src = w.id WHERE w.hops < 16),
         |md AS (SELECT origin, id, min(hops) AS hops FROM walk GROUP BY 1, 2)
         |SELECT origin AS id, count(*) AS n_reached,
         |  CAST(sum(hops) AS BIGINT) AS dist_sum
         |FROM md GROUP BY 1""".stripMargin,

    // q210 — the two morphology levels as 9-neighborhood min/max
    // joins; opening/closing live on the doubly-interior region where
    // every neighbor's erosion/dilation exists
    "q210_open_close" ->
      s"""WITH ${pixelChainCtes(200)},
         |b AS MATERIALIZED (SELECT i, w, h, x, y,
         |    CASE WHEN g >= 128 THEN 1 ELSE 0 END AS v FROM px),
         |er AS MATERIALIZED (
         |  SELECT a.i, a.w, a.h, a.x, a.y, min(n.v) AS v
         |  FROM b a
         |  CROSS JOIN (VALUES (-1), (0), (1)) ox(dx)
         |  CROSS JOIN (VALUES (-1), (0), (1)) oy(dy)
         |  JOIN b n ON n.i = a.i AND n.x = a.x + ox.dx AND n.y = a.y + oy.dy
         |  WHERE a.x BETWEEN 1 AND a.w-2 AND a.y BETWEEN 1 AND a.h-2
         |  GROUP BY 1, 2, 3, 4, 5),
         |di AS MATERIALIZED (
         |  SELECT a.i, a.w, a.h, a.x, a.y, max(n.v) AS v
         |  FROM b a
         |  CROSS JOIN (VALUES (-1), (0), (1)) ox(dx)
         |  CROSS JOIN (VALUES (-1), (0), (1)) oy(dy)
         |  JOIN b n ON n.i = a.i AND n.x = a.x + ox.dx AND n.y = a.y + oy.dy
         |  WHERE a.x BETWEEN 1 AND a.w-2 AND a.y BETWEEN 1 AND a.h-2
         |  GROUP BY 1, 2, 3, 4, 5),
         |op AS (
         |  SELECT a.i, a.x, a.y, max(n.v) AS v
         |  FROM er a
         |  CROSS JOIN (VALUES (-1), (0), (1)) ox(dx)
         |  CROSS JOIN (VALUES (-1), (0), (1)) oy(dy)
         |  JOIN er n ON n.i = a.i AND n.x = a.x + ox.dx AND n.y = a.y + oy.dy
         |  WHERE a.x BETWEEN 2 AND a.w-3 AND a.y BETWEEN 2 AND a.h-3
         |  GROUP BY 1, 2, 3),
         |cl AS (
         |  SELECT a.i, a.x, a.y, min(n.v) AS v
         |  FROM di a
         |  CROSS JOIN (VALUES (-1), (0), (1)) ox(dx)
         |  CROSS JOIN (VALUES (-1), (0), (1)) oy(dy)
         |  JOIN di n ON n.i = a.i AND n.x = a.x + ox.dx AND n.y = a.y + oy.dy
         |  WHERE a.x BETWEEN 2 AND a.w-3 AND a.y BETWEEN 2 AND a.h-3
         |  GROUP BY 1, 2, 3)
         |SELECT printf('img_%09d', CAST(c.i AS BIGINT)) AS image_id,
         |  CAST(sum(c.v) AS BIGINT) AS n_fg,
         |  CAST(sum(CASE WHEN c.v = 1 AND o.v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |  CAST(sum(CASE WHEN c.v = 0 AND l.v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_added
         |FROM b c
         |JOIN op o ON o.i = c.i AND o.x = c.x AND o.y = c.y
         |JOIN cl l ON l.i = c.i AND l.x = c.x AND l.y = c.y
         |GROUP BY 1""".stripMargin,

    // q211 — direction by exact integer comparisons, prev/next
    // magnitudes via LEFT JOINs (missing → −1); per-image aggregation
    // keeps zero-edge images via the LEFT JOIN onto the magnitude base
    "q211_nms_edges" ->
      s"""WITH ${sobelChainCtes(200)},
         |mg AS MATERIALIZED (SELECT i, x, y, gx, gy, abs(gx) + abs(gy) AS m FROM sob),
         |dirn AS (
         |  SELECT i, x, y, m,
         |    CASE WHEN 2 * abs(gy) <= abs(gx) THEN 0
         |         WHEN 2 * abs(gx) <= abs(gy) THEN 1
         |         WHEN gx * gy > 0 THEN 2 ELSE 3 END AS d
         |  FROM mg WHERE m >= 300),
         |nb AS (
         |  SELECT e.i, e.m, COALESCE(p.m, -1) AS pm, COALESCE(q.m, -1) AS nm
         |  FROM dirn e
         |  LEFT JOIN mg p ON p.i = e.i
         |    AND p.x = e.x + CASE e.d WHEN 0 THEN -1 WHEN 1 THEN 0
         |                            WHEN 2 THEN -1 ELSE -1 END
         |    AND p.y = e.y + CASE e.d WHEN 0 THEN 0 WHEN 1 THEN -1
         |                            WHEN 2 THEN -1 ELSE 1 END
         |  LEFT JOIN mg q ON q.i = e.i
         |    AND q.x = e.x + CASE e.d WHEN 0 THEN 1 WHEN 1 THEN 0
         |                            WHEN 2 THEN 1 ELSE 1 END
         |    AND q.y = e.y + CASE e.d WHEN 0 THEN 0 WHEN 1 THEN 1
         |                            WHEN 2 THEN 1 ELSE -1 END),
         |base AS (SELECT i, max(m) AS mag_max FROM mg GROUP BY 1),
         |agg AS (
         |  SELECT i, count(*) AS n_edges,
         |    sum(CASE WHEN m >= pm AND m > nm THEN 1 ELSE 0 END) AS n_thin
         |  FROM nb GROUP BY 1)
         |SELECT printf('img_%09d', CAST(b.i AS BIGINT)) AS image_id,
         |  CAST(COALESCE(a.n_edges, 0) AS BIGINT) AS n_edges,
         |  CAST(COALESCE(a.n_thin, 0) AS BIGINT) AS n_thin,
         |  CAST(b.mag_max AS BIGINT) AS mag_max
         |FROM base b LEFT JOIN agg a ON a.i = b.i""".stripMargin,

    // q212 — the seam DP unrolled: level y joins level y−1 with
    // p.x BETWEEN c.x−1 AND c.x+1 (the grid's own extent clamps);
    // final row per image at y = h−2, winner by (cost, x)
    "q212_seam_carve" -> {
      // every dp level references `en` — without MATERIALIZED DuckDB
      // INLINES the whole sobel chain (9 self-joins over the generated
      // pixel set) into each of the 61 levels and the oracle runs for
      // tens of CPU-minutes; materialized, en is computed once and each
      // level is a small join
      val levels = (2 to 61).map { yy =>
        s"""dp$yy AS MATERIALIZED (
           |  SELECT c.i, c.x, $yy AS y, c.e + min(p.cost) AS cost, c.w, c.h
           |  FROM en c JOIN dp${yy - 1} p
           |    ON p.i = c.i AND p.x BETWEEN c.x - 1 AND c.x + 1
           |  WHERE c.y = $yy GROUP BY c.i, c.x, c.e, c.w, c.h)""".stripMargin
      }.mkString(",\n")
      val unions = (1 to 61).map(yy => s"SELECT * FROM dp$yy").mkString(" UNION ALL ")
      s"""WITH ${sobelChainCtes(200)},
         |en AS MATERIALIZED (
         |  SELECT i, x, y, abs(gx) + abs(gy) AS e, w, h FROM sob),
         |dp1 AS MATERIALIZED (
         |  SELECT i, x, 1 AS y, CAST(e AS BIGINT) AS cost, w, h
         |  FROM en WHERE y = 1),
         |$levels,
         |fin AS (SELECT * FROM ($unions) WHERE y = h - 2),
         |win AS (
         |  SELECT f.* FROM fin f WHERE NOT EXISTS (
         |    SELECT 1 FROM fin g2 WHERE g2.i = f.i AND (g2.cost < f.cost
         |      OR (g2.cost = f.cost AND g2.x < f.x))))
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(cost AS BIGINT) AS seam_cost, CAST(x AS BIGINT) AS seam_end_x
         |FROM win""".stripMargin
    },

    // q215 — ring pixels via the 16-offset VALUES table, arc test via
    // 16 starts × the 9-window membership ((k−s+16) % 16 ≤ 8), a min
    // per (center, start), then existence per center; zero-corner
    // images survive through the LEFT JOIN onto dims
    "q215_fast_corners" ->
      s"""WITH ${pixelChainCtes(200)},
         |ringv AS MATERIALIZED (
         |  SELECT c.i, c.x, c.y, o.k,
         |    CASE WHEN r.g > c.g + 20 THEN 1 ELSE 0 END AS br,
         |    CASE WHEN r.g < c.g - 20 THEN 1 ELSE 0 END AS dk
         |  FROM px c
         |  CROSS JOIN (VALUES (0, 0, -3), (1, 1, -3), (2, 2, -2), (3, 3, -1),
         |    (4, 3, 0), (5, 3, 1), (6, 2, 2), (7, 1, 3), (8, 0, 3), (9, -1, 3),
         |    (10, -2, 2), (11, -3, 1), (12, -3, 0), (13, -3, -1), (14, -2, -2),
         |    (15, -1, -3)) o(k, dx, dy)
         |  JOIN px r ON r.i = c.i AND r.x = c.x + o.dx AND r.y = c.y + o.dy
         |  WHERE c.x BETWEEN 3 AND c.w-4 AND c.y BETWEEN 3 AND c.h-4),
         |arcs AS (
         |  SELECT v.i, v.x, v.y, s.s, min(v.br) AS allb, min(v.dk) AS alld
         |  FROM ringv v CROSS JOIN (SELECT unnest(range(16)) AS s) s
         |  WHERE (v.k - s.s + 16) % 16 <= 8
         |  GROUP BY 1, 2, 3, 4),
         |ctr AS (
         |  SELECT i, x, y, max(allb) AS isb, max(alld) AS isd
         |  FROM arcs GROUP BY 1, 2, 3),
         |agg AS (
         |  SELECT i, sum(isb) AS n_bright,
         |    sum(CASE WHEN isb = 0 THEN isd ELSE 0 END) AS n_dark
         |  FROM ctr GROUP BY 1)
         |SELECT printf('img_%09d', CAST(d.i AS BIGINT)) AS image_id,
         |  CAST(COALESCE(a.n_bright, 0) AS BIGINT) AS n_bright,
         |  CAST(COALESCE(a.n_dark, 0) AS BIGINT) AS n_dark
         |FROM dims d LEFT JOIN agg a ON a.i = d.i""".stripMargin,

    // q213 — the same two-level rollup; slope/intercept share the
    // denominator n·Σx² − (Σx)², so three integer numerators pin the
    // whole fit
    "q213_group_ols" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_days,
        |  CAST(count(*) * sum(x*y) - sum(x) * sum(y) AS BIGINT) AS slope_num,
        |  CAST(count(*) * sum(x*x) - sum(x) * sum(x) AS BIGINT) AS slope_den,
        |  CAST(sum(y) * sum(x*x) - sum(x) * sum(x*y) AS BIGINT) AS icept_num
        |FROM daily GROUP BY 1 HAVING count(*) >= 2""".stripMargin,

    // q214 — identical histogram + cumsum + cross-multiplied dominance
    // in HUGEINT; QUALIFY keeps splits with a nonempty right side
    "q214_stump" ->
      """WITH hist AS (
        |  SELECT least(n_chars // 2, 255) AS bin, count(*) AS c,
        |    sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p
        |  FROM documents GROUP BY 1),
        |tot AS (SELECT sum(c) AS n, sum(p) AS pp FROM hist),
        |cand AS (
        |  SELECT bin AS t,
        |    sum(c) OVER (ORDER BY bin) AS nl,
        |    sum(p) OVER (ORDER BY bin) AS pl, n, pp
        |  FROM hist CROSS JOIN tot
        |  QUALIFY sum(c) OVER (ORDER BY bin) < n),
        |sc AS (
        |  SELECT t, nl, pl, n - nl AS nr, pp - pl AS pr,
        |    (CAST(pl AS HUGEINT) * pl + CAST(nl - pl AS HUGEINT) * (nl - pl)) * (n - nl)
        |      + (CAST(pp - pl AS HUGEINT) * (pp - pl)
        |         + CAST((n - nl) - (pp - pl) AS HUGEINT) * ((n - nl) - (pp - pl))) * nl AS snum,
        |    CAST(nl AS HUGEINT) * (n - nl) AS sden
        |  FROM cand)
        |SELECT CAST(a.t AS BIGINT) AS t, CAST(a.nl AS BIGINT) AS nl,
        |  CAST(a.pl AS BIGINT) AS pl, CAST(a.nr AS BIGINT) AS nr,
        |  CAST(a.pr AS BIGINT) AS pr
        |FROM sc a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM sc b WHERE b.snum * a.sden > a.snum * b.sden
        |    OR (b.snum * a.sden = a.snum * b.sden AND b.t < a.t))""".stripMargin,

    // q216 — hull via q107's Carathéodory extreme-point test on the
    // bounded fixture, then the same direction/extent/anti-join
    // pipeline in HUGEINT; canonical row = smallest (area_den,
    // area_num) among the exact-rational minima
    "q216_oriented_mbr" ->
      """WITH pts AS (
        |  SELECT DISTINCT o_orderkey % 4 AS grp,
        |    abs(o_orderkey*9973+12345) % 32769 - 16384 AS x,
        |    abs(o_orderkey*7919+54321) % 32769 - 16384 AS y
        |  FROM orders WHERE o_orderkey % 97 = 0),
        |hull AS MATERIALIZED (
        |SELECT g.grp, g.x, g.y FROM pts g
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM pts a, pts b, pts c
        |  WHERE a.grp = g.grp AND b.grp = g.grp AND c.grp = g.grp
        |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
        |    AND (b.x < c.x OR (b.x = c.x AND b.y < c.y))
        |    AND NOT (a.x = g.x AND a.y = g.y) AND NOT (b.x = g.x AND b.y = g.y)
        |    AND NOT (c.x = g.x AND c.y = g.y)
        |    AND (b.x-a.x)*(c.y-a.y) - (b.y-a.y)*(c.x-a.x) <> 0
        |    AND NOT (
        |      (((b.x-a.x)*(g.y-a.y) - (b.y-a.y)*(g.x-a.x) < 0) OR
        |       ((c.x-b.x)*(g.y-b.y) - (c.y-b.y)*(g.x-b.x) < 0) OR
        |       ((a.x-c.x)*(g.y-c.y) - (a.y-c.y)*(g.x-c.x) < 0))
        |      AND
        |      (((b.x-a.x)*(g.y-a.y) - (b.y-a.y)*(g.x-a.x) > 0) OR
        |       ((c.x-b.x)*(g.y-b.y) - (c.y-b.y)*(g.x-b.x) > 0) OR
        |       ((a.x-c.x)*(g.y-c.y) - (a.y-c.y)*(g.x-c.x) > 0))))
        |AND NOT EXISTS (
        |  SELECT 1 FROM pts a, pts b
        |  WHERE a.grp = g.grp AND b.grp = g.grp
        |    AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
        |    AND NOT (a.x = g.x AND a.y = g.y) AND NOT (b.x = g.x AND b.y = g.y)
        |    AND (b.x-a.x)*(g.y-a.y) = (b.y-a.y)*(g.x-a.x)
        |    AND least(a.x,b.x) <= g.x AND g.x <= greatest(a.x,b.x)
        |    AND least(a.y,b.y) <= g.y AND g.y <= greatest(a.y,b.y))),
        |nh AS (SELECT grp, count(*) AS n_hull FROM hull GROUP BY 1),
        |dirs AS (
        |  SELECT DISTINCT a.grp, b.x - a.x AS dx, b.y - a.y AS dy
        |  FROM hull a JOIN hull b ON b.grp = a.grp
        |  WHERE a.x < b.x OR (a.x = b.x AND a.y < b.y)),
        |ext AS (
        |  SELECT d.grp, d.dx*d.dx + d.dy*d.dy AS d,
        |    (max(d.dx*h.x + d.dy*h.y) - min(d.dx*h.x + d.dy*h.y)) *
        |    (max(d.dx*h.y - d.dy*h.x) - min(d.dx*h.y - d.dy*h.x)) AS n
        |  FROM dirs d JOIN hull h ON h.grp = d.grp
        |  GROUP BY 1, d.dx, d.dy),
        |surv AS (
        |  SELECT e.grp, e.d, e.n FROM ext e WHERE NOT EXISTS (
        |    SELECT 1 FROM ext f WHERE f.grp = e.grp
        |      AND CAST(f.n AS HUGEINT) * e.d < CAST(e.n AS HUGEINT) * f.d)),
        |best AS (
        |  SELECT grp, n, d,
        |    row_number() OVER (PARTITION BY grp ORDER BY d, n) AS rn
        |  FROM surv)
        |SELECT b.grp, nh.n_hull, CAST(b.n AS BIGINT) AS area_num,
        |  CAST(b.d AS BIGINT) AS area_den
        |FROM best b JOIN nh USING (grp) WHERE rn = 1""".stripMargin,

    // q217 — q209's bounded-hop reachability fixpoint, rolled up to the
    // per-origin max; radius/diameter flags from the one-row global
    "q217_eccentricity" ->
      s"""WITH RECURSIVE ${communityEdgesSql(80, 16)},
         |walk(origin, id, hops) AS (
         |  SELECT i, i, CAST(0 AS BIGINT) FROM ids
         |  UNION
         |  SELECT w.origin, d.dst, w.hops + 1 FROM walk w
         |  JOIN dir d ON d.src = w.id WHERE w.hops < 16),
         |md AS (SELECT origin, id, min(hops) AS hops FROM walk GROUP BY 1, 2),
         |ecc AS (SELECT origin AS id, max(hops) AS ecc, count(*) AS n_reached
         |  FROM md GROUP BY 1),
         |g AS (SELECT min(ecc) AS r, max(ecc) AS d FROM ecc)
         |SELECT e.id, e.ecc, e.n_reached,
         |  CAST(e.ecc = g.r AS INT) AS is_center,
         |  CAST(e.ecc = g.d AS INT) AS is_periphery
         |FROM ecc e CROSS JOIN g""".stripMargin,

    // q218 — the σ-carrying BFS unrolled level by level (aggregation
    // inside a recursive CTE is illegal, so each level is its own CTE:
    // d_k = first-reached nodes with σ = Σ over d_{k-1} predecessors;
    // fixture diameter is 4, 6 levels leave two provably-empty tails),
    // then the same three-way join and per-node rollup as the engine
    "q218_stress" -> {
      def level(k: Int): String =
        s"""d$k AS (
           |  SELECT w.origin, e.dst AS id, CAST($k AS BIGINT) AS hops,
           |    CAST(sum(w.sigma) AS BIGINT) AS sigma
           |  FROM d${k - 1} w JOIN dir e ON e.src = w.id
           |  WHERE NOT EXISTS (SELECT 1 FROM v${k - 1} v
           |    WHERE v.origin = w.origin AND v.id = e.dst)
           |  GROUP BY 1, 2),
           |v$k AS (SELECT * FROM v${k - 1} UNION ALL SELECT * FROM d$k)""".stripMargin
      s"""WITH ${communityEdgesSql(60, 20)},
         |d0 AS (SELECT i AS origin, i AS id, CAST(0 AS BIGINT) AS hops,
         |  CAST(1 AS BIGINT) AS sigma FROM ids),
         |v0 AS (SELECT * FROM d0),
         |${(1 to 6).map(level).mkString(",\n")},
         |p AS (
         |  SELECT a.id AS v, a.sigma * b.sigma AS c
         |  FROM v6 a
         |  JOIN v6 b ON b.origin = a.id
         |  JOIN v6 st ON st.origin = a.origin AND st.id = b.id
         |  WHERE a.origin < b.id AND a.id <> a.origin AND a.id <> b.id
         |    AND a.hops + b.hops = st.hops)
         |SELECT n.i AS id, CAST(coalesce(sum(p.c), 0) AS BIGINT) AS stress
         |FROM ids n LEFT JOIN p ON p.v = n.i GROUP BY 1""".stripMargin
    },

    // q219 — q208's three unrolled LPA rounds feed the modularity
    // rollup: und = canonical undirected edge set, L_c / D_c per label,
    // contribution 4·m·L_c − D_c² over the constant 4m²
    "q219_modularity" -> {
      def round(prev: String, cur: String): String =
        s"""n$cur AS (SELECT d.src AS id, l.lab FROM dir d JOIN l$prev l ON l.id = d.dst),
           |c$cur AS (SELECT id, lab, count(*) AS cnt FROM n$cur GROUP BY 1, 2),
           |l$cur AS (SELECT c.id, c.lab FROM c$cur c WHERE NOT EXISTS (
           |  SELECT 1 FROM c$cur d WHERE d.id = c.id AND
           |    (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.lab < c.lab))))""".stripMargin
      s"""WITH ${communityEdgesSql(100, 20)},
         |l0 AS (SELECT i AS id, i AS lab FROM ids),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")},
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM dir),
         |mm AS (SELECT count(*) AS m FROM und),
         |lab AS (SELECT id, lab AS label FROM l3),
         |el AS (SELECT la.label AS la, lb.label AS lb
         |  FROM und u JOIN lab la ON la.id = u.a JOIN lab lb ON lb.id = u.b),
         |intra AS (SELECT la AS label, count(*) AS l_in FROM el WHERE la = lb GROUP BY 1),
         |deg AS (SELECT id, count(*) AS deg FROM (
         |  SELECT a AS id FROM und UNION ALL SELECT b FROM und) u GROUP BY 1),
         |byl AS (SELECT l.label, count(*) AS n_nodes,
         |    CAST(sum(coalesce(d.deg, 0)) AS BIGINT) AS d_tot
         |  FROM lab l LEFT JOIN deg d ON d.id = l.id GROUP BY 1)
         |SELECT b.label, b.n_nodes, CAST(coalesce(i.l_in, 0) AS BIGINT) AS l_in,
         |  b.d_tot,
         |  CAST(4 * mm.m * coalesce(i.l_in, 0) - b.d_tot * b.d_tot AS BIGINT) AS contrib_num,
         |  CAST(4 * mm.m * mm.m AS BIGINT) AS q_den
         |FROM byl b LEFT JOIN intra i ON i.label = b.label CROSS JOIN mm""".stripMargin
    },

    // q224 — reachability-under-edge-removal as a recursive CTE whose
    // rows carry the masked edge; bridge = far endpoint never appears
    "q224_bridges" ->
      s"""WITH RECURSIVE ${communityEdgesSql(40, 10)},
         |e1 AS (SELECT src, dst FROM e0
         |  UNION ALL SELECT * FROM (VALUES (1000, 0), (1001, 1000), (1002, 1001)) v(src, dst)),
         |dir2 AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e1 UNION ALL SELECT dst AS src, src AS dst FROM e1) u
         |  WHERE src <> dst),
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM dir2),
         |walk(a, b, id) AS (
         |  SELECT a, b, a FROM und
         |  UNION
         |  SELECT w.a, w.b, d.dst FROM walk w JOIN dir2 d ON d.src = w.id
         |  WHERE NOT ((d.src = w.a AND d.dst = w.b) OR (d.src = w.b AND d.dst = w.a)))
         |SELECT u.a AS src, u.b AS dst,
         |  CASE WHEN EXISTS (SELECT 1 FROM walk w
         |    WHERE w.a = u.a AND w.b = u.b AND w.id = u.b) THEN 0 ELSE 1 END AS is_bridge
         |FROM und u""".stripMargin,

    // q243 — the q224 fixture, one recursive walk per candidate that
    // never enters the removed vertex, one unrestricted coverage walk
    "q243_articulation" ->
      s"""WITH RECURSIVE ${communityEdgesSql(40, 10)},
         |e1 AS (SELECT src, dst FROM e0
         |  UNION ALL SELECT * FROM (VALUES (1000, 0), (1001, 1000), (1002, 1001)) v(src, dst)),
         |dir2 AS (SELECT DISTINCT src, dst FROM (
         |  SELECT src, dst FROM e1 UNION ALL SELECT dst AS src, src AS dst FROM e1) u
         |  WHERE src <> dst),
         |deg AS (SELECT src AS v, count(*) AS degree, min(dst) AS seed
         |        FROM dir2 GROUP BY 1),
         |walk(v, id) AS (
         |  SELECT v, seed FROM deg WHERE degree >= 2
         |  UNION
         |  SELECT w.v, d.dst FROM walk w JOIN dir2 d ON d.src = w.id
         |  WHERE d.dst <> w.v),
         |cover(v, id) AS (
         |  SELECT v, v FROM deg
         |  UNION
         |  SELECT c.v, d.dst FROM cover c JOIN dir2 d ON d.src = c.id),
         |r AS (SELECT v, count(*) AS reached FROM walk GROUP BY 1),
         |cs AS (SELECT v, count(*) AS comp_size FROM cover GROUP BY 1)
         |SELECT deg.v AS id, CAST(degree AS BIGINT) AS degree,
         |  CAST(comp_size AS BIGINT) AS comp_size,
         |  CAST(coalesce(reached, 0) AS BIGINT) AS reached,
         |  CAST(CASE WHEN degree >= 2 AND coalesce(reached, 0) < comp_size - 1
         |       THEN 1 ELSE 0 END AS BIGINT) AS is_articulation
         |FROM deg JOIN cs ON cs.v = deg.v
         |LEFT JOIN r ON r.v = deg.v""".stripMargin,

    // q225 — q208's three unrolled LPA rounds, then the edge-instance
    // degree-pair sufficient statistics within each community subgraph
    "q225_assortativity" -> {
      def round(prev: String, cur: String): String =
        s"""n$cur AS (SELECT d.src AS id, l.lab FROM dir d JOIN l$prev l ON l.id = d.dst),
           |c$cur AS (SELECT id, lab, count(*) AS cnt FROM n$cur GROUP BY 1, 2),
           |l$cur AS (SELECT c.id, c.lab FROM c$cur c WHERE NOT EXISTS (
           |  SELECT 1 FROM c$cur d WHERE d.id = c.id AND
           |    (d.cnt > c.cnt OR (d.cnt = c.cnt AND d.lab < c.lab))))""".stripMargin
      s"""WITH ${communityEdgesSql(100, 20)},
         |l0 AS (SELECT i AS id, i AS lab FROM ids),
         |${round("0", "1")},
         |${round("1", "2")},
         |${round("2", "3")},
         |und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM dir),
         |lab AS (SELECT id, lab AS label FROM l3),
         |intra AS (SELECT la.label, u.a, u.b FROM und u
         |  JOIN lab la ON la.id = u.a JOIN lab lb ON lb.id = u.b
         |  WHERE la.label = lb.label),
         |dire AS (SELECT label, a AS s, d FROM (
         |  SELECT label, a, b AS d FROM intra
         |  UNION ALL SELECT label, b AS a, a AS d FROM intra) q),
         |deg AS (SELECT label, s AS n, count(*) AS deg FROM dire GROUP BY 1, 2),
         |wd AS (SELECT e.label, dj.deg AS dj, dk.deg AS dk FROM dire e
         |  JOIN deg dj ON dj.label = e.label AND dj.n = e.s
         |  JOIN deg dk ON dk.label = e.label AND dk.n = e.d)
         |SELECT label, count(*) AS m_dir,
         |  CAST(count(*) * sum(dj*dk) - sum(dj) * sum(dk) AS BIGINT) AS num,
         |  CAST(count(*) * sum(dj*dj) - sum(dj) * sum(dj) AS BIGINT) AS da,
         |  CAST(count(*) * sum(dk*dk) - sum(dk) * sum(dk) AS BIGINT) AS db
         |FROM wd GROUP BY 1""".stripMargin
    },

    // q226 — the 4×4 slide done relationally: anchors × template cells
    // joined back to the pixel chain, SSD per anchor, argmin via the
    // dominance NOT EXISTS with row-major ties
    "q226_template_match" ->
      s"""WITH ${pixelChainCtes(200)},
         |t AS (SELECT a.dx, b.dy, (37 * a.dx + 53 * b.dy) % 256 AS v
         |  FROM (SELECT unnest(range(4)) AS dx) a
         |  CROSS JOIN (SELECT unnest(range(4)) AS dy) b),
         |anch AS (SELECT i, x, y FROM px WHERE x <= w - 4 AND y <= h - 4),
         |ssd AS (
         |  SELECT a.i, a.x, a.y, sum((p.g - t.v) * (p.g - t.v)) AS ssd
         |  FROM anch a CROSS JOIN t
         |  JOIN px p ON p.i = a.i AND p.x = a.x + t.dx AND p.y = a.y + t.dy
         |  GROUP BY 1, 2, 3)
         |SELECT printf('img_%09d', CAST(s.i AS BIGINT)) AS image_id,
         |  CAST(s.x AS INT) AS best_x, CAST(s.y AS INT) AS best_y,
         |  CAST(s.ssd AS BIGINT) AS ssd
         |FROM ssd s WHERE NOT EXISTS (
         |  SELECT 1 FROM ssd u WHERE u.i = s.i AND
         |    (u.ssd < s.ssd OR (u.ssd = s.ssd AND
         |      (u.y < s.y OR (u.y = s.y AND u.x < s.x)))))""".stripMargin,

    // q227 — q62's closed-form triangle-wave synth (the FLAC fixture is
    // lossless, so decode ≡ synth), every candidate lag joined against
    // the shifted stream, argmax with smallest-lag ties
    "q227_pitch" ->
      s"""WITH ids AS (SELECT CAST(range AS HUGEINT) AS i FROM range(0, 100)),
         |${splitmixChain("fl", Seq("i"), "ids", "i")},
         |${splitmixChain("fp", Seq("i"), "ids", "(i * 3::HUGEINT + 1::HUGEINT)")},
         |${splitmixChain("fa", Seq("i"), "ids", "(i * 3::HUGEINT + 2::HUGEINT)")},
         |params AS (
         |  SELECT fl3.i AS i,
         |    512 + CAST(fl3.z & 255::HUGEINT AS INT) AS len,
         |    256 + CAST(fp3.z & 511::HUGEINT AS INT) AS period,
         |    4000 + CAST(fa3.z & 8191::HUGEINT AS INT) AS amp
         |  FROM fl3 JOIN fp3 ON fp3.i = fl3.i JOIN fa3 ON fa3.i = fl3.i),
         |ks AS (SELECT i, len, period, amp, unnest(range(len)) AS k FROM params),
         |samples AS (
         |  SELECT i, len, k,
         |    (2 * least(k % period, period - (k % period)) * amp) // period - amp // 2 AS s
         |  FROM ks),
         |lags AS (SELECT unnest(range(220, 321)) AS lag),
         |r AS (
         |  SELECT a.i, l.lag, CAST(sum(a.s * b.s) AS BIGINT) AS r
         |  FROM samples a CROSS JOIN lags l
         |  JOIN samples b ON b.i = a.i AND b.k = a.k + l.lag
         |  GROUP BY 1, 2)
         |SELECT printf('aud_%09d', CAST(r.i AS BIGINT)) AS audio_id,
         |  CAST(r.lag AS INT) AS best_lag, r.r AS r_max, p.len AS n_samples
         |FROM r JOIN params p ON p.i = r.i
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM r u WHERE u.i = r.i AND
         |    (u.r > r.r OR (u.r = r.r AND u.lag < r.lag)))""".stripMargin,

    // q220 — row-lag pairs via lead() over the day order, then the
    // Pearson sufficient statistics
    "q220_lag_autocorr" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |p AS (SELECT user_id, y AS a,
        |    lead(y) OVER (PARTITION BY user_id ORDER BY x) AS b
        |  FROM daily)
        |SELECT user_id, count(*) AS n_pairs,
        |  CAST(count(*) * sum(a*b) - sum(a) * sum(b) AS BIGINT) AS r_num,
        |  CAST(count(*) * sum(a*a) - sum(a) * sum(a) AS BIGINT) AS da,
        |  CAST(count(*) * sum(b*b) - sum(b) * sum(b) AS BIGINT) AS db
        |FROM p WHERE b IS NOT NULL GROUP BY 1""".stripMargin,

    // q221 — prefix sums + the integer mean-shift statistic; argmax as
    // the dominance NOT EXISTS with smallest-k ties, matching struct-max
    "q221_changepoint" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |pre AS (SELECT user_id, x, y,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY x) AS BIGINT) AS k,
        |    sum(y) OVER (PARTITION BY user_id ORDER BY x) AS s
        |  FROM daily),
        |tot AS (SELECT user_id, count(*) AS n, sum(y) AS s_total
        |  FROM daily GROUP BY 1),
        |cand AS (SELECT p.user_id, p.x, p.k,
        |    abs(t.n * p.s - p.k * t.s_total) AS stat, t.n, t.s_total
        |  FROM pre p JOIN tot t USING (user_id) WHERE p.k < t.n)
        |SELECT c.user_id, c.x AS split_x, c.k AS split_k,
        |  CAST(c.stat AS BIGINT) AS stat, c.n,
        |  CAST(c.s_total AS BIGINT) AS s_total
        |FROM cand c WHERE NOT EXISTS (
        |  SELECT 1 FROM cand d WHERE d.user_id = c.user_id AND
        |    (d.stat > c.stat OR (d.stat = c.stat AND d.k < c.k)))""".stripMargin,

    // q222 — doubled midranks (minrank + maxrank) over the distinct
    // value list; weekend = (epoch day + 4) % 7 ∈ {0, 6}, calendar-free
    "q222_ranksum" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |sided AS (SELECT user_id,
        |    CASE WHEN (x + 4) % 7 IN (0, 6) THEN 1 ELSE 0 END AS side,
        |    y AS v FROM daily),
        |byv AS (SELECT user_id, v, count(*) AS c, sum(side) AS c1
        |  FROM sided GROUP BY 1, 2),
        |rk AS (SELECT user_id, c, c1,
        |    sum(c) OVER (PARTITION BY user_id ORDER BY v) AS cum
        |  FROM byv)
        |SELECT user_id, CAST(sum(c1) AS BIGINT) AS n1,
        |  CAST(sum(c - c1) AS BIGINT) AS n2,
        |  CAST(sum(c1 * (2*cum - c + 1)) AS BIGINT) AS r1_x2,
        |  CAST(2 * sum(c1) * sum(c - c1) + sum(c1) * (sum(c1) + 1)
        |    - sum(c1 * (2*cum - c + 1)) AS BIGINT) AS u1_x2
        |FROM rk GROUP BY 1""".stripMargin,

    // q238 — the whole step replayed relationally: word vocabulary,
    // adjacent-pair counts, LIMIT-1 argmax with the lexicographic tie,
    // run-parity greedy application, recount
    "q238_bpe_step" ->
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS w
        |    FROM documents) t
        |  WHERE regexp_full_match(w, '[a-z]+')
        |  GROUP BY 1),
        |syms AS (
        |  SELECT w, freq, CAST(i AS BIGINT) AS i,
        |    substr(w, CAST(i + 1 AS INT), 1) AS s
        |  FROM (SELECT w, freq, unnest(range(length(w))) AS i FROM words)),
        |bef AS (
        |  SELECT a.s AS lhs, b.s AS rhs, CAST(sum(a.freq) AS BIGINT) AS cnt
        |  FROM syms a JOIN syms b ON b.w = a.w AND b.i = a.i + 1
        |  GROUP BY 1, 2),
        |mg AS (SELECT lhs AS ml, rhs AS mr FROM bef
        |  ORDER BY cnt DESC, lhs, rhs LIMIT 1),
        |hits AS (
        |  SELECT a.w, a.freq, a.i, a.s, b.s AS ns,
        |    CASE WHEN b.s IS NOT NULL AND a.s = mg.ml AND b.s = mg.mr
        |         THEN 1 ELSE 0 END AS hit
        |  FROM syms a
        |  LEFT JOIN syms b ON b.w = a.w AND b.i = a.i + 1
        |  CROSS JOIN mg),
        |ph AS (
        |  SELECT *, coalesce(lag(hit) OVER (PARTITION BY w ORDER BY i), 0)
        |    AS phit FROM hits),
        |runs AS (
        |  SELECT *, sum(CASE WHEN hit = 1 AND phit = 0 THEN 1 ELSE 0 END)
        |    OVER (PARTITION BY w ORDER BY i) AS run
        |  FROM ph),
        |rs AS (
        |  SELECT *, CASE WHEN hit = 1 THEN
        |      min(CASE WHEN hit = 1 THEN i END) OVER (PARTITION BY w, run)
        |    END AS run_start
        |  FROM runs),
        |tk AS (
        |  SELECT *, CASE WHEN hit = 1 AND (i - run_start) % 2 = 0
        |    THEN 1 ELSE 0 END AS take FROM rs),
        |reb AS (
        |  SELECT w, freq,
        |    CAST(row_number() OVER (PARTITION BY w ORDER BY i) - 1 AS BIGINT) AS j,
        |    CASE WHEN take = 1 THEN s || ns ELSE s END AS s
        |  FROM (SELECT *, coalesce(lag(take) OVER (PARTITION BY w ORDER BY i), 0) AS ptake
        |        FROM tk) q
        |  WHERE ptake = 0),
        |aft AS (
        |  SELECT a.s AS lhs, b.s AS rhs, CAST(sum(a.freq) AS BIGINT) AS cnt
        |  FROM reb a JOIN reb b ON b.w = a.w AND b.j = a.j + 1
        |  GROUP BY 1, 2)
        |SELECT 'before' AS phase, lhs, rhs, cnt FROM bef
        |UNION ALL SELECT 'after', lhs, rhs, cnt FROM aft""".stripMargin,

    // q241 — the same interval×position expansion, scaled by the
    // group's lcm(1..n) literal list, nested min-then-max as plain
    // integer aggregates
    "q241_isotonic" ->
      s"""WITH daily AS (
         |  SELECT user_id AS grp,
         |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
         |    count(*) AS y
         |  FROM events GROUP BY 1, 2),
         |idx AS (
         |  SELECT grp, x, y,
         |    CAST(row_number() OVER (PARTITION BY grp ORDER BY x) AS BIGINT) AS k,
         |    sum(y) OVER (PARTITION BY grp ORDER BY x) AS cum FROM daily),
         |sc AS (
         |  SELECT grp, list_extract($lcmSqlList, CAST(max(k) AS INT)) AS bigl
         |  FROM idx GROUP BY 1),
         |iv AS (
         |  SELECT a.grp, a.k AS i, b.k AS j,
         |    (b.cum - a.cum + a.y) * (s.bigl // (b.k - a.k + 1)) AS v
         |  FROM idx a JOIN idx b ON b.grp = a.grp AND b.k >= a.k
         |  JOIN sc s ON s.grp = a.grp),
         |inr AS (
         |  SELECT iv.grp, iv.i, kk.k, min(iv.v) AS mn
         |  FROM iv JOIN idx kk ON kk.grp = iv.grp
         |    AND kk.k BETWEEN iv.i AND iv.j
         |  GROUP BY 1, 2, 3),
         |fit AS (SELECT grp, k, max(mn) AS iso_num FROM inr GROUP BY 1, 2)
         |SELECT idx.grp AS user_id, idx.x, idx.y,
         |  CAST(fit.iso_num AS BIGINT) AS iso_num,
         |  CAST(sc.bigl AS BIGINT) AS iso_den
         |FROM idx
         |JOIN fit ON fit.grp = idx.grp AND fit.k = idx.k
         |JOIN sc ON sc.grp = idx.grp""".stripMargin,

    // q242 — the otsu argmax chain, then the 2×2 stencil as
    // four shifted self-joins of px and the per-case segment tally
    "q242_marching_squares" ->
      s"""WITH ${otsuCtes(48)},
         |cells AS (
         |  SELECT tl.i,
         |    8*(CASE WHEN tl.g > b.t THEN 1 ELSE 0 END) +
         |    4*(CASE WHEN tr.g > b.t THEN 1 ELSE 0 END) +
         |    2*(CASE WHEN br.g > b.t THEN 1 ELSE 0 END) +
         |      (CASE WHEN bl.g > b.t THEN 1 ELSE 0 END) AS mcase, b.t
         |  FROM px tl
         |  JOIN best b ON b.i = tl.i
         |  JOIN px tr ON tr.i = tl.i AND tr.x = tl.x+1 AND tr.y = tl.y
         |  JOIN px br ON br.i = tl.i AND br.x = tl.x+1 AND br.y = tl.y+1
         |  JOIN px bl ON bl.i = tl.i AND bl.x = tl.x   AND bl.y = tl.y+1
         |  WHERE tl.x < tl.w - 1 AND tl.y < tl.h - 1)
         |SELECT printf('img_%09d', CAST(i AS BIGINT)) AS image_id,
         |  CAST(t AS BIGINT) AS thr, CAST(mcase AS BIGINT) AS mcase,
         |  CAST(count(*) AS BIGINT) AS n_cells,
         |  CAST(count(*) * (CASE WHEN mcase IN (0, 15) THEN 0
         |    WHEN mcase IN (5, 10) THEN 2 ELSE 1 END) AS BIGINT) AS n_segs
         |FROM cells GROUP BY i, t, mcase""".stripMargin,

    // q245 — the matched-row aggregate replayed over the generator;
    // kept/skipped are the closed-form file counts of the fixture
    // (4 old files always read + 3 of 6 k2-bounded files overlap
    // [45, 62] — see the query's construction comment)
    "q245_spec_evolution" ->
      """WITH r AS (SELECT range AS idx, range // 10 AS k2
        |           FROM range(0, 1000))
        |SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(idx) AS BIGINT) AS sum_idx,
        |  CAST(7 AS BIGINT) AS kept_files,
        |  CAST(3 AS BIGINT) AS skipped_files
        |FROM r WHERE k2 BETWEEN 45 AND 62""".stripMargin,

    // q247 — the rotation matrix materialized relationally, sorted per
    // doc, last column string_agg'd in rank order
    "q247_bwt" ->
      s"""WITH $bwtCtes
        |SELECT doc_id, bwt, idx FROM bw""".stripMargin,

    // q248 — the MTF state machine as a per-position recursion carrying
    // the alphabet permutation as a string (the removed char is unique,
    // so replace() is the exact deletion), then zero/run tallies
    "q248_mtf_rle" ->
      s"""WITH RECURSIVE $bwtCtes,
        |m(doc_id, i, st, code) AS (
        |  SELECT doc_id, 0, 'abcdefghijklmnopqrstuvwxyz ~',
        |    CAST(NULL AS BIGINT) FROM bw
        |  UNION ALL
        |  SELECT m.doc_id, m.i + 1,
        |    substr(bw.bwt, m.i + 1, 1) ||
        |      replace(m.st, substr(bw.bwt, m.i + 1, 1), ''),
        |    CAST(strpos(m.st, substr(bw.bwt, m.i + 1, 1)) - 1 AS BIGINT)
        |  FROM m JOIN bw ON bw.doc_id = m.doc_id
        |  WHERE m.i < length(bw.bwt)),
        |codes AS (SELECT doc_id, i, code,
        |    lag(code) OVER (PARTITION BY doc_id ORDER BY i) AS pcode
        |  FROM m WHERE i >= 1)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN code = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros,
        |  CAST(sum(CASE WHEN pcode IS NULL OR code <> pcode
        |       THEN 1 ELSE 0 END) AS BIGINT) AS runs
        |FROM codes GROUP BY 1""".stripMargin,

    // q256 — the independent Kruskal's forest as literal rows (the
    // q50 closed-form-oracle pattern; see mstOracleRows)
    "q256_mst" -> {
      val vals = mstOracleRows
        .map { case (a, b, w) => s"($a, $b, $w)" }.mkString(", ")
      s"""SELECT CAST(src AS BIGINT) AS src, CAST(dst AS BIGINT) AS dst,
         |  CAST(w AS BIGINT) AS w
         |FROM (VALUES $vals) v(src, dst, w)""".stripMargin
    },

    // q271 — recursive longest-walk closure, layer = max depth reached
    "q271_dag_layers" ->
      """WITH RECURSIVE e AS (
        |  SELECT u, v FROM (
        |    SELECT range AS u, range + 1 AS v FROM range(0, 60)
        |    UNION ALL SELECT range, range + 7 FROM range(0, 60) WHERE range % 3 = 0
        |    UNION ALL SELECT range, range + 13 FROM range(0, 60) WHERE range % 5 = 2) q
        |  WHERE v < 60),
        |walk(id, d) AS (
        |  SELECT CAST(range AS BIGINT), CAST(0 AS BIGINT) FROM range(0, 60)
        |  UNION
        |  SELECT e.v, w.d + 1 FROM walk w JOIN e ON e.u = w.id)
        |SELECT id, CAST(max(d) AS BIGINT) AS layer FROM walk GROUP BY 1""".stripMargin,

    // q272 — prefix explode + count-dominance QUALIFY
    "q272_autocomplete" ->
      """WITH words AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents) t
        |  WHERE length(w) >= 2 GROUP BY 1),
        |pre AS (
        |  SELECT substr(w, 1, p) AS prefix, w, freq
        |  FROM words, unnest([1, 2, 3, 4]) AS t(p)
        |  WHERE length(w) >= p)
        |SELECT prefix, w AS completion, CAST(freq AS BIGINT) AS freq
        |FROM pre
        |QUALIFY row_number() OVER (PARTITION BY prefix
        |  ORDER BY freq DESC, w) = 1""".stripMargin,

    // q264 — rect containment is BETWEEN for rectangles (strict — the
    // representative vertices are strictly interior by construction)
    "q264_admin_nesting" -> {
      val vals = nestedRects.map { case (id, lvl, a, b, c, d) =>
        s"($id, $lvl, $a, $b, $c, $d)"
      }.mkString(", ")
      s"""WITH r AS (SELECT * FROM (VALUES $vals) v(id, lvl, la0, lo0, la1, lo1)),
         |cand AS (
         |  SELECT c.id AS child_id, c.lvl AS child_level,
         |    p.id AS parent_id, p.lvl AS parent_level
         |  FROM r c JOIN r p ON p.lvl < c.lvl
         |    AND c.la0 > p.la0 AND c.la0 < p.la1
         |    AND c.lo0 > p.lo0 AND c.lo0 < p.lo1),
         |best AS (SELECT * FROM cand
         |  QUALIFY row_number() OVER (PARTITION BY child_id
         |    ORDER BY parent_level DESC, parent_id) = 1)
         |SELECT CAST(r.id AS BIGINT) AS child_id,
         |  CAST(r.lvl AS BIGINT) AS child_level,
         |  CAST(coalesce(parent_id, 0) AS BIGINT) AS parent_id,
         |  CAST(coalesce(parent_level, 0) AS BIGINT) AS parent_level
         |FROM r LEFT JOIN best ON best.child_id = r.id""".stripMargin
    },

    // q261 — bounded shortest-distance walk per component (the q180
    // wf pattern), parity coloring, monochromatic-edge count
    "q261_bipartite" ->
      """WITH RECURSIVE e0 AS (
        |  SELECT range AS src, (range + 1) % 10 AS dst FROM range(0, 10)
        |  UNION ALL
        |  SELECT range + 100, (range + 1) % 11 + 100 FROM range(0, 11)
        |  UNION ALL
        |  SELECT 200, range + 200 FROM range(1, 16)),
        |dir AS (SELECT src AS s, dst AS d FROM e0
        |  UNION SELECT dst, src FROM e0),
        |comp AS (SELECT s AS id,
        |    CASE WHEN s < 100 THEN 0 WHEN s < 200 THEN 100 ELSE 200 END AS c
        |  FROM (SELECT DISTINCT s FROM dir) q),
        |walk(id, d) AS (
        |  SELECT CAST(c AS BIGINT), CAST(0 AS BIGINT)
        |  FROM (SELECT DISTINCT c FROM comp) q
        |  UNION
        |  SELECT dir.d, w.d + 1 FROM walk w JOIN dir ON dir.s = w.id
        |  WHERE w.d < 40),
        |dist AS (SELECT id, min(d) AS d FROM walk GROUP BY 1),
        |colored AS (SELECT comp.id, comp.c, dist.d % 2 AS par
        |  FROM comp JOIN dist ON dist.id = comp.id),
        |conf AS (
        |  SELECT a.c, count(*) AS n_edges,
        |    sum(CASE WHEN a.par = b.par THEN 1 ELSE 0 END) AS n_conflicts
        |  FROM e0 JOIN colored a ON a.id = e0.src
        |  JOIN colored b ON b.id = e0.dst
        |  GROUP BY 1),
        |nn AS (SELECT c, count(*) AS n_nodes FROM comp GROUP BY 1)
        |SELECT CAST(nn.c AS BIGINT) AS component,
        |  CAST(n_nodes AS BIGINT) AS n_nodes,
        |  CAST(n_edges AS BIGINT) AS n_edges,
        |  CAST(n_conflicts AS BIGINT) AS n_conflicts,
        |  CAST(CASE WHEN n_conflicts = 0 THEN 1 ELSE 0 END AS BIGINT) AS bipartite
        |FROM nn JOIN conf ON conf.c = nn.c""".stripMargin,

    // q257 — independent threshold-graph union-find as literal rows
    "q257_single_linkage" -> {
      val vals = singleLinkageOracleRows
        .map { case (i, c, n) => s"($i, $c, $n)" }.mkString(", ")
      s"""SELECT CAST(id AS BIGINT) AS id, CAST(cluster AS BIGINT) AS cluster,
         |  CAST(cluster_size AS BIGINT) AS cluster_size
         |FROM (VALUES $vals) v(id, cluster, cluster_size)""".stripMargin
    },

    // q260 — the q253 chain, per-cell rook lag and the z·lag product
    "q260_local_morans" ->
      s"""WITH ${insideCtes("", rasterEdgesSqlValues)},
         |v AS (SELECT pid, cx, cy, (cx + 2*cy) % 5 AS v FROM inside),
         |st AS (SELECT pid, count(*) AS n, sum(v) AS sv FROM v GROUP BY 1),
         |z AS (SELECT v.pid, cx, cy, st.n, st.n*v.v - st.sv AS z
         |      FROM v JOIN st ON st.pid = v.pid),
         |zs AS (SELECT pid, sum(z*z) AS szz FROM z GROUP BY 1),
         |pr AS (SELECT a.pid, a.cx, a.cy, a.z, b.z AS zj
         |  FROM z a JOIN z b ON b.pid = a.pid
         |    AND abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1)
         |SELECT pr.pid AS relation_id, pr.cx, pr.cy,
         |  CAST(count(*) AS BIGINT) AS w_i,
         |  CAST(max(pr.z) * sum(zj) AS BIGINT) AS li_num,
         |  CAST(max(szz) AS BIGINT) AS li_den
         |FROM pr JOIN zs ON zs.pid = pr.pid
         |GROUP BY 1, 2, 3""".stripMargin,

    // q254 — the q253 chain with the squared-difference pair statistic
    "q254_gearys_c" ->
      s"""WITH ${insideCtes("", rasterEdgesSqlValues)},
         |v AS (SELECT pid, cx, cy, (cx + 2*cy) % 5 AS v FROM inside),
         |st AS (SELECT pid, count(*) AS n, sum(v) AS sv FROM v GROUP BY 1),
         |z AS (SELECT v.pid, cx, cy, st.n, st.n*v.v - st.sv AS z
         |      FROM v JOIN st ON st.pid = v.pid),
         |zs AS (SELECT pid, max(n) AS n, sum(z*z) AS szz FROM z GROUP BY 1),
         |pr AS (SELECT a.pid, a.z AS zi, b.z AS zj
         |  FROM z a JOIN z b ON b.pid = a.pid
         |    AND abs(a.cx - b.cx) + abs(a.cy - b.cy) = 1),
         |ws AS (SELECT pid, count(*) AS w,
         |       sum((zi - zj)*(zi - zj)) AS sd2 FROM pr GROUP BY 1)
         |SELECT zs.pid AS relation_id, CAST(zs.n AS BIGINT) AS n,
         |  CAST(w AS BIGINT) AS w,
         |  CAST((zs.n - 1) * sd2 AS BIGINT) AS c_num,
         |  CAST(2 * w * szz AS BIGINT) AS c_den
         |FROM zs JOIN ws ON ws.pid = zs.pid""".stripMargin,

    // q255 — class counts then the concentration identity
    "q255_simpson" ->
      """WITH g AS (
        |  SELECT user_id, event_type, count(*) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(c) AS BIGINT) AS n_events,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(sum(c*(c-1)) AS BIGINT) AS conc_num,
        |  CAST(sum(c)*(sum(c)-1) AS BIGINT) AS den
        |FROM g GROUP BY 1""".stripMargin,

    // q275 — the rect covers as clamped floor ranges (the q11 cell
    // arithmetic), the geotag formula replayed, one left join
    "q275_coverage_gaps" ->
      """WITH imgs AS (
        |  SELECT range AS i,
        |    (abs(range*9973 + 12345) % 170000)/1000.0 - 85.0 AS lat,
        |    (abs(range*7919 + 54321) % 360000)/1000.0 - 180.0 AS lon
        |  FROM range(0, 400)),
        |ic AS (
        |  SELECT 8*288230376151711744 +
        |    LEAST(GREATEST(CAST(floor((lon+180.0)/360.0*256.0) AS BIGINT), 0), 255)*536870912 +
        |    LEAST(GREATEST(CAST(floor((lat+90.0)/180.0*256.0) AS BIGINT), 0), 255) AS cell,
        |    count(*) AS n_img
        |  FROM imgs GROUP BY 1),
        |rects AS (
        |  SELECT 9000 + range AS relation_id,
        |    -80.0 + range*20 + 0.0005 AS la0, -170.0 + range*40 + 0.0005 AS lo0,
        |    -80.0 + range*20 + 14.0005 AS la1, -170.0 + range*40 + 30.0005 AS lo1
        |  FROM range(0, 8)),
        |xy AS (
        |  SELECT relation_id,
        |    LEAST(GREATEST(CAST(floor((lo0+180.0)/360.0*256.0) AS BIGINT), 0), 255) AS x0,
        |    LEAST(GREATEST(CAST(floor((lo1+180.0)/360.0*256.0) AS BIGINT), 0), 255) AS x1,
        |    LEAST(GREATEST(CAST(floor((la0+90.0)/180.0*256.0) AS BIGINT), 0), 255) AS y0,
        |    LEAST(GREATEST(CAST(floor((la1+90.0)/180.0*256.0) AS BIGINT), 0), 255) AS y1
        |  FROM rects),
        |cov AS (
        |  SELECT relation_id,
        |    8*288230376151711744 + gx.x*536870912 + gy.y AS cell
        |  FROM xy,
        |    LATERAL (SELECT unnest(range(x0, x1 + 1)) AS x) gx,
        |    LATERAL (SELECT unnest(range(y0, y1 + 1)) AS y) gy)
        |SELECT relation_id, CAST(count(*) AS BIGINT) AS n_cells,
        |  CAST(sum(CASE WHEN ic.cell IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_with_images,
        |  CAST(sum(CASE WHEN ic.cell IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_gaps,
        |  CAST(coalesce(sum(n_img), 0) AS BIGINT) AS n_images
        |FROM cov LEFT JOIN ic ON ic.cell = cov.cell
        |GROUP BY 1""".stripMargin,

    // q273 — full cosine ranks, different-label re-rank, top-3
    "q273_hard_negatives" ->
      """WITH ranked AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    c.label AS nl, q.label AS ql,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id >= 50
        |  WHERE q.vec_id < 50),
        |neg AS (
        |  SELECT query_id, neighbor_id, nl,
        |    row_number() OVER (PARTITION BY query_id ORDER BY rank) AS neg_rank
        |  FROM ranked WHERE nl <> ql)
        |SELECT query_id, neighbor_id, CAST(neg_rank AS BIGINT) AS neg_rank,
        |  CAST(nl AS BIGINT) AS neg_label
        |FROM neg WHERE neg_rank <= 3""".stripMargin,

    // q274 — vocabulary frequencies, count-of-counts, the f+1
    // adjacency via lead over the distinct-frequency order
    "q274_count_of_counts" ->
      """WITH freqs AS (
        |  SELECT w, count(*) AS f FROM (
        |    SELECT unnest(string_split_regex(lower(text), '[^a-z]+')) AS w
        |    FROM documents) t
        |  WHERE length(w) >= 1 GROUP BY 1),
        |nf AS (SELECT f, count(*) AS n_types FROM freqs GROUP BY 1),
        |nx AS (SELECT f, n_types,
        |    lead(f) OVER (ORDER BY f) AS next_f,
        |    lead(n_types) OVER (ORDER BY f) AS next_n
        |  FROM nf)
        |SELECT CAST(f AS BIGINT) AS f, CAST(n_types AS BIGINT) AS n_types,
        |  CAST(CASE WHEN next_f = f + 1 THEN next_n ELSE 0 END AS BIGINT) AS n_next,
        |  CAST(CASE WHEN next_f = f + 1 THEN next_n ELSE 0 END * (f + 1)
        |    AS BIGINT) AS gt_num
        |FROM nx""".stripMargin,

    // q270 — the same metrics as scalar selects, unioned
    "q270_dq_report" ->
      """WITH m AS (
        |  SELECT count(*) AS n,
        |    sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS null_type,
        |    sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS null_value,
        |    count(DISTINCT event_type) AS type_card,
        |    count(*) - count(DISTINCT event_id) AS dup_ids,
        |    sum(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS neg_values,
        |    sum(CASE WHEN event_type IN ('click','view','purchase','signup','error')
        |        THEN 1 ELSE 0 END) AS in_domain,
        |    max(CAST(round(value*100) AS BIGINT)) AS max_cents
        |  FROM events)
        |SELECT 'row_count' AS check, 'events' AS col, CAST(n AS BIGINT) AS value FROM m
        |UNION ALL SELECT 'null_count', 'event_type', CAST(null_type AS BIGINT) FROM m
        |UNION ALL SELECT 'null_count', 'value', CAST(null_value AS BIGINT) FROM m
        |UNION ALL SELECT 'distinct_cardinality', 'event_type', CAST(type_card AS BIGINT) FROM m
        |UNION ALL SELECT 'uniqueness_violations', 'event_id', CAST(dup_ids AS BIGINT) FROM m
        |UNION ALL SELECT 'range_violations', 'value', CAST(neg_values AS BIGINT) FROM m
        |UNION ALL SELECT 'domain_pct_x10000', 'event_type', CAST(in_domain * 10000 // n AS BIGINT) FROM m
        |UNION ALL SELECT 'max_cents', 'value', CAST(max_cents AS BIGINT) FROM m""".stripMargin,

    // q265 — per-device rollup, distinct-value-histogram cutoffs, the
    // broadcast threshold compare
    "q265_rfm" ->
      """WITH per AS (
        |  SELECT user_id,
        |    max(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE))) AS last_day,
        |    count(*) AS freq,
        |    sum(CAST(round(value*100) AS BIGINT)) AS cents
        |  FROM events GROUP BY 1),
        |sc AS (SELECT user_id, (SELECT max(last_day) FROM per) - last_day AS recency,
        |       freq, cents FROM per),
        |rc AS (SELECT min(CASE WHEN 3*cum >= n THEN v END) AS c1,
        |       min(CASE WHEN 3*cum >= 2*n THEN v END) AS c2 FROM (
        |  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
        |  FROM (SELECT recency AS v, count(*) AS c FROM sc GROUP BY 1) h) t),
        |fc AS (SELECT min(CASE WHEN 3*cum >= n THEN v END) AS c1,
        |       min(CASE WHEN 3*cum >= 2*n THEN v END) AS c2 FROM (
        |  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
        |  FROM (SELECT freq AS v, count(*) AS c FROM sc GROUP BY 1) h) t),
        |mc AS (SELECT min(CASE WHEN 3*cum >= n THEN v END) AS c1,
        |       min(CASE WHEN 3*cum >= 2*n THEN v END) AS c2 FROM (
        |  SELECT v, sum(c) OVER (ORDER BY v) AS cum, sum(c) OVER () AS n
        |  FROM (SELECT cents AS v, count(*) AS c FROM sc GROUP BY 1) h) t)
        |SELECT user_id, CAST(recency AS BIGINT) AS recency,
        |  CAST(freq AS BIGINT) AS freq, CAST(cents AS BIGINT) AS cents,
        |  CAST(
        |    100*(CASE WHEN recency <= rc.c1 THEN 0
        |         WHEN recency <= rc.c2 THEN 1 ELSE 2 END) +
        |    10*(CASE WHEN freq <= fc.c1 THEN 0
        |        WHEN freq <= fc.c2 THEN 1 ELSE 2 END) +
        |    (CASE WHEN cents <= mc.c1 THEN 0
        |     WHEN cents <= mc.c2 THEN 1 ELSE 2 END) AS BIGINT) AS segment
        |FROM sc, rc, fc, mc""".stripMargin,

    // q268 — rank quartiles + doubled fences
    "q268_iqr_outliers" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |rk AS (
        |  SELECT user_id, y,
        |    row_number() OVER (PARTITION BY user_id ORDER BY y, x) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM daily),
        |q AS (
        |  SELECT user_id, max(n) AS n,
        |    min(CASE WHEN 4*rk >= n THEN y END) AS q1,
        |    min(CASE WHEN 4*rk >= 3*n THEN y END) AS q3
        |  FROM rk GROUP BY 1)
        |SELECT d.user_id, CAST(max(q.n) AS BIGINT) AS n,
        |  CAST(max(q1) AS BIGINT) AS q1, CAST(max(q3) AS BIGINT) AS q3,
        |  CAST(sum(CASE WHEN 2*y < 2*q1 - 3*(q3 - q1) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_low,
        |  CAST(sum(CASE WHEN 2*y > 2*q3 + 3*(q3 - q1) THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_high
        |FROM daily d JOIN q ON q.user_id = d.user_id
        |GROUP BY 1""".stripMargin,

    // q266 — one aggregation, the variance-to-mean integer pieces
    "q266_fano" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_days,
        |  CAST(sum(y) AS BIGINT) AS total,
        |  CAST(count(*)*sum(y*y) - sum(y)*sum(y) AS BIGINT) AS fano_num,
        |  CAST(count(*)*sum(y) AS BIGINT) AS fano_den
        |FROM daily GROUP BY 1""".stripMargin,

    // q267 — first-occurrence buckets + bucket-order cumsums
    "q267_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS w
        |  FROM documents),
        |tk AS (SELECT doc_id, w FROM toks WHERE regexp_full_match(w, '[a-z]+')),
        |pb AS (SELECT doc_id // 50 AS bucket, count(*) AS tokens
        |       FROM tk GROUP BY 1),
        |nt AS (SELECT fd // 50 AS bucket, count(*) AS new_types FROM (
        |  SELECT w, min(doc_id) AS fd FROM tk GROUP BY 1) f GROUP BY 1)
        |SELECT pb.bucket, CAST(tokens AS BIGINT) AS tokens,
        |  CAST(coalesce(new_types, 0) AS BIGINT) AS new_types,
        |  CAST(sum(tokens) OVER (ORDER BY pb.bucket) AS BIGINT) AS cum_tokens,
        |  CAST(sum(coalesce(new_types, 0)) OVER (ORDER BY pb.bucket) AS BIGINT)
        |    AS cum_types
        |FROM pb LEFT JOIN nt ON nt.bucket = pb.bucket""".stripMargin,

    // q251 — per-(device, value) class counts, cumsums, the cross-
    // multiplied sup statistic
    "q251_ks_test" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
        |    event_type
        |  FROM events WHERE event_type IN ('click', 'view')),
        |g AS (
        |  SELECT user_id, cents,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ac,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS bc
        |  FROM ev GROUP BY 1, 2),
        |c AS (
        |  SELECT user_id,
        |    sum(ac) OVER (PARTITION BY user_id ORDER BY cents) AS cuma,
        |    sum(bc) OVER (PARTITION BY user_id ORDER BY cents) AS cumb,
        |    sum(ac) OVER (PARTITION BY user_id) AS na,
        |    sum(bc) OVER (PARTITION BY user_id) AS nb
        |  FROM g)
        |SELECT user_id, CAST(max(na) AS BIGINT) AS n_a,
        |  CAST(max(nb) AS BIGINT) AS n_b,
        |  CAST(max(abs(cuma*nb - cumb*na)) AS BIGINT) AS d_num
        |FROM c GROUP BY 1
        |HAVING max(na) > 0 AND max(nb) > 0""".stripMargin,

    // q252 — the point generator replayed, all pairs, the zero-cross
    // collinearity count, QUALIFY argmax with the lexicographic tie
    "q252_ransac_line" ->
      """WITH p AS (
        |  SELECT range // 40 AS zone, range % 40 AS i FROM range(0, 120)),
        |pts AS (
        |  SELECT zone,
        |    CASE WHEN i < 25 THEN i ELSE (i*37 + zone*11) % 30 END AS px,
        |    CASE WHEN i < 25 THEN (zone + 2)*i + 5
        |         ELSE (i*53 + zone*29) % 60 END AS py,
        |    i AS pid
        |  FROM p),
        |pairs AS (
        |  SELECT a.zone, a.px AS ax, a.py AS ay, b.px AS bx, b.py AS by
        |  FROM pts a JOIN pts b ON b.zone = a.zone AND a.pid < b.pid),
        |inl AS (
        |  SELECT pr.zone, ax, ay, bx, by, count(*) AS inliers
        |  FROM pairs pr JOIN pts q ON q.zone = pr.zone
        |    AND (bx - ax)*(q.py - ay) = (by - ay)*(q.px - ax)
        |  GROUP BY 1, 2, 3, 4, 5)
        |SELECT CAST(zone AS BIGINT) AS zone, CAST(ax AS BIGINT) AS ax,
        |  CAST(ay AS BIGINT) AS ay, CAST(bx AS BIGINT) AS bx,
        |  CAST(by AS BIGINT) AS by, CAST(inliers AS BIGINT) AS inliers
        |FROM inl
        |QUALIFY row_number() OVER (PARTITION BY zone
        |  ORDER BY inliers DESC, ax, ay, bx, by) = 1""".stripMargin,

    // q250 — rank + count windows, the same trim bounds
    "q250_trimmed_mean" ->
      """WITH c AS (
        |  SELECT user_id, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |rk AS (
        |  SELECT user_id, cents,
        |    row_number() OVER (PARTITION BY user_id ORDER BY cents, event_id) AS rk,
        |    count(*) OVER (PARTITION BY user_id) AS n
        |  FROM c)
        |SELECT user_id, CAST(max(n) AS BIGINT) AS n,
        |  CAST(max(n) // 10 AS BIGINT) AS k,
        |  CAST(sum(CASE WHEN rk > n // 10 AND rk <= n - n // 10
        |       THEN cents ELSE 0 END) AS BIGINT) AS trimmed_cents,
        |  CAST(sum(CASE WHEN rk > n // 10 AND rk <= n - n // 10
        |       THEN 1 ELSE 0 END) AS BIGINT) AS trimmed_n
        |FROM rk GROUP BY 1""".stripMargin,

    // q249 — same generator, same strip/island decomposition in SQL
    "q249_rect_union" ->
      """WITH r AS (
        |  SELECT range % 4 AS zone,
        |    (range*37) % 200 AS x0, (range*37) % 200 + 20 + (range*7) % 40 AS x1,
        |    (range*53) % 200 AS y0, (range*53) % 200 + 15 + (range*11) % 35 AS y1
        |  FROM range(0, 60)),
        |b AS (SELECT DISTINCT zone, x FROM (
        |  SELECT zone, x0 AS x FROM r UNION ALL SELECT zone, x1 FROM r) u),
        |st AS (SELECT zone, x AS sx,
        |    lead(x) OVER (PARTITION BY zone ORDER BY x) AS ex FROM b),
        |s2 AS (SELECT * FROM st WHERE ex IS NOT NULL),
        |cov AS (SELECT s2.zone, sx, ex, y0 AS s, y1 AS e
        |  FROM s2 JOIN r ON r.zone = s2.zone
        |    AND r.x0 <= s2.sx AND r.x1 >= s2.ex),
        |f AS (SELECT zone, sx, ex, s, e,
        |    max(e) OVER (PARTITION BY zone, sx ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM cov),
        |isl AS (SELECT zone, sx, ex, s, e,
        |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY zone, sx ORDER BY s, e) AS island
        |  FROM f),
        |g AS (SELECT zone, sx, ex, island, min(s) AS is_, max(e) AS ie
        |      FROM isl GROUP BY 1, 2, 3, 4),
        |cv AS (SELECT zone, sx, ex, sum(ie - is_) AS c FROM g GROUP BY 1, 2, 3),
        |a AS (SELECT zone, sum((ex - sx) * c) AS area FROM cv GROUP BY 1),
        |n AS (SELECT zone, count(*) AS n_rects FROM r GROUP BY 1)
        |SELECT CAST(n.zone AS BIGINT) AS zone,
        |  CAST(n_rects AS BIGINT) AS n_rects,
        |  CAST(coalesce(area, 0) AS BIGINT) AS area
        |FROM n LEFT JOIN a ON a.zone = n.zone""".stripMargin,

    // q246 — the pivot replayed as filtered CASE aggregation (the
    // standard relational encoding of PIVOT)
    "q246_pivot" -> {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val cols = types.map { t =>
        s"""  CAST(count(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS ${t}_n,
           |  CAST(coalesce(sum(CASE WHEN event_type = '$t'
           |    THEN CAST(round(value*100) AS BIGINT) END), 0) AS BIGINT) AS ${t}_cents"""
          .stripMargin
      }.mkString(",\n")
      s"""SELECT user_id,
         |$cols
         |FROM events GROUP BY 1""".stripMargin
    },

    // q262 — unnest WITH ORDINALITY (0-based to match posexplode), the
    // same literal weight grid, argmax by QUALIFY
    "q262_linear_infer" ->
      """WITH wt AS (
        |  SELECT c.range AS cls, k.range AS k,
        |    (c.range*73 + k.range*37) % 21 - 10 AS wt
        |  FROM range(0, 5) c, range(0, 64) k),
        |qe AS (
        |  SELECT vec_id, CAST(i AS BIGINT) AS k,
        |    CAST(round(list_extract(embedding, CAST(i + 1 AS INT)) * 1000)
        |      AS BIGINT) AS qe
        |  FROM (SELECT vec_id, embedding, unnest(range(len(embedding))) AS i
        |        FROM embeddings) t),
        |sc AS (
        |  SELECT vec_id, cls, sum(qe * wt) AS score
        |  FROM qe JOIN wt USING (k) GROUP BY 1, 2)
        |SELECT vec_id, CAST(cls AS BIGINT) AS predicted,
        |  CAST(score AS BIGINT) AS score
        |FROM sc
        |QUALIFY row_number() OVER (PARTITION BY vec_id
        |  ORDER BY score DESC, cls) = 1""".stripMargin,

    // q258 — cosine top-5 ranks (q27 pattern), majority vote with the
    // (count desc, label) tie, label join for the verdict
    "q258_knn_classify" ->
      """WITH ranked AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id >= 50
        |  WHERE q.vec_id < 50),
        |votes AS (
        |  SELECT query_id, nl, count(*) AS v FROM ranked
        |  WHERE rank <= 5 GROUP BY 1, 2),
        |best AS (
        |  SELECT query_id, nl FROM votes
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY v DESC, nl) = 1)
        |SELECT b.query_id, CAST(b.nl AS BIGINT) AS predicted,
        |  CAST(e.label AS BIGINT) AS actual,
        |  CAST(CASE WHEN b.nl = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM best b JOIN embeddings e ON e.vec_id = b.query_id""".stripMargin,

    // q263 — the q258 chain rolled up by winning-vote count
    "q263_reliability" ->
      """WITH ranked AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS nl,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(q.embedding, c.embedding) DESC,
        |        c.vec_id) AS rank
        |  FROM embeddings q JOIN embeddings c ON c.vec_id >= 50
        |  WHERE q.vec_id < 50),
        |votes AS (
        |  SELECT query_id, nl, count(*) AS v FROM ranked
        |  WHERE rank <= 5 GROUP BY 1, 2),
        |best AS (
        |  SELECT query_id, nl, v FROM votes
        |  QUALIFY row_number() OVER (PARTITION BY query_id
        |    ORDER BY v DESC, nl) = 1)
        |SELECT CAST(v AS BIGINT) AS confidence,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN b.nl = e.label THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct
        |FROM best b JOIN embeddings e ON e.vec_id = b.query_id
        |GROUP BY 1""".stripMargin,

    // q244 — cosine ranks as in q27's oracle, the mutual self-join,
    // then a recursive reachability closure min-labeled per node
    "q244_mutual_knn" ->
      s"""WITH RECURSIVE $mutualKnnLabCtes,
        |sz AS (SELECT cluster, count(*) AS cluster_size FROM lab GROUP BY 1)
        |SELECT CAST(vec_id AS BIGINT) AS vec_id,
        |  CAST(lab.cluster AS BIGINT) AS cluster,
        |  CAST(cluster_size AS BIGINT) AS cluster_size
        |FROM lab JOIN sz USING (cluster)""".stripMargin,

    // q259 — the q244 chain, a cluster×label contingency, the doubled
    // pair-count ARI identity
    "q259_rand_index" ->
      s"""WITH RECURSIVE $mutualKnnLabCtes,
        |cont AS (SELECT lab.cluster, e.label, count(*) AS m
        |  FROM lab JOIN embeddings e ON e.vec_id = lab.vec_id
        |  GROUP BY 1, 2),
        |a AS (SELECT sum(m*(m-1)) AS a2, sum(m) AS n FROM cont),
        |b AS (SELECT sum(ai*(ai-1)) AS b2 FROM (
        |  SELECT sum(m) AS ai FROM cont GROUP BY cluster) q),
        |c AS (SELECT sum(bj*(bj-1)) AS c2 FROM (
        |  SELECT sum(m) AS bj FROM cont GROUP BY label) q)
        |SELECT CAST(n AS BIGINT) AS n, CAST(a2 AS BIGINT) AS a2,
        |  CAST(b2 AS BIGINT) AS b2, CAST(c2 AS BIGINT) AS c2,
        |  CAST(2*(n*(n-1)*a2 - b2*c2) AS BIGINT) AS ari_num,
        |  CAST(n*(n-1)*(b2+c2) - 2*b2*c2 AS BIGINT) AS ari_den
        |FROM a, b, c""".stripMargin,

    // q240 — the q26 prediction CTE, then κ's integer identity:
    // kappa_num = N·O − Σ r_k·c_k, kappa_den = N² − Σ r_k·c_k
    "q240_kappa" ->
      s"""WITH $langPredCtes,
         |conf AS (SELECT lang, predicted_lang, count(*) AS n
         |         FROM pred GROUP BY 1, 2),
         |tot AS (SELECT sum(n) AS nn,
         |    sum(CASE WHEN lang = predicted_lang THEN n ELSE 0 END) AS o
         |  FROM conf),
         |r AS (SELECT lang AS k, sum(n) AS rn FROM conf GROUP BY 1),
         |c AS (SELECT predicted_lang AS k, sum(n) AS cn FROM conf GROUP BY 1),
         |p AS (SELECT coalesce(sum(rn*cn), 0) AS p FROM r JOIN c USING (k))
         |SELECT CAST(nn AS BIGINT) AS n_items, CAST(o AS BIGINT) AS observed,
         |  CAST(nn*o - p.p AS BIGINT) AS kappa_num,
         |  CAST(nn*nn - p.p AS BIGINT) AS kappa_den
         |FROM tot, p""".stripMargin,

    // q236 — cumsum over the day order, first row whose doubled mass
    // reaches the total (argmin via min over the qualifying set)
    "q236_weighted_median" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT user_id, x,
        |    sum(y) OVER (PARTITION BY user_id ORDER BY x) AS cum,
        |    sum(y) OVER (PARTITION BY user_id) AS total
        |  FROM daily),
        |q AS (SELECT user_id, x, cum, total FROM c WHERE 2 * cum >= total)
        |SELECT user_id, min(x) AS half_x,
        |  CAST(min_by(cum, x) AS BIGINT) AS cum_mass,
        |  CAST(min(total) AS BIGINT) AS total_mass
        |FROM q GROUP BY 1""".stripMargin,

    // q237 — running-max island flags over (s, e) order, then the
    // island spans; epoch millis on both sides
    "q237_interval_union" ->
      """WITH iv AS (
        |  SELECT user_id, epoch_ms(ts) AS s, epoch_ms(ts) + 300000 AS e
        |  FROM events),
        |f AS (SELECT user_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, e
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
        |  FROM iv),
        |isl AS (SELECT user_id, s, e,
        |    sum(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY s, e) AS island
        |  FROM f),
        |g AS (SELECT user_id, island, count(*) AS ni,
        |    min(s) AS is_, max(e) AS ie
        |  FROM isl GROUP BY 1, 2)
        |SELECT user_id, CAST(sum(ni) AS BIGINT) AS n_intervals,
        |  count(*) AS n_islands, CAST(sum(ie - is_) AS BIGINT) AS covered
        |FROM g GROUP BY 1""".stripMargin,

    // q234 — ascending rank via row_number (tie order irrelevant to the
    // weighted sum), then the sorted-form Gini identity
    "q234_gini" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |r AS (SELECT user_id, y,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY y, x) AS BIGINT) AS i
        |  FROM daily)
        |SELECT user_id, count(*) AS n, CAST(sum(y) AS BIGINT) AS sum_y,
        |  CAST(2 * sum(i*y) - (count(*) + 1) * sum(y) AS BIGINT) AS gini_num,
        |  CAST(count(*) * sum(y) AS BIGINT) AS gini_den
        |FROM r GROUP BY 1""".stripMargin,

    // q235 — each (device, day, type) row covers the 7 windows it can
    // influence; anchor on active days, then distinct-count per window
    "q235_sliding_distinct" ->
      """WITH e AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS day,
        |    event_type
        |  FROM events),
        |active AS (SELECT DISTINCT user_id, day FROM e),
        |contrib AS (
        |  SELECT user_id, day + CAST(off AS BIGINT) AS wday, event_type
        |  FROM e CROSS JOIN (SELECT unnest(range(7)) AS off) o)
        |SELECT c.user_id, c.wday,
        |  CAST(count(DISTINCT c.event_type) AS BIGINT) AS n_types
        |FROM contrib c JOIN active a
        |  ON a.user_id = c.user_id AND a.day = c.wday
        |GROUP BY 1, 2""".stripMargin,

    // q232 — the same cell/row/column/total rollups; weekend by the
    // shared calendar-free epoch-day arithmetic
    "q232_chisq" ->
      """WITH e AS (
        |  SELECT event_type AS a,
        |    CASE WHEN (CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) + 4) % 7 IN (0, 6)
        |         THEN 1 ELSE 0 END AS b
        |  FROM events),
        |cells AS (SELECT a, b, count(*) AS n FROM e GROUP BY 1, 2),
        |rs AS (SELECT a, sum(n) AS r FROM cells GROUP BY 1),
        |cs AS (SELECT b, sum(n) AS c FROM cells GROUP BY 1),
        |tot AS (SELECT sum(n) AS total FROM cells)
        |SELECT cells.a AS event_type, CAST(cells.b AS BIGINT) AS is_weekend,
        |  CAST(n AS BIGINT) AS n, CAST(r AS BIGINT) AS r,
        |  CAST(c AS BIGINT) AS c, CAST(total AS BIGINT) AS total,
        |  CAST(n * total - r * c AS BIGINT) AS dev_num,
        |  CAST(total * r * c AS BIGINT) AS dev_den
        |FROM cells JOIN rs USING (a) JOIN cs USING (b) CROSS JOIN tot""".stripMargin,

    // q233 — the q120-style splitmix ring family with the dent /
    // collinear / reflection cases, area and turn signs recomputed
    // relationally with modular-successor joins
    "q233_convexity" ->
      s"""WITH ids AS (SELECT i, CAST(i AS HUGEINT) AS seed FROM range(0, 300) t(i)),
         |${splitmixChain("sr", Seq("i"), "ids", "seed")},
         |ctr AS (
         |  SELECT i AS ring_id, i % 3 AS c,
         |    (zl & 65535) % 50000 AS cx, ((zl >> 16) & 65535) % 50000 AS cy
         |  FROM (SELECT i, ${toSigned("z")} & 4611686018427387903 AS zl FROM sr3)),
         |off(v, ox, oy) AS (VALUES (0,2,0),(1,4,0),(2,6,2),(3,6,4),(4,4,6),(5,2,6),(6,0,4),(7,0,2)),
         |verts AS (
         |  SELECT ring_id, e AS idx,
         |    cx + (CASE WHEN c = 1 AND e = 3 THEN 3
         |               WHEN c = 2 AND e = 4 THEN 6 ELSE o.ox END) * 8 AS x,
         |    cy + (CASE WHEN ring_id % 2 = 1 THEN -1 ELSE 1 END) *
         |         (CASE WHEN c = 1 AND e = 3 THEN 3
         |               WHEN c = 2 AND e = 4 THEN 6 ELSE o.oy END) * 8 AS y
         |  FROM ctr, range(0, 8) r(e) JOIN off o ON o.v = e),
         |area AS (
         |  SELECT a.ring_id, sum(a.x*b.y - b.x*a.y) AS s2, count(*) AS n_verts
         |  FROM verts a JOIN verts b
         |    ON b.ring_id = a.ring_id AND b.idx = (a.idx + 1) % 8
         |  GROUP BY 1),
         |turns AS (
         |  SELECT a.ring_id,
         |    (b.x-a.x)*(c_.y-b.y) - (b.y-a.y)*(c_.x-b.x) AS cr
         |  FROM verts a
         |  JOIN verts b  ON b.ring_id = a.ring_id AND b.idx = (a.idx + 1) % 8
         |  JOIN verts c_ ON c_.ring_id = a.ring_id AND c_.idx = (a.idx + 2) % 8)
         |SELECT t.ring_id, CAST(ar.n_verts AS BIGINT) AS n_verts,
         |  CAST(abs(ar.s2) AS BIGINT) AS area2,
         |  CASE WHEN ar.s2 > 0 THEN 'ccw' ELSE 'cw' END AS winding,
         |  CAST(sum(CASE WHEN sign(t.cr) * sign(ar.s2) < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_reflex,
         |  CAST(sum(CASE WHEN t.cr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_collinear,
         |  CAST(CASE WHEN sum(CASE WHEN sign(t.cr) * sign(ar.s2) < 0 THEN 1 ELSE 0 END) = 0
         |       THEN 1 ELSE 0 END AS INT) AS is_convex
         |FROM turns t JOIN area ar ON ar.ring_id = t.ring_id
         |GROUP BY 1, 2, 3, 4""".stripMargin,

    // q231 — the ref pointers resolved by construction: release pins
    // v1 = [0,400), nightly retargets to v3 = [0,510) ≡ current
    "q231_snapshot_refs" ->
      """SELECT 'release' AS label, CAST(1 AS BIGINT) AS version,
        |  CAST(count(*) AS BIGINT) AS n_rows, CAST(sum(i) AS BIGINT) AS sum_idx
        |FROM range(0, 400) t(i)
        |UNION ALL
        |SELECT 'nightly', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(i) AS BIGINT)
        |FROM range(0, 510) t(i)
        |UNION ALL
        |SELECT 'current', CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
        |  CAST(sum(i) AS BIGINT)
        |FROM range(0, 510) t(i)""".stripMargin,

    // q228 — both lower medians as row_number-rank selections with the
    // same (value, x) tie order as the engine's window
    "q228_mad" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, count(*) AS n FROM daily GROUP BY 1),
        |r1 AS (SELECT user_id, x, y,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY y, x) AS BIGINT) AS rn
        |  FROM daily),
        |med AS (SELECT r1.user_id, n.n, r1.y AS med
        |  FROM r1 JOIN n USING (user_id) WHERE r1.rn = (n.n + 1) // 2),
        |dev AS (SELECT d.user_id, d.x, abs(d.y - m.med) AS dd
        |  FROM daily d JOIN med m USING (user_id)),
        |r2 AS (SELECT user_id, dd,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY dd, x) AS BIGINT) AS rn
        |  FROM dev),
        |madt AS (SELECT r2.user_id, r2.dd AS mad
        |  FROM r2 JOIN n USING (user_id) WHERE r2.rn = (n.n + 1) // 2)
        |SELECT m.user_id, m.n, CAST(m.med AS BIGINT) AS med,
        |  CAST(a.mad AS BIGINT) AS mad
        |FROM med m JOIN madt a USING (user_id)""".stripMargin,

    // q229 — sign vs the lower median, zeros dropped, runs counted as
    // sign transitions (+1 for the first row) over the day order
    "q229_runs_test" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, count(*) AS n FROM daily GROUP BY 1),
        |r1 AS (SELECT user_id, x, y,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY y, x) AS BIGINT) AS rn
        |  FROM daily),
        |med AS (SELECT r1.user_id, r1.y AS med
        |  FROM r1 JOIN n USING (user_id) WHERE r1.rn = (n.n + 1) // 2),
        |sg AS (SELECT d.user_id, d.x,
        |    CASE WHEN d.y > m.med THEN 1 ELSE -1 END AS s
        |  FROM daily d JOIN med m USING (user_id) WHERE d.y <> m.med),
        |lg AS (SELECT user_id, s,
        |    lag(s) OVER (PARTITION BY user_id ORDER BY x) AS ps
        |  FROM sg),
        |agg AS (SELECT user_id,
        |    CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |    CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
        |    CAST(sum(CASE WHEN ps IS NULL OR ps <> s THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
        |  FROM lg GROUP BY 1)
        |SELECT m.user_id, coalesce(a.n_pos, 0) AS n_pos,
        |  coalesce(a.n_neg, 0) AS n_neg, coalesce(a.n_runs, 0) AS n_runs
        |FROM med m LEFT JOIN agg a USING (user_id)""".stripMargin,

    // q230 — doubled midranks (2·row_number on the unique day axis;
    // minrank+maxrank on the tied counts), then the Pearson pieces
    "q230_spearman" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |byv AS (SELECT user_id, y, count(*) AS c FROM daily GROUP BY 1, 2),
        |yr AS (SELECT user_id, y,
        |    2 * sum(c) OVER (PARTITION BY user_id ORDER BY y) - c + 1 AS ry2
        |  FROM byv),
        |rk AS (SELECT d.user_id,
        |    2 * CAST(row_number() OVER (PARTITION BY d.user_id ORDER BY d.x, d.y) AS BIGINT) AS rx2,
        |    r.ry2
        |  FROM daily d JOIN yr r ON r.user_id = d.user_id AND r.y = d.y)
        |SELECT user_id, count(*) AS n,
        |  CAST(count(*) * sum(rx2*ry2) - sum(rx2) * sum(ry2) AS BIGINT) AS num,
        |  CAST(count(*) * sum(rx2*rx2) - sum(rx2) * sum(rx2) AS BIGINT) AS da,
        |  CAST(count(*) * sum(ry2*ry2) - sum(ry2) * sum(ry2) AS BIGINT) AS db
        |FROM rk GROUP BY 1""".stripMargin,

    // q223 — all day-ordered pairs within a device; x is unique by
    // construction (daily grain), so the engine's duplicate guard is 0
    "q223_kendall" ->
      """WITH daily AS (
        |  SELECT user_id,
        |    CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    count(*) AS y
        |  FROM events GROUP BY 1, 2),
        |n AS (SELECT user_id, count(*) AS n FROM daily GROUP BY 1),
        |g AS (SELECT a.user_id,
        |    CAST(sum(CASE WHEN b.y > a.y THEN 1 ELSE 0 END) AS BIGINT) AS nc,
        |    CAST(sum(CASE WHEN b.y < a.y THEN 1 ELSE 0 END) AS BIGINT) AS nd,
        |    CAST(sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS BIGINT) AS t_y
        |  FROM daily a JOIN daily b
        |    ON b.user_id = a.user_id AND a.x < b.x
        |  GROUP BY 1)
        |SELECT n.user_id, n.n, coalesce(g.nc, 0) AS nc,
        |  coalesce(g.nd, 0) AS nd, coalesce(g.t_y, 0) AS t_y
        |FROM n LEFT JOIN g USING (user_id)""".stripMargin,

    "q22_quality" ->
      """SELECT doc_id,
        |  CAST(length(text) AS INT) AS len,
        |  CAST(length(regexp_replace(text, '[^.!?]', '', 'g')) AS INT) AS punct,
        |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ('the','a','of','and'))) AS INT) AS stopwords
        |FROM documents""".stripMargin
  )
}
