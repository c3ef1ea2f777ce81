package perfbench

import graft.fixtures.OsmScenes.{Member, NodeRow, RelationRow, Scene, WayRow}
import graft.img.ImageTable.splitmix64

/** Seeded input generators. Every generator is a pure function of
  * (seed, sizes): the same arguments give the same rows in the same order.
  * Randomness comes from `java.util.Random` seeded through splitmix64 with a
  * per-purpose stream constant, so adding a generator never shifts another.
  */
object Gen {

  def rng(seed: Long, stream: Long): java.util.Random =
    new java.util.Random(splitmix64(seed * 0x100000001B3L + stream))

  private def dm(deg: Double): Int = math.round(deg * 1e7).toInt

  /** A generated target relation: what the engine must reproduce. Rings are
    * decimicro (lat, lon) vertex lists in generation order (unclosed).
    */
  final case class Expected(relationId: Long, name: String, rings: Seq[Seq[(Int, Int)]])

  final case class AdminScene(scene: Scene, expected: Seq[Expected])

  /** A jittered nx × ny grid of admin-8 relations tiling the box edge to
    * edge, the shape of real admin boundaries: each lattice edge is one way
    * of `m` segments (jittered interior points) shared by the two cells it
    * separates, so a cell's outer ring is 4m vertices stitched from 4 ways
    * whose member order is shuffled and half of which run backwards. Every
    * third cell also has a 24-vertex inner ring (2 ways, role "inner").
    * Cell (ix, iy) is relation 1000000 + iy·nx + ix; every 25th relation
    * shares its name with the next one (the sink's duplicate-name rule).
    *
    * With `extras`, the scene also holds what a real extract has around the
    * targets: off-level (admin 4/10) relations reusing the border ways,
    * non-boundary relations, ways and nodes no relation references, and
    * dangling member/node references (only on non-target entities, so the
    * expected output stays exact).
    */
  def gridScene(seed: Long, nx: Int, ny: Int, m: Int, lat: (Double, Double),
      lon: (Double, Double), extras: Boolean): AdminScene = {
    val r = rng(seed, 1)
    val nodes = Array.newBuilder[NodeRow]
    val ways = Array.newBuilder[WayRow]
    val rels = Array.newBuilder[RelationRow]
    var nextNode = 1L
    var nextWay = 1L
    val (cw, ch) = ((lon._2 - lon._1) / nx, (lat._2 - lat._1) / ny)
    def jit(scale: Double) = scale * (2 * r.nextDouble() - 1)
    def node(la: Double, lo: Double): (Long, Int, Int) = {
      val p = (nextNode, dm(la), dm(lo)); nextNode += 1
      nodes += NodeRow(p._1, p._2, p._3, Map.empty)
      p
    }
    def way(pts: Seq[(Long, Int, Int)], tags: Map[String, String] = Map.empty): Long = {
      val id = nextWay; nextWay += 1
      ways += WayRow(id, pts.map(_._1), tags)
      id
    }
    val corner = Array.tabulate(nx + 1, ny + 1) { (i, j) =>
      val inner = i > 0 && i < nx && j > 0 && j < ny
      node(lat._1 + j * ch + (if (inner) jit(0.2 * ch) else 0.0),
        lon._1 + i * cw + (if (inner) jit(0.2 * cw) else 0.0))
    }
    /** A lattice edge a → b: its points (ends included) and its way id. */
    def edge(a: (Long, Int, Int), b: (Long, Int, Int), horizontal: Boolean) = {
      val pts = a +: (1 until m).map { k =>
        val t = k.toDouble / m
        val la = (a._2 + t * (b._2 - a._2)) / 1e7 + (if (horizontal) jit(0.05 * ch) else 0.0)
        val lo = (a._3 + t * (b._3 - a._3)) / 1e7 + (if (horizontal) 0.0 else jit(0.05 * cw))
        node(la, lo)
      } :+ b
      (pts, way(pts))
    }
    val hEdge = Array.tabulate(nx, ny + 1)((i, j) => edge(corner(i)(j), corner(i + 1)(j), true))
    val vEdge = Array.tabulate(nx + 1, ny)((i, j) => edge(corner(i)(j), corner(i)(j + 1), false))

    def shuffled[T](xs: Seq[T]): Seq[T] = {
      val a = scala.collection.mutable.ArrayBuffer.from(xs)
      var i = a.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a.toSeq
    }
    val admin = (lvl: String, name: String) =>
      Map("boundary" -> "administrative", "admin_level" -> lvl, "name" -> name)
    val cellWays = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
    val expected = for (iy <- 0 until ny; ix <- 0 until nx) yield {
      val k = iy * nx + ix
      val relId = 1000000L + k
      val name = if (k % 25 == 1) s"dup_${k - 1}" else if (k % 25 == 0) s"dup_$k" else s"rel_$k"
      val (south, east) = (hEdge(ix)(iy), vEdge(ix + 1)(iy))
      val (north, west) = (hEdge(ix)(iy + 1), vEdge(ix)(iy))
      val outer = south._1.init ++ east._1.init ++ north._1.reverse.init ++ west._1.reverse.init
      val bounding = Seq(south._2, east._2, north._2, west._2)
      cellWays += bounding
      val inner = if (k % 3 == 0) {
        val (cLat, cLon) = (lat._1 + (iy + 0.5) * ch, lon._1 + (ix + 0.5) * cw)
        val ring = (0 until 24).map { i =>
          val th = 2 * math.Pi * i / 24
          node(cLat + 0.15 * ch * math.sin(th), cLon + 0.15 * cw * math.cos(th))
        }
        val holeWays = Seq(way(ring.take(13)), way(ring.drop(12) :+ ring.head))
        Some((ring, holeWays))
      } else None
      rels += RelationRow(relId,
        shuffled(bounding).map(Member("way", _, "outer")) ++
          inner.toSeq.flatMap(h => shuffled(h._2)).map(Member("way", _, "inner")),
        admin("8", name))
      Expected(relId, name, (Seq(outer) ++ inner.map(_._1).toSeq).map(_.map(p => (p._2, p._3))))
    }
    if (extras) {
      val nRel = nx * ny
      (0 until nRel / 5).foreach { k =>
        rels += RelationRow(2000000L + k,
          cellWays(r.nextInt(nRel)).map(Member("way", _, "outer")),
          admin(if (k % 2 == 0) "4" else "10", s"off_$k"))
      }
      (0 until nRel / 10).foreach { k =>
        val relId = 3000000L + k
        rels += RelationRow(relId, cellWays(r.nextInt(nRel)).take(2).map(Member("way", _, "forward")),
          Map("type" -> "route", "name" -> s"route_$k"))
        // dangling way reference on a non-target relation
        rels += RelationRow(relId + 500000L,
          Seq(Member("way", 900000000L + k, "outer"), Member("node", 1L, "label")),
          Map("boundary" -> "administrative", "admin_level" -> "6"))
      }
      (0 until nRel).foreach { k =>
        // unreferenced ways; every fourth also references a missing node
        val pts = Seq.fill(3)(node(lat._1 + r.nextDouble() * (lat._2 - lat._1),
          lon._1 + r.nextDouble() * (lon._2 - lon._1)))
        val id = way(pts, Map("highway" -> "residential"))
        if (k % 4 == 0) ways += WayRow(id + 1000000000L, pts.map(_._1) :+ (800000000L + k), Map.empty)
      }
    }
    AdminScene(Scene(nodes.result().toSeq, ways.result().toSeq, rels.result().toSeq), expected)
  }

  /** `n` probe points: half uniform over the box, half in Gaussian "city"
    * clusters (σ = 0.4°) around 16 seeded centres, which skews rows per cell.
    */
  def points(seed: Long, stream: Long, n: Int, lat: (Double, Double),
      lon: (Double, Double)): (Array[Double], Array[Double]) = {
    val r = rng(seed, stream)
    val cities = Array.fill(16)((
      lat._1 + (lat._2 - lat._1) * r.nextDouble(), lon._1 + (lon._2 - lon._1) * r.nextDouble()))
    val la = new Array[Double](n)
    val lo = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (i % 2 == 0) {
        la(i) = lat._1 + (lat._2 - lat._1) * r.nextDouble()
        lo(i) = lon._1 + (lon._2 - lon._1) * r.nextDouble()
      } else {
        val (cl, cn) = cities(r.nextInt(cities.length))
        la(i) = math.max(-89.0, math.min(89.0, cl + 0.4 * r.nextGaussian()))
        lo(i) = math.max(-179.0, math.min(179.0, cn + 0.4 * r.nextGaussian()))
      }
      i += 1
    }
    (la, lo)
  }

  /** First image index of the pip_tile table: the seed picks a range inside
    * the 9-digit id space that `img_%09d` ids and the geotag formula use.
    */
  def imageBase(seed: Long, n: Long): Long =
    (splitmix64(seed ^ 0x1A6EL) >>> 1) % (1000000000L - n)

  /** A seeded permutation of `xs`. */
  def shuffle[T](seed: Long, stream: Long, xs: Seq[T]): Seq[T] =
    new scala.util.Random(rng(seed, stream).nextLong()).shuffle(xs)

  /** A content digest of generated rows (the determinism self-test). */
  def digest(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(md.update)
    md.digest().take(12).map(b => f"$b%02x").mkString
  }
}
