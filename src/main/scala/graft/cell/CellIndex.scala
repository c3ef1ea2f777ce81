package graft.cell

import graft.geom.{Geom, Pt}

/** Hierarchical lat/lon cell index, from scratch (no H3/S2 jars in the
  * sandbox, and the north rule demands a from-scratch index anyway).
  *
  * At resolution `r` (0..28) the world [-90,90]×[-180,180) is an equal-angle
  * 2^r × 2^r grid. A cell id packs `(res, x, y)` into one Long:
  *
  *   id = res * 2^58 + x * 2^29 + y
  *
  * Row-major packing (NOT Morton): the join key only needs equality, and the
  * plain-arithmetic form keeps `cellOf` exactly expressible in ANSI SQL so the
  * DuckDB oracle can reproduce it:
  *
  *   x = CAST(floor((lon+180)/360 * 2^r) AS BIGINT)  clamped to [0, 2^r-1]
  *   y = CAST(floor((lat+ 90)/180 * 2^r) AS BIGINT)  clamped
  *   id = r*288230376151711744 + x*536870912 + y
  *
  * kRing is the Chebyshev-distance-k neighborhood, clamped at the poles,
  * wrapped across the antimeridian in x.
  */
object CellIndex {
  final val MaxRes = 28
  private final val ResShift = 58L
  private final val XShift = 29L
  private final val Mask29 = (1L << 29) - 1L

  @inline def pack(res: Int, x: Long, y: Long): Long =
    (res.toLong << ResShift) | (x << XShift) | y

  @inline def res(cell: Long): Int = (cell >>> ResShift).toInt
  @inline def x(cell: Long): Long = (cell >>> XShift) & Mask29
  @inline def y(cell: Long): Long = cell & Mask29

  @inline def side(res: Int): Long = 1L << res

  def xOf(lon: Double, res: Int): Long = {
    val n = side(res)
    val raw = math.floor((lon + 180.0) / 360.0 * n).toLong
    math.min(math.max(raw, 0L), n - 1)
  }

  def yOf(lat: Double, res: Int): Long = {
    val n = side(res)
    val raw = math.floor((lat + 90.0) / 180.0 * n).toLong
    math.min(math.max(raw, 0L), n - 1)
  }

  /** Cell containing (lat, lon) at `res`. */
  def cellOf(lat: Double, lon: Double, res: Int): Long =
    pack(res, xOf(lon, res), yOf(lat, res))

  def parent(cell: Long): Long = {
    val r = res(cell)
    require(r > 0, "res-0 cell has no parent")
    pack(r - 1, x(cell) >> 1, y(cell) >> 1)
  }

  def children(cell: Long): Seq[Long] = {
    val r = res(cell)
    require(r < MaxRes, s"res-$MaxRes cell has no children")
    val cx = x(cell) << 1; val cy = y(cell) << 1
    Seq(pack(r + 1, cx, cy), pack(r + 1, cx + 1, cy),
      pack(r + 1, cx, cy + 1), pack(r + 1, cx + 1, cy + 1))
  }

  /** (minLat, minLon, maxLat, maxLon) bounds of a cell. */
  def bounds(cell: Long): (Double, Double, Double, Double) = {
    val r = res(cell); val n = side(r).toDouble
    val cx = x(cell); val cy = y(cell)
    val minLon = cx / n * 360.0 - 180.0
    val minLat = cy / n * 180.0 - 90.0
    (minLat, minLon, minLat + 180.0 / n, minLon + 360.0 / n)
  }

  /** Chebyshev-k neighborhood ((2k+1)^2 cells max); x wraps across the
    * antimeridian, y clamps at the poles. Returned sorted + distinct.
    */
  def kRing(cell: Long, k: Int): Seq[Long] = {
    val r = res(cell); val n = side(r)
    val cx = x(cell); val cy = y(cell)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var dy = -k
    while (dy <= k) {
      val yy = cy + dy
      if (yy >= 0 && yy < n) {
        var dx = -k
        while (dx <= k) {
          val xx = ((cx + dx) % n + n) % n
          out += pack(r, xx, yy)
          dx += 1
        }
      }
      dy += 1
    }
    out.distinct.sorted.toSeq
  }

  /** Just the ring at exact Chebyshev distance k (the expansion frontier for
    * kNN ring-by-ring search).
    */
  def ringAt(cell: Long, k: Int): Seq[Long] =
    if (k == 0) Seq(cell)
    else {
      val inner = kRing(cell, k - 1).toSet
      kRing(cell, k).filterNot(inner)
    }

  /** Cells at `res` intersecting the polygon (union-of-rings semantics,
    * graft.geom.Geom.containsPoint). Always a superset of the cells containing
    * any polygon point: starts from the bbox cell range, then prunes to cells
    * whose rectangle actually intersects a ring. `maxCells` caps the bbox scan
    * (safety for pathological bbox/res combinations): when the bbox range
    * exceeds the cap, the UNPRUNED bbox range at a coarser effective
    * resolution would be needed — instead we keep correctness by returning
    * the bbox cells without pruning only if under cap; otherwise the caller
    * must choose a coarser res (coverAuto does this).
    */
  def cover(rings: Seq[Seq[Pt]], res: Int, maxCells: Int = 4096): Seq[Long] = {
    if (rings.isEmpty || rings.forall(_.isEmpty)) return Seq.empty
    val (minLat, minLon, maxLat, maxLon) = Geom.bbox(rings)
    val x0 = xOf(minLon, res); val x1 = xOf(maxLon, res)
    val y0 = yOf(minLat, res); val y1 = yOf(maxLat, res)
    require((x1 - x0 + 1) * (y1 - y0 + 1) <= maxCells.toLong,
      s"cover at res=$res would scan ${(x1 - x0 + 1) * (y1 - y0 + 1)} cells (> $maxCells); use coverAuto")
    // rings decoded from a Dataset are Lists: index them once here, not
    // once per scanned cell inside the kernels
    val indexed = rings.map(_.toIndexedSeq)
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var cx = x0
    while (cx <= x1) {
      var cy = y0
      while (cy <= y1) {
        val c = pack(res, cx, cy)
        val (bLat0, bLon0, bLat1, bLon1) = bounds(c)
        if (Geom.ringsIntersectRect(indexed, bLat0, bLon0, bLat1, bLon1)) out += c
        cy += 1
      }
      cx += 1
    }
    out.toSeq
  }

  /** Finest res ≤ `maxRes` whose bbox scan stays under `maxCells`, and the
    * cover at that res. Large polygons get coarse covers, small ones fine —
    * the multi-res build side of the spatial join (probe encodes at each
    * distinct res present).
    */
  def coverAuto(rings: Seq[Seq[Pt]], maxRes: Int, maxCells: Int = 256): (Int, Seq[Long]) = {
    if (rings.isEmpty || rings.forall(_.isEmpty)) return (0, Seq.empty)
    val (minLat, minLon, maxLat, maxLon) = Geom.bbox(rings)
    var r = maxRes
    while (r > 0) {
      val cells = (xOf(maxLon, r) - xOf(minLon, r) + 1) * (yOf(maxLat, r) - yOf(minLat, r) + 1)
      if (cells <= maxCells) return (r, cover(rings, r, maxCells))
      r -= 1
    }
    (0, cover(rings, 0, maxCells))
  }
}
