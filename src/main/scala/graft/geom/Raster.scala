package graft.geom

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** Raster↔vector conversion (north rule: "raster↔vector") over the
  * reference's polygon shape (`rings: array<array<struct<lat:float,
  * lon:float>>>` — `/root/reference/src/converter.rs:6-17`).
  *
  * Vector→raster ([[rasterize]]): burn each polygon into the regular cell
  * grid of pitch `cell` by testing every bbox-lattice cell CENTER with the
  * same even-odd ray cast the point-in-polygon join uses
  * ([[graft.functions.RayCastKernel]] — a codegen'd native expression, not
  * a UDF). Cell (cx, cy) covers [cx·cell, (cx+1)·cell) × [cy·cell,
  * (cy+1)·cell); its center is ((cx+0.5)·cell, (cy+0.5)·cell).
  *
  * Raster→vector ([[marchingSquares]]): extract the boundary of a binary
  * cell raster by marching squares over every 2×2 cell block — each
  * occupied cell scatters a power-of-two bit into its four incident
  * blocks, one groupBy sums the bits into the block's case index 1–15,
  * and a literal lookup maps the case to its contour-segment count
  * (the diagonal saddle cases carry two segments, full/empty carry
  * none, the other twelve carry one). All integer arithmetic — exact in any engine.
  *
  * Scale shape: rasterize is explode → explode → filter, all narrow; the
  * lattice explode is bounded by bbox area / cell², and one polygon's
  * whole raster stays in one task chain. Marching squares is one scatter
  * flatMap (×4, narrow) and ONE hash exchange (the block groupBy), keyed
  * on (polygon, block) — uniform unless one polygon dominates the raster.
  */
object Raster {

  /** Vector→raster. Input needs `idCol` and a `rings` column of the
    * polygon shape above; emits (idCol, cx: bigint, cy: bigint), one row
    * per cell whose center lies inside any ring (union-of-rings
    * semantics, holes not subtracted — reference parity, see
    * [[Geom.containsPoint]]).
    */
  def rasterize(polys: DataFrame, cell: Double, idCol: String = "relation_id"): DataFrame = {
    require(cell > 0, s"cell=$cell must be positive")
    val spark = polys.sparkSession
    GraftFunctions.register(spark)
    val pts = flatten(col("rings"))
    def axisRange(field: String): (Column, Column) = {
      val vs = transform(pts, p => p.getField(field).cast("double"))
      (floor(array_min(vs) / cell).cast("long"), floor(array_max(vs) / cell).cast("long"))
    }
    val (cy0, cy1) = axisRange("lat")
    val (cx0, cx1) = axisRange("lon")
    polys
      .select(col(idCol), col("rings"),
        cx0.as("cx0"), cx1.as("cx1"), explode(sequence(cy0, cy1)).as("cy"))
      .select(col(idCol), col("rings"), col("cy"),
        explode(sequence(col("cx0"), col("cx1"))).as("cx"))
      .filter(GraftFunctions.rayCastContains(col("rings"),
        (col("cy").cast("double") + 0.5d) * cell,
        (col("cx").cast("double") + 0.5d) * cell))
      .select(col(idCol), col("cx"), col("cy"))
  }

  /** Marching-squares segment count per case index (0–15) in THIS bit
    * layout (row-major: 1=(bx-1,by-1), 2=(bx,by-1), 4=(bx-1,by),
    * 8=(bx,by)) — the diagonal saddle pairs are 1+8=9 and 2+4=6, not the
    * 5/10 of the classic around-the-square numbering. Saddles emit two
    * segments; empty/full none; every other case one.
    */
  val SegmentsPerCase: Seq[Int] = Seq(0, 1, 1, 1, 1, 1, 2, 1, 1, 2, 1, 1, 1, 1, 1, 0)

  /** Raster→vector: boundary extraction over a binary cell raster
    * (idCol, cx, cy). Emits one row per polygon: (idCol, n_cells,
    * n_blocks, n_segments, n_saddles). `n_segments` is the total contour
    * length in marching-squares segments — for a hole-free raster region
    * the segments chain into closed loops, so it equals the perimeter
    * crossing count; `n_saddles` counts ambiguous blocks (diagonal cell
    * pairs), the marching-squares topology caveat made visible.
    */
  def marchingSquares(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    // block (bx, by) reads cells (bx-1, by-1)·1, (bx, by-1)·2,
    // (bx-1, by)·4, (bx, by)·8 — so cell (cx, cy) scatters weight 1 to
    // block (cx+1, cy+1), 2 to (cx, cy+1), 4 to (cx+1, cy), 8 to (cx, cy)
    val scattered = cells.select(col(idCol), col("cx"), col("cy"),
        explode(array(
          struct((col("cx") + 1).as("bx"), (col("cy") + 1).as("by"), lit(1).as("w")),
          struct(col("cx").as("bx"), (col("cy") + 1).as("by"), lit(2).as("w")),
          struct((col("cx") + 1).as("bx"), col("cy").as("by"), lit(4).as("w")),
          struct(col("cx").as("bx"), col("cy").as("by"), lit(8).as("w")))).as("b"))
      .select(col(idCol), col("b.bx"), col("b.by"), col("b.w"))
    val segLut = typedLit(SegmentsPerCase)
    scattered.groupBy(col(idCol), col("bx"), col("by"))
      .agg(sum(col("w")).as("case_idx"))
      .groupBy(col(idCol))
      .agg(
        // each cell contributes bit 8 to exactly one block (its own), so
        // counting bit-8 blocks recovers the cell count without a rescan
        sum(shiftright(col("case_idx"), 3).bitwiseAND(1)).as("n_cells"),
        count(lit(1)).as("n_blocks"),
        sum(element_at(segLut, (col("case_idx") + 1).cast("int")).cast("long")).as("n_segments"),
        sum(when(col("case_idx").isin(6L, 9L), 1L).otherwise(0L)).as("n_saddles"))
  }

  /** Zonal statistics — the raster-side consumer of [[rasterize]] and the
    * vector-side consumer of an image pixel grid (ArcGIS/GDAL "zonal
    * stats"): aggregate a pixel table per polygon zone. `pixels` carries
    * (image_id, x, y, g) — one row per decoded pixel, its grid position,
    * and an integer value; `zones` carries (idCol, cx, cy) — the burnt
    * polygon raster on the SAME grid. Output is one row per
    * (image_id, zone) that intersects: pixel count, exact integer sum,
    * min, max. Pixels outside every zone and zone cells outside the
    * image drop out of the inner join — partial coverage is the normal
    * case, not an error.
    *
    * Scale shape: the pixel side is corpus-sized (10^12 images ×
    * pixels); the zone raster is polygon-cover-sized and always
    * broadcast, so the join is map-side — ONE hash exchange total (the
    * final (image, zone) aggregation, with map-side partials).
    */
  def zonalStats(zones: DataFrame, pixels: DataFrame,
      idCol: String = "relation_id"): DataFrame = {
    val zz = broadcast(zones.select(col(idCol), col("cx"), col("cy")))
    pixels.join(zz, pixels("x") === zz("cx") && pixels("y") === zz("cy"))
      .groupBy(col("image_id"), col(idCol))
      .agg(count(lit(1)).as("n_px"),
        sum(col("g")).as("sum_g"),
        min(col("g")).as("min_g"),
        max(col("g")).as("max_g"))
  }

  /** Categorical zonal statistics — the MODE (majority class) per zone,
    * the form zonal stats takes over a classified raster (land-cover
    * class per cell, quantized gray level per pixel): count pixels per
    * (zone, class), then pick each zone's most frequent class with the
    * SMALLEST-class tie-break. The argmax is `max(struct(cnt, −class))`
    * — one aggregation, no window: a window over (zone) would be
    * bounded anyway, but the struct-max form keeps the plan to exactly
    * two hash exchanges and stays fully codegen'd. `pixels` carries
    * (x, y, class); zones broadcast as in [[zonalStats]].
    */
  def zonalMode(zones: DataFrame, pixels: DataFrame,
      idCol: String = "relation_id"): DataFrame = {
    val zz = broadcast(zones.select(col(idCol), col("cx"), col("cy")))
    pixels.join(zz, pixels("x") === zz("cx") && pixels("y") === zz("cy"))
      .groupBy(col(idCol), col("class"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_px"),
        max(struct(col("cnt"), (-col("class")).as("negc"))).as("m"))
      .select(col(idCol), col("n_px"),
        (-col("m.negc")).as("mode_class"), col("m.cnt").as("mode_cnt"))
  }

  /** Roll [[zonalStats]] output up to zone level — and, because every
    * aggregate here is associative-idempotent over its own output schema
    * (sum of sums, min of mins, max of maxes, n_px re-summed), the SAME
    * function merges partial summaries: `zonalRollup(a.unionByName(b))`
    * maintains a zone summary incrementally from per-batch summaries
    * without ever rescanning pixels — the additive-rollup refresh a
    * 10^12-image ingest runs per batch (cost O(zones), not O(pixels)).
    */
  def zonalRollup(zonal: DataFrame, idCol: String = "relation_id"): DataFrame =
    zonal.groupBy(col(idCol))
      .agg(sum(col("n_px")).as("n_px"),
        sum(col("sum_g")).as("sum_g"),
        min(col("min_g")).as("min_g"),
        max(col("max_g")).as("max_g"))

  /** Areal interpolation, raster method (the dasymetric form of GIS
    * areal weighting — Goodchild & Lam 1980): transfer an attribute from
    * source polygons to an incompatible target zoning proportionally to
    * overlap area, with areas measured on a common cell burn (both sides
    * through [[rasterize]] at the same pitch). Output is the EXACT
    * transfer table — one row per intersecting (dst, src):
    * (dstId, srcId, overlap_cells, src_cells, v, transfer_num = v ·
    * overlap_cells) — the transferred amount being the rational
    * transfer_num / src_cells; consumers sum numerators over a common
    * denominator or divide at the edge. No float enters the operator.
    *
    * Scale shape: ONE cell-keyed equi-join (the overlap), then
    * source-keyed joins for sizes and values. The target zoning is
    * always broadcast, so the overlap join is map-side — the
    * admin-rollup case. (It used to be broadcast only on request, with a
    * shuffle join by default; every caller requested the broadcast.)
    */
  def arealInterp(srcCells: DataFrame, dstCells: DataFrame, values: DataFrame,
      srcId: String = "src_id", dstId: String = "dst_id"): DataFrame = {
    // src feeds both the size aggregation and the overlap join — cut
    // once so the upstream burn (a bbox-lattice explode + ray-cast filter
    // when it comes from rasterize) runs once, not twice
    val src = srcCells.select(col(srcId), col("cx"), col("cy")).localCheckpoint(false)
    val dst = broadcast(dstCells.select(col(dstId), col("cx"), col("cy")))
    val srcSz = src.groupBy(col(srcId)).agg(count(lit(1)).as("src_cells"))
    src.join(dst, Seq("cx", "cy"))
      .groupBy(col(srcId), col(dstId))
      .agg(count(lit(1)).as("overlap_cells"))
      .join(srcSz, srcId)
      .join(values.select(col(srcId), col("v").cast("long").as("v")), srcId)
      .select(col(dstId), col(srcId), col("overlap_cells"), col("src_cells"),
        col("v"), (col("v") * col("overlap_cells")).as("transfer_num"))
  }

  /** Focal (neighborhood) statistics over a sparse value raster — map
    * algebra's 3×3 focal sum/count at every occupied cell, missing
    * neighbors simply absent (GDAL `-srcnodata` semantics, not zero-
    * filled). Input (idCol, cx, cy, v); output adds (nbr_cnt, nbr_sum)
    * — the count and exact integer sum of the up-to-8 occupied
    * neighbors. The caller divides when it wants the mean; the integers
    * are the exact form both engines can agree on bit-for-bit.
    *
    * Same scatter shape as [[marchingSquares]]: each cell flatMaps its
    * value to its 8 incident neighbor positions (narrow, ×8), ONE hash
    * exchange groups them by position, and a left join back to the
    * occupied cells keeps output cells = input cells (isolated cells
    * keep cnt 0 / sum 0). Never a cell×cell join — at a planet-raster
    * 100 TB burn the scatter stays linear and the exchange is keyed on
    * (polygon, cell), uniform unless one polygon dominates.
    */
  def focalStats(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    // occ feeds the scatter AND the join-back — cut once so the burn
    // upstream runs once
    val occ = cells.select(col(idCol), col("cx"), col("cy"),
        col("v").cast("long").as("v"))
      .localCheckpoint(false)
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0 }
      yield (dx, dy)
    val scattered = occ.select(col(idCol), col("v"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("cx") + dx).as("nx"), (col("cy") + dy).as("ny"))
        }: _*)).as("t"))
      .select(col(idCol), col("t.nx").as("cx"), col("t.ny").as("cy"), col("v"))
    val sums = scattered.groupBy(col(idCol), col("cx"), col("cy"))
      .agg(count(lit(1)).as("nbr_cnt"), sum(col("v")).as("nbr_sum"))
    occ.join(sums, Seq(idCol, "cx", "cy"), "left")
      .select(col(idCol), col("cx"), col("cy"), col("v"),
        coalesce(col("nbr_cnt"), lit(0L)).as("nbr_cnt"),
        coalesce(col("nbr_sum"), lit(0L)).as("nbr_sum"))
  }

  /** Focal majority (mode) filter over a classified cell raster — map
    * algebra's categorical smoothing (GDAL sieve's soft cousin): per
    * occupied cell, the most frequent class among its up-to-8 occupied
    * neighbors AND itself, smallest-class tie-break. Input (idCol, cx,
    * cy, class); output (idCol, cx, cy, class, mode_class, mode_cnt).
    *
    * The [[focalStats]] scatter (×9 incl. self, narrow), one hash
    * aggregation per (cell, class), then the [[zonalMode]]
    * max(struct(cnt, −class)) argmax — no window, fully codegen'd.
    */
  def focalMode(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    val occ = cells.select(col(idCol), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"), col("class").cast("long").as("class"))
      .localCheckpoint(false)
    val offsets = for { dx <- -1 to 1; dy <- -1 to 1 } yield (dx, dy)
    val scattered = occ.select(col(idCol), col("class"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
        }: _*)).as("t"))
      .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"),
        col("class"))
    val modes = scattered
      .groupBy(col(idCol), col("cx"), col("cy"), col("class"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col(idCol), col("cx"), col("cy"))
      .agg(max(struct(col("cnt"), (-col("class")).as("negc"))).as("m"))
      .select(col(idCol), col("cx"), col("cy"),
        (-col("m.negc")).as("mode_class"), col("m.cnt").as("mode_cnt"))
    // join back so only occupied cells emit (the scatter also lands on
    // empty lattice positions) and the original class rides along
    occ.join(modes, Seq(idCol, "cx", "cy"))
      .select(col(idCol), col("cx"), col("cy"), col("class"),
        col("mode_class"), col("mode_cnt"))
  }

  /** Manhattan (4-connected) distance transform of a binary cell raster:
    * per occupied cell, the hop distance to the nearest cell OUTSIDE the
    * raster — boundary cells score 1, each erosion ring inward adds 1
    * (the buffer-depth / setback primitive of map algebra, and the
    * skeleton precursor). Emits (idCol, cx, cy, dist).
    *
    * Level-synchronous inward BFS on the IMPLICIT lattice graph — no
    * edge list is ever materialized: the seed ring is the one scatter
    * ×4 + join-back [[focalStats]] uses (cells with < 4 rook neighbors
    * present), and each subsequent ring is the previous ring's ×4
    * scatter semi-joined against the still-unlabeled cells. Per round:
    * one narrow explode, one equi-join, one distinct, one anti-join —
    * no window, no sort; every cell is labeled exactly once so total
    * work is O(cells · rounds_touched) = O(cells · max_depth) with the
    * same eager per-round localCheckpoint discipline as
    * [[graft.graph.Bfs]] (plan growth, not data, is the hazard: each
    * round's plan would otherwise re-embed the whole burn upstream).
    * Depth is bounded by raster radius; non-convergence within
    * `maxRounds` throws rather than returning a truncated field.
    */
  /** Discrete Voronoi allocation (nearest-facility assignment) over a
    * binary cell raster: label every occupied cell with the seed
    * reachable in the fewest 4-connected hops THROUGH the raster (the
    * graph geodesic, not Euclidean — allocation respects barriers),
    * ties broken toward the smallest seed id. `seeds` carries (idCol,
    * cx, cy, seed) rows that must be occupied cells (others are
    * ignored); cells whose component contains no seed stay unlabeled
    * (absent from the output). Emits (idCol, cx, cy, dist, seed).
    *
    * Multi-source level-synchronous BFS with claiming on the IMPLICIT
    * lattice — [[distanceTransform]]'s machinery with a label payload:
    * each round the frontier scatters ×4 (narrow), keeps still-
    * unlabeled occupied targets (semi + anti join), and claims each
    * with min(seed) among this round's arrivals (one hash
    * aggregation). Claiming is exact, not heuristic: every arrival at
    * round d carries a seed at geodesic distance exactly d, and the
    * min-id nearest seed always arrives (induction along its shortest
    * path — the predecessor's label is itself a min-id nearest seed at
    * d−1), so per-round min(seed) reproduces the global
    * argmin-by-(dist, seed) the oracle computes. Every cell is claimed
    * exactly once → total work O(cells·4) scattered rows across all
    * rounds, per-round eager localCheckpoint kills plan growth.
    */
  def voronoiAssign(cells: DataFrame, seeds: DataFrame,
      idCol: String = "relation_id", maxRounds: Int = 512): DataFrame = {
    val occ = graft.graph.Bfs.joinSide(
      cells.select(col(idCol), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy")))
    val key = Seq(idCol, "cx", "cy")
    val init = seeds
      .select(col(idCol), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"), col("seed").cast("long").as("seed"))
      .join(occ, key, "left_semi")
      .groupBy(key.map(col): _*).agg(min(col("seed")).as("seed"))
      .withColumn("dist", lit(0L))
      .withColumn("fresh", lit(1))
    // blocked round fusion (the Bfs.scala device on the implicit
    // lattice): a ×5 scatter whose (0,0) offset is the self-entry that
    // carries every existing claim while the four real offsets expand
    // only the still-fresh frontier — the state is referenced once per
    // round, so 8 rounds chain lazily into one linear plan
    // with a single checkpoint + probe job per block. Claiming
    // stays exact: a fresh cell's arrivals all come from the previous
    // round's fresh set (its geodesic-distance-(r−1) predecessors), so
    // per-round min(seed) over arrivals reproduces the global
    // argmin-by-(dist, seed) — the self-entry wins outright for already-
    // claimed cells (labels never change once set).
    val out = graft.graph.Fixpoint.run(init, maxRounds, 8,
        "Raster.voronoiAssign") { (cur, _) =>
      cur.select(col(idCol), col("dist"), col("seed"), col("fresh"),
          explode(array(
            struct(col("cx"), col("cy"), lit(1).as("self")) +:
            Seq((-1, 0), (1, 0), (0, -1), (0, 1)).map { case (dx, dy) =>
              struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"),
                lit(0).as("self"))
            }: _*)).as("t"))
        .filter(col("t.self") === 1 || col("fresh") === 1)
        .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"),
          col("t.self").as("self"), col("dist"), col("seed"))
        .join(occ, key, "left_semi")
        .groupBy(key.map(col): _*)
        .agg(max(col("self")).as("hs"),
          min(when(col("self") === 1, col("dist"))).as("d_old"),
          min(when(col("self") === 1, col("seed"))).as("s_old"),
          min(when(col("self") === 0, col("dist") + 1L)).as("d_new"),
          min(when(col("self") === 0, col("seed"))).as("s_new"))
        .select(col(idCol), col("cx"), col("cy"),
          when(col("hs") === 1, col("d_old")).otherwise(col("d_new")).as("dist"),
          when(col("hs") === 1, col("s_old")).otherwise(col("s_new")).as("seed"),
          (lit(1) - col("hs")).as("fresh"))
    }
    out.select(col(idCol), col("cx"), col("cy"), col("dist"), col("seed"))
  }

  /** Outward buffer of a binary cell raster: every lattice cell within
    * Manhattan distance `k` of an occupied cell (the occupied cells
    * themselves at distance 0) — GIS buffering on the grid, the dilation
    * dual of [[distanceTransform]]'s inward erosion rings. Emits
    * (idCol, cx, cy, dist) with dist the exact Manhattan distance to
    * the nearest occupied cell.
    *
    * CLOSED FORM for the bounded radius a buffer has by definition —
    * no BFS loop: one explode over the (2k²+2k+1)-cell diamond offset
    * table (narrow, ×O(k²)) and ONE hash aggregation taking min(dist)
    * per target cell. At planet scale the scatter is linear in
    * cells·k² and the exchange is keyed on (polygon, cell) — the
    * [[focalStats]] shape with a wider stencil; no iteration, no
    * window, no join at all.
    */
  def bufferOut(cells: DataFrame, k: Int,
      idCol: String = "relation_id"): DataFrame = {
    require(k >= 0 && k <= 64, s"k=$k out of [0, 64]")
    val offsets = for {
      dx <- -k to k
      dy <- -(k - math.abs(dx)) to (k - math.abs(dx))
    } yield (dx, dy)
    cells.select(col(idCol),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"),
            lit((math.abs(dx) + math.abs(dy)).toLong).as("d"))
        }: _*)).as("t"))
      .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"),
        col("t.d").as("d"))
      .groupBy(col(idCol), col("cx"), col("cy"))
      .agg(min(col("d")).as("dist"))
  }

  /** Border-length contiguity weights over a multi-polygon cell burn —
    * the length-weighted refinement of boolean rook contiguity (GeoDa's
    * "shared boundary length" weights): for every polygon pair A < B,
    * the number of ORDERED rook-adjacent cell pairs (u, v) with
    * u ∈ A's burn and v ∈ B's burn. On disjoint burns that is exactly
    * twice the shared-face count (once per direction); the ordered form
    * keeps the definition exact when burns overlap. Emits
    * (rel_a, rel_b, faces) with rel_a < rel_b.
    *
    * One ×4 scatter of the burn (narrow), ONE cell-keyed hash equi-join
    * against the burn itself, one count per pair — the [[focalStats]]
    * shape ACROSS polygon ids instead of within one; never polygon ×
    * polygon, never cell × cell.
    */
  def borderWeights(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    val occ = cells.select(col(idCol), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"))
      .localCheckpoint(false)
    val offsets = Seq((-1, 0), (1, 0), (0, -1), (0, 1))
    val scattered = occ.select(col(idCol).as("rel_a"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
        }: _*)).as("t"))
      .select(col("rel_a"), col("t.cx").as("cx"), col("t.cy").as("cy"))
    scattered
      .join(occ.select(col(idCol).as("rel_b"), col("cx"), col("cy")),
        Seq("cx", "cy"))
      .filter(col("rel_a") < col("rel_b"))
      .groupBy(col("rel_a"), col("rel_b"))
      .agg(count(lit(1)).as("faces"))
  }

  /** Discrete medial axis (skeleton) of a binary cell raster: the cells
    * where the Manhattan [[distanceTransform]] is a 4-connected local
    * maximum (dist ≥ every present rook neighbor's dist — plateaus
    * included, so a 1-wide strip is its own skeleton). The raster→vector
    * ridge extraction that follows the buffer-depth field: centerlines
    * of corridors, spine cells of blobs. Emits (idCol, cx, cy, dist).
    *
    * One scatter ×4 of the distance field (narrow), one hash
    * aggregation for the neighbor max, one left join back — the
    * [[focalStats]] shape over [[distanceTransform]]'s output. The
    * field is consumed twice (scatter + join back), so it is cut once
    * with a lazy localCheckpoint — one field computation serves both
    * branches and the plan stays linear.
    */
  def medialAxis(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    val dt = distanceTransform(cells, idCol).localCheckpoint(false)
    val key = Seq(idCol, "cx", "cy")
    val offsets = Seq((-1, 0), (1, 0), (0, -1), (0, 1))
    val scattered = dt.select(col(idCol), col("dist"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"))
        }: _*)).as("t"))
      .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"),
        col("dist"))
    val nbrMax = scattered.groupBy(key.map(col): _*)
      .agg(max(col("dist")).as("nbr_max"))
    dt.join(nbrMax, key, "left")
      .filter(col("dist") >= coalesce(col("nbr_max"), lit(0L)))
      .select(col(idCol), col("cx"), col("cy"), col("dist"))
  }

  /** Cost-distance transform over a cost raster — map algebra's
    * accumulated-cost surface (GRASS r.cost, ArcGIS Cost Distance,
    * least-cost-path's first half): `cells` carries (idCol, cx, cy, v)
    * with v the positive integer cost of ENTERING the cell; per
    * occupied cell the minimum over 4-connected paths from any seed of
    * the sum of entered-cell costs (seeds themselves cost 0). Emits
    * (idCol, cx, cy, dist); cells unreachable from every seed are
    * absent. Non-positive costs are rejected IN-PLAN via a raise_error
    * conjunct on the cost load (the [[graft.graph.Sssp]] guard) — a bad
    * cost fails the job even under filter pushdown rather than
    * unbounding the relaxation loop.
    *
    * The weighted sibling of [[distanceTransform]] and the implicit-
    * lattice sibling of [[graft.graph.Sssp]]: frontier Bellman-Ford
    * where no edge list ever exists — each round the improved set
    * scatters ×4 (narrow), one equi-join against the raster fetches the
    * entered cost, one min-combine per touched cell, one left join
    * keeps strict improvements. Positive integer costs make every
    * improvement lower a Long, so the loop empties in ≤ cells rounds;
    * per-round eager localCheckpoint kills plan growth.
    */
  def costDistance(cells: DataFrame, seeds: DataFrame,
      idCol: String = "relation_id", maxRounds: Int = 512): DataFrame = {
    val guardedV = when(col("v") > 0, col("v"))
      .otherwise(raise_error(concat(
        lit("Raster.costDistance: non-positive cost at cell ("),
        col("cx"), lit(","), col("cy"), lit(")"))).cast("long"))
    val occ = graft.graph.Bfs.joinSide(
      cells.select(col(idCol), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"), guardedV.cast("long").as("v")))
    val key = Seq(idCol, "cx", "cy")
    val init = seeds
      .select(col(idCol), col("cx").cast("long").as("cx"),
        col("cy").cast("long").as("cy"))
      .join(occ.select(key.map(col): _*), key, "left_semi")
      .distinct()
      .withColumn("dist", lit(0L))
      .withColumn("fresh", lit(1))
    // blocked frontier Bellman-Ford (the Bfs.scala device on the
    // implicit lattice): the ×5 scatter's (0,0) self-entry carries every
    // settled label while the four real offsets relax only cells whose
    // distance improved last round; the entered cost joins in from the
    // raster AFTER the scatter (inner join — off-lattice targets drop).
    // min(struct(dist, fresh)) prefers the existing label on ties, so
    // only STRICT improvements re-expand — the unfused loop's left-join
    // filter, fused into the combine — and the runner's stop test.
    // Relaxations saturate at Long.MaxValue and a saturated result fails
    // the job, as in Sssp.
    val out = graft.graph.Fixpoint.run(init, maxRounds, 8,
        "Raster.costDistance") { (cur, _) =>
      cur.select(col(idCol), col("dist"), col("fresh"),
          explode(array(
            struct(col("cx"), col("cy"), lit(1).as("self")) +:
            Seq((-1, 0), (1, 0), (0, -1), (0, 1)).map { case (dx, dy) =>
              struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"),
                lit(0).as("self"))
            }: _*)).as("t"))
        .filter(col("t.self") === 1 || col("fresh") === 1)
        .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"),
          col("t.self").as("self"), col("dist"))
        .join(occ, key)
        .select(col(idCol), col("cx"), col("cy"),
          when(col("self") === 1, col("dist"))
            .otherwise(graft.graph.Sssp.relax(col("dist"), col("v"))).as("d"),
          (lit(1) - col("self")).as("f"))
        .groupBy(key.map(col): _*)
        .agg(min(struct(col("d"), col("f"))).as("m"))
        .select(col(idCol), col("cx"), col("cy"),
          col("m.d").as("dist"), col("m.f").as("fresh"))
    }
    out.select(col(idCol), col("cx"), col("cy"),
      graft.graph.Sssp.fits(col("dist"), "Raster.costDistance").as("dist"))
  }

  /** Bresenham-equivalent polyline rasterization: one cell per
    * major-axis step (the midpoint/DDA line — round-half-up of the
    * minor axis), PURE column arithmetic: segments are normalized to
    * lexicographic direction, the minor coordinate is
    * y0 + ⌊(2·t·dy + L + 2·L·|dy|) / (2·L)⌋ − |dy| with L =
    * max(|dx|, |dy|) — the +2·L·|dy| shift keeps the numerator
    * nonnegative so truncating and flooring division agree (Spark `div`
    * truncates toward zero, ANSI `//` floors; on nonnegative operands
    * they coincide), letting a SQL oracle replay it verbatim. Input
    * (seg_id, ax, ay, bx, by) integer endpoints; output (seg_id, cx,
    * cy), one row per step t ∈ [0, L] — the major axis strictly
    * advances, so rows are distinct by construction. Narrow: one
    * explode, no shuffle.
    */
  def lineRaster(segs: DataFrame, idCol: String = "seg_id"): DataFrame = {
    val sw = col("bx") < col("ax") ||
      (col("bx") === col("ax") && col("by") < col("ay"))
    segs.select(col(idCol),
        when(sw, col("bx")).otherwise(col("ax")).cast("long").as("x0"),
        when(sw, col("by")).otherwise(col("ay")).cast("long").as("y0"),
        when(sw, col("ax")).otherwise(col("bx")).cast("long").as("x1"),
        when(sw, col("ay")).otherwise(col("by")).cast("long").as("y1"))
      .withColumn("dx", col("x1") - col("x0"))
      .withColumn("dy", col("y1") - col("y0"))
      .withColumn("len", greatest(abs(col("dx")), abs(col("dy"))))
      .select(col(idCol), col("x0"), col("y0"), col("dx"), col("dy"),
        col("len"), explode(sequence(lit(0L), col("len"))).as("t"))
      .select(col(idCol),
        when(col("len") === 0, col("x0"))
          .otherwise(expr("x0 + (2 * t * dx + len) div (2 * len)")).as("cx"),
        when(col("len") === 0, col("y0"))
          .otherwise(expr(
            "y0 + (2 * t * dy + len + 2 * len * abs(dy)) div (2 * len) - abs(dy)"))
          .as("cy"))
  }

  /** Manhattan distance transform of a binary cell raster: per occupied
    * cell the L1 distance to the nearest cell OUTSIDE the raster
    * (boundary cells = 1) — equivalently the erosion-ring depth, since
    * the L1 shortest path to the nearest complement cell can always be
    * taken monotone (any complement cell met earlier on the path would
    * be strictly closer), so the unconstrained L1 distance equals the
    * geodesic erosion depth. Emits (idCol, cx, cy, dist).
    *
    * EXACT SEPARABLE CLOSED FORM (Rosenfeld & Pfaltz 1966, the
    * two-pass-per-axis DP, expressed as run-partitioned window passes —
    * the q166 summed-area-table precedent): with D(x') the vertical
    * distance from column-x' row-cy to the nearest complement in that
    * column, d(c) = min over x' of (|x − x'| + D(x')). Candidates
    * beyond c's contiguous horizontal run are dominated by the run's
    * own end gaps (the complement cell in between is strictly closer),
    * so the row scan decomposes into per-run prefix/suffix minima:
    *   left(x)  = x + min_{x' ≤ x in run} (dcol(x') − x')
    *   right(x) = −x + min_{x' ≥ x in run} (dcol(x') + x')
    *   hgap(x)  = min(x − run_start + 1, run_end − x + 1)
    * and dcol comes from the same gaps-and-islands run decomposition
    * per column. Three hash exchanges total — (id, cx), (id, cy),
    * nothing else — zero driver rounds, no iteration: the former
    * level-synchronous BFS paid one full join round per erosion ring
    * (D rounds × 3 driver jobs); this is the identical field as ONE
    * linear plan. Every window partitions by a per-run key (id, axis,
    * run) — lattice-run sized, never a global sort. The BFS sibling
    * survives as RasterSpec's oracle, pinned equal there.
    */
  def distanceTransform(cells: DataFrame,
      idCol: String = "relation_id"): DataFrame = {
    val occ = cells.select(col(idCol), col("cx").cast("long").as("cx"),
      col("cy").cast("long").as("cy"))
    // vertical runs: within (id, cx), maximal contiguous cy intervals;
    // nearest in-column complement is just past the run's ends
    val wv = Window.partitionBy(col(idCol), col("cx")).orderBy(col("cy"))
    val wvg = Window.partitionBy(col(idCol), col("cx"), col("vgrp"))
    val dcol = occ
      .withColumn("vgrp", col("cy") - row_number().over(wv))
      .withColumn("dcol", least(
        col("cy") - min(col("cy")).over(wvg) + 1L,
        max(col("cy")).over(wvg) - col("cy") + 1L))
      .select(col(idCol), col("cx"), col("cy"), col("dcol"))
    // horizontal runs + the two directional prefix minima over dcol
    val wh = Window.partitionBy(col(idCol), col("cy")).orderBy(col("cx"))
    val whgOrd = Window.partitionBy(col(idCol), col("cy"), col("hgrp"))
      .orderBy(col("cx"))
    val whgAll = Window.partitionBy(col(idCol), col("cy"), col("hgrp"))
    dcol
      .withColumn("hgrp", col("cx") - row_number().over(wh))
      .withColumn("lmin", min(col("dcol") - col("cx"))
        .over(whgOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rmin", min(col("dcol") + col("cx"))
        .over(whgOrd.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("hgap", least(
        col("cx") - min(col("cx")).over(whgAll) + 1L,
        max(col("cx")).over(whgAll) - col("cx") + 1L))
      .select(col(idCol), col("cx"), col("cy"),
        least(col("hgap"), col("lmin") + col("cx"),
          col("rmin") - col("cx")).as("dist"))
  }
}
