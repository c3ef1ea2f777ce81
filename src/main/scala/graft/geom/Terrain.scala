package graft.geom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Terrain analysis over an integer elevation cell raster (idCol, cx, cy,
  * z) — the DEM layer of the map-algebra stack: Horn slope/aspect, D8
  * steepest-descent flow routing with accumulation, watershed sink
  * labeling, and exact line-of-sight viewsheds. Every kernel is exact
  * integer arithmetic end to end (gradients are Horn numerators ×8·pitch,
  * LOS comparisons are cross-multiplied rationals), so a SQL oracle can
  * replay each one bit-for-bit.
  *
  * Scale shapes: slope/aspect and D8 are one ×8 scatter + ONE hash
  * exchange each (the focalStats discipline); flow accumulation and sink
  * labeling run POINTER DOUBLING over the flow forest — O(log L) rounds
  * for the longest flow path L, each round one equi-join on the cell key,
  * with localCheckpoint lineage cuts — not the O(L)-round topological
  * peel that would dominate on long valley paths; the viewshed is a
  * per-ray self-join whose quadratic term is bounded by the ray length
  * (lattice radius), never corpus-sized.
  */
object Terrain {

  /** D8 direction table, index 0..7 counter-clockwise from east. The
    * reverse of direction k is (k + 4) % 8.
    */
  val Dirs: IndexedSeq[(Int, Int)] =
    IndexedSeq((1, 0), (1, 1), (0, 1), (-1, 1), (-1, 0), (-1, -1), (0, -1), (1, -1))

  private def key(idCol: String) = Seq(idCol, "cx", "cy")

  private def occOf(cells: DataFrame, idCol: String): DataFrame =
    cells.select(col(idCol), col("cx").cast("long").as("cx"),
      col("cy").cast("long").as("cy"), col("z").cast("long").as("z"))

  /** Horn (1981) slope + aspect over the DEM: per interior cell (all 8
    * neighbors present) the gradient NUMERATORS
    *   gx = (zE·2 + zNE + zSE) − (zW·2 + zNW + zSW)
    *   gy = (zN·2 + zNE + zNW) − (zS·2 + zSE + zSW)
    * (exact integers; the usual /(8·pitch) denominator is constant and
    * dropped), slope2 = gx² + gy² (the squared-magnitude slope the
    * thresholded slope classes compare against), the aspect octant under
    * the [[graft.img.ImageOps.hogOctants]] sign/|·| convention (−1 for
    * flat cells), and the hillshade numerator shade = gy − gx (dot
    * product with the fixed NW-ish light (−1, 1)).
    *
    * One ×8 scatter (narrow — each source's z lands on its neighbors
    * tagged with the source-relative offset), ONE hash exchange on the
    * cell key, and the Horn weights fold in the aggregation as
    * wx = ox·(2−|oy|), wy = oy·(2−|ox|) — no per-neighbor pivot.
    */
  def slopeAspect(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    val occ = occOf(cells, idCol)
    val scattered = occ.select(col(idCol), col("z"),
        explode(array(Dirs.map { case (dx, dy) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"),
            lit(-dx.toLong).as("ox"), lit(-dy.toLong).as("oy"))
        }: _*)).as("t"))
      .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"),
        col("z"), col("t.ox").as("ox"), col("t.oy").as("oy"))
    val grads = scattered.groupBy(key(idCol).map(col): _*)
      .agg(count(lit(1)).as("nn"),
        sum(col("z") * col("ox") * (lit(2L) - abs(col("oy")))).as("gx"),
        sum(col("z") * col("oy") * (lit(2L) - abs(col("ox")))).as("gy"))
      .filter(col("nn") === 8)
      .drop("nn")
    val ax = abs(col("gx")); val ay = abs(col("gy"))
    val octant =
      when(col("gx") === 0 && col("gy") === 0, lit(-1L))
        .when(col("gx") >= 0 && col("gy") >= 0, when(ax >= ay, 0L).otherwise(1L))
        .when(col("gx") < 0 && col("gy") >= 0, when(ax < ay, 2L).otherwise(3L))
        .when(col("gx") < 0 && col("gy") < 0, when(ax >= ay, 4L).otherwise(5L))
        .otherwise(when(ax < ay, 6L).otherwise(7L))
    occ.join(grads, key(idCol))
      .select(col(idCol), col("cx"), col("cy"), col("z"), col("gx"), col("gy"),
        (col("gx") * col("gx") + col("gy") * col("gy")).as("slope2"),
        octant.as("octant"),
        (col("gy") - col("gx")).as("shade"))
  }

  /** D8 steepest-descent flow direction: per cell the neighbor with the
    * largest POSITIVE drop z − zn (pure max-drop D8 — no √2 distance
    * normalization, keeping the comparison exact integer), smallest
    * direction index on ties; cells with no lower neighbor are sinks
    * (dir −1, nx/ny null). Emits (idCol, cx, cy, z, dir, nx, ny).
    * Because z strictly decreases along every edge, the flow graph is an
    * acyclic forest — the invariant [[flowAccumulation]] and
    * [[sinkLabel]] rely on.
    *
    * Same shape as [[slopeAspect]]: ×8 scatter tagged with the reverse
    * direction index + the one hash exchange; the argmax is
    * max(struct(drop, −dir, nx, ny)) — no window.
    */
  def d8Flow(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    val occ = occOf(cells, idCol)
    // source (cx,cy,z) lands on neighbor target (cx+dx, cy+dy); seen from
    // the target, the source sits in direction (k+4)%8 and IS the
    // downstream candidate (target's neighbor), so nx/ny = source cell
    val scattered = occ.select(col(idCol), col("z").as("nz"),
        explode(array(Dirs.zipWithIndex.map { case ((dx, dy), k) =>
          struct((col("cx") + dx).as("cx"), (col("cy") + dy).as("cy"),
            lit(((k + 4) % 8).toLong).as("dir"),
            col("cx").as("nx"), col("cy").as("ny"))
        }: _*)).as("t"))
      .select(col(idCol), col("t.cx").as("cx"), col("t.cy").as("cy"),
        col("t.dir").as("dir"), col("t.nx").as("nx"), col("t.ny").as("ny"),
        col("nz"))
    val best = occ.join(scattered, key(idCol))
      .filter(col("z") > col("nz"))
      .groupBy(key(idCol).map(col): _*)
      .agg(max(struct((col("z") - col("nz")).as("drop"),
        (-col("dir")).as("negd"), col("nx"), col("ny"))).as("m"))
      .select(col(idCol), col("cx"), col("cy"), (-col("m.negd")).as("dir"),
        col("m.nx").as("nx"), col("m.ny").as("ny"))
    occ.join(best, key(idCol), "left")
      .select(col(idCol), col("cx"), col("cy"), col("z"),
        coalesce(col("dir"), lit(-1L)).as("dir"), col("nx"), col("ny"))
  }

  /** Flow accumulation over a [[d8Flow]] forest: per cell 1 + the number
    * of cells whose flow path passes through it (the upstream drainage
    * count — map algebra's flow accumulation grid). Emits (idCol, cx,
    * cy, dir, acc) — the D8 direction rides along so one result row
    * carries the whole routing decision.
    *
    * Reach-closure POINTER DOUBLING: `reach` holds all strictly-
    * downstream pairs within distance 2^k, `jump` the node at distance
    * exactly 2^k; per round reach ∪= jump∘reach and jump = jump∘jump.
    * On a functional (out-degree ≤ 1) acyclic graph every pair is
    * produced exactly once — no distinct needed — and the loop ends in
    * ⌈log₂ L⌉ rounds. Total state is Σ path lengths (the same rows the
    * answer needs), cut by one [[graft.graph.Fixpoint]] checkpoint per
    * round.
    */
  def flowAccumulation(flow: DataFrame, idCol: String = "relation_id",
      maxRounds: Int = 48): DataFrame = {
    val e = flow.filter(col("dir") >= 0)
      .select(col(idCol), col("cx").as("ucx"), col("cy").as("ucy"),
        col("nx").as("vcx"), col("ny").as("vcy"))
    // state: the reach rows (fresh 0) plus the jump rows (fresh 1) —
    // every jump row is a pair at distance exactly 2^k, new that round,
    // so the round whose jump comes out empty ends the loop (its last
    // extension is already folded into reach). Init reads `e` once.
    val init = e.select(col("*"), explode(array(lit(0), lit(1))).as("fresh"))
    val state = graft.graph.Fixpoint.run(init, maxRounds, 1,
        "Terrain.flowAccumulation") { (cur, _) =>
      val reach = cur.filter(col("fresh") === 0)
      val jump = cur.filter(col("fresh") === 1)
      val hop = jump.select(col(idCol), col("ucx"), col("ucy"),
        col("vcx").as("jcx"), col("vcy").as("jcy"))
      def after(pairs: DataFrame, fresh: Int): DataFrame = hop.join(
          pairs.select(col(idCol), col("ucx").as("jcx"), col("ucy").as("jcy"),
            col("vcx"), col("vcy")),
          Seq(idCol, "jcx", "jcy"))
        .select(col(idCol), col("ucx"), col("ucy"), col("vcx"), col("vcy"),
          lit(fresh).as("fresh"))
      reach.unionByName(after(reach, 0)).unionByName(after(jump, 1))
    }
    val reach = state.filter(col("fresh") === 0)
    val cells = flow.select(col(idCol), col("cx"), col("cy"), col("dir"))
    val up = reach.groupBy(col(idCol), col("vcx").as("cx"), col("vcy").as("cy"))
      .agg(count(lit(1)).as("upstream"))
    cells.join(up, key(idCol), "left")
      .select(col(idCol), col("cx"), col("cy"), col("dir"),
        (lit(1L) + coalesce(col("upstream"), lit(0L))).as("acc"))
  }

  /** Watershed labeling over a [[d8Flow]] forest: per cell the terminal
    * sink its flow path drains to (pits label themselves) — the basin
    * partition. Emits (idCol, cx, cy, sink_cx, sink_cy).
    *
    * Plain pointer doubling on f(c) = next(c) (sinks fixed): f ← f∘f
    * until fixpoint; state stays one row per cell, ⌈log₂ L⌉ + 1 rounds,
    * one [[graft.graph.Fixpoint]] checkpoint per round.
    */
  def sinkLabel(flow: DataFrame, idCol: String = "relation_id",
      maxRounds: Int = 48): DataFrame = {
    val init = flow.select(col(idCol), col("cx"), col("cy"),
      coalesce(col("nx"), col("cx")).as("fx"),
      coalesce(col("ny"), col("cy")).as("fy"), lit(1).as("fresh"))
    // a round marks the cells whose pointer moved
    val f = graft.graph.Fixpoint.run(init, maxRounds, 1, "Terrain.sinkLabel") { (cur, _) =>
      cur.alias("a").join(
          cur.select(col(idCol), col("cx").as("fx"), col("cy").as("fy"),
            col("fx").as("gx2"), col("fy").as("gy2")).alias("b"),
          Seq(idCol, "fx", "fy"))
        .select(col(idCol), col("a.cx").as("cx"), col("a.cy").as("cy"),
          col("gx2").as("fx"), col("gy2").as("fy"),
          (col("gx2") =!= col("fx") || col("gy2") =!= col("fy")).cast("int").as("fresh"))
    }
    f.select(col(idCol), col("cx"), col("cy"),
      col("fx").as("sink_cx"), col("fy").as("sink_cy"))
  }

  /** Exact line-of-sight viewshed along the 8 PRINCIPAL rays (rows,
    * columns, diagonals — where every intermediate sample is itself a
    * lattice cell, keeping the test exact) from one observer per
    * polygon. A target at ray distance d (Chebyshev) is visible iff no
    * occupied intermediate cell i (0 < dᵢ < d, same ray) subtends an
    * equal-or-greater elevation angle: blocked ⇔
    * (zᵢ − z₀)·d ≥ (z − z₀)·dᵢ — the cross-multiplied rational
    * comparison (both denominators positive), no floats. Emits (idCol,
    * ray, cx, cy, d, visible 0/1).
    *
    * observers: one row per idCol with (ox, oy, oz). The candidate set
    * is rays-only (≤ 8·radius cells per polygon); the blocker test is a
    * per-(idCol, ray) self-join — quadratic in RAY LENGTH, i.e. the
    * lattice radius, never the cell count.
    */
  def lineOfSight(cells: DataFrame, observers: DataFrame,
      idCol: String = "relation_id"): DataFrame = {
    val occ = occOf(cells, idCol)
    val withObs = occ.join(broadcast(observers.select(col(idCol),
        col("ox").cast("long").as("ox"), col("oy").cast("long").as("oy"),
        col("oz").cast("long").as("oz"))), Seq(idCol))
      .withColumn("dx", col("cx") - col("ox"))
      .withColumn("dy", col("cy") - col("oy"))
      .filter(!(col("dx") === 0 && col("dy") === 0))
      .filter(col("dx") === 0 || col("dy") === 0 || abs(col("dx")) === abs(col("dy")))
    val sx = signum(col("dx")).cast("long"); val sy = signum(col("dy")).cast("long")
    val rayIdx = Dirs.zipWithIndex.foldLeft(lit(-1L)) { case (acc, ((dx, dy), k)) =>
      when(sx === dx && sy === dy, lit(k.toLong)).otherwise(acc)
    }
    val rays = withObs
      .withColumn("ray", rayIdx)
      .withColumn("d", greatest(abs(col("dx")), abs(col("dy"))))
      .withColumn("rz", col("z") - col("oz"))
      .select(col(idCol), col("ray"), col("cx"), col("cy"), col("d"), col("rz"))
    val blockers = rays.select(col(idCol), col("ray"), col("d").as("bd"),
      col("rz").as("brz"))
    val vis = rays.alias("c")
      .join(blockers.alias("b"),
        col(s"c.$idCol") === col(s"b.$idCol") && col("c.ray") === col("b.ray") &&
          col("b.bd") < col("c.d"), "left")
      .groupBy(col(s"c.$idCol").as(idCol), col("c.ray").as("ray"),
        col("c.cx").as("cx"), col("c.cy").as("cy"), col("c.d").as("d"))
      .agg(max(when(col("b.brz") * col("c.d") >= col("c.rz") * col("b.bd"), 1L)
        .otherwise(0L)).as("anyblock"))
      .select(col(idCol), col("ray"), col("cx"), col("cy"), col("d"),
        (lit(1L) - coalesce(col("anyblock"), lit(0L))).as("visible"))
    vis
  }

  /** The per-polygon summit observer for [[lineOfSight]]: the highest
    * cell, ties broken by (cy, cx) — one row per idCol (ox, oy, oz).
    * Window is partitioned by polygon, never global.
    */
  def summitObservers(cells: DataFrame, idCol: String = "relation_id"): DataFrame = {
    val occ = occOf(cells, idCol)
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("z").desc, col("cy"), col("cx"))
    occ.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col(idCol), col("cx").as("ox"), col("cy").as("oy"),
        col("z").as("oz"))
  }
}
