package graft.osm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.geom.{Pt, PolygonRow}
import graft.ring.RingAssembler
import graft.ring.RingAssembler.SegNode

/** The reference's entire program as ONE declarative Spark query
  * (SURVEY.md §3): three scans → filters → order-preserving joins →
  * one shuffle re-nest → per-relation ring-assembly kernel → projection.
  *
  * Scale design (100 TB): `relations` after the F1/F2 filter is tiny
  * relative to `ways`/`nodes` (admin boundaries are a vanishing fraction of
  * OSM), so the exploded member list is BROADCAST into both big-table joins
  * — the big sides stream map-side with no shuffle (the distributed form of
  * the reference's HashSet semi-joins, `/root/reference/src/utils.rs:4-9`).
  * The only shuffle is the final groupBy(relation_id) re-nest, whose key
  * cardinality = number of boundaries (small) and whose per-key payload =
  * one boundary's vertices (bounded). Ring assembly is embarrassingly
  * parallel per relation (narrow map).
  */
object BoundaryExtract {

  /** One flattened vertex after the joins: enough to re-nest segments in
    * exact relation-member × way-node order. `inner` (the member's role is
    * "inner") is last, so it never decides the sort order.
    */
  final case class SegPoint(member_pos: Int, node_pos: Int, node_id: Long,
      lat_dm: Int, lon_dm: Int, inner: Boolean)

  final case class RelSegments(relation_id: Long, tags: Map[String, String],
      pts: Seq[SegPoint])

  /** F1 + F2 — boundary=administrative ∧ admin_level ∈ [min,max] with the
    * reference's parse-default-127 semantics
    * (`/root/reference/src/osm_reader.rs:45-53,94-96`).
    */
  def filterAdminRelations(relations: DataFrame, minAdmin: Int, maxAdmin: Int): DataFrame =
    relations
      .filter(element_at(col("tags"), "boundary") === "administrative")
      .filter(AdminLevel.adminLevelI8Col(element_at(col("tags"), "admin_level"))
        .between(minAdmin, maxAdmin))

  /** F3 — member projection: way members only, ANY role, member order kept
    * via posexplode (`/root/reference/src/osm_reader.rs:55-57`).
    * The role rides along as `inner` for [[extractRfc7946]]; null-safe, so
    * a member without a role reads as outer.
    */
  def memberWays(filteredRelations: DataFrame): DataFrame =
    filteredRelations
      .select(col("id").as("relation_id"),
        posexplode(col("members")).as(Seq("member_pos", "m")))
      .filter(col("m.member_type") === "way")
      .select(col("relation_id"), col("member_pos"), col("m.member_id").as("way_id"),
        (col("m.role") <=> "inner").as("inner"))

  /** Broadcast/shuffle auto-switch: (broadcast member list?, broadcast
    * per-vertex frames?). The vertex side uses members × 64 (conservative
    * mean way length; OSM caps ways at 2000 nodes) against the same
    * threshold. `Long.MaxValue` forces broadcast without counting; ≤ 0
    * forces shuffle.
    */
  private def broadcastDecision(members: DataFrame,
      maxBroadcastMembers: Long): (Boolean, Boolean) = {
    if (maxBroadcastMembers == Long.MaxValue) (true, true)
    else if (maxBroadcastMembers <= 0) (false, false)
    else {
      val n = members.count()
      (n <= maxBroadcastMembers, n * 64 <= maxBroadcastMembers)
    }
  }

  private def maybeBroadcast(df: DataFrame, on: Boolean): DataFrame =
    if (on) broadcast(df) else df

  /** Full pipeline: (relations, ways, nodes) → typed Dataset[PolygonRow].
    *
    * Join semantics: INNER both times — dangling way refs and dangling node
    * refs are silently dropped (`filter_map`, osm_reader.rs:59-81). A way
    * whose nodes ALL dangle yields no rows ≡ the empty segment our ring
    * assembler drops (documented divergence, SURVEY.md §7.4.4). Relations
    * with zero surviving segments are KEPT (left join back) — the reference
    * emits a Polygon with an empty points list for them.
    *
    * @param maxBroadcastMembers auto-switch threshold: when the exploded
    *   member list exceeds this many rows, BOTH big joins (and the final
    *   re-nest re-attach) run as shuffle joins instead of broadcasts — at
    *   planet scale (~10⁷-10⁸ boundary way refs, each way ≤2000 nodes by the
    *   OSM data model) the per-vertex `waySegs` frame exceeds any sane
    *   broadcast. The vertex-side decision uses `members × 64` (conservative
    *   mean way length) against the same threshold so a small member list
    *   over long ways also degrades gracefully. `Long.MaxValue` forces
    *   broadcast (skips the sizing count); 0 forces shuffle.
    */
  def extract(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      minAdmin: Int = 8,
      maxAdmin: Int = 8,
      maxBroadcastMembers: Long = 10000000L): Dataset[PolygonRow] = {
    import spark.implicits._
    relSegments(spark, relations, ways, nodes, minAdmin, maxAdmin, maxBroadcastMembers)
      .map(assemblePolygon)
  }

  /** The shared scan→join→re-nest front half of the pipeline (S1-S3,
    * J1-J4, G1-G2): one row per admin relation with its flat vertex list
    * ordered by (member_pos, node_pos), decimicro coords intact. Every
    * kernel in this object — [[extract]] (float conversion + emit),
    * [[extractRfc7946]] (role-aware holes), [[polygonStats]] (exact integer
    * geometry) and the rest — maps over this one plan.
    */
  def relSegments(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      minAdmin: Int = 8,
      maxAdmin: Int = 8,
      maxBroadcastMembers: Long = 10000000L): Dataset[RelSegments] = {
    import spark.implicits._

    // rels feeds two subtrees (member explode + the final tags join) and
    // members feeds the sizing count + the ways join: lazy local
    // checkpoints, so a recompute-heavy source (e.g. a PBF decode) pays one
    // relations pass, not three, and the session's cache stays untouched.
    // Both are post-filter boundary-sized (tiny).
    val rels = filterAdminRelations(relations, minAdmin, maxAdmin).localCheckpoint(false)
    val members = memberWays(rels).localCheckpoint(false)
    val (bcastMembers, bcastSegs) = broadcastDecision(members, maxBroadcastMembers)

    // J1+J3: big `ways` streams against the (broadcast when small) member
    // list; pos kept. Shuffle fallback keys on way id — uniform.
    val waySegs = ways
      .join(maybeBroadcast(members, bcastMembers), col("id") === col("way_id"))
      .select(col("relation_id"), col("member_pos"), col("inner"),
        posexplode(col("node_ids")).as(Seq("node_pos", "node_id")))

    // J2+J4: big `nodes` streams against the surviving refs. waySegs is
    // per-VERTEX (one row per way-node ref) so its broadcast ceiling is much
    // lower than the member list's.
    val verts = nodes
      .join(maybeBroadcast(waySegs, bcastSegs), nodes("id") === waySegs("node_id"))
      .select(col("relation_id"), col("member_pos"), col("node_pos"),
        col("node_id"), col("decimicro_lat").as("lat_dm"), col("decimicro_lon").as("lon_dm"),
        col("inner"))

    // G1+G2: ONE shuffle — re-nest all of a relation's vertices, ordered by
    // (member_pos, node_pos). sort_array on the struct gives lexicographic
    // order over leading fields — collect_list alone is NOT ordered.
    val grouped = verts
      .groupBy(col("relation_id"))
      .agg(sort_array(collect_list(struct(
        col("member_pos"), col("node_pos"), col("node_id"),
        col("lat_dm"), col("lon_dm"), col("inner")))).as("pts"))

    // keep zero-segment relations: left join from the filtered relation set.
    // In shuffle mode grouped is already hash-partitioned on relation_id by
    // the aggregation, so this join adds no exchange on the big side.
    val withTags = rels
      .select(col("id").as("relation_id"), col("tags"))
      .join(maybeBroadcast(grouped, bcastSegs), Seq("relation_id"), "left")
      .select(col("relation_id"), col("tags"),
        coalesce(col("pts"), array().cast(
          "array<struct<member_pos:int,node_pos:int,node_id:bigint,lat_dm:int,lon_dm:int," +
            "inner:boolean>>"))
          .as("pts"))
      .as[RelSegments]
    withTags
  }

  /** Split the (member_pos, node_pos)-sorted flat vertex list back into
    * member-ordered segments — the form the greedy stitcher consumes.
    */
  def splitSegments(pts: Seq[SegPoint]): Seq[Seq[SegNode]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Seq[SegNode]]
    var cur = scala.collection.mutable.ArrayBuffer.empty[SegNode]
    var curPos = Int.MinValue
    pts.foreach { p =>
      if (p.member_pos != curPos && cur.nonEmpty) { out += cur.toSeq; cur = scala.collection.mutable.ArrayBuffer.empty }
      curPos = p.member_pos
      cur += SegNode(p.node_id, p.lat_dm, p.lon_dm)
    }
    if (cur.nonEmpty) out += cur.toSeq
    out.toSeq
  }

  /** The ring kernel every consumer shares: split (a subset of) one
    * relation's sorted vertices into member-ordered segments and run the
    * exact greedy stitch. Rings stay in decimicro.
    */
  private def ringsOf(pts: Seq[SegPoint]): Seq[Seq[SegNode]] =
    RingAssembler.assemble(splitSegments(pts))

  /** Exact reference conversion: (decimicro as f64 / 1e7) as f32
    * (reference `converter.rs:141-149`).
    */
  private def toPt(n: SegNode): Pt =
    Pt((n.latDm.toDouble / 10000000.0).toFloat, (n.lonDm.toDouble / 10000000.0).toFloat)

  /** Per-relation kernel: stitch the rings, convert coords, project name
    * and admin_level (`/root/reference/src/converter.rs:31-149`).
    */
  def assemblePolygon(rs: RelSegments): PolygonRow =
    PolygonRow(
      name = fullName(rs.tags),
      rings = ringsOf(rs.pts).map(_.map(toPt)),
      relation_id = rs.relation_id,
      admin_level = rs.tags.get("admin_level")
        .flatMap(s => if (s.matches("[+-]?[0-9]+")) scala.util.Try(s.toLong).toOption else None)
        .getOrElse(0L))

  /** `get_full_name` (`/root/reference/src/converter.rs:107-123`):
    * name default "UNKNOWN_NAME"; "{prefix}_{name}" when name:prefix
    * non-empty.
    */
  def fullName(tags: Map[String, String]): String = {
    val name = tags.getOrElse("name", "UNKNOWN_NAME")
    val prefix = tags.getOrElse("name:prefix", "")
    if (prefix.nonEmpty) s"${prefix}_$name" else name
  }

  final case class PolygonStatsRow(relation_id: Long, name: String,
      n_rings: Int, n_points: Int, area2: Long, winding: String,
      min_lat_dm: Int, min_lon_dm: Int, max_lat_dm: Int, max_lon_dm: Int)

  /** EXACT polygon geometry stats on the DECIMICRO rings (before any float
    * conversion): twice the total ring area by the integer shoelace,
    * winding of the first assembled ring as the stitcher produced it, and
    * the integer bounding box. The shoelace runs origin-translated to the
    * ring's first vertex — coordinate deltas are span-sized, so the
    * accumulation can't overflow Long even at ±1.8e9 decimicro extremes
    * (untranslated cross products near the antimeridian exceed 2^63 after
    * a dozen terms). Duplicate consecutive vertices and the closing
    * duplicate contribute zero, so the raw stitched rings feed in as-is.
    * Same plan as [[extract]]: the one G1 shuffle, then a narrow map.
    */
  def polygonStats(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      minAdmin: Int = 8,
      maxAdmin: Int = 8): Dataset[PolygonStatsRow] =
    polygonStatsOf(spark, relSegments(spark, relations, ways, nodes, minAdmin, maxAdmin))

  /** [[polygonStats]] over a precomputed segment table — the sharing
    * point for queries that need BOTH the stats and the contiguity
    * graph of one scene: one relSegments pass (lazily checkpointed by
    * the caller) feeds both kernels instead of re-running the
    * scan→join→re-nest front half per consumer.
    */
  def polygonStatsOf(spark: SparkSession,
      segs: Dataset[RelSegments]): Dataset[PolygonStatsRow] = {
    import spark.implicits._
    segs.map { rs =>
      val rings = ringsOf(rs.pts)
      val a2 = rings.map(r =>
        graft.geom.Geom.signedArea2Dm(r.map(_.latDm).toArray, r.map(_.lonDm).toArray))
      val pts = rings.flatten
      val winding =
        if (a2.isEmpty || a2.head == 0L) "degenerate"
        else if (a2.head > 0L) "ccw" else "cw"
      PolygonStatsRow(
        relation_id = rs.relation_id,
        name = fullName(rs.tags),
        n_rings = rings.length,
        n_points = rings.map(_.length).sum,
        area2 = a2.map(math.abs).sum,
        winding = winding,
        min_lat_dm = if (pts.isEmpty) 0 else pts.map(_.latDm).min,
        min_lon_dm = if (pts.isEmpty) 0 else pts.map(_.lonDm).min,
        max_lat_dm = if (pts.isEmpty) 0 else pts.map(_.latDm).max,
        max_lon_dm = if (pts.isEmpty) 0 else pts.map(_.lonDm).max)
    }
  }

  final case class CentroidRow(relation_id: Long, name: String,
      c_lat_dm: Int, c_lon_dm: Int)

  /** Exact integer centroid of each boundary's FIRST (outer) ring —
    * graft.geom.Geom.centroidDm's BigInt rational, rounded half-up to
    * decimicro. Degenerate/empty relations are dropped (no centroid
    * exists). Same plan shape as [[extract]].
    */
  def polygonCentroids(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      minAdmin: Int = 8,
      maxAdmin: Int = 8): Dataset[CentroidRow] = {
    import spark.implicits._
    relSegments(spark, relations, ways, nodes, minAdmin, maxAdmin).flatMap { rs =>
      val rings = ringsOf(rs.pts)
      rings.headOption.flatMap(r =>
        graft.geom.Geom.centroidDm(r.map(_.latDm).toArray, r.map(_.lonDm).toArray))
        .map { case (la, lo) => CentroidRow(rs.relation_id, fullName(rs.tags), la, lo) }
    }
  }

  /** Rook-contiguity adjacency between assembled boundary polygons — the
    * neighbor graph choropleth/spatial-lag analyses weight with (GeoDa's
    * rook weights): two polygons are adjacent iff their rings traverse at
    * least one identical undirected decimicro SEGMENT. Edge identity is
    * exact coordinates, not shared way ids, so it finds neighbors whether
    * the border is one shared way (real-OSM style) or two duplicated ways;
    * corner-touching polygons (a shared VERTEX but no shared edge — the
    * queen-minus-rook cases) do not pair.
    *
    * Scale shape: ring assembly is the existing per-relation kernel; each
    * polygon then emits its edge set narrow (locally deduped — rings are
    * relation-sized), and adjacency is ONE groupBy on the canonical edge
    * key followed by a pair-sized count — never a polygon×polygon join.
    * Edges interior to a planar subdivision are shared by exactly 2
    * polygons; groups larger than 2 (overlapping inputs) are refused
    * loudly rather than silently pair-exploded.
    */
  def contiguity(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      minAdmin: Int = 8,
      maxAdmin: Int = 8): DataFrame =
    contiguityOf(spark, relSegments(spark, relations, ways, nodes, minAdmin, maxAdmin))

  /** [[contiguity]] over a precomputed segment table — see
    * [[polygonStatsOf]] for the sharing rationale.
    */
  def contiguityOf(spark: SparkSession, segs: Dataset[RelSegments]): DataFrame = {
    import spark.implicits._
    val edges = segs
      .flatMap { rs =>
        val rings = ringsOf(rs.pts)
        val out = scala.collection.mutable.LinkedHashSet.empty[(Int, Int, Int, Int)]
        rings.foreach { r =>
          var i = 0
          while (i + 1 < r.length) {
            val p = r(i); val q = r(i + 1)
            // stitch joints and the closing vertex duplicate -> zero-length
            // edges; skip them (same convention as the shoelace kernel)
            if (p.latDm != q.latDm || p.lonDm != q.lonDm) {
              out += (if (p.latDm < q.latDm || (p.latDm == q.latDm && p.lonDm < q.lonDm))
                (p.latDm, p.lonDm, q.latDm, q.lonDm)
              else (q.latDm, q.lonDm, p.latDm, p.lonDm))
            }
            i += 1
          }
        }
        out.iterator.map { case (alat, alon, blat, blon) =>
          (alat, alon, blat, blon, rs.relation_id)
        }
      }
      .toDF("a_lat", "a_lon", "b_lat", "b_lon", "relation_id")
    // guardZero is 0 on clean edges and raises on a >2-polygon edge;
    // ADDED into the filter's comparison (the Ivm.scala pattern) so the
    // optimizer can neither split nor prune the guard conjunct
    val guardZero = when(size(col("rels")) <= 2, lit(0))
      .otherwise(raise_error(concat(
        lit("contiguity: edge shared by >2 polygons (overlapping input) at ("),
        col("a_lat"), lit(","), col("a_lon"), lit(")-("),
        col("b_lat"), lit(","), col("b_lon"), lit(")"))).cast("int"))
    edges
      .groupBy(col("a_lat"), col("a_lon"), col("b_lat"), col("b_lon"))
      .agg(collect_set(col("relation_id")).as("rels"))
      .filter(size(col("rels")) + guardZero === 2)
      .select(array_min(col("rels")).as("rel_a"), array_max(col("rels")).as("rel_b"))
      .groupBy(col("rel_a"), col("rel_b"))
      .agg(count(lit(1)).as("shared_edges"))
  }

  /** Spatial lag + global Moran's I over a contiguity graph, in the
    * exact-integer discipline (no float mean): with n polygons and value
    * sum S, the centered value is c_i = n·x_i − S (the mean multiplied
    * through), so
    *
    *   I = n · Σ_{directed ij} c_i c_j / (S0 · Σ_i c_i²)
    *
    * and the output carries the four integers (moran_num = Σ c_i c_j over
    * DIRECTED edges, moran_den = Σ c_i², s0 = directed edge count, n)
    * instead of a float ratio — both engines reproduce them bit-exactly.
    * Per-polygon rows additionally carry the rook degree and the raw
    * spatial lag Σ_{j∈N(i)} x_j (isolated polygons keep degree 0, lag 0).
    *
    * Scale shape: `values` is polygon-count-sized and `adjacency` is
    * pair-sized. `values` feeds four consumers, so it is cut once with a
    * lazy local checkpoint: its upstream (ring assembly) runs once and no
    * cache outlives the call. `adjacency` ends in an aggregation, whose
    * exchange the plan's three edge consumers reuse, so it is not cut.
    * All joins are hash equi-joins on relation id; the three global
    * aggregates are 1-row frames broadcast back. No window, no sort.
    */
  def spatialLag(values: DataFrame, adjacency: DataFrame): DataFrame = {
    val vals = values.select(col("relation_id"), col("x").cast("long").as("x"))
      .localCheckpoint(false)
    val und = adjacency.select(col("rel_a").as("src"), col("rel_b").as("dst"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val g = vals.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val c = vals.crossJoin(broadcast(g))
      .select(col("relation_id"), col("x"), col("n"),
        (col("n") * col("x") - col("s")).as("c"))
    val lagged = dir
      .join(vals.select(col("relation_id").as("dst_id"), col("x").as("x_dst")),
        col("dst") === col("dst_id"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"), sum(col("x_dst")).as("lag"))
    val num = dir
      .join(c.select(col("relation_id").as("src_id"), col("c").as("c_src")),
        col("src") === col("src_id"))
      .join(c.select(col("relation_id").as("dst_id"), col("c").as("c_dst")),
        col("dst") === col("dst_id"))
      .agg(coalesce(sum(col("c_src") * col("c_dst")), lit(0L)).as("moran_num"))
    val s0 = dir.agg(count(lit(1)).as("s0"))
    val den = c.agg(coalesce(sum(col("c") * col("c")), lit(0L)).as("moran_den"))
    c.join(lagged, col("relation_id") === col("src"), "left")
      .crossJoin(broadcast(num))
      .crossJoin(broadcast(s0))
      .crossJoin(broadcast(den))
      .select(col("relation_id"), col("x"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("lag"), lit(0L)).as("lag"),
        col("moran_num"), col("moran_den"), col("s0"), col("n"))
  }

  /** Local Moran (Anselin 1995's LISA) over a contiguity graph, exact
    * integers: with c_i = n·x_i − S (the centered value with the mean
    * multiplied through, as in [[spatialLag]]) the per-polygon numerator is
    *
    *   lisa_num_i = c_i · Σ_{j∈N(i)} c_j = c_i · (n·lag_i − degree_i·S)
    *
    * — the scale factor n/Σc² that turns it into Anselin's I_i is common
    * to every row, so the integers alone rank hot/cold spots and fix the
    * quadrant. Quadrants follow GeoDa's Moran-scatterplot convention:
    * HH/HL/LH/LL by the signs of (c_i, lag_c_i), ISO for degree-0 polygons
    * (no neighbors → no lag), NA when either term sits exactly on the mean.
    *
    * Scale shape: one hash join values→lag aggregation (edge-sized), one
    * left join back (polygon-sized), the global (n, S) as a 1-row
    * broadcast. No window, no sort; [[spatialLag]]'s checkpoint rationale
    * applies to `vals` (it feeds the lag join and the re-attach).
    */
  def localMoran(values: DataFrame, adjacency: DataFrame): DataFrame = {
    val vals = values.select(col("relation_id"), col("x").cast("long").as("x"))
      .localCheckpoint(false)
    val und = adjacency.select(col("rel_a").as("src"), col("rel_b").as("dst"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val g = vals.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val lagged = dir
      .join(vals.select(col("relation_id").as("dst_id"), col("x").as("x_dst")),
        col("dst") === col("dst_id"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"), sum(col("x_dst")).as("lag"))
    val cCol = col("n") * col("x") - col("s")
    val lagCCol = col("n") * coalesce(col("lag"), lit(0L)) -
      coalesce(col("degree"), lit(0L)) * col("s")
    vals.join(lagged, col("relation_id") === col("src"), "left")
      .crossJoin(broadcast(g))
      .select(col("relation_id"), col("x"),
        coalesce(col("degree"), lit(0L)).as("degree"),
        coalesce(col("lag"), lit(0L)).as("lag"),
        cCol.as("c"), lagCCol.as("lag_c"),
        (cCol * lagCCol).as("lisa_num"),
        when(coalesce(col("degree"), lit(0L)) === 0L, lit("ISO"))
          .when(cCol > 0 && lagCCol > 0, lit("HH"))
          .when(cCol > 0 && lagCCol < 0, lit("HL"))
          .when(cCol < 0 && lagCCol > 0, lit("LH"))
          .when(cCol < 0 && lagCCol < 0, lit("LL"))
          .otherwise(lit("NA")).as("quadrant"))
  }

  /** Getis-Ord local G over a contiguity graph, exact integers (Getis &
    * Ord 1992's hot/cold-spot statistic, the non-self-inclusive G_i form
    * natural to rook weights): G_i compares the neighbor sum lag_i
    * against its expectation degree_i·(S − x_i)/(n − 1) under the null,
    * so the sign of the integer
    *
    *   g_num_i = (n − 1)·lag_i − degree_i·(S − x_i)
    *
    * IS the hot (> 0) / cold (< 0) verdict, and its magnitude ranks the
    * spots — the (n−1) scale factor is common to every row, as in
    * [[localMoran]]'s lisa_num. Unlike LISA (which measures similarity
    * to neighbors, so a low plateau reads HH), local G reads ABSOLUTE
    * concentration: a polygon surrounded by high values is HOT even if
    * it is itself low. ISO for degree-0 polygons, EVEN on exact balance.
    *
    * Scale shape: identical to [[localMoran]] — one edge-sized lag
    * aggregation, one polygon-sized left join back, the global (n, S) as
    * a 1-row broadcast. No window, no sort.
    */
  def localG(values: DataFrame, adjacency: DataFrame): DataFrame = {
    val vals = values.select(col("relation_id"), col("x").cast("long").as("x"))
      .localCheckpoint(false)
    val und = adjacency.select(col("rel_a").as("src"), col("rel_b").as("dst"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val g = vals.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val lagged = dir
      .join(vals.select(col("relation_id").as("dst_id"), col("x").as("x_dst")),
        col("dst") === col("dst_id"))
      .groupBy(col("src"))
      .agg(count(lit(1)).as("degree"), sum(col("x_dst")).as("lag"))
    val degree = coalesce(col("degree"), lit(0L))
    val lag = coalesce(col("lag"), lit(0L))
    val gNum = (col("n") - 1L) * lag - degree * (col("s") - col("x"))
    vals.join(lagged, col("relation_id") === col("src"), "left")
      .crossJoin(broadcast(g))
      .select(col("relation_id"), col("x"),
        degree.as("degree"), lag.as("lag"), gNum.as("g_num"),
        when(degree === 0L, lit("ISO"))
          .when(gNum > 0L, lit("HOT"))
          .when(gNum < 0L, lit("COLD"))
          .otherwise(lit("EVEN")).as("spot"))
  }

  /** Global spatial-autocorrelation battery — Moran's I, Geary's C and
    * Getis-Ord General G over a contiguity graph, as ONE row of exact
    * integers from ONE edge aggregation. With S = Σx, Q = Σx² and
    * c_i = n·x_i − S, every global reduces to edge sums and (n, S, Q):
    *
    *   moran_den = Σ c_i²                    = n·(n·Q − S²)
    *   moran_num = Σ_{ij} c_i c_j            = n²·P − n·S·E + s0·S²
    *   geary_num = Σ_{ij} (x_i − x_j)²       (directly)
    *   gg_num    = Σ_{ij} x_i x_j = P,   gg_den = S² − Q
    *
    * where P = Σ_edges x_i·x_j, E = Σ_edges (x_i + x_j) over DIRECTED
    * edges and s0 their count. The float statistics are then
    * I = n·moran_num/(s0·moran_den), C = n²·(n−1)·geary_num/(2·s0·moran_den),
    * G = gg_num/gg_den — all reconstructible bit-exactly by any engine.
    *
    * Scale shape: two hash joins edge→value (edge-sized), one edge-sized
    * aggregation, one polygon-sized aggregation; the output is a single
    * row assembled from two 1-row broadcasts. No per-polygon state is
    * materialized at all — this form never touches a c_i column.
    */
  def globalAutocorr(values: DataFrame, adjacency: DataFrame): DataFrame = {
    val vals = values.select(col("relation_id"), col("x").cast("long").as("x"))
      .localCheckpoint(false)
    val und = adjacency.select(col("rel_a").as("src"), col("rel_b").as("dst"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val g = vals.agg(count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x") * col("x")).as("q"))
    val e = dir
      .join(vals.select(col("relation_id").as("src_id"), col("x").as("x_src")),
        col("src") === col("src_id"))
      .join(vals.select(col("relation_id").as("dst_id"), col("x").as("x_dst")),
        col("dst") === col("dst_id"))
      .agg(count(lit(1)).as("s0"),
        coalesce(sum(col("x_src") * col("x_dst")), lit(0L)).as("p"),
        coalesce(sum(col("x_src") + col("x_dst")), lit(0L)).as("e"),
        coalesce(sum((col("x_src") - col("x_dst")) * (col("x_src") - col("x_dst"))),
          lit(0L)).as("geary_num"))
    broadcast(g).crossJoin(broadcast(e))
      .select(col("n"),
        (col("n") * col("n") * col("p") - col("n") * col("s") * col("e") +
          col("s0") * col("s") * col("s")).as("moran_num"),
        (col("n") * (col("n") * col("q") - col("s") * col("s"))).as("moran_den"),
        col("geary_num"),
        col("p").as("gg_num"),
        (col("s") * col("s") - col("q")).as("gg_den"),
        col("s0"))
  }

  /** Join-count statistics — the categorical sibling of [[globalAutocorr]]
    * (Cliff & Ord 1981 ch. 1; GeoDa's "univariate join counts"): for a
    * BINARY attribute b ∈ {0, 1} over the rook graph, count the
    * UNDIRECTED edge types BB (both 1), WW (both 0), BW (mixed), and
    * carry the nonfree-sampling expectations as exact integer rationals
    * over the shared denominator n·(n−1):
    *
    *   E[BB] = m·nB·(nB−1) / (n·(n−1)),  E[BW] = 2·m·nB·nW / (n·(n−1)),
    *   E[WW] = m·nW·(nW−1) / (n·(n−1))
    *
    * — one row of ten bigints, no float anywhere, so both engines
    * reproduce it bit-exactly. BB ≫ E[BB] reads "clustered", BW ≫ E[BW]
    * "dispersed" — the categorical autocorrelation verdict.
    *
    * Scale shape: two polygon-sized hash joins attach b to each edge
    * endpoint, ONE edge-sized aggregation, and the polygon-global (n, nB)
    * as a 1-row broadcast. No window, no sort. `values` is cut with a lazy
    * local checkpoint — it feeds both the edge join and the global count.
    */
  def joinCounts(values: DataFrame, adjacency: DataFrame): DataFrame = {
    val vals = values.select(col("relation_id"), col("b").cast("long").as("b"))
      .localCheckpoint(false)
    val e = adjacency.select(col("rel_a"), col("rel_b"))
      .join(vals.select(col("relation_id").as("rel_a"), col("b").as("b_a")), "rel_a")
      .join(vals.select(col("relation_id").as("rel_b"), col("b").as("b_b")), "rel_b")
      .agg(count(lit(1)).as("m"),
        coalesce(sum(col("b_a") * col("b_b")), lit(0L)).as("bb"),
        coalesce(sum((lit(1L) - col("b_a")) * (lit(1L) - col("b_b"))), lit(0L)).as("ww"))
    val g = vals.agg(count(lit(1)).as("n"), sum(col("b")).as("nb"))
    val nw = col("n") - col("nb")
    e.crossJoin(broadcast(g))
      .select(col("n"), col("nb"), col("m"),
        col("bb"), (col("m") - col("bb") - col("ww")).as("bw"), col("ww"),
        (col("m") * col("nb") * (col("nb") - 1L)).as("e_bb_num"),
        (lit(2L) * col("m") * col("nb") * nw).as("e_bw_num"),
        (col("m") * nw * (nw - 1L)).as("e_ww_num"),
        (col("n") * (col("n") - 1L)).as("e_den"))
  }

  /** Dissolve — the classic GIS merge: rook-adjacent polygons sharing an
    * attribute value collapse into one region (QGIS/PostGIS `ST_Union ...
    * GROUP BY attr`, but restricted to CONTIGUOUS same-attribute runs, the
    * cartographic form). Composition of three existing operators:
    * [[contiguity]] supplies the pair graph, the same-attribute filter
    * drops cross-attribute edges BEFORE closure (so components can never
    * bridge attributes), and `Dedup.connectedComponents` labels regions
    * (driver union-find under the broadcast-sized cutover, star
    * contraction above it). Region id = min relation_id in
    * the component; polygons with no same-attribute neighbor stay their
    * own region via the left-join fallback to self.
    *
    * Output is the dissolved-region aggregate: polygon count, EXACT
    * additive area2 (flush same-attribute polygons tile, so the shoelace
    * sum IS the region's area) and the integer bbox union. Geometric ring
    * union (stitching the merged outline) is deliberately NOT done here —
    * region labels feed the emit layer, which already assembles rings
    * per group; this operator's contract is the labeling + statistics.
    *
    * Scale shape: the attribute join is polygon-sized, the edge filter is
    * pair-sized, CC is the capped auto path, and the final aggregation
    * keys on region (≤ polygon count). No window, no sort.
    */
  def dissolve(spark: SparkSession, values: DataFrame, adjacency: DataFrame,
      stats: DataFrame): DataFrame = {
    val vals = values.select(col("relation_id"), col("g").cast("long").as("g"))
    val same = adjacency
      .join(vals.select(col("relation_id").as("rel_a"), col("g").as("g_a")), "rel_a")
      .join(vals.select(col("relation_id").as("rel_b"), col("g").as("g_b")), "rel_b")
      .filter(col("g_a") === col("g_b"))
      .select(col("rel_a").as("src"), col("rel_b").as("dst"))
    val cc = graft.dedup.Dedup.connectedComponents(spark, same)
    vals
      .join(cc, vals("relation_id") === cc("id"), "left")
      .select(col("relation_id"), col("g"),
        coalesce(col("component"), col("relation_id")).as("region"))
      .join(stats.select(col("relation_id"), col("area2"),
        col("min_lat_dm"), col("min_lon_dm"), col("max_lat_dm"), col("max_lon_dm")),
        "relation_id")
      .groupBy(col("region"), col("g"))
      .agg(count(lit(1)).as("n_polygons"),
        sum(col("area2")).as("area2"),
        min(col("min_lat_dm")).as("min_lat_dm"),
        min(col("min_lon_dm")).as("min_lon_dm"),
        max(col("max_lat_dm")).as("max_lat_dm"),
        max(col("max_lon_dm")).as("max_lon_dm"))
  }

  final case class SimplifyRow(relation_id: Long, name: String,
      n_before: Int, n_after: Int, area2_after: Long)

  /** Douglas–Peucker ring simplification stats (graft.geom.Simplify —
    * exact integer decisions, so the vertex-survival set is deterministic
    * and the q75 oracle is closed-form). `tolDm` in decimicro degrees
    * (1000 ≈ 10 m at the equator). Same plan shape as [[extract]].
    */
  def simplifyStats(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      tolDm: Long = 1000L,
      minAdmin: Int = 8,
      maxAdmin: Int = 8): Dataset[SimplifyRow] = {
    import spark.implicits._
    relSegments(spark, relations, ways, nodes, minAdmin, maxAdmin).map { rs =>
      val rings = ringsOf(rs.pts)
      val simp = rings.map(r =>
        graft.geom.Simplify.ring(r.map(_.latDm).toArray, r.map(_.lonDm).toArray, tolDm))
      SimplifyRow(
        relation_id = rs.relation_id,
        name = fullName(rs.tags),
        n_before = rings.map(_.length).sum,
        n_after = simp.map(_._1.length).sum,
        area2_after = simp.map { case (la, lo) =>
          math.abs(graft.geom.Geom.signedArea2Dm(la, lo))
        }.sum)
    }
  }

  /** EXTENSION (north-star capability, opt-in — the reference ignores
    * roles): role-aware extraction. Inner-role rings become holes of the
    * outer ring containing them; winding normalized per RFC 7946
    * (graft.geom.Holes). The [[relSegments]] plan, keeping only relations
    * with at least one surviving vertex; each role is stitched on its own.
    */
  def extractRfc7946(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      minAdmin: Int = 8,
      maxAdmin: Int = 8): DataFrame = {
    import spark.implicits._
    relSegments(spark, relations, ways, nodes, minAdmin, maxAdmin)
      .filter(size(col("pts")) > 0)
      .map { rs =>
        def rings(inner: Boolean) = ringsOf(rs.pts.filter(_.inner == inner)).map(_.map(toPt))
        val polys = graft.geom.Holes.assignHoles(rings(false), rings(true))
        (rs.relation_id, fullName(rs.tags), polys.length, polys.map(_.holes.length).sum,
          graft.geom.Holes.geoJsonRfc7946(polys).orNull)
      }
      .toDF("relation_id", "name", "n_polygons", "n_holes", "geometry_rfc7946")
  }

  /** Full output row: polygon + deduped filename + both sink columns —
    * one row per boundary (the distributed form of one file per boundary,
    * SURVEY.md §3.3). Sorted by relation_id for reproducibility (the
    * reference's cross-file order is nondeterministic HashMap order).
    */
  def extractWithSinks(
      spark: SparkSession,
      relations: DataFrame,
      ways: DataFrame,
      nodes: DataFrame,
      minAdmin: Int = 8,
      maxAdmin: Int = 8): DataFrame = {
    import spark.implicits._
    val polys = extract(spark, relations, ways, nodes, minAdmin, maxAdmin)
    val withText = polys.map { p =>
      (p.name, p.rings, p.relation_id, p.admin_level,
        graft.emit.Emitters.polyText(p),
        graft.emit.Emitters.geoJson(p).orNull)
    }.toDF("name", "rings", "relation_id", "admin_level", "poly_text", "geojson")
    graft.naming.Naming.withDedupedNames(withText)
      .orderBy("relation_id")
  }
}
