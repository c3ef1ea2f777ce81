package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact path-based centralities over bounded communities — the metrics
  * a link-graph curation pipeline ranks crawl seeds and prunes
  * link-farms with. Everything here is INTEGER-exact (no floating
  * dependency accumulation), so every query is DuckDB-oracle-able.
  *
  * Scale shape: all-pairs state is O(V²) by definition — like
  * [[Bfs.allPairsHops]] these operators are for bounded components
  * (per-community after LPA / connected components), never the raw web
  * graph. Within that contract every step is an equi-join or hash
  * aggregation keyed by node or (origin, node); nothing windows over an
  * unbounded partition.
  */
object Centrality {

  /** Stress centrality (Shimbel 1953): stress(v) = number of shortest
    * paths that pass THROUGH v, i.e. Σ over unordered pairs {s,t},
    * v ∉ {s,t}, with d(s,v) + d(v,t) = d(s,t), of σ(s,v)·σ(v,t) — the
    * integer-exact sibling of betweenness (which divides each term by
    * σ(s,t) and so leaves the integers).
    *
    * ONE batched forward pass ([[Bfs.allPairsSigma]]) then a three-way
    * self-join on the (origin, node) table: legs (s→v) and (v→t) meet on
    * v, the (s→t) row supplies the distance test. All joins are
    * equi-keyed on node ids; the pair table is hull...(component)-sized.
    * Nodes on no shortest path report 0 via the left join onto the node
    * universe.
    *
    * Returns (id, stress).
    */
  def stress(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    // allPairsSigma returns a checkpointed frame (materialized by its
    // convergence probes) — the three legs below re-read cached blocks,
    // not the BFS loop
    val ap = Bfs.allPairsSigma(spark, edges, maxRounds)
    val a = ap.select(col("origin").as("s"), col("id").as("v"),
      col("hops").as("h_sv"), col("sigma").as("sig_sv"))
    val b = ap.select(col("origin").as("v2"), col("id").as("t"),
      col("hops").as("h_vt"), col("sigma").as("sig_vt"))
    val st = ap.select(col("origin").as("s3"), col("id").as("t3"),
      col("hops").as("h_st"))
    val contrib = a.join(b, col("v") === col("v2"))
      .filter(col("s") < col("t") && col("v") =!= col("s") && col("v") =!= col("t"))
      .join(st, col("s") === col("s3") && col("t") === col("t3") &&
        col("h_sv") + col("h_vt") === col("h_st"))
      .groupBy(col("v"))
      .agg(sum(col("sig_sv") * col("sig_vt")).as("stress"))
    val out = ap.select(col("id")).distinct()
      .join(contrib, col("id") === col("v"), "left")
      .select(col("id"), coalesce(col("stress"), lit(0L)).as("stress"))
    out
  }

  /** Exact bridge detection — an edge {a, b} is a bridge iff b is
    * unreachable from a once the edge itself is masked. Every edge is
    * tested in ONE batched level-synchronous BFS over (a, b, node)
    * state rows: the frontier joins the directed edge view with the
    * origin's own edge excluded by the join predicate, and an origin
    * retires early the round its b is reached (so cycle-rich regions
    * stop paying after ~girth rounds; only true bridges run to their
    * component's diameter). Same plan-growth discipline as
    * [[Bfs.hops]]. Returns (src, dst, is_bridge ∈ {0,1}) with
    * src < dst canonical.
    *
    * State is Σ_e |component(e)| worst case — like the other all-pairs
    * operators this is for bounded components, not the raw web graph
    * (where you'd run it per 2-edge-connected candidate region).
    */
  def bridges(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 256): DataFrame = {
    val und = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
      .localCheckpoint(false)
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
    // blocked round fusion (Fixpoint): self-edges carry the
    // visited set, real edges expand only the fresh frontier with the
    // origin's own edge excluded by the expansion predicate. The
    // per-round plan references the state once, so 8 rounds
    // chain lazily with one checkpoint + probe job per block. The old
    // per-origin early retirement (stop once b is reached) traded
    // per-round driver jobs for less state — with fused rounds the
    // driver jobs dominate, so the walk simply runs to each component's
    // fixpoint; the verdict (is b in a's masked reachable set) is
    // unchanged.
    val dirPlus = Bfs.joinSide(Bfs.withSelfEdges(dir, None))
    val init = und.select(col("a"), col("b"), col("a").as("id"))
      .withColumn("fresh", lit(1))
    val st = Fixpoint.run(init, maxRounds, 8,
        "Centrality.bridges") { (cur, _) =>
      cur.withColumnRenamed("id", "s")
        .join(dirPlus.withColumnRenamed("src", "s"), Seq("s"))
        .filter(col("self") === 1 || (col("fresh") === 1 &&
          !(col("a") === col("s") && col("b") === col("dst")) &&
          !(col("a") === col("dst") && col("b") === col("s"))))
        .select(col("a"), col("b"), col("dst").as("id"),
          (lit(1) - col("self")).as("f"))
        .groupBy(col("a"), col("b"), col("id"))
        .agg(min(col("f")).as("fresh"))
    }
    val reached = st.filter(col("id") === col("b"))
      .select(col("a"), col("b"), lit(0).as("is_bridge"))
    val out = und.join(reached.select(col("a"), col("b")), Seq("a", "b"), "left_anti")
      .select(col("a"), col("b"), lit(1).as("is_bridge"))
      .unionByName(reached)
      .select(col("a").as("src"), col("b").as("dst"), col("is_bridge"))
    out
  }

  /** Articulation (cut) vertices, exact — the vertex analogue of
    * [[bridges]]: v is an articulation point iff deleting v disconnects
    * its component. Run as ONE batched level-synchronous BFS over
    * composite (v, kind, node) state instead of |V| separate what-if
    * traversals: kind 0 is the REMOVAL walk (starts at v's min-id
    * neighbor, never traverses v — only candidates with degree ≥ 2
    * participate; a degree-1 vertex cannot cut), kind 1 is the
    * COVERAGE walk (starts at v itself, unrestricted — it measures
    * |comp(v)|). v is an articulation point iff the removal walk
    * converges before covering comp(v) \ {v}. Both fixpoints share
    * every round's jobs through the composite key — the q180
    * side-tagged batching pattern applied to graph what-ifs.
    *
    * Per round: one equi-join + one distinct + one anti-join; eager
    * localCheckpoint each round ([[Bfs.hops]] — plan growth is the
    * driver hazard). All-pairs state is O(V²) by definition — a
    * bounded-community operator like [[Bfs.allPairsHops]]; at 100 TB
    * you run it per community, never on the raw graph.
    *
    * Returns (id, degree, comp_size, reached, is_articulation) for
    * every non-isolated vertex; `reached` is 0 for non-candidates.
    */
  def articulation(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 256): DataFrame = {
    val und = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    // dir feeds deg and the loop's edge view; deg feeds the seeds and the
    // returned frame, so both are cut, not cached
    val dir = und.select(col("a").as("s"), col("b").as("d"))
      .union(und.select(col("b").as("s"), col("a").as("d")))
      .localCheckpoint(false)
    val deg = dir.groupBy(col("s").as("v"))
      .agg(count(lit(1)).as("degree"), min(col("d")).as("seed"))
      .localCheckpoint(false)
    val removalSeeds = deg.filter(col("degree") >= 2L)
      .select(col("v"), lit(0L).as("kind"), col("seed").as("id"))
    val coverSeeds = deg.select(col("v"), lit(1L).as("kind"),
      col("v").as("id"))
    // blocked round fusion (Fixpoint): self-edges carry the
    // visited set, real edges expand only the fresh frontier, with the
    // removal walk's v-avoidance folded into the expansion predicate —
    // one state reference per round, one checkpoint + probe job per
    // block instead of three driver jobs per round.
    val dirPlus = Bfs.joinSide(Bfs.withSelfEdges(
      dir.select(col("s").as("src"), col("d").as("dst")), None))
    val init = removalSeeds.unionByName(coverSeeds).withColumn("fresh", lit(1))
    val dist = Fixpoint.run(init, maxRounds, 8,
        "Centrality.articulation") { (cur, _) =>
      cur.withColumnRenamed("id", "s")
        .join(dirPlus.withColumnRenamed("src", "s"), Seq("s"))
        .filter(col("self") === 1 || (col("fresh") === 1 &&
          (col("kind") === 1L || col("dst") =!= col("v"))))
        .select(col("v"), col("kind"), col("dst").as("id"),
          (lit(1) - col("self")).as("f"))
        .groupBy(col("v"), col("kind"), col("id"))
        .agg(min(col("f")).as("fresh"))
    }
    val reached = dist.filter(col("kind") === 0L)
      .groupBy(col("v")).agg(count(lit(1)).as("reached"))
    val compSize = dist.filter(col("kind") === 1L)
      .groupBy(col("v")).agg(count(lit(1)).as("comp_size"))
    val out = deg.join(compSize, Seq("v"))
      .join(reached, Seq("v"), "left")
      .select(col("v").as("id"), col("degree"), col("comp_size"),
        coalesce(col("reached"), lit(0L)).as("reached"),
        when(col("degree") >= 2L &&
          coalesce(col("reached"), lit(0L)) < col("comp_size") - 1L, 1L)
          .otherwise(0L).as("is_articulation"))
    out
  }

  /** Degree assortativity per community, EXACT — over each label's
    * intra-community subgraph the Pearson sufficient statistics of
    * (deg(src), deg(dst)) across directed edge instances (both
    * orientations, the standard convention): emits (label, m_dir, num,
    * da, db) with r = num / sqrt(da·db), num = M·Σjk − Σj·Σk and the
    * two variance factors — no square root taken. Degrees are computed
    * WITHIN the subgraph. Two label-keyed hash aggregations + two
    * node-keyed joins; nothing quadratic.
    */
  def assortativity(spark: SparkSession, labels: DataFrame,
      edges: DataFrame): DataFrame = {
    val lab = labels.select(col("id").cast("long").as("id"),
      col("label").cast("long").as("label"))
    val und = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val intra = und
      .join(lab.select(col("id").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
      .filter(col("la") === col("lb"))
      .select(col("la").as("label"), col("a"), col("b"))
    val dirE = intra.select(col("label"), col("a").as("s"), col("b").as("d"))
      .union(intra.select(col("label"), col("b").as("s"), col("a").as("d")))
    val deg = dirE.groupBy(col("label"), col("s").as("n"))
      .agg(count(lit(1)).as("deg"))
    val withDegs = dirE
      .join(deg.select(col("label"), col("n").as("s"), col("deg").as("dj")),
        Seq("label", "s"))
      .join(deg.select(col("label"), col("n").as("d"), col("deg").as("dk")),
        Seq("label", "d"))
    withDegs.groupBy(col("label"))
      .agg(count(lit(1)).as("m_dir"),
        sum(col("dj")).as("sj"), sum(col("dk")).as("sk"),
        sum(col("dj") * col("dk")).as("sjk"),
        sum(col("dj") * col("dj")).as("sjj"),
        sum(col("dk") * col("dk")).as("skk"))
      .select(col("label"), col("m_dir"),
        (col("m_dir") * col("sjk") - col("sj") * col("sk")).as("num"),
        (col("m_dir") * col("sjj") - col("sj") * col("sj")).as("da"),
        (col("m_dir") * col("skk") - col("sk") * col("sk")).as("db"))
  }

  /** Newman–Girvan modularity of a community assignment, EXACT — per
    * community the sufficient statistics and its contribution to Q as
    * an integer numerator over the shared denominator 4m²:
    *
    *   Q = Σ_c ( L_c/m − (D_c/2m)² ) = Σ_c (4·m·L_c − D_c²) / 4m²
    *
    * where m = |undirected edges|, L_c = intra-community edges, D_c =
    * total degree of c's nodes. Emits one row per community:
    * (label, n_nodes, l_in, d_tot, contrib_num, q_den) with
    * contrib_num = 4·m·L_c − D_c² and q_den = 4m² constant — summing
    * contrib_num/q_den over rows gives Q exactly.
    *
    * `labels` is (id, label) (e.g. [[LabelProp.propagate]] output);
    * `edges` is (src, dst), orientation and duplicates normalized here.
    * Shape: two hash aggregations keyed by label + one broadcast of the
    * single-row m — no window, no skewed key (labels are communities).
    */
  def modularity(spark: SparkSession, labels: DataFrame,
      edges: DataFrame): DataFrame = {
    val lab = labels.select(col("id").cast("long").as("id"),
      col("label").cast("long").as("label"))
    val und = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()
    val m = und.agg(count(lit(1)).as("m"))
    val el = und
      .join(lab.select(col("id").as("a"), col("label").as("la")), Seq("a"))
      .join(lab.select(col("id").as("b"), col("label").as("lb")), Seq("b"))
    val intra = el.filter(col("la") === col("lb"))
      .groupBy(col("la").as("label"))
      .agg(count(lit(1)).as("l_in"))
    val dir = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id")))
    val deg = dir.groupBy(col("id")).agg(count(lit(1)).as("deg"))
    val byLab = lab.join(deg, Seq("id"), "left")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce(col("deg"), lit(0L))).as("d_tot"))
    val out = byLab.join(intra, Seq("label"), "left")
      .crossJoin(broadcast(m))
      .select(col("label"), col("n_nodes"),
        coalesce(col("l_in"), lit(0L)).as("l_in"), col("d_tot"),
        (lit(4L) * col("m") * coalesce(col("l_in"), lit(0L)) -
          col("d_tot") * col("d_tot")).as("contrib_num"),
        (lit(4L) * col("m") * col("m")).as("q_den"))
    out
  }
}
