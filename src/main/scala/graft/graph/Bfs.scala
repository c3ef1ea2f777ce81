package graft.graph

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import scala.jdk.CollectionConverters._
import scala.collection.mutable

/** Multi-source BFS hop distance over an undirected edge list — the
  * graph-geodesic form of region growing: seeded at a polygon set over
  * the rook-contiguity graph it yields "rings of adjacency" (the
  * drive-time-zone / contamination-spread primitive); seeded at a page
  * set over a link graph it is the crawl-frontier depth.
  *
  * Size gate ([[hops]]): a graph as small as a broadcast side — edge rows
  * · 64 ≤ `spark.sql.autoBroadcastJoinThreshold`, counted on a local
  * checkpoint of the edge list — is collected and walked level by level
  * in driver memory: two Spark jobs in all, where the blocked loop below
  * pays a checkpoint + probe job per block and one job per shuffle stage
  * under AQE, and plans and compiles every round. The blocked loop stays
  * the path for graphs that do not fit on the driver, for sessions with
  * broadcasting off, and for the all-pairs variants.
  *
  * Level-synchronous frontier expansion, run in [[Fixpoint]] blocks:
  * the per-round step is a SINGLE self-edge-augmented join + one hash
  * aggregation over the label state — self-edges carry every existing
  * label through the round while real edges expand only the
  * still-fresh frontier, so the state frame is referenced exactly once
  * per round and a block of 8 rounds chains LAZILY with a linear plan
  * (the block's localCheckpoint cuts it, so a 20-hop graph never
  * re-embeds its upstream more than 8 times). One checkpoint + probe
  * job per block replaces the three driver jobs per round of the
  * unfused loop (checkpoint, probe, accumulate), while total shuffled
  * bytes stay O(edges + labels · rounds).
  *
  * The BFS invariant is untouched: a node's label is set exactly once,
  * at its minimum hop count — the min(struct(hops, fresh)) combine
  * prefers the existing label (fresh = 0) over any arrival, and fresh
  * nodes expand exactly one round later, inside the same block. The
  * `fresh` flag is also the runner's stop test: the block whose last
  * round labelled nothing ends the loop, with [[Fixpoint]]'s exact
  * `maxRounds` contract.
  */
object Bfs {

  /** Rows that fit the session's broadcast threshold at the ~64
    * bytes/row of [[joinSide]]; -1 when broadcasting is off.
    */
  private[graft] def broadcastRows(spark: SparkSession): Long = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold > 0) threshold / 64 else -1L
  }

  /** Materialize the loop-invariant edge view once (eager local
    * checkpoint — one job, plan cut to a leaf) and decide its join side
    * from the MEASURED row count against the session's own broadcast
    * threshold: a genuinely small view broadcasts (each fused round is
    * then exchange-free on the edge side and AQE never has to replan
    * the join), a big one keeps the plain shuffle join — the decision a
    * cost-based planner would make if checkpointed RDDs carried
    * accurate statistics. ~64 bytes/row is the conservative unsafe-row
    * estimate for the ≤ 4-column long views used here.
    */
  private[graft] def joinSide(edgeView: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    // lazy checkpoint + count: ONE job materializes the view and
    // measures it (an eager checkpoint would pay a second, separate job
    // for the count)
    val cp = edgeView.localCheckpoint(false)
    val n = cp.count()
    if (sys.env.contains("GRAFT_LOOP_DEBUG")) System.err.println(
      f"[joinSide] rows=$n sec=${(System.nanoTime()-t0)/1e9}%.3f")
    if (n <= broadcastRows(cp.sparkSession)) broadcast(cp) else cp
  }

  /** Directed edge view with one self-edge per node (`self` = 1):
    * the device that lets one equi-join per round both carry existing
    * labels (via self-edges) and expand the fresh frontier (via real
    * edges), keeping the round's plan a single reference to the state.
    */
  private[graft] def withSelfEdges(dir: DataFrame,
      extraNodes: Option[DataFrame]): DataFrame = {
    val nodes0 = dir.select(col("src"))
    val nodes = extraNodes.map(e => nodes0.union(e.select(col("src"))))
      .getOrElse(nodes0).distinct()
    dir.withColumn("self", lit(0))
      .unionByName(nodes.select(col("src"), col("src").as("dst"),
        lit(1).as("self")))
  }

  /** (id, hops) for every node reachable from `seeds` (id column) over
    * the undirected `edges` (rel_a, rel_b) — the contiguity schema, so
    * [[graft.osm.BoundaryExtract.contiguity]] and
    * [[graft.geom.PointPattern.distanceBand]] outputs drop straight in.
    *
    * Size gate: the edge list is materialized once (lazy local
    * checkpoint, counted in one job). When it and the seeds each fit the
    * broadcast rule of [[joinSide]] (rows · 64 ≤
    * `spark.sql.autoBroadcastJoinThreshold`) and hold no null id, both
    * are collected, the BFS runs in driver memory and its rows come back
    * as a local frame. Otherwise — a bigger graph, or a session with the
    * threshold at -1 — the blocked Spark loop runs over the same
    * checkpoint, so the edge upstream is evaluated once on either path.
    * Both paths return the same rows and keep the same `maxRounds`
    * contract: converging in exactly `maxRounds` rounds succeeds,
    * needing more throws.
    */
  def hops(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 256): DataFrame = {
    val und = edges.select(col("rel_a").cast("long").as("src"),
      col("rel_b").cast("long").as("dst")).localCheckpoint(false)
    val seedIds = seeds.select(col("id").cast("long").as("src"))
    val cap = broadcastRows(spark)
    // one job fills the checkpoint and measures it, so neither path
    // evaluates the upstream again; counted on the RDD because
    // Dataset.count() would add a shuffle stage for its global aggregate
    if (und.queryExecution.toRdd.count() <= cap) {
      val e = und.collect()
      val s = seedIds.limit(math.min(cap + 1, Int.MaxValue).toInt).collect()
      // a null id goes to the blocked loop, whose join drops it
      if (s.length <= cap && !e.exists(r => r.isNullAt(0) || r.isNullAt(1)) &&
          !s.exists(_.isNullAt(0))) {
        val rows = localHops(e.map(r => (r.getLong(0), r.getLong(1))).toSeq,
          s.map(_.getLong(0)).toSeq, maxRounds)
        return spark.createDataFrame(rows.map { case (id, h) => Row(id, h) }.asJava,
          hopsSchema)
      }
    }
    blockedHops(und, seedIds.distinct(), maxRounds)
  }

  /** The blocked loop's output schema: `hops` comes out of a struct
    * `min`, so it is nullable there.
    */
  private val hopsSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("hops", LongType, nullable = true)))

  /** Level-synchronous multi-source BFS over an in-memory undirected edge
    * list, with [[Fixpoint]]'s `maxRounds` contract: a graph whose
    * farthest node is `maxRounds` levels out converges (the next round
    * finds nothing new), one level more throws.
    */
  private def localHops(edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxRounds: Int): Seq[(Long, Long)] = {
    val adj = mutable.LongMap.empty[mutable.ArrayBuffer[Long]]
    def link(a: Long, b: Long): Unit =
      adj.getOrElseUpdate(a, mutable.ArrayBuffer.empty[Long]) += b
    edges.foreach { case (a, b) => link(a, b); link(b, a) }
    val hops = mutable.LongMap.empty[Long]
    seeds.foreach(hops(_) = 0L)
    var frontier: Iterable[Long] = hops.keys.toSeq
    var level = 0L
    while (frontier.nonEmpty) {
      val next = mutable.ArrayBuffer.empty[Long]
      for (v <- frontier; u <- adj.getOrElse(v, Nil) if !hops.contains(u)) {
        hops(u) = level + 1
        next += u
      }
      if (next.nonEmpty) {
        level += 1
        if (level > math.max(maxRounds, 0)) throw new IllegalStateException(
          s"Bfs.hops did not converge within $maxRounds rounds")
      }
      frontier = next
    }
    hops.toSeq
  }

  /** The blocked Spark loop behind [[hops]]: one self-edge-augmented join
    * + aggregation per round, 8 rounds per checkpoint.
    */
  private def blockedHops(und: DataFrame, seedIds: DataFrame,
      maxRounds: Int): DataFrame = {
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val dirPlus = joinSide(withSelfEdges(dir, Some(seedIds)))
    val init = seedIds.select(col("src").as("id"))
      .withColumn("hops", lit(0L)).withColumn("fresh", lit(1))
    val out = Fixpoint.run(init, maxRounds, 8, "Bfs.hops") { (cur, _) =>
      cur.withColumnRenamed("id", "src")
        .join(dirPlus, Seq("src"))
        .filter(col("self") === 1 || col("fresh") === 1)
        .select(col("dst"),
          when(col("self") === 1, col("hops")).otherwise(col("hops") + 1L).as("h"),
          (lit(1) - col("self")).as("f"))
        .groupBy(col("dst"))
        .agg(min(struct(col("h"), col("f"))).as("m"))
        .select(col("dst").as("id"), col("m.h").as("hops"), col("m.f").as("fresh"))
    }
    out.select(col("id"), col("hops"))
  }

  /** All-pairs hop distance — every node is its own BFS source, run as
    * ONE blocked level-synchronous loop over (origin, node) state rows
    * instead of |V| separate traversals. All-pairs state is O(V²) by
    * definition: callers cap the component size, not this loop (at
    * 100 TB you run it per bounded community, never on the raw web
    * graph). Returns (origin, id, hops) for every ordered reachable
    * pair, including (v, v, 0).
    */
  def allPairsHops(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val und = edges.select(col("rel_a").cast("long").as("src"),
      col("rel_b").cast("long").as("dst"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val dirPlus = joinSide(withSelfEdges(dir, None))
    // node universe read OFF the checkpointed view (self-edge rows are
    // exactly one per node) — the old dir.distinct() here re-evaluated
    // the whole edge upstream a second time just to seed the state
    val init = dirPlus.filter(col("self") === 1)
      .select(col("src").as("origin"), col("src").as("id"))
      .withColumn("hops", lit(0L)).withColumn("fresh", lit(1))
    val out = Fixpoint.run(init, maxRounds, 4, "Bfs.allPairsHops") { (cur, _) =>
      cur.withColumnRenamed("id", "src")
        .join(dirPlus, Seq("src"))
        .filter(col("self") === 1 || col("fresh") === 1)
        .select(col("origin"), col("dst"),
          when(col("self") === 1, col("hops")).otherwise(col("hops") + 1L).as("h"),
          (lit(1) - col("self")).as("f"))
        .groupBy(col("origin"), col("dst"))
        .agg(min(struct(col("h"), col("f"))).as("m"))
        .select(col("origin"), col("dst").as("id"),
          col("m.h").as("hops"), col("m.f").as("fresh"))
    }
    out.select(col("origin"), col("id"), col("hops"))
  }

  /** All-pairs hop distance AND shortest-path counts — the forward pass
    * of Brandes' betweenness algorithm run for every origin at once.
    * The BFS invariant extends to counts: when round r first reaches
    * `id`, its σ(origin, id) is the sum of σ over ALL its
    * distance-(r−1) predecessors — which are exactly the rows fresh in
    * the previous fused round — so the per-round aggregation sums
    * arrival σ for fresh targets and carries the existing (hops, σ)
    * through the self-edge otherwise (Brandes 2001, eq. for σ). Same
    * O(V²) state caveat and blocked-fusion discipline as
    * [[allPairsHops]].
    *
    * Returns (origin, id, hops, sigma) for every ordered reachable
    * pair, with σ(v, v) = 1.
    */
  def allPairsSigma(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val und = edges.select(col("rel_a").cast("long").as("src"),
      col("rel_b").cast("long").as("dst"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    val dirPlus = joinSide(withSelfEdges(dir, None))
    // node universe off the checkpointed view — see allPairsHops
    val init = dirPlus.filter(col("self") === 1)
      .select(col("src").as("origin"), col("src").as("id"))
      .withColumn("hops", lit(0L)).withColumn("sigma", lit(1L))
      .withColumn("fresh", lit(1))
    val out = Fixpoint.run(init, maxRounds, 4, "Bfs.allPairsSigma") { (cur, _) =>
      cur.withColumnRenamed("id", "src")
        .join(dirPlus, Seq("src"))
        .filter(col("self") === 1 || col("fresh") === 1)
        .select(col("origin"), col("dst"),
          when(col("self") === 1, col("hops")).otherwise(col("hops") + 1L).as("h"),
          col("sigma"), col("self"))
        .groupBy(col("origin"), col("dst"))
        .agg(max(col("self")).as("hs"),
          min(when(col("self") === 1, col("h"))).as("h_old"),
          max(when(col("self") === 1, col("sigma"))).as("sig_old"),
          min(when(col("self") === 0, col("h"))).as("h_new"),
          sum(when(col("self") === 0, col("sigma"))).as("sig_new"))
        .select(col("origin"), col("dst").as("id"),
          when(col("hs") === 1, col("h_old")).otherwise(col("h_new")).as("hops"),
          when(col("hs") === 1, col("sig_old")).otherwise(col("sig_new")).as("sigma"),
          (lit(1) - col("hs")).as("fresh"))
    }
    out.select(col("origin"), col("id"), col("hops"), col("sigma"))
  }
}
