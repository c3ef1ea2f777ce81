package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synchronous majority-vote label propagation (Raghavan, Albert,
  * Kumara 2007) — community detection, DISTINCT from connected
  * components: a min-label fixpoint merges everything reachable, while
  * the majority vote lets dense substructures keep their own label
  * across sparse bridges. Fully deterministic variant: every node
  * updates simultaneously each round (no asynchronous visit order) and
  * ties break to the SMALLEST label — the two places the published
  * algorithm leaves to randomness.
  *
  * Per round: one equi-join (edge × labels), one (node, label) count
  * aggregation, one argmax via max(struct(cnt, −label)) — two hash
  * exchanges, no window over anything unbounded. State is node-sized,
  * eagerly localCheckpoint'ed per round (iterative-plan-growth
  * discipline, see Bfs.scala). A fixed small round count is the
  * standard LPA stopping regime; callers pick it (communities stabilize
  * in a handful of rounds; oscillation, LPA's documented failure mode,
  * is bounded by the cap rather than detected).
  */
object LabelProp {

  /** (id, label) after `rounds` synchronous majority-vote rounds over
    * the undirected `edges` (src, dst), labels initialized to node ids.
    * `nodes` supplies the id universe (isolated nodes keep their own
    * label forever).
    */
  def propagate(spark: SparkSession, nodes: DataFrame, edges: DataFrame,
      rounds: Int): DataFrame = {
    val und = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // edge view materialized once with a measured broadcast-or-shuffle
    // decision (Bfs.joinSide); per-round state is cut with a LAZY
    // localCheckpoint — the plan is truncated immediately (each round's
    // frame is referenced twice: the vote join and the isolated-node
    // fallback, so an uncut tree would double per round) but NO job
    // runs until the caller's single action materializes the whole
    // chained cascade, each layer cached as it computes. The fixed
    // round count needs no convergence probe, so the loop costs zero
    // driver round-trips — the PageRank lazy-chain shape with the
    // double-reference hazard removed.
    val dirB = graft.graph.Bfs.joinSide(dir)
    var labels = nodes.select(col("id").cast("long").as("id"))
      .withColumn("lab", col("id"))
      .localCheckpoint(false)
    var r = 0
    while (r < rounds) {
      val nbr = dirB.join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("lab"))
      val cnts = nbr.groupBy(col("id"), col("lab"))
        .agg(count(lit(1)).as("cnt"))
      val voted = cnts.groupBy(col("id"))
        .agg(max(struct(col("cnt"), (-col("lab")).as("nl"))).as("m"))
        .select(col("id"), (-col("m.nl")).as("vlab"))
      labels = labels.join(voted, Seq("id"), "left")
        .select(col("id"), coalesce(col("vlab"), col("lab")).as("lab"))
        .localCheckpoint(false)
      r += 1
    }
    labels.select(col("id"), col("lab").as("label"))
  }
}
