package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.util.chaining._

/** Multi-source single-source-shortest-path over a weighted undirected
  * edge list — the weighted generalization of [[Bfs.hops]]: road-network
  * travel cost seeded at depots, weighted-hop spread over a contiguity
  * graph, link-cost crawl depth.
  *
  * Frontier-relaxation Bellman-Ford (the Pregel SSSP shape) run with
  * the [[Bfs]] BLOCKED round fusion: per round ONE join against the
  * self-edge-augmented directed view (weight-0 self-edges carry every
  * settled label; real edges relax only nodes whose distance improved
  * in the previous round) and one min(struct(dist, fresh)) combine —
  * the state frame is referenced once per round, so 8
  * rounds chain lazily into a single linear plan with one
  * localCheckpoint + one aggregation action per block instead of three
  * driver jobs per round. The improvement-only frontier semantics are
  * exact: the struct-min prefers the existing label on ties (self rows
  * carry fresh = 0), so only STRICT improvements re-expand — the same
  * rule the unfused loop enforced with its left-join filter.
  *
  * Distances are monotone non-increasing once set and the label set
  * only grows, so the (count, sum) pair at a block boundary is a
  * complete convergence signature: equal pairs across a block of ≥ 1
  * full relaxation rounds means a fixpoint. With positive integer
  * weights every improvement lowers a Long, so the loop still empties
  * in at most V rounds; negative or zero weights are rejected IN-PLAN
  * by a raise_error conjunct on the edge load (the PointPattern guard
  * pattern), so a bad weight fails the job even under filter pushdown
  * rather than spinning the driver loop. `maxRounds` keeps the exact
  * [[Bfs.hops]] contract (exactly-maxRounds convergence succeeds).
  */
object Sssp {

  /** (id, dist) for every node reachable from `seeds` (id column) over
    * undirected weighted `edges` (rel_a, rel_b, w) — contiguity schema
    * plus a positive integer weight column. Seeds start at distance 0;
    * unreached nodes don't appear.
    */
  def distances(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 512): DataFrame = {
    val guardedW = when(col("w") > 0, col("w"))
      .otherwise(raise_error(concat(
        lit("Sssp: non-positive weight on edge "), col("src"),
        lit("-"), col("dst"))).cast("long"))
    val und = edges.select(col("rel_a").cast("long").as("src"),
      col("rel_b").cast("long").as("dst"), col("w").cast("long").as("w"))
    val dir = und.union(und.select(col("dst").as("src"), col("src").as("dst"),
        col("w")))
      .select(col("src"), col("dst"), guardedW.as("w"))
    val seedIds = seeds.select(col("id").cast("long").as("src")).distinct()
    val dirPlus = dir.withColumn("self", lit(0))
      .unionByName(dir.select(col("src")).union(seedIds).distinct()
        .select(col("src"), col("src").as("dst"), lit(0L).as("w"),
          lit(1).as("self")))
      .pipe(Bfs.joinSide) // accurate cached stats for the loop's join planning
    val init = seedIds.select(col("src").as("id"))
      .withColumn("dist", lit(0L)).withColumn("fresh", lit(1))
    // distances can IMPROVE after first assignment, so the convergence
    // signature needs the value sum alongside the label count: labels
    // only grow and values only shrink, so (count, sum) is unchanged
    // iff nothing was added and nothing improved
    def probe(df: DataFrame): (Long, Seq[Any]) = {
      val r = df.agg(count(lit(1)), sum(col("dist"))).collect()(0)
      val n = r.getLong(0)
      (n, Seq(n, if (r.isNullAt(1)) 0L else r.getLong(1)))
    }
    val out = Bfs.runBlocked(init, maxRounds, 8, "Sssp.distances",
        probe) { (cur, _) =>
      cur.withColumnRenamed("id", "src")
        .join(dirPlus, Seq("src"))
        .filter(col("self") === 1 || col("fresh") === 1)
        .select(col("dst"),
          when(col("self") === 1, col("dist"))
            .otherwise(col("dist") + col("w")).as("d"),
          (lit(1) - col("self")).as("f"))
        .groupBy(col("dst"))
        .agg(min(struct(col("d"), col("f"))).as("m"))
        .select(col("dst").as("id"), col("m.d").as("dist"), col("m.f").as("fresh"))
    }
    out.select(col("id"), col("dist"))
  }
}
