package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * A round marks the labels it set or strictly improved fresh, so
  * [[Fixpoint]] stops at the end of the block whose last round improved
  * nothing — no sum over the distances, which could wrap a Long on a
  * graph whose every distance fits. A relaxation that would pass
  * Long.MaxValue saturates there instead of failing the round (any path
  * that fits replaces it), and a distance still saturated at the
  * fixpoint fails the job: it does not fit a Long. With positive integer
  * weights every improvement lowers a Long, so the loop still empties
  * in at most V rounds; negative or zero weights are rejected IN-PLAN
  * by a raise_error conjunct on the edge load (the PointPattern guard
  * pattern), so a bad weight fails the job even under filter pushdown
  * rather than spinning the driver loop. `maxRounds` keeps the exact
  * [[Fixpoint]] contract (exactly-maxRounds convergence succeeds).
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
    val out = Fixpoint.run(init, maxRounds, 8, "Sssp.distances") { (cur, _) =>
      cur.withColumnRenamed("id", "src")
        .join(dirPlus, Seq("src"))
        .filter(col("self") === 1 || col("fresh") === 1)
        .select(col("dst"),
          when(col("self") === 1, col("dist"))
            .otherwise(relax(col("dist"), col("w"))).as("d"),
          (lit(1) - col("self")).as("f"))
        .groupBy(col("dst"))
        .agg(min(struct(col("d"), col("f"))).as("m"))
        .select(col("dst").as("id"), col("m.d").as("dist"), col("m.f").as("fresh"))
    }
    out.select(col("id"), fits(col("dist"), "Sssp.distances").as("dist"))
  }

  /** `dist + w` for a positive `w`, saturated at Long.MaxValue. */
  private[graft] def relax(dist: Column, w: Column): Column =
    when(dist > lit(Long.MaxValue) - w, lit(Long.MaxValue)).otherwise(dist + w)

  /** A converged distance, or a failed job where it is still saturated. */
  private[graft] def fits(dist: Column, what: String): Column =
    when(dist < Long.MaxValue, dist).otherwise(
      raise_error(lit(s"$what: a distance does not fit a Long")).cast("long"))
}
