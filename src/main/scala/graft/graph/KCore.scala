package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-core decomposition by iterative peeling (Matula & Beck 1983): drop
  * every node of degree < k, recompute degrees, repeat to fixpoint. The
  * k-core is the standard crawl-graph quality prior — pages outside a
  * small core are disproportionately spam/orphans — and the dense-cluster
  * seed for the dedup families (a near-dup cluster is a high-k core of
  * the similarity graph).
  *
  * One peel round is TWO node-partitioned window counts over the edge
  * list (degree of src, degree of dst — equal by symmetry of the
  * undirected view) and a filter keeping edges whose both endpoints
  * retain degree ≥ k — the edge frame is referenced exactly once per
  * round (the old aggregate → anti-join × 2 shape read it three times),
  * so rounds chain lazily through [[Fixpoint]]: 8
  * peels per localCheckpoint + probe job instead of three driver
  * jobs per peel. The windows have no ORDER BY (unbounded frame —
  * node-partitioned count, no sort) and partitions are node-degree
  * sized, the same distribution a degree groupBy has. Edges only ever
  * leave — a round marks no row fresh — so the loop runs as a shrinking
  * one: an edge count unchanged across a block is the fixpoint. A path
  * at k=2 still peels only its two endpoints per round — O(n) rounds
  * worst case — but now at O(n / 8) driver round-trips; non-convergence
  * inside `maxRounds` peels throws loudly (a truncated peel would
  * silently overstate the core).
  */
object KCore {

  /** Nodes of the k-core of the undirected graph `edges` (src, dst),
    * with their within-core degree. Self-loops are dropped (a self-loop
    * inflates its node's degree but adds no connectivity — the standard
    * simple-graph reading); parallel/reverse duplicates collapse.
    */
  def kCore(spark: SparkSession, edges: DataFrame, k: Int,
      maxRounds: Int = 1000): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val simple = edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    val und = simple
      .union(simple.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val wS = Window.partitionBy(col("src"))
    val wD = Window.partitionBy(col("dst"))
    val core = Fixpoint.run(und.withColumn("fresh", lit(1)), maxRounds, 8,
        s"kCore(k=$k)", shrinks = true) { (cur, _) =>
      cur.withColumn("ds", count(lit(1)).over(wS))
        .withColumn("dd", count(lit(1)).over(wD))
        .filter(col("ds") >= k && col("dd") >= k)
        .select(col("src"), col("dst"), lit(0).as("fresh"))
    }
    core.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }
}
