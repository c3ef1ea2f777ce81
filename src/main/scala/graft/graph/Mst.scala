package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Minimum spanning forest via distributed Borůvka — the log-round MST
  * algorithm that actually parallelizes (Kruskal's sort is inherently
  * sequential): each round every component selects its minimum outgoing
  * edge under a STRICT total order (weights disambiguated by the edge
  * key, so the forest is unique and deterministic — the condition under
  * which Borůvka, Kruskal and Prim all agree), the selected edges merge
  * components, labels update, repeat until no component has an outgoing
  * edge. MST is the single-linkage clustering backbone (HDBSCAN,
  * hierarchical dedup) — the curation use, not just the network one.
  *
  * Scale shape: per round one label equi-join + one component-keyed
  * min aggregation; the selected-edge set is component-count-sized and
  * merges through [[graft.dedup.Dedup.connectedComponents]] (driver
  * union-find while it fits a broadcast, star contraction above that). Rounds are
  * O(log V) — Borůvka at least halves the component count every round.
  * Rounds run through [[Fixpoint]], one round per checkpoint.
  */
object Mst {

  /** `edges`: (src, dst, w) with w ≥ 0; self-loops dropped, parallel
    * edges collapse to the minimum under the total order
    * W' = (w, min(src,dst), max(src,dst)). Returns the forest's edges
    * (src, dst, w) with src < dst.
    */
  def boruvka(spark: SparkSession, edges: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val lvl = StorageLevel.MEMORY_AND_DISK
    val und = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long").as("w"))
      .filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(min(col("w")).as("w"))
      .persist(lvl)
    val nodes = und.select(col("a").as("id"))
      .union(und.select(col("b").as("id"))).distinct()
    // one Fixpoint round per Borůvka round (the state, comp, is read
    // three times per round); a round marks the nodes it relabelled
    // fresh, so the round that picks no edge ends the loop. The forest,
    // the loop's second output, collects each round's picked edges.
    val picks = mutable.ArrayBuffer.empty[DataFrame]
    val init = nodes.select(col("id"), col("id").as("c"), lit(1).as("fresh"))
    try Fixpoint.run(init, maxRounds, 1, "Mst.boruvka") { (comp, _) =>
      val ca = comp.select(col("id").as("a"), col("c").as("ca"))
      val cb = comp.select(col("id").as("b"), col("c").as("cb"))
      val cross = und.join(ca, Seq("a")).join(cb, Seq("b"))
        .filter(col("ca") =!= col("cb"))
      // per component, the minimum OUTGOING edge under (w, a, b) —
      // evaluated from both sides so each endpoint's component votes;
      // (w, a, b) is unique per edge, so the trailing ca/cb carried in
      // the struct never influence the min
      val votes = cross.select(col("ca").as("comp"), col("w"), col("a"),
          col("b"), col("ca"), col("cb"))
        .unionByName(cross.select(col("cb").as("comp"), col("w"), col("a"),
          col("b"), col("ca"), col("cb")))
      val picked = votes.groupBy(col("comp"))
        .agg(min(struct(col("w"), col("a"), col("b"), col("ca"), col("cb")))
          .as("m"))
        .select(col("m.a").as("a"), col("m.b").as("b"), col("m.w").as("w"),
          col("m.ca").as("ca"), col("m.cb").as("cb"))
        .distinct()
        .localCheckpoint(true)
      picks += picked.select(col("a"), col("b"), col("w"))
      // contract: merged components re-label to their new CC's min —
      // the picked-edge graph (on COMPONENT labels) is component-
      // count-sized by construction
      val merged = graft.dedup.Dedup.connectedComponents(spark,
        picked.select(col("ca").as("src"), col("cb").as("dst")))
      comp.join(merged, comp("c") === merged("id"), "left")
        .select(comp("id"), coalesce(col("component"), col("c")).as("c"),
          (coalesce(col("component"), col("c")) =!= col("c")).cast("int").as("fresh"))
    } finally und.unpersist()
    picks.reduceOption(_ unionByName _).fold(spark.range(0).select(
        col("id").as("src"), col("id").as("dst"), col("id").as("w")))(
      _.select(col("a").as("src"), col("b").as("dst"), col("w")))
  }
}
