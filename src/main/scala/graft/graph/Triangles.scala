package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact triangle enumeration by degree-ordered node iteration (Suri &
  * Vassilvitskii, "Counting triangles and the curse of the last
  * reducer", WWW 2011). Every canonical undirected edge is ORIENTED
  * from its lower endpoint to its higher endpoint in the (degree, id)
  * total order; wedges are pairs of out-edges of one node, and a wedge
  * is a triangle iff its far pair is itself an oriented edge. Each
  * triangle {x,y,z} (ranked x<y<z) is found exactly once — as the wedge
  * (x→y, x→z) closed by y→z.
  *
  * The orientation is the scale fix: a raw wedge join fans out
  * quadratically on hub nodes (the "last reducer"), but out-degree
  * under (degree, id) orientation is bounded by O(√m), so the wedge
  * shuffle is at most O(m^{3/2}) rows in the worst case and far less on
  * power-law graphs — the hub's million in-edges generate no wedges at
  * the hub. Shapes: canonicalize+distinct (one shuffle on the edge),
  * degree count (one shuffle on node), two node-keyed joins to attach
  * ranks, the wedge self-join keyed on the low node, and a semi-join on
  * the far pair. Everything is edge- or wedge-sized; nothing collects.
  */
object Triangles {

  /** (doc_id, n_tri): per-node triangle participation for every node in
    * at least one triangle. Multi-edges, direction, and self-loops are
    * erased by canonicalization — counts are over the simple undirected
    * graph.
    */
  def perNode(spark: SparkSession, edges: DataFrame): DataFrame = {
    val canon = edges.select(
        least(col("src"), col("dst")).cast("long").as("lo"),
        greatest(col("src"), col("dst")).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct()
      // referenced three times (degrees + orientation + closing edges)
      .localCheckpoint(false)
    val deg = canon.select(col("lo").as("id"))
      .union(canon.select(col("hi").as("id")))
      .groupBy(col("id")).agg(count(lit(1)).as("deg"))
    // field names must match for the CASE branches to share one type
    val rlo = struct(col("dlo").as("d"), col("lo").as("i"))
    val rhi = struct(col("dhi").as("d"), col("hi").as("i"))
    val orient = canon
      .join(deg.select(col("id").as("lo"), col("deg").as("dlo")), Seq("lo"))
      .join(deg.select(col("id").as("hi"), col("deg").as("dhi")), Seq("hi"))
      .select(
        when(rlo < rhi, col("lo")).otherwise(col("hi")).as("u"),
        when(rlo < rhi, col("hi")).otherwise(col("lo")).as("v"),
        when(rlo < rhi, rhi).otherwise(rlo).as("rv"))
    val ea = orient.select(col("u"), col("v").as("y"), col("rv").as("ry"))
    val eb = orient.select(col("u"), col("v").as("z"), col("rv").as("rz"))
    val wedges = ea.join(eb, Seq("u")).filter(col("ry") < col("rz"))
      .select(col("u").as("x"), col("y"), col("z"))
    val tri = wedges.join(
      orient.select(col("u").as("y"), col("v").as("z")), Seq("y", "z"), "left_semi")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_tri"))
  }
}
