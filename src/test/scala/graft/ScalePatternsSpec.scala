package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Evidence for the scale patterns the 100 TB design leans on: bucketing
  * co-locates a join with no exchange on the bucketed side; BoundaryExtract
  * switches its joins from broadcast to shuffle at its size threshold.
  */
class ScalePatternsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("bucketed tables join without a shuffle exchange on the bucketed sides") {
    val dir = java.nio.file.Files.createTempDirectory("graft-buckets").toString
    val wh = spark.conf.getOption("spark.sql.warehouse.dir")
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    li.write.mode("overwrite").bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .option("path", s"$dir/li").saveAsTable("li_bkt")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .option("path", s"$dir/o").saveAsTable("o_bkt")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ path
      val joined = spark.table("li_bkt")
        .join(spark.table("o_bkt"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").count()
      val plan = joined.queryExecution.executedPlan.toString
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      // only the final groupBy may shuffle — the join itself is co-located
      assert(exchanges <= 1, s"join should be exchange-free on bucketed sides:\n$plan")
      assert(joined.count() > 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS li_bkt")
      spark.sql("DROP TABLE IF EXISTS o_bkt")
    }
  }

  test("BoundaryExtract auto-switches broadcast→shuffle at the member threshold, same output") {
    val (n, w, r) = graft.fixtures.OsmScenes.grid(8, 4).toDFs(spark)
    def rows(maxBroadcastMembers: Long) = {
      val ds = graft.osm.BoundaryExtract.extract(spark, r, w, n, 8, 8,
        maxBroadcastMembers = maxBroadcastMembers)
      val plan = ds.queryExecution.executedPlan.toString
      (ds.collect().map(p => (p.relation_id, p.name, p.rings)).sortBy(_._1).toSeq, plan)
    }
    // disable Catalyst's size-based auto-broadcast so the engine's own
    // threshold decision is what the plan shows (at 100 TB the stats-based
    // estimate can't see through the filter either — the explicit count can)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (bRows, bPlan) = rows(Long.MaxValue) // force broadcast
      val (sRows, sPlan) = rows(0L)            // force shuffle
      assert(bPlan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$bPlan")
      assert(!sPlan.contains("BroadcastHashJoin"), s"expected shuffle joins:\n$sPlan")
      assert(sPlan.contains("SortMergeJoin") || sPlan.contains("ShuffledHashJoin"),
        s"expected a shuffle join:\n$sPlan")
      assert(bRows == sRows, "broadcast and shuffle paths must produce identical polygons")
      // auto path: the grid scene's member list is far under 10M → broadcast
      val (aRows, aPlan) = rows(10000000L)
      assert(aPlan.contains("BroadcastHashJoin"))
      assert(aRows == bRows)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }
}
