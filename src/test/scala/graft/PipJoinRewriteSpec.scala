package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

class PipJoinRewriteSpec extends AnyFunSuite {
  // the suite-shared session may already exist (getOrCreate would silently
  // drop an extensions config) — install the rule on the live session
  lazy val spark: SparkSession = {
    val s = SparkTestSession.spark
    graft.plans.PipJoinRewrite.install(s)
    s
  }

  private def fixtures() = {
    import spark.implicits._
    val (n, w, r) = graft.fixtures.OsmScenes.grid(6, 4).toDFs(spark)
    val polys = graft.osm.BoundaryExtract.extract(spark, r, w, n, 8, 8)
      .toDF().select(col("relation_id"), col("name"), col("rings"))
    val probes = spark.range(0, 400).select(
      col("id").as("pid"),
      GraftFunctions.latOfKey(col("id")).as("lat"),
      GraftFunctions.lonOfKey(col("id")).as("lon"))
    (probes, polys)
  }

  test("theta PIP join is rewritten to a broadcast cell equi-join") {
    GraftFunctions.register(spark)
    val (probes, polys) = fixtures()
    val joined = probes.join(polys,
      GraftFunctions.rayCastContains(polys("rings"), probes("lat"), probes("lon")))
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"),
      s"rewrite did not fire — nested loop in plan:\n$physical")
    assert(physical.contains("BroadcastHashJoin"), s"expected hash join:\n$physical")
    assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_cover_cell"))
  }

  test("rewritten join returns exactly the nested-loop result") {
    GraftFunctions.register(spark)
    val (probes, polys) = fixtures()
    import spark.implicits._
    val got = probes.join(polys,
      GraftFunctions.rayCastContains(polys("rings"), probes("lat"), probes("lon")))
      .select("pid", "relation_id").as[(Long, Long)].collect().toSet
    // ground truth: kernel brute force
    val polyRows = graft.osm.BoundaryExtract.extract(spark,
      graft.fixtures.OsmScenes.grid(6, 4).toDFs(spark)._3,
      graft.fixtures.OsmScenes.grid(6, 4).toDFs(spark)._2,
      graft.fixtures.OsmScenes.grid(6, 4).toDFs(spark)._1, 8, 8).collect()
    val probeRows = probes.as[(Long, Double, Double)].collect()
    val want = (for {
      (pid, la, lo) <- probeRows
      p <- polyRows if graft.geom.Geom.containsPoint(p.rings, la, lo)
    } yield (pid, p.relation_id)).toSet
    assert(got == want)
  }

  test("swapped sides (polys on the left) also rewrite") {
    GraftFunctions.register(spark)
    val (probes, polys) = fixtures()
    val joined = polys.join(probes,
      GraftFunctions.rayCastContains(polys("rings"), probes("lat"), probes("lon")))
    val physical = joined.queryExecution.executedPlan.toString
    assert(!physical.contains("BroadcastNestedLoopJoin"), physical)
    assert(joined.count() > 0)
  }

  for (f <- SpatialJoinSpec.fixtures)
    test(s"declarative join equals brute force, both side orders: ${f.name}") {
      import spark.implicits._
      GraftFunctions.register(spark)
      val probes = f.probes(spark)
      val polys = spark.createDataset(f.polys).toDF()
      val pip = GraftFunctions.rayCastContains(polys("rings"), probes("lat"), probes("lon"))
      for (joined <- Seq(probes.join(polys, pip), polys.join(probes, pip))) {
        assert(joined.queryExecution.optimizedPlan.toString.contains("__graft_cover_cell"))
        val got = joined.select("pid", "relation_id").as[(Long, Long)].collect().toSeq.sorted
        assert(got === f.bruteForce)
      }
    }
}
