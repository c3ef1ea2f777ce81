package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.dedup.Dedup
import graft.geom.{Raster, Terrain}
import graft.graph.{Fixpoint, KCore, Mst, Sssp}

/** The fixpoint runner: a stop test that cannot wrap, a session conf left
  * as found when two loops share a session, and the exact `maxRounds`
  * boundary of every loop that runs through it.
  */
class FixpointSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val W = 4000000000000000000L // 4e18: three of them overflow a Long sum

  test("Sssp converges on a star whose distances fit a Long but whose sum does not") {
    val edges = Seq((0L, 1L, W), (0L, 2L, W), (0L, 3L, W)).toDF("rel_a", "rel_b", "w")
    val got = Sssp.distances(spark, edges, Seq(0L).toDF("id"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> W, 2L -> W, 3L -> W))
  }

  test("costDistance converges on a 1x3 strip of 4e18 cell costs") {
    val cells = Seq((1L, 0L, 0L, W), (1L, 1L, 0L, W), (1L, 2L, 0L, W))
      .toDF("relation_id", "cx", "cy", "v")
    val seeds = Seq((1L, 0L, 0L)).toDF("relation_id", "cx", "cy")
    val got = Raster.costDistance(cells, seeds)
      .select("cx", "dist").as[(Long, Long)].collect().toMap
    assert(got === Map(0L -> 0L, 1L -> W, 2L -> 2 * W))
  }

  test("costDistance fails loudly on a distance that does not fit a Long") {
    val cells = (0L until 4L).map(i => (1L, i, 0L, W)).toDF("relation_id", "cx", "cy", "v")
    val seeds = Seq((1L, 0L, 0L)).toDF("relation_id", "cx", "cy")
    val e = intercept[Exception](Raster.costDistance(cells, seeds).collect())
    assert(e.getMessage.contains("does not fit a Long"), e.getMessage)
  }

  test("two loops on one session leave AQE and the shuffle width as they found them") {
    // loop B saves its conf while loop A holds it changed; without the
    // runner's session lock B would restore A's values last
    val s = spark.newSession()
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    val before = keys.map(s.conf.get)
    val aIn, bIn, aDone = new CountDownLatch(1)
    def loop(wait: => Unit): Unit =
      Fixpoint.run(s.range(3).withColumn("fresh", lit(1)), 4, 1, "test loop") {
        (cur, _) => wait; cur.withColumn("fresh", lit(0))
      }.collect()
    val a = Future {
      try loop { aIn.countDown(); bIn.await(2, TimeUnit.SECONDS) } finally aDone.countDown()
    }
    assert(aIn.await(60, TimeUnit.SECONDS))
    val b = Future(loop { bIn.countDown(); aDone.await(2, TimeUnit.SECONDS) })
    Await.result(a.zip(b), 2.minutes)
    assert(keys.map(s.conf.get) === before)
  }

  test("each ported loop: the largest maxRounds that throws, the smallest that succeeds") {
    // KCore at k=2 peels a 12-node path from both ends: 6 changing rounds
    val path12 = (0L until 11L).map(i => (i, i + 1)).toDF("src", "dst")
    // star contraction needs 6 changing rounds on a 64-node path
    val path64 = spark.range(0, 63).select(col("id").as("src"), (col("id") + 1).as("dst"))
    // Borůvka: the even edges merge pairs in round 1, the odd ones the rest in round 2
    val mst = (0L until 7L).map(i => (i, i + 1, (i % 2) * 10 + i)).toDF("src", "dst", "w")
    // a 9-cell strip drains west: flow paths up to 8 long, 3 doublings
    val strip = (0L until 9L).map(i => (1L, i, 0L, i)).toDF("relation_id", "cx", "cy", "z")
    // a 9-node path DAG: longest path 8, 3 doublings
    val dag = (0L until 8L).map(i => (i, i + 1)).toDF("u", "v")
    val cases: Seq[(String, Int, Int => Any)] = Seq(
      ("kCore(k=2)", 6, r => KCore.kCore(spark, path12, 2, r).collect()),
      ("Dedup.starContraction", 6, r => Dedup.starContraction(spark, path64, r)._1.collect()),
      ("Mst.boruvka", 2, r => Mst.boruvka(spark, mst, r).collect()),
      ("Terrain.flowAccumulation", 3,
        r => Terrain.flowAccumulation(Terrain.d8Flow(strip), maxRounds = r).collect()),
      ("Terrain.sinkLabel", 3,
        r => Terrain.sinkLabel(Terrain.d8Flow(strip), maxRounds = r).collect()),
      ("q271 path doubling", 3, r => SparkEntry.dagLongestPaths(dag, r).collect()))
    for ((what, boundary, run) <- cases) withClue(what) {
      val e = intercept[IllegalStateException](run(boundary - 1))
      assert(e.getMessage === s"$what did not converge within ${boundary - 1} rounds")
      run(boundary)
    }
  }
}
