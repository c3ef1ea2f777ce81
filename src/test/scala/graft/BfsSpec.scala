package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.Bfs
import graft.lineage.Lineage

/** Bfs: hand-derived hop counts, multi-seed minimum, unreachable nodes
  * absent, loud non-convergence — on both paths of `Bfs.hops`: the
  * in-memory BFS the default session takes for these broadcast-sized
  * graphs, and the blocked Spark loop a session with the broadcast
  * threshold at -1 forces.
  */
class BfsSpec extends AnyFunSuite {

  private def cases(suffix: String, session: => SparkSession): Unit = {

    test("path graph: hops count edges from the seed; unreachable absent" + suffix) {
      val spark = session
      import spark.implicits._
      // 1–2–3–4–5 plus isolated component 8–9
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (8L, 9L))
        .toDF("rel_a", "rel_b")
      val got = Bfs.hops(spark, edges, Seq(1L).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L))
    }

    test("two seeds: every node gets the MINIMUM distance; seed dedup" + suffix) {
      val spark = session
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("rel_a", "rel_b")
      val got = Bfs.hops(spark, edges, Seq(1L, 5L, 5L).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    }

    test("cycle: distances wrap both ways" + suffix) {
      val spark = session
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("rel_a", "rel_b")
      val got = Bfs.hops(spark, edges, Seq(1L).toDF("id"))
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L))
    }

    test("non-convergence inside maxRounds throws loudly" + suffix) {
      val spark = session
      import spark.implicits._
      val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("rel_a", "rel_b")
      val e = intercept[IllegalStateException] {
        Bfs.hops(spark, edges, Seq(1L).toDF("id"), maxRounds = 2)
      }
      assert(e.getMessage.contains("did not converge"))
    }

    test("a graph converging in EXACTLY maxRounds label rounds succeeds" + suffix) {
      val spark = session
      import spark.implicits._
      // eccentricity 1 with maxRounds = 1: round 1 labels node 2, round 2
      // probes an empty frontier — no spurious non-convergence
      val edges = Seq((1L, 2L)).toDF("rel_a", "rel_b")
      val got = Bfs.hops(spark, edges, Seq(1L).toDF("id"), maxRounds = 1)
        .as[(Long, Long)].collect().toMap
      assert(got === Map(1L -> 0L, 2L -> 1L))
    }
  }

  cases("", SparkTestSession.spark)
  cases(" [blocked loop]", BfsSpec.blocked)

  private lazy val spark = SparkTestSession.spark

  test("both paths return the same schema") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("rel_a", "rel_b")
    val seeds = Seq(1L).toDF("id")
    assert(Bfs.hops(spark, edges, seeds).schema ===
      Bfs.hops(BfsSpec.blocked, edges, seeds).schema)
  }

  test("null ids: hops takes the blocked loop, whose join drops them") {
    // pinned from the blocked loop at the default block size: the
    // equi-join never matches a null key, so once the loop converges a
    // null seed or endpoint has no row and passes no hop on
    import spark.implicits._
    val edges = Seq((Some(1L), Some(2L)), (Some(2L), None), (None, Some(3L)),
      (Some(3L), Some(4L))).toDF("rel_a", "rel_b")
    val seeds = Seq(Some(1L), None, Some(3L)).toDF("id")
    val want = Map(1L -> 0L, 2L -> 1L, 3L -> 0L, 4L -> 1L)
    for (s <- Seq(spark, BfsSpec.blocked)) {
      val got = Bfs.hops(s, edges, seeds).as[(Option[Long], Option[Long])].collect()
      assert(got.toMap === want.map { case (k, v) => Some(k) -> Some(v) })
    }
  }

  test("in-memory hops starts at most 3 Spark jobs, fewer than the blocked loop") {
    import spark.implicits._
    val edges = (1L to 30L).map(i => (i, i + 1)).toDF("rel_a", "rel_b")
    val seeds = Seq(1L, 17L).toDF("id")
    val (local, nLocal) = BfsSpec.jobsOf(spark)(Bfs.hops(spark, edges, seeds).collect())
    val (blocked, nBlocked) =
      BfsSpec.jobsOf(spark)(Bfs.hops(BfsSpec.blocked, edges, seeds).collect())
    assert(local.toSet === blocked.toSet)
    assert(nLocal <= 3, s"in-memory path started $nLocal jobs")
    assert(nLocal < nBlocked, s"in-memory $nLocal jobs vs blocked $nBlocked")
  }

  test("neither path leaves AQE or the shuffle width changed") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("rel_a", "rel_b")
    val seeds = Seq(1L).toDF("id")
    for (s <- Seq(spark, BfsSpec.blocked)) {
      val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
      val before = keys.map(k => s.conf.getOption(k))
      Bfs.hops(s, edges, seeds).collect()
      assert(keys.map(k => s.conf.getOption(k)) === before)
    }
  }
}

object BfsSpec {

  /** A session whose broadcast threshold is off: `Bfs.hops` runs the
    * blocked Spark loop there whatever the graph's size.
    */
  lazy val blocked: SparkSession = SparkTestSession.broadcastOff

  /** `body`'s result and the number of Spark jobs it started on this
    * thread (jobs of other threads are not in its [[Lineage.scope]]).
    */
  def jobsOf[A](spark: SparkSession)(body: => A): (A, Int) =
    Lineage.scope(spark)(body) match { case (a, s) => (a, s.jobs) }
}

/** Both paths of `Bfs.hops` over random small graphs with duplicate
  * edges, self-loops, duplicate seeds and seeds outside the edge list:
  * the same rows, and for a random `maxRounds` both throw or both succeed.
  */
object BfsProperties extends Properties("Bfs.hops") {

  // each case runs the blocked Spark loop: keep the sample count small
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(25)

  private val graphGen: Gen[(Seq[(Long, Long)], Seq[Long], Int)] = for {
    nNodes <- Gen.choose(1, 12)
    node = Gen.choose(1L, nNodes.toLong)
    nEdges <- Gen.choose(0, 18)
    edges <- Gen.listOfN(nEdges, Gen.zip(node, node))
    dups <- Gen.someOf(edges)
    seeds <- Gen.nonEmptyListOf(Gen.choose(1L, nNodes + 3L)).map(_.take(4))
    maxRounds <- Gen.choose(0, 6)
  } yield (edges ++ dups, seeds ++ seeds.take(1), maxRounds)

  private def run(s: SparkSession, edges: Seq[(Long, Long)], seeds: Seq[Long],
      maxRounds: Int): Either[String, Set[(Long, Long)]] = {
    import s.implicits._
    val e: DataFrame = edges.toDF("rel_a", "rel_b")
    try Right(Bfs.hops(s, e, seeds.toDF("id"), maxRounds = maxRounds)
      .as[(Long, Long)].collect().toSet)
    catch { case x: IllegalStateException => Left(x.getMessage) }
  }

  property("in-memory and blocked loop agree on rows and on maxRounds") =
    forAll(graphGen) { case (edges, seeds, maxRounds) =>
      val local = run(SparkTestSession.spark, edges, seeds, maxRounds)
      val blocked = run(BfsSpec.blocked, edges, seeds, maxRounds)
      Prop(local == blocked) :| s"in-memory $local vs blocked $blocked"
    }
}
