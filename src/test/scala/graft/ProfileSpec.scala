package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** `Profile.run` on the test session: repeated reps of a query report the
  * same Spark work, an unknown query becomes an error entry, and the plan
  * file lands in `planDir`.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("two reps of q01 count the same jobs, stages and tasks; an unknown query is an error") {
    val planDir = Files.createTempDirectory("graft-profile").toString
    val known = Seq("q01_filter_boundary", "q159_bfs_hops")
    val entries = Profile.run(spark, known :+ "no_such_query",
      "/root/testdata/sf0.001", reps = 2, Some(planDir))
    for (q <- known) {
      val reps = entries.filter(_("query") == q)
      assert(reps.size == 2 && reps.forall(!_.contains("error")), s"$q entries: $reps")
      for (k <- Seq("jobs", "stages", "tasks")) {
        val v = reps.map(_(k).asInstanceOf[Int])
        assert(v.distinct.size == 1 && v.head > 0, s"$q $k per rep: $v")
      }
      assert(reps.forall(_("rows").asInstanceOf[Long] > 0))
    }
    val unknown = entries.filter(_("query") == "no_such_query")
    assert(unknown.nonEmpty && unknown.forall(_.contains("error")), s"unknown: $unknown")
    assert(Files.exists(Paths.get(planDir, "q01_filter_boundary.txt")))
  }
}
