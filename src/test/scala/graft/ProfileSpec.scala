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
    val entries = Profile.run(spark, Seq("q01_filter_boundary", "no_such_query"),
      "/root/testdata/sf0.001", reps = 2, Some(planDir))
    val q01 = entries.filter(_("query") == "q01_filter_boundary")
    assert(q01.size == 2 && q01.forall(!_.contains("error")), s"q01 entries: $q01")
    for (k <- Seq("jobs", "stages", "tasks")) {
      val v = q01.map(_(k).asInstanceOf[Int])
      assert(v.distinct.size == 1 && v.head > 0, s"$k per rep: $v")
    }
    assert(q01.forall(_("rows").asInstanceOf[Long] > 0))
    val unknown = entries.filter(_("query") == "no_such_query")
    assert(unknown.nonEmpty && unknown.forall(_.contains("error")), s"unknown: $unknown")
    assert(Files.exists(Paths.get(planDir, "q01_filter_boundary.txt")))
  }
}
