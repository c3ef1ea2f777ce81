package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite
import graft.lineage.Lineage

/** `Lineage.capture` sees only the jobs its own body starts: neither a
  * concurrent capture's job on another thread nor a job that started on
  * another thread before the capture opened.
  */
class LineageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A `parts`-task job whose tasks each sleep `ms`, in job group `group`. */
  private def slowJob(group: String, parts: Int, ms: Long): Long = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try sc.parallelize(1 to parts, parts).map { i => Thread.sleep(ms); i }.count()
    finally sc.clearJobGroup()
  }

  private def stagesOf(group: String): Set[Int] = {
    val st = spark.sparkContext.statusTracker
    st.getJobIdsForGroup(group).flatMap(st.getJobInfo).flatMap(_.stageIds).toSet
  }

  private def capturedStages(job: String)(body: => Any): Seq[Int] = {
    val (_, rows) = Lineage.capture(spark, job)(body)
    rows.select("stage_id").collect().map(_.getInt(0)).toSeq
  }

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("two concurrent captures each hold only their own job's stages") {
    val go = new CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentHashMap[String, Seq[Int]]()
    val threads = Seq(("lineage-a", 3), ("lineage-b", 5)).map { case (g, parts) =>
      thread {
        go.await()
        got.put(g, capturedStages(g)(slowJob(g, parts, 400)))
      }
    }
    go.countDown()
    threads.foreach(_.join(60000))
    val a = got.get("lineage-a")
    val b = got.get("lineage-b")
    assert(a != null && b != null, "both captures finished")
    assert(a.size == 3 && a.toSet == stagesOf("lineage-a"), s"capture a held stages $a")
    assert(b.size == 5 && b.toSet == stagesOf("lineage-b"), s"capture b held stages $b")
  }

  test("a job started on another thread before the capture opened stays out of it") {
    val early = thread(slowJob("lineage-early", 2, 800))
    // the early job has started once the status tracker knows its stage
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (stagesOf("lineage-early").isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    val rows = capturedStages("lineage-own") {
      slowJob("lineage-own", 2, 10)
      early.join(60000) // every task end of the early job arrives inside the capture
    }
    val earlyStages = stagesOf("lineage-early")
    assert(earlyStages.nonEmpty, "the early job ran")
    assert(rows.toSet == stagesOf("lineage-own") && rows.size == 2,
      s"capture held stages $rows; the early job's were $earlyStages")
  }
}
