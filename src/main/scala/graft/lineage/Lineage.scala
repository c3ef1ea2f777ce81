package graft.lineage

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Per-partition lineage + metrics (north rule): a SparkListener capturing
  * task-level input/output/shuffle volumes OFF the data path — zero overhead
  * in the operators themselves. One row per finished task:
  *
  *   (job, stage_id, partition_id, records_read, bytes_read,
  *    records_written, shuffle_read_b, shuffle_write_b, wall_ms, status,
  *    cpu_ms, gc_ms, spill_b)
  *
  * `cpu_ms` is the executor CPU time (fractional ms), `gc_ms` the task's JVM
  * GC time and `spill_b` its memory plus disk spill bytes.
  *
  * A [[scope]] sees only its own jobs: it tags the calling thread with a
  * unique `SparkContext.addJobTag` tag, maps the stages of the jobs that
  * start with it to the scope at job start, and keeps only those stages'
  * task ends. Jobs of other threads, or started before the scope opened,
  * lack the tag; nested scopes all see the inner jobs. Tags are inheritable
  * thread-locals: a thread first started inside a scope keeps its tag.
  * [[capture]] returns a scope's rows as a frame for a lineage Parquet
  * table (see graft.tile.TileManifest).
  */
object Lineage {

  final case class LineageRow(job: String, stage_id: Int, partition_id: Int,
      records_read: Long, bytes_read: Long, records_written: Long,
      shuffle_read_b: Long, shuffle_write_b: Long, wall_ms: Long, status: String,
      cpu_ms: Double, gc_ms: Long, spill_b: Long)

  /** The Spark work of one scope: its job count and one row per task. */
  final case class Scope(jobs: Int, rows: Seq[LineageRow])

  private val scopes = new AtomicLong()

  private final class Collector(tag: String, job: String) extends SparkListener {
    private val stages = mutable.Set.empty[Int]
    var jobs = 0
    val rows = mutable.ArrayBuffer.empty[LineageRow]
    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      val tags = Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      if (tags.exists(_.split(',').contains(tag))) { jobs += 1; stages ++= j.stageIds }
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null && stages.contains(t.stageId)) {
        rows += LineageRow(job, t.stageId, t.taskInfo.index,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.executorRunTime, t.taskInfo.status,
          m.executorCpuTime / 1e6, m.jvmGCTime, m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  /** Run `body`, return (result, the jobs and task rows of the jobs it
    * started on this thread, and on the threads those jobs' plans use).
    */
  def scope[A](spark: SparkSession, job: String = "")(body: => A): (A, Scope) = {
    val sc = spark.sparkContext
    val tag = s"graft-lineage-${scopes.incrementAndGet()}"
    val c = new Collector(tag, job)
    sc.addSparkListener(c)
    sc.addJobTag(tag)
    try {
      val result = body
      // the listener bus is async: drain it so every task-end of `body`
      // has reached the collector; a stuck bus fails loudly after 5 s
      // rather than returning partial lineage
      ListenerBusDrain.waitUntilEmpty(sc, 5000L)
      (result, c.synchronized(Scope(c.jobs, c.rows.toSeq)))
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(c)
    }
  }

  /** [[scope]] with its rows as a one-partition frame: they are
    * driver-sized, and writing them then takes one task and one file.
    */
  def capture[A](spark: SparkSession, job: String)(body: => A): (A, DataFrame) = {
    import spark.implicits._
    val (result, s) = scope(spark, job)(body)
    (result, spark.sparkContext.parallelize(s.rows, 1).toDF())
  }
}
