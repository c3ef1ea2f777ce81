package graft.lineage

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** Per-partition lineage + metrics (north rule): a SparkListener capturing
  * task-level input/output/shuffle volumes OFF the data path — zero overhead
  * in the operators themselves. One row per finished task:
  *
  *   (job, stage_id, partition_id, records_read, bytes_read,
  *    records_written, shuffle_read_b, shuffle_write_b, wall_ms, status)
  *
  * Registered per job section via `capture(spark, job) { body }`, appended
  * to a lineage Parquet table by the caller (see graft.tile.TileManifest).
  */
object Lineage {

  final case class LineageRow(job: String, stage_id: Int, partition_id: Int,
      records_read: Long, bytes_read: Long, records_written: Long,
      shuffle_read_b: Long, shuffle_write_b: Long, wall_ms: Long, status: String)

  private final class Collector(job: String) extends SparkListener {
    val rows = ArrayBuffer.empty[LineageRow]
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
      val m = t.taskMetrics
      if (m != null) {
        rows += LineageRow(job, t.stageId, t.taskInfo.index,
          m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
          m.outputMetrics.recordsWritten,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.executorRunTime, t.taskInfo.status)
      }
    }
  }

  /** Run `body`, return (result, lineage rows of every task it executed).
    * The rows come back as a one-partition frame: they are driver-sized,
    * and writing them then takes one task and one file.
    */
  def capture[A](spark: SparkSession, job: String)(body: => A): (A, DataFrame) = {
    import spark.implicits._
    val c = new Collector(job)
    spark.sparkContext.addSparkListener(c)
    try {
      val result = body
      // the listener bus is async: drain it so every task-end of `body`
      // has reached the collector; a stuck bus fails loudly after 5 s
      // rather than returning partial lineage
      ListenerBusDrain.waitUntilEmpty(spark.sparkContext, 5000L)
      (result, spark.sparkContext.parallelize(c.rows.toSeq, 1).toDF())
    } finally {
      spark.sparkContext.removeSparkListener(c)
    }
  }
}
