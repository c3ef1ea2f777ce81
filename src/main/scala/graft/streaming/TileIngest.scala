package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.geom.PolygonRow
import graft.lineage.Lineage
import graft.tile.{TileManifest, Tiling}

/** Streaming image ingestion (north rule: readStream → transforms →
  * writeStream, checkpoint-resumable): new image+caption parquet files
  * landing in a directory are geotagged, spatial-joined against the static
  * polygon set (stream-static broadcast equi-join on the cover cell — the
  * stream side never shuffles), tiled per micro-batch, and committed with
  * an atomic per-batch manifest entry.
  *
  * Resume semantics are two-layered, mirroring TileManifest:
  *  - the checkpoint directory gives exactly-once file-source offsets
  *    (a restart never re-reads committed input files);
  *  - each micro-batch writes tiles to a batchId-keyed directory with
  *    overwrite + an atomic manifest rename, so a batch replayed after a
  *    mid-batch crash is idempotent.
  */
object TileIngest {

  val imageSchema: StructType = StructType(Seq(
    StructField("image_id", StringType), StructField("bytes", BinaryType),
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("fmt", StringType), StructField("caption", StringType),
    StructField("phash", LongType)))

  def committedBatches(outDir: String): Set[Long] = TileManifest.entries(outDir, "stream-batch-")

  /** Start the ingest. `Trigger.AvailableNow` drains what exists and stops —
    * the test/cron shape; pass a processing-time trigger for a daemon.
    */
  def run(
      spark: SparkSession,
      imagesDir: String,
      polys: Dataset[PolygonRow],
      outDir: String,
      checkpointDir: String,
      res: Int = 7,
      maxFilesPerTrigger: Int = 1,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val stream = spark.readStream
      .schema(imageSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(imagesDir)
      .withColumn("idx", substring(col("image_id"), 5, 9).cast("long"))
      .withColumn("lat", graft.functions.GraftFunctions.latOfKey(col("idx")))
      .withColumn("lon", graft.functions.GraftFunctions.lonOfKey(col("idx")))

    // stream-static join: the polygon side is static and broadcast; the
    // streaming side stays map-side only (same plan shape as the batch
    // headline job)
    val assigned = graft.join.SpatialJoin.assign(spark, stream, polys, res)

    assigned.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        // one write job: both counts ride it as observed metrics, as in
        // TileManifest.tileBatches
        val (m, lineage) = Lineage.capture(spark, s"stream-batch-$batchId") {
          val obs = Observation(s"stream-batch-$batchId-${System.nanoTime()}")
          Tiling.tile(spark, df).observe(obs, count(lit(1)).as("tiles"),
            count(when(TileManifest.originTile, 1)).as("images"))
            .write.mode("overwrite").parquet(s"$outDir/tiles/stream_batch=$batchId")
          obs.get
        }
        // batchId-keyed overwrite, mirroring the tiles path: an append here
        // would duplicate lineage rows when a batch is replayed after a
        // crash between this write and the manifest commit — tiles and
        // manifest were idempotent under replay, lineage must be too.
        // Partition column name is shared with TileManifest (see tileBatches
        // there) so batch and streaming lineage can coexist under one
        // _lineage root.
        lineage.write.mode("overwrite")
          .parquet(s"$outDir/_lineage/lineage_batch=stream-$batchId")
        TileManifest.commit(outDir, "stream-batch-", batchId,
          m("images").asInstanceOf[Long], m("tiles").asInstanceOf[Long])
        ()
      }
      .start()
  }
}
