package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.geom.PolygonRow

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

  def committedBatches(outDir: String): Set[Long] = {
    val dir = Paths.get(outDir, "_manifest")
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir) // close the directory stream — fd leak otherwise
      try {
        val it = s.iterator()
        val out = scala.collection.mutable.Set.empty[Long]
        while (it.hasNext) {
          val f = it.next().getFileName.toString
          if (f.startsWith("stream-batch-") && f.endsWith(".json"))
            out += f.stripPrefix("stream-batch-").stripSuffix(".json").toLong
        }
        out.toSet
      } finally s.close()
    }
  }

  private def commit(outDir: String, batchId: Long, images: Long, tiles: Long): Unit = {
    val dir = Paths.get(outDir, "_manifest")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".stream-batch-$batchId.json.tmp")
    Files.writeString(tmp,
      s"""{"batch":$batchId,"images":$images,"tiles":$tiles,"schema_v":1}""")
    Files.move(tmp, dir.resolve(s"stream-batch-$batchId.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

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
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val ((nImages, nTiles), lineage) =
          graft.lineage.Lineage.capture(spark, s"stream-batch-$batchId") {
            val tiles = graft.tile.Tiling.tile(spark, df)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val nT = tiles.count()
            // image count from the persisted tiles (each image has exactly
            // one level-0 origin tile) — counting from `df` would re-read
            // the batch input and re-run both broadcast joins a second time
            val nI = tiles.filter(t => t.level == 0 && t.tx == 0 && t.ty == 0).count()
            tiles.write.mode("overwrite").parquet(s"$outDir/tiles/stream_batch=$batchId")
            tiles.unpersist(blocking = false)
            (nI, nT)
          }
        // batchId-keyed overwrite, mirroring the tiles path: an append here
        // would duplicate lineage rows when a batch is replayed after a
        // crash between this write and commit() — tiles and manifest were
        // idempotent under replay, lineage must be too. Partition column
        // name is shared with TileManifest (see tileBatches there) so batch
        // and streaming lineage can coexist under one _lineage root.
        lineage.write.mode("overwrite")
          .parquet(s"$outDir/_lineage/lineage_batch=stream-$batchId")
        commit(outDir, batchId, nImages, nTiles)
        ()
      }
      .start()
  }
}
