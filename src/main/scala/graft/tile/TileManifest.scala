package graft.tile

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.lineage.Lineage

/** Checkpoint-resumable tiling job (north rule).
  *
  * The image set is split into `nBatches` deterministic batches
  * (`pmod(hash(image_id), n)` — the same split at any cluster size). One
  * call tiles every pending batch in ONE Spark write job: a dynamic
  * partition overwrite of `outDir/tiles`, partitioned by `batch`, replaces
  * exactly the pending `tiles/batch=<b>/` directories. After the job, each
  * pending batch commits a manifest entry `outDir/_manifest/batch-<b>.json`
  * atomically (temp-file + rename) with the counts the write observed.
  * Restart skips every batch with a committed manifest entry —
  * Iceberg-snapshot-like semantics on plain Parquet (no Iceberg runtime in
  * the sandbox, SURVEY.md §7.1). The call's lineage rows (task-level
  * IO/timing) land in `outDir/_lineage/`.
  *
  * Commit contract: the pending batches of one call commit together. If
  * the write job fails, no entry is committed and the next call redoes all
  * of them.
  */
object TileManifest {

  final case class BatchResult(batch: Int, images: Long, tiles: Long, skipped: Boolean)

  def completedBatches(outDir: String): Set[Int] = entries(outDir, "batch-").map(_.toInt)

  /** The ids of the committed `outDir/_manifest/<prefix><id>.json` entries
    * (TileIngest's micro-batches commit under the prefix `stream-batch-`).
    */
  private[graft] def entries(outDir: String, prefix: String): Set[Long] = {
    val dir = Paths.get(outDir, "_manifest")
    if (!Files.isDirectory(dir)) Set.empty
    else {
      val s = Files.list(dir) // close the directory stream — fd leak otherwise
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(f => f.startsWith(prefix) && f.endsWith(".json"))
        .map(_.stripPrefix(prefix).stripSuffix(".json").toLong).toSet
      finally s.close()
    }
  }

  /** Commit the entry `outDir/_manifest/<prefix><id>.json` atomically
    * (temp file + rename); a refresh or a replay replaces an existing entry.
    */
  private[graft] def commit(outDir: String, prefix: String, id: Long, images: Long,
      tiles: Long): Unit = {
    val dir = Paths.get(outDir, "_manifest")
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".$prefix$id.json.tmp")
    Files.writeString(tmp, s"""{"batch":$id,"images":$images,"tiles":$tiles,"schema_v":1}""")
    Files.move(tmp, dir.resolve(s"$prefix$id.json"), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Deterministic batch of an image: the same split at any cluster size. */
  private def batchCol(nBatches: Int) = pmod(hash(col("image_id")), lit(nBatches))

  /** A tile's level-0 origin: each image has exactly one, so counting
    * these counts the images tiled.
    */
  private[graft] def originTile = col("level") === 0 && col("tx") === 0 && col("ty") === 0

  /** Run (or resume) the tiling job. `assigned` needs image_id, relation_id,
    * bytes. Returns per-batch results including skips.
    *
    * Scale shape: the pending batches are filtered out of `assigned` and
    * tiled in one write job, so the input is read once and no cache is
    * needed. Each batch's image and tile counts ride that job as observed
    * metrics. Resume after a JVM crash re-runs the upstream of every
    * pending batch; where the upstream is the expensive part, use
    * [[runStaged]], which materializes the joined frame once as
    * batch-partitioned parquet and lets partition pruning serve each resume.
    */
  def run(spark: SparkSession, assigned: DataFrame, outDir: String,
      nBatches: Int = 8): Seq[BatchResult] = {
    val pending = (0 until nBatches).filterNot(completedBatches(outDir).contains)
    tileBatches(spark, assigned.filter(batchCol(nBatches).isin(pending: _*)), outDir,
      nBatches, pending)
  }

  /** Tile `rows` (the pending batches' images) in one write job, then commit
    * each pending batch with the counts the job observed; every other batch
    * reads as skipped. The counts ride the WRITE job via `observe`
    * (Iceberg's writer-reported commit stats): they count the rows actually
    * streamed to the writer, with no read-back job. Dynamic partition
    * overwrite replaces only the batches that got tiles; a pending batch
    * with none cannot be replaced by nothing, so its old `tiles/batch=<b>`
    * is deleted before its `0/0` entry commits.
    */
  private def tileBatches(spark: SparkSession, rows: DataFrame, outDir: String,
      nBatches: Int, pending: Seq[Int]): Seq[BatchResult] = {
    if (pending.isEmpty) return (0 until nBatches).map(BatchResult(_, 0, 0, skipped = true))
    val ids = pending.mkString("-")
    val counts = pending.flatMap { b =>
      val in = col("batch") === b
      Seq(count(when(in, 1)).as(s"tiles_$b"), count(when(in && originTile, 1)).as(s"images_$b"))
    }
    val (m, lineage) = Lineage.capture(spark, s"tile-batches-$ids") {
      val obs = Observation(s"tile-batches-$ids-${System.nanoTime()}")
      Tiling.tile(spark, rows).withColumn("batch", batchCol(nBatches))
        .observe(obs, counts.head, counts.tail: _*)
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(s"$outDir/tiles")
      obs.get
    }
    // keyed by the pending set (not append): a call replayed after a crash
    // between this write and the commits stays idempotent. Partition
    // column `lineage_batch` is shared with TileIngest's streaming writer
    // so both can land in one _lineage dir — two different
    // partition-column names under one root would make
    // spark.read.parquet(_lineage) throw on partition discovery.
    lineage.write.mode("overwrite").parquet(s"$outDir/_lineage/lineage_batch=batches-$ids")
    (0 until nBatches).map { b =>
      if (!pending.contains(b)) BatchResult(b, 0, 0, skipped = true)
      else {
        val tiles = m(s"tiles_$b").asInstanceOf[Long]
        val images = m(s"images_$b").asInstanceOf[Long]
        if (tiles == 0) rmrf(new java.io.File(s"$outDir/tiles/batch=$b"))
        commit(outDir, "batch-", b, images, tiles)
        BatchResult(b, images, tiles, skipped = false)
      }
    }
  }

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(): Unit
  }

  /** Durable variant for genuinely huge inputs: materialize `assigned` ONCE
    * as parquet partitioned by `batch` (skipped when already staged), then
    * the pending batches read back with partition pruning — the filter
    * becomes a directory prune, never a scan of committed batches.
    *
    * vs `run`: a resume of `run` after a crash re-executes the upstream
    * join for every pending batch; the staging survives, making resume
    * zero-upstream-cost — at 100 TB (where the upstream is a multi-hour
    * join) this is the shape that matters, at the price of one durable
    * copy of the joined frame.
    */
  def runStaged(spark: SparkSession, assigned: DataFrame, outDir: String,
      nBatches: Int = 8): Seq[BatchResult] = {
    val pending = (0 until nBatches).filterNot(completedBatches(outDir).contains)
    val stagedDir = s"$outDir/_staged"
    val metaPath = Paths.get(outDir, "_staged_meta.json")
    if (!Files.exists(Paths.get(stagedDir, "_SUCCESS"))) {
      assigned.withColumn("batch", batchCol(nBatches))
        .write.mode("overwrite").partitionBy("batch").parquet(stagedDir)
      val tmp = Paths.get(outDir, "._staged_meta.json.tmp")
      Files.writeString(tmp, s"""{"n_batches":$nBatches,"schema_v":1}""")
      Files.move(tmp, metaPath, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
    } else {
      // the batch split is baked into the staging — a resume with a
      // different nBatches would silently never tile the extra batches
      val staged = stagedBatches(metaPath)
      require(staged == nBatches,
        s"$outDir was staged with n_batches=$staged but resumed with " +
          s"n_batches=$nBatches — delete $stagedDir to restage, or resume " +
          "with the original batch count")
    }
    tileBatches(spark, spark.read.parquet(stagedDir).filter(col("batch").isin(pending: _*)),
      outDir, nBatches, pending)
  }

  private def stagedBatches(metaPath: java.nio.file.Path): Int = {
    val meta = Files.readString(metaPath)
    """"n_batches":(\d+)""".r.findFirstMatchIn(meta)
      .map(_.group(1).toInt)
      .getOrElse(sys.error(s"unreadable $metaPath: $meta"))
  }

  /** Incremental refresh of a completed [[runStaged]] output: apply an
    * image-level delta (upserts carry the full assigned row; deletes just
    * image_ids) by re-tiling ONLY the batches containing a changed image
    * — the CDC-driven maintenance path, O(changed batches) like the
    * snapshot table's merge, against O(corpus) for a rebuild.
    *
    * The affected batches' old slices read back partition-PRUNED from the
    * staging, changed ids anti-join out, upserts union in; the new slices
    * are eagerly localCheckpointed BEFORE the staging is overwritten (the
    * read and the write touch the same directories — the checkpoint is
    * what makes the swap safe). One dynamic-overwrite job replaces the
    * affected staging partitions, one [[tileBatches]] job re-tiles them,
    * and their manifest entries re-commit. A batch the delta drained
    * commits `0/0` and loses its tiles and staging partitions. Untouched
    * batches: zero reads, zero writes. The staging swap is not atomic; the
    * manifest entries remain the commit point, and a crashed refresh is
    * safe to re-run with the same (deterministic) delta.
    */
  def refreshStaged(spark: SparkSession, upserts: DataFrame, deleteIds: DataFrame,
      outDir: String): Seq[BatchResult] = {
    val stagedDir = s"$outDir/_staged"
    val metaPath = Paths.get(outDir, "_staged_meta.json")
    require(Files.exists(metaPath), s"no staged tiling run at $outDir to refresh")
    val nBatches = stagedBatches(metaPath)
    val up = upserts.withColumn("batch", batchCol(nBatches))
    val del = deleteIds.select(col("image_id")).withColumn("batch", batchCol(nBatches))
    // metadata-sized by construction: ≤ nBatches values
    val affected = up.select(col("batch")).union(del.select(col("batch")))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    if (affected.isEmpty)
      return (0 until nBatches).map(BatchResult(_, 0, 0, skipped = true))
    val changedIds = up.select(col("image_id"))
      .union(del.select(col("image_id"))).distinct()
    // refreshes that deleted every staged image leave no data file for
    // schema inference: the old slices are then empty
    val walk = Files.walk(Paths.get(stagedDir))
    val hasFiles =
      try walk.anyMatch(p => p.toString.endsWith(".parquet"))
      finally walk.close()
    val oldSlices = (if (hasFiles) spark.read.parquet(stagedDir) else up.limit(0))
      .filter(col("batch").isin(affected: _*)) // partition prune
    val newSlices = oldSlices.join(changedIds, Seq("image_id"), "left_anti")
      .unionByName(up)
      .localCheckpoint(true) // delta-sized; severs lineage from stagedDir
    try {
      newSlices.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch").parquet(stagedDir)
      val res = tileBatches(spark, newSlices, outDir, nBatches, affected)
      res.filter(r => !r.skipped && r.tiles == 0)
        .foreach(r => rmrf(new java.io.File(s"$stagedDir/batch=${r.batch}")))
      res
    } finally newSlices.unpersist(blocking = false)
  }
}
