package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.img.ImageTable
import graft.tile.{Tiling, TileManifest}
import org.apache.spark.sql.functions._

class ImageTableSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("generation is deterministic and decode is bit-exact (PSNR = inf >= 40dB)") {
    for (i <- 0L until 20L) {
      val row = ImageTable.makeRow(i)
      val (px, w, h) = ImageTable.decode(row.bytes)
      assert(w == row.w && h == row.h)
      val expected = ImageTable.renderPixels(i, row.w, row.h)
      assert(px.sameElements(expected), s"image $i decode differs")
      assert(ImageTable.psnrDb(px, expected).isPosInfinity)
      assert(ImageTable.makeRow(i).bytes.sameElements(row.bytes), "non-deterministic encode")
    }
  }

  test("both png and bmp containers appear and are JDK-decodable") {
    val rows = (0L until 10L).map(ImageTable.makeRow)
    assert(rows.map(_.fmt).toSet == Set("png", "bmp"))
    rows.foreach(r => assert(ImageTable.decode(r.bytes)._1.nonEmpty))
  }

  test("distributed generation matches local kernel") {
    val ds = ImageTable.generate(spark, 40, partitions = 7).collect()
    assert(ds.length == 40)
    ds.foreach { r =>
      val i = r.image_id.stripPrefix("img_").toLong
      assert(r.phash == ImageTable.splitmix64(i))
      assert(r.caption == s"caption_$i of cell ${math.abs(r.phash) % 97}")
    }
  }

  test("psnr measures degradation when pixels differ") {
    val a = Array.fill(256)(0x808080)
    val b = a.clone(); b(0) = 0x818080 // one +1 delta in one channel
    val p = ImageTable.psnrDb(a, b)
    assert(p > 40 && !p.isInfinite) // tiny error → high but finite
    val c = Array.fill(256)(0x000000)
    assert(ImageTable.psnrDb(a, c) < 10)
  }
}

class TilingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pyramid levels shrink to a single tile; level0 tiles cover the image") {
    val row = ImageTable.makeRow(5) // some w,h in 16..63
    val tiles = Tiling.pyramid(row.image_id, 1L, row.bytes)
    val top = tiles.map(_.level).max
    val topTiles = tiles.filter(_.level == top)
    assert(topTiles.length == 1)
    val lvl0 = tiles.filter(_.level == 0)
    assert(lvl0.map(t => t.tw * t.th).sum == row.w * row.h)
  }

  test("downsample2x is an exact integer box filter") {
    val px = Array(10, 20, 30, 40).map(v => (v << 16) | (v << 8) | v)
    val (out, nw, nh) = Tiling.downsample2x(px, 2, 2)
    assert(nw == 1 && nh == 1)
    assert(out(0) == ((25 << 16) | (25 << 8) | 25))
    // odd width: partial box
    val px2 = Array(10, 20, 30).map(v => (v << 16) | (v << 8) | v)
    val (out2, nw2, _) = Tiling.downsample2x(px2, 3, 1)
    assert(nw2 == 2 && ((out2(0) >> 16) & 0xFF) == 15 && ((out2(1) >> 16) & 0xFF) == 30)
  }

  test("tile reconstruction satisfies the PSNR>=40dB + caption invariant") {
    val images = ImageTable.generate(spark, 12, 4).toDF()
    val assigned = images.withColumn("relation_id", lit(7L))
    val tiles = Tiling.tile(spark, assigned)
    val violations = Tiling.verifyTiles(spark, images, tiles)
    assert(violations.count() == 0)
  }

  test("manifest: second run skips all; deleting one entry recomputes only that batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tiles").toString
    val images = ImageTable.generate(spark, 30, 4).toDF()
      .withColumn("relation_id", lit(1L))
    val r1 = TileManifest.run(spark, images, dir, nBatches = 4)
    assert(r1.forall(!_.skipped))
    assert(r1.map(_.images).sum == 30)
    val totalTiles = r1.map(_.tiles).sum

    val r2 = TileManifest.run(spark, images, dir, nBatches = 4)
    assert(r2.forall(_.skipped))

    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_manifest", "batch-2.json"))
    val r3 = TileManifest.run(spark, images, dir, nBatches = 4)
    assert(r3.count(!_.skipped) == 1 && !r3(2).skipped)
    assert(r3(2).tiles == r1(2).tiles)

    // lineage rows recorded with task-level metrics
    val lin = spark.read.parquet(s"$dir/_lineage")
    assert(lin.count() > 0)
    // one lineage label per call: r1 tiled all four batches, r3 only batch 2;
    // each label's written rows are exactly the tiles that call committed
    val labels = lin.select("job").distinct().collect().map(_.getString(0)).toSet
    assert(labels == Set("tile-batches-0-1-2-3", "tile-batches-2"))
    val written = lin.groupBy("job").agg(sum("records_written")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(written == Map("tile-batches-0-1-2-3" -> totalTiles, "tile-batches-2" -> r3(2).tiles))
    // tiles on disk = sum of manifest counts
    val onDisk = spark.read.parquet(s"$dir/tiles").count()
    assert(onDisk == totalTiles)
  }

  test("manifest: one call writes every pending batch in one stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft-onestage").toString
    val images = ImageTable.generate(spark, 30, 4).toDF()
      .withColumn("relation_id", lit(1L))
    TileManifest.run(spark, images, dir, nBatches = 4)
    val writers = spark.read.parquet(s"$dir/_lineage").filter(col("records_written") > 0)
    assert(writers.count() > 0)
    assert(writers.select("stage_id").distinct().count() == 1)
  }

  test("manifest: a failed call commits no batch; the rerun commits all of them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-allornothing").toString
    val images = ImageTable.generate(spark, 30, 4).toDF()
      .withColumn("relation_id", lit(1L))
    val corrupt = images.limit(1).withColumn("image_id", lit("img_corrupt"))
      .withColumn("bytes", lit(Array[Byte](1, 2, 3)))
    intercept[Exception](TileManifest.run(spark, images.unionByName(corrupt), dir, nBatches = 4))
    assert(TileManifest.completedBatches(dir).isEmpty)

    val r = TileManifest.run(spark, images, dir, nBatches = 4)
    assert(r.forall(!_.skipped) && r.map(_.images).sum == 30)
    assert(TileManifest.completedBatches(dir) == Set(0, 1, 2, 3))
    assert(spark.read.parquet(s"$dir/tiles").count() == r.map(_.tiles).sum)
  }

  test("manifest: empty batches commit 0/0 and drop stale tiles") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft-emptybatch").toString
    val images = ImageTable.generate(spark, 3, 1).toDF()
      .withColumn("relation_id", lit(1L))
    val full = images.select(pmod(hash(col("image_id")), lit(8))).collect()
      .map(_.getInt(0)).toSet
    val empty = (0 until 8).filterNot(full)
    assert(empty.nonEmpty)
    // tiles left behind by an earlier run of the same output dir
    val stale = empty.map(b => Paths.get(dir, "tiles", s"batch=$b"))
    stale.foreach { d =>
      Files.createDirectories(d); Files.write(d.resolve("part-x.parquet"), Array[Byte](0))
    }
    val r = TileManifest.run(spark, images, dir, nBatches = 8)
    for (b <- empty) {
      assert(r(b) == TileManifest.BatchResult(b, 0, 0, skipped = false))
      assert(Files.readString(Paths.get(dir, "_manifest", s"batch-$b.json"))
        .contains(""""images":0,"tiles":0"""))
    }
    stale.foreach(d => assert(!Files.exists(d), s"stale $d survived"))
    assert(r.map(_.images).sum == 3)
    assert(spark.read.parquet(s"$dir/tiles").count() == r.map(_.tiles).sum)
  }

  test("runStaged: upstream materialized once, batches partition-pruned, crash-resume skips upstream") {
    val dir = java.nio.file.Files.createTempDirectory("graft-staged").toString
    val images = ImageTable.generate(spark, 30, 4).toDF()
      .withColumn("relation_id", lit(1L))
    val r1 = TileManifest.runStaged(spark, images, dir, nBatches = 4)
    assert(r1.forall(!_.skipped) && r1.map(_.images).sum == 30)

    // the batch slice is served by PARTITION PRUNING on the staged parquet
    val staged = spark.read.parquet(s"$dir/_staged").filter(col("batch") === 2)
    val plan = staged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(batch"),
      s"batch filter must prune partitions:\n$plan")

    // simulate a crashed run: delete one manifest entry AND poison the
    // upstream frame — resume must read only the staging, never re-running
    // the upstream join
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "_manifest", "batch-1.json"))
    val poisoned = images.filter(col("image_id") =!= col("image_id")) // empty if re-read
    val r2 = TileManifest.runStaged(spark, poisoned, dir, nBatches = 4)
    assert(r2.count(!_.skipped) == 1 && !r2(1).skipped)
    assert(r2(1).tiles == r1(1).tiles, "resumed batch must equal the original (from staging)")

    // the batch split is baked into the staging: resuming with a different
    // nBatches must fail loudly, never silently drop batches
    val e = intercept[IllegalArgumentException](
      TileManifest.runStaged(spark, images, dir, nBatches = 8))
    assert(e.getMessage.contains("n_batches=4"), e.getMessage)
  }

  test("refreshStaged re-tiles only affected batches and converges to a rebuild") {
    import spark.implicits._
    def withRel(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("relation_id", lit(1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-refresh").toString
    TileManifest.runStaged(spark, withRel(ImageTable.generate(spark, 40, 4).toDF()),
      dir, nBatches = 8)
    val before = (0 until 8).map { b =>
      b -> java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(dir, "_manifest", s"batch-$b.json"))
    }.toMap

    // delta: 1 insert + 2 deletes into 8 batches
    val inserts = withRel(spark.range(40, 41).as[Long].map(ImageTable.makeRow).toDF())
    val deletes = Seq("img_000000003", "img_000000017").toDF("image_id")
    val res = TileManifest.refreshStaged(spark, inserts, deletes, dir)
    val affected = res.filterNot(_.skipped).map(_.batch).toSet
    assert(affected.nonEmpty && affected.size <= 3,
      s"a 3-image delta must touch at most 3 of 8 batches: $affected")
    // untouched batches: manifest entries not rewritten
    for (b <- 0 until 8 if !affected(b))
      assert(java.nio.file.Files.getLastModifiedTime(
        java.nio.file.Paths.get(dir, "_manifest", s"batch-$b.json")) == before(b),
        s"untouched batch $b was rewritten")

    // convergence: the refreshed store equals a from-scratch build over
    // the post-delta image set (same tile rows, any batch layout)
    val rebuiltDir = java.nio.file.Files.createTempDirectory("graft-rebuild").toString
    val finalSet = withRel(ImageTable.generate(spark, 41, 4).toDF()
      .filter(!col("image_id").isin("img_000000003", "img_000000017")))
    TileManifest.runStaged(spark, finalSet, rebuiltDir, nBatches = 8)
    def tiles(d: String) = spark.read.parquet(s"$d/tiles")
      .select("image_id", "level", "tx", "ty", "tw", "th")
      .as[(String, Int, Int, Int, Int, Int)].collect().sorted.toSeq
    assert(tiles(dir) === tiles(rebuiltDir))
    // idempotence: re-running the same delta converges to the same store
    TileManifest.refreshStaged(spark, inserts, deletes, dir)
    assert(tiles(dir) === tiles(rebuiltDir))
  }

  test("refreshStaged survives a delta that drains a whole batch") {
    import spark.implicits._
    def withRel(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("relation_id", lit(1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-drain").toString
    val base = withRel(ImageTable.generate(spark, 30, 4).toDF())
    TileManifest.runStaged(spark, base, dir, nBatches = 4)
    // delete EVERY image of batch 2: its staging partition and tile dir
    // must end up empty, the manifest entry must say 0, and the rest of
    // the table must equal a rebuild over the survivors
    val victims = base.withColumn("b", pmod(hash(col("image_id")), lit(4)))
      .filter(col("b") === 2).select("image_id")
    val victimIds = victims.as[String].collect().toSet
    assert(victimIds.nonEmpty)
    val res = TileManifest.refreshStaged(spark,
      withRel(ImageTable.generate(spark, 0, 1).toDF()), victims, dir)
    val b2 = res.find(_.batch == 2).get
    assert(!b2.skipped && b2.images === 0L && b2.tiles === 0L)
    val left = spark.read.parquet(s"$dir/tiles")
      .select("image_id").distinct().as[String].collect().toSet
    assert(left === base.select("image_id").as[String].collect().toSet -- victimIds)
  }

  test("refreshStaged after a delta that deleted every staged image") {
    import spark.implicits._
    def withRel(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("relation_id", lit(1L))
    val dir = java.nio.file.Files.createTempDirectory("graft-drainall").toString
    val base = withRel(ImageTable.generate(spark, 12, 2).toDF())
    TileManifest.runStaged(spark, base, dir, nBatches = 4)
    val all = TileManifest.refreshStaged(spark,
      withRel(ImageTable.generate(spark, 0, 1).toDF()), base.select("image_id"), dir)
    assert(all.forall(r => r.images == 0 && r.tiles == 0))
    // the next refresh finds no staged data file and sees only its own delta
    val inserts = withRel(spark.range(40, 41).as[Long].map(ImageTable.makeRow).toDF())
    val res = TileManifest.refreshStaged(spark, inserts, Seq.empty[String].toDF("image_id"), dir)
    assert(res.map(_.images).sum == 1)
    assert(spark.read.parquet(s"$dir/tiles").select("image_id").distinct()
      .as[String].collect().toSeq == Seq("img_000000040"))
    assert(spark.read.parquet(s"$dir/_staged").count() == 1)
  }
}

class SpatialJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cell-indexed join equals brute-force ray cast over all probe/polygon pairs") {
    val (n, w, r) = graft.fixtures.OsmScenes.grid(6, 4).toDFs(spark)
    val polys = graft.osm.BoundaryExtract.extract(spark, r, w, n, 8, 8)
    val polyList = polys.collect()
    val probes = spark.range(0, 500).select(
      col("id").as("pid"),
      graft.functions.GraftFunctions.latOfKey(col("id")).as("lat"),
      graft.functions.GraftFunctions.lonOfKey(col("id")).as("lon"))

    val got = graft.join.SpatialJoin.assign(spark, probes, polys, res = 7, idCol = "pid")
      .select("pid", "relation_id").as[(Long, Long)].collect().toSet

    val probeRows = probes.as[(Long, Double, Double)].collect()
    val want = (for {
      (pid, la, lo) <- probeRows
      p <- polyList if graft.geom.Geom.containsPoint(p.rings, la, lo)
    } yield (pid, p.relation_id)).toSet

    assert(got == want)
  }

  for (f <- SpatialJoinSpec.fixtures)
    test(s"assign equals brute force: ${f.name}") {
      val got = graft.join.SpatialJoin.assign(spark, f.probes(spark),
          spark.createDataset(f.polys), res = 7, idCol = "pid")
        .select("pid", "relation_id").as[(Long, Long)].collect().toSeq.sorted
      assert(got === f.bruteForce)
    }

  test("the fixtures are not trivial") {
    for (f <- SpatialJoinSpec.fixtures) assert(f.bruteForce.nonEmpty, f.name)
    val Seq(multi) = SpatialJoinSpec.fixtures.filter(_.name == "two cover resolutions")
    assert(multi.polys.map(p => graft.join.SpatialJoin.cover(p.rings, 7)._1).distinct.size >= 2)
  }

  test("assign keeps its output columns and their order") {
    val f = SpatialJoinSpec.fixtures.head
    val out = graft.join.SpatialJoin.assign(spark, f.probes(spark),
      spark.createDataset(f.polys), res = 7, idCol = "pid")
    assert(out.columns.toSeq === Seq("relation_id", "cell", "pid", "lat", "lon", "polygon_name"))
  }
}

/** PIP fixtures both entry points are held to: each probe is paired with
  * every polygon row whose rings contain it (`Geom.containsPoint`), one
  * result row per polygon row, nulls never matching.
  */
object SpatialJoinSpec {
  import graft.geom.{Geom, PolygonRow, Pt}

  final case class Fixture(name: String, polys: Seq[PolygonRow],
      points: Seq[(Long, Option[Double], Option[Double])]) {
    def probes(spark: org.apache.spark.sql.SparkSession) = {
      import spark.implicits._
      points.toDF("pid", "lat", "lon")
    }
    def bruteForce: Seq[(Long, Long)] = (for {
      (pid, Some(la), Some(lo)) <- points
      p <- polys if Geom.containsPoint(p.rings, la, lo)
    } yield (pid, p.relation_id)).sorted
  }

  private def ring(pts: (Double, Double)*): Seq[Pt] = pts.map { case (la, lo) => Pt(la.toFloat, lo.toFloat) }
  private def points(ps: Seq[(Double, Double)]) =
    ps.zipWithIndex.map { case ((la, lo), i) => (i.toLong, Some(la), Some(lo)) }

  // res-7 cells are 1.40625° of lat by 2.8125° of lon; the square's
  // corners sit on cell corners
  private val dLat = 180.0 / 128; private val dLon = 360.0 / 128
  private val square = PolygonRow("square", Seq(ring((4 * dLat, 4 * dLon), (4 * dLat, 8 * dLon),
    (8 * dLat, 8 * dLon), (8 * dLat, 4 * dLon))), 1L, 8L)
  private val triangle = PolygonRow("triangle",
    Seq(ring((0.3, 0.7), (3.9, 1.1), (2.2, 6.6))), 2L, 8L)
  private def vertices(ps: PolygonRow*) =
    for (p <- ps; r <- p.rings; v <- r) yield (v.lat.toDouble, v.lon.toDouble)

  val fixtures: Seq[Fixture] = Seq(
    // a half-cell lattice: every cell edge and corner in the area, plus the
    // polygons' own vertices
    Fixture("probes on cell edges and polygon vertices", Seq(square, triangle), points(
      (for (i <- -2 to 20; k <- -2 to 20) yield (i * dLat / 2, k * dLon / 2)) ++
        vertices(square, triangle))),
    Fixture("a polygon with a hole", Seq(PolygonRow("annulus", Seq(
        ring((-40, -40), (-40, -20), (-20, -20), (-20, -40)),
        ring((-35, -35), (-35, -25), (-25, -25), (-25, -35))), 3L, 8L)),
      points(for (i <- 0 to 9; k <- 0 to 9) yield (-42 + 2.5 * i, -42 + 2.5 * k))),
    // the pentagon's bbox spans > 4096 res-7 cells, so it covers at res 6
    // while the square stays at res 7
    Fixture("two cover resolutions", Seq(square, PolygonRow("continent", Seq(
        ring((-80, -170), (-80, 30), (10, 40), (40, -60), (20, -165))), 4L, 2L)),
      (0L until 600L).map(k => (k,
        Some(((k * 9973 + 12345) % 170000) / 1000.0 - 85.0),
        Some(((k * 7919 + 54321) % 360000) / 1000.0 - 180.0)))),
    Fixture("two identical polygon rows", Seq(triangle, triangle, square),
      points(for (i <- 0 to 26; k <- 0 to 33) yield (-1 + 0.5 * i, -1 + 0.75 * k))),
    Fixture("null lat/lon probes", Seq(square, triangle), Seq(
      (0L, None, Some(15.0)), (1L, Some(8.0), None), (2L, None, None),
      (3L, Some(8.0), Some(15.0)), (4L, Some(2.0), Some(2.0)))))
}
