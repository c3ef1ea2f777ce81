package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.cell.CellIndex
import graft.emit.{BoundaryWriter, Emitters}
import graft.fixtures.OsmScenes
import graft.functions.GraftFunctions
import graft.geom.{Geom, PolygonRow}
import graft.img.{IcebergShaped, ImageTable}
import graft.graph.Bfs
import graft.join.SpatialJoin
import graft.osm.BoundaryExtract
import graft.osm.pbf.PbfSource
import graft.tile.{TileManifest, Tiling}

/** What one workload run needs: the session, a private scratch directory
  * inside the checkout, the seed and the core count.
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val cpus: Int) {
  def dir(name: String): String = work.resolve(name).toString
}

/** One timed operation's result. `items` is the work unit of the workload's
  * throughput (images, relations); `units` the
  * operations it counts toward `attempted` (tile batches, jobs, sink files,
  * loop queries); `named` the issue-named figures it yields.
  */
final case class OpOut(items: Long, units: Long, named: Map[String, Double] = Map.empty)

/** One output check: `items` checked, `failed` of them wrong. */
final case class Check(name: String, items: Long, failed: Long, detail: String) {
  def ok: Boolean = failed == 0
}

/** Layer metrics of a traced run. `self` are the layers' self times, which
  * together with `unattributed_s` add up to `wall` (the traced operation).
  */
final case class Layers(self: Seq[(String, Double)], other: Seq[(String, Double)], wall: Double)

abstract class Workload(val c: Ctx) {
  protected val spark: SparkSession = c.spark
  /** Generate the inputs; returns their description (sizes). */
  def setup(): Map[String, Any]
  def inputBytes: Long
  /** One timed operation; `t` is set only in the traced run. */
  def op(t: Option[Tracer]): OpOut
  /** Check the output of the last [[op]] (outside the timed window). */
  def checks(): Seq[Check]
  /** Named mutations of the last output, each removing one item (a tile,
    * an assignment, a BFS row, a sink file), with the checks run on the
    * mutated output; the self-test expects every one of them to fail.
    */
  def mutatedChecks(): Seq[(String, () => Seq[Check])]
  /** Per-layer self times and counts, from one traced repetition. */
  def trace(t: Tracer): Layers

  protected def span[A](t: Option[Tracer], name: String)(body: => A): A =
    t.fold(body)(_.span(name)(body)._1)
}

object Workloads {
  val Names: Seq[String] = Seq("pip_tile", "boundary_probe")

  def apply(name: String, c: Ctx): Workload = name match {
    case "pip_tile"         => new PipTile(c)
    case "boundary_probe"   => new BoundaryProbe(c)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def medianOf(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally walk.close()
  }

  def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val walk = Files.walk(p)
    try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally walk.close()
  }

  /** Candidate (probe, polygon) pairs the cell equi-join produces before the
    * ray-cast refine: probes encoded at every cover resolution, joined to
    * the polygon cells on cell id.
    */
  def candidates(spark: SparkSession, probes: DataFrame, cells: Seq[SpatialJoin.CellPoly],
      latCol: String, lonCol: String): Long = {
    import spark.implicits._
    val resList = cells.map(cp => CellIndex.res(cp.cell)).distinct
    probes.select(explode(array(resList.map(r =>
        GraftFunctions.cellOfCol(col(latCol), col(lonCol), r)): _*)).as("cell"))
      .join(broadcast(cells.toDF().select("cell")), "cell").count()
  }
}

import Workloads._

/** The north-rule job on a persisted image table: scan → geotag → PIP join
  * → tile pyramids → resumable manifest commit.
  */
final class PipTile(c: Ctx) extends Workload(c) {
  import spark.implicits._
  val nImages = 2000L
  val res = 7
  val nBatches = 8
  private val imgDir = c.dir("images")
  private val outDir = c.work.resolve("tiles")
  private var polys: Dataset[PolygonRow] = _
  private var last: Seq[TileManifest.BatchResult] = Nil

  def setup(): Map[String, Any] = {
    val (n, w, r) = OsmScenes.grid(32, 16).toDFs(spark)
    val ps = BoundaryExtract.extract(spark, r, w, n, 8, 8).collect().toSeq
    polys = spark.createDataset(ps)
    val base = Gen.imageBase(c.seed, nImages)
    val rows = spark.range(base, base + nImages, 1, c.cpus * 2).map(i => ImageTable.makeRow(i))
    IcebergShaped.write(spark, rows.toDF(), imgDir, nBatches)
    Map("images" -> nImages, "first_image_index" -> base, "polygons" -> ps.length,
      "image_table_bytes" -> inputBytes, "res" -> res, "batches" -> nBatches)
  }

  def inputBytes: Long = dirBytes(c.work.resolve("images"))

  private def geotag(imgs: DataFrame): DataFrame =
    imgs.withColumn("idx", substring(col("image_id"), 5, 9).cast("long"))
      .withColumn("lat", GraftFunctions.latOfKey(col("idx")))
      .withColumn("lon", GraftFunctions.lonOfKey(col("idx")))

  private def assigned(imgs: DataFrame): DataFrame =
    SpatialJoin.assign(spark, geotag(imgs), polys, res = res)

  def op(t: Option[Tracer]): OpOut = {
    rmrf(outDir)
    val (imgs, total) = span(t, "img.readVerified")(IcebergShaped.readVerified(spark, imgDir))
    val a = span(t, "join.assign")(assigned(imgs))
    last = span(t, "tile.manifest")(TileManifest.run(spark, a, outDir.toString, nBatches))
    OpOut(total, last.size, Map("assigned_images" -> last.map(_.images).sum.toDouble,
      "tiles" -> last.map(_.tiles).sum.toDouble))
  }

  private def writtenTiles: Dataset[Tiling.TileRow] =
    spark.read.parquet(outDir.resolve("tiles").toString).drop("batch").as[Tiling.TileRow]

  def checks(): Seq[Check] = checkWith(identity)

  def mutatedChecks(): Seq[(String, () => Seq[Check])] = Seq("one tile removed" -> (() =>
    checkWith { tiles =>
      val one = tiles.limit(1).collect().head
      tiles.filter(!(col("image_id") === one.image_id && col("level") === one.level &&
        col("tx") === one.tx && col("ty") === one.ty))
    }))

  private def checkWith(mutate: Dataset[Tiling.TileRow] => Dataset[Tiling.TileRow]): Seq[Check] = {
    val (imgs, _) = IcebergShaped.readVerified(spark, imgDir)
    val wh = assigned(imgs).select("image_id", "w", "h").as[(String, Int, Int)].collect().toSeq
    PipTile.checkAll(spark, last, wh, mutate(writtenTiles), imgs, c.seed)
  }

  def trace(t: Tracer): Layers = {
    // nested prefixes; a layer's self time is prefix k - prefix k-1
    val scan = t.span("prefix:img.scan") {
      val (d, _) = IcebergShaped.readVerified(spark, imgDir); noop(d)
    }._2
    val (cells, cover) = t.span("prefix:cell.cover")(SpatialJoin.polygonCells(spark, polys, res).collect())
    val join = t.span("prefix:join.assign") {
      noop(assigned(IcebergShaped.readVerified(spark, imgDir)._1))
    }._2
    val pyr = t.span("prefix:tile.pyramid") {
      noop(Tiling.tile(spark, assigned(IcebergShaped.readVerified(spark, imgDir)._1)).toDF())
    }._2
    val t0 = System.nanoTime()
    val full = t.span("op")(op(Some(t)))._2
    val wall = (System.nanoTime() - t0) / 1e9
    val (s, cv, j, f) = (t.total(scan), t.total(cover), t.total(join), t.total(full))

    // exact counts, outside the timed spans
    val imgs = IcebergShaped.readVerified(spark, imgDir)._1
    val matches = assigned(imgs).count()
    val cand = candidates(spark, geotag(imgs), cells.toSeq, "lat", "lon")
    val tileBytes = writtenTiles.select(sum(length(col("tile_bytes")))).as[Long].head()
    val imageBytes = assigned(imgs).select(sum(length(col("bytes")))).as[Long].head()
    Layers(
      self = Seq("img.scan_s" -> scan.seconds, "cell.cover_s" -> cover.seconds,
        "join.assign_self_s" -> (join.seconds - scan.seconds - cover.seconds),
        "tile.pyramid_self_s" -> (pyr.seconds - join.seconds),
        "tile.manifest_self_s" -> (full.seconds - pyr.seconds)),
      other = Seq("img.scan_rows" -> nImages.toDouble, "img.scan_bytes" -> inputBytes.toDouble,
        "cell.cover_cells" -> cells.length.toDouble,
        "cell.cover_res_count" -> cells.map(cp => CellIndex.res(cp.cell)).distinct.length.toDouble,
        "join.candidates" -> cand.toDouble, "join.matches" -> matches.toDouble,
        "join.refine_ratio" -> matches.toDouble / math.max(1L, cand),
        "tile.tiles" -> last.map(_.tiles).sum.toDouble, "tile.tile_bytes" -> tileBytes.toDouble,
        "tile.batches_committed" -> last.count(!_.skipped).toDouble,
        "tile.bytes_per_image_byte" -> tileBytes.toDouble / math.max(1L, imageBytes)) ++
        s.metrics("img") ++ cv.metrics("cell") ++ (j - s - cv).metrics("join") ++
        (f - j).metrics("tile"),
      wall = wall)
  }
}

object PipTile {
  /** Tiles of one image by the pyramid rule (level 0 at native size, each
    * next level a 2x downsample, until a level fits one 16-px tile),
    * computed independently of the engine's tiler.
    */
  def pyramidTiles(w0: Int, h0: Int): Long = {
    var (w, h, n) = (w0, h0, 0L)
    var done = false
    while (!done) {
      n += ((w + 15) / 16).toLong * ((h + 15) / 16)
      if (w <= 16 && h <= 16) done = true else { w = (w + 1) / 2; h = (h + 1) / 2 }
    }
    n
  }

  /** @param wh (image_id, w, h) of every assigned image */
  def checkAll(spark: SparkSession, batches: Seq[TileManifest.BatchResult],
      wh: Seq[(String, Int, Int)], tiles: Dataset[Tiling.TileRow], imgs: DataFrame,
      seed: Long): Seq[Check] = {
    import spark.implicits._
    val manifestImages = batches.map(_.images).sum
    val expectTiles = wh.map { case (_, w, h) => pyramidTiles(w, h) }.sum
    val manifestTiles = batches.map(_.tiles).sum
    val written = tiles.count()
    val sample = Gen.shuffle(seed, 100, wh.map(_._1)).take(40)
    val sTiles = tiles.filter(col("image_id").isin(sample: _*))
    val perImage = sTiles.groupBy("image_id").count().as[(String, Long)].collect().toMap
    val expectPer = wh.filter(x => sample.contains(x._1))
      .map { case (id, w, h) => id -> pyramidTiles(w, h) }.toMap
    val violations = Tiling.verifyTiles(spark,
      imgs.filter(col("image_id").isin(sample: _*)), sTiles).count()
    Seq(
      Check("manifest images = assigned rows", 1, if (manifestImages == wh.size) 0 else 1,
        s"manifest $manifestImages, assigned ${wh.size}"),
      Check("manifest tiles = pyramid formula", 1, if (manifestTiles == expectTiles) 0 else 1,
        s"manifest $manifestTiles, formula $expectTiles"),
      Check("written tiles = pyramid formula", 1, if (written == expectTiles) 0 else 1,
        s"written $written, formula $expectTiles"),
      Check("sampled per-image tile counts", sample.size,
        sample.count(id => perImage.getOrElse(id, 0L) != expectPer(id)).toLong, "40 images"),
      Check("sampled Tiling.verifyTiles", sample.size, violations, s"$violations violations"))
  }
}

/** The paper's whole job on a seeded OSM extract: PBF file → admin
  * relations → ring assembly → `.poly`/GeoJSON files; the rook-contiguity
  * graph of the boundaries walked by the blocked BFS fixpoint loop; the
  * boundaries as the build side of the PIP join over clustered points.
  * Detailed polygons (200-vertex rings, holes) make cover,
  * candidate join and ray-cast the join's main cost.
  */
final class BoundaryProbe(c: Ctx) extends Workload(c) {
  import spark.implicits._
  val nx = 16
  val ny = 12
  val nRel: Int = nx * ny
  val edgeSegments = 50
  val nPoints = 100000
  /** Join resolution. At res 8 the polygon cover was most of the join's
    * CPU, and its JIT-compiled speed differed by 2x between runs of the
    * same seed, which no median over a run's operations absorbs.
    */
  val res = 7
  private val box = ((-40.0, 40.0), (-80.0, 80.0))
  /** BFS sources: every 4th cell in both directions from a seeded offset.
    * Every cell is then at most 3 + 3 hops from a source, so the blocked
    * loop runs the same number of rounds on every seed; hops to cell
    * (ix, iy) must be the Manhattan distance to the nearest source.
    */
  private val sources: Seq[(Int, Int)] = {
    val r = Gen.rng(c.seed, 6)
    val (ox, oy) = (r.nextInt(4), r.nextInt(4))
    for (iy <- oy until ny by 4; ix <- ox until nx by 4) yield (ix, iy)
  }
  private def cellId(ix: Int, iy: Int): Long = 1000000L + iy * nx + ix
  private var hopsOut: Seq[(Long, Long)] = Nil
  private val pbf = c.work.resolve("scene.osm.pbf")
  private val sinkDir = c.work.resolve("sink")
  private var expected: Seq[Gen.Expected] = Nil
  private var sinksOut: DataFrame = _

  def setup(): Map[String, Any] = {
    val s = Gen.gridScene(c.seed, nx, ny, edgeSegments, box._1, box._2, extras = true)
    PbfSource.writeFixture(pbf.toString, s.scene.nodes, s.scene.ways, s.scene.relations)
    expected = s.expected
    val (la, lo) = Gen.points(c.seed, 2, nPoints, box._1, box._2)
    la.indices.map(i => (i.toLong, la(i), lo(i))).toDF("point_id", "lat", "lon")
      .repartition(c.cpus).write.mode("overwrite").parquet(c.dir("points"))
    Map("target_relations" -> nRel, "grid" -> s"${nx}x$ny", "vertices_per_outer_ring" -> 4 * edgeSegments,
      "pbf_relations" -> s.scene.relations.size, "pbf_ways" -> s.scene.ways.size,
      "pbf_nodes" -> s.scene.nodes.size, "points" -> nPoints, "res" -> res,
      "input_bytes" -> inputBytes)
  }

  def inputBytes: Long =
    Files.size(pbf) + dirBytes(c.work.resolve("points"))

  private def triple = PbfSource.readTriple(spark, pbf.toString, c.cpus)
  private def points = spark.read.parquet(c.dir("points"))
  private def assigned(pts: DataFrame, polys: Dataset[PolygonRow]): DataFrame =
    SpatialJoin.assign(spark, pts, polys, res = res, idCol = "point_id")
  private def asPolygons(sinks: DataFrame): Dataset[PolygonRow] =
    sinks.select("name", "rings", "relation_id", "admin_level").as[PolygonRow]

  def op(t: Option[Tracer]): OpOut = {
    rmrf(sinkDir)
    // relSegments caches per call and the last outputs stay cached for the
    // checks: drop all of it so operations stay independent
    spark.catalog.clearCache()
    val t0 = System.nanoTime()
    // decoded once, for both the extraction and the contiguity graph
    val (r, w, n) = span(t, "osm.readTriple") {
      val (r, w, n) = triple; (r.persist(), w.persist(), n.persist())
    }
    sinksOut = span(t, "emit.extractWithSinks") {
      val df = BoundaryExtract.extractWithSinks(spark, r, w, n, 8, 8).persist(); df.count(); df
    }
    val files = span(t, "emit.write")(
      BoundaryWriter.write(sinksOut, sinkDir.toString, BoundaryWriter.OverwriteAll, geojson = true))
    val adj = span(t, "osm.contiguity") {
      val a = BoundaryExtract.contiguity(spark, r, w, n).persist(); a.count(); a
    }
    hopsOut = span(t, "graph.hops")(Bfs.hops(spark, adj,
      sources.map { case (ix, iy) => cellId(ix, iy) }.toDF("id")).as[(Long, Long)].collect().toSeq)
    adj.unpersist(blocking = false)
    val t1 = System.nanoTime()
    span(t, "join.assign")(
      assigned(points, asPolygons(sinksOut)).groupBy("relation_id").count().collect())
    val t2 = System.nanoTime()
    // attempted: every sink file plus the contiguity, BFS and join jobs
    OpOut(nRel, files + 3, Map("relations_per_s" -> nRel / ((t1 - t0) / 1e9),
      "points_per_s" -> nPoints / ((t2 - t1) / 1e9)))
  }

  /** Generated rings as the engine's float points (brute-force side). */
  private def expectedPolys: Seq[(Long, Seq[Seq[graft.geom.Pt]])] = expected.map(e =>
    e.relationId -> e.rings.map(_.map { case (la, lo) => BoundaryProbe.pt(la, lo) }))

  def checks(): Seq[Check] = checkWith(identity, identity)

  def mutatedChecks(): Seq[(String, () => Seq[Check])] = Seq(
    "one assignment removed" -> (() => checkWith(_.drop(1), identity)),
    "one BFS row removed" -> (() => checkWith(identity, _.drop(1))),
    "one sink file removed" -> { () =>
      val s = Files.list(sinkDir)
      try Files.delete(s.iterator().next()) finally s.close()
      checks()
    })

  private def checkWith(mutate: Seq[(Long, Long)] => Seq[(Long, Long)],
      mutateHops: Seq[(Long, Long)] => Seq[(Long, Long)]): Seq[Check] = {
    val r = Gen.rng(c.seed, 101)
    val sampled = points.filter(col("point_id").isin(Seq.fill(400)(r.nextInt(nPoints).toLong): _*))
    val sample = sampled.as[(Long, Double, Double)].collect().toSeq
    val got = assigned(sampled, asPolygons(sinksOut))
      .select("point_id", "relation_id").as[(Long, Long)].collect().toSeq
    val wantHops = (for (iy <- 0 until ny; ix <- 0 until nx) yield cellId(ix, iy) ->
      sources.map { case (sx, sy) => math.abs(ix - sx) + math.abs(iy - sy) }.min.toLong).toMap
    val gotHops = mutateHops(hopsOut).toMap
    BoundaryProbe.checkSink(sinkDir, expected, c.seed) ++ Seq(
      Check("BFS hops over contiguity = Manhattan distance to the nearest source", nRel,
        wantHops.count { case (id, h) => !gotHops.get(id).contains(h) }.toLong +
          (gotHops.keySet -- wantHops.keySet).size, s"${sources.size} sources"),
      BoundaryProbe.checkAssign(sample, expectedPolys, mutate(got.sorted)))
  }

  def trace(t: Tracer): Layers = {
    // nested prefixes, each from a clean cache (relSegments persists its
    // inputs); a layer's self time is prefix k - prefix k-1
    def fresh[A](name: String)(body: => A): (A, Span) = {
      spark.catalog.clearCache(); t.span(name)(body)
    }
    val (entities, decode) = fresh("prefix:osm.decode") {
      val (r, w, n) = triple; Seq(r, w, n).map(_.count()).sum
    }
    val segs = fresh("prefix:osm.relSegments") {
      val (r, w, n) = triple; noop(BoundaryExtract.relSegments(spark, r, w, n).toDF())
    }._2
    // ring assembly and formatting do little work next to the Spark jobs
    // around them, so they are timed directly over cached inputs instead of
    // as differences of seconds-long prefixes
    val cachedSegs = { val (r, w, n) = triple; BoundaryExtract.relSegments(spark, r, w, n).persist() }
    cachedSegs.count()
    val (built, ring) = t.span("ring.assemble") {
      val p = cachedSegs.map(BoundaryExtract.assemblePolygon).persist(); p.count(); p
    }
    val format = t.span("emit.format")(noop(built.map(p =>
      (Emitters.polyText(p), Emitters.geoJson(p).orNull)).toDF()))._2
    // the cover prefix builds on what the operation's join gets: the
    // cached, name-deduplicated sink rows
    val sinksPre = { val (r, w, n) = triple; BoundaryExtract.extractWithSinks(spark, r, w, n).persist() }
    sinksPre.count()
    val scan = t.span("prefix:scan")(noop(points))._2
    val (cells, cover) = t.span("prefix:cell.cover")(
      SpatialJoin.polygonCells(spark, asPolygons(sinksPre), res).collect())
    val t0 = System.nanoTime()
    val full = t.span("op")(op(Some(t)))._2
    val wall = (System.nanoTime() - t0) / 1e9
    def kid(n: String) = t.spans.find(x => x.parent == full.id && x.name == n).get
    val Seq(write, assign, cont, hops) =
      Seq("emit.write", "join.assign", "osm.contiguity", "graph.hops").map(kid)
    val Seq(cs, cr, cf, cw, ca, ccont, chops, cscan, ccov) =
      Seq(segs, ring, format, write, assign, cont, hops, scan, cover).map(t.total)

    // exact counts, outside the timed spans (the op's own outputs stay
    // cached for the checks)
    val vertices = cachedSegs.select(sum(size(col("pts")))).as[Long].head()
    val matches = assigned(points, built).count()
    val cand = candidates(spark, points, cells.toSeq, "lat", "lon")
    val adjacency = { val (r, w, n) = triple; BoundaryExtract.contiguity(spark, r, w, n).count() }
    Layers(
      self = Seq("osm.pbf_decode_s" -> decode.seconds,
        "osm.relsegments_self_s" -> (segs.seconds - decode.seconds),
        "osm.contiguity_s" -> cont.seconds, "graph.hops_s" -> hops.seconds,
        "ring.assemble_self_s" -> ring.seconds, "emit.format_self_s" -> format.seconds,
        "emit.write_s" -> write.seconds, "cell.cover_s" -> cover.seconds,
        "join.assign_self_s" -> (assign.seconds - scan.seconds - cover.seconds)),
      other = Seq("osm.entities" -> entities.toDouble, "osm.vertices" -> vertices.toDouble,
        "ring.rings" -> built.select(sum(size(col("rings")))).as[Long].head().toDouble,
        "emit.files_written" -> { val f = Files.list(sinkDir); try f.count().toDouble finally f.close() },
        "graph.edges" -> adjacency.toDouble,
        "graph.max_hops" -> hopsOut.map(_._2).max.toDouble,
        "emit.bytes_written" -> dirBytes(sinkDir).toDouble,
        "cell.cover_cells" -> cells.length.toDouble,
        "cell.cover_res_count" -> cells.map(cp => CellIndex.res(cp.cell)).distinct.length.toDouble,
        "join.candidates" -> cand.toDouble, "join.matches" -> matches.toDouble,
        "join.refine_ratio" -> matches.toDouble / math.max(1L, cand)) ++
        (cs + ccont).metrics("osm") ++ cr.metrics("ring") ++ (cf + cw).metrics("emit") ++
        chops.metrics("graph") ++ ccov.metrics("cell") ++ (ca - cscan - ccov).metrics("join"),
      wall = wall)
  }
}

object BoundaryProbe {
  /** Decimicro to the engine's float point, as ring assembly converts. */
  def pt(la: Int, lo: Int): graft.geom.Pt =
    graft.geom.Pt((la.toDouble / 10000000.0).toFloat, (lo.toDouble / 10000000.0).toFloat)

  /** Sampled assignments must equal a brute-force ray cast over all polygons. */
  def checkAssign(sample: Seq[(Long, Double, Double)], polys: Seq[(Long, Seq[Seq[graft.geom.Pt]])],
      got: Seq[(Long, Long)]): Check = {
    val ids = sample.map(_._1).toSet
    val want = sample.distinct.flatMap { case (id, la, lo) =>
      polys.filter(p => Geom.containsPoint(p._2, la, lo)).map(p => (id, p._1))
    }.toSet
    val have = got.filter(g => ids.contains(g._1)).toSet
    val bad = (want -- have).map(_._1) ++ (have -- want).map(_._1)
    Check("sampled assignments = brute-force containsPoint", ids.size, bad.size.toLong,
      s"${want.size} expected pairs, ${have.size} returned")
  }

  /** Sink file name of a generated relation: names shared by two relations
    * get the `_<relation id>` suffix, as the reference's duplicate rule.
    */
  def outNames(expected: Seq[Gen.Expected]): Map[Long, String] = {
    val dup = expected.groupBy(_.name.toLowerCase).filter(_._2.size > 1).keySet
    expected.map(e => e.relationId ->
      (if (dup.contains(e.name.toLowerCase)) s"${e.name}_${e.relationId}" else e.name)).toMap
  }

  /** Parse a `.poly` file into rings of (lat, lon) float pairs. */
  def parsePoly(text: String): Seq[Seq[(Float, Float)]] = {
    val rings = scala.collection.mutable.ArrayBuffer.empty[Seq[(Float, Float)]]
    var cur: Option[scala.collection.mutable.ArrayBuffer[(Float, Float)]] = None
    text.split('\n').toSeq.drop(1).foreach { l =>
      if (l.startsWith("area_")) cur = Some(scala.collection.mutable.ArrayBuffer.empty)
      else if (l == "END") { cur.foreach(b => rings += b.toSeq); cur = None }
      else cur.foreach { b =>
        val Array(lon, lat) = l.trim.split("\\s+")
        b += ((lat.toFloat, lon.toFloat))
      }
    }
    rings.toSeq
  }

  private def canon(rings: Seq[Seq[(Float, Float)]]): Seq[Seq[(Float, Float)]] =
    rings.map(_.distinct.sorted).sortBy(_.headOption)

  def checkSink(outDir: Path, expected: Seq[Gen.Expected], seed: Long): Seq[Check] = {
    val names = outNames(expected)
    val want = names.values.flatMap(n => Seq(s"$n.poly", s"$n.geojson")).toSet
    val have: Set[String] =
      if (!Files.isDirectory(outDir)) Set.empty
      else {
        val s = Files.list(outDir)
        try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
      }
    val sample = Gen.shuffle(seed, 102, expected).take(25)
    val badPoly = sample.count { e =>
      val f = outDir.resolve(names(e.relationId) + ".poly")
      !Files.exists(f) || {
        val got = canon(parsePoly(Files.readString(f)))
        val exp = canon(e.rings.map(_.map { case (la, lo) => val p = pt(la, lo); (p.lat, p.lon) }))
        got != exp
      }
    }
    Seq(
      Check("sink file set = generated relations", want.size,
        (want -- have).size.toLong + (have -- want).size, s"${want.size} expected, ${have.size} on disk"),
      Check("sampled .poly files parse back to generated rings", sample.size, badPoly.toLong,
        s"${sample.size} relations"))
  }

}
