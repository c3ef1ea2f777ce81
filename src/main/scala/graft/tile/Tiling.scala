package graft.tile

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.img.ImageTable

/** Raster tile pyramids per assigned image (north rule).
  *
  * An image is decoded once, then emitted as a pyramid of PNG tiles:
  * level 0 = native resolution, each next level a 2× box-filter downsample
  * (deterministic integer averaging — no Graphics2D, whose interpolation is
  * JDK-implementation-defined), until the level fits one tile. Generator-
  * shaped (`flatMap`: one image row → many tile rows) — narrow, no shuffle.
  */
object Tiling {

  final val TileSize = 16

  final case class TileRow(image_id: String, relation_id: Long, level: Int,
      tx: Int, ty: Int, tw: Int, th: Int, tile_bytes: Array[Byte])

  /** Bing-style quadkey for a tile coordinate — the canonical string key
    * for tile storage/lookup (Microsoft Bing Maps tile system, public):
    * digit d = 2·bit(ty,i) + bit(tx,i) from the high bit down, one digit
    * per level; level 0 is the empty string. Pure column arithmetic
    * (sequence + transform + concat) — codegen'd, no UDF — and the same
    * expression replays verbatim in the SQL oracle.
    */
  def quadkeyCol(level: org.apache.spark.sql.Column, tx: org.apache.spark.sql.Column,
      ty: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    def bit(c: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
      call_function("shiftright", c, i).bitwiseAND(lit(1))
    when(level === 0, lit("")).otherwise(
      concat_ws("", transform(sequence(level - 1, lit(0), lit(-1)),
        i => (bit(ty, i) * 2 + bit(tx, i)).cast("string"))))
  }

  /** 2× box downsample with integer rounding (deterministic). Odd edges keep
    * the partial box.
    */
  def downsample2x(px: Array[Int], w: Int, h: Int): (Array[Int], Int, Int) = {
    val nw = (w + 1) / 2; val nh = (h + 1) / 2
    val out = new Array[Int](nw * nh)
    var y = 0
    while (y < nh) {
      var x = 0
      while (x < nw) {
        var r = 0; var g = 0; var b = 0; var cnt = 0
        var dy = 0
        while (dy < 2) {
          var dx = 0
          while (dx < 2) {
            val sx = x * 2 + dx; val sy = y * 2 + dy
            if (sx < w && sy < h) {
              val p = px(sy * w + sx)
              r += (p >>> 16) & 0xFF; g += (p >>> 8) & 0xFF; b += p & 0xFF
              cnt += 1
            }
            dx += 1
          }
          dy += 1
        }
        out(y * nw + x) = ((r / cnt) << 16) | ((g / cnt) << 8) | (b / cnt)
        x += 1
      }
      y += 1
    }
    (out, nw, nh)
  }

  def tileGrid(w: Int, h: Int): Seq[(Int, Int, Int, Int)] =
    for {
      ty <- 0 until (h + TileSize - 1) / TileSize
      tx <- 0 until (w + TileSize - 1) / TileSize
    } yield (tx, ty, math.min(TileSize, w - tx * TileSize), math.min(TileSize, h - ty * TileSize))

  def crop(px: Array[Int], w: Int, x0: Int, y0: Int, cw: Int, ch: Int): Array[Int] =
    graft.img.ImageOps.crop(px, w, px.length / w, x0, y0, cw, ch)

  /** All pyramid tiles of one image (pure kernel). `pngLevel` 0 trades ~3x
    * tile size for ~6x encode speed (see Codecs.encodePngRegion).
    */
  def pyramid(imageId: String, relationId: Long, bytes: Array[Byte],
      pngLevel: Int = java.util.zip.Deflater.BEST_SPEED): Seq[TileRow] = {
    val (px0, w0, h0) = ImageTable.decode(bytes)
    val out = scala.collection.mutable.ArrayBuffer.empty[TileRow]
    var px = px0; var w = w0; var h = h0; var level = 0
    var done = false
    while (!done) {
      tileGrid(w, h).foreach { case (tx, ty, tw, th) =>
        // encode straight out of the level buffer — no crop copy
        out += TileRow(imageId, relationId, level, tx, ty, tw, th,
          graft.img.Codecs.encodePngRegion(px, w, tx * TileSize, ty * TileSize, tw, th, pngLevel))
      }
      if (w <= TileSize && h <= TileSize) done = true
      else {
        val (npx, nw, nh) = downsample2x(px, w, h)
        px = npx; w = nw; h = nh; level += 1
      }
    }
    out.toSeq
  }

  /** Distributed tiling of (image, polygon-assignment) rows.
    * `assigned` needs columns: image_id, relation_id, bytes.
    */
  def tile(spark: SparkSession, assigned: DataFrame): Dataset[TileRow] = {
    import spark.implicits._
    assigned.select("image_id", "relation_id", "bytes").as[(String, Long, Array[Byte])]
      .flatMap { case (id, rel, bytes) => pyramid(id, rel, bytes) }
  }

  /** Per-row invariant (BASELINE.json input_hint): reconstruct level-0
    * pixels from the tiles, compare against a fresh decode of the original
    * bytes — PSNR ≥ 40dB (∞ for our lossless formats) — and caption must
    * survive unchanged. Returns violations (empty = pass).
    */
  def verifyTiles(spark: SparkSession, images: DataFrame, tiles: Dataset[TileRow]): DataFrame = {
    import spark.implicits._
    val lvl0 = tiles.filter(col("level") === 0)
      .groupByKey(t => t.image_id)
      .mapGroups { (id, it) =>
        val ts = it.toSeq
        val w = ts.map(t => t.tx * TileSize + t.tw).max
        val h = ts.map(t => t.ty * TileSize + t.th).max
        val px = new Array[Int](w * h)
        ts.foreach { t =>
          val (tp, tw, th) = ImageTable.decode(t.tile_bytes)
          var y = 0
          while (y < th) {
            var x = 0
            while (x < tw) {
              px((t.ty * TileSize + y) * w + (t.tx * TileSize + x)) = tp(y * tw + x)
              x += 1
            }
            y += 1
          }
        }
        (id, px, w, h)
      }.toDF("image_id", "px", "w0", "h0")

    images.select("image_id", "bytes", "caption").join(lvl0, Seq("image_id"))
      .as[(String, Array[Byte], String, Array[Int], Int, Int)]
      .map { case (id, bytes, caption, px, w0, h0) =>
        val (orig, w, h) = ImageTable.decode(bytes)
        val psnr =
          if (w != w0 || h != h0) 0.0
          else ImageTable.psnrDb(orig, px)
        (id, psnr, psnr >= 40.0, caption)
      }.toDF("image_id", "psnr_db", "psnr_ok", "caption")
      .filter(!col("psnr_ok"))
  }
}
