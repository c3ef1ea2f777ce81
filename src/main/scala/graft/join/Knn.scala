package graft.join

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.cell.CellIndex
import graft.functions.GraftFunctions

/** Exact k-nearest-neighbor via cell-index ring expansion (north rule:
  * "kNN resolved by H3 k-ring expansion").
  *
  * Correctness invariant: any point OUTSIDE kRing(cell(p), r) is at planar
  * distance > r · min(cellW, cellH) from p. So once a probe's k-th best
  * candidate within ring r is ≤ that bound, its top-k is CERTIFIED exact —
  * no candidate outside the ring can beat it.
  *
  * Distributed shape: driver loop over geometric radii (1, 2, 4, …); each
  * round explodes the ring cells of still-unresolved probes, equi-joins the
  * (small, broadcast) corpus cell index, takes window top-k, and retires
  * certified probes. Unresolved probes after maxRounds (empty regions) fall
  * back to a brute-force cross join — by then they are few.
  *
  * Ties broken by (dist, neighbor id) — deterministic across partitionings
  * and identical to the DuckDB oracle's ORDER BY.
  */
object Knn {

  /** @param probes (idCol, lat, lon); @param corpus (nidCol, clat, clon) —
    * corpus is broadcast (the polygon/centroid side is small at any scale
    * where exact kNN per image is sane).
    * @param bruteCorpusThreshold corpora at or below this size take the
    *   broadcast cross-join directly: with few, widely spread points the
    *   certification bound r·minDim can't be met at small radii, so every
    *   ring round is a wasted Spark job before the inevitable brute
    *   fallback (r1 measured q33 at 10× its brute twin for exactly this
    *   shape). Per-probe cost of brute is |corpus| ops — cheaper than ring
    *   bookkeeping until the corpus is dense relative to the cell grid.
    *   Set 0 to force the ring path.
    * @return (idCol, nid, rank, dist)
    */
  def knnPoints(
      spark: SparkSession,
      probes: DataFrame,
      corpus: DataFrame,
      k: Int,
      res: Int = 6,
      maxRounds: Int = 5,
      idCol: String = "probe_id",
      bruteCorpusThreshold: Long = 4096): DataFrame = {
    val n = CellIndex.side(res)
    val cellW = 360.0 / n
    val cellH = 180.0 / n
    val minDim = math.min(cellW, cellH)

    val corpusCells = corpus.select(
      col("nid"), col("clat"), col("clon"),
      GraftFunctions.cellOfCol(col("clat"), col("clon"), res).as("ccell"))

    val dist2 = (col("lat") - col("clat")) * (col("lat") - col("clat")) +
      (col("lon") - col("clon")) * (col("lon") - col("clon"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("dist"), col("nid"))
    val wAll = Window.partitionBy(col(idCol))

    def topkFrom(cands: DataFrame): DataFrame =
      cands.withColumn("dist", sqrt(dist2))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)

    // small-corpus cutover: exact, single-pass, zero driver rounds
    if (bruteCorpusThreshold > 0 &&
        corpus.limit(math.min(bruteCorpusThreshold + 1, Int.MaxValue.toLong).toInt)
          .count() <= bruteCorpusThreshold)
      return topkFrom(probes.select(col(idCol), col("lat"), col("lon"))
        .crossJoin(broadcast(corpus)))
        .select(col(idCol), col("nid"), col("rank"), col("dist"))

    // Each round is ONE materialization (persist + single count): topk and
    // its certification flag are computed in the same window pass, so the
    // round costs one shuffle job instead of three (the r1 shape persisted
    // topk, certified, and pending separately — 3 jobs/round of pure
    // overhead on small frames). The anti-join chain still must materialize
    // per round or every prior round recomputes (measured 14x on the lazy
    // form). Persisted `marked` frames stay cached until the final result
    // is materialized because resultParts reference them.
    var pending = probes.select(col(idCol), col("lat"), col("lon"))
      .withColumn("cell", GraftFunctions.cellOfCol(col("lat"), col("lon"), res))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var nPending = pending.count()
    val resultParts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val toUnpersist = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    toUnpersist += pending
    var r = 1
    var round = 0
    while (round < maxRounds && nPending > 0) {
      // a probe is certified when it HAS k candidates and the k-th distance
      // is within the ring-r exactness bound — both computable in the same
      // window partition as the rank itself
      val marked = topkFrom(ringCandidates(spark, pending, r, res)
        .join(broadcast(corpusCells), Seq("ccell")))
        .withColumn("certified",
          count(lit(1)).over(wAll) === k && max(col("dist")).over(wAll) <= lit(r * minDim))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toUnpersist += marked
      resultParts += marked.filter(col("certified"))
        .select(col(idCol), col("nid"), col("rank"), col("dist"))
      val certified = marked.filter(col("certified")).select(col(idCol)).distinct()
      pending = pending.join(certified, Seq(idCol), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      toUnpersist += pending
      nPending = pending.count() // materializes marked + new pending in one job
      r *= 2
      round += 1
    }
    // stragglers (sparse regions): exact brute force — few rows by now
    val brute = topkFrom(pending.crossJoin(broadcast(corpus)))
      .select(col(idCol), col("nid"), col("rank"), col("dist"))
    val out = (resultParts :+ brute).reduce(_.unionAll(_))
    // materialize the final result before releasing cached inputs
    val result = out.localCheckpoint(true)
    toUnpersist.foreach(_.unpersist(blocking = false))
    result
  }

  /** kRing expansion as PURE column arithmetic — the last hot-loop UDF
    * removed (VERDICT r3 #5). The (2r+1)² Chebyshev offsets enter as a
    * broadcast literal table; x wraps across the antimeridian with pmod, y
    * clamps at the poles by filter, and the packed id is shift/add — all
    * whole-stage-codegen'd, bit-identical to [[CellIndex.kRing]] (pinned in
    * KnnSpec). One row per (probe, ring cell), like the explode it
    * replaces.
    */
  private[graft] def ringCandidates(spark: SparkSession, pending: DataFrame,
      r: Int, res: Int): DataFrame = {
    import spark.implicits._
    val n = CellIndex.side(res)
    val offsets = broadcast(
      (-r to r).flatMap(dy => (-r to r).map(dx => (dx, dy))).toList
        .toDF("dx", "dy"))
    val mask29 = (1L << 29) - 1L
    val cx = shiftright(col("cell"), 29).bitwiseAND(lit(mask29))
    val cy = col("cell").bitwiseAND(lit(mask29))
    val yy = cy + col("dy")
    val base = pending.crossJoin(offsets)
      .filter(yy >= 0 && yy < n)
      .withColumn("ccell",
        lit(res.toLong << 58) + shiftleft(pmod(cx + col("dx"), lit(n)), 29) + yy)
      .drop("dx", "dy")
    // a ring wider than the grid revisits wrapped x cells; kRing dedups —
    // only reachable at tiny res (n < 2r+1), never on the default path
    if (2L * r + 1 > n) base.dropDuplicates(pending.columns.toSeq :+ "ccell")
    else base
  }

}
