package graft.join

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Interval (range-containment) join done the way a 100 TB probe side
  * needs: an equi-join on a derived bucket key, not a theta join.
  *
  * Spark plans `p.ts BETWEEN i.start AND i.end` with NO equality conjunct
  * as BroadcastNestedLoopJoin (or worse, CartesianProduct) — an
  * O(|probes|·|intervals|) scan per partition that evaluates the range
  * predicate row-by-row against every interval. Bucketing restores a hash
  * join: time is cut into fixed buckets of `bucketWidth`; each probe row
  * carries exactly ONE bucket (`ts div W` — narrow arithmetic, no
  * expansion on the big side); each interval is replicated to every bucket
  * it overlaps (`⌈len/W⌉ + 1` copies — the expansion lands on the SMALL
  * side, where it is bounded and broadcastable). The equi-join on the
  * bucket key then sees every (probe, interval) pair whose containment can
  * hold, and a residual `start ≤ ts < end` filter keeps exactly the true
  * matches. Each matching pair is emitted once: the probe has one bucket,
  * and the interval has one replica in that bucket.
  *
  * At scale: the replicated interval side is always broadcast (interval
  * tables are metadata-sized in every pipeline this engine targets), so the
  * probe side never shuffles — the whole join is map-side. Pick `bucketWidth`
  * near the median interval length: too small multiplies interval replicas,
  * too large multiplies residual-filter false candidates.
  */
object RangeJoin {

  /** @param probes big side with integral column `tsCol`
    * @param intervals small side with integral `[startCol, endCol)` bounds
    *   (end exclusive; empty intervals produce no matches)
    * @param bucketWidth bucket size in `tsCol` units, > 0
    * @return probes ⋈ intervals rows with all columns of both inputs
    */
  def bucketed(
      probes: DataFrame,
      tsCol: String,
      intervals: DataFrame,
      startCol: String,
      endCol: String,
      bucketWidth: Long): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    val small = broadcast(intervals
      .filter(col(endCol) > col(startCol))
      .withColumn("__bucket", explode(sequence(
        expr(s"$startCol div ${bucketWidth}L"),
        expr(s"($endCol - 1) div ${bucketWidth}L")))))
    probes
      .withColumn("__bucket", expr(s"$tsCol div ${bucketWidth}L"))
      .join(small, Seq("__bucket"))
      .filter(col(tsCol) >= col(startCol) && col(tsCol) < col(endCol))
      .drop("__bucket")
  }
}
