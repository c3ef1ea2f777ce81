package graft.graph

import java.util.concurrent.locks.ReentrantLock
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one runner for Spark loops that run until they converge: the BFS
  * family ([[Bfs]], [[Sssp]], [[Centrality]], the raster walks), k-core
  * peeling, star contraction, Borůvka, the terrain pointer doublings and
  * q271's path doubling. A caller supplies the initial state, the round
  * body, the block length and the name its error carries; the runner
  * owns the round count, the checkpoints, the stop decision and the
  * `maxRounds` contract.
  *
  * Blocks: `blockRounds` rounds chain lazily into one plan, then one lazy
  * localCheckpoint plus one aggregate job cuts the lineage and probes the
  * state. A body that references its state once per round (the
  * self-edge BFS device) runs 8 rounds per block, the O(V²) all-pairs
  * loops 4; a body that references it more than once doubles its plan
  * every round and runs 1.
  *
  * Stop test: every row a round adds or changes carries `fresh = 1`,
  * every other row `fresh = 0`. The loop stops at the first block whose
  * last round marked no row; the initial state counts as round 0, so it
  * marks its rows fresh unless it already is the fixpoint. The test is a
  * max over a 0/1 column, so it cannot wrap the way a Long sum of the
  * state's values can. A loop whose rounds can also delete rows (`shrinks`)
  * stops only when, in addition, the row count did not move across the
  * block.
  *
  * `maxRounds` contract: a loop that converges after exactly `maxRounds`
  * changing rounds succeeds (blocks are clamped to end at `maxRounds`,
  * and one more single round confirms the fixpoint); a loop still
  * changing in round `maxRounds + 1` throws
  * `IllegalStateException("<what> did not converge within N rounds")`.
  *
  * Session conf: AQE is off for the loop — a block's stages are known up
  * front, so re-planning only adds a round trip per stage to a loop whose
  * cost is stage latency — and the shuffle width follows the state's row
  * count (~100k rows per partition, capped at the session's value). Both
  * keys are saved, set and restored under a reentrant per-session lock,
  * so two loops on one session cannot interleave their saves and leave
  * the session changed; a body that starts another loop (Borůvka reaches
  * star contraction) re-enters it. `GRAFT_LOOP_DEBUG=1` prints one line
  * per block.
  */
object Fixpoint {

  private val aqeKey = "spark.sql.adaptive.enabled"
  private val partsKey = "spark.sql.shuffle.partitions"

  private val locks = new java.util.WeakHashMap[SparkSession, ReentrantLock]()

  private def lockOf(spark: SparkSession): ReentrantLock = locks.synchronized {
    locks.computeIfAbsent(spark, (_: SparkSession) => new ReentrantLock())
  }

  /** Run `body(state, round)` from `init` until a block's last round marks
    * no row fresh, and return that state (with its `fresh` column).
    */
  def run(init: DataFrame, maxRounds: Int, blockRounds: Int, what: String,
      shrinks: Boolean = false)(body: (DataFrame, Int) => DataFrame): DataFrame = {
    val spark = init.sparkSession
    val lock = lockOf(spark)
    lock.lock()
    try {
      val prevAqe = spark.conf.get(aqeKey, "true")
      val prevParts = spark.conf.get(partsKey, "200")
      try {
        spark.conf.set(aqeKey, "false")
        var state = init.localCheckpoint(false)
        val (rows0, fresh0) = measure(state) // materializes the lazy checkpoint too
        var rows = rows0
        var done = !fresh0
        var round = 0
        while (!done) {
          if (round > maxRounds) throw new IllegalStateException(
            s"$what did not converge within $maxRounds rounds")
          spark.conf.set(partsKey,
            math.max(1L, math.min(prevParts.toLong, rows / 100000L + 1L)).toString)
          val last = if (round >= maxRounds) round + 1
            else math.min(round + blockRounds, maxRounds)
          var cur = state
          while (round < last) { round += 1; cur = body(cur, round) }
          val t0 = System.nanoTime()
          state = cur.localCheckpoint(false)
          val (nextRows, nextFresh) = measure(state)
          if (sys.env.contains("GRAFT_LOOP_DEBUG")) System.err.println(
            f"[$what] round=$round block=${(System.nanoTime() - t0) / 1e9}%.3f rows=$nextRows fresh=$nextFresh")
          done = !nextFresh && (!shrinks || nextRows == rows)
          rows = nextRows
        }
        state
      } finally {
        spark.conf.set(aqeKey, prevAqe)
        spark.conf.set(partsKey, prevParts)
      }
    } finally lock.unlock()
  }

  /** (row count, whether any row is fresh), in one job. */
  private def measure(df: DataFrame): (Long, Boolean) = {
    val r = df.agg(count(lit(1)), max(col("fresh").cast("int"))).collect()(0)
    (r.getLong(0), !r.isNullAt(1) && r.getInt(1) > 0)
  }
}
