package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PageRank (Page, Brin, Motwani, Winograd 1999) in INTEGER arithmetic:
  * ranks are scaled longs, per-edge contributions are `rank div outdeg`,
  * and damping applies as `(sum * dampNum) div dampDen` — every operation
  * is exact integer division, so the fixed-iteration result is
  * bit-reproducible on any engine and replays verbatim in the ANSI oracle
  * (float PageRank would hash-diverge on summation order alone). The
  * crawl-quality signal a training-data pipeline ranks pages with.
  *
  * Scale shape per iteration: one equi-join of edges with ranks on src
  * (both sides keyed on src — at production scale pre-partition/bucket
  * edges by src so the join is exchange-free), one groupBy(dst) shuffle
  * for the contribution sums, one left join back to the node set. That is
  * the canonical BSP round; nothing is driver-sized except the loop
  * counter. Fixed `iters` keeps the plan a linear DAG and needs no stop
  * test; a convergence-tested variant would run through
  * [[Fixpoint]], marking the ranks a round moved fresh.
  *
  * Dangling nodes (no out-edges) leak their mass — the classic simplest
  * variant, stated rather than hidden; redistribute-to-all needs one
  * extra scalar aggregate per round if a caller wants it.
  */
object PageRank {

  /** Fixed-iteration integer PageRank over `edges` (columns `src`, `dst`;
    * multi-edges count multiply). Returns (doc_id, rank) for every node
    * appearing as a src or dst; initial rank = `scale`, per-round rank =
    * floor((1−d)·scale) + floor(d·Σ in-contributions) with d =
    * dampNum/dampDen.
    */
  def ranks(spark: SparkSession, edges: DataFrame, iters: Int,
      scale: Long = 1000000000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    require(iters >= 1 && iters <= 64, s"iters=$iters")
    require(dampNum >= 0 && dampNum <= dampDen, s"damp $dampNum/$dampDen")
    // lazily lineage-cut: the edge view feeds every iteration's
    // contribution join plus the node/outdeg builds (iters + 2 scans of
    // a possibly expensive upstream), `nodes` is referenced once per
    // iteration and `outdeg` once per contribution join — without the
    // cuts each reference re-runs its subtree inside the single lazy
    // plan; with them each materializes once on the first action and
    // every later reference reads the cached blocks
    val e = edges.select(col("src"), col("dst")).localCheckpoint(false)
    val nodes = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst").as("doc_id")))
      .distinct()
      .localCheckpoint(false)
    val outdeg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
      .localCheckpoint(false)
    val base = scale * (dampDen - dampNum) / dampDen
    var rank = nodes.withColumn("rank", lit(scale))
    for (_ <- 0 until iters) {
      val contrib = e
        .join(rank.withColumnRenamed("doc_id", "src"), Seq("src"))
        .join(outdeg, Seq("src"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy("dst").agg(sum("c").as("in_sum"))
      // floor(s·d) computed as (s div den)·num + ((s mod den)·num) div den —
      // identical value (s = q·den + r ⇒ floor(s·num/den) = q·num +
      // floor(r·num/den)), but the only product is r·num < den·num, so the
      // damping step can never wrap even when s is near Long range; the
      // remaining bound is the contribution SUM itself: N·scale < 2^63
      // (choose scale accordingly for graphs past ~9e6 nodes at 1e12)
      rank = nodes
        .join(contrib.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(base) + expr(
            s"(coalesce(in_sum, 0L) div ${dampDen}L) * ${dampNum}L" +
              s" + ((coalesce(in_sum, 0L) % ${dampDen}L) * ${dampNum}L) div ${dampDen}L"))
            .as("rank"))
    }
    rank
  }
}

/** HITS hubs & authorities (Kleinberg, JACM 1999) in integer arithmetic:
  * h(u) = Σ_{u→v} a(v), a(v) = Σ_{u→v} h(u), each vector rescaled after
  * every half-step to max = `scale` by integer floor division — the
  * L∞-normalized power iteration, deterministic where float L2
  * normalization would hash-diverge. Each half-step is one equi-join +
  * one groupBy (the PageRank round shape); the rescale divisor arrives
  * as a BROADCAST one-row aggregate joined into the half-step — no
  * driver-side scalar reads. Fixed `iters`, so no [[Fixpoint]] stop
  * test. Each half-step's raw sums are lineage-cut
  * (`localCheckpoint`, as a one-round [[Fixpoint]] block cuts a state
  * read more than once per round): the rescale references the
  * raw frame TWICE (left join + max aggregate), so an uncut plan tree
  * doubles per half-step and analysis time grows 2^rounds — with the cut
  * it is constant-size, one node-sized checkpoint per half-step. (On a
  * cluster with unreliable executors, swap for reliable checkpoint().)
  */
object Hits {

  /** (doc_id, hub, authority) after `iters` rounds over `edges`
    * (columns src, dst; multi-edges count multiply). Nodes outside any
    * edge of the relevant direction score 0; an empty edge set yields an
    * empty result (the node universe is empty).
    */
  def hubsAuthorities(spark: SparkSession, edges: DataFrame, iters: Int,
      scale: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters=$iters")
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val e = edges.select(col("src"), col("dst")).persist(lvl)
    // the iteration runs SPARSE: a node with score 0 contributes
    // nothing to any half-step sum and the L∞ max is always attained by
    // a positive score (the rescale pins max = scale), so zero rows are
    // simply absent inside the loop — the per-half-step left-join that
    // re-attached every node (one extra node-keyed shuffle × 2·iters)
    // is deferred to ONE final left join that coalesces absences to 0.
    // Each half-step's raw sums are lineage-cut with a LAZY
    // localCheckpoint (plan truncation is immediate; the broadcast max
    // aggregation that follows materializes it in the same job): the
    // rescale references the raw frame twice (scores + max), so an
    // uncut tree would double per half-step — with the cut it is
    // constant-size and each half-step costs one join + one hash
    // aggregation, the PageRank round shape.
    def normalized(raw0: DataFrame, outCol: String): DataFrame = {
      val raw = raw0.localCheckpoint(false)
      // overflow-safe rescale, same split-multiply identity as PageRank's
      // damping: the only product is (v mod mx)·scale < mx·scale
      raw.crossJoin(broadcast(raw.agg(max("v").as("mx"))))
        .select(col("doc_id"),
          expr(s"(v div mx) * ${scale}L + ((v % mx) * ${scale}L) div mx")
            .as(outCol))
    }
    var auth = e.select(col("dst").as("doc_id")).distinct()
      .withColumn("a", lit(scale))
    var hub: DataFrame = null // assigned on round 1 (auth alone seeds HITS)
    for (_ <- 0 until iters) {
      hub = normalized(
        e.join(auth.withColumnRenamed("doc_id", "dst"), Seq("dst"))
          .groupBy(col("src").as("doc_id")).agg(sum("a").as("v")), "h")
      auth = normalized(
        e.join(hub.withColumnRenamed("doc_id", "src"), Seq("src"))
          .groupBy(col("dst").as("doc_id")).agg(sum("h").as("v")), "a")
    }
    val nodes = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst").as("doc_id"))).distinct()
    // materialize (node-sized, the house policy for iterative results —
    // see Dedup.starContraction's labels) so the cached inputs can be
    // released
    val out = nodes
      .join(hub, Seq("doc_id"), "left")
      .join(auth, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("h"), lit(0L)).as("h"),
        coalesce(col("a"), lit(0L)).as("a"))
      .localCheckpoint(true)
    e.unpersist(blocking = false)
    out
  }
}
