package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sorted-neighborhood dedup (Hernández & Stolfo, "The merge/purge
  * problem for large databases", SIGMOD 1995): sort the corpus by a
  * blocking key, slide a window of `w` records down the sorted order,
  * and verify each in-window pair with an EXACT edit distance. The
  * classic record-linkage complement to hash blocking (MinHash/SimHash
  * in [[Dedup]]): hash blocking finds high-overlap sets, the sorted
  * neighborhood finds near-identical strings whose difference is a
  * small edit — typos, suffix noise — that can still flip many
  * shingles.
  *
  * Scale shape — the global sliding window WITHOUT a global sort:
  *  1. ONE range exchange on (key, id, text) — Spark's sampled range
  *     partitioner, the same exchange a distributed sort-merge uses;
  *  2. global ranks from per-partition `row_number` plus partition
  *     offsets, the prefix sums of the per-partition counts (one row per
  *     partition), computed in the same plan;
  *  3. in-window pairs as an EQUI-JOIN on rank (each row joined to
  *     ranks +1..+w−1) — cross-partition neighbor pairs fall out of the
  *     join with no boundary special-casing, because ranks are global;
  *  4. `levenshtein` (codegen'd built-in) verifies pairs only —
  *     O(w·N) verifications, never O(N²).
  *
  * The offsets and the ranks read the one range exchange of one plan, so
  * the partition-id stamp is computed ONCE (a re-evaluated sampled range
  * exchange could place boundary rows differently between two jobs).
  */
object Snm {

  /** In-window near-pairs: (id_a, id_b, dist) where id_a precedes id_b
    * in (blocking-key, id) order by at most w−1 positions and
    * levenshtein(text_a, text_b) ≤ maxDist. Deterministic: the sort
    * order is total (id tiebreak), so the pair set is a pure function
    * of the input.
    *
    * @param key blocking-key expression evaluated over `docs` (e.g. a
    *            text prefix, a normalized name); ORDER semantics are
    *            (key ASC, id ASC)
    */
  def neighborPairs(spark: SparkSession, docs: DataFrame, key: Column,
      w: Int = 4, maxDist: Int = 16, idCol: String = "doc_id",
      textCol: String = "text", numPartitions: Int = 0): DataFrame = {
    require(w >= 2, s"w=$w must be >= 2")
    require(maxDist >= 0, s"maxDist=$maxDist")
    val np = if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    // txt is the last range key: it only breaks (k, id) ties, and as a
    // partitioning key it can never be pruned below the exchange, so every
    // reader of `pidded` plans the same exchange input and Spark runs the
    // one range exchange once
    val pidded = docs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("txt"), key.as("k"))
      .repartitionByRange(np, col("k"), col("id"), col("txt"))
      .withColumn("pid", spark_partition_id())
    // partition offsets (exclusive prefix sums of the per-partition counts)
    // in the same plan as the ranks, so both see one partitioning even where
    // a re-run sampled range exchange would draw other bounds
    val cnts = pidded.groupBy(col("pid")).agg(count(lit(1)).as("c"))
    val offDf = cnts.select(col("pid"))
      .join(cnts.select(col("pid").as("p2"), col("c")), col("p2") < col("pid"), "left")
      .groupBy(col("pid")).agg(coalesce(sum(col("c")), lit(0L)).as("off"))
    val wLoc = Window.partitionBy(col("pid")).orderBy(col("k"), col("id"), col("txt"))
    val ranked = pidded.join(broadcast(offDf), Seq("pid"))
      .withColumn("rk", col("off") + row_number().over(wLoc))
      .select(col("id"), col("txt"), col("rk"))
    // each row probes the next w-1 ranks; the equi-join shuffles on the
    // (uniform, dense) rank key
    val probes = ranked.select(col("id").as("id_a"), col("txt").as("ta"),
        explode(sequence(lit(1), lit(w - 1))).as("d"), col("rk"))
      .select(col("id_a"), col("ta"), (col("rk") + col("d")).as("rk_b"))
    probes.join(
        ranked.select(col("id").as("id_b"), col("txt").as("tb"), col("rk").as("rk_b")),
        Seq("rk_b"))
      // length-band prefilter: |len(a) − len(b)| lower-bounds the edit
      // distance, so out-of-band pairs skip the O(len²) levenshtein
      // entirely — exact (loses nothing), and it removes most of the
      // quadratic verify work (the verify WAS the whole 14.3 s cost of
      // q105 at sf0.1: neighbors in sorted order mostly differ in length)
      .filter(abs(length(col("ta")) - length(col("tb"))) <= maxDist)
      // thresholded levenshtein: the banded O(len·maxDist) algorithm
      // (returns −1 above the threshold) instead of the full O(len²)
      // table — with the band ≪ len this is the other order of magnitude
      .withColumn("dist",
        levenshtein(col("ta"), col("tb"), maxDist).cast("long"))
      .filter(col("dist") >= 0 && col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
