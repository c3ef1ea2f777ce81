package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shingle CONTAINMENT (Broder, "On the resemblance and containment of
  * documents", SEQUENCES 1997): c(A,B) = |S(A) ∩ S(B)| / |S(A)| over
  * distinct word n-shingles. Containment catches the asymmetric
  * duplication that resemblance (Jaccard, q46/q23) structurally
  * misses: a short document quoted whole inside a much larger one has
  * c(A,B) ≈ 1 while |S(B)| ≫ |S(A)| drives Jaccard toward 0 — the
  * boilerplate-wrap / quote-embedding case a crawl corpus is full of.
  *
  * Pipeline (the inverted-index join, not the all-pairs array
  * intersect): distinct n-shingles per doc (narrow flatMap) → shingle
  * buckets, dropping singleton buckets and CAPPING hot buckets (a
  * shingle shared by more than `maxBucket` docs is boilerplate — its
  * quadratic pair fan-out is cut, the same observable-degradation
  * policy as MinHash LSH banding in [[Dedup]]) → per-pair shared-count
  * via in-bucket pair explode + one groupBy → integer threshold
  * `inter·den ≥ num·min(|S(A)|,|S(B)|)` — exact integer arithmetic, so
  * the result replays bit-identically in the ANSI oracle.
  *
  * Scale shape: shingling is narrow; the bucket groupBy shuffles once
  * on shingle (uniform — shingles are near-unique text); pair fan-out
  * is bounded by maxBucket² per bucket; the pair groupBy shuffles
  * candidate pairs only. The corpus text never shuffles — only
  * (id, shingle) rows and (id, id) pairs.
  */
object Containment {

  /** Distinct word n-shingle rows (idCol, sh) — md5-fingerprinted so
    * the shuffled key is 32 bytes regardless of n. One fused codegen'd
    * loop per doc ([[graft.text.GramExpr]]) — the explode(transform(...))
    * HOF form this replaces dispatched an interpreted lambda per window.
    */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n=$n must be >= 2")
    docs.select(col(idCol),
      explode(graft.text.GramExpr.wordShinglesMd5(
        docs.sparkSession, col(textCol), n)).as("sh"))
  }

  /** Contained-pair table: (id_a < id_b, inter, n_a, n_b) for pairs
    * whose larger-direction containment inter/min(n_a,n_b) ≥ num/den.
    * Docs shorter than n words shingle to their whole text (slice past
    * the end truncates) — stated, deterministic.
    */
  def containedPairs(spark: SparkSession, docs: DataFrame, n: Int = 5,
      num: Long = 8L, den: Long = 10L, maxBucket: Int = 64,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    import spark.implicits._
    require(num >= 0 && den > 0 && num <= den, s"threshold $num/$den")
    require(maxBucket >= 2, s"maxBucket=$maxBucket")
    // cut once: referenced twice (sizes + buckets) — without it the
    // corpus would shingle twice
    val sh = shingles(docs.select(col(idCol).cast("long").as(idCol), col(textCol)),
        n, idCol, textCol)
      .localCheckpoint(false)
    val sizes = sh.groupBy(col(idCol)).agg(count(lit(1)).as("nsh"))
    // in-bucket pair explode: ids sorted so (a, b) emits once with a < b
    val pairs = sh.groupBy(col("sh"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        val s = ids.sorted
        for (i <- s.indices.iterator; j <- (i + 1) until s.length)
          yield (s(i), s(j))
      }
      .toDF("id_a", "id_b")
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("inter")) // sh rows are distinct per (doc, shingle)
    val out = pairs
      .join(sizes.select(col(idCol).as("id_a"), col("nsh").as("n_a")), Seq("id_a"))
      .join(sizes.select(col(idCol).as("id_b"), col("nsh").as("n_b")), Seq("id_b"))
      .filter(col("inter") * den >= least(col("n_a"), col("n_b")) * num)
      .select(col("id_a"), col("id_b"), col("inter"), col("n_a"), col("n_b"))
    out
  }
}
