package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trigram-indexed regex search — the code-search-engine pattern (Cox,
  * "Regular Expression Matching with a Trigram Index", 2012, public
  * essay; the original Google Code Search design). A regex of the
  * restricted form `lit₁.*lit₂.*…litₙ` (literal segments joined by
  * `.*`) can only match a document whose text contains EVERY character
  * trigram of every literal segment, so an inverted trigram index
  * prunes the corpus to a candidate set with a handful of index-key
  * lookups and the real regex runs over candidates only.
  *
  * Scale shape: the index build is one narrow per-doc flatMap (distinct
  * trigrams — bounded by text length) and is built ONCE; at 100 TB it
  * is written `partitionBy(trigram-prefix)` (same layout policy as the
  * bucketed IVF store) so a search never scans the corpus — it reads
  * |required-trigrams| index slices, one map-side-combined groupBy
  * sized to those slices, then a semi-join fetch of candidate docs for
  * the exact verify. The verify makes the index transparent: the result
  * is DEFINED by the regex alone, the index only prunes — so a capped
  * or stale index can never produce a wrong match, only wasted verify
  * work (the same verify-dominates policy as MinHash LSH in
  * [[graft.dedup.Dedup]]).
  */
object Trigram {

  /** Distinct-trigram inverted index: one (doc_id, trigram) row per
    * distinct character trigram of `textCol` — one fused codegen'd loop
    * per doc ([[GramExpr]]; the sequence+substr HOF form this replaces
    * dispatched an interpreted lambda per window); texts shorter than
    * 3 chars contribute no rows.
    */
  def index(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.select(col(idCol),
      explode(GramExpr.charTrigrams(docs.sparkSession, col(textCol)))
        .as("trigram"))

  /** Literal segments of the restricted pattern grammar
    * `literal(.*literal)*`, literals over [A-Za-z0-9 _-] — characters
    * whose regex meaning is identical in Java and RE2, so the verify
    * replays bit-identically in any engine. Rejects anything else
    * loudly rather than silently under-pruning.
    */
  def literalSegments(pattern: String): Seq[String] = {
    val segs = pattern.split(raw"\.\*", -1).toSeq
    require(segs.nonEmpty && segs.forall(s => s.nonEmpty && s.matches("[A-Za-z0-9 _-]+")),
      s"unsupported pattern (grammar: literal(.*literal)*, literals over " +
        s"[A-Za-z0-9 _-]+): $pattern")
    segs
  }

  /** Required trigrams: every length-3 window of every literal segment.
    * Segments shorter than 3 chars contribute nothing (they cannot
    * prune) — at least one segment must be ≥ 3 chars or the index
    * cannot help and the caller should full-scan instead.
    */
  def requiredTrigrams(pattern: String): Seq[String] =
    literalSegments(pattern)
      .flatMap(_.sliding(3).filter(_.length == 3)).distinct

  /** Docs matching `pattern` (doc_id only): index-pruned candidates,
    * then the exact regex (unanchored, as both Java `rlike` and RE2
    * search semantics). `idx` defaults to building the index inline;
    * pass a pre-built (persisted/partitioned) index for repeated
    * searches — the production path.
    */
  def search(spark: SparkSession, docs: DataFrame, pattern: String,
      idx: Option[DataFrame] = None, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val grams = requiredTrigrams(pattern)
    require(grams.nonEmpty,
      s"pattern has no literal >= 3 chars - trigram pruning impossible: $pattern")
    idx match {
      // pre-built (persisted/partitionBy'd) index — the production
      // path: candidates contain ALL required trigrams; |grams| is
      // query-sized and the isin filter prunes the scan to those
      // slices, then the semi-join fetches candidate docs for the
      // exact verify
      case Some(index0) =>
        val cand = index0.filter(col("trigram").isin(grams: _*))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("ng")) // index rows distinct per (doc, trigram)
          .filter(col("ng") === grams.size)
          .select(col(idCol))
        docs.join(cand, Seq(idCol), "left_semi")
          .filter(col(textCol).rlike(pattern))
          .select(col(idCol))
      // inline path: the SAME Cox prune — "text contains every required
      // trigram" — evaluated as a conjunction of codegen'd contains()
      // directly on the row, fused with the verify into ONE narrow scan
      // of the corpus: no trigram array build, no explode, no index
      // groupBy, zero shuffles. (The former shape built the full
      // distinct-trigram index per call and immediately discarded all
      // but |grams| rows of it.) The verify still DEFINES the result;
      // the prune only skips regex work.
      case None =>
        docs
          .filter(grams.map(g => col(textCol).contains(lit(g))).reduce(_ && _))
          .filter(col(textCol).rlike(pattern))
          .select(col(idCol))
    }
  }

  /** Candidate count WITHOUT the verify — spec hook for pinning the
    * pruning power of the index (candidates ⊇ matches, and far smaller
    * than the corpus).
    */
  def candidates(spark: SparkSession, docs: DataFrame, pattern: String,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val grams = requiredTrigrams(pattern)
    index(docs, idCol, textCol).filter(col("trigram").isin(grams: _*))
      .groupBy(col(idCol)).agg(count(lit(1)).as("ng"))
      .filter(col("ng") === grams.size)
      .select(col(idCol))
  }
}
