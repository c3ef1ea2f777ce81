package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse (bag-of-words) cosine similarity join over an inverted term
  * index — the classic IR similarity the dense-embedding ANN family
  * (q27/q30/q52) complements, exact rather than approximate: with
  * integer term frequencies, cos(A,B) ≥ num/den is decided as
  *
  *   dot² · den² ≥ num² · ‖A‖² · ‖B‖²   (for dot ≥ 0, always true here)
  *
  * — every quantity an integer (dot = Σ tfᴀ·tfᴮ, ‖·‖² = Σ tf²), so no
  * square root, no float, and the result replays bit-identically in the
  * ANSI oracle.
  *
  * Scale shape: tf is one map-side-combined groupBy (doc × term);
  * candidate pairs come from the inverted-index self-join keyed on
  * term, with a HOT-TERM CAP — a term in more than `maxDf` docs is a
  * stopword whose quadratic pair fan-out is cut (the same observable
  * degradation policy as MinHash banding and Containment's bucket cap;
  * dropping ubiquitous terms is what idf does anyway, here made
  * explicit). Per-pair dot is one groupBy over candidate rows only; the
  * norm join is doc-keyed. Texts never shuffle — only (doc, term, tf)
  * rows and (a, b) pairs.
  */
object SparseCosine {

  /** (id_a < id_b, dot, n_a, n_b) for pairs with cosine ≥ num/den,
    * where n_a/n_b are the squared norms. Terms are word BIGRAMS (with
    * multiplicity — tf is a count, unlike the distinct-shingle set ops):
    * on a small-vocabulary corpus unigram df saturates the stopword cap
    * and carries no signal anyway; bigrams square the vocabulary, so df
    * discriminates. A one-word document degenerates to its single word.
    */
  def similarPairs(spark: SparkSession, docs: DataFrame, num: Long = 8L,
      den: Long = 10L, maxDf: Int = 64, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    require(num >= 0 && den > 0 && num <= den, s"threshold $num/$den")
    require(maxDf >= 2, s"maxDf=$maxDf")
    // fused codegen'd bigram loop (graft.text.GramExpr) — the
    // explode(transform(...)) HOF form this replaces dispatched an
    // interpreted lambda per window per doc
    val tf = docs
      .select(col(idCol).cast("long").as("id"),
        explode(graft.text.GramExpr.wordGrams(
          docs.sparkSession, col(textCol), 2)).as("term"))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
      // referenced three times (norms, index, both pair sides): cut once
      .localCheckpoint(false)
    val norms = tf.groupBy(col("id")).agg(sum(col("tf") * col("tf")).as("nsq"))
    val okTerms = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf)).select(col("term"))
    val posting = tf.join(okTerms, Seq("term"))
    val dot = posting.select(col("term"), col("id").as("id_a"), col("tf").as("tfa"))
      .join(posting.select(col("term"), col("id").as("id_b"), col("tf").as("tfb")),
        Seq("term"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("tfa") * col("tfb")).as("dot"))
    dot
      .join(norms.select(col("id").as("id_a"), col("nsq").as("n_a")), Seq("id_a"))
      .join(norms.select(col("id").as("id_b"), col("nsq").as("n_b")), Seq("id_b"))
      .filter(col("dot") * col("dot") * lit(den * den) >=
        lit(num * num) * col("n_a") * col("n_b"))
      .select(col("id_a"), col("id_b"), col("dot"), col("n_a"), col("n_b"))
  }
}
