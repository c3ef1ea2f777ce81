package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Edit-distance similarity self-join (all pairs within Levenshtein
  * distance ≤ k) via pigeonhole segment partitioning — the PassJoin
  * family (Li, Deng, Wang, Feng, VLDB'11): split every string into
  * k+1 contiguous segments; any pair within distance k has, for ANY
  * such partition of either string, at least one segment that the k
  * edits never touch, and an untouched segment of `a` appears in `b`
  * verbatim at a position shifted by at most the edits preceding it
  * (≤ k). Candidate generation is therefore an EQUI-join:
  *
  *   index side — each string's k+1 segments, keyed
  *     (segment text, segment ordinal, |a|);
  *   probe side — for each string `b` and each partner length
  *     la ∈ [|b|−k, |b|+k], the substrings of `b` at the partition
  *     boundaries of an la-length string ± k positions, same key.
  *
  * Fan-out is (2k+1)·(k+1)·(2k+1) rows per probe string — CONSTANT in
  * string length and corpus size (position-free substring probing
  * would be O(|b|) per length; the position window is what makes the
  * probe side linear at 100 TB). Candidates are distinct (sa < sb)
  * pairs sharing a key; the verify step is one `levenshtein` per
  * candidate (codegen'd built-in, exact). No O(n²) anything: work is
  * index + probe exchanges on the segment key, then candidate-sized
  * verification, exactly the shape a caption-dedup pass over a web
  * corpus needs.
  *
  * Losslessness of the (sa < sb) restriction: for any qualifying pair
  * {x, y} the pigeonhole argument applies to x's own partition, so the
  * directional candidate (x as index row, y as probe row) always
  * fires; orienting output on the smaller id keeps exactly one firing
  * per pair.
  */
object EditJoin {

  /** All pairs (id_a < id_b) of `df`'s `strCol` within Levenshtein
    * distance ≤ k, with the exact distance. `df` must be deduplicated
    * on `idCol`.
    */
  def passJoin(df: DataFrame, idCol: String, strCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 4, s"k=$k out of the supported band [1, 4]")
    val parts = k + 1
    val base = df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))

    // index side: the k+1 partition segments of every string.
    // 0-based start of segment j of an L-length string: j*L div (k+1).
    val idx = base
      .select(col("id").as("sa"), col("s").as("stra"),
        explode(sequence(lit(0), lit(parts - 1))).as("j"))
      .select(col("sa"), col("j"), length(col("stra")).as("la"),
        expr(s"substring(stra, j * length(stra) div $parts + 1, " +
          s"(j + 1) * length(stra) div $parts - j * length(stra) div $parts)")
          .as("piece"))
      .filter(length(col("piece")) > 0)

    // probe side: partner length la = |b| + d, segment ordinal j,
    // probe position = la-partition start of segment j shifted by t.
    val probe = base
      .select(col("id").as("sb"), col("s").as("strb"),
        explode(sequence(lit(-k), lit(k))).as("d"))
      .select(col("sb"), col("strb"), (length(col("strb")) + col("d")).as("la"))
      .filter(col("la") >= parts)
      .select(col("sb"), col("strb"), col("la"),
        explode(sequence(lit(0), lit(parts - 1))).as("j"))
      .select(col("sb"), col("strb"), col("la"), col("j"),
        (col("j") * col("la")).divide(lit(parts)).cast("int").as("st"),
        (((col("j") + 1) * col("la")).divide(lit(parts)).cast("int")
          - (col("j") * col("la")).divide(lit(parts)).cast("int")).as("slen"))
      .filter(col("slen") > 0)
      .select(col("sb"), col("strb"), col("la"), col("j"), col("slen"),
        explode(sequence(col("st") - k, col("st") + k)).as("p"))
      .filter(col("p") >= 0 && col("p") + col("slen") <= length(col("strb")))
      .select(col("sb"), col("la"), col("j"),
        expr("substring(strb, p + 1, slen)").as("piece"))

    val cand = idx.join(probe, Seq("la", "j", "piece"))
      .filter(col("sa") < col("sb"))
      .select(col("sa"), col("sb")).distinct()

    val a = base.select(col("id").as("sa"), col("s").as("stra"))
    val b = base.select(col("id").as("sb"), col("s").as("strb"))
    cand.join(a, "sa").join(b, "sb")
      .select(col("sa").as("id_a"), col("sb").as("id_b"),
        levenshtein(col("stra"), col("strb")).as("dist"))
      .filter(col("dist") <= k)
  }
}
