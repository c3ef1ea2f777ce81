package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-group time-series and robust-rank statistics, INTEGER-EXACT —
  * the per-device/per-document battery a telemetry or curation pipeline
  * runs at millions-of-groups scale. Every operator here emits exact
  * integer sufficient statistics (numerators, cross-multiplied
  * denominators, doubled rank sums) instead of floats, so each is
  * DuckDB-oracle-able bit-for-bit and composes with downstream rational
  * comparisons.
  *
  * Scale shape: one hash aggregation keyed by group plus, where a
  * window is unavoidable, a window over the per-group SERIES — bounded
  * by the series length (days per device), never by corpus size. The
  * pair-join operator ([[kendallTau]]) is quadratic in series length by
  * definition and documented as such. Nothing here windows over an
  * unbounded partition or collects to the driver.
  */
object Series {

  private def grouped(df: DataFrame): DataFrame =
    df.select(col("grp").cast("long").as("grp"), col("x").cast("long").as("x"),
      col("y").cast("long").as("y"))

  /** Lag-k autocorrelation sufficient statistics per group: pairs are
    * (y_t, y_{t+k}) over the series in x order (row lag, so calendar
    * gaps don't produce NULL pairs). Emits (grp, n_pairs, r_num, da,
    * db) with r = r_num / sqrt(da·db): r_num = n·Σab − Σa·Σb,
    * da = n·Σa² − (Σa)², db likewise — the Pearson pieces kept apart so
    * nothing takes a square root. Groups with ≤ k observations emit
    * nothing.
    */
  def lagAutocorr(df: DataFrame, k: Int = 1): DataFrame = {
    require(k >= 1, s"lag k=$k must be >= 1")
    val w = Window.partitionBy(col("grp")).orderBy(col("x"))
    grouped(df)
      .withColumn("b", lead(col("y"), k).over(w))
      .filter(col("b").isNotNull)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("y")).as("sa"), sum(col("b")).as("sb"),
        sum(col("y") * col("b")).as("sab"),
        sum(col("y") * col("y")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
      .select(col("grp"), col("n_pairs"),
        (col("n_pairs") * col("sab") - col("sa") * col("sb")).as("r_num"),
        (col("n_pairs") * col("saa") - col("sa") * col("sa")).as("da"),
        (col("n_pairs") * col("sbb") - col("sb") * col("sb")).as("db"))
  }

  /** CUSUM changepoint per group, exact: over the series in x order
    * with prefix sums S_k, the split k ∈ [1, n) maximizing
    * |n·S_k − k·S_n| (the integer form of max_k |S_k − (k/n)·S_n| —
    * same argmax, no division). Ties break to the SMALLEST k. Emits
    * (grp, split_x, split_k, stat, n, s_total); single-observation
    * groups have no interior split and emit nothing.
    */
  def cusumChangepoint(df: DataFrame): DataFrame = {
    val g = grouped(df)
    val w = Window.partitionBy(col("grp")).orderBy(col("x"))
    val pre = g.withColumn("k", row_number().over(w).cast("long"))
      .withColumn("s", sum(col("y")).over(w))
    val tot = g.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s_total"))
    pre.join(tot, Seq("grp"))
      .filter(col("k") < col("n"))
      .select(col("grp"), col("n"), col("s_total"),
        abs(col("n") * col("s") - col("k") * col("s_total")).as("stat"),
        col("k"), col("x"))
      .groupBy(col("grp"))
      .agg(max(struct(col("stat"), (-col("k")).as("nk"), col("x").as("sx"),
        col("n").as("nn"), col("s_total").as("st"))).as("m"))
      .select(col("grp"), col("m.sx").as("split_x"), (-col("m.nk")).as("split_k"),
        col("m.stat").as("stat"), col("m.nn").as("n"), col("m.st").as("s_total"))
  }

  /** Per-group lower median of y — the value at rank ⌈n/2⌉ in y order
    * (row_number over (y, x) keeps the rank deterministic under ties;
    * the VALUE at the rank is tie-invariant). Series-bounded window.
    */
  private def lowerMedian(g: DataFrame, valueCol: String): DataFrame = {
    val w = Window.partitionBy(col("grp")).orderBy(col(valueCol), col("x"))
    val n = g.groupBy(col("grp")).agg(count(lit(1)).as("n"))
    g.withColumn("rn", row_number().over(w).cast("long"))
      .join(n, Seq("grp"))
      // integer div — Column./ on longs is DOUBLE division and would
      // make even-n ranks (n+1)/2 = k.5 match nothing
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("grp"), col("n"), col(valueCol).as("med"))
  }

  /** Median absolute deviation per group, EXACT — med = lower median of
    * y, mad = lower median of |y − med|; both medians are rank-⌈n/2⌉
    * selections, so everything stays integer (no midpoint averaging).
    * Emits (grp, n, med, mad). Two series-bounded windows + one
    * broadcast-sized median join.
    */
  def mad(df: DataFrame): DataFrame = {
    val g = grouped(df)
    val m1 = lowerMedian(g, "y")
    val dev = g.join(m1.select(col("grp"), col("med")), Seq("grp"))
      .select(col("grp"), col("x"), abs(col("y") - col("med")).as("d"))
    val m2 = lowerMedian(dev, "d")
      .select(col("grp"), col("med").as("mad"))
    m1.join(m2, Seq("grp"))
      .select(col("grp"), col("n"), col("med"), col("mad"))
  }

  /** Wald–Wolfowitz runs test counts per group, EXACT: sign each
    * observation against the lower median of its group (+1 above, −1
    * below, zeros DROPPED per the classic prescription), then count
    * maximal same-sign runs over the x order. Emits (grp, n_pos,
    * n_neg, n_runs); groups whose values all equal the median emit
    * (0, 0, 0). One median + one series-bounded lag window.
    */
  def runsTest(df: DataFrame): DataFrame = {
    val g = grouped(df)
    val med = lowerMedian(g, "y").select(col("grp"), col("med"))
    val signed = g.join(med, Seq("grp"))
      .withColumn("s", when(col("y") > col("med"), 1L)
        .when(col("y") < col("med"), -1L).otherwise(0L))
      .filter(col("s") =!= 0L)
    val w = Window.partitionBy(col("grp")).orderBy(col("x"))
    val runs = signed.withColumn("ps", lag(col("s"), 1).over(w))
      .groupBy(col("grp"))
      .agg(sum(when(col("s") === 1L, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("s") === -1L, 1L).otherwise(0L)).as("n_neg"),
        (sum(when(col("ps").isNull || col("ps") =!= col("s"), 1L)
          .otherwise(0L))).as("n_runs"))
    med.select(col("grp")).join(runs, Seq("grp"), "left")
      .select(col("grp"), coalesce(col("n_pos"), lit(0L)).as("n_pos"),
        coalesce(col("n_neg"), lit(0L)).as("n_neg"),
        coalesce(col("n_runs"), lit(0L)).as("n_runs"))
  }

  /** Spearman rank correlation sufficient statistics per group, EXACT
    * with ties: both variables are replaced by DOUBLED midranks (x is
    * required unique per group so 2·row_number; y uses minrank+maxrank
    * like [[rankSumU]]), then the Pearson pieces over the rank pairs:
    * (grp, n, num, da, db) with ρ = num / sqrt(da·db). All integer.
    */
  def spearman(df: DataFrame): DataFrame = {
    val g = grouped(df)
    // (x, y) order keeps the rank deterministic even if a caller passes
    // duplicate x (the contract is unique x; the fallback is benign)
    val wx = Window.partitionBy(col("grp")).orderBy(col("x"), col("y"))
    val byv = g.groupBy(col("grp"), col("y")).agg(count(lit(1)).as("c"))
    val wv = Window.partitionBy(col("grp")).orderBy(col("y"))
    val yr = byv.withColumn("cum", sum(col("c")).over(wv))
      .select(col("grp"), col("y"),
        (lit(2L) * col("cum") - col("c") + 1L).as("ry2"))
    val ranked = g
      .withColumn("rx2", lit(2L) * row_number().over(wx).cast("long"))
      .join(yr, Seq("grp", "y"))
    ranked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        sum(col("rx2")).as("sa"), sum(col("ry2")).as("sb"),
        sum(col("rx2") * col("ry2")).as("sab"),
        sum(col("rx2") * col("rx2")).as("saa"),
        sum(col("ry2") * col("ry2")).as("sbb"))
      .select(col("grp"), col("n"),
        (col("n") * col("sab") - col("sa") * col("sb")).as("num"),
        (col("n") * col("saa") - col("sa") * col("sa")).as("da"),
        (col("n") * col("sbb") - col("sb") * col("sb")).as("db"))
  }

  /** Gini coefficient per group, EXACT — the sorted-form identity
    * G = (2·Σ i·y_(i) − (n+1)·Σy) / (n·Σy) over ranks i = 1..n in
    * ascending y order: emits (grp, n, sum_y, gini_num, gini_den) with
    * G = gini_num/gini_den, all integer. Σ i·y_(i) is tie-invariant:
    * tied values occupy a run of consecutive ranks, and permuting
    * equal values within that run leaves the sum unchanged — so the
    * deterministic (y, x) rank order is a convenience, not a semantic.
    * Requires y ≥ 0 (guarded in-plan). One series-bounded
    * rank window + one hash aggregation — the token/pixel/traffic
    * concentration metric at millions of groups.
    */
  def gini(df: DataFrame): DataFrame = {
    val g = grouped(df)
    val w = Window.partitionBy(col("grp")).orderBy(col("y"), col("x"))
    val checked = g.withColumn("yv",
      when(col("y") >= 0, col("y")).otherwise(raise_error(concat(
        lit("gini: negative value in group "), col("grp").cast("string")))
        .cast("long")))
    checked.withColumn("i", row_number().over(w).cast("long"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), sum(col("yv")).as("sum_y"),
        sum(col("i") * col("yv")).as("siy"))
      .select(col("grp"), col("n"), col("sum_y"),
        (lit(2L) * col("siy") - (col("n") + 1L) * col("sum_y")).as("gini_num"),
        (col("n") * col("sum_y")).as("gini_den"))
  }

  /** Weighted median along the axis, EXACT: the smallest x whose
    * cumulative mass reaches half the total — 2·Σ_{x'≤x} y ≥ Σy (the
    * doubled comparison avoids halving). Emits (grp, half_x, cum_mass,
    * total_mass). Requires y ≥ 0 (guarded in-plan); groups with zero
    * total mass pick their first x (cum 0 ≥ 0). One series-bounded
    * cumsum window + one struct-min aggregation — the mid-activity
    * point of a device, the half-energy sample of a clip.
    */
  def weightedMedian(df: DataFrame): DataFrame = {
    val g = grouped(df)
    val w = Window.partitionBy(col("grp")).orderBy(col("x"))
    val checked = g.withColumn("yv",
      when(col("y") >= 0, col("y")).otherwise(raise_error(concat(
        lit("weightedMedian: negative mass in group "),
        col("grp").cast("string"))).cast("long")))
    val tot = checked.groupBy(col("grp")).agg(sum(col("yv")).as("total_mass"))
    checked.withColumn("cum", sum(col("yv")).over(w))
      .join(tot, Seq("grp"))
      .filter(lit(2L) * col("cum") >= col("total_mass"))
      .groupBy(col("grp"))
      .agg(min(struct(col("x"), col("cum").as("c"),
        col("total_mass").as("t"))).as("m"))
      .select(col("grp"), col("m.x").as("half_x"), col("m.c").as("cum_mass"),
        col("m.t").as("total_mass"))
  }

  /** Merged-interval (gaps-and-islands with OVERLAP semantics) rollup
    * per group: input (grp, s, e) half-open intervals; islands break
    * where an interval starts past the running max end of everything
    * before it, then each island contributes its span. Emits
    * (grp, n_intervals, n_islands, covered) with covered =
    * Σ_islands (max e − min s) — exact under any overlap/containment
    * pattern. Two series-bounded windows + one island aggregation;
    * DISTINCT from gap-based sessionization (q41), which clusters
    * points — this measures covered extent under overlaps.
    */
  def intervalUnion(df: DataFrame): DataFrame = {
    val g = df.select(col("grp").cast("long").as("grp"),
      col("s").cast("long").as("s"), col("e").cast("long").as("e"))
    val w = Window.partitionBy(col("grp")).orderBy(col("s"), col("e"))
    val prev = w.rowsBetween(Window.unboundedPreceding, -1)
    val flagged = g
      .withColumn("pmax", max(col("e")).over(prev))
      .withColumn("brk",
        when(col("pmax").isNull || col("s") > col("pmax"), 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(w))
    flagged.groupBy(col("grp"), col("island"))
      .agg(count(lit(1)).as("ni"), min(col("s")).as("is_"),
        max(col("e")).as("ie"))
      .groupBy(col("grp"))
      .agg(sum(col("ni")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        sum(col("ie") - col("is_")).as("covered"))
  }

  /** Mann–Whitney rank-sum sufficient statistics per group, exact with
    * ties: input is (grp, side ∈ {0,1}, v); midranks are kept DOUBLED
    * (2·midrank = minrank + maxrank, always an integer). Emits
    * (grp, n1, n2, r1_x2, u1_x2) where r1_x2 = 2·R₁ (doubled rank sum
    * of side 1) and u1_x2 = 2·U₁ = 2·n₁·n₂ + n₁(n₁+1) − r1_x2. One
    * (grp, v) aggregation then a window over the DISTINCT-value list —
    * bounded by the value cardinality per group.
    */
  def rankSumU(df: DataFrame): DataFrame = {
    val g = df.select(col("grp").cast("long").as("grp"),
      col("side").cast("long").as("side"), col("v").cast("long").as("v"))
    val byv = g.groupBy(col("grp"), col("v"))
      .agg(count(lit(1)).as("c"), sum(col("side")).as("c1"))
    val w = Window.partitionBy(col("grp")).orderBy(col("v"))
    val ranked = byv.withColumn("cum", sum(col("c")).over(w))
      // 2·midrank of a tie run ending at cumulative count `cum` with
      // run length c: (cum - c + 1) + cum
      .withColumn("rank2", lit(2L) * col("cum") - col("c") + 1L)
    ranked.groupBy(col("grp"))
      .agg(sum(col("c1")).as("n1"),
        sum(col("c") - col("c1")).as("n2"),
        sum(col("c1") * col("rank2")).as("r1_x2"))
      .select(col("grp"), col("n1"), col("n2"), col("r1_x2"),
        (lit(2L) * col("n1") * col("n2") + col("n1") * (col("n1") + 1L) -
          col("r1_x2")).as("u1_x2"))
  }

  /** Kendall concordance counts per group, exact: over all unordered
    * observation pairs taken in x order (x must be UNIQUE within a
    * group — pre-aggregate first; enforced by a loud in-plan check),
    * counts concordant (y strictly rises), discordant (strictly falls),
    * and y-ties. τ_b's pieces without any square root: emits
    * (grp, n, nc, nd, t_y). Quadratic in series length by definition —
    * a bounded-series operator.
    */
  def kendallTau(df: DataFrame): DataFrame = {
    val g = grouped(df)
    // duplicate-x guard folded INTO the preserved aggregate (count vs
    // countDistinct) — a guard on the null-producing side of a join can
    // be skipped wholesale by AQE empty-relation propagation
    val n = g.groupBy(col("grp"))
      .agg(count(lit(1)).as("cnt"), countDistinct(col("x")).as("ndx"))
      .select(col("grp"),
        when(col("cnt") === col("ndx"), col("cnt"))
          .otherwise(raise_error(concat(
            lit("kendallTau: duplicate x within group "),
            col("grp").cast("string"))).cast("long")).as("n"))
    val a = g.select(col("grp"), col("x").as("xa"), col("y").as("ya"))
    val b = g.select(col("grp"), col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(b, Seq("grp")).filter(col("xa") < col("xb"))
      .groupBy(col("grp"))
      .agg(sum(when(col("yb") > col("ya"), 1L).otherwise(0L)).as("nc"),
        sum(when(col("yb") < col("ya"), 1L).otherwise(0L)).as("nd"),
        sum(when(col("yb") === col("ya"), 1L).otherwise(0L)).as("t_y"))
    // left join from n: singleton groups emit (n = 1, 0, 0, 0)
    n.join(pairs, Seq("grp"), "left")
      .select(col("grp"), col("n"), coalesce(col("nc"), lit(0L)).as("nc"),
        coalesce(col("nd"), lit(0L)).as("nd"),
        coalesce(col("t_y"), lit(0L)).as("t_y"))
  }

  /** Tukey IQR outlier fences per group, exact: quartiles by the
    * discrete lower-quantile rule (q1 at rank ⌈n/4⌉, q3 at ⌈3n/4⌉ of
    * the ascending y order), and the classic 1.5·IQR fences kept
    * integer by DOUBLING — y is an outlier iff 2y < 2·q1 − 3·(q3−q1)
    * or 2y > 2·q3 + 3·(q3−q1). Emits (grp, n, q1, q3, n_low, n_high).
    * One grp-keyed rank window + one hash aggregation; the
    * box-plot/outlier screen that complements [[mad]]'s robust spread.
    */
  def iqrOutliers(df: DataFrame): DataFrame = {
    val g = grouped(df)
    val w = Window.partitionBy(col("grp")).orderBy(col("y"), col("x"))
    val ranked = g
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("grp"))))
    val quarts = ranked.groupBy(col("grp"))
      .agg(max(col("n")).as("n"),
        min(when(lit(4L) * col("rk") >= col("n"), col("y"))).as("q1"),
        min(when(lit(4L) * col("rk") >= lit(3L) * col("n"), col("y"))).as("q3"))
    g.join(quarts, Seq("grp"))
      .groupBy(col("grp"))
      .agg(max(col("n")).as("n"), max(col("q1")).as("q1"),
        max(col("q3")).as("q3"),
        sum(when(lit(2L) * col("y") <
          lit(2L) * col("q1") - lit(3L) * (col("q3") - col("q1")), 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(lit(2L) * col("y") >
          lit(2L) * col("q3") + lit(3L) * (col("q3") - col("q1")), 1L)
          .otherwise(0L)).as("n_high"))
  }

  /** lcm(1..k) for k = 1..40 — the common scale that turns every
    * interval average sum/len (len ≤ n ≤ 40) into an EXACT integer
    * sum·(lcm/len). lcm(1..40) ≈ 5.3e15, so scaled values stay in i64
    * for interval sums up to ~1.7e3; beyond n = 40 the scale itself
    * would overflow — guarded loudly in [[isotonic]].
    */
  private val lcmUpTo: Seq[Long] = {
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    (1 to 40).scanLeft(1L)((l, k) => l / gcd(l, k) * k).tail
  }

  /** Exact isotonic (monotone non-decreasing) L2 regression per group —
    * PAVA's pool-adjacent-violators fit via the minimax identity
    * (Robertson–Wright–Dykstra 1988, Thm 1.4.4):
    * fit[k] = max_{i ≤ k} min_{j ≥ k} avg(y[i..j]). Averages are made
    * exactly comparable by scaling with L = lcm(1..n) (len divides L),
    * so the nested min/max are PLAIN integer aggregations — no rational
    * anti-joins. Emits (grp, x, y, iso_num, iso_den): the fitted value
    * is iso_num/iso_den, constant on PAVA's pooled blocks.
    *
    * Scale shape: the interval×position expansion is O(n³) in SERIES
    * length (n ≤ 40 guarded — days per device), never corpus-sized;
    * three hash aggregations keyed by group, one series-bounded window.
    * The calibration primitive (reliability curves, monotone score →
    * rate maps) a training pipeline runs per segment.
    */
  def isotonic(df: DataFrame): DataFrame = {
    val g = grouped(df)
    val w = Window.partitionBy(col("grp")).orderBy(col("x"))
    val idx = g.withColumn("k", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("y")).over(w))
    val lcmArr = array(lcmUpTo.map(lit): _*)
    val scale = idx.groupBy(col("grp")).agg(max(col("k")).as("n"))
      .select(col("grp"),
        when(col("n") <= 40L, element_at(lcmArr, col("n").cast("int")))
          .otherwise(raise_error(concat(
            lit("isotonic: series longer than 40 in group "),
            col("grp").cast("string"))).cast("long")).as("bigl"))
    val iSide = idx.select(col("grp"), col("k").as("i"),
      (col("cum") - col("y")).as("pre"))
    val jSide = idx.select(col("grp"), col("k").as("j"), col("cum"))
    val intervals = iSide.join(jSide, Seq("grp")).filter(col("i") <= col("j"))
      .join(scale, Seq("grp"))
      .select(col("grp"), col("i"), col("j"),
        // len divides bigl exactly, so the integer div loses nothing;
        // the scaled product is guarded IN-PLAN: lcm(1..40) ≈ 5.3e15
        // leaves < 2000 of headroom in a Long, so an interval sum past
        // MaxValue/(bigl div len) raises loudly instead of wrapping
        // into a silently wrong fit (the docstring bound, now enforced)
        (when(abs(col("cum") - col("pre")) <=
            expr("9223372036854775807L div (bigl div (j - i + 1))"),
          col("cum") - col("pre"))
          .otherwise(raise_error(concat(
            lit("isotonic: interval sum overflows the lcm scale in group "),
            col("grp").cast("string"))).cast("long")) *
          expr("bigl div (j - i + 1)")).as("v"))
    val ks = idx.select(col("grp"), col("k"))
    val inner = intervals.join(ks, Seq("grp"))
      .filter(col("i") <= col("k") && col("k") <= col("j"))
      .groupBy(col("grp"), col("i"), col("k"))
      .agg(min(col("v")).as("mn"))
    val fit = inner.groupBy(col("grp"), col("k"))
      .agg(max(col("mn")).as("iso_num"))
    idx.join(fit, Seq("grp", "k")).join(scale, Seq("grp"))
      .select(col("grp"), col("x"), col("y"), col("iso_num"),
        col("bigl").as("iso_den"))
  }
}
