package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.img.ImageTable.splitmix64
import graft.functions.GraftFunctions

/** Text-analysis operators for training-data pipelines: language ID
  * (stopword/script heuristic), quality scoring, token counting, and
  * winnowing document fingerprints. All narrow column/map work — no
  * shuffles beyond what the caller aggregates.
  */
object TextOps {

  /** THE whitespace tokenizer (lowercase → split on runs of whitespace →
    * drop empties), defined once: every operator whose oracle replays
    * tokenization in SQL (`list_filter(string_split_regex(lower(text),
    * '\s+'), x -> x <> '')`) must tokenize through here or [[tokensCol]] so
    * cross-engine exactness can never drift between copies. Null-safe:
    * null text tokenizes to no tokens.
    */
  def tokenize(t: String): Array[String] =
    if (t == null) Array.empty else t.toLowerCase.split("\\s+").filter(_.nonEmpty)

  /** The winnow/CDC text normalization (lowercase, collapse whitespace) —
    * ONE copy shared by [[winnow]], [[cdcChunks]] and the fused
    * [[TextExpr.cdcChunksCol]] kernel; the q29/q63 oracles replay it, so
    * the three call sites must never drift.
    */
  private[text] def normalizeWs(t: String): String =
    t.toLowerCase.replaceAll("\\s+", " ")

  /** [[tokenize]] as a codegen'd Column (array of non-empty tokens);
    * null text stays null — matching the SQL oracle's NULL propagation.
    */
  def tokensCol(c: Column): Column =
    filter(split(lower(c), "\\s+"), t => t =!= "")

  /** Tiny per-language stopword profiles (public common-word lists). */
  val Profiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "a", "in", "is", "that", "it", "for"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "zu", "auf"),
    "es" -> Set("el", "la", "los", "las", "y", "es", "en", "que", "de", "un"),
    "fr" -> Set("le", "la", "les", "et", "est", "en", "que", "un", "une", "des"),
    "it" -> Set("il", "la", "di", "e", "che", "un", "per", "con", "del", "sono"))

  /** Heuristic language ID: CJK script share first, else argmax stopword
    * hits (ties broken by language code order — deterministic). "und" when
    * nothing matches.
    */
  def langId(text: String): String = {
    if (text == null || text.isEmpty) return "und"
    var cjk = 0
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if ((c >= 0x4E00 && c <= 0x9FFF) || (c >= 0x3040 && c <= 0x30FF)) cjk += 1
      i += 1
    }
    if (cjk * 5 > text.length) return "zh"
    val toks = text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty)
    if (toks.isEmpty) return "und"
    // plain loop over the code-sorted profiles: strictly-greater keeps
    // the FIRST language at the max hit count, which is exactly the old
    // sortBy((-hits, lang)).head rule (max hits, tie → smallest code) —
    // minus the per-document Map/sort/tuple allocations that mattered
    // once this kernel moved inside whole-stage codegen
    var best: String = null
    var bestHits = -1
    var li = 0
    while (li < ProfileArr.length) {
      val (lang, words) = ProfileArr(li)
      var hits = 0
      var ti = 0
      while (ti < toks.length) { if (words.contains(toks(ti))) hits += 1; ti += 1 }
      if (hits > bestHits) { best = lang; bestHits = hits }
      li += 1
    }
    if (bestHits == 0) "und" else best
  }

  /** [[Profiles]] in ascending language-code order — the tie order the
    * q26 oracle replays. */
  private val ProfileArr: Array[(String, Set[String])] =
    Profiles.toArray.sortBy(_._1)

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): k-gram
    * rolling hashes, minimum per sliding window w, rightmost-min rule.
    * Shared fingerprints across documents ⇒ shared content.
    */
  def winnow(text: String, k: Int = 8, w: Int = 4): Array[Long] = {
    val s = normalizeWs(text)
    if (s.length < k) return if (s.isEmpty) Array.empty else Array(splitmix64(s.hashCode.toLong))
    val n = s.length - k + 1
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      var h = 1125899906842597L
      var j = 0
      while (j < k) { h = h * 31 + s.charAt(i + j); j += 1 }
      hs(i) = splitmix64(h)
      i += 1
    }
    if (n <= w) Array(hs.min)
    else {
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      i = 0
      while (i + w <= n) {
        var mi = i
        var j = i + 1
        while (j < i + w) { if (hs(j) <= hs(mi)) mi = j; j += 1 }
        out += hs(mi)
        i += 1
      }
      out.toArray
    }
  }

  /** Content-defined chunking (the CDC step storage/dedup pipelines run
    * before hashing): a chunk boundary falls after every k-gram whose
    * rolling hash lands in the mask — boundaries move WITH the content, so
    * an insertion early in a document shifts at most one chunk instead of
    * re-hashing everything downstream (the fixed-window failure mode).
    * Same normalization and gram hash as [[winnow]] (lowercase, collapsed
    * whitespace, 31-polynomial → splitmix64), so the whole operator is
    * bit-replicable in SQL (q63's oracle). `mask = 63` gives ~64-char
    * expected chunks; production CDC adds min/max clamps — omitted here to
    * keep the boundary rule pure content arithmetic.
    *
    * @return (start, len) spans over the NORMALIZED text, covering it
    *         exactly, in order
    */
  def cdcChunks(text: String, k: Int = 8, mask: Long = 63L): Seq[(Int, Int)] =
    cdcBoundaries(normalizeWs(text), k, mask)

  /** [[cdcChunks]] over ALREADY-normalized text — the form the distributed
    * table uses so normalization happens once per document, not twice.
    */
  private[text] def cdcBoundaries(s: String, k: Int, mask: Long): Seq[(Int, Int)] = {
    val n = s.length
    if (n == 0) return Seq.empty
    if (n < k) return Seq((0, n))
    val starts = scala.collection.mutable.ArrayBuffer(0)
    var i = 0
    while (i + k <= n) {
      var h = 1125899906842597L
      var j = 0
      while (j < k) { h = h * 31 + s.charAt(i + j); j += 1 }
      val b = i + k
      if ((splitmix64(h) & mask) == 0L && b < n) starts += b
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[(Int, Int)](starts.length)
    var si = 0
    while (si < starts.length) {
      val st = starts(si)
      val en = if (si + 1 < starts.length) starts(si + 1) else n
      out += ((st, en - st))
      si += 1
    }
    out.toSeq
  }

  /** Distributed CDC chunk table with chunk-level dedup: one row per
    * chunk — (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5,
    * n_copies) where
    * n_copies counts how many chunks corpus-wide share the md5. Shape at
    * scale: the chunker is a narrow flatMap, the md5 is codegen'd, and
    * the ONLY exchange is the sharing window hashed on chunk_md5
    * (content-uniform keys — no skew by construction).
    *
    * Unicode caveat: chunk spans are UTF-16 CODE-UNIT offsets (the gram
    * hash walks code units), so a boundary can split a surrogate pair;
    * the resulting lone surrogate is replaced when the chunk string is
    * stored as UTF-8. The replacement is deterministic, so chunk_md5
    * identity — the only thing dedup consumes — is unaffected.
    */
  def cdcChunkTable(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      k: Int = 8, mask: Long = 63L): DataFrame = {
    // fused codegen'd chunker ([[TextExpr.cdcChunksCol]]) — was a typed
    // flatMap paying a per-document encoder round trip; null text
    // quarantines (dropped by the explode)
    val chunks = docs.select(col(idCol).cast("long").as(idCol),
        explode(TextExpr.cdcChunksCol(spark, col(textCol), k, mask)).as("c"))
      .select(col(idCol), col("c.chunk_idx").as("chunk_idx"),
        col("c.chunk_start").as("chunk_start"),
        col("c.chunk_len").as("chunk_len"), col("c.chunk").as("chunk"))
    chunks
      .withColumn("chunk_md5", md5(col("chunk")))
      .withColumn("n_copies",
        count(lit(1)).over(Window.partitionBy(col("chunk_md5"))))
      .drop("chunk")
  }

  /** PII patterns for scrub-before-training redaction. Deliberately kept
    * to the Java-regex ∩ RE2 common subset (classes, bounded quantifiers,
    * \b, \d) so the DuckDB oracle replays the exact same automaton —
    * parity verified on both engines for extents and greediness (q64).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"

  /** Redact emails then IPv4s with fixed placeholder tokens — a narrow,
    * codegen'd column op (the scrubbing pass every training pipeline runs
    * before packing). Order is part of the contract: emails first, so an
    * address containing a dotted quad redacts as one <EMAIL>.
    */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")

  /** BPE-ish token count as a codegen'd column (letters runs, digit runs,
    * single punctuation) — SQL-parity with DuckDB regexp_extract_all.
    */
  def regexTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Distributed language-ID over a documents table — a fused codegen'd
    * kernel ([[TextExpr]]), not a UDF; null text quarantines to null.
    */
  def withLang(spark: SparkSession, docs: DataFrame,
      textCol: String = "text"): DataFrame =
    docs.withColumn("predicted_lang", TextExpr.langIdCol(spark, col(textCol)))

  /** Repetition metrics per document (Gopher quality rules, Rae et al.
    * 2021, arXiv:2112.11446 §A1.1): the fraction of tokens that repeat an
    * earlier token and the fraction of characters covered by the single
    * most frequent word BIGRAM — boilerplate and generation loops light
    * both up long before perplexity filters notice. Every value is exact
    * integer math plus ONE double division, so the whole operator is
    * driver-oracled bit-exactly (q58); the top-bigram tie-break is
    * (count desc, then lexicographic pair), matching the oracle's window
    * ORDER BY.
    *
    * @return (token_count, dup_word_frac, top_bigram_frac)
    */
  def repetitionKernel(text: String): (Int, Double, Double) = {
    val toks = tokenize(text)
    if (toks.isEmpty) return (0, 0.0, 0.0)
    val totalChars = toks.iterator.map(_.length).sum
    val distinct = toks.toSet.size
    val dupFrac = 1.0 - distinct.toDouble / toks.length
    var topFrac = 0.0
    if (toks.length >= 2) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Int]
      var i = 0
      while (i + 1 < toks.length) {
        val k = (toks(i), toks(i + 1))
        counts(k) = counts.getOrElse(k, 0) + 1
        i += 1
      }
      val ((w1, w2), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
      topFrac = (c.toLong * (w1.length + w2.length)).toDouble / totalChars
    }
    (toks.length, dupFrac, topFrac)
  }

  /** Sequence packing (the concat-then-chunk prep every GPT-style
    * pretraining run does), sharded so it runs at corpus scale: documents
    * bucket by `splitmix64(id) mod nShards`, each shard concatenates in id
    * order and splits into fixed `budget`-token chunks, and chunk ids are
    * made globally contiguous by offsetting each shard by the total chunk
    * count of the shards before it.
    *
    * Scale shape: ONE exchange (hash by shard) followed by a per-shard —
    * i.e. per-partition — sort for the cumulative-sum window; there is no
    * global sort anywhere in the plan (a global `Window.orderBy` is a
    * single-partition sort — the one plan that cannot run at 100 TB).
    * The per-shard chunk totals are an nShards-row aggregate collected on
    * the driver (metadata-sized by construction — nShards is a config
    * constant, not data-dependent) and re-enter the plan as a literal map
    * lookup, so the offset application stays narrow. Size `nShards` so one
    * shard's documents fit an executor's sort spill comfortably; packing
    * with `nShards = 1` degenerates to the exact global form (single
    * shard, single sort partition) and is only for small inputs — callers
    * with unknown input size should gate on a row count first.
    *
    * Chunk-id semantics vs the global form: chunk CONTENTS differ (docs
    * are packed with their shard peers, not global neighbors) but every
    * invariant a data loader needs holds globally: chunk ids are dense
    * 0..N-1, offsets are in [0, budget), and a shard's docs appear in id
    * order at monotonically non-decreasing (chunk_id, offset) positions.
    *
    * @param docs  (idCol: bigint, tokensCol: int) — one row per document
    * @return (idCol, tokensCol, shard, chunk_id, offset_in_chunk,
    *         spans_boundary)
    */
  def packShards(spark: SparkSession, docs: DataFrame, budget: Int, nShards: Int,
      idCol: String = "doc_id", tokensCol: String = "n_tokens"): DataFrame = {
    require(budget > 0, s"budget=$budget must be positive")
    require(nShards > 0, s"nShards=$nShards must be positive")
    val sharded = docs.withColumn("shard",
      (GraftFunctions.splitmixCol(spark, col(idCol).cast("long"))
        .bitwiseAND(lit(Long.MaxValue)) % nShards).cast("int"))
    // per-shard chunk totals -> global chunk-id offsets. The aggregate is
    // map-side-combined down to <= nShards rows; the cumulative sum over
    // those rows happens on the driver (NOT as a global window — that
    // would reintroduce a single-partition sort into the plan). This pass
    // plus the window below evaluate `docs` twice — two NARROW scans of
    // the token projection, the honest cost at a scale where caching the
    // corpus is not an option (callers with a cheap-to-cache input can
    // persist before calling).
    val totalRows = sharded.groupBy(col("shard"))
      .agg(sum(col(tokensCol).cast("long")).as("tok"),
        min(col(tokensCol)).as("min_tok"))
      .collect()
    // zero-token docs are rejected, not mis-packed: one sitting exactly on
    // a shard's final chunk boundary would take a chunk id owned by the
    // NEXT shard (cum_before div budget == n_chunks). The check rides the
    // totals job — no extra pass.
    totalRows.foreach { r =>
      require(r.getInt(2) >= 1,
        s"packShards requires tokensCol >= 1 for every doc (shard ${r.getInt(0)} " +
          s"has a ${r.getInt(2)}-token doc) — filter or floor empty docs first")
    }
    val totals = totalRows.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets: Map[Int, Long] = totals.map { case (sh, tok) =>
      val off = sh -> acc
      acc += (tok + budget - 1) / budget
      off
    }.toMap
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    sharded
      .withColumn("cum_before",
        coalesce(sum(col(tokensCol).cast("long")).over(w), lit(0L)))
      .select(col(idCol), col(tokensCol), col("shard"),
        (element_at(typedLit(offsets), col("shard")) +
          expr(s"cum_before div $budget")).as("chunk_id"),
        (col("cum_before") % budget).as("offset_in_chunk"),
        (expr(s"(cum_before + $tokensCol - 1) div $budget") >
          expr(s"cum_before div $budget")).as("spans_boundary"))
  }

  /** Duplicate-passage detection (Lee et al. 2021, arXiv:2107.06499 §3 —
    * the EXACTSUBSTR pass): any `n`-word gram occurring more than once
    * corpus-wide marks its `n`-word span as duplicated; overlapping and
    * adjacent spans merge into maximal islands per document. This is the
    * span-level complement of document-level dedup — it finds the
    * boilerplate paragraph shared by thousands of otherwise-unique pages,
    * which MinHash (whole-document similarity) is blind to.
    *
    * Scale shape: gram emission is a narrow flatMap; the duplicated-gram
    * set is ONE map-side-combined groupBy on the gram fingerprint
    * (content-uniform md5 keys — no skew); the join back onto positions is
    * a shuffle hash join whose build rows are unique per key (a gram
    * shared by a million documents makes a million PROBE rows, the normal
    * case, never a skewed build); island merging is a per-document window
    * (partitioned, never global). No stage holds more than one document's
    * positions in a single task's sort run.
    *
    * Island arithmetic: spans are fixed-length [i, i+n), so the running
    * "previous max end" is `max(pos) over preceding + n` and a row starts
    * a new island iff its pos exceeds it — the gaps-and-islands form that
    * both Spark and the q68 oracle evaluate identically in exact integers.
    *
    * @return one row per document: (idCol, total_words, n_dup_spans,
    *         dup_words) — all BIGINT, zeros for untouched docs
    */
  def dupSpans(spark: SparkSession, docs: DataFrame, n: Int = 13,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(n >= 2, s"n=$n must be >= 2")
    // fused gram kernel ([[TextExpr.tokNgramsCol]]) + posexplode: the
    // window index IS the token position, so the typed flatMap (and its
    // per-document encoder round trip) is unnecessary
    val grams = docs.select(col(idCol).cast("long").as(idCol),
        posexplode(TextExpr.tokNgramsCol(spark, col(textCol), n)))
      .select(col(idCol), col("pos"), md5(col("col")).as("fp"))
    val dupFps = grams.groupBy(col("fp"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1).select("fp")
    val dupPos = grams.join(dupFps, Seq("fp")).select(col(idCol), col("pos"))
    val wOrd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val wPrev = wOrd.rowsBetween(Window.unboundedPreceding, -1)
    val spans = dupPos
      .withColumn("new_island",
        (col("pos") > coalesce(max(col("pos")).over(wPrev) + n, lit(-1))).cast("int"))
      .withColumn("island",
        sum(col("new_island")).over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + n).as("e"))
    val perDoc = spans.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s")).cast("long").as("dup_words"))
    docs.select(col(idCol).cast("long"),
        size(tokensCol(col(textCol))).cast("long").as("total_words"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol), col("total_words"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_words"), lit(0L)).as("dup_words"))
  }

  /** TF-IDF keyword extraction: top-`k` terms per document ranked by
    * tf·idf with the LINEAR idf 1/df — chosen over log(N/df) so the score
    * is exact integer arithmetic (`tf·10⁶ div df`, floor division) and the
    * ranking replays bit-identically in any SQL engine (q69's oracle);
    * log idf re-weights tf against df but both are monotone in the same
    * direction, and keyword EXTRACTION only consumes the per-document
    * order. Ties break on the term itself — a total order, so the top-k
    * cut is deterministic.
    *
    * Scale shape: one map-side-combined groupBy (doc×term), then df as a
    * COUNT WINDOW over the tf table partitioned by term (tf is one row
    * per (doc, term), so the partition count IS the document frequency —
    * this replaces a groupBy + self-join on term with a single exchange),
    * then the per-document ranking window. No global sort, no join.
    *
    * @return (idCol, term, tf, df, score_ppm, rk) for rk <= k
    */
  def tfidfTopK(spark: SparkSession, docs: DataFrame, k: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as(idCol),
        explode(tokensCol(col(textCol))).as("term"))
    toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("score_ppm", expr("(tf * 1000000L) div df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score_ppm").desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score_ppm"), col("rk"))
  }

  /** Corpus-wide top-`k` terms by exact count (the heavy-hitters query in
    * its exact form; [[MisraGries]] is the sketch that answers it in one
    * pass of bounded memory when the term universe doesn't fit). One
    * map-side-combined groupBy, then a TakeOrderedAndProject — the top-k
    * never materializes a global sort. Ties break on the term, so the
    * boundary of the k-cut is deterministic.
    */
  def topTerms(spark: SparkSession, docs: DataFrame, k: Int = 20,
      textCol: String = "text"): DataFrame =
    docs.select(explode(tokensCol(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(k)

  /** PMI collocation extraction: top-`k` adjacent word pairs by pointwise
    * mutual information over the corpus bigram stream. Marginals are the
    * bigram table's own left/right sums (ca = Σ_b cab, cb = Σ_a cab), so
    * the whole statistic derives from ONE bigram count table, and the
    * score is the exact integer `cab·N·1000 div (ca·cb)` — PMI's log is
    * monotone, and collocation extraction only consumes the ORDER, so the
    * rational argument replaces the float log bit-identically in any SQL
    * engine (q72's oracle). The product runs in decimal(38,0) (Spark) /
    * HUGEINT (oracle): 128-bit headroom, so no corpus size can silently
    * wrap it — the quotient itself is ≤ 1000·N and fits BIGINT.
    *
    * Scale shape: narrow bigram flatMap → one map-side-combined groupBy;
    * the marginals are two more small groupBys over the COUNT table (not
    * the corpus); joins build on unique keys; the corpus total enters as a
    * broadcast 1-row cross join; the top-k is TakeOrdered, never a global
    * sort. `minCount` prunes the hapax tail before the joins — the
    * classic PMI degenerate case (1/1/1 pairs score maximal) and also the
    * bulk of the pair table at web scale.
    */
  def collocations(spark: SparkSession, docs: DataFrame, minCount: Long = 5,
      k: Int = 50, textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val bi = docs.select(col(textCol)).as[String]
      .flatMap { t =>
        val w = tokenize(t)
        (0 until w.length - 1).iterator.map(i => (w(i), w(i + 1)))
      }
      .toDF("a", "b")
    val cab = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = cab.groupBy(col("a")).agg(sum(col("cab")).as("ca"))
    val cb = cab.groupBy(col("b")).agg(sum(col("cab")).as("cb"))
    val tot = cab.agg(sum(col("cab")).as("n_big"))
    cab.filter(col("cab") >= minCount)
      .join(ca, Seq("a")).join(cb, Seq("b"))
      .crossJoin(broadcast(tot))
      .withColumn("pmi_scaled", expr(
        "(cast(cab as decimal(38,0)) * n_big * 1000) div (cast(ca as decimal(38,0)) * cb)"))
      .orderBy(col("pmi_scaled").desc, col("a"), col("b")).limit(k)
      .select(col("a"), col("b"), col("cab"), col("ca"), col("cb"), col("pmi_scaled"))
  }

  /** Stratified EXACT-quota sampling: up to `quota` documents per stratum,
    * chosen by a deterministic pseudo-random order (splitmix64 of the id,
    * ties on the id) — the mixture-construction complement of q61's
    * hash-THRESHOLD sampling: thresholds hit an expected rate, quotas hit
    * an exact count per stratum. Per-stratum window, never a global sort;
    * a stratum's rows shuffle to one task, so at web scale strata are
    * languages/sources (thousands of rows each at most millions), not
    * something cardinality-unbounded.
    */
  def stratifiedSample(spark: SparkSession, docs: DataFrame, quota: Int,
      strataCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    val ord = GraftFunctions.splitmixCol(spark, col(idCol).cast("long"))
    docs.withColumn("rnk", row_number().over(
        Window.partitionBy(col(strataCol)).orderBy(ord, col(idCol))))
      .filter(col("rnk") <= quota)
  }

  /** Gopher-style repetition filter over a documents table: metrics plus a
    * keep flag at the given thresholds (defaults tuned to split the
    * synthetic corpus non-trivially; production thresholds are the
    * paper's). Narrow map — no shuffle.
    */
  def withRepetition(spark: SparkSession, docs: DataFrame, maxDupWordFrac: Double = 0.6,
      maxTopBigramFrac: Double = 0.08, textCol: String = "text"): DataFrame = {
    docs.withColumn("m", TextExpr.repetitionCol(spark, col(textCol)))
      .withColumn("n_tokens", col("m.n_tokens"))
      .withColumn("dup_word_frac", col("m.dup_word_frac"))
      .withColumn("top_bigram_frac", col("m.top_bigram_frac"))
      .withColumn("keep",
        col("dup_word_frac") <= maxDupWordFrac && col("top_bigram_frac") <= maxTopBigramFrac)
      .drop("m")
  }

  /** URL canonicalization for crawl dedup, as pure column expressions (no
    * UDF, no java.net.URI — the SAME regexes replay in the SQL oracle):
    * lowercase scheme + host, strip the scheme's default port, normalize an
    * empty path to `/`, drop the fragment, drop `utm_*` tracking params,
    * and sort the surviving query params so param order never splits a
    * duplicate. Narrow map over the corpus; dedup is then one groupBy (or
    * window) on the canonical string.
    */
  def canonicalUrlCol(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
    val host = hostCol(u, scheme)
    val path0 = regexp_extract(u, "^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = regexp_extract(u, "\\?([^#]*)", 1)
    val params = array_sort(filter(split(query, "&"),
      p => p =!= "" && !p.startsWith("utm_")))
    val qs = array_join(params, "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }

  /** Registered-domain heuristic: last two dot-labels of the canonical
    * host (the public-suffix list is the production upgrade; two labels is
    * the deterministic sandbox stand-in, stated as such). A single-label
    * host (intranet names, `localhost`) is its own registered domain —
    * written as an explicit branch so the SQL-oracle replay states the
    * same rule (bare `||` would NULL-propagate there while `concat_ws`
    * silently skips the missing label here).
    */
  def registeredDomainCol(u: Column): Column = {
    val scheme = lower(regexp_extract(u, "^([A-Za-z]+)://", 1))
    val host = hostCol(u, scheme)
    val labels = split(host, "\\.")
    when(size(labels) >= 2,
      concat_ws(".", element_at(labels, -2), element_at(labels, -1)))
      .otherwise(host)
  }

  private def hostCol(u: Column, scheme: Column): Column = {
    val hostport = lower(regexp_extract(u, "^[A-Za-z]+://([^/?#]+)", 1))
    when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
  }

  /** Positional inverted index: one row per (term, doc) with term
    * frequency and the sorted 0-based token positions — the retrieval
    * primitive phrase search, proximity scoring, and highlight snippets
    * all read from. Narrow posexplode + ONE (term, doc) groupBy; postings
    * rows are bounded by Σ distinct-terms-per-doc, never tokens².
    */
  def positionalPostings(spark: SparkSession, docs: DataFrame,
      textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
        posexplode(tokensCol(col(textCol))).as(Seq("pos", "term")))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos").cast("long"))).as("positions"))

  /** BM25 document scoring (Robertson & Walker, SIGIR'94 Okapi weighting)
    * for a query term set, in EXACT scaled-integer arithmetic so scores
    * hash-reproduce on any engine: with k1 = 6/5 and b = 3/4 the
    * tf-saturation ratio tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) clears its
    * denominators as 22·D·tf / (10·D·tf + 3·D + 9·dl·n) (D = Σdl, n =
    * docs), floor-scaled by 1e6; idf uses the Robertson half-counts as
    * the exact rational (2n−2df+1)/(2df+1), floor-scaled by 1e6 — the
    * ln() of textbook BM25 is monotone per term, and a float ln would
    * hash-diverge between engines, so the rational variant is the
    * deterministic stand-in, stated as such (same policy as
    * [[tfidfTopK]]'s floor-division scoring).
    *
    * Scale shape: tf is a term-filtered narrow explode + one groupBy; df
    * is a groupBy of that bounded tf table; D and n are ONE metadata-
    * sized scalar aggregate collected up front. Long arithmetic holds
    * while D·tf < 2^63 / 2.2e7 ≈ 4.2e11 (the 1e6·22·D·tf product) —
    * roughly 4e11 total corpus tokens at small tf; past that the scaled
    * products need DECIMAL — stated, not hidden.
    */
  def bm25(spark: SparkSession, docs: DataFrame, queryTerms: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(queryTerms.nonEmpty, "empty query")
    val tok = docs.select(col("doc_id"), tokensCol(col(textCol)).as("ws"))
    val dl = tok.select(col("doc_id"), size(col("ws")).cast("long").as("dl"))
    val totRow = dl.agg(sum("dl").cast("long").as("d"),
      count(lit(1)).as("n")).first()
    val bigD = totRow.getLong(0); val n = totRow.getLong(1)
    val tf = tok.select(col("doc_id"), explode(col("ws")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfOfTerm = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dl, Seq("doc_id")).join(broadcast(dfOfTerm), Seq("term"))
      .select(col("doc_id"),
        expr(s"((1000000L * (2L*${n}L - 2L*df + 1L)) div (2L*df + 1L))").as("idf_s"),
        expr(s"((1000000L * 22L * ${bigD}L * tf) div " +
          s"(10L*${bigD}L*tf + 3L*${bigD}L + 9L*dl*${n}L))").as("ratio_s"))
      .select(col("doc_id"), expr("(idf_s * ratio_s) div 1000000L").as("s"))
      .groupBy("doc_id").agg(sum("s").cast("long").as("score_scaled"))
  }

  /** Exact phrase search by position adjacency: an occurrence at anchor p
    * means phrase(i) sits at p+i for every i. Each word's postings filter
    * BEFORE any join (predicate pushdown to the scan), then equi-join on
    * (doc, anchor) — no LIKE scan over full texts, no tokens² blowup; the
    * rarest word bounds the join input. Returns (doc_id, n_matches,
    * first_pos) for matching docs.
    */
  def phraseSearch(spark: SparkSession, docs: DataFrame, phrase: Seq[String],
      textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty && phrase.forall(_.nonEmpty), s"bad phrase $phrase")
    val pos = docs.select(col("doc_id"),
      posexplode(tokensCol(col(textCol))).as(Seq("pos", "term")))
    val anchors = phrase.zipWithIndex.map { case (w, i) =>
      pos.filter(col("term") === w)
        .select(col("doc_id"), (col("pos") - i).cast("long").as("anchor"))
    }
    anchors.reduce((a, b) => a.join(b, Seq("doc_id", "anchor")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("anchor").as("first_pos"))
  }

  /** Frequent co-occurring term pairs (the 2-itemset level of Apriori,
    * Agrawal & Srikant 1994): a pair can only reach `minPair` support if
    * BOTH terms reach `minItem ≤ minPair` alone, so pass 1 counts single
    * terms and pass 2 generates pairs only over the frequent-term-filtered
    * posting lists — the pruning that keeps the within-doc self-join from
    * being vocabulary² on a 10^12-doc corpus. The frequent-term set is
    * broadcast (items above corpus-scale support are FEW by definition —
    * support is anti-monotone in set size). Presence counts: one row per
    * (doc, term) regardless of multiplicity.
    */
  def frequentPairs(spark: SparkSession, docs: DataFrame,
      minItem: Long, minPair: Long): DataFrame = {
    require(minItem <= minPair,
      s"apriori needs minItem <= minPair, got $minItem > $minPair")
    // tokenized ONCE and lineage-cut: the distinct (doc, term) stream
    // feeds both the support count and the pair pass — uncut it would
    // tokenize the corpus twice
    val tok = docs.select(col("doc_id"),
      explode(tokensCol(col("text"))).as("term")).distinct()
      .localCheckpoint(false)
    val freq = tok.groupBy(col("term")).agg(count(lit(1)).as("s"))
      .filter(col("s") >= minItem).select(col("term"))
    val ftok = tok.join(broadcast(freq), Seq("term"))
    // per-doc pair generation from ONE sorted frequent-term array
    // (posexplode + slice — builtin, codegen'd, no lambda) instead of
    // the doc-keyed self-join: the same pair stream, minus one corpus
    // exchange and the join build — the only remaining shuffles are the
    // doc collect and the final (a, b) support aggregation, both with
    // map-side partials
    ftok.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("term"))).as("ts"))
      .select(posexplode(col("ts")).as(Seq("i", "term_a")), col("ts"))
      .select(col("term_a"),
        explode(slice(col("ts"), col("i") + 2, greatest(size(col("ts")) - col("i") - 1, lit(0))))
          .as("term_b"))
      .groupBy(col("term_a"), col("term_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minPair)
  }

  /** Bigram language-model surprisal per document — the CCNet/Gopher-style
    * "perplexity under a corpus LM" quality filter (Wenzek 2020 §4.3;
    * Rae 2021 filters on it), in the engine's exact-integer discipline:
    * the add-one-smoothed transition probability is the rational
    * (c(a,b)+1)/(c(a)+V), and each bigram instance contributes its
    * surprisal floored to whole bits,
    * floor(log2((c(a)+V)/(c(a,b)+1))) = length(bin((c(a)+V) div (c(a,b)+1))) - 1
    * — exact because c(a)+V ≥ c(a,b)+1 always (c(a) is the bigram-left
    * marginal Σ_b c(a,b), the q72 convention, and V ≥ 1), so the quotient
    * is ≥ 1 and its binary length is its floor-log2 plus one. No float
    * log enters either engine and the DuckDB oracle replays the score
    * bit-identically. A doc's score is milli-bits per bigram
    * (sum_bits·1000 div n_bigrams ≈ 1000·log2 perplexity); `keep`
    * thresholds it — high-surprisal docs are the gibberish/boilerplate
    * the filter drops.
    *
    * Scale shape: the bigram stream is built narrow (one transform over
    * the token array, no per-doc shuffle); the model is ONE
    * map-side-combined groupBy over that stream (bigram-vocab-sized) and
    * its left marginal is a groupBy over the MODEL, not the corpus; the
    * marginal joins back model-to-model on `a` before the stream is
    * scored, so the corpus pays exactly one exchange — the (a,b) hash
    * join against the model, the standard shape of distributed LM
    * scoring. V enters as a broadcast scalar. Docs with < 2 tokens have
    * no bigrams and are not scored.
    */
  def lmSurprisal(spark: SparkSession, docs: DataFrame, keepMbits: Long = 9000,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val toks = docs.select(col(idCol).cast("long").as(idCol),
      tokensCol(col(textCol)).as("w"))
    val bi = toks.filter(size(col("w")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(0, size(w)-2), i -> struct(w[i] AS a, w[i+1] AS b))")).as("p"))
      .select(col(idCol), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val model = cab.join(cab.groupBy(col("a")).agg(sum(col("cab")).as("ca")), Seq("a"))
    val voc = toks.select(explode(col("w")).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    bi.join(model, Seq("a", "b")).crossJoin(broadcast(voc))
      .withColumn("bits", (length(bin(expr("(ca + v) div (cab + 1)"))) - 1).cast("long"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("sum_bits"))
      .withColumn("mbits", expr("sum_bits * 1000 div n_bigrams"))
      .withColumn("keep", col("mbits") < keepMbits)
  }

  /** Burrows–Wheeler transform fingerprint (Burrows & Wheeler 1994)
    * of each document's head: the text is lowercased, restricted to
    * [a-z ], truncated to `take` chars, and terminated with the unique
    * '~' sentinel; the BWT is the last column of the sorted rotation
    * matrix, emitted with the primary index (the rank of rotation 0 —
    * what the inverse transform needs). The compression-structure
    * fingerprint: run-length structure in the BWT is the
    * compressibility signal curation pipelines use, and the transform
    * is exactly invertible so the fingerprint is collision-honest.
    * ASCII-only alphabet by construction, so JVM string order and
    * byte-wise SQL collation agree. Narrow mapPartitions, O(take²) per
    * doc — bounded, never corpus-sized.
    */
  private def cleanedHead(t0: String, take: Int): String =
    Option(t0).getOrElse("").toLowerCase
      .filter(c => (c >= 'a' && c <= 'z') || c == ' ').take(take) + "~"

  private def bwtOf(cleaned: String): (String, Long) = {
    val n = cleaned.length
    val order = Array.tabulate(n)(i =>
      (cleaned.substring(i) + cleaned.substring(0, i), i)).sortBy(_._1)
    (order.map { case (r, _) => r.charAt(n - 1) }.mkString,
      order.indexWhere(_._2 == 0).toLong)
  }

  def bwt(spark: SparkSession, docs: DataFrame, take: Int = 48): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, t0) =>
          val (out, idx) = bwtOf(cleanedHead(t0, take))
          (id, out, idx)
        }
      }
      .toDF("doc_id", "bwt", "idx")
  }

  /** The bzip2-shaped compressibility score: BWT ([[bwt]]) → move-to-
    * front → run-length statistics, all exact integers. MTF starts from
    * the fixed alphabet "abcdefghijklmnopqrstuvwxyz ~"; emits per doc
    * (doc_id, n, zeros, runs): `zeros` = MTF codes equal to 0 (the
    * fraction bzip2's Huffman stage feeds on) and `runs` = RLE run
    * count over the code sequence — high zeros / low runs = repetitive,
    * low-quality text. Narrow mapPartitions; the per-doc state machine
    * is take-bounded.
    */
  def mtfRle(spark: SparkSession, docs: DataFrame, take: Int = 48): DataFrame = {
    import spark.implicits._
    docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, t0) =>
          val (bw, _) = bwtOf(cleanedHead(t0, take))
          val st = new StringBuilder("abcdefghijklmnopqrstuvwxyz ~")
          var zeros = 0L
          var runs = 0L
          var prev = -1
          var i = 0
          while (i < bw.length) {
            val c = bw.charAt(i)
            val p = st.indexOf(c.toString)
            if (p == 0) zeros += 1
            if (p != prev) runs += 1
            prev = p
            st.deleteCharAt(p).insert(0, c)
            i += 1
          }
          (id, bw.length.toLong, zeros, runs)
        }
      }
      .toDF("doc_id", "n", "zeros", "runs")
  }

  /** ONE exact BPE merge step (Sennrich, Haddow, Birch 2016) — the
    * tokenizer-TRAINING primitive: over the [a-z]+ word vocabulary
    * (weighted by corpus frequency), count all adjacent symbol pairs,
    * select the argmax pair (ties to the lexicographically smallest
    * (left, right)), apply it GREEDILY LEFT-TO-RIGHT inside every word,
    * and recount. Greedy semantics matter exactly when left == right:
    * in a run like "aaaa" the matches at positions 0,1,2 overlap and
    * greedy takes 0 and 2 — reproduced here by run-parity (a match
    * survives iff its offset from its match-run start is even; runs of
    * consecutive match positions only arise when left == right).
    *
    * Returns (phase ∈ {before, after}, lhs, rhs, cnt): the full pair
    * table before the merge and after it — the "after" rows pin the
    * greedy application byte-for-byte (e.g. "aaa" counts (a,a) twice
    * before and ("aa","a") once after).
    *
    * Scale shape: everything past the word-frequency aggregation is
    * VOCABULARY-sized, not corpus-sized (the classic BPE trick); per
    * word the position explode is word-length-bounded; the two
    * argmax aggregates are single-row broadcasts.
    */
  def bpeStep(spark: SparkSession, docs: DataFrame,
      textCol: String = "text"): DataFrame = {
    val words = docs
      .select(explode(split(lower(col(textCol)), "\\s+")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val syms = words
      .withColumn("i", explode(sequence(lit(0L), length(col("w")) - 1)))
      .select(col("w"), col("freq"), col("i"),
        col("w").substr((col("i") + 1).cast("int"), lit(1)).as("s"))
    def pairsOf(seq: DataFrame): DataFrame = {
      val nx = seq.select(col("w").as("nw"), col("i").as("ni"),
        col("s").as("ns"))
      seq.join(nx, col("nw") === col("w") && col("ni") === col("i") + 1)
        .groupBy(col("s").as("lhs"), col("ns").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
    }
    // read by the max, the merge pick and the output: cut once
    val before = pairsOf(syms).localCheckpoint(false)
    val mMax = before.agg(max(col("cnt")).as("mc"))
    val merge = before.crossJoin(broadcast(mMax))
      .filter(col("cnt") === col("mc"))
      .agg(min(struct(col("lhs"), col("rhs"))).as("m"))
      .select(col("m.lhs").as("ml"), col("m.rhs").as("mr"))
    // match positions of the selected pair, greedy-filtered by run parity
    val withNext = syms
      .join(syms.select(col("w").as("nw"), col("i").as("ni"), col("s").as("ns")),
        col("nw") === col("w") && col("ni") === col("i") + 1, "left")
      .crossJoin(broadcast(merge))
      .withColumn("hit", (col("ns").isNotNull &&
        col("s") === col("ml") && col("ns") === col("mr")).cast("int"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w")).orderBy(col("i"))
    val runs = withNext
      .withColumn("phit", lag(col("hit"), 1, 0).over(wOrd))
      .withColumn("brk", when(col("hit") === 1 && col("phit") === 0, 1L)
        .otherwise(0L))
      .withColumn("run", sum(col("brk")).over(wOrd))
      .withColumn("runStart",
        when(col("hit") === 1, min(when(col("hit") === 1, col("i")))
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy(col("w"), col("run")))))
      .withColumn("take", (col("hit") === 1 &&
        (col("i") - col("runStart")) % 2 === 0).cast("int"))
    // a position is absorbed iff the PREVIOUS position was taken
    val rebuilt = runs
      .withColumn("ptake", lag(col("take"), 1, 0).over(wOrd))
      .filter(col("ptake") === 0)
      .select(col("w"), col("freq"), col("i"),
        when(col("take") === 1, concat(col("s"), col("ns")))
          .otherwise(col("s")).as("s"))
    val after = pairsOf(
      rebuilt.withColumn("i",
        (row_number().over(wOrd) - 1).cast("long")))
    before.select(lit("before").as("phase"), col("lhs"), col("rhs"), col("cnt"))
      .unionByName(after.select(lit("after").as("phase"), col("lhs"),
        col("rhs"), col("cnt")))
  }
}
