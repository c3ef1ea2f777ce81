package graft.dedup

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Fixpoint
import graft.img.ImageTable.splitmix64

/** Document deduplication for training-data pipelines (driver prompt):
  * exact (hash groupBy — SparkEntry q20), MinHash+LSH, SimHash, with exact
  * n-gram-Jaccard verification of candidates.
  *
  * Scale design: everything is (narrow signature map) → (explode B band
  * keys) → (groupBy band bucket) → (pairs within bucket) → (verify join).
  * The only shuffles are the bucket groupBy and the verify join, both keyed
  * on content hashes (uniform). Degenerate buckets (mass-duplicated
  * boilerplate) are capped at `maxBucket` candidates — at 100 TB an
  * uncapped quadratic bucket is the failure mode that matters. Over-cap
  * buckets are NOT dropped: they emit star pairs against the bucket's
  * min-id hub (O(n) pairs, keeps mass-dup clusters connected for the
  * verify stage), and every pipeline `observe`s bucket counts
  * (`graft_*_buckets`: buckets / oversized_buckets / oversized_members) so
  * the degradation is visible in query metrics rather than silent.
  */
object Dedup {

  // ——— pure kernels ———

  /** Word n-gram shingle hash set (lowercased, whitespace-split). */
  def shingles(text: String, n: Int = 3): Array[Long] = {
    val toks = graft.text.TextOps.tokenize(text)
    if (toks.length < n) {
      if (toks.isEmpty) Array.empty
      else Array(splitmix64(toks.mkString(" ").hashCode.toLong))
    } else {
      val out = new Array[Long](toks.length - n + 1)
      var i = 0
      while (i + n <= toks.length) {
        var h = 1125899906842597L
        var j = i
        while (j < i + n) {
          var k = 0
          val t = toks(j)
          while (k < t.length) { h = h * 31 + t.charAt(k); k += 1 }
          h = h * 31 + ' '
          j += 1
        }
        out(i) = splitmix64(h)
        i += 1
      }
      out.distinct
    }
  }

  /** Per-permutation multipliers/offsets (odd multipliers ⇒ bijections mod
    * 2^64), derived once from splitmix64 — the inner loop then costs one
    * multiply-add per permutation instead of a full splitmix (measured ~3×
    * on the signature kernel, the CPU bottleneck of the minhash pass).
    * `private[graft]` so the DuckDB oracle builder can inline the same
    * constants.
    */
  private[graft] val PermA: Array[Long] = Array.tabulate(256)(p => splitmix64(p * 2654435761L + 1) | 1L)
  private[graft] val PermB: Array[Long] = Array.tabulate(256)(p => splitmix64(p * 40503L + 7))

  /** LSH band key: one splitmix of (band + Σ sig[b·rows+j]·PermA(j)) mod
    * 2^64. Chosen over Spark's `hash()` (Murmur3) deliberately: the
    * mixing quality is equivalent for bucketing, and the arithmetic is
    * replicable in ANSI-ish SQL so the WHOLE LSH pipeline can be
    * driver-oracled (q23) rather than rows-only.
    */
  private[graft] def bandKey(sig: Array[Long], band: Int, rows: Int): Long = {
    var acc = band.toLong
    var j = 0
    while (j < rows) { acc += sig(band * rows + j) * PermA(j); j += 1 }
    splitmix64(acc)
  }

  /** k-permutation MinHash signature (one pass/shingle). Shingles are
    * already splitmix-mixed (uniform), so the cheap linear permutation
    * h_p(x) = a_p·x + b_p (mod 2^64, a_p odd) preserves min-hash
    * uniformity; unsigned comparison via Long.compareUnsigned.
    */
  def minhashSig(sh: Array[Long], k: Int = 64): Array[Long] = {
    require(k <= 256, s"k=$k exceeds precomputed permutation table")
    val sig = Array.fill(k)(-1L) // unsigned max
    var i = 0
    while (i < sh.length) {
      val x = sh(i)
      var p = 0
      while (p < k) {
        val v = PermA(p) * x + PermB(p)
        if (java.lang.Long.compareUnsigned(v, sig(p)) < 0) sig(p) = v
        p += 1
      }
      i += 1
    }
    sig
  }

  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    val sa = a.toSet; val sb = b.toSet
    val inter = sa.intersect(sb).size
    inter.toDouble / (sa.size + sb.size - inter)
  }

  /** 64-bit SimHash over word hashes (unit weights). */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    graft.text.TextOps.tokenize(text).foreach { t =>
      var h = 1125899906842597L
      var k = 0
      while (k < t.length) { h = h * 31 + t.charAt(k); k += 1 }
      val mixed = splitmix64(h)
      var b = 0
      while (b < 64) { if (((mixed >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  // ——— distributed pipelines ———

  /** MinHash LSH near-dup pairs with exact Jaccard verification.
    *
    * @param docs columns (idCol: bigint, textCol: string)
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold
    */
  /** Signature + banding in one fused codegen'd kernel
    * ([[DedupExpr.minhashBandsCol]]) — shared by the self-join
    * ([[minhashPairs]]) and the asymmetric probe ([[minhashProbe]]), so
    * the two can never hash differently. The typed-flatMap form this
    * replaces paid a per-document encoder round trip on the corpus side.
    * Null text → null band array → `explode` drops the document — a
    * deliberate change from the typed form, which treated null as EMPTY
    * text and so paired null docs with empty docs at Jaccard 1.0 (see
    * [[DedupExpr]]).
    */
  private def bandedRows(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
        explode(DedupExpr.minhashBandsCol(spark, col(textCol), k, bands)).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bkey").as("bkey"))

  /** Asymmetric delta dedup: probe NEW docs against a STANDING corpus —
    * the incremental form of [[minhashPairs]] a daily-refresh pipeline
    * needs: the corpus side is banded once (in production the stored
    * index — the bucketed-layout story of `writeIvfBucketed` applies
    * verbatim), the delta bands itself and equi-joins on (band, bucket),
    * so candidates are only (new × existing) — corpus×corpus pairs are
    * never generated and the work scales with the DELTA, not the table.
    * Cap policy mirrors minhashPairs: a corpus bucket over `maxBucket`
    * contributes only its min-id member (the cluster representative a
    * new doc should link to), counted via observe() like the self-join.
    * Returns (new_id, existing_id, jaccard ≥ threshold), exact-verified.
    */
  def minhashProbe(spark: SparkSession, corpus: DataFrame, delta: DataFrame,
      threshold: Double = 0.7, k: Int = 64, bands: Int = 16,
      idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 64): DataFrame = {
    val cBuckets = bandedRows(spark, corpus, idCol, textCol, k, bands)
      .groupBy(col("band"), col("bkey"))
      .agg(array_sort(collect_list(col("id"))).as("cids"))
      .observe("graft_minhash_probe_buckets",
        count(lit(1)).as("buckets"),
        sum(when(size(col("cids")) > maxBucket, 1L).otherwise(0L)).as("oversized_buckets"))
      .select(col("band"), col("bkey"),
        when(size(col("cids")) <= maxBucket, col("cids"))
          .otherwise(slice(col("cids"), 1, 1)).as("cids"))
    val cand = bandedRows(spark, delta, idCol, textCol, k, bands)
      .withColumnRenamed("id", "new_id")
      .join(cBuckets, Seq("band", "bkey"))
      .select(col("new_id"), explode(col("cids")).as("existing_id"))
    val cTexts = corpus.select(col(idCol).cast("long").as("existing_id"),
      col(textCol).as("tc"))
    val dTexts = delta.select(col(idCol).cast("long").as("new_id"),
      col(textCol).as("td"))
    cand.join(dTexts, Seq("new_id")).join(cTexts, Seq("existing_id"))
      .select(col("new_id"), col("existing_id"),
        DedupExpr.jaccardShinglesCol(spark, col("td"), col("tc")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("new_id"), col("existing_id"))
      .agg(max(col("jaccard")).as("jaccard"))
  }

  def minhashPairs(spark: SparkSession, docs: DataFrame, threshold: Double = 0.7,
      k: Int = 64, bands: Int = 16, idCol: String = "doc_id", textCol: String = "text",
      maxBucket: Int = 64): DataFrame = {
    import spark.implicits._
    val banded = bandedRows(spark, docs, idCol, textCol, k, bands)

    val buckets = banded.groupBy("band", "bkey")
      .agg(array_sort(collect_list(col("id"))).as("ids"))
      .filter(size(col("ids")) >= 2)
      .observe("graft_minhash_buckets",
        count(lit(1)).as("buckets"),
        sum(when(size(col("ids")) > maxBucket, 1L).otherwise(0L)).as("oversized_buckets"),
        sum(when(size(col("ids")) > maxBucket, size(col("ids")).cast("long"))
          .otherwise(0L)).as("oversized_members"))

    // ≤ maxBucket: all pairs (quadratic but bounded). Over the cap: star
    // pairs against the min-id hub — linear, and a true duplicate cluster
    // stays connected through its hub instead of vanishing. A typed flatMap
    // beats the equivalent SQL CASE-over-nested-transform here: the bucket
    // loop is a plain JVM loop instead of a large generated expression
    // whose codegen compile alone cost a visible slice of every fresh run.
    val cap = maxBucket
    val pairs = buckets.select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        // ids are array_sort'ed ascending ⇒ (ids(i), ids(j)) i<j is already
        // (id_a < id_b) and ids.head is the min-id hub
        if (ids.length <= cap) {
          val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](
            ids.length * (ids.length - 1) / 2)
          var i = 0
          while (i < ids.length) {
            var j = i + 1
            while (j < ids.length) { out += ((ids(i), ids(j))); j += 1 }
            i += 1
          }
          out
        } else ids.view.drop(1).map(b => (ids.head, b))
      }.toDF("id_a", "id_b")

    // verify: exact n-gram Jaccard on the candidate pairs only. A pair that
    // collided in several bands is verified redundantly (bounded ×bands,
    // all map-side flops) and deduped by ONE groupBy exchange at the end —
    // a standalone distinct() before the verify would cost a second
    // exchange for the same result (the q23 r2 regression).
    // the exact-verify kernel is a fused codegen'd expression
    // ([[DedupExpr.jaccardShinglesCol]]): it keeps the join output inside
    // one codegen span like the UDF form it replaces, minus the per-pair
    // ScalaUDF encoder round trip (a typed map would be worse still — the
    // Deserialize→map→Serialize sandwich compiled two extra codegen
    // stages per fresh session, ~0.5 s of q23's single-shot cost)
    val texts = docs.select(col(idCol).cast("long").as("tid"), col(textCol).as("t"))
    pairs
      .join(texts.withColumnRenamed("tid", "id_a").withColumnRenamed("t", "ta"), Seq("id_a"))
      .join(texts.withColumnRenamed("tid", "id_b").withColumnRenamed("t", "tb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        DedupExpr.jaccardShinglesCol(spark, col("ta"), col("tb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("jaccard")).as("jaccard")) // deterministic per pair — max = the value
  }

  /** Connected components over a near-duplicate pair graph — the step that
    * turns verified pairs into DUPLICATE CLUSTERS (one keeper per
    * component).
    *
    * Two execution paths, picked by the edge list's size alone:
    *
    *  1. Driver union-find: the verified-pair graph is METADATA-sized
    *     relative to any corpus (it exists only where near-dups were
    *     confirmed), so when an early-terminating `limit(cap + 1)` scan
    *     proves the edge list fits, union-find on the driver replaces
    *     O(log n) rounds of Spark jobs — the same medicine that took the
    *     cell-kNN query from 7.6 s to 0.6 s. `cap` is the rule
    *     [[graft.graph.Bfs.hops]] uses for its in-memory path: edge rows ·
    *     64 ≤ `spark.sql.autoBroadcastJoinThreshold` (163,840 rows at the
    *     default 10 MB; a threshold of -1 never collects). One session
    *     setting decides both driver cutovers.
    *  2. Otherwise large-star/small-star contraction (Kiveris et al.,
    *     "Connected Components in MapReduce and Beyond", SoCC'14): a
    *     round count logarithmic in the node count whatever the graph's
    *     diameter, chains included, capped at [[starContraction]]'s
    *     default 50 rounds (it throws past them).
    *
    * @param edges columns (src: bigint, dst: bigint), undirected pairs
    * @return (id, component) where component = min node id reachable
    */
  def connectedComponents(spark: SparkSession, edges: DataFrame): DataFrame = {
    val cap = graft.graph.Bfs.broadcastRows(spark)
    if (cap >= 0) {
      // limit() terminates the scan early: a planet-scale edge set costs one
      // truncated pass here, never a full count
      val sample = edges.select(col("src").cast("long"), col("dst").cast("long"))
        .limit(math.min(cap + 1, Int.MaxValue).toInt).collect()
      if (sample.length <= cap)
        return driverUnionFind(spark, sample.map(r => (r.getLong(0), r.getLong(1))))
    }
    starContraction(spark, edges)._1
  }

  /** Union-find with smaller-root-wins linking: the final root of every
    * component is its minimum node id (the min never loses a union), so
    * labels match the distributed path exactly.
    */
  private def driverUnionFind(spark: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, java.lang.Long]()
    def find(x0: Long): Long = {
      var x = x0
      while ({ val p = parent.get(x); p != null && p.longValue() != x }) {
        val p = parent.get(x).longValue()
        val gp = parent.get(p)
        if (gp != null) parent.put(x, gp) // path halving
        x = p
      }
      if (parent.get(x) == null) parent.put(x, x)
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = edges.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
    nodes.toSeq.map(id => (id, find(id))).toDF("id", "component")
  }

  /** Large-star/small-star alternation (Kiveris et al., SoCC'14): converges
    * in O(log² n) rounds worst-case (empirically ~log n) regardless of graph
    * diameter — the path a 10⁶-link chain needs, where propagation would pay
    * 10⁶ rounds.
    *
    * Invariant: edges are kept directed (hi → lo, hi > lo).
    *  - large-star: each node attaches its strictly-LARGER neighbors to the
    *    minimum of its closed neighborhood;
    *  - small-star: each node attaches its smaller-or-equal neighbors (and
    *    itself) to that set's minimum.
    * Both steps preserve component connectivity; the fixpoint is a forest of
    * stars rooted at each component's minimum id. Rounds run through
    * [[graft.graph.Fixpoint]], which stops on edge-set equality. A graph
    * still moving after `maxIter` changing rounds throws
    * `IllegalStateException`: labels short of the fixpoint can split one
    * true component.
    *
    * @return (labels (id, component), rounds run — the last one changed
    *         nothing)
    */
  def starContraction(spark: SparkSession, edges: DataFrame,
      maxIter: Int = 50): (DataFrame, Int) = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // ONE upstream execution: the canonicalized edge set (self-loops kept
    // so their nodes stay known) is checkpointed first, and both the node
    // list and the working edge set derive from that checkpoint — deriving
    // `ids` from the raw frame would re-run the (possibly expensive)
    // upstream edge computation a second time at the final labels join.
    val canon = edges.select(
        greatest(col("src"), col("dst")).cast("long").as("hi"),
        least(col("src"), col("dst")).cast("long").as("lo"))
      .distinct().localCheckpoint(true)
    val ids = canon.select(col("hi").as("id"))
      .union(canon.select(col("lo").as("id")))
      .distinct()
    // One round per Fixpoint block: a round's plan references the
    // previous edge set ~8 times (both → e ×2, mins → both, ls → both+mins,
    // next → ls ×3, fresh → e), so an uncut plan tree grows ~8^k and even
    // its debug-string rendering OOMs by round 5. With per-round cuts the
    // plan is constant-size and the checkpointed state is one row per
    // edge. The edge set can both grow and shrink in one round, so the
    // runner stops on "no new edge and the same edge count" — set
    // equality. (On a cluster with unreliable executors, swap for
    // reliable checkpoint() + a checkpoint dir.)
    var rounds = 0
    var ls: DataFrame = null
    val init = canon.filter(col("hi") =!= col("lo")).withColumn("fresh", lit(1))
    val e = try Fixpoint.run(init, maxIter, 1, "Dedup.starContraction",
        shrinks = true) { (cur, round) =>
      rounds = round
      if (ls != null) ls.unpersist(blocking = false)
      val both = cur.select(col("hi").as("u"), col("lo").as("v"))
        .union(cur.select(col("lo").as("u"), col("hi").as("v")))
      // m = min(Γ(u) ∪ {u}); attach every neighbor v > u to m
      val mins = both.groupBy("u").agg(min(col("v")).as("mv"))
        .select(col("u"), least(col("u"), col("mv")).as("m"))
      ls = both.join(mins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .filter(col("hi") =!= col("lo"))
        .distinct()
        .persist(lvl) // read three times below (mins2 + join + union)
      // small-star over the directed (hi → smaller lo) edges
      val mins2 = ls.groupBy("hi").agg(min(col("lo")).as("m"))
      ls.join(mins2, Seq("hi"))
        .filter(col("lo") =!= col("m"))
        .select(col("lo").as("hi"), col("m").as("lo"))
        .union(mins2.select(col("hi"), col("m").as("lo")))
        .distinct()
        .join(cur.select(col("hi"), col("lo"), lit(0).as("fresh")), Seq("hi", "lo"), "left")
        .select(col("hi"), col("lo"), coalesce(col("fresh"), lit(1)).as("fresh"))
    } finally if (ls != null) ls.unpersist(blocking = false)
    // fixpoint edges are (member → component-min) stars; roots self-label.
    // Materialized (node-sized) so the returned frame doesn't re-run the
    // final join against checkpoint state the cleaner may already release.
    val labels = ids
      .join(e.select(col("hi").as("id"), col("lo").as("component")), Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
      .localCheckpoint(true)
    (labels, rounds)
  }

  /** SimHash near-dup pairs: 4×16-bit band LSH + Hamming-distance verify. */
  def simhashPairs(spark: SparkSession, docs: DataFrame, maxHamming: Int = 3,
      idCol: String = "doc_id", textCol: String = "text", maxBucket: Int = 64): DataFrame = {
    // fused codegen'd kernel (was a typed map — per-document encoder round
    // trip); null text → null fp → quarantined before banding (the typed
    // map hashed null like empty text: fp 0L)
    val fps = docs.select(col(idCol).cast("long").as("id"),
        DedupExpr.simhash64Col(spark, col(textCol)).as("fp"))
      .filter(col("fp").isNotNull)
    hammingPairs(spark, fps, maxHamming, maxBucket, "graft_simhash_buckets")
  }

  /** Near-dup pairs over ANY 64-bit Hamming-space fingerprint relation
    * `fps(id: bigint, fp: bigint)` — the banding/verify engine shared by
    * SimHash text dedup (q24) and pHash image dedup: `bands` equal-width
    * bit bands bucket the candidates (pigeonhole: a pair within
    * Hamming ≤ bands-1 shares at least one untouched band, so recall is
    * TOTAL up to that radius — 4×16-bit covers ≤ 3, 8×8-bit covers ≤ 7;
    * beyond it recall degrades gracefully), capped buckets degrade to star
    * pairs against the min-id hub, exact bit_count verifies, and
    * cross-band dedup folds into ONE aggregation exchange (hamming is
    * deterministic per pair) instead of a separate distinct().
    */
  def hammingPairs(spark: SparkSession, fps: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = 64, observeName: String = "graft_hamming_buckets",
      bands: Int = 4): DataFrame = {
    require(bands > 0 && 64 % bands == 0, s"bands=$bands must divide 64")
    val bandBits = 64 / bands
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    // static struct array (bands is a plan constant, typically 4): the
    // transform()-lambda form dispatched an interpreted closure per band
    // per row on the corpus-sized side
    val banded = fps.select(col("id"), col("fp"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("fp"), b * bandBits).bitwiseAND(lit(mask)).as("bkey"))
      }: _*)).as("bb"))
      .select(col("id"), col("fp"), col("bb.band"), col("bb.bkey"))
    val buckets = banded.groupBy("band", "bkey")
      .agg(array_sort(collect_list(struct(col("id"), col("fp")))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .observe(observeName,
        count(lit(1)).as("buckets"),
        sum(when(size(col("xs")) > maxBucket, 1L).otherwise(0L)).as("oversized_buckets"),
        sum(when(size(col("xs")) > maxBucket, size(col("xs")).cast("long"))
          .otherwise(0L)).as("oversized_members"))
    // same cap policy as minhashPairs: bounded all-pairs, star hub above cap
    buckets.select(explode(expr(
      s"""CASE WHEN size(xs) <= $maxBucket THEN
         |  flatten(transform(xs, (a, i) ->
         |    transform(slice(xs, i + 2, size(xs)), b -> struct(
         |      least(a.id, b.id) as id_a, greatest(a.id, b.id) as id_b,
         |      a.fp as fp_a, b.fp as fp_b))))
         |ELSE
         |  transform(slice(xs, 2, size(xs)), b -> struct(
         |    xs[0].id as id_a, b.id as id_b, xs[0].fp as fp_a, b.fp as fp_b))
         |END""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        bit_count(col("p.fp_a").bitwiseXOR(col("p.fp_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .groupBy(col("id_a"), col("id_b"))
      .agg(min(col("hamming")).as("hamming"))
  }
}
