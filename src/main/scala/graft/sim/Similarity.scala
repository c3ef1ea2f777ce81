package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.img.ImageTable.splitmix64

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>), driver prompt: brute-force cosine top-k as the baseline;
  * random-hyperplane LSH bucketing as the scale path.
  *
  * The dot product is `aggregate(zip_with(...))` — built-in, codegen'd
  * columns, no UDF (guide: functions, not UDFs).
  */
object Similarity {

  /** dot(a, b) in double precision, array-order summation (built-in HOF
    * form — kept as the readable reference implementation; the pipelines
    * below use the codegen'd native kernel, which is bit-identical).
    */
  def dotCol(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def normCol(a: Column): Column = sqrt(dotCol(a, a))

  def cosineCol(a: Column, b: Column): Column = dotCol(a, b) / (normCol(a) * normCol(b))

  /** Native codegen'd cosine (graft.functions.CosineF32): one fused loop
    * over the raw ArrayData instead of three interpreted lambda passes.
    */
  def cosineFast(spark: SparkSession, a: Column, b: Column): Column =
    graft.functions.GraftFunctions.cosineF32(spark, a, b)

  /** Brute-force top-k by cosine: every query row scans the corpus.
    * Correctness baseline + small-query path (broadcast the queries, stream
    * the corpus: at 100 TB the corpus never shuffles).
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      qId: String = "vec_id", cId: String = "vec_id"): DataFrame = {
    val q = queries.select(col(qId).as("query_id"), col("embedding").as("qe"))
    val c = corpus.select(col(cId).as("neighbor_id"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFast(corpus.sparkSession, col("qe"), col("ce")))
      // NaN cosine (a NaN embedding on either side) sorts FIRST under
      // desc — quarantine it like null, or the corrupt row ranks top-1
      .filter(!isnan(col("cosine")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Deterministic random-hyperplane component for (bit, dim). */
  @inline private[sim] def hyper(bit: Int, dim: Int): Double =
    (splitmix64(bit.toLong * 131071 + dim * 524287 + 17).toDouble / Long.MaxValue)

  /** nBits-bit sign signature of one vector. */
  def signature(v: Array[Float], nBits: Int = 16): Int = {
    var sig = 0
    var b = 0
    while (b < nBits) {
      var acc = 0.0
      var d = 0
      while (d < v.length) { acc += v(d) * hyper(b, d); d += 1 }
      if (acc > 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  /** LSH-bucketed ANN: candidates share at least one band of the sign
    * signature; exact cosine rerank within candidates. Recall < 1 by design
    * — `bands`×`bitsPerBand` trades recall vs bucket size.
    */
  def lshTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
      bands: Int = 4, bitsPerBand: Int = 4,
      qId: String = "vec_id", cId: String = "vec_id"): DataFrame = {
    val nBits = bands * bitsPerBand
    val mask = (1 << bitsPerBand) - 1
    // signature is a fused codegen'd kernel; its null contract quarantines
    // corrupt embeddings (null vector/element) — they neither bucket nor
    // rank (the ScalaUDF form crashed the stage on a null vector). Band
    // rows come from a STATIC struct array (bands is a plan constant), not
    // a transform() lambda — no interpreted HOF in the corpus-sized path.
    def banded(df: DataFrame, id: String, as: String, embAs: String): DataFrame =
      df.select(col(id).as(as), col("embedding").as(embAs))
        .withColumn("sig", QuantExpr.signSig(spark, col(embAs), nBits))
        .filter(col("sig").isNotNull)
        .withColumn("band", explode(array((0 until bands).map { b =>
          struct(lit(b).as("bi"),
            shiftright(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask)).as("bk"))
        }: _*)))
        .select(col(as), col(embAs), col("band.bi"), col("band.bk"))
    val qb = banded(queries, qId, "query_id", "qe")
    val cb = banded(corpus, cId, "neighbor_id", "ce")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    // Band collisions duplicate a candidate pair up to `bands` times; dedup
    // on the ID PAIR, never on the embedding arrays — wide arrays as shuffle
    // keys ship the whole vector through the exchange. Cosine is computed
    // per banded row (≤ bands× redundant flops, all map-side) so the shuffle
    // carries only (ids, cosine); max() is exact since cosine is
    // deterministic per pair, and partial aggregation collapses duplicates
    // before the exchange.
    qb.join(cb, Seq("bi", "bk"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFast(spark, col("qe"), col("ce")))
      .filter(!isnan(col("cosine"))) // NaN sorts first under desc — quarantine
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Same nearest-centroid math on the driver and in the executor UDF —
    * one kernel so assignment can never diverge between train and query.
    */
  private def nearestCidOf(cents: Array[(Int, Array[Double])], v: Seq[Float]): Int = {
    var best = -1; var bestD = Double.MaxValue
    cents.foreach { case (ci, cv) =>
      var d = 0.0; var i = 0
      while (i < cv.length && i < v.length) { val t = v(i) - cv(i); d += t * t; i += 1 }
      if (d < bestD || (d == bestD && ci < best)) { best = ci; bestD = d }
    }
    best
  }

  // ——— native column forms of the quantizer kernels ———
  // One fused codegen'd loop per row over raw ArrayData, with codebooks
  // decoded once per plan from literal children — see [[QuantExpr]] for
  // the kernels, the FP-parity contract (bit-exact against the scalar
  // kernels below and therefore against every ANN DuckDB oracle), and
  // why the earlier aggregate()/transform() HOF forms were replaced
  // (interpreted lambdas re-evaluating each distance fold per centroid
  // regressed q52/q65/q66 4-6x).

  private def nearestCidCol(spark: SparkSession, vec: Column,
      cents: Array[(Int, Array[Double])]): Column =
    QuantExpr.nearestCid(spark, vec, cents)

  private def probesCol(spark: SparkSession, vec: Column,
      cents: Array[(Int, Array[Double])], nprobe: Int): Column =
    QuantExpr.probes(spark, vec, cents, nprobe)

  private def pqCodesCol(spark: SparkSession, vec: Column,
      cbs: Array[Array[(Int, Array[Double])]]): Column =
    QuantExpr.pqCodes(spark, vec, cbs)

  private def pqLutCol(spark: SparkSession, vec: Column,
      cbs: Array[Array[(Int, Array[Double])]], ksub: Int): Column =
    QuantExpr.pqLut(spark, vec, cbs, ksub)

  /** Deterministic bounded training sample: the `n` corpus vectors with the
    * smallest signed splitmix64(id) (tie on id) — seedless and
    * order-independent; one TakeOrdered pass, shared by ivfTopK and
    * writeIvfBucketed so compute and storage paths train identically.
    */
  private def sampleCorpus(c: DataFrame, n: Int, idCol: String,
      embCol: String): Array[Array[Float]] = {
    import c.sparkSession.implicits._
    // corrupt rows never train the quantizer — the same quarantine
    // contract as the scoring kernels; a no-op on clean data, so
    // oracle-replayed training is unaffected. The probe is the vector's
    // SELF-cosine through the fused codegen'd kernel: null vector/element
    // → null, any NaN (or an empty vector) → NaN — one pass, no
    // interpreted HOF, and it runs BEFORE the limit so corrupt rows are
    // replaced by clean ones instead of shrinking the sample (a
    // driver-side filter after limit(n) also crashed the collect on a
    // null ELEMENT, and a NaN seed poisons a centroid forever).
    c.filter(col(embCol).isNotNull)
      .withColumn("__self", cosineFast(c.sparkSession, col(embCol), col(embCol)))
      .filter(col("__self").isNotNull && !isnan(col("__self")))
      .withColumn("h", graft.functions.GraftFunctions.splitmixCol(c.sparkSession, col(idCol)))
      .orderBy(col("h"), col(idCol)).limit(n)
      .select(col(embCol)).as[Seq[Float]].collect().map(_.toArray)
  }

  /** Driver-side Lloyd's k-means over an already-collected sample. A coarse
    * quantizer needs only a sketch of the distribution — nlist×64 vectors —
    * so training costs ZERO Spark jobs (the r2 version ran 2 jobs per
    * iteration plus a dim probe against the full corpus). Clusters that
    * lose every point drop out (cid values are labels, not indexes).
    */
  private[sim] def kmeansDriver(sample: Array[Array[Float]], nlist: Int,
      iters: Int): Array[(Int, Array[Double])] = {
    var cents: Array[(Int, Array[Double])] =
      sample.take(nlist).zipWithIndex.map { case (v, i) => (i, v.map(_.toDouble)) }
    val dim = cents.headOption.map(_._2.length).getOrElse(0)
    var it = 0
    while (it < iters) {
      val acc = scala.collection.mutable.Map.empty[Int, Array[Double]] // slot dim = count
      sample.foreach { v =>
        val cid = nearestCidOf(cents, scala.collection.immutable.ArraySeq.unsafeWrapArray(v))
        val a = acc.getOrElseUpdate(cid, new Array[Double](dim + 1))
        var i = 0
        while (i < dim && i < v.length) { a(i) += v(i); i += 1 }
        a(dim) += 1
      }
      cents = acc.toArray.sortBy(_._1).map { case (cid, a) =>
        val n = math.max(a(dim), 1.0)
        (cid, Array.tabulate(dim)(i => a(i) / n))
      }
      it += 1
    }
    cents
  }

  /** IVF-flat ANN (the other scale path the driver prompt names next to
    * LSH): a coarse quantizer (Lloyd's k-means, trained on a deterministic
    * bounded sample on the driver) partitions the corpus into `nlist`
    * inverted lists; each query exactly reranks only the `nprobe` nearest
    * lists.
    *
    * Query-time scale shape: the corpus never shuffles — the (tiny) probe
    * assignments broadcast into the list-filtered scan; at 100 TB the
    * corpus would be written bucketed by `cid` so the filter prunes files.
    * The sample is fetched with one TakeOrdered pass (smallest
    * splitmix64(id) — seedless, order-independent); dim comes from the
    * sample, so the whole function runs ONE Spark job before the query
    * itself. The centroid array (nlist × dim doubles) rides in task
    * closures — fine at coarse-quantizer sizes; wrap in sc.broadcast if
    * nlist×dim grows past ~10⁶. Recall < 1 by design; floor pinned in
    * SimilaritySpec.
    */
  def ivfTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      qId: String = "vec_id", cId: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(cId).cast("long").as("neighbor_id"),
      col("embedding").as("ce"))

    val sample = sampleCorpus(c, math.max(nlist * 64, 1024), "neighbor_id", "ce")
    require(sample.nonEmpty, "ivfTopK: empty corpus")

    val centroids = kmeansDriver(sample, nlist, iters)

    val q = queries.select(col(qId).cast("long").as("query_id"), col("embedding").as("qe"))
      .withColumn("cid", explode(probesCol(spark, col("qe"), centroids, nprobe)))
    val cc = c.withColumn("cid", nearestCidCol(spark, col("ce"), centroids))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    cc.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFast(spark, col("qe"), col("ce")))
      .filter(!isnan(col("cosine"))) // NaN sorts first under desc — quarantine
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
  }

  /** Product-quantization ANN with asymmetric distance computation (ADC,
    * Jégou et al., "Product Quantization for Nearest Neighbor Search",
    * TPAMI 2011) — the MEMORY-bound scale path past IVF: the corpus is
    * stored as `m` sub-space code ids per vector (m·log₂(ksub) bits ≈
    * 4 bytes at the 8×16 default against 256 float bytes — a 64× smaller
    * scan), and each query ranks candidates with a per-query lookup table
    * (m·ksub cells) plus `m` adds per candidate instead of a `dim`-length
    * float kernel.
    *
    * Determinism/oracle shape: the codebooks are the SAME driver k-means
    * as IVF ([[kmeansDriver]]) run on each dim/m-slice of the same
    * deterministic splitmix sample; code assignment ties break (distance,
    * code id) like IVF's quantizer; the ADC sum adds LUT cells in
    * subspace order with per-cell inner sums in dimension order, so every
    * double is reproducible (q65's oracle replays training, encoding, and
    * scoring relationally, bit-exactly).
    *
    * Scale shape: encoding is a narrow map over the corpus (write the
    * codes table once, next to — or instead of — the raw vectors); the
    * tiny LUT'd query side broadcasts into the code scan, so the corpus
    * never shuffles. Compose with the IVF bucketed layout (encode each
    * inverted list's residuals) when both pruning AND compression are
    * needed. Approximate by design: recall floor pinned in
    * SimilaritySpec.
    *
    * @return (query_id, neighbor_id, rank, adist) — rank by ascending
    *         approximate squared L2, ties on neighbor id
    */
  def pqTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
      m: Int = 8, ksub: Int = 16, iters: Int = 3,
      qId: String = "vec_id", cId: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(cId).cast("long").as("neighbor_id"),
      col("embedding").as("ce"))
    val sample = sampleCorpus(c, math.max(ksub * 64, 1024), "neighbor_id", "ce")
    require(sample.nonEmpty, "pqTopK: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"pqTopK: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    // one codebook per subspace — kmeansDriver on the sample's slices
    val cbs = trainSubQuantizers(sample, m, ksub, dsub, iters)
    val q = queries.select(col(qId).cast("long").as("query_id"), col("embedding").as("qe"))
      .withColumn("lut", pqLutCol(spark, col("qe"), cbs, ksub)).drop("qe")
    val cc = c.withColumn("codes", pqCodesCol(spark, col("ce"), cbs)).drop("ce")
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    cc.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcCol(spark, col("codes"), col("lut"), ksub))
      // null adist = corrupt embedding on either side (null vector/element
      // or wrong dim — the kernels' null contract); ASC ranking is NULLS
      // FIRST, so without this filter one corrupt corpus row would surface
      // as every query's top-1. Corrupt rows never rank.
      .filter(col("adist").isNotNull && !isnan(col("adist")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
  }

  // ——— shared PQ kernels (ONE definition each, so q65's raw-vector path
  // and q66's residual path can never diverge in FP op order) ———

  /** One codebook per subspace: [[kmeansDriver]] on dsub-wide slices. */
  private def trainSubQuantizers(vecs: Array[Array[Float]], m: Int, ksub: Int,
      dsub: Int, iters: Int): Array[Array[(Int, Array[Double])]] =
    Array.tabulate(m) { j =>
      kmeansDriver(vecs.map(v =>
        java.util.Arrays.copyOfRange(v, j * dsub, (j + 1) * dsub)), ksub, iters)
    }


  /** ADC score Σⱼ lut[j·ksub + codes[j]] folded in subspace order from
    * 0.0 — the hottest kernel in the PQ family (it runs per CANDIDATE
    * PAIR, not per row), as one native codegen'd loop ([[PqAdc]]); the
    * fold order matches the old aggregate() form, so q65/q66 hashes are
    * unchanged. */
  private def adcCol(spark: SparkSession, codes: Column, lut: Column,
      ksub: Int): Column =
    QuantExpr.pqAdc(spark, codes, lut, ksub)

  /** IVF + PQ over residuals (IVFADC — the composition production ANN
    * systems actually deploy at 100 TB): the coarse quantizer prunes the
    * corpus to `nprobe` inverted lists AND the scan inside each list is
    * over m-byte PQ codes of the RESIDUAL (vector − list centroid), which
    * quantizes far better than raw vectors because residual energy is a
    * fraction of vector energy. One narrow encode pass stores
    * (cid, codes); queries broadcast per-(query, probed-list) LUTs into a
    * cid-equi-join — the corpus never shuffles, and with the
    * [[writeIvfBucketed]] layout the probed lists are also the only FILES
    * read.
    *
    * Residuals are cast to float before sub-quantizer training/encoding
    * (both sides of the q66 oracle perform the identical cast), LUT and
    * fold orders match [[pqTopK]], and the coarse quantizer is the exact
    * [[ivfTopK]] one — so the entire three-stage pipeline is
    * driver-oracled bit-exactly.
    */
  def ivfpqTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, m: Int = 8, ksub: Int = 16, iters: Int = 3,
      qId: String = "vec_id", cId: String = "vec_id"): DataFrame = {
    val c = corpus.select(col(cId).cast("long").as("neighbor_id"),
      col("embedding").as("ce"))
    val sample = sampleCorpus(c, math.max(math.max(nlist, ksub) * 64, 1024), "neighbor_id", "ce")
    require(sample.nonEmpty, "ivfpqTopK: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"ivfpqTopK: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val coarse = kmeansDriver(sample, nlist, iters)
    val coarseById = coarse.toMap
    def residual(v: Seq[Float], cid: Int): Array[Float] = {
      val cv = coarseById(cid)
      Array.tabulate(dim)(i => (v(i).toDouble - cv(i)).toFloat)
    }
    // sub-quantizers train on the SAMPLE's residuals w.r.t. final coarse
    val sampleRes = sample.map { v =>
      residual(scala.collection.immutable.ArraySeq.unsafeWrapArray(v),
        nearestCidOf(coarse, scala.collection.immutable.ArraySeq.unsafeWrapArray(v)))
    }
    val cbs = trainSubQuantizers(sampleRes, m, ksub, dsub, iters)
    // residual in column form via [[ResidualF32]]: (v[d] − coarse[cid][d])
    // rounded through float — the scalar residual()'s exact per-element
    // rounding — then encoded/LUT'd by the same kernels as the raw path
    val q = queries.select(col(qId).cast("long").as("query_id"), col("embedding").as("qe"))
      .withColumn("cid", explode(probesCol(spark, col("qe"), coarse, nprobe)))
      .withColumn("lut", pqLutCol(spark,
        QuantExpr.residualF32(spark, col("qe"), col("cid"), coarse), cbs, ksub))
      .drop("qe")
    val cc = c
      .withColumn("cid", nearestCidCol(spark, col("ce"), coarse))
      .withColumn("codes", pqCodesCol(spark,
        QuantExpr.residualF32(spark, col("ce"), col("cid"), coarse), cbs))
      .select(col("neighbor_id"), col("cid"), col("codes"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    cc.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcCol(spark, col("codes"), col("lut"), ksub))
      // null adist = corrupt embedding on either side (null vector/element
      // or wrong dim — the kernels' null contract); ASC ranking is NULLS
      // FIRST, so without this filter one corrupt corpus row would surface
      // as every query's top-1. Corrupt rows never rank.
      .filter(col("adist").isNotNull && !isnan(col("adist")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
  }

  // ——— IVF bucketed storage: the 100 TB layout made concrete ———

  /** Materialize the corpus as parquet PARTITIONED BY the quantizer's list
    * id — the layout the ivfTopK scaladoc promises at 100 TB: query time
    * reads ONLY the nprobe probed lists' files (static partition pruning),
    * so the corpus is never rescanned or shuffled. The trained centroids
    * persist next to the data (as exact IEEE bit patterns, never decimal
    * text) so every future reader probes the same quantizer.
    *
    * @return the trained centroids (also persisted under `dir`)
    */
  def writeIvfBucketed(spark: SparkSession, corpus: DataFrame, dir: String,
      nlist: Int = 16, iters: Int = 3, cId: String = "vec_id"): Array[(Int, Array[Double])] = {
    val c = corpus.select(col(cId).cast("long").as("vec_id"), col("embedding"))
    val sample = sampleCorpus(c, math.max(nlist * 64, 1024), "vec_id", "embedding")
    require(sample.nonEmpty, "writeIvfBucketed: empty corpus")
    val centroids = kmeansDriver(sample, nlist, iters)
    def nearest(v: Column): Column = nearestCidCol(spark, v, centroids)
    // Partitioned-write fan-out guard: EVERY upstream task opens a writer
    // per list it touches — up to tasks×nlist files, the classic
    // partitionBy small-files failure (metadata pressure + per-file open
    // cost on object stores). When the upstream task count exceeds the
    // list count, one exchange keyed on cid caps it at one writer per
    // list; below that the fan-out is already bounded by nlist² and the
    // exchange would be pure overhead (same auto-switch philosophy as
    // BoundaryExtract's broadcast↔shuffle joins).
    // (partition count probed on the pre-UDF projection — same partitioning
    // as the assigned frame, but the trivial plan compiles in ~0 instead of
    // re-compiling the UDF plan once for the probe and once for the write)
    // null cid = corrupt embedding — quarantined, or it would land in a
    // __HIVE_DEFAULT_PARTITION__ list no probe ever reads
    val assigned0 = c.withColumn("cid", nearest(col("embedding")))
      .filter(col("cid").isNotNull)
    val assigned =
      if (c.rdd.getNumPartitions > nlist) assigned0.repartition(col("cid"))
      else assigned0
    assigned.write.mode("overwrite").partitionBy("cid").parquet(dir)
    // sidecar via the Hadoop FS API — same filesystem the parquet landed on
    // (java.nio would break the feature on hdfs:///s3a:// the moment the
    // layout leaves the local machine)
    val txt = centroids.map { case (ci, cv) =>
      s"$ci ${cv.map(java.lang.Double.doubleToRawLongBits).mkString(",")}"
    }.mkString("\n")
    val path = new org.apache.hadoop.fs.Path(dir, "_ivf_centroids.txt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
    centroids
  }

  /** Centroids persisted by [[writeIvfBucketed]] — exact bit round trip. */
  def readIvfCentroids(spark: SparkSession, dir: String): Array[(Int, Array[Double])] = {
    val path = new org.apache.hadoop.fs.Path(dir, "_ivf_centroids.txt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    txt.linesIterator.filter(_.nonEmpty).map { line =>
      val Array(ci, bits) = line.split(" ", 2)
      (ci.toInt, bits.split(",").map(b => java.lang.Double.longBitsToDouble(b.toLong)))
    }.toArray
  }

  /** Delta-only maintenance of the [[writeIvfBucketed]] layout — the
    * index-refresh a daily ingest needs WITHOUT retraining or rewriting
    * the corpus: the quantizer stays FROZEN (production ANN practice —
    * retraining would re-shuffle every list), upserts assign against the
    * persisted centroids, and only the lists that gained or lost a row
    * are rewritten (copy-on-write per list, the SnapshotTable bucket
    * discipline applied to the index layout).
    *
    * Scale shape: victims (deleted + replaced keys) are located by a
    * SKINNY (vec_id, cid) column scan — parquet column pruning keeps the
    * 64×-heavier vector column unread — against a broadcast of the
    * metadata-sized key set; the rewrite reads only affected list
    * partitions and overwrites only them (dynamic partition overwrite).
    * Work scales with the delta and the affected lists, never the corpus.
    *
    * A list drained to zero rows is deleted explicitly (dynamic overwrite
    * cannot replace a partition with nothing). Single-writer, like every
    * layout commit in this engine.
    *
    * @return the number of list partitions rewritten or dropped
    */
  def ivfRefresh(spark: SparkSession, dir: String, upserts: DataFrame,
      deleteIds: DataFrame, cId: String = "vec_id"): Int = {
    val cents = readIvfCentroids(spark, dir)
    val up = upserts.select(col(cId).cast("long").as("vec_id"), col("embedding"))
      .withColumn("cid", nearestCidCol(spark, col("embedding"), cents))
      // null cid = corrupt upsert embedding — quarantined: it neither
      // lands in the layout nor NPEs the metadata collects below
      .filter(col("cid").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val victims = deleteIds.select(col(cId).cast("long").as("vec_id"))
      .unionByName(up.select(col("vec_id"))).distinct()
    // metadata-sized by contract (a delta), so the two collects below are
    // bounded; the victim-cid probe reads two skinny columns only
    val victimCids = spark.read.parquet(dir).select(col("vec_id"), col("cid"))
      .join(broadcast(victims), Seq("vec_id")).select(col("cid"))
      .distinct().collect().map(_.getInt(0))
    val upCids = up.select(col("cid")).distinct().collect().map(_.getInt(0))
    val affected = (victimCids ++ upCids).distinct.sorted
    if (affected.isEmpty) { up.unpersist(blocking = false); return 0 }
    val keep = spark.read.parquet(dir)
      .filter(col("cid").isin(affected.map(Integer.valueOf).toSeq: _*))
      .join(broadcast(victims), Seq("vec_id"), "left_anti")
      .select(col("cid"), col("vec_id"), col("embedding"))
    val rewritten = keep.unionByName(
      up.select(col("cid"), col("vec_id"), col("embedding")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val present = rewritten.select(col("cid")).distinct().collect()
      .map(_.getInt(0)).toSet
    // dynamic overwrite: replace exactly the partitions present in the
    // rewrite set (a per-write option; the session conf is never touched)
    rewritten.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cid").parquet(dir)
    rewritten.unpersist(blocking = false)
    up.unpersist(blocking = false)
    // drained lists: no rows to write their partition with - drop the dir
    val drained = affected.filterNot(present)
    if (drained.nonEmpty) {
      val conf = spark.sparkContext.hadoopConfiguration
      drained.foreach { c =>
        val pth = new org.apache.hadoop.fs.Path(dir, s"cid=$c")
        pth.getFileSystem(conf).delete(pth, true): Unit
      }
    }
    affected.length
  }

  /** ANN over a bucketed corpus directory: probe assignment happens on the
    * (metadata-sized) query set, and the corpus scan carries an explicit
    * `cid IN (probed lists)` literal filter so the parquet source PRUNES
    * the unprobed partitions — the plan's PartitionFilters shows it
    * (pinned in SimilaritySpec). Exact rerank inside the probed lists.
    */
  def ivfTopKBucketed(spark: SparkSession, queries: DataFrame, dir: String, k: Int,
      nprobe: Int = 4, qId: String = "vec_id"): DataFrame = {
    val centroids = readIvfCentroids(spark, dir)
    val q = queries.select(col(qId).cast("long").as("query_id"), col("embedding").as("qe"))
      .withColumn("cid", explode(probesCol(spark, col("qe"), centroids, nprobe)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val probedCids = q.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).toSeq // metadata-sized: ≤ queries × nprobe
    val corpus = spark.read.parquet(dir)
      .filter(col("cid").isin(probedCids: _*)) // static partition pruning
      .select(col("cid"), col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val out = corpus.join(broadcast(q), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFast(spark, col("qe"), col("ce")))
      .filter(!isnan(col("cosine"))) // NaN sorts first under desc — quarantine
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("cosine"))
      .localCheckpoint(true) // materialize before releasing q's cache
    q.unpersist(blocking = false)
    out
  }

  // ——— PQ stored codes: the compression layout made concrete ———

  /** Materialize the corpus as its PQ CODES table — the layout [[pqTopK]]'s
    * scaladoc promises at 100 TB: (vec_id, m code ids) parquet written ONCE
    * next to — or instead of — the raw vectors (m·log₂(ksub) bits ≈ 4 bytes
    * vs 256 float bytes at the 8×16 default, a 64× smaller scan for every
    * future query), with the trained sub-quantizer codebooks persisted as
    * exact IEEE bit patterns (never decimal text) in a sidecar so every
    * future reader scores against the identical quantizer. Same
    * deterministic training as [[pqTopK]], so compute-path and storage-path
    * results are bit-identical (q135 shares q65's full DuckDB oracle — the
    * driver gate proves the round trip).
    *
    * @return the trained per-subspace codebooks (also persisted under `dir`)
    */
  def writePqEncoded(spark: SparkSession, corpus: DataFrame, dir: String,
      m: Int = 8, ksub: Int = 16, iters: Int = 3,
      cId: String = "vec_id"): Array[Array[(Int, Array[Double])]] = {
    val c = corpus.select(col(cId).cast("long").as("vec_id"), col("embedding"))
    val sample = sampleCorpus(c, math.max(ksub * 64, 1024), "vec_id", "embedding")
    require(sample.nonEmpty, "writePqEncoded: empty corpus")
    val dim = sample.head.length
    require(dim % m == 0, s"writePqEncoded: dim=$dim not divisible by m=$m")
    val dsub = dim / m
    val cbs = trainSubQuantizers(sample, m, ksub, dsub, iters)
    // ONE narrow encode pass — no shuffle, no partitioning: the code table
    // has no pruning axis of its own (compose with writeIvfBucketed's cid
    // layout when list pruning is also wanted, as ivfpqTopK does inline)
    c.withColumn("codes", pqCodesCol(spark, col("embedding"), cbs))
      .select(col("vec_id"), col("codes"))
      .write.mode("overwrite").parquet(dir)
    // sidecar via the Hadoop FS API (portable off the local machine);
    // header carries the LUT geometry, then one line per (subspace, code)
    val txt = (s"$m $ksub $dsub" +: cbs.zipWithIndex.flatMap { case (cb, j) =>
      cb.map { case (ci, cv) =>
        s"$j $ci ${cv.map(java.lang.Double.doubleToRawLongBits).mkString(",")}"
      }
    }.toSeq).mkString("\n")
    val path = new org.apache.hadoop.fs.Path(dir, "_pq_codebooks.txt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
    cbs
  }

  /** Codebooks persisted by [[writePqEncoded]] — exact bit round trip.
    * @return (per-subspace codebooks, ksub)
    */
  def readPqCodebooks(spark: SparkSession,
      dir: String): (Array[Array[(Int, Array[Double])]], Int) = {
    val path = new org.apache.hadoop.fs.Path(dir, "_pq_codebooks.txt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    val lines = txt.linesIterator.filter(_.nonEmpty).toSeq
    val Array(m, ksub, _) = lines.head.split(" ").map(_.toInt)
    val byJ = lines.tail.map { line =>
      val Array(j, ci, bits) = line.split(" ", 3)
      (j.toInt, (ci.toInt,
        bits.split(",").map(b => java.lang.Double.longBitsToDouble(b.toLong))))
    }.groupBy(_._1)
    (Array.tabulate(m)(j => byJ(j).map(_._2).toArray), ksub)
  }

  /** ADC top-k over a STORED codes directory: the scan side is the m-byte
    * code table — raw vectors are never read. Queries build their LUTs
    * against the persisted codebooks and broadcast into the code scan;
    * ranking math is [[pqTopK]]'s exactly.
    */
  def pqTopKStored(spark: SparkSession, queries: DataFrame, dir: String,
      k: Int, qId: String = "vec_id"): DataFrame = {
    val (cbs, ksub) = readPqCodebooks(spark, dir)
    val q = queries.select(col(qId).cast("long").as("query_id"),
        col("embedding").as("qe"))
      .withColumn("lut", pqLutCol(spark, col("qe"), cbs, ksub)).drop("qe")
    val cc = spark.read.parquet(dir)
      .select(col("vec_id").as("neighbor_id"), col("codes"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("adist"), col("neighbor_id"))
    cc.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", adcCol(spark, col("codes"), col("lut"), ksub))
      // null adist = corrupt embedding on either side (null vector/element
      // or wrong dim — the kernels' null contract); ASC ranking is NULLS
      // FIRST, so without this filter one corrupt corpus row would surface
      // as every query's top-1. Corrupt rows never rank.
      .filter(col("adist").isNotNull && !isnan(col("adist")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adist"))
  }

  /** Embedding-cosine near-duplicate pairs (dedup by embedding): LSH
    * candidates (all bands equal ⇒ very similar) verified by exact cosine.
    */
  def nearDupPairs(spark: SparkSession, vecs: DataFrame, minCosine: Double = 0.95,
      idCol: String = "vec_id", nBits: Int = 16, maxBucket: Int = 64): DataFrame = {
    // fused signature kernel; null sig = corrupt embedding → quarantined
    // before bucketing (the ScalaUDF form crashed on a null vector)
    val sigs = vecs.select(col(idCol).cast("long").as("id"), col("embedding"))
      .withColumn("sig", QuantExpr.signSig(spark, col("embedding"), nBits))
      .filter(col("sig").isNotNull)
    val buckets = sigs.groupBy("sig")
      .agg(array_sort(collect_list(struct(col("id"), col("embedding")))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .observe("graft_embdup_buckets",
        count(lit(1)).as("buckets"),
        sum(when(size(col("xs")) > maxBucket, 1L).otherwise(0L)).as("oversized_buckets"))
    // over-cap buckets emit star pairs vs the min-id hub (O(n)) instead of
    // being dropped — see graft.dedup.Dedup for the policy rationale
    buckets.select(explode(expr(
      s"""CASE WHEN size(xs) <= $maxBucket THEN
         |  flatten(transform(xs, (a, i) ->
         |    transform(slice(xs, i + 2, size(xs)), b -> struct(
         |      least(a.id, b.id) as id_a, greatest(a.id, b.id) as id_b,
         |      a.embedding as ea, b.embedding as eb))))
         |ELSE
         |  transform(slice(xs, 2, size(xs)), b -> struct(
         |    xs[0].id as id_a, b.id as id_b, xs[0].embedding as ea, b.embedding as eb))
         |END""".stripMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"),
        cosineFast(spark, col("p.ea"), col("p.eb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
      // id-pair dedup via one aggregation exchange (cosine deterministic),
      // never a distinct over rows still carrying embedding arrays
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cosine")).as("cosine"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): the corpus is clustered in embedding space by the
    * same deterministic coarse quantizer the IVF path trains, candidate
    * pairs exist only WITHIN a cluster (SemDeDup's core scale idea — the
    * quadratic step never crosses cluster boundaries), pairs at
    * cosine ≥ `minCosine` become near-dup edges, connected components
    * assemble duplicate groups, and exactly one representative per group
    * is kept: the min vec_id, which is deterministic where the paper's
    * keep-lowest-centroid-similarity rule tie-breaks on float noise.
    *
    * Returns EVERY corpus row as (vec_id, cid, kept) — kept=false marks
    * the rows SemDeDup would drop from the training set, and cid exposes
    * the cluster assignment so a checker covers the whole clustering, not
    * just the drop list.
    *
    * Scale shape: assignment is a narrow map (centroids driver-trained on
    * a bounded splitmix sample, closure-captured like ivfTopK); the wide
    * ops are one per-cluster groupBy and the final label join. `nlist`
    * must grow ~corpus/E[cluster] at scale (the paper runs 50k clusters
    * for LAION) — it is a parameter, not a constant. Clusters beyond
    * `maxCluster` emit star pairs against the min-id hub (the
    * codebase-wide capped-bucket policy, see graft.dedup.Dedup) with
    * observe()d counts. Known SemDeDup limitation reproduced faithfully:
    * near-dups straddling a cluster boundary are never candidates — the
    * paper accepts that recall is bounded by the quantizer.
    */
  def semanticDedup(spark: SparkSession, vecs: DataFrame, minCosine: Double = 0.95,
      nlist: Int = 16, iters: Int = 3, maxCluster: Int = 512,
      idCol: String = "vec_id"): DataFrame = {
    val c = vecs.select(col(idCol).cast("long").as("vec_id"), col("embedding"))
    val sample = sampleCorpus(c, math.max(nlist * 64, 1024), "vec_id", "embedding")
    require(sample.nonEmpty, "semanticDedup: empty corpus")
    val cents = kmeansDriver(sample, nlist, iters)
    def nearest(v: Column): Column = nearestCidCol(spark, v, cents)
    // Scan shape, stated honestly: the corpus is read THREE times — the
    // bounded quantizer sample, the cluster/edge pass, and the final label
    // join (Catalyst shares no common subtrees). Each pass is narrow; a
    // persist here would trade that for an unreleasable corpus-sized cache
    // (the method returns a lazy frame, so there is no safe point to
    // unpersist). When the triple scan dominates at corpus scale,
    // materialize the assignment once with writeIvfBucketed and dedup over
    // the partitioned layout instead.
    val assigned = c.withColumn("cid", nearest(col("embedding")))
    val clusters = assigned.groupBy("cid")
      .agg(array_sort(collect_list(struct(col("vec_id").as("id"), col("embedding")))).as("xs"))
      .filter(size(col("xs")) >= 2)
      .observe("graft_semdedup_clusters",
        count(lit(1)).as("clusters"),
        sum(when(size(col("xs")) > maxCluster, 1L).otherwise(0L)).as("oversized_clusters"))
    val edges = clusters.select(explode(expr(
      s"""CASE WHEN size(xs) <= $maxCluster THEN
         |  flatten(transform(xs, (a, i) ->
         |    transform(slice(xs, i + 2, size(xs)), b -> struct(
         |      least(a.id, b.id) as id_a, greatest(a.id, b.id) as id_b,
         |      a.embedding as ea, b.embedding as eb))))
         |ELSE
         |  transform(slice(xs, 2, size(xs)), b -> struct(
         |    xs[0].id as id_a, b.id as id_b, xs[0].embedding as ea, b.embedding as eb))
         |END""".stripMargin)).as("p"))
      .select(col("p.id_a").as("src"), col("p.id_b").as("dst"),
        cosineFast(spark, col("p.ea"), col("p.eb")).as("cosine"))
      .filter(col("cosine") >= minCosine)
      .select(col("src"), col("dst"))
    val labels = graft.dedup.Dedup.connectedComponents(spark, edges)
    assigned.join(labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        (col("component").isNull || col("vec_id") === col("component")).as("kept"))
  }

  /** ANN quality evaluation: per-query recall of an approximate top-k
    * result against the exact one. Both inputs carry (query_id,
    * neighbor_id); the output is (query_id, n_hit, k_actual) in exact
    * integers — recall@k = n_hit / k_actual, left as a ratio of two
    * BIGINTs so no engine's float summation order enters the comparison.
    *
    * Scale shape: one equi-join keyed (query_id, neighbor_id) + one
    * groupBy on query_id — eval sets are probe-sized, not corpus-sized,
    * so both exchanges are small; a query whose approximate list missed
    * everything still appears (left join, n_hit = 0).
    */
  /** Johnson–Lindenstrauss random projection with the ±1 sign matrix
    * (Achlioptas, PODS'01 — ±1 entries preserve the JL distance guarantee
    * without Gaussians): each output dim y_j = Σᵢ emb[i]·s(j,i), s = ±1
    * from splitmix64 parity, folded in ARRAY ORDER so the double sums are
    * bit-reproducible and the q99 oracle replays them exactly (the 1/√k
    * normalization is a constant factor on every coordinate — folded into
    * downstream comparisons rather than multiplied here, stated).
    *
    * Scale shape: a narrow map — the sign matrix is outDim·inDim literal
    * coefficients baked into the plan (codegen'd HOF folds, no UDF, no
    * matrix broadcast), so projecting 10^12 rows is one pass with zero
    * shuffle. The standard pre-step that makes brute/IVF kNN 4× cheaper
    * at the same recall target.
    */
  def jlProject(spark: SparkSession, vecs: DataFrame, inDim: Int, outDim: Int,
      seed: Long = 99L, embCol: String = "embedding"): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= inDim, s"dims $inDim->$outDim")
    val signs = Array.tabulate(outDim, inDim) { (j, i) =>
      if ((splitmix64(j * 131071L + i * 524287L + seed) & 1L) == 0L) 1.0 else -1.0
    }
    // ONE fused kernel evaluation per row ([[QuantExpr.jlProject]] — the
    // per-dim aggregate(zip_with) folds this replaces dispatched an
    // interpreted lambda per element per output dim); the multiply-
    // referenced non-cheap alias keeps CollapseProject from inlining the
    // kernel once per output column
    vecs.select(col("vec_id"),
        QuantExpr.jlProject(vecs.sparkSession, col(embCol), signs).as("_y"))
      .select(col("vec_id") +:
        (0 until outDim).map(j => element_at(col("_y"), j + 1).as(s"y$j")): _*)
  }

  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"), lit(1L).as("hit")),
        Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hit"),
        count(lit(1)).as("k_actual"))
}
