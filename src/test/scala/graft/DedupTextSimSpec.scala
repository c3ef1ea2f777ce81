package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.text.TextOps
import graft.sim.Similarity

class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("jaccard kernel: identity, disjoint, known overlap") {
    val a = Dedup.shingles("a b c d e f")
    assert(Dedup.jaccard(a, a) == 1.0)
    assert(Dedup.jaccard(a, Dedup.shingles("x y z w v u")) == 0.0)
    // "a b c d" -> shingles {abc, bcd}; "a b c e" -> {abc, bce}: 1/3
    assert(Dedup.jaccard(Dedup.shingles("a b c d"), Dedup.shingles("a b c e")) == 1.0 / 3.0)
  }

  test("fused minhash_bands/jaccard_shingles match the scalar kernels; no UDF") {
    val fixture = (0L until 25L).map(i =>
      (i, (0 until 20).map(j => s"w${(i * 13 + j * 5) % 200}").mkString(" ")))
    val (k, bands) = (64, 16)
    val got = docs(fixture: _*).select(col("doc_id"),
        explode(graft.dedup.DedupExpr.minhashBandsCol(
          spark, col("text"), k, bands)).as("bb"))
      .select(col("doc_id"), col("bb.band"), col("bb.bkey"))
      .as[(Long, Int, Long)].collect().toSet
    val ref = fixture.flatMap { case (id, t) =>
      val sig = Dedup.minhashSig(Dedup.shingles(t), k)
      (0 until bands).map(b => (id, b, Dedup.bandKey(sig, b, k / bands)))
    }.toSet
    assert(got === ref)
    // fused verify kernel === scalar jaccard-of-shingles
    val jw = docs(fixture.take(5): _*).as("a")
      .crossJoin(docs(fixture.take(5): _*).as("b"))
      .select(col("a.text").as("ta"), col("b.text").as("tb"),
        graft.dedup.DedupExpr.jaccardShinglesCol(
          spark, col("a.text"), col("b.text")).as("j"))
      .as[(String, String, Double)].collect()
    jw.foreach { case (ta, tb, j) =>
      assert(j === Dedup.jaccard(Dedup.shingles(ta), Dedup.shingles(tb)))
    }
    // null text quarantines: dropped from banding, null through verify
    val withNull = docs((1L, "alpha beta gamma delta"), (2L, null))
    val banded = withNull.select(col("doc_id"),
      explode(graft.dedup.DedupExpr.minhashBandsCol(spark, col("text"), k, bands)))
    assert(banded.select("doc_id").as[Long].collect().toSet === Set(1L),
      "null text must not bucket")
    // fused simhash64 === scalar kernel; null text quarantines
    val sh = docs(fixture.take(10): _*).select(col("doc_id"),
        graft.dedup.DedupExpr.simhash64Col(spark, col("text")).as("fp"))
      .as[(Long, Long)].collect().toMap
    fixture.take(10).foreach { case (id, t) =>
      assert(sh(id) === Dedup.simhash(t), s"doc $id simhash")
    }
    val shNull = Dedup.simhashPairs(spark,
      docs((1L, "alpha beta gamma"), (2L, null), (3L, "alpha beta gamma")))
    assert(shNull.select("id_a", "id_b").as[(Long, Long)].collect().toSet
      === Set((1L, 3L)), "null text must neither band nor pair")
    // the full pipeline carries no ScalaUDF and no per-document
    // encoder sandwich (the bucket-pair flatMap is candidate-sized and
    // keeps its typed form — only the CORPUS side must stay fused)
    val plan = Dedup.minhashPairs(spark, docs(fixture: _*))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"dedup surface must be UDF-free:\n$plan")
  }

  test("minhash LSH finds all planted near-dups and no false positives after verify") {
    val base = (0L until 100L).map(i =>
      (i, (0 until 30).map(j => s"w${(i * 31 + j * 7) % 500}").mkString(" ")))
    val planted = base.filter(_._1 % 10 == 0).map { case (id, t) =>
      (id + 1000, t + " tail") // ~ jaccard 28/30-ish
    }
    val pairs = Dedup.minhashPairs(spark, docs(base ++ planted: _*), threshold = 0.7)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = base.filter(_._1 % 10 == 0).map(x => (x._1, x._1 + 1000)).toSet
    assert(expected.subsetOf(pairs), s"missing ${expected -- pairs}")
    // verified pairs all have true jaccard >= 0.7
    val j = Dedup.minhashPairs(spark, docs(base ++ planted: _*), threshold = 0.7)
      .select("jaccard").as[Double].collect()
    assert(j.forall(_ >= 0.7))
  }

  test("minhashProbe links the delta to its corpus sources, never corpus to corpus") {
    val corpus = (0L until 100L).map(i =>
      (i, (0 until 30).map(j => s"w${(i * 31 + j * 7) % 500}").mkString(" ")))
    // delta: near-dups of every 10th corpus doc + one novel doc
    val delta = corpus.filter(_._1 % 10 == 0)
      .map { case (id, t) => (id + 1000, t + " tail") } :+
      ((2000L, "novel alpha beta gamma delta epsilon zeta eta theta"))
    val got = Dedup.minhashProbe(spark, docs(corpus: _*), docs(delta: _*),
        threshold = 0.7)
      .as[(Long, Long, Double)].collect()
    val links = got.map(r => (r._1, r._2)).toSet
    val expected = corpus.filter(_._1 % 10 == 0).map(x => (x._1 + 1000, x._1)).toSet
    assert(expected.subsetOf(links), s"missing ${expected -- links}")
    assert(got.forall(_._3 >= 0.7))
    // output is strictly delta-vs-corpus: no corpus id on the new side
    assert(got.forall(r => r._1 >= 1000 && r._2 < 1000))
    assert(!links.exists(_._1 == 2000L), "novel doc must not link")
    // the corpus-side cap: 50 identical corpus docs + 1 probing twin link
    // through the bucket representative (min id), not 50 ways... unless
    // verify keeps them all — the CANDIDATE set is what the cap bounds
    val boiler = (0L until 50L).map(i => (i, "same text " * 10))
    val probe = Seq((999L, "same text " * 10))
    val capped = Dedup.minhashProbe(spark, docs(boiler: _*), docs(probe: _*),
        threshold = 0.7, maxBucket = 8)
      .as[(Long, Long, Double)].collect()
    assert(capped.map(_._2).toSet === Set(0L),
      s"over-cap bucket must link via the min-id representative: ${capped.toSeq}")
  }

  test("mass-duplicated boilerplate survives the bucket cap via star pairs") {
    // 200 identical docs → every LSH bucket holds all 200, far over
    // maxBucket=16. r1 dropped such buckets silently (recall 0 on exactly
    // the mass-dup cluster a dedup pass most needs to kill); the star-hub
    // policy must keep every copy connected to the min-id hub.
    val boiler = (0 until 40).map(j => s"copy${j % 7} boilerplate tok$j").mkString(" ")
    val d = docs((0L until 200L).map(i => (i, boiler)): _*)
    val pairs = Dedup.minhashPairs(spark, d, threshold = 0.9, maxBucket = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val connected = pairs.flatMap(p => Set(p._1, p._2))
    assert((0L until 200L).toSet.subsetOf(connected),
      s"missing docs: ${(0L until 200L).toSet -- connected}")
    // every doc reaches the hub directly (star shape ⇒ one dedup cluster)
    assert((1L until 200L).forall(j => pairs.contains((0L, j))))
    // pair count stays LINEAR in the cluster size, not quadratic
    assert(pairs.size < 2 * 200, s"expected O(n) pairs, got ${pairs.size}")

    // same policy on the simhash pipeline
    val sp = Dedup.simhashPairs(spark, d, maxHamming = 3, maxBucket = 16)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert((0L until 200L).toSet.subsetOf(sp.flatMap(p => Set(p._1, p._2))))
  }

  test("connected components equal union-find on random graphs and long chains") {
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min node id in the component
      val groups = nodes.groupBy(find)
      groups.values.flatMap(ns => { val m = ns.min; ns.map(_ -> m) }).toMap
    }
    // deterministic pseudo-random graphs of varying density — checked on
    // BOTH execution paths: the driver union-find the default session
    // takes for these broadcast-sized graphs, and the star contraction a
    // session with the broadcast threshold at -1 forces
    val distributed = SparkTestSession.broadcastOff
    for (seed <- 0 until 4) {
      val n = 30
      val edges = (0 until 40).map { i =>
        val h = graft.img.ImageTable.splitmix64(seed * 1000 + i)
        ((h & 0x7FFFFFFF) % n, ((h >>> 32) & 0x7FFFFFFF) % n)
      }.filter(e => e._1 != e._2)
      val expected = unionFind(edges)
      val gotDriver = Dedup.connectedComponents(spark, edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(gotDriver == expected, s"driver cutover, seed=$seed")
      val gotStar = Dedup.connectedComponents(distributed, edges.toDF("src", "dst"))
        .as[(Long, Long)].collect().toMap
      assert(gotStar == expected, s"star, seed=$seed")
    }
    // a 12-node chain: the labels must close over the full diameter
    val chain = (0L until 11L).map(i => (i, i + 1))
    val gotChain = Dedup.connectedComponents(spark, chain.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(gotChain == (0L to 11L).map(_ -> 0L).toMap)
  }

  test("star contraction: a 10k-node path graph converges in O(log n) rounds") {
    // the adversarial case for min-label propagation (diameter 10k →
    // 10k rounds); large-star/small-star must finish in ~log n
    val n = 10000
    val path = spark.range(0, n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val (labels, rounds) = Dedup.starContraction(spark, path, maxIter = 40)
    val bound = 2 * (math.log(n.toDouble) / math.log(2.0)).ceil.toInt + 4 // 2·⌈log₂n⌉+slack
    assert(rounds <= bound, s"took $rounds rounds (bound $bound)")
    val got = labels.as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 0L), s"non-min labels: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("connectedComponents' distributed path labels a 2k-node chain with its minimum") {
    // the caller never has to know their graph is chain-shaped: a
    // session with broadcasting off sends it to star contraction, whose
    // round count does not grow with the 2k diameter
    val n = 2000
    val path = spark.range(0, n - 1)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val got = Dedup.connectedComponents(SparkTestSession.broadcastOff, path)
      .as[(Long, Long)].collect()
    assert(got.length == n)
    assert(got.forall(_._2 == 0L), s"non-min labels: ${got.filter(_._2 != 0L).take(5).toSeq}")
  }

  test("star contraction throws when it does not converge within maxIter rounds") {
    // two rounds cannot contract a 1,000-node path: partial labels would
    // split the one true component, so the loop must fail loudly
    val path = spark.range(0, 999)
      .select(col("id").as("src"), (col("id") + 1).as("dst"))
    val e = intercept[IllegalStateException](Dedup.starContraction(spark, path, maxIter = 2))
    assert(e.getMessage.contains("did not converge within 2 rounds"), e.getMessage)
  }

  test("simhash: tiny edits on long docs stay within hamming 3; random texts far") {
    // a 1-token edit flips only margin-zero bits; P(margin=0) shrinks with
    // doc length, so hamming<=3 LSH targets LONG docs with TINY edits
    val t1 = (0 until 500).map(i => s"tok$i").mkString(" ")
    assert(Dedup.hamming(Dedup.simhash(t1), Dedup.simhash(t1)) == 0)
    assert(Dedup.hamming(Dedup.simhash(t1), Dedup.simhash(t1 + " extra")) <= 3)
    val t3 = (0 until 500).map(i => s"other$i").mkString(" ")
    assert(Dedup.hamming(Dedup.simhash(t1), Dedup.simhash(t3)) > 10)
  }

  test("simhash pairs pipeline finds planted dups (guaranteed: hamming<=3 < 4 bands)") {
    val base = (0L until 60L).map(i =>
      (i, (0 until 500).map(j => s"w${(i * 17 + j * 3) % 4000}").mkString(" ")))
    val planted = base.filter(_._1 % 12 == 0).map { case (id, t) => (id + 500, t + " x") }
    // precondition: the planted edits really are within hamming 3
    planted.foreach { case (id, t) =>
      val orig = base.find(_._1 == id - 500).get._2
      assert(Dedup.hamming(Dedup.simhash(orig), Dedup.simhash(t)) <= 3)
    }
    val pairs = Dedup.simhashPairs(spark, docs(base ++ planted: _*), maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = base.filter(_._1 % 12 == 0).map(x => (x._1, x._1 + 500)).toSet
    assert(expected.subsetOf(pairs))
  }
}

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("langId heuristics on real-language snippets") {
    assert(TextOps.langId("the cat sat on the mat and it is warm for a day") == "en")
    assert(TextOps.langId("der Hund und die Katze, das ist nicht ein Problem mit zu viel") == "de")
    assert(TextOps.langId("el perro y la casa es en los campos que un dia") == "es")
    assert(TextOps.langId("le chien est dans les champs et que la maison") == "fr")
    assert(TextOps.langId("这是一个中文句子没有空格也可以识别") == "zh")
    assert(TextOps.langId("") == "und")
    assert(TextOps.langId("zzz qqq xxx") == "und")
  }

  test("winnow: identical text → identical fingerprints; shared chunk → shared fp") {
    val a = "the quick brown fox jumps over the lazy dog again and again"
    assert(TextOps.winnow(a).sameElements(TextOps.winnow(a)))
    val b = "prefix words " + a + " suffix words"
    val shared = TextOps.winnow(a).toSet.intersect(TextOps.winnow(b).toSet)
    assert(shared.nonEmpty)
    assert(TextOps.winnow("completely different content here ok").toSet
      .intersect(TextOps.winnow(a).toSet).isEmpty)
  }

  test("cdcChunks: exact cover, shift resistance, shared content → shared chunk hashes") {
    import spark.implicits._
    def norm(t: String) = t.toLowerCase.replaceAll("\\s+", " ")
    val base = (0 until 120).map(i => s"w${(i * 17) % 300}").mkString(" ")
    // spans cover the normalized text exactly, in order
    val spans = TextOps.cdcChunks(base)
    val s = norm(base)
    assert(spans.head._1 == 0 && spans.map(c => c._1 + c._2).last == s.length)
    assert(spans.sliding(2).forall { case Seq((a, al), (b, _)) => a + al == b; case _ => true })
    assert(spans.length >= 3, s"expected multiple chunks for a ${s.length}-char doc")
    // shift resistance: prepending content changes only the EARLY chunks —
    // boundaries re-synchronize, so most trailing chunk contents survive
    val shifted = "zzz qq " + base
    val cs1 = spans.map { case (st, l) => s.substring(st, st + l) }.toSet
    val s2 = norm(shifted)
    val cs2 = TextOps.cdcChunks(shifted).map { case (st, l) => s2.substring(st, st + l) }.toSet
    val survived = (cs1 intersect cs2).size
    assert(survived >= cs1.size - 2,
      s"CDC must re-sync after an insertion: only $survived of ${cs1.size} chunks survived")
    // distributed table: a planted shared middle section yields chunks
    // with n_copies >= 2 across distinct docs
    val mid = (0 until 60).map(i => s"share${i % 40}").mkString(" ")
    val docs = Seq((1L, s"alpha $mid omega"), (2L, s"beta $mid gamma"),
      (3L, "totally unrelated text " * 10)).toDF("doc_id", "text")
    val t = TextOps.cdcChunkTable(spark, docs)
    val sharedDocs = t.filter(col("n_copies") >= 2)
      .select("doc_id").distinct().as[Long].collect().toSet
    assert(Set(1L, 2L).subsetOf(sharedDocs), s"shared chunks not found: $sharedDocs")
    // and chunk spans reported by the table reassemble each normalized doc
    val lens = t.groupBy("doc_id").agg(sum("chunk_len").as("n")).as[(Long, Long)].collect().toMap
    assert(lens(1L) == norm(s"alpha $mid omega").length)
  }

  test("redactPii scrubs emails and IPv4s with exact extents, order matters") {
    import spark.implicits._
    val rows = Seq(
      ("plain text no pii", "plain text no pii"),
      ("mail bob.smith+x@sub.domain.example end", "mail <EMAIL> end"),
      ("ip 10.0.255.4 and bad 999.999.999.999 both", "ip <IP> and bad <IP> both"),
      // an address containing a dotted quad redacts as ONE email
      ("x 10.1.2.3@host.example y", "x <EMAIL> y"),
      ("a@b.cd 1.2.3.4 e@f.gh", "<EMAIL> <IP> <EMAIL>"))
    val got = rows.map(_._1).toDF("t")
      .select(TextOps.redactPii(col("t"))).as[String].collect()
    assert(got.toSeq == rows.map(_._2))
  }

  test("regex token count column matches hand count") {
    import spark.implicits._
    val df = Seq(("ab cd-12, x!")).toDF("text")
      .select(TextOps.regexTokenCount(col("text")).as("n"))
    // tokens: ab, cd, -, 12, ",", x, "!" = 7
    assert(df.head().getInt(0) == 7)
  }

  test("packShards matches an exact scalar replication; dense chunks; no global sort") {
    import spark.implicits._
    import graft.img.ImageTable.splitmix64
    val budget = 64
    val nDocs = 500
    val docRows = List.tabulate(nDocs)(i => (i.toLong, i % 37 + 1))
    val df = docRows.toDF("doc_id", "n_tokens")
    for (nShards <- Seq(1, 8)) {
      val out = TextOps.packShards(spark, df, budget, nShards)
      // plan audit: the cumsum window sorts WITHIN shard partitions only —
      // a global sort here is the single-partition plan that dies at scale
      // (string-level: AQE wraps the tree, node collect() won't descend)
      val planStr = out.queryExecution.executedPlan.toString
      assert(!"Sort \\[[^\\]]*\\], true".r.findFirstIn(planStr).isDefined,
        s"global sort in packShards plan (nShards=$nShards):\n$planStr")
      val got = out.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4), r.getBoolean(5))).toSet
      // scalar replication: shard docs, cumsum in id order, offset shards
      val byShard = docRows.groupBy { case (id, _) =>
        ((splitmix64(id) & Long.MaxValue) % nShards).toInt
      }
      val chunkOff = {
        var acc = 0L
        byShard.toSeq.sortBy(_._1).map { case (sh, ds) =>
          val off = sh -> acc
          acc += (ds.map(_._2.toLong).sum + budget - 1) / budget
          off
        }.toMap
      }
      val want = byShard.flatMap { case (sh, ds) =>
        var cum = 0L
        ds.sortBy(_._1).map { case (id, nt) =>
          val row = (id, nt, sh, chunkOff(sh) + cum / budget, cum % budget,
            (cum + nt - 1) / budget > cum / budget)
          cum += nt
          row
        }
      }.toSet
      assert(got == want, s"packShards mismatch at nShards=$nShards")
      // chunk ids are globally dense: every chunk in [0, max] is touched
      val touched = got.flatMap { case (_, nt, _, cid, off, _) =>
        cid to cid + (off + nt - 1) / budget
      }
      assert(touched == (0L to touched.max).toSet, "chunk ids not dense")
      assert(got.forall { case (_, _, _, _, off, _) => off >= 0 && off < budget })
    }
  }

  test("repetition kernel: hand-computed metrics, loop detection, tie-break") {
    // "a b a b a b": 6 tokens, 2 distinct → dup 4/6; top bigram ("a","b")
    // occurs 3× covering 3·2 of 6 chars
    val (n, dup, top) = TextOps.repetitionKernel("a b a b a b")
    assert(n == 6 && dup == 1.0 - 2.0 / 6 && top == 6.0 / 6)
    // all-distinct text: dup 0, top bigram covers its own chars once
    val (_, d2, t2) = TextOps.repetitionKernel("alpha beta gamma delta")
    assert(d2 == 0.0 && t2 == 9.0 / 19) // "alpha beta" = 9 chars of 19
    // tie-break: equal counts → lexicographically smallest pair wins
    val (_, _, t3) = TextOps.repetitionKernel("zz yy aa bb")
    assert(t3 == 4.0 / 8) // ("aa","bb") beats ("zz","yy") and ("yy","aa") at count 1
    // degenerate inputs
    assert(TextOps.repetitionKernel("") == ((0, 0.0, 0.0)))
    assert(TextOps.repetitionKernel("solo") == ((1, 0.0, 0.0)))
    // a generation loop is caught by the filter; clean text passes. The
    // clean doc must be LONG — on a short doc any single bigram covers a
    // large character share, which is exactly why Gopher's thresholds
    // assume document-length inputs
    import spark.implicits._
    val docs = Seq(
      (1L, "the model said the model said the model said the model said"),
      (2L, (0 until 60).map(i => s"word$i").mkString(" "))).toDF("doc_id", "text")
    val out = TextOps.withRepetition(spark, docs)
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(!out(1L) && out(2L))
  }

  test("fused lang_id / repetition_metrics match the scalar kernels; no UDF") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and it is warm for a day"),
      (2L, "der Hund und die Katze, das ist nicht ein Problem mit zu viel"),
      (3L, "这是一个中文句子没有空格也可以识别"),
      (4L, "the model said the model said the model said"),
      (5L, "")).toDF("doc_id", "text")
    val got = TextOps.withLang(spark, TextOps.withRepetition(spark, docs))
      .select("doc_id", "text", "predicted_lang", "n_tokens",
        "dup_word_frac", "top_bigram_frac")
      .as[(Long, String, String, Int, Double, Double)].collect()
    got.foreach { case (id, t, lang, n, dup, top) =>
      assert(lang === TextOps.langId(t), s"doc $id lang")
      val (rn, rd, rt) = TextOps.repetitionKernel(t)
      assert((n, dup, top) === ((rn, rd, rt)), s"doc $id metrics")
    }
    // null text quarantines to null — a deliberate change from the UDF
    // forms, which treated null as empty text ("und" / zero metrics)
    val nulls = Seq((9L, null: String)).toDF("doc_id", "text")
    val r = TextOps.withLang(spark, TextOps.withRepetition(spark, nulls))
      .select("predicted_lang", "n_tokens", "keep").head()
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    // both passes stay inside codegen — no per-row encoder round trip
    val plan = TextOps.withLang(spark, TextOps.withRepetition(spark, docs))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), s"text kernels fell out of codegen:\n$plan")
  }

  test("fused winnow_fps / cdc_chunks / tok_ngrams match the scalar kernels") {
    import spark.implicits._
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      (0 until 120).map(i => s"w${(i * 17) % 300}").mkString(" "),
      "short", "", "a b")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    // winnow: fused array === scalar array, in order
    val wGot = df.select(col("doc_id"),
        graft.text.TextExpr.winnowCol(spark, col("text")).as("fps"))
      .as[(Long, Seq[Long])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      assert(wGot(i.toLong) === TextOps.winnow(t).toSeq, s"doc $i winnow")
    }
    // cdc: fused structs === cdcChunks spans + normalized substrings
    val cGot = df.select(col("doc_id"),
        explode(graft.text.TextExpr.cdcChunksCol(spark, col("text"), 8, 63L)).as("c"))
      .select(col("doc_id"), col("c.chunk_idx"), col("c.chunk_start"),
        col("c.chunk_len"), col("c.chunk"))
      .as[(Long, Int, Int, Int, String)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).toSeq).toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val s = t.toLowerCase.replaceAll("\\s+", " ")
      val ref = TextOps.cdcChunks(t).zipWithIndex.map { case ((st, len), idx) =>
        (i.toLong, idx, st, len, s.substring(st, st + len))
      }
      assert(cGot.getOrElse(i.toLong, Seq.empty) === ref, s"doc $i cdc")
    }
    // tok_ngrams: exact-n windows over tokenize — short docs yield NOTHING
    // (the wordGrams SQL-split kernel would emit one truncated window)
    val gGot = df.select(col("doc_id"),
        graft.text.TextExpr.tokNgramsCol(spark, col("text"), 3).as("gs"))
      .as[(Long, Seq[String])].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      val w = TextOps.tokenize(t)
      val ref = (0 to w.length - 3).map(j => w.slice(j, j + 3).mkString(" "))
      assert(gGot(i.toLong) === ref, s"doc $i grams")
    }
    // null text quarantines across all three (the winnow/cdc flatMaps
    // threw on null; tok_ngrams' flatMap emitted nothing — same result)
    val nn = Seq((9L, null: String)).toDF("doc_id", "text")
    assert(nn.select(explode(graft.text.TextExpr.winnowCol(spark, col("text"))))
      .count() === 0)
    assert(nn.select(explode(graft.text.TextExpr.cdcChunksCol(spark, col("text"), 8, 63L)))
      .count() === 0)
    assert(nn.select(explode(graft.text.TextExpr.tokNgramsCol(spark, col("text"), 3)))
      .count() === 0)
  }

  import spark.implicits._
  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("bwt: inverse transform reconstructs the cleaned head exactly") {
    // standard LF-mapping inversion: stable-sort the BWT column to get
    // the first column, walk idx through the mapping
    def invert(bwt: String, idx: Int): String = {
      val n = bwt.length
      val order = bwt.zipWithIndex.sortBy { case (c, i) => (c, i) }
      val next = order.map(_._2).toArray
      val sb = new StringBuilder
      var p = idx
      var k = 0
      while (k < n) { p = next(p); sb.append(bwt.charAt(p)); k += 1 }
      sb.toString
    }
    val fixtures = Seq(
      (1L, "banana bandana"), (2L, "the quick brown fox"),
      (3L, "aaaaaaa"), (4L, ""), (5L, "MiXeD CaSe 123!@# and spaces"),
      (6L, null: String))
    val got = graft.text.TextOps.bwt(spark, docs(fixtures: _*))
      .as[(Long, String, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    for ((id, t) <- fixtures) {
      val cleaned = Option(t).getOrElse("").toLowerCase
        .filter(c => (c >= 'a' && c <= 'z') || c == ' ').take(48) + "~"
      val (bw, idx) = got(id)
      assert(bw.sorted == cleaned.sorted, s"doc $id: BWT must be a permutation")
      val rec = invert(bw, idx.toInt)
      // the inversion yields the string rotated so '~' comes last —
      // i.e. exactly `cleaned` when the sentinel is terminal
      assert(rec == cleaned, s"doc $id: inverse BWT $rec != $cleaned")
    }
    // known value: "banana" + '~' sentinel
    val one = graft.text.TextOps.bwt(spark, docs((9L, "banana")))
      .as[(Long, String, Long)].collect().head
    assert(one._2.length == 7 && one._2.sorted == "aaabnn~".sorted)
  }

  test("mtfRle: repetitive text scores far more zeros than varied text") {
    val rep = ("spam " * 20).trim
    val varied = "the quick brown fox jumps over lazy dogs quietly"
    val got = graft.text.TextOps.mtfRle(spark, docs((1L, rep), (2L, varied)))
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val (_, n1, z1, r1) = got(1L)
    val (_, n2, z2, r2) = got(2L)
    assert(n1 == 49 && n2 == 49) // 48 chars + sentinel
    assert(z1 > z2, s"repetitive zeros $z1 must exceed varied $z2")
    assert(r1 < r2, s"repetitive runs $r1 must undercut varied $r2")
    // zeros and runs are bounded by n; runs >= 1 on non-empty input
    got.values.foreach { case (_, n, z, r) =>
      assert(z <= n && r >= 1 && r <= n)
    }
  }

  test("bpeStep: argmax pair, GREEDY overlap handling, exact recount") {
    // words: aaaa (freq 2), ab (freq 3); before: (a,a)=6, (a,b)=3
    // argmax (a,a); greedy on "aaaa" takes positions 0 and 2 -> "aa","aa"
    // after: (aa,aa)=2, (a,b)=3
    val d = docs((1L, "aaaa ab ab"), (2L, "aaaa ab"))
    val got = TextOps.bpeStep(spark, d)
      .as[(String, String, String, Long)].collect().toSet
    assert(got == Set(
      ("before", "a", "a", 6L), ("before", "a", "b", 3L),
      ("after", "aa", "aa", 2L), ("after", "a", "b", 3L)))
    // lexicographic tie: (a,b) and (b,a) both count 2 -> merge (a,b);
    // "aba" greedy: only position 0 merges -> "ab","a" -> (ab,a)=2
    val d2 = docs((1L, "aba aba"))
    val got2 = TextOps.bpeStep(spark, d2)
      .as[(String, String, String, Long)].collect().toSet
    assert(got2 == Set(
      ("before", "a", "b", 2L), ("before", "b", "a", 2L),
      ("after", "ab", "a", 2L)))
    // odd run: "aaaaa" (5 a's, 4 adjacent pairs) greedy -> aa aa a:
    // after pairs (aa,aa)=1, (aa,a)=1
    val got3 = TextOps.bpeStep(spark, docs((1L, "aaaaa")))
      .as[(String, String, String, Long)].collect().toSet
    assert(got3 == Set(
      ("before", "a", "a", 4L),
      ("after", "aa", "aa", 1L), ("after", "aa", "a", 1L)))
  }
}

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs(n: Int, dim: Int = 16) = (0 until n).map { i =>
    (i.toLong, (0 until dim).map(d =>
      (graft.img.ImageTable.splitmix64(i * 100 + d).toDouble / Long.MaxValue).toFloat))
  }.toDF("vec_id", "embedding")

  test("native cosine_f32 kernel is bit-identical to the HOF reference form") {
    val v = vecs(60)
    val pairs = v.as("a").crossJoin(v.as("b"))
      .select(
        Similarity.cosineCol(col("a.embedding"), col("b.embedding")).as("hof"),
        Similarity.cosineFast(spark, col("a.embedding"), col("b.embedding")).as("native"))
      .as[(Double, Double)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (h, n) =>
      assert(java.lang.Double.doubleToRawLongBits(h) == java.lang.Double.doubleToRawLongBits(n))
    }
  }

  test("cosine_f32 nulls out null and length-mismatched inputs like the HOF form") {
    val df = Seq(
      (Some(Seq(1f, 2f)), Some(Seq(1f, 2f))),     // valid
      (Some(Seq(1f, 2f)), Some(Seq(1f, 2f, 3f))), // length mismatch
      (None, Some(Seq(1f, 2f)))                   // null input
    ).toDF("a", "b")
    val rows = df.select(
      Similarity.cosineCol(col("a"), col("b")).as("hof"),
      Similarity.cosineFast(spark, col("a"), col("b")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null parity: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(rows.count(_.isNullAt(1)) == 2)
  }

  test("cosine_f32 nulls out arrays containing NULL ELEMENTS like the HOF form") {
    // a corrupt embedding with a null slot must not rank with a garbage
    // numeric cosine — zip_with→aggregate nulls the row, so must the kernel
    val df = Seq(
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](1f, 2f, 3f)),
      (Seq[java.lang.Float](1f, null, 3f), Seq[java.lang.Float](1f, 2f, 3f)),
      (Seq[java.lang.Float](1f, 2f, 3f), Seq[java.lang.Float](null, 2f, 3f))
    ).toDF("a", "b")
    val rows = df.select(
      Similarity.cosineCol(col("a"), col("b")).as("hof"),
      Similarity.cosineFast(spark, col("a"), col("b")).as("native"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null parity: $r")
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
    }
    assert(rows.count(_.isNullAt(1)) == 2)
  }

  test("brute-force top-k: self excluded, ranks contiguous, cosine descending") {
    val v = vecs(50)
    val r = Similarity.bruteForceTopK(v.filter($"vec_id" < 5), v, 3)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2), x.getDouble(3)))
    assert(r.length == 15)
    r.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._3).sorted.sameElements(Array(1, 2, 3)))
      assert(rows.sortBy(_._3).map(_._4).sliding(2).forall(p => p(0) >= p(1)))
      assert(rows.forall(x => x._1 != x._2))
    }
  }

  test("IVF top-k achieves reasonable recall@5 vs brute force") {
    val v = vecs(200)
    val q = v.filter($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(q, v, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rows = Similarity.ivfTopK(spark, q, v, 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val ivf = rows.map(r => (r._1, r._2)).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall") // approximate by design; floor pins regressions
    // every returned rank list is well-formed
    rows.groupBy(_._1).values.foreach(rs =>
      assert(rs.map(_._3).sorted.sameElements(1 to rs.length)))
  }

  test("IVF bucketed storage: exact centroid round-trip, partition-pruned reads, recall floor") {
    val v = vecs(200)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfbkt").toString
    val cents = Similarity.writeIvfBucketed(spark, v, dir, nlist = 8)
    assert(cents.nonEmpty)
    // layout: one cid=N partition dir per surviving list
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("cid=")))
    // persisted centroids round-trip bit-exactly (IEEE bits, not decimals)
    val back = Similarity.readIvfCentroids(spark, dir)
    assert(back.map(_._1).sameElements(cents.map(_._1)))
    back.zip(cents).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }

    val q = v.filter($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(q, v, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfTopKBucketed(spark, q, dir, 5, nprobe = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect got).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall")

    // the probed-list filter must reach the source as a PARTITION filter
    // (file pruning), not a post-scan predicate
    val plan = spark.read.parquet(dir).filter(col("cid").isin(0, 1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cid"), s"no partition pruning:\n$plan")
  }

  test("IVF refresh: delta-only rewrite, drained list dropped, frozen quantizer") {
    val v = vecs(200)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfref").toString
    val cents = Similarity.writeIvfBucketed(spark, v, dir, nlist = 8)
    val assign = spark.read.parquet(dir).select("vec_id", "cid")
      .as[(Long, Int)].collect()
    // drain the smallest list entirely; upsert two vectors; delete one more
    val drainCid = assign.groupBy(_._2).toSeq.minBy(_._2.length)._1
    val drainIds = assign.filter(_._2 == drainCid).map(_._1).toSet
    val extraDel = assign.map(_._1).filterNot(drainIds).min
    val upserts = v.filter($"vec_id".isin(7L, 11L))
    val deletes = (drainIds + extraDel -- Set(7L, 11L))
      .toSeq.toDF("vec_id")
    val before = new java.io.File(dir).listFiles().filter(_.getName.startsWith("cid="))
      .flatMap(d => d.listFiles()).map(f => f.getPath -> f.lastModified()).toMap
    val affectedUp = spark.read.parquet(dir)
      .filter($"vec_id".isin(7L, 11L)).select("cid").as[Int].collect().toSet
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    val n = Similarity.ivfRefresh(spark, dir, upserts, deletes)
    assert(n > 0)
    // dynamic overwrite is a per-write option: the session conf is untouched
    assert(spark.conf.getOption(modeKey) === modeBefore)
    // the drained list's partition directory is gone
    assert(!new java.io.File(dir, s"cid=$drainCid").exists(),
      s"drained list cid=$drainCid must be dropped")
    // unaffected partitions' files are byte-level untouched (same paths,
    // same mtimes) - the rewrite is delta-only, never corpus-wide
    val affectedCids = affectedUp ++
      assign.filter(r => drainIds.contains(r._1) || r._1 == extraDel).map(_._2).toSet
    val untouched = before.keys.filterNot(p0 =>
      affectedCids.exists(c => p0.contains(s"cid=$c/")))
    assert(untouched.nonEmpty)
    untouched.foreach { p0 =>
      val f = new java.io.File(p0)
      assert(f.exists() && f.lastModified() === before(p0), s"$p0 was rewritten")
    }
    // row set after refresh = original - deletes (incl. drained) + upserts
    val got = spark.read.parquet(dir).select("vec_id").as[Long].collect().toSet
    val expect = assign.map(_._1).toSet -- drainIds - extraDel ++ Set(7L, 11L)
    assert(got === expect)
    // quantizer frozen: sidecar centroids bit-identical
    val after = Similarity.readIvfCentroids(spark, dir)
    assert(after.map(_._1).sameElements(cents.map(_._1)))
    after.zip(cents).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }
  }

  test("IVF refresh victim probe prunes the scan to the skinny columns") {
    // ivfRefresh locates victims with a (vec_id, cid) read - the vector
    // column (64x the bytes) must be PRUNED out of that scan, or refresh
    // cost tracks corpus size instead of delta size
    val v = vecs(100)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfskinny").toString
    Similarity.writeIvfBucketed(spark, v, dir, nlist = 4)
    val victims = v.filter($"vec_id" % 40 === 7).select($"vec_id")
    val plan = spark.read.parquet(dir).select(col("vec_id"), col("cid"))
      .join(broadcast(victims), Seq("vec_id")).select(col("cid")).distinct()
      .queryExecution.executedPlan.toString
    val indexScan = plan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains(dir)).mkString
    assert(indexScan.nonEmpty, s"no index scan found:\n$plan")
    assert(indexScan.contains("ReadSchema: struct<vec_id:bigint>"),
      s"victim probe must read vec_id only (cid rides on partition dirs):\n$indexScan")
  }

  test("PQ stored codes: exact codebook round-trip, stored path == compute path") {
    val v = vecs(200)
    val dir = java.nio.file.Files.createTempDirectory("graft-pqstore").toString
    val cbs = Similarity.writePqEncoded(spark, v, dir, m = 4, ksub = 8)
    // persisted codebooks round-trip bit-exactly (IEEE bits, not decimals)
    val (back, ksub) = Similarity.readPqCodebooks(spark, dir)
    assert(ksub === 8 && back.length === cbs.length)
    back.zip(cbs).foreach { case (bj, cj) =>
      assert(bj.map(_._1).sameElements(cj.map(_._1)))
      bj.zip(cj).foreach { case ((_, a), (_, b)) => assert(a.sameElements(b)) }
    }
    // the stored-codes query is row-for-row the in-memory pqTopK - the
    // encode->store->score round trip loses nothing
    val q = v.filter($"vec_id" < 20)
    val stored = Similarity.pqTopKStored(spark, q, dir, 5)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    val direct = Similarity.pqTopK(spark, q, v, 5, m = 4, ksub = 8)
      .as[(Long, Long, Int, Double)].collect().sortBy(r => (r._1, r._3))
    assert(stored.length === direct.length && stored.nonEmpty)
    stored.zip(direct).foreach { case (a, b) =>
      assert(a._1 === b._1 && a._2 === b._2 && a._3 === b._3)
      assert(java.lang.Double.doubleToLongBits(a._4) ===
        java.lang.Double.doubleToLongBits(b._4))
    }
  }

  test("PQ-ADC top-k approximates exact L2 ranking within a recall floor") {
    val v = vecs(200)
    val q = v.filter($"vec_id" < 20)
    // exact L2 top-5 reference (PQ approximates squared L2, not cosine)
    val all = v.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val exact = all.filter(_._1 < 20).flatMap { case (qid, qe) =>
      all.filter(_._1 != qid).map { case (nid, ne) =>
        var d = 0.0; var i = 0
        while (i < qe.length) { val t = qe(i).toDouble - ne(i); d += t * t; i += 1 }
        (qid, nid, d)
      }.sortBy(x => (x._3, x._2)).take(5).map(x => (x._1, x._2))
    }.toSet
    val rows = Similarity.pqTopK(spark, q, v, 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val pq = rows.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.4, s"recall $recall") // 64x-compressed codes; floor pins regressions
    rows.groupBy(_._1).values.foreach(rs =>
      assert(rs.map(_._3).sorted.sameElements(1 to rs.length)))
  }

  test("IVFADC (residual PQ) hits a recall floor and only scans probed lists") {
    val v = vecs(200)
    val q = v.filter($"vec_id" < 20)
    val all = v.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    val exact = all.filter(_._1 < 20).flatMap { case (qid, qe) =>
      all.filter(_._1 != qid).map { case (nid, ne) =>
        var d = 0.0; var i = 0
        while (i < qe.length) { val t = qe(i).toDouble - ne(i); d += t * t; i += 1 }
        (qid, nid, d)
      }.sortBy(x => (x._3, x._2)).take(5).map(x => (x._1, x._2))
    }.toSet
    val rows = Similarity.ivfpqTopK(spark, q, v, 5, nlist = 8, nprobe = 3)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect()
    val got = rows.map(r => (r._1, r._2)).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    // coarse pruning caps recall at the probed-list mass; residual PQ
    // quantizes better than raw-vector PQ, so the floor holds with margin
    assert(recall >= 0.35, s"recall $recall")
    rows.groupBy(_._1).values.foreach(rs =>
      assert(rs.map(_._3).sorted.sameElements(1 to rs.length)))
  }

  test("LSH top-k achieves reasonable recall@5 vs brute force") {
    val v = vecs(200)
    val q = v.filter($"vec_id" < 20)
    val brute = Similarity.bruteForceTopK(q, v, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val l = Similarity.lshTopK(spark, q, v, 5, bands = 4, bitsPerBand = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect l).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall $recall") // approximate by design; floor pins regressions
  }

  test("near-dup pairs: exact copies guaranteed (same signature); nudged copies by recall") {
    val v = vecs(100)
    val exact = v.filter($"vec_id" % 20 === 0).as[(Long, Seq[Float])]
      .map { case (id, e) => (id + 1000, e) }.toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(spark, v.union(exact), 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val expected = (0 until 100 by 20).map(i => (i.toLong, i + 1000L)).toSet
    assert(expected.subsetOf(pairs), s"missing ${expected -- pairs}")

    // a sign-LSH bucket miss is possible for nudged copies (hyperplane margin
    // near 0) — require recall, not totality
    val nudged = v.filter($"vec_id" % 10 === 0).as[(Long, Seq[Float])]
      .map { case (id, e) => (id + 2000, e.updated(0, e.head + 0.001f)) }
      .toDF("vec_id", "embedding")
    val got = Similarity.nearDupPairs(spark, v.union(nudged), 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val want = (0 until 100 by 10).map(i => (i.toLong, i + 2000L)).toSet
    val recall = (want intersect got).size.toDouble / want.size
    assert(recall >= 0.7, s"recall $recall")
  }

  test("semantic dedup: every row labeled, exact copies dropped, keeper is the min id") {
    val v = vecs(100)
    // exact copies share the vector bit-for-bit ⇒ identical nearest
    // centroid ⇒ guaranteed same cluster ⇒ guaranteed candidate pair
    val copies = v.filter($"vec_id" % 20 === 0).as[(Long, Seq[Float])]
      .map { case (id, e) => (id + 1000, e) }.toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(spark, v.union(copies),
      minCosine = 0.99, nlist = 8)
      .select("vec_id", "cid", "kept").as[(Long, Int, Boolean)].collect()
    // totality: one labeled row per input row, cid within the quantizer
    assert(out.length == 105)
    assert(out.map(_._1).distinct.length == 105)
    assert(out.forall(r => r._2 >= 0 && r._2 < 8))
    val byId = out.map(r => r._1 -> r).toMap
    (0 until 100 by 20).foreach { i =>
      // copy pairs share a cluster, the original (min id) is the keeper
      assert(byId(i.toLong)._2 == byId(i + 1000L)._2, s"pair $i split across clusters")
      assert(byId(i.toLong)._3, s"original $i not kept")
      assert(!byId(i + 1000L)._3, s"copy of $i kept")
    }
    // unduplicated rows are singletons — all kept
    assert(out.count(_._3) == 100)
  }

  test("semantic dedup oversized clusters degrade to star pairs, never drop duplicates") {
    // 40 IDENTICAL vectors all land in one cluster (first-min assignment is
    // deterministic on ties); maxCluster=8 forces the star fallback. The
    // policy contract: the cluster stays connected through its min-id hub,
    // so exactly the hub survives — over-cap degradation loses pair
    // RESOLUTION, never duplicates.
    val base = Array.tabulate(64)(d => (d % 7 + 1).toFloat).toSeq
    val v = (0L until 40L).map(i => (i, base)).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(spark, v, minCosine = 0.999, nlist = 2, maxCluster = 8)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out.size == 40)
    assert(out(0L), "hub not kept")
    (1L until 40L).foreach(i => assert(!out(i), s"copy $i survived star-path dedup"))
  }

  test("recallAtK: exact hit counts, zero-hit query kept, exact self-recall is total") {
    val exact = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("query_id", "neighbor_id")
    val approx = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 77L), (2L, 78L), (3L, 55L))
      .toDF("query_id", "neighbor_id")
    val got = Similarity.recallAtK(exact, approx)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(1L -> ((2L, 3L)), 2L -> ((0L, 2L)), 3L -> ((0L, 1L))))
    // an index evaluated against itself recalls everything
    val self = Similarity.recallAtK(exact, exact).as[(Long, Long, Long)].collect()
    assert(self.forall(r => r._2 === r._3))
  }

  test("JL projection matches the scalar fold order and preserves distances") {
    val v = vecs(100, dim = 64)
    val out = Similarity.jlProject(spark, v, inDim = 64, outDim = 16)
    val rows = out.collect().map(r =>
      r.getLong(0) -> (0 until 16).map(j => r.getDouble(j + 1))).toMap
    // bit-exact against the same-order scalar fold
    val in = v.as[(Long, Seq[Float])].collect().toMap
    def signOf(j: Int, i: Int): Double =
      if ((graft.img.ImageTable.splitmix64(j * 131071L + i * 524287L + 99L) & 1L) == 0L)
        1.0 else -1.0
    for ((id, emb) <- in.take(10); j <- 0 until 16) {
      var acc = 0.0
      var i = 0
      while (i < 64) { acc += emb(i).toDouble * signOf(j, i); i += 1 }
      assert(rows(id)(j) == acc, s"vec $id dim $j")
    }
    // JL guarantee shape: E||ya-yb||^2 = k * ||a-b||^2 with +-1 entries.
    // Deterministic fixture, so these observed ratios are stable pins.
    val ids = in.keys.toSeq.sorted.take(20)
    val ratios = for (a <- ids; b <- ids if a < b) yield {
      val (ea, eb) = (in(a), in(b))
      var dx = 0.0
      for (i <- 0 until 64) { val t = ea(i).toDouble - eb(i); dx += t * t }
      var dy = 0.0
      for (j <- 0 until 16) { val t = rows(a)(j) - rows(b)(j); dy += t * t }
      dy / (16.0 * dx)
    }
    assert(ratios.forall(r => r > 0.1 && r < 3.0), s"worst ${ratios.min}/${ratios.max}")
    val sortedR = ratios.sorted
    val median = sortedR(sortedR.size / 2)
    assert(median > 0.6 && median < 1.5, s"median distortion $median")
    // narrow plan: literals baked in, no UDF, no exchange
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("Exchange"), plan)
  }
}
