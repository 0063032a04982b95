package graft

import graft.core.Serialize
import graft.functions.TopKBuffer
import graft.llm.Llm
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY §5.2): pure kernels via scalacheck `forAll`;
  * DataFrame-level properties as one-job batch checks over generated data
  * (per-case Spark jobs would be 100× slower for the same coverage).
  */
class PropertySpec extends AnyFunSuite with LocalSession {

  private def check(p: Prop, minTests: Int = 100): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(r.passed, r.status.toString)
  }

  test("saltedJoin ≡ plain join under randomized key distributions, all four join types") {
    import spark.implicits._
    // seeded-random scenarios (deterministic test): a hot key holding most
    // big-side rows, many single-row matched keys (the advisor-r11 regime
    // where a per-replica unmatched-ness decision fails), null keys on both
    // sides (equality semantics: never match), duplicate other-side keys
    // (matched multiplicity), keys present on only one side, and varying
    // salt factors including 1 (degenerate) and 32 (every key multi-salt)
    def rows(d: org.apache.spark.sql.DataFrame): Seq[String] =
      d.collect().map(_.mkString("|")).sorted.toSeq
    for ((seed, saltFactor) <- Seq((1, 32), (7, 8), (42, 2), (13, 1))) {
      val rnd = new scala.util.Random(seed)
      val hot = rnd.nextInt(5).toLong
      val big = (0 until 400).map { i =>
        val k: java.lang.Long =
          if (rnd.nextDouble() < 0.6) java.lang.Long.valueOf(hot)
          else if (rnd.nextDouble() < 0.05) null
          else java.lang.Long.valueOf(rnd.nextInt(60).toLong)
        (k, i)
      }.toDF("k", "v")
      val other = (0 until 40).map { i =>
        val k: java.lang.Long =
          if (rnd.nextDouble() < 0.05) null
          else java.lang.Long.valueOf(rnd.nextInt(80).toLong)
        (k, s"w$i")
      }.toDF("k", "w")
      for (jt <- Seq("inner", "left", "right", "full")) {
        val plain = rows(big.join(other, Seq("k"), jt))
        val salted = rows(
          graft.operators.Skew.saltedJoin(big, other, Seq("k"), saltFactor, jt))
        assert(salted == plain,
          s"seed=$seed saltFactor=$saltFactor jt=$jt: salted ≠ plain")
      }
    }
  }

  test("bm25 filtered view ≡ allow-restricted unfiltered search under randomized " +
      "corpora, allow fractions, and k — pinned (resident) and unpinned regimes") {
    import spark.implicits._
    import graft.operators.Lexical
    // reference semantics from the UNFILTERED search at k = corpus size:
    // drop disallowed docs, re-close ranks, cut to k — filter-context
    // scoring means every surviving (qid, doc, score) triple carries over
    // bit-for-bit (FilteredViewSpec pins the regimes; this pins the space)
    def expected(all: Seq[(Long, Long, Long, Double)], allow: Long => Boolean,
        k: Int): Seq[(Long, Long, Long, Double)] =
      all.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy(_._2).filter(t => allow(t._3)).take(k).zipWithIndex
          .map { case ((q, _, d, s), i) => (q, (i + 1).toLong, d, s) }
      }.sortBy(t => (t._1, t._2))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Double)] =
      df.select("query_id", "rank", "doc_id", "score")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    for ((seed, pin) <- Seq((11, false), (23, true), (37, false), (59, true))) {
      val rnd = new scala.util.Random(seed)
      val n = 40 + rnd.nextInt(80)
      val mod = 2 + rnd.nextInt(4)
      val k = 1 + rnd.nextInt(5)
      val d = (0 until n).map { i =>
        val words = (0 until 2 + rnd.nextInt(6)).map(_ => vocab(rnd.nextInt(vocab.size)))
        (i.toLong, (words :+ s"id$i").mkString(" "))
      }.toDF("doc_id", "text")
      val dir = java.nio.file.Files.createTempDirectory(s"graft_prop_bmflt$seed").toString
      val (p, s) = Lexical.bm25BuildIndex(d, "doc_id", "text")
      Lexical.bm25WriteIndex(p, s, dir, nBuckets = 4 + rnd.nextInt(8))
      val idx = Lexical.bm25OpenIndex(spark, dir)
      if (pin) idx.postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
        .count()
      try {
        val q = d.filter(col("doc_id") < 5)
        val all = rows(Lexical.bm25SearchIndex(idx, q, "doc_id", "text", k = n))
        val view = Lexical.bm25FilteredView(idx,
          d.filter(col("doc_id") % mod === 0).select("doc_id"), "doc_id")
        val got = rows(Lexical.bm25SearchIndex(view, q, "doc_id", "text", k = k))
        assert(got == expected(all, _ % mod == 0, k),
          s"seed=$seed pin=$pin n=$n mod=$mod k=$k")
      } finally if (pin) idx.postings.unpersist()
    }
  }

  test("DetHash: buckets land in [0, modulus), deterministic, gumbel finite; md5 reference parity") {
    import spark.implicits._
    // one batch job over generated keys (strings with junk + longs), three
    // moduli — range, determinism across recompute, and agreement with a
    // directly-computed md5 reference (the cross-engine contract)
    val keys = (0 until 500).map(i => s"k$i ${"%c".format(33 + i % 90)}") ++
      (0 until 100).map(_.toString)
    val df = keys.toDF("k")
    for (mod <- Seq(7L, 1000L, 1000000L)) {
      val got = df.select(col("k"),
          graft.functions.DetHash.md5Bucket(col("k"), 42L, mod).as("b"),
          graft.functions.DetHash.gumbelNoise(col("k"), 7L).as("g"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      assert(got.forall { case (_, b, _) => b >= 0 && b < mod }, s"mod=$mod out of range")
      assert(got.forall { case (_, _, g) => !g.isNaN && !g.isInfinite }, "gumbel must be finite")
      // reference: uint32 of the first 8 md5 hex chars mod modulus
      got.foreach { case (k, b, _) =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest((k + "#42").getBytes("UTF-8"))
          .take(4).map("%02x".format(_)).mkString
        val expect = java.lang.Long.parseLong(hex, 16) % mod
        assert(b == expect, s"key=$k mod=$mod")
      }
    }
  }

  test("judge parser: never throws, is_match in {0,1}, confidence clamped to [0,1]") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val (m, c) = Llm.parseJudgeResponse(s)
      (m == 0 || m == 1) && c >= 0.0 && c <= 1.0
    })
    // numeric confidences anywhere in free text get clamped, not rejected
    check(Prop.forAll(Gen.chooseNum(-1000.0, 1000.0)) { x =>
      val (_, c) = Llm.parseJudgeResponse(s"""{"is_match": 1, "confidence": $x}""")
      c >= 0.0 && c <= 1.0
    })
  }

  test("AudioCodec: WAV encode/decode round-trips any 16-bit sample sequence") {
    import graft.operators.Multimodal.AudioCodec
    val gen = for {
      rate <- Gen.oneOf(4000, 8000, 16000, 44100)
      samples <- Gen.nonEmptyListOf(Gen.chooseNum(Short.MinValue.toInt, Short.MaxValue.toInt))
    } yield (rate, samples)
    check(Prop.forAll(gen) { case (rate, samples) =>
      val wav = AudioCodec.encodeWav(rate, samples.length, samples(_))
      val d = AudioCodec.decode(wav).get
      d.sampleRate == rate && d.channels == 1 &&
        d.frames == samples.length.toLong && d.samples.toSeq == samples
    }, minTests = 50)
  }

  test("Fuzzy: deletion blocking finds every <=k pair on random small-alphabet strings") {
    // one-job batch check (per-case Spark jobs would be 100x slower): random
    // strings over {a,b,c} collide constantly, the adversarial regime for any
    // blocking scheme; blocking+verify must equal naive all-pairs levenshtein
    import spark.implicits._
    import graft.operators.Fuzzy
    val rnd = new scala.util.Random(20260813L)
    val rows = (0 until 120).map { i =>
      (i.toLong, (0 until (1 + rnd.nextInt(8))).map(_ => "abc"(rnd.nextInt(3))).mkString)
    }
    val df = rows.toDF("id", "s").repartition(7) // partitioning must not matter
    for (k <- Seq(1, 2)) {
      val blocked = Fuzzy.fuzzyPairs(df, "id", "s", maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      val naive = df.as("a").crossJoin(df.as("b"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id"), levenshtein(col("a.s"), col("b.s")).as("d"))
        .filter(col("d") <= k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      assert(blocked == naive, s"k=$k: blocked ${blocked.size} vs naive ${naive.size}")
    }
  }

  test("TopKBuffer equals sort-take reference for random inputs") {
    // distinct ids, like real kNN candidates (ids are row ids)
    val gen = for {
      k <- Gen.chooseNum(1, 8)
      m <- Gen.mapOf(Gen.zip(Gen.chooseNum(0L, 50L), Gen.chooseNum(-1.0, 1.0)))
      order <- Gen.const(scala.util.Random.javaRandomToRandom(
        new java.util.Random(k)).shuffle(m.toList))
    } yield (k, order)
    check(Prop.forAll(gen) { case (k, xs) =>
      val buf = new TopKBuffer(k)
      xs.foreach { case (id, s) => buf.insert(s, id) }
      val got = (0 until buf.n).map(i => (buf.scores(i), buf.ids(i)))
      val want = xs.map { case (id, s) => (s, id) }
        .sortBy { case (s, id) => (-s, id) }.take(k)
      got == want
    })
  }

  test("TopKPayloadBuffer rerank equals the two-stage select-then-rerank reference") {
    val gen = for {
      kc <- Gen.chooseNum(1, 10)
      kf <- Gen.chooseNum(1, 10).map(math.min(_, 10))
      m <- Gen.mapOf(Gen.zip(Gen.chooseNum(0L, 60L),
        Gen.zip(Gen.chooseNum(-1.0, 1.0), Gen.chooseNum(-1.0, 1.0))))
      order <- Gen.const(scala.util.Random.javaRandomToRandom(
        new java.util.Random(kc)).shuffle(m.toList))
    } yield (kc, math.min(kf, kc), order)
    check(Prop.forAll(gen) { case (kc, kf, xs) =>
      // fused: coarse-keep kc by score, rerank kf by payload (buffer-level —
      // the aggregate's eval runs exactly this)
      val buf = new graft.functions.TopKPayloadBuffer(kc)
      xs.foreach { case (id, (s, p)) => buf.insert(s, id, p) }
      val fin = new TopKBuffer(kf)
      (0 until buf.n).foreach(i => fin.insert(buf.payloads(i), buf.ids(i)))
      val got = (0 until fin.n).map(i => (fin.scores(i), fin.ids(i)))
      // reference: sort-take kc by (score desc, id asc), then sort-take kf of
      // those by (payload desc, id asc)
      val coarse = xs.map { case (id, (s, p)) => (s, id, p) }
        .sortBy { case (s, id, _) => (-s, id) }.take(kc)
      val want = coarse.map { case (_, id, p) => (p, id) }
        .sortBy { case (p, id) => (-p, id) }.take(kf)
      got == want
    })
  }

  test("cosine: symmetric, bounded, self-similarity 1 (batch property)") {
    import spark.implicits._
    import graft.functions.VectorOps._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 300).map { i =>
      val d = 1 + rnd.nextInt(16)
      val a = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      val b = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      // avoid zero vectors (cosine undefined — reference clips norms at 1e-12)
      (i.toLong, a.map(x => if (x == 0.0) 0.5 else x), b.map(x => if (x == 0.0) 0.5 else x))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
      cosine(col("a"), col("b")).as("ab"),
      cosine(col("b"), col("a")).as("ba"),
      cosine(col("a"), col("a")).as("aa")).collect()
    out.foreach { r =>
      val (ab, ba, aa) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(ab == ba, s"asymmetric: $ab vs $ba")
      assert(ab >= -1.0 && ab <= 1.0)
      assert(math.abs(aa - 1.0) < 1e-9, s"self-sim $aa")
    }
  }

  test("serializer: every cell slot preserved, nulls become empty strings (batch)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      def cell(): String = rnd.nextInt(4) match {
        case 0 => null
        case 1 => ""
        case _ => rnd.alphanumeric.take(rnd.nextInt(8)).mkString
      }
      (i, cell(), cell(), cell())
    }
    val df = rows.toDF("id", "c1", "c2", "c3")
    val sep = "</s>"
    val out = df.select(col("id"),
      Serialize.serializeColumns(Seq(col("c1"), col("c2"), col("c3")), sep).as("s"))
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    rows.foreach { case (i, c1, c2, c3) =>
      val want = Seq(c1, c2, c3).map(c => if (c == null) "" else c).mkString(sep)
      assert(out(i) == want, s"row $i: got '${out(i)}' want '$want'")
    }
  }

  test("minhash signature: union = elementwise min of signatures (batch)") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 100).map { i =>
      val a = (0 until 1 + rnd.nextInt(8)).map(_ => rnd.alphanumeric.take(5).mkString).toArray
      val b = (0 until 1 + rnd.nextInt(8)).map(_ => rnd.alphanumeric.take(5).mkString).toArray
      (i.toLong, a, b, (a ++ b).distinct)
    }
    val df = rows.toDF("id", "a", "b", "u")
    val out = df.select(
      graft.operators.Dedup.minhashSignature(col("a"), 16).as("sa"),
      graft.operators.Dedup.minhashSignature(col("b"), 16).as("sb"),
      graft.operators.Dedup.minhashSignature(col("u"), 16).as("su")).collect()
    out.foreach { r =>
      val sa = r.getSeq[Long](0); val sb = r.getSeq[Long](1); val su = r.getSeq[Long](2)
      assert(su == sa.zip(sb).map { case (x, y) => math.min(x, y) },
        "sig(A ∪ B) must equal min(sig(A), sig(B))")
    }
  }

  test("hamming64 and the distance columns satisfy metric axioms (batch)") {
    import spark.implicits._
    import graft.functions.VectorOps._
    val rnd = new scala.util.Random(19)
    val fps = (0 until 200).map(i =>
      (i.toLong, rnd.nextLong(), rnd.nextLong(), rnd.nextLong()))
    val hdf = fps.toDF("id", "x", "y", "z")
    hdf.select(
      graft.operators.Dedup.hamming64(col("x"), col("y")).as("xy"),
      graft.operators.Dedup.hamming64(col("y"), col("x")).as("yx"),
      graft.operators.Dedup.hamming64(col("x"), col("x")).as("xx"),
      graft.operators.Dedup.hamming64(col("x"), col("z")).as("xz"),
      graft.operators.Dedup.hamming64(col("y"), col("z")).as("yz")).collect()
      .foreach { r =>
        assert(r.getInt(0) == r.getInt(1) && r.getInt(2) == 0)
        assert(r.getInt(3) <= r.getInt(0) + r.getInt(4), "hamming triangle inequality")
      }
    val vecs = (0 until 150).map { i =>
      def v() = Array.fill(8)(rnd.nextDouble() * 4 - 2)
      (i.toLong, v(), v(), v())
    }
    val vdf = vecs.toDF("id", "a", "b", "c")
    vdf.select(
      manhattan(col("a"), col("b")).as("m_ab"), manhattan(col("b"), col("a")).as("m_ba"),
      manhattan(col("a"), col("a")).as("m_aa"),
      manhattan(col("a"), col("c")).as("m_ac"), manhattan(col("b"), col("c")).as("m_bc"),
      euclidean(col("a"), col("b")).as("e_ab"), euclidean(col("a"), col("c")).as("e_ac"),
      euclidean(col("b"), col("c")).as("e_bc")).collect()
      .foreach { r =>
        assert(r.getDouble(0) == r.getDouble(1) && r.getDouble(2) == 0.0)
        assert(r.getDouble(3) <= r.getDouble(0) + r.getDouble(4) + 1e-9, "manhattan triangle")
        assert(r.getDouble(6) <= r.getDouble(5) + r.getDouble(7) + 1e-9, "euclidean triangle")
        // L2 <= L1 elementwise-sum bound
        assert(r.getDouble(5) <= r.getDouble(0) + 1e-9)
      }
  }

  test("srpRecallAtTau: bounded in [0,1], monotone in bands, anti-monotone in bits") {
    import graft.operators.Clustering.srpRecallAtTau
    for (tau <- Seq(0.0, 0.3, 0.5, 0.7, 0.9, 0.99); bands <- Seq(1, 4, 8, 32)) {
      val r = srpRecallAtTau(tau, bands, 8)
      assert(r >= 0.0 && r <= 1.0, s"recall out of range at tau=$tau bands=$bands: $r")
      // more bands can only help; longer bands can only hurt
      assert(srpRecallAtTau(tau, bands * 2, 8) >= r - 1e-12)
      assert(srpRecallAtTau(tau, bands, 16) <= r + 1e-12)
      // higher similarity is easier to find
      assert(srpRecallAtTau(math.min(1.0, tau + 0.01), bands, 8) >= r - 1e-12)
    }
    // identical vectors always collide
    assert(math.abs(srpRecallAtTau(1.0, 8, 8) - 1.0) < 1e-9)
  }

  test("nBandsForRecall is the minimal band count reaching the target") {
    import graft.operators.Clustering.{nBandsForRecall, srpRecallAtTau}
    for (tau <- Seq(0.3, 0.5, 0.7, 0.9); bits <- Seq(4, 8); target <- Seq(0.5, 0.9, 0.99)) {
      val n = nBandsForRecall(tau, bits, target)
      assert(srpRecallAtTau(tau, n, bits) >= target - 1e-12,
        s"tau=$tau bits=$bits target=$target n=$n misses the target")
      assert(n == 1 || srpRecallAtTau(tau, n - 1, bits) < target,
        s"tau=$tau bits=$bits target=$target n=$n is not minimal")
    }
    assert(nBandsForRecall(1.0, 8, 0.999) == 1) // identical vectors: one band suffices
  }

  test("minhash signature: invariant under permutation and duplication (batch)") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = (0 until 100).map { i =>
      val sh = (0 until 1 + rnd.nextInt(10)).map(_ => rnd.alphanumeric.take(5).mkString)
      val permuted = rnd.shuffle(sh ++ sh.take(rnd.nextInt(sh.size + 1)))
      (i.toLong, sh.toArray, permuted.toArray)
    }
    val df = rows.toDF("id", "sh", "perm")
    val out = df.select(
      graft.operators.Dedup.minhashSignature(col("sh"), 16).as("a"),
      graft.operators.Dedup.minhashSignature(col("perm"), 16).as("b")).collect()
    out.foreach { r => assert(r.get(0) == r.get(1), s"signature not invariant: $r") }
  }

  test("TermsExpr equals the regex tokenizer composition on corpus + adversarial strings") {
    import spark.implicits._
    val adversarial = Seq(
      "", "   ", "\t\n\f\r", "a", " a ", "a  b", "\ta\rb\ncd\fe ",
      "MiXeD CaSe WORDS", "İstanbul STRASSE ĳ", "héllo wörld 中文 分词",
      "a b", // NBSP is NOT a delimiter — must stay one token
      "ends with tab\t", "\nstarts with newline", "double  space\t\ttab")
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text")).as[String].collect().toSeq
    val df = (adversarial ++ corpus).toDF("t")
    val both = df.select(
      graft.operators.Lexical.terms(col("t")).as("native"),
      array_remove(split(lower(trim(col("t"))), "[ \\t\\n\\u000B\\f\\r]+"), "").as("ref"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"tokenizer divergence: native=${r.getSeq[String](0)} ref=${r.getSeq[String](1)}")
    }
  }

  test("lexical/packing/paragraph operators are partition-invariant (bit-exact)") {
    // the cross-engine-oracle claim rests on partition-independence: the same
    // input under different partitionings must produce byte-identical results
    import spark.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("")).sorted.toSeq
    def under[A](parts: Int)(f: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Seq[String] =
      canon(f(docs.repartition(parts)))
    val queries = docs.filter(col("doc_id") < 5).select(col("doc_id").as("qid"), col("text"))
    def bm25(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Lexical.bm25TopK(d, "doc_id", "text",
        queries, "qid", "text", k = 3)
    assert(under(1)(bm25) == under(7)(bm25))
    def lm(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Lexical.unigramBitsPerToken(d, "doc_id", "text")
        .select("doc_id", "lm_n_tokens", "lm_bits_per_token")
    assert(under(2)(lm) == under(11)(lm))
    def pack(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Packing.packTokens(
        d.select(col("doc_id"), graft.operators.TextAnalysis.tokenCount(col("text")).as("n")),
        "doc_id", "n", budget = 256)
    assert(under(1)(pack) == under(13)(pack))
    def para(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.paragraphDedup(
        d.select(col("doc_id"), concat_ws("\n", col("text"), col("text")).as("pg")),
        "doc_id", "pg")
    assert(under(3)(para) == under(17)(para))
    // r5 operators inherit the same contract: the span-df census and the
    // key-ordered sum must not depend on which partition saw a row first
    def span(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.spanDupStats(d, "doc_id", "text", window = 4)
        .select("doc_id", "n_spans", "dup_spans", "dup_frac")
    assert(under(1)(span) == under(19)(span))
    def osum(d: org.apache.spark.sql.DataFrame) =
      d.select(col("doc_id") % 13 as "g",
          substring(col("text"), 1, 5).as("k"), (col("doc_id") * 0.37).as("v"))
        .groupBy("g")
        .agg(graft.functions.VecExpressions.orderedSum(col("k"), col("v")).as("s"))
    assert(under(1)(osum) == under(23)(osum))
  }
}
