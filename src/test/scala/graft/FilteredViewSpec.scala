package graft

import graft.operators.{Dedup, Lexical}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The allow-list filtered-view contract across the retrieval families
  * ([[Lexical.bm25FilteredView]], [[Dedup.minhashFilteredView]]; the ANN
  * view has its own oracle legs).
  *
  * BM25 is the family where the filter has SEMANTICS to get wrong:
  * filter-context scoring means corpus-global statistics (n_docs, avgdl,
  * per-term df) stay those of the full corpus and only the candidate set
  * shrinks — so an allowed doc must score bit-identically with and without
  * the filter, in every scoring regime (batch-fold, joined over-bound
  * guard, resident-eligible pinned index), and on an APPENDED stale-bake
  * index whose df is recomputed in-plan (the recompute must see the
  * UNFILTERED postings or df silently becomes subset-df).
  */
class FilteredViewSpec extends AnyFunSuite with LocalSession {

  private def docs(ids: Range): DataFrame = {
    import spark.implicits._
    val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta")
    ids.map { i =>
      val words = (0 until (3 + i % 5)).map(j => vocab((i * 3 + j * 2) % vocab.size))
      (i.toLong, (words :+ s"id$i").mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(tag).toString

  private def bm25Rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
    df.select(col("query_id"), col("rank"), col("doc_id"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(t => (t._1, t._2))

  /** Reference semantics computed from the UNFILTERED search at k = corpus
    * size: drop disallowed docs, re-close ranks, cut to k. Scores must carry
    * over bit-for-bit (filter-context: the filter never changes a score).
    */
  private def expectedFiltered(
      unfilteredAll: Seq[(Long, Long, Long, Double)],
      allow: Long => Boolean, k: Int): Seq[(Long, Long, Long, Double)] =
    unfilteredAll.groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
      rs.sortBy(_._2).filter(t => allow(t._3)).take(k).zipWithIndex
        .map { case ((q, _, d, s), i) => (q, (i + 1).toLong, d, s) }
    }.sortBy(t => (t._1, t._2))

  test("bm25 filtered view: allowed scores bit-identical, ranks re-closed, " +
      "in batch-fold AND over-bound joined regimes") {
    val d = docs(0 until 120)
    val dir = tmp("graft_bmflt_spec")
    val (p, s) = Lexical.bm25BuildIndex(d, "doc_id", "text")
    Lexical.bm25WriteIndex(p, s, dir, nBuckets = 8)
    val idx = Lexical.bm25OpenIndex(spark, dir)
    val q = d.filter(col("doc_id") < 6)
    val allow: Long => Boolean = _ % 3 == 0

    val all = bm25Rows(Lexical.bm25SearchIndex(idx, q, "doc_id", "text", k = 120))
    val expected = expectedFiltered(all, allow, k = 5)

    val view = Lexical.bm25FilteredView(idx,
      d.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id")
    val got = bm25Rows(Lexical.bm25SearchIndex(view, q, "doc_id", "text", k = 5))
    assert(got == expected)

    // over-bound guard regime: force the joined distributed path and demand
    // the same rows — the allow semi-join sits in scoreAndTopK there
    val key = Lexical.MaxQueryTermRowsKey
    spark.conf.set(key, "1")
    try {
      val gotJoined = bm25Rows(Lexical.bm25SearchIndex(view, q, "doc_id", "text", k = 5))
      assert(gotJoined == expected)
    } finally spark.conf.unset(key)
  }

  test("bm25 filtered view on an APPENDED (stale-bake) index: df recomputed " +
      "from UNFILTERED postings — filtered search equals the rebuilt index's") {
    val full = docs(0 until 120)
    val base = full.filter(col("doc_id") % 4 =!= 1)
    val held = full.filter(col("doc_id") % 4 === 1)
    val appDir = tmp("graft_bmflt_app")
    val (bp, bs) = Lexical.bm25BuildIndex(base, "doc_id", "text")
    Lexical.bm25WriteIndex(bp, bs, appDir, nBuckets = 8)
    Lexical.bm25AppendIndex(spark, appDir, held, "doc_id", "text", "held")

    val fullDir = tmp("graft_bmflt_full")
    val (fp, fs) = Lexical.bm25BuildIndex(full, "doc_id", "text")
    Lexical.bm25WriteIndex(fp, fs, fullDir, nBuckets = 8)

    val q = full.filter(col("doc_id") < 6)
    val allowDf = full.filter(col("doc_id") % 3 === 0).select("doc_id")
    def flt(dir: String): Seq[(Long, Long, Long, Double)] =
      bm25Rows(Lexical.bm25SearchIndex(
        Lexical.bm25FilteredView(Lexical.bm25OpenIndex(spark, dir), allowDf, "doc_id"),
        q, "doc_id", "text", k = 5))
    // if the appended index's in-plan df recompute saw the FILTERED postings,
    // its (subset) df would diverge from the rebuilt index's baked full df
    assert(flt(appDir) == flt(fullDir))
  }

  private val jobCount = new java.util.concurrent.atomic.AtomicLong
  private lazy val listener = {
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobCount.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    l
  }
  private def quiesce(): Unit = {
    var last = -1L
    var stable = 0
    val deadline = System.nanoTime() + 5000000000L
    while (stable < 4 && System.nanoTime() < deadline) {
      Thread.sleep(20)
      val n = jobCount.get()
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }
  private def jobsFor(search: () => Long): Long = {
    listener
    search(); quiesce()
    val before = jobCount.get()
    search(); quiesce()
    jobCount.get() - before
  }

  test("bm25 filtered RESIDENT serving: pinned index + driver-sized allow set " +
      "serves at ZERO jobs with the distributed plan's exact rows; over-bound " +
      "allow sets fall back to the semi-join plan") {
    val d = docs(0 until 60)
    val dir = tmp("graft_bmflt_res")
    val (p, s) = Lexical.bm25BuildIndex(d, "doc_id", "text")
    Lexical.bm25WriteIndex(p, s, dir, nBuckets = 8)
    val idx = Lexical.bm25OpenIndex(spark, dir)
    idx.postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
      .count() // pin → resident-eligible
    try {
      // LocalRelation queries: the serving shape (no query-side jobs)
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      val qRows = d.filter(col("doc_id") < 4).collect()
      val q = spark.createDataFrame(java.util.Arrays.asList(qRows: _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("text", StringType, nullable = true))))
      val all = bm25Rows(Lexical.bm25SearchIndex(idx, q, "doc_id", "text", k = 60))
      val expected = expectedFiltered(all, _ % 2 == 0, k = 3)
      val allowDf = d.filter(col("doc_id") % 2 === 0).select("doc_id")
      val view = Lexical.bm25FilteredView(idx, allowDf, "doc_id")
      val got = bm25Rows(Lexical.bm25SearchIndex(view, q, "doc_id", "text", k = 3))
      assert(got == expected)
      // steady state: the filtered search is pure driver arithmetic — the
      // allow set was collected once on the first search, the mirror shared
      assert(jobsFor(() =>
        Lexical.bm25SearchIndex(view, q, "doc_id", "text", k = 3).collect().length) == 0L)
      // over-bound allow set: fresh view under a zero budget keeps the
      // distributed semi-join plan, rows identical
      spark.conf.set(graft.operators.Serving.MaxDriverAllowIdsKey, "0")
      try {
        val view2 = Lexical.bm25FilteredView(idx, allowDf, "doc_id")
        val got2 = bm25Rows(Lexical.bm25SearchIndex(view2, q, "doc_id", "text", k = 3))
        assert(got2 == expected)
      } finally spark.conf.unset(graft.operators.Serving.MaxDriverAllowIdsKey)
    } finally idx.postings.unpersist()
  }

  test("ann filtered resident serving ≡ the distributed semi-join plan across " +
      "float / int8 / PQ paths; float serves at zero jobs") {
    import spark.implicits._
    import graft.operators.Ann
    val emb = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(16)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = tmp("graft_annflt_res")
    val (cells, cents) = Ann.annBuildIndex(emb, "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, dir, pqM = 4) // PQ layout carries codes+cn2+cv
    val idx = Ann.annOpenIndex(spark, dir)
    idx.cells.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY).count()
    try {
      // LocalRelation queries (the serving shape)
      val qRows = emb.filter(col("vec_id") < 8).collect()
      val q = spark.createDataFrame(
        java.util.Arrays.asList(qRows: _*), emb.schema)
      val allowDf = emb.filter(col("vec_id") % 3 === 0).select("vec_id")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Double, Int)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
          .toSeq.sortBy(t => (t._1, t._4))
      def searches(view: Ann.AnnIndex): Seq[Seq[(Long, Long, Double, Int)]] = Seq(
        rows(Ann.annSearchIndex(view, q, "vec_id", "embedding", k = 3, nProbe = 8)),
        rows(Ann.annSearchIndexInt8(view, q, "vec_id", "embedding", k = 3, nProbe = 8)),
        rows(Ann.annSearchIndexPq(view, q, "vec_id", "embedding", k = 3, nProbe = 8)))
      val view = Ann.annFilteredView(idx, allowDf, "vec_id")
      val resident = searches(view)
      resident.foreach { legs =>
        assert(legs.nonEmpty && legs.forall(_._2 % 3 == 0), "disallowed id leaked")
      }
      spark.conf.set(graft.operators.Serving.MaxDriverAllowIdsKey, "0")
      val distributed =
        try searches(Ann.annFilteredView(idx, allowDf, "vec_id"))
        finally spark.conf.unset(graft.operators.Serving.MaxDriverAllowIdsKey)
      assert(resident == distributed,
        "resident filtered ann must equal the distributed semi-join plan, all paths")
      assert(jobsFor(() => Ann.annSearchIndex(
        view, q, "vec_id", "embedding", k = 3, nProbe = 8).collect().length) == 0L)
    } finally idx.cells.unpersist()
  }

  test("minhash filtered resident serving ≡ the distributed semi-join plan") {
    import spark.implicits._
    val d = (0 until 80).map { i =>
      val core = s"shared text block number ${i / 2} with stable words"
      (i.toLong, s"$core tail$i")
    }.toDF("doc_id", "text")
    val dir = tmp("graft_mhflt_res")
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(d, "doc_id", "text"), dir)
    val idx = Dedup.minhashOpenIndex(spark, dir)
    idx.postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY).count()
    idx.shingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY).count()
    try {
      val batch = d.filter(col("doc_id") % 10 === 0)
      val allowDf = d.filter(col("doc_id") % 3 === 0).select("doc_id")
      def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
        df.select(col("corpus_id").cast("long"), col("batch_id").cast("long"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val resident = pairs(Dedup.minhashSearchIndex(
        Dedup.minhashFilteredView(idx, allowDf, "doc_id"), batch, "doc_id", "text", 0.5))
      spark.conf.set(graft.operators.Serving.MaxDriverAllowIdsKey, "0")
      val distributed =
        try pairs(Dedup.minhashSearchIndex(
          Dedup.minhashFilteredView(idx, allowDf, "doc_id"), batch, "doc_id", "text", 0.5))
        finally spark.conf.unset(graft.operators.Serving.MaxDriverAllowIdsKey)
      assert(resident == distributed)
      assert(resident.nonEmpty && resident.forall(_._1 % 3 == 0))
    } finally { idx.postings.unpersist(); idx.shingles.unpersist() }
  }

  test("minhash filtered view: exactly the unfiltered matches restricted to " +
      "allowed corpus ids") {
    import spark.implicits._
    // near-dup pairs: consecutive ids share most of their text
    val d = (0 until 80).map { i =>
      val core = s"shared text block number ${i / 2} with stable words"
      (i.toLong, s"$core tail$i")
    }.toDF("doc_id", "text")
    val dir = tmp("graft_mhflt_spec")
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(d, "doc_id", "text"), dir)
    val idx = Dedup.minhashOpenIndex(spark, dir)
    val batch = d.filter(col("doc_id") % 10 === 0)

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select(col("corpus_id").cast("long"), col("batch_id").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val all = pairs(Dedup.minhashSearchIndex(idx, batch, "doc_id", "text", 0.5))
    val view = Dedup.minhashFilteredView(idx,
      d.filter(col("doc_id") % 3 === 0).select("doc_id"), "doc_id")
    val got = pairs(Dedup.minhashSearchIndex(view, batch, "doc_id", "text", 0.5))
    assert(got == all.filter(_._1 % 3 == 0))
    assert(got.nonEmpty, "fixture must produce allowed matches")
    assert(all.exists(_._1 % 3 != 0), "fixture must produce disallowed matches")
  }

  test("filtered views CHAIN by intersection in all three families " +
      "(view-of-a-view must never widen the first filter)") {
    import spark.implicits._
    import graft.operators.Ann
    def allowSet(allowed: Option[DataFrame]): Set[Long] =
      allowed.get.collect().map(_.getLong(0)).toSet

    // bm25: end-to-end — chained %2 then %3 must behave as %6
    val d = docs(0 until 120)
    val dir = tmp("graft_chain_bm")
    val (p, s) = Lexical.bm25BuildIndex(d, "doc_id", "text")
    Lexical.bm25WriteIndex(p, s, dir, nBuckets = 8)
    val idx = Lexical.bm25OpenIndex(spark, dir)
    val even = d.filter(col("doc_id") % 2 === 0).select("doc_id")
    val byThree = d.filter(col("doc_id") % 3 === 0).select("doc_id")
    val v2 = Lexical.bm25FilteredView(
      Lexical.bm25FilteredView(idx, even, "doc_id"), byThree, "doc_id")
    assert(allowSet(v2.allowed) == (0L until 120L).filter(_ % 6 == 0).toSet)
    val q = d.filter(col("doc_id") < 6)
    val all = bm25Rows(Lexical.bm25SearchIndex(idx, q, "doc_id", "text", k = 120))
    val got = bm25Rows(Lexical.bm25SearchIndex(v2, q, "doc_id", "text", k = 5))
    assert(got == expectedFiltered(all, _ % 6 == 0, k = 5))
    assert(got.nonEmpty)
    // order-of-application must not matter (intersection commutes)
    val v2r = Lexical.bm25FilteredView(
      Lexical.bm25FilteredView(idx, byThree, "doc_id"), even, "doc_id")
    assert(allowSet(v2r.allowed) == allowSet(v2.allowed))

    // minhash + ann: the constructor-level intersection (the search-side
    // restriction plumbing is covered by the single-view tests above)
    val mhDir = tmp("graft_chain_mh")
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(d, "doc_id", "text"), mhDir)
    val mh2 = Dedup.minhashFilteredView(
      Dedup.minhashFilteredView(Dedup.minhashOpenIndex(spark, mhDir),
        even, "doc_id"), byThree, "doc_id")
    assert(allowSet(mh2.allowed) == (0L until 120L).filter(_ % 6 == 0).toSet)

    val emb = (0 until 60).map { i =>
      (i.toLong, Array.tabulate(8)(k => math.sin(i * 13 + k * 7).toFloat))
    }.toDF("vec_id", "embedding")
    val annDir = tmp("graft_chain_ann")
    val (cells, cents) = Ann.annBuildIndex(emb, "vec_id", "embedding", nCentroids = 4)
    Ann.annWriteIndex(cells, cents, annDir)
    val ann2 = Ann.annFilteredView(
      Ann.annFilteredView(Ann.annOpenIndex(spark, annDir),
        emb.filter(col("vec_id") % 2 === 0).select("vec_id"), "vec_id"),
      emb.filter(col("vec_id") % 3 === 0).select("vec_id"), "vec_id")
    assert(allowSet(ann2.allowed) == (0L until 60L).filter(_ % 6 == 0).toSet)
  }

  test("minhash filtered view over a STRING-id corpus: resident path matches " +
      "the distributed plan instead of crashing on non-Number ids") {
    import spark.implicits._
    // numeric-string ids plus a non-numeric one ("x1") that collides into
    // the same near-dup buckets — the r13 resident path crashed on ANY
    // string candidate (asInstanceOf[Number]); the allow semantics are the
    // distributed cast's: allow ids rendered into the id domain, so "x1"
    // is excluded, "1"/"11"/… match their numeric allow ids
    val corpus = ((0 until 40).map(i => (i.toString, s"duplicate corpus text block ${i % 10} lorem ipsum body")) :+
      (("x1", "duplicate corpus text block 1 lorem ipsum body")))
      .toDF("doc_id", "text")
    val dir = tmp("graft_mhflt_str")
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(corpus, "doc_id", "text"), dir)
    val idx = Dedup.minhashOpenIndex(spark, dir)
    idx.postings.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY).count()
    idx.shingles.persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY).count()
    try {
      val batch = Seq(("q0", "duplicate corpus text block 1 lorem ipsum body"),
        ("q1", "duplicate corpus text block 4 lorem ipsum body")).toDF("doc_id", "text")
      val allowDf = Seq(1L, 11L, 21L, 31L, 4L).toDF("doc_id")
      def pairs(df: DataFrame): Set[(String, String)] =
        df.select(col("corpus_id").cast("string"), col("batch_id").cast("string"))
          .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val view = Dedup.minhashFilteredView(idx, allowDf, "doc_id")
      val resident = pairs(Dedup.minhashSearchIndex(view, batch, "doc_id", "text", 0.8))
      spark.conf.set(graft.operators.Serving.MaxDriverAllowIdsKey, "0")
      val distributed =
        try pairs(Dedup.minhashSearchIndex(
          Dedup.minhashFilteredView(idx, allowDf, "doc_id"), batch, "doc_id", "text", 0.8))
        finally spark.conf.unset(graft.operators.Serving.MaxDriverAllowIdsKey)
      assert(resident == distributed)
      assert(resident == Set(("1", "q0"), ("11", "q0"), ("21", "q0"), ("31", "q0"), ("4", "q1")),
        s"got $resident")
      // the unfiltered search DOES see the non-numeric near-dup — proves
      // "x1" was a live candidate the allow filter had to skip, not absent
      val unfiltered = pairs(Dedup.minhashSearchIndex(idx, batch, "doc_id", "text", 0.8))
      assert(unfiltered.contains(("x1", "q0")))
    } finally { idx.postings.unpersist(); idx.shingles.unpersist() }
  }
}
