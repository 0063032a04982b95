package graft

import graft.operators.Stress
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The scale-stress harness: the in-plan multiplier, each leg's summary
  * semantics at a scale where the expected answer is countable by hand, and
  * the plan-shape contracts the stress queries exist to prove (broadcast leg
  * stays shuffle-free up to the summary; no leg collects the multiplied
  * relation to the driver).
  */
class StressSpec extends AnyFunSuite with LocalSession {

  private def emb(n: Int): DataFrame = {
    import spark.implicits._
    // well-separated directions: distinct axes of an n-dim space, so exact
    // replicas are each other's only ε-neighbors
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(math.max(n, 8))(d => if (d == i) 1f else 0f))
    }.toDF("vec_id", "embedding")
  }

  private def docs(n: Int): DataFrame = {
    import spark.implicits._
    // distinct vocabularies per doc -> no cross-doc near-dups
    (0 until n).map(i => (i.toLong,
      (0 until 12).map(t => s"w${i}_$t").mkString(" "))).toDF("doc_id", "text")
  }

  test("multiplied: disjoint dense salted ids, m x rows, no driver materialization") {
    val big = Stress.multiplied(emb(7), "vec_id", m = 6, parallelism = 3)
    assert(big.count() == 42)
    val ids = big.select("vec_id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().sorted
    assert(ids.toSeq == (0L until 42L))
    assert(big.rdd.getNumPartitions == 3)
  }

  test("knn broadcast leg: per-rank census, shuffle-free join, exec plan shape") {
    val e = emb(10)
    val sum = Stress.knnBroadcastSummary(e, "vec_id", "embedding", m = 4, k = 2)
    val phys = sum.queryExecution.executedPlan.toString
    assert(phys.contains("SemanticTopKJoin"), phys)
    assert(phys.contains("BroadcastExchange"), phys)
    assert(!phys.contains("CartesianProduct"), phys)
    val rows = sum.collect()
    // every one of the 40 multiplied left rows has a full top-2
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 40L), (2, 40L)))
  }

  test("knn shuffle leg: same census through the crossJoin + partial top-k path") {
    val e = emb(10)
    val sum = Stress.knnShuffleSummary(e, "vec_id", "embedding", m = 4, k = 2)
    // candidate generation materializes pairs, the bounded top-k aggregate
    // prunes them map-side before the only wide shuffle (assert on the
    // optimized logical plan — AQE's physical toString elides the aggregate
    // function names)
    val opt = sum.queryExecution.optimizedPlan.toString.toLowerCase
    assert(opt.contains("graft_top_k"), opt)
    assert(!sum.queryExecution.executedPlan.toString.toLowerCase
      .contains("semantictopkjoin"))
    val rows = sum.collect()
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 40L), (2, 40L)))
  }

  test("int8 leg: full top-k census at m x queries, broadcast coarse scan, codes not shuffled") {
    val e = emb(10)
    val sum = Stress.int8Summary(e, "vec_id", "embedding", m = 4, k = 2)
    val phys = sum.queryExecution.executedPlan.toString
    // corpus code matrix rides a broadcast nested-loop; candidate pruning is
    // the bounded top-k aggregate before any wide exchange
    assert(phys.contains("BroadcastNestedLoopJoin"), phys)
    assert(!phys.contains("CartesianProduct"), phys)
    assert(sum.queryExecution.optimizedPlan.toString.toLowerCase.contains("graft_top_k"))
    val rows = sum.collect()
    // every one of the 40 multiplied queries gets a full exact-reranked top-2
    assert(rows.map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((1, 40L), (2, 40L)))
    // replica queries share their base vector, so the census equals the 1x
    // census at 4x counts — and scores are the EXACT kernel's
    val base = Stress.int8Summary(e, "vec_id", "embedding", m = 1, k = 2).collect()
    assert(rows.map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3))).toSeq ==
      base.map(r => (r.getInt(0), r.getDouble(2), r.getDouble(3))).toSeq)
  }

  test("dsir leg: selects n docs, target-slice docs carry the top weights, deterministic") {
    val d = docs(30)
    val sum1 = Stress.dsirSummary(d, "doc_id", "text", m = 3, targetMod = 10, n = 20,
      buckets = 512).collect()
    assert(sum1.head.getLong(0) === 20L)
    val sum2 = Stress.dsirSummary(d.repartition(5), "doc_id", "text", m = 3,
      targetMod = 10, n = 20, buckets = 512).collect()
    // bit-identical census under repartitioning (weights, noise, membership)
    assert(sum1.head === sum2.head)
  }

  test("jaccard leg: every replica pair of a base doc qualifies, none cross bases") {
    // 12-token bases + 1 rep token -> 11 shingles per replica, 10 shared
    // between any two replicas of a base: J = 10/12 exactly; distinct
    // per-base vocabularies mean no cross-base shingle ever collides
    val d = docs(6)
    val r = Stress.jaccardSummary(d, "doc_id", "text", m = 4).collect().head
    assert(r.getLong(0) == 36) // C(4,2) pairs per base doc x 6 bases
    assert(math.abs(r.getDouble(1) - 0.833333) < 1e-9)
    assert(math.abs(r.getDouble(2) - 0.833333) < 1e-9)
    assert(math.abs(r.getDouble(3) - 0.833) < 1e-9)
  }

  test("jaccard leg fast-path shingles equal the naive re-shingle, incl. short-text fallback") {
    import spark.implicits._
    // real corpus text (shared vocabulary -> cross-base near-dups exist, the
    // regime the closed-form test above can't cover) plus sub-3-token docs
    // that exercise the whole-text-shingle fallback branch
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text").limit(120)
      .unionByName(Seq((100001L, "one"), (100002L, "two tokens"),
        (100003L, "two tokens")).toDF("doc_id", "text"))
    val m = 3
    def census(df: DataFrame) = df
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("jaccard")), 6).as("min_jaccard"),
        round(max(col("jaccard")), 6).as("max_jaccard"),
        round(avg(col("jaccard")), 3).as("avg_jaccard"))
      .collect().head.toSeq
    val naiveBig = Stress.multiplied(d, "doc_id", m)
      .withColumn("text", concat(col("text"), lit(" rep"), pmod(col("doc_id"), lit(m.toLong))))
    val naive = census(graft.operators.Dedup.ngramJaccardPairs(
      naiveBig, "doc_id", "text", threshold = 0.5, maxShingleDf = 200))
    val fast = Stress.jaccardSummary(d, "doc_id", "text", m = m).collect().head.toSeq
    assert(naive.head.asInstanceOf[Long] > 0, s"fixture produced no qualifying pairs: $naive")
    assert(fast == naive, s"fast-path census $fast != naive census $naive")
  }

  test("minhash leg: replicas of each doc collapse to one cluster") {
    val d = docs(6)
    val r = Stress.minhashSummary(d, "doc_id", "text", m = 4).collect().head
    assert(r.getLong(0) == 24) // n_rows
    assert(r.getLong(1) == 6)  // n_clusters: one per base doc
    assert(r.getLong(2) == 18) // n_dups: (m-1) per base doc
  }

  test("bm25 leg: every query answered with a full top-k from the multiplied corpus") {
    val d = docs(8)
    val r = Stress.bm25Summary(d, "doc_id", "text", m = 3, nQueries = 4, k = 2)
      .collect().head
    assert(r.getLong(0) == 8) // 4 queries x top-2
    assert(r.getLong(1) == 4)
  }

  test("dbscan leg: exact replicas form one cluster per base point, no noise") {
    val e = emb(5)
    val r = Stress.dbscanSummary(e, "vec_id", "embedding", m = 4).collect().head
    assert(r.getLong(0) == 20) // n_points
    assert(r.getLong(1) == 5)  // n_clusters
    assert(r.getLong(2) == 0)  // n_noise
  }

  test("fuzzy leg: same-base replicas pair at distance 1, distinct bases never pair") {
    import spark.implicits._
    // base names differ in >2 positions, so even at maxDist=2 the only
    // qualifying pairs are same-base replicas, whose one-digit suffixes
    // differ by exactly one substitution
    val d = (0 until 6).map(i => (i.toLong, s"name_${i}${i}${i}_xyz")).toDF("id", "name")
    val r = Stress.fuzzySummary(d, "id", "name", m = 4, maxDist = 2).collect().head
    assert(r.getLong(0) == 36) // 6 bases x C(4,2)
    assert(r.getLong(1) == 0)  // n_d0: no byte-identical pair
    assert(r.getLong(2) == 36) // n_d1: every pair is one substitution apart
    assert(r.getLong(3) == 0)  // n_d2
  }

  test("semantic dedup leg: identical replicas collapse within their cell, axes never merge") {
    val e = emb(5)
    // nCentroids < bases forces multi-base cells: the within-cell join must
    // still separate orthogonal axes (cos 0 < tau) while collapsing replicas
    val r = Stress.semanticDedupSummary(e, "vec_id", "embedding", m = 4,
      tau = 0.9, nCentroids = 3).collect().head
    assert(r.getLong(0) == 20) // n_rows
    assert(r.getLong(1) == 5)  // n_clusters: one per base point
    assert(r.getLong(2) == 15) // n_dups: (m-1) per base
  }

  test("pipeline leg: sketch-gate composite ≡ exact-gate composite at bench scale") {
    // closes r7 'What's wrong #2': the 100 TB recipe (sketch gate → DSIR →
    // budget) composed end-to-end must select the SAME membership as the
    // whole-group-window composite — the sketch gate is rank-exact by
    // construction, checked here on the real bench corpus at a real
    // multiplier
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    def members(scale: Boolean): Seq[(Long, String, Long)] =
      Stress.corpusPipelineSelect(d, "doc_id", "source", "text", m = 3,
          scaleGate = scale)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
    val scaleSel = members(scale = true)
    val exactSel = members(scale = false)
    assert(scaleSel.nonEmpty)
    assert(scaleSel === exactSel)
  }

  test("pipeline leg: census is deterministic under repartitioning") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "source", "text")
    val a = Stress.pipelineSummary(d, "doc_id", "source", "text", m = 2).collect().head
    val b = Stress.pipelineSummary(d.repartition(7), "doc_id", "source", "text", m = 2)
      .collect().head
    assert(a === b)
    assert(a.getLong(0) > 0)
  }

  test("range leg: broadcast exec plan, every replica matches only its base, sliced bases go unmatched") {
    val e = emb(10)
    // rightFrac = 0.8 keeps ids 0-7; replicas of bases 8,9 must null-extend
    val sum = Stress.rangeSummary(e, "vec_id", "embedding", m = 3, tau = 0.9)
    val phys = sum.queryExecution.executedPlan.toString
    assert(phys.contains("SemanticRangeJoin"), phys)
    assert(phys.contains("BroadcastExchange"), phys)
    assert(!phys.contains("CartesianProduct"), phys)
    val r = sum.collect().head
    assert(r.getLong(0) == 30) // n_rows: every multiplied left row appears
    assert(r.getLong(1) == 24) // n_matched: replicas of the 8 retained bases
    assert(r.getLong(2) == 6)  // n_unmatched: replicas of bases 8, 9
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-12) // only exact-replica matches
    assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
  }

  test("ann guard leg: batch sized off the session bound trips the guard once") {
    // a small session bound keeps the spec fast; the DRIVER leg runs the
    // same function under the stock 2^20 default — this pins the mechanics
    // (auto-sized multiplier, one trip, census shape)
    spark.conf.set(graft.operators.Ann.MaxProbeRowsKey, "64")
    try {
      val out = Stress.annGuardDefaultSummary(emb(16), "vec_id", "embedding",
        corpusRows = 16, nCentroids = 4, k = 1, nProbe = 2).collect()
      assert(out.nonEmpty)
      out.foreach(r => assert(r.getAs[Long]("guard_trips") == 1L,
        s"expected exactly one guard trip, got $r"))
      // every replica query finds its base vector at rank 1 (score 1.0)
      val r1 = out.find(_.getAs[Int]("rank") == 1).get
      assert(math.abs(r1.getAs[Double]("max_score") - 1.0) < 1e-12)
    } finally spark.conf.unset(graft.operators.Ann.MaxProbeRowsKey)
  }

  test("bm25 guard leg: batch sized off the session bound trips the guard once") {
    spark.conf.set(graft.operators.Lexical.MaxQueryTermRowsKey, "256")
    try {
      val d = docs(8)
      val (postings, stats) = graft.operators.Lexical.bm25BuildIndex(d, "doc_id", "text")
      val dir = java.nio.file.Files.createTempDirectory("graft_bm25_guard").toString
      graft.operators.Lexical.bm25WriteIndex(postings, stats, dir)
      val out = Stress.bm25GuardDefaultSummary(
        graft.operators.Lexical.bm25OpenIndex(spark, dir), d, "doc_id", "text",
        nRealQueries = 4, k = 3).head()
      assert(out.getAs[Long]("guard_trips") == 1L, s"got $out")
      // the 4 real-document queries each retrieve themselves (disjoint vocab)
      assert(out.getAs[Long]("n_queries") == 4L, s"got $out")
    } finally spark.conf.unset(graft.operators.Lexical.MaxQueryTermRowsKey)
  }
}
