package graft

import graft.operators.SemanticJoin
import graft.plans.{GraftPlans, SemanticTopKJoin, SemanticTopKJoinExec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The Catalyst-native semantic join: logical node → strategy → physical
  * broadcast exec, the SQL table function, and the left-id pushdown rule.
  */
class PlansSpec extends AnyFunSuite with LocalSession {

  private def vecs(n: Int, dim: Int = 8): DataFrame = {
    import spark.implicits._
    // deterministic, varied directions; a few exact ties via duplicates
    (0 until n).map { i =>
      val v = Array.tabulate(dim)(d => math.sin(i * 0.7 + d * 1.3).toFloat)
      (i.toLong, v)
    }.toDF("vec_id", "embedding")
  }

  private def collectSorted(df: DataFrame): Seq[(Long, Long, Double, Int)] = {
    import spark.implicits._
    df.select(col("left_id"), col("right_id"), col("score"), col("rank").cast("int"))
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq
  }

  test("planned knn join is bit-identical to knnJoinVec") {
    val e = vecs(120)
    // the partitioned form: under budget knnJoinVec plans the node itself
    val a = collectSorted(SemanticJoin.knnJoinVec(e, "vec_id", "embedding",
      e, "vec_id", "embedding", k = 3, excludeSelf = true, broadcastRight = false))
    val b = collectSorted(GraftPlans.knnJoin(e, "vec_id", "embedding",
      e, "vec_id", "embedding", k = 3, excludeSelf = true))
    assert(a.size == b.size && a.size == 360)
    a.zip(b).foreach { case (x, y) =>
      assert(x._1 == y._1 && x._2 == y._2 && x._4 == y._4)
      assert(java.lang.Double.doubleToLongBits(x._3) == java.lang.Double.doubleToLongBits(y._3),
        s"score mismatch at ${x._1}/${x._4}")
    }
  }

  test("physical plan: custom exec over a broadcast exchange, no shuffle") {
    val e = vecs(50)
    val planned = GraftPlans.knnJoin(e, "vec_id", "embedding", e, "vec_id", "embedding", k = 2)
    val phys = planned.queryExecution.executedPlan.toString
    assert(phys.contains("SemanticTopKJoin"), phys)
    assert(phys.contains("BroadcastExchange"), phys)
    assert(!phys.contains("ShuffleExchange"), phys)
    // the DataFrame API plans the same node while the right side fits
    val api = SemanticJoin.knnJoinVec(e, "vec_id", "embedding", e, "vec_id", "embedding", k = 2)
      .queryExecution.executedPlan.toString
    assert(api.contains("SemanticTopKJoin") && api.contains("BroadcastExchange"), api)
  }

  test("SQL table function graft_knn_join over temp views") {
    val e = vecs(80)
    e.createOrReplaceTempView("plans_spec_emb")
    GraftPlans.install(spark)
    val viaSql = spark.sql(
      """SELECT * FROM graft_knn_join('plans_spec_emb', 'plans_spec_emb',
        |  'vec_id', 'embedding', 'vec_id', 'embedding', 3, true)""".stripMargin)
    val direct = SemanticJoin.knnJoinVec(e, "vec_id", "embedding",
      e, "vec_id", "embedding", k = 3, excludeSelf = true, broadcastRight = false)
    assert(collectSorted(viaSql) == collectSorted(direct))
  }

  test("left_id predicate is pushed below the join; score predicate is not") {
    val e = vecs(100)
    val planned = GraftPlans.knnJoin(e, "vec_id", "embedding", e, "vec_id", "embedding",
        k = 2, excludeSelf = true)
      .filter(col("left_id") < 10 && col("score") > -2.0)
    val opt = planned.queryExecution.optimizedPlan
    // the join node's left child must carry the pushed filter
    val joinNode = opt.collectFirst { case j: SemanticTopKJoin => j }
    assert(joinNode.isDefined, opt.toString)
    assert(joinNode.get.left.toString.contains("vec_id"), joinNode.get.left.toString)
    assert(joinNode.get.left.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f }.isDefined,
      s"expected pushed filter below join:\n$opt")
    // and the result is the filtered subset of the unpushed result
    val expected = collectSorted(SemanticJoin.knnJoinVec(e, "vec_id", "embedding",
        e, "vec_id", "embedding", k = 2, excludeSelf = true, broadcastRight = false)
      .filter(col("left_id") < 10))
    assert(collectSorted(planned) == expected)
  }

  test("pushed left_id predicate reaches the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("plans_spec").toString
    vecs(60).write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val e = spark.read.parquet(s"$dir/emb.parquet")
    val planned = GraftPlans.knnJoin(e, "vec_id", "embedding", e, "vec_id", "embedding", k = 2)
      .filter(col("left_id") <= 5)
    val formatted = planned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [LessThanOrEqual(vec_id,5)]"), formatted)
    assert(formatted.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>>"), formatted)
    assert(collectSorted(planned).forall(_._1 <= 5))
    assert(collectSorted(planned).map(_._1).distinct.size == 6)
  }

  test("unresolvable column or bad type fails analysis") {
    val e = vecs(10)
    intercept[Exception] {
      GraftPlans.knnJoin(e, "nope", "embedding", e, "vec_id", "embedding", k = 1).collect()
    }
    intercept[Exception] {
      // id column where a vector is expected → unresolved node
      GraftPlans.knnJoin(e, "vec_id", "vec_id", e, "vec_id", "embedding", k = 1).collect()
    }
  }

  test("planned join is partition-invariant") {
    val e = vecs(90)
    val one = collectSorted(GraftPlans.knnJoin(e.coalesce(1), "vec_id", "embedding",
      e, "vec_id", "embedding", k = 3, excludeSelf = true))
    val many = collectSorted(GraftPlans.knnJoin(e.repartition(7), "vec_id", "embedding",
      e.repartition(5), "vec_id", "embedding", k = 3, excludeSelf = true))
    assert(one == many)
  }

  private def collectRange(df: DataFrame): Seq[(Long, Option[Long], Option[Double])] = {
    import spark.implicits._
    df.select(col("left_id"), col("right_id"), col("score"))
      .as[(Long, Option[Long], Option[Double])].collect()
      .sortBy(r => (r._1, r._2.getOrElse(Long.MinValue))).toSeq
  }

  test("planned range join is bit-identical to rangeJoinVec, incl. left-outer nulls") {
    import spark.implicits._
    // the sin-family vectors alias at lag ~9 (cos > 0.999), so matches exist
    // at tau = 0.98; the lone axis vector can reach at most ~0.5 cosine with
    // any of them -> guaranteed unmatched, exercising the null-extension path;
    // a null vector is unmatched too, and the left-outer contract keeps its id
    val e = vecs(120).unionByName(
      Seq((999L, Array.tabulate(8)(d => if (d == 0) 1f else 0f)), (998L, null: Array[Float]))
        .toDF("vec_id", "embedding"))
    // the partitioned form: under budget rangeJoinVec plans the node itself
    val a = collectRange(SemanticJoin.rangeJoinVec(e, "vec_id", "embedding",
      e, "vec_id", "embedding", tau = 0.98, excludeSelf = true, keepUnmatched = true,
      broadcastRight = false))
    val b = collectRange(GraftPlans.rangeJoin(e, "vec_id", "embedding",
      e, "vec_id", "embedding", tau = 0.98, excludeSelf = true, keepUnmatched = true))
    assert(a.size == b.size)
    assert(a.exists(_._2.isEmpty), "fixture should produce unmatched left rows")
    assert(a.contains((998L, None, None)), "the null-vector row should be null-extended")
    assert(a.exists(_._2.isDefined), "fixture should produce matched pairs")
    a.zip(b).foreach { case (x, y) =>
      assert(x._1 == y._1 && x._2 == y._2)
      assert(x._3.map(java.lang.Double.doubleToLongBits) ==
        y._3.map(java.lang.Double.doubleToLongBits), s"score mismatch at ${x._1}")
    }
    // inner semantics drop the unmatched rows
    val inner = collectRange(GraftPlans.rangeJoin(e, "vec_id", "embedding",
      e, "vec_id", "embedding", tau = 0.98, excludeSelf = true, keepUnmatched = false))
    assert(inner == a.filter(_._2.isDefined))
  }

  test("range join physical plan: broadcast exec, no shuffle; SQL TVF matches") {
    val e = vecs(60)
    val planned = GraftPlans.rangeJoin(e, "vec_id", "embedding", e, "vec_id", "embedding",
      tau = 0.5, excludeSelf = true)
    val phys = planned.queryExecution.executedPlan.toString
    assert(phys.contains("SemanticRangeJoin"), phys)
    assert(phys.contains("BroadcastExchange"), phys)
    assert(!phys.contains("ShuffleExchange"), phys)
    val api = SemanticJoin.rangeJoinVec(e, "vec_id", "embedding", e, "vec_id", "embedding",
        tau = 0.5, excludeSelf = true)
      .queryExecution.executedPlan.toString
    assert(api.contains("SemanticRangeJoin") && api.contains("BroadcastExchange"), api)
    e.createOrReplaceTempView("plans_spec_range")
    GraftPlans.install(spark)
    // 0.5 parses as a DECIMAL literal — the builder must accept it
    val viaSql = spark.sql(
      """SELECT * FROM graft_range_join('plans_spec_range', 'plans_spec_range',
        |  'vec_id', 'embedding', 'vec_id', 'embedding', 0.5, true, true)""".stripMargin)
    assert(collectRange(viaSql) == collectRange(planned))
  }

  test("range join: pushed left_id predicate reaches the parquet scan") {
    val dir = java.nio.file.Files.createTempDirectory("plans_spec_rj").toString
    vecs(60).write.mode("overwrite").parquet(s"$dir/emb.parquet")
    val e = spark.read.parquet(s"$dir/emb.parquet")
    val planned = GraftPlans.rangeJoin(e, "vec_id", "embedding", e, "vec_id", "embedding",
        tau = 0.5, excludeSelf = true)
      .filter(col("left_id") <= 5)
    val formatted = planned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [LessThanOrEqual(vec_id,5)]"), formatted)
    assert(collectRange(planned).forall(_._1 <= 5))
    assert(collectRange(planned).map(_._1).distinct.size == 6)
  }

  test("SQL table function graft_fuzzy_join: matches the DataFrame API, pushdown reaches the scan") {
    import spark.implicits._
    val names = Seq(
      (1L, "martin miller"), (2L, "martin mille"), (3L, "martin millers"),
      (4L, "nancy chen"), (5L, "nancy che"), (6L, "wholly unrelated"),
      (7L, "xartin miller"))
    val dir = java.nio.file.Files.createTempDirectory("plans_spec_fz").toString
    names.toDF("id", "name").write.mode("overwrite").parquet(s"$dir/names.parquet")
    spark.read.parquet(s"$dir/names.parquet").createOrReplaceTempView("plans_spec_fuzzy")
    GraftPlans.install(spark)
    val viaSql = spark.sql(
      """SELECT * FROM graft_fuzzy_join('plans_spec_fuzzy', 'plans_spec_fuzzy',
        |  'id', 'name', 'id', 'name', 1)""".stripMargin)
    val direct = {
      val df = spark.table("plans_spec_fuzzy")
      graft.operators.Fuzzy.fuzzyJoin(df, "id", "name", df, "id", "name", maxDist = 1)
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select(col("left_id"), col("right_id"), col("dist").cast("int"))
        .as[(Long, Long, Int)].collect().sorted.toSeq
    val got = sorted(viaSql)
    assert(got == sorted(direct))
    // ground truth: the deletion blocking is a proven superset, so the TVF
    // must emit exactly the banded-levenshtein-qualified pairs
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val exp = (for {
      (i, a) <- names; (j, b) <- names
      dist = lev(a, b) if dist <= 1
    } yield (i, j, dist)).sorted
    assert(got == exp)
    // a left_id predicate pushes through the composed joins into the parquet
    // scan of the postings side (the ordinary Catalyst pushdown the composed
    // plan exists to inherit)
    val filtered = spark.sql(
      """SELECT * FROM graft_fuzzy_join('plans_spec_fuzzy', 'plans_spec_fuzzy',
        |  'id', 'name', 'id', 'name', 1) WHERE left_id <= 3""".stripMargin)
    val formatted = filtered.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PushedFilters: [LessThanOrEqual(id,3)"), formatted)
    assert(sorted(filtered) == exp.filter(_._1 <= 3))
  }

  test("SQL table functions graft_bm25_search / graft_ann_search match their DataFrame APIs") {
    import spark.implicits._
    import graft.operators.{Ann, Lexical}
    // tiny corpus with distinct vocabularies so top-k is unambiguous
    val docs = (0 until 30).map(i =>
      (i.toLong, (0 until 8).map(t => s"w${i % 5}_$t").mkString(" ") + s" only$i")).toDF("doc_id", "text")
    val q = docs.filter($"doc_id" < 3).select($"doc_id".as("qid"), $"text")
    val bmDir = java.nio.file.Files.createTempDirectory("plans_bm25").toString
    val (postings, stats) = Lexical.bm25BuildIndex(docs, "doc_id", "text")
    Lexical.bm25WriteIndex(postings, stats, bmDir, nBuckets = 4)
    q.createOrReplaceTempView("plans_spec_bm25_q")
    GraftPlans.install(spark)
    def bmRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3)))).toSet
    val viaSql = spark.sql(
      s"SELECT * FROM graft_bm25_search('$bmDir', 'plans_spec_bm25_q', 'qid', 'text', 3)")
    val direct = Lexical.bm25SearchIndex(
      Lexical.bm25OpenIndex(spark, bmDir), q, "qid", "text", k = 3)
    assert(bmRows(viaSql) == bmRows(direct) && bmRows(viaSql).nonEmpty)

    val e = vecs(80)
    val annDir = java.nio.file.Files.createTempDirectory("plans_ann").toString
    val (cells, cents) = Ann.annBuildIndex(e, "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, annDir)
    e.filter(col("vec_id") < 5).createOrReplaceTempView("plans_spec_ann_q")
    def annRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"),
        r.getAs[Int]("rank"), java.lang.Double.doubleToLongBits(r.getAs[Double]("score")))).toSet
    val annSql = spark.sql(
      s"SELECT * FROM graft_ann_search('$annDir', 'plans_spec_ann_q', 'vec_id', 'embedding', 3, 4)")
    val annDirect = Ann.annSearchIndex(
      Ann.annOpenIndex(spark, annDir), e.filter(col("vec_id") < 5),
      "vec_id", "embedding", k = 3, nProbe = 4)
    assert(annRows(annSql) == annRows(annDirect) && annRows(annSql).nonEmpty)
  }

  test("graft_ann_search allow-list form ≡ annFilteredView; graft_index_deletes audits tombstones (r13)") {
    import graft.operators.{Ann, Tombstones}
    val e = vecs(80)
    val annDir = java.nio.file.Files.createTempDirectory("plans_annflt").toString
    val (cells, cents) = Ann.annBuildIndex(e, "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, annDir)
    GraftPlans.install(spark)
    e.filter(col("vec_id") < 5).createOrReplaceTempView("plans_flt_q")
    e.filter(col("vec_id") % 2 === 0).select("vec_id")
      .createOrReplaceTempView("plans_flt_allow")
    def annRows(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("left_id"), r.getAs[Long]("right_id"),
        r.getAs[Int]("rank"), java.lang.Double.doubleToLongBits(r.getAs[Double]("score")))).toSet
    val viaSql = spark.sql(
      s"""SELECT * FROM graft_ann_search('$annDir', 'plans_flt_q', 'vec_id',
         |  'embedding', 3, 8, 'plans_flt_allow', 'vec_id')""".stripMargin)
    val direct = Ann.annSearchIndex(
      Ann.annFilteredView(Ann.annOpenIndex(spark, annDir),
        e.filter(col("vec_id") % 2 === 0).select("vec_id"), "vec_id"),
      e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3, nProbe = 8)
    assert(annRows(viaSql) == annRows(direct) && annRows(viaSql).nonEmpty)
    assert(viaSql.collect().forall(_.getAs[Long]("right_id") % 2 == 0))
    // 7-arg form (allowedTable without allowedIdCol) is malformed
    val err = intercept[Exception] {
      spark.sql(s"""SELECT * FROM graft_ann_search('$annDir', 'plans_flt_q',
        |  'vec_id', 'embedding', 3, 8, 'plans_flt_allow')""".stripMargin).collect()
    }
    assert(err.getMessage.contains("graft_ann_search"))

    // audit TVF: empty before any delete, one exact row after
    assert(spark.sql(s"SELECT * FROM graft_index_deletes('$annDir')").isEmpty)
    import spark.implicits._
    assert(Ann.annDeleteFromIndex(spark, annDir,
      Seq(2L, 4L, 6L).toDF("id"), "id", "take1"))
    val audit = spark.sql(
      s"SELECT del_id, n_ids, n_rows, at FROM graft_index_deletes('$annDir')").collect()
    assert(audit.length == 1)
    assert(audit(0).getString(0) == "take1" && audit(0).getLong(1) == 3L
      && audit(0).getLong(2) == 3L)
    assert(audit(0).getLong(3) > 1600000000000L, "wall timestamp recorded")
    // deletesDf parity with the TVF path
    assert(Tombstones.deletesDf(spark, annDir).collect().map(_.getString(0)).toSeq
      == Seq("take1"))
  }

  test("SQL table function graft_dsir_select: matches the DataFrame API, validates args") {
    import spark.implicits._
    val docs = ((0L until 20L).map(i => (i, s"alpha compile parse emit token $i")) ++
      (20L until 60L).map(i => (i, s"market revenue growth quarter item $i")))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("plans_spec_dsir_raw")
    docs.filter(col("doc_id") < 20L).select("text")
      .createOrReplaceTempView("plans_spec_dsir_target")
    GraftPlans.install(spark)
    val viaSql = spark.sql(
      """SELECT doc_id, weight FROM graft_dsir_select('plans_spec_dsir_raw',
        |  'plans_spec_dsir_target', 'doc_id', 'text', 15, 512, 7)""".stripMargin)
    val direct = {
      val w = graft.operators.Dsir.importanceWeights(
        spark.table("plans_spec_dsir_raw"), "doc_id", "text",
        spark.table("plans_spec_dsir_target"), "text", buckets = 512)
      graft.operators.Dsir.resampleTop(w, "doc_id", n = 15, gumbel = true, seed = 7L)
    }
    def sorted(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id"), col("weight")).as[(Long, Double)].collect().sorted.toSeq
    assert(sorted(viaSql) == sorted(direct)) // bit-exact weights AND membership
    // target-vocabulary docs dominate a 15-of-60 selection
    assert(viaSql.filter(col("doc_id") < 20L).count() >= 12)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_dsir_select('plans_spec_dsir_raw', 'x')").collect()
    }
    assert(err.getMessage.contains("graft_dsir_select"))
  }

  test("SQL table functions graft_quality_gate / graft_token_budget match their DataFrame APIs") {
    import spark.implicits._
    val docs = (0L until 60L).map { i =>
      (i, s"src${i % 3}",
        if (i % 5 == 0) "@@@ ### !!!"
        else s"the quick brown fox and the lazy dog of case $i")
    }.toDF("doc_id", "source", "text")
    docs.createOrReplaceTempView("plans_spec_qg_docs")
    GraftPlans.install(spark)
    val gateSql = spark.sql(
      """SELECT doc_id FROM graft_quality_gate('plans_spec_qg_docs',
        |  'text', 'source', 'doc_id', 0.5)""".stripMargin)
      .as[Long].collect().toSet
    val gateDirect = graft.operators.Sampling.topFractionExact(
        graft.operators.TextAnalysis.qualityScore(docs, "text")
          .select(col("doc_id"), col("source"), col("quality")),
        "quality", "doc_id", Seq("source"), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(gateSql == gateDirect)

    val toks = docs.select(col("doc_id"), col("source"), lit(7L).as("n_tokens"))
    toks.createOrReplaceTempView("plans_spec_tb_docs")
    val tbSql = spark.sql(
      """SELECT doc_id FROM graft_token_budget('plans_spec_tb_docs',
        |  'source', 'doc_id', 'n_tokens', 50)""".stripMargin)
      .as[Long].collect().toSet
    val tbDirect = graft.operators.Sampling.tokenBudgetSelect(
        toks, Seq("source"), "doc_id", "n_tokens", 50L)
      .select("doc_id").as[Long].collect().toSet
    assert(tbSql == tbDirect)
    // 7 tokens/doc, budget 50 -> exactly 7 docs per source
    assert(tbSql.size == 21)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_token_budget('plans_spec_tb_docs', 'x')").collect()
    }
    assert(err.getMessage.contains("graft_token_budget"))
  }

  test("SQL table functions graft_minhash_dedup / graft_contamination match their DataFrame APIs") {
    import spark.implicits._
    // three exact-dup groups + distinct singles: clusters are non-trivial
    val docs = (0L until 30L).map { i =>
      val tag = if (i % 3 == 0) s"grp${i % 9}" else s"solo$i"
      (i, s"$tag alpha $tag beta $tag gamma $tag delta $tag epsilon")
    }.toDF("doc_id", "text")
    docs.createOrReplaceTempView("plans_spec_mh_docs")
    GraftPlans.install(spark)
    val dedupSql = spark.sql(
      """SELECT id, cluster
        |FROM graft_minhash_dedup('plans_spec_mh_docs', 'doc_id', 'text', 0.5)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val dedupDirect = graft.operators.Dedup
      .minhashLsh(docs, "doc_id", "text", jaccardThreshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dedupSql == dedupDirect)
    assert(dedupSql.exists { case (id, cl) => id != cl }, "expected non-trivial clusters")

    docs.filter($"doc_id" % 5 === 0).createOrReplaceTempView("plans_spec_mh_bench")
    val contamSql = spark.sql(
      """SELECT corpus_id, benchmark_id, jaccard
        |FROM graft_contamination('plans_spec_mh_docs', 'plans_spec_mh_bench',
        |                         'doc_id', 'text', 'doc_id', 'text', 0.8)""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val contamDirect = graft.operators.Dedup.contamination(
        docs, "doc_id", "text", docs.filter($"doc_id" % 5 === 0), "doc_id", "text",
        jaccardThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(contamSql == contamDirect)
    assert(contamSql.nonEmpty, "benchmark docs must at least flag themselves")
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_minhash_dedup('plans_spec_mh_docs', 'x')").collect()
    }
    assert(err.getMessage.contains("graft_minhash_dedup"))
  }

  test("SQL table function graft_maintenance_log reads the persisted audit trail") {
    import spark.implicits._
    import graft.operators.IndexMaintenance
    val root = java.nio.file.Files.createTempDirectory("plans_spec_maint_log").toString
    val docs = (0L until 8L).map(i => (i, s"base$i alpha beta gamma delta")).toDF("doc_id", "text")
    graft.operators.Dedup.minhashWriteIndex(
      graft.operators.Dedup.minhashBuildIndex(docs, "doc_id", "text"),
      IndexMaintenance.genPath(root, 0))
    IndexMaintenance.commitGeneration(spark, root, 0)
    IndexMaintenance.maintainIndexes(spark, minhashRoot = Some(root))
    GraftPlans.install(spark)
    val viaSql = spark.sql(
      s"SELECT pass, idx, action FROM graft_maintenance_log('$root')")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(viaSql == Seq((0, "minhash", "none")))
    // matches the DataFrame API, full schema
    val direct = IndexMaintenance.eventsDf(spark, root)
      .select("pass", "idx", "action")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(viaSql == direct)
    // empty-root behavior carries through the TVF: empty frame, not an error
    val emptyRoot = java.nio.file.Files.createTempDirectory("plans_spec_maint_empty").toString
    assert(spark.sql(
      s"SELECT * FROM graft_maintenance_log('$emptyRoot/none')").collect().isEmpty)
    val err = intercept[Exception] {
      spark.sql("SELECT * FROM graft_maintenance_log('a', 'b')").collect()
    }
    assert(err.getMessage.contains("graft_maintenance_log"))
  }

  test("graft_minhash_search TVF ≡ DataFrame search, allow-list form ≡ filtered " +
      "view; graft_denylist audits the takedown denylist (r13)") {
    import spark.implicits._
    val docs = (0L until 40L).map { i =>
      val tag = s"grp${i / 2}" // consecutive pairs near-dup
      (i, s"$tag alpha $tag beta $tag gamma $tag delta $tag epsilon tail$i")
    }.toDF("doc_id", "text")
    val idxDir = java.nio.file.Files.createTempDirectory("plans_spec_mhsearch").toString
    graft.operators.Dedup.minhashWriteIndex(
      graft.operators.Dedup.minhashBuildIndex(docs, "doc_id", "text"), idxDir)
    val idx = graft.operators.Dedup.minhashOpenIndex(spark, idxDir)
    docs.filter($"doc_id" % 10 === 0).createOrReplaceTempView("plans_spec_mhs_batch")
    docs.filter($"doc_id" % 2 === 1).select("doc_id")
      .createOrReplaceTempView("plans_spec_mhs_allow")
    GraftPlans.install(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = rows(spark.sql(
      s"""SELECT corpus_id, batch_id, jaccard
         |FROM graft_minhash_search('$idxDir', 'plans_spec_mhs_batch',
         |                          'doc_id', 'text', 0.5)""".stripMargin))
    val direct = rows(graft.operators.Dedup.minhashSearchIndex(
      idx, docs.filter($"doc_id" % 10 === 0), "doc_id", "text", 0.5))
    assert(plain == direct)
    assert(plain.exists { case (c, b, _) => c != b }, "expected cross-doc near-dups")
    val filtered = rows(spark.sql(
      s"""SELECT corpus_id, batch_id, jaccard
         |FROM graft_minhash_search('$idxDir', 'plans_spec_mhs_batch',
         |  'doc_id', 'text', 0.5, 'plans_spec_mhs_allow', 'doc_id')""".stripMargin))
    assert(filtered == plain.filter(_._1 % 2 == 1))
    val err = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_minhash_search('$idxDir', 'x')").collect()
    }
    assert(err.getMessage.contains("graft_minhash_search"))

    // denylist TVF: empty on a root with no takedowns, exact ids after
    val root = java.nio.file.Files.createTempDirectory("plans_spec_deny").toString
    assert(spark.sql(s"SELECT * FROM graft_denylist('$root')").collect().isEmpty)
    graft.streaming.Denylist.append(spark, root,
      Seq(7L, 3L, 7L).toDF("doc_id"), "doc_id", "del_0")
    val ids = spark.sql(s"SELECT id FROM graft_denylist('$root') ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids == Seq(3L, 7L))
  }

  test("self-join via the TVF keeps both sides independently bound") {
    // regression guard for the duplicate-exprId self-join hazard: both sides
    // read the SAME view; by-name binding must keep left/right separate
    val e = vecs(40)
    e.createOrReplaceTempView("plans_spec_self")
    GraftPlans.install(spark)
    val out = spark.sql(
      """SELECT * FROM graft_knn_join('plans_spec_self', 'plans_spec_self',
        |  'vec_id', 'embedding', 'vec_id', 'embedding', 1, false)""".stripMargin)
    val rows = collectSorted(out)
    assert(rows.size == 40)
    // without excludeSelf, every row's 1-NN is itself at score 1.0
    assert(rows.forall(r => r._1 == r._2 && math.abs(r._3 - 1.0) < 1e-12))
  }
}
