package graft

import graft.embed.HashEmbedder
import graft.llm.{ChatBatchTransformer, ChatHttpTransport, ChatMessage, ChatPairJudge, ChatRowClassifier, GeminiChatTransport, GeminiPairJudge, Llm, RetryingChatTransport, Routing}
import graft.operators.{Multimodal, SemanticJoin}
import graft.sources.Io
import graft.streaming.StreamOps
import graft.train.{CentroidAdjustedEmbedder, CentroidFitter, ModelArtifact, TrainConfig, TrainPrep}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the pipeline modules: train prep, provider routing, multimodal
  * plumbing, streaming ops, and IO wrappers.
  */
class PipelineSpec extends AnyFunSuite with LocalSession {

  lazy val emb = new HashEmbedder(32)

  // ------------------------------------------------------------------ TrainPrep

  test("assignGroupIds: dense 0-based ids in key order, all rows kept") {
    import spark.implicits._
    val df = Seq(("b", 1), ("a", 2), ("b", 3), ("c", 4), ("a", 5)).toDF("k", "v")
    val out = TrainPrep.assignGroupIds(df, Seq("k")).collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("group_id"))).toMap
    assert(out == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    assert(TrainPrep.assignGroupIds(df, Seq("k")).count() == 5)
  }

  test("clustersFromPairs: connected components over positive pairs") {
    import spark.implicits._
    // 1-2, 2-3 chain; 10-11; 20 never appears (no pair → no row)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("l", "r")
    val got = TrainPrep.clustersFromPairs(pairs, "l", "r").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("splitByCluster: same cluster never straddles splits, pcts respected") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i, i / 4)).toDF("id", "cluster")
    val out = TrainPrep.splitByCluster(df, "cluster")
    val perCluster = out.groupBy("cluster").agg(countDistinct("split").as("k"))
      .agg(max("k")).first().getLong(0)
    assert(perCluster == 1L, "a cluster leaked across splits")
    val bySplit = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit("train") > bySplit("val") && bySplit("val") >= bySplit("test") * 0)
    assert(bySplit.values.sum == 1000)
  }

  test("randomSplitByCluster: partitions are disjoint and cover all rows") {
    import spark.implicits._
    val df = (0 until 200).map(i => (i, i / 5)).toDF("id", "cluster")
    val parts = TrainPrep.randomSplitByCluster(df, "cluster", Array(0.8, 0.2), seed = 42)
    assert(parts.map(_.count()).sum == 200)
    val c0 = parts(0).select("cluster").distinct().as[Int].collect().toSet
    val c1 = parts(1).select("cluster").distinct().as[Int].collect().toSet
    assert(c0.intersect(c1).isEmpty)
  }

  test("irEvalSplit: one query per cluster, relevant = same-cluster others") {
    import spark.implicits._
    val df = Seq((1L, 100L, "a"), (2L, 100L, "b"), (3L, 200L, "c"), (4L, 200L, "d"), (5L, 200L, "e"))
      .toDF("id", "cluster", "text")
    val (queries, corpus, rel) = TrainPrep.irEvalSplit(df, "id", "cluster", "text")
    assert(queries.count() == 2 && corpus.count() == 5)
    val relSet = rel.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(relSet == Set((1L, 2L), (3L, 4L), (3L, 5L)))
  }

  test("Prefix.cumSums matches a single-partition window, with ties, across partitions") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // 5k rows, scores drawn from 500 distinct values → guaranteed ties and
    // multiple range partitions at shufflePartitions=32
    val df = (0 until 5000)
      .map(i => ((i * 2654435761L % 500) / 500.0, (i % 3 == 0): Boolean))
      .toDF("score", "flag")
      .withColumn("w", col("flag").cast("double"))
      .groupBy("score").agg(sum("w").as("pos"), count(lit(1)).as("cnt"))
    val got = graft.core.Prefix.cumSums(df, Seq(desc("score")), Seq("pos", "cnt"))
      .select("score", "__cum_pos", "__cum_cnt").collect()
      .map(r => (r.getDouble(0), (r.getDouble(1), r.getDouble(2)))).toMap
    val w = Window.orderBy(desc("score"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.withColumn("cp", sum(col("pos").cast("double")).over(w))
      .withColumn("cc", sum(col("cnt").cast("double")).over(w))
      .select("score", "cp", "cc").collect()
      .map(r => (r.getDouble(0), (r.getDouble(1), r.getDouble(2)))).toMap
    assert(got == want)
  }

  test("Prefix.globalIndex is the dense 0..n-1 rank in sort order") {
    import spark.implicits._
    val keys = (0 until 2000).map(i => f"k${(i * 7919) % 2000}%05d").toDF("k")
    val out = graft.core.Prefix.globalIndex(keys, Seq(col("k")), "idx")
      .orderBy("k").collect().map(_.getAs[Long]("idx"))
    assert(out.toSeq == (0L until 2000L))
  }

  test("labelDistribution sums to 1") {
    import spark.implicits._
    val df = Seq(0, 0, 0, 1, 2, 2).toDF("label")
    val fracs = TrainPrep.labelDistribution(df, "label").agg(sum("frac")).first().getDouble(0)
    assert(math.abs(fracs - 1.0) < 1e-12)
  }

  test("trainModel: artifact dir with round-tripping config and val sidecars") {
    import spark.implicits._
    val pairs = Seq(
      ("apple inc", "Apple Inc."), ("apple inc", "APPLE"),
      ("microsoft corp", "Microsoft"), ("tesla", "Tesla Motors"))
      .toDF("l", "r")
    val tmp = java.nio.file.Files.createTempDirectory("graft_model").toString
    val cfg = TrainConfig(modelSaveDir = tmp, modelSaveName = "m1", valPerc = 0.5)
    val (fitted, dir) = ModelArtifact.trainModel(
      spark, pairs, "l", "r", emb, cfg)
    assert(fitted eq emb) // IdentityFitter returns the frozen base model
    assert(new java.io.File(s"$dir/LT_training_config.json").exists())
    val back = ModelArtifact.loadConfig(dir)
    assert(back == cfg, s"config did not round-trip: $back")
    // sidecars only written when the val split drew clusters — check readability
    val qf = new java.io.File(s"$dir/val_queries.parquet")
    if (qf.exists()) {
      val q = spark.read.parquet(s"$dir/val_queries.parquet")
      assert(q.columns.toSeq == Seq("qid", "text"))
    }
  }

  test("fitted centroid model round-trips through the artifact dir") {
    import spark.implicits._
    val clusters = Seq((0L, "apple iphone"), (0L, "apple mac"), (1L, "banana bread"))
      .toDF("cluster", "text")
    val fitted = new CentroidFitter(alpha = 0.4).fit(clusters, emb, TrainConfig())
    val dir = java.nio.file.Files.createTempDirectory("graft_fitted").toString
    ModelArtifact.saveFitted(spark, dir, fitted)
    val reloaded = ModelArtifact.loadFitted(spark, dir, emb)
    val texts = Seq("apple iphone", "banana bread", "unseen text").toDF("t")
    def vecs(e: graft.embed.Embedder) = e.embed(texts, "t", "v").collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val a = vecs(fitted); val b = vecs(reloaded)
    texts.collect().map(_.getString(0)).foreach { t =>
      assert(a(t) == b(t), s"reloaded model diverges on '$t'")
    }
    // no fitted state → base returned unchanged
    val plainDir = java.nio.file.Files.createTempDirectory("graft_unfitted").toString
    assert(ModelArtifact.loadFitted(spark, plainDir, emb) eq emb)
    // re-saving an UNFITTED model into the same dir must clear the old state,
    // not let a later load resurrect the previous run's centroids
    ModelArtifact.saveFitted(spark, dir, emb)
    assert(ModelArtifact.loadFitted(spark, dir, emb) eq emb)
    // dim mismatch fails fast instead of blending embedding spaces
    ModelArtifact.saveFitted(spark, dir, fitted)
    val e = intercept[IllegalArgumentException] {
      ModelArtifact.loadFitted(spark, dir, new HashEmbedder(16))
    }
    assert(e.getMessage.contains("dim"))
  }

  test("trainModel with CentroidFitter returns a centroid-adjusted embedder") {
    import spark.implicits._
    val pairs = Seq(
      ("apple inc", "Apple Inc."), ("apple inc", "APPLE"),
      ("microsoft corp", "Microsoft"), ("tesla", "Tesla Motors"))
      .toDF("l", "r")
    val tmp = java.nio.file.Files.createTempDirectory("graft_model_cf").toString
    val cfg = TrainConfig(modelSaveDir = tmp, modelSaveName = "m2",
      valPerc = 0.25, saveValTestPickles = false)
    val (fitted, _) = ModelArtifact.trainModel(
      spark, pairs, "l", "r", emb, cfg, fitter = new CentroidFitter(alpha = 0.5))
    assert(fitted.isInstanceOf[CentroidAdjustedEmbedder])
    // fitted model still embeds arbitrary text at the right dim
    val v = fitted.embed(Seq("anything").toDF("t"), "t", "v")
      .head().getSeq[Double](1)
    assert(v.length == emb.dim)
  }

  // ---------------------------------------------------------------- Embedders

  test("HttpEmbedder: char-budget packing boundaries and order") {
    import graft.embed.HttpEmbedder
    val texts = Seq("aaaa", "bbbb", "cccc", "dd", "e")
    // budget 8: [aaaa,bbbb] (8 chars), then cccc+dd+e = 7 chars fits one pack
    val packs = HttpEmbedder.packByCharBudget(texts, 8)
    assert(packs == Seq(Seq("aaaa", "bbbb"), Seq("cccc", "dd", "e")))
    assert(HttpEmbedder.packByCharBudget(texts, 4) ==
      Seq(Seq("aaaa"), Seq("bbbb"), Seq("cccc"), Seq("dd", "e")))
    // oversized single text still ships alone (packs are never empty)
    assert(HttpEmbedder.packByCharBudget(Seq("x" * 100, "y"), 8) ==
      Seq(Seq("x" * 100), Seq("y")))
    assert(HttpEmbedder.packByCharBudget(Nil, 8).isEmpty)
  }

  test("HttpEmbedder: retries with backoff then succeeds; gives up after max") {
    import graft.embed.{EmbeddingTransport, HttpEmbedder}
    import spark.implicits._
    // JVM-static counter: transport instances are closure-serialized per task,
    // but the object symbol resolves to the shared instance in local mode
    FlakyTransportState.calls.set(0)
    val flaky = new EmbeddingTransport {
      def request(texts: Seq[String]): Seq[Array[Double]] = {
        if (FlakyTransportState.calls.incrementAndGet() <= 2)
          throw new RuntimeException("429")
        texts.map(t => Array(t.length.toDouble, 1.0))
      }
    }
    val emb2 = new HttpEmbedder(flaky, dim = 2, charBudget = 1000,
      maxRetries = 5, initialBackoffMs = 1L)
    val out = emb2.embed(Seq((1L, "ab"), (2L, "xyz")).toDF("id", "t"), "t", "v")
      .orderBy("id").collect()
    // the first two requests failed and were retried in-task, then succeeded
    assert(FlakyTransportState.calls.get() >= 3)
    assert(out.map(_.getSeq[Double](2).head) sameElements Array(2.0, 3.0))

    val alwaysFail = new EmbeddingTransport {
      def request(texts: Seq[String]): Seq[Array[Double]] = throw new RuntimeException("boom")
    }
    val emb3 = new HttpEmbedder(alwaysFail, dim = 2, maxRetries = 2, initialBackoffMs = 1L)
    val ex = intercept[org.apache.spark.SparkException] {
      emb3.embed(Seq((1L, "a")).toDF("id", "t"), "t", "v").collect()
    }
    assert(ex.getMessage.contains("boom") || ex.getCause != null)
  }

  test("validateMergeType: warns on duplicated keys per declared side only") {
    import graft.core.Keys
    import spark.implicits._
    val dupLeft = Seq(("a", 1), ("a", 2), ("b", 3)).toDF("k", "v")
    val uniq = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    assert(Keys.validateMergeType(dupLeft, uniq, Seq("k"), Seq("k"), "1:1").size == 1)
    assert(Keys.validateMergeType(dupLeft, uniq, Seq("k"), Seq("k"), "1:m").size == 1)
    assert(Keys.validateMergeType(dupLeft, uniq, Seq("k"), Seq("k"), "m:1").isEmpty)
    assert(Keys.validateMergeType(dupLeft, dupLeft, Seq("k"), Seq("k"), "1:1").size == 2)
    assert(Keys.validateMergeType(dupLeft, dupLeft, Seq("k"), Seq("k"), "m:m").isEmpty)
    intercept[IllegalArgumentException] {
      Keys.validateMergeType(uniq, uniq, Seq("k"), Seq("k"), "2:2")
    }
  }

  test("orc and json-lines round-trip via Io") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    val tmp = java.nio.file.Files.createTempDirectory("graft_io2").toString
    Io.writeOrc(df, s"$tmp/o")
    assert(Io.readOrc(spark, s"$tmp/o").orderBy("id").collect().map(_.getString(1)).toSeq == Seq("a", "b"))
    Io.writeJsonLines(df, s"$tmp/j", coalesceTo = 1)
    assert(Io.readJsonLines(spark, s"$tmp/j").count() == 2)
  }

  test("bucketed tables equi-join without a shuffle exchange") {
    import spark.implicits._
    val dbDir = java.nio.file.Files.createTempDirectory("graft_bucketdb")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '${dbDir.toUri}'")
    val a = (0 until 500).map(i => (i.toLong, s"a$i")).toDF("k", "va")
    val b = (0 until 500).map(i => (i.toLong, i * 2.0)).toDF("k", "vb")
    Io.writeBucketed(a, "bucketdb.t_a", Seq("k"), nBuckets = 4, sortCols = Seq("k"))
    Io.writeBucketed(b, "bucketdb.t_b", Seq("k"), nBuckets = 4, sortCols = Seq("k"))
    // disable auto-broadcast so the planner must consider distribution: the
    // bucketing then satisfies the sort-merge join's requirement directly
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("bucketdb.t_a").join(spark.table("bucketdb.t_b"), "k")
      assert(joined.count() == 500)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffled:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  // -------------------------------------------------------------------- Routing

  test("routing quirks preserved: text-embedding-004 is gemini, ada-002 is openai") {
    assert(Routing.isGeminiModel("models/text-embedding-004"))
    assert(Routing.isGeminiModel("gemini-1.5-flash"))
    assert(Routing.isGeminiModel("embedding-001"))
    assert(!Routing.isGeminiModel("text-embedding-3-small"))
    assert(Routing.isOpenAiEmbeddingModel("text-embedding-3-small"))
    assert(Routing.isOpenAiEmbeddingModel("text-embedding-ada-002"))
    // gemini check runs FIRST: -004 routes gemini despite matching both
    assert(Routing.embeddingProvider("text-embedding-004") == Routing.Gemini)
    assert(Routing.embeddingProvider("text-embedding-3-large") == Routing.OpenAi)
    assert(Routing.embeddingProvider("all-MiniLM-L6-v2") == Routing.Local)
  }

  test("routing key precedence: explicit gemini > env gemini > openai") {
    assert(Routing.resolveAutoProvider(Some("ok"), Some("gk")) == Right(Routing.Gemini))
    assert(Routing.resolveAutoProvider(Some("ok"), None,
      Map("GEMINI_API_KEY" -> "g")) == Right(Routing.Gemini))
    assert(Routing.resolveAutoProvider(Some("ok"), None) == Right(Routing.OpenAi))
    assert(Routing.resolveAutoProvider(None, None).isLeft)
    assert(Routing.judgeProvider("gemini-pro") == Routing.Gemini)
    assert(Routing.judgeProvider("gpt-4o") == Routing.OpenAi)
    assert(Routing.backoffMs(0) == 15000L && Routing.backoffMs(2) == 60000L)
  }

  // ----------------------------------------------------------------- Multimodal

  test("multimodal: format sniffing, checksum, and chunk sampling") {
    import spark.implicits._
    val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 1, 2, 3)
    val jpg = Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte, 9)
    val raw = "hello world, this is a long enough payload".getBytes("UTF-8")
    val df = Seq((1, png), (2, jpg), (3, raw)).toDF("id", "payload")
    val meta = Multimodal.withMediaMeta(df, "payload")
      .select("id", "media_meta.format", "media_meta.n_bytes").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(meta(1) == ("png", 7L))
    assert(meta(2) == ("jpeg", 4L))
    assert(meta(3)._1 == null && meta(3)._2 == raw.length.toLong)

    val chunks = Multimodal.sampleChunks(df.filter($"id" === 3), "payload", n = 4, chunkBytes = 8)
      .select("chunks").first().getSeq[Array[Byte]](0)
    assert(chunks.length == 4)
    assert(chunks.forall(_.length <= 8))
    assert(new String(chunks(0), "UTF-8") == "hello wo")
  }

  test("multimodal: resize bounds payload, features feed the similarity stack") {
    import spark.implicits._
    val a = Array.tabulate(500)(_.toByte)
    val b = Array.tabulate(500)(_.toByte) // identical payload
    val c = Array.tabulate(400)(i => (i * 7).toByte)
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("id", "payload")

    val rs = Multimodal.resize(df, "payload", w = 8, h = 8)
      .select("id", "resized", "resized_shape.width").collect()
    rs.foreach { r =>
      assert(r.getAs[Array[Byte]](1).length <= 64)
      assert(r.getInt(2) == 8)
    }

    // identical payloads embed identically -> near-dup machinery finds them
    val feats = Multimodal.extractFeatures(df, "payload", dim = 16)
    val clusters = graft.operators.Clustering
      .epsilonCluster(feats, "id", "features", tau = 0.999)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters(1L) == clusters(2L), s"identical media split: $clusters")
    assert(clusters(3L) != clusters(1L), s"distinct media merged: $clusters")
  }

  test("ModelEmbedder: artifact round-trip, ONE model init per executor, exact projection") {
    import spark.implicits._
    import graft.embed.{HashEmbedder => HE, LinearModel, ModelEmbedder}
    val dir = java.nio.file.Files.createTempDirectory("graft_linear").toString
    val w = LinearModel.seeded(dimIn = 32, dimOut = 8, seed = 7L)
    LinearModel.save(spark, dir, dimIn = 32, w)

    val emb = ModelEmbedder.load(spark, dir)
    assert(emb.dim == 8)
    val texts = (0 until 64).map(i => s"text number $i")
    val before = LinearModel.initCount.get()
    // 8 partitions, many batches — still exactly one assembly in this JVM
    val out = emb.embed(texts.toDF("t").repartition(8), "t", "v")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(LinearModel.initCount.get() == before + 1,
      "model must assemble exactly once per executor JVM")

    // exact projection: out == normalize(W · hashFeat(text))
    val feat = HE.embedText("text number 3", 32, tokenMix = true)
    val expect = w.map(row => row.lazyZip(feat).map(_ * _).sum)
    val n = math.sqrt(expect.map(x => x * x).sum)
    assert(out("text number 3").lazyZip(expect.map(_ / n))
      .forall((a, b) => math.abs(a - b) < 1e-12))

    // a semantic query runs on the loaded model: identical text is its 1-NN
    val left = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text")
    val right = Seq((10L, "alpha beta"), (20L, "epsilon zeta")).toDF("rid", "rtext")
    val m = SemanticJoin.merge(left, right,
        leftOn = Seq("text"), rightOn = Seq("rtext"), embedder = emb)
      .select("id", "rid", "score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m(1L)._1 == 10L && m(1L)._2 > 0.999999, s"exact text must be its own 1-NN: $m")

    // reload cache key is per artifact; corrupt meta fails fast
    val e = intercept[IllegalArgumentException] {
      LinearModel.load(spark, dir + "/nope")
    }
    assert(e.getMessage.contains("no linear model artifact"))

    // pre-featurizer artifacts (no field in meta) read as "hash"
    assert(LinearModel.load(spark, dir)._4 == "hash")
  }

  test("ModelEmbedder: md5 featurizer round-trips and matches the in-process kernel") {
    import spark.implicits._
    import graft.embed.{LinearModel, ModelEmbedder}
    val dir = java.nio.file.Files.createTempDirectory("graft_linear_md5").toString
    val w = Array.tabulate(4, 16)((i, j) => (((7 * i + 3 * j) % 11) - 5) / 10.0)
    LinearModel.save(spark, dir, dimIn = 16, w, featurizer = "md5")
    val emb = ModelEmbedder.load(spark, dir)
    assert(emb.dim == 4)
    val out = emb.embed(Seq("alpha beta gamma").toDF("t"), "t", "v")
      .head().getSeq[Double](1)
    val feat = graft.functions.Md5EmbedExpr.embedText("alpha beta gamma")
    val proj = w.map(row => row.lazyZip(feat).map(_ * _).sum)
    val n = math.sqrt(proj.map(x => x * x).sum)
    assert(out.lazyZip(proj.map(_ / n)).forall((a, b) => math.abs(a - b) < 1e-12))
    // md5 featurizer pins dimIn at the kernel's 16
    intercept[IllegalArgumentException] {
      new LinearModel.Model(8, 2, Array.fill(2)(Array.fill(8)(0.1)), "md5")
    }
  }

  test("ImageCodec: PNG round-trip is pixel-exact; nearest resize; undecodable -> zeros") {
    import spark.implicits._
    import graft.operators.Multimodal.ImageCodec
    // direct codec round-trip: arbitrary RGB pattern survives encode+decode
    val rgb = (x: Int, y: Int) => ((x * 37 + 11) % 256 << 16) | ((y * 53) % 256 << 8) | ((x + y) % 256)
    val png = ImageCodec.encodePng(5, 4, rgb)
    val d = ImageCodec.decode(png).get
    assert(d.width == 5 && d.height == 4)
    for (y <- 0 until 4; x <- 0 until 5)
      assert((d.argb(y * 5 + x) & 0xffffff) == rgb(x, y), s"pixel ($x,$y)")
    // nearest resize picks source (x*w/w2, y*h/h2)
    val half = ImageCodec.resizeNearest(d, 2, 2)
    assert((half.argb(0) & 0xffffff) == rgb(0, 0))
    assert((half.argb(3) & 0xffffff) == rgb(2, 2))

    // DataFrame plumbing: test card decode matches the closed form; garbage
    // payloads get the zero struct / zero features, not an exception
    val ids = Seq(0L, 3L).toDF("doc_id")
    val imgs = Multimodal.encodeTestCard(ids, "doc_id", w = 4, h = 2)
    val meta = Multimodal.decodeImage(imgs, "img").select("doc_id", "image_meta.*")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getLong(3))).toMap
    def sumR(id: Long) = (for (y <- 0 until 2; x <- 0 until 4)
      yield ((7 * id + 3 * x + 5 * y) % 256)).sum
    assert(meta(0L) == ((4, 2, sumR(0))))
    assert(meta(3L) == ((4, 2, sumR(3))))
    // non-PNG JDK readers: BMP round-trips pixel-exact (also lossless);
    // JPEG is lossy so only dims + successful decode are contractual
    val bimg = new java.awt.image.BufferedImage(3, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3) bimg.setRGB(x, y, rgb(x, y))
    def enc(fmt: String): Array[Byte] = {
      val o = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(bimg, fmt, o), s"no $fmt writer")
      o.toByteArray
    }
    val bmp = ImageCodec.decode(enc("bmp")).get
    assert(bmp.width == 3 && bmp.height == 2)
    for (y <- 0 until 2; x <- 0 until 3)
      assert((bmp.argb(y * 3 + x) & 0xffffff) == rgb(x, y), s"bmp pixel ($x,$y)")
    val jpg = ImageCodec.decode(enc("jpg")).get
    assert(jpg.width == 3 && jpg.height == 2)

    val junk = Seq((1L, "not an image".getBytes("UTF-8"))).toDF("id", "img")
    val jm = Multimodal.decodeImage(junk, "img").select("image_meta.*").first()
    assert(jm.getInt(0) == 0 && jm.getLong(2) == 0L)
    assert(Multimodal.imageGridFeatures(junk, "img", 2, 2)
      .select("features").first().getSeq[Double](0) == Seq(0.0, 0.0, 0.0, 0.0))
    assert(Multimodal.resizeImageNearest(junk, "img", 2, 2)
      .select("resized").first().get(0) == null)
  }

  test("AudioCodec: WAV round-trip is sample-exact; window RMS; undecodable -> zeros") {
    import spark.implicits._
    import graft.operators.Multimodal.AudioCodec
    // direct codec round-trip: arbitrary 16-bit pattern (incl. extremes)
    // survives encode+decode
    val pat = (i: Int) => Seq(-32768, 32767, 0, -1, 12345, -9876)(i % 6)
    val wav = AudioCodec.encodeWav(sampleRate = 8000, n = 48, pat)
    val d = AudioCodec.decode(wav).get
    assert(d.sampleRate == 8000 && d.channels == 1 && d.frames == 48L)
    (0 until 48).foreach(i => assert(d.samples(i) == pat(i), s"sample $i"))

    // DataFrame plumbing: test tone decode matches the closed form
    val ids = Seq(0L, 3L).toDF("doc_id")
    val wavs = Multimodal.encodeTestTone(ids, "doc_id", sampleRate = 8000, nSamples = 64)
    def tone(id: Long, i: Int): Long = (2469L * id + 303L * i) % 65536L - 32768L
    val meta = Multimodal.decodeAudio(wavs, "wav").select("doc_id", "audio_meta.*")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(3), r.getLong(5)))).toMap
    def sumAbs(id: Long) = (0 until 64).map(i => math.abs(tone(id, i))).sum
    assert(meta(0L) == ((8000, 64L, sumAbs(0))))
    assert(meta(3L) == ((8000, 64L, sumAbs(3))))
    // window RMS = sqrt of the integer-exact squared sum / count
    val rms = Multimodal.audioWindowFeatures(wavs, "wav", n = 2)
      .filter($"doc_id" === 3L).select("audio_features").first().getSeq[Double](0)
    def expRms(id: Long, lo: Int, hi: Int) =
      math.sqrt((lo until hi).map(i => { val s = tone(id, i); s * s }).sum.toDouble / (hi - lo))
    assert(rms == Seq(expRms(3, 0, 32), expRms(3, 32, 64)))

    // 8-bit unsigned PCM decodes recentered; garbage payloads get the zero
    // struct / zero features, not an exception
    val fmt8 = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED, 4000f, 8, 1, 1, 4000f, false)
    val raw8 = Array[Byte](0, 127.toByte, 128.toByte, 255.toByte)
    val ais8 = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(raw8), fmt8, 4L)
    val out8 = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais8, javax.sound.sampled.AudioFileFormat.Type.WAVE, out8)
    val d8 = AudioCodec.decode(out8.toByteArray).get
    assert(d8.samples.toSeq == Seq(-128, -1, 0, 127))

    val junk = Seq((1L, "not audio".getBytes("UTF-8"))).toDF("id", "wav")
    val jm = Multimodal.decodeAudio(junk, "wav").select("audio_meta.*").first()
    assert(jm.getInt(0) == 0 && jm.getLong(2) == 0L)
    assert(Multimodal.audioWindowFeatures(junk, "wav", 3)
      .select("audio_features").first().getSeq[Double](0) == Seq(0.0, 0.0, 0.0))
  }

  test("VideoCodec: AVI round-trip is pixel-exact; frame features; real frame sampling") {
    import spark.implicits._
    import graft.operators.Multimodal.{ImageCodec, VideoCodec}
    // direct codec round-trip: arbitrary per-frame RGB pattern survives
    // encode+decode — width 5 forces a padded row stride (15 -> 16 bytes),
    // so stride arithmetic and the bottom-up row order are both exercised
    val rgb = (f: Int, x: Int, y: Int) =>
      (((f * 41 + x * 37 + 11) % 256) << 16) | (((y * 53 + f) % 256) << 8) | ((x + y + 2 * f) % 256)
    val avi = VideoCodec.encodeAvi(w = 5, h = 4, fps = 10, nFrames = 3, rgb)
    assert(graft.operators.Multimodal.ContainerSniff.format(avi) == "avi")
    val d = VideoCodec.decode(avi).get
    assert(d.width == 5 && d.height == 4 && d.fps == 10 && d.frames.length == 3)
    for (f <- 0 until 3; y <- 0 until 4; x <- 0 until 5)
      assert((d.frames(f)(y * 5 + x) & 0xffffff) == rgb(f, x, y), s"frame $f pixel ($x,$y)")

    // DataFrame plumbing: test clip decode matches the closed form
    val ids = Seq(0L, 3L).toDF("doc_id")
    val clips = Multimodal.encodeTestClip(ids, "doc_id", w = 4, h = 2, fps = 5, nFrames = 4)
    def chR(id: Long, f: Int, x: Int, y: Int): Long = (7 * id + 3 * x + 5 * y + 11 * f) % 256
    val meta = Multimodal.decodeVideo(clips, "avi").select("doc_id", "video_meta.*")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getLong(5)))).toMap
    def sumR(id: Long) = (for (f <- 0 until 4; y <- 0 until 2; x <- 0 until 4)
      yield chR(id, f, x, y)).sum
    assert(meta(0L) == ((4, 2, 4, 5, sumR(0))))
    assert(meta(3L) == ((4, 2, 4, 5, sumR(3))))

    // per-window brightness means match the closed form (2 frames/window)
    def ch(id: Long, f: Int, x: Int, y: Int): Long =
      chR(id, f, x, y) + (11 * id + x + 2 * y + 7 * f) % 256 + (13 * id + 4 * x + y + 3 * f) % 256
    val fb = Multimodal.videoFrameFeatures(clips, "avi", n = 2)
      .filter($"doc_id" === 3L).select("video_features").first().getSeq[Double](0)
    def expMean(id: Long, lo: Int, hi: Int) =
      (for (f <- lo until hi; y <- 0 until 2; x <- 0 until 4) yield ch(id, f, x, y)).sum /
        (3.0 * (hi - lo) * 8)
    assert(fb == Seq(expMean(3, 0, 2), expMean(3, 2, 4)))

    // real frame sampling: 2 of 4 frames (0 and 2), PNG-encoded losslessly —
    // decoding the sampled PNG reproduces the clip's exact frame pixels
    val frames = Multimodal.sampleFrames(clips, "avi", n = 2)
      .filter($"doc_id" === 3L).select("frames").first().getSeq[Array[Byte]](0)
    assert(frames.length == 2)
    val f2 = ImageCodec.decode(frames(1)).get
    assert(f2.width == 4 && f2.height == 2)
    for (y <- 0 until 2; x <- 0 until 4) {
      val p = f2.argb(y * 4 + x) & 0xffffff
      val exp = (chR(3, 2, x, y).toInt << 16) |
        (((11 * 3 + x + 2 * y + 7 * 2) % 256) << 8) | ((13 * 3 + 4 * x + y + 3 * 2) % 256)
      assert(p == exp, s"sampled frame pixel ($x,$y)")
    }

    // compressed streams ('00dc'), truncated containers, and garbage all
    // yield None / the zero struct, never an exception
    val dcAvi = avi.clone()
    val idx = { // flip the first '00db' fourcc to '00dc'
      val s = new String(dcAvi, "ISO-8859-1"); s.indexOf("00db")
    }
    assert(idx > 0); dcAvi(idx + 3) = 'c'.toByte
    assert(VideoCodec.decode(dcAvi).isEmpty)
    assert(VideoCodec.decode(java.util.Arrays.copyOf(avi, 40)).isEmpty)
    val junkV = Seq((1L, "not a video".getBytes("UTF-8"))).toDF("id", "avi")
    val jv = Multimodal.decodeVideo(junkV, "avi").select("video_meta.*").first()
    assert(jv.getInt(0) == 0 && jv.getInt(2) == 0)
    assert(Multimodal.videoFrameFeatures(junkV, "avi", 3)
      .select("video_features").first().getSeq[Double](0) == Seq(0.0, 0.0, 0.0))
    assert(Multimodal.sampleFrames(junkV, "avi", 2).select("frames").first().get(0) == null)
  }

  // ------------------------------------------------------------------ Streaming

  test("windowedEventCounts over a memory stream matches batch result") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val rows = (0 until 60).map { i =>
      (java.sql.Timestamp.valueOf(f"2026-01-01 10:${i % 30}%02d:00"), if (i % 2 == 0) "click" else "view", 1.0)
    }
    val stream = MemoryStream[(java.sql.Timestamp, String, Double)]
    stream.addData(rows: _*)
    val out = StreamOps.windowedEventCounts(
      stream.toDF().toDF("ts", "event_type", "value"),
      windowLen = "10 minutes", watermarkDelay = "1 minute")
    val q = out.writeStream.format("memory").queryName("win_counts")
      .outputMode("append").start()
    stream.addData((java.sql.Timestamp.valueOf("2026-01-01 12:00:00"), "click", 1.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("win_counts")
      .select("window_start", "event_type", "n").collect()
      .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
    // windows 10:00/10:10/10:20 each hold 10 clicks + 10 views (closed by the
    // 12:00 watermark-advancing event; the 12:00 window itself stays open)
    assert(got == Set(
      ("2026-01-01 10:00:00.0", "click", 10L), ("2026-01-01 10:00:00.0", "view", 10L),
      ("2026-01-01 10:10:00.0", "click", 10L), ("2026-01-01 10:10:00.0", "view", 10L),
      ("2026-01-01 10:20:00.0", "click", 10L), ("2026-01-01 10:20:00.0", "view", 10L)))
  }

  test("contaminationGate: one-sided stateless gate, identical in batch and in a stream") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    // disjoint vocabularies: docs 0,8,16 are in the benchmark, rest are clean
    val corpus = (0 until 24).map(i =>
      (i.toLong, (0 until 12).map(t => s"v${i}_$t").mkString(" ")))
    val corpusDf = corpus.toDF("doc_id", "text")
    val bloom = Dedup.benchmarkGramBloom(
      corpusDf.filter($"doc_id" % 8 === 0).select("text"), "text", fpp = 0.001)
    val batchKept = Dedup.contaminationGate(corpusDf, "text", bloom)
      .select("doc_id").as[Long].collect().toSet
    // contaminated docs NEVER pass (one-sided error); at fpp 0.001 over 210
    // clean grams the expected false-positive doc drop is ~0.2
    assert(batchKept.intersect(Set(0L, 8L, 16L)).isEmpty)
    assert(batchKept.size >= 19, s"gate over-dropped: kept ${batchKept.size} of 21 clean docs")

    val stream = MemoryStream[(Long, String)]
    stream.addData(corpus: _*)
    val out = Dedup.contaminationGate(stream.toDF().toDF("doc_id", "text"), "text", bloom)
    val q = out.writeStream.format("memory").queryName("decontam_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("decontam_out")
      .select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept, "stream gate diverged from batch gate")
  }

  test("streamingIngestDedup: per-epoch self-dedup + corpus-dedup + atomic append; later epochs see earlier appends") {
    import graft.operators.Dedup
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // each tag's doc is dominated by its own tokens: distinct docs share no
    // 3-shingles (cross-J ~ 0), identical texts are exact dups (J = 1)
    def doc(tag: Any) = s"$tag alpha $tag beta $tag gamma $tag delta $tag epsilon $tag zeta"
    // corpus: ids 0..9, each with a distinct tail token
    val base = (0L until 10L).map(i => (i, doc(s"base$i"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(base, "doc_id", "text"), dir)
    val before = Dedup.minhashOpenIndex(spark, dir)
    val postingsPerDoc = before.postings.count() / 10

    val outBatches = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val stream = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.streamingIngestDedup(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
      jaccardThreshold = 0.5,
      onBatch = b => outBatches += b.select("doc_id").as[Long].collect().toSet)
      .start()
    try {
      // epoch 0: 100 = dup of corpus base3, 101/102 = intra-batch dup pair
      // (keep-first -> 101), 103 = genuinely new
      stream.addData((100L, doc("base3")), (101L, doc("fresh_a")),
        (102L, doc("fresh_a")), (103L, doc("fresh_b")))
      q.processAllAvailable()
      // epoch 1: 200 = dup of epoch 0's survivor 101 (proves the index
      // GREW — cross-batch dedup with zero executor state), 201 = new
      stream.addData((200L, doc("fresh_a")), (201L, doc("fresh_c")))
      q.processAllAvailable()
    } finally q.stop()

    assert(outBatches.toList == List(Set(101L, 103L), Set(201L)),
      s"got $outBatches")
    val after = Dedup.minhashOpenIndex(spark, dir)
    // exactly the three survivors were absorbed
    assert(after.postings.count() === before.postings.count() + 3 * postingsPerDoc)
    assert(after.nRows.contains(after.postings.count()))
    // both epochs landed as committed batches
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/ingest_0/_COMMITTED")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/ingest_1/_COMMITTED")))
    // a new doc near-duplicating an INGESTED doc is now caught by a plain
    // index search (the crawl loop's steady state)
    assert(Dedup.minhashSearchIndex(after,
      Seq((300L, doc("fresh_c"))).toDF("doc_id", "text"), "doc_id", "text",
      jaccardThreshold = 0.5).count() > 0)

    // a fully-deduplicated epoch: append no-ops (no batch dir — an empty
    // partitioned parquet dir would corrupt later opens), sink sees an
    // empty survivor set, index unchanged
    val stream2 = MemoryStream[(Long, String)]
    val outs2 = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    // a SECOND logical run needs its own tag (its epochs restart at 0 —
    // "ingest_0" is already committed and would silently swallow appends)
    val q2 = graft.streaming.StreamOps.streamingIngestDedup(
      stream2.toDF().toDF("doc_id", "text"), "doc_id", "text", dir,
      jaccardThreshold = 0.5, ingestTag = "run2",
      onBatch = b => outs2 += b.select("doc_id").as[Long].collect().toSet)
      .start()
    try {
      stream2.addData((400L, doc("fresh_c")), (401L, doc("base0")))
      q2.processAllAvailable()
    } finally q2.stop()
    assert(outs2.toList == List(Set.empty[Long]))
    // the fully-dedup'd epoch left NO batch dir and the index unchanged
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/run2_0")))
    assert(Dedup.minhashOpenIndex(spark, dir).postings.count() === after.postings.count())
    // direct empty-batch appends are committed no-ops for BOTH index kinds
    assert(Dedup.minhashAppendIndex(spark, dir,
      spark.emptyDataFrame.select(lit(0L).as("doc_id"), lit("").as("text"))
        .filter(lit(false)), "doc_id", "text", "emptybatch"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/batches/emptybatch")))
    Dedup.minhashOpenIndex(spark, dir).postings.count() // open still healthy
  }

  test("ingestEpoch (legacy entry): replay of a committed epoch re-delivers the same survivors") {
    import graft.operators.Dedup
    import spark.implicits._
    def doc(tag: Any) = s"$tag alpha $tag beta $tag gamma $tag delta $tag epsilon $tag zeta"
    val base = (0L until 6L).map(i => (i, doc(s"base$i"))).toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_legacy").toString
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(base, "doc_id", "text"), dir)
    val batch = Seq((100L, doc("fresh_a")), (101L, doc("base2"))).toDF("doc_id", "text")
    val first = graft.streaming.StreamOps
      .ingestEpoch(batch, "doc_id", "text", dir, 0.5, "legacy_0")
      .select("doc_id").as[Long].collect().toSet
    assert(first == Set(100L))
    // replay under the same batchId: the committed survivor manifest is
    // read back — before r11 this path recomputed against the grown corpus
    // and silently returned the EMPTY set (at-most-once delivery)
    val replay = graft.streaming.StreamOps
      .ingestEpoch(batch, "doc_id", "text", dir, 0.5, "legacy_0")
      .select("doc_id").as[Long].collect().toSet
    assert(replay == first, "replay must re-deliver the committed survivor set")
    // and the index absorbed the survivor exactly once
    val idx = Dedup.minhashOpenIndex(spark, dir)
    assert(idx.appendedBatches == 1)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/ingest_manifests/legacy_0/_COMMITTED")))
  }

  test("ingestEpochPipeline: manifest-backed exactly-once delivery; BM25 kept in lockstep") {
    import graft.operators.{Dedup, Lexical}
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def doc(tag: Any) = s"$tag alpha $tag beta $tag gamma $tag delta $tag epsilon $tag zeta"
    val base = (0L until 10L).map(i => (i, doc(s"base$i"))).toDF("doc_id", "text")
    val mhDir = java.nio.file.Files.createTempDirectory("graft_ingp_mh").toString
    val bmDir = java.nio.file.Files.createTempDirectory("graft_ingp_bm").toString
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(base, "doc_id", "text"), mhDir)
    val (p0, s0) = Lexical.bm25BuildIndex(base, "doc_id", "text")
    Lexical.bm25WriteIndex(p0, s0, bmDir, nBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(mhDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

    // epoch 0: 100 = corpus dup, 101/102 = intra-batch dup pair, 103 = new
    val epoch0 = Seq((100L, doc("base3")), (101L, doc("fresh_a")),
      (102L, doc("fresh_a")), (103L, doc("fresh_b"))).toDF("doc_id", "text")
    val surv0 = StreamOps.ingestEpochPipeline(epoch0, "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, batchId = "e0", bm25Path = Some(bmDir))
      .select("doc_id").as[Long].collect().toSet
    assert(surv0 == Set(101L, 103L))
    // total order artifacts: manifest + both index batches committed
    for (d <- Seq(s"$mhDir/ingest_manifests/e0", s"$mhDir/batches/e0", s"$bmDir/batches/e0"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(s"$d/_COMMITTED")), d)

    // epoch 1 proves cross-epoch state IS the index (200 dups an INGESTED doc)
    val epoch1 = Seq((200L, doc("fresh_a")), (201L, doc("fresh_c"))).toDF("doc_id", "text")
    val surv1 = StreamOps.ingestEpochPipeline(epoch1, "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, batchId = "e1", bm25Path = Some(bmDir))
      .select("doc_id").as[Long].collect().toSet
    assert(surv1 == Set(201L))

    // BM25 lockstep: the maintained index serves bit-identically to a
    // one-shot rebuild over (corpus ∪ all survivors)
    val refDir = java.nio.file.Files.createTempDirectory("graft_ingp_ref").toString
    val refCorpus = base.unionByName(Seq(
      (101L, doc("fresh_a")), (103L, doc("fresh_b")), (201L, doc("fresh_c")))
      .toDF("doc_id", "text"))
    val (pr, sr) = Lexical.bm25BuildIndex(refCorpus, "doc_id", "text")
    Lexical.bm25WriteIndex(pr, sr, refDir, nBuckets = 8)
    val queries = Seq((0L, doc("base0")), (1L, doc("fresh_a")), (2L, doc("fresh_c")))
      .toDF("doc_id", "text")
    def rows(idx: Lexical.Bm25Index) =
      Lexical.bm25SearchIndex(idx, queries, "doc_id", "text", k = 3).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(t => (t._1, t._2))
    val maintained = Lexical.bm25OpenIndex(spark, bmDir)
    val viaPipeline = rows(maintained)
    assert(viaPipeline === rows(Lexical.bm25OpenIndex(spark, refDir)))
    // an ingested doc is retrievable from the maintained lexical index
    assert(viaPipeline.exists(t => t._1 == 1L && t._3 == 101L))

    // exactly-once replay: re-running a committed epoch returns the SAME
    // survivors from the manifest (a recompute would return the empty set —
    // the rows are already in the corpus) and both indexes are unchanged
    val mhCount = Dedup.minhashOpenIndex(spark, mhDir).postings.count()
    val bmCount = maintained.postings.count()
    val replay = StreamOps.ingestEpochPipeline(epoch0, "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, batchId = "e0", bm25Path = Some(bmDir))
      .select("doc_id").as[Long].collect().toSet
    assert(replay == surv0, "replay must deliver the manifest survivors, not recompute")
    assert(Dedup.minhashOpenIndex(spark, mhDir).postings.count() === mhCount)
    assert(Lexical.bm25OpenIndex(spark, bmDir).postings.count() === bmCount)

    // crash window BETWEEN the two appends: wipe the bm25 batch (as if the
    // crash hit after the minhash absorb), replay the epoch — the bm25
    // append is redone from the manifest and search parity is restored;
    // without the manifest the recomputed survivor set would be empty and
    // the lexical index would silently lose the batch forever
    fs.delete(new org.apache.hadoop.fs.Path(s"$bmDir/batches/e0"), true)
    assert(rows(Lexical.bm25OpenIndex(spark, bmDir)) !== viaPipeline)
    StreamOps.ingestEpochPipeline(epoch0, "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, batchId = "e0", bm25Path = Some(bmDir))
    assert(rows(Lexical.bm25OpenIndex(spark, bmDir)) === viaPipeline)

    // the streaming wrapper drives the same epoch body (fresh run, own tag)
    val outs = scala.collection.mutable.ArrayBuffer.empty[Set[Long]]
    val stream = MemoryStream[(Long, String)]
    val q = StreamOps.streamingIngestPipeline(
      stream.toDF().toDF("doc_id", "text"), "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, ingestTag = "wrap", bm25Path = Some(bmDir),
      onBatch = b => outs += b.select("doc_id").as[Long].collect().toSet)
      .start()
    try {
      stream.addData((300L, doc("fresh_d")), (301L, doc("fresh_a")))
      q.processAllAvailable()
    } finally q.stop()
    assert(outs.toList == List(Set(300L)))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$mhDir/ingest_manifests/wrap_0/_COMMITTED")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$bmDir/batches/wrap_0/_COMMITTED")))
    // the compaction-cadence signal counts exactly the committed batches
    // (e0, e1, wrap_0 → union fan-in 4 roots)
    val mhFinal = Dedup.minhashOpenIndex(spark, mhDir)
    assert(mhFinal.appendedBatches == 3 && mhFinal.unionFanIn == 4)
  }

  test("ingestEpochPipeline: ANN leg embeds survivors once and absorbs against frozen centroids") {
    import graft.operators.{Ann, Dedup}
    import spark.implicits._
    val emb = new graft.embed.Md5Embedder
    def doc(tag: Any) = s"$tag alpha $tag beta $tag gamma $tag delta $tag epsilon $tag zeta"
    val base = (0L until 20L).map(i => (i, doc(s"base$i"))).toDF("doc_id", "text")
    def embed(d: org.apache.spark.sql.DataFrame) =
      emb.embed(d.select(col("doc_id"), col("text")), "text", "__vec")
        .select("doc_id", "__vec")
    val mhDir = java.nio.file.Files.createTempDirectory("graft_inga_mh").toString
    val annDir = java.nio.file.Files.createTempDirectory("graft_inga_ann").toString
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(base, "doc_id", "text"), mhDir)
    val (cells, cents) = Ann.annBuildIndex(embed(base), "doc_id", "__vec", nCentroids = 4)
    Ann.annWriteIndex(cells, cents, annDir)

    val epoch = Seq((100L, doc("base3")), (101L, doc("fresh_a")),
      (102L, doc("fresh_a")), (103L, doc("fresh_b"))).toDF("doc_id", "text")
    val surv = StreamOps.ingestEpochPipeline(epoch, "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, batchId = "e0", ann = Some((annDir, emb)))
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(101L, 103L))

    val grown = Ann.annOpenIndex(spark, annDir)
    assert(grown.nRows.contains(22L) && grown.appendedRows == 2L)
    // an absorbed survivor is retrievable by its own embedding
    def selfHit(): Long = Ann.annSearchIndex(Ann.annOpenIndex(spark, annDir),
        embed(Seq((500L, doc("fresh_a"))).toDF("doc_id", "text")),
        "doc_id", "__vec", k = 1, nProbe = 4)
      .collect().head.getAs[Long]("right_id")
    assert(selfHit() == 101L)

    // crash between appends: wipe the ANN batch, replay — survivors come
    // from the manifest (a recompute would be empty) and are RE-EMBEDDED
    // for the idempotent re-append; the minhash corpus is untouched
    val fs = new org.apache.hadoop.fs.Path(annDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$annDir/batches/e0"), true)
    assert(Ann.annOpenIndex(spark, annDir).appendedRows == 0L)
    StreamOps.ingestEpochPipeline(epoch, "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, batchId = "e0", ann = Some((annDir, emb)))
    assert(Ann.annOpenIndex(spark, annDir).appendedRows == 2L)
    assert(selfHit() == 101L)
    // committed replay: the embed-skip guard makes it a pure no-op
    StreamOps.ingestEpochPipeline(epoch, "doc_id", "text", mhDir,
      jaccardThreshold = 0.5, batchId = "e0", ann = Some((annDir, emb)))
    assert(Ann.annOpenIndex(spark, annDir).nRows.contains(22L))
  }

  test("qualityGate: streaming keep-set equals the batch approx gate, stateless plan") {
    import graft.operators.Sampling
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // mixed-quality docs across two sources: the good ones read like prose
    // (stopwords, sane word lengths), the bad ones are symbol soup
    // i%8<2 puts 5 soup docs in EACH source (i%8==0 -> src0, ==1 -> src1);
    // a minority, so each source's median cutoff lands on the prose score
    val corpus = (0L until 40L).map { i =>
      val src = s"src${i % 2}"
      val text =
        if (i % 8 < 2) "@@@ ### !!! $$$ %%% ^^^ &&&"
        else s"the quick brown fox jumps over the lazy dog near run $i"
      (i, src, text)
    }
    val batch = corpus.toDF("doc_id", "source", "text")
    val thr = Sampling.approxThresholds(
      graft.operators.TextAnalysis.qualityScore(batch, "text"),
      "quality", Seq("source"), frac = 0.5)
    val batchKept = Sampling.topFractionApprox(
        graft.operators.TextAnalysis.qualityScore(batch, "text"),
        "quality", Seq("source"), frac = 0.5)
      .select("doc_id").as[Long].collect().toSet
    // the symbol-soup docs never clear a median cutoff
    assert(batchKept.intersect((0L until 40L).filter(_ % 8 < 2).toSet).isEmpty)

    val stream = MemoryStream[(Long, String, String)]
    stream.addData(corpus: _*)
    val gated = StreamOps.qualityGate(
      stream.toDF().toDF("doc_id", "source", "text"), "text", Seq("source"), thr)
    assert(gated.isStreaming)
    val q = gated.writeStream.format("memory").queryName("quality_gate_out")
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamKept = spark.table("quality_gate_out")
      .select("doc_id").as[Long].collect().toSet
    assert(streamKept == batchKept, "stream gate diverged from batch gate")
    // output keeps the stream's columns + the score
    assert(spark.table("quality_gate_out").columns.toSeq ==
      Seq("doc_id", "source", "text", "quality"))

    // unknown-key policy (advisor r7): a source ABSENT from the offline-fit
    // table is silently dropped by default and passed through with "keep"
    val stream2 = MemoryStream[(Long, String, String)]
    stream2.addData(corpus :+ ((999L, "srcNEW", "a brand new source appearing mid stream")): _*)
    def runGate(policy: String, name: String): Set[Long] = {
      val g = StreamOps.qualityGate(
        stream2.toDF().toDF("doc_id", "source", "text"), "text", Seq("source"), thr,
        unknownKeys = policy)
      val qq = g.writeStream.format("memory").queryName(name).outputMode("append").start()
      qq.processAllAvailable(); qq.stop()
      spark.table(name).select("doc_id").as[Long].collect().toSet
    }
    assert(!runGate("drop", "qg_drop").contains(999L))
    val keptKeep = runGate("keep", "qg_keep")
    assert(keptKeep.contains(999L))
    assert(keptKeep - 999L == batchKept, "keep policy must not change fitted-key verdicts")
    intercept[IllegalArgumentException] {
      StreamOps.qualityGate(stream2.toDF().toDF("doc_id", "source", "text"),
        "text", Seq("source"), thr, unknownKeys = "bogus")
    }
  }

  test("semanticEnrich: streaming 1-NN against a static reference table") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ref = Seq((1L, "apple computers"), (2L, "orange juice"), (3L, "steel factory"))
      .toDF("ref_id", "ref_text")
    val stream = MemoryStream[String]
    var batches = Vector.empty[DataFrame]
    val writer = StreamOps.semanticEnrich(
      stream.toDF().toDF("text"), "text", ref, "ref_id", "ref_text", emb,
      batch => batches = batches :+ batch)
    val q = writer.start()
    stream.addData("apple computers", "orange juice")
    q.processAllAvailable()
    q.stop()
    val got = batches.flatMap(_.collect()).map(r =>
      (r.getAs[String]("text"), r.getAs[Long]("match_id"), r.getAs[Double]("score")))
    assert(got.map(g => (g._1, g._2)).toSet ==
      Set(("apple computers", 1L), ("orange juice", 2L)))
    assert(got.forall(_._3 > 0.99), s"exact text match should score ~1.0: $got")
  }

  test("streamingDedup drops in-horizon duplicates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(java.sql.Timestamp, String)]
    val out = StreamOps.streamingDedup(
      stream.toDF().toDF("ts", "k"), Seq("k"), watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    val t = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    stream.addData((t, "a"), (t, "a"), (t, "b"))
    q.processAllAvailable()
    stream.addData((java.sql.Timestamp.valueOf("2026-01-01 10:30:00"), "a"))
    q.processAllAvailable()
    q.stop()
    val ks = spark.table("dedup_out").select("k").as[String].collect().sorted
    assert(ks.toSeq == Seq("a", "b"), s"got $ks")
  }

  test("streamingNearDup: stateful cross-batch near-dup detection with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val out = StreamOps.streamingNearDup(
      stream.toDF().toDF("id", "text", "ts"), "id", "text",
      watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("neardup_out")
      .outputMode("append").start()
    val t1 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    val t2 = java.sql.Timestamp.valueOf("2026-01-01 10:05:00")
    stream.addData(
      (1L, "the quick brown fox jumps over the lazy dog", t1),
      (2L, "completely unrelated text about databases and streams", t1))
    q.processAllAvailable()
    // near-identical doc arrives in a LATER batch → must match against state
    stream.addData((3L, "the quick brown fox jumps over the lazy dog", t2))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("neardup_out")
      .select("id", "matchId").distinct().as[(Long, Long)].collect().toSet
    assert(hits.contains((3L, 1L)), s"expected cross-batch hit, got $hits")
    assert(!hits.exists { case (a, b) => Set(a, b) == Set(1L, 2L) },
      s"unrelated texts must not match: $hits")
  }

  test("streamingNearDup: full block evicts the oldest entry, not the newest") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, String, java.sql.Timestamp)]
    val txt = "the quick brown fox jumps over the lazy dog"
    // capacity 1 per block-bucket: doc2 must REPLACE doc1 in state so doc3
    // can still match it (skipping-the-newest would leave doc3 matching only
    // the stale doc1)
    val out = StreamOps.streamingNearDup(
      stream.toDF().toDF("id", "text", "ts"), "id", "text",
      watermarkDelay = "1 hour", maxStatePerBlock = 1)
    val q = out.writeStream.format("memory").queryName("neardup_evict")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData((1L, txt, ts("2026-01-01 10:00:00")))
    q.processAllAvailable()
    stream.addData((2L, txt, ts("2026-01-01 10:05:00")))
    q.processAllAvailable()
    stream.addData((3L, txt, ts("2026-01-01 10:10:00")))
    q.processAllAvailable()
    q.stop()
    val hits = spark.table("neardup_evict")
      .select("id", "matchId").distinct().as[(Long, Long)].collect().toSet
    assert(hits.contains((2L, 1L)), s"doc2 must match the stored doc1: $hits")
    assert(hits.contains((3L, 2L)),
      s"doc3 must match doc2 — the newest entry must have been stored: $hits")
    assert(!hits.contains((3L, 1L)),
      s"doc1 must have been evicted from the size-1 bucket: $hits")
  }

  test("CentroidFitter: byte-estimate bound returns the base embedder unfitted") {
    import spark.implicits._
    import graft.train.{CentroidFitter, TrainConfig}
    val clusters = Seq((0L, "apple iphone"), (0L, "apple mac"), (1L, "banana"))
      .toDF("cluster", "text")
    // row count is tiny but the byte bound is tighter still → must refuse
    val fitted = new CentroidFitter(alpha = 0.5, maxCollectBytes = 8L)
      .fit(clusters, emb, TrainConfig())
    assert(fitted eq emb, "over-byte-bound fit must return the base embedder")
  }

  test("loadFitted: refuses an artifact over the configured collect bound") {
    import spark.implicits._
    val clusters = Seq((0L, "apple iphone"), (0L, "apple mac"), (1L, "banana"))
      .toDF("cluster", "text")
    val fitted = new CentroidFitter(alpha = 0.4).fit(clusters, emb, TrainConfig())
    val dir = java.nio.file.Files.createTempDirectory("graft_fit_bound").toString
    ModelArtifact.saveFitted(spark, dir, fitted)
    spark.conf.set(ModelArtifact.FittedMaxCollectBytesKey, "8")
    try {
      val e = intercept[IllegalArgumentException] {
        ModelArtifact.loadFitted(spark, dir, emb)
      }
      assert(e.getMessage.contains(ModelArtifact.FittedMaxCollectBytesKey))
    } finally spark.conf.unset(ModelArtifact.FittedMaxCollectBytesKey)
    // and with the default bound the same artifact loads fine
    assert(ModelArtifact.loadFitted(spark, dir, emb)
      .isInstanceOf[CentroidAdjustedEmbedder])
  }

  test("sessionize: streaming session windows close after the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(String, java.sql.Timestamp, Double)]
    val out = StreamOps.sessionize(
      stream.toDF().toDF("user_id", "ts", "value"), "user_id", "ts",
      gap = "10 minutes", watermarkDelay = "1 hour")
    val q = out.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    stream.addData(
      ("u1", ts("2026-01-01 10:00:00"), 1.0),
      ("u1", ts("2026-01-01 10:05:00"), 2.0),  // same session (≤10 min gap)
      ("u1", ts("2026-01-01 11:00:00"), 3.0))  // new session
    q.processAllAvailable()
    // advance the watermark far enough to close both sessions
    stream.addData(("u2", ts("2026-01-01 14:00:00"), 0.0))
    q.processAllAvailable()
    q.stop()
    val sess = spark.table("sess_out").filter($"user_id" === "u1")
      .select("n_events", "sum_value").as[(Long, Double)].collect().sortBy(_._1)
    assert(sess.toSeq == Seq((1L, 3.0), (2L, 3.0)), s"got ${sess.toSeq}")
  }

  test("native minhash_sig is bit-identical to the builtin xxhash64 composition") {
    import spark.implicits._
    val df = Seq(
      Array("the quick", "quick brown", "brown fox"),
      Array("lone"),
      Array.empty[String]).toDF("sh")
    val builtin = array((0 until 16).map { seed =>
      array_min(transform(col("sh"), s => xxhash64(s, lit(seed))))
    }: _*)
    val both = df.select(
      graft.operators.Dedup.minhashSignature(col("sh"), 16, hashFamily = "xx").as("native"),
      builtin.as("ref")).collect()
    both.foreach { r => assert(r.get(0) == r.get(1), s"mismatch: $r") }
  }

  test("native minhash_sig_md5 is bit-identical to the builtin md5/conv composition") {
    import spark.implicits._
    val df = Seq(
      Array("the quick", "quick brown", "brown fox"),
      Array("lone"),
      Array.empty[String]).toDF("sh")
    def h32(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      conv(substring(md5(c), 1, 8), 16, 10).cast("long")
    val builtin = array((0 until 16).map { j =>
      val a = conv(substring(md5(lit("graft-mh-a" + j)), 1, 8), 16, 10).cast("long")
        .bitwiseAND(lit(0x3fffffffL)).bitwiseOR(lit(1L))
      val b = conv(substring(md5(lit("graft-mh-b" + j)), 1, 8), 16, 10).cast("long")
        .bitwiseAND(lit(0x3fffffffL))
      array_min(transform(col("sh"), s => pmod(a * h32(s) + b, lit(4294967291L))))
    }: _*)
    val both = df.select(
      graft.operators.Dedup.minhashSignature(col("sh"), 16).as("native"),
      builtin.as("ref")).collect()
    both.foreach { r => assert(r.get(0) == r.get(1), s"mismatch: $r") }
  }

  test("md5_embed matches the builtin md5/conv composition per coordinate") {
    import spark.implicits._
    val df = Seq("the quick brown fox", "", "one", "  spaced   out  ").toDF("t")
    // rebuild the kernel's spec from Spark built-ins: items = text :: tokens,
    // S_i = sum of digest byte i, acc = (S - 127.5 T)/127.5, L2-normalized
    val items = concat(array(col("t")),
      filter(split(trim(col("t")), "[ \\t\\n\\u000B\\f\\r]+"), x => x =!= ""))
    val accs = (0 until 16).map { i =>
      val s = aggregate(
        transform(items, it => conv(substring(md5(it), 2 * i + 1, 2), 16, 10).cast("long")),
        lit(0L), (a, x) => a + x)
      (s.cast("double") - lit(127.5) * size(items)) / lit(127.5)
    }
    val acc = array(accs: _*)
    val nrm2 = aggregate(transform(acc, x => x * x), lit(0.0), (a, x) => a + x)
    val ref = transform(acc, x => x * (lit(1.0) / greatest(sqrt(nrm2), lit(1e-12))))
    val both = df.select(
      graft.functions.Md5EmbedExpr.md5Embed(col("t")).as("native"), ref.as("ref")).collect()
    both.foreach { r =>
      assert(r.getSeq[Double](0) == r.getSeq[Double](1), s"mismatch: $r")
    }
  }

  test("srp_bands_md5 matches projections rebuilt from Spark's md5") {
    import spark.implicits._
    val dim = 8
    val nBands = 4
    val bitsPerBand = 8
    val rnd = new scala.util.Random(11)
    val df = (0 until 20).map(i => (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("id", "v")
    val ref = array((0 until nBands).map { b =>
      (0 until bitsPerBand).map { r =>
        val bit = b * bitsPerBand + r
        val proj = (0 until dim).map { d =>
          val sign = when(
            conv(substring(md5(lit(s"graft-srp-$bit-$d")), 1, 8), 16, 10).cast("long")
              .bitwiseAND(lit(1L)) === 0L, lit(1.0)).otherwise(lit(-1.0))
          sign * col("v").getItem(d)
        }.reduce(_ + _) // same d-ascending accumulation order as the kernel
        when(proj > 0.0, lit(1L)).otherwise(lit(0L))
      }.reduce((p, q) => shiftleft(p, 1).bitwiseOR(q))
    }: _*)
    val both = df.select(
      graft.functions.SrpBandsMd5.srpBandsMd5(col("v"), nBands, bitsPerBand).as("native"),
      ref.as("ref")).collect()
    both.foreach { r => assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"mismatch: $r") }
  }

  test("simhash64 matches a per-bit majority rebuilt from Spark's md5") {
    import spark.implicits._
    val df = Seq("the quick brown fox fox", "", "solo").toDF("t")
    val toks = filter(split(lower(trim(col("t"))), "[ \\t\\n\\u000B\\f\\r]+"), x => x =!= "")
    // 64-bit value assembled from two 32-bit halves: conv(16 hex).cast(long)
    // would null out digests above Long.MaxValue
    val hs = transform(toks, t => shiftleft(
      conv(substring(md5(t), 1, 8), 16, 10).cast("long"), 32)
      .bitwiseOR(conv(substring(md5(t), 9, 8), 16, 10).cast("long")))
    val ref = (0 until 64).map { b =>
      val cnt = aggregate(hs, lit(0),
        (a, x) => a + when(shiftrightunsigned(x, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(cnt >= 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce((x, y) => x.bitwiseOR(y))
    val both = df.select(
      graft.operators.Dedup.simhash64(col("t")).as("native"), ref.as("ref")).collect()
    both.foreach { r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r") }
  }

  // ------------------------------------------------------------------------- IO

  // -------------------------------------------------- live HTTP transport path

  /** In-process OpenAI-style embeddings endpoint on the loopback interface —
    * no egress. Returns a deterministic per-text vector [len, byteSum]; can
    * fail the first `failFirst` requests with a given HTTP status to exercise
    * the retry/backoff path (reference utils.py:366-369). Records each
    * request's text count and the path hit.
    */
  private class LoopbackEmbeddingServer(failFirst: Int = 0, failStatus: Int = 500) {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val requestTextCounts = new java.util.concurrent.CopyOnWriteArrayList[Integer]()
    val pathsHit = new java.util.concurrent.CopyOnWriteArrayList[String]()
    private val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    private val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        pathsHit.add(ex.getRequestURI.getPath)
        if (failures.getAndIncrement() < failFirst) {
          ex.sendResponseHeaders(failStatus, -1); ex.close(); return
        }
        val texts = graft.embed.MiniJson.parse(body) match {
          case graft.embed.MiniJson.JObj(f) =>
            f("input").asInstanceOf[graft.embed.MiniJson.JArr].items
              .map(_.asInstanceOf[graft.embed.MiniJson.JStr].s)
          case _ => sys.error("bad request body")
        }
        requestTextCounts.add(texts.length)
        val data = texts.map { t =>
          val bs = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          s"""{"embedding":[${bs.length}.0,${bs.map(_.toInt).sum}.0]}"""
        }.mkString("""{"data":[""", ",", "]}")
        val out = data.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, out.length)
        ex.getResponseBody.write(out)
        ex.close()
      }
    })
    server.start()
    def url(path: String = "/v1/embeddings"): String =
      s"http://127.0.0.1:${server.getAddress.getPort}$path"
    def stop(): Unit = server.stop(0)
  }

  test("MiniJson: escapes, unicode, nesting round-trip through the wire codec") {
    import graft.embed.MiniJson._
    val tricky = "a\"b\\c\nd\teé"
    val parsed = parse("\"" + escape(tricky) + "\"")
    assert(parsed == JStr(tricky))
    parse("""{"data":[{"embedding":[1.5,-2e3,0.0]},{"x":null,"y":true}]}""") match {
      case JObj(f) =>
        val JArr(items) = f("data"): @unchecked
        val JObj(e0) = items(0): @unchecked
        assert(e0("embedding") == JArr(Vector(JNum(1.5), JNum(-2000.0), JNum(0.0))))
        val JObj(e1) = items(1): @unchecked
        assert(e1("x") == JNull && e1("y") == JBool(true))
      case v => fail(s"expected object, got $v")
    }
    intercept[Exception](parse("""{"a": }"""))
    intercept[Exception](parse("""[1,2] trailing"""))
  }

  test("HttpEmbedder over a real loopback transport: char-budget request packing") {
    import spark.implicits._
    val srv = new LoopbackEmbeddingServer()
    try {
      val transport = new graft.embed.JsonHttpTransport(srv.url(), "test-model")
      // budget 10: "aaaa"(4)+"bbbb"(4) pack together, "cccc" starts pack 2,
      // the 12-char text overflows any pack and must still ship alone
      // (reference utils.py:215-229: every request carries >= 1 text)
      val emb = new graft.embed.HttpEmbedder(
        transport, dim = 2, charBudget = 10, maxRetries = 0, initialBackoffMs = 1L)
      val df = Seq("aaaa", "bbbb", "cccc", "dddddddddddd").toDF("text").coalesce(1)
      val out = emb.embed(df, "text", "vec").orderBy("text").collect()
      assert(out.length == 4)
      // vectors came from the SERVER's arithmetic, in input order
      val vecA = out.find(_.getString(0) == "aaaa").get.getSeq[Double](1)
      assert(vecA == Seq(4.0, 'a'.toInt * 4.0))
      val v12 = out.find(_.getString(0).startsWith("d")).get.getSeq[Double](1)
      assert(v12 == Seq(12.0, 'd'.toInt * 12.0))
      assert(srv.requestTextCounts.toArray.toSeq == Seq(2, 1, 1))
    } finally srv.stop()
  }

  test("HttpEmbedder retries with backoff through real 500s, then fails past maxRetries") {
    val srv = new LoopbackEmbeddingServer(failFirst = 2)
    try {
      val transport = new graft.embed.JsonHttpTransport(srv.url(), "m")
      val emb = new graft.embed.HttpEmbedder(
        transport, dim = 2, charBudget = 1000, maxRetries = 3, initialBackoffMs = 1L)
      val out = emb.embedBatch(Seq("xy"))
      assert(out.length == 1 && out.head.toSeq == Seq(2.0, ('x'.toInt + 'y'.toInt).toDouble))
      // 2 failed attempts + 1 success
      assert(srv.pathsHit.size() == 3)
    } finally srv.stop()
    val srv2 = new LoopbackEmbeddingServer(failFirst = 100, failStatus = 429)
    try {
      val transport2 = new graft.embed.JsonHttpTransport(srv2.url(), "m")
      val emb2 = new graft.embed.HttpEmbedder(
        transport2, dim = 2, charBudget = 1000, maxRetries = 2, initialBackoffMs = 1L)
      val e = intercept[java.io.IOException] { emb2.embedBatch(Seq("xy")) }
      assert(e.getMessage.contains("429"))
      assert(srv2.pathsHit.size() == 3) // initial + 2 retries, then surfaced
    } finally srv2.stop()
  }

  test("provider routing drives the live transport: gemini-before-openai quirk end-to-end") {
    val srv = new LoopbackEmbeddingServer()
    try {
      // "text-embedding-004" contains "text-embedding" but must route to
      // gemini (reference utils.py:17-25 checks gemini first)
      def endpointFor(model: String): String = Routing.embeddingProvider(model) match {
        case Routing.Gemini => srv.url("/gemini/embed")
        case Routing.OpenAi => srv.url("/openai/embed")
        case Routing.Local => sys.error(s"$model should route to an API provider")
      }
      val quirky = new graft.embed.JsonHttpTransport(endpointFor("text-embedding-004"), "text-embedding-004")
      quirky.request(Seq("hello"))
      val openai = new graft.embed.JsonHttpTransport(endpointFor("text-embedding-3-small"), "text-embedding-3-small")
      openai.request(Seq("hello"))
      assert(srv.pathsHit.toArray.toSeq == Seq("/gemini/embed", "/openai/embed"))
    } finally srv.stop()
  }

  /** In-process Gemini-wire embedContent endpoint on loopback: expects the
    * single-text `{"model","content":{"parts":[{"text"}]},"taskType"}`
    * request shape, replies `{"embedding":{"values":[len, byteSum]}}` (the
    * same arithmetic as [[LoopbackEmbeddingServer]] so cross-wire tests can
    * compare vectors), and records each request's model, task type, text,
    * and api-key header.
    */
  private class LoopbackGeminiServer {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.embed.MiniJson._
    val requests = new java.util.concurrent.CopyOnWriteArrayList[(String, String, String, String)]()
    private val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        val JObj(f) = parse(body): @unchecked
        val JStr(model) = f("model"): @unchecked
        val JStr(task) = f("taskType"): @unchecked
        val JObj(content) = f("content"): @unchecked
        val JArr(parts) = content("parts"): @unchecked
        val JObj(part) = parts.head: @unchecked
        val JStr(text) = part("text"): @unchecked
        requests.add((model, task, text,
          Option(ex.getRequestHeaders.getFirst("x-goog-api-key")).getOrElse("")))
        val bs = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val out = s"""{"embedding":{"values":[${bs.length}.0,${bs.map(_.toInt).sum}.0]}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, out.length)
        ex.getResponseBody.write(out)
        ex.close()
      }
    })
    server.start()
    def url(): String = s"http://127.0.0.1:${server.getAddress.getPort}/v1beta/embedContent"
    def stop(): Unit = server.stop(0)
  }

  test("GeminiHttpTransport over loopback: per-string loop, models/ prefix, key header") {
    val srv = new LoopbackGeminiServer()
    try {
      val transport = new graft.embed.GeminiHttpTransport(
        srv.url(), "gemini-embedding-001", apiKey = Some("test-key"))
      // one BATCH call -> one request PER STRING (the reference's gemini loop,
      // utils.py:52-61), model name normalized to models/... (utils.py:28-32)
      val vecs = transport.request(Seq("ab", "wxyz"))
      assert(vecs.length == 2)
      assert(vecs(0).toSeq == Seq(2.0, ('a'.toInt + 'b'.toInt).toDouble))
      assert(vecs(1).toSeq == Seq(4.0, "wxyz".map(_.toInt).sum.toDouble))
      val reqs = srv.requests.toArray.toSeq.map(_.asInstanceOf[(String, String, String, String)])
      assert(reqs.map(_._3) == Seq("ab", "wxyz"))
      assert(reqs.forall(_._1 == "models/gemini-embedding-001"))
      assert(reqs.forall(_._2 == "retrieval_document"))
      assert(reqs.forall(_._4 == "test-key"))
      // an already-prefixed name is not double-prefixed
      new graft.embed.GeminiHttpTransport(srv.url(), "models/embedding-001").request(Seq("q"))
      assert(srv.requests.toArray.last.asInstanceOf[(String, String, String, String)]
        ._1 == "models/embedding-001")

      // the full embedder stack runs over this wire too: packing happens at
      // the batch layer, the gemini transport unrolls each pack per string
      val emb = new graft.embed.HttpEmbedder(
        new graft.embed.GeminiHttpTransport(srv.url(), "gemini-embedding-001"),
        dim = 2, charBudget = 6, maxRetries = 0, initialBackoffMs = 1L)
      val out = emb.embedBatch(Seq("aaaa", "bb", "c"))
      assert(out.map(_.toSeq) == Seq(
        Seq(4.0, 'a'.toInt * 4.0), Seq(2.0, 'b'.toInt * 2.0), Seq(1.0, 'c'.toInt.toDouble)))
    } finally srv.stop()
  }

  /** In-process OpenAI-style chat-completions endpoint on loopback — the
    * judge/classify/transform twin of [[LoopbackEmbeddingServer]]. Replies
    * with `replyFor(messages)` wrapped in the chat response envelope; can
    * fail the first `failFirst` requests to exercise retry/backoff. Records
    * raw request bodies for payload-shape assertions.
    */
  private class LoopbackChatServer(
      replyFor: Vector[(String, String)] => String,
      failFirst: Int = 0, failStatus: Int = 429) {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val requestBodies = new java.util.concurrent.CopyOnWriteArrayList[String]()
    private val failures = new java.util.concurrent.atomic.AtomicInteger(0)
    private val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        requestBodies.add(body)
        if (failures.getAndIncrement() < failFirst) {
          ex.sendResponseHeaders(failStatus, -1); ex.close(); return
        }
        import graft.embed.MiniJson._
        val msgs = parse(body) match {
          case JObj(f) => f("messages").asInstanceOf[JArr].items.map {
            case JObj(m) =>
              (m("role").asInstanceOf[JStr].s, m("content").asInstanceOf[JStr].s)
            case v => sys.error(s"bad message: $v")
          }.toVector
          case _ => sys.error("bad request body")
        }
        val reply =
          s"""{"choices":[{"message":{"role":"assistant","content":"${escape(replyFor(msgs))}"}}]}"""
        val out = reply.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, out.length)
        ex.getResponseBody.write(out)
        ex.close()
      }
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1/chat/completions"
    def stop(): Unit = server.stop(0)
  }

  test("ChatHttpTransport: payload shape (model, roles, sampling params) over loopback") {
    val srv = new LoopbackChatServer(msgs => s"echo:${msgs.last._2}")
    try {
      val t = new ChatHttpTransport(srv.url, "judge-model", apiKey = Some("sk-test"),
        temperature = 0.0, maxTokens = 50)
      val out = t.complete(Seq(ChatMessage("system", "be terse"), ChatMessage("user", "hi \"q\"")))
      assert(out == "echo:hi \"q\"")
      import graft.embed.MiniJson._
      val JObj(req) = parse(srv.requestBodies.get(0)): @unchecked
      assert(req("model") == JStr("judge-model"))
      assert(req("max_tokens") == JNum(50.0) && req("temperature") == JNum(0.0))
      assert(req("top_p") == JNum(1.0)) // infer.py:1172 defaults top_p=1 for the judge
      val JArr(ms) = req("messages"): @unchecked
      assert(ms.length == 2)
      assert(ms.head.asInstanceOf[JObj].fields("role") == JStr("system"))
    } finally srv.stop()
  }

  /** In-process Gemini-wire generateContent endpoint on loopback: parses the
    * `{"contents":[{"role","parts":[{"text"}]}]}` shape, replies with the
    * candidates envelope (text split across two parts to exercise the
    * concatenating parse), records bodies + key headers.
    */
  private class LoopbackGeminiChatServer(replyFor: Vector[(String, String)] => String) {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    val requestBodies = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val keyHeaders = new java.util.concurrent.CopyOnWriteArrayList[String]()
    private val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val body = new String(ex.getRequestBody.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        requestBodies.add(body)
        keyHeaders.add(Option(ex.getRequestHeaders.getFirst("x-goog-api-key")).getOrElse(""))
        import graft.embed.MiniJson._
        val contents = parse(body) match {
          case JObj(f) => f("contents").asInstanceOf[JArr].items.map {
            case JObj(c) =>
              val JArr(parts) = c("parts"): @unchecked
              (c("role").asInstanceOf[JStr].s,
                parts.map(_.asInstanceOf[JObj].fields("text").asInstanceOf[JStr].s).mkString)
            case v => sys.error(s"bad content: $v")
          }.toVector
          case _ => sys.error("bad request body")
        }
        val full = replyFor(contents)
        val (a, b) = full.splitAt(full.length / 2)
        val reply = s"""{"candidates":[{"content":{"parts":[{"text":"${escape(a)}"},""" +
          s"""{"text":"${escape(b)}"}]}}]}"""
        val out = reply.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.getResponseHeaders.add("Content-Type", "application/json")
        ex.sendResponseHeaders(200, out.length)
        ex.getResponseBody.write(out)
        ex.close()
      }
    })
    server.start()
    def url: String = s"http://127.0.0.1:${server.getAddress.getPort}/v1beta/generateContent"
    def stop(): Unit = server.stop(0)
  }

  test("GeminiChatTransport + GeminiPairJudge: flattened single-prompt judge over loopback") {
    // judge replies are keyed on the payload so the parse is end-to-end real
    val srv = new LoopbackGeminiChatServer(msgs =>
      if (msgs.head._2.contains("\"alpha\"")) """{"is_match": 1, "confidence": 0.9}"""
      else """{"is_match": 0, "confidence": 0.2}""")
    try {
      val t = new GeminiChatTransport(srv.url, apiKey = Some("gk-test"))
      val judge = new GeminiPairJudge(t, "You are a record-linkage judge.")
      val raw = judge.judge("alpha", "beta")
      // the two-part candidates reply concatenates back to the full text
      assert(raw == """{"is_match": 1, "confidence": 0.9}""")
      assert(Llm.parseJudgeResponse(raw) == ((1, 0.9)))
      assert(Llm.parseJudgeResponse(judge.judge("gamma", "delta")) == ((0, 0.2)))
      // wire shape: ONE user content carrying the reference's exact glue
      // (infer.py:1180-1184), key via x-goog-api-key
      import graft.embed.MiniJson._
      val JObj(req) = parse(srv.requestBodies.get(0)): @unchecked
      val JArr(contents) = req("contents"): @unchecked
      assert(contents.length == 1)
      assert(contents.head.asInstanceOf[JObj].fields("role") == JStr("user"))
      val JArr(parts) = contents.head.asInstanceOf[JObj].fields("parts"): @unchecked
      val text = parts.head.asInstanceOf[JObj].fields("text").asInstanceOf[JStr].s
      assert(text == "You are a record-linkage judge.\n\n" +
        "Compare the following pair payload and return JSON only.\n" +
        """{"left":"alpha","right":"beta"}""")
      assert(srv.keyHeaders.get(0) == "gk-test")
      // assistant turns map to this wire's "model" role
      new GeminiChatTransport(srv.url).complete(Seq(
        ChatMessage("user", "u1"), ChatMessage("assistant", "a1"), ChatMessage("user", "u2")))
      val JObj(req2) = parse(srv.requestBodies.get(2)): @unchecked
      val roles = req2("contents").asInstanceOf[JArr].items
        .map(_.asInstanceOf[JObj].fields("role").asInstanceOf[JStr].s)
      assert(roles == Vector("user", "model", "user"))
    } finally srv.stop()
  }

  test("RetryingChatTransport: 429s retried with backoff, then gives up past maxRetries") {
    val srv = new LoopbackChatServer(_ => "ok", failFirst = 2)
    try {
      val t = new RetryingChatTransport(
        new ChatHttpTransport(srv.url, "m"), maxRetries = 3, initialBackoffMs = 1L)
      assert(t.complete(Seq(ChatMessage("user", "x"))) == "ok")
      assert(srv.requestBodies.size() == 3) // 2 failures + 1 success
    } finally srv.stop()
    val srv2 = new LoopbackChatServer(_ => "ok", failFirst = 100, failStatus = 500)
    try {
      val t2 = new RetryingChatTransport(
        new ChatHttpTransport(srv2.url, "m"), maxRetries = 2, initialBackoffMs = 1L)
      val e = intercept[java.io.IOException] { t2.complete(Seq(ChatMessage("user", "x"))) }
      assert(e.getMessage.contains("500"))
      assert(srv2.requestBodies.size() == 3) // initial + 2 retries, then surfaced
    } finally srv2.stop()
  }

  test("ChatBatchTransformer: JSON-array protocol, strict length, re-ask on bad reply") {
    // first reply drops an item (wrong length), second is well-formed — the
    // transformer must re-ask rather than fail (utils.py:453-465 retries
    // parse/length errors inside the loop)
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    val srv = new LoopbackChatServer({ msgs =>
      import graft.embed.MiniJson._
      val JArr(items) = parse(msgs.last._2): @unchecked
      val upper = items.map { case JStr(s) => s.toUpperCase; case v => sys.error(s"$v") }
      val kept = if (attempts.getAndIncrement() == 0) upper.drop(1) else upper
      kept.map(s => "\"" + escape(s) + "\"").mkString("[", ",", "]")
    })
    try {
      val t = new ChatBatchTransformer(new ChatHttpTransport(srv.url, "m"),
        "Uppercase each entry.", maxRetries = 2, initialBackoffMs = 1L)
      assert(t.transform(Seq("ab", "cd")) == Seq("AB", "CD"))
      assert(srv.requestBodies.size() == 2) // short reply + successful re-ask
      // the system prompt carries the reference's appended JSON-only instruction
      assert(srv.requestBodies.get(0).contains("JSON array of strings"))
      // wired through the row operator: strict length holds end-to-end
      import spark.implicits._
      val df = Seq("x y", "z").toDF("text")
      val out = Llm.transformRows(df, Seq("text"), t).orderBy("text").collect()
      assert(out.map(_.getString(1)).toSeq == Seq("X Y", "Z"))
    } finally srv.stop()
  }

  test("mergeKJudge end-to-end against a live loopback chat judge") {
    import spark.implicits._
    // server-side judge: match iff the left payload string appears in the
    // right one (deterministic, checkable below); confidence from length
    val srv = new LoopbackChatServer({ msgs =>
      import graft.embed.MiniJson._
      val JObj(pair) = parse(msgs.last._2): @unchecked
      val (l, r) = (pair("left").asInstanceOf[JStr].s, pair("right").asInstanceOf[JStr].s)
      val m = r.contains(l.take(4))
      s"""{"is_match": $m, "confidence": ${if (m) "0.9" else "0.1"}}"""
    })
    try {
      val judge = new ChatPairJudge(
        new RetryingChatTransport(new ChatHttpTransport(srv.url, "judge-m"),
          maxRetries = 2, initialBackoffMs = 1L),
        "You compare records. Reply with JSON {\"is_match\": bool, \"confidence\": float}.")
      val left = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("id", "text")
      val right = Seq((10L, "alphabet soup"), (20L, "unrelated")).toDF("rid", "rtext")
      val out = Llm.mergeKJudge(left, right,
          leftOn = Seq("text"), rightOn = Seq("rtext"),
          embedder = new graft.embed.HashEmbedder(16), judge = judge, k = 2)
        .select("id", "rid", "llm_is_match", "llm_confidence")
        .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getInt(2), r.getDouble(3))))
        .toMap
      assert(out.size == 4) // 2 left x k=2
      assert(out((1L, 10L)) == ((1, 0.9))) // "alph" appears in "alphabet soup"
      assert(out((1L, 20L)) == ((0, 0.1)))
      assert(out((2L, 10L)) == ((0, 0.1)) && out((2L, 20L)) == ((0, 0.1)))
      // the payload on the wire is the reference's {"left":..,"right":..} shape
      assert(srv.requestBodies.toArray.exists(_.toString.contains("\\\"left\\\"")))
    } finally srv.stop()
  }

  test("ChatRowClassifier: label map decode, unknown label -> -1, via classifyRows") {
    import spark.implicits._
    val srv = new LoopbackChatServer({ msgs =>
      val text = msgs.last._2
      if (text.contains("good")) "Yes" else if (text.contains("bad")) "No" else "Maybe?"
    })
    try {
      val clf = new ChatRowClassifier(
        new ChatHttpTransport(srv.url, "clf-m"), "Is this text positive? Yes/No:")
      val df = Seq((1L, "good stuff"), (2L, "bad stuff"), (3L, "odd stuff")).toDF("id", "text")
      val out = Llm.classifyRows(df, Seq("text"), clf)
        .select("id", "clf_preds").orderBy("id").collect()
      assert(out.map(_.getInt(1)).toSeq == Seq(1, 0, -1))
    } finally srv.stop()
  }

  test("csv round-trip via Io preserves data; readAny routes on extension") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_io").toString
    val df = Seq((1, "a,b", 2.5), (2, null, -1.0)).toDF("id", "s", "x")
    Io.writeCsv(df, s"$dir/out", coalesceTo = 1)
    val back = Io.readCsv(spark, s"$dir/out")
    assert(back.count() == 2)
    assert(back.schema.fieldNames.toSeq == Seq("id", "s", "x"))
    assert(back.filter($"id" === 1).select("s").first().getString(0) == "a,b")
    // extension dispatch: unknown extensions raise with the reference message
    val e = intercept[IllegalArgumentException] { Io.readAny(spark, "/tmp/x.pickle") }
    assert(e.getMessage.contains("csv or excel"))
  }
}

/** Shared-JVM state for the flaky-transport retry test (local mode only). */
object FlakyTransportState {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
}
