package graft

import graft.operators.Sampling
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Sampling.topFractionSketch]] is rank-exact by construction — these pin
  * it bit-identical to [[Sampling.topFractionExact]] on adversarial inputs
  * (tie plateaus, tiny groups, pathological sketch accuracy forcing the
  * degraded band branches) and check the scale shape (the window runs over
  * the band, not the group).
  */
class SamplingSketchSpec extends AnyFunSuite with LocalSession {

  private def kept(df: DataFrame): Seq[Long] =
    df.select("id").collect().map(_.getLong(0)).toSeq.sorted

  private def mixed: DataFrame = {
    import spark.implicits._
    // group a: 40 distinct scores; group b: one big tie plateau straddling
    // any cutoff; group c/d/e: sizes 1/2/3; group f: heavy duplicate scores
    val rows =
      (0 until 40).map(i => (i.toLong, "a", i * 0.5)) ++
        (100 until 130).map(i => (i.toLong, "b", 7.0)) ++
        Seq((200L, "c", 1.0)) ++
        Seq((210L, "d", 2.0), (211L, "d", 1.0)) ++
        Seq((220L, "e", 3.0), (221L, "e", 3.0), (222L, "e", 1.0)) ++
        (300 until 340).map(i => (i.toLong, "f", (i % 4).toDouble))
    rows.toDF("id", "src", "score")
  }

  test("sketch gate ≡ exact gate across fractions, ties, and tiny groups") {
    val df = mixed
    for (frac <- Seq(0.1, 0.25, 0.5, 0.75, 0.9, 1.0)) {
      val ex = kept(Sampling.topFractionExact(df, "score", "id", Seq("src"), frac))
      val sk = kept(Sampling.topFractionSketch(df, "score", "id", Seq("src"), frac))
      assert(sk === ex, s"frac=$frac")
    }
  }

  test("sketch gate ≡ exact gate even with a pathological sketch (accuracy=1)") {
    val df = mixed
    for (frac <- Seq(0.25, 0.5, 0.75)) {
      val ex = kept(Sampling.topFractionExact(df, "score", "id", Seq("src"), frac))
      val sk = kept(Sampling.topFractionSketch(df, "score", "id", Seq("src"), frac,
        accuracy = 1, bandFrac = 0.001))
      assert(sk === ex, s"frac=$frac accuracy=1")
    }
  }

  test("sketch gate ≡ exact gate under repartitioning on real bench data") {
    val d = graft.operators.TextAnalysis.qualityScore(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), "text")
      .select(col("doc_id").as("id"), col("source").as("src"), col("quality").as("score"))
    val ex = kept(Sampling.topFractionExact(d, "score", "id", Seq("src"), 0.25))
    val sk = kept(Sampling.topFractionSketch(d.repartition(7), "score", "id", Seq("src"), 0.25))
    assert(sk === ex)
    assert(sk.nonEmpty)
  }

  test("tokenBudgetSelect: exact-boundary bucket keeps its zero-token head rows (advisor r7)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // all-zero token counts except X (= the whole budget) and Y (+5), placed
    // so Y's coarse bucket's EXCLUSIVE prefix equals the budget exactly —
    // the edge where `<` on the straddle filter dropped the bucket's
    // zero-token head rows that the one-window oracle keeps
    val ids = (0L until 300L)
    val bucketOf = ids.toDF("id")
      .select(col("id"), graft.functions.DetHash.md5Bucket(col("id"), 42L).as("m"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ordered = ids.sortBy(i => (bucketOf(i), i))
    val coarse = (i: Long) => bucketOf(i) / 1000L
    val firstBucket = coarse(ordered.head)
    // a later coarse bucket holding >= 2 rows: its last row becomes Y, the
    // earlier rows are the zero-token head the fix exists for
    val later = ordered.groupBy(coarse).filter { case (b, rows) => b > firstBucket && rows.size >= 2 }
    assert(later.nonEmpty, "fixture needs a multi-row later bucket")
    val (_, yBucketRows) = later.minBy(_._1)
    val x = ordered.head
    val y = yBucketRows.last
    val budget = 7L
    val df = ids.map(i => (i, "s", if (i == x) budget else if (i == y) 5L else 0L))
      .toDF("id", "src", "toks")
    val got = Sampling.tokenBudgetSelect(df, Seq("src"), "id", "toks", budget)
      .select("id").collect().map(_.getLong(0)).toSet
    // reference: the one-window oracle semantics
    val w = Window.partitionBy(col("src"))
      .orderBy(graft.functions.DetHash.md5Bucket(col("id"), 42L), col("id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = df.withColumn("__cum", sum(col("toks")).over(w))
      .filter(col("__cum") <= budget)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(got === ref)
    // the edge actually fired: Y's bucket head rows (zero-token, cum == budget)
    val head = yBucketRows.dropRight(1).toSet
    assert(head.subsetOf(ref), "fixture must place zero-token rows at the straddle head")
    assert(head.subsetOf(got), "zero-token head rows at an exact-boundary bucket must be kept")
    assert(!got.contains(y))
  }

  test("scale shape: the band the window sees is a sliver of each group") {
    import spark.implicits._
    // 4000 rows, one group, distinct scores: with default margins the band
    // holds ~2·bandFrac(0.005)+sketch-slack of the rows — assert the window
    // input stays under 5% of the group, so the sketch gate's window is
    // doing band work, not group work
    val df = (0 until 4000).map(i => (i.toLong, "g", i * 1.0)).toDF("id", "src", "score")
    val stats = df.groupBy("src")
      .agg(percentile_approx(col("score"), array(lit(0.745), lit(0.755)), lit(10000)).as("t"))
      .collect().head.getSeq[Double](1)
    val band = df.filter(col("score") >= stats.head && col("score") <= stats(1)).count()
    assert(band <= 200, s"band=$band of 4000")
    // and the gate itself is still exact at this size
    val ex = kept(Sampling.topFractionExact(df, "score", "id", Seq("src"), 0.25))
    val sk = kept(Sampling.topFractionSketch(df, "score", "id", Seq("src"), 0.25))
    assert(sk === ex)
  }
}
