package graft

import graft.operators.Dsir
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DSIR importance resampling: the weights must rank target-like documents
  * above off-target ones, zero-weight tokenless docs, stay deterministic
  * under repartitioning, and select with scale-safe plans.
  */
class DsirSpec extends AnyFunSuite with LocalSession {

  // two disjoint vocabularies: "code" docs vs "news" docs
  private def corpus = {
    import spark.implicits._
    val code = (0L until 30L).map(i =>
      (i, s"def fn$i compile link parse emit token ast scope", "code"))
    val news = (30L until 90L).map(i =>
      (i, s"market report quarter growth revenue economy rate item$i", "news"))
    (code ++ news).toDF("doc_id", "text", "kind")
  }

  test("importanceWeights: target-like docs outweigh off-target docs; tokenless doc gets 0") {
    import spark.implicits._
    val raw = corpus.union(Seq((999L, "   ", "blank")).toDF("doc_id", "text", "kind"))
    val target = corpus.filter(col("kind") === "code")
    val w = Dsir.importanceWeights(raw, "doc_id", "text", target, "text",
      buckets = 512, alpha = 1.0)
    val joined = raw.join(w, "doc_id")
    val avgByKind = joined.groupBy("kind").agg(avg("weight")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(avgByKind("code") > avgByKind("news"),
      s"code=${avgByKind("code")} news=${avgByKind("news")}")
    // every code doc individually beats every news doc (vocabularies disjoint)
    val minCode = joined.filter(col("kind") === "code").agg(min("weight")).head().getDouble(0)
    val maxNews = joined.filter(col("kind") === "news").agg(max("weight")).head().getDouble(0)
    assert(minCode > maxNews)
    assert(joined.filter(col("kind") === "blank").head().getAs[Double]("weight") === 0.0)
    assert(w.count() === raw.count()) // total: every doc gets a weight
  }

  test("importanceWeights: deterministic and partition-invariant") {
    val target = corpus.filter(col("kind") === "code")
    val a = Dsir.importanceWeights(corpus, "doc_id", "text", target, "text", buckets = 128)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = Dsir.importanceWeights(corpus.repartition(7), "doc_id", "text",
        target.repartition(3), "text", buckets = 128)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a === b) // bit-exact, not approximately
  }

  test("resampleTop: gumbel selection is deterministic; n respected; hard top-n ranks by weight") {
    val target = corpus.filter(col("kind") === "code")
    val w = Dsir.importanceWeights(corpus, "doc_id", "text", target, "text", buckets = 512)
    val hard = Dsir.resampleTop(w, "doc_id", n = 30, gumbel = false)
    assert(hard.count() === 30)
    // with disjoint vocabularies the hard top-30 is exactly the code docs
    assert(hard.filter(col("doc_id") >= 30L).count() === 0)
    val g1 = Dsir.resampleTop(w, "doc_id", n = 30, seed = 7).collect().map(_.getLong(0)).toSet
    val g2 = Dsir.resampleTop(w.repartition(5), "doc_id", n = 30, seed = 7)
      .collect().map(_.getLong(0)).toSet
    assert(g1 === g2)
  }

  test("plans: weight fold has no window; selection is TakeOrderedAndProject, lr table broadcast") {
    val target = corpus.filter(col("kind") === "code")
    val w = Dsir.importanceWeights(corpus, "doc_id", "text", target, "text", buckets = 128)
    val wPlan = w.queryExecution.executedPlan.toString
    assert(!wPlan.contains("Window"), wPlan.linesIterator.take(12).mkString("\n"))
    assert(wPlan.contains("BroadcastHashJoin") || wPlan.contains("BroadcastExchange"))
    val sel = Dsir.resampleTop(w, "doc_id", n = 10)
    val sPlan = sel.queryExecution.executedPlan.toString
    assert(sPlan.contains("TakeOrderedAndProject"), sPlan.linesIterator.take(8).mkString("\n"))
  }
}
