package graft

import graft.operators.Retrieval
import org.scalatest.funsuite.AnyFunSuite

/** Reciprocal-rank fusion: hand-computed values, ordering, tie-breaks, and
  * partition invariance of the ordered fold.
  */
class RetrievalSpec extends AnyFunSuite with LocalSession {

  test("rrfFuse: hand-computed fusion of two systems") {
    import spark.implicits._
    // sys0: q1 ranks d1=1, d2=2; sys1: q1 ranks d2=1, d3=2
    val sys0 = Seq((1L, 1L, 1), (1L, 2L, 2)).toDF("query_id", "doc_id", "rank")
    val sys1 = Seq((1L, 2L, 1), (1L, 3L, 2)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(sys0, sys1), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._2)
    // d2 appears in both: 1/62 + 1/61; d1: 1/61; d3: 1/62
    val d2 = 1.0 / 62 + 1.0 / 61
    assert(got.map(g => (g._2, g._3)).toSeq === Seq((1, 2L), (2, 1L), (3, 3L)))
    assert(math.abs(got(0)._4 - d2) < 1e-15)
    assert(math.abs(got(1)._4 - 1.0 / 61) < 1e-15)
    assert(math.abs(got(2)._4 - 1.0 / 62) < 1e-15)
  }

  test("rrfFuse: equal fused scores break ties by doc_id ascending") {
    import spark.implicits._
    // two docs with identical rank profiles -> identical rrf; d4 < d9 wins
    val sys0 = Seq((1L, 9L, 1), (1L, 4L, 2)).toDF("query_id", "doc_id", "rank")
    val sys1 = Seq((1L, 4L, 1), (1L, 9L, 2)).toDF("query_id", "doc_id", "rank")
    val got = Retrieval.rrfFuse(Seq(sys0, sys1), k = 2)
      .collect().map(r => (r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(got.toSeq === Seq((1, 4L), (2, 9L)))
  }

  test("rrfFuse: partition-invariant, k bounds output per query") {
    import spark.implicits._
    val sys0 = (0L until 50L).flatMap(q => (1 to 10).map(r => (q, q * 100 + r, r)))
      .toDF("query_id", "doc_id", "rank")
    val sys1 = (0L until 50L).flatMap(q => (1 to 10).map(r => (q, q * 100 + 11 - r, r)))
      .toDF("query_id", "doc_id", "rank")
    val a = Retrieval.rrfFuse(Seq(sys0, sys1), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val b = Retrieval.rrfFuse(Seq(sys0.repartition(7), sys1.repartition(3)), k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(a === b)
    assert(a.size === 150) // 50 queries x top-3
  }
}
