package graft.plans

import graft.operators.VecScan
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.types._

/** The range join's rule on pair ids: keep every pair, drop those with
  * `left_id == right_id` (a self-join without self-pairs), or keep only
  * `left_id < right_id` (each unordered pair of a self-join once — the edge
  * lists of [[graft.operators.Clustering]]). The rule lives in the scan so
  * that no pair it drops is ever scored.
  */
sealed abstract class SelfPairs extends Serializable {
  final def keeps(lid: Long, rid: Long): Boolean = this match {
    case SelfPairs.Keep => true
    case SelfPairs.Exclude => lid != rid
    case SelfPairs.Upper => lid < rid
  }
}

object SelfPairs {
  case object Keep extends SelfPairs
  case object Exclude extends SelfPairs
  case object Upper extends SelfPairs

  /** The rule the public `excludeSelf` flag names. */
  def apply(excludeSelf: Boolean): SelfPairs = if (excludeSelf) Exclude else Keep
}

/** Logical plan node for the similarity range join (θ-join on cosine ≥ τ) —
  * the planned form of the reference's second-most-used merge
  * (`merge_range`, /root/reference/src/linktransformer/infer.py:714-874) and
  * the Catalyst sibling of [[SemanticTopKJoin]]: same by-name bindings
  * ([[SemanticVecJoin]]), same broadcast lowering, a filter instead of a
  * top-k buffer.
  *
  * Output is `(left_id long, right_id long, score double)`; with
  * `keepUnmatched` (the reference's left-outer contract) every left id is
  * retained — unmatched ones with null right_id/score, so those two
  * attributes are nullable exactly when `keepUnmatched` is set. Scores are
  * bit-identical to the crossJoin form of
  * [[graft.operators.SemanticJoin.rangeJoinVec]] (see [[SemanticVecJoinExec]]).
  *
  * Output attributes are a constructor field for the same reason as
  * [[SemanticTopKJoin]]: optimizer copies must preserve expression ids.
  */
case class SemanticRangeJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    tau: Double,
    selfPairs: SelfPairs,
    keepUnmatched: Boolean,
    output: Seq[Attribute])
  extends SemanticVecJoin {

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SemanticRangeJoin =
    copy(left = newLeft, right = newRight)
}

object SemanticRangeJoin {
  def apply(
      left: LogicalPlan, right: LogicalPlan,
      leftIdCol: String, leftVecCol: String,
      rightIdCol: String, rightVecCol: String,
      tau: Double, selfPairs: SelfPairs, keepUnmatched: Boolean): SemanticRangeJoin =
    SemanticRangeJoin(left, right, leftIdCol, leftVecCol, rightIdCol, rightVecCol,
      tau, selfPairs, keepUnmatched, freshOutput(keepUnmatched))

  def freshOutput(keepUnmatched: Boolean): Seq[Attribute] = Seq(
    AttributeReference("left_id", LongType, nullable = false)(),
    AttributeReference("right_id", LongType, nullable = keepUnmatched)(),
    AttributeReference("score", DoubleType, nullable = keepUnmatched)())
}

/** Physical range join: the broadcast scan of [[SemanticVecJoinExec]]
  * emitting every pair with cosine ≥ τ — plus, under `keepUnmatched`, a
  * null-extended row for each left row with no match, a null vector
  * included (left-outer semantics with zero extra passes: matched-ness is
  * known the moment the row's scan finishes). Output size is data-dependent
  * (τ controls selectivity), never materialized as a full pair matrix.
  */
case class SemanticRangeJoinExec(
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    tau: Double,
    selfPairs: SelfPairs,
    keepUnmatched: Boolean,
    output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan)
  extends SemanticVecJoinExec {

  override protected def scanner(m: VecScan.Mat): (Long, Array[Double]) => Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
    val scratch = new GenericInternalRow(3)
    def emit(lid: Long, rid: Any, score: Any): InternalRow = {
      scratch.update(0, lid)
      scratch.update(1, rid)
      scratch.update(2, score)
      proj(scratch)
    }
    (lid, lv) => {
      val hits = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      if (lv != null) {
        val ln = math.sqrt(VecScan.dot(lv, lv))
        var j = 0
        while (j < m.ids.length) {
          val rid = m.ids(j)
          if (selfPairs.keeps(lid, rid)) {
            val s = VecScan.cosine(VecScan.dot(lv, m.vecs(j)), ln, m.norms(j))
            if (s >= tau) hits += ((rid, s))
          }
          j += 1
        }
      }
      if (hits.isEmpty && keepUnmatched) Iterator.single(emit(lid, null, null))
      else hits.iterator.map { case (rid, s) => emit(lid, rid, s) }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SemanticRangeJoinExec =
    copy(left = newLeft, right = newRight)
}
