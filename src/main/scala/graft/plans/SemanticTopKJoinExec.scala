package graft.plans

import graft.functions.TopKBuffer
import graft.operators.VecScan
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Physical semantic top-k join: the broadcast scan of
  * [[SemanticVecJoinExec]] with a TopKBuffer per left row — ≤k output rows
  * per left row, ties broken (score desc, right_id asc).
  *
  * Scale posture: the right side must fit a broadcast (enforced by the
  * exchange), the left side streams with full scan parallelism. For an
  * over-broadcast right side use the DataFrame API
  * ([[graft.operators.SemanticJoin.knnJoinVec]]), which plans this node
  * while the right side fits and falls back to the shuffled crossJoin +
  * partial-agg top-k plan above that.
  */
case class SemanticTopKJoinExec(
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    k: Int,
    excludeSelf: Boolean,
    output: Seq[Attribute],
    left: SparkPlan,
    right: SparkPlan)
  extends SemanticVecJoinExec {

  override protected def scanner(m: VecScan.Mat): (Long, Array[Double]) => Iterator[InternalRow] = {
    val proj = UnsafeProjection.create(output.map(_.dataType).toArray)
    val scratch = new GenericInternalRow(4)
    (lid, lv) =>
      if (lv == null) Iterator.empty
      else {
        val ln = math.sqrt(VecScan.dot(lv, lv))
        val buf = new TopKBuffer(k)
        var j = 0
        while (j < m.ids.length) {
          if (!(excludeSelf && m.ids(j) == lid)) {
            buf.insert(VecScan.cosine(VecScan.dot(lv, m.vecs(j)), ln, m.norms(j)), m.ids(j))
          }
          j += 1
        }
        (0 until buf.n).iterator.map { r =>
          scratch.update(0, lid)
          scratch.update(1, buf.ids(r))
          scratch.update(2, buf.scores(r))
          scratch.update(3, r + 1)
          proj(scratch)
        }
      }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SemanticTopKJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy lowering the semantic vector join nodes to their
  * broadcast physical forms — registered by [[graft.GraftExtensions]]
  * (config path) or [[GraftPlans.install]] (live session).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: SemanticTopKJoin =>
      SemanticTopKJoinExec(
        j.leftIdCol, j.leftVecCol, j.rightIdCol, j.rightVecCol,
        j.k, j.excludeSelf, j.output, planLater(j.left), planLater(j.right)) :: Nil
    case j: SemanticRangeJoin =>
      SemanticRangeJoinExec(
        j.leftIdCol, j.leftVecCol, j.rightIdCol, j.rightVecCol,
        j.tau, j.selfPairs, j.keepUnmatched, j.output,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}
