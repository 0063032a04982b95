package graft.plans

import graft.operators.VecScan
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{BroadcastDistribution, Distribution, IdentityBroadcastMode, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types._

/** Shared by-name column binding + validation for the semantic vector join
  * family ([[SemanticTopKJoin]], [[SemanticRangeJoin]]): each node names the
  * id/vec columns of each side and resolves them against that child's own
  * output independently (see [[SemanticTopKJoin]]'s scaladoc for why
  * by-name, not by-Expression). All members output `left_id` first, which
  * [[PushFilterThroughSemanticVecJoin]] relies on.
  */
trait SemanticVecJoin extends BinaryNode {
  def leftIdCol: String
  def leftVecCol: String
  def rightIdCol: String
  def rightVecCol: String

  protected def find(child: LogicalPlan, name: String): Option[Attribute] =
    child.output.find(a => conf.resolver(a.name, name))

  /** The child columns this node consumes — lets ColumnPruning strip every
    * other column below (the TVF/API constructors also pre-project, so scans
    * stay 2-column even if a pruning pattern misses a custom node).
    */
  override def references: AttributeSet = AttributeSet(
    Seq(find(left, leftIdCol), find(left, leftVecCol),
      find(right, rightIdCol), find(right, rightVecCol)).flatten)

  private def idOk(dt: DataType): Boolean = dt match {
    case _: IntegerType | _: LongType | _: ShortType | _: ByteType => true
    case _ => false
  }
  private def vecOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override lazy val resolved: Boolean = childrenResolved &&
    find(left, leftIdCol).exists(a => idOk(a.dataType)) &&
    find(left, leftVecCol).exists(a => vecOk(a.dataType)) &&
    find(right, rightIdCol).exists(a => idOk(a.dataType)) &&
    find(right, rightVecCol).exists(a => vecOk(a.dataType))
}

/** The physical form both [[SemanticVecJoin]] members share: the right
  * child is required as a `BroadcastDistribution`, so Spark's own
  * `EnsureRequirements` inserts a `BroadcastExchangeExec` (size guards,
  * reuse across identical subtrees and AQE handling come with it). The
  * broadcast rows are unpacked into the scan-ready [[VecScan.Mat]] once per
  * executor ([[MatCache]]), and each left partition streams its rows
  * through the member's per-row loop, [[scanner]]: zero shuffle, no per-pair
  * rows. Scores use [[VecScan.dot]]/[[VecScan.cosine]], the double op order
  * and clamp of the declarative crossJoin path, so both are bit-identical.
  */
trait SemanticVecJoinExec extends BinaryExecNode {
  def leftIdCol: String
  def leftVecCol: String
  def rightIdCol: String
  def rightVecCol: String

  /** The per-left-row loop over the broadcast matrix `m`, built once per
    * partition. It gets each left row's id and vector; the vector is null
    * when the row's is. Rows with a null id never reach it.
    */
  protected def scanner(m: VecScan.Mat): (Long, Array[Double]) => Iterator[InternalRow]

  override def requiredChildDistribution: Seq[Distribution] = Seq(
    UnspecifiedDistribution, BroadcastDistribution(IdentityBroadcastMode))

  private def ordinalOf(child: SparkPlan, name: String): Int = {
    val i = child.output.indexWhere(a => conf.resolver(a.name, name))
    require(i >= 0, s"column $name not found in ${child.output.map(_.name).mkString(", ")}")
    i
  }

  private def elemType(child: SparkPlan, ord: Int): DataType =
    child.output(ord).dataType.asInstanceOf[ArrayType].elementType

  override protected def doExecute(): RDD[InternalRow] = {
    val rowsBc = right.executeBroadcast[Array[InternalRow]]()
    val rIdOrd = ordinalOf(right, rightIdCol)
    val rVecOrd = ordinalOf(right, rightVecCol)
    val rIdType = right.output(rIdOrd).dataType
    val rElem = elemType(right, rVecOrd)
    val lIdOrd = ordinalOf(left, leftIdCol)
    val lVecOrd = ordinalOf(left, leftVecCol)
    val lIdType = left.output(lIdOrd).dataType
    val lElem = elemType(left, lVecOrd)
    left.execute().mapPartitions({ it =>
      val scan = scanner(MatCache.get(rowsBc.value, rIdOrd, rIdType, rVecOrd, rElem))
      it.flatMap { lrow =>
        if (lrow.isNullAt(lIdOrd)) Iterator.empty
        else scan(RowVec.getId(lrow, lIdOrd, lIdType),
          if (lrow.isNullAt(lVecOrd)) null else RowVec.getVec(lrow, lVecOrd, lElem))
      }
    }, preservesPartitioning = true)
  }
}

/** Logical plan node for the semantic top-k (cosine kNN) join — the engine's
  * core operator lifted to a first-class Catalyst citizen (SURVEY §4.2's
  * optional SQL-surface item). The node is declarative: it names the id/vec
  * columns of each side and `k`; HOW it runs (broadcast side, kernel, rank
  * materialization) is decided at planning by [[GraftStrategy]], exactly like
  * Spark's own Join → {Broadcast,SortMerge,Hash}JoinExec split.
  *
  * Column bindings are by NAME (resolved against each child's own output
  * independently), not by `Expression`: a semantic self-join reads the same
  * table on both sides, where attribute-based bindings would collide on
  * duplicate expression ids — the exact hazard `DeduplicateRelations` exists
  * to patch for Spark's built-in binary nodes, which does not know about this
  * one. By-name binding per side makes the ambiguity unrepresentable.
  *
  * Output is `(left_id long, right_id long, score double, rank int)` — the
  * same contract as [[graft.operators.SemanticJoin.knnJoinVec]], rank 1-based
  * best-first, ties broken (score desc, right_id asc), scores bit-identical
  * to its crossJoin form (see [[SemanticVecJoinExec]]).
  *
  * The output attributes are a constructor field (with fresh ids by default)
  * so that optimizer copies — `withNewChildrenInternal`, rule rewrites —
  * preserve expression ids; regenerating them per copy would orphan every
  * reference above this node.
  */
case class SemanticTopKJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftIdCol: String,
    leftVecCol: String,
    rightIdCol: String,
    rightVecCol: String,
    k: Int,
    excludeSelf: Boolean,
    output: Seq[Attribute] = SemanticTopKJoin.freshOutput())
  extends SemanticVecJoin {

  require(k >= 1, s"k must be >= 1, got $k")

  // saturating multiply: a huge left estimate times k must not wrap negative
  // and mislead limit-elimination rules that trust maxRows
  override def maxRows: Option[Long] =
    left.maxRows.map(m => if (m > Long.MaxValue / k) Long.MaxValue else m * k)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): SemanticTopKJoin =
    copy(left = newLeft, right = newRight)
}

object SemanticTopKJoin {
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("left_id", LongType, nullable = false)(),
    AttributeReference("right_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)(),
    AttributeReference("rank", IntegerType, nullable = false)())
}

/** Per-executor memoized unpack of a broadcast `Array[InternalRow]` into the
  * engine's column-major [[VecScan.Mat]] (ids / vectors / precomputed norms).
  * `BroadcastExchangeExec` only ships `HashedRelation` or
  * `Array[InternalRow]` payloads (a custom `BroadcastMode` result is rejected
  * at the exchange), so the rows travel in identity form and the scan-ready
  * matrix is built ONCE per executor JVM here — keyed weakly on the broadcast
  * array instance, so the cache entry dies with the broadcast block instead
  * of pinning a second copy for the life of the executor. The matrix itself
  * is held weakly too: the scans using it hold it strongly, and a
  * `WeakHashMap` keeps a dead key's value until its next access, which left
  * the last broadcasts' matrices live long after their broadcasts were
  * freed. A collection between two non-overlapping tasks of one broadcast
  * costs a second unpack.
  */
private[plans] object MatCache {
  private val cache =
    new java.util.WeakHashMap[AnyRef, java.lang.ref.WeakReference[VecScan.Mat]]

  // One lock for the whole cache, not per broadcast-array key: WeakHashMap
  // mutates internally even on get() (stale-entry expunge), so two tasks
  // unpacking DIFFERENT broadcasts under per-key locks would still race the
  // shared table (lost entries / corrupted resize / a spinning reader).
  // Coarse locking is cheap here — a build happens once per broadcast per
  // executor and a hit is a hash probe.
  def get(rows: Array[InternalRow], idOrd: Int, idType: DataType,
      vecOrd: Int, vecElemType: DataType): VecScan.Mat = cache.synchronized {
    val ref = cache.get(rows)
    val hit = if (ref == null) null else ref.get
    if (hit != null) hit
    else {
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val vecs = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      rows.foreach { r =>
        if (!r.isNullAt(idOrd) && !r.isNullAt(vecOrd)) {
          ids += RowVec.getId(r, idOrd, idType)
          vecs += RowVec.getVec(r, vecOrd, vecElemType)
        }
      }
      val norms = new Array[Double](vecs.length)
      var i = 0
      while (i < norms.length) { norms(i) = math.sqrt(VecScan.dot(vecs(i), vecs(i))); i += 1 }
      val mat = VecScan.Mat(ids.toArray, vecs.toArray, norms)
      cache.put(rows, new java.lang.ref.WeakReference(mat))
      mat
    }
  }
}

/** Shared InternalRow → primitive extraction for the planned operators. */
private[plans] object RowVec {
  def getId(r: InternalRow, ord: Int, dt: DataType): Long = dt match {
    case LongType => r.getLong(ord)
    case IntegerType => r.getInt(ord).toLong
    case ShortType => r.getShort(ord).toLong
    case ByteType => r.getByte(ord).toLong
    case other => throw new IllegalStateException(s"unsupported id type $other")
  }

  def getVec(r: InternalRow, ord: Int, elem: DataType): Array[Double] = {
    val a = r.getArray(ord)
    val n = a.numElements()
    val out = new Array[Double](n)
    var i = 0
    elem match {
      case DoubleType => while (i < n) { out(i) = a.getDouble(i); i += 1 }
      case FloatType => while (i < n) { out(i) = a.getFloat(i).toDouble; i += 1 }
      case other => throw new IllegalStateException(s"unsupported vector element type $other")
    }
    out
  }
}

/** Optimizer rule: push a deterministic predicate on `left_id` below a
  * semantic vector join, onto the left child's id column. Sound for every
  * [[SemanticVecJoin]] member because each left row's output (its top-k, or
  * its τ-matches, or its unmatched left-outer row) depends only on that row
  * and the right table — dropping left rows first cannot change any
  * surviving row's neighbors, ranks, or match set (unlike a filter on
  * `right_id`/`score`/`rank`, which this rule must and does leave above).
  * At scale this turns "join then keep 1% of queries" into "read 1% of
  * queries" — the predicate lands in the parquet scan's PushedFilters.
  */
object PushFilterThroughSemanticVecJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: SemanticVecJoin) =>
      val leftIdOut = j.output.head
      j.left.output.find(a => conf.resolver(a.name, j.leftIdCol)) match {
        case Some(childId) =>
          val (push, keep) = splitConjunctivePredicates(cond).partition(p =>
            p.deterministic && p.references.subsetOf(AttributeSet(leftIdOut)))
          if (push.isEmpty) f
          else {
            val replacement: Expression =
              if (childId.dataType == LongType) childId else Cast(childId, LongType)
            val pushed = push.map(_.transform {
              case a: Attribute if a.exprId == leftIdOut.exprId => replacement
            }).reduce(And)
            val newJoin = j.withNewChildren(Seq(Filter(pushed, j.left), j.right))
            keep.reduceOption(And).map(Filter(_, newJoin)).getOrElse(newJoin)
          }
        case None => f
      }
  }
}
