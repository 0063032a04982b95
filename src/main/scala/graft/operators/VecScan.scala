package graft.operators

import graft.functions.VectorOps.asDouble
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared pieces of the broadcast cosine scans: the broadcast size bound and
  * census ([[fitsBroadcast]]), the column-major [[Mat]] the scans read, and
  * the scalar [[dot]]/[[cosine]] they score with. The kNN and range join
  * scans themselves are the planned nodes of [[graft.plans.GraftPlans]]
  * ([[graft.plans.SemanticVecJoinExec]]), which
  * [[SemanticJoin.knnJoinVec]]/[[SemanticJoin.rangeJoinVec]] and the
  * clustering ε-scan build while the right side fits [[maxBroadcastBytes]];
  * above it callers fall back to the shuffle/crossJoin plan (or IVF).
  * Scores are bit-identical to the declarative path: same
  * `dot / (sqrt(na)·sqrt(nb))` double op order, same [-1,1] clamp.
  */
object VecScan {

  /** Right side must stay under this to take the broadcast path. The default
    * (256 MiB of packed doubles) leaves headroom under Spark's default
    * `spark.driver.maxResultSize=1g`: the broadcast pulls the right side
    * through the driver, so a bound near 1 GiB kills the job with a confusing
    * driver-side error instead of falling back to the shuffle plan. Tune with
    * `spark.graft.vecscan.maxBroadcastBytes` (raise it together with
    * maxResultSize / driver memory).
    */
  val DefaultMaxBroadcastBytes: Long = 256L << 20
  val MaxBroadcastBytesKey = "spark.graft.vecscan.maxBroadcastBytes"

  def maxBroadcastBytes(spark: org.apache.spark.sql.SparkSession): Long =
    spark.conf.getOption(MaxBroadcastBytesKey).map(_.toLong).getOrElse(DefaultMaxBroadcastBytes)

  private[graft] final case class Mat(ids: Array[Long], vecs: Array[Array[Double]], norms: Array[Double])

  private[graft] def collectMat(df: DataFrame, idCol: String, vecCol: String): Mat = {
    val spark = df.sparkSession
    import spark.implicits._
    val rows = df.select(col(idCol).cast("long"), asDouble(col(vecCol)))
      .as[(Long, Array[Double])].collect()
    val ids = new Array[Long](rows.length)
    val vecs = new Array[Array[Double]](rows.length)
    val norms = new Array[Double](rows.length)
    var i = 0
    while (i < rows.length) {
      ids(i) = rows(i)._1
      vecs(i) = rows(i)._2
      norms(i) = math.sqrt(dot(rows(i)._2, rows(i)._2))
      i += 1
    }
    Mat(ids, vecs, norms)
  }

  @inline private[graft] def dot(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var s = 0.0
    var i = 0
    while (i < n) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Same clamp as VectorOps.cosine: least(greatest(d/(na*nb), -1), 1). */
  @inline private[graft] def cosine(d: Double, na: Double, nb: Double): Double =
    math.min(math.max(d / (na * nb), -1.0), 1.0)

  /** True if the right side is small enough (rows × dim × 8 bytes). One job:
    * count and dim come from a single aggregate.
    */
  def fitsBroadcast(right: DataFrame, vecCol: String, dim: => Int = 0): Boolean = {
    val bound = maxBroadcastBytes(right.sparkSession)
    if (dim > 0) {
      right.count() * dim.toLong * 8L <= bound
    } else {
      val r = right.agg(count(lit(1)), first(size(col(vecCol)), ignoreNulls = true)).first()
      val n = r.getLong(0)
      val d = if (r.isNullAt(1)) 1 else math.max(r.getInt(1), 1)
      n * d.toLong * 8L <= bound
    }
  }
}
