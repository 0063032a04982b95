package graft.operators

import graft.core.{Keys, Serialize}
import graft.embed.Embedder
import graft.functions.VectorOps._
import graft.plans.GraftPlans
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType

/** The semantic-join family: exact cosine kNN join (k=1 "merge", top-k "merge_knn"),
  * threshold range join with left-outer retention ("merge_range"), blocked
  * equi+semantic join ("merge_blocking"), and semantic rollup ("aggregate_rows").
  *
  * Physical shape (SURVEY §4.3): while the right side's (id, vec) projection
  * fits the broadcast bound, the vector joins plan the Catalyst nodes of
  * [[graft.plans.GraftPlans]] — the right side broadcast, each left row
  * scanned against it with zero shuffle and no per-pair rows. Above the bound
  * they fall back to a crossJoin scored by codegen'd expressions and reduced
  * by the partial-aggregating native top-k, so only ≤k rows per left key ever
  * shuffle. Exact (matches FAISS IndexFlatIP, reference:
  * src/linktransformer/infer.py:144-151) with deterministic tie-break
  * (score desc, right id asc), bit-identical across both forms.
  */
object SemanticJoin {

  /** The crossJoin branches' input types — id as long, vector as
    * array<double> — under the caller's column names, for the planned nodes.
    */
  private def idVec(df: DataFrame, id: String, vec: String): DataFrame =
    df.select(col(id).cast("long").as(id), asDouble(col(vec)).as(vec))

  /** kNN join over precomputed vector columns.
    * Returns `(left_id, right_id, score, rank)`, rank 1-based best-first.
    */
  def knnJoinVec(
      left: DataFrame, leftId: String, leftVec: String,
      right: DataFrame, rightId: String, rightVec: String,
      k: Int,
      excludeSelf: Boolean = false,
      broadcastRight: Boolean = true,
      skipSizeCheck: Boolean = false): DataFrame = {
    // the broadcast path is size-guarded: an over-limit right side falls back
    // to the shuffle plan instead of collecting to the driver (100 TB safety).
    // skipSizeCheck lets callers with a size guarantee by construction (e.g. a
    // ≤nCentroids centroid table) save the census aggregate job.
    if (broadcastRight && (skipSizeCheck || VecScan.fitsBroadcast(right, rightVec))) {
      GraftPlans.knnJoin(idVec(left, leftId, leftVec), leftId, leftVec,
        idVec(right, rightId, rightVec), rightId, rightVec, k, excludeSelf)
    } else {
      // shuffle path for when neither side fits a broadcast: crossJoin pairs,
      // partial-aggregating native top-k so only ≤k rows per left key shuffle
      val l = left.select(col(leftId).cast("long").as("__lid"), asDouble(col(leftVec)).as("__lvec"))
        .withColumn("__lnorm", norm(col("__lvec")))
      val r = right.select(col(rightId).cast("long").as("__rid"), asDouble(col(rightVec)).as("__rvec"))
        .withColumn("__rnorm", norm(col("__rvec")))
      val pairs0 = l.crossJoin(r)
      val pairs = if (excludeSelf) pairs0.filter(col("__lid") =!= col("__rid")) else pairs0
      val scored = pairs.select(
        col("__lid"), col("__rid"),
        cosineWithNorms(dot(col("__lvec"), col("__rvec")), col("__lnorm"), col("__rnorm"))
          .as("__score"))
      scored.groupBy(col("__lid"))
        .agg(graft.functions.VecExpressions.topK(k, col("__score"), col("__rid")).as("__top"))
        .select(col("__lid"), posexplode(col("__top")).as(Seq("__pos", "__s")))
        .select(
          col("__lid").as("left_id"),
          col("__s.id").as("right_id"),
          col("__s.score").as("score"),
          (col("__pos") + 1).cast(IntegerType).as("rank"))
    }
  }

  /** Similarity range join (theta join on cosine >= tau) over precomputed vectors.
    * With `keepUnmatched` (the reference's left-outer semantics, infer.py:852-864),
    * left ids with no match are retained with null right_id/score.
    */
  def rangeJoinVec(
      left: DataFrame, leftId: String, leftVec: String,
      right: DataFrame, rightId: String, rightVec: String,
      tau: Double,
      excludeSelf: Boolean = false,
      keepUnmatched: Boolean = true,
      broadcastRight: Boolean = true): DataFrame = {
    if (broadcastRight && VecScan.fitsBroadcast(right, rightVec)) {
      GraftPlans.rangeJoin(idVec(left, leftId, leftVec), leftId, leftVec,
        idVec(right, rightId, rightVec), rightId, rightVec, tau, excludeSelf, keepUnmatched)
    } else {
      val l = left.select(col(leftId).cast("long").as("left_id"), asDouble(col(leftVec)).as("__lvec"))
        .withColumn("__lnorm", norm(col("__lvec")))
      val r = right.select(col(rightId).cast("long").as("right_id"), asDouble(col(rightVec)).as("__rvec"))
        .withColumn("__rnorm", norm(col("__rvec")))
      val pairs0 = l.crossJoin(r)
      val pairs = if (excludeSelf) pairs0.filter(col("left_id") =!= col("right_id")) else pairs0
      val matches = pairs
        .withColumn("score",
          cosineWithNorms(dot(col("__lvec"), col("__rvec")), col("__lnorm"), col("__rnorm")))
        .filter(col("score") >= lit(tau))
        .select("left_id", "right_id", "score")
      if (!keepUnmatched) matches
      else left.select(col(leftId).cast("long").as("left_id"))
        .join(matches, Seq("left_id"), "left")
    }
  }

  // ---------------------------------------------------------------------------
  // Text-level operators (embedder in the loop)
  // ---------------------------------------------------------------------------

  private val LeftIdCol = "__graft_lid"
  private val RightIdCol = "__graft_rid"

  private def withTextVec(
      df: DataFrame, keys: Seq[String], idCol: String,
      embedder: Embedder, sep: String): DataFrame = {
    Keys.requireNoReserved(df, Seq(LeftIdCol, RightIdCol, "__graft_text", "__graft_vec"))
    val withId = df.withColumn(idCol, monotonically_increasing_id())
    val withText = withId.withColumn("__graft_text",
      Serialize.serializeColumns(keys.map(withId(_)), sep))
    // Materialize once before the plan branches (kNN path + join-back path):
    // monotonically_increasing_id is NOT stable across re-evaluations when the
    // input arrives through a shuffle, so branching without a checkpoint can
    // silently misalign the join-back. This is also the embed-once-reuse
    // optimization (reference: infer.py:244-247, CHANGELOG.md:71-72) — the
    // embedding stage is the expensive one and must not run twice.
    // model/API embedders: embed each DISTINCT key text once, join vectors
    // back (reference evaluation.py:448-451) — the distinct+join shuffle is
    // cheap against re-running a model on duplicate keys at scale
    val embedded =
      if (embedder.preferDedup)
        graft.embed.Embedder.embedDistinct(withText, "__graft_text", "__graft_vec", embedder)
      else embedder.embed(withText, "__graft_text", "__graft_vec")
    embedded.localCheckpoint(true)
  }

  /** Semantic top-k join of two arbitrary DataFrames on serialized key columns —
    * the engine's `merge_knn` (reference: src/linktransformer/infer.py:564-711).
    * Output: all df1 columns, all df2 columns (shared names suffixed), `score`;
    * k rows per left row, ordered (left, rank).
    */
  /** `stableOrder=false` skips the final global `orderBy(left_id, rank)` — the
    * reference's stable-output contract is a cross-partition sort, which at
    * scale is a needless extra shuffle when the merge feeds another operator
    * rather than a human-facing sink (VERDICT r1: make it opt-out).
    */
  def mergeKnn(
      df1: DataFrame, df2: DataFrame,
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      k: Int = 1,
      suffixes: (String, String) = ("_x", "_y"),
      sep: String = Serialize.DefaultSep,
      stableOrder: Boolean = true): DataFrame = {
    val (lk, rk) = Keys.resolve(df1.columns, df2.columns, on, leftOn, rightOn)
    val l = withTextVec(df1, lk, LeftIdCol, embedder, sep)
    val r = withTextVec(df2, rk, RightIdCol, embedder, sep)

    val knn = knnJoinVec(
      l, LeftIdCol, "__graft_vec",
      r, RightIdCol, "__graft_vec", k)

    // string-name joins (all names disjoint after suffixing) — dataset column
    // refs would trip DetectAmbiguousSelfJoin when df1/df2 share lineage
    val (ls, rs) = Keys.suffixConflicts(
      l.drop("__graft_text", "__graft_vec"),
      r.drop("__graft_text", "__graft_vec"), suffixes)
    val outCols = (ls.columns.filterNot(_ == LeftIdCol) ++
      rs.columns.filterNot(_ == RightIdCol)).map(col) :+ col("score")

    val joined = knn.join(ls.withColumnRenamed(LeftIdCol, "left_id"), Seq("left_id"))
      .join(rs.withColumnRenamed(RightIdCol, "right_id"), Seq("right_id"))
    (if (stableOrder) joined.orderBy(col("left_id"), col("rank")) else joined)
      .select(outCols: _*)
  }

  /** Semantic 1-NN join — the engine's `merge` (reference: infer.py:24-164). */
  def merge(
      df1: DataFrame, df2: DataFrame,
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      suffixes: (String, String) = ("_x", "_y")): DataFrame =
    mergeKnn(df1, df2, on, leftOn, rightOn, embedder, k = 1, suffixes)

  /** Similarity range join over text keys with left-outer retention and stable
    * left ordering — the engine's `merge_range` (reference: infer.py:714-874).
    */
  def mergeRange(
      df1: DataFrame, df2: DataFrame,
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      simThreshold: Double = 0.7,
      suffixes: (String, String) = ("_x", "_y"),
      sep: String = Serialize.DefaultSep): DataFrame = {
    val (lk, rk) = Keys.resolve(df1.columns, df2.columns, on, leftOn, rightOn)
    val l = withTextVec(df1, lk, LeftIdCol, embedder, sep)
    val r = withTextVec(df2, rk, RightIdCol, embedder, sep)

    val rj = rangeJoinVec(
      l, LeftIdCol, "__graft_vec",
      r, RightIdCol, "__graft_vec",
      tau = simThreshold, keepUnmatched = true)

    val (ls, rs) = Keys.suffixConflicts(
      l.drop("__graft_text", "__graft_vec"),
      r.drop("__graft_text", "__graft_vec"), suffixes)
    val outCols = (ls.columns.filterNot(_ == LeftIdCol) ++
      rs.columns.filterNot(_ == RightIdCol)).map(col) :+ col("score")

    rj.join(ls.withColumnRenamed(LeftIdCol, "left_id"), Seq("left_id"))
      .join(rs.withColumnRenamed(RightIdCol, "right_id"), Seq("right_id"), "left")
      .orderBy(col("left_id"), desc_nulls_last("score"), col("right_id"))
      .select(outCols: _*)
  }

  /** Blocked equi+semantic join — the engine's `merge_blocking`
    * (reference: infer.py:169-274). One equi-join + one partial-agg top-1 instead
    * of the reference's per-block Python loop; blocks present on only one side
    * pass through unmatched with their original (unsuffixed) columns, union'd by
    * name with nulls elsewhere (reference: infer.py:240-274).
    */
  def mergeBlocking(
      df1: DataFrame, df2: DataFrame,
      blockingVars: Seq[String],
      on: Seq[String] = Nil, leftOn: Seq[String] = Nil, rightOn: Seq[String] = Nil,
      embedder: Embedder,
      suffixes: (String, String) = ("_x", "_y"),
      sep: String = Serialize.DefaultSep): DataFrame = {
    require(blockingVars.forall(df1.columns.contains),
      s"Blocking vars $blockingVars not in df1")
    require(blockingVars.forall(df2.columns.contains),
      s"Blocking vars $blockingVars not in df2")
    val (lk, rk) = Keys.resolve(df1.columns, df2.columns, on, leftOn, rightOn)
    val l = withTextVec(df1, lk, LeftIdCol, embedder, sep)
    val r = withTextVec(df2, rk, RightIdCol, embedder, sep)

    // candidates restricted to equal block keys; null-safe equality mirrors
    // pandas groupby (NaN blocks are dropped by pandas; we require non-null).
    // norms are computed once per ROW before the join — inside the pair
    // predicate they would be recomputed O(candidates) times
    val lSide = l.select(Seq(col(LeftIdCol), asDouble(col("__graft_vec")).as("__lv")) ++ blockingVars.map(l(_)): _*)
      .withColumn("__ln", norm(col("__lv")))
    val rSide = r.select(Seq(col(RightIdCol), asDouble(col("__graft_vec")).as("__rv")) ++ blockingVars.map(r(_)): _*)
      .withColumn("__rn", norm(col("__rv")))
      .withColumnsRenamed(blockingVars.map(c => c -> s"__rb_$c").toMap)
    val scored = lSide
      .join(rSide, blockingVars.map(c => col(c) === col(s"__rb_$c")).reduce(_ && _))
      .select(col(LeftIdCol), col(RightIdCol),
        cosineWithNorms(dot(col("__lv"), col("__rv")), col("__ln"), col("__rn")).as("__score"))
    val best = scored.groupBy(col(LeftIdCol))
      .agg(graft.functions.VecExpressions.topK(1, col("__score"), col(RightIdCol)).as("__top"))
      .select(col(LeftIdCol).as("left_id"),
        col("__top")(0).getField("id").as("right_id"),
        col("__top")(0).getField("score").as("score"))

    val (ls, rs) = Keys.suffixConflicts(
      l.drop("__graft_text", "__graft_vec"),
      r.drop("__graft_text", "__graft_vec"), suffixes)
    val matched = best
      .join(ls.withColumnRenamed(LeftIdCol, "left_id"), Seq("left_id"))
      .join(rs.withColumnRenamed(RightIdCol, "right_id"), Seq("right_id"))
      .select((ls.columns.filterNot(_ == LeftIdCol) ++
        rs.columns.filterNot(_ == RightIdCol)).map(col) :+ col("score"): _*)

    // pass-through rows from blocks present on only one side
    val blockCols = blockingVars.map(col)
    val d1 = df1
    val d2 = df2
    val leftOnly = d1.join(d2.select(blockCols: _*).distinct(), blockingVars, "left_anti")
    val rightOnly = d2.join(d1.select(blockCols: _*).distinct(), blockingVars, "left_anti")

    matched
      .unionByName(leftOnly, allowMissingColumns = true)
      .unionByName(rightOnly, allowMissingColumns = true)
  }

  /** Semantic many-to-one rollup onto a small reference table — the engine's
    * `aggregate_rows` (reference: infer.py:279-312): a 1-NN merge where the
    * reference side is broadcast.
    */
  def aggregateRows(
      df: DataFrame, refDf: DataFrame,
      leftOn: Seq[String], rightOn: Seq[String],
      embedder: Embedder,
      suffixes: (String, String) = ("_x", "_y")): DataFrame =
    merge(df, refDf, Nil, leftOn, rightOn, embedder, suffixes)
}
