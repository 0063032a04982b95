package graft

import graft.operators.{Ann, Dedup, IndexMaintenance, Lexical, Snapshots, Tombstones}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Named snapshots (r15): point-in-time pins with GC protection. The
  * contract: a snapshot open reconstructs the capture-time view bit-for-bit
  * no matter what landed since (appends, tombstones, consolidations,
  * compactions, prunes); the two collectors — `Tombstones.consolidate` and
  * `IndexMaintenance.pruneGenerations` — never collect a pinned component
  * while the snapshot lives and collect it on the first pass after `drop`;
  * a violated pin REFUSES to open rather than serving a partial view.
  */
class SnapshotSpec extends AnyFunSuite with LocalSession {

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
    java.nio.file.Files.createTempDirectory(s"graft_snap_$tag").toString

  private def bm25Search(idx: Lexical.Bm25Index): Set[String] =
    bits(Lexical.bm25SearchIndex(idx,
      docs(6).select(col("id").as("qid"), col("text")), "qid", "text", k = 4))

  /** A bm25 generation root: gen-0 over docs(80), one committed append
    * batch b0 (docs 80..99), one tombstone d0.
    */
  private def seedBm25Root(tag: String): (String, String) = {
    val root = tmp(tag)
    val g0 = IndexMaintenance.genPath(root, 0)
    val (p, st) = Lexical.bm25BuildIndex(docs(80), "id", "text")
    Lexical.bm25WriteIndex(p, st, g0, nBuckets = 8)
    assert(Lexical.bm25AppendIndex(spark, g0, docs(20, from = 80), "id", "text", "b0"))
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(7L, 11L, 85L)), "id", "d0"))
    IndexMaintenance.commitGeneration(spark, root, 0)
    (root, g0)
  }

  // ------------------------------------------------------------------
  // catalog mechanics
  // ------------------------------------------------------------------

  test("create/list/get/drop; manifests are atomic; names are immutable") {
    val (root, g0) = seedBm25Root("cat")
    val info = Snapshots.create(spark, root, "s0")
    assert(info.gen == 0 && info.batches == Seq("b0") && info.deletes == Seq("d0"))
    assert(Snapshots.list(spark, root).map(_.name) == Seq("s0"))
    assert(Snapshots.get(spark, root, "s0").map(_.pins.deletes) == Some(Set("d0")))
    // a second capture under the same name must refuse — pins are immutable
    assertThrows[IllegalArgumentException](Snapshots.create(spark, root, "s0"))
    // an uncommitted (crashed) create is invisible everywhere
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/snapshots/crashed"))
    assert(Snapshots.list(spark, root).map(_.name) == Seq("s0"))
    assert(Snapshots.get(spark, root, "crashed").isEmpty)
    assert(Snapshots.pinnedGens(spark, root) == Set(0))
    assert(Snapshots.pinnedDeleteNamesFor(spark, g0) == Set("d0"))
    // drop releases; a second drop reports the absence
    assert(Snapshots.drop(spark, root, "s0"))
    assert(!Snapshots.drop(spark, root, "s0"))
    assert(Snapshots.pinnedGens(spark, root).isEmpty)
    // bad names refuse before touching disk
    assertThrows[IllegalArgumentException](Snapshots.create(spark, root, "a/b"))
  }

  // ------------------------------------------------------------------
  // the frozen view
  // ------------------------------------------------------------------

  test("bm25: snapshot open ≡ capture-time search across appends, deletes, consolidation") {
    val (root, g0) = seedBm25Root("frozen")
    val atCapture = bm25Search(Lexical.bm25OpenIndex(spark, g0))
    Snapshots.create(spark, root, "s0")
    // post-capture mutations on the SAME generation: a new batch and two
    // more tombstones, then a consolidation (which must fold around d0)
    assert(Lexical.bm25AppendIndex(spark, g0, docs(20, from = 100), "id", "text", "b1"))
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(3L, 23L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(5L, 25L)), "id", "d2"))
    assert(Tombstones.consolidate(spark, g0) == 2, "folds d1+d2, preserves pinned d0")
    val live = bm25Search(Lexical.bm25OpenIndex(spark, g0))
    val snap = bm25Search(Snapshots.openBm25(spark, root, "s0"))
    assert(snap == atCapture, "the snapshot must serve the capture-time view bit-for-bit")
    assert(live != atCapture, "the live view must have moved (b1 + d1 + d2)")
    // the pinned tombstone dir survived the fold next to fold-0
    assert(Tombstones.deletesDf(spark, g0).select("del_id")
      .collect().map(_.getString(0)).toSet == Set("d0", "fold-0"))
    // dropping the pin releases d0 to the next consolidation
    assert(Snapshots.drop(spark, root, "s0"))
    assert(Tombstones.consolidate(spark, g0) == 2, "folds d0 + fold-0 once unpinned")
    assert(Tombstones.deleteDirCount(spark, g0) == 1)
    assert(bm25Search(Lexical.bm25OpenIndex(spark, g0)) == live,
      "releasing the pin never moves the live view")
  }

  test("prune skips a pinned generation and collects it after drop") {
    val (root, g0) = seedBm25Root("prune")
    Snapshots.create(spark, root, "keep0")
    val snapAtCapture = bm25Search(Snapshots.openBm25(spark, root, "keep0"))
    // compact gen-0 → gen-1 (applies b0 + d0 physically), then prune
    val g1 = IndexMaintenance.genPath(root, 1)
    Lexical.bm25CompactIndex(spark, g0, g1)
    IndexMaintenance.commitGeneration(spark, root, 1)
    assert(IndexMaintenance.pruneGenerations(spark, root, keepLatest = 1).isEmpty,
      "gen-0 is pinned — prune must leave it")
    assert(IndexMaintenance.committedGenerations(spark, root) == Seq(0, 1))
    assert(bm25Search(Snapshots.openBm25(spark, root, "keep0")) == snapAtCapture,
      "the snapshot still opens after compaction + attempted prune")
    assert(Snapshots.drop(spark, root, "keep0"))
    assert(IndexMaintenance.pruneGenerations(spark, root, keepLatest = 1) == Seq(0),
      "the drop releases gen-0 to the next prune")
    assert(IndexMaintenance.committedGenerations(spark, root) == Seq(1))
  }

  test("a violated pin refuses to open — never a partial exclusion set") {
    val (root, g0) = seedBm25Root("violated")
    Snapshots.create(spark, root, "s0")
    // consolidate with an explicit empty preserve set — the unsafe direct
    // call a snapshot-unaware maintainer might make — sweeps pinned d0
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(3L)), "id", "d1"))
    assert(Tombstones.consolidate(spark, g0, preserve = Set.empty) == 2)
    val ex = intercept[IllegalArgumentException](Snapshots.openBm25(spark, root, "s0"))
    assert(ex.getMessage.contains("pins were violated"))
  }

  test("ann + minhash: snapshot opens freeze the capture-time view") {
    val root = tmp("fam"); val g0 = IndexMaintenance.genPath(root, 0)
    val (cells, cents) = Ann.annBuildIndex(emb(200), "vec_id", "embedding", nCentroids = 8)
    Ann.annWriteIndex(cells, cents, g0)
    assert(Ann.annDeleteFromIndex(spark, g0, idsDf(Seq(10L, 42L)), "id", "d0"))
    IndexMaintenance.commitGeneration(spark, root, 0)
    val q = emb(200).filter(col("vec_id") < 8)
    def search(idx: Ann.AnnIndex): Set[String] =
      bits(Ann.annSearchIndex(idx, q, "vec_id", "embedding", k = 4, nProbe = 3))
    val atCapture = search(Ann.annOpenIndex(spark, g0))
    Snapshots.create(spark, root, "s0")
    assert(Ann.annAppendIndex(spark, g0, emb(250).filter(col("vec_id") >= 200),
      "vec_id", "embedding", "b1"))
    assert(Ann.annDeleteFromIndex(spark, g0, idsDf(Seq(3L, 7L)), "id", "d1"))
    assert(search(Snapshots.openAnn(spark, root, "s0")) == atCapture)
    assert(search(Ann.annOpenIndex(spark, g0)) != atCapture)

    val mroot = tmp("fammh"); val mg0 = IndexMaintenance.genPath(mroot, 0)
    Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(docs(100), "id", "text"), mg0)
    assert(Dedup.minhashDeleteFromIndex(spark, mg0, idsDf(Seq(5L, 17L)), "id", "d0"))
    IndexMaintenance.commitGeneration(spark, mroot, 0)
    val probe = docs(100).filter(col("id").isin(5L, 17L, 50L, 51L))
      .select((col("id") + 1000L).as("id"), col("text"))
    def msearch(idx: Dedup.MinHashIndex): Set[String] =
      bits(Dedup.minhashSearchIndex(idx, probe, "id", "text", 0.8))
    val matCapture = msearch(Dedup.minhashOpenIndex(spark, mg0))
    Snapshots.create(spark, mroot, "s0")
    assert(Dedup.minhashDeleteFromIndex(spark, mg0, idsDf(Seq(50L)), "id", "d1"))
    assert(msearch(Snapshots.openMinhash(spark, mroot, "s0")) == matCapture,
      "the snapshot still matches a copy of doc 50 — it was live at capture")
    assert(msearch(Dedup.minhashOpenIndex(spark, mg0)) != matCapture)
  }

  test("auditSnapshots: a pre-takedown pin surfaces its denylist conflicts; drop clears them") {
    import graft.streaming.Denylist
    val root = tmp("audit"); val g0 = IndexMaintenance.genPath(root, 0)
    val (p, st) = Lexical.bm25BuildIndex(docs(60), "id", "text")
    Lexical.bm25WriteIndex(p, st, g0, nBuckets = 8)
    IndexMaintenance.commitGeneration(spark, root, 0)
    Snapshots.create(spark, root, "pre")
    val doomed = Seq(7L, 23L, 41L)
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(doomed), "id", "takedown"))
    assert(Denylist.append(spark, root, idsDf(doomed), "id", "takedown"))
    Snapshots.create(spark, root, "post")
    // the live generation is compliant; only the pre-takedown pin conflicts
    assert(IndexMaintenance.auditRemovals(spark, root, bm25Root = Some(root)).isEmpty)
    val rows = IndexMaintenance.auditSnapshots(spark, root, bm25Root = Some(root))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == doomed.map(i => ("bm25", "pre", i)).toSet)
    // the remedy is drop — a purge retires the frozen view; re-audit clean
    assert(Snapshots.drop(spark, root, "pre"))
    assert(IndexMaintenance.auditSnapshots(spark, root, bm25Root = Some(root)).isEmpty)
    // a root with no denylist (or no snapshots) costs nothing and is clean
    assert(IndexMaintenance.auditSnapshots(spark, tmp("noaudit"),
      bm25Root = Some(root)).isEmpty)
  }

  test("auditSnapshots: ann family leg over a pinned IVF view") {
    import graft.streaming.Denylist
    val root = tmp("auditann"); val g0 = IndexMaintenance.genPath(root, 0)
    val (cells, cents) = Ann.annBuildIndex(emb(120), "vec_id", "embedding", nCentroids = 4)
    Ann.annWriteIndex(cells, cents, g0)
    IndexMaintenance.commitGeneration(spark, root, 0)
    Snapshots.create(spark, root, "pre")
    val doomed = Seq(11L, 57L)
    assert(Ann.annDeleteFromIndex(spark, g0, idsDf(doomed), "id", "takedown"))
    assert(Denylist.append(spark, root, idsDf(doomed), "id", "takedown"))
    val rows = IndexMaintenance.auditSnapshots(spark, root, annRoot = Some(root))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(rows == doomed.map(i => ("ann", "pre", i)).toSet)
  }

  test("asOf: marker mtimes reconstruct past views; folds destroy windows honestly") {
    val root = tmp("asof"); val g0 = IndexMaintenance.genPath(root, 0)
    val (p, st) = Lexical.bm25BuildIndex(docs(80), "id", "text")
    Lexical.bm25WriteIndex(p, st, g0, nBuckets = 8)
    // pre-commit: the honest miss
    assert(Snapshots.asOf(spark, root, System.currentTimeMillis()).isEmpty)
    IndexMaintenance.commitGeneration(spark, root, 0)
    val t0 = System.currentTimeMillis()
    val at0 = bm25Search(Lexical.bm25OpenIndex(spark, g0))
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(7L, 11L)), "id", "d0"))
    val t1 = System.currentTimeMillis()
    val at1 = bm25Search(Lexical.bm25OpenIndex(spark, g0))
    assert(Lexical.bm25AppendIndex(spark, g0, docs(20, from = 80), "id", "text", "b1"))
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(3L)), "id", "d1"))
    // each moment reconstructs bit-for-bat from the mutated index: t0 has
    // no deletes and no batches, t1 has d0 only — b1 and d1 are invisible
    val i0 = Snapshots.asOf(spark, root, t0).get
    assert(i0.batches.isEmpty && i0.deletes.isEmpty)
    assert(bm25Search(Snapshots.openBm25AsOf(spark, root, t0).get) == at0)
    val i1 = Snapshots.asOf(spark, root, t1).get
    assert(i1.batches.isEmpty && i1.deletes == Seq("d0"))
    assert(bm25Search(Snapshots.openBm25AsOf(spark, root, t1).get) == at1)
    // a fold committed AFTER t1 sweeps d0/d1 — the t1 window is gone and
    // the resolver must say so, not under-exclude
    assert(Tombstones.consolidate(spark, g0) == 2)
    val ex = intercept[IllegalArgumentException](Snapshots.asOf(spark, root, t1))
    assert(ex.getMessage.contains("consolidation"))
    // ...but a moment AFTER the fold resolves through the fold itself
    val t2 = System.currentTimeMillis()
    val i2 = Snapshots.asOf(spark, root, t2).get
    assert(i2.deletes == Seq("fold-0") && i2.batches == Seq("b1"))
    assert(bm25Search(Snapshots.openBm25AsOf(spark, root, t2).get) ==
      bm25Search(Lexical.bm25OpenIndex(spark, g0)))
    // and t0 still resolves: the empty window needs nothing the fold swept
    assert(bm25Search(Snapshots.openBm25AsOf(spark, root, t0).get) == at0)
  }

  test("replication mirrors the pin catalog: copies, drop propagation, missing-gen skip") {
    val (src, g0) = seedBm25Root("replsrc")
    val dst = tmp("repldst")
    Snapshots.create(spark, src, "s0")
    val atCapture = bm25Search(Snapshots.openBm25(spark, src, "s0"))
    Lexical.bm25CompactIndex(spark, g0, IndexMaintenance.genPath(src, 1))
    IndexMaintenance.commitGeneration(spark, src, 1)
    val follower = new IndexMaintenance.ReplicaFollower(spark, src, dst,
      followSnapshots = true)
    assert(follower.poll() == Seq(0, 1))
    // the replica serves the pin exactly as the source does, and its own
    // prune respects the replicated pin
    assert(Snapshots.list(spark, dst).map(_.name) == Seq("s0"))
    assert(bm25Search(Snapshots.openBm25(spark, dst, "s0")) == atCapture)
    assert(IndexMaintenance.pruneGenerations(spark, dst, keepLatest = 1).isEmpty)
    // a source-side drop + re-capture under a NEW name propagates both ways
    assert(Snapshots.drop(spark, src, "s0"))
    Snapshots.create(spark, src, "s1")
    val (copied, dropped) = Snapshots.replicate(spark, src, dst)
    assert(copied == Seq("s1") && dropped == Seq("s0"))
    assert(IndexMaintenance.pruneGenerations(spark, dst, keepLatest = 1) == Seq(0),
      "the propagated drop releases gen-0 on the replica")
    // a pin whose generation the replica lacks is skipped, then lands once
    // the generation catch-up passes it
    Lexical.bm25CompactIndex(spark, IndexMaintenance.genPath(src, 1),
      IndexMaintenance.genPath(src, 2))
    IndexMaintenance.commitGeneration(spark, src, 2)
    assert(Snapshots.drop(spark, src, "s1"))
    Snapshots.create(spark, src, "s2") // pins gen 2 — not yet on the replica
    val (copied2, dropped2) = Snapshots.replicate(spark, src, dst)
    assert(copied2.isEmpty && dropped2 == Seq("s1"),
      "a dangling pin must be skipped, never half-copied")
    assert(follower.poll() == Seq(2))
    assert(Snapshots.list(spark, dst).map(_.name) == Seq("s2"))
  }

  test("maintainIndexes' consolidation pass preserves pins without being told") {
    val (root, g0) = seedBm25Root("maint")
    Snapshots.create(spark, root, "s0")
    val snapAtCapture = bm25Search(Snapshots.openBm25(spark, root, "s0"))
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(3L)), "id", "d1"))
    assert(Lexical.bm25DeleteFromIndex(spark, g0, idsDf(Seq(9L)), "id", "d2"))
    // the policy path reaches consolidate() through its no-preserve form,
    // which must derive the pin set from root/snapshots on its own
    val events = IndexMaintenance.maintainIndexes(spark,
      bm25Root = Some(root),
      policy = IndexMaintenance.Policy(
        bm25MaxAppendFraction = Double.PositiveInfinity, maxDeleteDirs = 1))
    assert(events.exists(e => e.signal == "deleteDirs" && e.action == "consolidate"))
    assert(Tombstones.deletesDf(spark, g0).select("del_id")
      .collect().map(_.getString(0)).toSet == Set("d0", "fold-0"))
    assert(bm25Search(Snapshots.openBm25(spark, root, "s0")) == snapAtCapture)
  }
}
