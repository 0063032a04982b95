package perfbench

import java.util.concurrent.{ConcurrentHashMap, LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.embed.{LinearModel, ModelEmbedder}
import graft.operators._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Input sizes; `tiny` runs every op and gate in seconds (the self-check).
  * Both keep 256-dimensional embeddings: fewer dimensions blur the planted
  * matches past what the gates accept.
  */
final case class Sizes(
    refs: Int, batch: Int, batches: Int,
    dedupDocs: Int, dedupSlices: Int,
    corpus: Int, appendBatch: Int, deletesPerOp: Int, queries: Int,
    searchRate: Double, setupReps: Int, dimIn: Int, dimOut: Int)

object Sizes {
  val full = Sizes(refs = 1000, batch = 250, batches = 6,
    dedupDocs = 1000, dedupSlices = 6,
    corpus = 1000, appendBatch = 50, deletesPerOp = 5, queries = 600,
    searchRate = 24.0, setupReps = 3, dimIn = 256, dimOut = 256)
  val tiny = Sizes(refs = 400, batch = 80, batches = 2,
    dedupDocs = 150, dedupSlices = 2,
    corpus = 200, appendBatch = 10, deletesPerOp = 2, queries = 60,
    searchRate = 16.0, setupReps = 1, dimIn = 256, dimOut = 256)
}

/** One correctness gate's outcome. */
final case class Gate(name: String, ok: Boolean, detail: String)

/** What the timed phase measured. `latMs` are the op latencies behind
  * `op_p50_ms`; `rows` and `rowsWallS` give `rows_per_s`.
  */
final case class Timed(latMs: Seq[Double], rows: Long, rowsWallS: Double,
    extra: Seq[(String, Double)] = Nil)

abstract class Workload(val spark: SparkSession, val seed: Long, val sz: Sizes,
    val work: java.nio.file.Path) {
  def name: String
  /** Per-layer op kinds, `<workload>.<op>`. */
  def kinds: Seq[String]
  /** One complete set-up: inputs, model artifact, indexes, sessions. */
  def setup(rep: Int): Unit
  /** Set-ups per run; `setup_s` reports their median. */
  def setupReps: Int = sz.setupReps
  /** Untimed ops so JIT compilation and lazy state settle before timing. */
  def warmup(p: Probe): Unit
  def timed(p: Probe, seconds: Double): Timed
  def gates(): Seq[Gate]

  protected def df(rows: Seq[Row], schema: StructType): DataFrame = Frames.df(spark, rows, schema)

  /** The seeded `LinearModel` artifact, written and loaded as a user would. */
  protected def model(rep: Int): ModelEmbedder = {
    val dir = work.resolve(s"$name-model-$rep").toString
    LinearModel.save(spark, dir, sz.dimIn, LinearModel.seeded(sz.dimIn, sz.dimOut, seed))
    ModelEmbedder.load(spark, dir)
  }

  /** Closed loop: `clients` threads each issue ops back to back; op `i` is
    * the i-th started. Ops stop starting once `seconds` have passed, at least
    * `minOps` have started and the count is a multiple of `round` (every run
    * then measures whole rounds of the same op mix), or at `maxOps`.
    */
  protected def closedLoop(p: Probe, seconds: Double, clients: Int, round: Int = 1,
      minOps: Int = 0, maxOps: Int = Int.MaxValue)(op: Int => Option[Long]): Timed = {
    val t0 = System.nanoTime()
    val end = t0 + (seconds * 1e9).toLong
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val limit = new java.util.concurrent.atomic.AtomicInteger(maxOps)
    val rows = new java.util.concurrent.atomic.AtomicLong(0)
    def admit(i: Int): Boolean = {
      if (System.nanoTime() >= end && i >= minOps)
        limit.accumulateAndGet((i + round - 1) / round * round, (a: Int, b: Int) => math.min(a, b))
      i < limit.get
    }
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (admit(i)) {
          rows.addAndGet(op(i).getOrElse(0L))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    Timed(p.finished.filterNot(_.failed).map(_.wallS * 1000), rows.get, wall)
  }
}

object Frames {
  def df(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)
}

/** One family of batch ops over seeded inputs. */
trait OpFamily {
  def kinds: Seq[String]
  def setup(emb: ModelEmbedder): Unit
  /** Runs the `round`-th op of `kind`; returns the input rows it processed. */
  def op(p: Probe, kind: String, round: Int): Option[Long]
  def gates(): Seq[Gate]
}

// ---------------------------------------------------------------------------
// batch: linkage and dedup jobs from concurrent clients
// ---------------------------------------------------------------------------

object Batch {
  /** Concurrent closed-loop clients: batch ops here are dominated by the
    * per-job scheduling floor, so one client would leave most cores idle
    * and yield too few ops per run for a steady median.
    */
  val Clients = 3
}

final class Batch(spark: SparkSession, seed: Long, sz: Sizes, work: java.nio.file.Path)
    extends Workload(spark, seed, sz, work) {
  val name = "batch"
  private val families = Seq(new LinkOps(spark, seed, sz), new DedupOps(spark, seed, sz))
  val kinds: Seq[String] = families.flatMap(_.kinds)

  def setup(rep: Int): Unit = {
    val emb = model(rep)
    families.foreach(_.setup(emb))
  }

  private def one(p: Probe, i: Int): Option[Long] = {
    val kind = kinds(i % kinds.size)
    families.find(_.kinds.contains(kind)).get.op(p, kind, i / kinds.size)
  }

  /** One full round: class loading, code generation and JIT compilation
    * keep speeding ops up through the first round of each kind.
    */
  def warmup(p: Probe): Unit = closedLoop(p, 3600, Batch.Clients, maxOps = kinds.size)(one(p, _))
  /** At least two rounds, so a slow run measures the same op mix as a fast
    * one; they continue from the warm-up round, so no input repeats.
    */
  def timed(p: Probe, seconds: Double): Timed =
    closedLoop(p, seconds, Batch.Clients, round = kinds.size, minOps = 2 * kinds.size)(
      i => one(p, i + kinds.size))
  def gates(): Seq[Gate] = families.flatMap(_.gates())
}

// ---------------------------------------------------------------------------
// link / link_wide
// ---------------------------------------------------------------------------

object LinkOps {
  val RefSchema: StructType = StructType(Seq(StructField("ref_id", LongType),
    StructField("name", StringType), StructField("state", StringType)))
  val MentionSchema: StructType = StructType(Seq(StructField("mention_id", LongType),
    StructField("name", StringType), StructField("state", StringType),
    StructField("true_ref", LongType)))
  val K = 5
  /** The `link_wide.knn` op's broadcast budget: a sixteenth of the
    * reference vectors' bytes, so the engine's own size check routes the
    * join to the partitioned path, also if vectors get packed narrower.
    */
  def wideBroadcastBytes(sz: Sizes): Long = sz.refs.toLong * sz.dimOut * 8 / 16
  /** Marks the partitioned kNN plan: the crossJoin's pairs reduced by the
    * engine's bounded top-k aggregate. The broadcast scan has no aggregate.
    */
  val PartitionedMarker = "graft_top_k"
  /** recall@1 floor of the kNN and blocking ops, fixed on the commit that
    * introduced the benchmark (kNN measured 0.87-0.91, blocking 0.97-0.99,
    * over ten seeds).
    */
  val RecallFloor = 0.80
}

/** Batch linkage. `link_wide.knn` is `link.knn` run from a session whose
  * broadcast budget the reference vectors exceed; both see the same batches
  * in turn, so their outputs can be compared row for row.
  */
final class LinkOps(spark: SparkSession, seed: Long, sz: Sizes) extends OpFamily {
  import LinkOps._
  val kinds: Seq[String] = Seq("link.knn", "link.range", "link.blocking", "link_wide.knn")

  private val wideSpark = {
    val s = spark.newSession()
    s.conf.set(VecScan.MaxBroadcastBytesKey, wideBroadcastBytes(sz))
    s
  }
  private var refs: DataFrame = _
  private var wideRefs: DataFrame = _
  private var batches: IndexedSeq[(DataFrame, DataFrame, IndexedSeq[LinkGen.Mention])] = _
  private var emb: ModelEmbedder = _
  private val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Array[Row])]
  // the first executed plan of each kNN kind, for the path gate
  private val plans = new ConcurrentHashMap[String, String]

  def setup(embedder: ModelEmbedder): Unit = {
    val refRows = LinkGen.references(seed, sz.refs).map(r => Row(r.id, r.name, r.state))
    refs = Frames.df(spark, refRows, RefSchema)
    wideRefs = Frames.df(wideSpark, refRows, RefSchema)
    batches = (0 until sz.batches).map { b =>
      val ms = LinkGen.mentions(seed, LinkGen.references(seed, sz.refs), b, sz.batch)
      val rows = ms.map(m => Row(m.id, m.name, m.state, m.trueRef))
      (Frames.df(spark, rows, MentionSchema), Frames.df(wideSpark, rows, MentionSchema), ms)
    }
    emb = embedder
  }

  private def run(kind: String, b: Int): DataFrame = {
    val (m, wm, _) = batches(b)
    kind match {
      case "link.knn" => SemanticJoin.mergeKnn(m, refs, leftOn = Seq("name"), rightOn = Seq("name"),
        embedder = emb, k = K)
      case "link_wide.knn" => SemanticJoin.mergeKnn(wm, wideRefs, leftOn = Seq("name"),
        rightOn = Seq("name"), embedder = emb, k = K)
      case "link.range" => SemanticJoin.mergeRange(m, refs, leftOn = Seq("name"),
        rightOn = Seq("name"), embedder = emb)
      case "link.blocking" => SemanticJoin.mergeBlocking(m, refs, Seq("state"),
        leftOn = Seq("name"), rightOn = Seq("name"), embedder = emb)
    }
  }

  def op(p: Probe, kind: String, round: Int): Option[Long] = {
    val b = round % batches.size
    var out: DataFrame = null
    val n = p.op(kind) { rec =>
      out = p.call(rec)(run(kind, b))
      results.add((kind, b, p.collect(rec, out)))
      sz.batch.toLong
    }
    if (n.isDefined && kind.endsWith(".knn"))
      plans.computeIfAbsent(kind, _ => out.queryExecution.executedPlan.toString)
    n
  }

  /** (rank-1 hits, matchable mentions, structural problems) of one result. */
  private def score(kind: String, b: Int, rows: Array[Row]): (Int, Int, Seq[String]) = {
    val truth = batches(b)._3.map(m => m.id -> m).toMap
    val bad = Seq.newBuilder[String]
    val withMention = rows.filter(r => !r.isNullAt(r.fieldIndex("mention_id")))
    val byMention = withMention.groupBy(_.getAs[Long]("mention_id"))
    def refOf(r: Row): Option[Long] =
      if (r.isNullAt(r.fieldIndex("ref_id"))) None else Some(r.getAs[Long]("ref_id"))
    kind match {
      case "link.knn" | "link_wide.knn" =>
        if (byMention.size != truth.size) bad += s"$kind: ${byMention.size}/${truth.size} mentions"
        if (byMention.exists(_._2.length != math.min(K, sz.refs))) bad += s"$kind: not $K rows per mention"
      case "link.range" =>
        if (byMention.size != truth.size) bad += s"$kind: ${byMention.size}/${truth.size} mentions"
        if (withMention.exists(r => !r.isNullAt(r.fieldIndex("score")) && r.getAs[Double]("score") < 0.7))
          bad += s"$kind: score below the threshold"
      case "link.blocking" =>
        if (withMention.exists(r => refOf(r).isDefined &&
            r.getAs[String]("state_x") != r.getAs[String]("state_y")))
          bad += s"$kind: match across blocks"
    }
    // rows arrive best-first per mention for knn; range keeps all matches
    val hits = truth.values.count { m =>
      m.trueRef >= 0 && byMention.get(m.id).exists { rs =>
        if (kind == "link.range") rs.exists(r => refOf(r).contains(m.trueRef))
        else refOf(rs.head).contains(m.trueRef)
      }
    }
    (hits, truth.values.count(_.trueRef >= 0), bad.result())
  }

  def gates(): Seq[Gate] = {
    val all = results.asScala.toSeq
    val scored = all.map { case (k, b, rows) => (k, score(k, b, rows)) }
    val structural = scored.flatMap(_._2._3)
    val recall = scored.groupBy(_._1).toSeq.sortBy(_._1).map { case (k, xs) =>
      val hits = xs.map(_._2._1).sum.toDouble
      val n = xs.map(_._2._2).sum
      (k, if (n == 0) 0.0 else hits / n)
    }
    val floors = recall.filterNot(_._1 == "link.range").map { case (k, r) =>
      Gate(s"$k recall@1 >= $RecallFloor", r >= RecallFloor, f"$r%.4f")
    }
    val rangeInfo = recall.filter(_._1 == "link.range").map { case (k, r) =>
      Gate(s"$k true match within threshold (recorded)", ok = true, f"$r%.4f")
    }
    // the partitioned path must return the broadcast path's rows and scores
    // bit for bit, for every batch both ran
    def byBatch(kind: String) = all.filter(_._1 == kind).map(x => x._2 -> x._3.map(_.toSeq)).toMap
    val (narrow, wide) = (byBatch("link.knn"), byBatch("link_wide.knn"))
    val common = narrow.keySet.intersect(wide.keySet).toSeq.sorted
    val differ = common.filterNot(b => narrow(b).sameElements(wide(b)))
    // the comparison means something only if the two ran different paths
    def partitioned(kind: String) = Option(plans.get(kind)).map(_.contains(PartitionedMarker))
    val paths = (partitioned("link.knn"), partitioned("link_wide.knn"))
    Seq(Gate("ops kept their output contract", structural.isEmpty, structural.take(3).mkString("; "))) ++
      floors ++ rangeInfo ++ Seq(
      Gate("link_wide.knn ran the partitioned top-k plan, link.knn the broadcast scan",
        paths == (Some(false), Some(true)), s"partitioned (link.knn, link_wide.knn) = $paths"),
      Gate("link_wide.knn rows == link.knn rows on the same batch", common.nonEmpty && differ.isEmpty,
        s"${common.size} batches compared, ${differ.size} differ"))
  }
}

// ---------------------------------------------------------------------------
// dedup
// ---------------------------------------------------------------------------

object DedupOps {
  val Schema: StructType = StructType(Seq(StructField("doc_id", LongType),
    StructField("text", StringType)))
  val DupShare = 0.3
  /** Planted-pair recall floors and the cross-cluster merge ceiling, fixed
    * on the commit that introduced the benchmark (ten seeds measured MinHash
    * recall 0.82-0.89, dedupRows recall 1.0, merges at most 0.02).
    */
  val MinhashRecallFloor = 0.75
  val RowsRecallFloor = 0.90
  val CrossMergeCeiling = 0.05
}

final class DedupOps(spark: SparkSession, seed: Long, sz: Sizes) extends OpFamily {
  import DedupOps._
  val kinds: Seq[String] = Seq("dedup.minhash", "dedup.rows")

  private var slices: IndexedSeq[(DataFrame, IndexedSeq[DocGen.Doc])] = _
  private var emb: ModelEmbedder = _
  private val results = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Array[Row])]

  def setup(embedder: ModelEmbedder): Unit = {
    val src = new DocGen.Source(seed)
    val r = new Rng(seed).fork(20)
    slices = (0 until sz.dedupSlices).map { s =>
      val docs = src.corpus(r.fork(s), sz.dedupDocs, DupShare, s.toLong * 1000000L)
      (Frames.df(spark, docs.map(d => Row(d.id, d.text)), Schema), docs)
    }
    emb = embedder
  }

  def op(p: Probe, kind: String, round: Int): Option[Long] = {
    // each op takes the next slice, so consecutive ops never repeat input
    val s = (round * kinds.size + kinds.indexOf(kind)) % slices.size
    p.op(kind) { rec =>
      val out = p.call(rec) {
        if (kind == "dedup.minhash") Dedup.minhashLsh(slices(s)._1, "doc_id", "text")
        else Clustering.dedupRows(slices(s)._1, Seq("text"), emb)
      }
      val rows = p.collect(rec, out)
      results.add((kind, s, rows))
      sz.dedupDocs.toLong
    }
  }

  /** (found, planted, cross-merged groups, groups) of one result. */
  private def score(kind: String, s: Int, rows: Array[Row]): (Long, Long, Int, Int) = {
    val docs = slices(s)._2
    val groupOf = docs.map(d => d.id -> d.group).toMap
    val groups = docs.groupBy(_.group)
    val planted = groups.values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    if (kind == "dedup.minhash") {
      val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
      val found = groups.values.map { g =>
        g.map(d => cluster.get(d.id)).groupBy(identity).collect {
          case (Some(_), xs) => xs.size.toLong * (xs.size - 1) / 2
        }.sum
      }.sum
      val groupsPerCluster = cluster.toSeq.groupBy(_._2).values
        .map(_.map(x => groupOf(x._1)).distinct)
      val crossed = groupsPerCluster.filter(_.size > 1).flatten.toSet.size
      (found, planted, crossed, groups.size)
    } else {
      // dedupRows keeps one row per found cluster: a planted cluster of c
      // docs should keep exactly one; a group keeping none was merged into
      // another group's cluster
      val kept = rows.map(_.getAs[Long]("doc_id")).groupBy(groupOf).map { case (g, xs) => g -> xs.length }
      val found = groups.map { case (g, ds) => (ds.size - math.max(kept.getOrElse(g, 0), 1)).toLong }.sum
      val dupSlots = groups.values.map(_.size - 1L).sum
      val crossed = groups.keys.count(g => !kept.contains(g))
      (found, dupSlots, crossed, groups.size)
    }
  }

  def gates(): Seq[Gate] = {
    val scored = results.asScala.toSeq.map { case (k, s, rows) => (k, score(k, s, rows)) }
    scored.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (k, xs) =>
      val recall = xs.map(_._2._1).sum.toDouble / math.max(1L, xs.map(_._2._2).sum)
      val cross = xs.map(_._2._3).sum.toDouble / math.max(1, xs.map(_._2._4).sum)
      val floor = if (k == "dedup.minhash") MinhashRecallFloor else RowsRecallFloor
      Seq(Gate(s"$k planted-duplicate recall >= $floor", recall >= floor, f"$recall%.4f"),
        Gate(s"$k cross-cluster merges <= $CrossMergeCeiling", cross <= CrossMergeCeiling,
          f"$cross%.4f"))
    }
  }
}

// ---------------------------------------------------------------------------
// serve
// ---------------------------------------------------------------------------

object Serve {
  val K = 10
  /** Compact on any append or delete, so every maintenance pass commits a
    * new generation the sessions must swap to.
    */
  val Policy: IndexMaintenance.Policy = IndexMaintenance.Policy(minhashMaxFanIn = 1,
    bm25MaxAppendFraction = 0.0, annMaxAppendFraction = 0.0, maxDeleteFraction = 0.0)
  val Workers = 2
  /** Write cycles per run, each append -> delete -> maintenance pass. */
  val Cycles = 1
  /** The bucket count `graft.Bench` serves with; the 64 default writes 64
    * files per generation for a corpus this size.
    */
  val Bm25Buckets = 16
  val QSchema: StructType = StructType(Seq(StructField("qid", LongType),
    StructField("text", StringType)))
  val VSchema: StructType = StructType(Seq(StructField("qid", LongType),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))
}

final class Serve(spark: SparkSession, seed: Long, sz: Sizes, work: java.nio.file.Path)
    extends Workload(spark, seed, sz, work) {
  import Serve._
  val name = "serve"
  val kinds: Seq[String] = Seq("bm25", "ann", "minhash", "append", "delete", "maintain")
    .map(k => s"serve.$k")
  // one cold set-up (three index builds, ~25 s) already costs half a run;
  // repeating it would not fit the benchmark's time budget
  override def setupReps: Int = 1

  private var root: java.nio.file.Path = _
  private def bmRoot = root.resolve("bm25").toString
  private def annRoot = root.resolve("ann").toString
  private def mhRoot = root.resolve("minhash").toString
  private var emb: ModelEmbedder = _
  private var corpus: IndexedSeq[DocGen.Doc] = _
  private var queries: IndexedSeq[DocGen.Query] = _
  private var qvec: Map[Long, Array[Double]] = _
  private var fresh: IndexedSeq[DocGen.Doc] = _
  private var deleteOrder: IndexedSeq[Long] = _
  private var sessBm: ServingSession[Lexical.Bm25Index] = _
  private var sessAnn: ServingSession[Ann.AnnIndex] = _
  private var sessMh: ServingSession[Dedup.MinHashIndex] = _
  // ground truth the writer leaves behind for the gates
  private val appended = new java.util.concurrent.ConcurrentLinkedQueue[DocGen.Doc]
  private val deleted = new java.util.concurrent.ConcurrentLinkedQueue[Long]

  private def closeSessions(): Unit =
    Seq(sessBm, sessAnn, sessMh).filter(_ != null).foreach(_.close())

  private def step[T](what: String)(f: => T): T = {
    val t = System.nanoTime()
    try f finally System.err.println(f"[perfbench] serve setup $what: ${(System.nanoTime() - t) / 1e9}%.2f s")
  }

  def setup(rep: Int): Unit = {
    closeSessions()
    root = work.resolve(s"serve-$rep")
    val src = new DocGen.Source(seed)
    val r = new Rng(seed).fork(30)
    corpus = src.corpus(r.fork(1), sz.corpus, 0.0, 0L)
    val docs = df(corpus.map(d => Row(d.id, d.text)), QSchema).toDF("doc_id", "text")
    emb = model(rep)
    // the three families build side by side, as one ingest job would
    val builds = Seq(
      () => step("bm25") {
        val (post, stats) = Lexical.bm25BuildIndex(docs, "doc_id", "text")
        Lexical.bm25WriteIndex(post, stats, IndexMaintenance.genPath(bmRoot, 0), nBuckets = Bm25Buckets)
      },
      () => step("ann") {
        val (cells, cents) = Ann.annBuildIndex(
          emb.embed(docs, "text", "vec").select("doc_id", "vec"), "doc_id", "vec")
        Ann.annWriteIndex(cells, cents, IndexMaintenance.genPath(annRoot, 0))
      },
      () => step("minhash")(Dedup.minhashWriteIndex(Dedup.minhashBuildIndex(docs, "doc_id", "text"),
        IndexMaintenance.genPath(mhRoot, 0))))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try builds.map(b => pool.submit(new java.util.concurrent.Callable[Unit] { def call(): Unit = b() }))
      .foreach(_.get())
    finally pool.shutdown()
    Seq(bmRoot, annRoot, mhRoot).foreach(IndexMaintenance.commitGeneration(spark, _, 0))
    queries = DocGen.queries(seed, src, corpus, sz.queries)
    qvec = embedTexts(queries.filter(_.family == "ann").map(q => q.id -> q.text))
    fresh = src.corpus(r.fork(2), sz.appendBatch * Cycles, 0.0, 10000000L)
    deleteOrder = {
      val ids = corpus.map(_.id).toArray
      val rr = r.fork(3)
      var k = ids.length - 1
      while (k > 0) { val m = rr.nextInt(k + 1); val t = ids(k); ids(k) = ids(m); ids(m) = t; k -= 1 }
      ids.toIndexedSeq.take(sz.deletesPerOp * Cycles)
    }
    step("sessions") {
      sessBm = ServingSession.bm25(spark, bmRoot)
      sessAnn = ServingSession.ann(spark, annRoot)
      sessMh = ServingSession.minhash(spark, mhRoot)
    }
  }

  private def embedTexts(texts: Seq[(Long, String)]): Map[Long, Array[Double]] =
    emb.embed(df(texts.map { case (i, t) => Row(i, t) }, QSchema), "text", "vec")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](2).toArray).toMap

  private def textDf(id: Long, text: String) = df(Seq(Row(id, text)), QSchema)
  private def vecDf(id: Long, v: Array[Double]) = df(Seq(Row(id, v.toSeq)), VSchema)

  private def searchDf(family: String, q: DocGen.Query, bm: Lexical.Bm25Index,
      an: Ann.AnnIndex, mh: Dedup.MinHashIndex): DataFrame = family match {
    case "bm25" => Lexical.bm25SearchIndex(bm, textDf(q.id, q.text), "qid", "text", k = K)
    case "ann" => Ann.annSearchIndex(an, vecDf(q.id, qvec(q.id)), "qid", "vec", k = K)
    case "minhash" => Dedup.minhashSearchIndex(mh, textDf(q.id, q.text), "qid", "text")
  }

  // generation first served per family, for the swap lag
  private val firstServed = new ConcurrentHashMap[(String, Int), java.lang.Long]
  private val commits = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]

  private def search(p: Probe, q: DocGen.Query): Option[Long] =
    p.op(s"serve.${q.family}") { rec =>
      val (g, out) = q.family match {
        case "bm25" =>
          val (g, i) = p.span(rec, "resolved")(sessBm.resolved)
          (g, p.call(rec)(searchDf("bm25", q, i, null, null)))
        case "ann" =>
          val (g, i) = p.span(rec, "resolved")(sessAnn.resolved)
          (g, p.call(rec)(searchDf("ann", q, null, i, null)))
        case "minhash" =>
          val (g, i) = p.span(rec, "resolved")(sessMh.resolved)
          (g, p.call(rec)(searchDf("minhash", q, null, null, i)))
      }
      firstServed.putIfAbsent((q.family, g), System.currentTimeMillis())
      p.collect(rec, out).length.toLong
    }

  def warmup(p: Probe): Unit = queries.take(60).foreach(search(p, _))

  private def idsDf(ids: Seq[Long]) = df(ids.map(i => Row(i, "")), QSchema).select("qid")

  private def append(p: Probe, k: Int): Option[Long] = p.op("serve.append") { rec =>
    val docs = fresh.slice(k * sz.appendBatch, (k + 1) * sz.appendBatch)
    val batch = df(docs.map(d => Row(d.id, d.text)), QSchema).toDF("doc_id", "text")
    p.call(rec) {
      Lexical.bm25AppendIndex(spark, IndexMaintenance.currentPath(spark, bmRoot), batch,
        "doc_id", "text", s"b$k")
      Ann.annAppendIndex(spark, IndexMaintenance.currentPath(spark, annRoot),
        emb.embed(batch, "text", "vec").select("doc_id", "vec"), "doc_id", "vec", s"b$k")
      Dedup.minhashAppendIndex(spark, IndexMaintenance.currentPath(spark, mhRoot), batch,
        "doc_id", "text", s"b$k")
    }
    docs.foreach(appended.add)
    docs.length.toLong
  }

  private def delete(p: Probe, k: Int): Option[Long] = p.op("serve.delete") { rec =>
    val ids = deleteOrder.slice(k * sz.deletesPerOp, (k + 1) * sz.deletesPerOp)
    p.call(rec) {
      Lexical.bm25DeleteFromIndex(spark, IndexMaintenance.currentPath(spark, bmRoot),
        idsDf(ids), "qid", s"d$k")
      Ann.annDeleteFromIndex(spark, IndexMaintenance.currentPath(spark, annRoot),
        idsDf(ids), "qid", s"d$k")
      Dedup.minhashDeleteFromIndex(spark, IndexMaintenance.currentPath(spark, mhRoot),
        idsDf(ids), "qid", s"d$k")
    }
    ids.foreach(deleted.add)
    ids.length.toLong
  }

  private def maintain(p: Probe): Option[Long] = p.op("serve.maintain") { rec =>
    val events = p.call(rec)(IndexMaintenance.maintainIndexes(spark, minhashRoot = Some(mhRoot),
      bm25Root = Some(bmRoot), annRoot = Some(annRoot), policy = Policy))
    events.filter(e => e.genAfter > e.genBefore).foreach(e => commits.add((e.index, e.genAfter, e.at)))
    events.size.toLong
  }

  def timed(p: Probe, seconds: Double): Timed = {
    val t0 = System.nanoTime()
    val endNs = t0 + (seconds * 1e9).toLong
    def sleepUntil(t: Long): Unit = { val d = t - System.nanoTime(); if (d > 0) TimeUnit.NANOSECONDS.sleep(d) }
    // searchRate 0: closed loop, the workers' capacity; a one-slot queue
    // keeps the next search ready without building a backlog
    val closed = sz.searchRate <= 0
    val queue = new LinkedBlockingQueue[Option[(Long, DocGen.Query)]](if (closed) 1 else Int.MaxValue)
    val lat = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    val late = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]
    val periodNs = if (closed) 0L else (1e9 / sz.searchRate).toLong
    val lastDone = new java.util.concurrent.atomic.AtomicLong(t0)
    // open loop: searches are due on a fixed schedule whatever the backlog
    val writerDoneNs = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
    // searches keep coming until a second after the writer's last op, so
    // the sessions' swap to its generation happens under load
    val generator = new Thread(() => {
      var i = 0L
      var due = t0
      def writerBusy = { val d = writerDoneNs.get(); d == Long.MaxValue || due < d + 1000000000L }
      while (due < endNs || writerBusy) {
        sleepUntil(due)
        late.add((System.nanoTime() - due) / 1e6)
        queue.put(Some((due, queries((i % queries.size).toInt))))
        i += 1
        due = if (closed) System.nanoTime() else t0 + i * periodNs
      }
      (0 until Workers).foreach(_ => queue.put(None))
    }, "perfbench-generator")
    val workers = (0 until Workers).map { w =>
      new Thread(() => {
        var next = queue.take()
        while (next.isDefined) {
          val (due, q) = next.get
          if (search(p, q).isDefined) {
            val done = System.nanoTime()
            lat.add((done - due) / 1e6)
            lastDone.accumulateAndGet(done, (a: Long, b: Long) => math.max(a, b))
          }
          next = queue.take()
        }
      }, s"perfbench-search-$w")
    }
    // a late op delays the ones after it, never skips them
    val writer = new Thread(() => {
      val events = (0 until Cycles).flatMap { k =>
        val at = k * seconds / Cycles
        Seq((at + 0.05 * seconds, () => append(p, k)),
          (at + 0.2 * seconds, () => delete(p, k)),
          (at + 0.35 * seconds, () => maintain(p)))
      }
      try events.foreach { case (at, act) => sleepUntil(t0 + (at * 1e9).toLong); act() }
      finally writerDoneNs.set(System.nanoTime())
    }, "perfbench-writer")
    (Seq(generator, writer) ++ workers).foreach(_.start())
    (Seq(generator, writer) ++ workers).foreach(_.join())
    val ops = p.finished.filterNot(_.failed)
    val writes = ops.filter(o => o.kind == "serve.append" || o.kind == "serve.delete")
    val searchOps = ops.filter(o => Seq("serve.bm25", "serve.ann", "serve.minhash").contains(o.kind))
    val lags = commits.asScala.toSeq.flatMap { case (fam, g, at) =>
      Option(firstServed.get((fam, g))).map(f => math.max(0L, f - at) / 1000.0)
    }
    val latMs = lat.asScala.toSeq.map(_.doubleValue)
    val resolveS = searchOps.flatMap(_.spans.find(_.name == "resolved"))
      .map(s => (s.endNs - s.startNs) / 1e9)
    // rows_per_s: searches answered per second at the offered rate; it
    // falls below the rate only when a backlog builds
    Timed(latMs, latMs.size.toLong, (lastDone.get - t0) / 1e9, Seq(
      // p95: the highest percentile with ten samples beyond it at this rate
      "serve.search_p95_ms" -> Stats.quantile(latMs, 0.95),
      "serve.searches" -> latMs.size.toDouble,
      "serve.write_p50_s" -> Stats.median(writes.map(_.wallS)),
      "serve.resident_mb" -> Resident.residentBytes / 1048576.0,
      "serve.generator_late_ms" -> Stats.quantile(late.asScala.toSeq.map(_.doubleValue), 0.99),
      "serve.swap_lag_s" -> Stats.median(lags),
      "serve.resolve_s" -> Stats.median(resolveS)))
  }

  /** Row sets compared order-free: searches tie-break inside the engine,
    * but collect order is not part of the contract.
    */
  private def rowSet(d: DataFrame): Seq[String] = d.collect().map(_.toString).sorted.toSeq

  private def hitIds(d: DataFrame): Set[Long] = {
    val c = Seq("doc_id", "right_id", "corpus_id", "id").find(d.columns.contains)
      .getOrElse(sys.error(s"no result id column in ${d.columns.mkString(",")}"))
    d.select(c).collect().map(_.getLong(0)).toSet
  }

  def gates(): Seq[Gate] = {
    // the writer's last op was a maintenance pass, so the sessions swap to a
    // generation holding every write and must answer like fresh opens of it
    val (_, bm) = sessBm.resolved
    val (_, an) = sessAnn.resolved
    val (_, mh) = sessMh.resolved
    val fbm = Lexical.bm25OpenIndex(spark, IndexMaintenance.currentPath(spark, bmRoot))
    val fan = Ann.annOpenIndex(spark, IndexMaintenance.currentPath(spark, annRoot))
    val fmh = Dedup.minhashOpenIndex(spark, IndexMaintenance.currentPath(spark, mhRoot))
    val sample = Seq("bm25", "ann", "minhash").flatMap(f => queries.filter(_.family == f).take(4))
    val parity = sample.filterNot(q => rowSet(searchDf(q.family, q, bm, an, mh)) ==
      rowSet(searchDf(q.family, q, fbm, fan, fmh)))
    // probes: the doc's own text (bm25, minhash) and its own vector (ann)
    val added = appended.asScala.toSeq.take(3)
    val gone = deleted.asScala.toSeq.take(3)
    val byId = (corpus ++ added).map(d => d.id -> d.text).toMap
    val probeVec = embedTexts((added.map(_.id) ++ gone).map(i => i -> byId(i)))
    def hits(id: Long): Map[String, Boolean] = {
      val q = DocGen.Query(id, "", byId(id), long = true)
      Map("bm25" -> hitIds(Lexical.bm25SearchIndex(bm, textDf(id, q.text), "qid", "text", k = K)),
        "ann" -> hitIds(Ann.annSearchIndex(an, vecDf(id, probeVec(id)), "qid", "vec", k = K)),
        "minhash" -> hitIds(Dedup.minhashSearchIndex(mh, textDf(id, q.text), "qid", "text")))
        .map { case (f, ids) => f -> ids.contains(id) }
    }
    val missing = added.flatMap(d => hits(d.id).collect { case (f, false) => s"$f:${d.id}" })
    val resurrected = gone.flatMap(i => hits(i).collect { case (f, true) => s"$f:$i" })
    closeSessions()
    Seq(
      Gate("session search == fresh open of the final generation", parity.isEmpty,
        s"${parity.size}/${sample.size} differ"),
      Gate("appended documents are found", added.nonEmpty && missing.isEmpty,
        s"${added.size} probed; missing ${missing.mkString(",")}"),
      Gate("deleted ids are absent", gone.nonEmpty && resurrected.isEmpty,
        s"${gone.size} probed; present ${resurrected.mkString(",")}"))
  }
}
