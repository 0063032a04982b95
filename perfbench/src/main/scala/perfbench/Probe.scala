package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One span of a traced op: `parent` indexes the op's span list (-1 = root). */
final case class Span(name: String, parent: Int, startNs: Long, var endNs: Long)

/** One timed call into the engine. */
final class OpRec(val id: Long, val kind: String) {
  def group: String = s"${Probe.GroupPrefix}$id"
  var startNs = 0L
  var endNs = 0L
  var analysisS = 0.0
  var planS = 0.0
  var failed = false
  val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def wallS: Double = (endNs - startNs) / 1e9

  private[perfbench] def push(name: String, t: Long): Unit = {
    spans += Span(name, open.headOption.getOrElse(-1), t, 0L)
    open = (spans.length - 1) :: open
  }
  private[perfbench] def pop(t: Long): Unit = { spans(open.head).endNs = t; open = open.tail }

  /** Each span's duration minus the part its children cover. */
  def selfTimes: Seq[(String, Double)] = spans.indices.map { i =>
    val kids = spans.iterator.filter(_.parent == i).map(s => s.endNs - s.startNs).sum
    (spans(i).name, (spans(i).endNs - spans(i).startNs - kids) / 1e9)
  }
}

/** Jobs, tasks, task time, GC and shuffle bytes per job group. Jobs whose
  * group is not one of the benchmark's op groups count as `unattributed`.
  */
final class JobTally extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong
    val tasks = new AtomicLong
    val taskMs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val intervals = new ConcurrentLinkedQueue[(Long, Long)]
  }
  val groups = new ConcurrentHashMap[String, Acc]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]

  def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)

  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Probe.GroupPrefix)).getOrElse(Probe.Unattributed)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = groupOf(e.properties)
    jobStart.put(e.jobId, (g, e.time))
    e.stageIds.foreach(stageGroup.put(_, g))
    acc(g).jobs.incrementAndGet()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (g, t0) => acc(g).intervals.add((t0, e.time)) }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageId, Probe.Unattributed))
    a.tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      a.taskMs.addAndGet(m.executorRunTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten +
        m.shuffleReadMetrics.totalBytesRead)
    }
  }

  /** Length of the union of a group's job intervals, in seconds. */
  def jobSeconds(g: String): Double = {
    val iv = Option(groups.get(g)).map(_.intervals.asScala.toSeq.sortBy(_._1)).getOrElse(Nil)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}

/** Times ops; with tracing on it also records spans and attributes Spark
  * jobs to ops through a per-op job group set on the calling thread.
  */
final class Probe(spark: SparkSession, val tracing: Boolean) {
  private val seq = new AtomicLong
  val ops = new ConcurrentLinkedQueue[OpRec]
  /** Time spent inside span bookkeeping, the tracer's own cost. */
  val bookkeepingNs = new AtomicLong
  val tally: Option[JobTally] =
    if (!tracing) None
    else { val t = new JobTally; spark.sparkContext.addSparkListener(t); Some(t) }

  /** Runs `body` as one op of `kind`; a throw marks the op failed. */
  def op[T](kind: String)(body: OpRec => T): Option[T] = {
    val rec = new OpRec(seq.incrementAndGet(), kind)
    val sc = spark.sparkContext
    if (tracing) sc.setJobGroup(rec.group, kind, interruptOnCancel = false)
    rec.startNs = System.nanoTime()
    if (tracing) rec.push("op", rec.startNs)
    val out =
      try Some(body(rec))
      catch {
        case NonFatal(e) =>
          rec.failed = true
          System.err.println(s"[perfbench] op ${rec.kind} failed: $e")
          None
      }
    rec.endNs = System.nanoTime()
    if (tracing) { rec.pop(rec.endNs); sc.clearJobGroup() }
    ops.add(rec)
    out
  }

  def span[T](rec: OpRec, name: String)(body: => T): T =
    if (!tracing) body
    else {
      val t0 = System.nanoTime()
      rec.push(name, t0)
      bookkeepingNs.addAndGet(System.nanoTime() - t0)
      try body
      finally {
        val t1 = System.nanoTime()
        rec.pop(t1)
        bookkeepingNs.addAndGet(System.nanoTime() - t1)
      }
    }

  /** The op's engine call, which builds the DataFrame (eager checkpoints
    * and embedding jobs inside the operator run here).
    */
  def call[T](rec: OpRec)(body: => T): T = span(rec, "call")(body)

  /** `collect()` plus the collected plan's analysis and planning phases. */
  def collect(rec: OpRec, df: DataFrame): Array[Row] = {
    val rows = span(rec, "collect")(df.collect())
    if (tracing) {
      val ph = df.queryExecution.tracker.phases
      rec.analysisS = ph.get("analysis").map(_.durationMs / 1000.0).getOrElse(0.0)
      rec.planS = Seq("optimization", "planning").flatMap(ph.get).map(_.durationMs).sum / 1000.0
    }
    rows
  }

  def finished: Seq[OpRec] = ops.asScala.toSeq.sortBy(_.id)

  /** Per-layer fields for each op kind: the median over that kind's ops. */
  def layerFields(kinds: Seq[String]): Seq[(String, Double)] = {
    tally.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    val byKind = finished.filterNot(_.failed).groupBy(_.kind)
    kinds.flatMap { k =>
      val recs = byKind.getOrElse(k, Nil)
      def med(f: OpRec => Double) = Stats.median(recs.map(f))
      def acc(r: OpRec) = tally.map(_.acc(r.group))
      def jobS(r: OpRec) = tally.map(_.jobSeconds(r.group)).getOrElse(0.0)
      Seq(
        s"$k.wall_s" -> med(_.wallS),
        s"$k.analysis_s" -> med(_.analysisS),
        s"$k.plan_s" -> med(_.planS),
        s"$k.job_s" -> med(jobS),
        s"$k.driver_gap_s" -> med(r => math.max(0.0, r.wallS - jobS(r))),
        s"$k.jobs" -> med(r => acc(r).map(_.jobs.get.toDouble).getOrElse(0.0)),
        s"$k.tasks" -> med(r => acc(r).map(_.tasks.get.toDouble).getOrElse(0.0)),
        s"$k.task_s" -> med(r => acc(r).map(_.taskMs.get / 1000.0).getOrElse(0.0)),
        s"$k.gc_ms" -> med(r => acc(r).map(_.gcMs.get.toDouble).getOrElse(0.0)),
        s"$k.shuffle_mb" -> med(r => acc(r).map(_.shuffleBytes.get / 1048576.0).getOrElse(0.0)))
    }
  }

  /** Jobs and task seconds no op's group claimed, per op of the run. */
  def unattributed: (Double, Double) = tally.map { t =>
    val a = t.acc(Probe.Unattributed)
    val n = math.max(1, ops.size)
    (a.jobs.get.toDouble / n, a.taskMs.get / 1000.0 / n)
  }.getOrElse((0.0, 0.0))

  /** Share of the traced ops' wall that no named span (`call`, `collect`,
    * `resolved`) covers: the root span's self time over all ops. The self
    * times of an op's spans sum to its wall by construction (the root span
    * is the op), so this is the check that the spans account for the op.
    */
  def uncoveredShare: Double = {
    val traced = finished.filter(_.spans.nonEmpty)
    val wall = traced.map(_.wallS).sum
    if (wall <= 0) 0.0 else traced.map(_.selfTimes.head._2).sum / wall
  }

  def writeTrace(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"ops\":[\n")
    sb ++= finished.filter(_.spans.nonEmpty).map { r =>
      val spans = r.spans.zip(r.selfTimes).map { case (s, (_, self)) =>
        s"""{"name":"${s.name}","parent":${s.parent},"start_ns":${s.startNs},""" +
          s""""end_ns":${s.endNs},"self_s":${Json.num(self)}}"""
      }.mkString("[", ",", "]")
      s"""{"op":${r.id},"kind":"${r.kind}","wall_s":${Json.num(r.wallS)},""" +
        s""""failed":${r.failed},"spans":$spans}"""
    }.mkString(",\n")
    sb ++= "\n]}\n"
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

object Probe {
  val GroupPrefix = "perfbench-op-"
  val Unattributed = "unattributed"
}

object Stats {
  /** Linear-interpolation quantile (numpy's default); NaN on no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
