package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Load generator over the engine's public API.
  *
  * {{{
  *   Main --workload <batch|serve> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir>
  *   Main --selfcheck --seed <n> --work <dir>
  *   Main --workload serve --capacity ...   (searches closed loop)
  * }}}
  *
  * Prints one `PERFBENCH_RESULT {json}` line on stdout and exits 0 only when
  * every op succeeded and every correctness gate held.
  */
object Main {
  val Workloads = Seq("batch", "serve")

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toList)
    val selfcheck = opts.contains("selfcheck")
    val seed = opts.getOrElse("seed", "1").toLong
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val ok =
      try {
        if (selfcheck) SelfCheck.run(spark, seed, work)
        else {
          val name = opts("workload")
          require(Workloads.contains(name), s"unknown workload $name")
          val capacity = opts.contains("capacity")
          require(!capacity || name == "serve", "--capacity applies to serve only")
          runOne(spark, name, seed, opts("seconds").toDouble, opts.getOrElse("trace", "0") == "1",
            if (capacity) Sizes.full.copy(searchRate = 0) else Sizes.full, work, sessionS)
        }
      } catch {
        case NonFatal(e) => e.printStackTrace(); false
      } finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def parse(args: List[String]): Map[String, String] = args match {
    case (flag @ ("--selfcheck" | "--capacity")) :: rest => parse(rest) + (flag.drop(2) -> "")
    case k :: v :: rest if k.startsWith("--") => parse(rest) + (k.drop(2) -> v)
    case Nil => Map.empty
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  /** The session `graft.Bench` uses: every core, shuffle partitions = cores. */
  def session(work: Path): SparkSession = {
    val n = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      // scratch stays inside the benchmark's work directory
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def make(name: String, spark: SparkSession, seed: Long, sz: Sizes, work: Path): Workload =
    name match {
      case "batch" => new Batch(spark, seed, sz, work)
      case "serve" => new Serve(spark, seed, sz, work)
    }

  /** Used heap after full collections; the pauses let Spark's ContextCleaner
    * drop the broadcast and shuffle blocks whose handles the first
    * collection freed.
    */
  private def liveHeapMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Set-up (median of `setupReps`), warm-up, the timed phase, then gates. */
  def runOne(spark: SparkSession, name: String, seed: Long, seconds: Double, trace: Boolean,
      sz: Sizes, work: Path, sessionS: Double): Boolean = {
    val wl = make(name, spark, seed, sz, work.resolve(s"$name-$seed"))
    // a previous run's index generations must not leak into this one
    org.apache.commons.io.FileUtils.deleteDirectory(wl.work.toFile)
    Files.createDirectories(wl.work)
    val setups = (0 until wl.setupReps).map { rep =>
      val t = System.nanoTime(); wl.setup(rep); (System.nanoTime() - t) / 1e9
    }
    val t1 = System.nanoTime()
    wl.warmup(new Probe(spark, tracing = false))
    System.gc()
    val probe = new Probe(spark, trace)
    val t2 = System.nanoTime()
    val timed = wl.timed(probe, seconds)
    val t3 = System.nanoTime()
    val heapMb = liveHeapMb()
    val ops = probe.finished
    val failed = ops.count(_.failed)
    val gates =
      try wl.gates()
      catch { case NonFatal(e) => e.printStackTrace(); Seq(Gate("gates ran", ok = false, e.toString)) }
    val e2e = Seq(
      "setup_s" -> (sessionS + Stats.median(setups)),
      "op_p50_ms" -> Stats.median(timed.latMs),
      "rows_per_s" -> timed.rows / math.max(timed.rowsWallS, 1e-9),
      "live_heap_mb" -> heapMb)
    val layers =
      if (!trace) Nil
      else {
        val fields = probe.layerFields(wl.kinds)
        val (uJobs, uTask) = probe.unattributed
        val searches = ops.filter(o => Seq("serve.bm25", "serve.ann", "serve.minhash").contains(o.kind))
        val searchJobs = probe.tally.map(t => searches.map(o => t.acc(o.group).jobs.get).sum).getOrElse(0L)
        probe.writeTrace(work.resolve(s"trace-$name-$seed.json"))
        fields ++ timed.extra ++ Seq(
          "unattributed.jobs_per_op" -> uJobs,
          "unattributed.task_s_per_op" -> uTask,
          "trace.op_p50_ms" -> Stats.median(timed.latMs),
          "trace.bookkeeping_ms_per_op" -> probe.bookkeepingNs.get / 1e6 / math.max(1, ops.size),
          "trace.uncovered_share" -> probe.uncoveredShare) ++
          (if (searches.isEmpty) Nil
           else Seq("serve.jobs_per_search" -> searchJobs.toDouble / searches.size))
      }
    val allGates = gates ++
      (if (trace) Seq(Gate("named spans cover all but 1% of the traced ops' wall",
        probe.uncoveredShare <= 0.01, Json.num(probe.uncoveredShare))) else Nil)
    val correct = allGates.forall(_.ok)
    System.err.println(f"[perfbench] phases: warmup ${(t2 - t1) / 1e9}%.2f s, timed ${(t3 - t2) / 1e9}%.2f s," +
      f" gates ${(System.nanoTime() - t3) / 1e9}%.2f s")
    allGates.foreach(g => System.err.println(
      s"[perfbench] gate ${if (g.ok) "PASS" else "FAIL"}: ${g.name} (${g.detail})"))
    System.err.println(f"[perfbench] $name seed=$seed setups=${setups.map(s => f"$s%.2f").mkString(",")}" +
      f" session=$sessionS%.2f ops=${ops.size} failed=$failed")
    def obj(kv: Seq[(String, Double)]) =
      kv.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val gatesJson = allGates.map(g =>
      s"""{"name":${Json.str(g.name)},"ok":${g.ok},"detail":${Json.str(g.detail)}}""").mkString("[", ",", "]")
    println(s"""PERFBENCH_RESULT {"workload":${Json.str(name)},"seed":$seed,"correct":$correct,""" +
      s""""attempted":${ops.size},"failed":$failed,"e2e":${obj(e2e)},"layers":${obj(layers)},""" +
      s""""gates":$gatesJson,"ops":${ops.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, rs) =>
        s"${Json.str(k)}:${rs.map(r => Json.num(r.wallS)).mkString("[", ",", "]")}" }.mkString("{", ",", "}")}}""")
    correct && failed == 0 && ops.nonEmpty
  }
}
