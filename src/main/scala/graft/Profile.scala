package graft

import org.apache.spark.scheduler._

/** Diagnostic main: decomposes a query's wall time into DataFrame
  * construction (analysis), job execution, and between-job driver gaps
  * (planning/collect/scheduler latency), with per-job wall and task counts
  * and per-rep shuffle-write MB.
  * Runs on [[GraftSession]] with the same warm-up as [[Bench]], so walls are
  * comparable to the recorded bench numbers.
  *
  * Usage: `runMain graft.Profile <sfDir> <queryName> [reps]`
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <queryName> [reps]")
    val (sfDir, name) = (args(0), args(1))
    val reps = if (args.length > 2) args(2).toInt else 2
    val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
    val spark = GraftSession.local()

    final case class JobRec(id: Int, start: Long, var end: Long = 0L,
        var stages: Int = 0, var tasks: Int = 0, var shuffleBytes: Long = 0L,
        var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
    val order = java.util.Collections.synchronizedList(new java.util.ArrayList[Int])
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val r = JobRec(e.jobId, System.nanoTime())
        r.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
        jobs.put(e.jobId, r); order.add(e.jobId); ()
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = System.nanoTime()
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.getOrDefault(e.stageInfo.stageId, -1)
        val r = jobs.get(jid)
        if (r != null) {
          r.stages += 1; r.tasks += e.stageInfo.numTasks
          r.shuffleBytes += e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten
          if (e.stageInfo.numTasks > 1 || r.desc.isEmpty) r.desc = e.stageInfo.name
        }
      }
    })

    GraftSession.warm(spark, sfDir)

    (0 until reps).foreach { rep =>
      jobs.clear(); order.clear(); stageToJob.clear()
      System.gc(); Thread.sleep(50)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      val n = df.count()
      val t2 = System.nanoTime()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      // listener events are async; give them a beat before reading
      Thread.sleep(300)
      val wall = (t2 - t0) / 1e9
      val build = (t1 - t0) / 1e9
      import scala.jdk.CollectionConverters._
      val recs = order.asScala.flatMap(id => Option(jobs.get(id))).toVector
      val jobWall = recs.map(r => (r.end - r.start).max(0L)).sum / 1e9
      // gaps: wall minus the MERGED union of job [start,end] intervals
      // (advisor r15: queries that submit jobs concurrently — e.g.
      // q_resident_parity's four plan legs — make the naive sum exceed
      // wall and print negative gaps), minus DataFrame construction
      val covered = {
        val iv = recs.map(r => (r.start, r.end.max(r.start))).sortBy(_._1)
        var tot = 0L
        var curS = 0L
        var curE = -1L
        iv.foreach { case (s, e) =>
          if (curE < 0) { curS = s; curE = e }
          else if (s > curE) { tot += curE - curS; curS = s; curE = e }
          else curE = curE.max(e)
        }
        (tot + (if (curE < 0) 0L else curE - curS)) / 1e9
      }
      val gapTotal = wall - build - covered
      println(f"[$name rep$rep] wall=$wall%.3f build=$build%.3f " +
        f"jobs=${recs.size} jobWall=$jobWall%.3f covered=$covered%.3f " +
        f"gaps=$gapTotal%.3f shuffleMB=${recs.map(_.shuffleBytes).sum / 1e6}%.1f rows=$n")
      if (rep == reps - 1 || sys.env.contains("PROFILE_ALL_REPS")) {
        recs.foreach { r =>
          println(f"  job ${r.id}%4d ${(r.end - r.start) / 1e6}%8.1fms " +
            f"stages=${r.stages}%-3d tasks=${r.tasks}%-5d ${r.desc}")
        }
      }
    }
    spark.stop()
  }
}
