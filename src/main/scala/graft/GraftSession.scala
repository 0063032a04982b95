package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The one local session every entry point and spec runs on, so `Verify`
  * checks the oracle under the settings `Bench` measures.
  */
object GraftSession {
  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the box. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = envCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // Spark's 128-key default turns every collect_list/typed aggregate with
      // >128 groups per partition into a SORT-based aggregate (TimSort showed
      // up in bm25's score-fold profile); spilling still bounds memory at the
      // raised threshold, so hash aggregation stays hash
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "262144")
      // size file splits for the deployment: at production scale the 128 MB
      // default yields full scan parallelism, but bench-scale parquet is
      // 1-25 MB per table — one task per scan on a 32-core box without this
      .config("spark.sql.files.maxPartitionBytes", "1048576")
      // AQE coalesces post-shuffle partitions by BYTES (1 MB floor by
      // default), but this engine's hot stages are CPU-dense per byte —
      // 5000 doc vectors coalesce to 2 partitions and a 25M-pair cosine
      // scan runs on 2 of 32 cores. A 64k floor keeps those stages
      // parallel at bench scale; production data clears the 1 MB floor
      // naturally, so this is the same small-input calibration as
      // maxPartitionBytes above (measured r5 on a quiet box: q_bm25
      // 2.19→1.63 s, q_dedup_rows_docs 2.27→1.53 s)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Warm up codegen, shuffle machinery and the parquet reader once, so the
    * first timed query measures steady-state execution, not JVM startup.
    */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).groupBy(col("id") % 10).count().collect()
    spark.read.parquet(s"$sfDir/region.parquet").count()
  }
}
