package graft

import org.apache.spark.sql.SparkSession

/** The one session every spec runs on: the entry points' settings, 4 cores. */
trait LocalSession {
  lazy val spark: SparkSession = GraftSession.local(4)
}
