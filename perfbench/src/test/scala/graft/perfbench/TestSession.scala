package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One small local session shared by the benchmark's specs. */
object TestSession {
  lazy val spark: SparkSession = graft.core.Sessions.local(threads = 2, appName = "perfbench-test")
}
