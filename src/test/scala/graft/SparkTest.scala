package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites — the single-sourced tool
  * config (graft.tools.Sessions) at test parallelism. */
object SparkTest {
  lazy val session: SparkSession = {
    val s = graft.tools.Sessions.local("4")
      .appName("graft-test")
      // reliable-mode Pin refuses a context that never deletes checkpoints
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
