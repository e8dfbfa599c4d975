package graft

import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.InLongList

/** Child-JVM half of RunHarnessSpec's CLI-session spec: opens the session
  * `RunHarness.main` runs in and checks that graft's extensions are
  * installed — the SQL functions resolve and a probed read's `IN` list
  * enters generated code by reference. Prints [[Ok]] on success; any
  * failure exits non-zero with its stack trace.
  *
  * {{{ java -cp <test classpath> graft.HarnessCliChild }}}
  */
object HarnessCliChild {
  val Ok = "harness-cli-session: ok"

  def main(args: Array[String]): Unit = {
    val spark = graft.harness.RunHarness.cliSession()
    val ext = spark.conf.get("spark.sql.extensions", "")
    require(ext == "graft.GraftExtensions", s"spark.sql.extensions = '$ext'")
    val dot = spark.sql("SELECT dot_f32(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT)))")
      .head().getDouble(0)
    require(dot == 6.0, s"dot_f32 = $dot")
    val probed = spark.range(100).where(col("id").isin(3L, 5L, 7L))
    val conds = probed.queryExecution.executedPlan.collect { case f: FilterExec => f.condition }
    require(conds.exists(_.exists(_.isInstanceOf[InLongList])), s"IN not by reference: $conds")
    require(probed.count() == 3)
    spark.stop()
    println(Ok)
  }
}
