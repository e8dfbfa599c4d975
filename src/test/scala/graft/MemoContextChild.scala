package graft

import org.apache.spark.sql.SparkSession

/** Child-JVM half of ArtifactStoreSpec's context-binding spec: memoizes
  * an index under one SparkContext, stops it, and checks that neither the
  * stopped context nor its successor is served the old entry. Prints
  * [[Ok]] on success; any failure exits non-zero with its stack trace.
  *
  * {{{ java -cp <test classpath> graft.MemoContextChild <sf dir to create> }}}
  */
object MemoContextChild {
  val Ok = "memo-context: ok"

  private def session(): SparkSession =
    graft.tools.Sessions.local("1").appName("memo-context").getOrCreate()

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val s1 = session()
    import s1.implicits._
    val rng = new scala.util.Random(7)
    (0 until 200).map(i => (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat), i % 5))
      .toDF("vec_id", "embedding", "label").repartition(2)
      .write.parquet(s"$dir/embeddings.parquet")
    val m1 = queries.VectorQueries.ivfModel(s1, dir)
    require(queries.VectorQueries.ivfModel(s1, dir) eq m1, "same live context: a memo hit")
    s1.stop()
    // the entry's own context is stopped: the caller gets an error, never m1
    val stopped = scala.util.Try(queries.VectorQueries.ivfModel(s1, dir))
    require(stopped.isFailure, s"a stopped context was served $stopped")
    val s2 = session()
    require(!(s2.sparkContext eq s1.sparkContext))
    val m2 = queries.VectorQueries.ivfModel(s2, dir)
    require(!(m2 eq m1), "a new context must reload, not reuse the stopped one's entry")
    require(m2.indexed.count() == 200, "the reloaded model serves under the new context")
    require(queries.VectorQueries.ivfModel(s2, dir) eq m2, "and is memoized again")
    s2.stop()
    println(Ok)
  }
}
