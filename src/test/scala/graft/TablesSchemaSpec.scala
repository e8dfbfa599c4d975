package graft

import graft.search.Serving
import graft.sources.LocalArtifacts
import org.scalatest.funsuite.AnyFunSuite

/** `Tables.load` takes a changed table's schema from a data file's footer
  * on the driver ([[Serving.tableSchema]]) — and that schema is the plain
  * read's, for every fixture table as shipped (no Spark schema in the
  * footer: inferred) and as Spark rewrites it (footer schema, no job). */
class TablesSchemaSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("the footer schema is the plain read's schema for every fixture table") {
    val dir = java.nio.file.Files.createTempDirectory("tables-schema").toString
    try {
      for (name <- Tables.names) {
        val shipped = s"$sf/$name.parquet"
        assert(Serving.tableSchema(spark, shipped) == spark.read.parquet(shipped).schema, name)
        val rewritten = s"$dir/$name.parquet"
        spark.read.parquet(shipped).write.parquet(rewritten)
        assert(Serving.tableSchema(spark, rewritten) == spark.read.parquet(rewritten).schema, name)
        assert(Tables.load(spark, dir, name).schema == spark.read.parquet(rewritten).schema, name)
      }
    } finally LocalArtifacts.deleteRecursively(new java.io.File(dir))
  }

  test("a load after an append starts no job and reads the appended rows") {
    val dir = java.nio.file.Files.createTempDirectory("tables-append").toString
    try {
      Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.parquet(s"$dir/documents.parquet")
      assert(Tables.documents(spark, dir).count() == 2)
      Seq((3L, "c")).toDF("doc_id", "text").write.mode("append").parquet(s"$dir/documents.parquet")
      // the append moves the table's mtime past the memoized schema's
      new java.io.File(s"$dir/documents.parquet").setLastModified(System.currentTimeMillis() + 2000)
      val sc = spark.sparkContext
      sc.setJobGroup("tables-load", "a changed table's schema comes from a footer")
      val df = try Tables.documents(spark, dir) finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.drain(sc)
      assert(sc.statusTracker.getJobIdsForGroup("tables-load").isEmpty)
      assert(df.count() == 3)
    } finally LocalArtifacts.deleteRecursively(new java.io.File(dir))
  }
}
