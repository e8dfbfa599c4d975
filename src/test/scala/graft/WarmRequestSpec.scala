package graft

import graft.search._
import graft.sources.LocalArtifacts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A warm serving request compiles no class. Each request probes a
  * different list set (a different query vector), and the probe list
  * enters generated code by reference (InListByReference), so after one
  * warm-up every IVF-family request reuses the compiled classes — at
  * nprobe 8, where the optimizer keeps an `In`, and at 32, where it makes
  * an `InSet`; on a resident load and on an on-disk (zero-budget) one. */
class WarmRequestSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
  private lazy val ivf = Ivf.build(emb, nlist = 64, maxIter = 5)
  private lazy val pq = Pq.build(emb, m = 8, kCodes = 16)
  private val qs = QueryVectors.batch(4).map(_._2)

  private def requests(m: IvfModel, c: IvfPqModel, r: IvfPqResModel,
                       nprobe: Int): Seq[(String, Array[Float] => Any)] = Seq(
    "IvfModel.search" -> (q => m.search(q, nprobe, 10).collect()),
    "IvfModel.searchMany" -> (q => m.searchMany(Seq(0L -> q), nprobe, 10).collect()),
    "topKWithCount" -> (q => VectorSearch.topKWithCount(
      m.indexed.where(col("list_id").isin(m.probes(q, nprobe): _*)), q, 10)),
    "IvfPq.search" -> (q => c.search(q, nprobe, 10, shortlist = 40).collect()),
    "IvfPq.searchNoRefine" -> (q => c.searchNoRefine(q, nprobe, 10).collect()),
    "IvfPq.searchMany" -> (q => c.searchMany(Seq(0L -> q), nprobe, 10, shortlist = 40).collect()),
    "IvfPqRes.search" -> (q => r.search(q, nprobe, 10, shortlist = 40).collect()))

  test("a warm IVF, IVF-PQ or residual IVF-PQ request compiles no class") {
    val dir = java.nio.file.Files.createTempDirectory("warm-requests").toString
    try {
      ivf.write(s"$dir/ivf")
      IvfPq.write(IvfPq.compose(ivf, pq), s"$dir/ivfpq")
      IvfPqRes.write(IvfPqRes.build(ivf, m = 8, kCodes = 16), s"$dir/res")
      for (budget <- Seq(Serving.BudgetBytes, 0L)) {
        val m = Ivf.load(spark, s"$dir/ivf", budget)
        val c = IvfPq.load(spark, s"$dir/ivfpq", m, pq, budget)
        val r = IvfPqRes.load(spark, s"$dir/res", m, budget)
        for (nprobe <- Seq(8, 32)) {
          assert(qs.map(m.probes(_, nprobe).toSet).distinct.size == qs.size,
            "every request must probe a different list set")
          for ((name, run) <- requests(m, c, r, nprobe)) {
            run(qs.head)
            for (q <- qs.tail) {
              val n = Compiles.during(run(q))
              assert(n == 0, s"$name at nprobe $nprobe, budget $budget: $n classes compiled")
            }
          }
        }
      }
    } finally LocalArtifacts.deleteRecursively(new java.io.File(dir))
  }
}
