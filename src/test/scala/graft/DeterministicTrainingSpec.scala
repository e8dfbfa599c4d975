package graft

import graft.search._
import graft.sources.LocalArtifacts
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The same rows written as two tables with different file counts, names
  * and row order train bit-identical quantizers: IVF centroids, PQ and
  * residual-PQ codebooks, SQ ranges — with the whole table as the
  * training set and with a bounded sample of it. */
class DeterministicTrainingSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  private def same(a: Array[Array[Float]], b: Array[Array[Float]]): Boolean =
    a.length == b.length && a.indices.forall(i => java.util.Arrays.equals(a(i), b(i)))

  test("Ivf, Pq, Sq and IvfPqRes train the same model whatever files hold the rows") {
    val dir = java.nio.file.Files.createTempDirectory("training-rows").toString
    try {
      val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      emb.orderBy("vec_id").coalesce(1).write.parquet(s"$dir/one")
      emb.orderBy(xxhash64(col("vec_id"))).repartition(3).write.parquet(s"$dir/three")
      val Seq(a, b) = Seq("one", "three").map(t => spark.read.parquet(s"$dir/$t"))
      assert(a.inputFiles.length == 1 && b.inputFiles.length == 3)
      for (cap <- Seq(100000L, 300L)) {
        val (ia, ib) = (Ivf.build(a, 8, maxIter = 5, maxTrainRows = cap),
          Ivf.build(b, 8, maxIter = 5, maxTrainRows = cap))
        assert(same(ia.centroids, ib.centroids), s"ivf, cap $cap")
        val (pa, pb) = (Pq.build(a, m = 8, kCodes = 16, maxTrainRows = cap),
          Pq.build(b, m = 8, kCodes = 16, maxTrainRows = cap))
        assert(pa.codebook.indices.forall(s => same(pa.codebook(s), pb.codebook(s))), s"pq, cap $cap")
        val (sa, sb) = (Sq.build(a, maxTrainRows = cap), Sq.build(b, maxTrainRows = cap))
        assert(java.util.Arrays.equals(sa.vmin, sb.vmin) && java.util.Arrays.equals(sa.delta, sb.delta),
          s"sq, cap $cap")
        val (ra, rb) = (IvfPqRes.build(ia, m = 8, kCodes = 16, maxTrainRows = cap),
          IvfPqRes.build(ib, m = 8, kCodes = 16, maxTrainRows = cap))
        assert(ra.codebook.indices.forall(s => same(ra.codebook(s), rb.codebook(s))), s"ivfpq_res, cap $cap")
      }
    } finally LocalArtifacts.deleteRecursively(new java.io.File(dir))
  }
}
