package graft

import graft.search._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Residual IVFPQ contracts: the IP decomposition identity the scoring
  * relies on (⟨q,x⟩ = ⟨q,c_l⟩ + ⟨q,x−c_l⟩, exactly), encode determinism,
  * exactness of the refined path at full probe width, and the quantization
  * error / recall comparison against the plain (raw-encoded) composition
  * at the identical code budget.
  */
class ResidualPqSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)
  private val q0 = QueryVectors.qvec(0)
  private val k = 10
  private lazy val ivf = Ivf.build(emb, nlist = 16)
  private lazy val model = IvfPqRes.build(ivf)

  test("IP decomposition is exact: <q,x> == <q,c_l> + <q,x-c_l>") {
    val rows = ivf.indexed.limit(20)
      .select(col("embedding"), col("list_id").cast("int"))
      .as[(Array[Float], Int)].collect()
    rows.foreach { case (x, l) =>
      val c = ivf.centroids(l)
      // double math throughout — the scoring path also subtracts in double
      // (PqEncodeResidual casts before the subtraction)
      val direct = x.indices.map(i => q0(i).toDouble * x(i)).sum
      val viaResidual = x.indices.map(i => q0(i).toDouble * c(i)).sum +
        x.indices.map(i => q0(i).toDouble * (x(i).toDouble - c(i).toDouble)).sum
      assert(math.abs(direct - viaResidual) < 1e-9)
    }
  }

  test("residual quantization error beats raw-PQ error on a clustered corpus at a scarce budget") {
    // The mechanism test, on geometry where the theory is unambiguous:
    // well-separated cluster centers + small noise, and a code budget far
    // too scarce to memorize (k=8 codes per subspace for 64 clusters).
    // Raw PQ must spend its codes spanning the center spread; residual PQ
    // only quantizes the noise ball. On the sf0.001 testdata with k=256
    // codes for 500 vectors both quantizers near-memorize and the
    // comparison is a coin flip (measured ~0.107 vs ~0.106) — that is not
    // a property worth pinning. This one is.
    val dim = 16
    val rng = new scala.util.Random(11)
    val centers = Array.fill(64)(Array.fill(dim)((rng.nextDouble() * 10 - 5).toFloat))
    val rows = (0 until 2000).map { i =>
      val c = centers(i % centers.length)
      (i.toLong, c.map(x => x + (rng.nextDouble() * 0.6 - 0.3).toFloat), i % 3)
    }
    val df = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val civf = Ivf.build(df, nlist = 64)
    val res = IvfPqRes.build(civf, kCodes = 8)
    val raw = Pq.build(df, kCodes = 8)
    def decodeRes(codes: Array[Int], l: Int): Array[Float] = {
      val c = civf.centroids(l)
      val out = c.clone()
      for (s <- 0 until res.m; i <- 0 until res.dsub)
        out(s * res.dsub + i) += res.codebook(s)(codes(s))(i)
      out
    }
    def decodeRaw(codes: Array[Int]): Array[Float] = {
      val out = new Array[Float](raw.m * raw.dsub)
      for (s <- 0 until raw.m; i <- 0 until raw.dsub)
        out(s * raw.dsub + i) = raw.codebook(s)(codes(s))(i)
      out
    }
    val resRows = res.coded.join(df, "vec_id")
      .select(col("embedding"), col("list_id").cast("int"), col("pq_codes"))
      .as[(Array[Float], Int, Array[Int])].collect()
    val rawRows = raw.codes.join(df, "vec_id")
      .select(col("embedding"), col("pq_codes"))
      .as[(Array[Float], Array[Int])].collect()
    def mse(pairs: Seq[(Array[Float], Array[Float])]): Double =
      pairs.map { case (a, b) =>
        a.indices.map(i => math.pow(a(i).toDouble - b(i), 2)).sum
      }.sum / pairs.length
    val resMse = mse(resRows.toSeq.map { case (x, l, cd) => (x, decodeRes(cd, l)) })
    val rawMse = mse(rawRows.toSeq.map { case (x, cd) => (x, decodeRaw(cd)) })
    info(s"fine-quantizer MSE at k=8 on 64 clusters — residual $resMse, raw $rawMse")
    assert(resMse < rawMse / 2,
      s"residual MSE $resMse not clearly below raw $rawMse on clustered geometry")
  }

  test("refined search at full probe width and full shortlist is exact") {
    val n = emb.count().toInt
    val got = model.search(q0, nprobe = ivf.centroids.length, k = k, shortlist = n)
      .select("vec_id").as[Long].collect()
    val want = VectorSearch.topK(emb, q0, k).select("vec_id").as[Long].collect()
    assert(got.sameElements(want))
  }

  test("encode is deterministic and within code range") {
    val a = model.coded.select(col("pq_codes")).as[Array[Int]].collect()
    val b = IvfPqRes.build(ivf).coded.select(col("pq_codes")).as[Array[Int]].collect()
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => x.sameElements(y) })
    assert(a.forall(_.forall(c => c >= 0 && c < model.kCodes)))
  }

  test("persist/reload round-trip: identical codes, codebook, and search results") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqres-spec").toString
    IvfPqRes.write(model, dir)
    val back = IvfPqRes.load(spark, dir, ivf)
    assert(back.m == model.m && back.dsub == model.dsub && back.kCodes == model.kCodes)
    assert(back.codebook.zip(model.codebook).forall { case (a, b) =>
      a.zip(b).forall { case (x, y) => x.sameElements(y) } })
    val a = model.coded.orderBy("vec_id")
      .select(col("pq_codes")).as[Array[Int]].collect()
    val b = back.coded.orderBy("vec_id")
      .select(col("pq_codes")).as[Array[Int]].collect()
    assert(a.length == b.length && a.zip(b).forall { case (x, y) => x.sameElements(y) })
    val s1 = model.search(q0, 8, k).select("vec_id").as[Long].collect().toSeq
    val s2 = back.search(q0, 8, k).select("vec_id").as[Long].collect().toSeq
    assert(s1 == s2)
  }

  test("residual searchMany (one pruned scan) equals per-query search") {
    val qs = QueryVectors.batch(4)
    val got = model.searchMany(qs, nprobe = 12, k = k, shortlist = 100)
      .select("qid", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val want = qs.flatMap { case (qid, v) =>
      model.search(v, nprobe = 12, k = k, shortlist = 100)
        .as[(Long, Double)].collect()
        .map { case (id, s) => (qid, id, s) }
    }.toSet
    assert(got == want)
  }

  test("residual ADC recall is not materially below plain-composition ADC recall") {
    val plainPq = Pq.build(emb)
    val plain = IvfPq.compose(ivf, plainPq)
    val exact = VectorSearch.topK(emb, q0, k)
      .select(lit(0L).as("qid"), col("vec_id"))
    def recall(df: org.apache.spark.sql.DataFrame): Double =
      VectorSearch.recallAtK(df.select(lit(0L).as("qid"), col("vec_id")), exact, k)
        .select("recall").as[Double].first()
    val rRes = recall(model.searchNoRefine(q0, 32, k))
    val rPlain = recall(plain.searchNoRefine(q0, 32, k))
    val rResRefined = recall(model.search(q0, 32, k, 100))
    info(s"recall@10 nprobe=32 — residual-adc $rRes, plain-adc $rPlain, residual+refine $rResRefined")
    assert(rRes >= rPlain - 0.2, s"residual adc recall $rRes far below plain $rPlain")
    assert(rResRefined >= 0.8, s"refined recall $rResRefined below floor")
  }

  test("list sizes belong to the model: two models under one corpus key report their own") {
    // a corpus key alone cannot name list sizes: a regenerated corpus under
    // the same key is a different model with different lists
    val half = IvfPqRes.build(Ivf.build(emb.where(col("vec_id") % 2 === 0), nlist = 8))
    Seq(model -> emb.count(), half -> emb.where(col("vec_id") % 2 === 0).count())
      .foreach { case (m, n) =>
        val want = m.coded.groupBy(col("list_id").cast("int")).count()
          .as[(Int, Long)].collect().toMap
        assert(m.listSizes == want && m.listSizes.values.sum == n)
      }
  }
}
