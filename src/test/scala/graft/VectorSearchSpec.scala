package graft

import graft.functions.VectorFunctions._
import graft.search._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Vector search contracts: expression correctness (codegen vs local math),
  * exact-operator semantics, and recall bounds for the approximate paths
  * (reference src/eval/metrics.py:13 compute_recall).
  */
class VectorSearchSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)
  private val q0 = QueryVectors.qvec(0)

  test("DotProductF32 matches local double-accumulated dot (codegen path)") {
    val rows = emb.limit(50)
      .select(col("vec_id"), col("embedding"),
        dot(col("embedding"), typedlit(q0.toSeq)).as("s"))
      .as[(Long, Array[Float], Double)].collect()
    rows.foreach { case (_, v, s) =>
      assert(math.abs(s - VecMath.dot(v, q0)) < 1e-12)
    }
  }

  test("L2NormF32: embeddings are unit-norm within 1e-3") {
    val bad = emb.select(l2Norm(col("embedding")).as("n"))
      .where(abs(col("n") - 1.0) > 0.001).count()
    assert(bad == 0)
  }

  test("topK matches a local brute-force oracle") {
    val got = VectorSearch.topK(emb, q0, 10).as[(Long, Double)].collect().toSeq
    val want = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => (id, VecMath.round6(VecMath.dot(v, q0))) }
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(got == want)
  }

  test("postFilterLadder == pre-filter topK when the max rung covers N") {
    // N=500 ≤ maxRung=1000, so the ladder must equal filter-then-topK.
    val pred = col("label").isin(0, 1, 2)
    val ladder = VectorSearch.postFilterLadder(emb, q0, pred, 10)
      .as[(Long, Double)].collect().toSeq
    val exact = VectorSearch.topK(emb, q0, 10, Some(pred))
      .as[(Long, Double)].collect().toSeq
    assert(ladder == exact)
  }

  test("postFilterLadder stops early when a low rung already has K survivors") {
    // selective-enough predicate: ladder picks rung 200 and still agrees
    // with the oracle on the survivors it returns
    val pred = col("vec_id") < 400
    val got = VectorSearch.postFilterLadder(emb, q0, pred, 5, Seq(200, 500, 1000))
      .as[(Long, Double)].collect().toSeq
    assert(got.size == 5)
    assert(got.forall(_._1 < 400))
  }

  test("knnJoin equals per-query topK") {
    val qs = QueryVectors.batch(3)
    val got = VectorSearch.knnJoin(emb, qs, 5)
      .select("qid", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val want = qs.flatMap { case (qid, v) =>
      VectorSearch.topK(emb, v, 5).as[(Long, Double)].collect()
        .map { case (id, s) => (qid, id, s) }
    }.toSet
    assert(got == want)
  }

  test("topKWithCount and knnJoin equal a brute-force reference over 4 partitions") {
    val (df, rows) = TopKFixture.corpus(spark)
    assert(df.rdd.getNumPartitions >= 3)
    val qs = TopKFixture.queries.zipWithIndex.map { case (q, i) => (i.toLong, q) }
    Seq[(Option[org.apache.spark.sql.Column], Int => Boolean)](
      (None, _ => true), (Some(col("label") < 3), _ < 3), (Some(lit(false)), _ => false)
    ).foreach { case (pred, allow) =>
      val src = pred.map(df.where).getOrElse(df)
      val kept = rows.count(r => allow(r._3)).toLong
      Seq(1, 10, 65, rows.size + 5).foreach { k =>
        def want(q: Array[Float]) =
          TopKFixture.brute(rows, q).filter(r => allow(r._3)).take(k).map(r => (r._1, r._2))
        qs.foreach { case (_, q) =>
          assert(VectorSearch.topKWithCount(df, q, k, pred) == ((want(q), kept)), s"$pred k=$k")
        }
        val got = VectorSearch.knnJoin(src, qs, k)
          .as[(Long, Int, Long, Double)].collect().toSeq
        val wantJoin = qs.flatMap { case (qid, q) =>
          want(q).zipWithIndex.map { case ((id, sc), r) => (qid, r + 1, id, sc) }
        }
        assert(got == wantJoin, s"knnJoin $pred k=$k")
      }
    }
  }

  test("k < 1 is refused on the driver, before any job") {
    val sc = spark.sparkContext
    sc.setJobGroup("vs-k0", "k < 1 must not start a job")
    try {
      val e1 = intercept[IllegalArgumentException](VectorSearch.topKWithCount(emb, q0, 0))
      assert(e1.getMessage.contains("k must be >= 1"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](
        VectorSearch.knnJoin(emb, QueryVectors.batch(2), 0))
      assert(e2.getMessage.contains("k must be >= 1"), e2.getMessage)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("vs-k0").isEmpty)
  }

  test("recallAtK is 1.0 on identical inputs, 0.0 on disjoint") {
    val a = Seq((0L, 1L), (0L, 2L)).toDF("qid", "vec_id")
    val b = Seq((0L, 3L), (0L, 4L)).toDF("qid", "vec_id")
    assert(VectorSearch.recallAtK(a, a, 2).as[(Long, Double)].head()._2 == 1.0)
    assert(VectorSearch.recallAtK(b, a, 2).as[(Long, Double)].head()._2 == 0.0)
  }

  test("IVF search recall@10 >= 0.8 over 4 queries (nprobe=12/16 lists)") {
    // synthetic gaussian embeddings barely cluster, so recall tracks the
    // probed fraction; real corpora do much better at low nprobe/nlist
    val model = Ivf.build(emb, nlist = 16)
    val qs = QueryVectors.batch(4)
    val perQ = qs.map { case (qid, v) =>
      (model.search(v, nprobe = 12, k = 10).withColumn("qid", lit(qid)),
       VectorSearch.topK(emb, v, 10).withColumn("qid", lit(qid)))
    }
    val recalls = VectorSearch
      .recallAtK(perQ.map(_._1).reduce(_ unionAll _), perQ.map(_._2).reduce(_ unionAll _), 10)
      .as[(Long, Double)].collect()
    assert(recalls.length == 4)
    val mean = recalls.map(_._2).sum / recalls.length
    assert(mean >= 0.8, s"mean IVF recall $mean < 0.8: ${recalls.mkString(",")}")
  }

  test("IVF searchMany (one pruned scan) equals per-query search") {
    val model = Ivf.build(emb, nlist = 16)
    val qs = QueryVectors.batch(4)
    val got = model.searchMany(qs, nprobe = 12, k = 10)
      .select("qid", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val want = qs.flatMap { case (qid, v) =>
      model.search(v, nprobe = 12, k = 10).as[(Long, Double)].collect()
        .map { case (id, s) => (qid, id, s) }
    }.toSet
    assert(got == want)
  }

  test("vec_ivf_portable (#303) pins the production gate-scale list geometry") {
    val n = Tables.rowCount(spark, "/root/testdata/sf0.01", "embeddings")
    assert(graft.queries.VectorQueries.IvfPortableNlist == Ivf.pickNlist(n),
      s"IvfPortableNlist must track pickNlist($n) so the twin certifies " +
        "the IVF machinery under the production index's own geometry")
  }

  test("vec_ivf_portable (#303): pinned-model searchMany equals per-query search") {
    // the twin's frozen quantizer through the same searchMany≡search
    // contract the trained models carry — the oracle hash-pass then
    // certifies the per-query path too
    val cents = graft.queries.VectorQueries.ivfPortableCentroids
    val m0 = graft.search.IvfModel(cents, null)
    val model = graft.search.IvfModel(cents, m0.assign(emb))
    val qs = QueryVectors.batch(4)
    val np = graft.queries.VectorQueries.IvfPortableNprobe
    val got = model.searchMany(qs, nprobe = np, k = 10)
      .select("qid", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val want = qs.flatMap { case (qid, v) =>
      model.search(v, nprobe = np, k = 10).as[(Long, Double)].collect()
        .map { case (id, s) => (qid, id, s) }
    }.toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("vec_pq_portable (#304): production subspace geometry, sane codes, deterministic") {
    // m×dsub is pinned to the production gate geometry (pickM at 64-d);
    // the codeword count is deliberately 64 (oracle-size bound, doc'd)
    assert(graft.search.Pq.pickM(64) == 8)
    val cb = graft.queries.VectorQueries.pqPortableCodebook
    assert(cb.length == 8 && cb.forall(_.length ==
      graft.queries.VectorQueries.PqPortableCodes) &&
      cb.forall(_.forall(_.length == 8)))
    val a = graft.queries.VectorQueries.vecPqPortable(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    val b = graft.queries.VectorQueries.vecPqPortable(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq).toSeq
    assert(a == b)
    assert(a.length == 10)
    // the frozen codebook must actually spread codes (a collapsed
    // subspace would make the ADC shortlist degenerate and the witness
    // vacuous) — every subspace uses >1 code over the corpus
    val model = graft.search.PqModel(8, 8,
      graft.queries.VectorQueries.PqPortableCodes, cb,
      emb.select(org.apache.spark.sql.functions.col("vec_id"),
        graft.search.Pq.encodeCol(cb, 8).as("pq_codes")), emb)
    val st = model.stats().collect().head
    assert(st.getAs[Long]("min_codes_used") > 1L)
  }

  test("vec_ivfpq_portable (#305): probing ALL lists degenerates to the PQ twin exactly") {
    // the composition contract: with every list probed, the IVF pruning
    // admits the whole code table and IvfPqModel.search must reproduce
    // PqModel.search bit-for-bit (same ADC ranking rule, same refine)
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, sf)
    val cents = graft.queries.VectorQueries.ivfPortableCentroids
    val cb = graft.queries.VectorQueries.pqPortableCodebook
    val kc = graft.queries.VectorQueries.PqPortableCodes
    val m0 = graft.search.IvfModel(cents, null)
    val ivfM = graft.search.IvfModel(cents, m0.assign(e))
    val pqM = graft.search.PqModel(8, 8, kc, cb,
      e.select(col("vec_id"), graft.search.Pq.encodeCol(cb, 8).as("pq_codes")), e)
    val q0 = QueryVectors.qvec(0)
    val composed = graft.search.IvfPq.compose(ivfM, pqM)
      .search(q0, nprobe = cents.length, k = 10, shortlist = 100)
      .collect().map(_.toSeq).toSeq
    val flat = pqM.search(q0, k = 10, shortlist = 100)
      .collect().map(_.toSeq).toSeq
    assert(composed == flat)
    assert(composed.length == 10)
  }

  test("vec_ivfpq_res_portable (#308): all lists + full shortlist recovers exact top-k") {
    // with every list probed and the shortlist the whole corpus, the
    // residual-ADC ranking only ORDERS the refine's input — the exact
    // refine must recover brute force bit-for-bit under the pinned model
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, sf)
    val n = e.count().toInt
    val cents = graft.queries.VectorQueries.ivfPortableCentroids
    val cb = graft.queries.VectorQueries.pqPortableCodebook
    val m0 = graft.search.IvfModel(cents, null)
    val ivfM = graft.search.IvfModel(cents, m0.assign(e))
    val coded = ivfM.indexed.select(col("vec_id"), col("list_id"),
      graft.functions.VectorFunctions.pqEncodeResidual(col("embedding"),
        col("list_id").cast("int"), cents, cb).as("pq_codes"))
    val model = graft.search.IvfPqResModel(ivfM, 8, 8,
      graft.queries.VectorQueries.PqPortableCodes, cb, coded, e)
    val q0 = QueryVectors.qvec(0)
    val got = model.search(q0, nprobe = cents.length, k = 10, shortlist = n)
      .collect().map(_.toSeq).toSeq
    val want = graft.search.VectorSearch.topK(e, q0, 10)
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }

  test("vec_sq_portable (#309): full shortlist recovers exact top-k; codes in range") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, sf)
    val n = e.count().toInt
    val dim = QueryVectors.Dim
    val vmin = Array.fill(dim)(graft.queries.VectorQueries.SqPortableVmin)
    val delta = Array.fill(dim)(graft.queries.VectorQueries.SqPortableDelta)
    val model = graft.search.SqModel(dim, vmin, delta,
      e.select(col("vec_id"),
        graft.functions.VectorFunctions.sqEncode(col("embedding"), vmin, delta)
          .as("sq_codes")), e)
    val q0 = QueryVectors.qvec(0)
    val got = model.search(q0, k = 10, shortlist = n).collect().map(_.toSeq).toSeq
    val want = graft.search.VectorSearch.topK(e, q0, 10).collect().map(_.toSeq).toSeq
    assert(got == want)
    // a unit-norm corpus never clamps under the pinned [-1, 1] range —
    // every byte stays strictly inside the code book's interior
    val codes = model.codes.select("sq_codes").collect()
      .flatMap(_.getAs[Array[Byte]](0)).map(_ & 0xFF)
    assert(codes.forall(c => c > 0 && c < 255),
      "unit coordinates must land strictly inside [1, 254]")
  }

  test("vec_lsh_portable (#310) IS vec_lsh_topk at gate scale (pickBits equality)") {
    val sf001 = "/root/testdata/sf0.01"
    val n = Tables.rowCount(spark, sf001, "embeddings")
    assert(graft.queries.VectorQueries.LshPortableBits ==
      graft.search.CosineLsh.pickBits(n),
      s"LshPortableBits must track pickBits($n)")
    val a = graft.queries.VectorQueries.vecLshPortable(spark, sf001)
      .collect().map(_.toSeq).toSeq
    val b = graft.queries.VectorQueries.vecLshTopK(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "same bits + same seed: the twin must be the production plan")
    assert(a.nonEmpty)
  }

  test("vec_recall_portable (#311): equals the local set-intersection metric") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val e = Tables.embeddings(spark, sf)
    val cents = graft.queries.VectorQueries.ivfPortableCentroids
    val m0 = graft.search.IvfModel(cents, null)
    val model = graft.search.IvfModel(cents, m0.assign(e))
    val np = graft.queries.VectorQueries.IvfPortableNprobe
    val qs = QueryVectors.batch(4)
    val pred = model.searchMany(qs, nprobe = np, k = 10)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, m) => q -> m.map(_._2).toSet }
    val truth = graft.search.VectorSearch.knnJoin(e, qs, 10)
      .select("qid", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, m) => q -> m.map(_._2).toSet }
    val want = truth.keys.toSeq.sorted.map(q =>
      (q, graft.search.VecMath.round6(
        pred.getOrElse(q, Set.empty).intersect(truth(q)).size / 10.0)))
    val got = graft.queries.VectorQueries.vecRecallPortable(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == want)
    // the dial must leave the metric non-trivial on the gate corpus —
    // all-1.0 recall would make the witness vacuous
    assert(got.exists(_._2 < 1.0))
  }

  test("IVFPQ searchMany (one pruned code scan) equals per-query search") {
    val ivf = Ivf.build(emb, nlist = 16)
    val model = IvfPq.compose(ivf, Pq.build(emb))
    val qs = QueryVectors.batch(4)
    val got = model.searchMany(qs, nprobe = 12, k = 10, shortlist = 100)
      .select("qid", "vec_id", "score").as[(Long, Long, Double)].collect().toSet
    val want = qs.flatMap { case (qid, v) =>
      model.search(v, nprobe = 12, k = 10, shortlist = 100)
        .as[(Long, Double)].collect()
        .map { case (id, s) => (qid, id, s) }
    }.toSet
    assert(got == want)
    // ranks are contiguous per query
    val ranks = model.searchMany(qs, nprobe = 12, k = 10, shortlist = 100)
      .select("qid", "rank").as[(Long, Int)].collect().toSeq
    ranks.groupBy(_._1).values.foreach { rs =>
      assert(rs.map(_._2).sorted == (1 to rs.length).toSeq)
    }
  }

  test("nprobe sweep: recall monotone, full probe reaches 1.0") {
    val model = Ivf.build(emb, nlist = 16)
    val qs = QueryVectors.batch(4)
    val exact = VectorSearch.knnJoin(emb, qs, 10).select("qid", "vec_id")
    val recalls = Seq(1, 4, 8, 16).map { np =>
      VectorSearch
        .recallAtK(model.searchMany(qs, np, 10).select("qid", "vec_id"), exact, 10)
        .as[(Long, Double)].collect().map(_._2).sum / 4.0
    }
    assert(recalls == recalls.sorted, s"recall not monotone in nprobe: $recalls")
    assert(recalls.last == 1.0, s"probing all lists must be exact: $recalls")
  }

  test("IVF probing all lists == exact topK (recall 1.0)") {
    val model = Ivf.build(emb, nlist = 16)
    val got = model.search(q0, nprobe = 16, k = 10).as[(Long, Double)].collect().toSeq
    val want = VectorSearch.topK(emb, q0, 10).as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("IVF stats: counts conserved, list sizes sane") {
    val model = Ivf.build(emb, nlist = 16)
    val r = model.stats.collect()(0)
    assert(r.getAs[Long]("n_vectors") == emb.count())   // every vector in exactly one list
    assert(r.getAs[Int]("nlist") == 16)
    assert(r.getAs[Long]("nonempty_lists") <= 16 && r.getAs[Long]("nonempty_lists") > 0)
    assert(r.getAs[Long]("min_sz") >= 1 && r.getAs[Long]("max_sz") <= emb.count())
  }

  test("dimension mismatch is a hard error, not a silent partial dot") {
    // reference asserts vector shape; a truncating dot would return
    // plausible-but-wrong scores
    val df = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val short = Array(1.0f)
    val ex = intercept[Throwable] {
      VectorSearch.topK(df, short, 1).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("dimension mismatch")), msgs(ex).mkString("; "))
    intercept[IllegalArgumentException] { VecMath.dot(Array(1f, 2f), short) }
  }

  test("HyperplaneSignature expression matches local signature math") {
    val planes = CosineLsh.planes(QueryVectors.Dim, bits = 10)
    val rows = CosineLsh.withBucket(emb.limit(50), planes)
      .select(col("embedding"), col("bucket")).as[(Array[Float], Long)].collect()
    rows.foreach { case (v, b) =>
      assert(b == CosineLsh.signature(v, planes))
    }
  }

  test("LSH recall dial: probe sets nest and recall is monotone in radius") {
    val planes = CosineLsh.planes(QueryVectors.Dim, bits = 10)
    val sig = CosineLsh.signature(q0, planes)
    val p0 = CosineLsh.multiprobe(sig, 10, 0)
    val p1 = CosineLsh.multiprobe(sig, 10, 1)
    val p2 = CosineLsh.multiprobe(sig, 10, 2)
    assert(p0.size == 1 && p1.size == 11 && p2.size == 11 + 45)
    assert(p1.toSet.subsetOf(p2.toSet) && p0.toSet.subsetOf(p1.toSet))
    val exactTop = VectorSearch.topK(emb, q0, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recalls = Seq(0, 1, 2).map { r =>
      val ids = CosineLsh.search(emb, q0, planes, 10, probeRadius = r)
        .as[(Long, Double)].collect().map(_._1).toSet
      ids.count(exactTop) / 10.0
    }
    assert(recalls(0) <= recalls(1) && recalls(1) <= recalls(2),
      s"recall not monotone in probe radius: $recalls")
    assert(recalls(2) > recalls(0) || recalls(0) == 1.0,
      s"dial has no effect on this corpus: $recalls")
    // the harness exposes the dial through the backend name
    val rows = graft.harness.RunHarness.runMany(spark, sf, Seq("lsh:0", "lsh:2"))
    val byM = rows.groupBy(_.method)
    assert(byM.keySet == Set("lsh:0", "lsh:2"))
    val meanRec = (m: String) => byM(m).map(_.recallAtK).sum / byM(m).size
    assert(meanRec("lsh:0") <= meanRec("lsh:2"))
  }

  test("LSH table axis: candidates nest, recall monotone in table count") {
    val tbls = CosineLsh.tables(QueryVectors.Dim, bits = 8, nTables = 3)
    // prefix nesting: tables(n) is a prefix of tables(m), n < m
    assert(tbls(0).map(_.toSeq).toSeq == CosineLsh.tables(QueryVectors.Dim, 8, 1).head.map(_.toSeq).toSeq)
    val exactTop = VectorSearch.topK(emb, q0, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val recalls = Seq(1, 2, 3).map { t =>
      val ids = CosineLsh.searchMulti(emb, q0, tbls.take(t), 10)
        .as[(Long, Double)].collect().map(_._1).toSet
      ids.count(exactTop) / 10.0
    }
    assert(recalls == recalls.sorted, s"recall not monotone in tables: $recalls")
    // the harness grammar: radius x tables
    val rows = graft.harness.RunHarness.runMany(spark, sf, Seq("lsh:1x1", "lsh:1x3"))
    val byM = rows.groupBy(_.method)
    assert(byM.keySet == Set("lsh:1x1", "lsh:1x3"))
    val meanRec = (m: String) => byM(m).map(_.recallAtK).sum / byM(m).size
    assert(meanRec("lsh:1x1") <= meanRec("lsh:1x3"))
    // more tables may only widen the scanned candidate set
    val meanScan = (m: String) => byM(m).map(_.scoredVectors).sum / byM(m).size
    assert(meanScan("lsh:1x1") <= meanScan("lsh:1x3"))
  }

  test("LSH bucketed search returns valid scores overlapping exact topK") {
    val planes = CosineLsh.planes(QueryVectors.Dim, bits = 6)
    val got = CosineLsh.search(emb, q0, planes, 10).as[(Long, Double)].collect()
    assert(got.nonEmpty && got.length <= 10)
    val exactScores = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> VecMath.round6(VecMath.dot(v, q0)) }.toMap
    got.foreach { case (id, s) => assert(exactScores(id) == s) }
    val exactTop = VectorSearch.topK(emb, q0, 10).as[(Long, Double)].collect().map(_._1).toSet
    assert(got.map(_._1).count(exactTop) > 0, "no overlap with exact top-10")
  }

  // ---- PQ (ADC + refine) recall contracts ----

  private lazy val pq = Pq.build(emb, m = 8, kCodes = 16)

  test("PQ refine with shortlist covering N == exact topK") {
    // the shortlist admits every row, so the exact re-rank must reproduce
    // brute-force topK bit-for-bit (same round6 + vec_id tiebreak)
    val n = emb.count().toInt
    val got = pq.search(q0, 10, shortlist = n).as[(Long, Double)].collect().toSeq
    val want = VectorSearch.topK(emb, q0, 10).as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("PQ ADC+refine recall@10 clears the floor and lifts searchNoRefine") {
    val exactTop = VectorSearch.topK(emb, q0, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val adcOnly = pq.searchNoRefine(q0, 10)
      .as[(Long, Double)].collect().map(_._1).count(exactTop) / 10.0
    val refined = pq.search(q0, 10, shortlist = 100)
      .as[(Long, Double)].collect().map(_._1).count(exactTop) / 10.0
    // refine re-ranks a 100-row ADC superset exactly, so it can only
    // gain on the ADC-only ranking of the same table
    assert(refined >= adcOnly, s"refine $refined < adc-only $adcOnly")
    assert(refined >= 0.5, s"PQ refine recall@10 $refined below 0.5 floor")
    // refined scores are the EXACT scores (not ADC approximations)
    val exactScores = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> VecMath.round6(VecMath.dot(v, q0)) }.toMap
    pq.search(q0, 10, shortlist = 100).as[(Long, Double)].collect()
      .foreach { case (id, s) => assert(exactScores(id) == s) }
  }

  test("IVF append: union conserved, full-probe search exact, appends compose") {
    val resident = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val m0 = graft.search.Ivf.build(resident, nlist = 8, maxIter = 5)
    val m = m0.append(batch)
    // the union is conserved and the batch landed in real lists
    assert(m.indexed.count() == emb.count())
    assert(m.indexed.where(col("list_id") < 0 || col("list_id") >= 8).count() == 0)
    // full probe over the appended model == exact top-k over the full
    // corpus: appended rows are first-class members of their lists
    val got = m.search(q0, nprobe = 8, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    val want = VectorSearch.topK(emb, q0, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == want, s"append full-probe $got != exact $want")
    // appends compose: (b1 then b2) == (b1 union b2) under the same centroids
    val b1 = batch.where(col("vec_id") % 20 === 0)
    val b2 = batch.where(col("vec_id") % 20 =!= 0)
    val two = m0.append(b1).append(b2).search(q0, nprobe = 8, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(two == got, s"chained appends $two != single append $got")
  }

  test("IVF persisted append: reloaded index serves resident union batch") {
    val resident = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val m0 = graft.search.Ivf.build(resident, nlist = 8, maxIter = 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf-append").toString
    try {
      m0.write(dir)
      graft.search.Ivf.appendToPath(m0, batch, dir)
      val m = graft.search.Ivf.load(spark, dir)
      assert(m.indexed.count() == emb.count())
      val got = m.search(q0, nprobe = 8, k = 10)
        .select("vec_id").as[Long].collect().toSeq
      val want = VectorSearch.topK(emb, q0, 10)
        .select("vec_id").as[Long].collect().toSeq
      assert(got == want, s"persisted append $got != exact $want")
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); ()
      }
      del(new java.io.File(dir))
    }
  }

  test("remove: tombstoned ids vanish from every tier, full dial exact on the remainder") {
    val tomb = emb.select(col("vec_id")).where(pmod(col("vec_id"), lit(10)) === 0)
    val kept = emb.join(tomb, Seq("vec_id"), "left_anti")
    val want = VectorSearch.topK(kept, q0, 10)
      .select("vec_id").as[Long].collect().toSeq
    // IVF tier
    val ivf = graft.search.Ivf.build(emb, nlist = 8, maxIter = 5).remove(tomb)
    assert(ivf.indexed.count() == kept.count())
    val gotIvf = ivf.search(q0, nprobe = 8, k = 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(gotIvf == want, s"ivf remove $gotIvf != exact-minus-tombstones $want")
    // composed tier: codes, refine corpus, and both halves all pruned
    val m = graft.search.IvfPq.compose(
      graft.search.Ivf.build(emb, nlist = 8, maxIter = 5),
      graft.search.Pq.build(emb)).remove(tomb)
    assert(m.coded.count() == kept.count())
    assert(m.pq.codes.count() == kept.count() && m.pq.corpus.count() == kept.count())
    val gotPq = m.search(q0, nprobe = 8, k = 10, shortlist = kept.count().toInt)
      .select("vec_id").as[Long].collect().toSeq
    assert(gotPq == want, s"ivfpq remove $gotPq != exact-minus-tombstones $want")
  }

  test("IVFPQ persisted append: reloaded code table serves resident union batch") {
    val resident = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val ivf = graft.search.Ivf.build(resident, nlist = 8, maxIter = 5)
    val pq = graft.search.Pq.build(resident)
    val m0 = graft.search.IvfPq.compose(ivf, pq)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-append").toString
    try {
      graft.search.IvfPq.write(m0, dir)
      graft.search.IvfPq.appendToPath(m0, batch, dir)
      // reload with the grown refine corpus (the caller's corpus artifact)
      val m = graft.search.IvfPq.load(spark, dir, ivf, pq.copy(corpus = emb))
      assert(m.coded.count() == emb.count())
      val n = emb.count()
      val got = m.search(q0, nprobe = 8, k = 10, shortlist = n.toInt)
        .select("vec_id").as[Long].collect().toSeq
      val want = VectorSearch.topK(emb, q0, 10)
        .select("vec_id").as[Long].collect().toSeq
      assert(got == want, s"persisted ivfpq append $got != exact $want")
    } finally {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(del)); f.delete(); ()
      }
      del(new java.io.File(dir))
    }
  }

  test("IVFPQ append: codes conserved, full-dial search == exact over the union") {
    val resident = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val batch = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val m0 = graft.search.IvfPq.compose(
      graft.search.Ivf.build(resident, nlist = 8, maxIter = 5),
      graft.search.Pq.build(resident))
    val m = m0.append(batch)
    val n = emb.count()
    // every table of the composed model grew by exactly the batch
    assert(m.coded.count() == n)
    assert(m.pq.codes.count() == n)
    assert(m.pq.corpus.count() == n)
    // full probe + full shortlist => the refine covers the union => exact
    val got = m.search(q0, nprobe = 8, k = 10, shortlist = n.toInt)
      .select("vec_id").as[Long].collect().toSeq
    val want = VectorSearch.topK(emb, q0, 10)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == want, s"ivfpq append full-dial $got != exact $want")
  }

  test("PQ stats invariants: vectors conserved, codes used, honest bytes") {
    val r = pq.stats().collect().head
    assert(r.getAs[Long]("n_vectors") == emb.count())
    assert(r.getAs[Long]("min_codes_used") >= 1)
    assert(r.getAs[Long]("max_codes_used") <= 16)
    assert(r.getAs[Int]("code_bytes_per_vec") == 8)   // 8 subspaces x 1 byte
    assert(r.getAs[Int]("raw_bytes_per_vec") == QueryVectors.Dim * 4)
  }

  // ---- IVFPQ (composed coarse + fine quantizer) contracts ----

  private lazy val ivfpq = IvfPq.compose(Ivf.build(emb, nlist = 16), pq)

  test("IVFPQ probing all lists == PQ ADC+refine (composition lossless at full probe)") {
    // with every list probed the pruned code set IS the full code table,
    // so the composed index must reproduce the flat-PQ ranking exactly
    val got = ivfpq.search(q0, nprobe = 16, k = 10, shortlist = 100)
      .as[(Long, Double)].collect().toSeq
    val want = pq.search(q0, 10, shortlist = 100)
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("IVFPQ refine recall@10 >= ADC-only floor at equal nprobe") {
    val exactTop = VectorSearch.topK(emb, q0, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    Seq(8, 16).foreach { np =>
      val adcOnly = ivfpq.searchNoRefine(q0, np, 10)
        .as[(Long, Double)].collect().map(_._1).count(exactTop) / 10.0
      val refined = ivfpq.search(q0, np, 10, shortlist = 100)
        .as[(Long, Double)].collect().map(_._1).count(exactTop) / 10.0
      // refine exact-re-ranks a 100-row ADC superset of the probed lists:
      // any true top-10 vector in the candidates outranks every non-top-10
      // one by exact score, so hits can only grow
      assert(refined >= adcOnly, s"nprobe=$np: refine $refined < adc-only $adcOnly")
    }
    // refined scores are exact scores (the refine join reads the vectors)
    val exactScores = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> VecMath.round6(VecMath.dot(v, q0)) }.toMap
    ivfpq.search(q0, nprobe = 8, k = 10).as[(Long, Double)].collect()
      .foreach { case (id, s) => assert(exactScores(id) == s) }
  }

  test("shortlist auto-tune: floor met on both probe geometries, meta round-trips") {
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val rng = new scala.util.Random(7)
    val dim = 16
    // geometry 1: i.i.d. gaussian unit vectors (the shape where the old
    // fixed shortlist=100 was measured misleading at reference scale)
    val iid = (0L until 300L).map(i => (i, unit(Array.fill(dim)(rng.nextGaussian().toFloat))))
    // geometry 2: clustered — 5 centers + small noise
    val centers = Array.fill(5)(Array.fill(dim)(rng.nextGaussian().toFloat))
    val clustered = (0L until 300L).map { i =>
      val c = centers((i % 5).toInt)
      (i, unit(c.zip(Array.fill(dim)(rng.nextGaussian().toFloat * 0.15f)).map { case (a, b) => a + b }))
    }
    Seq(("iid", iid), ("clustered", clustered)).foreach { case (name, rows) =>
      val corpus = rows.toDF("vec_id", "embedding")
      val model = IvfPq.compose(Ivf.build(corpus, nlist = 8), Pq.build(corpus))
      val (width, recall) = model.tuneShortlist(nprobe = 8, k = 10)
      val rungs = Seq(100, 300) // ladder ∩ capped-at-N on a 300-row corpus
      assert(rungs.contains(width), s"$name: width $width not a capped ladder rung")
      assert(recall >= 0.9 || width == rungs.max,
        s"$name: tuned ($width, $recall) neither meets the floor nor is the widest rung")
      // the auto default actually serves: held-out query, recall vs exact
      val tunedModel = model.copy(tuned = Some((width, recall)))
      assert(tunedModel.defaultShortlist == width)
      val q = unit(Array.fill(dim)(rng.nextGaussian().toFloat))
      val exactTop = VectorSearch.topK(corpus, q, 10)
        .select("vec_id").as[Long].collect().toSet
      val got = tunedModel.search(q, nprobe = 8, k = 10)
        .select("vec_id").as[Long].collect()
      assert(got.count(exactTop) / 10.0 >= 0.7,
        s"$name: auto-shortlist recall ${got.count(exactTop) / 10.0} at width $width")
    }
    // persistence: buildOrLoad writes meta.json with the tune; a reload
    // carries it
    val corpus = iid.toDF("vec_id", "embedding")
    val ivf = Ivf.build(corpus, nlist = 8)
    val pqm = Pq.build(corpus)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq-tune").toString + "/idx"
    val built = IvfPq.buildOrLoad(spark, ivf, pqm, dir)
    assert(built.tuned.isDefined, "build must record the tune in meta.json")
    val reloaded = IvfPq.buildOrLoad(spark, ivf, pqm, dir)
    assert(reloaded.tuned == built.tuned)
  }

  test("IVFPQ stats: vectors conserved across the composed table") {
    val r = ivfpq.stats.collect().head
    assert(r.getAs[Long]("n_vectors") == emb.count())
    assert(r.getAs[Int]("nlist") == 16)
    assert(r.getAs[Long]("nonempty_lists") >= 1 && r.getAs[Long]("nonempty_lists") <= 16)
    assert(r.getAs[Int]("m") == 8 && r.getAs[Int]("k") == 16)
  }

  test("shortlist sweep: recall monotone by nesting; full-corpus shortlist is exact") {
    // the compressed tier's own dial (vec_pq_sweep): at FIXED probe set
    // the ADC ranking is fixed, so shortlist prefixes nest — and a true
    // top-K member in any candidate set survives the exact refine (fewer
    // than K vectors outscore it globally). Recall must be monotone in
    // the shortlist width, and a shortlist covering N must be exact.
    val exactTop = VectorSearch.topK(emb, q0, 10)
      .as[(Long, Double)].collect().map(_._1).toSet
    val n = emb.count().toInt
    val widths = Seq(10, 25, 50, 100, n)
    def recall(ids: Seq[Long]): Double = ids.count(exactTop) / 10.0
    val pqCurve = widths.map(w =>
      recall(pq.search(q0, 10, shortlist = w).as[(Long, Double)].collect().map(_._1).toSeq))
    assert(pqCurve == pqCurve.sorted, s"pq recall not monotone in shortlist: $pqCurve")
    assert(pqCurve.last == 1.0, s"shortlist >= N must be exact: $pqCurve")
    Seq(8, 16).foreach { np =>
      val curve = widths.map(w =>
        recall(ivfpq.search(q0, np, 10, shortlist = w)
          .as[(Long, Double)].collect().map(_._1).toSeq))
      assert(curve == curve.sorted, s"ivfpq nprobe=$np recall not monotone: $curve")
    }
  }

  test("PqEncode / PqAdcScore codegen match local math exactly") {
    // the primitive-array expressions (codebook/LUT ride in the expression,
    // not as literal children) must reproduce the definitional math:
    // encode = per-subspace L2 argmin (first-wins ties), adc = Σ lut[s][code]
    val rows = emb.limit(20)
      .select(col("vec_id"), col("embedding"),
        graft.functions.VectorFunctions.pqEncode(col("embedding"), pq.codebook).as("codes"))
      .as[(Long, Array[Float], Array[Int])].collect()
    rows.foreach { case (_, v, codes) =>
      (0 until pq.m).foreach { s =>
        val dists = pq.codebook(s).map { cent =>
          var d = 0.0; var i = 0
          while (i < pq.dsub) {
            val t = v(s * pq.dsub + i).toDouble - cent(i); d += t * t; i += 1
          }
          d
        }
        val want = dists.indexOf(dists.min)
        assert(codes(s) == want, s"subspace $s: got ${codes(s)}, want $want")
      }
    }
    val t = pq.lut(q0)
    val adc = pq.codes.limit(20)
      .select(col("vec_id"), col("pq_codes"),
        graft.functions.VectorFunctions.pqAdcScore(col("pq_codes"), t).as("adc"))
      .as[(Long, Array[Int], Double)].collect()
    adc.foreach { case (_, codes, s) =>
      val want = codes.zipWithIndex.map { case (c, i) => t(i)(c) }.sum
      assert(math.abs(s - want) < 1e-12)
    }
  }

  test("PQ encode is deterministic and build rejects oversized codebooks") {
    val a = pq.codes.orderBy("vec_id").as[(Long, Seq[Int])].collect().toSeq
    val b = Pq.build(emb, m = 8, kCodes = 16).codes
      .orderBy("vec_id").as[(Long, Seq[Int])].collect().toSeq
    assert(a == b, "same seed must yield identical codes")
    intercept[IllegalArgumentException] { Pq.build(emb, m = 8, kCodes = 257) }
  }

  test("Ivf.build and Pq.build are deterministic over a sampled multi-partition corpus") {
    // sampling runs (maxTrainRows < n) over 4 partitions: same seed, same
    // centroids, codebook and assignments on every build
    val rng = new scala.util.Random(5)
    val df = spark.sparkContext.parallelize((0 until 2000).map(i =>
      (i.toLong, Array.fill(16)(rng.nextGaussian().toFloat))), 4).toDF("vec_id", "embedding")
    def ivf() = Ivf.build(df, nlist = 16, maxIter = 10, maxTrainRows = 600)
    def pq() = Pq.build(df, kCodes = 16, maxTrainRows = 600)
    val (i1, i2) = (ivf(), ivf())
    assert(i1.centroids.map(_.toSeq).toSeq == i2.centroids.map(_.toSeq).toSeq)
    def lists(m: IvfModel) = m.indexed.orderBy("vec_id").select("list_id").as[Int].collect().toSeq
    assert(lists(i1) == lists(i2))
    val (p1, p2) = (pq(), pq())
    assert(p1.codebook.map(_.map(_.toSeq).toSeq).toSeq == p2.codebook.map(_.map(_.toSeq).toSeq).toSeq)
    def codes(m: PqModel) = m.codes.orderBy("vec_id").select("pq_codes").collect().map(_.toString).toSeq
    assert(codes(p1) == codes(p2))
  }
}
