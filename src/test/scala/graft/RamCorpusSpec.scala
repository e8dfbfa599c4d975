package graft

import graft.filters.FilterDsl
import graft.search.{QueryVectors, RamCorpus, VectorSearch}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The RAM serving tier must be a pure storage swap: identical ids,
  * scores, tie-breaks and filter semantics as the DataFrame scan path.
  */
class RamCorpusSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)
  private lazy val ram = RamCorpus.build(emb)
  private val q0 = QueryVectors.qvec(0)

  test("unfiltered topK matches the DataFrame TakeOrdered path exactly") {
    val got = ram.topK(q0, 10)
    val want = VectorSearch.topK(emb, q0, 10).as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("label-filtered topK matches filter-then-topK") {
    val spec = FilterDsl.parseJson("""{"label":{"in":[0,1,2]}}""")
    val Some(lp) = RamCorpus.labelPredicate(spec)
    val got = ram.topK(q0, 10, lp)
    val want = VectorSearch.topK(emb, q0, 10, Some(FilterDsl.compile(emb, spec)))
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
  }

  test("scoreIds matches topK over the same id subset (refine parity)") {
    // an arbitrary 50-id "shortlist": scoreIds must reproduce the
    // DataFrame path's filter-join-then-topK ranking exactly
    val ids = emb.select("vec_id").as[Long].collect().sorted.take(50)
    val got = ram.scoreIds(q0, ids, 10)
    val want = VectorSearch.topK(emb.where(col("vec_id").isin(ids: _*)), q0, 10)
      .as[(Long, Double)].collect().toSeq
    assert(got == want)
    // label predicate drops rows BEFORE the top-K cut
    val spec = FilterDsl.parseJson("""{"label":{"in":[0,1,2]}}""")
    val Some(lp) = RamCorpus.labelPredicate(spec)
    val gotF = ram.scoreIds(q0, ids, 10, lp)
    val wantF = VectorSearch.topK(emb.where(col("vec_id").isin(ids: _*)), q0, 10,
        Some(FilterDsl.compile(emb, spec)))
      .as[(Long, Double)].collect().toSeq
    assert(gotF == wantF)
  }

  test("topCandidates carries correct pass bits over the full ranking") {
    val spec = FilterDsl.parseJson("""{"label":{"ge":5}}""")
    val Some(lp) = RamCorpus.labelPredicate(spec)
    val cand = ram.topCandidates(q0, 50, lp)
    assert(cand.length == 50)
    // ranking ignores the filter (post-filter shape): equals unfiltered top-50
    assert(cand.map(c => (c._1, c._2)) == ram.topK(q0, 50))
    val labels = emb.select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    cand.foreach { case (id, _, pass) => assert(pass == (labels(id) >= 5)) }
  }

  test("countAllowed matches the DataFrame count") {
    val spec = FilterDsl.parseJson("""{"label":{"between":[2,6]}}""")
    val Some(lp) = RamCorpus.labelPredicate(spec)
    assert(ram.countAllowed(lp) ==
      emb.where(FilterDsl.compile(emb, spec)).count())
    assert(ram.countAllowed(None) == emb.count())
  }

  test("labelPredicate mirrors FilterDsl semantics (ne, cast-failure, non-label)") {
    // ne
    val ne = RamCorpus.labelPredicate(FilterDsl.parseJson("""{"label":{"ne":3}}""")).get.get
    assert(ne(2) && !ne(3))
    // uncastable eq value excludes all rows (reference validators.py:166)
    val bad = RamCorpus.labelPredicate(FilterDsl.parseJson("""{"label":{"eq":"zzz"}}""")).get.get
    assert(!bad(0) && !bad(1))
    // non-label column → None (caller falls back to Catalyst)
    assert(RamCorpus.labelPredicate(FilterDsl.parseJson("""{"other":{"eq":1}}""")).isEmpty)
    // empty spec → Some(None): no filter
    assert(RamCorpus.labelPredicate(FilterDsl.parseJson("{}")).contains(None))
  }

  test("labelPredicate casts like FilterDsl.castLit on an int column") {
    // double truncates (Python int() semantics): eq 1.5 → eq 1
    val eq15 = RamCorpus.labelPredicate(FilterDsl.parseJson("""{"label":{"eq":1.5}}""")).get.get
    assert(eq15(1) && !eq15(2))
    // fractional STRING is a cast failure → excludes all
    val s15 = RamCorpus.labelPredicate(FilterDsl.parseJson("""{"label":{"eq":"1.5"}}""")).get.get
    assert(!s15(1))
    // in-list drops only the uncastable member
    val in = RamCorpus.labelPredicate(FilterDsl.parseJson("""{"label":{"in":[2,"zz",3.9]}}""")).get.get
    assert(in(2) && in(3) && !in(4))
    // Catalyst twin agrees on all three (the parity being claimed)
    val df = emb.sparkSession.range(5).selectExpr("CAST(id AS INT) AS label")
    def viaCatalyst(json: String): Set[Int] = {
      val c = FilterDsl.compile(df, FilterDsl.parseJson(json))
      df.where(c).collect().map(_.getInt(0)).toSet
    }
    assert(viaCatalyst("""{"label":{"eq":1.5}}""") == Set(1))
    assert(viaCatalyst("""{"label":{"eq":"1.5"}}""") == Set.empty)
    assert(viaCatalyst("""{"label":{"in":[2,"zz",3.9]}}""") == Set(2, 3))
    // a value outside the int range is a cast failure on both paths (an
    // overflowing literal cast would throw under ANSI mode), and an in-list
    // drops only that member
    Seq("""{"label":{"eq":4294967299}}""", """{"label":{"lt":1e30}}""",
        """{"label":{"ge":-1e30}}""", """{"label":{"ne":"4294967299"}}""",
        """{"label":{"between":[0,2147483648]}}""").foreach { json =>
      val lp = RamCorpus.labelPredicate(FilterDsl.parseJson(json)).get.get
      assert((0 until 5).forall(l => !lp(l)), json)
      assert(viaCatalyst(json) == Set.empty, json)
    }
    val wide = """{"label":{"in":[1,4294967299,2147483647,-2147483649]}}"""
    val lpWide = RamCorpus.labelPredicate(FilterDsl.parseJson(wide)).get.get
    assert((0 until 5).filter(lpWide(_)).toSet == Set(1))
    assert(viaCatalyst(wide) == Set(1))
  }

  test("harness with RAM tier returns the same ids as the Catalyst path") {
    // every code tier exercises the pinned-block refine (scoreIds) vs the
    // DataFrame broadcast-join refine — ranking must be byte-identical
    val backends = Seq("exact", "post_filter", "pq", "sq", "bq", "ivfpq", "ivfpq_res")
    val withRam = graft.harness.RunHarness.runMany(spark, sf, backends, ram = Some(ram))
    val without = graft.harness.RunHarness.runMany(spark, sf, backends)
    val key = (r: graft.harness.RunHarness.ResultRow) => (r.qid, r.method)
    val w = without.map(r => key(r) -> r).toMap
    assert(withRam.map(_.method).distinct == backends)
    withRam.foreach { r =>
      val o = w(key(r))
      assert(r.recallAtK == o.recallAtK, s"recall mismatch at ${key(r)}")
      assert(r.scoredVectors == o.scoredVectors, s"scored mismatch at ${key(r)}")
      assert(r.kthAtStop == o.kthAtStop, s"kth mismatch at ${key(r)}")
      assert(r.listsProbed == o.listsProbed, s"lists_probed mismatch at ${key(r)}")
      assert(r.nprobe == o.nprobe, s"nprobe mismatch at ${key(r)}")
      // exact's note names its tier ("(ram)"); every other backend's note
      // is the same on both paths
      if (r.method != "exact") assert(r.notes == o.notes, s"notes mismatch at ${key(r)}")
    }
  }

  test("topK, topCandidates and scoreIds equal a brute-force reference over 4 partitions") {
    val (df, rows) = TopKFixture.corpus(spark)
    assert(df.rdd.getNumPartitions >= 3)
    val rc = RamCorpus.build(df)
    val preds: Seq[(String, Option[Int => Boolean])] = Seq(
      "none" -> None, "label<3" -> Some(_ < 3), "label>=7" -> Some(_ >= 7),
      "nothing" -> Some(_ => false))
    val ids = rows.map(_._1)
    val wanted = ids.filter(_ % 3 == 0).take(90).toArray
    TopKFixture.queries.foreach { q =>
      preds.foreach { case (name, lp) =>
        val allow = lp.getOrElse((_: Int) => true)
        Seq(1, 10, 64, 65, rows.size + 5).foreach { k =>
          val ranked = TopKFixture.brute(rows, q)
          assert(rc.topK(q, k, lp) ==
            ranked.filter(r => allow(r._3)).take(k).map(r => (r._1, r._2)), s"topK $name k=$k")
          assert(rc.topCandidates(q, k, lp) ==
            ranked.take(k).map(r => (r._1, r._2, allow(r._3))), s"topCandidates $name k=$k")
          assert(rc.scoreIds(q, wanted, k, lp) ==
            ranked.filter(r => allow(r._3) && wanted.contains(r._1)).take(k)
              .map(r => (r._1, r._2)), s"scoreIds $name k=$k")
        }
      }
    }
  }

  test("k < 1 is refused on the driver, before any job") {
    ram.topK(q0, 1) // pin and label histogram exist before the group opens
    val sc = spark.sparkContext
    sc.setJobGroup("ram-k0", "k < 1 must not start a job")
    try {
      val e1 = intercept[IllegalArgumentException](ram.topK(q0, 0))
      assert(e1.getMessage.contains("k must be >= 1"), e1.getMessage)
      val e2 = intercept[IllegalArgumentException](ram.topCandidates(q0, -1, None))
      assert(e2.getMessage.contains("k must be >= 1"), e2.getMessage)
      // the refine of an empty shortlist stays an empty answer
      assert(ram.scoreIds(q0, Array(1L, 2L), 0).isEmpty)
      assert(ram.scoreIds(q0, Array.empty[Long], 5).isEmpty)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("ram-k0").isEmpty)
  }

  test("dimension mismatch is a hard error") {
    intercept[IllegalArgumentException] { ram.topK(Array(1.0f), 5) }
  }

  test("property: random label specs agree between RAM and Catalyst paths") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A], seed: Long): A =
      g.pureApply(Gen.Parameters.default, Seed(seed))
    val genVal: Gen[String] = Gen.oneOf(
      Gen.choose(-2, 12).map(_.toString),
      Gen.choose(-2.0, 12.0).map(_.toString), // fractional doubles (truncation rule)
      Gen.oneOf("\"3\"", "\"1.5\"", "\"zz\"", "true"))
    val genOne: Gen[String] = for {
      op <- Gen.oneOf("eq", "ne", "ge", "le", "gt", "lt")
      v <- genVal
    } yield s"""{"label":{"$op":$v}}"""
    val genSpec: Gen[String] = Gen.oneOf(
      genOne,
      for { lo <- Gen.choose(-2, 8); hi <- Gen.choose(-2, 12) }
        yield s"""{"label":{"between":[$lo,$hi]}}""",
      Gen.nonEmptyListOf(genVal).map(vs => s"""{"label":{"in":[${vs.mkString(",")}]}}"""))
    (0 until 40).foreach { i =>
      val json = sample(genSpec, 1000L + i)
      val spec = FilterDsl.parseJson(json)
      val lpOpt = RamCorpus.labelPredicate(spec)
      assert(lpOpt.nonEmpty, json) // all generated specs are label-only
      val got = ram.topK(q0, 10, lpOpt.get)
      val want = VectorSearch.topK(emb, q0, 10, Some(FilterDsl.compile(emb, spec)))
        .as[(Long, Double)].collect().toSeq
      assert(got == want, s"spec $json")
    }
  }
}

/** A small corpus built to stress the top-K merge: 4 partitions, ids
  * shuffled across them, a quarter of the vectors duplicated under other
  * ids (exact score ties) and coarse components (near ties at 6 dp). */
object TopKFixture {
  import graft.search.VecMath
  import org.apache.spark.sql.{DataFrame, SparkSession}

  type Row = (Long, Array[Float], Int)

  def corpus(spark: SparkSession): (DataFrame, Seq[Row]) = {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    val base = (0 until 450).map(_ => Array.fill(8)((rng.nextInt(9) - 4) / 8.0f))
    val vecs = base ++ base.take(150)
    val ids = rng.shuffle(vecs.indices.map(i => 7L * i + 3)).toArray
    val rows = vecs.indices.map(i => (ids(i), vecs(i), rng.nextInt(10)))
    (rows.toDF("vec_id", "embedding", "label").repartition(4), rows)
  }

  val queries: Seq[Array[Float]] = {
    val rng = new scala.util.Random(9)
    Seq.fill(3)(Array.fill(8)(rng.nextGaussian().toFloat)) :+ Array.fill(8)(0.25f)
  }

  /** Every row as (id, round6 score, label), ranked by (−score, id). */
  def brute(rows: Seq[Row], q: Array[Float]): Seq[(Long, Double, Int)] =
    rows.map { case (id, v, l) => (id, VecMath.round6(VecMath.dot(v, q)), l) }
      .sortBy { case (id, s, _) => (-s, id) }
}
