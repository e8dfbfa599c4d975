package graft

import graft.harness.RunHarness
import graft.search.{HybridQuery, QuerySet, QueryVectors}
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors the reference's own harness test suite
  * (reference tests/test_run_impl.py) against RunHarness.
  */
class RunHarnessSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  test("exact backend: recall 1.0 vs allowed-subset oracle, field contract") {
    val rows = RunHarness.run(spark, sf, "exact")
    assert(rows.length == QuerySet.default.length)
    rows.foreach { r =>
      assert(r.recallAtK == 1.0, s"qid ${r.qid}") // test_recall_computation_against_oracle_subset
      assert(r.filterSelectivity >= 0.0 && r.filterSelectivity <= 1.0)
      assert(r.method == "exact")
    }
    assert(rows.map(_.runId).distinct.length == 1) // test_run_id_stable_across_queries
    rows.foreach(r => assert(
      r.timestampUtc.matches("""^\d{4}-\d{2}-\d{2}T.*[+-]\d{2}:\d{2}$"""),
      r.timestampUtc)) // test_timestamp_is_iso8601_with_tz
  }

  test("scored_vectors equals |allowed| for exact/pre_filter; selectivity = |allowed|/N") {
    val rows = RunHarness.run(spark, sf, "pre_filter")
    val total = 500.0
    rows.foreach { r =>
      // test_scored_vectors_equals_allowed_ids_size + test_filter_selectivity_matches_allowed_ids
      assert(math.abs(r.filterSelectivity - r.scoredVectors / total) < 1e-6, s"qid ${r.qid}")
    }
    val unfiltered = rows.find(_.qid == 0).get
    assert(unfiltered.scoredVectors == 500 && unfiltered.filterSelectivity == 1.0)
  }

  test("post_filter: scored_vectors is a ladder rung >= K, never exceeds maxRung") {
    val rows = RunHarness.run(spark, sf, "post_filter")
    rows.foreach { r => // test_post_filter_ladder_and_k_floor
      assert(r.scoredVectors >= r.k)
      assert(Seq(200, 500, 1000).contains(r.scoredVectors.toInt), s"got ${r.scoredVectors}")
      assert(r.notes.exists(_.contains("k_ladder")))
    }
  }

  test("K out of [1, N] is a hard error") { // test_k_validation_guard
    intercept[IllegalArgumentException] {
      RunHarness.run(spark, sf, "exact", kOverride = Some(999))
    }
    intercept[IllegalArgumentException] {
      RunHarness.run(spark, sf, "exact", kOverride = Some(0))
    }
  }

  test("query dimension mismatch is a hard error before searching") {
    val bad = Seq(HybridQuery(0, Array(1.0f, 2.0f), "{}", "TRUE", 5))
    val ex = intercept[IllegalArgumentException] { // test_dimension_mismatch_raises_early
      RunHarness.run(spark, sf, "exact", qs = bad)
    }
    assert(ex.getMessage.matches("Query dim .* != dataset dim .*"), ex.getMessage)
  }

  test("non-unit query vectors are rejected (ensure_unit_l2)") {
    val bad = QueryVectors.qvec(0).map(_ * 2.0f)
    val ex = intercept[IllegalArgumentException] {
      RunHarness.run(spark, sf, "exact", qs = Seq(HybridQuery(0, bad, "{}", "TRUE", 5)))
    }
    assert(ex.getMessage.contains("not within tolerance"))
    intercept[IllegalArgumentException] {
      RunHarness.run(spark, sf, "exact",
        qs = Seq(HybridQuery(0, Array.fill(64)(0.0f), "{}", "TRUE", 5)))
    }
  }

  test("empty query vector falls back to the dataset vector at qid") {
    // test_empty_qtext_uses_dataset_vector: vectors[qid] is its own nearest
    // neighbour under IP on unit vectors, so it must rank first
    val rows = RunHarness.run(spark, sf, "exact",
      qs = Seq(HybridQuery(7, Array.empty[Float], "{}", "TRUE", 5)))
    assert(rows.head.recallAtK == 1.0)
  }

  test("non-empty qtext routes through the pluggable encoder (encode seam)") {
    import graft.search.QueryEncoder
    // custom encoder: every text encodes to qvec(0) — results must equal
    // the same query run with the explicit vector
    val fixed = new QueryEncoder {
      val dim = 64
      def encode(qtext: String): Array[Float] = QueryVectors.qvec(0)
    }
    val viaText = RunHarness.runMany(spark, sf, Seq("exact"),
      qs = Seq(HybridQuery(3, Array.empty[Float], "{}", "TRUE", 5, qtext = "any text")),
      encoder = fixed)
    val viaVec = RunHarness.runMany(spark, sf, Seq("exact"),
      qs = Seq(HybridQuery(3, QueryVectors.qvec(0), "{}", "TRUE", 5)))
    assert(viaText.head.kthAtStop == viaVec.head.kthAtStop)
    assert(viaText.head.recallAtK == 1.0)
    // default encoder: deterministic, unit-norm (passes ensure_unit_l2),
    // identical text → identical vector
    val enc = QueryEncoder.seeded()
    assert(enc.encode("find docs").toSeq == enc.encode("find docs").toSeq)
    assert(enc.encode("find docs").toSeq != enc.encode("other").toSeq)
    val rows = RunHarness.runMany(spark, sf, Seq("exact"),
      qs = Seq(HybridQuery(9, Array.empty[Float], "{}", "TRUE", 5, qtext = "find docs")))
    assert(rows.head.recallAtK == 1.0) // exact is its own oracle — seam validated end to end
    // empty qtext still falls back to vectors[qid] (covered above), and
    // the explicit qvec always wins over qtext
    val both = RunHarness.runMany(spark, sf, Seq("exact"),
      qs = Seq(HybridQuery(3, QueryVectors.qvec(0), "{}", "TRUE", 5, qtext = "ignored")))
    assert(both.head.kthAtStop == viaVec.head.kthAtStop)
  }

  test("queries.parquet of qtext-only rows drives the harness through the MiniLM encoder") {
    import graft.encode.MiniLm
    import graft.sources.Ingest
    val enc = MiniLm.tinyEncoder()
    // the reference's actual interface: a query table whose rows carry
    // TEXT, no vectors (run.py:118-126 + 137-147)
    val textOnly = QuerySet.default.map(_.copy(qvec = Array.empty[Float]))
    val path = java.nio.file.Files.createTempDirectory("qp").toString + "/queries.parquet"
    Ingest.writeQueries(spark, path, textOnly)
    val fromDisk = Ingest.readQueries(spark, path)
    assert(fromDisk.forall(q => q.qvec.isEmpty && q.qtext.nonEmpty))
    // harness path: qtext → MiniLM forward → unit-norm qvec → search.
    // recall 1.0 proves the encoded vector passed the ensure_unit_l2
    // guard and exact search ran on it
    val rows = RunHarness.runMany(spark, sf, Seq("exact"), qs = fromDisk, encoder = enc)
    assert(rows.length == QuerySet.default.length)
    rows.foreach(r => assert(r.recallAtK == 1.0, s"qid ${r.qid}"))
    // parity across the write/read boundary: search results from the
    // persisted table equal searching the same texts encoded in memory
    val viaDisk = QuerySet.runAll(Tables.embeddings(spark, sf),
      QuerySet.resolved(fromDisk, enc)).collect().map(_.toSeq)
    val viaMem = QuerySet.runAll(Tables.embeddings(spark, sf),
      QuerySet.resolved(textOnly, enc)).collect().map(_.toSeq)
    assert(viaDisk.sameElements(viaMem))
  }

  test("malformed and unknown filters are hard errors") {
    intercept[Exception] { // test_malformed_filters_hard_error
      RunHarness.run(spark, sf, "exact",
        qs = Seq(HybridQuery(0, QueryVectors.qvec(0), "{bad-json:", "", 5)))
    }
    intercept[Exception] { // test_unknown_filter_field_or_operator_hard_error
      RunHarness.run(spark, sf, "exact",
        qs = Seq(HybridQuery(0, QueryVectors.qvec(0), """{"bogus":{"eq":1}}""", "", 5)))
    }
  }

  test("backend registry maps names; unknown backend rejected") {
    val emb = Tables.embeddings(spark, sf) // test_backend_registry_maps_names_correctly
    assert(RunHarness.getBackend("exact", emb, 500).names == Seq("exact"))
    assert(RunHarness.getBackend("pre_filter", emb, 500).names == Seq("pre_filter"))
    assert(RunHarness.getBackend("post_filter", emb, 500).names == Seq("post_filter"))
    assert(RunHarness.getBackend("random", emb, 500).names == Seq("random"))
    intercept[IllegalArgumentException] { RunHarness.getBackend("hnsw", emb, 500) }
  }

  test("index fallback chain: IVF → LSH mid-tier → exact (loaders.py:123-165)") {
    import graft.search.Ivf
    val emb = Tables.embeddings(spark, sf) // 500 rows
    // 500 < 64 lists × 8/list → IVF rejected; 500 < default lshMinRows → exact
    assert(Ivf.choose(emb) == Ivf.UseExact)
    // corpus big enough for buckets but still too small for IVF → LSH tier
    assert(Ivf.choose(emb, lshMinRows = 100) match {
      case Ivf.UseLsh(planes) => planes.nonEmpty; case _ => false
    })
    // healthy points-per-centroid ratio → IVF
    assert(Ivf.choose(emb, minPerList = 1, lshMinRows = 100) match {
      case Ivf.UseIvf(m) => m.centroids.nonEmpty; case _ => false
    })
    // registry end-to-end: "auto" lands on the chain's pick
    assert(RunHarness.getBackend("auto", emb, 500).names == Seq("exact"))
    assert(RunHarness.getBackend("lsh", emb, 500).names == Seq("lsh"))
  }

  test("\"auto\" rows answer under the requested name, through runMany and the CLI") {
    // 500 rows: the chain picks exact, so auto's answers are exact's
    val rows = RunHarness.runMany(spark, sf, Seq("auto", "exact"))
    val (auto, exact) = rows.partition(_.method == "auto")
    assert(auto.length == QuerySet.default.length && exact.length == auto.length)
    assert(auto.map(r => (r.qid, r.recallAtK, r.scoredVectors)) ==
      exact.map(r => (r.qid, r.recallAtK, r.scoredVectors)))
    assert(auto.forall(_.recallAtK == 1.0))
    // the CLI in a child JVM (RunHarness.main stops its session)
    val out = java.nio.file.Files.createTempFile("harness-auto", ".jsonl")
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx768m") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), "graft.harness.RunHarness",
        "--sf-dir", sf, "--backend", "auto", "--max_queries", "2", "--out", out.toString)
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "1")
    val proc = pb.start()
    val log = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").mkString
    try {
      assert(proc.waitFor() == 0, log.linesIterator.toSeq.takeRight(40).mkString("\n"))
      val lines = java.nio.file.Files.readAllLines(out).toArray.map(_.toString).toSeq
      assert(lines.length == 2 && lines.forall(_.contains("\"method\": \"auto\"")), lines)
    } finally java.nio.file.Files.deleteIfExists(out)
  }

  test("lsh backend: recall against exact within its probabilistic tier") {
    val emb = Tables.embeddings(spark, sf)
    val rows = RunHarness.run(spark, sf, "lsh", qs = QuerySet.default.take(2))
    rows.foreach { r =>
      assert(r.method == "lsh")
      assert(r.scoredVectors > 0 && r.scoredVectors < 500, s"scanned ${r.scoredVectors}")
    }
  }

  test("post_filter retries/max_ladder_steps mirror reference post_filter.py accounting") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val qvec = QueryVectors.qvec(1)
    val label0 = graft.search.ResolvedFilter(emb,
      graft.filters.FilterDsl.parseJson("""{"label":{"eq":0}}"""))
    // how many allowed candidates each rung yields, computed independently
    val scored = graft.search.VectorSearch.withScore(emb, qvec)
      .orderBy(org.apache.spark.sql.functions.desc("score"), col("vec_id"))
      .select(col("vec_id"), col("label")).collect()
    def keptAt(rung: Int) = scored.take(rung).count(_.getInt(1) == 0)
    assume(keptAt(200) >= 2, "test corpus must keep >= 2 label-0 docs in top 200")
    val k = keptAt(200) + 1 // rung 200 is one short → at least one bump
    val allowed = scored.count(_.getInt(1) == 0).toLong
    assume(k <= allowed)
    val backend = RunHarness.getBackend("post_filter", emb, 500)
    val Seq(("post_filter", (_, stats))) = backend.search(emb, qvec, label0, k, allowed)
    val expectRetries = Seq(200, 500, 1000).indexWhere(keptAt(_) >= k) match {
      case -1 => 3 // exhausted: every rung bumped (reference counts the last bump too)
      case i => i
    }
    assert(stats.retries == expectRetries, s"retries ${stats.retries} != $expectRetries")
    // max_ladder_steps=1: only the first rung may run (reference :60-66)
    val capped = RunHarness.getBackend("post_filter", emb, 500, maxLadderSteps = Some(1))
    val Seq(("post_filter", (ids1, stats1))) = capped.search(emb, qvec, label0, k, allowed)
    assert(stats1.scoredVectors == 200 && stats1.retries == 1)
    assert(ids1.length < k) // stopped short by the cap, not by satisfying K
  }

  test("post_filter ladder: pinned-block and corpus candidates walk alike") {
    // one rung walk over two candidate sources: the RAM tier's pinned
    // blocks (the filter resolves with the tier) and the Catalyst fetch
    // over the corpus (resolved without it) must stop at the same rung
    // with the same kept rows, kth and retries
    import graft.filters.FilterDsl
    import graft.search.ResolvedFilter
    val emb = Tables.embeddings(spark, sf)
    val ram = graft.queries.VectorQueries.servingTier(spark, sf)
    assert(ram.isDefined, "sf0.001 fits the serving budget")
    val qvec = QueryVectors.qvec(2)
    val label7 = FilterDsl.parseJson("""{"label":{"eq":7}}""")
    val n7 = emb.where(org.apache.spark.sql.functions.col("label") === 7).count().toInt
    assume(n7 > 0 && n7 < 200, s"label 7 keeps $n7 rows")
    def walk(spec: FilterDsl.Spec, k: Int, steps: Option[Int]) = Seq(ram, None).map { tier =>
      val f = ResolvedFilter(emb, spec, tier)
      assert(f.ram.isDefined == tier.isDefined)
      val b = RunHarness.getBackend("post_filter", emb, 500, maxLadderSteps = steps)
      val Seq(("post_filter", (ids, st))) = b.search(emb, qvec, f, k, f.allowed(500))
      (ids, st.scoredVectors, st.kthAtStop, st.retries, st.notes)
    }
    // a filter that exhausts the ladder: fewer allowed rows than K
    val Seq(exhaustedRam, exhaustedCat) = walk(label7, n7 + 1, None)
    assert(exhaustedRam == exhaustedCat)
    assert(exhaustedRam._2 == 1000 && exhaustedRam._3.isEmpty && exhaustedRam._4 == 3,
      exhaustedRam)
    assert(exhaustedRam._1.length == n7)
    // maxLadderSteps = 1: the first rung only, stopped short by the cap
    val Seq(cappedRam, cappedCat) = walk(label7, n7 + 1, Some(1))
    assert(cappedRam == cappedCat)
    assert(cappedRam._2 == 200 && cappedRam._3.isEmpty && cappedRam._4 == 1, cappedRam)
    // an empty spec: every candidate passes, the first rung satisfies K
    val Seq(openRam, openCat) = walk(FilterDsl.parseJson("{}"), 10, None)
    assert(openRam == openCat)
    assert(openRam._2 == 200 && openRam._3.nonEmpty && openRam._4 == 0 && openRam._1.length == 10,
      openRam)
  }

  test("the CLI rejects unknown and dangling flags by name") {
    assert(RunHarness.parseArgs(Array("--backends", "exact,pq", "--max_queries", "5")) ==
      Map("--backends" -> "exact,pq", "--max_queries" -> "5"))
    assert(RunHarness.parseArgs(Array.empty[String]).isEmpty)
    val unknown = intercept[IllegalArgumentException] {
      RunHarness.parseArgs(Array("--max-queries", "5"))
    }
    assert(unknown.getMessage.contains("--max-queries"), unknown.getMessage)
    val trailing = intercept[IllegalArgumentException] {
      RunHarness.parseArgs(Array("--backend", "exact", "--K"))
    }
    assert(trailing.getMessage.contains("--K"), trailing.getMessage)
    val swallowed = intercept[IllegalArgumentException] {
      RunHarness.parseArgs(Array("--out", "--K", "5"))
    }
    assert(swallowed.getMessage.contains("--out"), swallowed.getMessage)
  }

  test("random backend: K results, recall well below exact") {
    val rows = RunHarness.run(spark, sf, "random")
    rows.foreach(r => assert(r.recallAtK <= 0.5 && r.scoredVectors == 0))
  }

  test("ivf backend reports lists_probed/nprobe and near-exact recall at high nprobe") {
    val rows = RunHarness.run(spark, sf, "ivf",
      qs = QuerySet.default.take(2))
    rows.foreach { r =>
      assert(r.listsProbed.nonEmpty && r.nprobe.contains(32))
      assert(r.recallAtK >= 0.5, s"qid ${r.qid}: ${r.recallAtK}")
    }
  }

  test("post_filter:ivf rides the probed index: stats parity + recall vs exact ladder") {
    val rows = RunHarness.runMany(spark, sf, Seq("post_filter", "post_filter:ivf"),
      qs = QuerySet.default.take(4))
    val byM = rows.groupBy(_.method)
    assert(byM.keySet == Set("post_filter", "post_filter:ivf"))
    // stats-field parity with the exact-scored ladder, PLUS the probe stats
    byM("post_filter:ivf").foreach { r =>
      assert(r.listsProbed.nonEmpty && r.nprobe.contains(32), s"qid ${r.qid}")
      assert(r.notes.exists(n => n.startsWith("ivf-probed") && n.contains("k_ladder=")), r.notes)
      assert(r.recallAtK >= 0.0 && r.recallAtK <= 1.0)
      assert(r.scoredVectors >= r.k, "scored_vectors is the stopping rung")
    }
    byM("post_filter").foreach(r => assert(r.listsProbed.isEmpty && r.nprobe.isEmpty))
    // the index-probed ladder can only see candidates inside the probed
    // lists, so on average it cannot beat the exact-scored ladder (small
    // tolerance: rung-boundary effects when the exact ladder exhausts)
    val mean = (m: String) => byM(m).map(_.recallAtK).sum / byM(m).size
    assert(mean("post_filter:ivf") <= mean("post_filter") + 0.1,
      s"ivf ${mean("post_filter:ivf")} vs exact ${mean("post_filter")}")
    assert(mean("post_filter:ivf") > 0.0, "probed ladder found nothing at nprobe=32")
  }

  test("pq backend: shortlist accounting, exact refined scores, recall floor") {
    val rows = RunHarness.runMany(spark, sf, Seq("exact", "pq"),
      qs = QuerySet.default.take(4))
    val byM = rows.groupBy(_.method)
    byM("pq").foreach { r =>
      // the ADC pass scans EVERY code in the corpus (the code table has no
      // metadata to filter on), so scored_vectors = the full code count —
      // recording the shortlist size would understate the scan ~N/shortlist
      assert(r.scoredVectors == 500, "scored_vectors = the full ADC code scan")
      assert(r.notes.exists(_.startsWith("pq adc m=")), r.notes)
      assert(r.recallAtK >= 0.0 && r.recallAtK <= 1.0)
    }
    val meanPq = byM("pq").map(_.recallAtK).sum / byM("pq").size
    assert(meanPq > 0.0, "pq backend found no oracle hits")
    // summarize must now carry both families (bench_harness.json contract)
    val fams = RunHarness.summarize(rows).map(_._1)
    assert(fams == Seq("exact", "pq"), fams.mkString(","))
  }

  test("sq backend: full byte-scan accounting, refined scores, recall present") {
    val rows = RunHarness.runMany(spark, sf, Seq("exact", "sq"),
      qs = QuerySet.default.take(4))
    val byM = rows.groupBy(_.method)
    byM("sq").foreach { r =>
      // like pq: the asymmetric pass scans EVERY byte code in the corpus
      assert(r.scoredVectors == 500, "scored_vectors = the full SQ code scan")
      assert(r.notes.exists(_.startsWith("sq8 dim=")), r.notes)
      assert(r.recallAtK >= 0.0 && r.recallAtK <= 1.0)
    }
    val meanSq = byM("sq").map(_.recallAtK).sum / byM("sq").size
    assert(meanSq > 0.0, "sq backend found no oracle hits")
  }

  test("ivfpq backend: probe stats + scans only the probed lists' codes") {
    val rows = RunHarness.runMany(spark, sf, Seq("ivf", "ivfpq"),
      qs = QuerySet.default.take(4))
    val byM = rows.groupBy(_.method)
    byM("ivfpq").zip(byM("ivf")).foreach { case (c, f) =>
      assert(c.listsProbed.nonEmpty && c.nprobe.contains(32))
      assert(c.notes.exists(_.startsWith("ivfpq adc")), c.notes)
      assert(c.recallAtK >= 0.0 && c.recallAtK <= 1.0)
      // same probe width over the same persisted halves: the composed
      // code scan covers exactly the rows the flat IVF probe scans
      // BEFORE the metadata filter, so its scanned count can't exceed
      // the unfiltered probe volume
      assert(c.scoredVectors >= f.scoredVectors,
        s"qid ${c.qid}: codes scanned ${c.scoredVectors} < ivf filtered scan ${f.scoredVectors}")
    }
  }

  test("ivfpq_res backend: residual encoding rides the same probe stats; full dial is exact") {
    val rows = RunHarness.runMany(spark, sf, Seq("ivfpq", "ivfpq_res"),
      qs = QuerySet.default.take(4))
    val byM = rows.groupBy(_.method)
    byM("ivfpq_res").zip(byM("ivfpq")).foreach { case (r, p) =>
      assert(r.listsProbed.nonEmpty && r.nprobe.contains(32))
      assert(r.notes.exists(_.startsWith("ivfpq residual-encoded")), r.notes)
      assert(r.recallAtK >= 0.0 && r.recallAtK <= 1.0)
      // both compositions probe the same persisted IVF half at the same
      // width — identical probe volume by construction
      assert(r.scoredVectors == p.scoredVectors,
        s"qid ${r.qid}: residual scan ${r.scoredVectors} != plain ${p.scoredVectors}")
    }
    // wide shortlist dial: recall within reach of exact on the unfiltered
    // query (the refine path is exact over whatever the shortlist admits)
    val full = RunHarness.runMany(spark, sf, Seq("exact", "ivfpq_res:2000"),
      qs = QuerySet.default.filter(_.filters == "{}").take(1))
    val ids = full.groupBy(_.method)
    assert(ids("ivfpq_res:2000").head.recallAtK >= ids("exact").head.recallAtK - 0.2)
  }

  test("summarize aggregates latency/recall per backend (latency_recall twin)") {
    val rows = RunHarness.run(spark, sf, "exact", qs = QuerySet.default.take(3))
    val s = RunHarness.summarize(rows)
    assert(s.length == 1 && s.head._1 == "exact")
    val (_, mean, p50, recall) = s.head
    assert(mean > 0 && p50 > 0 && recall == 1.0)
  }

  test("results.jsonl has the exact field order of the reference") {
    val rows = RunHarness.run(spark, sf, "exact", qs = QuerySet.default.take(1))
    val line = RunHarness.toJsonLines(rows).linesIterator.next()
    val keys = """"([a-z_A-Z]+)":""".r.findAllMatchIn(line).map(_.group(1)).toSeq
    assert(keys == Seq("qid", "method", "K", "latency_ms", "recall_at_k",
      "filter_selectivity", "scored_vectors", "lists_probed", "nprobe",
      "kth_at_stop", "bound_at_stop", "notes", "timestamp_utc", "run_id"),
      keys.mkString(",")) // test_logging_field_order_and_names
    assert(!line.contains("recall@K"))
  }

  test("hybrid_plan: costs equal the harness's scored_vectors; local replay agrees") {
    val spark2 = spark
    import spark2.implicits._
    val got = graft.queries.VectorQueries.hybridPlan(spark, sf)
      .as[(Long, Int, Double, Long, Option[Long], String)].collect().toSeq
    assert(got.map(_._1) == QuerySet.default.map(_.qid))

    // the decision's cost inputs ARE the harness's recorded scored_vectors
    val rows = RunHarness.runMany(spark, sf, Seq("pre_filter", "post_filter"))
      .map(r => (r.qid, r.method) -> r.scoredVectors).toMap
    got.foreach { case (qid, _, _, pre, post, _) =>
      assert(rows((qid, "pre_filter")) == pre, s"qid $qid pre")
      post.foreach(p => assert(rows((qid, "post_filter")) == p, s"qid $qid post"))
    }

    // full local replay of the plan choice
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select("vec_id", "embedding", "label")
      .as[(Long, Array[Float], Option[Int])].collect()
    QuerySet.default.foreach { hq =>
      val allow: ((Long, Array[Float], Option[Int])) => Boolean = hq.qid match {
        case 0 => _ => true
        case 1 => _._3.exists(Set(0, 1, 2))
        case 2 => _._3.exists(_ >= 5)
        case 3 => _._3.exists(_ == 7)
        case 4 => _._3.exists(l => l >= 2 && l <= 6)
        case _ => _._3.exists(_ != 3)
      }
      val ranked = embs
        .map(e => (e._1, graft.search.VecMath.round6(graft.search.VecMath.dot(e._2, hq.qvec)), allow(e)))
        .sortBy(x => (-x._2, x._1))
      val pre = embs.count(allow)
      val post = Seq(200, 500, 1000).find(kp => ranked.take(kp).count(_._3) >= hq.k)
      val chosen = if (post.isEmpty || pre <= post.get) "pre" else "post"
      val g = got.find(_._1 == hq.qid).get
      assert(g._4 == pre && g._5 == post.map(_.toLong) && g._6 == chosen,
        s"qid ${hq.qid}: got $g want ($pre, $post, $chosen)")
      assert(g._3 == graft.search.VecMath.round6(pre.toDouble / embs.length))
    }
    // both plans genuinely occur across the query mix
    assert(got.map(_._6).distinct.length == 2, got.map(_._6).mkString(","))
  }

  test("vec_autotune: decision contract — one pick, min-cost among qualifiers") {
    val spark2 = spark
    import spark2.implicits._
    val out = graft.queries.VectorQueries.vecAutotune(spark, sf)
      .as[(String, Double, Long, Int, Int)].collect().toSeq
    // full ladder present, exact anchors recall 1.0 and qualifies
    assert(out.length == 10, out.map(_._1).mkString(","))
    val exact = out.find(_._1 == "exact").get
    assert(exact._2 == 1.0 && exact._4 == 1)
    // exactly one picked row
    val picked = out.filter(_._5 == 1)
    assert(picked.length == 1, picked.mkString(","))
    val p = picked.head
    // the pick is the min-(cost, name) among QUALIFYING non-exact rows,
    // or the exact fallback when none qualifies
    val qual = out.filter(r => r._1 != "exact" && r._2 >= 0.9)
    if (qual.isEmpty) assert(p._1 == "exact")
    else {
      assert(p._4 == 1 && p._1 != "exact")
      val best = qual.minBy(r => (r._3, r._1))
      assert(p._1 == best._1, s"picked ${p._1}, cheapest qualifier ${best._1}")
      // and it is genuinely cheaper than brute force
      assert(p._3 < exact._3)
    }
    // qualifies flag is consistent with the recall column
    out.foreach(r => assert((r._4 == 1) == (r._2 >= 0.9), r.toString))
    // deterministic decision inputs: a second run agrees on (recall, cost)
    val again = graft.queries.VectorQueries.vecAutotune(spark, sf)
      .as[(String, Double, Long, Int, Int)].collect().toSeq
    assert(again == out)
  }

  test("fused dial ladders: results identical to independent per-dial runs") {
    // the ivfpq shortlist ladder and the lsh radius×tables ladder fuse
    // into one shared pass per query (one Backend answering every dial);
    // every per-dial OBSERVABLE — recall vs the same deterministic oracle, the scanned
    // count, kth-at-stop, lists probed — must equal a standalone run of
    // that dial (which takes the unfused single-backend path)
    def observables(rows: Seq[RunHarness.ResultRow]) =
      rows.map(r => (r.qid, r.method) ->
        (r.recallAtK, r.scoredVectors, r.kthAtStop, r.listsProbed, r.nprobe)).toMap
    for (ram <- Seq(None, graft.queries.VectorQueries.servingTier(spark, sf))) {
      val label = if (ram.isDefined) "ram" else "catalyst"
      val dials = Seq("ivfpq:50", "ivfpq:100", "ivfpq:200",
        "lsh:1", "lsh:1x2", "lsh:2x2")
      val fused = observables(RunHarness.runMany(spark, sf, dials, ram = ram))
      dials.foreach { d =>
        val solo = observables(RunHarness.runMany(spark, sf, Seq(d), ram = ram))
        solo.foreach { case (key, v) =>
          assert(fused(key) == v, s"[$label] $key fused=${fused(key)} solo=$v")
        }
      }
    }
  }

  test("fused ladder timing hook reports one combined key per group") {
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    RunHarness.runMany(spark, sf,
      Seq("exact", "ivfpq:50", "ivfpq:100", "lsh:1", "lsh:2x2"),
      qs = QuerySet.default.take(1),
      onBackendTimed = (n, _) => seen.synchronized { seen += n; () })
    assert(seen.toSet == Set("exact", "ivfpq:50+ivfpq:100", "lsh:1+lsh:2x2"),
      seen.mkString(","))
  }

  test("fusedKeys names each dial's shared timing key (artifact self-description)") {
    // the BaselineProbe dial list: only the two ivfpq dials share a pass
    val keys = RunHarness.fusedKeys(Seq("pq:500", "ivfpq:500", "ivfpq_res:500",
      "pq:1000", "ivfpq:1000", "ivfpq_res:1000", "bq:500", "bq:1000", "bq:5000"))
    assert(keys("ivfpq:500") == "ivfpq:500+ivfpq:1000")
    assert(keys("ivfpq:1000") == "ivfpq:500+ivfpq:1000")
    Seq("pq:500", "pq:1000", "ivfpq_res:500", "ivfpq_res:1000",
      "bq:500", "bq:1000", "bq:5000").foreach(n => assert(keys(n) == n, n))
    // and it matches what the timing hook actually reports (lockstep with
    // buildGroups — the property the field's consumers rely on)
    val seen = scala.collection.mutable.Set.empty[String]
    RunHarness.runMany(spark, sf, Seq("ivfpq:50", "ivfpq:100", "lsh:1", "lsh:2x2"),
      qs = QuerySet.default.take(1),
      onBackendTimed = (n, _) => seen.synchronized { seen += n; () })
    val k2 = RunHarness.fusedKeys(Seq("ivfpq:50", "ivfpq:100", "lsh:1", "lsh:2x2"))
    assert(seen.toSet == k2.values.toSet, s"$seen vs ${k2.values.toSet}")
  }

  test("the CLI session carries graft's extensions") {
    // RunHarness.main's own session, opened in a child JVM: the shared
    // test session already exists here, and getOrCreate would return it
    val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(a => a.startsWith("--add-opens") || a.startsWith("-Dspark."))
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx512m") ++ jvmFlags ++
      Seq("-cp", sys.props("java.class.path"), "graft.HarnessCliChild")
    val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
    pb.environment().put("SPARK_GRAFT_CPUS", "1")
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream, "UTF-8").mkString
    val tail = out.linesIterator.toSeq.takeRight(40).mkString("\n")
    assert(proc.waitFor() == 0, tail)
    assert(out.contains(HarnessCliChild.Ok), tail)
  }
}
