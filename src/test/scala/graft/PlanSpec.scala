package graft

import graft.queries._
import graft.search.{QuerySet, QueryVectors, VectorSearch}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape audit (SURVEY.md §5): the properties that make these
  * operators survive a 100× scale-up are asserted here against the
  * optimized physical plans, so a regression in pushdown/broadcast/top-K
  * shape fails CI rather than only showing up in a cluster bill.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter DSL predicates push into the parquet scan") {
    val p = plan(FilterQueries.filterEq(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)]"), p)
  }

  test("filter queries prune columns at the scan (ReadSchema)") {
    val p = plan(FilterQueries.filterEq(spark, sf))
    // only the 3 selected columns are read, not the whole customer table
    assert(p.contains("ReadSchema: struct<c_custkey:bigint,c_name:string,c_mktsegment:string>"), p)
  }

  test("bm25 scans documents at most twice (postings + stats), term filter below the shuffle") {
    val df = graft.text.Bm25.topK(Tables.documents(spark, sf),
      graft.text.Bm25.DefaultTerms, 20)
    val p = plan(df)
    // exactly 2 scans of documents: the term-filtered postings pass and the
    // column-pruned stats aggregate. A regression to a groupBy-and-join-back
    // df (3rd scan) or a per-term pass would show here.
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 documents scans, got $scans\n$p")
    // the term filter sits in the scan stage (below any Exchange): the
    // explode's output is filtered before the tf shuffle
    assert(p.contains("token#") && p.contains("Exchange"), p)
    val firstExchange = p.indexOf("Exchange")
    assert(p.indexOf("vector") > firstExchange,
      s"term-literal filter should appear below the first Exchange\n$p")
    // top-k is a TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("brute-force topK plans as TakeOrderedAndProject (no global sort)") {
    val p = plan(VectorSearch.topK(Tables.embeddings(spark, sf), QueryVectors.qvec(0), 10))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortExec"), p)
  }

  test("prefilter topK pushes the label filter to the scan") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(VectorSearch.topK(emb, QueryVectors.qvec(0), 10,
      Some(org.apache.spark.sql.functions.col("label").isin(0, 1, 2))))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("PushedFilters: [In(label, [0,1,2])]"), p)
  }

  test("q3 broadcasts the customer dim") {
    val p = plan(RelationalQueries.q3Priority(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q5 broadcasts region/nation/supplier dims") {
    val p = plan(RelationalQueries.q5Region(spark, sf))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"expected >=3 broadcast joins, got $broadcasts\n$p")
  }

  test("whole-stage codegen covers the vector scoring hot path") {
    val p = plan(VectorSearch.topK(Tables.embeddings(spark, sf), QueryVectors.qvec(0), 10))
    // the "*(n)" prefix marks operators inside a WholeStageCodegen stage;
    // the scoring Project must carry it
    assert(p.linesIterator.exists(l => l.contains("*(1) Project") && l.contains("dot_f32")), p)
  }

  test("hybrid query batch keeps per-query TakeOrdered shape") {
    val p = plan(QuerySet.runAll(Tables.embeddings(spark, sf)))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("IVF index written partitionBy(list_id) is partition-PRUNED at probe time") {
    val emb = Tables.embeddings(spark, sf)
    val model = graft.search.Ivf.build(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf").resolve("idx").toString
    model.write(dir)
    // a zero serving budget: the above-budget (on-disk) path under test
    val loaded = graft.search.Ivf.load(spark, dir, 0L) // centroids round-trip from disk
    assert(loaded.centroids.map(_.toSeq) sameElements model.centroids.map(_.toSeq))
    val p = plan(loaded.search(QueryVectors.qvec(0), nprobe = 2, k = 5))
    // the isin(list_id) probe must land in PartitionFilters (pruned I/O),
    // not as a post-scan data filter
    assert(p.contains("PartitionFilters: [list_id"), p)
    val exact = VectorSearch.topK(emb, QueryVectors.qvec(0), 5)
      .collect().map(_.getLong(0)).toSet
    val probed = loaded.search(QueryVectors.qvec(0), nprobe = 8, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(probed == exact) // all lists probed == exact, through the pruned path
  }

  test("batched IVF searchMany stays partition-pruned over the union of probed lists") {
    val emb = Tables.embeddings(spark, sf)
    val model = graft.search.Ivf.build(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivf_many").resolve("idx").toString
    model.write(dir)
    val loaded = graft.search.Ivf.load(spark, dir, 0L) // above-budget path
    val qs = QueryVectors.batch(3)
    val p = plan(loaded.searchMany(qs, nprobe = 2, k = 5))
    // ONE scan, pruned to the probed-list union — not one scan per query
    assert(p.contains("PartitionFilters: [list_id"), p)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("q2 argmin join: dims broadcast, top-20 stays TakeOrdered, no cross join") {
    val p = plan(RelationalQueries.q2MinSupplier(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p)
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"part/supplier/nation must broadcast, got $broadcasts\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("range join plans as a banded equi-join, never a nested-loop/cartesian") {
    val p = plan(RelationalQueries.ordersOpenBook(spark, sf))
    // the entire point of RangeJoin: the BETWEEN predicate must ride an
    // equi-join on the bin key, not a O(N*M) nested-loop plan
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
           p.contains("ShuffledHashJoin"), p)
  }

  test("q13 keeps the OUTER join so zero-order customers survive the filter") {
    val p = plan(RelationalQueries.q13Custdist(spark, sf))
    assert(p.contains("LeftOuter"), p) // a WHERE rewrite would plan Inner
    // two aggregate grains (customer, then distribution), each map-side partial
    assert("HashAggregate".r.findAllIn(p).length >= 4, p)
  }

  test("q21 plans stacked EXISTS/NOT EXISTS as semi + anti joins, no explosion") {
    val p = plan(RelationalQueries.q21SoleFault(spark, sf))
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("IVFPQ probe is partition-pruned AND reads only the m-byte codes") {
    val emb = Tables.embeddings(spark, sf)
    val ivf = graft.search.Ivf.build(emb, nlist = 8)
    val pq = graft.search.Pq.build(emb, m = 8, kCodes = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfpq").resolve("idx").toString
    graft.search.IvfPq.write(graft.search.IvfPq.compose(ivf, pq), dir)
    val loaded = graft.search.IvfPq.load(spark, dir, ivf, pq, 0L) // above-budget path
    val p = plan(loaded.searchNoRefine(QueryVectors.qvec(0), nprobe = 2, k = 5))
    // both prunings must show at the scan: the probe lands in
    // PartitionFilters (list-level I/O skip) and ReadSchema carries the
    // code column only — the flat vectors are never touched
    assert(p.contains("PartitionFilters: [list_id"), p)
    assert(p.contains("ReadSchema: struct<vec_id:bigint,pq_codes:array<int>>"), p)
    assert(!p.contains("embedding"), p)
  }

  test("chunker and up-sampler are generate-over-scan — no shuffle before the presentation sort") {
    // both explode row-locally where the doc is read; the only Exchange
    // is the final ORDER BY's range partitioning (presentation order)
    Seq(queries.TextQueries.textChunks(spark, sf),
        queries.PipelineQueries.sampleUpweight(spark, sf)).foreach { df =>
      val p = plan(df)
      assert("Generate (pos)?explode".r.findFirstIn(p).nonEmpty, p)
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(!p.contains("Window"), p)
    }
  }

  test("corpus_shuffle is a range-partitioned sort — no window, no single task") {
    val p = plan(queries.PipelineQueries.corpusShuffle(spark, sf))
    assert(p.contains("rangepartitioning"), p) // distributed sample→range→sort
    assert(!p.contains("Window"), p)           // no global row_number
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("stratified sample is a scan-level projection filter reading two columns") {
    val p = plan(queries.PipelineQueries.sampleStratified(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), p) // presentation sort only
    assert(p.contains("ReadSchema: struct<doc_id:bigint,lang:string>"), p)
  }

  test("decontamination joins shingle IDS, never documents pairwise") {
    val p = plan(queries.PipelineQueries.decontaminate(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the equi-join key is the 64-bit shingle id, not the string (r21:
    // the ids come from the codegen'd token_set_ids — same xxhash64
    // values, compiled instead of a transform lambda)
    assert(p.contains("token_set_ids"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p) // map-side partial count
  }

  test("bloom decontamination probes the sketch scan-side, before the shuffle") {
    val df = queries.PipelineQueries.decontaminateBloom(spark, sf)
    val p = plan(df)
    // the probe must sit in the plan as a Filter on the corpus side…
    assert(p.contains("bloom_might_contain_long"), p)
    // …and never degrade the join to a pairwise shape
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the probe is UPSTREAM of the join: in the tree string the filter
    // line carrying the probe is indented deeper than the join node
    val lines = p.linesIterator.toVector
    val joinLine = lines.indexWhere(l => l.contains("Join") || l.contains("HashJoin"))
    val probeLine = lines.indexWhere(_.contains("bloom_might_contain_long"))
    assert(joinLine >= 0 && probeLine > joinLine,
      s"probe (line $probeLine) should be below/inside the join (line $joinLine)")
  }

  test("dup-spans volume pass shuffles fingerprints, strings only post-probe") {
    val df = queries.TextQueries.textDupSpans(spark, sf)
    val p = plan(df)
    // gram fingerprints exist (the codegen'd gram_hashes window pass —
    // r21; previously a transform+xxhash64 lambda) and the Bloom probe
    // sits in the plan as a scan-side filter
    assert(p.contains("gram_hashes"), p)
    assert(p.contains("bloom_might_contain_long"), p)
    // the gram STRING (array_join) is built only DOWNSTREAM of the probe:
    // in the tree string a parent (downstream op) prints above its child,
    // so every array_join line must come before the probe-filter line —
    // an array_join after it would mean strings built in the volume pass
    val lines = p.linesIterator.toVector
    val probeLine = lines.indexWhere(_.contains("bloom_might_contain_long"))
    val joinStr = lines.zipWithIndex.filter(_._1.contains("array_join")).map(_._2)
    assert(probeLine >= 0, p)
    assert(joinStr.nonEmpty && joinStr.forall(_ < probeLine),
      s"array_join at lines $joinStr vs probe at $probeLine — a gram string is built upstream of the probe")
    // and nothing degrades to a pairwise shape
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("incremental dedup reads the persisted band table — corpus never re-hashed") {
    // plan STRINGS truncate on trees this deep (maxToStringFields), so the
    // pins walk the optimized logical plan programmatically
    val lp = queries.DedupQueries.dedupIncremental(spark, sf).queryExecution.optimizedPlan
    // 1. the corpus side arrives as a scan of the published band table —
    //    re-mining would replace it with a signature branch over documents
    val scanPaths = lp.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            h.location.rootPaths.map(_.toString).mkString(",")
          case _ => ""
        }
    }
    assert(scanPaths.exists(_.contains("graft-dedup-bands")),
      s"no band-table scan in:\n${scanPaths.mkString("\n")}")
    // 2. every minhash_signature branch sits above the batch restriction
    //    (doc_id % 10 = 0): only the new batch's text is ever hashed
    val sigPlans = lp.collect {
      case p if p.expressions.exists(_.collectFirst {
        case m: org.apache.spark.sql.graft.MinHashSignature => m }.nonEmpty) => p
    }
    assert(sigPlans.nonEmpty, "no signature branch found — did the batch side change?")
    sigPlans.foreach { sp =>
      val batchFiltered = sp.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.toString.contains("pmod") && f.condition.toString.contains("= 0") => f
      }.nonEmpty
      assert(batchFiltered, s"signature branch without the batch filter:\n$sp")
    }
  }

  test("scrub and repetition are shuffle-free projections") {
    val sc = plan(graft.text.TextAnalysis.withScrub(
      Tables.events(spark, sf), "event_id", "props"))
    assert(!sc.contains("Exchange"), sc)
    val rep = plan(graft.text.TextAnalysis.withRepetition(Tables.documents(spark, sf)))
    assert(!rep.contains("Exchange"), rep)
  }

  test("jaccard mining joins: hash joins at gate scale, broadcast sub-block key join") {
    val p = plan(graft.dedup.Dedup.jaccardPairs(Tables.documents(spark, sf), 0.95))
    // smallSource dial (< 16 MB): the salted candidate join and the
    // payload re-joins are SHUFFLE_HASH — no sort-merge sorts anywhere
    // in the mining pipeline at this scale
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the oversized-block key join must never shuffle the stream side
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("simhash signatures are row-local (no aggregate, no explode)") {
    val p = plan(graft.dedup.Dedup.simhashSignatures(Tables.documents(spark, sf)))
    // the signature is one codegen'd projection per row: a HashAggregate or
    // Generate here would mean the corpus-sized token shuffle came back
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("Generate"), p)
  }

  test("text pipelines are scan-only (no Exchange)") {
    val p = plan(graft.text.TextAnalysis.withQuality(Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"), p)
  }

  test("frame sampling and train/val split are shuffle-free projections") {
    val fs = plan(graft.multimodal.Multimodal.sampleFrames(
      graft.multimodal.Multimodal.withPayload(Tables.documents(spark, sf))))
    assert(!fs.contains("Exchange"), fs)
    // the split adds no hash shuffle — only the presentation sort's range
    // exchange may appear
    val sp = plan(queries.PipelineQueries.splitTrainVal(spark, sf))
    assert(!sp.contains("Exchange hashpartitioning"), sp)
  }

  test("corpus_mix scans the corpus once (totals via bounded window, not a re-scan)") {
    val p = plan(queries.PipelineQueries.corpusMix(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    // partial aggregation below the source shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("text_phrase: one scan, no hash shuffle (row-local sequence matching)") {
    val p = plan(queries.TextQueries.textPhrase(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 documents scan, got $scans\n$p")
    // per-phrase union would re-read the corpus; the explode(array(...))
    // shape must keep a single scan with only the presentation sort's
    // range exchange
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("corpus_dsir: model joins back as broadcast; doc agg partials below its shuffle") {
    val p = plan(queries.PipelineQueries.corpusDsir(spark, sf))
    // the ≤4096-row log-ratio model must broadcast — a sort-merge join here
    // would shuffle the whole exploded feature stream by bucket at 100 TB
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"model join must not shuffle features\n$p")
    // per-doc sum partial-aggregates before the one doc_id shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("bpe word histogram: map-side partial counts + TakeOrdered cap") {
    val p = plan(graft.text.Bpe.wordHistogramDf(Tables.documents(spark, sf), 1000))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortExec"), s"cap must not plan a global sort\n$p")
  }

  test("semantic dedup pairs join on list_id — never a cartesian/nested-loop") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(graft.dedup.SemDedup.semanticDedup(emb, tau = 0.4, k = 4))
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoop"), p)
  }

  test("text_vocab aggregates with map-side partial aggregation") {
    val p = plan(queries.TextQueries.textVocab(spark, sf))
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("bucketed tables join co-located: no Exchange on either side") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    // force the sort-merge path (tiny test tables would broadcast and
    // hide the property being asserted)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(spark, sf).select("o_orderkey", "o_totalprice"),
        "orders_bkt", "o_orderkey")
      graft.sources.Bucketing.writeBucketed(
        Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity"),
        "lineitem_bkt", "l_orderkey")
      val joined = graft.sources.Bucketing.colocatedJoin(
        spark, "orders_bkt", "lineitem_bkt", "o_orderkey", "l_orderkey")
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), p)
      assert(!p.contains("Exchange"), p) // co-located: bucket files align
      // and the join is still CORRECT
      val got = joined.count()
      val want = Tables.orders(spark, sf).join(Tables.lineitem(spark, sf),
        col("o_orderkey") === col("l_orderkey")).count()
      assert(got == want)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS lineitem_bkt")
    }
  }

  test("bucketed_join gate row: the only Exchange is the 5-row rollup's, never the join's") {
    // force SMJ (the sf0.001 tables would broadcast and hide the property)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(queries.IngestQueries.bucketedJoin(spark, sf))
      assert(p.contains("SortMergeJoin"), p)
      // the fact-fact join reads aligned bucket files — NO Exchange at or
      // below it (the exchanges above it repartition the ≤5-row rollup)
      val below = p.substring(p.indexOf("SortMergeJoin"))
      assert(!below.contains("Exchange"), below)
      assert(below.contains("Bucketed: true"), below)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("q9_bucketed / q18_bucketed: the fact-fact join reads bucket files with no Exchange") {
    // force SMJ + AQE off (the #299/#302 pin discipline): the tiny test
    // tables would broadcast and AdaptiveSparkPlanExec hides children
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      Seq(queries.RelationalQueries.q9Bucketed(spark, sf),
          queries.RelationalQueries.q18Bucketed(spark, sf)).foreach { df =>
        val exec = df.queryExecution.executedPlan
        val factJoins = exec.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
            if j.leftKeys.map(_.toString).exists(_.contains("orderkey")) => j
        }
        assert(factJoins.nonEmpty, exec.toString)
        factJoins.foreach { j =>
          val sub = j.toString
          assert(!sub.contains("Exchange"), sub)
          assert(sub.contains("Bucketed: true"), sub)
        }
      }
      // q18's order-grain aggregate ALSO rides the bucketing: grouping
      // key = bucket key, so no Exchange sits at or below it either
      val aggExec = queries.RelationalQueries.q18Bucketed(spark, sf)
        .queryExecution.executedPlan
      val aggs = aggExec.collect {
        case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec
          if a.groupingExpressions.map(_.toString).exists(_.contains("l_orderkey")) => a
      }
      assert(aggs.nonEmpty, aggExec.toString)
      aggs.foreach(a => assert(!a.toString.contains("Exchange"), a.toString))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("dedup_simhash_bucketed: the hamming blocking self-join plans no Exchange") {
    // force SMJ (the sf0.001 chunk table would broadcast and hide the
    // co-location property); AQE off so executedPlan is the real tree
    // (AdaptiveSparkPlanExec hides its children from collect())
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = queries.DedupQueries.dedupSimhashBucketed(spark, sf)
        .queryExecution.executedPlan
      // the BLOCKING self-join is the SMJ keyed on (cid, cval); the
      // doc-expansion joins above it legitimately shuffle (sig-pair
      // dedup + two sig-keyed key joins), so assert on its SUBTREE:
      // both sides read the SAME (cid, cval)-bucketed table and the
      // planner inserts no Exchange at or below the join
      val blocking = exec.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.map(_.toString).exists(_.contains("cid")) => j
      }
      assert(blocking.nonEmpty, exec.toString)
      blocking.foreach { j =>
        val sub = j.toString
        assert(!sub.contains("Exchange"), sub)
        assert(sub.contains("Bucketed: true"), sub)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("dedup_minhash_bucketed: the corpus band side joins without an Exchange") {
    // force SMJ + AQE off, as in the #299 pin: the batch side's Exchange
    // into the corpus's bucketing is the point — only the CORPUS side
    // (the 100 TB side) must read its bucket files with no shuffle
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = queries.DedupQueries.dedupMinhashBucketed(spark, sf)
        .queryExecution.executedPlan
      val bandJoins = exec.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if j.leftKeys.map(_.toString).exists(_.contains("band")) => j
      }
      // batch×corpus is the join whose build side reads the bucketed
      // table; batch×batch (both sides fresh) legitimately shuffles both
      val colocated = bandJoins.filter(_.right.toString.contains("Bucketed: true"))
      assert(colocated.nonEmpty, exec.toString)
      colocated.foreach { j =>
        val sub = j.right.toString
        assert(!sub.contains("Exchange"), sub)
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("dedup_minhash_bucketed: the verify prune is a PLANNED broadcast semi-join") {
    // the r18 design-regime fix (BASELINE §3m addendum): the exact-verify
    // payload is pruned by candidate ids through an explicitly planned
    // BroadcastHashJoin LeftSemi — the corpus text is scanned, never
    // shuffled, before tokenization. An AQE-converted broadcast would
    // still pay the corpus side's shuffle WRITE (measured 843 MB at
    // 1000×), so the pin asserts the broadcast exists in the PLANNED
    // tree (AQE off, like the sibling pin — collect does not descend
    // into AdaptiveSparkPlanExec) with no Exchange between the
    // documents scan and the semi-join's streamed side.
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = queries.DedupQueries.dedupMinhashBucketed(spark, sf)
        .queryExecution.executedPlan
      val semis = exec.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }
      assert(semis.nonEmpty, s"verify prune must plan a broadcast semi-join\n$exec")
      semis.foreach { j =>
        // the streamed (corpus) side must reach the scan with no Exchange
        assert(!j.left.toString.contains("Exchange"),
          s"corpus side of the verify prune must not shuffle\n${j.left}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("as-of join: exactly one Exchange (the key shuffle), no join operator") {
    val p = plan(EventQueries.eventsAsof(spark, sf))
    // the union+window encoding must not plan a join (pair explosion) and
    // must shuffle once on user_id; the final orderBy adds a range
    // exchange over the tiny purchase-grain result, which is fine
    assert(!p.contains("Join"), p)
    // exactly one user_id-only exchange feeds the carry-forward window
    // (the clicks' (user_id, ts) dedup pre-aggregate adds its own)
    val keyEx = """hashpartitioning\(user_id#\d+L, \d+\)""".r.findAllIn(p).length
    assert(keyEx == 1, s"expected 1 user_id exchange, got $keyEx\n$p")
  }

  test("q10 pushes the returnflag filter and broadcasts nation") {
    val p = plan(RelationalQueries.q10Returns(spark, sf))
    assert(p.contains("EqualTo(l_returnflag,R)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1_rollup expands grouping sets in one pass (single Expand, one agg shuffle)") {
    val p = plan(RelationalQueries.q1Rollup(spark, sf))
    assert("ExpandExec|Expand".r.findAllIn(p).nonEmpty, p)
    // count only ENSURE_REQUIREMENTS hash exchanges: the r21 Spread rule
    // adds one REPARTITION_BY_COL input-balancing exchange at one-split
    // gate scale (skipped on parallel inputs), which is not an agg shuffle
    val hashEx = "hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r.findAllIn(p).length
    assert(hashEx == 1, s"expected 1 agg exchange, got $hashEx\n$p")
  }

  test("range search: score filter stays in a codegen'd stage, no sort before filter") {
    val p = plan(VectorSearch.rangeSearch(
      Tables.embeddings(spark, sf), QueryVectors.qvec(0), 0.2))
    // survivor set is filtered at scan-projection time (the Filter carries
    // the scoring expression itself); only the tiny result is sorted, so
    // Sort sits ABOVE Filter in the plan
    val lines = p.linesIterator.toSeq
    val filterAt = lines.indexWhere(l => l.contains("Filter") && l.contains("dot_f32"))
    val sortAt = lines.indexWhere(_.contains("Sort "))
    assert(filterAt >= 0, p)
    assert(sortAt >= 0 && sortAt < filterAt, s"sort must be above filter\n$p")
  }

  test("events_rolling windows over the day-grain pre-aggregate, not raw events") {
    val p = plan(EventQueries.eventsRolling(spark, sf))
    // Window must sit above HashAggregate (pre-agg first), and the raw
    // scan must aggregate map-side (partial) before the day shuffle
    val lines = p.linesIterator.toSeq
    val winAt = lines.indexWhere(_.contains("Window"))
    val aggAt = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(winAt >= 0 && aggAt > winAt, s"window/agg order wrong\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"), p)
  }

  test("events_window aggregates with map-side partial aggregation") {
    val p = plan(EventQueries.eventsWindow(spark, sf))
    // partial then final HashAggregate around the single shuffle
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("events_quantiles: ONE events scan feeds rank selection; quantile list broadcast") {
    val p = plan(EventQueries.eventsQuantiles(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 events scan, got $scans\n$p")
    // the 3-row quantile table joins without an Exchange of the ranked side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"), p)
    // percentile aggregate never appears — this is the rank-selection shape
    assert(!p.contains("percentile"), p)
  }

  test("sample_weighted ranks per source with the bounded-heap operator, not a window sort") {
    val p = plan(PipelineQueries.sampleWeighted(spark, sf))
    assert(p.contains("TopKPerKey"), p)
    // the window only ranks the <= k*sources survivors — it must sit ABOVE
    // the TopKPerKey in the plan (applied to its output)
    val lines = p.linesIterator.toSeq
    val winAt = lines.indexWhere(l => l.contains("Window"))
    val topAt = lines.indexWhere(l => l.contains("TopKPerKey"))
    assert(winAt >= 0 && topAt > winAt, s"window/topk order wrong\n$p")
  }

  test("orders_reconcile: one full-outer key join, no cartesian anywhere") {
    val p = plan(RelationalQueries.ordersReconcile(spark, sf))
    assert(p.contains("FullOuter"), p)
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
  }

  test("corpus_prune_quantile: documents scanned at most twice; threshold join broadcast") {
    val p = plan(PipelineQueries.corpusPruneQuantile(spark, sf))
    // one scan feeds the ranking window, one the kept-side join (the
    // quality projection is recomputed, not shuffled twice)
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans <= 4, s"documents scanned $scans times\n$p")
    assert(p.contains("BroadcastExchange"), p)
  }

  test("text_entropy: one scan, zero shuffle before the output sort") {
    val p = plan(TextQueries.textEntropy(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans\n$p")
    // the only Exchange is the rangepartitioning of the final orderBy —
    // no hash Exchange means no per-character (or any) shuffle
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("text_winnowing: one scan, selection row-local, no hash shuffle") {
    val p = plan(TextQueries.textWinnowing(spark, sf))
    val scans = "Scan parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 scan, got $scans\n$p")
    assert(p.contains("winnow_fingerprints"), p)
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("layout_hilbert: key computed in one codegen'd projection over one scan + tiny bounds agg") {
    val p = plan(PipelineQueries.layoutHilbert(spark, sf))
    assert(p.contains("hilbert_index"), p)
    assert(p.contains("BroadcastExchange"), p) // in-plan bounds, no literals
    // top-500 by key is a TakeOrdered, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("events_attribution: purchase/touch join is a single user_id equi-join, no cartesian") {
    val p = plan(EventQueries.eventsAttribution(spark, sf))
    assert(!p.contains("Cartesian") && !p.contains("BroadcastNestedLoop"), p)
    // the time-window predicate rides the join, not a post-join filter of
    // a wider product: join condition mentions the microsecond bound
    assert(p.contains("604800000000"), p)
  }

  test("text_collocations: bigram extraction is row-local (no per-doc window sort)") {
    val p = plan(TextQueries.textCollocations(spark, sf))
    // a posexplode+lag formulation would plan a Window; the transform
    // formulation must not
    assert(!p.contains("Window"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1_cube plans ONE Expand feeding one aggregate (no per-group-set scans)") {
    val p = plan(AnalyticsQueries.q1Cube(spark, sf))
    assert("Expand".r.findAllIn(p).length == 1, p)
    assert("Scan parquet".r.findAllIn(p).length == 1, p)
  }

  test("fk_audit broadcasts the dims and never builds a cartesian product") {
    val p = plan(AnalyticsQueries.fkAudit(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.toLowerCase.contains("leftanti"), p)
  }

  test("basket_pairs broadcasts the part dim and the brand frequency sides") {
    val p = plan(AnalyticsQueries.basketPairs(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("part_skyline never sorts globally and keeps the window per bucket") {
    val p = plan(AnalyticsQueries.partSkyline(spark, sf))
    // the in-bucket running max is PARTITIONED on the bucket key — an
    // empty-partitionBy window (single-partition shape) would print
    // windowspecdefinition( without a leading partition column
    assert(p.contains("windowspecdefinition(__b"), p)
    assert(!p.contains("windowspecdefinition(p_retailprice"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("events_dedup_window is ONE keyed exchange + window + aggregate") {
    val p = plan(EventQueries.eventsDedupWindow(spark, sf))
    // exactly one shuffle introduces the (user, type) clustering; the
    // final orderBy adds a bounded range exchange over <=|types| rows
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges\n$p")
  }

  test("text_cdc_chunks runs the native boundary expression with zero joins") {
    val df = TextQueries.textCdcChunks(spark, sf)
    val p = plan(df)
    assert(p.contains("cdc_boundaries"), p)
    assert(!p.contains("Join"), p)
  }

  test("geo_knn plans the bounded TopKPerKey operator, not a global sort") {
    val p = plan(VectorQueries.geoKnn(spark, sf))
    assert(p.contains("TopKPerKey"), p)
  }
}
