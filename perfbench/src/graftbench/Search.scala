package graftbench

import graft.Tables
import graft.dedup.Dedup
import graft.filters.FilterDsl
import graft.operators.Pin
import graft.search._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** A filter as graft receives it (the JSON DSL) and as the oracle applies
  * it to a row (vec_id, label). */
final case class Filter(json: String, allow: (Long, Int) => Boolean)

/** The serving structures one setup builds over `meta`, the corpus frame
  * that carries every filterable column; a workload that serves only the
  * RAM tier builds no IVF indexes. */
final case class Index(meta: DataFrame, ram: RamCorpus, ivf: Option[IvfModel] = None,
                       ivfpq: Option[IvfPqModel] = None)

/** One search answer and the counts the layer metrics need. */
final case class Answer(ids: Array[Long], scored: Long, ramPath: Boolean,
                        retries: Int = 0, keptRatio: Double = 0.0)

/** Hybrid top-K through graft's public calls: the RAM tier when the filter
  * is label-only (RamCorpus.labelPredicate accepts it), Catalyst otherwise. */
object Serve {
  val K = 10
  val NProbe = 32
  val Ladder: Seq[Int] = Seq(200, 500, 1000)
  val Shortlist = 100

  def search(tr: Tracer, ix: Index, backend: String, q: Array[Float], f: Filter): Answer = {
    val (pred, lp) = tr.span("filters.compile") {
      val spec = FilterDsl.parseJson(f.json)
      (if (spec.isEmpty) None else Some(FilterDsl.compile(ix.meta, spec)),
        RamCorpus.labelPredicate(spec))
    }
    val ram = lp.isDefined
    tr.span(s"search.$backend")(backend match {
      case "pre_filter" => lp match {
        case Some(p) => Answer(ix.ram.topK(q, K, p).map(_._1).toArray, 0, ram)
        case None =>
          Answer(VectorSearch.topK(ix.meta, q, K, pred).collect().map(_.getLong(0)), 0, ram)
      }
      case "post_filter" => lp match {
        case Some(p) =>
          // the reference's rung walk: a rung that keeps < K is a retry
          val cand = ix.ram.topCandidates(q, Ladder.max, p).toArray
          var retries = 0
          var rung = 0
          val it = Ladder.iterator
          var done = false
          while (it.hasNext && !done) {
            rung = it.next()
            if (cand.take(rung).count(_._3) >= K) done = true else retries += 1
          }
          val kept = cand.take(rung).filter(_._3)
          Answer(kept.take(K).map(_._1), rung, ram, retries, kept.length.toDouble / rung)
        case None =>
          val ids = VectorSearch.postFilterLadder(ix.meta, q, pred.getOrElse(lit(true)), K, Ladder)
            .collect().map(_.getLong(0))
          Answer(ids, Ladder.max, ram)
      }
      case "ivf" =>
        val ivf = ix.ivf.get
        val lists = tr.span("search.ivf.probe")(ivf.probes(q, NProbe))
        val probed = ivf.indexed.where(col("list_id").isin(lists: _*))
        val (rows, scanned) = tr.span("search.ivf.scan")(
          VectorSearch.topKWithCount(pred.map(probed.where).getOrElse(probed), q, K))
        Answer(rows.map(_._1).toArray, scanned, ram)
      case "ivfpq" =>
        val m = ix.ivfpq.get
        val lists = tr.span("search.ivfpq.probe")(m.ivf.probes(q, NProbe))
        val short = tr.span("search.ivfpq.adc")(m.coded.where(col("list_id").isin(lists: _*))
          .select(col("vec_id"), round(m.pq.adcScore(q), 6).as("adc"))
          .orderBy(desc("adc"), col("vec_id")).limit(Shortlist)
          .collect().map(_.getLong(0)))
        val top = tr.span("search.ivfpq.refine")(lp match {
          case Some(p) => ix.ram.scoreIds(q, short, K, p).map(_._1).toArray
          case None =>
            val spark = ix.meta.sparkSession
            import spark.implicits._
            val ids = broadcast(short.toSeq.toDF("vec_id"))
            VectorSearch.topK(ix.meta.join(ids, "vec_id"), q, K, pred).collect().map(_.getLong(0))
        })
        Answer(top, lists.map(l => m.listSizes.getOrElse(l, 0L)).sum, ram)
    })
  }

  /** Build every serving structure over `meta` from scratch, persisting
    * the two index artifacts under `dir`. Returns seconds per phase. */
  def build(ctx: Ctx, meta: DataFrame, dir: String, nlist: Int,
            seed: Long): (Index, Seq[(String, Double)]) = {
    val spark = ctx.spark
    val (ram, tRam) = ctx.secs(RamCorpus.build(meta))
    // k-means trains on a sample of 20 points per centroid, not the whole
    // corpus (the same sampling a large corpus needs)
    val (ivf, tIvf) = ctx.secs {
      Ivf.build(meta, nlist, seed, maxIter = 10, maxTrainRows = 20L * nlist).write(s"$dir/ivf")
      Ivf.load(spark, s"$dir/ivf")
    }
    val (pq, tPq) = ctx.secs(Pq.build(meta, seed = seed, maxTrainRows = 20L * 256))
    val (ivfpq, tIvfPq) = ctx.secs {
      IvfPq.write(IvfPq.compose(ivf, pq), s"$dir/ivfpq")
      val m = IvfPq.load(spark, s"$dir/ivfpq", ivf, pq)
      m.listSizes
      m
    }
    (Index(meta, ram, Some(ivf), Some(ivfpq)),
      Seq("ram_pin" -> tRam, "ivf_build" -> tIvf, "pq_build" -> tPq, "ivfpq_build" -> tIvfPq))
  }

  /** Per-backend tallies behind the search layer metrics. */
  final class Tally {
    val ms = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
    val scored = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val recall = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
    val n = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    var retries, kept = 0.0
    var ramPath = 0

    def add(backend: String, a: Answer, allowed: Long, rec: Double, latMs: Double): Unit = {
      ms.getOrElseUpdate(backend, mutable.ArrayBuffer.empty) += latMs
      scored(backend) += (if (backend == "pre_filter") allowed.toDouble else a.scored.toDouble)
      recall(backend) += rec
      n(backend) += 1
      if (a.ramPath) ramPath += 1
      if (backend == "post_filter" && a.ramPath) { retries += a.retries; kept += a.keptRatio }
    }

    def total: Int = n.values.sum
    def meanRecall: Double = if (total == 0) 0.0 else recall.values.sum / total

    def layers(tr: Tracer): Map[String, Double] = {
      val pf = ms.get("post_filter").map(_ => n("post_filter")).getOrElse(0)
      val spans = tr.selfMs
      val counts = tr.counts
      def meanSpan(s: String) = spans.get(s).map(_ / counts(s)).getOrElse(0.0)
      Layers.backends.flatMap { b =>
        val k = n(b).max(1)
        Seq(s"search.$b.p50_ms" -> Main.median(ms.getOrElse(b, Nil).toSeq),
          s"search.$b.scored_vectors" -> scored(b) / k, s"search.$b.recall" -> recall(b) / k)
      }.toMap ++ Map(
        "filters.compile_ms" -> meanSpan("filters.compile"),
        "filters.ram_path_frac" -> ramPath.toDouble / total.max(1),
        "search.ivf.probe_ms" -> meanSpan("search.ivf.probe"),
        "search.ivfpq.probe_ms" -> meanSpan("search.ivfpq.probe"),
        "search.post_filter.retries" -> (if (pf > 0) retries / pf else 0.0),
        "search.post_filter.kept_ratio" -> (if (pf > 0) kept / pf else 0.0),
        "search.recall_at_k" -> meanRecall)
    }
  }

  /** Run one search request as an operation of `kind` and check it:
    * pre_filter must equal the oracle's ids in order; every answer must
    * hold distinct allowed ids, at most K of them. */
  def request(ctx: Ctx, tally: Tally, kind: String, ix: Index, backend: String,
              q: Array[Float], f: Filter, truth: => (Array[Long], Int),
              allowed: Long => Boolean): Unit = {
    ctx.op(kind) { corrupt =>
      val t0 = System.nanoTime()
      val ans = search(ctx.tracer, ix, backend, q, f)
      val latMs = (System.nanoTime() - t0) / 1e6
      () => {
        val ids = if (corrupt) ans.ids :+ ans.ids.headOption.getOrElse(-1L) else ans.ids
        val (exact, nAllowed) = truth
        val valid = ids.length <= K && ids.distinct.length == ids.length && ids.forall(allowed)
        val rec = if (nAllowed == 0) 1.0 else ids.count(exact.contains).toDouble / math.min(K, nAllowed)
        if (ctx.recording) tally.add(backend, ans, nAllowed, rec, latMs)
        valid && (backend != "pre_filter" || ids.sameElements(exact))
      }
    }
  }
}

/** Reference-scale hybrid search on the RAM tier (N = 150,346, D = 384):
  * exact scoring and the post-filter ladder dominate. The IVF tiers are
  * not built here: graft's IVF build at this size takes minutes, more
  * than a whole run; serve_ingest measures them. */
final class SearchRef(ctx: Ctx) extends Workload {
  private val o = ctx.o
  private val spark = ctx.spark
  val primary = "search"
  val setupReps = 2
  val cycleSeconds = 0.55
  private val n = if (o.tiny) 3000 else 150346
  private val spec = Gen.VecSpec(n, if (o.tiny) 32 else 384, if (o.tiny) 30 else 1000,
    sigma = 0.5, labels = 100, seed = o.seed)
  private val nQueries = if (o.tiny) 8 else 64
  private val backends = Seq("pre_filter", "post_filter")
  val filters: IndexedSeq[Filter] = IndexedSeq(
    Filter("{}", (_, _) => true),
    Filter("""{"label":{"lt":50}}""", (_, l) => l < 50),
    Filter("""{"label":{"between":[10,19]}}""", (_, l) => l >= 10 && l <= 19),
    Filter("""{"label":{"eq":7}}""", (_, l) => l == 7))
  private var corpus: Oracle.Corpus = _
  private var queries: Array[Array[Float]] = _
  private var truth: Array[Array[(Array[Long], Int)]] = _
  private var ix: Index = _
  private val tally = new Serve.Tally
  private var cycles = 0
  def inputRows: Long = n

  private def inputDir = s"${o.inputs}/search_ref-n$n-d${spec.dim}-seed${o.seed}"

  def prepare(): Unit = {
    Inputs.vectors(spark, spec, s"$inputDir/embeddings.parquet")
    corpus = Inputs.corpus(spec)
    queries = Array.tabulate(nQueries)(i => spec.query(i))
    truth = Inputs.parallel(nQueries)(qi =>
      filters.map(f => corpus.topK(queries(qi), Serve.K, r => f.allow(corpus.ids(r), corpus.labels(r)))).toArray)
  }

  private def allowedIn(f: Filter)(id: Long): Boolean =
    id >= 0 && id < n && f.allow(id, corpus.labels(id.toInt))

  /** 8 requests: every (backend, filter) pair once, queries rotating. */
  private def requests(c: Int): Seq[(String, Int, Int)] = (0 until 8).map { j =>
    (backends(j % 2), j / 2, (c * 9 + j) % nQueries)
  }

  def setup(): Seq[(String, Double)] = {
    val meta = Tables.embeddings(spark, inputDir)
    val (ram, tRam) = ctx.secs(RamCorpus.build(meta))
    ix = Index(meta, ram)
    val (_, warm) = ctx.secs(requests(0).foreach { case (b, fi, qi) =>
      Serve.search(ctx.tracer, ix, b, queries(qi), filters(fi)) })
    Seq("ram_pin" -> tRam, "warmup" -> warm)
  }

  /** Eight untimed cycles: on a 4-vCPU host the first ~100 requests of a
    * 60 s run ran up to 20% slower than the rest. */
  override def settle(): Unit = (1 to 8).foreach(c => requests(c).foreach { case (b, fi, qi) =>
    Serve.search(ctx.tracer, ix, b, queries(qi), filters(fi)) })

  def cycle(): Unit = {
    requests(cycles + 1).foreach { case (b, fi, qi) =>
      Serve.request(ctx, tally, primary, ix, b, queries(qi), filters(fi), truth(qi)(fi),
        allowedIn(filters(fi)))
    }
    cycles += 1
  }

  def quality: Double = tally.meanRecall
  def layers: Map[String, Double] = tally.layers(ctx.tracer)
}

/** sf0.1-sized serving under ingest: Spark's fixed per-request cost
  * dominates reads, and every 25th operation is an ingest that later
  * reads must see. */
final class ServeIngest(ctx: Ctx) extends Workload {
  private val o = ctx.o
  private val spark = ctx.spark
  import spark.implicits._
  val primary = "read"
  val setupReps = 2
  val cycleSeconds = 7.5
  private val n = if (o.tiny) 300 else 2000
  private val nDocs = if (o.tiny) 500 else 5000
  private val batchVecs = if (o.tiny) 20 else 100
  private val batchDocs = if (o.tiny) 50 else 250
  private val tau = 0.95
  private val spec = Gen.VecSpec(n, 64, 20, sigma = 0.5, labels = 10, seed = o.seed)
  private val vocab = Gen.vocabulary(3000, o.seed)
  private val cities = Array("springfield", "riverton", "lakewood", "fairview", "greenville",
    "bristol", "clayton", "dayton", "ashland", "milton")
  private def lat(id: Long) = -30.0 + (id % 180) * 0.5
  private def lon(id: Long) = -120.0 + ((id * 7) % 320) * 0.75
  val filters: IndexedSeq[Filter] = IndexedSeq(
    Filter("{}", (_, _) => true),
    Filter("""{"label":{"lt":5}}""", (_, l) => l < 5),
    Filter("""{"label":{"eq":3}}""", (_, l) => l == 3),
    Filter("""{"label":{"in":[2,7]}}""", (_, l) => l == 2 || l == 7),
    Filter("""{"city":{"like":"TON"}}""", (id, _) => cities((id % 10).toInt).contains("ton")),
    Filter("""{"lat_between":[0,30],"lon_between":[-60,60]}""",
      (id, _) => lat(id) >= 0 && lat(id) <= 30 && lon(id) >= -60 && lon(id) <= 60))

  private var corpus: Oracle.Corpus = _
  private var rowOf: Map[Long, Int] = _
  private var docs: mutable.ArrayBuffer[(Long, String)] = _
  private var ix: Index = _
  private var bands: DataFrame = _
  private var artifacts: String = _
  private var table: String = _
  private var curation: Curation = _
  private var curated = Map.empty[String, Double]
  private val tally = new Serve.Tally
  private var reads = 0L
  private var batches = 0
  private val ingestParts = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
  def inputRows: Long = n + nDocs

  private def inputDir = s"${o.inputs}/serve_ingest-n$n-docs$nDocs-seed${o.seed}"

  def prepare(): Unit = {
    Inputs.vectors(spark, spec, s"$inputDir/embeddings.parquet")
    val base = Gen.documents(nDocs, 0L, vocab, o.seed)
    Inputs.documents(spark, base, s"$inputDir/documents.parquet")
    curation = new Curation(ctx, base, tau)
  }

  def setup(): Seq[(String, Double)] = {
    // ingests of the previous rep are dropped: each rep starts from the inputs
    corpus = Inputs.corpus(spec)
    rowOf = corpus.ids.zipWithIndex.toMap
    docs = mutable.ArrayBuffer.from(Gen.documents(nDocs, 0L, vocab, o.seed))
    batches = 0
    val rep = new java.io.File(s"${o.work}/artifacts").list() match { case null => 0; case a => a.length }
    artifacts = s"${o.work}/artifacts/rep$rep"
    // the rep's own copy of the input tables (untimed): ingests land in it
    table = s"${o.work}/tables/rep$rep"
    Seq("embeddings", "documents").foreach(t => Inputs.copyTable(s"$inputDir/$t.parquet", s"$table/$t.parquet"))
    val (index, phases) = Serve.build(ctx, Tables.embeddingsMeta(spark, table),
      artifacts, Ivf.pickNlist(n), o.seed)
    ix = index
    // the document corpus is curated once at load; its band table is the
    // state every ingest mines against
    val allDocs = Tables.documents(spark, table).select("doc_id", "text")
    val ((b, layers), tCurate) = ctx.secs(curation.run(allDocs))
    bands = b
    curated = layers
    val (_, warm) = ctx.secs((0 until 24).foreach { j =>
      Serve.search(ctx.tracer, ix, Layers.backends(j % 4), spec.query(-1 - j), filters(j / 4)) })
    phases ++ Seq("curate" -> tCurate, "warmup" -> warm)
  }

  private def read(j: Int): Unit = {
    val q = spec.query(reads)
    reads += 1
    val f = filters(j / 4)
    val c = corpus
    val rows = rowOf
    lazy val truth = c.topK(q, Serve.K, r => f.allow(c.ids(r), c.labels(r)))
    Serve.request(ctx, tally, primary, ix, Layers.backends(j % 4), q, f, truth,
      id => rows.get(id).exists(r => f.allow(id, c.labels(r))))
  }

  private def ingest(): Unit = {
    val b = batches
    batches += 1
    val idBase = 1000000L + b.toLong * batchVecs
    val rows = (0 until batchVecs).map { j =>
      val (label, v) = spec.row(n.toLong + b.toLong * batchVecs + j)
      (idBase + j, v, label)
    }
    val newDocs = Gen.documents(batchDocs, 2000000L + b.toLong * batchDocs, vocab,
      o.seed + b + 1, docs.map(_._2).toIndexedSeq)
    val tr = ctx.tracer
    def part[A](name: String)(body: => A): A = {
      val (r, s) = ctx.secs(tr.span(s"ingest.$name")(body))
      if (ctx.recording) ingestParts(name) += s * 1000
      r
    }
    ctx.op("ingest") { corrupt =>
      // the batch lands in the serving tables; reads then re-read them
      val newDf = newDocs.toSeq.toDF("doc_id", "text")
      part("land") {
        rows.toDF("vec_id", "embedding", "label").write.mode("append").parquet(s"$table/embeddings.parquet")
        newDf.write.mode("append").parquet(s"$table/documents.parquet")
      }
      val meta2 = Tables.embeddingsMeta(spark, table)
      val batchMeta = meta2.where(col("vec_id").between(idBase, idBase + batchVecs - 1))
      // persisted appends: the batch lands in the index tables' list
      // partitions and reads go on scanning the tables, so no read
      // re-assigns the batches
      val ivf2 = part("ivf_append") {
        Ivf.appendToPath(ix.ivf.get, batchMeta, s"$artifacts/ivf")
        Ivf.load(spark, s"$artifacts/ivf")
      }
      val ivfpq2 = part("ivfpq_append") {
        IvfPq.appendToPath(ix.ivfpq.get, batchMeta, s"$artifacts/ivfpq")
        val m = IvfPq.load(spark, s"$artifacts/ivfpq", ivf2, ix.ivfpq.get.pq)
        m.listSizes
        m
      }
      val ram2 = part("ram_pin")(RamCorpus.build(meta2))
      val allDocs = Tables.documents(spark, table).select("doc_id", "text")
      val pairs = part("dedup_incremental")(
        Dedup.minhashIncrementalPairs(allDocs, bands, newDf, tau).collect()
          .map(r => (r.getLong(0), r.getLong(1))))
      bands = part("band_union")(Pin(bands.unionByName(Dedup.minhashBands(newDf))))
      ix = Index(meta2, ram2, Some(ivf2), Some(ivfpq2))
      () => {
        docs ++= newDocs
        corpus = Inputs.append(corpus, rows)
        rowOf = rowOf ++ rows.indices.map(j => rows(j)._1 -> (n + b * batchVecs + j))
        // a read after the ingest finds the first appended vector at rank 1
        val (id0, v0, _) = rows.head
        val probed = ivf2.indexed.where(col("list_id").isin(ivf2.probes(v0, Serve.NProbe): _*))
        val seen = ram2.topK(v0, 1).map(_._1) == Seq(id0) &&
          VectorSearch.topKWithCount(probed, v0, 1)._1.map(_._1) == Seq(id0)
        val text = docs.toMap
        val mined: Seq[(Long, Long)] =
          if (corrupt) pairs.toSeq :+ ((rows.head._1, docs.head._1)) else pairs.toSeq
        val pairsOk = mined.forall { case (a, b2) =>
          text.contains(a) && text.contains(b2) &&
            Oracle.jaccard(Oracle.tokenSet(text(a)), Oracle.tokenSet(text(b2))) >= tau
        }
        seen && pairsOk
      }
    }
  }

  def cycle(): Unit = {
    (0 until 24).foreach(read)
    ingest()
  }

  def quality: Double = tally.meanRecall

  def layers: Map[String, Double] = {
    val ing = ctx.lat.getOrElse("ingest", mutable.ArrayBuffer.empty[Double]).toSeq
    val k = ing.length.max(1)
    tally.layers(ctx.tracer) ++ curated ++ Map(
      "ingest.p50_ms" -> Main.median(ing),
      "ingest.rows_per_s" -> (if (ing.isEmpty) 0.0 else ing.length * (batchVecs + batchDocs) / (ing.sum / 1000))) ++
      ingestParts.map { case (p, ms) => s"ingest.${p}_ms" -> ms / k }
  }
}

/** Seeded inputs, written once per seed and reused by later runs. */
object Inputs {
  def parallel[A: scala.reflect.ClassTag](n: Int)(f: Int => A): Array[A] = {
    val out = new Array[A](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach(i => out(i) = f(i))
    out
  }

  private def done(path: String) = new java.io.File(s"$path/_SUCCESS").exists()

  /** The vector corpus as parquet (vec_id, embedding, label), rows
    * generated inside Spark tasks. */
  def vectors(spark: SparkSession, spec: Gen.VecSpec, path: String): Unit = if (!done(path)) {
    import spark.implicits._
    spark.range(0, spec.n, 1, spark.sparkContext.defaultParallelism).as[Long]
      .map { i => val (label, v) = spec.row(i); (i, v, label) }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(path)
  }

  def documents(spark: SparkSession, docs: Array[(Long, String)], path: String): Unit =
    if (!done(path)) {
      import spark.implicits._
      spark.sparkContext.parallelize(docs.toSeq, spark.sparkContext.defaultParallelism)
        .toDF("doc_id", "text").write.mode("overwrite").parquet(path)
    }

  /** Copy a parquet table directory's files into a new directory. */
  def copyTable(from: String, to: String): Unit = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    new java.io.File(from).listFiles().filter(_.isFile).foreach(f =>
      java.nio.file.Files.copy(f.toPath, dst.resolve(f.getName)))
  }

  /** The same corpus as flat arrays for the oracle. */
  def corpus(spec: Gen.VecSpec): Oracle.Corpus = {
    val vecs = new Array[Float](spec.n * spec.dim)
    val labels = new Array[Int](spec.n)
    java.util.stream.IntStream.range(0, spec.n).parallel().forEach { i =>
      val (l, v) = spec.row(i.toLong)
      labels(i) = l
      System.arraycopy(v, 0, vecs, i * spec.dim, spec.dim)
    }
    new Oracle.Corpus(Array.tabulate(spec.n)(_.toLong), labels, vecs, spec.dim)
  }

  def append(c: Oracle.Corpus, rows: Seq[(Long, Array[Float], Int)]): Oracle.Corpus =
    new Oracle.Corpus(c.ids ++ rows.map(_._1), c.labels ++ rows.map(_._3),
      c.vecs ++ rows.flatMap(_._2), c.dim)
}
