package graft.search

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF×PQ composition — the FAISS IndexIVFPQ slot of the index family the
  * reference's loader builds toward (reference src/dataio/loaders.py:143-151
  * constructs the FAISS IVF family; IVFPQ is that family's standard answer
  * once even the per-list flat vectors are too big to scan).
  *
  * The two halves already exist and stay INDEPENDENT:
  *  - [[Ivf]] contributes the coarse quantizer: list assignment, the
  *    list_id-partitioned layout, and probe-time partition pruning;
  *  - [[Pq]] contributes the fine quantizer: the m-byte ADC code column
  *    and the per-query lookup-table scoring.
  *
  * The composed code table carries (vec_id, list_id, pq_codes) and is
  * persisted partitioned BY list_id, so a probe reads only the probed
  * lists' partitions AND each surviving row is m bytes, not m·dsub·4 —
  * both prunings multiply: at nprobe/nlist = 32/4096 over 64-d f32 the
  * scan I/O is (32/4096)·(1/32) ≈ 1/4096 of the flat corpus. The exact
  * refine then touches only the ≤`shortlist` winners via a broadcast join
  * back to the vector table (never a second corpus scan).
  */
final case class IvfPqModel(ivf: IvfModel, pq: PqModel, coded: DataFrame,
                            tuned: Option[(Int, Double)] = None) {

  /** The shortlist used when the caller doesn't dial one: the build-time
    * auto-tuned width (IvfPq.tuneShortlist) when the index carries it,
    * else the historical 100. The fixed 100 was measured misleading on an
    * i.i.d. corpus (recall 0.20 at reference scale, BASELINE §2) while
    * fine on clustered ones — geometry the build can probe cheaply, so it
    * does. */
  def defaultShortlist: Int = tuned.map(_._1).getOrElse(100)

  /** list_id → row count, collected ONCE per model (O(nlist) rows — the
    * centroid discipline): serving-path stats (how many codes a probe
    * scans) come from this map as driver math, never from a per-query
    * count() job re-scanning the probed partitions. */
  lazy val listSizes: Map[Int, Long] =
    coded.groupBy(col("list_id").cast("int").as("list_id"))
      .agg(count(lit(1)).as("sz"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Top-K: IVF-pruned ADC shortlist + exact refine. The shortlist ranks
    * on round(·,6) with vec_id tiebreak (repo-wide ranking convention —
    * see VectorSearch doc), so results are deterministic per index. */
  def search(qvec: Array[Float], nprobe: Int, k: Int,
             shortlist: Int = 0): DataFrame = {
    val width = if (shortlist > 0) shortlist else defaultShortlist
    val short = shortlistDf(qvec, nprobe, width)
    VectorSearch.topK(
      pq.corpus.join(broadcast(short.select("vec_id")), "vec_id"), qvec, k)
  }

  /** ADC-only top-K within the probed lists (no refine) — the recall
    * floor the refine pass lifts at equal nprobe (spec contract). */
  def searchNoRefine(qvec: Array[Float], nprobe: Int, k: Int): DataFrame =
    shortlistDf(qvec, nprobe, k)
      .select(col("vec_id"), col("adc_score").as("score"))

  private def shortlistDf(qvec: Array[Float], nprobe: Int, n: Int): DataFrame = {
    val lists = ivf.probes(qvec, nprobe)
    coded.where(col("list_id").isin(lists: _*))
      .select(col("vec_id"), round(pq.adcScore(qvec), 6).as("adc_score"))
      .orderBy(desc("adc_score"), col("vec_id"))
      .limit(n)
  }

  /** Batched top-K on the compressed tier — the 100 TB batch-serving
    * shape (Ivf.searchMany's twin over CODES): every query answered from
    * ONE scan pruned to the union of probed list partitions, per-query
    * list membership and ADC scoring row-local in bounded heaps (each
    * query's own LUT rides one broadcast), then ONE exact refine of the
    * ≤|Q|·shortlist survivors — a broadcast pair join against the vector
    * table with per-qid query vectors, never a second corpus scan.
    * Pays 1 job + 1 pruned m-byte scan instead of |Q|; row-for-row equal
    * to per-query `search` at the same dial (spec-pinned — identical
    * round-6/vec_id ranking rule on both paths). */
  def searchMany(queries: Seq[(Long, Array[Float])], nprobe: Int, k: Int,
                 shortlist: Int = 0): DataFrame = {
    val qArr = queries.toArray
    IvfPq.searchManyCodes(coded, pq.corpus, qArr,
      allow = qArr.map { case (_, v) => ivf.probes(v, nprobe).toSet },
      luts = qArr.map { case (_, v) => pq.lut(v) }, biases = null,
      width = if (shortlist > 0) shortlist else defaultShortlist, k = k)
  }

  /** Incremental add on the composed tier — the 100 TB serving shape's
    * daily ingest: ONE centroid assignment of the batch (shared with the
    * IVF half via Ivf.assign) + ONE codebook encode, unioned into the
    * list_id-partitioned code table; the refine corpus grows through
    * PqModel.append. No quantizer retrains, resident codes untouched.
    * Full-probe/full-shortlist search over the appended model is exact
    * over the union (spec-pinned), so the recall dial semantics carry
    * over unchanged. */
  def append(batch: DataFrame): IvfPqModel = {
    val assigned = ivf.assign(batch)
    copy(
      ivf = ivf.copy(indexed = ivf.indexed.unionByName(assigned)),
      pq = pq.append(batch),
      coded = coded.unionByName(assigned.select(col("vec_id"), col("list_id"),
        Pq.encodeCol(pq.codebook, pq.dsub).as("pq_codes"))))
  }

  /** Deletion on the composed tier: tombstones anti-joined out of the
    * code table and both halves (IvfModel.remove doc). */
  def remove(ids: DataFrame): IvfPqModel =
    copy(ivf = ivf.remove(ids), pq = pq.remove(ids),
      coded = coded.join(ids.select(col("vec_id")), Seq("vec_id"), "left_anti"))

  /** Build-time shortlist auto-tune: mean recall@k of every ladder prefix
    * from ONE ADC ranking + ONE exact top-k per probe query (the
    * vec_pq_sweep shared-pass shape — recall@width is pure driver prefix
    * math because any true top-k member in the shortlist survives the
    * exact refine). Probes are corpus vectors picked by id-hash rank
    * (deterministic, spread across the corpus, total-order-free), so the
    * measurement sees the index's OWN geometry — clustered corpora
    * tune small, i.i.d. ones tune wide. Returns (smallest ladder width
    * with mean recall ≥ floor — else the widest, capped at N) and its
    * recall. 2·|probes| bounded jobs, once per index build. */
  def tuneShortlist(nprobe: Int = 32, k: Int = 10,
                    ladder: Seq[Int] = Seq(100, 500, 1000, 2000),
                    floor: Double = 0.9, probes: Int = 3): (Int, Double) = {
    val total = listSizes.values.sum
    // clamp rung-by-rung (total.toInt on a >2^31-row corpus would go
    // negative and poison every rung)
    val rungs = ladder.sorted
      .map(r => if (total < r) total.toInt else r).distinct
    // probe ids picked by hash rank, not by divisibility: an id space
    // with no multiples of total/probes (e.g. all-odd ids after
    // tombstone deletion) would otherwise yield ZERO probes and fail
    // the build of a perfectly valid index. Hash rank is deterministic,
    // spread across the corpus, and non-empty whenever the corpus is.
    val qvecs = pq.corpus
      .orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(probes)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    require(qvecs.nonEmpty, "empty corpus: nothing to tune against")
    val ranked = qvecs.map { q =>
      val adc = shortlistDf(q, nprobe, rungs.max)
        .select("vec_id").collect().map(_.getLong(0))
      val exact = VectorSearch.topK(pq.corpus, q, k)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (adc, exact)
    }
    val curve = rungs.map { s =>
      s -> ranked.map { case (adc, ex) =>
        adc.take(s).count(ex).toDouble / math.min(k, ex.size)
      }.sum / ranked.length
    }
    curve.find(_._2 >= floor).getOrElse(curve.last)
  }

  /** Composed-index health: list-size skew (what kills nprobe recall)
    * over the composed table, with the PQ geometry alongside; per-subspace
    * code usage stays Pq.stats's job. */
  def stats: DataFrame = {
    val sizes = coded.groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
    sizes.agg(
      count(lit(1)).as("nonempty_lists"),
      lit(ivf.centroids.length).as("nlist"),
      min(col("sz")).as("min_sz"),
      max(col("sz")).as("max_sz"),
      sum(col("sz")).as("n_vectors"),
      lit(pq.m).as("m"),
      lit(pq.kCodes).as("k"))
  }
}

object IvfPq {

  /** The batched scan + refine both composed tiers share: ONE scan of
    * `coded` pruned to the union of the probed lists `allow`; per query a
    * [[TopK]] of `width` over biases(q)(list) + Σ lut[s][code_s] (`biases`
    * null = no bias); then ONE exact refine of the ≤|Q|·width survivors —
    * a broadcast pair join against `corpus` with per-qid query vectors —
    * ranked per qid. */
  private[search] def searchManyCodes(
      coded: DataFrame, corpus: DataFrame, qArr: Array[(Long, Array[Float])],
      allow: Array[Set[Int]], luts: Array[Array[Array[Double]]],
      biases: Array[Map[Int, Double]], width: Int, k: Int): DataFrame = {
    TopK.requireK(width, "shortlist")
    val spark = coded.sparkSession
    import spark.implicits._
    val union = allow.flatten.distinct.toSeq
    val qB = spark.sparkContext.broadcast((qArr.map(_._1), allow, luts, biases))
    val partial = coded.where(col("list_id").isin(union: _*))
      .select(col("vec_id").cast("long"), col("list_id").cast("int"), col("pq_codes"))
      .as[(Long, Int, Array[Int])]
      .mapPartitions { it =>
        val (qids, allowSets, ls, bs) = qB.value
        val tops = Array.fill(qids.length)(new TopK(width))
        it.foreach { case (id, listId, codes) =>
          var q = 0
          while (q < qids.length) {
            if (allowSets(q).contains(listId)) {
              val lut = ls(q)
              var acc = if (bs == null) 0.0 else bs(q)(listId)
              var s = 0
              while (s < codes.length) { acc += lut(s)(codes(s)); s += 1 }
              tops(q).offer(acc, id)
            }
            q += 1
          }
        }
        TopK.rows(qids, tops)
      }
      .toDF("qid", "vec_id", "adc_score")
    val shortPairs = org.apache.spark.sql.graft.TopKPerKey(
      partial, Seq(col("qid")), Seq(desc("adc_score"), col("vec_id")), width)
    val qDf = qArr.toSeq.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qvec")
    val refined = corpus
      .join(broadcast(shortPairs.select("qid", "vec_id")), "vec_id")
      .join(broadcast(qDf), "qid")
      .withColumn("score",
        round(graft.functions.VectorFunctions.dot(
          col("embedding"), col("qvec").cast("array<float>")), 6))
    val top = org.apache.spark.sql.graft.TopKPerKey(
      refined.select(col("qid"), col("vec_id"), col("score")),
      Seq(col("qid")), Seq(desc("score"), col("vec_id")), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("qid"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Compose from trained halves: ONE projection over the ivf-indexed
    * table derives the code column row-locally (vectors are read once,
    * at build time — query-time scans never touch them). */
  def compose(ivf: IvfModel, pq: PqModel): IvfPqModel =
    IvfPqModel(ivf, pq, ivf.indexed.select(
      col("vec_id"), col("list_id"),
      Pq.encodeCol(pq.codebook, pq.dsub).as("pq_codes")))

  /** Persist ONLY the composed code table — the halves persist themselves
    * (Ivf.cached / Pq.cached); clustering by list before the partitioned
    * write keeps each list's codes in O(1) files (same discipline as
    * IvfModel.write). */
  def write(model: IvfPqModel, path: String): Unit =
    model.coded.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/codes")

  def load(spark: SparkSession, path: String, ivf: IvfModel, pq: PqModel): IvfPqModel =
    IvfPqModel(ivf, pq, spark.read.parquet(s"$path/codes"), readMeta(path))

  /** Persisted append on the composed tier (Ivf.appendToPath twin): the
    * batch's (vec_id, list_id, pq_codes) rows land as NEW files under
    * their list_id partition directories — resident code files never
    * rewritten, partition pruning unchanged on reload. The refine-side
    * vector table is the caller's corpus artifact and grows through its
    * own ingest; this appends only the index's code rows. */
  def appendToPath(model: IvfPqModel, batch: DataFrame, path: String): Unit =
    model.ivf.assign(batch)
      .select(col("vec_id"), col("list_id"),
        Pq.encodeCol(model.pq.codebook, model.pq.dsub).as("pq_codes"))
      .repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/codes")

  /** meta.json: the auto-picked shortlist + its probe recall, recorded in
    * the index metadata at build (the dial-default a serving layer reads
    * back). Hand-rolled JSON like Ingest.writeVectorsMeta. */
  private def writeMeta(path: String, tuned: (Int, Double)): Unit =
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$path/meta.json"),
      s"""{"default_shortlist": ${tuned._1}, "probe_recall": ${tuned._2}}""")

  private def readMeta(path: String): Option[(Int, Double)] = {
    val f = new java.io.File(s"$path/meta.json")
    if (!f.exists()) None
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(f.toPath))
      for {
        s <- """"default_shortlist"\s*:\s*(\d+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
        r <- """"probe_recall"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(txt).map(_.group(1).toDouble)
      } yield (s, r)
    }
  }

  private val store = new graft.ArtifactStore.Family[IvfPqModel](
    "ivfpq", "codes/_SUCCESS", "meta.json")

  /** Compose, persist and tune into `tmp`: the shortlist tune runs on the
    * unpublished copy, so meta.json publishes atomically WITH the codes. */
  private def publishTo(spark: SparkSession, ivf: IvfModel, pq: PqModel)(tmp: String): Unit = {
    write(compose(ivf, pq), tmp)
    writeMeta(tmp, load(spark, tmp, ivf, pq).tuneShortlist())
  }

  /** Load the composed index at `path`, building and publishing it first
    * when no complete one is there ([[graft.ArtifactStore.Family.publish]]). */
  def buildOrLoad(spark: SparkSession, ivf: IvfModel, pq: PqModel,
                  path: String): IvfPqModel = {
    store.publish(path)(publishTo(spark, ivf, pq))
    load(spark, path, ivf, pq)
  }

  /** The persisted composed index of a corpus (the Ivf.cached
    * convention): the code table is written once per (corpus, params) and
    * every later JVM probes its list_id-partitioned layout. The IVF
    * geometry names the entry too: list_ids are ivf-model-specific, and
    * codes persisted against a differently-built IVF would probe wrong
    * lists with no error. */
  def cached(spark: SparkSession, emb: DataFrame, corpusKey: String,
             ivf: IvfModel, pq: PqModel): IvfPqModel =
    store(emb, corpusKey, s"nl${ivf.centroids.length}-sub${pq.m}-k${pq.kCodes}")(
      publishTo(spark, ivf, pq))(load(spark, _, ivf, pq))
}
