package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Residual-encoded IVF×PQ — the true FAISS IndexIVFPQ semantics: the fine
  * quantizer encodes x − c_list (the residual against the assigned coarse
  * centroid), not the raw vector (reference src/dataio/loaders.py:141-151
  * builds the FAISS IVF family; IndexIVFPQ is its compressed member, and
  * FAISS encodes residuals by default). Residuals concentrate near the
  * origin with much less variance than raw vectors, so the same m×k code
  * budget quantizes them finer — the recall argument, measured in
  * ResidualPqSpec and reported by the vec_residual_gain query.
  *
  * Inner-product scoring decomposes over the residual exactly:
  *     ⟨q, x⟩ ≈ ⟨q, c_l⟩ + ⟨q, r̂⟩
  * so probe-time scoring needs NO per-list lookup tables: ONE LUT over q
  * (identical to the plain-PQ ADC table) scores every probed list's codes,
  * plus a per-list scalar bias ⟨q, c_l⟩ — driver math over nprobe
  * centroids, attached as a tiny literal map. The scan shape is exactly
  * IvfPqModel's (partition-pruned m-byte codes, TakeOrdered shortlist,
  * broadcast-keyed exact refine); only the code semantics differ.
  */
final case class IvfPqResModel(ivf: IvfModel, m: Int, dsub: Int, kCodes: Int,
                               codebook: Array[Array[Array[Float]]],
                               coded: DataFrame, corpus: DataFrame) {

  /** ADC lookup table over the RAW query (residual decomposition keeps
    * the table query-only — see class doc). */
  private def lut(qvec: Array[Float]): Array[Array[Double]] = Array.tabulate(m) { s =>
    Array.tabulate(kCodes) { c =>
      val cent = codebook(s)(c)
      var acc = 0.0; var i = 0
      while (i < dsub) { acc += qvec(s * dsub + i).toDouble * cent(i).toDouble; i += 1 }
      acc
    }
  }

  /** ⟨q, c_l⟩ for one list — the per-list scalar the decomposition adds. */
  private def listBias(qvec: Array[Float], list: Int): Double = {
    val c = ivf.centroids(list)
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += qvec(i).toDouble * c(i); i += 1 }
    acc
  }

  /** The probed-lists ADC shortlist (vec_id, adc_score) — public so the
    * harness backend can time the identical scan the search path uses. */
  def scoredShortlist(qvec: Array[Float], nprobe: Int, n: Int): DataFrame =
    shortlistDf(qvec, nprobe, n)

  private def shortlistDf(qvec: Array[Float], nprobe: Int, n: Int): DataFrame = {
    val lists = ivf.probes(qvec, nprobe)
    val biasCol: Column = element_at(
      map(lists.flatMap(l => Seq(lit(l), lit(listBias(qvec, l)))): _*),
      col("list_id").cast("int"))
    coded.where(col("list_id").isin(lists: _*))
      .select(col("vec_id"),
        round(pqAdcScore(col("pq_codes"), lut(qvec)) + biasCol, 6).as("adc_score"))
      .orderBy(desc("adc_score"), col("vec_id"))
      .limit(n)
  }

  /** Top-K: IVF-pruned residual-ADC shortlist + exact refine (keyed fetch
    * of ≤shortlist vectors — never a second corpus scan). */
  def search(qvec: Array[Float], nprobe: Int, k: Int,
             shortlist: Int = 100): DataFrame =
    VectorSearch.topK(
      corpus.join(broadcast(shortlistDf(qvec, nprobe, shortlist).select("vec_id")),
        "vec_id"), qvec, k)

  /** ADC-only top-K within the probed lists (the refine lifts this). */
  def searchNoRefine(qvec: Array[Float], nprobe: Int, k: Int): DataFrame =
    shortlistDf(qvec, nprobe, k)
      .select(col("vec_id"), col("adc_score").as("score"))

  /** Batched top-K (IvfPqModel.searchMany's residual twin): one scan
    * pruned to the union of probed list partitions; each query's heap
    * scores Σ lut[s][code_s] + ⟨q,c_list⟩ row-locally (the bias map per
    * query covers only its probed lists), then ONE broadcast pair-join
    * exact refine. Row-for-row equal to per-query search at the same
    * dial (spec-pinned). */
  def searchMany(queries: Seq[(Long, Array[Float])], nprobe: Int, k: Int,
                 shortlist: Int = 100): DataFrame = {
    val qArr = queries.toArray
    val allow = qArr.map { case (_, v) => ivf.probes(v, nprobe).toSet }
    val biases = qArr.zip(allow).map { case ((_, v), lists) =>
      lists.iterator.map(l => l -> listBias(v, l)).toMap
    }
    IvfPq.searchManyCodes(coded, corpus, qArr, allow, qArr.map { case (_, v) => lut(v) },
      biases, shortlist, k)
  }

  /** list_id → row count, collected ONCE per model (IvfPqModel.listSizes
    * twin): serving-path probe-volume stats come from this map as driver
    * math, never from a per-query count() job. */
  lazy val listSizes: Map[Int, Long] =
    coded.groupBy(col("list_id").cast("int").as("list_id"))
      .agg(count(lit(1)).as("sz"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Composed-index health (IvfPqModel.stats shape, residual flavor). */
  def stats: DataFrame = {
    val sizes = coded.groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
    sizes.agg(
      count(lit(1)).as("nonempty_lists"),
      lit(ivf.centroids.length).as("nlist"),
      min(col("sz")).as("min_sz"),
      max(col("sz")).as("max_sz"),
      sum(col("sz")).as("n_vectors"),
      lit(m).as("m"),
      lit(kCodes).as("k"),
      lit("residual").as("encoding"))
  }
}

object IvfPqRes {

  /** Persist the residual code table (list_id-partitioned, one file per
    * list — the IvfPq.write discipline) plus the residual codebook. The
    * refine corpus is the caller's vector table; only index state lands
    * on disk. Probing a PERSISTED table reads m bytes/vector of the
    * probed partitions; the first probe-measured build (BASELINE §2)
    * showed the un-persisted formulation re-encoding full f32 vectors
    * under every query — 2.6× the plain composition's latency — which
    * persistence removes. */
  def write(model: IvfPqResModel, path: String): Unit = {
    model.coded.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/codes")
    val spark = model.coded.sparkSession
    import spark.implicits._
    model.codebook.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, ci) => (s, ci, c.toSeq) }
    }.toSeq.toDF("s", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  def load(spark: org.apache.spark.sql.SparkSession, path: String,
           ivf: IvfModel): IvfPqResModel = {
    val rows = spark.read.parquet(s"$path/codebook").orderBy("s", "c").collect()
    val m = rows.map(_.getInt(0)).max + 1
    val codebook = Array.tabulate(m) { s =>
      rows.filter(_.getInt(0) == s).sortBy(_.getInt(1))
        .map(_.getAs[scala.collection.Seq[Float]]("centroid").toArray)
    }
    val dsub = codebook(0)(0).length
    val dim = ivf.centroids(0).length
    require(m * dsub == dim,
      s"ivfpq_res load: codebook geometry m=$m × dsub=$dsub != ivf centroid dim $dim " +
        s"(index at $path was built against a different corpus/geometry)")
    IvfPqResModel(ivf, m, dsub, codebook(0).length, codebook,
      spark.read.parquet(s"$path/codes"), ivf.indexed.drop("list_id"))
  }

  private val store = new graft.ArtifactStore.Family[IvfPqResModel](
    "ivfpqres", "codes/_SUCCESS", "codebook/_SUCCESS")

  /** The persisted residual index of a corpus (the IvfPq.cached
    * convention): the entry is named by the IVF geometry and the PQ
    * params — build()'s defaults, spelled out so a future non-default
    * build can't alias this entry. */
  def cached(emb: DataFrame, corpusKey: String, ivf: IvfModel): IvfPqResModel =
    store(emb, corpusKey,
      s"nl${ivf.centroids.length}-sub${Pq.pickM(ivf.centroids(0).length)}-k256")(
      write(build(ivf), _))(load(emb.sparkSession, _, ivf))

  /** Train the residual codebook on a bounded sample of (vector, list)
    * pairs — residuals computed driver-side against the coarse centroids
    * (ONE collect feeds all m local fits, the Pq.build discipline), then
    * encode the corpus row-locally with the codegen'd PqEncodeResidual.
    * Deterministic under a fixed seed. */
  def build(ivf: IvfModel, m: Int = 0, kCodes: Int = 256, seed: Long = 42L,
            maxIter: Int = 10, maxTrainRows: Long = 100000L): IvfPqResModel = {
    require(kCodes >= 2 && kCodes <= 256,
      s"ivfpq_res: kCodes $kCodes outside [2,256]")
    val spark = ivf.indexed.sparkSession
    import spark.implicits._
    val dim = ivf.centroids(0).length
    val m0 = if (m <= 0) Pq.pickM(dim) else m
    require(dim % m0 == 0, s"ivfpq_res: dim $dim not divisible by m=$m0")
    val dsub = dim / m0
    val n = ivf.indexed.count()
    val sample = (if (n <= maxTrainRows) ivf.indexed
                  else ivf.indexed.sample(maxTrainRows.toDouble / n, seed))
      .select(col("embedding"), col("list_id").cast("int"))
      .as[(Array[Float], Int)].collect()
    require(sample.nonEmpty, "ivfpq_res: empty training sample")
    val residuals = sample.map { case (v, l) =>
      val c = ivf.centroids(l)
      Array.tabulate(dim)(i => v(i) - c(i))
    }
    val kEff = math.min(kCodes, residuals.length)
    val codebook = (0 until m0).toArray.map { s =>
      java.util.concurrent.CompletableFuture.supplyAsync(() =>
        Pq.localKMeans(
          residuals.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
          kEff, seed + s, maxIter))
    }.map(_.join())
    val coded = ivf.indexed.select(col("vec_id"), col("list_id"),
      pqEncodeResidual(col("embedding"), col("list_id").cast("int"),
        ivf.centroids, codebook).as("pq_codes"))
    // refine corpus keeps every metadata column (filters resolve on it) —
    // only the assignment column goes
    IvfPqResModel(ivf, m0, dsub, kEff, codebook, coded, ivf.indexed.drop("list_id"))
  }
}
