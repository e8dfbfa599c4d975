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
  * IvfPqModel's (probed lists' m-byte codes, TakeOrdered shortlist,
  * broadcast-keyed exact refine); only the code semantics differ.
  */
final case class IvfPqResModel(ivf: IvfModel, m: Int, dsub: Int, kCodes: Int,
                               codebook: Array[Array[Array[Float]]],
                               coded: DataFrame, corpus: DataFrame) extends IvfCodes {

  /** The residual codebook as a PQ quantizer over the code table: its ADC
    * table is over the RAW query (the decomposition keeps it query-only —
    * see class doc). */
  lazy val pq: PqModel = PqModel(m, dsub, kCodes, codebook, coded, corpus)

  /** The plain ADC score plus ⟨q, c_l⟩ of the row's list — the per-list
    * scalar the decomposition adds, attached as a tiny literal map over
    * the probed lists. */
  protected def score(qvec: Array[Float], lists: Seq[Int]): Column =
    pq.adcScore(qvec) + element_at(
      map(lists.flatMap(l => Seq(lit(l), lit(VecMath.dot(qvec, ivf.centroids(l))))): _*),
      col("list_id").cast("int"))

  override protected def statsExtra: Seq[Column] = Seq(lit("residual").as("encoding"))

  /** Top-K: IVF-pruned residual-ADC shortlist + exact refine
    * ([[CodeTier.search]]). */
  def search(qvec: Array[Float], nprobe: Int, k: Int,
             shortlist: Int = 100): DataFrame =
    CodeTier.search(scan(qvec, nprobe), corpus, qvec, k, shortlist)

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
      lists.iterator.map(l => l -> VecMath.dot(v, ivf.centroids(l))).toMap
    }
    CodeTier.searchMany(coded, corpus, qArr, allow, qArr.map { case (_, v) => pq.lut(v) },
      biases, shortlist, k)
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
    Serving.writeLists(model.coded, s"$path/codes", org.apache.spark.sql.SaveMode.Overwrite)
    val spark = model.coded.sparkSession
    import spark.implicits._
    model.codebook.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, ci) => (s, ci, c.toSeq) }
    }.toSeq.toDF("s", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  /** Load the residual index at `path` over its coarse quantizer: the
    * code table is resident within the serving budget, partition-pruned
    * at probe time above it ([[Serving.openLists]]). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String,
           ivf: IvfModel): IvfPqResModel =
    load(spark, path, ivf, Serving.BudgetBytes)

  private[graft] def load(spark: org.apache.spark.sql.SparkSession, path: String,
                          ivf: IvfModel, budgetBytes: Long): IvfPqResModel = {
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
      Serving.openLists(spark, s"$path/codes", budgetBytes), ivf.indexed.drop("list_id"))
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
    * Deterministic under a fixed seed, whatever files hold the rows
    * ([[TrainingRows]]). */
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
    // in vec_id order: localKMeans seeds from sample positions
    val sample = TrainingRows.sample(ivf.indexed, n, maxTrainRows, seed)
      .select(col("vec_id").cast("long"), col("embedding"), col("list_id").cast("int"))
      .as[(Long, Array[Float], Int)].collect()
      .sortBy(_._1).map { case (_, v, l) => (v, l) }
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
