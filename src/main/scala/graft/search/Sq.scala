package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 8-bit scalar quantization (SQ8) — the uniform-per-dimension member of
  * the compression family (FAISS IndexScalarQuantizer QT_8bit), completing
  * the ladder next to PQ/IVFPQ (reference src/dataio/loaders.py builds the
  * FAISS index family; SQ is that family's answer when 4× compression with
  * near-exact recall beats PQ's 32× with a recall dial).
  *
  * Spark mapping:
  *  - train: per-dimension (vmin, vmax) over a bounded sample — ONE collect,
  *    driver array math (the params are 2·dim floats);
  *  - encode: ONE codegen'd SqEncode pass per row → one byte per dimension
  *    (BinaryType): f32 → u8 is 4× less scan I/O, row-local, shuffle-free;
  *  - search: the asymmetric identity q·decode(code) = bias + Σ code_i·w_i
  *    (bias = Σ q_i·vmin_i, w_i = q_i·delta_i, both driver-folded) makes the
  *    compressed scan a codegen'd SqAdcScore projection over the CODE column
  *    — the vectors are never read. TakeOrdered shortlist, then an exact
  *    refine of the shortlist only (broadcast id join), as with PQ.
  *
  * Unlike PQ the quantizer is parameter-only (no codebook fit): training is
  * a min/max scan, encode error is bounded per-dimension by delta/2 for
  * in-range values (clamped outside the trained range), and ADC ranking is
  * near-exact — the SqSpec contracts pin the reconstruction bound and the
  * full-shortlist == exact equality.
  */
final case class SqModel(dim: Int, vmin: Array[Float], delta: Array[Float],
                         codes: DataFrame, corpus: DataFrame) {

  /** Asymmetric score column over `sq_codes`: exact dot product against the
    * decoded vector, computed without decoding (driver-folded constants). */
  def adcScore(qvec: Array[Float]): Column = {
    require(qvec.length == dim, s"sq: query dim ${qvec.length} != $dim")
    var bias = 0.0
    val w = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      bias += qvec(i).toDouble * vmin(i)
      w(i) = qvec(i).toDouble * delta(i)
      i += 1
    }
    sqAdcScore(col("sq_codes"), w, bias)
  }

  /** Top-K via ADC shortlist + exact refine (the PqModel.search shape):
    * shortlist TakeOrdered reads only (vec_id, sq_codes); refine joins the
    * broadcast id list back to the vector table for exact IP scoring. */
  def search(qvec: Array[Float], k: Int, shortlist: Int = 100): DataFrame = {
    val short = codes.select(col("vec_id"), round(adcScore(qvec), 6).as("adc_score"))
      .orderBy(desc("adc_score"), col("vec_id")).limit(shortlist)
    VectorSearch.topK(
      corpus.join(broadcast(short.select("vec_id")), "vec_id"), qvec, k)
  }

  /** ADC-only top-K (no refine) — at 8 bits/dim this is already near-exact;
    * the recall spec pins the floor. */
  def searchNoRefine(qvec: Array[Float], k: Int): DataFrame =
    codes.select(col("vec_id"), round(adcScore(qvec), 6).as("score"))
      .orderBy(desc("score"), col("vec_id")).limit(k)

  /** Incremental add: encode the new batch with the EXISTING params (no
    * retraining; out-of-range values clamp) and union both tables —
    * quantizer drift is a rebuild-cadence decision, as with PQ/IVF. */
  def append(batch: DataFrame): SqModel =
    copy(
      codes = codes.unionByName(
        batch.select(col("vec_id"), sqEncode(col("embedding"), vmin, delta).as("sq_codes"))),
      corpus = corpus.unionByName(batch))

  /** Deletion (remove_ids): tombstone anti-join on both tables, params
    * untouched (the lakehouse delete, as on every other tier). */
  def remove(ids: DataFrame): SqModel = {
    val t = ids.select(col("vec_id"))
    copy(codes = codes.join(t, Seq("vec_id"), "left_anti"),
         corpus = corpus.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Index-health report in ONE aggregate: row count + quantizer geometry —
    * constant (delta=0) dimensions and the widest per-dim step bound the
    * worst-case reconstruction error (delta/2 per dimension in-range). */
  def stats(rawBytesPerDim: Int = 4): DataFrame =
    codes.agg(count(lit(1)).as("n_vectors"))
      .select(col("n_vectors"), lit(dim).as("dim"),
        lit(dim).as("code_bytes_per_vec"),
        lit(dim * rawBytesPerDim).as("raw_bytes_per_vec"),
        lit(delta.count(_ == 0f)).as("n_const_dims"),
        lit(math.round(delta.max * 1e6) / 1e6).as("max_delta"))
}

object Sq {

  /** Train per-dim (vmin, delta) on a bounded sample (ONE collect), then
    * encode the corpus row-locally. Deterministic under a fixed seed. */
  def build(emb: DataFrame, seed: Long = 42L, maxTrainRows: Long = 100000L): SqModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count()
    val sample = (if (n <= maxTrainRows) emb
                  else emb.sample(maxTrainRows.toDouble / n, seed))
      .select(col("embedding")).as[Array[Float]].collect()
    require(sample.nonEmpty, "sq: empty training sample")
    val dim = sample(0).length
    val vmin = Array.fill(dim)(Float.MaxValue)
    val vmax = Array.fill(dim)(Float.MinValue)
    sample.foreach { v =>
      require(v.length == dim, s"sq: ragged training sample ($dim vs ${v.length})")
      var i = 0
      while (i < dim) {
        if (v(i) < vmin(i)) vmin(i) = v(i)
        if (v(i) > vmax(i)) vmax(i) = v(i)
        i += 1
      }
    }
    val delta = Array.tabulate(dim)(i => (vmax(i) - vmin(i)) / 255f)
    val codes = emb.select(col("vec_id"),
      sqEncode(col("embedding"), vmin, delta).as("sq_codes"))
    SqModel(dim, vmin, delta, codes, emb)
  }

  /** Persist: the code table (dim bytes/vector of scan I/O) and the
    * 2·dim-float param table. The corpus is NOT copied; refine reads it. */
  def write(model: SqModel, path: String): Unit = {
    model.codes.write.mode("overwrite").parquet(s"$path/codes")
    val spark = model.corpus.sparkSession
    import spark.implicits._
    model.vmin.indices.map(i => (i, model.vmin(i), model.delta(i)))
      .toDF("i", "vmin", "delta")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/params")
  }

  def load(spark: SparkSession, path: String, corpus: DataFrame): SqModel = {
    val rows = spark.read.parquet(s"$path/params").orderBy("i").collect()
    val vmin = rows.map(_.getFloat(1))
    val delta = rows.map(_.getFloat(2))
    SqModel(vmin.length, vmin, delta, spark.read.parquet(s"$path/codes"), corpus)
  }

  private val store = new graft.ArtifactStore.Family[SqModel](
    "sq", "codes/_SUCCESS", "params/_SUCCESS")

  /** The persisted SQ8 index of a corpus (the Ivf.cached convention). */
  def cached(spark: SparkSession, emb: DataFrame, corpusKey: String): SqModel =
    store(emb, corpusKey)(write(build(emb), _))(load(spark, _, emb))
}
