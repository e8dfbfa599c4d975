package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Binary quantization (BQ) — the TRAINING-FREE member of the compression
  * ladder (FAISS IndexBinaryFlat; the tier every large-scale vector store
  * ships as its cheapest filter): one sign bit per dimension, so a
  * 64-d f32 vector compresses 32× to 8 bytes with ZERO build cost — no
  * KMeans (PQ), no min/max fit (SQ8), nothing to retrain on append ever.
  *
  * Search is Hamming distance between sign patterns, which is monotone in
  * angle in expectation (the hyperplane-LSH identity: P[sign mismatch on a
  * random direction] = θ/π; here the directions are the coordinate axes,
  * which works because embedding dims are ~i.i.d. centered): rank by
  * ascending Hamming over the code table (one XOR+popcount per 8 dims,
  * codegen'd), take a shortlist, refine exact — the Sq/Pq search shape.
  *
  * Ladder placement: BQ's recall at equal shortlist sits below SQ8 (4×,
  * near-exact) and below trained PQ (32×), but its index is FREE and its
  * scan is the fastest of the family — the right first-pass filter when
  * 100 TB of vectors arrive faster than codebooks can be retrained.
  * Contracts in BqSpec: exactness at shortlist = N (the refine recovers
  * exact order), recall floor at shortlist 100, append/remove identities.
  */
final case class BqModel(codes: DataFrame, corpus: DataFrame) {

  /** Driver-side encode of the query vector (the same sign rule the
    * codegen'd BqEncode applies per row). */
  def encodeQuery(qvec: Array[Float]): Array[Byte] = {
    val out = new Array[Byte]((qvec.length + 7) / 8)
    var i = 0
    while (i < qvec.length) {
      if (qvec(i) > 0f) out(i >> 3) = (out(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    out
  }

  /** Top-K via Hamming shortlist + exact refine: the shortlist TakeOrdered
    * reads only (vec_id, bq_codes) — ascending distance, vec_id tiebreak —
    * then the broadcast id join scores the survivors exactly. */
  def search(qvec: Array[Float], k: Int, shortlist: Int = 100): DataFrame = {
    val short = codes
      .select(col("vec_id"), bqHamming(col("bq_codes"), encodeQuery(qvec)).as("hamming"))
      .orderBy(col("hamming"), col("vec_id")).limit(shortlist)
    VectorSearch.topK(
      corpus.join(broadcast(short.select("vec_id")), "vec_id"), qvec, k)
  }

  /** Incremental add: stateless quantizer, so append is ONLY an encode +
    * union — the no-retraining property is exact here, not a drift
    * trade-off (the tier's operational selling point). */
  def append(batch: DataFrame): BqModel =
    copy(
      codes = codes.unionByName(
        batch.select(col("vec_id"), bqEncode(col("embedding")).as("bq_codes"))),
      corpus = corpus.unionByName(batch))

  /** Deletion: tombstone anti-join on both tables (the lakehouse delete,
    * as on every other tier). */
  def remove(ids: DataFrame): BqModel = {
    val t = ids.select(col("vec_id"))
    copy(codes = codes.join(t, Seq("vec_id"), "left_anti"),
         corpus = corpus.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Index health in ONE aggregate: count, code geometry, and the mean
    * popcount fraction — a sign-balance diagnostic (healthy centered dims
    * sit near 0.5; a skewed dim wastes its bit). */
  def stats(rawBytesPerDim: Int = 4): DataFrame = {
    // one-row peek for the code width (bounded; stats is a diagnostic)
    val w = codes.select(length(col("bq_codes"))).first().getInt(0)
    codes
      .select(bqHamming(col("bq_codes"), new Array[Byte](w)).as("pop"))
      .agg(count(lit(1)).as("n_vectors"),
        lit(w).as("code_bytes_per_vec"),
        lit(w * 8 * rawBytesPerDim).as("raw_bytes_per_vec"),
        round(avg(col("pop")), 6).as("mean_popcount"))
  }
}

object Bq {

  /** Encode the corpus row-locally — no training pass at all. */
  def build(emb: DataFrame): BqModel =
    BqModel(
      emb.select(col("vec_id"), bqEncode(col("embedding")).as("bq_codes")),
      emb)

  /** Persist the code table (the 32×-smaller scan surface); the corpus is
    * NOT copied — refine reads it where it lives. No params to write:
    * the quantizer is the sign rule itself. */
  def write(model: BqModel, path: String): Unit =
    model.codes.write.mode("overwrite").parquet(s"$path/codes")

  def load(spark: SparkSession, path: String, corpus: DataFrame): BqModel =
    BqModel(spark.read.parquet(s"$path/codes"), corpus)

  private val store = new graft.ArtifactStore.Family[BqModel]("bq", "codes/_SUCCESS")

  /** The persisted BQ code table of a corpus (the Ivf.cached convention). */
  def cached(spark: SparkSession, emb: DataFrame, corpusKey: String): BqModel =
    store(emb, corpusKey)(write(build(emb), _))(load(spark, _, emb))
}
