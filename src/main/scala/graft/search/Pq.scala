package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Product quantization (PQ) with asymmetric-distance scoring — the
  * compression tier of the ANN ladder (reference src/dataio/loaders.py
  * builds FAISS IVFFlat; PQ is that family's standard answer when even
  * the flat f32 vectors are too big to scan — FAISS IndexPQ/IVFPQ).
  *
  * Spark mapping:
  *  - train: m INDEPENDENT small k-means fits, one per dsub-dim slice of
  *    a bounded sample (the codebook is m·k·dsub floats — a few hundred
  *    KB at most), run as LOCAL seeded Lloyd iterations parallelized
  *    across subspaces (Pq.localKMeans doc);
  *  - encode: ONE codegen'd PqEncode pass per row — all m L2 assignments
  *    (argmin_c ‖x_s−c‖² = argmax_c x_s·c − ‖c‖²/2, biases precomputed)
  *    against the codebook held as primitive float arrays. Row-local,
  *    shuffle-free. dim·4 B of f32 → dim/8 code bytes: 32× less scan I/O;
  *  - search (ADC): the per-query lookup table lut[s][c] = q_s·c is
  *    driver math over the codebook; scoring the corpus is the codegen'd
  *    PqAdcScore projection — m primitive-array indexes per row over the
  *    CODE column, the vectors are never read. TakeOrdered shortlist,
  *    then an exact re-rank of the shortlist only (ADC+refine): at scale
  *    the refine is a keyed fetch of `shortlist` vectors (the RamCorpus
  *    serving tier scores the id set from pinned blocks), not a second
  *    scan of the corpus.
  */
final case class PqModel(m: Int, dsub: Int, kCodes: Int,
                         codebook: Array[Array[Array[Float]]],
                         codes: DataFrame, corpus: DataFrame) {

  /** Per-query ADC lookup table: lut(s)(c) = q_s · codebook(s)(c). */
  def lut(qvec: Array[Float]): Array[Array[Double]] = Array.tabulate(m) { s =>
    Array.tabulate(kCodes) { c =>
      val cent = codebook(s)(c)
      var acc = 0.0; var i = 0
      while (i < dsub) { acc += qvec(s * dsub + i).toDouble * cent(i).toDouble; i += 1 }
      acc
    }
  }

  /** ADC score column over `pq_codes`: Σ_s lut_s[code_s] — ONE codegen'd
    * expression holding the LUT as a primitive double[][] (the previous
    * element_at-over-literal chain paid an ArrayData dereference per
    * subspace per row — 48× per row at 384-d). */
  def adcScore(qvec: Array[Float]): Column = pqAdcScore(col("pq_codes"), lut(qvec))

  /** One query's ADC scan of the whole code table ([[CodeTier]]). */
  def scan(qvec: Array[Float]): CodeTier.Scan = CodeTier.Scan(codes, adcScore(qvec))

  /** Top-K via ADC shortlist + exact refine ([[CodeTier.search]]). */
  def search(qvec: Array[Float], k: Int, shortlist: Int = 100): DataFrame =
    CodeTier.search(scan(qvec), corpus, qvec, k, shortlist)

  /** ADC-only top-K (no refine) — the recall floor the refine pass lifts;
    * used by the recall sweep spec. */
  def searchNoRefine(qvec: Array[Float], k: Int): DataFrame = CodeTier.noRefine(scan(qvec), k)

  /** Incremental add: encode the new batch with the EXISTING codebooks
    * (one codegen pass — no retraining) and union both the code table
    * and the refine corpus. Quantizer drift under distribution shift is
    * a rebuild-cadence decision, as with the IVF half. */
  def append(batch: DataFrame): PqModel =
    copy(
      codes = codes.unionByName(
        batch.select(col("vec_id"), Pq.encodeCol(codebook, dsub).as("pq_codes"))),
      corpus = corpus.unionByName(batch))

  /** Deletion (remove_ids): anti-join the tombstones out of both the
    * code table and the refine corpus; codebooks untouched (IvfModel
    * .remove doc — the lakehouse tombstone pattern at persisted scale). */
  def remove(ids: DataFrame): PqModel = {
    val t = ids.select(col("vec_id"))
    copy(codes = codes.join(t, Seq("vec_id"), "left_anti"),
         corpus = corpus.join(t, Seq("vec_id"), "left_anti"))
  }

  /** Index-health report in ONE aggregate: code-space usage per subspace
    * (a subspace collapsing to few codes is how PQ recall dies — the
    * quantizer wasted its bits) plus the compression ratio. */
  def stats(rawBytesPerDim: Int = 4): DataFrame = {
    // bytes/code derived from kCodes (not assumed 1): a codebook loaded
    // from elsewhere may exceed the 256-code build guard
    val bytesPerCode = math.max(1, (32 - Integer.numberOfLeadingZeros(kCodes - 1) + 7) / 8)
    val perSub = (0 until m).map(s =>
      countDistinct(element_at(col("pq_codes"), s + 1)).as(s"cu$s"))
    codes.agg(count(lit(1)).as("n_vectors"), perSub: _*)
      .select(col("n_vectors"), lit(m).as("m"), lit(kCodes).as("k"),
        lit(m * bytesPerCode).as("code_bytes_per_vec"),
        lit(m * dsub * rawBytesPerDim).as("raw_bytes_per_vec"),
        least((0 until m).map(s => col(s"cu$s")): _*).as("min_codes_used"),
        greatest((0 until m).map(s => col(s"cu$s")): _*).as("max_codes_used"))
  }
}

object Pq {

  /** The m-slice encode column: array of per-subspace code ids, ONE
    * codegen'd pass with the codebook as primitive arrays (PqEncode doc —
    * the per-subspace argMaxDot-over-literal formulation paid a virtual
    * call per multiply and made k=256 encodes minutes-long). */
  def encodeCol(codebook: Array[Array[Array[Float]]], dsub: Int): Column =
    pqEncode(col("embedding"), codebook)

  /** Subspace count for a dimension: dsub = 8 (the FAISS-conventional
    * small slice), i.e. m = dim/8 — 8 subspaces at the testdata's 64-d,
    * 48 at a MiniLM-style 384-d. A FIXED m would stretch dsub with the
    * dimension (48-dim slices at 384-d), and 16 centroids on a 48-dim
    * slice quantize to noise: measured recall 0.0 on the 150k×384 probe
    * corpus vs a working curve at dsub=8. Falls back to m=8 when 8
    * doesn't divide dim (build still requires dim % m == 0). */
  def pickM(dim: Int): Int = if (dim % 8 == 0) dim / 8 else 8

  /** Driver-local Lloyd k-means over a collected sample slice, seeded and
    * deterministic. The codebook is tiny (k·dsub floats) and the sample is
    * bounded, so the m per-subspace fits are local array math parallelized
    * across subspaces — a distributed KMeans here pays m × maxIter job
    * launches to fit kilobytes (measured: the MLlib formulation made
    * k=256 at m=48 a ~30-minute build; this trains it in seconds, which
    * is what makes FAISS-standard 8-bit codes affordable). Empty clusters
    * keep their previous centroid (FAISS does the same). */
  private[search] def localKMeans(points: Array[Array[Float]], k: Int, seed: Long,
                          maxIter: Int): Array[Array[Float]] = {
    val n = points.length
    val dim = points(0).length
    val rng = new scala.util.Random(seed)
    val cents = rng.shuffle(points.indices.toVector).take(math.min(k, n))
      .map(i => points(i).clone()).toArray
    val assign = new Array[Int](n)
    var iter = 0
    var changed = true
    while (iter < maxIter && changed) {
      changed = false
      var p = 0
      while (p < n) {
        val v = points(p)
        var best = 0
        var bestD = Double.MaxValue
        var c = 0
        while (c < cents.length) {
          val ct = cents(c)
          var d = 0.0
          var i = 0
          while (i < dim) { val t = v(i) - ct(i); d += t.toDouble * t; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        if (assign(p) != best || iter == 0) { assign(p) = best; changed = true }
        p += 1
      }
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val counts = new Array[Int](cents.length)
      p = 0
      while (p < n) {
        val a = assign(p); val v = points(p); counts(a) += 1
        var i = 0
        while (i < dim) { sums(a)(i) += v(i); i += 1 }
        p += 1
      }
      var c = 0
      while (c < cents.length) {
        if (counts(c) > 0) {
          var i = 0
          while (i < dim) { cents(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
        }
        c += 1
      }
      iter += 1
    }
    cents
  }

  /** Train on a bounded sample (ONE collect feeds all m local fits), then
    * encode the corpus row-locally. Deterministic under a fixed seed,
    * whatever files hold the rows ([[TrainingRows]]). `m = 0` (the
    * default) auto-sizes via [[pickM]]; kCodes = 256 is the FAISS-standard
    * byte code. */
  def build(emb: DataFrame, m: Int = 0, kCodes: Int = 256, seed: Long = 42L,
            maxIter: Int = 10, maxTrainRows: Long = 100000L): PqModel = {
    require(kCodes >= 2 && kCodes <= 256,
      s"pq: kCodes $kCodes outside [2,256] — codes must fit one byte")
    val spark = emb.sparkSession
    import spark.implicits._
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    val m0 = if (m <= 0) pickM(dim) else m
    require(dim % m0 == 0, s"pq: dim $dim not divisible by m=$m0")
    val dsub = dim / m0
    val n = emb.count()
    // in vec_id order: localKMeans seeds from sample positions
    val sample = TrainingRows.sample(emb, n, maxTrainRows, seed)
      .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Array[Float])].collect()
      .sortBy(_._1).map(_._2)
    require(sample.nonEmpty, "pq: empty training sample")
    // effective code count is bounded by the sample (localKMeans seeds
    // centroids from distinct sample rows) — PqModel.kCodes must match the
    // codebook's real width or the ADC LUT would index past it
    val kEff = math.min(kCodes, sample.length)
    // subspace fits are independent — run them on the common pool
    val codebook = (0 until m0).toArray.map { s =>
      java.util.concurrent.CompletableFuture.supplyAsync(() =>
        localKMeans(sample.map(v => java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub)),
          kEff, seed + s, maxIter))
    }.map(_.join())
    val codes = emb.select(col("vec_id"), encodeCol(codebook, dsub).as("pq_codes"))
    PqModel(m0, dsub, kEff, codebook, codes, emb)
  }

  /** Persist: the code table (the index — m bytes/vector of scan I/O) and
    * the codebook. The corpus itself is NOT copied; refine reads it. */
  def write(model: PqModel, path: String): Unit = {
    model.codes.write.mode("overwrite").parquet(s"$path/codes")
    val spark = model.corpus.sparkSession
    import spark.implicits._
    model.codebook.zipWithIndex.flatMap { case (cents, s) =>
      cents.zipWithIndex.map { case (c, ci) => (s, ci, c.toSeq) }
    }.toSeq.toDF("s", "c", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/codebook")
  }

  def load(spark: SparkSession, path: String, corpus: DataFrame): PqModel = {
    val rows = spark.read.parquet(s"$path/codebook")
      .orderBy("s", "c").collect()
      .map(r => (r.getInt(0), r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
    val m = rows.map(_._1).max + 1
    val codebook = Array.tabulate(m)(s => rows.filter(_._1 == s).map(_._2))
    PqModel(m, codebook(0)(0).length, codebook(0).length, codebook,
      spark.read.parquet(s"$path/codes"), corpus)
  }

  private val store = new graft.ArtifactStore.Family[PqModel](
    "pq", "codes/_SUCCESS", "codebook/_SUCCESS")

  /** The persisted PQ index of a corpus (the Ivf.cached convention).
    * `m = 0` auto-sizes via [[pickM]]; the requested m and kCodes name
    * the entry, so the memo hit needs no dimension job. */
  def cached(spark: SparkSession, emb: DataFrame, corpusKey: String,
             m: Int = 0, kCodes: Int = 256): PqModel =
    store(emb, corpusKey, s"sub${if (m > 0) m.toString else "auto"}-k$kCodes")(
      write(build(emb, m, kCodes), _))(load(spark, _, emb))
}
