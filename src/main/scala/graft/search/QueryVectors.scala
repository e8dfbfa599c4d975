package graft.search

/** Deterministic seeded query vectors (SURVEY.md §3).
  *
  * The reference ships a queries.parquet of fixed query embeddings
  * (artifacts/artifacts.py `write_queries`); the driver testdata has no
  * query table, so queries are derived in-code from a fixed seed — both
  * the Spark plan and the DuckDB oracle SQL render the SAME doubles, so
  * correctness compares are exact.
  */
object QueryVectors {

  val Dim = 64

  /** L2-normalized gaussian query vector, deterministic per (seed, qid). */
  def qvec(qid: Int, seed: Long = 42L): Array[Float] = {
    val rng = new scala.util.Random(seed + qid)
    val v = Array.fill(Dim)(rng.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / norm).toFloat)
  }

  def batch(n: Int, seed: Long = 42L): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, qvec(i, seed)))

  /** Render as a DuckDB DOUBLE[] literal. `Float.toDouble.toString` is the
    * shortest decimal that round-trips, so DuckDB parses the exact same
    * double the Spark expression computes with. */
  def sqlLit(v: Array[Float]): String =
    v.map(_.toDouble.toString).mkString("[", ",", "]::DOUBLE[]")

  /** `n` seeded unit-normalized gaussian rows — the pinned-geometry
    * portable twins' shared frozen-model generator (#301/#303/#306's
    * centroids; one source of truth so a tweak to the seeding or
    * normalization discipline cannot diverge the families). Generation
    * in double, normalized in double, stored as float. */
  def seededUnitRows(n: Int, dim: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(n) {
      val v = Array.fill(dim)(rng.nextGaussian())
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / nrm).toFloat)
    }
  }

  /** Render centroid rows as a `(cid, vector)` VALUES body — the shared
    * oracle-builder snippet of the pinned-geometry twins. */
  def sqlValues(cs: Array[Array[Float]]): String =
    cs.zipWithIndex.map { case (c, i) => s"($i, ${sqlLit(c)})" }
      .mkString(",\n|  ")
}

/** The reference's qtext → query-vector encode seam: artifacts.py encodes
  * each query's text with all-MiniLM-L6-v2 at artifact-build time, and
  * run.py falls back to `vectors[qid]` only when qtext is empty. No model
  * runtime ships in this container, so the DEFAULT implementation derives
  * a deterministic seeded unit vector from the text's hash (same trick
  * QueryVectors plays per qid) — the trait is the pluggable slot a user
  * brings a real encoder to (an ONNX session, a model-server client, a
  * mapInPandas batch encoder for query TABLES). Harness rule
  * (RunHarness): explicit qvec wins; else non-empty qtext → encode;
  * else dataset vector at qid.
  */
trait QueryEncoder extends Serializable {
  def dim: Int
  def encode(qtext: String): Array[Float]
}

object QueryEncoder {
  /** Deterministic stand-in encoder: identical text always encodes to the
    * identical unit vector. */
  def seeded(dimension: Int = QueryVectors.Dim, seed: Long = 42L): QueryEncoder =
    new QueryEncoder {
      val dim: Int = dimension
      def encode(qtext: String): Array[Float] = {
        val rng = new scala.util.Random(seed ^ scala.util.hashing.MurmurHash3.stringHash(qtext))
        val v = Array.fill(dim)(rng.nextGaussian())
        val norm = math.sqrt(v.map(x => x * x).sum)
        v.map(x => (x / norm).toFloat)
      }
    }
}

/** Local (driver-side) float-vector math, double accumulation — the same
  * sequential order as the DotProductF32 codegen, so spec baselines and
  * IVF probe ranking agree bit-for-bit with the distributed path. */
object VecMath {
  def dot(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dot: dimension mismatch ${a.length} vs ${b.length}")
    var acc = 0.0
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** [[dot]] over a row's array column, read in place — same order; a null
    * element fails, as a typed read of the row would. */
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData, b: Array[Float]): Double = {
    val n = a.numElements()
    require(n == b.length, s"dot: dimension mismatch $n vs ${b.length}")
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) throw new NullPointerException(s"dot: null element at $i")
      acc += a.getFloat(i).toDouble * b(i).toDouble
      i += 1
    }
    acc
  }

  /** Round half-up to 6 dp — matches Spark's `round` (BigDecimal HALF_UP).
    * Monotone (x ≤ y ⇒ round6(x) ≤ round6(y)), and any x with
    * round6(x) ≥ w lies at or above w − 5e-7: the two facts that let
    * [[TopK]] skip rounding a raw score below `worst − 1e-6` without
    * changing any ranking. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
}
