package graftbench

import java.util.SplittableRandom

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so the in-process oracle and the Spark tasks that write the
  * parquet inputs regenerate identical rows independently. */
object Gen {

  /** SplitMix64 finaliser over (a, b): decorrelated per-row RNG seeds. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def normalize(x: Array[Double]): Array[Float] = {
    var ss = 0.0
    var i = 0
    while (i < x.length) { ss += x(i) * x(i); i += 1 }
    val inv = 1.0 / math.sqrt(ss)
    x.map(v => (v * inv).toFloat)
  }

  /** Unit vectors drawn from a Gaussian mixture: `clusters` centres with
    * i.i.d. N(0,1) coordinates, each row a centre plus N(0, sigma²) noise,
    * L2-normalised. `label` is uniform on [0, labels) and independent of
    * the centre, so a label filter keeps a random slice of every cluster. */
  final case class VecSpec(n: Int, dim: Int, clusters: Int, sigma: Double,
                           labels: Int, seed: Long) {
    lazy val centers: Array[Array[Double]] = Array.tabulate(clusters) { c =>
      val r = new SplittableRandom(mix(seed, -1L - c))
      Array.fill(dim)(r.nextGaussian())
    }

    /** (label, unit vector) of row `i`; rows past `n` (ingest batches)
      * come from the same distribution. */
    def row(i: Long): (Int, Array[Float]) = {
      val r = new SplittableRandom(mix(seed, i))
      val c = centers(r.nextInt(clusters))
      val label = r.nextInt(labels)
      val x = new Array[Double](dim)
      var k = 0
      while (k < dim) { x(k) = c(k) + sigma * r.nextGaussian(); k += 1 }
      (label, normalize(x))
    }

    /** Query `q`: a corpus row perturbed by small noise, renormalised. */
    def query(q: Long): Array[Float] = {
      val r = new SplittableRandom(mix(seed ^ 0x5151L, q))
      val base = row(r.nextInt(n).toLong)._2
      normalize(base.map(v => v + 0.02 * r.nextGaussian()))
    }
  }

  /** Lowercase vocabulary of distinct words, 2 to 9 letters. */
  def vocabulary(size: Int, seed: Long): Array[String] = {
    val r = new SplittableRandom(mix(seed, 0x70CAB))
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < size) {
      val len = 2 + r.nextInt(8)
      seen += new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
    }
    seen.toArray
  }

  /** Documents with planted near-duplicates. Each document is either
    * fresh (12 to 61 tokens drawn with a skew towards common words), an
    * exact copy of an earlier document, a copy plus one new token
    * (Jaccard s/(s+1): at or above 0.95 once the copied set has 19
    * distinct tokens, below it otherwise), or a copy with three tokens
    * replaced (Jaccard well below 0.95: candidates the verify step must
    * reject). `pool` holds earlier documents that may be copied, so an
    * ingest batch can duplicate documents already in the corpus. */
  def documents(n: Int, idBase: Long, vocab: Array[String], seed: Long,
                pool: IndexedSeq[String] = IndexedSeq.empty): Array[(Long, String)] = {
    val r = new SplittableRandom(mix(seed, idBase))
    val out = new Array[(Long, String)](n)
    def word(): String = {
      val u = r.nextDouble()
      vocab(math.min(vocab.length - 1, (vocab.length * u * u).toInt))
    }
    def source(i: Int): String = {
      val j = r.nextInt(pool.length + i)
      if (j < pool.length) pool(j) else out(j - pool.length)._2
    }
    var i = 0
    while (i < n) {
      val p = r.nextDouble()
      val canCopy = pool.nonEmpty || i > 0
      val text =
        if (canCopy && p < 0.05) source(i)
        else if (canCopy && p < 0.12) {
          val toks = source(i).split(" ")
          val have = toks.toSet
          var extra = vocab(r.nextInt(vocab.length))
          while (have(extra)) extra = vocab(r.nextInt(vocab.length))
          val at = r.nextInt(toks.length + 1)
          (toks.take(at) ++ Array(extra) ++ toks.drop(at)).mkString(" ")
        } else if (canCopy && p < 0.16) {
          val toks = source(i).split(" ")
          (0 until 3).foreach(_ => toks(r.nextInt(toks.length)) = word())
          toks.mkString(" ")
        } else Array.fill(12 + r.nextInt(50))(word()).mkString(" ")
      out(i) = (idBase + i, text)
      i += 1
    }
    out
  }
}
