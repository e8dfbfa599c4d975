package graftbench

/** The benchmark's own reference answers, computed without Spark. */
object Oracle {

  /** graft's ranking contract: float products accumulated in double,
    * rounded half-up to 6 dp before ranking, ties by ascending id. */
  def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  def dot(a: Array[Float], aOff: Int, b: Array[Float], dim: Int): Double = {
    var acc = 0.0
    var i = 0
    while (i < dim) { acc += a(aOff + i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** A flat row-major corpus: ids(r) ↔ vecs[r·dim, (r+1)·dim). */
  final class Corpus(val ids: Array[Long], val labels: Array[Int],
                     val vecs: Array[Float], val dim: Int) {
    def size: Int = ids.length
    def vec(r: Int): Array[Float] = java.util.Arrays.copyOfRange(vecs, r * dim, (r + 1) * dim)

    /** Exact top-k ids (graft's ranking contract) among rows passing
      * `allow`, plus the number of rows that pass. Rounding is monotone,
      * so only rows within 2e-6 of the k-th raw score need the exact
      * half-up rounding. */
    def topK(q: Array[Float], k: Int, allow: Int => Boolean): (Array[Long], Int) = {
      val raw = new Array[Double](size)
      val keep = new Array[Int](size)
      var m = 0
      var r = 0
      while (r < size) {
        if (allow(r)) { raw(m) = dot(vecs, r * dim, q, dim); keep(m) = r; m += 1 }
        r += 1
      }
      if (m == 0) return (Array.empty, 0)
      val sortedRaw = java.util.Arrays.copyOf(raw, m)
      java.util.Arrays.sort(sortedRaw)
      val kth = sortedRaw(math.max(0, m - k))
      val near = (0 until m).filter(j => raw(j) >= kth - 2e-6)
        .map(j => (round6(raw(j)), ids(keep(j))))
        .sortBy { case (s, id) => (-s, id) }
      (near.take(k).map(_._2).toArray, m)
    }
  }

  // ---- documents ---------------------------------------------------------

  /** graft's token set: the lowercased text split on single spaces. */
  def tokenSet(text: String): Set[String] = text.toLowerCase.split(" ", -1).toSet

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  /** Every pair (id_a < id_b) with Jaccard ≥ tau, by exhaustive
    * comparison inside the size band tau·|A| ≤ |B| ≤ |A|/tau (pairs
    * outside it cannot reach tau). */
  def jaccardPairs(docs: Array[(Long, String)], tau: Double): Set[(Long, Long)] = {
    val dict = scala.collection.mutable.HashMap.empty[String, Int]
    val sets = docs.map { case (id, t) =>
      (id, tokenSet(t).map(w => dict.getOrElseUpdate(w, dict.size)).toArray.sorted)
    }.sortBy(_._2.length)
    def inter(a: Array[Int], b: Array[Int]): Int = {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1 else j += 1
      }
      c
    }
    val out = Set.newBuilder[(Long, Long)]
    var i = 0
    while (i < sets.length) {
      val (ia, a) = sets(i)
      var j = i + 1
      while (j < sets.length && tau * sets(j)._2.length <= a.length) {
        val (ib, b) = sets(j)
        val c = inter(a, b)
        if (c.toDouble / (a.length + b.length - c) >= tau)
          out += (if (ia < ib) (ia, ib) else (ib, ia))
        j += 1
      }
      i += 1
    }
    out.result()
  }

  /** Connected components of an edge list as (node → min node id). */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keysIterator.map(v => v -> find(v)).toMap
  }
}
