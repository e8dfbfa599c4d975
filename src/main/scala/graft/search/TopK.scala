package graft.search

/** Exact bounded top-K for every scored scan: round6(score) descending,
  * ties by ascending id. (score, id, pass) live in primitive arrays as a
  * heap rooted at the worst kept entry. [[offer]] takes the RAW score and
  * rounds only rows that can still rank: with k held, a raw score below
  * `worst − 1e-6` is skipped unrounded — exact by the bounds in
  * VecMath.round6's doc (4 more ulp of `worst` cover double arithmetic at
  * any magnitude). Executors ship [[packed]] partials; [[TopK.merge]]
  * folds them on the driver. */
final class TopK(k: Int) {
  TopK.requireK(k)
  // grown on demand up to k, so a wide k costs only what it holds
  private var scores = new Array[Double](math.min(k, 64))
  private var ids = new Array[Long](scores.length)
  private var pass = new Array[Boolean](scores.length)
  private var n = 0
  private var floor = Double.NegativeInfinity // once full: raw below this cannot rank

  /** Offer an unrounded score; `ok` rides along (the post-filter pass bit). */
  def offer(raw: Double, id: Long, ok: Boolean = true): Unit =
    if (n < k || !(raw < floor)) insert(VecMath.round6(raw), id, ok)

  /** The kept entries, rounded, in heap order. */
  def packed: TopK.Packed = TopK.Packed(ids.take(n), scores.take(n), pass.take(n))

  private def insert(s: Double, id: Long, ok: Boolean): Unit = {
    if (n < k) {
      if (n == scores.length) {
        val cap = math.min(k, 2 * n)
        scores = java.util.Arrays.copyOf(scores, cap)
        ids = java.util.Arrays.copyOf(ids, cap)
        pass = java.util.Arrays.copyOf(pass, cap)
      }
      scores(n) = s; ids(n) = id; pass(n) = ok
      var i = n
      n += 1
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (scores(0) < s || (scores(0) == s && ids(0) > id)) {
      scores(0) = s; ids(0) = id; pass(0) = ok
      siftDown(n)
    } else return
    if (n == k) floor = scores(0) - 1e-6 - 4 * Math.ulp(scores(0))
  }

  /** In-place heap sort: the arrays end best first; the heap is spent. */
  private def sortBestFirst(): Unit = {
    var m = n
    while (m > 1) { m -= 1; swap(0, m); siftDown(m) }
  }

  private def siftDown(size: Int): Unit = {
    var i = 0
    var c = 1
    while (c < size) {
      if (c + 1 < size && worse(c + 1, c)) c += 1
      if (worse(c, i)) { swap(c, i); i = c; c = 2 * i + 1 } else c = size
    }
  }

  // entry a ranks below entry b: lower score, or equal score and higher id
  private def worse(a: Int, b: Int): Boolean =
    scores(a) < scores(b) || (scores(a) == scores(b) && ids(a) > ids(b))

  private def swap(a: Int, b: Int): Unit = {
    val s = scores(a); scores(a) = scores(b); scores(b) = s
    val i = ids(a); ids(a) = ids(b); ids(b) = i
    val o = pass(a); pass(a) = pass(b); pass(b) = o
  }
}

object TopK {

  /** Index-aligned (id, rounded score, pass) columns. */
  final case class Packed(ids: Array[Long], scores: Array[Double], pass: Array[Boolean]) {
    def pairs: Seq[(Long, Double)] = ids.indices.map(i => (ids(i), scores(i)))
  }

  /** Driver-side reduce of per-partition partials, best first. */
  def merge(partials: Iterator[Packed], k: Int): Packed = {
    val acc = new TopK(k)
    partials.foreach(p => p.ids.indices.foreach(i => acc.insert(p.scores(i), p.ids(i), p.pass(i))))
    acc.sortBestFirst()
    acc.packed
  }

  /** (key, id, score) rows of `tops`, aligned with `keys` — a per-key partial. */
  def rows(keys: Array[Long], tops: Array[TopK]): Iterator[(Long, Long, Double)] =
    keys.iterator.zip(tops.iterator).flatMap { case (key, t) =>
      t.packed.pairs.iterator.map { case (id, s) => (key, id, s) }
    }

  /** Driver-side guard: k < 1 fails before any job, not inside a task. */
  def requireK(k: Int, name: String = "k"): Unit =
    require(k >= 1, s"$name must be >= 1, got $k")
}
