package graft

import graft.search.{TopK, VecMath}
import org.scalatest.funsuite.AnyFunSuite

/** The deferred-rounding accumulator must equal the reference it replaces:
  * round every row to 6 dp, sort by (−score, id), take k — same ids, same
  * score bits, same pass bits, same order.
  */
class TopKSpec extends AnyFunSuite {

  private type Row = (Long, Double, Boolean)

  private def reference(rows: Seq[Row], k: Int): Seq[Row] =
    rows.map { case (id, raw, ok) => (id, VecMath.round6(raw), ok) }
      .sortBy { case (id, s, _) => (-s, id) }
      .take(k)

  private def unpack(p: TopK.Packed): Seq[Row] =
    p.ids.indices.map(i => (p.ids(i), p.scores(i), p.pass(i)))

  private def bits(rows: Seq[Row]) =
    rows.map { case (id, s, ok) => (id, java.lang.Double.doubleToRawLongBits(s), ok) }

  /** One accumulator over all rows, and the executor/driver shape: the
    * rows dealt into `parts` partials, merged on the "driver". */
  private def check(rows: Seq[Row], k: Int, parts: Int = 3): Unit = {
    val want = bits(reference(rows, k))
    val one = new TopK(k)
    rows.foreach { case (id, raw, ok) => one.offer(raw, id, ok) }
    assert(bits(unpack(TopK.merge(Iterator(one.packed), k))) == want,
      s"single, k=$k n=${rows.size}")
    val partials = (0 until parts).map { p =>
      val t = new TopK(k)
      rows.zipWithIndex.collect { case ((id, raw, ok), i) if i % parts == p =>
        t.offer(raw, id, ok)
      }
      t.packed
    }
    assert(bits(unpack(TopK.merge(partials.iterator, k))) == want,
      s"merged, k=$k n=${rows.size}")
  }

  test("random inputs equal round-sort-take, single and merged") {
    val rng = new scala.util.Random(7)
    (0 until 300).foreach { t =>
      val n = rng.nextInt(400)
      val ids = rng.shuffle((0L until n.toLong).map(_ * 3 + 11)).toArray
      // odd rounds: ~30 levels 1e-6 apart, each row up to ±5e-7 off its
      // level, so the k-th place is usually a tie decided at a boundary
      val rows = ids.toSeq.map { id =>
        val raw =
          if (t % 2 == 0) math.rint(rng.nextGaussian() * 1e3) * 1e-3 + rng.nextGaussian() * 4e-7
          else (rng.nextInt(30) + rng.nextDouble() - 0.5) * 1e-6
        (id, raw, rng.nextBoolean())
      }
      check(rows, 1 + rng.nextInt(n + 5), parts = 1 + rng.nextInt(5))
    }
  }

  test("raw scores one ulp either side of a 6-dp half-up boundary") {
    val edges = Seq(0.1234565, -0.1234565, 0.0000005, -0.0000005, 0.9999995)
    val raws = edges.flatMap { e =>
      Seq(math.nextDown(math.nextDown(e)), math.nextDown(e), e,
        math.nextUp(e), math.nextUp(math.nextUp(e)), e - 1e-6, e + 1e-6, e - 5e-7, e + 5e-7)
    }
    // the boundary pairs really do round apart
    assert(VecMath.round6(math.nextDown(0.1234565)) == 0.123456)
    assert(VecMath.round6(0.1234565) == 0.123457)
    val rng = new scala.util.Random(11)
    (0 until 50).foreach { t =>
      val rows = rng.shuffle(raws).zipWithIndex.map { case (r, i) => (i.toLong, r, i % 3 != 0) }
      (1 to raws.size + 2).foreach(k => check(rows, k, parts = 1 + t % 4))
    }
  }

  test("equal rounded scores arriving in descending id order keep the lowest ids") {
    // every raw value rounds to 0.5; ids arrive high to low
    val rows = (0 until 200).map { i =>
      (1000L - i, 0.5 + ((i % 9) - 4) * 1e-7, i % 2 == 0)
    }
    Seq(1, 5, 64, 65, 199, 200, 300).foreach(k => check(rows, k))
    val t = new TopK(3)
    rows.foreach { case (id, raw, ok) => t.offer(raw, id, ok) }
    assert(TopK.merge(Iterator(t.packed), 3).ids.toSeq == Seq(801L, 802L, 803L))
  }

  test("k >= n, no offered row, negative and large-magnitude scores") {
    val neg = (0 until 50).map(i => (i.toLong, -1.0 - i * 3.3e-7, true))
    check(neg, 10)
    check(neg, 50)
    check(neg, 500)
    // a predicate no row passes: empty partials merge to an empty answer
    assert(TopK.merge(Iterator(new TopK(5).packed, new TopK(5).packed), 5).ids.isEmpty)
    val big = (0 until 100).map(i => (i.toLong, 4.3e9 + (i % 17) * 9.5e-7, true))
    Seq(1, 7, 40, 100).foreach(k => check(big, k))
  }

  test("k < 1 is refused with k named") {
    val e = intercept[IllegalArgumentException](new TopK(0))
    assert(e.getMessage.contains("k must be >= 1"), e.getMessage)
  }
}
