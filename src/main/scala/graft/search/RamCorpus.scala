package graft.search

import graft.filters.FilterDsl
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.storage.StorageLevel

/** RAM-resident flat corpus for serving-latency exact search.
  *
  * The reference serves `exact`/`pre_filter` from an mmap'd N×D float32
  * NumPy matrix (src/dataio/loaders.py loads vectors.npy once; every query
  * is a BLAS matmul over raw floats). The columnar-cache path pays a
  * per-query decode — cached parquet batches → UnsafeArrayData → boxed
  * array per row — that the reference never pays. This is the Spark
  * equivalent of the reference's layout: one primitive row-major
  * `Array[Float]` block per partition, persisted as JVM objects, scored
  * with the same tight double-accumulated loop `VecMath.dot` uses, one
  * [[TopK]] per partition, O(P·k) driver merge.
  *
  * Ranking contract: round6(score) descending, ascending-id ties. Rounding
  * is deferred to rows that can still rank: with k rows held, a raw score
  * below `worst − 1e-6` is skipped unrounded — exact, since round6 is
  * monotone and any raw value rounding to ≥ worst is ≥ worst − 5e-7.
  *
  * Scale shape: identical to the brute-force TakeOrdered (per-partition
  * heap + driver merge) — only the storage differs. At 100 TB the corpus
  * does not fit in RAM and the parquet-scan path is the right plan; this
  * class is the serving tier for the corpus sizes the reference itself
  * serves from one node's memory (its published N is 150k×384 ≈ 230 MB).
  */
final class RamCorpus private (
    blocks: RDD[RamCorpus.Block], val dim: Int, val total: Long) extends Serializable {

  /** Exact top-K inner product, optional local label predicate.
    * Score parity with the DataFrame path: float products accumulated in
    * double, rounded to 6 dp, ties broken by ascending id. */
  def topK(qvec: Array[Float], k: Int,
           labelPred: Option[Int => Boolean] = None): Seq[(Long, Double)] =
    candidates(qvec, k, labelPred, withPass = false).pairs

  /** Top-`rung` candidates by score over the WHOLE corpus, each tagged
    * with its predicate result — the post-filter ladder's input (rank
    * first, filter after). */
  def topCandidates(qvec: Array[Float], rung: Int,
                    labelPred: Option[Int => Boolean]): Seq[(Long, Double, Boolean)] = {
    val p = candidates(qvec, rung, labelPred, withPass = true)
    p.ids.indices.map(i => (p.ids(i), p.scores(i), p.pass(i)))
  }

  /** Exact top-K among a SPECIFIC id set — the compressed tier's refine
    * step served from the pinned blocks (the reference refines FAISS
    * shortlists against its resident matrix the same way): one lightweight
    * runJob scores only shortlist members, no corpus DataFrame scan.
    * Ranking contract identical to topK (round6, ascending-id ties);
    * rows failing `labelPred` are dropped BEFORE the top-K cut, matching
    * `VectorSearch.topK(refined, qvec, k, pred)` over the same ids.
    * An empty id set or k < 1 answers empty without a job. */
  def scoreIds(qvec: Array[Float], wanted: Array[Long], k: Int,
               labelPred: Option[Int => Boolean] = None): Seq[(Long, Double)] =
    if (k < 1 || wanted.isEmpty) Seq.empty
    else candidates(qvec, k, labelPred, withPass = false, wanted.sorted).pairs

  /** Distinct-label histogram, computed ONCE at pin time (labels are a
    * small enum by construction) — |allowed| for a label-local predicate
    * is then a driver-side fold over ≤|labels| entries instead of a
    * per-query block-scan job (r21: runMany paid one such job per
    * filtered query). */
  private lazy val labelHist: Map[Int, Long] =
    blocks.sparkContext.runJob(blocks, (it: Iterator[RamCorpus.Block]) => {
      val h = new java.util.HashMap[Int, Long]()
      it.foreach { b =>
        var r = 0
        while (r < b.labels.length) {
          h.merge(b.labels(r), 1L, (a, c) => a + c); r += 1
        }
      }
      import scala.jdk.CollectionConverters._
      h.asScala.toMap
    }).foldLeft(Map.empty[Int, Long]) { (acc, m) =>
      m.foldLeft(acc) { case (a, (k, v)) => a.updated(k, a.getOrElse(k, 0L) + v) }
    }

  /** |allowed| for a label-local predicate — exact (the predicate depends
    * only on the label, so evaluating it per DISTINCT label over the
    * histogram counts the same rows the per-row scan did). */
  def countAllowed(labelPred: Option[Int => Boolean]): Long = labelPred match {
    case None => total
    case Some(f) =>
      labelHist.iterator.collect { case (l, n) if f(l) => n }.sum
  }

  /** Shared scorer: when `withPass` the top-K ranks ALL rows and carries
    * the predicate bit (post-filter shape); otherwise only passing rows
    * are scored (pre-filter shape — the filter IS the gather). A non-null
    * sorted `wanted` further restricts the scan to those ids. */
  private def candidates(qvec: Array[Float], k: Int, labelPred: Option[Int => Boolean],
                         withPass: Boolean, wanted: Array[Long] = null): TopK.Packed = {
    require(qvec.length == dim, s"dot_f32: dimension mismatch (${qvec.length} vs $dim)")
    TopK.requireK(k)
    val d = dim
    val lp = labelPred // serializable capture, no `this` in the closure
    val partials = blocks.sparkContext.runJob(blocks, (it: Iterator[RamCorpus.Block]) => {
      val f: Int => Boolean = lp.orNull
      val top = new TopK(k)
      it.foreach { b =>
        val n = b.ids.length
        var r = 0
        while (r < n) {
          val pass = f == null || f(b.labels(r))
          if ((withPass || pass) &&
              (wanted == null || java.util.Arrays.binarySearch(wanted, b.ids(r)) >= 0)) {
            val base = r * d
            var acc = 0.0
            var i = 0
            while (i < d) { acc += b.vecs(base + i).toDouble * qvec(i).toDouble; i += 1 }
            top.offer(acc, b.ids(r), pass)
          }
          r += 1
        }
      }
      top.packed
    })
    TopK.merge(partials.iterator, k)
  }
}

object RamCorpus {

  /** One packed partition: parallel id/label arrays + a row-major flat
    * float matrix (ids(r) ↔ vecs[r*dim, (r+1)*dim)). */
  final case class Block(ids: Array[Long], labels: Array[Int], vecs: Array[Float])

  /** Pack (vec_id, embedding, label) into per-partition blocks and pin
    * them in executor memory. One-time cost, like the reference's artifact
    * load; the returned corpus serves queries with zero decode. One job:
    * the pin itself reports each block's row count and dimension, and a
    * row whose dimension differs from its block's or a block's from the
    * first non-empty block's fails the build, naming a `vec_id`. */
  def build(emb: DataFrame): RamCorpus = {
    val spark = emb.sparkSession
    import spark.implicits._
    val blocks = emb
      .select(col("vec_id").cast("long"), col("embedding"), col("label").cast("int"))
      .as[(Long, Array[Float], Int)]
      .rdd
      .mapPartitions { it =>
        val ids = Array.newBuilder[Long]
        val labels = Array.newBuilder[Int]
        val vecs = Array.newBuilder[Float]
        var dim = -1
        it.foreach { case (id, v, l) =>
          if (dim < 0) dim = v.length
          else if (v.length != dim) throw mismatch(v.length, dim, id)
          ids += id; labels += l; vecs ++= v
        }
        Iterator.single(Block(ids.result(), labels.result(), vecs.result()))
      }
      .persist(StorageLevel.MEMORY_ONLY)
    // (rows, dim, first vec_id) per block; materializes the pin
    val shapes = blocks.map(b =>
      (b.ids.length.toLong, if (b.ids.isEmpty) 0 else b.vecs.length / b.ids.length,
        b.ids.headOption.getOrElse(0L))).collect().filter(_._1 > 0)
    def fail(e: Exception): Nothing = { blocks.unpersist(); throw e }
    val dim = shapes.headOption.map(_._2).getOrElse(
      fail(new NoSuchElementException("RamCorpus.build: the corpus has no rows")))
    shapes.find(_._2 != dim).foreach { case (_, d, id) => fail(mismatch(d, dim, id)) }
    new RamCorpus(blocks, dim, shapes.map(_._1).sum)
  }

  private def mismatch(got: Int, dim: Int, id: Long) =
    new IllegalArgumentException(s"dot_f32: dimension mismatch ($got vs $dim) packing vec_id=$id")

  /** Compile a filter-DSL spec into a LOCAL label predicate, when the spec
    * touches nothing but the int `label` column (the embeddings table's
    * only filterable metadata, QuerySet §3). None = not label-only — the
    * request stays on the Catalyst path ([[ResolvedFilter]] asks once per
    * request). Semantics match FilterDsl.compile: AND of all ops,
    * cast-failure excludes all rows. */
  def labelPredicate(spec: FilterDsl.Spec): Option[Option[Int => Boolean]] = {
    if (spec.isEmpty) return Some(None)
    if (!spec.preds.forall(_._1 == "label")) return None
    // the one cast FilterDsl compiles its literals from (out-of-range and
    // unparsable values are cast failures there too)
    val cast = (v: Any) => FilterDsl.castIntegral(v, IntegerType)
    val fails: Int => Boolean = _ => false
    val fns: Seq[Option[Int => Boolean]] = spec.preds.flatMap { case (_, ops) =>
      ops.map {
        case FilterDsl.Eq(v) => Some(cast(v).fold(fails)(d => l => l.toLong == d))
        case FilterDsl.Ne(v) => Some(cast(v).fold(fails)(d => l => l.toLong != d))
        case FilterDsl.Ge(v) => Some(cast(v).fold(fails)(d => l => l.toLong >= d))
        case FilterDsl.Le(v) => Some(cast(v).fold(fails)(d => l => l.toLong <= d))
        case FilterDsl.Gt(v) => Some(cast(v).fold(fails)(d => l => l.toLong > d))
        case FilterDsl.Lt(v) => Some(cast(v).fold(fails)(d => l => l.toLong < d))
        case FilterDsl.Between(lo, hi) =>
          Some((cast(lo), cast(hi)) match {
            case (Some(a), Some(b)) => (l: Int) => l.toLong >= a && l.toLong <= b
            case _ => fails
          })
        case FilterDsl.In(vs) =>
          val ok = vs.flatMap(cast) // uncastable values drop, all-fail => false
          Some(if (ok.isEmpty) fails else { val set = ok.toSet; (l: Int) => set(l.toLong) })
        case FilterDsl.Like(substr) =>
          val needle = substr.toLowerCase
          Some((l: Int) => l.toString.toLowerCase.contains(needle))
        case _ => None // geo ops can't target `label` (validate rejects) — unreachable
      }
    }
    if (fns.exists(_.isEmpty)) None
    else {
      val all = fns.flatten
      Some(Some(l => all.forall(_(l))))
    }
  }
}
