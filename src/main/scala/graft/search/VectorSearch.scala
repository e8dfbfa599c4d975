package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType}

/** Hybrid vector search operators, Spark-first.
  *
  * Scores are rounded to 6 dp BEFORE ranking, with the id as tiebreak —
  * this makes every ranking fully deterministic and immune to last-ulp
  * summation differences across engines (oracle parity), while 1e-6
  * resolution is far below any meaningful similarity gap.
  *
  * Hand-written scans (topKWithCount, knnJoin, RamCorpus, the IVF-PQ
  * shortlists) rank through [[TopK]], which defers the rounding: holding
  * k rows, it skips a raw score below `worst − 1e-6` unrounded. Exact —
  * round6 is monotone and a raw value rounding to ≥ worst is ≥ worst −
  * 5e-7 — so answers equal "round every row, sort by (−score, id), take k".
  *
  * Scale notes: `orderBy(...).limit(k)` plans as TakeOrderedAndProject —
  * a per-partition heap + O(k) driver merge, never a global sort. Values
  * that vary per request — query vectors, IVF probe lists, LSH bucket
  * lists — enter generated code by reference (array literals ride
  * `ctx.references`; integral `IN` lists become
  * [[org.apache.spark.sql.graft.InLongList]]), so a warm request reuses
  * the compiled classes of the last one; the embedding side streams
  * through whole-stage-codegen'd scoring.
  */
object VectorSearch {

  /** Add a 6dp-rounded IP score column against a fixed query vector. */
  def withScore(emb: DataFrame, qv: Array[Float]): DataFrame =
    emb.withColumn("score", round(dot(col("embedding"), typedlit(qv.toSeq)), 6))

  /** Brute-force top-K inner product, optionally within a filtered subset.
    * The reference's `exact` / `pre_filter` backends
    * (src/eval/oracle.py:36, src/baselines/pre_filter.py:7): filter first,
    * score only survivors — the filter reaches the parquet scan.
    */
  def topK(emb: DataFrame, qv: Array[Float], k: Int, pred: Option[Column] = None): DataFrame = {
    val base = pred.map(emb.where).getOrElse(emb)
    withScore(base, qv)
      .select(col("vec_id"), col("score"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(k)
  }

  /** [[topK]] plus the scanned-row count in ONE pass: per-partition
    * [[TopK]] + row counter, O(P·k) driver merge — for callers that
    * must record |scanned| beside the top-K (the harness's ivf/lsh
    * `scored_vectors`). The separate `count()` job those callers ran
    * re-scanned the candidate set per query, doubling the probe I/O at
    * scale (the harness's probed-tier list-size argument, applied to the filtered
    * case the metadata cannot answer). Ranking contract identical to
    * [[topK]]: double-accumulated float dot, round-6-before-rank,
    * ascending-id ties (VecMath doc — the RamCorpus parity contract). */
  def topKWithCount(emb: DataFrame, qv: Array[Float], k: Int,
                    pred: Option[Column] = None): (Seq[(Long, Double)], Long) = {
    TopK.requireK(k)
    val base = pred.map(emb.where).getOrElse(emb)
    // the executed plan's own rows: `Dataset.rdd` would plan a second
    // QueryExecution (the deserializing one) on every call
    val scored = base.select(col("vec_id").cast("long"), col("embedding"))
    scored.schema("embedding").dataType match {
      case ArrayType(FloatType, _) =>
      case t => throw new IllegalArgumentException(
        s"topKWithCount: embedding must be array<float>, got ${t.simpleString}")
    }
    val partials = base.sparkSession.sparkContext.runJob(scored.queryExecution.toRdd,
      (it: Iterator[InternalRow]) => {
        val top = new TopK(k)
        var n = 0L
        it.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) throw new NullPointerException(
            s"topKWithCount: null ${if (r.isNullAt(0)) "vec_id" else "embedding"} in a scored row")
          n += 1
          top.offer(VecMath.dot(r.getArray(1), qv), r.getLong(0))
        }
        (n, top.packed)
      })
    (TopK.merge(partials.iterator.map(_._2), k).pairs, partials.iterator.map(_._1).sum)
  }

  /** Post-filter baseline (reference src/baselines/post_filter.py:17):
    * rank ALL vectors by similarity, take the top K′ candidates, apply the
    * filter, and widen K′ up the ladder until ≥K survive (or the ladder is
    * exhausted); return the top-K survivors.
    *
    * Scale shape: ONE distributed job — [[ladderCandidates]] of the max
    * rung (O(K′ₘₐₓ) rows to the driver, per-partition heaps, no cache,
    * no global sort). [[ladderWalk]] then runs driver-side over those
    * ≤K′ₘₐₓ rows, which is semantically identical to the reference's retry
    * loop (top-200 ⊆ top-500 ⊆ top-1000) without re-scanning per rung.
    */
  def postFilterLadder(
      emb: DataFrame,
      qv: Array[Float],
      pred: Column,
      k: Int,
      ladder: Seq[Int] = Seq(200, 500, 1000)): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val cand = ladderCandidates(emb, qv, Some(pred), ladder.max)
    spark.createDataset(ladderWalk(cand, ladder, k, ladder.length).kept).toDF("vec_id", "score")
  }

  /** The post-filter ladder's input: the top `maxRung` rows of `emb` as
    * (vec_id, score, pass), ranked by (score desc, vec_id), `pass` = the
    * row passes `pred` (NULL fails; None passes every row). One
    * TakeOrderedAndProject, ≤ `maxRung` rows to the driver. */
  def ladderCandidates(emb: DataFrame, qv: Array[Float], pred: Option[Column],
                       maxRung: Int): Array[(Long, Double, Boolean)] = {
    val spark = emb.sparkSession
    import spark.implicits._
    withScore(emb, qv)
      .withColumn("pass", coalesce(pred.getOrElse(lit(true)), lit(false)))
      .select(col("vec_id").cast("long"), col("score"), col("pass"))
      .orderBy(desc("score"), col("vec_id"))
      .limit(maxRung)
      .as[(Long, Double, Boolean)]
      .collect()
  }

  /** Where a ladder walk stopped: the ≤K kept (vec_id, score) rows, the
    * stopping rung K′, whether ≥K were kept there, and the retries spent. */
  final case class LadderStop(kept: Seq[(Long, Double)], rung: Int, satisfied: Boolean,
                              retries: Int)

  /** The reference's rung walk (post_filter.py:60-99) over ranked
    * candidates (`cand`, best first, each with its pass bit): a rung that
    * keeps < K candidates is a retry (bump); stop when ≥ K are kept, when
    * `maxSteps` retries have been spent, or when the ladder is exhausted.
    * Rungs are walked in ascending order; O(K′) driver work. */
  def ladderWalk(cand: Array[(Long, Double, Boolean)], ladder: Seq[Int], k: Int,
                 maxSteps: Int): LadderStop = {
    var retries = 0
    var lastRung = 0
    var satisfied = false
    val it = ladder.sorted.iterator
    while (it.hasNext && !satisfied && retries < maxSteps) {
      val kp = it.next()
      lastRung = kp
      if (cand.take(kp).count(_._3) >= k) satisfied = true
      else retries += 1
    }
    LadderStop(cand.take(lastRung).filter(_._3).take(k).map(c => (c._1, c._2)).toSeq,
      lastRung, satisfied, retries)
  }

  /** Batch kNN join: top-k neighbors per query, all queries in one pass.
    *
    * Two-stage top-K (the scale-safe shape): stage 1 is a mapPartitions
    * with one bounded k-heap per query — each input partition emits at
    * most Q×k rows and the N×Q scored candidates are never shuffled;
    * stage 2 ranks the surviving Q×P×k rows with a tiny window. Compared
    * to a single `Window.partitionBy(qid)` over all scored rows this
    * shrinks the shuffle by ~N/(P·k) and removes the low-cardinality-qid
    * skew (every partition would otherwise land on Q reducers).
    *
    * `allowedLists` restricts each query to rows whose `listCol` value is
    * in its set (the batched-IVF shape: ONE scan pruned to the UNION of
    * all probed lists, per-query membership enforced row-locally — no
    * per-query scans, no cross-query recall leakage). None = every query
    * scores every row.
    */
  def knnJoin(emb: DataFrame, queries: Seq[(Long, Array[Float])], k: Int,
              allowedLists: Option[Map[Long, Set[Int]]] = None,
              listCol: String = "list_id"): DataFrame = {
    TopK.requireK(k)
    val spark = emb.sparkSession
    import spark.implicits._
    val qArr = queries.toArray
    // aligned with qArr; null = unrestricted (kept off the row-loop's hot
    // path by a single reference check)
    val allowArr: Array[Set[Int]] =
      allowedLists.map(m => qArr.map { case (qid, _) => m.getOrElse(qid, Set.empty[Int]) }).orNull
    val qB = spark.sparkContext.broadcast((qArr, allowArr))

    val src =
      if (allowedLists.isDefined)
        emb.select(col("vec_id").cast("long"), col("embedding"), col(listCol).cast("int"))
      else // constant list id folds away in codegen; keeps one typed shape
        emb.select(col("vec_id").cast("long"), col("embedding"), lit(-1).as("list_id"))

    val partial = src
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val (qs, allow) = qB.value
        val tops = Array.fill(qs.length)(new TopK(k))
        it.foreach { case (id, vec, listId) =>
          var q = 0
          while (q < qs.length) {
            if (allow == null || allow(q).contains(listId))
              tops(q).offer(VecMath.dot(vec, qs(q)._2), id)
            q += 1
          }
        }
        TopK.rows(qs.map(_._1), tops)
      }
      .toDF("qid", "vec_id", "score")

    // survivors via the custom TopKPerKey operator (bounded per-key heaps
    // after the clustered shuffle — no sort of doomed rows), then ranks
    // over the ≤Q×k winners
    val survivors = org.apache.spark.sql.graft.TopKPerKey(
      partial, Seq(col("qid")), Seq(desc("score"), col("vec_id")), k)
    val w = Window.partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    survivors
      .withColumn("rank", row_number().over(w))
      .select(col("qid"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Range search: EVERY vector with score ≥ tau (radius search — the
    * "all near-duplicates of this embedding" / FAISS range_search shape),
    * optionally within a filtered subset. Unlike top-K there is no result
    * bound, so the plan is a pure scan+filter (both predicates reach the
    * scan) with the tiny survivor set globally ordered at the end; tau
    * controls the output volume, the corpus size doesn't. */
  def rangeSearch(emb: DataFrame, qv: Array[Float], tau: Double,
                  pred: Option[Column] = None): DataFrame = {
    val base = pred.map(emb.where).getOrElse(emb)
    withScore(base, qv)
      .select(col("vec_id"), col("score"))
      .where(col("score") >= tau)
      .orderBy(desc("score"), col("vec_id"))
  }

  /** Random baseline (reference src/backends/random.py): K ids drawn
    * uniformly without replacement, deterministic under the seed — the
    * recall floor every real backend must beat. Distributed shape: hash
    * ranking + TakeOrdered, no RNG state on executors. */
  def randomK(emb: DataFrame, k: Int, seed: Long = 0L): DataFrame =
    emb.select(col("vec_id"))
      // engine-portable seeded selection: the sample_* md5-hex discipline
      // (both engines derive the identical hex string, so the rule — and
      // the DuckDB oracle — pick the same k ids)
      .orderBy(md5(concat_ws(":", lit(seed), col("vec_id"))), col("vec_id"))
      .limit(k)

  /** recall@K (reference src/eval/metrics.py): |pred ∩ truth| / K per qid.
    * Both inputs carry (qid, vec_id). */
  def recallAtK(pred: DataFrame, truth: DataFrame, k: Int): DataFrame = {
    val hits = pred.join(truth, Seq("qid", "vec_id"), "inner")
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    truth.select("qid").distinct()
      .join(hits, Seq("qid"), "left")
      .select(col("qid"),
        round(coalesce(col("hits"), lit(0L)) / lit(k.toDouble), 6).as("recall"))
      .orderBy("qid")
  }
}
