package graft.search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one shortlist-then-refine path every compressed tier serves through
  * (pq, sq, bq, ivfpq, ivfpq_res). The reference serves each FAISS tier the
  * same way (the index proposes a shortlist, one exact inner-product pass
  * over the resident vectors refines it: the src/backends/ modules and
  * src/baselines/post_filter.py:17), and so does REPOSE: index-specific
  * candidate generation, one shared exact refinement.
  *
  * A tier supplies only its [[CodeTier.Scan]]: the code rows one query
  * reads and their score column (higher ranks first) — pq/sq their ADC
  * score, bq −hamming (exactly the order of ascending hamming), ivfpq the
  * ADC score over the probed lists, ivfpq_res the same plus its per-list
  * ⟨q, c_l⟩ bias. This object owns everything after that:
  *  - the ranking rule: round6(score) descending, then vec_id ascending
  *    (the repo-wide convention, VectorSearch doc — the cut can't flip on
  *    last-ulp differences in a score's summation order);
  *  - the shortlist cut: one TakeOrderedAndProject over the code columns,
  *    the vectors are never read;
  *  - the refine, in two forms: the shortlist joins the vector table as a
  *    broadcast id list into [[VectorSearch.topK]], or — when the request's
  *    [[ResolvedFilter]] carries a RAM tier — [[RamCorpus.scoreIds]]
  *    scores the collected ids from the pinned blocks. Both rank alike
  *    (RamCorpusSpec parity).
  */
object CodeTier {

  /** One query's scan of a code table: the rows it reads and their score. */
  final case class Scan(rows: DataFrame, score: Column)

  /** The best `n` code rows as (vec_id, adc_score), ranked by the rule. */
  def shortlist(scan: Scan, n: Int): DataFrame =
    scan.rows.select(col("vec_id"), round(scan.score, 6).as("adc_score"))
      .orderBy(desc("adc_score"), col("vec_id")).limit(n)

  /** The shortlist's ids, collected in rank order. */
  def shortlistIds(scan: Scan, n: Int): Array[Long] =
    shortlist(scan, n).select("vec_id").collect().map(_.getLong(0))

  /** Top-`k` by the code score alone, as (vec_id, score) — the recall
    * floor the refine lifts. */
  def noRefine(scan: Scan, k: Int): DataFrame =
    shortlist(scan, k).select(col("vec_id"), col("adc_score").as("score"))

  private def joined(corpus: DataFrame, ids: DataFrame): DataFrame =
    corpus.join(broadcast(ids.select("vec_id")), "vec_id")

  /** Exact top-`k` among the shortlist's rows that pass `pred`: the
    * ≤n-row id list is broadcast into the vector table — a keyed fetch,
    * never a second corpus scan. */
  def refine(corpus: DataFrame, short: DataFrame, qvec: Array[Float], k: Int,
             pred: Option[Column] = None): DataFrame =
    VectorSearch.topK(joined(corpus, short), qvec, k, pred)

  /** Top-`k` via a width-`n` shortlist and the exact refine. */
  def search(scan: Scan, corpus: DataFrame, qvec: Array[Float], k: Int, n: Int): DataFrame =
    refine(corpus, shortlist(scan, n), qvec, k)

  /** One served query as ranked (vec_id, score) pairs: the pinned-block
    * refine of the collected shortlist when the filter resolved to a RAM
    * tier, else the broadcast refine under its Catalyst predicate. */
  def serve(scan: Scan, corpus: DataFrame, qvec: Array[Float], k: Int, n: Int,
            f: ResolvedFilter): Seq[(Long, Double)] = f.ram match {
    case Some((rc, lp)) => rc.scoreIds(qvec, shortlistIds(scan, n), k, lp)
    case None => refine(corpus, shortlist(scan, n), qvec, k, f.pred).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
  }

  /** Exact scores of every collected id that passes the filter — for a
    * caller that ranks several prefixes of one shortlist (the harness's
    * fused ivfpq ladder). */
  def scoreAll(corpus: DataFrame, ids: Array[Long], qvec: Array[Float],
               f: ResolvedFilter): Map[Long, Double] = f.ram match {
    case Some((rc, lp)) => rc.scoreIds(qvec, ids, ids.length, lp).toMap
    case None =>
      import corpus.sparkSession.implicits._
      val scored = VectorSearch.withScore(joined(corpus, ids.toSeq.toDF("vec_id")), qvec)
      f.pred.map(scored.where).getOrElse(scored)
        .select(col("vec_id"), col("score")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  /** The batched form over an IVF-partitioned code table (ivfpq and
    * ivfpq_res `searchMany`): ONE scan of `coded` pruned to the union of
    * the probed lists `allow`; per query a [[TopK]] of `width` over
    * biases(q)(list) + Σ lut[s][code_s] (`biases` null = no bias) —
    * the same ranking rule, the rounding deferred as TopK documents; then
    * ONE exact refine of the ≤|Q|·width survivors — a broadcast pair join
    * against `corpus` with per-qid query vectors — ranked per qid. */
  private[search] def searchMany(
      coded: DataFrame, corpus: DataFrame, qArr: Array[(Long, Array[Float])],
      allow: Array[Set[Int]], luts: Array[Array[Array[Double]]],
      biases: Array[Map[Int, Double]], width: Int, k: Int): DataFrame = {
    TopK.requireK(width, "shortlist")
    val spark = coded.sparkSession
    import spark.implicits._
    val union = allow.flatten.distinct.toSeq
    val qB = spark.sparkContext.broadcast((qArr.map(_._1), allow, luts, biases))
    val partial = coded.where(col("list_id").isin(union: _*))
      .select(col("vec_id").cast("long"), col("list_id").cast("int"), col("pq_codes"))
      .as[(Long, Int, Array[Int])]
      .mapPartitions { it =>
        val (qids, allowSets, ls, bs) = qB.value
        val tops = Array.fill(qids.length)(new TopK(width))
        it.foreach { case (id, listId, codes) =>
          var q = 0
          while (q < qids.length) {
            if (allowSets(q).contains(listId)) {
              val lut = ls(q)
              var acc = if (bs == null) 0.0 else bs(q)(listId)
              var s = 0
              while (s < codes.length) { acc += lut(s)(codes(s)); s += 1 }
              tops(q).offer(acc, id)
            }
            q += 1
          }
        }
        TopK.rows(qids, tops)
      }
      .toDF("qid", "vec_id", "adc_score")
    val shortPairs = org.apache.spark.sql.graft.TopKPerKey(
      partial, Seq(col("qid")), Seq(desc("adc_score"), col("vec_id")), width)
    val qDf = qArr.toSeq.map { case (qid, v) => (qid, v.toSeq) }.toDF("qid", "qvec")
    val refined = corpus
      .join(broadcast(shortPairs.select("qid", "vec_id")), "vec_id")
      .join(broadcast(qDf), "qid")
      .withColumn("score",
        round(graft.functions.VectorFunctions.dot(
          col("embedding"), col("qvec").cast("array<float>")), 6))
    val top = org.apache.spark.sql.graft.TopKPerKey(
      refined.select(col("qid"), col("vec_id"), col("score")),
      Seq(col("qid")), Seq(desc("score"), col("vec_id")), k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(desc("score"), col("vec_id"))
    top.withColumn("rank", row_number().over(w))
      .select(col("qid"), col("rank"), col("vec_id"), col("score"))
      .orderBy(col("qid"), col("rank"))
  }
}
