package graft.harness

import graft.filters.FilterDsl
import graft.search._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's evaluation harness (src/harness/run.py), Spark-native.
  *
  * Contract mirrored from the reference's own test suite
  * (tests/test_run_impl.py):
  *  - one results.jsonl row per query with EXACTLY these fields in this
  *    order: qid, method, K, latency_ms, recall_at_k, filter_selectivity,
  *    scored_vectors, lists_probed, nprobe, kth_at_stop, bound_at_stop,
  *    notes, timestamp_utc, run_id;
  *  - recall_at_k computed against the oracle restricted to the SAME
  *    allowed (filtered) subset;
  *  - K validated in [1, N]; query dim must equal dataset dim (hard
  *    errors before any search runs);
  *  - empty query vector falls back to the dataset vector at index qid
  *    (reference: empty qtext → vectors[qid]);
  *  - malformed/unknown filters are hard errors producing no output;
  *  - run_id shared by all rows of a run; timestamp ISO-8601 with offset.
  */
object RunHarness {

  case class Stats(
      latencyMs: Double,
      scoredVectors: Long,
      listsProbed: Option[Int],
      nprobe: Option[Int],
      kthAtStop: Option[Double],
      boundAtStop: Option[Double],
      notes: Option[String],
      retries: Int = 0)

  /** Backend interface (reference src/backend_interface.py). `allowed` is
    * the precomputed |filtered subset| — the harness needs it for
    * filter_selectivity anyway, so backends take it instead of re-counting
    * (one count job per query, not two). */
  trait Backend {
    def name: String
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats)
    /** Spec-aware entry: backends that can evaluate the filter DSL outside
      * Catalyst (the RAM serving tier) override this; the default ignores
      * the spec and uses the compiled Column. */
    def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
               pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) =
      search(emb, qvec, pred, k, allowed)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** exact / pre_filter: brute-force top-K within the allowed subset
    * (implementations coincide in a pushdown engine — the filter IS the
    * gather). scored_vectors = |allowed|. */
  private class ExactBackend(val name: String) extends Backend {
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val (rows, ms) = timed(VectorSearch.topK(emb, qvec, k, pred).collect())
      val kth = rows.lastOption.map(_.getDouble(1))
      (rows.map(_.getLong(0)).toSeq,
        Stats(ms, allowed, None, None, kth, None, Some(s"$name backend")))
    }
  }

  /** Ladder accounting mirrors reference post_filter.py:60-99 exactly:
    * walk the rungs; a rung that leaves < K kept candidates is a "retry"
    * (bump); stop when kept ≥ K, when `maxLadderSteps` retries have been
    * spent, or when the ladder is exhausted. scored_vectors = the K′ of
    * the stopping rung; kth_at_stop only when the stop was due to ≥ K
    * kept. One Spark job regardless (the max-rung TakeOrdered); the walk
    * itself is O(K′) driver work over collected candidates. */
  /** The reference's rung walk (post_filter.py:60-99): a rung that leaves
    * < K kept is a "retry"; stop when kept ≥ K, retries are spent, or the
    * ladder is exhausted. Pure driver work over collected candidates. */
  private def ladderWalk(cand: Array[(Long, Double, Boolean)], rungs: Seq[Int],
                         k: Int, maxSteps: Int): (Seq[(Long, Double)], Int, Boolean, Int) = {
    var retries = 0
    var lastRung = 0
    var satisfied = false
    val it = rungs.iterator
    while (it.hasNext && !satisfied && retries < maxSteps) {
      val kp = it.next()
      lastRung = kp
      if (cand.take(kp).count(_._3) >= k) satisfied = true
      else retries += 1
    }
    (cand.take(lastRung).filter(_._3).take(k).map(c => (c._1, c._2)).toSeq,
      lastRung, satisfied, retries)
  }

  private def postStats(kept: Seq[(Long, Double)], rung: Int, satisfied: Boolean,
                        retries: Int, k: Int, ladder: Seq[Int],
                        ms: Double): (Seq[Long], Stats) = {
    // kth_at_stop only when the ladder actually satisfied K
    // (reference post_filter.py: None when exhausted with < K kept)
    val kth = if (satisfied && kept.length == k) kept.lastOption.map(_._2) else None
    (kept.map(_._1),
      Stats(ms, rung, None, None, kth, None,
        Some(s"k_ladder=${ladder.mkString("[", ", ", "]")}; kept=${kept.length}; need=$k"),
        retries))
  }

  private class PostFilterBackend(ladder: Seq[Int], maxLadderSteps: Option[Int]) extends Backend {
    val name = "post_filter"
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val spark = emb.sparkSession
      import spark.implicits._
      val maxSteps = maxLadderSteps.getOrElse(ladder.length)
      val rungs = ladder.sorted
      val ((kept, rung, satisfied, retries), ms) = timed {
        val cand = VectorSearch.withScore(emb, qvec)
          .withColumn("pass", coalesce(pred.getOrElse(lit(true)), lit(false)))
          .select(col("vec_id").cast("long"), col("score"), col("pass"))
          .orderBy(desc("score"), col("vec_id"))
          .limit(rungs.max)
          .as[(Long, Double, Boolean)].collect()
        ladderWalk(cand, rungs, k, maxSteps)
      }
      postStats(kept, rung, satisfied, retries, k, ladder, ms)
    }
  }

  /** ANN-backed post_filter — the plan the reference's post_filter ACTUALLY
    * runs (post_filter.py:17-99 probes `ann_index.search` with each ladder
    * rung's K′): candidates come from the probed IVF lists only, so unlike
    * the exact-scored ladder above this family records the index-probe
    * trade — recall < 1 when a true neighbour lives in an unprobed list.
    * The rung walk itself is identical (top-200 of the probed lists ⊆
    * top-500 ⊆ top-1000, like FAISS's nested search results), so ONE
    * pruned-scan TakeOrdered of the max rung feeds the same driver-side
    * ladder accounting — retries / kth_at_stop semantics unchanged. */
  private class IvfPostFilterBackend(model: IvfModel, nprobeN: Int,
                                     ladder: Seq[Int], maxLadderSteps: Option[Int])
      extends Backend {
    val name = "post_filter:ivf"
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val spark = emb.sparkSession
      import spark.implicits._
      val maxSteps = maxLadderSteps.getOrElse(ladder.length)
      val rungs = ladder.sorted
      val lists = model.probes(qvec, nprobeN)
      val ((kept, rung, satisfied, retries), ms) = timed {
        val cand = VectorSearch
          .withScore(model.indexed.where(col("list_id").isin(lists: _*)), qvec)
          .withColumn("pass", coalesce(pred.getOrElse(lit(true)), lit(false)))
          .select(col("vec_id").cast("long"), col("score"), col("pass"))
          .orderBy(desc("score"), col("vec_id"))
          .limit(rungs.max)
          .as[(Long, Double, Boolean)].collect()
        ladderWalk(cand, rungs, k, maxSteps)
      }
      val (ids, st) = postStats(kept, rung, satisfied, retries, k, ladder, ms)
      (ids, st.copy(listsProbed = Some(lists.length), nprobe = Some(nprobeN),
        notes = st.notes.map("ivf-probed " + _)))
    }
  }

  /** PQ backend: ADC shortlist over the m-byte code table (the 32×-smaller
    * scan), exact refine of the shortlist via a broadcast id join, filter
    * applied on the refined rows (the code table carries no metadata).
    * kept < K when the filter eats the shortlist — the honest recall trade
    * a compressed post-filter index makes, recorded per query.
    * scored_vectors = the FULL code-table row count (`codeCount`, known at
    * registry time — codes are 1:1 with the corpus): the ADC pass scans
    * every code regardless of the filter, and recording the shortlist
    * size instead made pq look ~N/shortlist cheaper than its real scan
    * (IvfPqBackend's scanned-count convention, applied here). */
  private class PqBackend(val name: String, model: PqModel, shortlistN: Int,
                          codeCount: Long, ram: Option[RamCorpus]) extends Backend {
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val (rows, ms) = timed {
        val short = model.codes
          .select(col("vec_id"), round(model.adcScore(qvec), 6).as("adc_score"))
          .orderBy(desc("adc_score"), col("vec_id")).limit(shortlistN)
        val refined = model.corpus.join(broadcast(short.select("vec_id")), "vec_id")
        VectorSearch.topK(refined, qvec, k, pred).collect()
      }
      (rows.map(_.getLong(0)).toSeq,
        Stats(ms, codeCount, None, None, rows.lastOption.map(_.getDouble(1)), None,
          Some(s"pq adc m=${model.m} k=${model.kCodes} shortlist=$shortlistN")))
    }
    /** RAM serving tier: the exact refine reads the pinned blocks (the
      * reference refines FAISS shortlists against its resident matrix),
      * so the timed path is ONE ADC TakeOrdered + one lightweight id-set
      * scoring pass — never a corpus DataFrame re-scan. Results are
      * ranking-identical to the DataFrame refine (RamCorpusSpec parity). */
    override def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                        pred: Option[org.apache.spark.sql.Column],
                        k: Int, allowed: Long): (Seq[Long], Stats) =
      ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _))) match {
        case Some((rc, lp)) =>
          val (rows, ms) = timed {
            val shortIds = model.codes
              .select(col("vec_id"), round(model.adcScore(qvec), 6).as("adc_score"))
              .orderBy(desc("adc_score"), col("vec_id")).limit(shortlistN)
              .select("vec_id").collect().map(_.getLong(0))
            rc.scoreIds(qvec, shortIds, k, lp)
          }
          (rows.map(_._1),
            Stats(ms, codeCount, None, None, rows.lastOption.map(_._2), None,
              Some(s"pq adc m=${model.m} k=${model.kCodes} shortlist=$shortlistN")))
        case None => search(emb, qvec, pred, k, allowed)
      }
  }

  /** IVFPQ backend: partition-pruned ADC scan of the probed lists' m-byte
    * codes → shortlist → exact refine → filter. The full FAISS-family
    * scale tier recorded alongside its halves (ivf = pruned flat scan,
    * pq = full compressed scan) so results.jsonl shows the composition's
    * recall/latency position between them. */
  private class IvfPqBackend(val name: String, model: IvfPqModel, nprobeN: Int,
                             shortlistN: Int, ram: Option[RamCorpus])
      extends Backend {
    private def stats(ms: Double, lists: Seq[Int], kth: Option[Double]): Stats = {
      // probe volume from the index metadata (list sizes collected once at
      // model load, the centroid discipline) — a per-query count() job here
      // would re-scan the probed partitions and double the serving path's
      // probe I/O at scale
      val scanned = lists.map(model.listSizes.getOrElse(_, 0L)).sum
      Stats(ms, scanned, Some(lists.length), Some(nprobeN), kth, None,
        Some(s"ivfpq adc m=${model.pq.m} k=${model.pq.kCodes} shortlist=$shortlistN"))
    }
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val lists = model.ivf.probes(qvec, nprobeN)
      val pruned = model.coded.where(col("list_id").isin(lists: _*))
      val (rows, ms) = timed {
        val short = pruned
          .select(col("vec_id"), round(model.pq.adcScore(qvec), 6).as("adc_score"))
          .orderBy(desc("adc_score"), col("vec_id")).limit(shortlistN)
        val refined = model.pq.corpus.join(broadcast(short.select("vec_id")), "vec_id")
        VectorSearch.topK(refined, qvec, k, pred).collect()
      }
      (rows.map(_.getLong(0)).toSeq,
        stats(ms, lists, rows.lastOption.map(_.getDouble(1))))
    }
    /** RAM serving tier (PqBackend doc): partition-pruned ADC TakeOrdered
      * + pinned-block refine of the shortlist ids. */
    override def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                        pred: Option[org.apache.spark.sql.Column],
                        k: Int, allowed: Long): (Seq[Long], Stats) =
      ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _))) match {
        case Some((rc, lp)) =>
          val lists = model.ivf.probes(qvec, nprobeN)
          val pruned = model.coded.where(col("list_id").isin(lists: _*))
          val (rows, ms) = timed {
            val shortIds = pruned
              .select(col("vec_id"), round(model.pq.adcScore(qvec), 6).as("adc_score"))
              .orderBy(desc("adc_score"), col("vec_id")).limit(shortlistN)
              .select("vec_id").collect().map(_.getLong(0))
            rc.scoreIds(qvec, shortIds, k, lp)
          }
          (rows.map(_._1), stats(ms, lists, rows.lastOption.map(_._2)))
        case None => search(emb, qvec, pred, k, allowed)
      }
  }

  /** Residual IVFPQ backend (the true FAISS IndexIVFPQ encoding): same
    * partition-pruned scan/shortlist/refine shape as IvfPqBackend, but
    * the ADC column scores residual codes — one query-only LUT plus the
    * per-list ⟨q,c_l⟩ bias (IvfPqRes doc). Recorded as `ivfpq_res` /
    * `ivfpq_res:<shortlist>` so results.jsonl separates the encodings. */
  private class IvfPqResBackend(val name: String, model: IvfPqResModel, nprobeN: Int,
                                shortlistN: Int, ram: Option[RamCorpus])
      extends Backend {
    private def stats(ms: Double, lists: Seq[Int], kth: Option[Double]): Stats = {
      val scanned = lists.map(model.listSizes.getOrElse(_, 0L)).sum
      Stats(ms, scanned, Some(lists.length), Some(nprobeN), kth, None,
        Some(s"ivfpq residual-encoded m=${model.m} k=${model.kCodes} shortlist=$shortlistN"))
    }
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val lists = model.ivf.probes(qvec, nprobeN)
      val (rows, ms) = timed {
        val short = model.scoredShortlist(qvec, nprobeN, shortlistN)
        val refined = model.corpus.join(broadcast(short.select("vec_id")), "vec_id")
        VectorSearch.topK(refined, qvec, k, pred).collect()
      }
      (rows.map(_.getLong(0)).toSeq,
        stats(ms, lists, rows.lastOption.map(_.getDouble(1))))
    }
    override def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                        pred: Option[org.apache.spark.sql.Column],
                        k: Int, allowed: Long): (Seq[Long], Stats) =
      ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _))) match {
        case Some((rc, lp)) =>
          val lists = model.ivf.probes(qvec, nprobeN)
          val (rows, ms) = timed {
            val shortIds = model.scoredShortlist(qvec, nprobeN, shortlistN)
              .select("vec_id").collect().map(_.getLong(0))
            rc.scoreIds(qvec, shortIds, k, lp)
          }
          (rows.map(_._1), stats(ms, lists, rows.lastOption.map(_._2)))
        case None => search(emb, qvec, pred, k, allowed)
      }
  }

  /** SQ8 backend: asymmetric scan of the 1-byte-per-dim code table →
    * shortlist → exact refine. The 4×-compression near-exact member of
    * the recorded family set, between `exact` and `pq` on the ladder. */
  private class SqBackend(val name: String, model: SqModel, shortlistN: Int,
                          codeCount: Long, ram: Option[RamCorpus]) extends Backend {
    private def note = s"sq8 dim=${model.dim} shortlist=$shortlistN"
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val (rows, ms) = timed {
        val short = model.codes
          .select(col("vec_id"), round(model.adcScore(qvec), 6).as("adc_score"))
          .orderBy(desc("adc_score"), col("vec_id")).limit(shortlistN)
        val refined = model.corpus.join(broadcast(short.select("vec_id")), "vec_id")
        VectorSearch.topK(refined, qvec, k, pred).collect()
      }
      (rows.map(_.getLong(0)).toSeq,
        Stats(ms, codeCount, None, None, rows.lastOption.map(_.getDouble(1)), None,
          Some(note)))
    }
    /** RAM serving tier (PqBackend doc): ADC TakeOrdered + pinned-block
      * refine of the shortlist ids — never a corpus DataFrame re-scan. */
    override def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                        pred: Option[org.apache.spark.sql.Column],
                        k: Int, allowed: Long): (Seq[Long], Stats) =
      ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _))) match {
        case Some((rc, lp)) =>
          val (rows, ms) = timed {
            val shortIds = model.codes
              .select(col("vec_id"), round(model.adcScore(qvec), 6).as("adc_score"))
              .orderBy(desc("adc_score"), col("vec_id")).limit(shortlistN)
              .select("vec_id").collect().map(_.getLong(0))
            rc.scoreIds(qvec, shortIds, k, lp)
          }
          (rows.map(_._1),
            Stats(ms, codeCount, None, None, rows.lastOption.map(_._2), None,
              Some(note)))
        case None => search(emb, qvec, pred, k, allowed)
      }
  }

  /** BQ backend: Hamming scan of the sign-bit code table → shortlist →
    * exact refine. The training-free 32×-compression member — the
    * cheapest first-pass filter on the ladder (Bq doc). */
  private class BqBackend(val name: String, model: BqModel, shortlistN: Int,
                          codeCount: Long, ram: Option[RamCorpus]) extends Backend {
    private def note = s"bq sign-bit shortlist=$shortlistN"
    private def shortlist(qvec: Array[Float]) = model.codes
      .select(col("vec_id"),
        graft.functions.VectorFunctions
          .bqHamming(col("bq_codes"), model.encodeQuery(qvec)).as("hamming"))
      .orderBy(col("hamming"), col("vec_id")).limit(shortlistN)
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val (rows, ms) = timed {
        val refined = model.corpus
          .join(broadcast(shortlist(qvec).select("vec_id")), "vec_id")
        VectorSearch.topK(refined, qvec, k, pred).collect()
      }
      (rows.map(_.getLong(0)).toSeq,
        Stats(ms, codeCount, None, None, rows.lastOption.map(_.getDouble(1)), None,
          Some(note)))
    }
    /** RAM serving tier (SqBackend doc): Hamming TakeOrdered + pinned-block
      * refine of the shortlist ids. */
    override def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                        pred: Option[org.apache.spark.sql.Column],
                        k: Int, allowed: Long): (Seq[Long], Stats) =
      ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _))) match {
        case Some((rc, lp)) =>
          val (rows, ms) = timed {
            val shortIds = shortlist(qvec).select("vec_id").collect().map(_.getLong(0))
            rc.scoreIds(qvec, shortIds, k, lp)
          }
          (rows.map(_._1),
            Stats(ms, codeCount, None, None, rows.lastOption.map(_._2), None,
              Some(note)))
        case None => search(emb, qvec, pred, k, allowed)
      }
  }

  /** RAM serving tier for exact/pre_filter: scores the pinned flat blocks
    * when the filter is label-local, falls back to the Catalyst path
    * otherwise. Same semantics, no per-query columnar decode. */
  private class RamExactBackend(val name: String, ram: RamCorpus) extends Backend {
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) =
      new ExactBackend(name).search(emb, qvec, pred, k, allowed)
    override def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                        pred: Option[org.apache.spark.sql.Column],
                        k: Int, allowed: Long): (Seq[Long], Stats) =
      RamCorpus.labelPredicate(spec) match {
        case Some(lp) =>
          val (rows, ms) = timed(ram.topK(qvec, k, lp))
          (rows.map(_._1),
            Stats(ms, allowed, None, None, rows.lastOption.map(_._2), None,
              Some(s"$name backend (ram)")))
        case None => search(emb, qvec, pred, k, allowed)
      }
  }

  /** RAM post-filter: same rung walk, candidates from the pinned blocks. */
  private class RamPostFilterBackend(ram: RamCorpus, ladder: Seq[Int],
                                     maxLadderSteps: Option[Int])
      extends PostFilterBackend(ladder, maxLadderSteps) {
    override def search(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                        pred: Option[org.apache.spark.sql.Column],
                        k: Int, allowed: Long): (Seq[Long], Stats) =
      RamCorpus.labelPredicate(spec) match {
        case Some(lp) =>
          val maxSteps = maxLadderSteps.getOrElse(ladder.length)
          val rungs = ladder.sorted
          val ((kept, rung, satisfied, retries), ms) = timed {
            ladderWalk(ram.topCandidates(qvec, rungs.max, lp).toArray, rungs, k, maxSteps)
          }
          postStats(kept, rung, satisfied, retries, k, ladder, ms)
        case None => search(emb, qvec, pred, k, allowed)
      }
  }

  private class IvfBackend(model: IvfModel, nprobeN: Int) extends Backend {
    val name = "ivf"
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val lists = model.probes(qvec, nprobeN)
      val scored = model.indexed.where(col("list_id").isin(lists: _*))
      val base = pred.map(scored.where).getOrElse(scored)
      // ONE pruned pass returns both the top-K and |scanned| — the
      // separate count() this ran before re-scanned the probed lists
      // every query, doubling the serving path's probe I/O at scale
      // (topKWithCount doc; ranking contract identical to topK)
      val ((rows, scanned), ms) = timed(VectorSearch.topKWithCount(base, qvec, k))
      (rows.map(_._1),
        Stats(ms, scanned, Some(lists.length), Some(nprobeN),
          rows.lastOption.map(_._2), None, Some("ivf flat ip")))
    }
  }

  /** Mid-tier ANN (the reference's HNSW-fallback slot, loaders.py:123-165):
    * cosine-LSH buckets, exact IP rank within. The recall dial has two
    * axes, both monotone by construction (VectorSearchSpec sweeps): the
    * multiprobe hamming `radius` (0/1/2 — nested probe sets) and the
    * table count (prefix-nested plane seeds; classic LSH amplification,
    * recall ≈ 1−(1−p)^T). Together they play ef_search's role. */
  /** The LSH index table: corpus rows + one row-local signature column
    * per plane table. Signatures do not depend on the query, so
    * recomputing them per search paid a full corpus hash pass × |queries|
    * — the signature table is the LSH INDEX (what a production store
    * persists at build time, the ivf/pq artifact-load discipline), built
    * once per (corpus, plane geometry) and pinned. Anonymous corpora
    * (no corpusKey) keep the inline per-search computation. */
  private val sigCache = new graft.ArtifactStore.Memo[DataFrame]

  private def signedTable(emb: DataFrame, tbls: Seq[Array[Array[Float]]],
                          corpusKey: Option[String]): DataFrame = {
    def build = tbls.zipWithIndex.foldLeft(emb) { case (df, (p, t)) =>
      df.withColumn(s"_b$t", graft.functions.VectorFunctions.hyperplaneSignature(
        col("embedding"), typedlit(p.map(_.toSeq).toSeq)))
    }
    corpusKey match {
      case Some(dir) if new java.io.File(s"$dir/embeddings.parquet").exists() =>
        sigCache(s"$dir|bits=${tbls.head.length}|t=${tbls.length}",
          graft.Tables.sourceMtime(dir, "embeddings")) {
          val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df.count() // materialize the pin (one-time index-build cost)
          df
        }
      case _ => build
    }
  }

  private class LshBackend(val name: String, tbls: Seq[Array[Array[Float]]],
                           radius: Int, signed: DataFrame) extends Backend {
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val nProbed = tbls.map(p =>
        CosineLsh.multiprobe(CosineLsh.signature(qvec, p), p.length, radius).length).sum
      val bucketPred = tbls.zipWithIndex.map { case (p, t) =>
        val buckets = CosineLsh.multiprobe(CosineLsh.signature(qvec, p), p.length, radius)
        col(s"_b$t").isin(buckets: _*)
      }.reduce(_ || _)
      val bucketed = signed.where(bucketPred)
      val base = pred.map(bucketed.where).getOrElse(bucketed)
      // ONE bucket-pruned pass for both the top-K and |scanned| — the
      // separate count() re-scanned the candidate buckets per query
      // (IvfBackend doc; ranking contract identical to topK)
      val ((rows, scanned), ms) = timed(VectorSearch.topKWithCount(base, qvec, k))
      (rows.map(_._1),
        Stats(ms, scanned, Some(nProbed), None,
          rows.lastOption.map(_._2), None,
          Some(s"cosine lsh ${tbls.head.length} bits x ${tbls.length} tables, " +
            s"multiprobe radius $radius")))
    }
  }

  private class RandomBackend(seed: Long) extends Backend {
    val name = "random"
    def search(emb: DataFrame, qvec: Array[Float], pred: Option[org.apache.spark.sql.Column],
               k: Int, allowed: Long): (Seq[Long], Stats) = {
      val (rows, ms) = timed(VectorSearch.randomK(emb, k, seed).collect())
      (rows.map(_.getLong(0)).toSeq,
        Stats(ms, 0L, None, None, None, None, Some("random baseline")))
    }
  }

  /** Pre-build the LSH signature index for a keyed corpus — Bench's
    * build-vs-probe discipline (the ivf/pq/sq/bq indexes are built in
    * itemized setup phases; the signature table is the same kind of
    * artifact, loaders.py's side of the reference). Idempotent: the
    * mtime-guarded cache serves the pinned table afterwards. */
  def prewarmLshIndex(spark: SparkSession, sfDir: String, nTables: Int = 2): Unit = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val total = graft.Tables.rowCount(spark, sfDir, "embeddings")
    val dim = emb.select(size(col("embedding"))).first().getInt(0)
    signedTable(emb, CosineLsh.tables(dim, CosineLsh.pickBits(total), nTables), Some(sfDir))
    ()
  }

  /** Backend registry (reference run.py get_backend). "auto" walks the
    * reference's index fallback chain (loaders.py:123-165): IVF when the
    * corpus supports it → LSH buckets (the HNSW-fallback slot) → exact.
    * `corpusKey` (when known, e.g. the sf dir) routes "ivf" through the
    * persisted shared index instead of an in-process KMeans fit. */
  def getBackend(name: String, emb: DataFrame, total: Long,
                 ladder: Seq[Int] = Seq(200, 500, 1000), nprobe: Int = 32,
                 maxLadderSteps: Option[Int] = None,
                 corpusKey: Option[String] = None,
                 knownDim: Option[Int] = None,
                 ram: Option[RamCorpus] = None): Backend =
    name match {
      case "exact" | "pre_filter" =>
        ram.map(new RamExactBackend(name, _)).getOrElse(new ExactBackend(name))
      case "post_filter" =>
        ram.map(new RamPostFilterBackend(_, ladder, maxLadderSteps))
          .getOrElse(new PostFilterBackend(ladder, maxLadderSteps))
      case "post_filter:ivf" =>
        val model = corpusKey match {
          case Some(key) => Ivf.cached(emb.sparkSession, emb, key, knownTotal = Some(total))
          case None => Ivf.auto(emb).getOrElse(Ivf.build(emb, Ivf.pickNlist(total)))
        }
        new IvfPostFilterBackend(model, nprobe, ladder, maxLadderSteps)
      // "pq" / "pq:<shortlist>" — the compressed tier's recall dial rides
      // in the method name (the lsh:<radius>x<tables> convention), so
      // results.jsonl rows at different shortlist widths are distinguishable
      case p if p == "pq" || p.startsWith("pq:") =>
        val sl = if (p == "pq") 100 else p.stripPrefix("pq:").toInt
        val model = corpusKey match {
          case Some(key) => Pq.cached(emb.sparkSession, emb, key)
          case None => Pq.build(emb)
        }
        // codes are 1:1 with corpus rows, so the caller-known total IS the
        // full ADC scan volume — no count job
        new PqBackend(p, model, shortlistN = sl, codeCount = total, ram = ram)
      // "sq" / "sq:<shortlist>" — same dial grammar as pq
      case p if p == "sq" || p.startsWith("sq:") =>
        val sl = if (p == "sq") 100 else p.stripPrefix("sq:").toInt
        val model = corpusKey match {
          case Some(key) => Sq.cached(emb.sparkSession, emb, key)
          case None => Sq.build(emb)
        }
        new SqBackend(p, model, shortlistN = sl, codeCount = total, ram = ram)
      // "bq" / "bq:<shortlist>" — same dial grammar; training-free tier
      case p if p == "bq" || p.startsWith("bq:") =>
        val sl = if (p == "bq") 100 else p.stripPrefix("bq:").toInt
        val model = corpusKey match {
          case Some(key) => Bq.cached(emb.sparkSession, emb, key)
          case None => Bq.build(emb)
        }
        new BqBackend(p, model, shortlistN = sl, codeCount = total, ram = ram)
      // residual-encoded composition, same dial grammar — matched BEFORE
      // the plain "ivfpq" prefix rule
      case p if p == "ivfpq_res" || p.startsWith("ivfpq_res:") =>
        val model = corpusKey match {
          case Some(key) => IvfPqRes.cached(emb, key,
            Ivf.cached(emb.sparkSession, emb, key, knownTotal = Some(total)))
          case None => IvfPqRes.build(
            Ivf.auto(emb).getOrElse(Ivf.build(emb, Ivf.pickNlist(total))))
        }
        val sl = if (p == "ivfpq_res") 100 else p.stripPrefix("ivfpq_res:").toInt
        new IvfPqResBackend(p, model, nprobe, shortlistN = sl, ram = ram)
      case p if p == "ivfpq" || p.startsWith("ivfpq:") =>
        val model = ivfPqModelFor(emb, total, corpusKey)
        // bare "ivfpq" serves the index's auto-tuned default (meta.json);
        // "ivfpq:N" dials it explicitly
        val sl = if (p == "ivfpq") model.defaultShortlist
                 else p.stripPrefix("ivfpq:").toInt
        new IvfPqBackend(p, model, nprobe, shortlistN = sl, ram = ram)
      case "ivf" =>
        val model = corpusKey match {
          case Some(k) => Ivf.cached(emb.sparkSession, emb, k, knownTotal = Some(total))
          case None => Ivf.auto(emb).getOrElse(Ivf.build(emb, Ivf.pickNlist(total)))
        }
        new IvfBackend(model, nprobe)
      // "lsh" / "lsh:<radius>" / "lsh:<radius>x<tables>" — both recall-
      // dial axes ride in the method name so results.jsonl rows are
      // distinguishable per setting, like ef_search runs
      case l if l == "lsh" || l.startsWith("lsh:") =>
        val (radius, nTables) = parseLshDial(l)
        val dim = knownDim.getOrElse(emb.select(size(col("embedding"))).first().getInt(0))
        // bits sized to the CORPUS (Ivf.choose's ~n/64-per-bucket rule):
        // a fixed width starves small corpora (1024 buckets over 2k
        // vectors ≈ 2/bucket → recall collapses) and floods huge ones
        val tbls = CosineLsh.tables(dim, CosineLsh.pickBits(total), nTables)
        new LshBackend(l, tbls, radius, signedTable(emb, tbls, corpusKey))
      case "auto" =>
        Ivf.choose(emb) match {
          case Ivf.UseIvf(model) => new IvfBackend(model, nprobe)
          case Ivf.UseLsh(planes) =>
            new LshBackend("lsh", Seq(planes), 1, signedTable(emb, Seq(planes), corpusKey))
          case Ivf.UseExact => new ExactBackend("exact")
        }
      case "random" => new RandomBackend(0L)
      case other => throw new IllegalArgumentException(s"Unknown backend: $other")
    }

  // ---- fused dial ladders ------------------------------------------------
  //
  // Several dial settings of one index NEST mathematically, and a harness
  // that evaluates them as independent passes pays the per-setting job
  // floor |dials|× (the r15 autotune ladder ran 60 short jobs; 24 of them
  // re-did work a sibling dial had already done):
  //  * `ivfpq:50 ⊂ ivfpq:100 ⊂ ivfpq:200` — the ADC ranking is totally
  //    ordered (adc_score desc, vec_id), so one TakeOrdered at the WIDEST
  //    shortlist yields every narrower dial's shortlist as its PREFIX;
  //  * `lsh:1 ⊂ lsh:1x2 ⊂ lsh:2x2` — plane tables are prefix-seeded and
  //    multiprobe sets nest in the radius, so one signature+score pass
  //    over the union candidate set carries every dial's membership as a
  //    row-local boolean.
  // Results are IDENTICAL to the unfused per-dial searches (spec-pinned,
  // RunHarnessSpec): same ids, same scored_vectors, same kth. Only the
  // latency attribution changes — dials in a fused group share one timed
  // pass, so each dial's latency_ms records the shared wall plus its own
  // per-dial tail, and onBackendTimed sees ONE entry under the group's
  // combined key (e.g. "ivfpq:50+ivfpq:100+ivfpq:200").

  /** A set of backend names answered together from one shared pass. */
  private trait GroupBackend {
    def names: Seq[String]
    def timingKey: String = sharedTimingKey(names)
    def searchAll(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                  pred: Option[org.apache.spark.sql.Column],
                  k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))]
  }

  private class SingleGroup(b: Backend) extends GroupBackend {
    def names: Seq[String] = Seq(b.name)
    override def timingKey: String = b.name
    def searchAll(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                  pred: Option[org.apache.spark.sql.Column],
                  k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))] =
      Seq(b.name -> b.search(emb, qvec, spec, pred, k, allowed))
  }

  /** Fused `ivfpq:<sl>` ladder: one partition-pruned ADC TakeOrdered at
    * the widest shortlist; each dial refines its prefix (RAM pinned-block
    * scoring when the filter is label-local, else ONE exact refine of the
    * widest shortlist with per-dial prefix ranking over the collected
    * bounded rows). */
  private class IvfPqLadderGroup(dials: Seq[(String, Int)], model: IvfPqModel,
                                 nprobeN: Int, ram: Option[RamCorpus])
      extends GroupBackend {
    def names: Seq[String] = dials.map(_._1)
    private val maxSl = dials.map(_._2).max
    def searchAll(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                  pred: Option[org.apache.spark.sql.Column],
                  k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))] = {
      val lists = model.ivf.probes(qvec, nprobeN)
      val scanned = lists.map(model.listSizes.getOrElse(_, 0L)).sum
      val pruned = model.coded.where(col("list_id").isin(lists: _*))
      def stats(ms: Double, sl: Int, kth: Option[Double]): Stats =
        Stats(ms, scanned, Some(lists.length), Some(nprobeN), kth, None,
          Some(s"ivfpq adc m=${model.pq.m} k=${model.pq.kCodes} shortlist=$sl (fused ladder)"))
      // the widest shortlist, collected IN ADC ORDER (TakeOrderedAndProject
      // preserves the sort): narrower dials take prefixes
      val (shortIds, msShort) = timed {
        pruned.select(col("vec_id"), round(model.pq.adcScore(qvec), 6).as("adc_score"))
          .orderBy(desc("adc_score"), col("vec_id")).limit(maxSl)
          .select("vec_id").collect().map(_.getLong(0))
      }
      // per-dial prefix rank over a refined score map — ONE definition so
      // the RAM and Catalyst tiers can never diverge on the
      // (score desc, vec_id) contract
      def rankDials(scored: Map[Long, Double],
                    msRefine: Double): Seq[(String, (Seq[Long], Stats))] =
        dials.map { case (nm, sl) =>
          val rows = shortIds.take(sl).iterator
            .flatMap(id => scored.get(id).map(id -> _)).toArray
            .sortBy { case (id, sc) => (-sc, id) }.take(k).toSeq
          nm -> (rows.map(_._1),
            stats(msShort + msRefine, sl, rows.lastOption.map(_._2)))
        }
      ram.flatMap(rc => RamCorpus.labelPredicate(spec).map((rc, _))) match {
        case Some((rc, lp)) =>
          // ONE pinned-block refine of the widest shortlist (k = |ids|
          // returns every scored pair); each dial ranks its prefix
          val (scoredAll, msRefine) = timed(
            rc.scoreIds(qvec, shortIds, shortIds.length, lp).toMap)
          rankDials(scoredAll, msRefine)
        case None =>
          // one exact refine of the widest shortlist (bounded: ≤ maxSl
          // rows collected); each dial ranks its prefix
          val (scored, msRefine) = timed {
            import emb.sparkSession.implicits._
            val idsDf = shortIds.toSeq.toDF("vec_id")
            val refined = model.pq.corpus.join(broadcast(idsDf), "vec_id")
            val base = VectorSearch.withScore(refined, qvec)
            pred.map(base.where).getOrElse(base)
              .select(col("vec_id"), col("score")).collect()
              .map(r => r.getLong(0) -> r.getDouble(1)).toMap
          }
          rankDials(scored, msRefine)
      }
    }
  }

  /** Fused `lsh:*` ladder: signatures for the union of table prefixes and
    * the exact scores are computed in ONE pass over the union candidate
    * set (per-dial membership is a row-local boolean over the shared
    * signature columns); the materialized candidates are narrow
    * (vec_id, score, flags), so per-dial counts ride one aggregate and
    * each dial's top-K is a cheap TakeOrdered over them. */
  /** The union candidate set is BOUNDED by the bucket geometry (pickBits
    * keeps ~64 rows/bucket at any corpus size, and the probe-set size is
    * a function of bits/radius/tables only), so ONE collect of the narrow
    * (vec_id, score, flags) rows replaces the r15 persist + counts
    * aggregate + per-dial TakeOrdered chain — 1 job per query instead of
    * 2+|dials|, identical rows (same counts, same (score desc, vec_id)
    * ranking contract, driver-side over the same bounded set). */
  private class LshLadderGroup(dials: Seq[(String, Int, Int)], // (name, radius, tables)
                               tbls: Seq[Array[Array[Float]]],
                               signed: DataFrame)
      extends GroupBackend {
    def names: Seq[String] = dials.map(_._1)
    def searchAll(emb: DataFrame, qvec: Array[Float], spec: FilterDsl.Spec,
                  pred: Option[org.apache.spark.sql.Column],
                  k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))] = {
      val bits = tbls.head.length
      val maxT = dials.map(_._3).max
      val used = tbls.take(maxT)
      val dialPreds = dials.map { case (_, r, t) =>
        used.take(t).zipWithIndex.map { case (p, ti) =>
          val buckets = CosineLsh.multiprobe(CosineLsh.signature(qvec, p), bits, r)
          col(s"_b$ti").isin(buckets: _*)
        }.reduce(_ || _)
      }
      val nProbed = dials.map { case (_, r, t) =>
        used.take(t).map(p =>
          CosineLsh.multiprobe(CosineLsh.signature(qvec, p), bits, r).length).sum
      }
      val bucketed = signed.where(dialPreds.reduce(_ || _))
      val base = pred.map(bucketed.where).getOrElse(bucketed)
      val (cand, msShared) = timed {
        VectorSearch.withScore(base, qvec)
          .select(col("vec_id").cast("long") +: col("score") +:
            dialPreds.zipWithIndex.map { case (dp, i) => dp.as(s"_m$i") }: _*)
          .collect()
      }
      dials.zipWithIndex.map { case ((nm, r, t), i) =>
        val ((rows, cnt), msDial) = timed {
          val mine = cand.iterator.filter(_.getBoolean(2 + i))
            .map(row => (row.getLong(0), row.getDouble(1))).toArray
          (mine.sortBy { case (id, s) => (-s, id) }.take(k).toSeq, mine.length.toLong)
        }
        nm -> (rows.map(_._1),
          Stats(msShared + msDial, cnt, Some(nProbed(i)), None,
            rows.lastOption.map(_._2), None,
            Some(s"cosine lsh $bits bits x $t tables, " +
              s"multiprobe radius $r (fused ladder)")))
      }
    }
  }

  /** One grammar for "lsh" / "lsh:<radius>" / "lsh:<radius>x<tables>",
    * shared by the solo backend and the fused ladder — the two paths
    * must never diverge (the fused-equals-solo parity contract). */
  private def parseLshDial(name: String): (Int, Int) =
    if (name == "lsh") (1, 1)
    else name.stripPrefix("lsh:").split('x') match {
      case Array(r) => (r.toInt, 1)
      case Array(r, t) => (r.toInt, t.toInt)
      case _ => throw new IllegalArgumentException(s"Unknown backend: $name")
    }

  /** The composed IVFPQ model (disk-cached when the corpus has a key),
    * shared by the solo ivfpq backend and the fused ladder — one cache
    * key and one composition rule for both paths. */
  private def ivfPqModelFor(emb: DataFrame, total: Long,
                            corpusKey: Option[String]): IvfPqModel =
    corpusKey match {
      case Some(key) => IvfPq.cached(emb.sparkSession, emb, key,
        Ivf.cached(emb.sparkSession, emb, key, knownTotal = Some(total)),
        Pq.cached(emb.sparkSession, emb, key))
      case None => IvfPq.compose(
        Ivf.auto(emb).getOrElse(Ivf.build(emb, Ivf.pickNlist(total))), Pq.build(emb))
    }

  /** Group the backend list: ≥2 explicit `ivfpq:<n>` dials fuse into one
    * IvfPqLadderGroup, ≥2 `lsh[:…]` dials into one LshLadderGroup (they
    * share bits and prefix-seeded plane tables by construction); everything
    * else stays a single backend. Group order follows each group's first
    * member, and runMany re-orders per-query rows to the caller's list. */
  /** The ONE fusion decision, consumed by BOTH [[buildGroups]] (which
    * materializes the fused ladder groups) and [[fusedKeys]] (which
    * renders the artifact annotation) — divergence between the grouping
    * and its self-description is structurally impossible, not just
    * spec-pinned. An empty family means "do not fuse" (a lone dial runs
    * as a single backend). */
  private def fusedFamilies(backendNames: Seq[String]): (Seq[String], Seq[String]) = {
    val iv = backendNames.filter(isIvfPqDial)
    val ls = backendNames.filter(isLshDial)
    (if (iv.length >= 2) iv else Nil, if (ls.length >= 2) ls else Nil)
  }

  /** The one rendering of a group's shared timing key (GroupBackend
    * .timingKey and fusedKeys both call it). */
  private def sharedTimingKey(names: Seq[String]): String = names.mkString("+")

  /** The fused-group timing key each requested backend reports under
    * (r19 verdict #5 — artifact self-description): dials that share one
    * timed pass in [[buildGroups]] map to the group's combined key;
    * everything else maps to itself. Derived from the same
    * [[fusedFamilies]] partition buildGroups consumes (spec-pinned on
    * top, RunHarnessSpec). */
  def fusedKeys(backendNames: Seq[String]): Map[String, String] = {
    val (iv, ls) = fusedFamilies(backendNames)
    val fused = Seq(iv, ls).filter(_.nonEmpty).flatMap { fam =>
      val key = sharedTimingKey(fam)
      fam.map(_ -> key)
    }
    (backendNames.map(n => n -> n) ++ fused).toMap
  }

  private def isIvfPqDial(n: String): Boolean =
    n.startsWith("ivfpq:") && n.stripPrefix("ivfpq:").nonEmpty &&
      n.stripPrefix("ivfpq:").forall(_.isDigit)

  private def isLshDial(n: String): Boolean =
    n == "lsh" || n.startsWith("lsh:")

  private def buildGroups(backendNames: Seq[String], emb: DataFrame, total: Long,
                          ladder: Seq[Int], nprobe: Int, maxLadderSteps: Option[Int],
                          corpusKey: Option[String], knownDim: Option[Int],
                          ram: Option[RamCorpus]): Seq[GroupBackend] = {
    val (ivfpqDials, lshDials) = fusedFamilies(backendNames)
    val fuseIvfPq = ivfpqDials.nonEmpty
    val fuseLsh = lshDials.nonEmpty
    def single(n: String) = new SingleGroup(getBackend(n, emb, total, ladder, nprobe,
      maxLadderSteps, corpusKey, knownDim, ram))
    val groups = scala.collection.mutable.ArrayBuffer.empty[GroupBackend]
    val seen = scala.collection.mutable.Set.empty[String]
    backendNames.foreach {
      case n if fuseIvfPq && ivfpqDials.contains(n) =>
        if (!seen(n)) {
          seen ++= ivfpqDials
          groups += new IvfPqLadderGroup(
            ivfpqDials.map(d => d -> d.stripPrefix("ivfpq:").toInt),
            ivfPqModelFor(emb, total, corpusKey), nprobe, ram)
        }
      case l if fuseLsh && lshDials.contains(l) =>
        if (!seen(l)) {
          seen ++= lshDials
          val parsed = lshDials.map { d =>
            val (radius, nTables) = parseLshDial(d)
            (d, radius, nTables)
          }
          val dim = knownDim.getOrElse(emb.select(size(col("embedding"))).first().getInt(0))
          val tbls = CosineLsh.tables(dim, CosineLsh.pickBits(total), parsed.map(_._3).max)
          groups += new LshLadderGroup(parsed, tbls, signedTable(emb, tbls, corpusKey))
        }
      case n => groups += single(n)
    }
    groups.toSeq
  }

  case class ResultRow(
      qid: Long, method: String, k: Int, latencyMs: Double, recallAtK: Double,
      filterSelectivity: Double, scoredVectors: Long, listsProbed: Option[Int],
      nprobe: Option[Int], kthAtStop: Option[Double], boundAtStop: Option[Double],
      notes: Option[String], timestampUtc: String, runId: String)

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSxxx")

  /** Execute the query set through one backend; one ResultRow per query,
    * recall vs the allowed-subset oracle (reference test:
    * test_recall_computation_against_oracle_subset). */
  def run(spark: SparkSession, sfDir: String, backendName: String,
          qs: Seq[HybridQuery] = QuerySet.default,
          kOverride: Option[Int] = None): Seq[ResultRow] =
    runMany(spark, sfDir, Seq(backendName), qs, kOverride)

  /** Execute the query set through SEVERAL backends in one pass — the
    * reference harness loops backends too (run.py --method), but per-query
    * work that does not depend on the backend (validation, the allowed-
    * subset count, the oracle top-K) is computed once per query here
    * instead of once per (query, backend). When an exact-equivalent
    * backend (exact/pre_filter) is in the set, its timed result doubles as
    * the oracle — deterministic brute force over the same allowed subset —
    * so no separate oracle job runs at all. */
  def runMany(spark: SparkSession, sfDir: String, backendNames: Seq[String],
              qs: Seq[HybridQuery] = QuerySet.default,
              kOverride: Option[Int] = None,
              ram: Option[RamCorpus] = None,
              encoder: QueryEncoder = QueryEncoder.seeded(),
              onBackendTimed: (String, Double) => Unit = (_, _) => ()): Seq[ResultRow] = {
    val emb = graft.Tables.embeddings(spark, sfDir)
    // N and dim from the pinned serving tier when present (RamCorpus.build
    // already counted and dim-validated the same rows) — the two metadata
    // jobs this ran per invocation were pure re-derivation
    val total = ram.map(_.total).getOrElse(emb.count())
    val dim = ram.map(_.dim).getOrElse(
      emb.select(size(col("embedding"))).first().getInt(0))
    val runId = java.util.UUID.randomUUID().toString
    // nested dial sets (ivfpq:<sl>, lsh:<r>x<t>) fuse into shared-pass
    // groups — results identical to independent per-dial searches
    // (GroupBackend doc), ~1/3 the jobs for a 3-rung ladder
    val groups = buildGroups(backendNames, emb, total,
      ladder = Seq(200, 500, 1000), nprobe = 32, maxLadderSteps = None,
      corpusKey = Some(sfDir), knownDim = Some(dim), ram = ram)

    // hard guards BEFORE any search (reference: dimension + K validation)
    val queries = qs.map { hq =>
      val k = kOverride.getOrElse(hq.k)
      if (k < 1 || k > total)
        throw new IllegalArgumentException(s"K must be in [1, $total], got $k")
      val qvec =
        if (hq.qvec.nonEmpty) hq.qvec
        else if (hq.qtext.nonEmpty) encoder.encode(hq.qtext) // encode seam
        else { // empty qvec AND empty qtext → dataset vector at qid
          import spark.implicits._
          emb.where(col("vec_id") === hq.qid).select(col("embedding"))
            .as[Array[Float]].head()
        }
      if (qvec.length != dim)
        throw new IllegalArgumentException(s"Query dim ${qvec.length} != dataset dim $dim")
      // ensure_unit_l2 (reference validators.py:38): validate, don't fix
      val norm = math.sqrt(VecMath.dot(qvec, qvec))
      if (norm == 0.0)
        throw new IllegalArgumentException("Embedding norm is zero; cannot validate")
      if (math.abs(norm - 1.0) > 1e-3)
        throw new IllegalArgumentException(
          f"Embedding L2 norm $norm%.6f not within tolerance 0.001")
      (hq, k, qvec)
    }

    queries.flatMap { case (hq, k, qvec) =>
      val spec = FilterDsl.parseJson(hq.filters) // malformed/unknown → hard error
      val pred = if (spec.isEmpty) None else Some(FilterDsl.compile(emb, spec))
      // |allowed| from the pinned blocks when the serving tier can evaluate
      // the spec (one lightweight counting pass, semantics parity spec-pinned
      // via exact's scored_vectors) — else the Catalyst count
      val allowed = pred.map { p =>
        ram.flatMap(rc => RamCorpus.labelPredicate(spec).map(rc.countAllowed))
          .getOrElse(emb.where(p).count())
      }.getOrElse(total)
      // onBackendTimed sees the WALL seconds of each (query, group) search
      // — job-scheduling overhead included, unlike the row's latencyMs which
      // each backend clocks around its own timed section. The hook lets a
      // caller (hybrid_stats) decompose its recorded aggregate per family;
      // a fused ladder reports once under its combined key.
      val searched = groups.flatMap { g =>
        val t0 = System.nanoTime()
        val rs = g.searchAll(emb, qvec, spec, pred, k, allowed)
        onBackendTimed(g.timingKey, (System.nanoTime() - t0) / 1e9)
        rs
      }
      // rows in the CALLER's backend order, independent of group layout
      val byName = searched.toMap
      val ordered = backendNames.map(n => n -> byName(n))
      // exact/pre_filter IS the oracle computation (deterministic brute
      // force over the same allowed subset) — reuse its result instead of
      // running an identical extra job per query
      val oracleIds = ordered
        .collectFirst { case (n, (ids, _)) if n == "exact" || n == "pre_filter" =>
          ids.toArray }
        .getOrElse(VectorSearch.topK(emb, qvec, k, pred).collect().map(_.getLong(0)))
      ordered.map { case (name, (ids, stats)) =>
        val recall = if (k == 0) 0.0 else ids.toSet.intersect(oracleIds.toSet).size.toDouble / k
        ResultRow(hq.qid, name, k, stats.latencyMs, recall,
          VecMath.round6(allowed.toDouble / total), stats.scoredVectors,
          stats.listsProbed, stats.nprobe, stats.kthAtStop, stats.boundAtStop,
          stats.notes,
          java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC).format(TsFmt), runId)
      }
    }
  }

  /** JSON-lines writer with the reference's EXACT field order. */
  def toJsonLines(rows: Seq[ResultRow]): String = {
    def js(s: String) = "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def opt[A](o: Option[A], f: A => String): String = o.map(f).getOrElse("null")
    rows.map { r =>
      Seq(
        "qid" -> r.qid.toString,
        "method" -> js(r.method),
        "K" -> r.k.toString,
        "latency_ms" -> r.latencyMs.toString,
        "recall_at_k" -> r.recallAtK.toString,
        "filter_selectivity" -> r.filterSelectivity.toString,
        "scored_vectors" -> r.scoredVectors.toString,
        "lists_probed" -> opt[Int](r.listsProbed, _.toString),
        "nprobe" -> opt[Int](r.nprobe, _.toString),
        "kth_at_stop" -> opt[Double](r.kthAtStop, _.toString),
        "bound_at_stop" -> opt[Double](r.boundAtStop, _.toString),
        "notes" -> opt[String](r.notes, js),
        "timestamp_utc" -> js(r.timestampUtc),
        "run_id" -> js(r.runId)
      ).map { case (k, v) => js(k) + ": " + v }.mkString("{", ", ", "}")
    }.mkString("", "\n", "\n")
  }

  /** Latency/recall summary per backend — the reference's
    * plots/latency_recall.py aggregation (mean/p50 latency, mean recall),
    * as a small table instead of a matplotlib figure. */
  def summarize(rows: Seq[ResultRow]): Seq[(String, Double, Double, Double)] =
    rows.groupBy(_.method).toSeq.sortBy(_._1).map { case (m, rs) =>
      val lat = rs.map(_.latencyMs).sorted
      val p50 = lat(lat.length / 2)
      (m, lat.sum / lat.length, p50, rs.map(_.recallAtK).sum / rs.length)
    }

  /** CLI twin of the reference's `python -m src.harness.run`.
    * `--queries q.parquet` runs a persisted query table (the reference's
    * qid/qtext/filters/K shape, Ingest.readQueries) instead of the
    * built-in set; `--model-dir dir` resolves qtext through MiniLm
    * weights exported at that path (MiniLm.load) instead of the seeded
    * stand-in encoder. */
  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val sfDir = opts.getOrElse("--sf-dir", "/root/testdata/sf0.01")
    val backends = opts.get("--backends").map(_.split(",").toSeq)
      .getOrElse(Seq(opts.getOrElse("--backend", "exact")))
    val out = opts.getOrElse("--out", "results.jsonl")
    val kOv = opts.get("--K").map(_.toInt)
    // reference run.py parity: cap the query set (default runs all)
    val maxQ = opts.get("--max_queries").map(_.toInt)
    val queriesPath = opts.get("--queries")
    val encoder: QueryEncoder = opts.get("--model-dir")
      .map(dir => new graft.encode.MiniLm.Encoder(graft.encode.MiniLm.load(dir)): QueryEncoder)
      .getOrElse(QueryEncoder.seeded())
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions", sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val base = queriesPath
      .map(p => graft.sources.Ingest.readQueries(spark, p))
      .getOrElse(QuerySet.default)
    val qs = maxQ.map(base.take).getOrElse(base)
    // same serving tier as Bench/hybrid_stats: both paths write
    // results.jsonl, so the CLI must record the same-tier latencies
    val rows = runMany(spark, sfDir, backends, qs = qs, kOverride = kOv,
      ram = graft.queries.VectorQueries.servingTier(spark, sfDir),
      encoder = encoder)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), toJsonLines(rows))
    println(s"wrote ${rows.length} rows to $out")
    spark.stop()
  }
}
