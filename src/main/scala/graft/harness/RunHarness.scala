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

  /** Backend interface (reference src/backend_interface.py). A backend
    * answers one query under each of its `names`, in that order: most
    * answer under one name; a fused dial ladder answers every dial it
    * serves from one shared pass. The filter arrives resolved once per
    * query ([[ResolvedFilter]]: the Catalyst predicate, plus the RAM tier
    * when that tier can evaluate it). `allowed` is the precomputed
    * |filtered subset| — the harness needs it for filter_selectivity
    * anyway, so backends take it instead of re-counting (one count per
    * query, not one per backend). */
  trait Backend {
    def names: Seq[String]
    def search(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
               k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))]
  }

  /** A backend answering under the one name `name`. */
  private abstract class Single(name: String) extends Backend {
    def names: Seq[String] = Seq(name)
    def search(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
               k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))] =
      Seq(name -> answer(emb, qvec, f, k, allowed))
    protected def answer(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
                         k: Int, allowed: Long): (Seq[Long], Stats)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** exact / pre_filter: brute-force top-K within the allowed subset
    * (implementations coincide in a pushdown engine — the filter IS the
    * gather). The pinned flat blocks when the filter resolved to the RAM
    * tier (same semantics, no per-query columnar decode), else a Catalyst
    * TakeOrdered. scored_vectors = |allowed|. */
  private class ExactBackend(name: String) extends Single(name) {
    protected def answer(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
                         k: Int, allowed: Long): (Seq[Long], Stats) = {
      val (rows, ms) = timed(f.ram match {
        case Some((rc, lp)) => rc.topK(qvec, k, lp)
        case None => VectorSearch.topK(emb, qvec, k, f.pred).collect()
          .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      })
      (rows.map(_._1), Stats(ms, allowed, None, None, rows.lastOption.map(_._2), None,
        Some(s"$name backend${if (f.ram.isDefined) " (ram)" else ""}")))
    }
  }

  /** post_filter and post_filter:ivf: the reference's rung walk
    * ([[VectorSearch.ladderWalk]], post_filter.py:60-99) over one max-rung
    * candidate fetch, from one of three sources: the pinned blocks when
    * the filter resolved to the RAM tier, else the corpus; or, given
    * `probe` (an IVF model and its nprobe), the probed lists only — the
    * plan the reference's post_filter ACTUALLY runs (post_filter.py:17-99
    * probes `ann_index.search` with each rung's K′), so that family records
    * the index-probe trade: recall < 1 when a true neighbour lives in an
    * unprobed list. The walk is the same for every source (top-200 ⊆
    * top-500 ⊆ top-1000, like FAISS's nested search results): one Spark
    * job, then O(K′) driver work. scored_vectors = the K′ of the stopping
    * rung; kth_at_stop only when the stop kept K (reference: None when the
    * ladder is exhausted with < K kept). */
  private class PostFilterBackend(name: String, ladder: Seq[Int], maxLadderSteps: Option[Int],
                                  probe: Option[(IvfModel, Int)]) extends Single(name) {
    protected def answer(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
                         k: Int, allowed: Long): (Seq[Long], Stats) = {
      val probed = probe.map { case (model, n) => (model, n, model.probes(qvec, n)) }
      val (stop, ms) = timed {
        val cand = (probed, f.ram) match {
          case (Some((model, _, lists)), _) => VectorSearch.ladderCandidates(
            model.indexed.where(col("list_id").isin(lists: _*)), qvec, f.pred, ladder.max)
          case (None, Some((rc, lp))) => rc.topCandidates(qvec, ladder.max, lp).toArray
          case (None, None) => VectorSearch.ladderCandidates(emb, qvec, f.pred, ladder.max)
        }
        VectorSearch.ladderWalk(cand, ladder, k, maxLadderSteps.getOrElse(ladder.length))
      }
      val kth = if (stop.satisfied && stop.kept.length == k) stop.kept.lastOption.map(_._2) else None
      val notes = s"k_ladder=${ladder.mkString("[", ", ", "]")}; kept=${stop.kept.length}; need=$k"
      (stop.kept.map(_._1), Stats(ms, stop.rung, probed.map(_._3.length), probed.map(_._2), kth,
        None, Some(if (probed.isDefined) s"ivf-probed $notes" else notes), stop.retries))
    }
  }

  /** Every compressed tier — pq, sq, bq, ivfpq, ivfpq_res — through the
    * one shortlist-and-refine path ([[CodeTier]]): `probe` gives a query's
    * code scan and its stats; the shortlist of `width` is refined exactly,
    * the filter applied to the refined rows (the code tables carry no
    * metadata). kept < K when the filter eats the shortlist — the honest
    * recall trade a compressed post-filter index makes, recorded per
    * query. With a RAM tier and a label-only filter the refine scores the
    * pinned blocks (the reference refines FAISS shortlists against its
    * resident matrix): one code-scan TakeOrdered plus one id-set scoring
    * pass, never a corpus DataFrame re-scan; ranking-identical to the
    * broadcast refine (RamCorpusSpec parity). */
  private class CodeTierBackend(name: String, corpus: DataFrame, width: Int)
                               (probe: Array[Float] => (CodeTier.Scan, Stats))
      extends Single(name) {
    protected def answer(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
                         k: Int, allowed: Long): (Seq[Long], Stats) = {
      val ((rows, st), ms) = timed {
        val (scan, st) = probe(qvec)
        (CodeTier.serve(scan, corpus, qvec, k, width, f), st)
      }
      (rows.map(_._1), st.copy(latencyMs = ms, kthAtStop = rows.lastOption.map(_._2)))
    }
  }

  /** A flat code table's stats: scored_vectors = the FULL code-table row
    * count (`codeCount`, known at registry time — codes are 1:1 with the
    * corpus): the scan reads every code regardless of the filter, and
    * recording the shortlist size instead made pq look ~N/shortlist
    * cheaper than its real scan. */
  private def flatStats(codeCount: Long, note: String): Stats =
    Stats(0, codeCount, None, None, None, None, Some(note))

  /** A probed tier's scan of one query and its stats: the probe volume
    * comes from the index metadata (list sizes collected once per model,
    * the centroid discipline) — a per-query count() job would re-scan the
    * probed partitions and double the serving path's probe I/O at scale. */
  private def probedScan(model: IvfCodes, nprobeN: Int, note: String)
                        (qvec: Array[Float]): (CodeTier.Scan, Stats) = {
    val lists = model.ivf.probes(qvec, nprobeN)
    (model.scan(qvec, lists), Stats(0, lists.map(model.listSizes.getOrElse(_, 0L)).sum,
      Some(lists.length), Some(nprobeN), None, None, Some(note)))
  }

  private class IvfBackend(model: IvfModel, nprobeN: Int) extends Single("ivf") {
    protected def answer(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
                         k: Int, allowed: Long): (Seq[Long], Stats) = {
      val lists = model.probes(qvec, nprobeN)
      val scored = model.indexed.where(col("list_id").isin(lists: _*))
      val base = f.pred.map(scored.where).getOrElse(scored)
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
    * recall ≈ 1−(1−p)^T). Together they play ef_search's role.
    *
    * The LSH index table: corpus rows + one row-local signature column
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
          graft.Tables.sourceMtime(dir, "embeddings"), emb.sparkSession.sparkContext) {
          val df = build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          df.count() // materialize the pin (one-time index-build cost)
          df
        }
      case _ => build
    }
  }

  private class LshBackend(name: String, tbls: Seq[Array[Array[Float]]],
                           radius: Int, signed: DataFrame) extends Single(name) {
    protected def answer(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
                         k: Int, allowed: Long): (Seq[Long], Stats) = {
      val nProbed = tbls.map(p =>
        CosineLsh.multiprobe(CosineLsh.signature(qvec, p), p.length, radius).length).sum
      val bucketPred = tbls.zipWithIndex.map { case (p, t) =>
        val buckets = CosineLsh.multiprobe(CosineLsh.signature(qvec, p), p.length, radius)
        col(s"_b$t").isin(buckets: _*)
      }.reduce(_ || _)
      val bucketed = signed.where(bucketPred)
      val base = f.pred.map(bucketed.where).getOrElse(bucketed)
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

  private class RandomBackend(seed: Long) extends Single("random") {
    protected def answer(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
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
                 knownDim: Option[Int] = None): Backend =
    name match {
      case "exact" | "pre_filter" => new ExactBackend(name)
      case "post_filter" => new PostFilterBackend(name, ladder, maxLadderSteps, None)
      case "post_filter:ivf" => new PostFilterBackend(name, ladder, maxLadderSteps,
        Some((ivfModelFor(emb, total, corpusKey), nprobe)))
      // "pq" / "pq:<shortlist>" (and sq, bq, ivfpq_res alike) — the
      // compressed tier's recall dial rides in the method name (the
      // lsh:<radius>x<tables> convention), so results.jsonl rows at
      // different shortlist widths are distinguishable. Codes are 1:1 with
      // corpus rows, so the caller-known total IS a flat tier's scan volume
      case p if p == "pq" || p.startsWith("pq:") =>
        val sl = dial(p, "pq", 100)
        val model = corpusKey match {
          case Some(key) => Pq.cached(emb.sparkSession, emb, key)
          case None => Pq.build(emb)
        }
        val st = flatStats(total, s"pq adc m=${model.m} k=${model.kCodes} shortlist=$sl")
        new CodeTierBackend(p, model.corpus, sl)(q => (model.scan(q), st))
      case p if p == "sq" || p.startsWith("sq:") =>
        val sl = dial(p, "sq", 100)
        val model = corpusKey match {
          case Some(key) => Sq.cached(emb.sparkSession, emb, key)
          case None => Sq.build(emb)
        }
        val st = flatStats(total, s"sq8 dim=${model.dim} shortlist=$sl")
        new CodeTierBackend(p, model.corpus, sl)(q => (model.scan(q), st))
      // training-free tier
      case p if p == "bq" || p.startsWith("bq:") =>
        val sl = dial(p, "bq", 100)
        val model = corpusKey match {
          case Some(key) => Bq.cached(emb.sparkSession, emb, key)
          case None => Bq.build(emb)
        }
        val st = flatStats(total, s"bq sign-bit shortlist=$sl")
        new CodeTierBackend(p, model.corpus, sl)(q => (model.scan(q), st))
      // residual-encoded composition (the true FAISS IndexIVFPQ encoding,
      // IvfPqRes doc) — matched BEFORE the plain "ivfpq" prefix rule
      case p if p == "ivfpq_res" || p.startsWith("ivfpq_res:") =>
        val model = corpusKey match {
          case Some(key) => IvfPqRes.cached(emb, key, ivfModelFor(emb, total, corpusKey))
          case None => IvfPqRes.build(ivfModelFor(emb, total, corpusKey))
        }
        val sl = dial(p, "ivfpq_res", 100)
        new CodeTierBackend(p, model.corpus, sl)(probedScan(model, nprobe,
          s"ivfpq residual-encoded m=${model.m} k=${model.kCodes} shortlist=$sl"))
      // the full FAISS-family scale tier, recorded alongside its halves
      // (ivf = pruned flat scan, pq = full compressed scan)
      case p if p == "ivfpq" || p.startsWith("ivfpq:") =>
        val model = ivfPqModelFor(emb, total, corpusKey)
        // bare "ivfpq" serves the index's auto-tuned default (meta.json);
        // "ivfpq:N" dials it explicitly
        val sl = dial(p, "ivfpq", model.defaultShortlist)
        new CodeTierBackend(p, model.pq.corpus, sl)(probedScan(model, nprobe,
          s"ivfpq adc m=${model.pq.m} k=${model.pq.kCodes} shortlist=$sl"))
      case "ivf" => new IvfBackend(ivfModelFor(emb, total, corpusKey), nprobe)
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

  /** The shortlist dial of a code-tier method name: `base` alone is
    * `default`, `base:<n>` dials n. */
  private def dial(name: String, base: String, default: => Int): Int =
    if (name == base) default else name.stripPrefix(s"$base:").toInt

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

  /** Fused `ivfpq:<sl>` ladder: one partition-pruned ADC TakeOrdered at
    * the widest shortlist ([[CodeTier.shortlistIds]], collected in rank
    * order); each dial ranks its prefix over ONE exact refine of the
    * widest shortlist ([[CodeTier.scoreAll]] — pinned-block scoring when
    * the filter resolved to the RAM tier, else the broadcast id join). */
  private class IvfPqLadderBackend(dials: Seq[(String, Int)], model: IvfPqModel, nprobeN: Int)
      extends Backend {
    def names: Seq[String] = dials.map(_._1)
    private val maxSl = dials.map(_._2).max
    def search(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
               k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))] = {
      val (scan, st) = probedScan(model, nprobeN, "")(qvec)
      val (shortIds, msShort) = timed(CodeTier.shortlistIds(scan, maxSl))
      val (scored, msRefine) = timed(CodeTier.scoreAll(model.pq.corpus, shortIds, qvec, f))
      // per-dial prefix rank over the refined score map, on the shared
      // (score desc, vec_id) contract
      dials.map { case (nm, sl) =>
        val rows = shortIds.take(sl).iterator
          .flatMap(id => scored.get(id).map(id -> _)).toArray
          .sortBy { case (id, sc) => (-sc, id) }.take(k).toSeq
        nm -> (rows.map(_._1), st.copy(latencyMs = msShort + msRefine,
          kthAtStop = rows.lastOption.map(_._2), notes = Some(
            s"ivfpq adc m=${model.pq.m} k=${model.pq.kCodes} shortlist=$sl (fused ladder)")))
      }
    }
  }

  /** Fused `lsh:*` ladder: signatures for the union of table prefixes and
    * the exact scores are computed in ONE pass over the union candidate
    * set (per-dial membership is a row-local boolean over the shared
    * signature columns); the materialized candidates are narrow
    * (vec_id, score, flags). The union candidate set is BOUNDED by the
    * bucket geometry (pickBits keeps ~64 rows/bucket at any corpus size,
    * and the probe-set size is a function of bits/radius/tables only), so
    * ONE collect of the narrow
    * (vec_id, score, flags) rows replaces the r15 persist + counts
    * aggregate + per-dial TakeOrdered chain — 1 job per query instead of
    * 2+|dials|, identical rows (same counts, same (score desc, vec_id)
    * ranking contract, driver-side over the same bounded set). */
  private class LshLadderBackend(dials: Seq[(String, Int, Int)], // (name, radius, tables)
                                 tbls: Seq[Array[Array[Float]]],
                                 signed: DataFrame)
      extends Backend {
    def names: Seq[String] = dials.map(_._1)
    def search(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
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
      val base = f.pred.map(bucketed.where).getOrElse(bucketed)
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

  /** The IVF model every IVF-backed backend probes: the persisted shared
    * index when the corpus has a key, else an in-process fit. */
  private def ivfModelFor(emb: DataFrame, total: Long, corpusKey: Option[String]): IvfModel =
    corpusKey match {
      case Some(key) => Ivf.cached(emb.sparkSession, emb, key, knownTotal = Some(total))
      case None => Ivf.auto(emb).getOrElse(Ivf.build(emb, Ivf.pickNlist(total)))
    }

  /** The composed IVFPQ model (disk-cached when the corpus has a key),
    * shared by the solo ivfpq backend and the fused ladder — one cache
    * key and one composition rule for both paths. */
  private def ivfPqModelFor(emb: DataFrame, total: Long,
                            corpusKey: Option[String]): IvfPqModel =
    corpusKey match {
      case Some(key) => IvfPq.cached(emb.sparkSession, emb, key,
        ivfModelFor(emb, total, corpusKey), Pq.cached(emb.sparkSession, emb, key))
      case None => IvfPq.compose(ivfModelFor(emb, total, corpusKey), Pq.build(emb))
    }

  /** Group the backend list: ≥2 explicit `ivfpq:<n>` dials fuse into one
    * IvfPqLadderBackend, ≥2 `lsh[:…]` dials into one LshLadderBackend (they
    * share bits and prefix-seeded plane tables by construction); everything
    * else stays a single backend. Group order follows each group's first
    * member, and runMany re-orders per-query rows to the caller's list.
    *
    * This is the ONE fusion decision, consumed by BOTH [[backendsFor]] (which
    * materializes the fused ladders) and [[fusedKeys]] (which
    * renders the artifact annotation) — divergence between the grouping
    * and its self-description is structurally impossible, not just
    * spec-pinned. An empty family means "do not fuse" (a lone dial runs
    * as a single backend). */
  private def fusedFamilies(backendNames: Seq[String]): (Seq[String], Seq[String]) = {
    val iv = backendNames.filter(isIvfPqDial)
    val ls = backendNames.filter(isLshDial)
    (if (iv.length >= 2) iv else Nil, if (ls.length >= 2) ls else Nil)
  }

  /** The one rendering of a backend's timing key (runMany's timing hook
    * and fusedKeys both call it): a single name is its own key. */
  private def sharedTimingKey(names: Seq[String]): String = names.mkString("+")

  /** The fused-group timing key each requested backend reports under
    * (r19 verdict #5 — artifact self-description): dials that share one
    * timed pass in [[backendsFor]] map to the group's combined key;
    * everything else maps to itself. Derived from the same
    * [[fusedFamilies]] partition backendsFor consumes (spec-pinned on
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

  private def backendsFor(backendNames: Seq[String], emb: DataFrame, total: Long,
                          ladder: Seq[Int], nprobe: Int, maxLadderSteps: Option[Int],
                          corpusKey: Option[String], knownDim: Option[Int]): Seq[Backend] = {
    val (ivfpqDials, lshDials) = fusedFamilies(backendNames)
    val fuseIvfPq = ivfpqDials.nonEmpty
    val fuseLsh = lshDials.nonEmpty
    val out = scala.collection.mutable.ArrayBuffer.empty[Backend]
    val seen = scala.collection.mutable.Set.empty[String]
    backendNames.foreach {
      case n if fuseIvfPq && ivfpqDials.contains(n) =>
        if (!seen(n)) {
          seen ++= ivfpqDials
          out += new IvfPqLadderBackend(
            ivfpqDials.map(d => d -> d.stripPrefix("ivfpq:").toInt),
            ivfPqModelFor(emb, total, corpusKey), nprobe)
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
          out += new LshLadderBackend(parsed, tbls, signedTable(emb, tbls, corpusKey))
        }
      case n => out += answeringAs(n, getBackend(n, emb, total, ladder, nprobe, maxLadderSteps,
        corpusKey, knownDim))
    }
    out.toSeq
  }

  /** `b` answering under the requested `name`: "auto" is served by the
    * fallback chain's pick (ivf, lsh or exact), and its rows carry "auto". */
  private def answeringAs(name: String, b: Backend): Backend =
    if (b.names == Seq(name)) b
    else new Backend {
      def names: Seq[String] = Seq(name)
      def search(emb: DataFrame, qvec: Array[Float], f: ResolvedFilter,
                 k: Int, allowed: Long): Seq[(String, (Seq[Long], Stats))] =
        b.search(emb, qvec, f, k, allowed).map { case (_, r) => name -> r }
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
    // backends — results identical to independent per-dial searches
    // (fused dial ladders doc), ~1/3 the jobs for a 3-rung ladder
    val backends = backendsFor(backendNames, emb, total,
      ladder = Seq(200, 500, 1000), nprobe = 32, maxLadderSteps = None,
      corpusKey = Some(sfDir), knownDim = Some(dim))

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
      // malformed/unknown → hard error; resolved once for every backend
      val f = ResolvedFilter(emb, FilterDsl.parseJson(hq.filters), ram)
      // |allowed| from the pinned blocks when the serving tier can evaluate
      // the spec (semantics parity spec-pinned via exact's scored_vectors)
      val allowed = f.allowed(total)
      // onBackendTimed sees the WALL seconds of each (query, backend) search
      // — job-scheduling overhead included, unlike the row's latencyMs which
      // each backend clocks around its own timed section. The hook lets a
      // caller (hybrid_stats) decompose its recorded aggregate per family;
      // a fused ladder reports once under its combined key.
      val searched = backends.flatMap { b =>
        val t0 = System.nanoTime()
        val rs = b.search(emb, qvec, f, k, allowed)
        onBackendTimed(sharedTimingKey(b.names), (System.nanoTime() - t0) / 1e9)
        rs
      }
      // rows in the CALLER's backend order, independent of fused layout
      val byName = searched.toMap
      val ordered = backendNames.map(n => n -> byName(n))
      // exact/pre_filter IS the oracle computation (deterministic brute
      // force over the same allowed subset) — reuse its result instead of
      // running an identical extra job per query
      val oracleIds = ordered
        .collectFirst { case (n, (ids, _)) if n == "exact" || n == "pre_filter" =>
          ids.toArray }
        .getOrElse(VectorSearch.topK(emb, qvec, k, f.pred).collect().map(_.getLong(0)))
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

  /** The CLI's session: the shared local config ([[graft.tools.Sessions]]),
    * graft's extensions included, so the probed reads pass their lists by
    * reference and `TopKPerKey` plans natively. */
  private[graft] def cliSession(): SparkSession = {
    val spark = graft.tools.Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private val CliFlags = Set("--sf-dir", "--backends", "--backend", "--out", "--K",
    "--max_queries", "--queries", "--model-dir")

  /** The CLI's `--flag value` pairs. An unknown flag, or a flag whose value
    * is missing (last argument, or followed by another flag), is an
    * IllegalArgumentException naming it — never a silently ignored option. */
  private[graft] def parseArgs(args: Array[String]): Map[String, String] =
    args.grouped(2).map {
      case Array(f, _*) if !CliFlags(f) => throw new IllegalArgumentException(s"unknown flag: $f")
      case Array(f, v) if !CliFlags(v) => f -> v
      case Array(f, _*) => throw new IllegalArgumentException(s"flag $f has no value")
    }.toMap

  /** CLI twin of the reference's `python -m src.harness.run`.
    * `--queries q.parquet` runs a persisted query table (the reference's
    * qid/qtext/filters/K shape, Ingest.readQueries) instead of the
    * built-in set; `--model-dir dir` resolves qtext through MiniLm
    * weights exported at that path (MiniLm.load) instead of the seeded
    * stand-in encoder. */
  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
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
    val spark = cliSession()
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
