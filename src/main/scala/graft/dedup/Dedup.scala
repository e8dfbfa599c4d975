package graft.dedup

import graft.operators.Pin.PinOps
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text/embedding corpora
  * (LLM-pipeline extension; SURVEY.md §2 #21–25).
  *
  * Every operator is a declarative column pipeline whose only shuffles are
  * the groupBy/join on its blocking key — never an all-pairs cross join:
  *   - exact:     one hash-aggregate on the content hash;
  *   - jaccard:   candidate pairs restricted to a blocking key (min token
  *                hash — a 1-permutation MinHash), verified exactly;
  *   - minhash:   banded MinHash-LSH bucket join, verified exactly;
  *   - simhash:   3-of-6 block-key blocking (pigeonhole: hamming ≤ 3 pairs
  *                leave ≥3 of 6 blocks clean and share that 3-block key),
  *                verified by bit_count;
  *   - embedding: cosine-LSH bucket join (hyperplane signatures, hamming-1
  *                multiprobe), verified by exact dot product;
  *   - clusters: pair graph → min-id connected components (the keep-list
  *               resolution step), iterative label propagation.
  * Oversized LSH buckets are dropped by a size cap (skew/adversarial
  * safety at 100 TB: a degenerate bucket can't quadratically explode).
  */
object Dedup {

  /** All unordered pairs of rows sharing `keys`, with the quadratic
    * per-key pair generation spread over r² tasks (triangle-join salting):
    * each side explodes r copies keyed (keys, saltL, saltR), so one
    * degenerate blocking key cannot serialize into a single straggler
    * task — the 100 TB skew safety the plain self-join lacks. Every pair
    * with idL < idR is produced exactly once.
    *
    * `payload` should be SMALL columns only (sizes, signatures): the
    * candidate explosion is the widest point of the whole pipeline, so
    * heavyweight columns (token arrays, embeddings) are re-joined by id
    * AFTER cheap pruning — see withPayloads.
    */
  private def saltedPairs(df: DataFrame, keys: Seq[String], idCol: String,
                          payload: Seq[String], r: Int): DataFrame = {
    val salted = df.withColumn("_s", pmod(xxhash64(col(idCol)), lit(r)).cast("int"))
    val probe = (0 until r).map(lit(_))
    val left = salted
      .withColumn("_b", explode(array(probe: _*)))
      .withColumnRenamed("_s", "_a")
      .select((keys :+ "_a" :+ "_b").map(col) ++
        (idCol +: payload).map(n => col(n).as(s"${n}_l")): _*)
    val right = salted
      .withColumn("_a", explode(array(probe: _*)))
      .withColumnRenamed("_s", "_b")
      .select((keys :+ "_a" :+ "_b").map(col) ++
        (idCol +: payload).map(n => col(n).as(s"${n}_r")): _*)
    // size-adaptive SHUFFLE_HASH (smallSource doc): at gate scale the
    // hash join kills the sort-merge sorts that dominated the 1× mining
    // profile; at 30–100× the planner's SMJ + AQE skew split wins.
    val rightSide = if (smallSource(df)) right.hint("SHUFFLE_HASH") else right
    left.join(rightSide, keys ++ Seq("_a", "_b"))
      .where(col(s"${idCol}_l") < col(s"${idCol}_r"))
      .drop("_a", "_b")
  }

  /** Plan-side source-size estimate (bytes of the backing files — the
    * spread() discipline: no job, no RDD lineage). 0 for non-file
    * sources, which routes them to the conservative branch. */
  private def inputBytes(df: DataFrame): Long =
    try df.inputFiles.map(f => new java.io.File(new java.net.URI(f).getPath).length()).sum
    catch { case _: Exception => 0L }

  /** Join-strategy dial for the mining joins, SIZE-ADAPTIVE and measured
    * both ways at 1× and 100× (results_scale100.json lineage):
    *  - small corpus (file bytes < 16 MB): SHUFFLE_HASH — streams probe
    *    per-partition hash maps, no sorts anywhere (the sort-merge sorts
    *    dominated the 1× mining profile: dedup_minhash_lsh 7.7 → 2.5 s
    *    when they went);
    *  - big corpus: leave the planner on sort-merge, where AQE's skew
    *    split can cut the hot probe partitions a plain shuffled-hash
    *    join would serialize (hinting at 100× measured 4–5× WORSE:
    *    corpus_curate ratio 11.6 → 42 hint-everywhere, 57 salted-only —
    *    the spill the sorts cost is managed, the straggler a skewed
    *    probe stream costs is not). */
  private def smallSource(df: DataFrame): Boolean = {
    val b = inputBytes(df)
    b > 0 && b < (16L << 20)
  }

  /** Re-attach heavyweight per-doc columns to pruned id pairs; the
    * smallSource dial picks the join SHAPE, size-adaptively (r22, the
    * r21-drafted dial landed and measured):
    *
    *  - small corpus (file bytes < 16 MB — the gate/bench scale): TWO
    *    per-side SHUFFLE_HASH joins. The payload is tiny, so computing it
    *    twice is near-free, while the melt's fold-back groupBy exchange
    *    (pairs exploded 2×, re-aggregated) dominated the r21 gate
    *    profile (dedup_jaccard_mine 2.89 → 17.04 s on the driver box).
    *  - big corpus: MELT — pairs melt to (pair, id) rows, the payload is
    *    computed and shuffled ONCE, and folds back by pair (guide §8:
    *    every shuffle but the last moves a lightweight proxy). The
    *    fold-back shuffle carries candidate-pair payloads only, and
    *    pairs ≪ corpus by construction — at 100 TB halving the corpus
    *    tokenize+shuffle beats the extra pair-side exchange outright.
    *
    * Both shapes produce the identical row set: one row per DISTINCT
    * pair (the melt folds duplicates back by pair; the per-side joins
    * take the pairs distinct first), callers' payloads cover every
    * candidate id (they derive from the same docs), and the not-null
    * guard applies to both branches, so a pair with a null payload column
    * drops either way. */
  private[graft] def withPayloads(pairs: DataFrame, docsPayload: DataFrame,
                           idCol: String, cols: Seq[String]): DataFrame = {
    val small = smallSource(docsPayload)
    val l = s"${idCol}_l"
    val r = s"${idCol}_r"
    val notNullGuard = cols.map(c =>
      col(s"${c}_l").isNotNull && col(s"${c}_r").isNotNull).reduce(_ && _)
    val outCols = col(l) +: col(r) +:
      cols.flatMap(c => Seq(col(s"${c}_l"), col(s"${c}_r")))
    val p0 = docsPayload.select(col(idCol) +: cols.map(col): _*)
    if (small) {
      val pl = p0.select(col(idCol).as(l) +: cols.map(c => col(c).as(s"${c}_l")): _*)
      val pr = p0.select(col(idCol).as(r) +: cols.map(c => col(c).as(s"${c}_r")): _*)
      pairs.select(col(l), col(r)).distinct()
        .join(pl.hint("SHUFFLE_HASH"), Seq(l))
        .join(pr.hint("SHUFFLE_HASH"), Seq(r))
        .where(notNullGuard)
        .select(outCols: _*)
    } else {
      val melted = pairs.select(col(l), col(r),
        explode(array(col(l), col(r))).as(idCol))
      val joined = melted.join(p0, idCol)
      val sideAggs = cols.flatMap { c => Seq(
        first(when(col(idCol) === col(l), col(c)), ignoreNulls = true).as(s"${c}_l"),
        first(when(col(idCol) === col(r), col(c)), ignoreNulls = true).as(s"${c}_r"))
      }
      joined.groupBy(col(l), col(r)).agg(sideAggs.head, sideAggs.tail: _*)
        .where(notNullGuard)
        .select(outCols: _*)
    }
  }

  /** Exact Jaccard from sorted token-id arrays:
    * |A∩B| / (|A| + |B| − |A∩B|), 6 dp. */
  private[graft] def jacCol(a: Column, b: Column): Column = {
    val inter = sortedIntersectSize(a, b).cast("double")
    round(inter / (size(a) + size(b) - inter), 6)
  }

  /** The verify filter `round(jac, 6) >= tau`, rewritten so the codegen'd
    * intersect is evaluated ONCE per candidate pair. The naive form
    * references |A∩B| twice (numerator + union) and the optimizer pushes
    * it into the join condition, where there is no common-subexpression
    * elimination — doubling the dominant cost of the whole pipeline.
    * With i = |A∩B|, s = |A|+|B|, HALF_UP rounding at 6 dp gives
    *   round(i/(s−i), 6) ≥ τ  ⟺  i/(s−i) ≥ τ − 5e-7
    *                          ⟺  2e6·i ≥ (2e6·τ − 1)·(s − i)
    *                          ⟺  i·(2e6 + (2e6·τ − 1)) ≥ (2e6·τ − 1)·s
    * — integer arithmetic, exact on the RATIONAL i/(s−i), i referenced
    * once. Requires τ expressible at 6 dp (all callers use 2-dp
    * thresholds). Boundary caveat: the emitted `jac` column (and a
    * double-arithmetic oracle) round the DOUBLE quotient, so a pair whose
    * rational lands within one double ulp of the τ−5e-7 boundary could in
    * principle be classified differently by the two paths; with |A∩B| ≤
    * s ≤ ~10⁶-token docs the quotient is exact to ~2⁻⁵² ≪ 5e-7-boundary
    * spacing, and no corpus has produced a disagreement. */
  private[graft] def jacPass(a: Column, b: Column, tau: Double): Column = {
    val e2 = math.round(tau * 2e6) - 1 // 2e6·τ − 1, exact for 6-dp τ
    val s = (size(a) + size(b)).cast("long")
    sortedIntersectSize(a, b).cast("long") * lit(2000000L + e2) >= lit(e2) * s
  }

  /** Size-band prefilter (classic exact-similarity-join pruning) over the
    * slim size columns: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|), so pairs whose
    * sizes differ by more than τ can't reach the threshold — an integer
    * compare that prunes before any array is even fetched. */
  private def sizeBandN(nl: Column, nr: Column, tau: Double): Column =
    nl >= lit(tau) * nr && nr >= lit(tau) * nl

  // ---- #21 exact -------------------------------------------------------

  /** Exact dedup: group identical texts by content hash, keep the min id.
    * One map-side-combined hash aggregate — the 100 TB shape. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n"))
      .orderBy(col("keep_id"))

  // ---- #24 exact token-set Jaccard with MinHash blocking ---------------

  /** Jaccard near-dup pairs (≥ tau) among docs sharing a blocking key:
    * the min MD5 of their token set (a 1-permutation MinHash). Two docs
    * with Jaccard J share the min-hash token with probability ≥ J, so
    * blocking recall at tau=0.95 is ≥95%; candidates are verified with
    * the exact intersect/union ratio. */
  def jaccardPairs(docs: DataFrame, tau: Double, salt: Int = 8,
                   maxBlock: Int = 4000): DataFrame =
    jaccardOnText(docs, 1, tau, salt, maxBlock)

  /** #24b n-gram (shingle) Jaccard: distinct n-token shingles instead of
    * single tokens — finds copied SEQUENCES that token-set similarity
    * blurs away. Same blocking/verify machinery; shingle diversity makes
    * the min-hash blocks naturally small. */
  def ngramJaccardPairs(docs: DataFrame, n: Int, tau: Double, salt: Int = 8): DataFrame =
    jaccardOnText(docs, n, tau, salt)

  /** Spread per-doc hashing across the cluster: a small corpus often sits
    * in one parquet split, which would serialize the per-row token/shingle
    * hashing onto a single core — there, one cheap hash shuffle on the id
    * buys full parallelism for the expensive projections. At 100 TB the
    * input already has thousands of splits, so the repartition is SKIPPED
    * (it would otherwise shuffle the whole corpus for nothing). */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    graft.operators.Spread(df, idCol) // shared (r21): TextAnalysis too

  /** Shared exact-Jaccard-pairs pipeline: single-pass TokenSetSummary
    * (tokenize/shingle + hash + min-MD5 block), slim (id, size) candidate
    * generation through the salted triangle join, size-band prune, array
    * re-join, two-pointer verify.
    *
    * Degenerate blocking keys are SUB-BLOCKED, not suffered: a min-token
    * shared by a super-linear share of the corpus (a ubiquitous common
    * token — the shape the 100× scale probe measured as a 2300×
    * shuffle/142 GB spill blow-up, results_scale100.json) would make its
    * block's pair volume quadratic in corpus growth. Blocks larger than
    * `maxBlock` are re-keyed by an (n+1)-shingle min-MD5 refinement (the
    * refineOversized discipline from the banded-LSH path): within an
    * oversized block, recall falls from "≥ J" to "≈ the (n+1)-shingle
    * min agreement" (J ≥ 0.95 token sets share 2-shingle mins with prob
    * ≈ 2J−1 ≥ 0.9) instead of work going quadratic. The gate corpus
    * (≤ 60k docs, max block ≪ maxBlock) never triggers it, so the
    * DuckDB oracle's plain block join stays exactly faithful. */
  private def jaccardOnText(docs: DataFrame, n: Int, tau: Double, salt: Int,
                            maxBlock: Int = 4000): DataFrame = {
    // each branch computes ONLY what it needs (single-purpose expressions:
    // a bundled struct would get re-expanded by projection pushdown into
    // one full evaluation per extracted field):
    //  - slim candidates: blocking key (the one md5 pass) + set size
    //  - payload sides:   token-id arrays (hash + sort)
    val src = docs.select(col("doc_id"), col("text"))
    val slim = spread(src, "doc_id")
      .select(col("doc_id"), col("text"), tokenSetSize(col("text"), n).as("n"),
        tokenSetMinMd5(col("text"), n).as("blk"))
      .where(col("n") > 0)
    val oversized = slim.groupBy("blk").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") > maxBlock)
      .select("blk").withColumn("over", lit(true))
    // the (n+1)-shingle refinement min sits INSIDE the when-branch, so
    // its md5 pass runs only for rows of oversized blocks (CaseWhen
    // evaluates branches lazily in codegen) — the common path pays one
    // md5 pass per slim evaluation, not two. `text` survives to here
    // because the oversized join is a broadcast (no shuffle widens), and
    // is dropped before the salted explosion.
    // coalesce: a doc too short to have any (n+1)-shingle (minMd5 null)
    // must keep a NON-null key — null equi-join keys silently drop the
    // row from candidate generation, losing even its exact duplicates.
    // Such docs sub-block together under blk+"" — the right degraded
    // grouping for sub-shingle-length members of a degenerate block.
    val keyed = slim
      .join(broadcast(oversized), Seq("blk"), "left")
      .withColumn("blk",
        when(col("over"), concat(col("blk"),
          coalesce(tokenSetMinMd5(col("text"), n + 1), lit(""))))
          .otherwise(col("blk")))
      .drop("over", "text")
    val pruned = saltedPairs(keyed, Seq("blk"), "doc_id", Seq("n"), salt)
      .where(sizeBandN(col("n_l"), col("n_r"), tau))
      .select("doc_id_l", "doc_id_r")
    val payload = spread(src, "doc_id")
      .select(col("doc_id"), tokenSetIds(col("text"), n).as("tsi"))
    withPayloads(pruned, payload, "doc_id", Seq("tsi"))
      .where(jacPass(col("tsi_l"), col("tsi_r"), tau)) // 1 intersect/candidate
      .withColumn("jac", jacCol(col("tsi_l"), col("tsi_r"))) // survivors only
      .select(col("doc_id_l").as("doc_a"), col("doc_id_r").as("doc_b"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---- #22 MinHash + banded LSH ---------------------------------------

  /** MinHash signature columns: perm_j(x) = (a_j·x + b_j) mod p over the
    * token hashes, minimised per doc. Permutation constants are seeded and
    * stay below 2^31 so the Long arithmetic cannot overflow. */
  private val MinhashPrime = 2147483647L // 2^31 - 1 (Mersenne)

  private[graft] def minhashParams(perms: Int, seed: Long): Array[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    Array.fill(perms)((1L + rng.nextInt(Int.MaxValue - 1).toLong,
                       rng.nextInt(Int.MaxValue).toLong))
  }

  /** Candidate pairs from banded MinHash-LSH, verified with exact Jaccard.
    *
    * bands×rows perms; a pair lands in the same bucket of some band with
    * prob 1-(1-J^rows)^bands (≈0.99 at J=0.95 with 4 bands × 8 rows —
    * rows=8 keeps moderate-similarity candidates from exploding on
    * corpora where "everything resembles everything"). Buckets larger
    * than `maxBucket` are NOT dropped: their members are re-keyed by an
    * independent secondary MinHash band (`subRows` perms, seed+1), so a
    * degenerate blocking key degrades to refined sub-buckets — recall
    * within them falls from "all candidates" to ≈J^subRows per pair
    * (0.81 at J=0.95) instead of to zero, and work stays bounded. The
    * one content sub-blocking cannot split is byte-identical docs (any
    * content hash agrees); run `exact` first in a pipeline — identical
    * texts are ITS job, and their pairs are true dups whose quadratic
    * pair volume the salted triangle join spreads over r² tasks. */
  def minhashLshPairs(
      docs: DataFrame,
      tau: Double,
      bands: Int = 4,
      rows: Int = 8,
      seed: Long = 42L,
      maxBucket: Int = 10000,
      salt: Int = 8,
      subRows: Int = 4): DataFrame = {
    // pin the slim banded table (r22): refineOversized reads it twice
    // (bucket census + re-key join) and saltedPairs twice (both explode
    // sides) — unpinned, the md5+minhash signature pass over the corpus
    // text ran up to 4×. The banded table IS the persistable incremental
    // state (minhashBands doc), so materializing it once is the
    // production shape, and its rows are slim (5 narrow columns).
    val exploded = minhashBands(docs, bands, rows, seed, subRows).pin()
    val bucketed = refineOversized(exploded, maxBucket)
    // slim candidate ids: size-band prune, then distinct (a pair may
    // collide in several bands), then re-join the token arrays
    val pruned = saltedPairs(bucketed, Seq("band", "key"), "doc_id", Seq("n"), salt)
      .where(sizeBandN(col("n_l"), col("n_r"), tau))
      .select("doc_id_l", "doc_id_r")
      .distinct()
    verifyJaccard(pruned, docs, tau)
  }

  /** #163 banded MinHash-LSH with ENGINE-PORTABLE ingredients: token ids
    * are the first 12 md5 hex chars as an integer (derivable exactly in
    * any engine) instead of xxhash64, and band keys are the plain
    * '_'-joined row minhashes instead of an xxhash64 compression — so an
    * independent SQL engine derives the IDENTICAL candidate set and the
    * oracle VALUE-checks the banded pipeline (signature → band collision
    * → exact verify) end to end, including the one-codegen-pass
    * [[org.apache.spark.sql.graft.MinHashSignature]] expression itself.
    * The registered production path stays [[minhashLshPairs]] (xxhash64
    * ids and compressed band keys — faster, engine-native, rows-only);
    * what this twin swaps is ONLY the hash ingredients, so a divergence
    * in the mechanics would surface as an oracle mismatch here. The
    * size-band prune is kept because it is LOSSLESS (min/max size bounds
    * Jaccard), so the pruned plan still equals the oracle's unpruned
    * answer; the oversized-bucket refinement is omitted — at oracle
    * scale no bucket approaches it, and sub-blocking is the production
    * path's contract (spec-pinned there). */
  def minhashPortablePairs(docs: DataFrame, tau: Double, bands: Int = 4,
                           rows: Int = 8, seed: Long = 42L): DataFrame = {
    val params = minhashParams(bands * rows, seed)
    // codegen'd md5 token ids (r21): the transform lambda over
    // array_distinct was CodegenFallback and broke whole-stage codegen
    // for the whole signature pass — same values (TokenMd5Ids doc renders
    // the identical conv(substring(md5(...),1,12),16,10) rule natively)
    val base = spread(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        graft.functions.VectorFunctions.tokenMd5Ids(col("text"), 12).as("xs"))
      .withColumn("sig", minhashSignature(col("xs"),
        params.map(_._1).toSeq, params.map(_._2).toSeq, MinhashPrime))
      .withColumn("n", size(col("xs")))
    val bandKeys = (0 until bands).map { bd =>
      // array-level cast, not a per-element transform lambda: the lambda
      // was CodegenFallback (minhashPortablePairs tokenMd5Ids doc); the
      // cast renders the identical decimal strings
      struct(lit(bd).as("band"),
        concat_ws("_", slice(col("sig"), bd * rows + 1, rows)
          .cast("array<string>")).as("key"))
    }
    // pin (r22): the self-join reads the banded table twice — unpinned,
    // the md5-id + 32-perm signature pass ran twice (minhashLshPairs'
    // pin doc; same persistable-state rationale, same slim row)
    val exploded = base
      .withColumn("bk", explode(array(bandKeys: _*)))
      .select(col("doc_id"), col("n"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .pin()
    val cand = exploded.as("a").join(exploded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .where(sizeBandN(col("a.n"), col("b.n"), tau)) // lossless prune
      .select(col("a.doc_id").as("doc_id_l"), col("b.doc_id").as("doc_id_r"))
      .distinct()
    verifyJaccard(cand, docs, tau)
  }

  /** The slim banded-signature table — (doc_id, n, subkey, band, key),
    * `bands` rows per doc: the PERSISTABLE incremental-dedup state. All
    * columns are row-local functions of the doc, so
    * minhashBands(A ∪ B) == minhashBands(A) ∪ minhashBands(B) — the
    * identity batch-append dedup rides on (a daily pipeline persists the
    * corpus's table once and appends each batch's rows). */
  def minhashBands(docs: DataFrame, bands: Int = 4, rows: Int = 8,
                   seed: Long = 42L, subRows: Int = 4): DataFrame = {
    val params = minhashParams(bands * rows, seed)
    val subParams = minhashParams(subRows, seed + 1) // independent refinement band
    // single-pass tokenize+hash, then all perms in one codegen'd pass
    val base = spread(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), tokenSetIds(col("text"), 1).as("tsi"))
      .withColumn("sig",
        minhashSignature(col("tsi"), params.map(_._1).toSeq, params.map(_._2).toSeq, MinhashPrime))
      .withColumn("subkey",
        xxhash64(minhashSignature(col("tsi"),
          subParams.map(_._1).toSeq, subParams.map(_._2).toSeq, MinhashPrime)))
    val bandKeys = (0 until bands).map { bd =>
      struct(lit(bd).as("band"),
        xxhash64(slice(col("sig"), bd * rows + 1, rows)).as("key"))
    }
    base
      .withColumn("bk", explode(array(bandKeys: _*)))
      .select(col("doc_id"), size(col("tsi")).as("n"), col("subkey"),
        col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Re-key oversized buckets in place (key ← hash(key, secondary band)):
    * a degenerate blocking key degrades to refined sub-buckets instead of
    * a quadratic blowup (minhashLshPairs doc). */
  private def refineOversized(exploded: DataFrame, maxBucket: Int): DataFrame = {
    val oversized = exploded.groupBy("band", "key")
      .agg(count(lit(1)).as("cnt")).where(col("cnt") > maxBucket)
      .select("band", "key").withColumn("over", lit(true))
    exploded
      .join(broadcast(oversized), Seq("band", "key"), "left")
      .withColumn("key",
        when(col("over"), xxhash64(col("key"), col("subkey"))).otherwise(col("key")))
      .drop("over", "subkey")
  }

  /** Exact-Jaccard verify of pruned candidate id pairs: re-join the token
    * arrays from `docs` (only matched docs are fetched), one codegen'd
    * intersect per candidate, survivors get the jac column. */
  private def verifyJaccard(pruned: DataFrame, docs: DataFrame, tau: Double): DataFrame = {
    val payload = spread(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), tokenSetIds(col("text"), 1).as("tsi"))
    withPayloads(pruned, payload, "doc_id", Seq("tsi"))
      .where(jacPass(col("tsi_l"), col("tsi_r"), tau)) // 1 intersect/candidate
      .withColumn("jac", jacCol(col("tsi_l"), col("tsi_r"))) // survivors only
      .select(col("doc_id_l").as("doc_a"), col("doc_id_r").as("doc_b"), col("jac"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** #102 incremental (batch-append) dedup: near-dup pairs TOUCHING a new
    * batch, mined against an existing corpus WITHOUT re-mining the corpus
    * — the shape a daily-ingest pipeline hits constantly. `corpusBands`
    * is the corpus's persisted [[minhashBands]] table (signatures are
    * row-local, so the corpus text is never re-hashed); only the new
    * batch's bands are computed, and the candidate join probes the small
    * batch side against the band table — never corpus × corpus.
    *
    * Union-equivalence contract (DedupSpec): with no bucket crossing
    * `maxBucket` in either run,
    *   minhashLshPairs(A ∪ B) == minhashLshPairs(A) ∪ this(A, B)
    * — the oversized-bucket refinement is computed on the UNION's bucket
    * counts (a groupBy on the slim band table, cheap), exactly as a full
    * re-mine would see them, so candidate generation matches the full
    * mine on every pair that touches B. New×new pairs meet twice
    * ((x,y) and (y,x)) and once per shared band — normalized by
    * least/greatest + distinct, like the full mine's distinct.
    *
    * `allDocs` (corpus ∪ batch documents) supplies the verify-stage token
    * arrays for the candidate ids only — a keyed join, not a corpus scan.
    * Reference semantics = minhashLshPairs' (same params, same verify). */
  /** Deletion from the persisted band table — the incremental-mining
    * state's remove_ids (the IvfModel.remove symmetry): drop every band
    * row of the tombstoned docs with one LEFT ANTI join, so later
    * batches can no longer pair against them. Band rows are per-doc
    * deterministic, so bandsRemove(minhashBands(A), D) ==
    * minhashBands(A \ D) exactly — the incremental identity
    * (DedupSpec) carries over to the pruned corpus unchanged. */
  def bandsRemove(bandTable: DataFrame, ids: DataFrame): DataFrame =
    bandTable.join(ids.select(col("doc_id")), Seq("doc_id"), "left_anti")

  def minhashIncrementalPairs(
      allDocs: DataFrame,
      corpusBands: DataFrame,
      newDocs: DataFrame,
      tau: Double,
      bands: Int = 4,
      rows: Int = 8,
      seed: Long = 42L,
      maxBucket: Int = 10000,
      subRows: Int = 4): DataFrame = {
    val newBands = minhashBands(newDocs, bands, rows, seed, subRows)
    val union = corpusBands.select("doc_id", "n", "subkey", "band", "key")
      .unionByName(newBands)
    val bucketed = refineOversized(union, maxBucket)
    // probe side: the new batch's (re-keyed) bands only — small; build
    // side: the whole union, so one probe finds batch×corpus AND
    // batch×batch pairs in a single (band, key) join. Per-key pair volume
    // is bounded by maxBucket × |batch bucket| (the refinement cap).
    val newIds = newDocs.select(col("doc_id"))
    val probe = bucketed.join(broadcast(newIds), Seq("doc_id"))
      .select(col("band"), col("key"), col("doc_id").as("id_n"), col("n").as("n_n"))
    val build = bucketed
      .select(col("band"), col("key"), col("doc_id").as("id_o"), col("n").as("n_o"))
    val pruned = probe.join(build, Seq("band", "key"))
      .where(col("id_n") =!= col("id_o"))
      .where(sizeBandN(col("n_n"), col("n_o"), tau))
      .select(least(col("id_n"), col("id_o")).as("doc_id_l"),
        greatest(col("id_n"), col("id_o")).as("doc_id_r"))
      .distinct()
    verifyJaccard(pruned, allDocs, tau)
  }

  /** #302: [[minhashIncrementalPairs]] with the corpus band table
    * CO-LOCATED (the #294/#299 storage-layout discipline on the banded-
    * minhash axis — the one remaining LSH join that re-shuffled its
    * persisted state per mine): the (band, key) candidate join reads the
    * corpus side from a table BUCKETED by both keys, whose
    * HashPartitioning matches the join's clustering exactly, so the
    * planner exchanges only the BATCH's bands into the corpus's
    * bucketing — the corpus-sized shuffle that the plain incremental
    * mine pays whenever the daily batch is too big to broadcast moves to
    * ingest time, once, and every later mine (any tau; the same table
    * serves them all) joins corpus-shuffle-free. Two joins replace the
    * union probe: batch×corpus over the bucketed table and a batch×batch
    * self-join (batch-sized both sides), then the shared exact verify.
    * Oversized-bucket refinement is omitted — its re-key would break
    * co-location, and the bucketed table persists `subkey` so a consumer
    * can sub-block WITHIN a bucket row-locally (the minhashPortablePairs
    * reasoning; the refinement contract stays on
    * [[minhashIncrementalPairs]], the production entry). Output ≡
    * minhashIncrementalPairs under the no-oversized-bucket premise
    * (spec-pinned, DedupSpec). */
  def minhashIncrementalPairsBucketed(allDocs: DataFrame,
                                      corpusBands: DataFrame,
                                      batchBands: DataFrame,
                                      tau: Double): DataFrame = {
    val probe = batchBands
      .select(col("band"), col("key"), col("doc_id").as("id_n"), col("n").as("n_n"))
    val build = corpusBands
      .select(col("band"), col("key"), col("doc_id").as("id_o"), col("n").as("n_o"))
    val batchCorpus = probe.join(build, Seq("band", "key"))
      // self-pair guard (the plain mine's id_n =!= id_o): the natural
      // ingest shape appends batch rows to the SAME persisted table, so
      // the corpus side may already contain the batch — without the
      // guard a doc joins its own band row and emits (x, x) with jac 1
      .where(col("id_n") =!= col("id_o"))
      .where(sizeBandN(col("n_n"), col("n_o"), tau))
      .select(least(col("id_n"), col("id_o")).as("doc_id_l"),
        greatest(col("id_n"), col("id_o")).as("doc_id_r"))
    val batchBatch = probe.join(
        batchBands.select(col("band"), col("key"),
          col("doc_id").as("id_o"), col("n").as("n_o")),
        Seq("band", "key"))
      .where(col("id_n") < col("id_o"))
      .where(sizeBandN(col("n_n"), col("n_o"), tau))
      .select(col("id_n").as("doc_id_l"), col("id_o").as("doc_id_r"))
    val cand = batchCorpus.unionByName(batchBatch).distinct()
    // verify-side prune (the r18 fixed-batch probe's finding): without
    // it the verify joins the TOKENIZED FULL CORPUS into the candidate
    // pairs — 260 of the 518 MB 1000×-corpus shuffle was this one
    // stage, identical in #102 and #302, corpus-proportional at fixed
    // batch. A PLANNED-broadcast candidate-id semi-join prunes the
    // payload BEFORE tokenization, so the corpus side is scanned but
    // never shuffled or tokenized and the whole mine's shuffle becomes
    // batch-proportional. The broadcast must be explicit: leaving it to
    // AQE's SMJ→BHJ conversion still pays the corpus side's shuffle
    // WRITE (the map stage ran before the conversion — measured 843 MB
    // at 1000×, WORSE than the unpruned 260 MB; raw line preserved in
    // results_scale_fixedbatch.json). Broadcasting candidate ids is
    // size-safe by construction: every pair touches the batch, so ids
    // ≤ 2 pairs ≤ a small multiple of the daily batch (8 B each — a
    // 10M-candidate day broadcasts 80 MB; the corpus never enters).
    // Re-deriving `cand` for the id set re-runs the candidate join once
    // more; on THIS layout that recompute is corpus-shuffle-free (the
    // bucketed table reads its bucket files), which is why the prune
    // lives here and not in #102, where the same trick would re-shuffle
    // the corpus band table to save the verify shuffle — net zero.
    // Results are identical: the verify join is an inner join on the
    // same candidate ids either way (spec-pinned #302 ≡ #102).
    val candIds = cand
      .select(explode(array(col("doc_id_l"), col("doc_id_r"))).as("doc_id"))
      .distinct()
    verifyJaccard(cand,
      allDocs.join(broadcast(candIds), Seq("doc_id"), "left_semi"), tau)
  }

  // ---- #23 SimHash -----------------------------------------------------

  /** 64-bit SimHash of the token set: bit j of the signature is the sign
    * of Σ_tokens (±1 by bit j of the token hash). Row-local: ONE codegen'd
    * SimHash64 pass over the token-id array — zero shuffle (the previous
    * explode + 64-aggregate groupBy formulation shuffled every token
    * occurrence, a corpus-sized exchange at 100 TB). */
  def simhashSignatures(docs: DataFrame): DataFrame =
    spread(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"), simHash64(tokenSetIds(col("text"), 1)).as("sig"))

  /** Near-dup pairs with hamming(sig_a, sig_b) ≤ maxHamming (≤ 3).
    * Blocking: Manku et al.'s multi-block keys (WWW'07, "Detecting
    * near-duplicates for web crawling", §3) — see [[signatureChunks]]. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    hammingPairs(simhashSignatures(docs), maxHamming)

  /** #169 SimHash with ENGINE-PORTABLE ingredients (the
    * minhashPortablePairs symmetry): token ids are the first 15 md5 hex
    * chars as a 60-bit integer — derivable exactly in any engine (the
    * top 4 bits of every id are 0, so signature bits 60–63 vote −n and
    * stay 0 in both engines; 15 hex keeps the id inside BIGINT/long).
    * The signature is the SAME codegen'd [[simHash64]] expression and
    * the pair mining the SAME [[hammingPairs]] blocking join, so the
    * generated DuckDB oracle (60 vote aggregates + the chunk join,
    * rebuilt from the same rule) VALUE-checks the SimHash machinery end
    * to end; the production path stays [[simhashPairs]] (xxhash64 ids —
    * faster, engine-native, rows-only). */
  def simhashPortablePairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // codegen'd md5 token ids (minhashPortablePairs doc); conv of ≤15 hex
    // chars never nulls, so the old array_compact was a no-op
    val sigs = spread(docs.select(col("doc_id"), col("text")), "doc_id")
      .select(col("doc_id"),
        simHash64(graft.functions.VectorFunctions.tokenMd5Ids(col("text"), 15))
          .as("sig"))
    hammingPairs(sigs, maxHamming)
  }

  /** Near-dup pairs over ANY 64-bit signature table (doc_id, sig) —
    * shared by the text SimHash path and the multimodal perceptual-hash
    * path; the chunk-blocking argument only needs the signature to be 64
    * bits, not how it was computed. */
  def hammingPairs(sigs: DataFrame, maxHamming: Int = 3): DataFrame =
    docPairsOf(sigs,
      sigPairsOf(signatureChunks(sigs.select(col("sig")).distinct()), maxHamming))
      .orderBy(col("doc_a"), col("doc_b"))

  /** 64 = 4×11 + 2×10: six blocks, so ≤3 differing bits always leave ≥3
    * blocks untouched. */
  private val BlockOffsets = Array(0, 11, 22, 33, 44, 54)
  private val BlockWidths = Array(11, 11, 11, 11, 10, 10)

  /** The blocking table for [[sigPairsOf]]: one row per (UNIQUE
    * signature, block key), schema (sig, cid, cval).
    *
    * Two design decisions carry the hamming mining to 100 TB, both
    * measured at the 100× probe (500k docs):
    *
    * SIGNATURE GRAIN, not doc grain (the er_fuzzy_parts discipline —
    * collapse to the similarity key's grain BEFORE the quadratic step):
    * this corpus, like every real one, has equal-signature families
    * (token-set-equal docs — one 248-doc family per 5k docs here), and a
    * doc-grain blocking join pays |family|²·keys candidate rows per
    * family (measured 19.6 GB spill at 100×) for pairs the OUTPUT
    * expansion can produce with two cheap joins. At signature grain a
    * family is ONE row; candidates scale with unique-signature
    * similarity structure, never with duplication.
    *
    * Keys are Manku-style 3-of-6 block concatenations (WWW'07, 20 per
    * signature): the 64-bit signature splits into 6 blocks (4×11 +
    * 2×10); a pair within hamming ≤ 3 has its differing bits in ≤3
    * blocks, so ≥3 blocks are untouched and the pair shares the key of
    * that 3-block combination — exact recall by pigeonhole, like a
    * 4×16 single-chunk scheme, but through ~32-bit keys: random
    * collisions stay ~U²·20/2^33 (U = unique signatures — negligible
    * into the billions) where 16-bit chunk keys go quadratic once
    * U ≫ 65k (measured 5.2 GB spill / 1.1 GB shuffle at the same
    * probe even BEFORE the family effect).
    *
    * Exposed so the table can be PERSISTED BUCKETED by the join keys
    * (cid, cval) (the #294 storage-layout discipline applied to the
    * hamming side): two scans of the same bucketed table then satisfy
    * the self-join's clustering with NO Exchange. Both keys must be
    * bucket keys: Spark's default requireAllClusterKeysForCoPartition
    * rejects a bucket-key subset. */
  def signatureChunks(uniqSigs: DataFrame): DataFrame = {
    def block(i: Int) =
      shiftright(col("sig"), BlockOffsets(i)).bitwiseAND((1L << BlockWidths(i)) - 1)
    val combos = (0 until 6).combinations(3).toSeq
    uniqSigs.withColumn("chunk", explode(array(
      combos.zipWithIndex.map { case (c, idx) =>
        val Seq(i, j, k) = c.toSeq
        val cval = shiftleft(block(i), BlockWidths(j) + BlockWidths(k))
          .bitwiseOR(shiftleft(block(j), BlockWidths(k)))
          .bitwiseOR(block(k))
        struct(lit(idx).as("cid"), cval.as("cval"))
      }: _*)))
      .select(col("sig"), col("chunk.cid").as("cid"), col("chunk.cval").as("cval"))
  }

  /** Distinct UNIQUE-SIGNATURE pairs within `maxHamming`, mined from a
    * [[signatureChunks]] table (possibly persisted-bucketed): block-key
    * self-join, dedup (a sig pair can share several block keys), exact
    * bit_count verify. Output (sig_a, sig_b, hamming), sig_a < sig_b. */
  def sigPairsOf(chunked: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "3-of-6 block keys are exact only for hamming <= 3")
    val a = chunked.select(col("sig").as("sig_a"), col("cid"), col("cval"))
    val b = chunked.select(col("sig").as("sig_b"), col("cid"), col("cval"))
    a.join(b, Seq("cid", "cval"))
      .where(col("sig_a") < col("sig_b"))
      .select("sig_a", "sig_b")
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
  }

  /** Batch-append incremental hamming mining (the #102
    * minhashIncrementalPairs symmetry on the simhash axis): the pairs a
    * NEW batch adds against a resident corpus — batch×corpus plus
    * batch×batch — without re-mining the corpus against itself. Inputs
    * are (doc_id, sig) tables; at production scale the corpus side's
    * unique-signature block keys are the persisted bucketed table
    * (simhashChunkTable) and only the batch side is hashed fresh.
    *
    * Shape: the block-key join probes BATCH unique signatures against
    * the union's unique signatures (batch-linear, never corpus²); doc
    * expansion and the hamming-0 branch are batch-anchored; a final
    * membership filter drops the corpus×corpus expansions of signatures
    * shared by both sides. Equals full-mine(corpus ∪ batch) restricted
    * to pairs touching a batch doc (spec-pinned). */
  def hammingIncrementalPairs(corpus: DataFrame, batch: DataFrame,
                              maxHamming: Int = 3): DataFrame = {
    // same pigeonhole bound as sigPairsOf: 3-of-6 block keys guarantee a
    // shared key only when ≤3 of the 6 blocks differ — 4+ is silently
    // incomplete, so fail loudly like the full-mine path does
    require(maxHamming <= 3, "3-of-6 block keys are exact only for hamming <= 3")
    val all = corpus.unionByName(batch)
    val bUniq = batch.select(col("sig")).distinct()
    val aUniq = all.select(col("sig")).distinct()
    val bp = signatureChunks(bUniq).select(col("sig").as("sig_p"), col("cid"), col("cval"))
    val ap = signatureChunks(aUniq).select(col("sig").as("sig_q"), col("cid"), col("cval"))
    val sigPairs = bp.join(ap, Seq("cid", "cval"))
      .where(col("sig_p") =!= col("sig_q"))
      .select(least(col("sig_p"), col("sig_q")).as("sig_a"),
        greatest(col("sig_p"), col("sig_q")).as("sig_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .where(col("hamming") <= maxHamming)
    val cross = sigPairs
      .join(all.select(col("sig").as("sig_a"), col("doc_id").as("da")), "sig_a")
      .join(all.select(col("sig").as("sig_b"), col("doc_id").as("db")), "sig_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    // hamming-0 families, batch-anchored: a batch doc against every
    // same-signature doc (batch×batch meets twice → distinct)
    val equal = batch.select(col("sig"), col("doc_id").as("bd"))
      .join(all.select(col("sig"), col("doc_id").as("od")), "sig")
      .where(col("bd") =!= col("od"))
      .select(least(col("bd"), col("od")).as("doc_a"),
        greatest(col("bd"), col("od")).as("doc_b"),
        lit(0).cast("int").as("hamming"))
      .distinct()
    // a signature present in BOTH sides expands to corpus×corpus doc
    // pairs too — those belong to the resident mine, not this batch
    val bids = batch.select(col("doc_id"))
    val isBatchA = bids.withColumnRenamed("doc_id", "doc_a").withColumn("_ba", lit(true))
    val isBatchB = bids.withColumnRenamed("doc_id", "doc_b").withColumn("_bb", lit(true))
    cross.unionByName(equal)
      .join(isBatchA, Seq("doc_a"), "left")
      .join(isBatchB, Seq("doc_b"), "left")
      .where(col("_ba").isNotNull || col("_bb").isNotNull)
      .select(col("doc_a"), col("doc_b"), col("hamming"))
  }

  /** Expand unique-signature pairs back to doc pairs: two key joins
    * against the (doc_id, sig) table for the cross-signature pairs, one
    * sig-keyed self-join for the hamming-0 equal-signature families —
    * the OUTPUT-side quadratic (all pairs within a family are genuinely
    * in the answer) produced directly, never as join candidates. Each
    * unordered doc pair appears exactly once: a doc has one signature,
    * cross pairs inherit uniqueness from the distinct sig pairs, and
    * the equal-sig branch is doc_id-ordered. */
  def docPairsOf(sigDocs: DataFrame, sigPairs: DataFrame): DataFrame = {
    val da = sigDocs.select(col("sig").as("sig_a"), col("doc_id").as("da"))
    val db = sigDocs.select(col("sig").as("sig_b"), col("doc_id").as("db"))
    val cross = sigPairs.join(da, "sig_a").join(db, "sig_b")
      .select(least(col("da"), col("db")).as("doc_a"),
        greatest(col("da"), col("db")).as("doc_b"), col("hamming"))
    val x = sigDocs.select(col("sig"), col("doc_id").as("doc_a"))
    val y = sigDocs.select(col("sig"), col("doc_id").as("doc_b"))
    val equal = x.join(y, "sig")
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        lit(0).cast("int").as("hamming"))
    cross.unionByName(equal)
  }

  // ---- #45 dup-pair → cluster resolution (connected components) --------

  /** Resolve near-dup PAIRS into CLUSTERS: every doc appearing in a pair
    * gets the min doc_id of its connected component as `cluster_id` (the
    * canonical keep-representative). Pairs alone don't finish a dedup —
    * a corpus pipeline needs "which docs to drop", and transitive
    * near-dups (A~B, B~C) must land in one cluster even when A~C was
    * never emitted.
    *
    * Iterative min-label propagation WITH pointer jumping (path
    * doubling): each round every vertex takes the min label among itself,
    * its neighbours, and its label's label — the extra label-on-label
    * join halves the distance to the component minimum every round, so
    * convergence is O(log diameter) rounds, not O(diameter) (the same
    * asymptotic as small-star/large-star, one self-join cheaper to
    * state). A diameter-2^20 adversarial chain converges inside the
    * default maxIter=20; near-dup components are near-cliques and
    * converge in 2–3 rounds regardless. Labels only decrease and are
    * always ids within the component, so the fixpoint is the min id —
    * identical to plain propagation. `localCheckpoint` cuts the growing
    * loop lineage (at cluster scale: a reliable checkpoint dir).
    *
    * Small-graph fast path: a near-dup pair graph is tiny RELATIVE TO THE
    * CORPUS by construction (it holds only docs with a ≥τ partner), and
    * an iteration round costs a fixed number of distributed jobs — so
    * below `maxDriverEdges` (default 2^20 ≈ 16 MB of longs) the edge
    * list is collected once from its checkpoint and resolved with local
    * union-find: identical output, zero iteration rounds. The collect is
    * bounded BY THE PARAMETER, not by hope; above it the distributed
    * propagation runs. */
  def clusters(pairs: DataFrame, maxIter: Int = 20,
               maxDriverEdges: Long = 1L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // materialize the pair list ONCE: `pairs` is typically the whole
    // upstream pair-mining pipeline, and everything below re-reads it —
    // without this the full pipeline would re-execute per use
    val raw = pairs
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .pin()
    if (raw.count() <= maxDriverEdges) {
      val es = raw.as[(Long, Long)].collect()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      es.foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val minOf = scala.collection.mutable.HashMap.empty[Long, Long]
      parent.keysIterator.foreach { v =>
        val r = find(v)
        minOf(r) = math.min(minOf.getOrElse(r, v), v)
      }
      val rows = parent.keysIterator.map(v => (v, minOf(find(v)))).toSeq.sorted
      return spark.createDataset(rows).toDF("doc_id", "cluster_id").orderBy("doc_id")
    }
    val edges = raw.unionAll(raw.select(col("dst").as("src"), col("src").as("dst")))
      .pin()
    // overflow-safe monotone convergence witness: labels only ever
    // decrease, so the label sum is strictly decreasing until fixpoint —
    // one cheap aggregate per round instead of a join against the
    // previous labels
    def checksum(labels: DataFrame): java.math.BigDecimal =
      Option(labels.agg(sum(col("lbl").cast("decimal(38,0)"))).first()
        .getDecimal(0)).getOrElse(java.math.BigDecimal.ZERO) // empty graph → 0
    // round 0 fused into the init: lbl = min(id, min neighbour)
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .select(col("src").as("id"), least(col("src"), col("mn")).as("lbl"))
      .pin()
    // The label table is NODE-sized (the dup sliver) and its row count is
    // CONSTANT across iterations, while the edge side is 2|E|. Below the
    // broadcast budget, hint the label side of both per-iteration joins:
    // the alternative SMJ re-sorts the full 2|E| edge list EVERY round,
    // and those concurrent sorts are what blow a single executor's
    // execution-memory budget (measured: the 53M-edge 300× cluster build
    // OOM'd an 8 GB/32-thread JVM mid-iteration). ~24 bytes/row of
    // broadcast keeps the loop edge-sort-free; above the budget the
    // shuffle plan stands (a real cluster sizes executors to its sliver).
    val broadcastLabels = labels.count() <= 4000000L
    def labelSide(df: DataFrame): DataFrame =
      if (broadcastLabels) broadcast(df) else df
    var prevSum = checksum(labels)
    var converged = false
    var i = 0
    while (i < maxIter && !converged) {
      val msgs = edges.join(labelSide(labels), edges("src") === labels("id"))
        .select(col("dst").as("id"), col("lbl"))
      // pointer jump: id's label's label (lbl is itself a vertex id with
      // an entry in `labels`, so the self-join always resolves)
      val jumped = labels.as("a")
        .join(labelSide(labels.as("b")), col("a.lbl") === col("b.id"))
        .select(col("a.id").as("id"), col("b.lbl").as("lbl"))
      val next = labels.unionAll(msgs).unionAll(jumped)
        .groupBy("id").agg(min("lbl").as("lbl"))
        .pin()
      val s = checksum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      labels = next
      i += 1
    }
    // fail loudly rather than ship silently-truncated clusters: an
    // unconverged result would keep several "representatives" of one
    // component, which is exactly the bug dedup exists to prevent.
    // With path doubling this needs diameter > 2^maxIter — unreachable
    // for any physical corpus; kept as the invariant's backstop.
    if (!converged)
      throw new IllegalStateException(
        s"clusters: not converged after $maxIter rounds (component diameter " +
          s"exceeds 2^$maxIter?!) — raise maxIter")
    labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Per-threshold component stats over the NESTED family of threshold
    * graphs {pairs with jac ≥ τ : τ ∈ taus} — the dedup_sweep engine.
    *
    * Tighter graphs are subgraphs of looser ones, so components REFINE:
    * walk the rungs tightest-first, cluster the tightest graph once, and
    * for each looser rung cluster only the QUOTIENT graph — the rung's
    * DELTA edges (jac in [τᵢ, τᵢ₊₁)) with endpoints contracted through
    * the tighter labels, self-loops dropped, parallel edges deduped.
    * Near-dup components are near-cliques, so contraction collapses the
    * delta almost entirely (measured @100×: a 14.3M-edge delta → a few
    * thousand quotient edges): the one full clustering is the tightest
    * (smallest) graph, and every other rung costs one broadcast map-join
    * + a map-side-deduped distinct + a tiny cluster run — instead of
    * re-clustering the full rung graph per τ (4× the iterative-join
    * scheduling floor, and at 100× probe scale an OOM-class 42M-edge
    * union if fused naively).
    *
    * Label composition preserves the min-id contract: every quotient
    * node id is itself the MIN doc id of its contracted group (or a bare
    * doc id), so the quotient's min-id root is the true min doc of the
    * merged component — the labels equal an independent `clusters` run
    * per rung exactly (spec-pinned, DedupSpec).
    *
    * Returns (tau, n_components, n_dropped = members that are not their
    * component's root) per tau, ascending — only the stats, since sweep
    * consumers aggregate; labels stay distributed throughout. */
  def thresholdSweepStats(pairs: DataFrame, taus: Seq[Double],
                          maxDriverEdges: Long = 1L << 23): Seq[(Double, Long, Long)] = {
    require(taus.nonEmpty && taus.distinct.size == taus.size, s"bad taus $taus")
    val tightFirst = taus.sorted.reverse
    var labels: DataFrame = null // (doc_id, cluster_id) of the previous (tighter) rung
    var prevTau = Double.NaN
    val stats = tightFirst.map { t =>
      val delta =
        (if (prevTau.isNaN) pairs.where(col("jac") >= t)
         else pairs.where(col("jac") >= t && col("jac") < prevTau))
          .select(col("doc_a"), col("doc_b"))
      val next =
        if (labels == null) clusters(delta, maxDriverEdges = maxDriverEdges)
        else {
          // same node-budget guard as the clusters loop: the label table
          // is sliver-sized here, but an unconditional broadcast would
          // hard-fail past the broadcast limit at extreme sliver sizes —
          // above the budget the joins fall back to shuffle plans
          val nNodes = labels.count() // labels is checkpointed — cheap
          def side(df: DataFrame): DataFrame =
            if (nNodes <= 4000000L) broadcast(df) else df
          val la = side(labels).select(
            col("doc_id").as("doc_a"), col("cluster_id").as("ra"))
          val lb = side(labels).select(
            col("doc_id").as("doc_b"), col("cluster_id").as("rb"))
          // contract delta endpoints through the tighter labels (absent
          // endpoints are their own nodes); dedupe the quotient edges —
          // the map-side partial dedup is what collapses the near-clique
          val contracted = delta
            .join(la, Seq("doc_a"), "left").join(lb, Seq("doc_b"), "left")
            .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
              coalesce(col("rb"), col("doc_b")).as("doc_b"))
            .where(col("doc_a") =!= col("doc_b"))
            .distinct()
          val qlab = clusters(contracted, maxDriverEdges = maxDriverEdges)
            .pin()
          // the composition table scales with the QUOTIENT's node count
          // (the looser rung's contracted delta), not with nNodes — a
          // tiny tightest rung followed by a huge looser one would
          // otherwise broadcast an arbitrarily large qlab; guard it by
          // its own size
          val qNodes = qlab.count()
          def qside(df: DataFrame): DataFrame =
            if (qNodes <= 4000000L) broadcast(df) else df
          // delta endpoints not yet tracked join the node set as
          // themselves, then everything composes through the quotient
          val newNodes = delta.select(col("doc_a").as("doc_id"))
            .unionAll(delta.select(col("doc_b").as("doc_id"))).distinct()
            .join(labels.select(col("doc_id"), lit(true).as("seen")), Seq("doc_id"), "left")
            .where(col("seen").isNull)
            .select(col("doc_id"), col("doc_id").as("cluster_id"))
          labels.unionAll(newNodes)
            .join(qside(qlab.select(col("doc_id").as("cluster_id"),
              col("cluster_id").as("super_id"))), Seq("cluster_id"), "left")
            .select(col("doc_id"),
              coalesce(col("super_id"), col("cluster_id")).as("cluster_id"))
        }
      labels = next.pin()
      prevTau = t
      val r = labels.agg(
        countDistinct(col("cluster_id")).as("nc"),
        sum(when(col("cluster_id") =!= col("doc_id"), 1L).otherwise(0L)).as("nd"))
        .first()
      (t, if (r.isNullAt(0)) 0L else r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    stats.reverse
  }

  // ---- #25 embedding cosine via cosine-LSH buckets ---------------------

  /** Embedding near-dup pairs (cosine ≥ tau, unit-norm inputs so cosine =
    * dot). Blocking: hyperplane LSH buckets with hamming-1 multiprobe —
    * the probe side emits its bucket plus all 1-bit flips, the build side
    * only its bucket, so every pair within hamming ≤ 1 meets exactly once
    * under doc_a < doc_b. The bucket join is the only shuffle; recall is
    * probabilistic (measured in DedupSpec), precision exact. */
  def embeddingPairs(
      emb: DataFrame,
      tau: Double,
      bits: Int = 4,
      dim: Int = graft.search.QueryVectors.Dim,
      seed: Long = 42L): DataFrame = {
    val planes = graft.search.CosineLsh.planes(dim, bits, seed)
    val sig = graft.search.CosineLsh.withBucket(emb, planes)
      .select(col("vec_id"), col("embedding"), col("bucket"))
    val probes = sig.withColumn("pkey",
      explode(array(col("bucket") +: (0 until bits).map(j =>
        col("bucket").bitwiseXOR(shiftleft(lit(1L), j))): _*)))
      .select(col("vec_id").as("doc_a"), col("embedding").as("e_a"), col("pkey"))
    val build = sig.select(col("vec_id").as("doc_b"), col("embedding").as("e_b"),
      col("bucket").as("pkey"))
    probes.join(build, Seq("pkey"))
      .where(col("doc_a") < col("doc_b"))
      .withColumn("cos", round(dot(col("e_a"), col("e_b")), 6))
      .where(col("cos") >= tau)
      .select(col("doc_a"), col("doc_b"), col("cos"))
      .orderBy(col("doc_a"), col("doc_b"))
  }
}
