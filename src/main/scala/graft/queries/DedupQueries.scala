package graft.queries

import graft.operators.Pin.PinOps
import graft.Tables
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2 #21–25: the dedup suite over documents/embeddings.
  *
  * dedup_exact / dedup_jaccard carry DuckDB oracles (both engines compute
  * the identical blocking + verify pipeline). The LSH-family operators
  * (minhash / simhash / embedding) hash with engine-native xxhash64 or
  * seeded hyperplanes, so they are rows-only here; their recall/precision
  * contracts vs exact baselines live in DedupSpec, and the MinHash /
  * SimHash machineries themselves are value-checked by the
  * md5-ingredient portable twins (#163 dedup_minhash_portable and
  * #169 dedup_simhash_portable, full oracle hash-pass).
  */
object DedupQueries {

  val JaccardTau = 0.95
  val CosineTau = 0.4

  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exact(Tables.documents(s, d))

  val dedupExactSql: String =
    """SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS n
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** One mined Jaccard pair set / cluster table per sf dir, published as
    * an [[graft.ArtifactStore]] entry (per family, mining params and
    * documents stamp): dedup_jaccard, dedup_clusters and corpus_curate all
    * consume the SAME pair graph, and a real curation pipeline mines it
    * once — not once per downstream consumer (the r3 bench paid the
    * ~full pipeline 3×). The first JVM to need it mines and publishes;
    * every later JVM — including a STANDALONE consumer like a
    * corpus_release scale probe — loads the parquet. The pair set is
    * sparse (τ≥0.95), so the artifact is tiny relative to the corpus at
    * every scale. Results are identical to an inline mine: exact Jaccard
    * rounded to 6 dp is deterministic, and the gate compare is
    * row-order-insensitive. */
  def minedJaccardPairs(s: SparkSession, d: String): DataFrame =
    published(pairsStore, s, d, s"tau$JaccardTau")(
      Dedup.jaccardPairs(Tables.documents(s, d), JaccardTau))

  def minedClusters(s: SparkSession, d: String): DataFrame =
    published(clustersStore, s, d, s"tau$JaccardTau")(
      Dedup.clusters(minedJaccardPairs(s, d)))

  private val pairsStore = new graft.ArtifactStore.Family[DataFrame]("dedup-pairs", "_SUCCESS")
  private val clustersStore = new graft.ArtifactStore.Family[DataFrame]("dedup-clusters", "_SUCCESS")
  private val bandsStore = new graft.ArtifactStore.Family[DataFrame]("dedup-bands", "_SUCCESS")

  /** A documents-derived table, written once as one parquet table per
    * entry and read back (the read is the memoized value). */
  private def published(store: graft.ArtifactStore.Family[DataFrame], s: SparkSession,
                        d: String, params: String)(build: => DataFrame): DataFrame =
    store(Tables.documents(s, d), d, params)(
      build.write.mode("overwrite").parquet(_))(s.read.parquet(_))

  def dedupJaccard(s: SparkSession, d: String): DataFrame =
    minedJaccardPairs(s, d)

  /** #298 dedup_jaccard_mine: the pair-graph MINING stage itself, run
    * fresh every time (no published-artifact read, no in-JVM cache).
    *
    * With the τ=0.95 pair table published as a build artifact (r14
    * verdict #2), the registered `dedup_jaccard` row times CONSUMPTION
    * (~0.1 s — a parquet read), and on a warm workspace the
    * `setup_sec.pair_table` phase also reads the existing artifact, so
    * the corpus-linear mining term — the single heaviest build cost in
    * the dedup family — could vanish from the bench ledger entirely.
    * This row keeps it driver-visible under a stable key each round
    * (r15 verdict #6): same blocking + exact-verify pipeline, same
    * DuckDB oracle as `dedup_jaccard`, but always mined from the corpus
    * in the timed section. Production reading: this row is the
    * once-per-corpus artifact-build cost; `dedup_jaccard` is the
    * per-consumer read cost. */
  def dedupJaccardMine(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(Tables.documents(s, d), JaccardTau)

  val dedupJaccardSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
       |  FROM documents),
       |blocked AS (
       |  SELECT doc_id, ts,
       |         list_aggregate(list_apply(ts, t -> md5(t)), 'min') AS blk
       |  FROM toks)
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |       round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |             / len(list_distinct(a.ts || b.ts)), 6) AS jac
       |FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |WHERE round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |            / len(list_distinct(a.ts || b.ts)), 6) >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** 3-gram shingle Jaccard at τ=0.8: catches copied token SEQUENCES
    * (the corpus embeds deliberate near-duplicates that token-set
    * similarity cannot isolate — selectivity ~25 pairs of 125k). */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(Tables.documents(s, d), n = 3, tau = 0.8)

  val dedupNgramSql: String =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct([list_aggregate(s[i:i+2], 'string_agg', ' ') FOR i IN range(1, len(s) - 1)]) AS g
      |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents)
      |  WHERE len(s) >= 3),
      |blocked AS (
      |  SELECT doc_id, g, list_aggregate(list_apply(g, t -> md5(t)), 'min') AS blk FROM sh)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |             / len(list_distinct(a.g || b.g)), 6) AS jac
      |FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE round(CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |            / len(list_distinct(a.g || b.g)), 6) >= 0.8
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Dup-pair → cluster resolution over the exact Jaccard pairs: the
    * transitive closure a corpus dedup actually acts on (keep the min-id
    * representative per component, drop the rest). The DuckDB oracle walks
    * the same closure with a recursive CTE over the identical pair set. */
  def dedupClusters(s: SparkSession, d: String): DataFrame =
    minedClusters(s, d)

  /** ORDER-BY-free body, reusable as a CTE in composed oracles. */
  val dedupClustersBodySql: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
       |  FROM documents),
       |blocked AS (
       |  SELECT doc_id, ts,
       |         list_aggregate(list_apply(ts, t -> md5(t)), 'min') AS blk
       |  FROM toks),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |              / len(list_distinct(a.ts || b.ts)), 6) >= $JaccardTau),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e.src, r.r FROM edges e JOIN reach r ON e.dst = r.id)
       |SELECT id AS doc_id, min(r) AS cluster_id
       |FROM reach GROUP BY id""".stripMargin

  val dedupClustersSql: String = dedupClustersBodySql + "\nORDER BY doc_id"

  def dedupMinhashLsh(s: SparkSession, d: String): DataFrame =
    Dedup.minhashLshPairs(Tables.documents(s, d), JaccardTau)

  // ---- #102 incremental (batch-append) dedup ----------------------------

  /** The registered query's corpus/batch split: deterministic 90/10 by
    * doc_id — the "yesterday's corpus" vs "today's batch" shape. */
  private def corpusOf(docs: DataFrame) = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
  private def batchOf(docs: DataFrame) = docs.where(pmod(col("doc_id"), lit(10)) === 0)

  /** Band geometry the persisted table was mined with — it names the
    * entry (like the Pq/IvfPq entries carry sub/k/nl) so a change to the
    * minhash parameters can NEVER load a stale table of mismatched
    * signatures from a previous JVM's publish. Must match the
    * Dedup.minhashBands call below. */
  private[graft] val BandGeom = (4, 8, 42L, 4) // (bands, rows, seed, subRows)

  /** The corpus's banded-signature table, published once per (sf dir,
    * documents stamp) like the pair table: every later JVM (and every
    * later "daily batch") loads the parquet instead of re-hashing the
    * corpus. At cluster scale this is a warehouse table the ingest
    * pipeline appends each batch's rows to. */
  def corpusBands(s: SparkSession, d: String): DataFrame = {
    val (nb, nr, sd, sub) = BandGeom
    published(bandsStore, s, d, s"b$nb-r$nr-s$sd-sub$sub")(
      Dedup.minhashBands(corpusOf(Tables.documents(s, d)),
        bands = nb, rows = nr, seed = sd, subRows = sub))
  }

  /** #102 incremental dedup: the batch's near-dup pairs (batch×corpus and
    * batch×batch) mined against the PERSISTED corpus band table — the
    * corpus text is never re-hashed (Dedup.minhashIncrementalPairs doc;
    * union-equivalence vs the full mine asserted in DedupSpec). Rows-only
    * like dedup_minhash_lsh (engine-native xxhash64 signatures). */
  def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.minhashIncrementalPairs(docs, corpusBands(s, d), batchOf(docs), JaccardTau)
  }

  /** The corpus band table PERSISTED BUCKETED by the (band, key) join
    * keys (r16 verdict #8: the #294/#299 storage-layout discipline
    * extended to the banded-minhash side — the last LSH join whose
    * persisted state still re-shuffled per mine). Bucket count sized to
    * the exploded volume (BandGeom's `bands` rows per doc — the
    * bucketed_join rule), clamped like the simhash chunk table. Written
    * once per sf dir from the SAME published corpusBands artifact every
    * consumer reads — identical rows, co-located layout. */
  private val minhashBandTableCache = new graft.ArtifactStore.Memo[String]

  private[graft] def minhashBandTable(s: SparkSession, d: String): String =
    minhashBandTableCache(d, Tables.sourceMtime(d, "documents")) {
      val key = d.replaceAll("[^A-Za-z0-9]", "_")
      val nb = BandGeom._1
      val n = Tables.rowCount(s, d, "documents") * nb // `bands` rows per doc
      val buckets = graft.sources.Bucketing.pickBuckets(s, n)
      val tbl = s"graft_b${buckets}_minhash_bands_$key"
      // a regenerated corpus can change the row count and so the bucket
      // count — GC any previous generation before publishing this one
      graft.sources.Bucketing.dropSiblings(s, s"minhash_bands_$key", tbl)
      // bucket by BOTH join keys (requireAllClusterKeysForCoPartition)
      graft.sources.Bucketing.writeBucketed(
        corpusBands(s, d), tbl, Seq("band", "key"), buckets)
      tbl
    }

  /** #302 dedup_minhash_bucketed: #102's batch mine with the corpus band
    * table CO-LOCATED — the batch's bands are exchanged into the
    * persisted table's (band, key) bucketing and the corpus side reads
    * its bucket files directly, NO Exchange at or below the join on the
    * corpus side (PlanSpec pins it). At 100 TB the plain incremental
    * mine re-shuffles the corpus band table whenever the daily batch
    * outgrows the broadcast threshold; here that shuffle happened once
    * at ingest. Output ≡ dedup_incremental #102 under the
    * no-oversized-bucket premise (no band key shared by > maxBucket
    * docs — holds at gate scale, where the equality is spec-pinned;
    * #102's refineOversized re-key stays the production answer to a
    * degenerate key, because re-keying breaks co-location — a
    * deployment of THIS layout bounds family size upstream, e.g. the
    * dedup_exact pre-collapse, or sub-blocks within buckets on the
    * persisted `subkey`). Rows-only like #102 (engine-native xxhash64
    * band keys). */
  def dedupMinhashBucketed(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val (nb, nr, sd, sub) = BandGeom
    Dedup.minhashIncrementalPairsBucketed(docs,
      s.table(minhashBandTable(s, d)),
      Dedup.minhashBands(batchOf(docs), nb, nr, sd, sub), JaccardTau)
  }

  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 3)

  /** #300 dedup_simhash_inc: batch-append simhash dedup (the #102
    * dedup_incremental symmetry on the hamming axis, completing the
    * incremental-maintenance set: minhash #102, vectors #112/#115,
    * semantic #159, simhash here): the last 10% of the id book (the
    * daily batch) mines its near-dup pairs against the resident 90%
    * plus itself — batch-linear block-key probe, never corpus² — via
    * Dedup.hammingIncrementalPairs. append(A,B) ≡ full-mine(A∪B)
    * restricted to batch-touching pairs is spec-pinned (DedupSpec).
    * Rows-only like #23 (engine-native xxhash64 signatures). */
  def dedupSimhashInc(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    Dedup.hammingIncrementalPairs(
      Dedup.simhashSignatures(corpusOf(docs)),
      Dedup.simhashSignatures(batchOf(docs)), maxHamming = 3)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The simhash UNIQUE-SIGNATURE block-key table PERSISTED BUCKETED by
    * the join keys (r15 verdict #7: the #294 storage-layout discipline
    * applied to the hamming side), written once per sf dir like the
    * relational bucketed tables. Bucket count sized to the table's upper
    * bound (20 block-key rows per unique signature ≤ 20 per doc — the
    * bucketed_join rule on the exploded volume). */
  private val simhashChunkCache = new graft.ArtifactStore.Memo[String]

  private[graft] def simhashChunkTable(s: SparkSession, d: String): String =
    simhashChunkCache(d, Tables.sourceMtime(d, "documents")) {
      val key = d.replaceAll("[^A-Za-z0-9]", "_")
      val docs = Tables.documents(s, d)
      val n = Tables.rowCount(s, d, "documents") * 20 // ≤ 20 block keys/doc
      val buckets = graft.sources.Bucketing.pickBuckets(s, n)
      val tbl = s"graft_b${buckets}_simhash_chunks_$key"
      // GC any previous bucket-count generation (see minhashBandTable)
      graft.sources.Bucketing.dropSiblings(s, s"simhash_chunks_$key", tbl)
      // bucket by BOTH join keys: the default
      // requireAllClusterKeysForCoPartition rejects a bucket-key subset
      graft.sources.Bucketing.writeBucketed(
        Dedup.signatureChunks(
          Dedup.simhashSignatures(docs).select(col("sig")).distinct()), tbl,
        Seq("cid", "cval"), buckets)
      tbl
    }

  /** #299 dedup_simhash_bucketed: #23's pair mining with the blocking
    * join CO-LOCATED — both sides of the unique-signature hamming
    * self-join read the persisted (cid, cval)-bucketed block-key table,
    * whose HashPartitioning matches the join's clustering exactly, so
    * the planner inserts NO Exchange at or below the join (PlanSpec pins
    * it). At 100 TB the blocking join's shuffle of the 20×-unique-sigs
    * key table IS the mining cost; signatures land bucketed at ingest
    * and every later mining pass (any hamming radius ≤3 reuses the SAME
    * table) joins shuffle-free; the doc expansion re-derives (doc_id,
    * sig) in one row-local scan. Output ≡ #23 exactly (spec-pinned);
    * rows-only like #23 (engine-native xxhash64 signatures). */
  def dedupSimhashBucketed(s: SparkSession, d: String): DataFrame = {
    val sigDocs = Dedup.simhashSignatures(Tables.documents(s, d))
    Dedup.docPairsOf(sigDocs,
      Dedup.sigPairsOf(s.table(simhashChunkTable(s, d)), maxHamming = 3))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** #25 dedup_embedding: the production cosine-LSH mining entry. Plane
    * count sized to the corpus (pickBits keeps ~64 vectors per bucket):
    * at FIXED bits the per-bucket occupancy — and so the candidate-pair
    * count — grows quadratically with the corpus (measured: the 4-bit
    * pinned twin probes 11.4× at 10×), while pickBits holds occupancy
    * constant for a linear-with-log-factor candidate volume at 100 TB.
    * Value-checked by the pinned-geometry hash-pass twin #297. */
  def dedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    Dedup.embeddingPairs(e, CosineTau,
      bits = graft.search.CosineLsh.pickBits(Tables.rowCount(s, d, "embeddings")))
  }

  /** #100 dedup report: the cluster-size distribution + drop accounting a
    * dedup run publishes (what fraction of the corpus is duplicate mass,
    * and whether it sits in many small clusters or a few megaclusters —
    * the number that decides if near-dedup is worth its cost). Singleton
    * docs (absent from the pair graph) count as size-1 clusters so the
    * report conserves the corpus: Σ n_docs = |documents|. Reuses the ONE
    * shared mining pass (minedClusters, keyed by sf dir) — this is a
    * two-aggregate postscript on it, not a second mine. */
  def dedupReport(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val cl = minedClusters(s, d)
    docs.join(cl, Seq("doc_id"), "left")
      .select(coalesce(col("cluster_id"), col("doc_id")).as("cid"))
      .groupBy("cid").agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("sz")).as("n_docs"),
        sum(col("sz") - 1).as("n_dropped"))
      .orderBy("cluster_size")
  }

  val dedupReportSql: String =
    s"""WITH cl AS ($dedupClustersBodySql),
       |assigned AS (
       |  SELECT coalesce(cl.cluster_id, d.doc_id) AS cid
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
       |sizes AS (SELECT cid, count(*) AS sz FROM assigned GROUP BY cid)
       |SELECT CAST(sz AS BIGINT) AS cluster_size,
       |  count(*) AS n_clusters,
       |  CAST(sum(sz) AS BIGINT) AS n_docs,
       |  CAST(sum(sz - 1) AS BIGINT) AS n_dropped
       |FROM sizes GROUP BY sz ORDER BY cluster_size""".stripMargin

  /** #130 dedup_canonical: best-quality canonical selection per dup
    * cluster — the curation refinement of the min-id keep-list (when
    * near-duplicates differ in quality, keep the BEST copy, not the
    * lowest id; the keep-list corpus_curate consumes is then
    * quality-optimal). One row per cluster (singletons included — the
    * full keep-list artifact): the shared mined cluster table LEFT-joins
    * the corpus (absent docs are their own cluster), quality rides the
    * scan-only TextAnalysis pipeline, and the per-cluster argmax is a
    * row_number window over the cluster partition — never a global sort.
    * Ties at equal quality break on doc_id (round-before-rank: quality
    * is already 6 dp). */
  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, d)
    val q = graft.text.TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("quality_score"))
    val member = docs.select(col("doc_id"))
      .join(minedClusters(s, d), Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val byCluster = Window.partitionBy("cluster_id")
    member.join(q, "doc_id")
      .withColumn("rk", row_number().over(
        byCluster.orderBy(desc("quality_score"), col("doc_id"))))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .where(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_doc_id"),
        col("n_members"), col("quality_score").as("best_quality"))
      .orderBy("cluster_id")
  }

  val dedupCanonicalSql: String =
    s"""WITH q AS (${TextQueries.textQualityBodySql}),
       |cl AS ($dedupClustersBodySql),
       |mem AS (
       |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN cl ON d.doc_id = cl.doc_id),
       |r AS (
       |  SELECT mem.cluster_id, mem.doc_id, q.quality_score,
       |    row_number() OVER (PARTITION BY mem.cluster_id
       |                       ORDER BY q.quality_score DESC, mem.doc_id) AS rk,
       |    count(*) OVER (PARTITION BY mem.cluster_id) AS n_members
       |  FROM mem JOIN q ON mem.doc_id = q.doc_id)
       |SELECT cluster_id, doc_id AS canonical_doc_id, n_members,
       |  quality_score AS best_quality
       |FROM r WHERE rk = 1 ORDER BY cluster_id""".stripMargin

  /** #157 dedup_semantic: the SemDeDup curation decision (Abbas et al.
    * 2023) — k-means-cluster-bounded cosine components over the
    * embedding corpus, one kept representative per component (the
    * member least similar to its centroid, the paper's rule). Differs
    * from dedup_embedding (#25): that mines the pair graph via LSH;
    * this emits the per-vector KEEP-LIST a training run applies.
    * Rows-only: k-means geometry is engine-specific; planted-geometry
    * exactness + keep-rule + determinism spec-pinned (SemDedupSpec). */
  def dedupSemantic(s: SparkSession, d: String): DataFrame =
    graft.dedup.SemDedup.semanticDedup(Tables.embeddings(s, d), CosineTau)

  /** #172 sample_cluster_balance: cluster-BALANCED sampling (the
    * DataComp/LAION curation rule — SemDedup.balancedKeep doc): k-means
    * assign, water-filling cap over the k-row size table, deterministic
    * min-md5 realization per cluster. Budget = half the corpus.
    * Rows-only (k-means geometry); cap law, budget, minimality,
    * determinism spec-pinned (SemDedupSpec). */
  val BalanceBudgetFrac = 0.5

  def sampleClusterBalance(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val model = graft.search.Ivf.build(
      emb, graft.dedup.SemDedup.pickK(Tables.rowCount(s, d, "embeddings")),
      seed = 42L)
    graft.dedup.SemDedup
      .balancedKeep(graft.dedup.SemDedup.assignWith(model, emb), BalanceBudgetFrac)
      .orderBy("vec_id")
  }

  /** Resident state of dedup_semantic_inc: the incremental entry times
    * batch maintenance against a PRE-EXISTING corpus's frozen quantizer,
    * so the resident KMeans fit is an [[graft.ArtifactStore]] entry (the
    * Ivf.cached shape): a new JVM against an unchanged corpus loads the
    * fit instead of re-running KMeans — same params, deterministic seed,
    * same model. */
  private val semresStore = new graft.ArtifactStore.Family[graft.search.IvfModel](
    "ivf-semres", "data/_SUCCESS", "centroids/_SUCCESS")

  /** #159 dedup_semantic_inc: incremental maintenance of the SemDeDup
    * keep-list — the batch (vec_id % 10 == 0, the dedup_incremental
    * split) assigns to the RESIDENT corpus's frozen quantizer and only
    * the touched clusters' verdicts recompute; untouched clusters pass
    * through byte-identical. Equivalence with the frozen-model full run
    * and keep-slot revocation are spec-pinned (SemDedupSpec). Rows-only
    * (k-means geometry). */
  def dedupSemanticInc(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val batch = emb.where(pmod(col("vec_id"), lit(10)) === 0)
    val resident = emb.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val model = semresStore(resident, d)(path =>
      graft.search.Ivf.build(resident, graft.dedup.SemDedup.pickK(resident.count()))
        .write(path))(graft.search.Ivf.load(s, _))
    val rv = graft.dedup.SemDedup.verdictFor(
      graft.dedup.SemDedup.assignWith(model, resident), CosineTau)
    graft.dedup.SemDedup.appendVerdict(model, resident, rv, batch, CosineTau)
      .orderBy("vec_id")
  }

  /** #163 dedup_minhash_portable: the banded MinHash-LSH pipeline with
    * engine-portable hash ingredients (md5-derived token ids, literal
    * '_'-joined band keys — Dedup.minhashPortablePairs doc), so the
    * DuckDB oracle rebuilds the IDENTICAL 32-perm signatures, band
    * collisions and exact verify, value-checking the LSH machinery —
    * including the codegen'd MinHashSignature expression — end to end.
    * The production operator stays dedup_minhash_lsh (xxhash64, faster,
    * rows-only); this twin is the correctness witness for its mechanics. */
  def dedupMinhashPortable(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPortablePairs(Tables.documents(s, d), JaccardTau)

  /** The oracle is GENERATED from the same (bands × rows, seed)
    * permutation constants the Spark side uses — one source of truth. */
  def dedupMinhashPortableSql: String = {
    val (bands, rows, seed) = (4, 8, 42L)
    val params = Dedup.minhashParams(bands * rows, seed)
    val p = 2147483647L
    // mh_j = min over token ids x of (a_j * (x mod p) + b_j) mod p;
    // ids are the first 12 md5 hex chars parsed digit-by-digit (exact in
    // doubles: < 2^48), matching Spark's conv(substr(md5,1,12),16,10)
    val mhs = params.zipWithIndex.map { case ((a, b), j) =>
      s"list_min(list_transform(xs, x -> ($a * (x % $p) + $b) % $p)) AS mh$j"
    }.mkString(",\n|    ")
    val bandSelects = (0 until bands).map { bd =>
      val cols = (bd * rows until (bd + 1) * rows).map("mh" + _).mkString(", ")
      s"SELECT doc_id, $bd AS band, concat_ws('_', $cols) AS key FROM sigs"
    }.mkString("\n|  UNION ALL ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
       |  FROM documents),
       |ids AS (
       |  SELECT doc_id, list_transform(ts, t ->
       |    CAST(list_sum(list_transform(range(1, 13), i ->
       |      (strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1)
       |        * pow(16.0, 12 - i))) AS BIGINT)) AS xs
       |  FROM toks),
       |sigs AS (
       |  SELECT doc_id,
       |    $mhs
       |  FROM ids),
       |bands AS (
       |  $bandSelects),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b,
       |  round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
       |        / len(list_distinct(ta.ts || tb.ts)), 6) AS jac
       |FROM cand c
       |JOIN toks ta ON c.doc_a = ta.doc_id
       |JOIN toks tb ON c.doc_b = tb.doc_id
       |WHERE round(CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
       |            / len(list_distinct(ta.ts || tb.ts)), 6) >= $JaccardTau
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** #169 dedup_simhash_portable: the SimHash near-dup pipeline with
    * engine-portable ingredients (Dedup.simhashPortablePairs doc) — the
    * generated DuckDB oracle rebuilds the identical 60-bit signatures
    * (one ±1 vote aggregate per bit) and mines pairs through its own
    * exact hamming blocking (16-bit chunks — any exact blocking yields
    * the same pair set as the engine's 3-of-6 block keys), value-checking
    * the codegen'd SimHash64 expression and the shared hammingPairs
    * machinery end to end. Production stays #23. */
  def dedupSimhashPortable(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPortablePairs(Tables.documents(s, d), maxHamming = 3)

  val dedupSimhashPortableSql: String = {
    val hexp = "CAST(list_sum(list_transform(range(1, 16), i -> " +
      "CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT) " +
      "<< (4 * (15 - i)))) AS BIGINT)"
    val votes = (0 until 60).map(b =>
      s"sum(CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS v$b").mkString(",\n|    ")
    val sigexpr = (0 until 60).map(b =>
      s"(CASE WHEN v$b > 0 THEN 1::BIGINT << $b ELSE 0::BIGINT END)").mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
       |  FROM documents),
       |ids AS (SELECT doc_id, unnest(list_transform(ts, t -> $hexp)) AS h FROM toks),
       |votes AS (
       |  SELECT doc_id,
       |    $votes
       |  FROM ids GROUP BY doc_id),
       |sigs AS (SELECT doc_id, $sigexpr AS sig FROM votes),
       |chunks AS (
       |  SELECT doc_id, sig, u.i AS cid, (sig >> (u.i * 16)) & 65535 AS cval
       |  FROM sigs, (SELECT unnest([0, 1, 2, 3]) AS i) u),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
       |  FROM chunks a JOIN chunks b
       |    ON a.cid = b.cid AND a.cval = b.cval AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2, 3, 4)
       |SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** #297 dedup_embedding_portable: the cosine-LSH embedding near-dup
    * pipeline with ENGINE-PORTABLE ingredients — the correctness witness
    * for #25's machinery (the #163/#169 discipline applied to the one
    * LSH pipeline that lacked a hash-pass twin). Unlike MinHash/SimHash,
    * whose production pipelines hash with non-replayable xxhash64, every
    * cosine-LSH ingredient is replayable once the seeded hyperplanes are
    * rendered as literals: the generated DuckDB oracle re-derives the
    * IDENTICAL packed-sign-bit buckets (per-plane double dot against the
    * same plane values — float→double is exact, both engines accumulate
    * doubles in index order), replays the hamming-1 multiprobe bucket
    * join (probe side emits bucket + all 1-bit flips, build side its
    * bucket only, `doc_a < doc_b` — every hamming ≤ 1 pair meets exactly
    * once), and applies the same exact-cosine ≥ τ verify at 6 dp. The
    * twin therefore value-checks the codegen'd HyperplaneSignature
    * expression, the multiprobe geometry and the DotProductF32 verify
    * end to end — and at gate scale it IS #25's plan (pickBits resolves
    * to the same 4 bits below ~1.4k vectors, spec-pinned equality), so
    * the hash-pass certifies dedup_embedding's own output too. #25 stays
    * the production entry whose geometry scales with the corpus
    * (pickBits) without breaking this pinned oracle; the twin's fixed
    * 4-bit geometry is deliberately quadratic-at-scale and never leaves
    * the gate.
    * Reference slot: the embedding-similarity dedup a curation run
    * applies at 100 TB (SemDeDup-family, Abbas et al. 2023 §3; reference
    * eval/oracle.py:36's exact cosine is the verify primitive). */
  def dedupEmbeddingPortable(s: SparkSession, d: String): DataFrame =
    Dedup.embeddingPairs(Tables.embeddings(s, d), CosineTau)

  /** GENERATED from the same seeded gaussian planes the Spark plan uses
    * (CosineLsh.planes(Dim, 4, 42) rendered via QueryVectors.sqlLit —
    * one source of truth, the vec_topk query-vector discipline). */
  def dedupEmbeddingPortableSql: String = {
    val bits = 4
    val planes = graft.search.CosineLsh.planes(
      graft.search.QueryVectors.Dim, bits, seed = 42L)
    val sigTerms = planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN list_dot_product(e, ${graft.search.QueryVectors.sqlLit(p)}) > 0" +
        s" THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n|      + ")
    val probeList =
      ("bucket" +: (0 until bits).map(j => s"xor(bucket, ${1L << j})")).mkString(", ")
    s"""WITH emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |sigs AS (
       |  SELECT vec_id, e,
       |    $sigTerms AS bucket
       |  FROM emb),
       |probes AS (
       |  SELECT vec_id AS doc_a, e AS e_a,
       |    unnest([$probeList]) AS pkey
       |  FROM sigs),
       |build AS (SELECT vec_id AS doc_b, e AS e_b, bucket AS pkey FROM sigs)
       |SELECT doc_a, doc_b, round(list_dot_product(e_a, e_b), 6) AS cos
       |FROM probes JOIN build USING (pkey)
       |WHERE doc_a < doc_b
       |  AND round(list_dot_product(e_a, e_b), 6) >= $CosineTau
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  /** #301 dedup_semantic_portable: the SemDeDup pipeline with PINNED
    * engine-portable geometry — the correctness witness for #157's
    * machinery (the #163/#169/#297 discipline applied to the last major
    * dedup family without a hash-pass twin, r16 verdict #2). #157's only
    * non-replayable ingredient is the TRAINED k-means model; everything
    * downstream — max-dot assignment, centroid cosine, within-cluster
    * ≥τ pair search, connected components, the least-centroid-similar
    * keep rule — is exact arithmetic both engines reproduce. So the twin
    * FREEZES the model: [[SemPortableK]] seeded unit gaussian centroids
    * (k == SemDedup.pickK(gate N), spec-pinned, so the cluster geometry
    * the machinery runs under is exactly #157's at gate scale) wrapped
    * in an IvfModel and pushed through SemDedup.assignWith/verdictFor —
    * the IDENTICAL code path #157 runs, down to the codegen'd
    * ArgMaxDotF32/DotProductF32 expressions and Dedup.clusters' pointer
    * jumping. The generated DuckDB oracle renders the SAME raw-centroid
    * literals into the argmax (strict-max, earliest-index tie — the
    * expression's `>` semantics), the SAME unit-normalized literals into
    * centroid_cos (assignWith renormalizes via unitCentroids; both
    * float arrays are rendered from the one Scala source of truth), and
    * replays pairs + components (the dedup_clusters recursive CTE) + the
    * keep window. Both engines accumulate doubles in index order
    * (float→double is exact — the #297 argument), so assignment,
    * cosines, components and verdicts hash-match end to end. #157 stays
    * the production entry (learned centroids track the corpus); this
    * twin's frozen model is deliberately geometry-blind and never
    * leaves the gate.
    * Reference slot: SemDeDup (Abbas et al. 2023, arXiv:2303.09540);
    * the verify primitive is reference eval/oracle.py:36's exact
    * cosine. */
  val SemPortableK = 23 // == SemDedup.pickK(500), the sf0.01 gate corpus

  /** Seeded gaussian centroids, unit-normalized in DOUBLE then stored as
    * float — the raw model centroids. assignWith's unitCentroids pass
    * renormalizes these (float norm ≈ 1 but not exactly 1), so the
    * oracle renders BOTH arrays; see [[dedupSemanticPortableSql]]. */
  private[graft] lazy val semPortableCentroids: Array[Array[Float]] =
    graft.search.QueryVectors.seededUnitRows(
      SemPortableK, graft.search.QueryVectors.Dim)

  def dedupSemanticPortable(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val model = graft.search.IvfModel(semPortableCentroids, emb)
    graft.dedup.SemDedup.verdictFor(
      graft.dedup.SemDedup.assignWith(model, emb), CosineTau)
      .orderBy("vec_id")
  }

  /** GENERATED from the same centroid arrays the Spark plan uses (raw
    * for assignment, unitCentroids for centroid_cos — one source of
    * truth, the #297 sqlLit discipline). */
  def dedupSemanticPortableSql: String = {
    import graft.search.QueryVectors.{sqlValues => vals}
    val raw = semPortableCentroids
    val unit = graft.dedup.SemDedup.unitCentroids(
      graft.search.IvfModel(raw, null))
    s"""WITH RECURSIVE emb AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cents(cid, c) AS (VALUES
       |    ${vals(raw)}),
       |ucents(cid, uc) AS (VALUES
       |    ${vals(unit)}),
       |dots AS (
       |  SELECT m.vec_id, m.e, c.cid, list_dot_product(m.e, c.c) AS d
       |  FROM emb m CROSS JOIN cents c),
       |assigned AS (
       |  SELECT vec_id, e, cid AS list_id FROM (
       |    SELECT vec_id, e, cid,
       |      row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, cid ASC) AS rk
       |    FROM dots) WHERE rk = 1),
       |acos AS (
       |  SELECT a.vec_id, a.e, a.list_id,
       |    round(list_dot_product(a.e, u.uc), 6) AS centroid_cos
       |  FROM assigned a JOIN ucents u ON a.list_id = u.cid),
       |pairs AS (
       |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
       |  FROM acos a JOIN acos b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.e, b.e), 6) >= $CosineTau),
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT e2.src, r.r FROM edges e2 JOIN reach r ON e2.dst = r.id),
       |comps AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT a.vec_id, a.list_id, a.centroid_cos,
       |  coalesce(c.cluster_id, a.vec_id) AS sem_group,
       |  (row_number() OVER (PARTITION BY coalesce(c.cluster_id, a.vec_id)
       |                      ORDER BY a.centroid_cos ASC, a.vec_id ASC) = 1) AS kept
       |FROM acos a LEFT JOIN comps c ON a.vec_id = c.id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** #307 dedup_semantic_inc_portable: the INCREMENTAL SemDeDup
    * maintenance (#159's appendVerdict — frozen-quantizer assignment,
    * touched-cluster recompute, untouched-verdict passthrough, keep-slot
    * revocation) under the PINNED #301 model, hash-checked against the
    * SAME independent DuckDB replay: because verdicts never cross
    * cluster boundaries, append(resident, batch) under a frozen model
    * equals the full verdict over the union (SemDedupSpec pins this for
    * trained models), so [[dedupSemanticPortableSql]] — which replays
    * the full pipeline from literals with no knowledge of the split —
    * is this row's oracle too. A bug anywhere in the incremental merge
    * (a cluster recomputed that shouldn't be, a stale verdict carried,
    * a revocation missed) lands as a hash mismatch against an oracle
    * that never saw the incremental path. Same 90/10 split as #159. */
  def dedupSemanticIncPortable(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val batch = e.where(pmod(col("vec_id"), lit(10)) === 0)
    val resident = e.where(pmod(col("vec_id"), lit(10)) =!= 0)
    val model = graft.search.IvfModel(semPortableCentroids, e)
    val rv = graft.dedup.SemDedup.verdictFor(
      graft.dedup.SemDedup.assignWith(model, resident), CosineTau)
    graft.dedup.SemDedup.appendVerdict(model, resident, rv, batch, CosineTau)
      .orderBy("vec_id")
  }

  /** #306 sample_balance_portable: the cluster-balanced sampling
    * decision (#172) with PINNED geometry — the water-filling cap law's
    * hash-pass witness, completing the k-means family's witness sweep
    * (#301 semantic dedup, #303 IVF, here the curation sampler): the
    * SAME [[semPortableCentroids]] frozen quantizer (pickK(gate N)
    * geometry) through the IDENTICAL SemDedup.assignWith/balancedKeep
    * path — argmax assignment, k-row size table, minimal integer cap
    * with Σ min(sᵢ, c) ≥ ⌈N/2⌉, min-md5(vec_id) realization per
    * cluster. The generated DuckDB oracle replays assignment (the #301
    * CTE), derives the cap by scanning candidate caps against the same
    * inequality (the binary search's fixpoint, not its path — same
    * minimal c), and realizes with the same md5-of-decimal-string
    * ordering. #172 stays the production entry (learned clusters track
    * the corpus). Reference slot: DataComp/LAION cluster-balanced
    * curation; the md5 realization is the sample_* family's
    * engine-portable rule. */
  def sampleBalancePortable(s: SparkSession, d: String): DataFrame = {
    val e = Tables.embeddings(s, d)
    val model = graft.search.IvfModel(semPortableCentroids, e)
    graft.dedup.SemDedup.balancedKeep(
      graft.dedup.SemDedup.assignWith(model, e), BalanceBudgetFrac)
      .orderBy("vec_id")
  }

  def sampleBalancePortableSql: String = {
    val cents = graft.search.QueryVectors.sqlValues(semPortableCentroids)
    s"""WITH emb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
       |cents(cid, cv) AS (VALUES
       |  $cents),
       |assigned AS (
       |  SELECT vec_id, cid AS list_id FROM (
       |    SELECT m.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY m.vec_id
       |        ORDER BY list_dot_product(m.e, c.cv) DESC, c.cid ASC) AS rk
       |    FROM emb m CROSS JOIN cents c) WHERE rk = 1),
       |sizes AS (SELECT list_id, count(*) AS cnt FROM assigned GROUP BY list_id),
       |budget AS (
       |  SELECT CAST(ceil(count(*) * $BalanceBudgetFrac) AS BIGINT) AS b
       |  FROM assigned),
       |cands AS (
       |  SELECT DISTINCT unnest(generate_series(1, cnt)) AS c FROM sizes),
       |cap AS (
       |  SELECT c FROM cands
       |  WHERE (SELECT sum(least(cnt, c)) FROM sizes) >= (SELECT b FROM budget)
       |  ORDER BY c LIMIT 1)
       |SELECT a.vec_id, a.list_id,
       |  (row_number() OVER (PARTITION BY a.list_id
       |     ORDER BY md5(CAST(a.vec_id AS VARCHAR)), a.vec_id)
       |   <= (SELECT c FROM cap)) AS kept
       |FROM assigned a
       |ORDER BY a.vec_id""".stripMargin
  }

  /** #170 dedup_recall: the sample-based blocking-recall AUDIT a dedup
    * run publishes next to its pair tables (the vec_recall_ivf symmetry
    * on the dedup axis): ground truth is EXACT all-pairs Jaccard over a
    * seeded md5 sample of docs (the sample bounds the quadratic to
    * |sample|² — exactly how a 100 TB run audits recall, since all-pairs
    * on the corpus is impossible by definition), and each production
    * pipeline's found pairs, restricted to the sample, are scored
    * against it. All methods verify exactly at the same τ, so found ⊆
    * truth and precision is 1 by construction — the number under audit
    * is BLOCKING recall. One row per method. Rows-only (xxhash
    * ingredients inside the audited pipelines); recall floors,
    * found⊆truth and determinism spec-pinned (DedupSpec).
    * The sample is FIXED-SIZE (RecallSampleN min-md5 docs), so the
    * truth stays N²/2 pairs at any corpus scale. */
  /** Audit sample size — FIXED, not a corpus fraction: a fractional
    * sample makes the all-pairs truth grow quadratically with the corpus
    * (measured: 2.3 GB spill at 10× under a 3/8 fraction); the N
    * min-md5 docs (TakeOrdered — a per-partition heap, engine-portable
    * rule) bound the truth to N²/2 pairs at ANY corpus scale. */
  val RecallSampleN = 384

  def dedupRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val sample = docs
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
      .limit(RecallSampleN)
    val ts = sample.select(col("doc_id"),
      graft.functions.VectorFunctions.tokenSetIds(col("text"), 1).as("tsi"))
    // all-pairs truth on the bounded sample: a deliberate broadcast
    // nested-loop over ~3/8 of the gate corpus (|sample|² pairs)
    val truth = ts.as("a").join(broadcast(ts.as("b")),
        col("a.doc_id") < col("b.doc_id"))
      .where(Dedup.jacPass(col("a.tsi"), col("b.tsi"), JaccardTau))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .pin()
    val idSet = sample.select(col("doc_id")).as[Long].collect().toSet
    def audit(method: String, found: DataFrame): DataFrame = {
      val f = found.select(col("doc_a"), col("doc_b"))
        .where(col("doc_a").isInCollection(idSet) &&
               col("doc_b").isInCollection(idSet))
        .withColumn("hit", lit(1))
      truth.join(f, Seq("doc_a", "doc_b"), "left")
        .agg(count(lit(1)).as("true_pairs"),
          sum(coalesce(col("hit"), lit(0))).cast("long").as("found_pairs"))
        .select(lit(method).as("method"), col("true_pairs"), col("found_pairs"),
          round(col("found_pairs").cast("double") / col("true_pairs"), 6).as("recall"))
    }
    Seq(
      audit("jaccard_blocked", minedJaccardPairs(s, d)),
      audit("minhash_lsh", dedupMinhashLsh(s, d)),
      audit("minhash_portable", dedupMinhashPortable(s, d)))
      .reduce(_ unionAll _)
      .orderBy("method")
  }


  /** #216 dedup_cdc: cross-document duplicate CDC chunks — the
    * chunk-hash dedup report over #215's content-defined chunks (the
    * casync/restic dedup store readout, text flavor): every >= 16-char
    * chunk whose hash appears in more than one document, with occurrence
    * and document counts. Because CDC boundaries are insertion-stable,
    * this finds shared passages that offset-based shingle dedup misses
    * after an edit shifts the frame. One row-local chunking pass, one
    * map-side-combined hash aggregate — the shuffle carries (md5, count)
    * partials, never chunk text. */
  def dedupCdc(s: SparkSession, d: String): DataFrame =
    dedupCdcOf(graft.Tables.documents(s, d))

  def dedupCdcOf(documents: DataFrame): DataFrame =
    TextQueries.textCdcChunksOf(documents)
      .where(col("chunk_len") >= 16)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("chunk_len")).as("chunk_len"))
      .where(col("n_docs") > 1)
      .orderBy("chunk_md5")

  val dedupCdcSql: String =
    s"""WITH ${TextQueries.cdcChunksCte}
       |SELECT chunk_md5, count(*) AS n_occurrences,
       |  count(DISTINCT doc_id) AS n_docs,
       |  min(doc_id) AS first_doc, max(chunk_len) AS chunk_len
       |FROM ch WHERE chunk_len >= 16
       |GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) > 1
       |ORDER BY chunk_md5""".stripMargin


  /** #229 dedup_containment: the ASYMMETRY readout over near-dup
    * candidates — containment |A∩B|/|A| vs |A∩B|/|B| decides WHICH doc
    * subsumes which (the keep-the-superset policy exact Jaccard can't
    * express: a passage copied into a longer article has low Jaccard but
    * containment ~1 on the short side; 3-gram SHINGLES so only copied
    * sequences count, not shared vocabulary). Candidates by the shared
    * min-md5 3-gram-shingle blocking (recall follows the Jaccard bound, so this
    * is the containment readout over NEAR-DUP candidates, not a full
    * containment search — documented contract, identical rule in the
    * oracle); verify is one codegen'd sorted-intersect; emitted where
    * the larger containment side clears 0.9, round-before-branch. */
  val ContainmentTau = 0.9

  def dedupContainment(s: SparkSession, d: String): DataFrame =
    dedupContainmentOf(Tables.documents(s, d))

  def dedupContainmentOf(docs: DataFrame): DataFrame = {
    import graft.functions.VectorFunctions._
    val ts = docs.select(col("doc_id"),
      tokenSetIds(col("text"), 3).as("tsi"),
      tokenSetMinMd5(col("text"), 3).as("blk"))
      .where(size(col("tsi")) > 0)
    val a = ts.select(col("doc_id").as("doc_a"), col("tsi").as("tsa"), col("blk"))
    val b = ts.select(col("doc_id").as("doc_b"), col("tsi").as("tsb"), col("blk"))
    a.join(b, Seq("blk")).where(col("doc_a") < col("doc_b"))
      .withColumn("n_common", sortedIntersectSize(col("tsa"), col("tsb")).cast("long"))
      .withColumn("n_a", size(col("tsa")).cast("long"))
      .withColumn("n_b", size(col("tsb")).cast("long"))
      .withColumn("cont_a", round(col("n_common").cast("double") / col("n_a"), 6))
      .withColumn("cont_b", round(col("n_common").cast("double") / col("n_b"), 6))
      .where(greatest(col("cont_a"), col("cont_b")) >= ContainmentTau)
      .select(col("doc_a"), col("doc_b"), col("n_a"), col("n_b"),
        col("n_common"), col("cont_a"), col("cont_b"))
      .orderBy("doc_a", "doc_b")
  }

  val dedupContainmentSql: String =
    s"""WITH sh AS (
       |  SELECT doc_id,
       |    list_distinct([list_aggregate(s[i:i+2], 'string_agg', ' ') FOR i IN range(1, len(s) - 1)]) AS ts
       |  FROM (SELECT doc_id, string_split(lower(text), ' ') AS s FROM documents)
       |  WHERE len(s) >= 3),
       |blocked AS (
       |  SELECT doc_id, ts,
       |    list_aggregate(list_apply(ts, t -> md5(t)), 'min') AS blk
       |  FROM sh),
       |cand AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(len(a.ts) AS BIGINT) AS n_a, CAST(len(b.ts) AS BIGINT) AS n_b,
       |    CAST(len(list_intersect(a.ts, b.ts)) AS BIGINT) AS n_common
       |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, n_a, n_b, n_common,
       |  round(CAST(n_common AS DOUBLE) / n_a, 6) AS cont_a,
       |  round(CAST(n_common AS DOUBLE) / n_b, 6) AS cont_b
       |FROM cand
       |WHERE greatest(round(CAST(n_common AS DOUBLE) / n_a, 6),
       |               round(CAST(n_common AS DOUBLE) / n_b, 6)) >= $ContainmentTau
       |ORDER BY doc_a, doc_b""".stripMargin

  /** #254 dedup_cross_source: the WHO-copies-from-WHOM matrix — dup-pair
    * counts between (and within) sources off the SHARED mined τ=0.95
    * Jaccard pair table (mine once, feed every consumer), with the pair
    * UNIVERSE (n_a·n_b cross, n·(n−1)/2 within) and a parts-per-million
    * rate so the number survives corpus growth (a raw rate rounds to
    * zero at 6 dp on any real corpus). The pair set is broadcast-small
    * by construction; sources attach via two joins against the
    * projected (doc_id, source) dimension; everything downstream is
    * source²-bounded. Exact integers until the one ppm division. */
  def dedupCrossSource(s: SparkSession, d: String): DataFrame =
    dedupCrossSourceOf(minedJaccardPairs(s, d),
      Tables.documents(s, d).select(col("doc_id"), col("source")))

  def dedupCrossSourceOf(pairs: DataFrame, src: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val ps = src.as("x")
      .join(broadcast(pairs), col("x.doc_id") === col("doc_a"))
      .join(src.as("y"), col("y.doc_id") === col("doc_b"))
      .select(least(col("x.source"), col("y.source")).as("src_a"),
        greatest(col("x.source"), col("y.source")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("dup_pairs"))
    val sz = src.groupBy("source").agg(count(lit(1)).as("n"))
    ps
      .join(broadcast(sz.select(col("source").as("src_a"), col("n").as("n_a"))), "src_a")
      .join(broadcast(sz.select(col("source").as("src_b"), col("n").as("n_b"))), "src_b")
      .withColumn("universe",
        when(col("src_a") === col("src_b"),
          expr("n_a * (n_a - 1) div 2")).otherwise(col("n_a") * col("n_b")))
      .select(col("src_a"), col("src_b"), col("dup_pairs"), col("universe"),
        round(col("dup_pairs").cast("double") * 1000000 / col("universe"), 6)
          .as("rate_ppm"))
      .orderBy("src_a", "src_b")
  }

  val dedupCrossSourceSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
       |  FROM documents),
       |blocked AS (
       |  SELECT doc_id, ts,
       |         list_aggregate(list_apply(ts, t -> md5(t)), 'min') AS blk
       |  FROM toks),
       |p AS (
       |  SELECT a.doc_id AS da, b.doc_id AS db
       |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |              / len(list_distinct(a.ts || b.ts)), 6) >= $JaccardTau),
       |ds AS (SELECT doc_id, source FROM documents),
       |ps AS (
       |  SELECT least(x.source, y.source) AS src_a,
       |         greatest(x.source, y.source) AS src_b
       |  FROM p JOIN ds x ON p.da = x.doc_id JOIN ds y ON p.db = y.doc_id),
       |cnt AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS dup_pairs
       |        FROM ps GROUP BY 1, 2),
       |sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n
       |       FROM documents GROUP BY 1),
       |u AS (
       |  SELECT c.src_a, c.src_b, dup_pairs,
       |    CASE WHEN c.src_a = c.src_b THEN sa.n * (sa.n - 1) // 2
       |         ELSE sa.n * sb.n END AS universe
       |  FROM cnt c JOIN sz sa ON c.src_a = sa.source
       |       JOIN sz sb ON c.src_b = sb.source)
       |SELECT src_a, src_b, dup_pairs, universe,
       |  round(CAST(dup_pairs AS DOUBLE) * 1000000 / universe, 6) AS rate_ppm
       |FROM u ORDER BY src_a, src_b""".stripMargin

  /** #266 dedup_sweep: threshold-sensitivity audit ABOVE the mined floor —
    * "how much does the dedup rate move if we tighten τ?", the number
    * that decides whether 0.95 is a cliff or a plateau before a corpus
    * ships. Every pair the miner emits carries its exact 6-dp Jaccard,
    * so each rung τ ∈ {.95,.96,.97,.98} is a FILTER on the one shared
    * mined pair set (zero re-mining — the corpus_curate discipline) +
    * a re-cluster of the filtered dup sliver; per rung: surviving
    * pairs, connected components, dropped members, dedup rate. Four
    * bounded rungs = a driver loop over cluster jobs on the sliver
    * (the ladder discipline); at 100 TB each rung clusters only the
    * pair table, never the corpus. The oracle replays mining once and
    * all four recursive-CTE clusterings from scratch. */
  val SweepTaus: Seq[Double] = Seq(0.95, 0.96, 0.97, 0.98)

  /** The (bands × rows) ladder sharing the production perm budget
    * (Dedup.minhashLshPairs: 4 bands × 8 rows = 32 perms). */
  private[graft] val TuneConfigs: Seq[(Int, Int)] =
    Seq((32, 1), (16, 2), (8, 4), (4, 8), (2, 16), (1, 32))
  private[graft] val DeployedConfig: (Int, Int) = (4, 8)

  /** x^n as an explicit LEFT-FOLD product — both engines multiply in the
    * identical IEEE order, so no pow() library variance can leak into
    * the hash compare. */
  private def powC(x: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    Seq.fill(n)(x).reduce(_ * _)
  private[graft] def powD(x: Double, n: Int): Double = Seq.fill(n)(x).reduce(_ * _)
  private def powSql(x: String, n: Int): String =
    Seq.fill(n)(x).mkString("(", " * ", ")")

  /** The S-curve detection probability 1 − (1 − s^r)^b, rounded 6 dp,
    * computed with the shared left-fold products. */
  private[graft] def sCurve(s: Double, b: Int, r: Int): Double =
    graft.search.VecMath.round6(1.0 - powD(1.0 - powD(s, r), b))

  /** #273 dedup_minhash_tune: the BANDING-PARAMETER decision artifact —
    * the dedup-side twin of vec_autotune (which index dial do I deploy
    * becomes: which (bands × rows) split of the 32-perm budget?). For
    * every config sharing the perm budget, the MinHash S-curve
    * P(candidate) = 1 − (1 − s^r)^b is evaluated (a) analytically at
    * s ∈ {0.80, 0.90} — the FALSE-CANDIDATE mass a config admits below
    * the τ=0.95 target, the cost axis — and (b) EMPIRICALLY as the
    * expected recall over the MINED pair set's exact 6-dp Jaccards, the
    * benefit axis. Exactness: no pow() anywhere — x^n is an explicit
    * left-fold product (identical IEEE order in both engines); per-pair
    * detection probabilities scale to integer micro-units
    * (floor(p·1e6 + 0.5)) and sum exactly, one division per mean (the
    * corpus_schedule discipline). The deployed 4×8 config is flagged.
    * Scale shape: ONE map-side-combined aggregate over the (already
    * bounded) mined pair table computes all six configs' sums at once;
    * the analytic grid is config-constant arithmetic. */
  def dedupMinhashTune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val pairs = minedJaccardPairs(s, d).select(col("jac"))
    val pmuCols = TuneConfigs.map { case (b, r) =>
      sum(floor(round(lit(1.0) - powC(lit(1.0) - powC(col("jac"), r), b), 6)
        * 1e6 + 0.5).cast("long")).as(s"pmu_${b}_$r")
    }
    val agg = pairs.agg(count(lit(1)).as("n"), pmuCols: _*).first()
    val n = agg.getLong(0)
    val rows = TuneConfigs.zipWithIndex.map { case ((b, r), i) =>
      val expRecall: java.lang.Double =
        if (n == 0) null
        else graft.search.VecMath.round6(agg.getLong(i + 1).toDouble / (n.toDouble * 1e6))
      (b, r, sCurve(0.80, b, r), sCurve(0.90, b, r),
        expRecall, if ((b, r) == DeployedConfig) 1 else 0)
    }
    rows.toDF("bands", "rows", "p_s80", "p_s90", "exp_recall", "deployed")
      .orderBy(desc("bands"))
  }

  lazy val dedupMinhashTuneSql: String = {
    val branches = TuneConfigs.map { case (b, r) =>
      val p = s"(1.0 - ${powSql(s"(1.0 - ${powSql("jac", r)})", b)})"
      s"""SELECT CAST($b AS INT) AS bands, CAST($r AS INT) AS rows,
         |  CAST(${sCurve(0.80, b, r)} AS DOUBLE) AS p_s80,
         |  CAST(${sCurve(0.90, b, r)} AS DOUBLE) AS p_s90,
         |  (SELECT round(CAST(sum(CAST(floor(round($p, 6) * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
         |          / (count(*) * 1000000.0), 6) FROM allp) AS exp_recall,
         |  CAST(${if ((b, r) == DeployedConfig) 1 else 0} AS INT) AS deployed"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH toks AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
       |  FROM documents),
       |blocked AS (
       |  SELECT doc_id, ts,
       |         list_aggregate(list_apply(ts, t -> md5(t)), 'min') AS blk
       |  FROM toks),
       |allp AS (
       |  SELECT round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |               / len(list_distinct(a.ts || b.ts)), 6) AS jac
       |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |              / len(list_distinct(a.ts || b.ts)), 6) >= $JaccardTau)
       |$branches
       |ORDER BY bands DESC""".stripMargin
  }

  def dedupSweep(s: SparkSession, d: String): DataFrame = {
    val nDocs = Tables.rowCount(s, d, "documents")
    val pairs = minedJaccardPairs(s, d)
    // per-rung pair counts: ONE pass over the pair table
    val cnt = pairs.agg(
      sum(when(col("jac") >= SweepTaus.head, 1L).otherwise(0L)).as("n0"),
      SweepTaus.tail.zipWithIndex.map { case (t, i) =>
        sum(when(col("jac") >= t, 1L).otherwise(0L)).as(s"n${i + 1}") }: _*).first()
    // all four per-τ component resolutions via the threshold-NESTED
    // engine (Dedup.thresholdSweepStats): one clustering of the tightest
    // (smallest) rung, every looser rung a contracted-quotient delta —
    // instead of re-clustering the full rung graph per τ (4× the
    // iterative-join scheduling floor; the 100× probe's remaining cost,
    // BASELINE §3j)
    val byTau = Dedup.thresholdSweepStats(pairs, SweepTaus)
      .map { case (t, nc, nd) => t -> (nc, nd) }.toMap
    val rows = SweepTaus.zipWithIndex.map { case (t, i) =>
      val (nCl, nDrop) = byTau(t)
      // an EMPTY mined pair table sums to NULL, not 0 (the old per-rung
      // count() guard, preserved)
      (t, if (cnt.isNullAt(i)) 0L else cnt.getLong(i), nCl, nDrop)
    }
    import s.implicits._
    rows.toDF("tau", "n_pairs", "n_clusters", "n_dropped")
      .withColumn("dedup_rate",
        round(col("n_dropped").cast("double") / lit(nDocs.toDouble), 6))
      .orderBy("tau")
  }

  val dedupSweepSql: String = {
    val rungs = SweepTaus.map { t =>
      val k = math.round(t * 100).toString // 95, 96, ...
      s"""p$k AS (SELECT doc_a, doc_b FROM allp WHERE jac >= $t),
         |e$k AS (SELECT doc_a AS src, doc_b AS dst FROM p$k
         |        UNION SELECT doc_b, doc_a FROM p$k),
         |r$k(id, r) AS (
         |  SELECT src, src FROM e$k
         |  UNION
         |  SELECT e.src, r.r FROM e$k e JOIN r$k r ON e.dst = r.id),
         |c$k AS (SELECT id, min(r) AS cid FROM r$k GROUP BY id),
         |s$k AS (
         |  SELECT CAST($t AS DOUBLE) AS tau,
         |    (SELECT CAST(count(*) AS BIGINT) FROM p$k) AS n_pairs,
         |    (SELECT CAST(count(DISTINCT cid) AS BIGINT) FROM c$k) AS n_clusters,
         |    (SELECT COALESCE(CAST(sum(CASE WHEN cid <> id THEN 1 ELSE 0 END)
         |                     AS BIGINT), 0) FROM c$k) AS n_dropped)""".stripMargin
    }.mkString(",\n")
    val body = SweepTaus.map(t => s"SELECT * FROM s${math.round(t * 100)}")
      .mkString("\nUNION ALL ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS ts
       |  FROM documents),
       |blocked AS (
       |  SELECT doc_id, ts,
       |         list_aggregate(list_apply(ts, t -> md5(t)), 'min') AS blk
       |  FROM toks),
       |allp AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |               / len(list_distinct(a.ts || b.ts)), 6) AS jac
       |  FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
       |  WHERE round(CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE)
       |              / len(list_distinct(a.ts || b.ts)), 6) >= $JaccardTau),
       |$rungs,
       |nd AS (SELECT count(*) AS n FROM documents)
       |SELECT u.tau, u.n_pairs, u.n_clusters, u.n_dropped,
       |  round(CAST(u.n_dropped AS DOUBLE) / nd.n, 6) AS dedup_rate
       |FROM ($body) u, nd ORDER BY u.tau""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_sweep" -> (dedupSweep _),
    "dedup_minhash_tune" -> (dedupMinhashTune _),
    "dedup_cross_source" -> (dedupCrossSource _),
    "dedup_cdc" -> (dedupCdc _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_semantic" -> (dedupSemantic _),
    "sample_cluster_balance" -> (sampleClusterBalance _),
    "dedup_recall" -> (dedupRecall _),
    "dedup_minhash_portable" -> (dedupMinhashPortable _),
    "dedup_simhash_portable" -> (dedupSimhashPortable _),
    "dedup_embedding_portable" -> (dedupEmbeddingPortable _),
    "dedup_semantic_portable" -> (dedupSemanticPortable _),
    "sample_balance_portable" -> (sampleBalancePortable _),
    "dedup_semantic_inc_portable" -> (dedupSemanticIncPortable _),
    "dedup_semantic_inc" -> (dedupSemanticInc _),
    "dedup_canonical" -> (dedupCanonical _),
    "dedup_report" -> (dedupReport _),
    "dedup_exact" -> (dedupExact _),
    "dedup_jaccard" -> (dedupJaccard _),
    "dedup_jaccard_mine" -> (dedupJaccardMine _),
    "dedup_ngram" -> (dedupNgram _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_minhash_bucketed" -> (dedupMinhashBucketed _),
    "dedup_incremental" -> (dedupIncremental _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_simhash_bucketed" -> (dedupSimhashBucketed _),
    "dedup_simhash_inc" -> (dedupSimhashInc _),
    "dedup_embedding" -> (dedupEmbedding _)
  )

  val oracles: Map[String, String] = Map(
    "dedup_sweep" -> dedupSweepSql,
    "dedup_minhash_tune" -> dedupMinhashTuneSql,
    "dedup_cross_source" -> dedupCrossSourceSql,
    "dedup_cdc" -> dedupCdcSql,
    "dedup_containment" -> dedupContainmentSql,
    "dedup_minhash_portable" -> dedupMinhashPortableSql,
    "dedup_simhash_portable" -> dedupSimhashPortableSql,
    "dedup_embedding_portable" -> dedupEmbeddingPortableSql,
    "dedup_semantic_portable" -> dedupSemanticPortableSql,
    "sample_balance_portable" -> sampleBalancePortableSql,
    "dedup_semantic_inc_portable" -> dedupSemanticPortableSql,
    "dedup_report" -> dedupReportSql,
    "dedup_exact" -> dedupExactSql,
    "dedup_jaccard" -> dedupJaccardSql,
    "dedup_jaccard_mine" -> dedupJaccardSql,
    "dedup_ngram" -> dedupNgramSql,
    "dedup_clusters" -> dedupClustersSql,
    "dedup_canonical" -> dedupCanonicalSql
  )
}
