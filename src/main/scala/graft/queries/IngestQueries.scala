package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ingest/validation surface (reference artifacts/artifacts.py): the
  * id-contiguity + row-count gate every artifact must pass, run over the
  * testdata tables as one aggregate per table. JSON→parquet building and
  * schema validation themselves are exercised in IngestSpec (they write
  * files, so they live in tests, not queries).
  */
object IngestQueries {

  private def summary(df: DataFrame, tbl: String, idCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n"),
      min(col(idCol)).as("min_id"),
      max(col(idCol)).as("max_id"),
      count_distinct(col(idCol)).as("n_distinct"))
      .select(lit(tbl).as("tbl"), col("n"), col("min_id"), col("max_id"), col("n_distinct"))

  /** Contiguous-id validation summary (reference validate_schema:
    * "id must be contiguous 0..N-1") for the two artifact-like tables. */
  def ingestCheck(s: SparkSession, d: String): DataFrame =
    summary(Tables.documents(s, d), "documents", "doc_id")
      .unionAll(summary(Tables.embeddings(s, d), "embeddings", "vec_id"))
      .orderBy("tbl")

  val ingestCheckSql: String =
    """SELECT 'documents' AS tbl, count(*) AS n, min(doc_id) AS min_id,
      |       max(doc_id) AS max_id, count(DISTINCT doc_id) AS n_distinct
      |FROM documents
      |UNION ALL
      |SELECT 'embeddings', count(*), min(vec_id), max(vec_id), count(DISTINCT vec_id)
      |FROM embeddings
      |ORDER BY tbl""".stripMargin

  /** Random baseline (reference src/backends/random.py): deterministic
    * seeded K ids — the recall floor. The selection rule is the portable
    * md5-hex rank (VectorSearch.randomK), rendered literally in the
    * oracle SQL, so this is a full hash-pass query — output ordered by
    * vec_id for a stable row order. */
  def vecRandom(s: SparkSession, d: String): DataFrame =
    graft.search.VectorSearch.randomK(Tables.embeddings(s, d), 10)
      .orderBy("vec_id")

  val vecRandomSql: String =
    """SELECT vec_id FROM (
      |  SELECT vec_id FROM embeddings
      |  ORDER BY md5('0:' || CAST(vec_id AS VARCHAR)), vec_id LIMIT 10
      |) ORDER BY vec_id""".stripMargin

  /** The vectors.npy artifact for an sf dir, an [[graft.ArtifactStore]]
    * entry written ONCE per (dir, embeddings stamp) — artifact build is
    * one-time reference-parity work (artifacts.py writes the file once
    * too); the registered query times the DISTRIBUTED load, not the
    * build. */
  private val npyStore = new graft.ArtifactStore.Family[String]("npy", "vectors.npy")

  private def npyArtifact(s: SparkSession, d: String): String = {
    val emb = Tables.embeddings(s, d)
    npyStore(emb, d)(p => graft.sources.Ingest.writeVectorsNpy(emb, s"$p/vectors.npy"))(
      p => s"$p/vectors.npy")
  }

  /** #105 ingest_npy: the reference's vectors.npy artifact round-trip —
    * embeddings → .npy (cached, driver-side artifact write) → DISTRIBUTED
    * byte-range load (NpyIO.loadMatrix) → one-aggregate summary. The
    * oracle computes the identical summary straight from the parquet
    * table, so a hash-pass proves ids, dimension AND float values survive
    * the binary round-trip exactly (the unit-norm count is per-row double
    * math over the restored float32 values). */
  def ingestNpy(s: SparkSession, d: String): DataFrame = {
    val loaded = graft.sources.Ingest.loadVectorsNpy(s, npyArtifact(s, d))
    val n = graft.functions.VectorFunctions.l2Norm(col("embedding"))
    loaded.agg(
      count(lit(1)).as("n"),
      first(size(col("embedding"))).cast("long").as("d"),
      min(col("vec_id")).as("min_id"),
      max(col("vec_id")).as("max_id"),
      count_distinct(col("vec_id")).as("n_distinct"),
      sum(when(abs(n - lit(1.0)) <= 0.001, 1L).otherwise(0L)).as("n_unit"))
  }

  val ingestNpySql: String =
    """SELECT count(*) AS n,
      |  CAST(max(len(embedding)) AS BIGINT) AS d,
      |  min(vec_id) AS min_id,
      |  max(vec_id) AS max_id,
      |  count(DISTINCT vec_id) AS n_distinct,
      |  CAST(sum(CASE WHEN abs(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) - 1.0) <= 0.001 THEN 1 ELSE 0 END) AS BIGINT) AS n_unit
      |FROM embeddings""".stripMargin

  /** The catalog tables for #294's co-located join, written ONCE per sf
    * dir (the npyStore discipline: layout is an ingest-time decision a
    * warehouse makes once; the registered query times the JOIN). Names
    * are dir-keyed so sf0.01 and sf0.1 coexist in one warehouse; the
    * memo is mtime-guarded (ArtifactStore.Memo) so regenerating the source
    * parquet in-process rebuilds the layout instead of serving stale
    * co-located data under current rowCount sizes. */
  private val bucketedCache = new graft.ArtifactStore.Memo[(String, String)]

  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) =
    bucketedCache(d, graft.Tables.sourceMtime(d, "lineitem", "orders"), s.sparkContext) {
      val key = d.replaceAll("[^A-Za-z0-9]", "_")
      // bucket count sized to the FACT table at ingest (the warehouse
      // rule: a fixed count that fits today starves parallelism and
      // overflows the per-bucket SMJ sort at 100× — measured 4.5 GB
      // spill at 8 buckets over 60M rows): the shared sizing rule
      // (Bucketing.pickBuckets — rows/1M ceil-pow2, cluster-
      // proportional ceiling); both tables must share it for the
      // co-located plan
      val n = Tables.rowCount(s, d, "lineitem")
      val buckets = graft.sources.Bucketing.pickBuckets(s, n)
      val (lt, ot) = (s"graft_b${buckets}_lineitem_$key", s"graft_b${buckets}_orders_$key")
      // GC any previous bucket-count generation (a regenerated source can
      // change rowCount → pickBuckets → the table NAME, orphaning the old)
      graft.sources.Bucketing.dropSiblings(s, s"lineitem_$key", lt)
      graft.sources.Bucketing.dropSiblings(s, s"orders_$key", ot)
      graft.sources.Bucketing.writeBucketed(Tables.lineitem(s, d), lt, "l_orderkey", buckets)
      graft.sources.Bucketing.writeBucketed(Tables.orders(s, d), ot, "o_orderkey", buckets)
      (lt, ot)
    }

  /** #294 bucketed_join: the bucketed CO-LOCATED fact-fact join (#54's
    * storage layout), registered as a gate row: lineitem ⋈ orders on the
    * order key with BOTH tables bucketed (and sorted) by that key — the
    * planner reads matching bucket files directly and plans NO Exchange
    * on either side (PlanSpec pins the zero-Exchange property; at 100 TB
    * that shuffle IS the join's cost). The aggregate is decimal-exact
    * revenue per order priority, so the oracle — the identical join over
    * the plain parquet — hash-checks that the bucketed layout changes the
    * PLAN, never the answer. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val (lt, ot) = bucketedTables(s, d)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,2)")
    graft.sources.Bucketing.colocatedJoin(s, lt, ot, "l_orderkey", "o_orderkey")
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec(col("l_discount"))))
          .cast("double").as("sum_revenue"))
      .orderBy("o_orderpriority")
  }

  val bucketedJoinSql: String =
    """SELECT o_orderpriority,
      |  count(*) AS n_items,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ingest_check" -> (ingestCheck _),
    "ingest_npy" -> (ingestNpy _),
    "vec_random" -> (vecRandom _),
    "bucketed_join" -> (bucketedJoin _)
  )

  val oracles: Map[String, String] = Map(
    "ingest_check" -> ingestCheckSql,
    "ingest_npy" -> ingestNpySql,
    "vec_random" -> vecRandomSql,
    "bucketed_join" -> bucketedJoinSql
  )
}
