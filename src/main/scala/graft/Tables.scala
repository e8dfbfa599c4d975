package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (TESTDATA.md).
  * One parquet file per table under `sfDir`. All reads go through here so
  * every query benefits from the same pushdown/pruning-friendly scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Reads with the table's schema memoized per source mtime: inferring
    * it runs a footer-reading Spark job per read (≈95 ms warm at sf0.01
    * on a 4-core box), which every index-model lookup would pay before
    * its memo hit. A rewritten table has a new mtime and is re-inferred;
    * a path that is not a local dir (mtime 0) is always inferred. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val mtime = sourceMtime(sfDir, name)
    if (mtime == 0L) spark.read.parquet(path)
    else spark.read.schema(schemas(path, mtime)(spark.read.parquet(path).schema)).parquet(path)
  }

  private val schemas = new ArtifactStore.Memo[org.apache.spark.sql.types.StructType]

  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  /** events.parquet has shipped `ts` as either TIMESTAMP(NANOS) — which
    * Spark 4 only reads with spark.sql.legacy.parquet.nanosAsLong=true
    * (set in every session builder), surfacing as LongType — or as a plain
    * TIMESTAMP(MICROS). Adapt on the read schema: a long is nanos and is
    * truncated with integer DIV (ns epoch values exceed 2^53, double math
    * would drift); a timestamp passes through. Either way downstream sees
    * a microsecond timestamp. */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.expr("timestamp_micros(ts DIV 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // sessions run UTC (Verify/Bench/SparkTest builders), so the NTZ →
        // instant cast is value-preserving and unix_micros/date_trunc work
        df.withColumn("ts", df("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Cached row count per (sfDir, table). Corpus-sizing decisions (e.g.
    * CosineLsh.pickBits) need N, and re-running a count job per
    * invocation puts a corpus scan inside every caller's timed region —
    * the sibling paths thread a caller-known total for exactly this
    * reason (RunHarness / PqBackend). The cached count is GUARDED by the
    * source's max mtime (the ArtifactStore staleness rule): if an
    * in-process tool regenerates a testdata/scale dir after a count,
    * sizing decisions (CosineLsh.pickBits, bucket counts) see the NEW N,
    * not a stale one. The guard is one FLAT listFiles stat per call
    * (parquet table dirs are flat — part files + markers; no recursion),
    * and the map holds ONE entry per (dir, table) — a stale mtime's
    * entry is replaced, never accumulated. The guard is the shared
    * [[ArtifactStore.Memo]], the same one every derived-table cache
    * uses (bucketed catalog tables, band/chunk tables, published
    * artifacts, trained vector models). */
  private val countCache = new ArtifactStore.Memo[Long]

  private def tableMtime(f: java.io.File): Long =
    Option(f.listFiles()).getOrElse(Array.empty)
      .foldLeft(f.lastModified())((m, c) => math.max(m, c.lastModified()))

  /** Max mtime across the named source tables under `d` — the staleness
    * key for any cache derived from those tables (one flat listFiles
    * stat per table; parquet table dirs are flat). */
  def sourceMtime(d: String, names: String*): Long =
    names.map(n => tableMtime(new java.io.File(s"$d/$n.parquet"))).max

  def rowCount(s: SparkSession, d: String, name: String): Long =
    countCache(s"$d/$name", sourceMtime(d, name)) { load(s, d, name).count() }

  /** City names for the derived metadata (embeddingsMeta). */
  val MetaCities: Seq[String] =
    Seq("springfield", "riverton", "lakewood", "fairview", "greenville",
        "bristol", "clayton", "dayton", "ashland", "milton")

  /** The reference's metadata table (validators.py filters target state/
    * city/stars/latitude/longitude), which the driver testdata does not
    * ship — derived DETERMINISTICALLY from vec_id with integer arithmetic
    * both engines reproduce bit-for-bit, so geo/like hybrid queries stay
    * fully oracle-checkable. Pure projection: no shuffle, prunes with the
    * scan. Twin SQL: [[embeddingsMetaSql]]. */
  def embeddingsMeta(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    embeddings(s, d).select(
      col("vec_id"), col("embedding"), col("label"),
      // lat ∈ [-30, 59.5] step .5; lon ∈ [-120, 119.25] step .75 — integer
      // remainders scaled by exactly-representable binary fractions
      (lit(-30.0) + (col("vec_id") % 180).cast("double") * 0.5).as("latitude"),
      (lit(-120.0) + ((col("vec_id") * 7) % 320).cast("double") * 0.75).as("longitude"),
      element_at(
        array(MetaCities.map(lit): _*), (col("vec_id") % 10).cast("int") + 1).as("city"))
  }

  /** DuckDB twin of [[embeddingsMeta]] as a WITH-clause body. */
  val embeddingsMetaSql: String = {
    val cities = MetaCities.map(c => s"'$c'").mkString(", ")
    s"""SELECT vec_id, embedding, label,
       |  -30.0 + CAST(vec_id % 180 AS DOUBLE) * 0.5 AS latitude,
       |  -120.0 + CAST((vec_id * 7) % 320 AS DOUBLE) * 0.75 AS longitude,
       |  [$cities][CAST(vec_id % 10 AS INT) + 1] AS city
       |FROM embeddings""".stripMargin
  }
}
