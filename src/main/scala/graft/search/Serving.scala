package graft.search

import graft.ArtifactStore
import graft.operators.Pin
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graft.PinnedScan
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.storage.StorageLevel

import java.lang.ref.WeakReference
import scala.collection.mutable.ArrayBuffer

/** Where a loaded index serves from. The reference builds its FAISS index
  * once and answers every query from memory (loaders.py:141); graft does
  * the same for every table that fits [[BudgetBytes]] and keeps the
  * partition-pruned on-disk scan for the tables that do not (the 100 TB
  * plan).
  */
object Serving {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The memory one process gives to each structure it keeps resident
    * for serving: the RAM tier (`VectorQueries.servingTier`, raw float
    * bytes) and a loaded IVF / IVF-PQ list table (its data files' bytes). */
  val BudgetBytes: Long = 2L << 30

  /** The one writer of a table partitioned by `by` (the list_id-partitioned
    * index tables, and their compaction): rows are clustered by `by`
    * before the partitioned write, so each value's rows land in one task
    * and so in O(1) files per write — without it every upstream task
    * writes a file into every list directory (tasks × nlist small files).
    *
    * The write stage runs `defaultParallelism` tasks while the planned
    * rows fit that many advisory-sized shuffle partitions: left to AQE, a
    * few-KB ingest batch coalesces into ONE task that writes every list's
    * file in series (≈480 ms for a 100-row batch over ≈50 lists on a
    * 4-core box, against ≈220 ms with 4 tasks). Past that size AQE sizes
    * the stage from the shuffled bytes, as for any clustering shuffle. */
  def writeLists(df: DataFrame, path: String, mode: SaveMode, by: String = "list_id"): Unit = {
    val spark = df.sparkSession
    val cores = spark.sparkContext.defaultParallelism
    val advisory = spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
    val small = df.queryExecution.optimizedPlan.stats.sizeInBytes <= BigInt(cores) * advisory
    // a numbered repartition is never coalesced by AQE
    val clustered = if (small) df.repartition(cores, col(by)) else df.repartition(col(by))
    clustered.write.mode(mode).partitionBy(by).parquet(path)
  }

  /** Open the list_id-partitioned index table at `path`. When its data
    * files fit `budgetBytes` they are read once and pinned ([[Pin]]: by
    * default `localCheckpoint`, GC-cleaned, no CacheManager entry), so a
    * probe filters resident rows instead of opening one parquet file per
    * probed list. Above the budget the frame is the plain read, which a
    * probe's `list_id` predicate prunes to the probed partitions. Either
    * way the rows and columns are the same. Logs the choice once, at INFO.
    *
    * Delta pins. A resident table's pinned pieces are remembered per
    * qualified path, bound to the SparkContext, with every pinned file's
    * (path, length, mtime). When a reload lists a superset of those files
    * (a persisted append: `Ivf.appendToPath` / `IvfPq.appendToPath` add
    * files and rewrite none), only the new files are read and pinned — one
    * job, read with the plain read's file parallelism — and the frame is
    * ONE scan over the base's partitions, each followed by the delta blocks
    * dealt to it ([[PinnedScan.scan]]): the base's task count, one scan
    * leaf, the pieces' summed size estimate.
    * The whole table is pinned again, as a new base, when
    *  - a pinned file is gone or changed (an overwrite, a compaction, an
    *    ArtifactStore republish under the same path);
    *  - a pinned piece was released (unpersisted, or collected once no
    *    served frame held it — the memo holds pieces weakly, so a piece
    *    no frame serves is freed by the GC-driven cleaner);
    *  - the deltas would outgrow the base: more delta pieces than base
    *    partitions, or more delta bytes than base bytes. Resident bytes
    *    therefore stay below twice the table's last full pin, and no task
    *    of the served scan reads more than one block per piece.
    * Rows, columns and answers are those of a fresh full pin. */
  private[graft] def openLists(spark: SparkSession, path: String, budgetBytes: Long): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    dataFiles(fs, root, budgetBytes) match {
      case Some(files) =>
        var served: DataFrame = null
        resident.update(root.toString, spark.sparkContext) { prev =>
          val (entry, frame, how) = prev.flatMap(grow(spark, root, files, _))
            .getOrElse { val (e, f) = pinAll(spark, root, files); (e, f, "pinned") }
          log.info(s"index table $path: ${files.map(_.getLen).sum} data bytes, resident ($how)")
          served = frame
          entry
        }
        served
      case None =>
        val disk = spark.read.parquet(path)
        log.info(s"index table $path: ${disk.queryExecution.optimizedPlan.stats.sizeInBytes} " +
          s"data bytes, on-disk (above the $budgetBytes-byte serving budget)")
        disk
    }
  }

  /** What a resident table has pinned: every pinned file's (length,
    * mtime), the row layout, and the pieces (base first) held weakly, with
    * the partition and file-byte counts the re-pin rule compares. */
  private final case class Resident(
      files: Map[Path, (Long, Long)], schema: StructType, output: Seq[Attribute],
      pieces: Vector[WeakReference[RDD[InternalRow]]], sizeInBytes: BigInt,
      baseParts: Int, baseBytes: Long, deltaBytes: Long)

  private val resident = new ArtifactStore.Memo[Resident]

  private def stamps(files: Seq[FileStatus]): Map[Path, (Long, Long)] =
    files.map(f => f.getPath -> (f.getLen, f.getModificationTime)).toMap

  /** Pin every file of the table: a new base. */
  private def pinAll(spark: SparkSession, root: Path, files: Seq[FileStatus]): (Resident, DataFrame) = {
    val frame = Pin(listedRead(spark, root, files))
    val p = PinnedScan.piece(frame)
    (Resident(stamps(files), frame.schema, p.output, Vector(new WeakReference(p.rdd)),
      p.sizeInBytes, p.rdd.getNumPartitions, files.map(_.getLen).sum, 0L), frame)
  }

  /** `r` grown by the files it has not pinned, or None when the re-pin
    * rule ([[openLists]]) asks for a new base. */
  private def grow(spark: SparkSession, root: Path, files: Seq[FileStatus],
                   r: Resident): Option[(Resident, DataFrame, String)] = {
    val now = stamps(files)
    val pieces = r.pieces.map(_.get)
    def live(rdd: RDD[InternalRow]) = rdd != null &&
      (rdd.getStorageLevel != StorageLevel.NONE || rdd.getCheckpointFile.isDefined)
    if (!pieces.forall(live) || !r.files.forall { case (p, s) => now.get(p).contains(s) }) None
    else {
      val fresh = files.filterNot(f => r.files.contains(f.getPath))
      if (fresh.isEmpty)
        Some((r, PinnedScan.scan(spark, r.output, pieces.head, pieces.tail, r.sizeInBytes), "unchanged"))
      else {
        val bytes = fresh.map(_.getLen).sum
        lazy val read = listedRead(spark, root, fresh)
        if (r.pieces.length > r.baseParts || r.deltaBytes + bytes > r.baseBytes ||
            read.schema != r.schema) None
        else {
          val d = PinnedScan.piece(Pin(read.coalesce(r.baseParts)))
          val grown = r.copy(files = r.files ++ stamps(fresh),
            pieces = r.pieces :+ new WeakReference(d.rdd), sizeInBytes = r.sizeInBytes + d.sizeInBytes,
            deltaBytes = r.deltaBytes + bytes)
          Some((grown, PinnedScan.scan(spark, r.output, pieces.head, pieces.tail :+ d.rdd,
            grown.sizeInBytes), s"${fresh.length} files pinned as a delta"))
        }
      }
    }
  }

  /** The data files under `root` (the names Spark's file index keeps), or
    * None as soon as they pass `budgetBytes`: one driver-side walk that
    * stops early on a table too big to pin. `root` may be a single file. */
  private def dataFiles(fs: FileSystem, root: Path, budgetBytes: Long): Option[Seq[FileStatus]] = {
    val out = ArrayBuffer.empty[FileStatus]
    var bytes = 0L
    def hidden(n: String) =
      (n.startsWith("_") && !n.contains("=")) || n.startsWith(".") || n.endsWith("._COPYING_")
    def walk(dir: Path): Boolean = fs.listStatus(dir).filterNot(s => hidden(s.getPath.getName))
      .forall { s =>
        if (s.isDirectory) walk(s.getPath)
        else { out += s; bytes += s.getLen; bytes <= budgetBytes }
      }
    if (walk(root)) Some(out.toSeq) else None
  }

  /** `spark.read.parquet(root)` over an already-listed file set. The plain
    * read lists a table of more than 32 partition directories with a
    * Spark job of one task per directory (`parallelPartitionDiscovery`):
    * ≈300 ms of a ≈400 ms read of 64 lists on a 4-core box. Here the
    * listing is the walk above, handed to the file index as its cache;
    * partition columns and types are inferred from the directory names
    * exactly as the plain read does, and the data schema is [[fileSchema]]:
    * no Spark job besides the pin. */
  private def listedRead(spark: SparkSession, root: Path, files: Seq[FileStatus]): DataFrame = {
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == root) Some(files.toArray) else None
      def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None, listed)
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index, index.partitionSchema, fileSchema(spark, root, files), None, new ParquetFileFormat,
      Map.empty)(spark))
  }

  /** The data schema of the flat parquet table (a directory of data
    * files, or one file) at `path` — what `spark.read.parquet(path)`
    * reports, without its footer-reading job when the files carry Spark's
    * schema ([[fileSchema]]). */
  private[graft] def tableSchema(spark: SparkSession, path: String): StructType = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    fileSchema(spark, root, dataFiles(fs, root, Long.MaxValue).getOrElse(Nil))
  }

  /** The data schema of the parquet `files` under `root`, as the plain
    * read infers it: the schema Spark's writer keeps in the first file's
    * footer, read on the driver; inferred from the files (a footer-reading
    * Spark job, the plain read's own) only when that footer carries none
    * (a non-Spark writer). Every field nullable, as the plain read makes
    * it. */
  private def fileSchema(spark: SparkSession, root: Path, files: Seq[FileStatus]): StructType = {
    val first = files.headOption.getOrElse(
      throw new IllegalStateException(s"table $root has no parquet data files"))
    val schema = footerSchema(spark, first)
      .orElse(new ParquetFileFormat().inferSchema(spark, Map.empty, files))
      .getOrElse(throw new IllegalStateException(s"table $root: no schema in $first"))
    nullable(schema).asInstanceOf[StructType]
  }

  /** Every field, element and value nullable — what the plain read does to
    * a file's schema (Spark's own `asNullable` is package-private). */
  private def nullable(t: DataType): DataType = t match {
    case StructType(fs) => StructType(fs.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }

  /** The data schema Spark wrote into a parquet file's footer, read on the
    * driver; None when the file carries none (a non-Spark writer). */
  private def footerSchema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    try Option(reader.getFileMetaData.getKeyValueMetaData.get(SparkSchemaKey))
      .map(DataType.fromJson).collect { case st: StructType => st }
    finally reader.close()
  }

  /** Where Spark's parquet writer keeps the row schema (ParquetReadSupport). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"
}
