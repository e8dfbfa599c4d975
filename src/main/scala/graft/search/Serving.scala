package graft.search

import graft.operators.Pin
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

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

  /** Open the list_id-partitioned index table at `path`. When its data
    * files fit `budgetBytes` they are read once and pinned ([[Pin]]: by
    * default `localCheckpoint`, GC-cleaned, no CacheManager entry), so a
    * probe filters resident rows instead of opening one parquet file per
    * probed list. Above the budget the frame is the plain read, which a
    * probe's `list_id` predicate prunes to the probed partitions. Either
    * way the rows and columns are the same. Logs the choice once, at INFO. */
  private[graft] def openLists(spark: SparkSession, path: String, budgetBytes: Long): DataFrame = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = fs.makeQualified(new Path(path))
    dataFiles(fs, root, budgetBytes) match {
      case Some(files) =>
        log.info(s"index table $path: ${files.map(_.getLen).sum} data bytes, resident")
        Pin(listedRead(spark, root, files))
      case None =>
        val disk = spark.read.parquet(path)
        log.info(s"index table $path: ${disk.queryExecution.optimizedPlan.stats.sizeInBytes} " +
          s"data bytes, on-disk (above the $budgetBytes-byte serving budget)")
        disk
    }
  }

  /** The data files under `root` (the names Spark's file index keeps), or
    * None as soon as they pass `budgetBytes`: one driver-side walk that
    * stops early on a table too big to pin. */
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
    * exactly as the plain read does, and the data schema comes from the
    * first data file's footer, read on the driver: no Spark job besides
    * the pin. */
  private def listedRead(spark: SparkSession, root: Path, files: Seq[FileStatus]): DataFrame = {
    val listed = new FileStatusCache {
      override def getLeafFiles(p: Path): Option[Array[FileStatus]] =
        if (p == root) Some(files.toArray) else None
      def putLeafFiles(p: Path, f: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val index = new InMemoryFileIndex(spark, Seq(root), Map.empty, None, listed)
    val format = new ParquetFileFormat
    val first = files.headOption.getOrElse(
      throw new IllegalStateException(s"index table $root has no parquet data files"))
    // the plain read's inference reads the same footer, in a one-task job
    val dataSchema = footerSchema(spark, first)
      .orElse(format.inferSchema(spark, Map.empty, Seq(first)))
      .getOrElse(throw new IllegalStateException(s"index table $root: no schema in $first"))
    spark.baseRelationToDataFrame(HadoopFsRelation(
      index, index.partitionSchema, nullable(dataSchema).asInstanceOf[StructType], None, format,
      Map.empty)(spark))
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
