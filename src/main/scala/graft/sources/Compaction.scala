package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Small-file compaction for partitionBy-layout parquet tables — the
  * maintenance op that completes the persisted-index lifecycle
  * (Ivf.appendToPath / IvfPq.appendToPath land each ingest batch as NEW
  * files under their partition dirs; after enough batches every probe
  * pays per-file open/footer cost — the classic lakehouse small-files
  * problem, solved by OPTIMIZE/rewriteDataFiles in Delta/Iceberg).
  *
  * Shape: ONE distributed rewrite clustered by the partition column
  * (repartition(col) → each partition's rows land in one task → one
  * output file per partition dir), published by atomic rename with the
  * old directory kept until the new one is complete — readers of the old
  * path are never exposed to a half-written table, the same discipline
  * as the ArtifactStore publish. Content is untouched (same rows,
  * same schema, same partition pruning); only the file layout changes —
  * reload-equivalence is spec-pinned (CompactionSpec).
  *
  * At 100 TB: compaction is per-partition-parallel and touches only data
  * files (no quantizer retraining, no index rebuild); run it on the
  * ingest cadence like any OPTIMIZE job. A cluster deployment would
  * target size-tiered output (maxRecordsPerFile) instead of one file per
  * partition; the one-file form is the local[32] rendering of the same
  * rewrite.
  */
object Compaction {

  final case class Report(partitions: Int, filesBefore: Int, filesAfter: Int)

  private def dataFiles(dir: java.io.File): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f)
      else Nil
    walk(dir)
  }

  private def partitionDirs(dir: java.io.File, partitionCol: String): Seq[java.io.File] =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith(s"$partitionCol="))

  /** Compact `dir` (a parquet table partitioned by `partitionCol`) to one
    * file per partition. Returns the before/after file-count report. */
  def compactPartitioned(spark: SparkSession, dir: String, partitionCol: String): Report = {
    val d = new java.io.File(dir)
    require(d.isDirectory, s"compact: $dir is not a directory")
    val before = dataFiles(d).size
    val pid = s"${ProcessHandle.current().pid()}-${Thread.currentThread().getId}"
    val tmp = s"$dir.compact-$pid"
    spark.read.parquet(dir)
      .repartition(col(partitionCol))
      .write.partitionBy(partitionCol).parquet(tmp)
    val old = new java.io.File(s"$dir.old-$pid")
    if (!d.renameTo(old))
      throw new IllegalStateException(s"compact: cannot stage out $dir")
    if (!new java.io.File(tmp).renameTo(d)) {
      // restore the original before failing: readers keep a valid table
      old.renameTo(d)
      throw new IllegalStateException(s"compact: cannot publish $tmp to $dir")
    }
    LocalArtifacts.deleteRecursively(old)
    Report(partitionDirs(d, partitionCol).size, before, dataFiles(d).size)
  }
}
