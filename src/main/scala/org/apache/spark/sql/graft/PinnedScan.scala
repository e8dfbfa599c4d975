package org.apache.spark.sql.graft

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Frames over pinned rows ([[graft.operators.Pin]]) taken apart and put
  * back together: what a pinned frame scans, and one scan over several
  * such pieces. `Dataset.ofRows` is private[sql], so this seam lives in
  * the sql package (the GraftBridge pattern). */
object PinnedScan {

  /** The rows a pinned frame scans, its output and its size estimate. */
  final case class Piece(rdd: RDD[InternalRow], output: Seq[Attribute], sizeInBytes: BigInt)

  def piece(pinned: DataFrame): Piece = pinned.queryExecution.logical match {
    case r: LogicalRDD => Piece(r.rdd, r.output, r.computeStats().sizeInBytes)
    case other => throw new IllegalArgumentException(
      s"not a pinned frame: ${other.nodeName}")
  }

  /** ONE scan leaf over `base` followed by `deltas` (same row layout as
    * `output`): `base`'s partition count, the delta partitions dealt to
    * them round-robin ([[PiecesRDD]]), so a delta of at most that many
    * partitions adds at most one block to any task; the size estimate is
    * the pieces' sum. */
  def scan(spark: SparkSession, output: Seq[Attribute], base: RDD[InternalRow],
           deltas: Seq[RDD[InternalRow]], sizeInBytes: BigInt): DataFrame = {
    val rdd = if (deltas.isEmpty) base else new PiecesRDD(base, deltas)
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, LogicalRDD(output.map(_.newInstance()), rdd,
      UnknownPartitioning(rdd.getNumPartitions))(session, Some(Statistics(sizeInBytes)), None))
  }
}

/** Output partition `i` reads base partition `i`, then the delta
  * partitions dealt to it round-robin, in order: a narrow dependency on
  * every piece, no shuffle, no copy. */
private final class PiecesRDD(base: RDD[InternalRow], deltas: Seq[RDD[InternalRow]])
    extends RDD[InternalRow](base.sparkContext, Nil) {

  private val pieces: Seq[RDD[InternalRow]] = base +: deltas

  /** (piece, partition index) per output partition. */
  private val layout: Array[Array[(Int, Int)]] = {
    val n = base.getNumPartitions
    val dealt = deltas.zipWithIndex
      .flatMap { case (d, i) => (0 until d.getNumPartitions).map(j => (i + 1, j)) }
      .zipWithIndex.groupBy(_._2 % n).map { case (k, v) => k -> v.map(_._1) }
    Array.tabulate(n)(i => (0, i) +: dealt.getOrElse(i, Nil).toArray)
  }

  override protected def getDependencies: Seq[org.apache.spark.Dependency[_]] =
    pieces.indices.map { p =>
      new NarrowDependency(pieces(p)) {
        def getParents(partitionId: Int): Seq[Int] =
          layout(partitionId).collect { case (`p`, j) => j }.toSeq
      }
    }

  override protected def getPartitions: Array[Partition] =
    Array.tabulate(layout.length) { i =>
      PiecesPartition(i, layout(i).map { case (p, j) => (p, pieces(p).partitions(j)) })
    }

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] =
    split.asInstanceOf[PiecesPartition].parts.iterator.flatMap { case (p, part) =>
      pieces(p).iterator(part, context)
    }

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    split.asInstanceOf[PiecesPartition].parts.toSeq
      .flatMap { case (p, part) => pieces(p).preferredLocations(part) }.distinct
}

private final case class PiecesPartition(index: Int, parts: Array[(Int, Partition)])
    extends Partition
