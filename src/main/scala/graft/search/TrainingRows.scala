package graft.search

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, shiftrightunsigned, xxhash64}

/** The rows a quantizer trains on, fixed by the rows themselves. A
  * positional `sample(fraction, seed)` draws per scan partition, and a
  * collect or a k-means init follows scan order: both change with the
  * table's file names, counts and listing order, so the same corpus
  * written twice trained two different models. Here the sample is chosen
  * by a hash of (vec_id, seed) and the fits see the rows in vec_id order
  * ([[Ivf.build]], [[Pq.build]], [[Sq.build]], [[IvfPqRes.build]]). */
private[search] object TrainingRows {

  /** `emb` when it has at most `maxRows` of its `n` rows, else about
    * `maxRows` of them: those whose hash of (vec_id, seed) falls in the
    * first `maxRows / n` of the hash range. */
  def sample(emb: DataFrame, n: Long, maxRows: Long, seed: Long): DataFrame =
    if (n <= maxRows) emb
    else emb.where(shiftrightunsigned(xxhash64(col("vec_id"), lit(seed)), 11).cast("double") <
      lit(maxRows.toDouble / n * (1L << 53)))

  /** `train` (about `rows` rows) for a distributed fit: hash partitioned by
    * vec_id into one partition per [[RowsPerPartition]] rows, sorted by
    * vec_id within each — a layout fixed by the row set. */
  def partitioned(train: DataFrame, rows: Long): DataFrame =
    train.repartition(math.max(1L, (rows + RowsPerPartition - 1) / RowsPerPartition).toInt, col("vec_id"))
      .sortWithinPartitions("vec_id")

  /** Training rows per k-means partition: a 1M-row sample trains on 100
    * tasks, a sample of at most 10,000 rows on one, in vec_id order. */
  val RowsPerPartition = 10000L
}
