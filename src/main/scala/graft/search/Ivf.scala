package graft.search

import graft.functions.VectorFunctions._
import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-Flat index for inner-product search, Spark-native.
  *
  * Mirrors the reference's FAISS IndexIVFFlat(IP) path
  * (src/dataio/loaders.py:141 `_build_faiss_ivf_ip`, nlist≈√N clamped
  * [64,4096], nprobe default 32): k-means centroids partition the vectors
  * into nlist inverted lists; a query probes only the nprobe nearest lists.
  *
  * Spark mapping:
  *  - train: MLlib KMeans on a sample (at 100 TB, a ~1M-row sample is
  *    plenty — centroid quality converges far below full-data cost);
  *  - assign: one narrow map with the codegen'd ArgMaxDotF32 expression
  *    against broadcast centroid literals — no shuffle;
  *  - store: `write()` partitions the indexed table BY list_id, so probing
  *    nprobe/nlist lists is a partition-PRUNED scan (the 100 TB win);
  *  - probe: centroid ranking is O(nlist·D) driver math on the broadcast
  *    centroids, then a pruned scan + brute-force top-K within the lists.
  */
final case class IvfModel(centroids: Array[Array[Float]], indexed: DataFrame) {

  /** Probe list ids for a query vector: top-nprobe centroids by IP. */
  def probes(qvec: Array[Float], nprobe: Int): Seq[Int] = {
    val scores = centroids.map { c =>
      var acc = 0.0; var i = 0
      while (i < c.length && i < qvec.length) { acc += c(i).toDouble * qvec(i).toDouble; i += 1 }
      acc
    }
    scores.zipWithIndex.sortBy { case (s, i) => (-s, i) }.take(nprobe).map(_._2).toSeq
  }

  /** Top-K IP search probing nprobe lists, optional extra predicate. */
  def search(qvec: Array[Float], nprobe: Int, k: Int,
             pred: Option[Column] = None): DataFrame = {
    val lists = probes(qvec, nprobe)
    val base = indexed.where(col("list_id").isin(lists: _*))
    VectorSearch.topK(pred.map(base.where).getOrElse(base), qvec, k)
  }

  /** Batched top-K: ALL queries answered from ONE scan pruned to the
    * UNION of their probed lists, per-query list membership enforced
    * row-locally inside the kNN join's bounded heaps. Equivalent to
    * `search` per query (spec-pinned) but pays one job and one pruned
    * scan instead of |queries| — at scale, the difference between
    * probing nprobe/nlist of the data once and |Q| times. Returns
    * (qid, rank, vec_id, score). */
  def searchMany(queries: Seq[(Long, Array[Float])], nprobe: Int, k: Int): DataFrame = {
    val perQ = queries.map { case (qid, v) => qid -> probes(v, nprobe).toSet }
    val union = perQ.flatMap(_._2).distinct
    val pruned = indexed.where(col("list_id").isin(union: _*))
    VectorSearch.knnJoin(pruned, queries, k, allowedLists = Some(perQ.toMap))
  }

  /** Incremental add — the FAISS `add_with_ids` twin and the vector-side
    * dedup_incremental shape: assign the new batch to the EXISTING
    * centroids (one narrow codegen pass against the broadcast centroid
    * literals — no retraining, no shuffle, resident rows untouched) and
    * serve the union. Probing is centroid-driven, so search over the
    * appended model is exactly search over a same-centroid index that
    * contained the batch all along (spec-pinned: full-probe search ≡
    * exact top-k over the union; appends compose associatively).
    * Centroid drift under distribution shift is a rebuild-cadence
    * decision, as with FAISS. */
  def append(batch: DataFrame): IvfModel =
    copy(indexed = indexed.unionByName(assign(batch)))

  /** Deletion (FAISS remove_ids twin): serve the index MINUS the given
    * ids — one LEFT ANTI join on the key, which at persisted scale is
    * the standard lakehouse tombstone pattern (keep a deleted-ids table,
    * anti-join at serve time, compact the partitions on whatever cadence
    * rewrites are worth it — a partitioned parquet table has no in-place
    * delete). Centroids are untouched: removing members never invalidates
    * the quantizer, it only empties lists. */
  def remove(ids: DataFrame): IvfModel =
    copy(indexed = indexed.join(
      ids.select(col("vec_id")), Seq("vec_id"), "left_anti"))

  /** The batch with its nearest-centroid `list_id` — the assignment half
    * of append, exposed so composed indexes (IVFPQ) can encode the same
    * assignment without re-deriving it. */
  def assign(batch: DataFrame): DataFrame = {
    val centsLit = typedlit(centroids.map(_.toSeq).toSeq)
    batch.withColumn("list_id", argMaxDot(col("embedding"), centsLit))
  }

  /** Index-health report: inverted-list size distribution in ONE
    * map-side-combined aggregate — empty/overfull lists are what make
    * nprobe recall collapse, so this is the check an operator runs before
    * trusting an index (the reference prints nlist/nprobe at build time;
    * loaders.py:141). */
  def stats: DataFrame = {
    val sizes = indexed.groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
    sizes.agg(
      count(lit(1)).as("nonempty_lists"),
      lit(centroids.length).as("nlist"),
      min(col("sz")).as("min_sz"),
      max(col("sz")).as("max_sz"),
      round(avg(col("sz")), 6).as("avg_sz"),
      sum(col("sz")).as("n_vectors"))
  }

  /** Persist the index: vectors partitioned by list_id (→ probe-time
    * partition pruning) plus the centroid table, so a later JVM can
    * `Ivf.load(spark, path)` without retraining. */
  def write(path: String): Unit = {
    // cluster rows by list before the partitioned write: without this every
    // upstream task writes a file into every list directory (tasks × nlist
    // small files — a metadata storm at any scale); with it each list's
    // rows land in O(1) files
    indexed.repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(s"$path/data")
    val spark = indexed.sparkSession
    import spark.implicits._
    centroids.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("list_id", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centroids")
  }
}

object Ivf {

  /** nlist heuristic ≈ √N clamped [64, 4096] (reference loaders.py:170). */
  def pickNlist(n: Long): Int =
    math.max(64, math.min(4096, math.sqrt(n.toDouble).toInt))

  /** The index fallback chain's decision (reference loaders.py:123-165:
    * IVF → HNSW → Exact). */
  sealed trait AnnChoice
  final case class UseIvf(model: IvfModel) extends AnnChoice
  final case class UseLsh(planes: Array[Array[Float]]) extends AnnChoice
  case object UseExact extends AnnChoice

  /** Pick the index tier for a corpus (reference loaders.py:123-165 —
    * FAISS IVF, falling back to HNSW, falling back to exact):
    *  - IVF when the corpus supports ≥ minPerList points per centroid;
    *  - cosine-LSH buckets (the mid-tier, standing in for the reference's
    *    HNSW — same role: sublinear candidates without k-means training)
    *    when the corpus is too small/skewed for IVF but large enough that
    *    bucket pruning still beats a brute-force scan;
    *  - the exact TakeOrdered scan below `lshMinRows`, where it IS the
    *    right plan. */
  def choose(emb: DataFrame, minPerList: Int = 8, lshMinRows: Long = 1024,
             seed: Long = 42L): AnnChoice = {
    val n = emb.count()
    val nlist = pickNlist(n)
    if (n >= nlist.toLong * minPerList) UseIvf(build(emb, nlist, seed))
    else if (n >= lshMinRows) {
      val dim = emb.select(size(col("embedding"))).first().getInt(0)
      UseLsh(CosineLsh.planes(dim, CosineLsh.pickBits(n), seed))
    } else UseExact
  }

  /** IVF-or-nothing view of the chain (callers that handle their own
    * exact fallback, e.g. a forced-IVF backend). */
  def auto(emb: DataFrame, minPerList: Int = 8, seed: Long = 42L): Option[IvfModel] = {
    val n = emb.count()
    val nlist = pickNlist(n)
    if (n < nlist.toLong * minPerList) None
    else Some(build(emb, nlist, seed))
  }

  /** Build: k-means on a BOUNDED SAMPLE of the embeddings (capped at
    * `maxTrainRows` — at 100 TB a ~1M-row sample converges to the same
    * centroid quality at a vanishing fraction of full-data training cost),
    * then assign every vector to its nearest centroid. Deterministic under
    * a fixed seed. */
  def build(emb: DataFrame, nlist: Int, seed: Long = 42L,
            maxIter: Int = 20, maxTrainRows: Long = 1000000L): IvfModel = {
    val n = emb.count()
    val train0 = if (n <= maxTrainRows) emb
                 else emb.sample(maxTrainRows.toDouble / n, seed)
    val train = train0.select(array_to_vector(col("embedding")).as("features"))
    val km = new KMeans()
      .setK(nlist).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features")
      .fit(train)
    val cents = km.clusterCenters.map(_.toArray.map(_.toFloat))
    val centsLit = typedlit(cents.map(_.toSeq).toSeq)
    val indexed = emb.withColumn("list_id", argMaxDot(col("embedding"), centsLit))
    IvfModel(cents, indexed)
  }

  /** Load a persisted index: centroids (tiny — nlist ≤ 4096) + the
    * list_id-partitioned vector table, partition-pruned at probe time. */
  def load(spark: SparkSession, path: String): IvfModel = {
    val cents = spark.read.parquet(s"$path/centroids")
      .orderBy("list_id").collect()
      .map(_.getAs[scala.collection.Seq[Float]]("centroid").toArray)
    IvfModel(cents, spark.read.parquet(s"$path/data"))
  }

  /** Persisted append — the warehouse-table form of IvfModel.append: the
    * batch's centroid assignments land as NEW files under their list_id
    * partition directories (mode append never rewrites resident files),
    * so the next `load` serves resident ∪ batch with the same partition
    * pruning. The clustering repartition keeps each touched list's new
    * rows in O(1) files (IvfModel.write discipline). Concurrent appends
    * of the SAME batch would duplicate rows — idempotence belongs to the
    * ingest coordinator (e.g. streaming's exactly-once foreachBatch),
    * same as any warehouse append. */
  def appendToPath(model: IvfModel, batch: DataFrame, path: String): Unit =
    model.assign(batch).repartition(col("list_id"))
      .write.mode("append").partitionBy("list_id").parquet(s"$path/data")

  private val store = new graft.ArtifactStore.Family[IvfModel](
    "ivf", "data/_SUCCESS", "centroids/_SUCCESS")

  /** The shared persisted index of a corpus ([[graft.ArtifactStore]]
    * entry per corpus key, source stamp and `maxIter`): both the
    * registered vec_ivf_* queries and the harness "ivf" backend resolve
    * here, so they probe the SAME partition-pruned on-disk index, trained
    * at most once across all JVMs on the machine and loaded at most once
    * per process. `knownTotal` skips the count job a build needs when the
    * caller already has it. */
  def cached(spark: SparkSession, emb: DataFrame, corpusKey: String,
             maxIter: Int = 10, knownTotal: Option[Long] = None): IvfModel =
    store(emb, corpusKey, s"i$maxIter")(path =>
      build(emb, pickNlist(knownTotal.getOrElse(emb.count())), maxIter = maxIter)
        .write(path))(load(spark, _))
}

/** Cosine LSH (random hyperplanes): deterministic seeded planes; bucket =
  * packed sign bits. Candidates = exact-bucket match (optionally hamming-1
  * multiprobe); final ranking is exact IP within candidates.
  */
object CosineLsh {

  /** Plane count sized to the corpus: ~n/64 per bucket — enough pruning
    * to matter, buckets stay populated. Clamped [4, 16]. */
  def pickBits(n: Long): Int =
    math.min(16, math.max(4, (math.log(n.toDouble / 64) / math.log(2)).round.toInt))

  /** Deterministic gaussian hyperplanes. */
  def planes(dim: Int, bits: Int, seed: Long = 42L): Array[Array[Float]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(bits)(Array.fill(dim)(rng.nextGaussian().toFloat))
  }

  def withBucket(emb: DataFrame, planes: Array[Array[Float]]): DataFrame =
    emb.withColumn("bucket",
      hyperplaneSignature(col("embedding"), typedlit(planes.map(_.toSeq).toSeq)))

  /** Signature of a local query vector (same math as the expression). */
  def signature(qvec: Array[Float], planes: Array[Array[Float]]): Long = {
    var sig = 0L
    var j = 0
    while (j < planes.length && j < 64) {
      var acc = 0.0; var i = 0
      val p = planes(j)
      while (i < p.length && i < qvec.length) { acc += qvec(i).toDouble * p(i).toDouble; i += 1 }
      if (acc > 0.0) sig |= (1L << j)
      j += 1
    }
    sig
  }

  /** Buckets within hamming distance 1 of sig (multiprobe). */
  def multiprobe(sig: Long, bits: Int): Seq[Long] = multiprobe(sig, bits, 1)

  /** Buckets within hamming distance `radius` of sig — the recall dial
    * (the reference tunes its graph index the same way: ef_search=64,
    * loaders.py). Probe sets NEST as radius grows (0 ⊂ 1 ⊂ 2), so recall
    * is monotone in the radius by construction, at candidate cost
    * ≈ N·Σᵢ₌₀..r C(bits,i)/2^bits per query. */
  def multiprobe(sig: Long, bits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, s"probe radius must be 0..2, got $radius")
    val r1 = (0 until bits).map(b => sig ^ (1L << b))
    val r2 = for { a <- 0 until bits; b <- (a + 1) until bits }
      yield sig ^ (1L << a) ^ (1L << b)
    radius match {
      case 0 => Seq(sig)
      case 1 => sig +: r1
      case 2 => (sig +: r1) ++ r2
    }
  }

  /** Top-K within the query's buckets at the given multiprobe radius. */
  def search(emb: DataFrame, qvec: Array[Float],
             planes: Array[Array[Float]], k: Int, probeRadius: Int = 1): DataFrame = {
    val sig = signature(qvec, planes)
    val buckets = multiprobe(sig, planes.length, probeRadius)
    val bucketed = withBucket(emb, planes).where(col("bucket").isin(buckets: _*))
    VectorSearch.topK(bucketed, qvec, k)
  }

  /** T independent plane sets with prefix-nested seeds: `tables(n)` is a
    * prefix of `tables(m)` for n < m, so recall is monotone in the table
    * count by construction (candidate sets nest), like the radius. */
  def tables(dim: Int, bits: Int, nTables: Int, seed: Long = 42L): Seq[Array[Array[Float]]] =
    (0 until nTables).map(t => planes(dim, bits, seed + t))

  /** Multi-table top-K — the second axis of the recall dial (classic LSH
    * amplification: a true neighbour is missed only if it misses EVERY
    * table, so recall ≈ 1−(1−p)^T at T× candidate cost). One scan: each
    * table contributes a row-local signature column, the filter is the
    * OR of the per-table bucket probes. */
  def searchMulti(emb: DataFrame, qvec: Array[Float],
                  tbls: Seq[Array[Array[Float]]], k: Int,
                  probeRadius: Int = 1): DataFrame = {
    require(tbls.nonEmpty, "at least one table")
    val withSigs = tbls.zipWithIndex.foldLeft(emb) { case (df, (p, t)) =>
      df.withColumn(s"_b$t",
        hyperplaneSignature(col("embedding"), typedlit(p.map(_.toSeq).toSeq)))
    }
    val pred = tbls.zipWithIndex.map { case (p, t) =>
      val buckets = multiprobe(signature(qvec, p), p.length, probeRadius)
      col(s"_b$t").isin(buckets: _*)
    }.reduce(_ || _)
    VectorSearch.topK(withSigs.where(pred), qvec, k)
  }
}
