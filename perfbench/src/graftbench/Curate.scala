package graftbench

import graft.dedup.Dedup
import graft.operators.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Batch near-duplicate curation at `tau` of a document corpus: exact
  * dedup, the pinned MinHash band table, LSH pair mining and clusters,
  * each stage forced and timed, every answer checked against the
  * benchmark's exhaustive oracle over `docs`. */
final class Curation(ctx: Ctx, docs: Array[(Long, String)], tau: Double) {
  import ctx.spark.implicits._

  private val sets = docs.map { case (id, t) => id -> Oracle.tokenSet(t) }.toMap
  private val truth = Oracle.jaccardPairs(docs, tau)
  private val exactDups = docs.groupBy(_._2).values.map(_.length - 1L).sum

  /** Curate `df` (the same documents as `docs`). Returns the pinned band
    * table, which incremental ingest mines against, and the layer
    * metrics of the pass. A wrong answer counts as a failed operation. */
  def run(df: DataFrame): (DataFrame, Map[String, Double]) = {
    var secs = Map.empty[String, Double]
    def stage[A](name: String)(body: => A): A = {
      val (r, s) = ctx.secs(ctx.tracer.span(s"dedup.$name")(body))
      secs += name -> s
      r
    }
    val removed = stage("exact")(Dedup.exact(df).agg(sum(col("n") - 1)).first().getLong(0))
    val (bands, collisions) = stage("bands") {
      val b = Pin(Dedup.minhashBands(df))
      (b, b.groupBy("band", "key").count()
        .agg(sum(col("count") * (col("count") - 1) / 2)).first().getDouble(0))
    }
    val pairs = stage("mine")(Dedup.minhashLshPairs(df, tau).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    val labels = stage("clusters")(Dedup.clusters(
      pairs.toSeq.map(p => (p._1, p._2)).toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)

    val mined = pairs.map(p => (p._1, p._2)).toSet
    val pairsOk = pairs.forall { case (a, b, jac) =>
      val j = Oracle.jaccard(sets(a), sets(b))
      a < b && j >= tau && math.abs(j - jac) < 1e-6
    }
    ctx.verify("curation", removed == exactDups && pairsOk && labels == Oracle.components(mined))
    (bands, secs.map { case (s, t) => s"dedup.${s}_s" -> t } ++ Map(
      "dedup.band_collisions" -> collisions,
      "dedup.verify_yield" -> (if (collisions > 0) pairs.length / collisions else 0.0),
      "dedup.docs_per_s" -> docs.length / secs.values.sum,
      "dedup.pair_recall" -> (if (truth.isEmpty) 1.0 else truth.count(mined).toDouble / truth.size)))
  }
}
