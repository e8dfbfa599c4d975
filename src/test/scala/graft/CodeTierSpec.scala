package graft

import graft.search.{Bq, CodeTier, QueryVectors}
import graft.functions.VectorFunctions.bqHamming
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.search.CodeTier]] is the one shortlist-and-refine path of the
  * compressed tiers: a tier supplies its scan, the module ranks, cuts and
  * refines. */
class CodeTierSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  test("bq's −hamming scan ranks exactly as ascending hamming, vec_id tiebreak") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val model = Bq.build(emb)
    val q = QueryVectors.qvec(3)
    val byHamming = model.codes
      .select(col("vec_id"), bqHamming(col("bq_codes"), model.encodeQuery(q)).as("h"))
      .orderBy(col("h"), col("vec_id")).limit(60)
      .collect().map(_.getLong(0)).toSeq
    assert(CodeTier.shortlistIds(model.scan(q), 60).toSeq == byHamming)
  }

  /** `file:line` of every line under src/main/scala that contains `needle`. */
  private def sourceHits(needle: String): Seq[String] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    for {
      f <- walk(root)
      (line, i) <- scala.io.Source.fromFile(f, "UTF-8").getLines().zipWithIndex.toSeq
      if line.contains(needle)
    } yield s"${f.getName}:${i + 1}"
  }

  test("the shortlist ranking lives only in CodeTier") {
    val hits = sourceHits("desc(\"adc_score\")")
    assert(hits.nonEmpty && hits.forall(_.startsWith("CodeTier.scala:")), hits)
    // the same guard for the request path: the post-filter ladder's
    // filter-derived pass column is fetched only in VectorSearch, and a
    // spec becomes a RAM label predicate only where it is defined and at
    // the one resolution site
    val pass = sourceHits("withColumn(\"pass\", coalesce(")
    assert(pass.nonEmpty && pass.forall(_.startsWith("VectorSearch.scala:")), pass)
    val label = sourceHits("labelPredicate(")
    assert(label.exists(_.startsWith("ResolvedFilter.scala:")) &&
      label.forall(h => h.startsWith("RamCorpus.scala:") || h.startsWith("ResolvedFilter.scala:")),
      label)
  }
}
