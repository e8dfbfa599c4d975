package graft

import org.scalatest.funsuite.AnyFunSuite

/** Spec-pins [[ArtifactStore.Memo]] — the shared staleness guard behind every
  * dir-keyed memo (r17 verdict #4: the bucketed-table caches were
  * dir-keyed while rowCount was already mtime-guarded, so an in-process
  * regeneration of a source table could serve a stale co-located table
  * whose SIZES were current but whose DATA was not). Unit semantics
  * first, then the verdict's exact scenario against a regenerated temp
  * documents table.
  */
class MtimeCacheSpec extends AnyFunSuite {

  test("same mtime memoizes; changed mtime recomputes and replaces the entry") {
    val c = new ArtifactStore.Memo[Int]
    var builds = 0
    def build: Int = { builds += 1; builds }
    assert(c("k", 1L)(build) == 1)
    assert(c("k", 1L)(build) == 1, "unchanged mtime must serve the memo")
    assert(builds == 1)
    assert(c("k", 2L)(build) == 2, "changed mtime must recompute")
    assert(c("k", 2L)(build) == 2)
    assert(builds == 2)
    // one entry per key: returning to a previously-seen mtime recomputes
    // (the stale entry was REPLACED, never accumulated beside the new one)
    assert(c("k", 1L)(build) == 3)
    assert(builds == 3)
  }

  test("keys are independent") {
    val c = new ArtifactStore.Memo[String]
    assert(c("a", 1L)("va") == "va")
    assert(c("b", 1L)("vb") == "vb")
    assert(c("a", 1L)(fail("memo for a must survive b's insert")) == "va")
  }

  test("regenerating documents in-process rebuilds the bucketed simhash chunk table") {
    val s = SparkTest.session
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-mtime-spec")
      .toFile.getAbsolutePath

    // force each generation's table mtime STRICTLY past the previous one:
    // a fast test can regenerate within the filesystem's timestamp
    // granularity, which would defeat any mtime guard (not just this one)
    var stamp = System.currentTimeMillis()
    def writeDocs(docs: Seq[(Long, String)]): Unit = {
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      stamp += 4000
      val tbl = new java.io.File(s"$dir/documents.parquet")
      assert(tbl.setLastModified(stamp))
      tbl.listFiles().foreach(f => f.setLastModified(stamp))
    }
    def expectedChunkRows(): Long = {
      val docs = Tables.documents(s, dir)
      graft.dedup.Dedup.signatureChunks(
        graft.dedup.Dedup.simhashSignatures(docs)
          .select(org.apache.spark.sql.functions.col("sig")).distinct()).count()
    }

    writeDocs((0L until 24L).map(i => i -> s"alpha beta gamma delta tok$i x${i % 7}"))
    val t1 = graft.queries.DedupQueries.simhashChunkTable(s, dir)
    val n1 = s.table(t1).count()
    assert(n1 == expectedChunkRows())

    // the verdict-#4 scenario: regenerate the source, call the SAME
    // entry point — the served table must reflect the NEW corpus
    writeDocs((0L until 5L).map(i => i -> s"omega psi chi phi up$i"))
    val t2 = graft.queries.DedupQueries.simhashChunkTable(s, dir)
    val n2 = s.table(t2).count()
    assert(n2 == expectedChunkRows(), "rebuilt table must match the new corpus")
    assert(n2 != n1, "a stale memo would have served the old corpus' rows")
  }

  test("dropSiblings GCs the previous bucket-count generation, nothing else (r18 advice)") {
    val s = SparkTest.session
    import s.implicits._
    val df = (0L until 20L).map(i => i -> s"v$i").toDF("k", "v")
    // two generations of the same layout family + one unrelated family
    graft.sources.Bucketing.writeBucketed(df, "graft_b8_mtspec_fam_x", "k", 8)
    graft.sources.Bucketing.writeBucketed(df, "graft_b16_mtspec_fam_x", "k", 16)
    graft.sources.Bucketing.writeBucketed(df, "graft_b8_mtspec_other_x", "k", 8)
    graft.sources.Bucketing.dropSiblings(s, "mtspec_fam_x", "graft_b16_mtspec_fam_x")
    // the old generation is gone from the catalog AND the warehouse dir
    assert(!s.catalog.tableExists("graft_b8_mtspec_fam_x"))
    val wh = graft.sources.LocalArtifacts.asFile(s.conf.get("spark.sql.warehouse.dir"))
    assert(!new java.io.File(wh, "graft_b8_mtspec_fam_x").exists())
    // the kept generation and the unrelated family are untouched
    assert(s.table("graft_b16_mtspec_fam_x").count() == 20)
    assert(s.table("graft_b8_mtspec_other_x").count() == 20)
    s.sql("DROP TABLE IF EXISTS `graft_b16_mtspec_fam_x`")
    s.sql("DROP TABLE IF EXISTS `graft_b8_mtspec_other_x`")
  }
}
