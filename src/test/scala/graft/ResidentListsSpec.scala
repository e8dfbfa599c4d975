package graft

import graft.search._
import graft.sources.LocalArtifacts
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CacheIntrospect
import org.scalatest.funsuite.AnyFunSuite

/** Resident list tables ([[Serving.openLists]]): a load under the serving
  * budget answers row-for-row like the on-disk load above it — same ids,
  * same scores, same order — on every probe path of the three IVF tiers,
  * including after a persisted append and reload; and it serves from
  * pinned rows, not from a parquet scan, without a CacheManager entry. */
class ResidentListsSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)
  private val qs = QueryVectors.batch(4)
  private val Resident = Serving.BudgetBytes
  private val OnDisk = 0L

  private lazy val ivf = Ivf.build(emb, nlist = 8, maxIter = 5)
  private lazy val pq = Pq.build(emb, m = 8, kCodes = 16)

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  private def withDir[A](name: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    try body(dir) finally LocalArtifacts.deleteRecursively(new java.io.File(dir))
  }

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("IVF: resident and on-disk loads answer row-for-row equal") {
    withDir("resident-ivf") { dir =>
      ivf.write(dir)
      val (res, disk) = (Ivf.load(spark, dir, Resident), Ivf.load(spark, dir, OnDisk))
      for ((_, q) <- qs; nprobe <- Seq(1, 3, 8)) {
        assert(rows(res.search(q, nprobe, 10)) == rows(disk.search(q, nprobe, 10)))
        val lists = res.probes(q, nprobe)
        def scan(m: IvfModel) =
          VectorSearch.topKWithCount(m.indexed.where(col("list_id").isin(lists: _*)), q, 10)
        assert(scan(res) == scan(disk))
      }
      val many = Seq("qid", "rank")
      assert(rows(res.searchMany(qs, 3, 10).orderBy(many.map(col): _*)) ==
        rows(disk.searchMany(qs, 3, 10).orderBy(many.map(col): _*)))
    }
  }

  test("IVF-PQ: resident and on-disk loads answer row-for-row equal") {
    withDir("resident-ivfpq") { dir =>
      IvfPq.write(IvfPq.compose(ivf, pq), dir)
      val res = IvfPq.load(spark, dir, ivf, pq, Resident)
      val disk = IvfPq.load(spark, dir, ivf, pq, OnDisk)
      assert(res.listSizes == disk.listSizes)
      for ((_, q) <- qs; nprobe <- Seq(1, 3, 8)) {
        assert(rows(res.search(q, nprobe, 10, shortlist = 40)) ==
          rows(disk.search(q, nprobe, 10, shortlist = 40)))
        assert(rows(res.searchNoRefine(q, nprobe, 10)) == rows(disk.searchNoRefine(q, nprobe, 10)))
      }
      assert(rows(res.searchMany(qs, 3, 10, shortlist = 40)) ==
        rows(disk.searchMany(qs, 3, 10, shortlist = 40)))
    }
  }

  test("IVF-PQ residual: resident and on-disk loads answer row-for-row equal") {
    withDir("resident-ivfpqres") { dir =>
      IvfPqRes.write(IvfPqRes.build(ivf, m = 8, kCodes = 16), dir)
      val ivfDir = s"$dir/ivf"
      ivf.write(ivfDir)
      // each side serves its coarse quantizer (and so its refine corpus)
      // from the same kind of load as its codes
      val res = IvfPqRes.load(spark, dir, Ivf.load(spark, ivfDir, Resident), Resident)
      val disk = IvfPqRes.load(spark, dir, Ivf.load(spark, ivfDir, OnDisk), OnDisk)
      assert(res.listSizes == disk.listSizes)
      for ((_, q) <- qs; nprobe <- Seq(1, 3, 8)) {
        assert(rows(res.search(q, nprobe, 10, shortlist = 40)) ==
          rows(disk.search(q, nprobe, 10, shortlist = 40)))
        assert(rows(res.searchNoRefine(q, nprobe, 10)) == rows(disk.searchNoRefine(q, nprobe, 10)))
      }
      assert(rows(res.searchMany(qs, 3, 10, shortlist = 40)) ==
        rows(disk.searchMany(qs, 3, 10, shortlist = 40)))
    }
  }

  test("after appendToPath + reload, the appended vector ranks 1 on both loads") {
    // three corpus vectors come back as new rows, the first scaled ×3: as
    // a query it scores 9 against itself and at most 3 against any other
    // unit-norm row, so it must rank first wherever its list is probed
    val src = emb.orderBy("vec_id").limit(3).collect().map(_.getAs[Long]("vec_id"))
    val batch = emb.where(col("vec_id").isin(src: _*))
      .withColumn("embedding", when(col("vec_id") === src.head,
        transform(col("embedding"), x => x * lit(3.0f))).otherwise(col("embedding")))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val newId = src.head + 1000000L
    val q = batch.where(col("vec_id") === newId).select("embedding").as[Array[Float]].head()
    withDir("resident-append") { dir =>
      ivf.write(s"$dir/ivf")
      IvfPq.write(IvfPq.compose(ivf, pq), s"$dir/ivfpq")
      Ivf.appendToPath(ivf, batch, s"$dir/ivf")
      IvfPq.appendToPath(IvfPq.compose(ivf, pq), batch, s"$dir/ivfpq")
      val grown = pq.copy(corpus = emb.unionByName(batch))
      val Seq(res, disk) = Seq(Resident, OnDisk).map { b =>
        val i = Ivf.load(spark, s"$dir/ivf", b)
        (i, IvfPq.load(spark, s"$dir/ivfpq", i, grown, b))
      }
      assert(res._1.indexed.count() == emb.count() + 3)
      val ivfRes = rows(res._1.search(q, 2, 5))
      assert(ivfRes.head.getLong(0) == newId)
      assert(ivfRes == rows(disk._1.search(q, 2, 5)))
      val pqRes = rows(res._2.search(q, 2, 5, shortlist = 40))
      assert(pqRes.head.getLong(0) == newId)
      assert(pqRes == rows(disk._2.search(q, 2, 5, shortlist = 40)))
    }
  }

  test("a resident load takes its schema from the footer: the plain read's schema, one job (the pin)") {
    withDir("resident-schema") { dir =>
      ivf.write(s"$dir/ivf")
      IvfPq.write(IvfPq.compose(ivf, pq), s"$dir/ivfpq")
      IvfPqRes.write(IvfPqRes.build(ivf, m = 8, kCodes = 16), s"$dir/res")
      val sc = spark.sparkContext
      for ((table, i) <- Seq(s"$dir/ivf/data", s"$dir/ivfpq/codes", s"$dir/res/codes").zipWithIndex) {
        val group = s"resident-load-$i"
        sc.setJobGroup(group, "a resident load runs its pin job only")
        val df = try Serving.openLists(spark, table, Resident) finally sc.clearJobGroup()
        org.apache.spark.GraftListenerBus.drain(sc)
        assert(sc.statusTracker.getJobIdsForGroup(group).length == 1, table)
        assert(df.schema == spark.read.parquet(table).schema, table)
      }
    }
  }

  test("an under-budget load serves pinned rows: no parquet FileScan, no CacheManager entry") {
    withDir("resident-plan") { dir =>
      ivf.write(s"$dir/ivf")
      IvfPq.write(IvfPq.compose(ivf, pq), s"$dir/ivfpq")
      val before = CacheIntrospect.cachedCount(spark)
      val m = Ivf.load(spark, s"$dir/ivf")
      val c = IvfPq.load(spark, s"$dir/ivfpq", m, pq)
      assert(CacheIntrospect.cachedCount(spark) == before, "a resident load must not persist")
      val q = qs.head._2
      Seq(plan(m.search(q, 2, 5)), plan(m.searchMany(qs, 2, 5)),
        plan(c.searchNoRefine(q, 2, 5))).foreach { p =>
        assert(!p.contains("FileScan") && !p.contains("Scan parquet"), p)
        assert(p.contains("Scan ExistingRDD"), p)
      }
      // the files are read once, at load: deleting them leaves the model serving
      LocalArtifacts.deleteRecursively(new java.io.File(s"$dir/ivf/data"))
      assert(m.search(q, 8, 5).count() == 5)
    }
  }
}
