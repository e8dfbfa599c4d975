package graft

import graft.operators.Pin
import graft.search._
import graft.sources.{Compaction, LocalArtifacts}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PinnedScan
import org.scalatest.funsuite.AnyFunSuite

/** Delta pins ([[Serving.openLists]]): after persisted appends, a resident
  * reload pins only the new files and serves them with the earlier pieces
  * as one scan — and that frame is a fresh full pin in every observable
  * way: rows, answers, partition count, plan leaves. A released piece, a
  * rewritten file or outgrown deltas make the reload pin the whole table
  * again. Also the one list-partitioned writer ([[Serving.writeLists]]). */
class DeltaPinSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session

  private val sf = "/root/testdata/sf0.001"
  private lazy val emb = Tables.embeddings(spark, sf)
  private val qs = QueryVectors.batch(4)
  private val OnDisk = 0L

  private lazy val ivf = Ivf.build(emb, nlist = 8, maxIter = 5)
  private lazy val pq = Pq.build(emb, m = 8, kCodes = 16)

  /** Batch `b`: a fortieth of the corpus under new ids. */
  private def batch(b: Int): DataFrame =
    emb.where(pmod(col("vec_id"), lit(40)) === b).withColumn("vec_id", col("vec_id") + (b + 1) * 1000000L)

  private def withDir[A](name: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    try body(dir) finally LocalArtifacts.deleteRecursively(new java.io.File(dir))
  }

  private def stage(dir: String): Unit = {
    ivf.write(s"$dir/ivf")
    IvfPq.write(IvfPq.compose(ivf, pq), s"$dir/ivfpq")
  }

  /** One ingest: the batch appended to both tables. */
  private def append(dir: String, b: Int): Unit = {
    Ivf.appendToPath(ivf, batch(b), s"$dir/ivf")
    IvfPq.appendToPath(IvfPq.compose(ivf, pq), batch(b), s"$dir/ivfpq")
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case x => String.valueOf(x)
    }.mkString("|")).sorted.toSeq

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The RDD a served frame scans, and the pinned pieces under it. */
  private def served(df: DataFrame): RDD[_] = PinnedScan.piece(df).rdd
  private def isDelta(df: DataFrame): Boolean = served(df).getClass.getSimpleName == "PiecesRDD"
  private def pieces(df: DataFrame): Seq[RDD[_]] =
    if (isDelta(df)) served(df).dependencies.map(_.rdd) else Seq(served(df))

  /** Keeps `models` strongly reachable up to this call: the memo holds
    * pinned pieces weakly, and a piece no live frame serves may be
    * collected, after which the next load pins the whole table again. */
  private def held(models: AnyRef*): Unit = java.lang.ref.Reference.reachabilityFence(models)

  private def jobsOf(group: String)(body: => Any): Seq[Int] = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    org.apache.spark.GraftListenerBus.drain(sc)
    sc.statusTracker.getJobIdsForGroup(group).toSeq
  }

  test("n append+reload cycles: the delta-served table is a fresh full pin, on every probe path") {
    withDir("delta-cycles") { dir =>
      stage(dir)
      var last: Seq[AnyRef] = Seq(Ivf.load(spark, s"$dir/ivf"), IvfPq.load(spark, s"$dir/ivfpq", ivf, pq))
      var deltas = 0
      for (b <- 0 until 6) {
        append(dir, b)
        val grown = pq.copy(corpus = (0 to b).map(batch).foldLeft(emb)(_ unionByName _))
        val m = Ivf.load(spark, s"$dir/ivf")
        val c = IvfPq.load(spark, s"$dir/ivfpq", m, grown)
        val fresh = IvfModel(m.centroids, Pin(spark.read.parquet(s"$dir/ivf/data")))
        val freshC = IvfPqModel(fresh, grown, Pin(spark.read.parquet(s"$dir/ivfpq/codes")))
        val disk = Ivf.load(spark, s"$dir/ivf", OnDisk)
        val diskC = IvfPq.load(spark, s"$dir/ivfpq", disk, grown, OnDisk)
        assert(multiset(m.indexed) == multiset(fresh.indexed), s"cycle $b")
        assert(multiset(c.coded) == multiset(freshC.coded), s"cycle $b")
        assert(m.indexed.schema == fresh.indexed.schema && c.coded.schema == freshC.coded.schema)
        for ((_, q) <- qs) {
          val want = rows(disk.search(q, 3, 10))
          assert(rows(m.search(q, 3, 10)) == want && rows(fresh.search(q, 3, 10)) == want, s"cycle $b")
          val lists = m.probes(q, 3)
          def scan(x: IvfModel) =
            VectorSearch.topKWithCount(x.indexed.where(col("list_id").isin(lists: _*)), q, 10)
          assert(scan(m) == scan(disk))
          val wantC = rows(diskC.search(q, 3, 10, shortlist = 40))
          assert(rows(c.search(q, 3, 10, shortlist = 40)) == wantC &&
            rows(freshC.search(q, 3, 10, shortlist = 40)) == wantC, s"cycle $b")
        }
        assert(rows(m.searchMany(qs, 3, 10).orderBy("qid", "rank")) ==
          rows(disk.searchMany(qs, 3, 10).orderBy("qid", "rank")))
        assert(c.listSizes == diskC.listSizes)
        // one scan leaf over pinned rows, with the base's partition count
        for (df <- Seq(m.indexed, c.coded, m.indexed.where(col("list_id").isin(0, 3)))) {
          val leaves = df.queryExecution.executedPlan.collectLeaves()
          assert(leaves.map(_.nodeName) == Seq("Scan ExistingRDD"), df.queryExecution.executedPlan)
          assert(!df.queryExecution.executedPlan.toString.contains("Union"))
        }
        for (df <- Seq(m.indexed, c.coded) if isDelta(df)) {
          deltas += 1
          assert(served(df).getNumPartitions == pieces(df).head.getNumPartitions)
          assert(df.queryExecution.toRdd.getNumPartitions == pieces(df).head.getNumPartitions)
        }
        held(last: _*)
        last = Seq(m, c)
      }
      held(last: _*)
      assert(deltas >= 4, s"only $deltas of 12 reloads were served as deltas")
    }
  }

  test("a reload after every pinned piece is released pins the table again and answers correctly") {
    withDir("delta-released") { dir =>
      stage(dir)
      val m0 = Ivf.load(spark, s"$dir/ivf")
      append(dir, 0)
      val m = Ivf.load(spark, s"$dir/ivf")
      assert(isDelta(m.indexed))
      held(m0)
      // what a benchmark's between-reps release does: clear the cache and
      // unpersist every pinned RDD (here, every piece of this table)
      spark.catalog.clearCache()
      pieces(m.indexed).foreach(_.unpersist(blocking = true))
      for (grow <- Seq(false, true)) {
        if (grow) append(dir, 1)
        val again = Ivf.load(spark, s"$dir/ivf")
        assert(!isDelta(again.indexed), "a released piece must not be served")
        val disk = Ivf.load(spark, s"$dir/ivf", OnDisk)
        for ((_, q) <- qs) assert(rows(again.search(q, 8, 10)) == rows(disk.search(q, 8, 10)))
        pieces(again.indexed).foreach(_.unpersist(blocking = true))
      }
    }
  }

  test("a rewritten file or outgrown deltas pin the whole table as a new base") {
    withDir("delta-repin") { dir =>
      stage(dir)
      val m0 = Ivf.load(spark, s"$dir/ivf")
      append(dir, 0)
      assert(isDelta(Ivf.load(spark, s"$dir/ivf").indexed))
      held(m0)
      Compaction.compactPartitioned(spark, s"$dir/ivf/data", "list_id")
      val compacted = Ivf.load(spark, s"$dir/ivf")
      assert(!isDelta(compacted.indexed))
      val disk = Ivf.load(spark, s"$dir/ivf", OnDisk)
      for ((_, q) <- qs) assert(rows(compacted.search(q, 8, 10)) == rows(disk.search(q, 8, 10)))
      // a batch twice the table's size: its bytes pass the base's
      Ivf.appendToPath(ivf, emb.withColumn("vec_id", col("vec_id") + 5000000L)
        .unionByName(emb.withColumn("vec_id", col("vec_id") + 6000000L)), s"$dir/ivf")
      val tripled = Ivf.load(spark, s"$dir/ivf")
      assert(!isDelta(tripled.indexed))
      assert(tripled.indexed.count() == 3 * emb.count() + batch(0).count())
    }
  }

  test("resident storage after n cycles stays within twice one full pin") {
    withDir("delta-storage") { dir =>
      stage(dir)
      var m = Ivf.load(spark, s"$dir/ivf")
      for (b <- 0 until 6) { Ivf.appendToPath(ivf, batch(b), s"$dir/ivf"); m = Ivf.load(spark, s"$dir/ivf") }
      val sc = spark.sparkContext
      def memBytes(rdds: Seq[RDD[_]]): Long = {
        val ids = rdds.map(_.id).toSet
        sc.getRDDStorageInfo.filter(i => ids(i.id)).map(_.memSize).sum
      }
      val full = Pin(spark.read.parquet(s"$dir/ivf/data"))
      val one = memBytes(Seq(served(full)))
      assert(one > 0)
      assert(memBytes(pieces(m.indexed)) <= 2 * one, s"${memBytes(pieces(m.indexed))} vs $one")
    }
  }

  test("a warm load starts no job beyond its delta pin, and listSizes no shuffle") {
    withDir("delta-jobs") { dir =>
      stage(dir)
      val m0 = Ivf.load(spark, s"$dir/ivf")
      val c0 = IvfPq.load(spark, s"$dir/ivfpq", m0, pq)
      append(dir, 0)
      // the centroids come from the memo; the new files are the one job
      var m: IvfModel = null
      assert(jobsOf("delta-load") { m = Ivf.load(spark, s"$dir/ivf") }.length == 1)
      assert(jobsOf("unchanged-load") { m = Ivf.load(spark, s"$dir/ivf") }.isEmpty)
      var c: IvfPqModel = null
      assert(jobsOf("delta-codes") { c = IvfPq.load(spark, s"$dir/ivfpq", m, pq) }.length == 1)
      assert(jobsOf("unchanged-codes") { c = IvfPq.load(spark, s"$dir/ivfpq", m, pq) }.isEmpty)
      held(m0, c0)
      val sizesJobs = jobsOf("list-sizes")(c.listSizes)
      val sc = spark.sparkContext
      assert(sizesJobs.nonEmpty &&
        sizesJobs.forall(j => sc.statusTracker.getJobInfo(j).get.stageIds.length == 1), sizesJobs)
      assert(c.listSizes == c.coded.groupBy(col("list_id")).count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap)
      assert(c.listSizes.values.sum == emb.count() + batch(0).count())
    }
  }

  test("list writes: one task per core for a small batch, one new file per list") {
    withDir("list-writes") { dir =>
      ivf.write(dir)
      def files(): Map[String, Int] =
        new java.io.File(s"$dir/data").listFiles().filter(_.isDirectory).map(d =>
          d.getName -> d.listFiles().count(f => f.getName.endsWith(".parquet"))).toMap
      val before = files()
      assert(before.values.forall(_ == 1), before)
      val sc = spark.sparkContext
      val jobs = jobsOf("list-append")(Ivf.appendToPath(ivf, batch(0), dir))
      val tasks = jobs.flatMap(j => sc.statusTracker.getJobInfo(j).get.stageIds.toSeq)
        .flatMap(s => sc.statusTracker.getStageInfo(s).map(_.numTasks))
      assert(tasks.contains(sc.defaultParallelism), tasks)
      val after = files()
      assert(after.forall { case (l, n) => n - before.getOrElse(l, 0) <= 1 }, after)
      assert(after.values.sum > before.values.sum)
    }
  }

  test("list-partitioned writes go through Serving.writeLists only") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // a writer's partitionBy (any column) or the list clustering; a
    // window's partitionBy is not a write
    val writer = """\.write(\s*\.mode\([^)]*\))?\s*\.partitionBy\(""".r
    val listed = """partitionBy\(\s*"list_id"\s*\)|repartition\(\s*col\(\s*"list_id"\s*\)\s*\)""".r
    val hits = for {
      f <- walk(root)
      text = scala.io.Source.fromFile(f, "UTF-8").mkString
        .replaceAll("""Window\s*\.partitionBy\(\s*"list_id"\s*\)""", "")
      m <- writer.findAllMatchIn(text) ++ listed.findAllMatchIn(text)
    } yield s"${f.getName}:${text.take(m.start).count(_ == '\n') + 1}"
    assert(hits.nonEmpty && hits.forall(_.startsWith("Serving.scala:")), hits)
  }
}
