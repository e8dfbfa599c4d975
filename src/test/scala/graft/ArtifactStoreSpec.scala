package graft

import graft.search.{Ivf, IvfModel}
import graft.sources.LocalArtifacts
import org.scalatest.funsuite.AnyFunSuite

/** Spec-pins [[ArtifactStore]]: the publish race, the lost-rename
  * refusal, stamp-driven replacement (memo and disk), the job-free memo
  * hit, and a source scan that keeps the lifecycle in one place. Every
  * test uses its own family name, so nothing here touches the entries of
  * the real families. */
class ArtifactStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private def family[V](markers: String*) =
    new ArtifactStore.Family[V](s"spec-${java.util.UUID.randomUUID()}", markers: _*)

  private def ivfFamily = family[IvfModel]("data/_SUCCESS", "centroids/_SUCCESS")

  /** A one-table sf dir: embeddings.parquet in 3 files, stamped `stamp`. */
  private def corpusDir(n: Int, stamp: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-store-spec").toString
    writeEmbeddings(dir, n, stamp)
    dir
  }

  private def writeEmbeddings(dir: String, n: Int, stamp: Long): Unit = {
    val rng = new scala.util.Random(n)
    spark.sparkContext.parallelize(
      (0 until n).map(i => (i.toLong, Array.fill(8)(rng.nextGaussian().toFloat), i % 5)), 3)
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    restamp(dir, stamp)
  }

  /** Force every file of the table to `stamp`: a fast test can rewrite
    * within the filesystem's timestamp granularity. */
  private def restamp(dir: String, stamp: Long): Unit = {
    val tbl = new java.io.File(s"$dir/embeddings.parquet")
    tbl.listFiles().foreach(f => assert(f.setLastModified(stamp)))
    assert(tbl.setLastModified(stamp))
  }

  private def entries(fam: ArtifactStore.Family[_]): Seq[String] =
    Option(new java.io.File(fam.dir).list()).toSeq.flatten.sorted

  test("two threads publishing one key leave one entry, no tmp dir, and load equal models") {
    val fam = ivfFamily
    val emb = Tables.embeddings(spark, corpusDir(200, 1000000000000L))
    val model = Ivf.build(emb, nlist = 4)
    val path = s"${fam.dir}/race-m1"
    // both builders finish writing before either renames: a real race
    val written = new java.util.concurrent.CountDownLatch(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val loads = (0 until 2).map(_ => pool.submit(new java.util.concurrent.Callable[IvfModel] {
        def call(): IvfModel = {
          fam.publish(path) { tmp => model.write(tmp); written.countDown(); written.await() }
          Ivf.load(spark, path)
        }
      })).map(_.get())
      assert(entries(fam) == Seq("race-m1"), "one published entry and no .tmp-* left")
      val Seq(a, b) = loads
      assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
      assert(a.indexed.orderBy("vec_id").collect().map(_.toString).toSeq ==
        b.indexed.orderBy("vec_id").collect().map(_.toString).toSeq)
      assert(a.indexed.count() == 200)
    } finally {
      pool.shutdown()
      LocalArtifacts.deleteRecursively(new java.io.File(fam.dir))
    }
  }

  test("a lost rename with no complete entry present throws, naming the path") {
    val fam = family[String]("_SUCCESS")
    val path = s"${fam.dir}/partial-m1"
    try {
      // a stale, incomplete dir at the target: non-empty, so the rename fails
      assert(new java.io.File(path).mkdirs())
      assert(new java.io.File(s"$path/part-0").createNewFile())
      val e = intercept[IllegalStateException] {
        fam.publish(path)(tmp => assert(new java.io.File(s"$tmp/_SUCCESS").createNewFile()))
      }
      assert(e.getMessage.contains(path), e.getMessage)
      assert(entries(fam) == Seq("partial-m1"), "the loser's copy is deleted")
    } finally LocalArtifacts.deleteRecursively(new java.io.File(fam.dir))
  }

  test("a stamp change builds a new entry and replaces the memo entry; aged entries are reaped") {
    val fam = family[String]("_SUCCESS")
    val (s1, s2, s3) = (1000000000000L, 1000000004000L, 1000000008000L)
    val dir = corpusDir(20, s1)
    var builds = 0
    var loads = 0
    def open(): String = fam(Tables.embeddings(spark, dir), dir, "p1")(tmp => {
      builds += 1
      assert(new java.io.File(s"$tmp/_SUCCESS").createNewFile())
    })(p => { loads += 1; p })
    try {
      val e1 = open()
      assert(e1.endsWith(s"-p1-m$s1"))
      assert((builds, loads) == (1, 1))
      assert(open() == e1, "an unchanged stamp is a memo hit")
      assert((builds, loads) == (1, 1))
      restamp(dir, s2)
      val e2 = open()
      assert(e2.endsWith(s"-m$s2") && (builds, loads) == (2, 2), "a new stamp builds a new entry")
      // back to s1: its entry is still on disk, but the memo entry was
      // REPLACED by s2's — so this is a load, not a hit and not a build
      restamp(dir, s1)
      assert(open() == e1)
      assert((builds, loads) == (2, 3))
      assert(entries(fam).length == 2, "both generations inside the age guard stay on disk")
      // age both; the next new stamp reaps every superseded generation
      entries(fam).foreach(n =>
        assert(new java.io.File(fam.dir, n).setLastModified(System.currentTimeMillis() - 7200000L)))
      restamp(dir, s3)
      val e3 = open()
      assert(entries(fam) == Seq(new java.io.File(e3).getName), "nothing accumulates")
    } finally {
      LocalArtifacts.deleteRecursively(new java.io.File(fam.dir))
      LocalArtifacts.deleteRecursively(new java.io.File(dir))
    }
  }

  test("a memo hit starts no Spark job, from the table read to the loaded model") {
    val dir = corpusDir(300, System.currentTimeMillis())
    val sc = spark.sparkContext
    try {
      val ivf = graft.queries.VectorQueries.ivfModel(spark, dir)
      val pq = graft.queries.VectorQueries.pqModel(spark, dir)
      sc.setJobGroup("store-hit", "a memo hit must not start a job")
      try {
        assert(graft.queries.VectorQueries.ivfModel(spark, dir) eq ivf)
        assert(graft.queries.VectorQueries.pqModel(spark, dir) eq pq)
      } finally sc.clearJobGroup()
      assert(sc.statusTracker.getJobIdsForGroup("store-hit").isEmpty)
    } finally {
      val key = dir.replaceAll("[^A-Za-z0-9.]", "_").stripPrefix("_")
      Seq("ivf", "pq").foreach { f =>
        Option(new java.io.File(s"${sys.props("java.io.tmpdir")}/graft-$f-${ArtifactStore.Version}")
          .listFiles()).toSeq.flatten.filter(_.getName.startsWith(s"$key-"))
          .foreach(LocalArtifacts.deleteRecursively)
      }
      LocalArtifacts.deleteRecursively(new java.io.File(dir))
    }
  }

  test("a source with no input files is refused before any build") {
    val fam = family[String]("_SUCCESS")
    val e = intercept[IllegalArgumentException] {
      fam(Seq(1, 2).toDF("x"), "anon")(_ => fail("must not build"))(identity)
    }
    assert(e.getMessage.contains("no input files"), e.getMessage)
  }

  test("the lifecycle stays in one place: no second publish, stamp scan or recursive delete") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root (cwd ${new java.io.File(".").getAbsolutePath})")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val sources = walk(root).map(f => f.getName -> scala.io.Source.fromFile(f, "UTF-8").getLines().toVector)
    def where(hit: (Vector[String], Int) => Boolean): Seq[String] =
      for ((name, lines) <- sources; i <- lines.indices if hit(lines, i)) yield s"$name:${i + 1}"
    def has(s: String)(lines: Vector[String], i: Int) = lines(i).contains(s)
    // Compaction's swap-with-rollback (stage out, publish, restore) is the
    // one rename that is not an artifact publish
    assert(where(has("renameTo(")).filterNot(h =>
      h.startsWith("ArtifactStore.scala:") || h.startsWith("Compaction.scala:")).isEmpty)
    assert(where(has(".tmp-${ProcessHandle")).forall(_.startsWith("ArtifactStore.scala:")))
    val stampScans = where((lines, i) => lines(i).contains("inputFiles") &&
      lines.slice(i, i + 3).exists(_.contains("lastModified")))
    assert(stampScans.nonEmpty && stampScans.forall(_.startsWith("ArtifactStore.scala:")), stampScans)
    assert(where(has("def deleteRecursively")).map(_.takeWhile(_ != ':')) == Seq("LocalArtifacts.scala"))
  }
}
