package graft

import graft.dedup.Dedup
import graft.search.VecMath
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Dedup contracts. Exact ops are checked against local baselines; the
  * LSH-family ops assert exact precision (every returned pair truly passes
  * the threshold) and measured recall vs the exact all-pairs baseline.
  */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTest.session
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf)
  private lazy val emb = Tables.embeddings(spark, sf)

  /** Local token-set Jaccard over all pairs. */
  private lazy val localJaccard: Map[(Long, Long), Double] = {
    val ts = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> t.toLowerCase.split(" ").distinct.toSet }
      .sortBy(_._1)
    (for {
      i <- ts.indices.iterator
      j <- (i + 1) until ts.length
    } yield {
      val (ia, sa) = ts(i); val (ib, sb) = ts(j)
      (ia, ib) -> VecMath.round6(sa.intersect(sb).size.toDouble / sa.union(sb).size)
    }).toMap
  }

  test("exact dedup groups by content hash and keeps min id") {
    val out = Dedup.exact(docs).as[(String, Long, Long)].collect()
    val nDocs = docs.count()
    assert(out.map(_._3).sum == nDocs)
    assert(out.map(_._2).distinct.length == out.length)
    // dup groups (if any) keep the smallest id
    val texts = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    val byText = texts.groupBy(_._2).map { case (_, g) => (g.map(_._1).min, g.length) }.toSet
    assert(out.map(t => (t._2, t._3)).toSet == byText)
  }

  test("jaccardPairs: exact precision, blocking recall >= 0.9 at tau=0.95") {
    val got = Dedup.jaccardPairs(docs, 0.95).as[(Long, Long, Double)].collect()
    got.foreach { case (a, b, j) =>
      assert(localJaccard((a, b)) == j, s"pair ($a,$b)")
      assert(j >= 0.95)
    }
    val truth = localJaccard.filter(_._2 >= 0.95).keySet
    assert(truth.nonEmpty, "test data has no high-jaccard pairs")
    val recall = got.map(t => (t._1, t._2)).count(truth) / truth.size.toDouble
    assert(recall >= 0.9, s"blocking recall $recall")
  }

  test("simhash incremental: append(A,B) == full-mine(A∪B) batch-touching pairs") {
    // #300's contract (the #102 union-equivalence discipline on the
    // hamming axis): the incremental mine of the 10% batch against the
    // 90% resident corpus equals the full mine restricted to pairs with
    // at least one batch doc — and the batch genuinely pairs with
    // resident docs (batch×corpus coverage, not just batch×batch)
    val docs = Tables.documents(spark, sf)
    val corpus = docs.where(pmod(col("doc_id"), lit(10)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(10)) === 0)
    val inc = Dedup.hammingIncrementalPairs(
      Dedup.simhashSignatures(corpus), Dedup.simhashSignatures(batch))
      .as[(Long, Long, Int)].collect().toSet
    val isBatch = batch.select("doc_id").as[Long].collect().toSet
    val full = Dedup.simhashPairs(docs, maxHamming = 3)
      .as[(Long, Long, Int)].collect().toSet
      .filter(p => isBatch(p._1) || isBatch(p._2))
    assert(inc == full)
    assert(inc.nonEmpty)
    assert(inc.exists(p => isBatch(p._1) ^ isBatch(p._2)), "no batch×corpus pair")
    // determinism
    val inc2 = Dedup.hammingIncrementalPairs(
      Dedup.simhashSignatures(corpus), Dedup.simhashSignatures(batch))
      .as[(Long, Long, Int)].collect().toSet
    assert(inc2 == inc)
  }

  test("dedup_simhash_bucketed: co-located mining == dedup_simhash exactly") {
    // #299's contract: bucketing the chunk table changes the PLAN (no
    // Exchange at the blocking self-join — PlanSpec pins that), never
    // the pairs
    val bkt = graft.queries.DedupQueries.dedupSimhashBucketed(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    val plain = graft.queries.DedupQueries.dedupSimhash(spark, sf)
      .as[(Long, Long, Long)].collect().toSet
    assert(bkt.nonEmpty)
    assert(bkt == plain)
  }

  test("dedup_jaccard_mine: fresh mine == published-artifact consumer row") {
    // #298's contract: the always-fresh mining row and the
    // artifact-reading dedup_jaccard row are the same pair set (the
    // artifact stores the pipeline's own output, so a divergence means
    // a stale or corrupted published table)
    val mine = graft.queries.DedupQueries.dedupJaccardMine(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    val pub = graft.queries.DedupQueries.dedupJaccard(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(mine.nonEmpty)
    assert(mine == pub)
  }

  test("minhashLshPairs: exact precision, recall >= 0.9 vs all-pairs at tau=0.95") {
    val got = Dedup.minhashLshPairs(docs, 0.95).as[(Long, Long, Double)].collect()
    got.foreach { case (a, b, j) => assert(localJaccard((a, b)) == j && j >= 0.95) }
    val truth = localJaccard.filter(_._2 >= 0.95).keySet
    val recall = got.map(t => (t._1, t._2)).count(truth) / truth.size.toDouble
    assert(recall >= 0.9, s"LSH recall $recall over ${truth.size} true pairs")
  }

  test("minhashPortablePairs: exact precision, recall >= 0.9, deterministic") {
    val got = Dedup.minhashPortablePairs(docs, 0.95).as[(Long, Long, Double)].collect()
    // precision is exact by construction (verify stage) — assert it anyway
    got.foreach { case (a, b, j) => assert(localJaccard((a, b)) == j && j >= 0.95) }
    // the md5-ingredient banding must keep the production path's recall
    val truth = localJaccard.filter(_._2 >= 0.95).keySet
    val recall = got.map(t => (t._1, t._2)).count(truth) / truth.size.toDouble
    assert(recall >= 0.9, s"portable LSH recall $recall over ${truth.size} true pairs")
    val again = Dedup.minhashPortablePairs(docs, 0.95).as[(Long, Long, Double)].collect()
    assert(got.toSeq == again.toSeq) // md5 ids + fixed perms: no drift
  }

  test("incremental minhash: append(A,B) == full-mine(A∪B), corpus bands reused") {
    // 50/50 split so cross pairs certainly exist; the registered query
    // uses 90/10 — the contract is split-agnostic
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val inc = Dedup.minhashIncrementalPairs(
        docs, Dedup.minhashBands(corpus), batch, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    val full = Dedup.minhashLshPairs(docs, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    val corpusOnly = Dedup.minhashLshPairs(corpus, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    // the union-equivalence contract: the incremental step emits exactly
    // the full mine's pairs that touch the batch, so yesterday's pair set
    // plus today's incremental pairs IS the full re-mine
    assert(corpusOnly.union(inc) == full,
      s"union-equivalence broken: |A|=${corpusOnly.size} |inc|=${inc.size} |full|=${full.size}")
    assert(corpusOnly.intersect(inc).isEmpty, "incremental re-emitted corpus-only pairs")
    val batchIds = batch.select("doc_id").as[Long].collect().toSet
    assert(inc.nonEmpty, "50/50 split must produce pairs touching the batch")
    inc.foreach { case (a, b, _) =>
      assert(batchIds(a) || batchIds(b), s"pair ($a,$b) touches no batch doc")
    }
  }

  test("dedup_minhash_bucketed (#302) == dedup_incremental (#102) exactly") {
    // same batch split, same BandGeom, same verify — only the corpus
    // side's storage layout differs (bucketed table vs published
    // parquet), so the pair tables must match row for row
    val a = graft.queries.DedupQueries.dedupMinhashBucketed(spark, sf)
      .collect().map(_.toSeq)
    val b = graft.queries.DedupQueries.dedupIncremental(spark, sf)
      .collect().map(_.toSeq)
    assert(a.nonEmpty, "gate corpus must produce batch-touching pairs")
    assert(a.toSeq == b.toSeq)
  }

  test("minhashIncrementalPairsBucketed == minhashIncrementalPairs on a 50/50 split") {
    // the Dedup-layer contract under a split where batch×batch pairs
    // certainly exist (the registered query's 90/10 batch is sparse)
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val viaBucketShape = Dedup.minhashIncrementalPairsBucketed(
        docs, Dedup.minhashBands(corpus), Dedup.minhashBands(batch), 0.95)
      .as[(Long, Long, Double)].collect().toSeq
    val plain = Dedup.minhashIncrementalPairs(
        docs, Dedup.minhashBands(corpus), batch, 0.95)
      .as[(Long, Long, Double)].collect().toSeq
    assert(viaBucketShape.nonEmpty)
    assert(viaBucketShape == plain)
  }

  test("bandsRemove: tombstoned docs vanish from incremental mining exactly") {
    val corpus = docs.where(pmod(col("doc_id"), lit(2)) =!= 0)
    val batch = docs.where(pmod(col("doc_id"), lit(2)) === 0)
    val deleted = corpus.select(col("doc_id")).where(pmod(col("doc_id"), lit(3)) === 0)
    val survivors = corpus.join(deleted, Seq("doc_id"), "left_anti")
    // band rows are per-doc deterministic, so pruning the table IS
    // rebuilding it on the surviving corpus
    val pruned = Dedup.bandsRemove(Dedup.minhashBands(corpus), deleted)
    val rebuilt = Dedup.minhashBands(survivors)
    assert(pruned.as[(Long, Int, String, Int, String)].collect().toSet ==
      rebuilt.as[(Long, Int, String, Int, String)].collect().toSet)
    // ...so the incremental identity holds against the pruned state:
    // mine(B | pruned) == full(survivors ∪ B) \ full(survivors)
    val all = survivors.unionByName(batch)
    val inc = Dedup.minhashIncrementalPairs(all, pruned, batch, 0.95)
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.minhashLshPairs(all, 0.95)
      .as[(Long, Long, Double)].collect().toSet --
      Dedup.minhashLshPairs(survivors, 0.95)
        .as[(Long, Long, Double)].collect().toSet
    assert(inc == want, s"|inc|=${inc.size} |want|=${want.size}")
    val deadIds = deleted.as[Long].collect().toSet
    inc.foreach { case (a, b, _) =>
      assert(!deadIds(a) && !deadIds(b), s"pair ($a,$b) touches a deleted doc")
    }
  }

  test("ngramJaccardPairs: exact precision vs local shingle baseline, finds seeded near-dups") {
    val got = Dedup.ngramJaccardPairs(docs, n = 3, tau = 0.8)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "no shingle near-dups found — corpus seeds some")
    val sh = docs.select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) =>
        val s = t.toLowerCase.split(" ")
        id -> s.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.toMap
    got.foreach { case (a, b, j) =>
      val (sa, sb) = (sh(a), sh(b))
      val expect = VecMath.round6(sa.intersect(sb).size.toDouble / sa.union(sb).size)
      assert(j == expect && j >= 0.8, s"pair ($a,$b)")
    }
  }

  test("token-set expressions match local tokenization/hash/md5 math") {
    import graft.functions.VectorFunctions._
    val df = Seq((1L, "B b apple b"), (2L, ""), (3L, "x y z w")).toDF("id", "text")
    val got = df.select(col("id"),
      tokenSetIds(col("text"), 1).as("tsi"),
      tokenSetMinMd5(col("text"), 1).as("blk"),
      tokenSetSize(col("text"), 1).as("n"),
      tokenSetIds(col("text"), 2).as("sh2"))
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Long](1), r.getString(2), r.getInt(3), r.getSeq[Long](4))).toMap
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // "B b apple b" lowercases then dedupes to {b, apple}
    assert(got(1L)._3 == 2)
    assert(got(1L)._2 == Seq("b", "apple").map(md5hex).min)
    assert(got(1L)._1.length == 2 && got(1L)._1 == got(1L)._1.sorted)
    // empty text → one empty token (split semantics), not an empty set
    assert(got(2L)._3 == 1 && got(2L)._2 == md5hex(""))
    // 2-gram shingles of 4 tokens → 3 shingles
    assert(got(3L)._4.length == 3)
    // hash values equal Spark's xxhash64 (same XXH64/seed 42)
    val viaSpark = df.where(col("id") === 3)
      .select(array_sort(transform(split(col("text"), " "), t => xxhash64(t))))
      .collect()(0).getSeq[Long](0)
    assert(got(3L)._1 == viaSpark)
  }

  test("MinHashSignature expression matches local per-permutation math") {
    import graft.functions.VectorFunctions.minhashSignature
    val p = 2147483647L
    val a = Seq(3L, 7L, 11L)
    val b = Seq(1L, 5L, 13L)
    val df = Seq((1L, Array(42L, -9L, 1000L)), (2L, Array.empty[Long]))
      .toDF("id", "hs")
    val got = df.select(col("id"), minhashSignature(col("hs"), a, b, p))
      .as[(Long, Array[Long])].collect().toMap
    def localSig(hs: Array[Long]): Array[Long] =
      a.indices.map { j =>
        if (hs.isEmpty) 0L
        else hs.map(h => (a(j) * (((h % p) + p) % p) + b(j)) % p).min
      }.toArray
    assert(got(1L).toSeq == localSig(Array(42L, -9L, 1000L)).toSeq)
    assert(got(2L).toSeq == Seq(0L, 0L, 0L))
  }

  test("simhashPortablePairs: pairs verified <= 3 on locally-recomputed md5 sigs") {
    val got = Dedup.simhashPortablePairs(docs, 3)
      .as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    // local twin of the portable signature: 60-bit md5 ids, +/-1 votes
    val md = java.security.MessageDigest.getInstance("MD5")
    def sigOf(text: String): Long = {
      val ids = text.toLowerCase.split(" ").distinct.map { t =>
        val hex = md.digest(t.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        java.lang.Long.parseLong(hex, 16)
      }
      (0 until 64).foldLeft(0L) { (sig, b) =>
        val vote = ids.map(h => if (((h >>> b) & 1L) == 1L) 1 else -1).sum
        if (vote > 0) sig | (1L << b) else sig
      }
    }
    val sigs = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) => id -> sigOf(t) }.toMap
    got.foreach { case (a, b, h) =>
      val want = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
      assert(h == want && h <= 3, s"pair ($a,$b): hamming $h vs local $want")
    }
    val again = Dedup.simhashPortablePairs(docs, 3).as[(Long, Long, Int)].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("dedup_recall: found subset of truth, recall floors hold, deterministic") {
    val a = graft.queries.DedupQueries.dedupRecall(spark, sf)
      .as[(String, Long, Long, Double)].collect()
    val b = graft.queries.DedupQueries.dedupRecall(spark, sf)
      .as[(String, Long, Long, Double)].collect()
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._1).toSeq ==
      Seq("jaccard_blocked", "minhash_lsh", "minhash_portable"))
    a.foreach { case (m, t, f, r) =>
      assert(t > 0, s"$m: empty truth — sample has no dup pairs")
      assert(f <= t, s"$m: found $f pairs beyond the $t true ones")
      assert(r >= 0.9, s"$m: blocking recall $r below the 0.9 floor")
    }
  }

  test("simhashPairs finds all pairs within hamming 3 of its signatures") {
    val sigs = Dedup.simhashSignatures(docs).as[(Long, Long)].collect().sortBy(_._1)
    val want = (for {
      i <- sigs.indices.iterator
      j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= 3
    } yield (sigs(i)._1, sigs(j)._1, h.toLong)).toSet
    val got = Dedup.simhashPairs(docs, 3).as[(Long, Long, Long)].collect().toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(got.nonEmpty, "no simhash near-dups in test data")
  }

  test("degenerate blocking key still yields every pair exactly once (salted join)") {
    // every doc shares one token ('the' appears broadly) — force the
    // worst case: ALL docs in one block via identical text prefix
    // "t168" md5 starts 004e… — the min token of every doc, so all 60
    // docs land in ONE block
    val df = (0L until 60L).map(i => (i, s"t168 t168 t168 word$i"))
      .toDF("doc_id", "text")
    // tau=0: every blocked pair must surface, exactly once each
    val pairs = Dedup.jaccardPairs(df, tau = 0.0)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.length == pairs.distinct.length, "duplicate pairs from salting")
    assert(pairs.forall { case (a, b) => a < b }, "unordered or self pairs leaked")
    // expected pair count from the same min-MD5 blocking computed locally
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val byBlock = (0L until 60L)
      .map(i => i -> Seq("t168", s"word$i").map(md5hex).min)
      .groupBy(_._2).values.map(_.size.toLong)
    val want = byBlock.map(n => n * (n - 1) / 2).sum
    assert(pairs.length == want, s"got ${pairs.length} want $want")
    assert(byBlock.max >= 40, "test setup no longer degenerate")
  }

  test("clusters: min-id connected components over the pair graph") {
    // hand graph: {1-2, 2-3} one chain component, {10-11} a pair,
    // {20-21, 21-22, 20-22} a triangle — transitivity must merge chains
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.clusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
    // corpus-scale sanity: every doc in a jaccard pair gets a label that is
    // <= its own id and is itself a member of the component
    val jp = Dedup.jaccardPairs(docs, 0.95).select("doc_a", "doc_b")
    val cl = Dedup.clusters(jp).as[(Long, Long)].collect()
    assert(cl.nonEmpty)
    cl.foreach { case (id, lbl) => assert(lbl <= id) }
    val members = cl.map(_._1).toSet
    assert(cl.forall { case (_, lbl) => members(lbl) })
  }

  test("clusters converge past maxIter-bounded chains (long path graph)") {
    // a 12-node path needs ~diameter rounds; well within maxIter=20
    val path = (0L until 11L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(path).as[(Long, Long)].collect()
    assert(got.length == 12 && got.forall(_._2 == 0L))
  }

  test("clusters: pointer jumping converges on a chain far beyond maxIter rounds") {
    // diameter 2000: plain min-propagation needs ~2000 rounds (r3 threw
    // here); path doubling needs ~log2(2000) ≈ 11, inside maxIter=20.
    // maxDriverEdges=0 forces the DISTRIBUTED path under test.
    val longPath = (0L until 2000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.clusters(longPath, maxDriverEdges = 0).as[(Long, Long)].collect()
    assert(got.length == 2001 && got.forall(_._2 == 0L))
  }

  test("clusters: driver union-find fast path == distributed propagation") {
    val pairs = Dedup.jaccardPairs(docs, 0.95).select("doc_a", "doc_b")
    val viaDriver = Dedup.clusters(pairs).as[(Long, Long)].collect().toSeq
    val viaDistributed = Dedup.clusters(pairs, maxDriverEdges = 0)
      .as[(Long, Long)].collect().toSeq
    assert(viaDriver.nonEmpty && viaDriver == viaDistributed)
  }

  test("thresholdSweepStats: nested quotient composition == independent per-rung clustering") {
    // weighted graph crafted so every rung differs: chains that only
    // close loosely, two tight pairs bridged at a mid rung, a triangle
    // with a redundant loose edge, a loose-only pair, and an EMPTY
    // tightest rung (τ=1.01) exercising the empty-graph base case
    val wp = Seq(
      (1L, 2L, 0.98), (2L, 3L, 0.95),
      (10L, 11L, 0.97), (12L, 13L, 0.97), (11L, 12L, 0.96),
      (20L, 21L, 0.99), (21L, 22L, 0.98), (20L, 22L, 0.95),
      (30L, 31L, 0.95)
    ).toDF("doc_a", "doc_b", "jac")
    val taus = Seq(0.95, 0.96, 0.97, 0.98, 1.01)
    def independent(pairs: org.apache.spark.sql.DataFrame, ts: Seq[Double]) =
      ts.map { t =>
        val labs = Dedup.clusters(pairs.where($"jac" >= t).select("doc_a", "doc_b"))
          .as[(Long, Long)].collect()
        (t, labs.map(_._2).distinct.length.toLong, labs.count(p => p._1 != p._2).toLong)
      }
    assert(Dedup.thresholdSweepStats(wp, taus) == independent(wp, taus))
    // real mined pair graph, distributed cluster path forced
    val real = Dedup.jaccardPairs(docs, 0.9)
    val taus2 = Seq(0.9, 0.95, 0.99)
    assert(Dedup.thresholdSweepStats(real, taus2, maxDriverEdges = 0) ==
      independent(real, taus2))
  }

  test("property: union-find == propagation on random graphs") {
    val rng = new scala.util.Random(7)
    (0 until 3).foreach { t =>
      val df = Seq.fill(60 + t * 30)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .distinct.toDF("doc_a", "doc_b")
      val d1 = Dedup.clusters(df).as[(Long, Long)].collect().toSeq
      val d2 = Dedup.clusters(df, maxDriverEdges = 0).as[(Long, Long)].collect().toSeq
      assert(d1 == d2, s"graph $t")
    }
  }

  test("minhashLshPairs: oversized buckets refine instead of dropping (recall survives)") {
    // 40 near-dup docs (30 shared tokens + 1 unique each, pairwise
    // J = 30/32 ≈ 0.9375) overflow every band bucket at maxBucket=5 —
    // the r3 drop-the-bucket behavior returned ZERO pairs here
    val common = (0 until 30).map(i => s"c$i").mkString(" ")
    val df = (0L until 40L).map(i => (i, s"$common u$i")).toDF("doc_id", "text")
    val got = Dedup.minhashLshPairs(df, tau = 0.9, maxBucket = 5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    got.foreach { case (a, b) => assert(a < b) }
    val truth = for { a <- 0L until 40L; b <- (a + 1) until 40L } yield (a, b)
    val recall = truth.count(got) / truth.size.toDouble
    assert(recall >= 0.5, s"refined-bucket recall $recall (want >= 0.5, drop gave 0)")
  }

  test("jaccardPairs: degenerate min-token blocks sub-block by shingle, recall survives") {
    // every doc shares the token "a" AND its md5-min status (md5("a") is
    // tiny), so ALL docs land in one block — the shape the 100x scale
    // probe measured as a 2300x shuffle blow-up. With maxBlock=10 the
    // block is re-keyed by the 2-shingle min; true dup pairs (identical
    // long prefix => shared 2-shingle min) must still be found.
    val prefix = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = ((0L until 40L).map { i =>
      val twin = i / 2 // docs 2k and 2k+1 are near-dups of each other
      (i, s"a $prefix twin$twin u$i")
    } ++ Seq((40L, "a"), (41L, "a"))) // single-token exact dups: no
      // 2-shingle exists, so the refinement min is NULL — they must
      // sub-block together under blk+"" and still pair, not vanish
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, tau = 0.9, maxBlock = 10)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val truth = (0L until 40L by 2).map(k => (k, k + 1)).toSet + ((40L, 41L))
    val recall = truth.count(got) / truth.size.toDouble
    assert(recall >= 0.9, s"sub-blocked recall $recall (degenerate block must not drop dups)")
    // and with the default cap (block of 40 << 4000) results are the
    // plain-blocking ones — the oracle-faithful gate path is untouched
    val plain = Dedup.jaccardPairs(docs, tau = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(truth.subsetOf(plain))
  }

  test("clusters: empty pair set yields empty clusters (no crash)") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(empty).count() == 0)
  }

  test("clusters fail loudly when the diameter exceeds maxIter (distributed path)") {
    val longPath = (0L until 30L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val ex = intercept[IllegalStateException] {
      Dedup.clusters(longPath, maxIter = 3, maxDriverEdges = 0).collect()
    }
    assert(ex.getMessage.contains("not converged"))
  }

  test("embeddingPairs: exact precision, nonempty, subset of brute-force") {
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1).toMap
    val got = Dedup.embeddingPairs(emb, 0.4).as[(Long, Long, Double)].collect()
    assert(got.nonEmpty, "LSH-blocked cosine pairs empty")
    got.foreach { case (a, b, c) =>
      assert(VecMath.round6(VecMath.dot(vecs(a), vecs(b))) == c && c >= 0.4)
    }
    // recall vs brute force is probabilistic; just require a real fraction
    val truth = (for {
      (ia, va) <- vecs.iterator; (ib, vb) <- vecs.iterator if ia < ib
      if VecMath.round6(VecMath.dot(va, vb)) >= 0.4
    } yield (ia, ib)).toSet
    val recall = got.map(t => (t._1, t._2)).count(truth) / truth.size.toDouble
    assert(recall >= 0.2, s"LSH cosine recall $recall of ${truth.size}")
  }

  test("dedup_embedding_portable: exactly-once meet, hamming<=1 complete, deterministic") {
    import graft.search.CosineLsh
    val planes = CosineLsh.planes(graft.search.QueryVectors.Dim, 4, seed = 42L)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val got = graft.queries.DedupQueries.dedupEmbeddingPortable(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    // exactly-once: the probe-side-flips / build-side-bucket join must
    // never emit a candidate pair twice (the oracle replays this shape)
    val keys = got.map(t => (t._1, t._2))
    assert(keys.distinct.length == keys.length, "duplicate pair emitted")
    // COMPLETE within the blocking contract: every true pair whose
    // signatures are within hamming 1 is found (recall is probabilistic
    // only through the geometry; within it the pipeline is exact)
    val sigs = vecs.map { case (id, v) => id -> CosineLsh.signature(v, planes) }.toMap
    val gotSet = keys.toSet
    for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib
      if java.lang.Long.bitCount(sigs(ia) ^ sigs(ib)) <= 1
      if VecMath.round6(VecMath.dot(va, vb)) >= 0.4
    } assert(gotSet((ia, ib)), s"hamming<=1 true pair ($ia,$ib) missed")
    // deterministic: a second independent plan returns identical rows
    val again = graft.queries.DedupQueries.dedupEmbeddingPortable(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == again.toSeq)
    // at gate geometry (pickBits == 4 below ~1.4k vectors) the twin IS
    // #25's plan: certifying it hash-certifies dedup_embedding here too
    val prod = graft.queries.DedupQueries.dedupEmbedding(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == prod.toSeq)
  }

  test("dedup_report: conserves the corpus and its internal accounting") {
    val rows = graft.queries.DedupQueries.dedupReport(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val n = docs.count()
    // every doc lands in exactly one cluster (singletons included)
    assert(rows.map(_._3).sum == n, s"n_docs sum ${rows.map(_._3).sum} != $n")
    rows.foreach { case (size, nClusters, nDocs, nDropped) =>
      assert(nDocs == size * nClusters)
      assert(nDropped == nDocs - nClusters)
    }
    // total dropped mass equals the non-representative graph members
    val dropped = graft.queries.DedupQueries.minedClusters(spark, sf)
      .where(col("cluster_id") =!= col("doc_id")).count()
    assert(rows.map(_._4).sum == dropped)
    // the sf corpus genuinely contains duplicate mass (non-vacuous report)
    assert(rows.exists(r => r._1 > 1 && r._2 > 0))
  }

  test("dedup_canonical: one row per cluster, the best-quality member wins") {
    val spark = SparkTest.session
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val out = graft.queries.DedupQueries.dedupCanonical(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val quality = graft.text.TextAnalysis.withQuality(docs)
      .select(col("doc_id"), col("quality_score"))
      .as[(Long, Double)].collect().toMap
    val clusters = graft.queries.DedupQueries.minedClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val n = docs.count()
    // membership conservation: every doc counted exactly once
    assert(out.map(_._3).sum == n)
    // cluster ids distinct; canonical belongs to its cluster
    assert(out.map(_._1).distinct.length == out.length)
    val memberSets = (0L until n)
      .groupBy(id => clusters.getOrElse(id, id))
    out.foreach { case (cid, canon, nMembers, bestQ) =>
      val members = memberSets(cid)
      assert(members.contains(canon), s"cluster $cid canonical $canon")
      assert(nMembers == members.size)
      // the winner has max quality; ties break on lowest doc_id
      val maxQ = members.map(quality).max
      assert(bestQ == maxQ)
      assert(canon == members.filter(m => quality(m) == maxQ).min)
    }
    // non-vacuous: at least one multi-member cluster whose canonical is
    // NOT the min id (quality actually decided something) OR quality ties
    // degrade to min-id — assert the multi-member case exists at all
    assert(out.exists(_._3 > 1))
  }

  test("dedup_sweep: monotone in tau; floor rung replays the shared mined clustering") {
    import org.apache.spark.sql.functions._
    val got = graft.queries.DedupQueries.dedupSweep(spark, sf)
      .as[(Double, Long, Long, Long, Double)].collect()
    assert(got.map(_._1).toSeq == graft.queries.DedupQueries.SweepTaus)
    // tightening tau can only remove pairs and dropped members
    got.sliding(2).foreach { case Array(lo, hi) =>
      assert(lo._2 >= hi._2, s"n_pairs not monotone: $lo -> $hi")
      assert(lo._4 >= hi._4, s"n_dropped not monotone: $lo -> $hi")
      assert(lo._5 >= hi._5, s"dedup_rate not monotone: $lo -> $hi")
    }
    // the floor rung IS the shared mined clustering: same pair count,
    // same dropped-member count as the canonical artifacts
    val floor = got.head
    assert(floor._2 == graft.queries.DedupQueries.minedJaccardPairs(spark, sf).count())
    val drop = graft.queries.DedupQueries.minedClusters(spark, sf)
      .where(col("cluster_id") =!= col("doc_id")).count()
    assert(floor._4 == drop)
    // rate arithmetic: n_dropped / |documents| at 6 dp
    val n = Tables.documents(spark, sf).count()
    got.foreach { r =>
      assert(math.abs(r._5 - r._4.toDouble / n) < 1e-6, s"rate recompute: $r")
    }
    // discriminates at sf0.001: the sweep isn't flat to the cap
    assert(floor._4 > got.last._4, "sweep flat — fixture lost its graded near-dups")
  }

  test("dedup_minhash_tune: S-curve decision table replays from the mined jaccards") {
    import graft.queries.DedupQueries
    val got = DedupQueries.dedupMinhashTune(spark, sf)
      .as[(Int, Int, Double, Double, Option[Double], Int)].collect().toSeq
    assert(got.length == DedupQueries.TuneConfigs.length)
    assert(got.map(r => (r._1, r._2)) == DedupQueries.TuneConfigs.sortBy(-_._1))

    // local replay from the (separately hash-checked) mined pair jaccards
    val jacs = DedupQueries.minedJaccardPairs(spark, sf)
      .select(col("jac")).as[Double].collect()
    assert(jacs.nonEmpty, "no mined pairs at sf0.001 — fixture drift")
    got.foreach { case (b, r, p80, p90, er, dep) =>
      assert(p80 == DedupQueries.sCurve(0.80, b, r))
      assert(p90 == DedupQueries.sCurve(0.90, b, r))
      val pmu = jacs.map(j => math.floor(VecMath.round6(
        1.0 - DedupQueries.powD(1.0 - DedupQueries.powD(j, r), b)) * 1e6 + 0.5).toLong).sum
      assert(er == Some(VecMath.round6(pmu.toDouble / (jacs.length.toDouble * 1e6))),
        s"($b,$r): $er")
      assert((dep == 1) == ((b, r) == DedupQueries.DeployedConfig))
    }
    // high-s recall rises as rows shrink (more, shorter bands catch τ≥0.95
    // pairs more often); low-s false-candidate mass rises the same way —
    // the trade-off the table exists to show
    val byBands = got.sortBy(-_._1)
    assert(byBands.map(_._5.get) == byBands.map(_._5.get).sorted.reverse,
      "expected recall not monotone in bands")
    assert(byBands.map(_._3) == byBands.map(_._3).sorted.reverse,
      "false-candidate mass not monotone in bands")
    // the deployed 4×8 config genuinely catches the τ=0.95 sliver
    val deployed = got.find(_._6 == 1).get
    assert(deployed._5.get > 0.95, s"deployed recall ${deployed._5}")
  }
  test("withPayloads: one row per distinct pair on both sides of the 16 MB smallSource boundary") {
    val dir = java.nio.file.Files.createTempDirectory("payload-branches").toString
    try {
      val tsi = Seq(1L -> Seq(1, 2), 2L -> Seq(2, 3), 3L -> Seq(3, 4))
      // the same three payload rows as a few-KB table and as a table whose
      // file passes 16 MB through an unselected padding column
      val rng = new scala.util.Random(3)
      val pad = (0 until 18).map(i => (100L + i, Seq.empty[Int], Array.fill(1 << 20)(rng.nextInt().toByte)))
      tsi.map { case (id, t) => (id, t, Array.emptyByteArray) }.toDF("doc_id", "tsi", "pad")
        .coalesce(1).write.parquet(s"$dir/small")
      (tsi.map { case (id, t) => (id, t, Array.emptyByteArray) } ++ pad).toDF("doc_id", "tsi", "pad")
        .coalesce(1).write.parquet(s"$dir/big")
      def bytes(t: String) = new java.io.File(s"$dir/$t").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length()).sum
      assert(bytes("small") < (16L << 20) && bytes("big") > (16L << 20))
      val pairs = Seq((1L, 2L), (1L, 2L), (2L, 3L), (2L, 3L), (2L, 3L)).toDF("doc_id_l", "doc_id_r")
      val want = Seq((1L, 2L, Seq(1, 2), Seq(2, 3)), (2L, 3L, Seq(2, 3), Seq(3, 4)))
      for (t <- Seq("small", "big")) {
        val got = Dedup.withPayloads(pairs, spark.read.parquet(s"$dir/$t"), "doc_id", Seq("tsi"))
          .as[(Long, Long, Seq[Int], Seq[Int])].collect().sortBy(_._1).toSeq
        assert(got == want, t)
      }
    } finally graft.sources.LocalArtifacts.deleteRecursively(new java.io.File(dir))
  }
}
