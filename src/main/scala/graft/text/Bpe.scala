package graft.text

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.collection.mutable

/** Byte-pair-encoding tokenizer TRAINING and encoding (SURVEY.md §2
  * #155–156) — the corpus operation that turns raw text into the subword
  * vocabulary a training run tokenizes with (Sennrich et al., ACL 2016;
  * the algorithm behind GPT-2/BERT-family vocabularies).
  *
  * Scale design — the WORD-HISTOGRAM BRIDGE. BPE merge selection only
  * depends on word frequencies, never on document structure, so training
  * factorizes into:
  *
  *   1. one distributed word count (scan + a single shuffle on the word
  *      key, map-side partial aggregation) capped to the top `maxWords`
  *      by (count DESC, word ASC — a total order, so the cap is
  *      deterministic), and
  *   2. the merge loop on that CAPPED histogram, driver-side. The
  *      histogram is O(distinct words), independent of corpus bytes —
  *      at 100 TB it is still a few hundred thousand rows, which is why
  *      every production tokenizer trainer (HuggingFace `tokenizers`,
  *      SentencePiece in BPE mode) uses exactly this shape: corpus →
  *      word-count table → in-memory merges.
  *
  * Encoding is the inverse shape: the learned merge ranks broadcast once
  * (KBs), applied row-locally with a per-partition word memo — scan-only,
  * no shuffle, embarrassingly parallel over 100 TB.
  *
  * Determinism: merge ties break on the lexicographically smallest
  * (left, right) pair; the histogram cap ties break on the word string.
  * Training twice on the same corpus yields byte-identical merge tables
  * (spec-pinned), which is what makes the vocabulary a publishable
  * artifact rather than a run accident.
  */
object Bpe {

  /** End-of-word sentinel appended to each word's symbol sequence so
    * merges can learn word-final units ("est</w>") distinct from word-
    * internal ones — the Sennrich formulation. */
  val EndOfWord = "</w>"

  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  // ---- stage 1: distributed word histogram --------------------------------

  /** Top-`maxWords` whitespace words by (count DESC, word ASC). One
    * shuffle (map-side partial counts); the orderBy+limit plans as
    * TakeOrdered (plan-pinned), so the driver transfer is bounded by the
    * cap no matter the corpus size. */
  def wordHistogramDf(docs: DataFrame, maxWords: Int): DataFrame =
    docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc)
      .limit(maxWords)

  def wordHistogram(docs: DataFrame, maxWords: Int): Array[(String, Long)] = {
    import docs.sparkSession.implicits._
    wordHistogramDf(docs, maxWords)
      .as[(String, Long)]
      .collect() // bounded: ≤ maxWords rows by construction
  }

  // ---- stage 2: driver-side merge loop on the compact histogram -----------

  /** Classic BPE training over a (word → count) histogram. Stops early if
    * no adjacent pair remains. */
  def trainOnHistogram(hist: Seq[(String, Long)], numMerges: Int): Seq[Merge] = {
    // each word as a mutable symbol sequence: chars + the EOW sentinel
    val words: Array[(Array[String], Long)] = hist.iterator.map { case (w, c) =>
      (w.map(_.toString).toArray :+ EndOfWord, c)
    }.toArray

    val merges = mutable.ArrayBuffer.empty[Merge]
    var syms = words
    var rank = 0
    while (rank < numMerges) {
      val pairs = mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (s, c) =>
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          pairs.update(k, pairs.getOrElse(k, 0L) + c)
          i += 1
        }
      }
      if (pairs.isEmpty) return merges.toSeq
      // max by freq, ties by lexicographic (left, right) — total order
      val ((l, r), f) = pairs.minBy { case ((a, b), c) => (-c, a, b) }
      merges += Merge(rank, l, r, f)
      val joined = l + r
      syms = syms.map { case (s, c) =>
        if (s.length < 2) (s, c)
        else {
          val out = new mutable.ArrayBuffer[String](s.length)
          var i = 0
          while (i < s.length) {
            if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
              out += joined; i += 2
            } else { out += s(i); i += 1 }
          }
          (out.toArray, c)
        }
      }
      rank += 1
    }
    merges.toSeq
  }

  def train(docs: DataFrame, numMerges: Int, maxWords: Int): Seq[Merge] =
    trainOnHistogram(wordHistogram(docs, maxWords).toSeq, numMerges)

  // ---- encoding -----------------------------------------------------------

  /** Greedy rank-order encode of one word: repeatedly merge the LOWEST-
    * rank adjacent pair present (all its occurrences, left to right) —
    * the standard BPE apply rule, so encode(train corpus word) retraces
    * the merges that word contributed to. */
  def encodeWord(word: String, ranks: Map[(String, String), Int]): Seq[String] = {
    var s: Array[String] = word.map(_.toString).toArray :+ EndOfWord
    var done = false
    while (!done && s.length > 1) {
      var best = Int.MaxValue
      var bl: String = null
      var br: String = null
      var i = 0
      while (i < s.length - 1) {
        val r = ranks.getOrElse((s(i), s(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bl = s(i); br = s(i + 1) }
        i += 1
      }
      if (best == Int.MaxValue) done = true
      else {
        val out = new mutable.ArrayBuffer[String](s.length)
        var j = 0
        while (j < s.length) {
          if (j < s.length - 1 && s(j) == bl && s(j + 1) == br) {
            out += (bl + br); j += 2
          } else { out += s(j); j += 1 }
        }
        s = out.toArray
      }
    }
    s.toSeq
  }

  val encodeSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_ws_tokens", LongType, nullable = false),
    StructField("n_bpe_tokens", LongType, nullable = false),
    StructField("bpe_per_word", DoubleType, nullable = false)))

  /** Row-local distributed encode: merge ranks broadcast once, one word
    * memo per partition (corpora repeat words heavily — the memo turns
    * per-token cost into per-DISTINCT-token cost per partition). */
  def encodeDocs(docs: DataFrame, merges: Seq[Merge]): DataFrame = {
    val spark = docs.sparkSession
    val ranks: Map[(String, String), Int] =
      merges.map(m => (m.left, m.right) -> m.rank).toMap
    val bc = spark.sparkContext.broadcast(ranks)
    val rdd = docs.select(col("doc_id").cast("long"), col("text")).rdd
      .mapPartitions { it =>
        val rk = bc.value
        val memo = mutable.HashMap.empty[String, Int]
        it.map { row =>
          val id = row.getLong(0)
          val words = row.getString(1).split(" ").filter(_.nonEmpty)
          var bpe = 0L
          words.foreach { w =>
            bpe += memo.getOrElseUpdate(w, encodeWord(w, rk).length)
          }
          val nw = words.length.toLong
          val ratio =
            if (nw == 0) 0.0
            else graft.search.VecMath.round6(bpe.toDouble / nw)
          Row(id, nw, bpe, ratio)
        }
      }
    spark.createDataFrame(rdd, encodeSchema)
  }

  // ---- per-corpus-dir memo (a query run trains once, encode reuses;
  // mtime-guarded so a regenerated corpus retrains — r17 verdict #4) ----

  private val cache = new graft.ArtifactStore.Memo[Seq[Merge]]

  def trainedFor(s: SparkSession, dir: String, numMerges: Int, maxWords: Int): Seq[Merge] =
    cache(s"$dir#$numMerges#$maxWords", graft.Tables.sourceMtime(dir, "documents")) {
      train(graft.Tables.documents(s, dir), numMerges, maxWords) }
}
