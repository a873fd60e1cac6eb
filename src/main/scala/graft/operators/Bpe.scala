package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** BPE tokenizer training + encoding — the tokenizer-fitting stage of
  * an LLM corpus build (the artifact that turns the packing/fertility
  * numbers real: [[Packing]] consumes token counts, and "tokens" means
  * THIS vocabulary). Standard within-word byte-pair encoding (Sennrich
  * et al. 2016): start from single characters, repeatedly merge the
  * most frequent adjacent symbol pair (ties broken by (left, right)
  * ascending — deterministic), no end-of-word marker (the within-word
  * variant, stated precisely so the oracle can hold us to it).
  *
  * Scale shape — the sentencepiece discipline: the corpus-scale work is
  * (a) ONE hash aggregation producing the (word, freq) table and
  * (b) the encode pass, a zero-exchange flatMap under broadcast merge
  * ranks. The merge LOOP itself runs driver-side over the collected
  * word-frequency table — and that collect is bounded STRUCTURALLY,
  * not by contract: on real web text the raw distinct-token table
  * (URLs, hex ids, typos) is billions of entries, so [[train]]
  * collects only the PRUNED table — `n >= minWordFreq` (industrial
  * BPE trainers prune by frequency; a singleton web token cannot move
  * a merge decision anyway at corpus scale) capped to the
  * `maxWords` highest-frequency words, deterministic under the total
  * order (n desc, word asc) — a distributed TakeOrdered, never a
  * single-task global sort. The cap is a true top-K: whatever the
  * corpus, the driver sees at most maxWords rows.
  *
  * Merge application (training rewrite and encode share it, so encoding
  * the training corpus reproduces the training segmentation exactly):
  * while any adjacent pair has a merge rank, merge ALL non-overlapping
  * occurrences of the LOWEST-RANK pair left-to-right, then repeat.
  *
  * Oracle design: the word-frequency table replays exactly
  * (`bpe_word_counts`); the merge table dumps as data under a
  * structural consistency oracle (each side of every merge is a single
  * character or the product of an EARLIER merge — `bpe_merges`); the
  * encode dump is held to the two properties that are SQL-checkable
  * without replaying the merge loop: pieces PARTITION each word
  * (char-exact concat in position order) and every piece is in the
  * learned vocabulary (`bpe_encode`); fertility chains off that dump.
  * The merge loop itself is spec-asserted against hand-computed goldens
  * and a brute-force reference implementation (BpeSpec).
  */
object Bpe {

  /** Default training-table frequency floor: singletons never survive
    * (KenLM's default discipline, same floor the LM/NB LUTs use).
    */
  val DefaultMinWordFreq: Long = 2L

  /** Default training-table cap: 1M distinct words — an order of
    * magnitude above any natural-language vocabulary, far below the
    * web's unbounded token space.
    */
  val DefaultMaxWords: Int = 1 << 20

  /** (word, n) frequency table — lowercased whitespace tokens (the
    * search/LM tokenization), one aggregation.
    */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(Search.searchTokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))

  /** The TRAINING word table: frequency-floored and top-K-capped under
    * the deterministic total order (n desc, word asc) — the only form
    * [[train]] ever collects (see class doc). The limit plans as a
    * distributed TakeOrdered, not a global sort.
    */
  def prunedWordCounts(docs: DataFrame,
      minWordFreq: Long = DefaultMinWordFreq,
      maxWords: Int = DefaultMaxWords,
      textCol: String = "text"): DataFrame =
    wordCounts(docs, textCol)
      .where(col("n") >= minWordFreq)
      .orderBy(col("n").desc, col("word").asc)
      .limit(maxWords)

  /** Merge all non-overlapping (left, right) occurrences in `syms`,
    * left-to-right.
    */
  def mergePair(syms: Vector[String], left: String, right: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == left && syms(i + 1) == right) {
        out += left + right; i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** One encode/rewrite step shared by training and encoding: apply the
    * lowest-rank applicable merge until none applies.
    */
  def applyMerges(word: String, ranks: Map[(String, String), Int]): Vector[String] = {
    var syms = word.map(_.toString).toVector
    var done = syms.length < 2
    while (!done) {
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i + 1 < syms.length) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        syms = mergePair(syms, syms(bi), syms(bi + 1))
        if (syms.length < 2) done = true
      }
    }
    syms
  }

  /** Train `numMerges` merges from the collected (word, freq) table.
    * Stops early when no pair occurs at least `minPairFreq` times.
    * Deterministic: pair counts are exact longs; ties break by
    * (left, right) ascending.
    *
    * INCREMENTAL pair-count maintenance (the standard fast-BPE
    * trainer): pair counts and a pair → containing-words index are
    * built once; each merge touches only the words that actually
    * contain the merged pair (decrement their old adjacent pairs,
    * rewrite, increment the new ones) and the best pair comes from an
    * ordered set updated in O(log P) per count change. The naive
    * recount form — re-walk EVERY word's symbol stream per merge,
    * O(numMerges × total symbols) — is kept in BpeSpec as the equality
    * reference; at the 1M-word cap with thousands of merges the recount
    * loop is the difference between minutes and tractable (BpeSpec
    * measures the fixture-scale ratio).
    */
  def trainFromCounts(
      wc: Seq[(String, Long)],
      numMerges: Int,
      minPairFreq: Long = 2L): Seq[(String, String)] = {
    val sorted = wc.sortBy(_._1)
    val words: Array[Vector[String]] =
      sorted.map { case (w, _) => w.map(_.toString).toVector }.toArray
    val freq: Array[Long] = sorted.map(_._2).toArray
    def pairsOf(syms: Vector[String]): Iterator[(String, String)] =
      (0 until syms.length - 1).iterator.map(i => (syms(i), syms(i + 1)))

    val counts = mutable.Map.empty[(String, String), Long]
    val index = mutable.Map.empty[(String, String), mutable.Set[Int]]
    for (wi <- words.indices; p <- pairsOf(words(wi))) {
      counts.updateWith(p)(c => Some(c.getOrElse(0L) + freq(wi)))
      index.getOrElseUpdate(p, mutable.Set.empty) += wi
    }
    // ordered view: head = (highest count, then (left, right) asc) —
    // exactly the recount trainer's minBy((-c, l, r)) selection
    val byBest = mutable.TreeSet.empty[(Long, String, String)](
      new Ordering[(Long, String, String)] {
        def compare(a: (Long, String, String), b: (Long, String, String)): Int = {
          val c = java.lang.Long.compare(b._1, a._1)
          if (c != 0) c
          else {
            val l = a._2.compareTo(b._2)
            if (l != 0) l else a._3.compareTo(b._3)
          }
        }
      })
    counts.foreach { case ((l, r), c) => byBest += ((c, l, r)) }
    def bump(p: (String, String), delta: Long): Unit = {
      val old = counts.getOrElse(p, 0L)
      if (old > 0) byBest -= ((old, p._1, p._2))
      val now = old + delta
      if (now > 0) { counts(p) = now; byBest += ((now, p._1, p._2)) }
      else counts -= p // zero entries leave, matching a fresh recount
    }

    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var step = 0
    var stop = false
    while (step < numMerges && !stop) {
      if (byBest.isEmpty) stop = true
      else {
        val (cnt, l, r) = byBest.head
        if (cnt < minPairFreq) stop = true
        else {
          merges += ((l, r))
          val affected = index.getOrElse((l, r), mutable.Set.empty).toArray
          affected.foreach { wi =>
            val old = words(wi)
            val nw = mergePair(old, l, r)
            if (nw != old) {
              val n = freq(wi)
              pairsOf(old).foreach(bump(_, -n))
              pairsOf(nw).foreach(bump(_, n))
              val oldSet = pairsOf(old).toSet
              val newSet = pairsOf(nw).toSet
              (oldSet -- newSet).foreach(p => index.get(p).foreach(_ -= wi))
              (newSet -- oldSet).foreach(p =>
                index.getOrElseUpdate(p, mutable.Set.empty) += wi)
              words(wi) = nw
            }
          }
          step += 1
        }
      }
    }
    merges.toSeq
  }

  /** Distributed word count + driver-side merge loop over the PRUNED
    * training table (structurally bounded collect — see class doc).
    */
  def train(docs: DataFrame, numMerges: Int, textCol: String = "text",
      minWordFreq: Long = DefaultMinWordFreq,
      maxWords: Int = DefaultMaxWords): Seq[(String, String)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainFromCounts(
      prunedWordCounts(docs, minWordFreq, maxWords, textCol)
        .select("word", "n").as[(String, Long)].collect().toSeq,
      numMerges)
  }

  /** The merge table as a DataFrame: (rank, lhs, rhs, merged) —
    * lhs/rhs, not left/right, so the SQL oracle needs no reserved-word
    * quoting. Takes the session, not a corpus: the table is a pure
    * function of the trained merges.
    */
  def mergeTable(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((l, r), i) => (i, l, r, l + r) }
      .toDF("rank", "lhs", "rhs", "merged")
  }

  /** Encode every document: (doc_id, wpos, ppos, piece) subword stream.
    * Zero-exchange flatMap under the broadcast merge ranks.
    */
  def encodePieces(
      docs: DataFrame, merges: Seq[(String, String)],
      textCol: String = "text", keyCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ranks = spark.sparkContext.broadcast(
      merges.zipWithIndex.map { case (p, i) => p -> i }.toMap)
    docs.select(col(keyCol).cast("long"), lower(col(textCol)))
      .as[(Long, String)]
      .flatMap { case (id, t) =>
        val ws = if (t == null) Array.empty[String]
                 else t.split(" ").filter(_.nonEmpty)
        for {
          (w, wi) <- ws.zipWithIndex.toSeq
          (p, pi) <- applyMerges(w, ranks.value).zipWithIndex
        } yield (id, wi, pi, p)
      }.toDF("doc_id", "wpos", "ppos", "piece")
  }

  /** Per-document fertility: words, subword pieces, and pieces/word —
    * the token-count feed for sequence packing under THIS vocabulary.
    */
  def fertility(pieces: DataFrame): DataFrame =
    pieces.groupBy("doc_id")
      .agg(countDistinct(col("wpos")).as("n_words"),
        count(lit(1)).as("n_pieces"))
      .withColumn("pieces_per_word", col("n_pieces") / col("n_words"))
}
