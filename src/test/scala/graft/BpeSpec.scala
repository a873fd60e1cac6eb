package graft

import graft.operators.Bpe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** BPE training + encoding: hand-computed merge goldens, tie-break
  * determinism, all-occurrence / overlap merge semantics, the
  * encode-reproduces-training invariant, round-trip partition property
  * on random words, fertility, partition invariance, and the
  * zero-exchange encode plan.
  */
class BpeSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  /** The reference recount trainer (pre-r6 implementation): rebuilds
    * the full pair-count table from every word per merge. Kept as the
    * brute-force equality baseline for the incremental trainer.
    */
  private def trainFromCountsRecount(
      wc: Seq[(String, Long)],
      numMerges: Int,
      minPairFreq: Long = 2L): Seq[(String, String)] = {
    var words: Array[(Vector[String], Long)] =
      wc.sortBy(_._1).map { case (w, n) => (w.map(_.toString).toVector, n) }.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var step = 0
    var stop = false
    while (step < numMerges && !stop) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.length - 1)
        counts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + n))
      if (counts.isEmpty) stop = true
      else {
        val (pair, cnt) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (cnt < minPairFreq) stop = true
        else {
          merges += pair
          words = words.map { case (syms, n) => (Bpe.mergePair(syms, pair._1, pair._2), n) }
          step += 1
        }
      }
    }
    merges.toSeq
  }

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("training golden: the classic low/lower/lowest corpus") {
    // freqs: low x5, lower x2, lowest x2 (one doc each word-burst)
    val wc = Seq("low" -> 5L, "lower" -> 2L, "lowest" -> 2L)
    val m = Bpe.trainFromCounts(wc, numMerges = 4)
    // pair counts round 1: (l,o)=9, (o,w)=9 -> tie broken by left asc: (l,o)
    assert(m.head == ("l", "o"))
    // round 2: (lo,w)=9 wins
    assert(m(1) == ("lo", "w"))
    // round 3: (low,e)=4 (both lower and lowest) beats the freq-2 pairs
    assert(m(2) == ("low", "e"))
    // round 4: (lowe,r)=2, (lowe,s)=2, (s,t)=2 — tie broken lexicographically
    assert(m(3) == ("lowe", "r"))
  }

  test("training stops when no pair reaches minPairFreq") {
    val m = Bpe.trainFromCounts(Seq("abc" -> 1L, "def" -> 1L), numMerges = 10)
    assert(m.isEmpty) // every pair occurs once < 2
    val m2 = Bpe.trainFromCounts(Seq("abc" -> 1L, "abd" -> 1L), numMerges = 10)
    assert(m2 == Seq(("a", "b"))) // only (a,b) reaches 2
  }

  test("mergePair: all occurrences, left-to-right non-overlapping") {
    assert(Bpe.mergePair("ababab".map(_.toString).toVector, "a", "b") ==
      Vector("ab", "ab", "ab"))
    assert(Bpe.mergePair("aaa".map(_.toString).toVector, "a", "a") ==
      Vector("aa", "a"))
    assert(Bpe.mergePair("aaaa".map(_.toString).toVector, "a", "a") ==
      Vector("aa", "aa"))
  }

  test("applyMerges follows rank order and reproduces training segmentation") {
    val wc = Seq("low" -> 5L, "lower" -> 2L, "lowest" -> 2L)
    val merges = Bpe.trainFromCounts(wc, numMerges = 4)
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    assert(Bpe.applyMerges("low", ranks) == Vector("low"))
    assert(Bpe.applyMerges("lower", ranks) == Vector("lower"))
    assert(Bpe.applyMerges("lowest", ranks) == Vector("lowe", "s", "t"))
    // held-out word: partial merges apply
    assert(Bpe.applyMerges("slow", ranks) == Vector("s", "low"))
    // training rewrite == encode for every training word (the shared-
    // algorithm invariant)
    val wordsAfterTraining = {
      var ws = wc.map { case (w, _) => w -> w.map(_.toString).toVector }.toMap
      for ((l, r) <- merges)
        ws = ws.map { case (w, s) => w -> Bpe.mergePair(s, l, r) }
      ws
    }
    for ((w, seg) <- wordsAfterTraining)
      assert(Bpe.applyMerges(w, ranks) == seg, s"word $w")
  }

  test("round trip: pieces partition every word (random corpus)") {
    val rnd = new Random(42)
    val words = (0 until 200).map(_ =>
      (0 until (1 + rnd.nextInt(10))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    val wc = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }.toSeq
    val merges = Bpe.trainFromCounts(wc, numMerges = 30)
    val ranks = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    for (w <- words) {
      val pieces = Bpe.applyMerges(w, ranks)
      assert(pieces.mkString == w, s"round trip broke for $w")
      assert(pieces.forall(p => p.length == 1 || merges.exists(m => m._1 + m._2 == p)),
        s"piece not in vocab for $w: $pieces")
    }
  }

  test("incremental trainer == recount trainer on fixture and random corpora, with a measured speedup") {
    // equality on the classic fixture
    val fixture = Seq("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    assert(Bpe.trainFromCounts(fixture, 10) ==
      trainFromCountsRecount(fixture, 10))
    // equality on random corpora (several seeds, small alphabet so
    // merges interact heavily; includes minPairFreq early stops)
    for (seed <- 1 to 5) {
      val rnd = new Random(seed)
      val words = (0 until 300).map(_ =>
        (0 until (1 + rnd.nextInt(12))).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
      val wc = words.groupBy(identity).map { case (w, g) => w -> g.size.toLong }.toSeq
      assert(Bpe.trainFromCounts(wc, 50) == trainFromCountsRecount(wc, 50),
        s"trainers diverged at seed $seed")
    }
    // speedup probe at a size where the recount term shows (not a hard
    // assertion — shared-VM timing — but recorded in the test log)
    val rnd = new Random(7)
    val big = (0 until 20000).map(i =>
      (0 until (3 + rnd.nextInt(12))).map(_ => ('a' + rnd.nextInt(8)).toChar).mkString)
      .groupBy(identity).map { case (w, g) => w -> (g.size.toLong + 1) }.toSeq
    def t(f: => Seq[(String, String)]): (Seq[(String, String)], Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val (mi, ti) = t(Bpe.trainFromCounts(big, 200))
    val (mr, tr) = t(trainFromCountsRecount(big, 200))
    assert(mi == mr)
    info(f"incremental $ti%.2fs vs recount $tr%.2fs (x${tr / ti}%.1f) on ${big.size} words / 200 merges")
  }

  test("distributed wordCounts + encodePieces + fertility") {
    import spark.implicits._
    val d = df(Seq((1L, "aa ab aa"), (2L, "ab ba")))
    val wc = Bpe.wordCounts(d).as[(String, Long)].collect().toMap
    assert(wc == Map("aa" -> 2L, "ab" -> 2L, "ba" -> 1L))
    val merges = Bpe.train(d, numMerges = 2)
    assert(merges.head == ("a", "a") || merges.head == ("a", "b"))
    val pieces = Bpe.encodePieces(d, merges)
      .as[(Long, Int, Int, String)].collect().toList
    // partition property on the real dataflow
    val byWord = pieces.groupBy(p => (p._1, p._2)).view
      .mapValues(_.sortBy(_._3).map(_._4).mkString).toMap
    assert(byWord((1L, 0)) == "aa" && byWord((1L, 1)) == "ab" &&
      byWord((1L, 2)) == "aa" && byWord((2L, 1)) == "ba")
    val fert = Bpe.fertility(Bpe.encodePieces(d, merges))
      .select("doc_id", "n_words", "n_pieces")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(fert(1L)._1 == 3L && fert(2L)._1 == 2L)
  }

  test("partition invariance") {
    import spark.implicits._
    val d = df((0 until 80).map(i => (i.toLong, s"w${i % 9} common w${i % 4}")))
    val merges = Bpe.train(d, numMerges = 10)
    def run(x: DataFrame) = Bpe.encodePieces(x, merges)
      .as[(Long, Int, Int, String)].collect().sortBy(p => (p._1, p._2, p._3)).toList
    assert(run(d) == run(d.repartition(11)))
    assert(Bpe.train(d.repartition(11), numMerges = 10) == merges)
  }

  test("training-table prune: floor + deterministic top-K cap; merges unchanged when slack") {
    import spark.implicits._
    // floor: singleton web junk (hex ids) must not reach the driver
    val d = df(Seq(
      (1L, "low low low lower lower a1b2c3d4"),
      (2L, "low lowest deadbeef01"),
      (3L, "lower lowest cafe99ff")))
    val pruned = Bpe.prunedWordCounts(d)
      .as[(String, Long)].collect().toMap
    assert(pruned == Map("low" -> 4L, "lower" -> 3L, "lowest" -> 2L),
      s"singletons must be floored out: $pruned")
    // cap: top-K under (n desc, word asc) — deterministic, exact
    val capped = Bpe.prunedWordCounts(d, maxWords = 2)
      .as[(String, Long)].collect().toMap
    assert(capped == Map("low" -> 4L, "lower" -> 3L))
    // prune determinism across partitionings (TakeOrdered, total order)
    for (p <- Seq(2, 13)) {
      val again = Bpe.prunedWordCounts(d.repartition(p), maxWords = 2)
        .as[(String, Long)].collect().toMap
      assert(again == capped, s"prune not deterministic at $p partitions")
    }
    // when every word clears the floor and the cap is slack, training
    // is EXACTLY the unpruned training (the sf-fixture situation)
    val clear = df((0 until 40).map(i => (i.toLong, s"w${i % 5} shared w${i % 3}")))
    val unpruned = Bpe.trainFromCounts(
      Bpe.wordCounts(clear).as[(String, Long)].collect().toSeq, 10)
    assert(Bpe.train(clear, 10) == unpruned)
    // and a pruning corpus trains exactly on its pruned table
    assert(Bpe.train(d, 5) == Bpe.trainFromCounts(pruned.toSeq, 5))
  }

  test("plan: encode is a zero-exchange projection") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: p.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val merges = Bpe.train(docs.filter(col("doc_id") % 7 === 3), 20)
    val q = Bpe.encodePieces(docs, merges)
    q.count()
    assert(exchanges(q.queryExecution.executedPlan).isEmpty,
      s"encode must not shuffle:\n${q.queryExecution.executedPlan}")
  }
}
