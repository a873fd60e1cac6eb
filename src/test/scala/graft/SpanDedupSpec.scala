package graft

import graft.operators.SpanDedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Exact substring dedup: window goldens, duplicate-flag semantics
  * (cross-doc AND within-doc), interval merge, strike-every-occurrence
  * rewrite, passthrough normalization, partition invariance, and the
  * zero-string-exchange broadcast plan.
  */
class SpanDedupSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("windows: positions and the rolling hash golden") {
    import spark.implicits._
    val got = SpanDedup.windows(df(Seq((1L, "a b c d"))), k = 3)
      .as[(Long, Int, Long)].collect().sortBy(_._2).toList
    val hs = Array("a", "b", "c", "d").map(SpanDedup.tokenHash)
    assert(got == List(
      (1L, 0, SpanDedup.windowHash(hs, 0, 3)),
      (1L, 1, SpanDedup.windowHash(hs, 1, 3))))
    // short doc: no windows
    assert(SpanDedup.windows(df(Seq((2L, "a b"))), k = 3).count() == 0)
  }

  test("duplicate flags: cross-doc, within-doc, and unique windows") {
    import spark.implicits._
    val d = df(Seq(
      (1L, "x y z only here"),          // unique
      (2L, "the same span u2 tail a"),  // cross-doc dup of doc 3
      (3L, "head the same span u3"),
      (4L, "p q r w p q r v")))         // within-doc repeat of "p q r"
    val starts = SpanDedup.dupWindowStarts(d, k = 3)
      .as[(Long, Int)].collect().toSet
    assert(starts == Set((2L, 0), (3L, 1), (4L, 0), (4L, 4)))
  }

  test("mergeIntervals: overlap, adjacency, and gaps") {
    assert(SpanDedup.mergeIntervals(Seq(0, 1, 2), 3) == Seq((0, 5)))
    assert(SpanDedup.mergeIntervals(Seq(0, 3), 3) == Seq((0, 6))) // s == hi: adjacent merges
    assert(SpanDedup.mergeIntervals(Seq(0, 4), 3) == Seq((0, 3), (4, 7)))
    assert(SpanDedup.mergeIntervals(Nil, 3) == Nil)
  }

  test("dupSpans merges overlapping windows into maximal spans") {
    import spark.implicits._
    // "c1 c2 c3 c4" shared by docs 1 and 2 -> windows at 2 consecutive
    // starts (k=3) merge into one span of 4 tokens
    val d = df(Seq(
      (1L, "u1 u2 c1 c2 c3 c4 u3"),
      (2L, "c1 c2 c3 c4 v1 v2 v3")))
    val spans = SpanDedup.dupSpans(d, k = 3)
      .as[(Long, Int, Int)].collect().toSet
    assert(spans == Set((1L, 2, 6), (2L, 0, 4)))
  }

  test("removeDupSpans strikes EVERY occurrence; survivors keep order") {
    import spark.implicits._
    val d = df(Seq(
      (1L, "u1 u2 c1 c2 c3 c4 u3"),
      (2L, "c1 c2 c3 c4 v1 v2 v3"),
      (3L, "w1   w2\tw3 w4"),            // unflagged: whitespace-normalized passthrough
      (4L, "c1 c2 c3 c4"),               // fully covered -> empty (dup of the shared span)
      (5L, ""),
      (6L, null.asInstanceOf[String]))) // NULL text -> empty, no NPE
    val cleaned = SpanDedup.removeDupSpans(d, k = 3)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "u1 u2 u3")
    assert(cleaned(2L) == "v1 v2 v3")
    assert(cleaned(3L) == "w1 w2 w3 w4")
    assert(cleaned(4L) == "")
    assert(cleaned(5L) == "")
    assert(cleaned(6L) == "")
  }

  test("broadcast and shuffled rewrite paths agree") {
    import spark.implicits._
    val d = df((0 until 80).map { i =>
      val shared = if (i % 4 == 0) " s1 s2 s3 s4 s5" else ""
      (i.toLong, s"b$i c$i d$i$shared e$i")
    })
    def rows(x: DataFrame) = x.select("doc_id", "clean_text")
      .as[(Long, String)].collect().sortBy(_._1).toList
    val a = rows(SpanDedup.removeDupSpans(d, k = 3, useBroadcast = true))
    val b = rows(SpanDedup.removeDupSpans(d, k = 3, useBroadcast = false))
    assert(a == b)
    assert(a.count(_._2 == "") == 0)
    // every i%4==0 doc lost exactly the shared span
    assert((0 until 80).filter(_ % 4 == 0)
      .forall(i => a(i)._2 == s"b$i c$i d$i e$i"))
  }

  test("partition invariance") {
    import spark.implicits._
    val d = df((0 until 90).map(i =>
      (i.toLong, s"h$i x${i % 5} y${i % 5} z${i % 5} q${i % 7} t$i")))
    def run(x: DataFrame) = SpanDedup.removeDupSpans(x, k = 3)
      .select("doc_id", "clean_text").as[(Long, String)].collect()
      .sortBy(_._1).toList
    assert(run(d) == run(d.repartition(13)))
  }

  test("fuzz: engine == content-level brute force on random dup-heavy corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val k = 3
      val docs = (0 until 40).map { i =>
        val n = 4 + rnd.nextInt(12)
        (i.toLong, (0 until n).map(_ => s"t${rnd.nextInt(6)}").mkString(" "))
      }
      // brute force on window CONTENT (independent of the engine's
      // hashing): flag every occurrence of any k-token window string
      // occurring > 1 times corpus-wide, strike covered tokens
      val wins = for {
        (id, t) <- docs
        ts = t.split(" ")
        p <- 0 to ts.length - k
      } yield (id, p, ts.slice(p, p + k).mkString(" "))
      val dupSet = wins.groupBy(_._3).filter(_._2.size > 1).keySet
      val expected = docs.map { case (id, t) =>
        val ts = t.split(" ")
        val starts = (0 to ts.length - k)
          .filter(p => dupSet(ts.slice(p, p + k).mkString(" ")))
        val covered = starts.flatMap(s => s until s + k).toSet
        id -> ts.zipWithIndex.filterNot(x => covered(x._2)).map(_._1).mkString(" ")
      }.toMap
      val got = SpanDedup.removeDupSpans(df(docs), k)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("plan: broadcast rewrite — no exchange carries a string column") {
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
    val q = SpanDedup.removeDupSpans(docs, k = 8)
    q.agg(sum(length(col("clean_text")))).collect()
    val ex = exchanges(q.queryExecution.executedPlan)
    assert(ex.nonEmpty) // the flag aggregation does shuffle — ints only
    ex.foreach { e =>
      e.output.foreach { attr =>
        assert(attr.dataType != org.apache.spark.sql.types.StringType,
          s"exchange carries string column ${attr.name}")
      }
    }
  }
}
