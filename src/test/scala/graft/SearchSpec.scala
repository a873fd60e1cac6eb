package graft

import graft.operators.Search
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BM25 lexical search: postings/df goldens, bit-exact agreement with
  * a driver-side brute force (same fold order), rank semantics,
  * partition invariance, and the broadcast-only query plan.
  */
class SearchSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark

  private def corpus(): DataFrame = {
    import spark.implicits._
    // 40 docs; 'needle' appears only in docs 0 mod 13 (rare term),
    // fillers rotate so tf/dl vary
    (0 until 40).map { i =>
      val words = Seq.fill(1 + i % 3)("alpha") ++ Seq.fill(1 + i % 5)("beta") ++
        Seq.fill(1 + i % 2)("gamma") ++
        (if (i % 13 == 0) Seq("needle", "needle") else Nil) ++
        Seq.fill(2)("delta")
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("postings golden: tf and dl on a tiny fixture") {
    import spark.implicits._
    val docs = Seq((1L, "A b a  b b"), (2L, "c"), (3L, " ")).toDF("doc_id", "text")
    val got = Search.postings(docs)
      .as[(String, Long, Long, Long)].collect().toSet
    // lowercased; double space yields no empty token; blank doc dropped
    assert(got == Set(("a", 1L, 5L, 2L), ("b", 1L, 5L, 3L), ("c", 2L, 1L, 1L)))
  }

  test("docFreq golden") {
    import spark.implicits._
    val df = Search.docFreq(Search.postings(corpus()))
      .as[(String, Long)].collect().toMap
    assert(df("needle") == 4L) // docs 0, 13, 26, 39
    assert(df("alpha") == 40L && df("delta") == 40L)
  }

  /** Driver-side brute force with the identical spelled arithmetic and
    * sorted-term fold.
    */
  private def brute(
      docs: Seq[(Long, String)],
      queries: Seq[(Int, Seq[String])],
      k: Int, k1: Double = 1.2, b: Double = 0.75)
    : Seq[(Int, Long, Double, Int)] = {
    val toks = docs.map { case (id, t) =>
      id -> t.toLowerCase.split(" ").filter(_.nonEmpty).toSeq
    }.filter(_._2.nonEmpty)
    val n = docs.size.toLong
    val t = docs.map(_._2.split(" ").count(_.nonEmpty).toLong).sum
    val dfm = toks.flatMap { case (_, ws) => ws.distinct }
      .groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    def idf(w: String) =
      math.log(1.0 + (n.toDouble - dfm(w) + 0.5) / (dfm(w) + 0.5))
    queries.flatMap { case (qid, terms) =>
      val scored = toks.flatMap { case (id, ws) =>
        val dl = ws.size.toLong
        val parts = terms.sorted.flatMap { w =>
          val tf = ws.count(_ == w).toLong
          if (tf == 0) None
          else {
            val norm = (dl * n).toDouble / t.toDouble
            Some(idf(w) * ((tf.toDouble * (k1 + 1.0)) /
              (tf.toDouble + k1 * ((1.0 - b) + b * norm))))
          }
        }
        if (parts.isEmpty) None
        else Some((id, parts.foldLeft(0.0)(_ + _)))
      }
      scored.sortBy { case (id, s) => (-s, id) }.take(k)
        .zipWithIndex.map { case ((id, s), r) => (qid, id, s, r + 1) }
    }
  }

  test("bm25TopK agrees bit-exactly with the driver-side brute force") {
    import spark.implicits._
    val docs = corpus()
    val queries = Seq(1 -> Seq("needle", "beta"), 2 -> Seq("alpha", "gamma"),
      3 -> Seq("needle"))
    val got = Search.bm25TopK(docs, queries, k = 7)
      .select("qid", "doc_id", "score", "rank")
      .as[(Int, Long, Double, Int)].collect()
      .sortBy(r => (r._1, r._4)).toSeq
    val want = brute(docs.as[(Long, String)].collect().toSeq, queries, k = 7)
      .sortBy(r => (r._1, r._4))
    assert(got.size == want.size)
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2 && g._4 == w._4, s"$g vs $w")
      assert(java.lang.Double.doubleToLongBits(g._3) ==
        java.lang.Double.doubleToLongBits(w._3),
        s"score bits differ: $g vs $w")
    }
    // the rare-term query ranks a needle doc first
    assert(got.filter(_._1 == 3).minBy(_._4)._2 % 13 == 0)
  }

  test("partition invariance: same topk at any layout") {
    import spark.implicits._
    val queries = Seq(1 -> Seq("needle", "beta"))
    def run(df: DataFrame) = Search.bm25TopK(df, queries, k = 5)
      .select("qid", "doc_id", "score", "rank")
      .as[(Int, Long, Double, Int)].collect().sortBy(_._4).toList
    val a = run(corpus())
    assert(a == run(corpus().repartition(17)) && a == run(corpus().coalesce(1)))
  }

  test("plan: query terms and idf broadcast; no corpus-text exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: p.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    val q = Search.bm25TopK(corpus(), Seq(1 -> Seq("needle", "beta")), k = 5)
    q.count()
    val plan = q.queryExecution.executedPlan
    assert(plan.toString.contains("BroadcastHashJoin"),
      s"query/idf joins must broadcast:\n$plan")
    // the corpus-sized postings build runs ONCE (persisted, shared by
    // the idf branch and the scoring branch)
    assert(plan.toString.contains("InMemoryTableScan"),
      s"postings must be persisted across both consumers:\n$plan")
    val exs = exchanges(plan)
    // postings agg (once) + vocab-sized df agg + score agg + rank
    // window — and none carries raw text
    assert(exs.size <= 4, s"too many exchanges:\n$plan")
    assert(!exs.exists(_.child.output.exists(_.name == "text")),
      s"raw text must never ride an exchange:\n$plan")
    // every broadcast in the scoring plan is query-term-bounded: the
    // idf frame is vocab-sized on web text and must be restricted to
    // the driver-known query terms BEFORE its broadcast hint (2 query
    // terms here; rowCount counts build-side rows actually shipped)
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    def broadcasts(p: SparkPlan): Seq[BroadcastExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
      case qs: QueryStageExec => broadcasts(qs.plan)
      case e: BroadcastExchangeLike => e +: p.children.flatMap(broadcasts)
      case _ => p.children.flatMap(broadcasts)
    }
    val bes = broadcasts(plan)
    assert(bes.nonEmpty, s"expected broadcast exchanges:\n$plan")
    bes.foreach { be =>
      val rows = be.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      assert(rows <= 2L,
        s"broadcast carries $rows rows — idf must be bounded by the " +
          s"query term set:\n$plan")
    }
  }
}
