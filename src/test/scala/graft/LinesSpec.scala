package graft

import graft.operators.{Lines, TextStats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Line-level boilerplate removal: hash/table goldens, distinct-doc
  * frequency semantics, strict-threshold boundary, order-preserving
  * rewrite, the all-boilerplate edge, partition invariance, and the
  * zero-exchange rewrite plan.
  */
class LinesSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark

  private def df(rows: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("lineTable: positions, lines, and the normalized fingerprint") {
    import spark.implicits._
    val got = Lines.lineTable(df(Seq((1L, "Alpha\nBETA  x\nalpha"))))
      .as[(Long, Int, String, Long)].collect().toList.sortBy(_._2)
    assert(got.map(_._3) == List("Alpha", "BETA  x", "alpha"))
    assert(got.map(_._4) == List(
      TextStats.fingerprint64("Alpha"),
      TextStats.fingerprint64("BETA  x"),
      TextStats.fingerprint64("alpha")))
    // normalization: "Alpha" and "alpha" share a fingerprint
    assert(got(0)._4 == got(2)._4)
  }

  test("doc frequency counts DISTINCT documents") {
    import spark.implicits._
    // doc 1 repeats the line twice -> still one document
    val d = df(Seq((1L, "spam\nspam\nunique1"), (2L, "spam\nunique2"),
      (3L, "unique3")))
    val freq = Lines.lineDocFreq(d).as[(Long, Long)].collect().toMap
    assert(freq(TextStats.fingerprint64("spam")) == 2L)
    assert(freq(TextStats.fingerprint64("unique1")) == 1L)
  }

  test("removeBoilerplate: strict threshold, order preserved, empty-doc edge") {
    import spark.implicits._
    val d = df(Seq(
      (1L, "keep me\nSPAM AD\nalso keep"),
      (2L, "spam ad\nborder line"),
      (3L, "spam ad\nborder line"),
      (4L, "spam ad"))) // all-boilerplate doc
    // "spam ad" df=4 (normalized matches SPAM AD), "border line" df=2
    val cleaned = Lines.removeBoilerplate(d, maxDocFreq = 2)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "keep me\nalso keep")
    assert(cleaned(2L) == "border line") // df=2 == threshold -> kept (strict >)
    assert(cleaned(3L) == "border line")
    assert(cleaned(4L) == "") // every line struck
  }

  test("NULL text: rewrite yields empty string, no NPE") {
    import spark.implicits._
    val d = df(Seq((1L, "keep\nkeep2"), (2L, null.asInstanceOf[String])))
    val cleaned = Lines.removeBoilerplate(d, maxDocFreq = 10)
      .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
    assert(cleaned(1L) == "keep\nkeep2" && cleaned(2L) == "")
  }

  test("partition invariance") {
    import spark.implicits._
    val d = df((0 until 120).map(i =>
      (i.toLong, s"body $i\nfooter ${i % 3}\nrare ${i % 40}")))
    def run(x: DataFrame) = Lines.removeBoilerplate(x, 10)
      .select("doc_id", "clean_text").as[(Long, String)].collect()
      .sortBy(_._1).toList
    assert(run(d) == run(d.repartition(17)))
  }

  test("fuzz: engine == content-level brute force on random multi-line corpora") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    for (trial <- 0 until 3) {
      val docs = (0 until 50).map { i =>
        val n = 1 + rnd.nextInt(6)
        (i.toLong, (0 until n).map(_ => s"Line ${rnd.nextInt(8)}  pad").mkString("\n"))
      }
      val maxDf = 5L
      def norm(l: String) = l.toLowerCase.replaceAll("\\s+", " ").trim
      // brute force on normalized line CONTENT
      val freq = docs.flatMap { case (id, t) => t.split("\n").map(norm).distinct.map(_ -> id) }
        .groupBy(_._1).map { case (l, g) => l -> g.map(_._2).distinct.size }
      val block = freq.filter(_._2 > maxDf).keySet
      val expected = docs.map { case (id, t) =>
        id -> t.split("\n").filterNot(l => block(norm(l))).mkString("\n")
      }.toMap
      val got = Lines.removeBoilerplate(df(docs), maxDf)
        .select("doc_id", "clean_text").as[(Long, String)].collect().toMap
      assert(got == expected, s"trial $trial")
    }
  }

  test("plan: the rewrite is a zero-exchange projection") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: p.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    import spark.implicits._
    val d = df((0 until 60).map(i => (i.toLong, s"body $i\nfooter ${i % 2}")))
    val q = Lines.removeBoilerplate(d, 10) // freq agg runs inside (collect)
    q.count()
    assert(exchanges(q.queryExecution.executedPlan).isEmpty,
      s"rewrite must not shuffle:\n${q.queryExecution.executedPlan}")
  }

  test("size-adaptive: broadcast and distributed branches are rows-identical (2 partitionings)") {
    import spark.implicits._
    // mixed corpus: high-df boilerplate, threshold-boundary lines, an
    // all-struck doc, a NULL-text doc, and normalization-only dupes
    val rows = (0 until 150).map { i =>
      (i.toLong, s"Body line $i\nFOOTER  ${i % 2}\nfooter ${i % 2}\nmid ${i % 30}")
    } ++ Seq((900L, "FOOTER  0"), (901L, null.asInstanceOf[String]))
    val d = df(rows)
    def collectClean(x: DataFrame) = x.select("doc_id", "clean_text")
      .as[(Long, String)].collect().sortBy(_._1).toList
    for (parts <- Seq(3, 23)) {
      val in = d.repartition(parts)
      // removeBoilerplate's distributed dispatch (a collect that did not
      // fit) on the SAME input the broadcast branch handles
      val bcast = collectClean(Lines.removeBoilerplate(in, 10))
      val dist = collectClean(
        Lines.removeBoilerplateGiven(in, Lines.blocklist(in, 10), None))
      assert(bcast == dist, s"branch divergence at $parts partitions")
      // and the explicit at-rest-blocklist entry point agrees too
      val block = Lines.lineDocFreq(in).where(col("doc_freq") > 10).select("h")
      assert(collectClean(
        Lines.removeBoilerplateDistributed(in, block)) == bcast)
    }
  }

  test("plan: distributed branch is a left-anti join, no driver-sized structure") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    def joins(p: SparkPlan): Seq[BaseJoinExec] = p match {
      case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
      case q: QueryStageExec => joins(q.plan)
      case j: BaseJoinExec => j +: p.children.flatMap(joins)
      case _ => p.children.flatMap(joins)
    }
    import spark.implicits._
    val d = df((0 until 60).map(i => (i.toLong, s"body $i\nfooter ${i % 2}")))
    val q = Lines.removeBoilerplateDistributed(d, Lines.blocklist(d, 10))
    q.count()
    val js = joins(q.queryExecution.executedPlan)
    assert(js.exists(_.joinType.sql == "LEFT ANTI"),
      s"distributed branch must anti-join the blocklist:\n${q.queryExecution.executedPlan}")
  }
}
