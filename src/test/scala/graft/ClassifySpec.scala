package graft

import graft.operators.Classify
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Naive-Bayes document classification: count/prior/table goldens
  * (exact log arithmetic), seen/backoff resolution, hand-computed
  * scores, separable-fixture accuracy, argmax tie-break determinism,
  * partition invariance, and the no-text-exchange scoring plan.
  */
class ClassifySpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def df(rows: Seq[(Long, String, String)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  private val train = df(Seq(
    (1L, "aa aa bb", "A"),
    (2L, "aa cc", "A"),
    (3L, "bb bb bb dd", "B")))

  test("counts and label totals") {
    import spark.implicits._
    val got = Classify.counts(train)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == Set(
      ("A", "aa", 3L, 5L), ("A", "bb", 1L, 5L), ("A", "cc", 1L, 5L),
      ("B", "bb", 3L, 4L), ("B", "dd", 1L, 4L)))
    assert(Classify.vocabSize(train) == 5L) // {aa,bb,cc,dd} + OOV
  }

  test("priors and the smoothed model table are exact log arithmetic") {
    import spark.implicits._
    val pr = Classify.priors(train).as[(String, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(pr("A") == ((2L, math.log(2.0 / 3.0))))
    assert(pr("B") == ((1L, math.log(1.0 / 3.0))))
    val nb = Classify.nbTable(Classify.counts(train), 5L)
      .select("label", "token", "lw", "lwq")
      .as[(String, String, Double, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    def q(x: Double) = math.floor(x * Classify.Shift + 0.5).toLong
    assert(nb(("A", "aa")) == ((math.log(4.0 / 10.0), q(math.log(4.0 / 10.0)))))
    assert(nb(("B", "bb")) == ((math.log(4.0 / 9.0), q(math.log(4.0 / 9.0)))))
    assert(nb(("A", Classify.Backoff))._1 == math.log(1.0 / 10.0))
    assert(nb(("B", Classify.Backoff))._1 == math.log(1.0 / 9.0))
  }

  test("score: seen/backoff resolution, hand-computed fixed-point sum") {
    import spark.implicits._
    val nb = Classify.nbTable(Classify.counts(train), 5L)
    val pr = Classify.priors(train)
    // "aa zz": aa seen for A, backoff for B; zz backoff for both
    val got = Classify.score(df(Seq((9L, "aa zz", "?"))), nb, pr)
      .as[(Long, String, Long, Long, Double)].collect()
      .map(r => r._2 -> r).toMap
    def q(x: Double) = math.floor(x * Classify.Shift + 0.5).toLong
    val sumA = q(math.log(4.0 / 10.0)) + q(math.log(1.0 / 10.0))
    val sumB = q(math.log(1.0 / 9.0)) + q(math.log(1.0 / 9.0))
    assert(got("A") == (9L, "A", 2L, sumA,
      math.log(2.0 / 3.0) + sumA.toDouble / Classify.Shift))
    assert(got("B") == (9L, "B", 2L, sumB,
      math.log(1.0 / 3.0) + sumB.toDouble / Classify.Shift))
    // empty doc: absent from scores (no evidence)
    assert(Classify.score(df(Seq((10L, "", "?"))), nb, pr).count() == 0)
  }

  /** Reference formulation of [[Classify.score]]: per-occurrence
    * crossJoin with the priors plus two broadcast joins resolving each
    * (label, token).
    */
  private def scoreViaJoins(docs: DataFrame, nb: DataFrame, pr: DataFrame): DataFrame = {
    import spark.implicits._
    val rows = nb.select(col("label"), col("token"), col("lwq"))
      .as[(String, String, Long)].collect()
    val seen = rows.filter(_._2 != Classify.Backoff).toSeq.toDF("label", "w", "lwq_seen")
    val backoff = rows.filter(_._2 == Classify.Backoff)
      .map(r => (r._1, r._3)).toSeq.toDF("label", "lwq_backoff")
    val prior = pr.select(col("label"), col("lp_prior"))
    Classify.tokens(docs)
      .crossJoin(broadcast(prior))
      .join(broadcast(seen), Seq("label", "w"), "left")
      .join(broadcast(backoff), Seq("label"), "left")
      .withColumn("lwq_r", coalesce(col("lwq_seen"), col("lwq_backoff")))
      .groupBy("doc_id", "label")
      .agg(count(lit(1)).as("n_tokens"),
        max(col("lp_prior")).as("lp_prior"),
        sum(col("lwq_r")).as("sum_lwq"))
      .withColumn("score",
        col("lp_prior") + col("sum_lwq").cast("double") / lit(Classify.Shift))
      .select("doc_id", "label", "n_tokens", "sum_lwq", "score")
  }

  /** Score rows sorted by (doc, label), the score as its bits; a null
    * sum or score stays None.
    */
  private def flat(x: DataFrame) = x.collect()
    .map(r => (r.getLong(0), r.getString(1), r.getLong(2), Option(r.get(3)),
      Option(r.get(4)).map(d => java.lang.Double.doubleToLongBits(d.asInstanceOf[Double]))))
    .sortBy(r => (r._1, r._2)).toList

  test("score formulations agree: array-LUT fast path == join reference, bit-exact") {
    // dup-heavy random corpus: repeated tokens, OOV tokens, tokens seen
    // for only one label — every resolution branch exercised
    val tr = df((0 until 60).map(i =>
      (i.toLong, s"w${i % 7} w${i % 5} w${i % 3} only${i % 2}", s"s${i % 4}")))
    val d = df((0 until 50).map(i =>
      (100L + i, s"w${i % 7} w${i % 7} w${i % 11} only${i % 2} oov$i", "?")))
    val nb = Classify.nbTable(Classify.counts(tr), Classify.vocabSize(tr))
    val pr = Classify.priors(tr)
    assert(flat(Classify.score(d, nb, pr)) == flat(scoreViaJoins(d, nb, pr)))
  }

  test("score: a label with no backoff row scores null, bit-exact to the join reference") {
    // every training doc of label E has empty text: E has a prior but
    // no counts, so neither seen nor backoff rows
    val tr = df(Seq((1L, "aa bb", "A"), (2L, "bb cc", "B"), (3L, "", "E"), (4L, "", "E")))
    val d = df(Seq((10L, "aa zz", "?"), (11L, "cc cc bb", "?")))
    val nb = Classify.nbTable(Classify.counts(tr), Classify.vocabSize(tr))
    val pr = Classify.priors(tr)
    val got = flat(Classify.score(d, nb, pr))
    assert(got == flat(scoreViaJoins(d, nb, pr)))
    // E still counts each doc's tokens; its sum and score are null, and
    // the other labels score as usual
    assert(got.filter(_._2 == "E") == List((10L, "E", 2L, None, None), (11L, "E", 3L, None, None)))
    assert(got.count(r => r._2 != "E" && r._4.nonEmpty && r._5.nonEmpty) == 4)
  }

  test("prediction: separable fixture classifies held-out docs; ties break by label") {
    import spark.implicits._
    val tr = df((0 until 40).map { i =>
      val l = if (i % 2 == 0) "A" else "B"
      val w = if (l == "A") "alpha apple axe" else "bolt brick bass"
      (i.toLong, s"$w common$i", l)
    })
    val nb = Classify.nbTable(Classify.counts(tr), Classify.vocabSize(tr))
    val pr = Classify.priors(tr)
    val held = df(Seq(
      (100L, "alpha axe unseen", "?"),
      (101L, "brick bolt bass", "?")))
    val preds = Classify.predict(Classify.score(held, nb, pr))
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    assert(preds == Map(100L -> "A", 101L -> "B"))
    // exact tie (symmetric training, doc of only-OOV tokens with equal
    // priors and equal backoff) -> label ascending wins
    val tie = Classify.predict(Classify.score(df(Seq((200L, "zz", "?"))), nb, pr))
      .select("doc_id", "pred").as[(Long, String)].collect().toMap
    assert(tie(200L) == "A")
  }

  test("partition invariance") {
    import spark.implicits._
    val tr = df((0 until 60).map(i =>
      (i.toLong, s"w${i % 7} w${i % 5} w${i % 3}", s"s${i % 4}")))
    def run(x: DataFrame) = {
      val nb = Classify.nbTable(Classify.counts(tr), Classify.vocabSize(tr))
      val pr = Classify.priors(tr)
      Classify.predict(Classify.score(x, nb, pr))
        .select("doc_id", "pred").as[(Long, String)].collect()
        .sortBy(_._1).toList
    }
    val d = df((0 until 50).map(i => (i.toLong, s"w${i % 7} w${i % 11}", "?")))
    assert(run(d) == run(d.repartition(13)))
  }

  test("plan: corpus text and tokens ride no exchange in the scoring pass") {
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
    val tr = docs.filter(col("doc_id") % 10 === 5)
    val nb = Classify.nbTable(Classify.counts(tr), Classify.vocabSize(tr))
    val q = Classify.score(docs, nb, Classify.priors(tr))
    q.collect()
    val ex = exchanges(q.queryExecution.executedPlan)
    assert(ex.nonEmpty) // the (doc, label) aggregation shuffles
    ex.foreach { e =>
      e.output.foreach { attr =>
        assert(attr.name != "text" && attr.name != "w",
          s"exchange carries corpus column ${attr.name}")
      }
    }
  }
}
