package graft

import graft.operators.Decontaminate
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DecontaminateSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark

  private def df(rows: Seq[(Long, String)], idCol: String) = {
    import spark.implicits._
    rows.toDF(idCol, "text")
  }

  // 10 tokens; 8-grams → 3 distinct grams
  private val evalItem = "the melting point of sodium chloride is eight hundred degrees"
  // corpus doc 1 embeds the WHOLE eval item verbatim → frac_bench = 1.0
  private val verbatim = s"some leading words here $evalItem and some trailing words"
  // corpus doc 2 shares only the first 8 tokens → 1 of 3 bench grams
  private val partial = "the melting point of sodium chloride is eight unrelated continuation text follows now"
  // corpus doc 3 is clean
  private val cleanDoc = "completely unrelated prose about rivers and mountains with no shared runs at all"

  private lazy val corpus = df(Seq(1L -> verbatim, 2L -> partial, 3L -> cleanDoc), "doc_id")
  private lazy val bench = df(Seq(100L -> evalItem), "bench_id")

  test("ngrams: windowing, short-doc whole-run gram, empty doc") {
    assert(Decontaminate.ngrams("a b c d e f g h i j", 8).size == 3)
    assert(Decontaminate.ngrams("only four tokens here", 8) ==
      Set("only four tokens here"))
    assert(Decontaminate.ngrams("", 8).isEmpty)
    assert(Decontaminate.ngrams("  ...  ", 8).isEmpty)
  }

  test("overlap matrix: verbatim inclusion scores frac_bench 1.0; partial scores 1/3; clean absent") {
    val m = Decontaminate.overlap(corpus, bench)
      .orderBy("doc_id").collect()
    assert(m.length == 2, s"expected 2 contaminated pairs, got ${m.toSeq}")
    val byDoc = m.map(r => r.getLong(0) -> r).toMap
    assert(byDoc(1L).getAs[Long]("n_shared") == 3)
    assert(byDoc(1L).getAs[Double]("frac_bench") == 1.0)
    assert(byDoc(2L).getAs[Long]("n_shared") == 1)
    assert(byDoc(2L).getAs[Double]("frac_bench") == 1.0 / 3.0)
    assert(byDoc(2L).getAs[Int]("n_bench_grams") == 3)
    assert(!byDoc.contains(3L))
  }

  test("flagged at 0.5 keeps only the verbatim doc; clean() drops exactly it") {
    val f = Decontaminate.flagged(corpus, bench).collect()
    assert(f.map(_.getLong(0)).toSet == Set(1L))
    assert(f.head.getAs[Double]("max_frac_bench") == 1.0)
    val survivors = Decontaminate.clean(corpus, bench)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors == Set(2L, 3L))
  }

  test("short bench item (< n tokens) still matches a doc containing it") {
    val shortBench = df(Seq(200L -> "sodium chloride answer"), "bench_id")
    val doc = df(Seq(7L -> "padding words around it sodium chloride answer more padding here"), "doc_id")
    // the bench gram is its whole 3-token run; the 10-token doc windows
    // into 8-grams, none of which equals a 3-token gram — no match, by
    // the exact-collision contract (gram = fixed window)
    assert(Decontaminate.overlap(doc, shortBench).count() == 0)
    // but a doc that IS exactly the short run matches whole-for-whole
    val exact = df(Seq(8L -> "Sodium chloride ANSWER"), "doc_id")
    val m = Decontaminate.overlap(exact, shortBench).collect()
    assert(m.length == 1 && m.head.getAs[Double]("frac_bench") == 1.0)
  }

  test("bloom path (useBroadcast=false) emits identical rows to the broadcast path") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val b = docs.filter(col("doc_id") % 20 === 7)
      .select(col("doc_id").as("bench_id"), col("text"))
    val c = docs.filter(col("doc_id") % 20 =!= 7)
    val bcast = Decontaminate.overlap(c, b, useBroadcast = true)
      .orderBy("doc_id", "bench_id").collect().toSeq
    val bloom = Decontaminate.overlap(c, b, useBroadcast = false)
      .orderBy("doc_id", "bench_id").collect().toSeq
    assert(bcast == bloom)
    assert(bcast.nonEmpty, "sf0.001 split should contain planted contamination")
  }

  test("property: overlap matrix == driver-side brute force on random corpora") {
    import org.scalacheck.{Gen, Prop, Test => SchkTest}
    // tiny vocabulary + short docs force heavy gram collisions
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val doc = Gen.chooseNum(0, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))
    val n = 3
    val prop = Prop.forAll(Gen.listOfN(5, doc), Gen.listOfN(3, doc)) { (cs, bs) =>
      val expected = (for {
        (c, i) <- cs.zipWithIndex
        (b, j) <- bs.zipWithIndex
        gc = Decontaminate.ngrams(c, n)
        gb = Decontaminate.ngrams(b, n)
        shared = gc.intersect(gb).size if shared > 0
      } yield (i.toLong, (100 + j).toLong, shared.toLong, gc.size, gb.size)).toSet
      val got = Decontaminate.overlap(
        df(cs.zipWithIndex.map { case (t, i) => (i.toLong, t) }, "doc_id"),
        df(bs.zipWithIndex.map { case (t, j) => ((100 + j).toLong, t) }, "bench_id"),
        n = n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getInt(3), r.getInt(4))).toSet
      got == expected
    }
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, res.status.toString)
  }

  test("no exchange carries a string column, either path") {
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
    val b = docs.filter(col("doc_id") % 20 === 7)
      .select(col("doc_id").as("bench_id"), col("text"))
    val c = docs.filter(col("doc_id") % 20 =!= 7)
    for (bc <- Seq(true, false)) {
      val q = Decontaminate.overlap(c, b, useBroadcast = bc)
      q.collect()
      exchanges(q.queryExecution.executedPlan).foreach { e =>
        e.output.foreach { attr =>
          assert(attr.dataType != org.apache.spark.sql.types.StringType,
            s"useBroadcast=$bc: exchange carries string column ${attr.name}")
        }
      }
    }
  }
}
