package graft

import graft.operators.Release
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The composed corpus-release build: every fate exercised on a hand
  * corpus, first-kill priority, redaction-before-dedup semantics, the
  * released artifact, threshold dials, partition invariance, and the
  * zero-exchange plan shape of the fused per-row pass.
  */
class ReleaseSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark

  /** Interleaved english body: 23 tokens, 8 english stopwords, and a
    * per-doc token in every third position so two bodies with different
    * `u` share almost no word-3-gram shingles (no accidental near-dups
    * between clean documents).
    */
  private def en(u: String, last: String = "is done"): String =
    s"the $u page of $u corpus and $u body with $u words for $u members " +
      s"at $u site this $u group $last"

  private val benchText =
    "eval question one about the spark joins and windows of batch systems"

  private val german =
    "der die das und ist von mit für auf ein eine nicht den im zu war " +
      "sind den der die und"

  private def corpus(): DataFrame = {
    import spark.implicits._
    Seq(
      1L -> en("alpha1"), // kept
      2L -> german, // lang
      3L -> "the cat is on the mat", // quality: 6 tokens < 20
      4L -> en("####"), // quality: 32 punct chars * 5 > n_chars
      5L -> Seq.fill(8)("the spam line again").mkString("\n"), // repetition
      6L -> (en("xd6") + " contact a.user@mail-one.example.com now"), // kept (exact-dup rep)
      8L -> (en("xd6") + " contact b.other@mail-two.example.org now"), // exact_dup AFTER redaction
      9L -> en("nd9", "tail one"), // kept (near-dup rep)
      10L -> en("nd9", "tail two"), // near_dup (J ≈ 0.91)
      11L -> (en("ct11") + " " + benchText), // contaminated (frac_bench = 1.0)
      7L -> benchText, // bench (7 % 20 == 7)
      22L -> german // priority: duplicate text, but lang kills first
    ).toDF("doc_id", "text")
  }

  private def fatesMap(df: DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  test("fate ledger: every stage exercised, first-kill priority") {
    val fates = Release.ledger(corpus())
    val m = fatesMap(fates)
    assert(m == Map(
      1L -> "kept", 2L -> "lang", 3L -> "quality", 4L -> "quality",
      5L -> "repetition", 6L -> "kept", 8L -> "exact_dup",
      9L -> "kept", 10L -> "near_dup", 11L -> "contaminated",
      7L -> "bench", 22L -> "lang"))
  }

  test("redaction happens before dedup: docs differing only in PII are duplicates") {
    // 6 and 8 share a body and differ only in the planted email — raw
    // texts are distinct, redacted texts identical; min id survives
    val fates = Release.ledger(corpus())
    val m = fatesMap(fates)
    assert(m(6L) == "kept" && m(8L) == "exact_dup")
  }

  test("released corpus = kept rows with the redacted text, raw column gone") {
    val rel = Release.released(corpus())
    val rows = rel.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.keySet == Set(1L, 6L, 9L))
    assert(rows(6L) == en("xd6") + " contact <EMAIL> now")
    assert(rows(1L) == en("alpha1"))
    assert(rel.columns.toSeq == Seq("doc_id", "clean_text"))
  }

  test("stats reports the full attrition") {
    val fates = Release.ledger(corpus())
    val s = Release.stats(fates).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(s == Map("kept" -> 3L, "lang" -> 2L, "quality" -> 2L,
      "repetition" -> 1L, "exact_dup" -> 1L, "near_dup" -> 1L,
      "contaminated" -> 1L, "bench" -> 1L))
  }

  test("threshold dials: a stricter near-dup bar keeps the J=0.91 pair") {
    val fates = Release.ledger(corpus(),
      cfg = Release.Config(nearThreshold = 0.99))
    val m = fatesMap(fates)
    assert(m(10L) == "kept")
  }

  test("ledger is partition-invariant") {
    val m1 = fatesMap(Release.ledger(corpus().repartition(7)))
    val m2 = fatesMap(Release.ledger(corpus().repartition(2)))
    assert(m1 == m2)
  }

  test("incremental ledger: crawl delta vs the at-rest index, every fate") {
    import spark.implicits._
    val idx = Release.buildIndex(corpus())
    val delta = Seq(
      101L -> en("alpha1"), // exact text of seen kept doc 1 → exact_dup (seen hash)
      102L -> (en("xd6") + " contact zz.new@mail-three.example.net now"), // redacted == seen 6/8's red → exact_dup
      103L -> en("nd9", "tail three"), // near-dup of seen family {9,10} → seen-touch → near_dup
      104L -> en("delta104"), // clean → kept
      105L -> german, // lang
      106L -> (en("ct106") + " " + benchText), // contaminated
      112L -> en("pd7", "tail a"), // within-delta near-dup pair: min kept
      113L -> en("pd7", "tail b"), // near_dup (all-new component, not min)
      109L -> "the dog is by the door", // quality: 6 tokens
      110L -> en("xx110x"), // within-delta exact pair: min kept
      111L -> en("xx110x") // exact_dup (within delta)
    ).toDF("doc_id", "text")
    val fates = Release.incrementalLedger(delta, idx)
    val m = fatesMap(fates)
    assert(m == Map(
      101L -> "exact_dup", 102L -> "exact_dup", 103L -> "near_dup",
      104L -> "kept", 105L -> "lang", 106L -> "contaminated",
      112L -> "kept", 113L -> "near_dup", 109L -> "quality",
      110L -> "kept", 111L -> "exact_dup"))
  }

  test("incremental 'seen means seen': a near-dup of a seen DROPPED doc still dies") {
    import spark.implicits._
    // seen 10 was near-dup-dropped (9 kept); a delta near-dup of that
    // family's body still has a seen-touching component → killed, even
    // though its closest seen match never shipped
    val idx = Release.buildIndex(corpus())
    val delta = Seq(201L -> en("nd9", "tail four")).toDF("doc_id", "text")
    val fates = Release.incrementalLedger(delta, idx)
    val m = fatesMap(fates)
    assert(m(201L) == "near_dup")
  }

  test("plan: the per-row gate pass is ONE zero-exchange projection") {
    import org.apache.spark.sql.execution.exchange.Exchange
    val l = Release.labeled(corpus())
    l.count()
    val plan = l.queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty,
      s"per-row gates must not shuffle:\n$plan")
  }
}
