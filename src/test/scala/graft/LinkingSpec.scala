package graft

import graft.functions.Normalize
import graft.model.{ChemDictEntry, Sentence, Triple}
import graft.operators.Linking
import graft.plans.{Pipeline, Scope}
import graft.sources.{ChemDict, PageGen}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** J1/J2/A1 semantics + broadcast-vs-salted plan equivalence. */
class LinkingSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark
  private val N = 120L

  private lazy val annotated = {
    val names = ChemDict.entries.flatMap(_.synonyms)
    Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, N)), names).cache()
  }
  private lazy val triples = Pipeline.triples(annotated).cache()

  // Two-pass reference forms: the A1 gate counts mentions over the
  // annotated table apart from the triples, and the per-surface link
  // table (A1-gated surfaces ⋈ dictionary) joins the triples on the
  // exact CHEM head surface. Every fused and salted path in `main` must
  // produce their rows.

  /** Distributed reference of `Linking.dictNames`: the dictionary
    * parallelized, flattened to (name_norm, cid) and grouped to the
    * minimum cid per name.
    */
  private def dictNamesDistributed(dict: Array[ChemDictEntry]): DataFrame = {
    import spark.implicits._
    spark.createDataset(dict.toIndexedSeq)
      .flatMap(e => e.synonyms.map(s => (Normalize.chemNorm(s), e.cid)))
      .toDF("name_norm", "cid")
      .groupBy("name_norm").agg(min("cid").as("cid"))
  }

  /** (cid, mention, properties...) for every surface with at least
    * `minOccurrences` occurrences that resolves via chem_norm;
    * `useBroadcast = false` makes every dictionary join a shuffled hash
    * join (the large-dictionary shape).
    */
  private def surfaceLinks(annotated: Dataset[Sentence], dict: Array[ChemDictEntry],
      minOccurrences: Int, useBroadcast: Boolean): DataFrame = {
    def side(df: DataFrame): DataFrame =
      if (useBroadcast) broadcast(df) else df.hint("shuffle_hash")
    Linking.mentionCounts(annotated)
      .filter(col("occurrences") >= minOccurrences)
      .withColumn("name_norm", Linking.chemNormCol(col("mention")))
      .select("mention", "name_norm")
      .join(side(dictNamesDistributed(dict)), Seq("name_norm"))
      .join(side(Linking.dictProps(spark, dict)), Seq("cid"))
      .drop("name_norm")
  }

  /** Broadcast form: triples ⟕ surface links on the CHEM head surface. */
  private def linkTriples(triples: Dataset[Triple], annotated: Dataset[Sentence],
      dict: Array[ChemDictEntry]): DataFrame = {
    val links = surfaceLinks(annotated, dict, Linking.MinOccurrences,
      useBroadcast = true)
    triples.toDF()
      .withColumn("head_surface", when(col("headLabel") === "CHEM", col("headText")))
      .join(broadcast(links), col("head_surface") === links("mention"), "left_outer")
      .drop("mention", "head_surface")
  }

  /** Broadcast-free form: shuffled dictionary joins, the link table
    * exploded ×nSalts and the probe side salted by url hash.
    */
  private def linkTriplesSalted(triples: Dataset[Triple], annotated: Dataset[Sentence],
      dict: Array[ChemDictEntry], nSalts: Int): DataFrame = {
    val links = surfaceLinks(annotated, dict, Linking.MinOccurrences,
      useBroadcast = false)
    val saltedDict = links.withColumn("salt", explode(lit((0 until nSalts).toArray)))
    val probe = triples.toDF()
      .withColumn("head_surface", when(col("headLabel") === "CHEM", col("headText")))
      .withColumn("salt", pmod(hash(col("url")), lit(nSalts)))
    probe
      .hint("shuffle_hash")
      .join(saltedDict,
        probe("head_surface") === saltedDict("mention") && probe("salt") === saltedDict("salt"),
        "left_outer")
      .drop("mention", "head_surface", "salt")
  }

  /** Per-mention reference of `Linking.attachToMentions`: every CHEM
    * mention ⟕ the broadcast surface links on its exact text.
    */
  private def attachReference(annotated: Dataset[Sentence],
      dict: Array[ChemDictEntry]): DataFrame = {
    import spark.implicits._
    val links = surfaceLinks(annotated, dict, Linking.MinOccurrences, useBroadcast = true)
    annotated.flatMap(s => s.ents.filter(_.label == "CHEM").map(e =>
        (s.url, s.sentId, e.startChar, e.endChar, e.startTok, e.text)))
      .toDF("url", "sent_id", "start_char", "end_char", "start_tok", "mention")
      .join(broadcast(links), Seq("mention"), "left_outer")
  }

  /** `a` and `b` hold the same columns and the same multiset of rows. */
  private def assertSameRows(a: DataFrame, b: DataFrame, clue: String = ""): Unit = {
    assert(a.columns.sorted.sameElements(b.columns.sorted), clue)
    val cols = a.columns.sorted.toSeq
    val ka = a.select(cols.map(col): _*).collect().map(_.toString).sorted
    val kb = b.select(cols.map(col): _*).collect().map(_.toString).sorted
    assert(ka.sameElements(kb), clue)
  }

  test("A1 gate: only mentions with count >= 3 link (linker.py:138-155)") {
    import spark.implicits._
    val counts = Linking.mentionCounts(annotated)
    val linked = linkTriples(triples, annotated, ChemDict.entries)
    // every linked CHEM head must have surface count >= 3
    val linkedHeads = linked
      .filter(col("headLabel") === "CHEM" && col("cid").isNotNull)
      .select("headText").distinct().as[String].collect().toSet
    val eligible = counts.filter(col("occurrences") >= 3)
      .select("mention").as[String].collect().toSet
    assert(linkedHeads.subsetOf(eligible),
      s"linked-but-rare: ${(linkedHeads -- eligible).take(5)}")
    // rare mentions stay unlinked
    val rare = counts.filter(col("occurrences") < 3)
      .select("mention").as[String].collect().toSet
    val unlinkedRare = linked
      .filter(col("headLabel") === "CHEM" && col("cid").isNull)
      .select("headText").distinct().as[String].collect().toSet
    assert(rare.intersect(linkedHeads).isEmpty)
    assert(unlinkedRare.subsetOf(rare))
  }

  test("J1: heads resolve to the right CID via chem_norm") {
    import spark.implicits._
    val linked = linkTriples(triples, annotated, ChemDict.entries)
    val waterRows = linked.filter(col("headText") === "water" && col("cid").isNotNull)
    if (waterRows.count() > 0)
      assert(waterRows.select("cid").distinct().as[Long].collect().toSeq == Seq(1L))
    // synonym surfaces map to the same cid as the canonical name
    val tnt = linked.filter(lower(col("headText")).isin("tnt", "trinitrotoluene",
      "2,4,6-trinitrotoluene") && col("cid").isNotNull)
    val cids = tnt.select("cid").distinct().as[Long].collect().toSeq
    assert(cids.isEmpty || cids == Seq(10L))
  }

  test("J2 strict: attachToMentions rows = CHEM mentions; CIDs agree with the triple path") {
    import spark.implicits._
    val attached = Linking.attachToMentions(annotated, ChemDict.entries).cache()
    // exactly one row per CHEM mention of the annotated table
    val nMentions = annotated.flatMap(s => s.ents.filter(_.label == "CHEM")).count()
    assert(attached.count() == nMentions)
    // A1 gate holds per mention
    val counts = Linking.mentionCounts(annotated).as[(String, Long)].collect().toMap
    attached.filter(col("cid").isNotNull).select("mention").distinct()
      .as[String].collect().foreach(m => assert(counts(m) >= 3, s"linked-but-rare: $m"))
    // the per-mention cid matches what the triple-head path links
    val tripleCids = linkTriples(triples, annotated, ChemDict.entries)
      .filter(col("headLabel") === "CHEM" && col("cid").isNotNull)
      .select(col("headText"), col("cid")).distinct()
      .as[(String, Long)].collect().toMap
    val mentionCids = attached.filter(col("cid").isNotNull)
      .select(col("mention"), col("cid")).distinct()
      .as[(String, Long)].collect().toMap
    assert(tripleCids.nonEmpty)
    tripleCids.foreach { case (m, c) =>
      assert(mentionCids.get(m).contains(c), s"cid mismatch for $m")
    }
    attached.unpersist()
  }

  test("attachToMentions runs the annotate subtree ONCE (fused single-pass)") {
    import spark.implicits._
    // instrument the annotate subtree with a row accumulator: both the
    // A1 count and the attach join must be fed from one persisted pass,
    // so each sentence row flows through exactly once (the pre-fuse
    // shape ran the NER stage twice -> 2x the count)
    val acc = spark.sparkContext.longAccumulator("annotate-rows")
    val instrumented = annotated.map { s => acc.add(1); s }
    val nSentences = annotated.count()
    acc.reset()
    val attached = Linking.attachToMentions(instrumented, ChemDict.entries)
    attached.collect()
    assert(acc.value == nSentences,
      s"annotate subtree ran ${acc.value.toDouble / nSentences}x (expected 1x)")
  }

  test("salted join produces identical rows to broadcast join") {
    val a = linkTriples(triples, annotated, ChemDict.entries)
    val b = linkTriplesSalted(triples, annotated, ChemDict.entries, nSalts = 4)
    assertSameRows(a, b)
  }

  test("fused single-pass path produces identical rows to the two-pass path") {
    val a = linkTriples(triples, annotated, ChemDict.entries)
    val b = Linking.linkTriplesFused(annotated, ChemDict.entries)
    assertSameRows(a, b)
  }

  test("salted path contains NO broadcast even with auto-broadcast disabled (large-dict honesty)") {
    // the stated guarantee: this path works when the dictionary cannot
    // broadcast at all. Force Catalyst to never pick broadcast on its
    // own; any BroadcastExchange left in the plan is ours — there must
    // be none — and the rows must still match the broadcast path.
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = linkTriples(triples, annotated, ChemDict.entries)
      val b = linkTriplesSalted(triples, annotated, ChemDict.entries, nSalts = 4)
      b.collect() // finalize adaptive plan
      val plan = b.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
        s"salted path must not broadcast:\n$plan")
      assert(plan.contains("ShuffledHashJoin") || plan.contains("SortMergeJoin"),
        s"expected shuffled joins:\n$plan")
      assertSameRows(a, b)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("salted-fused path: identical rows, no broadcast under auto-broadcast disabled") {
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = linkTriples(triples, annotated, ChemDict.entries)
      val b = Linking.linkTriplesSaltedFused(annotated, ChemDict.entries, nSalts = 4)
      b.collect() // finalize adaptive plan
      val plan = b.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange") && !plan.contains("BroadcastHashJoin"),
        s"salted-fused path must not broadcast:\n$plan")
      assertSameRows(a, b)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("targeted salting: identical rows; the ONLY broadcast is the bounded heavy list") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    def broadcasts(p: SparkPlan): Seq[BroadcastExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => broadcasts(a.executedPlan)
      case q: QueryStageExec => broadcasts(q.plan)
      case e: BroadcastExchangeLike => e +: p.children.flatMap(broadcasts)
      case _ => p.children.flatMap(broadcasts)
    }
    // threshold at the median eligible occurrence count: both the
    // explode-all-salts branch and the single-salt branch are live
    val occs = Linking.mentionCounts(annotated).filter(col("occurrences") >= 3)
      .select("occurrences").as[Long].collect().sorted
    val thr = occs(occs.length / 2)
    assert(occs.exists(_ >= thr) && occs.exists(_ < thr), "fixture must split")
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = linkTriples(triples, annotated, ChemDict.entries)
      // at a splitting threshold, at MaxValue (nothing heavy — everything
      // salt 0) and at 0 (everything heavy — degenerates to full salting):
      // rows must be identical in every regime
      for (t <- Seq(thr, Long.MaxValue, 0L)) Scope(spark) { round =>
        val b = Linking.linkTriplesSaltedTargeted(
          annotated, ChemDict.entries, nSalts = 4, heavyThreshold = t)(round)
        b.collect() // finalize adaptive plan
        val bx = broadcasts(b.queryExecution.executedPlan)
        // any broadcast in the plan must be the heavy-mention list —
        // one string column, never dict payload. (With an EMPTY heavy
        // set AQE's empty-relation propagation removes the join and
        // its broadcast altogether, so only require presence when
        // something is heavy.)
        if (t != Long.MaxValue) assert(bx.nonEmpty, "heavy list should broadcast")
        bx.foreach { e =>
          assert(e.child.output.map(_.name) == Seq("heavy_mention"),
            s"only the heavy list may broadcast, saw: ${e.child.output.map(_.name)}")
        }
        assertSameRows(a, b, s"row mismatch at heavyThreshold=$t")
      }
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("a name shared by two entries keeps the minimum cid in every link form") {
    import spark.implicits._
    // "Benzene" also names a lower cid (0) than benzene's own (3), and
    // "WATER" a higher one (900) than water's (1): both normalize onto a
    // name_norm another entry already holds
    def entry(cid: Long, names: String*) =
      ChemDictEntry(cid, names.head, names.toArray, s"F$cid", 10.0 + cid, s"S$cid", names.head)
    val dict = ChemDict.entries ++ Array(entry(0L, "benzole", "Benzene"),
      entry(900L, "aqua pura", "WATER"))
    val names = Linking.dictNames(spark, dict).as[(String, Long)].collect()
    assert(names.map(_._1).distinct.length == names.length)
    assert(names.toMap.get("benzene").contains(0L) && names.toMap.get("water").contains(1L))
    assert(names.sorted.sameElements(
      dictNamesDistributed(dict).as[(String, Long)].collect().sorted))

    val reference = linkTriples(triples, annotated, dict)
    assert(reference.filter(col("cid") === 0L && col("canonical_name") === "benzole")
      .count() > 0, "the fixture must link a head through the shared name")
    assertSameRows(reference, Linking.linkTriplesFused(annotated, dict), "fused")
    assertSameRows(reference, Linking.linkTriplesSaltedFused(annotated, dict, nSalts = 4),
      "salted")
    assertSameRows(reference, Linking.linkTriplesSaltedTargeted(annotated, dict, nSalts = 4,
      heavyThreshold = 5L), "targeted")
    assertSameRows(attachReference(annotated, dict), Linking.attachToMentions(annotated, dict),
      "attachToMentions")
  }

  test("linking cached fused parts: the dictionary side is one driver-built broadcast") {
    // the linked stage of a graph build over the compact cache: the A1
    // gate's shuffle, the broadcast of the driver-built dictionary side,
    // the broadcast of the link table and the write. No job parallelizes
    // or groups the dictionary, and its names and properties are not
    // broadcast apart
    val (eligible, cached) = Linking.fusedParts(annotated, Linking.MinOccurrences)
    assert(cached.count() > 0)
    val (_, jobs) = SparkSpec.withJobs(Linking.linkEligible(cached, eligible, ChemDict.entries)
      .write.format("noop").mode("overwrite").save())
    assert(jobs == 4, s"linking the cached parts ran $jobs jobs")
  }

  test("broadcast path plans a BroadcastHashJoin with no shuffle on the probe side") {
    val linked = linkTriples(triples, annotated, ChemDict.entries)
    val plan = linked.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join in:\n$plan")
  }
}
