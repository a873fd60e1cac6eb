package graft.operators

import graft.functions.Normalize
import graft.model.{ChemDictEntry, Sentence, Triple}
import graft.plans.Scope
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** J1/J2 + A1: PubChem-style entity linking as Spark joins.
  *
  * Reference semantics (cprex/pubchem/linker.py:138-163):
  *  - A1: count chem-mention surface occurrences (exact text, Counter);
  *    only compounds with count >= min_occurences (3) are linked;
  *  - J1: surface → CID via the synonym map keyed by compound.lower()
  *    (linker.py:39,52) — here `chem_norm` (F6, a stricter deterministic
  *    canonicalization per the north star);
  *  - J2: back-attach linked properties to every mention row.
  *
  * Scale design (the part the reference cannot express):
  *  - default path: `broadcast(dict)` hash join — zero shuffle on the
  *    10^12-row probe side; A1 is the only shuffle (partial agg first);
  *  - `salted` path for when the dictionary exceeds broadcast budget at
  *    real scale: explicit salt column on the probe side
  *    (pmod(hash(url), nSalts)) with the dict side exploded ×nSalts, so
  *    head entities ("water": ~15% of all mentions in the fixture
  *    workload) spread over nSalts reducers instead of one. AQE skew
  *    join stays enabled as the backstop (spark.sql.adaptive.*).
  */
object Linking {

  val MinOccurrences = 3 // linker.py:138

  /** F6 normalization as a custom codegen'd Catalyst expression (not a
    * UDF): the A1-gate projection stays inside whole-stage codegen.
    */
  def chemNormCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.chem_norm(c)

  /** A1: chem mention counts over annotated sentences (exact surface,
    * like the reference's Counter over ent.text).
    */
  def mentionCounts(annotated: Dataset[Sentence]): DataFrame = {
    val spark = annotated.sparkSession
    import spark.implicits._
    annotated
      .flatMap(s => s.ents.filter(_.label == "CHEM").map(_.text))
      .toDF("mention")
      .groupBy("mention").agg(count(lit(1)).as("occurrences"))
  }

  /** The dictionary is a DISTRIBUTED Dataset, not a driver array — the
    * honest shape for a 100M-synonym PubChem dump that cannot live on
    * the driver at all. The Array overloads below parallelize the small
    * fixture dictionary for tests and driver queries.
    */
  def dictDs(spark: SparkSession, dict: Array[ChemDictEntry]): Dataset[ChemDictEntry] = {
    import spark.implicits._
    spark.createDataset(dict.toIndexedSeq)
  }

  /** Dictionary rows flattened to (nameNorm, cid) — the join build side. */
  def dictNames(dict: Dataset[ChemDictEntry]): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    dict.flatMap(e => e.synonyms.map(s => (Normalize.chemNorm(s), e.cid)))
      .toDF("name_norm", "cid")
      .groupBy("name_norm").agg(min("cid").as("cid")) // first-wins like linker memoization
  }

  def dictProps(dict: Dataset[ChemDictEntry]): DataFrame = {
    val spark = dict.sparkSession
    import spark.implicits._
    dict.map(e => (e.cid, e.canonicalName, e.molecularFormula, e.molecularWeight,
      e.canonicalSmiles, e.iupacName))
      .toDF("cid", "canonical_name", "molecular_formula", "molecular_weight",
        "canonical_smiles", "iupac_name")
  }

  /** J2 strict form (linker.py:157-162): back-attach linked properties
    * to EVERY CHEM mention of the annotated sentence table — the
    * reference re-walks all docs after linking and sets `ent._.props`
    * on each CHEM span, not only on triple heads. One row per CHEM
    * mention with its CID + properties (nulls when the surface is rare
    * or unresolved), so a consumer of the annotated sentence table gets
    * per-mention CIDs exactly like the reference's primary artifact.
    * Same broadcast discipline as the triple path (links is
    * A1-gated + dict-joined, then broadcast onto the mention rows).
    */
  /** Fused single-pass form of the J2 strict back-attachment: ONE
    * flatMap over the annotated table emits the compact per-mention
    * rows, that dataset persists, and BOTH consumers — the A1
    * occurrence count and the final attach join — read the cache. The
    * pre-round-4 shape re-derived mentionCounts from the un-persisted
    * `annotated` and so ran the full NER annotate stage twice; at
    * 10^12 pages that doubles the dominant cost of the pipeline's
    * primary artifact. Single-pass is asserted by LinkingSpec with a
    * row accumulator on the annotate subtree.
    * The compact mention cache registers into `scope`.
    */
  def attachToMentions(
      annotated: Dataset[Sentence],
      dict: Dataset[ChemDictEntry],
      minOccurrences: Int = MinOccurrences
  )(implicit scope: Scope): DataFrame = {
    val spark = annotated.sparkSession
    import spark.implicits._
    val mentions = scope.persist(annotated.flatMap { s =>
      s.ents.iterator.filter(_.label == "CHEM").map(e =>
        (s.url, s.sentId, e.startChar, e.endChar, e.startTok, e.text))
    }.toDF("url", "sent_id", "start_char", "end_char", "start_tok", "mention"))
    // A1 gate computed from the SAME compact rows (groupBy over exact
    // surfaces — identical to mentionCounts over `annotated`)
    val eligible = mentions.groupBy("mention").agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") >= minOccurrences)
      .withColumn("name_norm", chemNormCol(col("mention")))
      .select("mention", "name_norm")
    val links = eligible
      .join(broadcast(dictNames(dict)), Seq("name_norm"))
      .join(broadcast(dictProps(dict)), Seq("cid"))
      .drop("name_norm")
    mentions.join(broadcast(links), Seq("mention"), "left_outer")
  }

  private def joinLinks(triples: DataFrame, links: DataFrame): DataFrame =
    triples
      .withColumn("head_surface", when(col("headLabel") === "CHEM", col("headText")))
      .join(broadcast(links), col("head_surface") === links("mention"), "left_outer")
      .drop("mention", "head_surface")

  /** One row of the fused single-pass output: exactly one of
    * (mention, triple) is set.
    */
  final case class MentionOrTriple(mention: String, triple: Triple)

  /** Fused J1/J2/A1 single-pass path: the annotated stage feeds BOTH
    * the A1 mention count and the triple assembly. Instead of
    * persisting full Sentence rows (nested token/ent/rel arrays — the
    * dominant persist cost at 10^12 rows), one flatMap emits compact
    * (mention | triple) rows and only THAT union is persisted. Produces
    * rows identical to the two-pass reference form kept in LinkingSpec
    * (triples ⟕ links of a separate mention count). The
    * compact cache registers into `scope` (disk-backed MEMORY_AND_DISK
    * blocks are not reclaimed by storage-memory LRU, so a long-lived
    * session must release them).
    */
  def linkTriplesFused(
      annotated: Dataset[Sentence],
      dictArr: Array[ChemDictEntry],
      minOccurrences: Int = MinOccurrences
  )(implicit scope: Scope): DataFrame = {
    val (eligible, triples) = fusedParts(annotated, minOccurrences)
    linkEligible(triples, eligible, dictArr)
  }

  /** J1+J2 broadcast path: `triples` ⟕ the surface-link table of the
    * A1-`eligible` mentions (a [[fusedParts]] result) on the exact head
    * surface — CHEM heads only; non-CHEM heads pass through unlinked, as
    * in the reference where only CHEM ents carry props. The link table
    * mirrors the reference's `properties` dict keyed by surface
    * (linker.py:155) and its back-attachment by exact text
    * (linker.py:160-161).
    */
  def linkEligible(triples: DataFrame, eligible: DataFrame,
      dictArr: Array[ChemDictEntry]): DataFrame = {
    val dict = dictDs(triples.sparkSession, dictArr)
    val links = eligible
      .join(broadcast(dictNames(dict)), Seq("name_norm"))
      .join(broadcast(dictProps(dict)), Seq("cid"))
      .drop("name_norm", "occurrences")
    joinLinks(triples, links)
  }

  /** Shared skeleton of the fused single-pass paths and of
    * `Materialize.materializeGraph`: ONE flatMap over the annotated
    * table emits compact (mention | triple) rows; only that union
    * persists (into `scope`). Returns the A1-eligible surfaces
    * (mention, name_norm, occurrences) and the triples, both scans of
    * that cache: the first action over either populates it, every
    * later one reads it.
    */
  def fusedParts(
      annotated: Dataset[Sentence],
      minOccurrences: Int
  )(implicit scope: Scope): (DataFrame, DataFrame) = {
    val spark = annotated.sparkSession
    import spark.implicits._
    val combined = scope.persist(annotated.flatMap { s =>
      val mentions = s.ents.iterator.filter(_.label == "CHEM")
        .map(e => MentionOrTriple(e.text, null))
      val trips =
        if (Relations.keepDoc(s.ents))
          Triples.assemble(s).iterator.map(t => MentionOrTriple(null, t))
        else Iterator.empty
      mentions ++ trips
    })
    val eligible = combined.filter(col("mention").isNotNull)
      .groupBy("mention").agg(count(lit(1)).as("occurrences"))
      .filter(col("occurrences") >= minOccurrences)
      .withColumn("name_norm", chemNormCol(col("mention")))
      .select("mention", "name_norm", "occurrences")
    // `triple.*` of the nullable struct column reads every field as
    // nullable; the primitive fields (never null in a non-null struct)
    // get a non-null coalesce so the triple table records the schema
    // `Pipeline.run` writes. A typed `map(_.triple)` records it too, but
    // builds a Triple per cached row and stops column pruning, so a
    // downstream that reads four columns still decodes all fourteen
    val triples = combined.filter(col("triple").isNotNull)
      .select(Encoders.product[Triple].schema.fields.toSeq.map { f =>
        val c = col(s"triple.${f.name}")
        (if (f.nullable) c else coalesce(c, lit(0).cast(f.dataType))).as(f.name)
      }: _*)
    (eligible, triples)
  }

  /** Fused + salted: the broadcast-free large-dict path with the
    * single-annotate-pass plan shape of `linkTriplesFused` (previously
    * the salted driver query recomputed the annotate stage twice).
    * Identical rows to `linkTriplesFused` and to the two-pass reference
    * forms kept in LinkingSpec.
    */
  def linkTriplesSaltedFused(
      annotated: Dataset[Sentence],
      dictArr: Array[ChemDictEntry],
      nSalts: Int = 8,
      minOccurrences: Int = MinOccurrences
  )(implicit scope: Scope): DataFrame = {
    val spark = annotated.sparkSession
    val dict = dictDs(spark, dictArr)
    val (eligible, triples) = fusedParts(annotated, minOccurrences)
    val links = eligible
      .join(dictNames(dict).hint("shuffle_hash"), Seq("name_norm"))
      .join(dictProps(dict).hint("shuffle_hash"), Seq("cid"))
      .drop("name_norm", "occurrences")
    val saltedDict = links.withColumn("salt", explode(lit((0 until nSalts).toArray)))
    val probe = triples
      .withColumn("head_surface", when(col("headLabel") === "CHEM", col("headText")))
      .withColumn("salt", pmod(hash(col("url")), lit(nSalts)))
    probe
      .hint("shuffle_hash")
      .join(saltedDict,
        probe("head_surface") === saltedDict("mention") && probe("salt") === saltedDict("salt"),
        "left_outer")
      .drop("mention", "head_surface", "salt")
  }

  /** Occurrence threshold above which a mention surface counts as a
    * head entity (water, NaCl) for salting purposes. The heavy SET is
    * bounded by construction: at most totalMentions/HeavyThreshold
    * surfaces can exceed it, so broadcasting the set is always safe —
    * unlike the dictionary, whose size is unbounded corpus-independent
    * input. Production value ~1e6; driver/spec fixtures pass a small
    * one so both branches are exercised at test scale.
    */
  val HeavyThreshold: Long = 1000000L

  /** TARGETED salting — the SURVEY §4 design (pre-computed heavy-hitter
    * list broadcast) that `linkTriplesSaltedFused` approximates by
    * salting everything. Exploding the whole surface-link table ×nSalts
    * multiplies the dict-side exchange by nSalts for keys that were
    * never skewed; here only mentions whose A1 occurrence count (free —
    * the gate already computed it) reaches `heavyThreshold` explode,
    * so the dict-side exchange is |links| + (nSalts-1)·|heavy| rows and
    * the probe side pays one extra broadcast-join lookup against the
    * bounded heavy list. The ONLY broadcast in the plan is that list —
    * never the dictionary (plan-asserted: exactly one BroadcastExchange
    * carrying the single heavy_mention column). Rows identical to
    * `linkTriplesSaltedFused` and the LinkingSpec reference forms.
    */
  def linkTriplesSaltedTargeted(
      annotated: Dataset[Sentence],
      dictArr: Array[ChemDictEntry],
      nSalts: Int = 8,
      heavyThreshold: Long = HeavyThreshold,
      minOccurrences: Int = MinOccurrences
  )(implicit scope: Scope): DataFrame = {
    val spark = annotated.sparkSession
    val dict = dictDs(spark, dictArr)
    val (eligible, triples) = fusedParts(annotated, minOccurrences)
    val links = eligible
      .join(dictNames(dict).hint("shuffle_hash"), Seq("name_norm"))
      .join(dictProps(dict).hint("shuffle_hash"), Seq("cid"))
      .drop("name_norm")
    // heavy explodes to all salts; the long tail keeps one row at salt 0
    val saltedDict = links
      .withColumn("salt", explode(when(col("occurrences") >= heavyThreshold,
        lit((0 until nSalts).toArray)).otherwise(array(lit(0)))))
      .drop("occurrences")
    val heavy = eligible.filter(col("occurrences") >= heavyThreshold)
      .select(col("mention").as("heavy_mention"))
    val probe = triples
      .withColumn("head_surface", when(col("headLabel") === "CHEM", col("headText")))
      .join(broadcast(heavy), col("head_surface") === col("heavy_mention"), "left_outer")
      .withColumn("salt", when(col("heavy_mention").isNotNull,
        pmod(hash(col("url")), lit(nSalts))).otherwise(lit(0)))
      .drop("heavy_mention")
    probe
      .hint("shuffle_hash")
      .join(saltedDict,
        probe("head_surface") === saltedDict("mention") && probe("salt") === saltedDict("salt"),
        "left_outer")
      .drop("mention", "head_surface", "salt")
  }
}
