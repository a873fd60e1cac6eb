package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end corpus-release build — the composed job a training
  * run actually executes, chaining the per-stage operators this engine
  * already ships into ONE dataflow with a per-document attrition
  * ledger:
  *
  * {{{
  * documents ──► per-row gates (ONE zero-exchange projection):
  *               bench split │ language ID │ quality ints │
  *               Gopher repetition │ PII redaction
  *           ──► exact dedup        (md5-of-redacted-text group)
  *           ──► near-dup dedup     (minhash-LSH + exact-Jaccard + CC)
  *           ──► decontamination    (word-8-gram sweep vs the bench split)
  *           ──► released corpus + (doc_id, fate) ledger
  * }}}
  *
  * Stage ORDER is the scale argument: every per-row gate is a
  * zero-exchange Column expression evaluated in one fused projection
  * (plan-asserted in ReleaseSpec), so the corpus pays exactly one text
  * scan before anything shuffles; the exchanges that follow see only
  * the shrinking survivor set, and each carries compact keys (16-byte
  * md5 groups, int band tuples, int gram hashes, long ids) — never an
  * O(corpus) text exchange. Dedup runs on the REDACTED text (the bytes
  * that actually ship: two documents differing only in PII are
  * duplicates of each other), and the decontamination sweep likewise
  * runs over the released bytes against the RAW bench items.
  *
  * The fate label is the FIRST stage that killed the document —
  * bench > lang > quality > repetition > exact_dup > near_dup >
  * contaminated > kept — so the ledger doubles as the release's
  * attrition report, and every row is recomputable: the whole chain
  * (including the minhash candidate generation from dumped murmur
  * parameters and the CC survivor rule) replays in the driver's DuckDB
  * oracle (`release_fates`).
  *
  * Reference scope: CPREx has no corpus-release stage (it trains on
  * hand-annotated examples, `cprex/corpus/corpus.py`); this is part of
  * the training-data operator family the engine adds for web-scale
  * pipelines (FineWeb/RefinedWeb/Gopher-style release builds).
  */
object Release {

  /** Release policy. Defaults match the standalone operators'
    * documented thresholds so the composed build and the per-stage
    * queries agree: repetition caps = `TextStats.repetitionKeep`,
    * near-dup threshold = the dedup family's 0.5, contamination
    * fraction = `Decontaminate.flagged`'s 0.5, bench split =
    * the decontam queries' doc_id % 20 == 7.
    */
  final case class Config(
      benchMod: Int = 20,
      benchRem: Int = 7,
      minTokens: Int = 20,
      punctFactor: Int = 5,
      maxDupLineFrac: Double = 0.30,
      maxTop2GramFrac: Double = 0.20,
      maxDup5GramFrac: Double = 0.15,
      nearThreshold: Double = 0.5,
      minFracBench: Double = 0.5,
      useBroadcast: Boolean = true)

  val Fates: Seq[String] = Seq("bench", "lang", "quality", "repetition",
    "exact_dup", "near_dup", "contaminated", "kept")

  /** The one corpus-text pass: every per-row gate plus the redacted
    * text, fused into a single zero-exchange projection. `red` is
    * non-null exactly for documents alive after the per-row gates
    * (alive0), so persisting the result caches redacted text only for
    * the rows later stages will read.
    *
    * Gates (all exactly SQL-replayable — integer comparisons and IEEE
    * divisions of integer counts):
    *  - lang: `TextStats.detectLang` == "en"
    *  - quality: whitespace tokens >= minTokens AND
    *    n_punct * punctFactor <= n_chars (punct-dense pages drop)
    *  - repetition: the Gopher-style caps of `TextStats.repetitionKeep`
    */
  def labeled(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", cfg: Config = Config()): DataFrame = {
    val t = col(textCol)
    val sig = TextStats.withRepetitionSignalsFast(
      TextStats.withLangId(docs, textCol), textCol)
    val langOk = col("lang_pred") === "en"
    val qualityOk =
      TextStats.wsTokenCount(t) >= cfg.minTokens &&
        (length(t) - length(regexp_replace(t, "[^\\p{L}\\p{N}\\s]", ""))) *
          cfg.punctFactor <= length(t)
    val repOk = col("dup_line_frac") <= cfg.maxDupLineFrac &&
      col("top_2gram_frac") <= cfg.maxTop2GramFrac &&
      col("dup_5gram_frac") <= cfg.maxDup5GramFrac
    val isBench = pmod(col(idCol).cast("long"), lit(cfg.benchMod.toLong)) ===
      cfg.benchRem.toLong
    // two projections, each expensive signal tree referenced ONCE: a
    // single select computing `when(all four gates, redacted)` would
    // embed the quality/repetition subtrees twice, and Catalyst's
    // project handling of the duplicated interpreted-HOF trees measured
    // ~5.5s of pure per-execution driver work at sf0.001 (vs ~0.2s for
    // the signals themselves — see BENCH.md)
    sig.select(
      col(idCol).cast("long").as("doc_id"),
      t.as("__txt"),
      isBench.as("is_bench"),
      langOk.as("lang_ok"),
      qualityOk.as("quality_ok"),
      repOk.as("rep_ok"))
      .select(
        col("doc_id"), col("is_bench"), col("lang_ok"),
        col("quality_ok"), col("rep_ok"),
        when(!col("is_bench") && col("lang_ok") && col("quality_ok") &&
          col("rep_ok"), Pii.redacted(col("__txt")))
          .as("red"))
  }

  /** Survivors of the per-row gates AND exact dedup — the input to the
    * near-dup stage, exposed so the driver can dump its minhash bands
    * (`release_bands`) and shingle parameters for the SQL replay.
    */
  def nearDupInput(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", cfg: Config = Config()): DataFrame =
    alive1(labeled(docs, idCol, textCol, cfg))

  private def alive0(compact: DataFrame): DataFrame =
    compact.filter(col("red").isNotNull).select(col("doc_id"), col("red"))

  private def exactKeepIds(a0: DataFrame): DataFrame =
    // 16-byte md5 group keys shuffle, never the text (Dedup.exactGroups
    // discipline); min doc_id survives per distinct redacted text
    a0.groupBy(md5(col("red")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")

  private def alive1(compact: DataFrame): DataFrame = {
    val a0 = alive0(compact)
    a0.join(exactKeepIds(a0), Seq("doc_id"), "left_semi")
  }

  /** The attrition ledger: (doc_id, fate) for EVERY input document,
    * fate = first killing stage (priority in the object doc). The
    * persisted intermediates (the fused per-row pass and the id-only
    * kill sets) register into `scope`.
    */
  def ledger(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", cfg: Config = Config())
      (implicit scope: Scope): DataFrame =
    build(docs, idCol, textCol, cfg)._2

  /** Shared spine: the persisted fused pass and the ledger, so
    * `released` can read redacted text from the SAME cached projection
    * the ledger used instead of paying a second corpus-text pass.
    */
  private def build(docs: DataFrame, idCol: String,
      textCol: String, cfg: Config)(implicit scope: Scope)
      : (DataFrame, DataFrame) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val compact = scope.persist(labeled(docs, idCol, textCol, cfg))
    val a0 = alive0(compact)
    // keep ids persist: the set feeds alive1 for BOTH the near-dup
    // machinery (several passes) and the final fate join
    val keep = scope.persist(exactKeepIds(a0))
    val a1 = a0.join(keep, Seq("doc_id"), "left_semi")
    // decontamination is computed over a1, NOT a2: a near-dup-killed
    // doc that is also contaminated resolves to near_dup either way
    // (the fates CASE checks x_nd before x_ct), so the ledger is
    // row-identical — and dropping the CC → decontam dependency lets
    // the useBroadcast=false path's eager bench-side jobs (gram count
    // + Bloom build) OVERLAP the pair build on a driver thread
    // (guide §2.6: actions are only sequential because the driver
    // calls them sequentially)
    val bench = docs.filter(
      pmod(col(idCol).cast("long"), lit(cfg.benchMod.toLong)) ===
        cfg.benchRem.toLong)
      .select(col(idCol).cast("long").as("bench_id"), col(textCol).as("red"))
    val contamF = Future {
      scope.persist(Decontaminate.flagged(a1, bench, "doc_id", "bench_id",
        "red", minFracBench = cfg.minFracBench,
        useBroadcast = cfg.useBroadcast)
        .select("doc_id"))
    }
    // near-dup: minhash-LSH candidates + exact-Jaccard verify, then CC
    // over the PAIR-TOUCHED ids only (Canonicalize.pairComponents);
    // killed = any doc that is not its component's min. The candidate
    // cache lives in a nested scope released right after CC.
    val labels = Scope(docs.sparkSession) { pairScope =>
      val pairs = Dedup.minhashPairs(a1, "doc_id", "red",
        threshold = cfg.nearThreshold, useBroadcast = cfg.useBroadcast)(pairScope)
      Canonicalize.pairComponents(
        pairs.select(col("id_a").as("cid_a"), col("id_b").as("cid_b")))
    }
    val nearKill = scope.persist(labels.filter(col("cluster_id") =!= col("cid"))
      .select(col("cid").as("doc_id")))
    val contamKill = Await.result(contamF, Duration.Inf)
    (compact, fates(compact, keep, nearKill, contamKill))
  }

  /** (doc_id, fate) from the per-row gate flags and the three kill
    * sets, first killing stage wins.
    */
  private def fates(compact: DataFrame, keep: DataFrame, nearKill: DataFrame,
      contamKill: DataFrame): DataFrame =
    compact
      .join(keep.withColumn("x_keep", lit(1)), Seq("doc_id"), "left")
      .join(nearKill.withColumn("x_nd", lit(1)), Seq("doc_id"), "left")
      .join(contamKill.withColumn("x_ct", lit(1)), Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("is_bench"), "bench")
          .when(!col("lang_ok"), "lang")
          .when(!col("quality_ok"), "quality")
          .when(!col("rep_ok"), "repetition")
          .when(col("x_keep").isNull, "exact_dup")
          .when(col("x_nd").isNotNull, "near_dup")
          .when(col("x_ct").isNotNull, "contaminated")
          .otherwise("kept").as("fate"))

  /** The released corpus: (doc_id, clean_text) for fate == kept, with
    * clean_text the redacted form — the raw column never ships.
    */
  def released(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", cfg: Config = Config())
      (implicit scope: Scope): DataFrame = {
    val (compact, fates) = build(docs, idCol, textCol, cfg)
    val kept = fates.filter(col("fate") === "kept").select("doc_id")
    // red is non-null for every kept doc by construction (kept ⊂ alive0);
    // compact is the persisted fused pass — no second text scan
    compact
      .join(kept, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("red").as("clean_text"))
  }

  /** Per-fate attrition counts — the release report row. */
  def stats(fates: DataFrame): DataFrame =
    fates.groupBy("fate").agg(count(lit(1)).as("n"))

  // ------------------- incremental (per-crawl) form -------------------

  /** At-rest index state the incremental release maintains between
    * crawls — the 10^12-doc shape, where re-running the batch build per
    * crawl is impossible:
    *  - `exactHashes`: distinct md5 of the redacted text of every seen
    *    gate-survivor (alive0) — 16-byte keys, O(corpus) rows but no
    *    text;
    *  - `bands`/`counts`: the IncrDedup band index over the seen
    *    NEAR-DUP-STAGE input (post-exact survivors, redacted text);
    *  - `shingles`: the int-only shingle-hash sidecar over the same
    *    rows, so candidate verification never reads seen text;
    *  - `bench`: the raw bench items (small, the eval set itself).
    * All four are O(delta)-appendable (MoR at rest): a crawl appends
    * its own alive0 hashes, alive1 bands/counts/shingles, and the
    * bench set is static.
    */
  final case class Index(
      exactHashes: DataFrame,
      bands: DataFrame,
      counts: DataFrame,
      shingles: DataFrame,
      bench: DataFrame)

  /** Build the at-rest index from a seen corpus (the bootstrap job; a
    * deployment materializes these four tables and appends per crawl).
    */
  def buildIndex(seen: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", cfg: Config = Config()): Index = {
    val compact = labeled(seen, idCol, textCol, cfg)
    val a0 = alive0(compact)
    val a1 = alive1(compact)
    val bandRows = IncrDedup.bandIndex(a1, "doc_id", "red")
    Index(
      exactHashes = a0.select(md5(col("red")).as("h")).distinct(),
      bands = bandRows,
      counts = IncrDedup.bucketCounts(bandRows),
      shingles = IncrDedup.shingleSidecar(a1, "doc_id", "red"),
      bench = seen.filter(
        pmod(col(idCol).cast("long"), lit(cfg.benchMod.toLong)) ===
          cfg.benchRem.toLong)
        .select(col(idCol).cast("long").as("bench_id"), col(textCol).as("text")))
  }

  /** The attrition ledger for ONE crawl delta against the at-rest
    * index: (doc_id, fate) for every delta document, same fate
    * vocabulary and first-kill priority as the batch [[ledger]].
    * Per-crawl cost is O(delta) text work — the delta is the job's ONLY
    * text input (near-dup verification runs off the int-only shingle
    * sidecar; exact dedup exchanges 16-byte hashes; decontam grams are
    * 64-bit keys; the bench side is the small raw eval set).
    *
    * Seen-corpus semantics (IncrDedup's, disclosed there): a delta doc
    * whose redacted text matches ANY seen gate-survivor hash is
    * exact_dup (seen means seen — even if the seen copy was itself
    * later deduped away); a near-dup component touching any seen id
    * drops all its delta members; previously-kept seen docs are never
    * retracted.
    */
  def incrementalLedger(delta: DataFrame, idx: Index,
      idCol: String = "doc_id", textCol: String = "text",
      cfg: Config = Config())(implicit scope: Scope): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val compact = scope.persist(labeled(delta, idCol, textCol, cfg))
    val a0 = alive0(compact)
    // exact vs seen ∪ within-delta: the within-delta min survives its
    // group unless the group's hash is already seen
    val hashed = a0.select(col("doc_id"), md5(col("red")).as("h"))
    val keep = scope.persist(hashed
      .join(hashed.groupBy("h").agg(min(col("doc_id")).as("keep_id")), Seq("h"))
      .filter(col("doc_id") === col("keep_id"))
      .join(idx.exactHashes, Seq("h"), "left_anti")
      .select("doc_id"))
    val a1 = a0.join(keep, Seq("doc_id"), "left_semi")
    // decontam over a1 instead of a2 + thread overlap — same
    // row-identical argument and same §2.6 rationale as the batch
    // ledger (build)
    val contamF = Future {
      scope.persist(Decontaminate.flagged(a1,
        idx.bench.select(col("bench_id"), col("text").as("red")),
        "doc_id", "bench_id", "red", minFracBench = cfg.minFracBench,
        useBroadcast = cfg.useBroadcast)
        .select("doc_id"))
    }
    // near-dup vs the band index, verified off the int-only sidecar —
    // NO seen-text input (IncrDedup.incrementalPairsFromIndex). The
    // candidate cache lives in a nested scope: survivors materializes
    // the pair chain eagerly, so it releases right after
    val kept = Scope(delta.sparkSession) { pairScope =>
      val pairs = IncrDedup.incrementalPairsFromIndex(
        idx.bands, idx.counts, idx.shingles, a1, "doc_id", "red",
        threshold = cfg.nearThreshold, useBroadcast = cfg.useBroadcast)(pairScope)
      IncrDedup.survivors(a1, pairs)
    }
    val nearKill = scope.persist(a1.select("doc_id")
      .join(kept, Seq("doc_id"), "left_anti"))
    val contamKill = Await.result(contamF, Duration.Inf)
    fates(compact, keep, nearKill, contamKill)
  }
}
