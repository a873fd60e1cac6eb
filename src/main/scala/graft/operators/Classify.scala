package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** FastText-style document classification — the domain/provenance
  * classifier of an LLM corpus pipeline (CCNet's language buckets,
  * RedPajama's domain mixes, quality-tier routing): a multinomial
  * naive-Bayes model over lowercased word tokens, trained on a LABELED
  * slice of the corpus itself (label = the `source` column of the
  * documents table; no external data), scoring every document against
  * every label and predicting by argmax.
  *
  *   score(d, l) = log P(l) + Σ_i log P(w_i | l)
  *   log P(w|l)  = log((c_lw + 1) / (c_l + V))   seen (label, token)
  *   log P(·|l)  = log(1 / (c_l + V))            unseen-for-label token
  * with c_l = Σ_w c_lw, V = |train vocab| + 1 (add-one smoothing, same
  * family as [[NgramLm]]).
  *
  * Scale shape: training is one hash aggregation over the exploded
  * (label, token) stream; the model is (labels × vocab)-bounded and
  * BROADCAST (materialized once, like the LM table). Scoring explodes
  * the token stream, resolves each (token, label) against the
  * broadcast seen/backoff tables, and aggregates per (doc, label) —
  * corpus text rides no exchange; the shuffle carries (doc, label)
  * keyed partial aggregates only. Prediction is one per-doc window.
  *
  * Determinism: counts and priors' doc counts are integers (fully
  * SQL-replayable); the log LUTs dump as data (the idf/LM pattern).
  * Token log-probs are accumulated in FIXED POINT: the LUT carries
  * lwq = floor(lw * 2^32 + 0.5) and the per-(doc,label) sum is a plain
  * integer sum — associative, so it is bit-exact and partition-
  * invariant WITHOUT a position-ordered collect_list fold (whose
  * struct list would ride the exchange; here the shuffle carries true
  * (count, sum) partial aggregates with map-side combine — the shape
  * that survives 10^12 x 20-label scoring; [[NgramLm]]/[[Dsir]] use
  * the same fixed-point discipline). Quantization
  * error is < 2^-32 per token (irrelevant to classification);
  * headroom: |lwq| < ~2^37 for any realistic model, so overflow needs
  * > 2^26 tokens in one document. score = lp_prior + sum_lwq / 2^32 —
  * one exact power-of-two scaling + one IEEE add, so `nb_scores`
  * hash-matches bit-exactly and the argmax (ties broken by label
  * ascending) replays too.
  */
object Classify {

  /** Sentinel token of the per-label backoff rows — real tokens are
    * never empty.
    */
  val Backoff = ""

  /** (doc_id, pos, w) unigram stream — pure Column exprs. Docs with no
    * tokens emit nothing (and are absent from scores/predictions —
    * there is no evidence to classify).
    */
  def tokens(
      docs: DataFrame,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame =
    docs
      .select(col(keyCol).as("doc_id"),
        posexplode(Search.searchTokens(col(textCol))).as(Seq("pos", "w")))

  /** Training counts: (label, token, c, c_label) with c_label the
    * label's total token count. Integer, fully oracle-checkable.
    */
  def counts(
      train: DataFrame,
      labelCol: String = "source",
      textCol: String = "text"): DataFrame = {
    val c = train
      .select(col(labelCol).as("label"),
        explode(Search.searchTokens(col(textCol))).as("w"))
      .groupBy("label", "w").agg(count(lit(1)).as("c"))
    val totals = c.groupBy("label").agg(sum("c").as("c_label"))
    c.join(totals, Seq("label"))
      .select(col("label"), col("w").as("token"), col("c"), col("c_label"))
  }

  /** Train vocabulary size + 1 (the OOV type). */
  def vocabSize(train: DataFrame, textCol: String = "text"): Long =
    train.select(explode(Search.searchTokens(col(textCol))).as("w"))
      .distinct().count() + 1

  /** Label priors: (label, n_docs, lp_prior = log(n_docs / N)). */
  def priors(
      train: DataFrame,
      labelCol: String = "source"): DataFrame = {
    val byLabel = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
    val n = train.count().toDouble
    byLabel.select(col("label"), col("n_docs"),
      log(col("n_docs") / lit(n)).as("lp_prior"))
  }

  /** Fixed-point scale for token log-probs: 2^32. */
  val Shift = 4294967296.0

  /** Default seen-(label, token) floor: singletons never enter the
    * LUT — the same structural bound as [[NgramLm.DefaultMinBigramCount]]
    * (a web-scale train slice's raw token vocabulary is unbounded; the
    * floor is what makes "broadcast-sized" a property of the code, not
    * of the caller's discipline).
    */
  val DefaultMinTokenCount: Long = 2L

  /** The model LUT: seen (label, token, lw, lwq) rows with
    * `c >= minTokenCount` + one backoff row per label (token = "").
    * Floored-out tokens resolve through their label's backoff row
    * (c_label still counts them — smoothing denominators are
    * prune-invariant). The logs are the dumped data the scoring oracle
    * joins; lwq is the fixed-point form scoring sums.
    */
  def nbTable(counts: DataFrame, vocabSize: Long,
      minTokenCount: Long = DefaultMinTokenCount): DataFrame = {
    val v = lit(vocabSize.toDouble)
    val seen = counts
      .where(col("c") >= minTokenCount)
      .select(col("label"), col("token"),
        log((col("c") + lit(1.0)) / (col("c_label") + v)).as("lw"))
    val backoff = counts.groupBy("label").agg(max("c_label").as("c_label"))
      .select(col("label"), lit(Backoff).as("token"),
        log(lit(1.0) / (col("c_label") + v)).as("lw"))
    seen.unionByName(backoff)
      .withColumn("lwq", floor(col("lw") * lit(Shift) + lit(0.5)).cast("long"))
  }

  /** Per-(document, label) scores: n_tokens, the fixed-point token
    * log-prob sum (associative — plain partial-aggregated long sum),
    * and score = lp_prior + sum_lwq / 2^32. The model and priors are
    * broadcast-sized by contract — materialized once.
    *
    * Execution shape (r6): each token occurrence resolves ONCE against
    * a broadcast token → per-label lwq ARRAY (seen value where the
    * (label, token) row exists, the label's backoff otherwise, baked
    * in driver-side from the same collected LUT); posexplode of that
    * array replaces the old crossJoin-with-priors plus two broadcast
    * string joins, so per token the resolution work drops from
    * |labels| row copies through two (label, token) string-hash joins
    * to one string join + |labels| long array entries, and the
    * aggregation exchange carries (doc_id, li) ints instead of label
    * strings. Outputs are bit-identical (same lwq longs summed per
    * (doc, label), same counts); the scale discipline is unchanged —
    * no exchange carries text or tokens (plan-asserted). A prior label
    * with NO backoff row (a label whose every training doc had zero
    * tokens) gets a null slot in every array, which `sum` skips exactly
    * as the reference join formulation (ClassifySpec) skips its null
    * lwq: such a label scores null.
    */
  def score(
      docs: DataFrame, nb: DataFrame, pr: DataFrame,
      textCol: String = "text", keyCol: String = "doc_id"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = nb.select(col("label"), col("token"), col("lwq"))
      .as[(String, String, Long)].collect()
    val priorRows = pr.select(col("label"), col("lp_prior"))
      .as[(String, Double)].collect().sortBy(_._1)
    val labels = priorRows.map(_._1)
    val labelIdx = labels.zipWithIndex.toMap
    val backoffByLabel = rows.filter(_._2 == Backoff)
      .map(r => r._1 -> r._3).toMap
    val backoffArr = labels.map(backoffByLabel.get).toSeq
    val lut = rows.iterator
      .filter(r => r._2 != Backoff && labelIdx.contains(r._1))
      .toSeq.groupBy(_._2).iterator.map { case (w, rs) =>
        val m = rs.map(r => r._1 -> r._3).toMap
        (w, labels.map(l => m.get(l).orElse(backoffByLabel.get(l))).toSeq)
      }.toSeq.toDF("w", "lwqs")
    val prior = priorRows.zipWithIndex
      .map { case ((l, p), i) => (i, l, p) }.toSeq
      .toDF("li", "label", "lp_prior")
    tokens(docs, textCol, keyCol)
      .join(broadcast(lut), Seq("w"), "left")
      .withColumn("lwqs", coalesce(col("lwqs"), typedLit(backoffArr)))
      .select(col("doc_id"), posexplode(col("lwqs")).as(Seq("li", "lwq_r")))
      .groupBy("doc_id", "li")
      .agg(count(lit(1)).as("n_tokens"), sum(col("lwq_r")).as("sum_lwq"))
      .join(broadcast(prior), Seq("li"))
      .withColumn("score",
        col("lp_prior") + col("sum_lwq").cast("double") / lit(Shift))
      .select("doc_id", "label", "n_tokens", "sum_lwq", "score")
  }

  /** Argmax prediction per document, ties broken by label ascending —
    * deterministic, and replayable given bit-exact scores.
    */
  def predict(scored: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("label").asc)
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label").as("pred"), col("score"))
  }
}
