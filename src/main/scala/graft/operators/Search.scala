package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical (keyword) search over the corpus — the BM25 complement to
  * the embedding-based [[Similarity]] family: an inverted index
  * (postings with term frequencies), document-frequency statistics,
  * and scored top-k retrieval for a query set.
  *
  * Scale shape: the postings build is ONE hash aggregation over the
  * exploded token stream (map-side partial combine collapses repeated
  * terms before the exchange; rows are compact (term, doc, counts) —
  * the text column never rides a shuffle). Document length rides the
  * explode, so no per-doc join is needed. Query scoring streams the
  * postings against a BROADCAST query-term set — per-query cost is
  * posting-list-sized, never corpus-sized — and ranks inside
  * per-query windows (k rows each).
  *
  * Determinism: every score is built from integer inputs (tf, dl, df,
  * N, T) with IEEE +,*,/ in a spelled order, and the per-document sum
  * folds the matched-term partials in sorted term order — so a SQL
  * oracle replays the scores BIT-EXACTLY, with one exception: the
  * idf's transcendental log, which engines may round differently in
  * the last ulp. The idf is therefore a (term, idf) lookup table the
  * engine DUMPS and the oracle READS (joining, never recomputing the
  * log) — everything downstream of it is exact on both sides.
  */
object Search {

  /** Search tokenization: lowercased whitespace tokens (the ws-token
    * variant of [[TextStats.wsTokenCount]], case-folded).
    */
  def searchTokens(text: Column): Column =
    filter(split(lower(text), " "), t => length(t) > 0)

  /** Inverted index: one row per (term, document) with the term
    * frequency and the document length (total tokens). dl rides the
    * explode — no separate doc-length join.
    */
  def postings(
      docs: DataFrame,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame =
    docs
      .select(col(keyCol).as("doc_id"),
        searchTokens(col(textCol)).as("toks"))
      .withColumn("dl", size(col("toks")).cast("long"))
      .where(col("dl") > 0)
      .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id", "dl")
      .agg(count(lit(1)).as("tf"))

  /** Per-term document frequency. Vocabulary-sized output. */
  def docFreq(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** BM25+ style idf lookup table: log(1 + (N - df + 0.5)/(df + 0.5))
    * — always positive. This is the ONLY transcendental in the scorer;
    * it is exported as data so a SQL oracle joins it instead of
    * recomputing the log.
    */
  def idfTable(docFreq: DataFrame, nDocs: Long): DataFrame =
    docFreq.withColumn("idf",
      log(lit(1.0) + (lit(nDocs.toDouble) - col("df") + lit(0.5)) /
        (col("df") + lit(0.5))))
      .select("term", "idf")

  /** BM25 top-k for a static query set. `queries` maps a query id to
    * its term bag; scores sum the matched-term partials in sorted
    * term order (deterministic IEEE fold); ties break on doc_id.
    *
    * partial(t, d) = idf(t) * (tf*(k1+1)) / (tf + k1*((1-b) + b*(dl*N)/T))
    *
    * The postings pass persists into `scope`: the inverted index feeds
    * BOTH the idf statistics and the scoring join, and without the
    * persist the corpus-sized postings build would run twice (the
    * double-annotate shape the linking fusion removed).
    */
  def bm25TopK(
      docs: DataFrame,
      queries: Seq[(Int, Seq[String])],
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      textCol: String = "text",
      keyCol: String = "doc_id")(implicit scope: Scope): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val post = scope.persist(postings(docs, textCol, keyCol))
    // N and T are two scalars — a bounded driver-side aggregate, like
    // the ANN centroid collect
    val (n, t) = docs
      .select(count(lit(1)).cast("long"),
        sum(TextStats.wsTokenCount(col(textCol)).cast("long")).cast("long"))
      .as[(Long, Long)].collect()(0)
    // the idf frame is vocab-sized (one row per distinct corpus term —
    // 10^9+ on web text), so it must be BOUNDED before the broadcast
    // hint below: the scorer only ever reads idf rows for the
    // driver-known query term set, so restricting to it first makes the
    // broadcast O(|query terms|) instead of O(|vocab|) with identical
    // output (the qdf join already drops every other term). Without
    // this the explicit broadcast forced an OOM-scale build at corpus
    // scale (r5 review finding #1).
    val queryTerms = queries.flatMap(_._2).distinct
    val idf = idfTable(docFreq(post), n)
      .where(col("term").isin(queryTerms: _*))
    val qdf = queries.flatMap { case (qid, terms) => terms.map((qid, _)) }
      .toDF("qid", "term")
    // spelled IEEE ops; the oracle mirrors this exact parenthesization
    val tfD = col("tf").cast("double")
    val norm = (col("dl") * lit(n)).cast("double") / lit(t).cast("double")
    val partial = col("idf") *
      ((tfD * lit(k1 + 1.0)) /
        (tfD + lit(k1) * (lit(1.0 - b) + lit(b) * norm)))
    val scored = post
      .join(broadcast(qdf), Seq("term"))
      .join(broadcast(idf), Seq("term"))
      .withColumn("partial", partial)
      .groupBy("qid", "doc_id")
      .agg(collect_list(struct(col("term"), col("partial"))).as("ps"))
      .withColumn("score",
        aggregate(sort_array(col("ps")), lit(0.0),
          (acc, x) => acc + x.getField("partial")))
      .drop("ps")
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(desc("score"), asc("doc_id"))))
      .where(col("rank") <= k)
  }
}
