package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

/** Exact substring (span-level) deduplication — the ExactSubstr pass of
  * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
  * Better"): any window of `k` consecutive tokens whose exact content
  * occurs MORE THAN ONCE in the corpus (across documents or repeated
  * within one) is duplicated text, and EVERY occurrence is struck —
  * the paper's semantics, which keeps no canonical copy (deterministic:
  * no ordering-dependent survivor choice). Overlapping flagged windows
  * merge into maximal spans; surviving tokens keep their order.
  *
  * This is the span-granularity member of the dedup family: exact-doc /
  * minhash / simhash / jaccard / embedding dedup act on whole documents,
  * [[Lines]] on lines, this on token windows — the only one that catches
  * a long quotation embedded in otherwise-unique pages.
  *
  * Scale shape: token windows ride every exchange as (doc:long, pos:int,
  * wh:long) — 64-bit rolling window hashes over per-token murmur values,
  * NEVER text. The duplicate-window flag is one hash aggregation with
  * map-side partial combine on `wh`; flagged occurrences come back via a
  * left-semi join keyed by `wh` (AQE broadcasts it when the flagged set
  * is small). The rewrite joins per-doc flagged starts to the corpus —
  * broadcast by default (flagged docs << corpus; the corpus side never
  * shuffles, plan-asserted), `useBroadcast=false` switches to a shuffled
  * join for flag-heavy corpora. The window subplan persists into the
  * caller's `Scope` across its two consumers (the flag aggregation and
  * the occurrence semi-join) — the single-pass discipline of the linking
  * and minhash operators.
  *
  * Output contract (disclosed): `clean_text` is the kept-token stream
  * joined by single spaces — whitespace-normalized for every document,
  * flagged or not — so the transform is a pure function of the token
  * sequence and replays character-exactly in SQL. Hash collisions (two
  * distinct windows colliding in 64 bits are flagged together) replay
  * identically in the oracle, which folds the SAME window hash from the
  * dumped per-token murmur parameters.
  */
object SpanDedup {

  /** Lee et al. use 50-token windows on web corpora. */
  val DefaultMinTokens = 50

  /** Whitespace tokenization — case-preserving (the rewrite must emit
    * the original tokens), unlike the lowercased `Dedup.tokenHashes`.
    */
  def toks(t: String): Array[String] =
    if (t == null) Array.empty else t.split("\\s+").filter(_.nonEmpty)

  def tokenHash(w: String): Int = MurmurHash3.stringHash(w, 4242)

  /** Rolling 64-bit hash of hs[start, start+k): wrapping fold
    * `acc = acc * M + h` — replayable in HUGEINT mod 2^64 given the
    * per-token hashes.
    */
  def windowHash(hs: Array[Int], start: Int, k: Int): Long = {
    var acc = 1469598103934665603L
    var i = 0
    while (i < k) { acc = acc * 1099511628211L + hs(start + i); i += 1 }
    acc
  }

  /** Distinct (token, h) murmur parameters of the window pass — oracle
    * INPUT (murmur3 is not SQL-expressible; GIVEN these, the whole
    * window-hash fold is).
    */
  def tokenHashes(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(textCol)).as[String]
      .flatMap(t => toks(t).distinct.toSeq)
      .distinct()
      .map(w => (w, tokenHash(w)))
      .toDF("token", "h")
  }

  /** The exploded window table (doc_id, pos, wh); pos is the 0-based
    * index of the window's first token. Zero-exchange projection.
    */
  def windows(
      docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    require(k >= 2, s"window size must be >= 2, got $k")
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .flatMap { case (id, t) =>
        val hs = toks(t).map(tokenHash)
        (0 to hs.length - k).map(p => (id, p, windowHash(hs, p, k)))
      }.toDF("doc_id", "pos", "wh")
  }

  /** (doc_id, pos) of every occurrence of a window whose hash occurs
    * more than once corpus-wide (within-doc repeats count).
    */
  def dupWindowStarts(
      docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    dupStartsOf(windows(docs, k, idCol, textCol))

  private def dupStartsOf(w: DataFrame): DataFrame = {
    val dup = w.groupBy("wh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).select("wh")
    w.join(dup, Seq("wh"), "left_semi").select("doc_id", "pos")
  }

  /** Maximal duplicated spans: overlapping/adjacent flagged windows
    * merged to (doc_id, start_tok, end_tok) — end exclusive, token
    * indices.
    */
  def dupSpans(
      docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    mergeStarts(dupWindowStarts(docs, k, idCol, textCol), k)

  private def mergeStarts(starts: DataFrame, k: Int): DataFrame = {
    val spark = starts.sparkSession
    import spark.implicits._
    starts.groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("ps"))
      .as[(Long, Seq[Int])]
      .flatMap { case (id, ps) =>
        mergeIntervals(ps, k).map { case (lo, hi) => (id, lo, hi) }
      }.toDF("doc_id", "start_tok", "end_tok")
  }

  /** Merge sorted window starts into maximal [lo, hi) covered intervals
    * (each start covers [s, s+k)).
    */
  def mergeIntervals(sorted: Seq[Int], k: Int): Seq[(Int, Int)] = {
    val out = Seq.newBuilder[(Int, Int)]
    var lo = -1; var hi = -1
    for (s <- sorted) {
      if (lo < 0) { lo = s; hi = s + k }
      else if (s <= hi) hi = math.max(hi, s + k)
      else { out += ((lo, hi)); lo = s; hi = s + k }
    }
    if (lo >= 0) out += ((lo, hi))
    out.result()
  }

  /** Strike every duplicated span from every document: `clean_text` is
    * the kept-token stream joined by single spaces (empty string when
    * every token is covered). Corpus side never shuffles when
    * `useBroadcast` (default).
    */
  def removeDupSpans(
      docs: DataFrame, k: Int,
      idCol: String = "doc_id", textCol: String = "text",
      useBroadcast: Boolean = true)(implicit scope: Scope): DataFrame = {
    val w = scope.persist(windows(docs, k, idCol, textCol))
    val perDoc = dupStartsOf(w)
      .groupBy(col("doc_id").as("cut_doc"))
      .agg(sort_array(collect_list(col("pos"))).as("cut_starts"))
    val cuts = if (useBroadcast) broadcast(perDoc) else perDoc
    val kLit = k
    val cleanUdf = udf { (t: String, starts: Seq[Int]) =>
      val ts = toks(t)
      if (starts == null || starts.isEmpty) ts.mkString(" ")
      else {
        val cover = mergeIntervals(starts, kLit)
        val b = new StringBuilder
        var ci = 0
        var i = 0
        while (i < ts.length) {
          while (ci < cover.length && cover(ci)._2 <= i) ci += 1
          val covered = ci < cover.length && cover(ci)._1 <= i && i < cover(ci)._2
          if (!covered) {
            if (b.nonEmpty) b.append(' ')
            b.append(ts(i))
          }
          i += 1
        }
        b.result()
      }
    }
    docs
      .join(cuts, docs(idCol) === cuts("cut_doc"), "left")
      .withColumn("clean_text", cleanUdf(col(textCol), col("cut_starts")))
      .drop("cut_doc", "cut_starts")
  }
}
