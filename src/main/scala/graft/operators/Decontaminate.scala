package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Benchmark decontamination for a training corpus: detect documents
  * that contain n-gram runs from a held-out evaluation ("benchmark")
  * set — the standard eval-leakage sweep an LLM training-data pipeline
  * runs before every corpus release (exact 8-to-13-gram collision, the
  * GPT-3/Llama-style window; here n is a parameter, default 8).
  *
  * Shape: the corpus flatMaps to per-document DISTINCT n-gram hashes
  * (64-bit double-murmur — gram text never leaves the row), the bench
  * side does the same, and contamination is a join on the gram hash
  * followed by a (doc_id, bench_id) count. Both the per-pair matrix
  * (with matched-gram fractions of either side) and the doc-level
  * flag/clean splits are exposed.
  *
  * Scale contract (asserted in DecontaminateSpec): eval sets are tiny
  * next to a 100 TB corpus, so by default the bench gram-hash table
  * BROADCASTS into the join — the corpus side never shuffles its gram
  * stream; the only wide exchange is the O(|matches|) count
  * aggregation. When the bench side outgrows broadcast budget
  * (useBroadcast=false), nothing UNBOUNDED broadcasts: a Bloom sketch
  * of the bench gram hashes (~12 bits/gram at 1% fpp) pre-filters the
  * corpus gram stream BEFORE any exchange, grams with large bench
  * fan-out take a BUDGET-CAPPED broadcast lane (≤ [[MaxHotGramRows]]
  * rows, hottest first — the skew lane, see `overlap`), and
  * the rest joins as a salted shuffled hash join — exchange bytes are
  * O(|matching grams|) longs (plus the fpp sliver), never O(corpus).
  * Bloom false positives are dropped by the inner join on the exact
  * hash, so rows are identical to the broadcast path. In both modes
  * every exchange carries only longs/ints — no text (same discipline
  * as Dedup.minhashPairs).
  */
object Decontaminate {

  val DefaultN = 8

  /** Salt width of the shuffled-hash overlap join (the
    * useBroadcast=false path): each hot gram's pair enumeration
    * spreads over this many tasks; the bench gram stream replicates by
    * the same factor (small by the class contract). 16 matches the
    * local worst case observed (hot grams serializing an 8-core stage)
    * with comfortable headroom; the factor trades bench-side
    * replication for hot-key parallelism and is independent of
    * cluster size.
    */
  val SaltFactor: Int = 16

  /** Bench-side fan-out at or above which a gram counts as HOT and its
    * bench rows take the broadcast lane of the hybrid join (guide
    * §2.5's "broadcast-join just the hot keys"): a gram appearing in f
    * bench items emits f pairs per matching corpus row, so rows with
    * f ≥ 32 dominate skew while the hot ROW set stays ≤ |bench|/32nd
    * of the gram vocabulary.
    */
  val HotGramFanout: Long = 32L

  /** Cap on broadcast rows the hot lane may carry (≈24 MB of (gh,
    * bench_id, n) rows) — the useBroadcast=false path exists because
    * the FULL bench outgrows broadcast budget, so the hot slice is
    * budget-bounded and hottest-first; grams beyond the cap stay in
    * the salted shuffle lane.
    */
  val MaxHotGramRows: Long = 1L << 20

  /** Distinct word n-grams, same tokenization as the dedup family
    * (lowercase, split on \W+, drop empties). Documents shorter than n
    * tokens contribute their whole token run as one gram (so short
    * bench items — a one-line answer — remain matchable); documents
    * with no tokens contribute nothing.
    */
  def ngrams(text: String, n: Int = DefaultN): Set[String] = {
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (words.isEmpty) Set.empty
    else if (words.length <= n) Set(words.mkString(" "))
    else (0 to words.length - n).map(i => words.slice(i, i + n).mkString(" ")).toSet
  }

  /** 64-bit gram hash (two murmur lanes, seeds 101/103) — the join key;
    * gram text itself never rides an exchange.
    */
  def gramHash64(g: String): Long =
    (MurmurHash3.stringHash(g, 101).toLong << 32) |
      (MurmurHash3.stringHash(g, 103).toLong & 0xffffffffL)

  /** (id, gh, n_grams) rows: each document's distinct gram hashes plus
    * its distinct-gram count (for fraction denominators). One flatMap —
    * no shuffle.
    */
  def gramRows(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = DefaultN): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .as[(Long, String)]
      .flatMap { case (id, txt) =>
        val gs = ngrams(txt, n)
        gs.iterator.map(g => (id, gramHash64(g), gs.size))
      }.toDF("id", "gh", "n_grams")
  }

  /** Distinct (gram, gh) murmur parameters over a document table —
    * oracle INPUT (murmur3 is not SQL-expressible, but GIVEN this
    * mapping the whole overlap matrix is replayable in SQL bit-exactly;
    * same pattern as Dedup.shingleHashes).
    */
  def gramHashParams(docs: DataFrame, textCol: String = "text",
      n: Int = DefaultN): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(textCol)).as[String]
      .flatMap(t => ngrams(t, n).toSeq)
      .distinct()
      .map(g => (g, gramHash64(g)))
      .toDF("gram", "gh")
  }

  /** Contamination matrix: one row per (corpus doc, bench item) pair
    * sharing at least one n-gram — (doc_id, bench_id, n_shared,
    * n_doc_grams, n_bench_grams, frac_doc, frac_bench). frac_bench
    * (share of the BENCH item's grams found in the doc) is the leakage
    * metric: 1.0 means the document contains the whole eval item.
    *
    * The useBroadcast=false path ships a Bloom sketch and a hot-gram
    * set as broadcast variables; both register into `scope`, so they
    * are destroyed deterministically instead of when the returned plan
    * becomes driver-GC-unreachable (ContextCleaner).
    */
  def overlap(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      benchIdCol: String = "bench_id",
      textCol: String = "text",
      n: Int = DefaultN,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame = {
    val cg = gramRows(corpus, idCol, textCol, n)
      .toDF("doc_id", "gh", "n_doc_grams")
    val bg = gramRows(bench, benchIdCol, textCol, n)
      .toDF("bench_id", "gh", "n_bench_grams")
    val joined =
      if (useBroadcast) cg.join(broadcast(bg), Seq("gh"))
      else {
        // dup-heavy/huge-bench path: Bloom-prefilter the corpus gram
        // stream before any exchange, then shuffled hash join — only
        // grams that (probably) match ever shuffle; false positives
        // die in the exact-hash inner join
        val spark = corpus.sparkSession
        import spark.implicits._
        // bg feeds THREE eager driver actions (count + bloom build +
        // hot-gram probe) — persist across exactly those in a nested
        // scope; the one bench-side flatMap recompute inside the lazy
        // join is cheap (bench << corpus) and beats holding a cached
        // DataFrame until the caller's scope closes
        val (bf, hotGrams) = Scope(spark) { local =>
          local.persist(bg)
          val nGrams = math.max(bg.count(), 1024L)
          val filt = bg.stat.bloomFilter("gh", nGrams, 0.01)
          // hottest-first, budget-capped hot gram set (row budget ÷
          // fanout floor bounds the gram count the limit can admit)
          val hot = bg.groupBy(col("gh")).agg(count(lit(1)).as("nb"))
            .filter(col("nb") >= HotGramFanout)
            .orderBy(col("nb").desc, col("gh"))
            .limit((MaxHotGramRows / HotGramFanout).toInt)
            .select("gh", "nb").as[(Long, Long)].collect()
          // enforce the ROW cap exactly: take hottest grams while
          // their bench-row sum fits the broadcast budget
          var budget = MaxHotGramRows
          (filt, hot.takeWhile { case (_, nb) =>
            val ok = nb <= budget; if (ok) budget -= nb; ok
          }.map(_._1).toSet)
        }
        val bfB = scope.broadcast(bf)
        val mightContain = udf((gh: Long) => bfB.value.mightContain(gh))
        // HYBRID hot/cold join (guide §2.5: "broadcast-join just the
        // hot keys and shuffle-join the rest"): a gram shared by many
        // corpus docs AND many bench items emits |docs(g)| × |bench(g)|
        // pairs, and a plain gh-keyed shuffle puts ALL of one gram's
        // pairs in one task — measured 24s wall / 37 core-s
        // (parallelism 1.5 of 8) on an overlap-heavy corpus where ONE
        // gram carried 17.6M of 45.7M emissions. Grams with bench
        // fan-out ≥ HotGramFanout take a broadcast lane (the hot bench
        // rows are budget-capped — hottest first — so this path's
        // no-unbounded-broadcast contract stands): their enumeration
        // runs MAP-SIDE at corpus-scan parallelism, no shuffle, no
        // skew. The remaining (cold) grams take the salted
        // shuffled-hash lane: the corpus side salts by doc hash, the
        // bench side explodes ×k, so even a sub-threshold hot key
        // spreads over k tasks. Every (doc, bench, gram) match lands
        // in EXACTLY one lane (the lanes partition the gram space) and
        // joins exactly once, so the unioned rows are identical to the
        // broadcast path — spec-asserted.
        val hotB = scope.broadcast(hotGrams)
        val isHot = udf((gh: Long) => hotB.value.contains(gh))
        val cgF = cg.filter(mightContain(col("gh")))
        val hotJoined = cgF.filter(isHot(col("gh")))
          .join(broadcast(bg.filter(isHot(col("gh")))), Seq("gh"))
        val k = SaltFactor
        val coldJoined = cgF.filter(!isHot(col("gh")))
          .withColumn("salt", pmod(hash(col("doc_id")), lit(k)).cast("int"))
          .join(bg.filter(!isHot(col("gh"))).withColumn("salt",
            explode(lit((0 until k).toArray))).hint("shuffle_hash"),
            Seq("gh", "salt"))
          .drop("salt")
        hotJoined.unionByName(coldJoined)
      }
    finishOverlap(joined)
  }

  private def finishOverlap(joined: DataFrame): DataFrame =
    joined
      .groupBy("doc_id", "bench_id", "n_doc_grams", "n_bench_grams")
      .agg(count(lit(1)).as("n_shared"))
      // plain IEEE division, no rounding: exactly-representable int
      // operands make the quotient bit-identical in any engine — the
      // DuckDB oracle reproduces these doubles exactly
      .withColumn("frac_doc",
        col("n_shared").cast("double") / col("n_doc_grams"))
      .withColumn("frac_bench",
        col("n_shared").cast("double") / col("n_bench_grams"))
      .select("doc_id", "bench_id", "n_shared", "n_doc_grams",
        "n_bench_grams", "frac_doc", "frac_bench")

  /** Doc-level flags: corpus documents whose overlap with ANY bench
    * item reaches minFracBench — (doc_id, n_bench_hits,
    * max_frac_bench). Deterministic aggregation (max + count), no
    * argmax tie-break needed.
    */
  def flagged(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      benchIdCol: String = "bench_id",
      textCol: String = "text",
      n: Int = DefaultN,
      minFracBench: Double = 0.5,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame =
    overlap(corpus, bench, idCol, benchIdCol, textCol, n, useBroadcast)
      .filter(col("frac_bench") >= minFracBench)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bench_hits"),
        max(col("frac_bench")).as("max_frac_bench"))

  /** Survivors: the corpus minus flagged documents (left-anti on
    * doc_id) — what actually ships to training.
    */
  def clean(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String = "doc_id",
      benchIdCol: String = "bench_id",
      textCol: String = "text",
      n: Int = DefaultN,
      minFracBench: Double = 0.5,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame = {
    val bad = flagged(corpus, bench, idCol, benchIdCol, textCol, n,
      minFracBench, useBroadcast).select(col("doc_id").as(idCol))
    corpus.join(bad, Seq(idCol), "left_anti")
  }
}
