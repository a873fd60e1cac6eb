package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Large-scale training-data deduplication over a document table
  * (doc_id, text). Five methods, cheapest-to-richest; all shuffle only
  * on compact keys (hashes/signatures), never on raw text.
  *
  *  - exact: md5(text) group — one hash-partition shuffle of 16-byte keys
  *  - minhash LSH: word-shingle minhash → banded buckets → verified
  *    candidate pairs → CC clusters (the FineWeb/C4-style near-dedup)
  *  - simhash: 64-bit simhash, Hamming-adjacent pairs via 4×16-bit
  *    band index (detects pairs within Hamming distance <= 3 when at
  *    least one band is exact — standard Manku et al. trick)
  *  - n-gram Jaccard: the verification metric, exposed standalone
  *  - embedding cosine: near-dup by vector similarity (see Similarity)
  */
object Dedup {

  // ---------- exact ----------

  /** Exact dedup summary: one row per distinct text with its cluster
    * size and the kept (min) doc_id. SQL-oracle-able.
    */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("keep_id"))

  /** Survivor rows only (keep first doc_id per distinct text). */
  def exactSurvivors(docs: DataFrame, idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val keep = exactGroups(docs, idCol, textCol).select(col("keep_id").as(idCol))
    docs.join(keep, Seq(idCol), "left_semi")
  }

  // ---------- shingles + minhash ----------

  def wordShingles(text: String, n: Int = 3): Set[String] = {
    val words = text.toLowerCase.split("\\W+").filter(_.nonEmpty)
    if (words.length <= n) Set(words.mkString(" "))
    else (0 to words.length - n).map(i => words.slice(i, i + n).mkString(" ")).toSet
  }

  /** k minhash values via Kirsch–Mitzenmacher double hashing: TWO
    * murmur string walks per shingle and the k permutations derived as
    * h1 + j·h2 (h2 forced odd so the k transforms stay distinct) —
    * 16 string hashes per shingle collapse to 2 + k int adds. The
    * signature pass IS the corpus pass of minhash dedup, so at 100 TB
    * this is the dominant CPU term (measured ~1.9s → see BENCH.md).
    * Statistics are the standard double-hashing approximation of k
    * independent permutations; every candidate is exact-Jaccard
    * verified afterwards, so pair OUTPUT correctness never depends on
    * the hash family.
    */
  def minhashSig(sh: Set[String], k: Int): Array[Int] = {
    if (sh.isEmpty) return new Array[Int](k)
    val out = Array.fill(k)(Int.MaxValue)
    sh.foreach { g =>
      val h1 = MurmurHash3.stringHash(g, 7777)
      val h2 = MurmurHash3.stringHash(g, 7778) | 1
      var hj = h1
      var j = 0
      while (j < k) {
        if (hj < out(j)) out(j) = hj
        hj += h2
        j += 1
      }
    }
    out
  }

  def ngramJaccard(a: String, b: String, n: Int = 3): Double =
    jaccardOf(wordShingles(a, n), wordShingles(b, n))

  private def jaccardOf(sa: Set[String], sb: Set[String]): Double =
    if (sa.isEmpty && sb.isEmpty) 1.0
    else {
      // membership-count loop over the smaller set: same value as
      // sa.intersect(sb).size (set membership is the definition) with
      // no intersection-set allocation — the verify stage calls this
      // once per candidate pair
      val (small, big) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
      var inter = 0
      val it = small.iterator
      while (it.hasNext) if (big.contains(it.next())) inter += 1
      inter.toDouble / (sa.size + sb.size - inter)
    }

  /** Verification-path Jaccard with a per-thread LRU memo of shingle
    * sets keyed by text: after candidate joins, each document's text
    * reappears once per pair it participates in (~100x on dup-heavy
    * corpora), and re-shingling dominated the verify stage (measured
    * 6.5s of the 7.9s `dedup_jaccard` bench query at sf0.1). The memo
    * turns that into one shingling per document per task thread, at a
    * bounded ~512-entry footprint. Exactness is untouched — same sets,
    * same arithmetic, no dependence on the 64-bit candidate hashes.
    */
  private val shingleMemo: ThreadLocal[java.util.LinkedHashMap[String, Set[String]]] =
    ThreadLocal.withInitial { () =>
      new java.util.LinkedHashMap[String, Set[String]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Set[String]]): Boolean = size() > 512
      }
    }

  def ngramJaccardMemo(a: String, b: String, n: Int = 3): Double = {
    val memo = shingleMemo.get()
    def get(t: String): Set[String] = {
      val hit = memo.get(t)
      if (hit != null) hit
      else { val s = wordShingles(t, n); memo.put(t, s); s }
    }
    jaccardOf(get(a), get(b))
  }

  /** MinHash-LSH near-dup candidate pairs, Jaccard-verified.
    * k minhashes in `bands` bands; docs sharing any band bucket are
    * candidates; candidates with word-3-gram Jaccard >= threshold are
    * emitted as (id_a < id_b) pairs.
    *
    * Scale contract (asserted by PlanSpec): NO shuffle exchange in this
    * plan carries a string/binary column — every wide exchange moves
    * only (band, band_hash, id) ints. Raw text is read exactly twice
    * where it sits: once to compute signatures (per-partition map), and
    * once to verify candidates, where the (small) candidate-id set is
    * BROADCAST into a semi-join against the doc table and the matching
    * candidate texts are broadcast to the pair rows. Exchange volume is
    * therefore O(bands x |docs|) ints + O(|near-dups|) text bytes over
    * the broadcast channel, instead of O(bands x corpus) text bytes —
    * at 100 TB that is the difference between a feasible job and a
    * shuffle larger than the corpus itself. If the candidate set
    * outgrows broadcast budget (dup-heavy corpus), pass
    * useBroadcast=false: a Bloom-sketch pre-filter + shuffled hash
    * fetch joins — exchange bytes become O(|candidates|) text, still
    * never O(corpus) (see fetchCandidatePayload).
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 128,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame = {
    val compactDocs = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
    // (band, band_hash, id) — the ONLY rows that ever shuffle
    val banded = minhashBands(docs, idCol, textCol, k, bands)

    val ok = banded.groupBy("band", "bh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
    val pruned = banded.join(ok, Seq("band", "bh"), "left_semi")
    val cand = pruned.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(pruned.select(col("band"), col("bh"), col("id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    // verification: fetch candidate texts by id (see fetchCandidatePayload
    // for the broadcast vs dup-heavy-corpus exchange discipline)
    val (candU, candDocs, side) = fetchCandidatePayload(cand, compactDocs, useBroadcast)
    verifyCandidatePairs(candU, candDocs, side, threshold, 3)
  }

  /** Exact-Jaccard verification tail shared by the minhash / jaccard /
    * incremental candidate generators: join the fetched candidate
    * payloads to both pair sides (through the caller's
    * broadcast/shuffled-hash wrapper `side`) and keep pairs at or
    * above the threshold. One definition so a fix to the verify stage
    * can never drift between the three dedup paths.
    *
    * Two-stage shape (r6; the previous per-pair memoized re-shingling
    * UDF measured 94 core-seconds for a 500k-candidate verify at 80k
    * docs — the 512-entry memo is dwarfed by dup-heavy candidate doc
    * sets and the second fetch join scatters the first side's
    * locality):
    *
    *  1. PREFILTER over per-document sorted 64-bit shingle-hash arrays
    *     (`shingleHashSet` — 8 bytes per shingle instead of a ~40-char
    *     string, so the pair-join row materialization that dominates a
    *     dense verify shrinks ~10x) with the linear-merge
    *     `hashSetJaccard`.
    *  2. STRING-EXACT CONFIRMATION of the surviving pairs (near-dup-
    *     density-bounded — tiny next to the candidate set) over sorted
    *     shingle-string arrays: the emitted pairs satisfy exactly the
    *     string predicate the oracle replays; a hash collision can
    *     never ADD a pair.
    *
    * Disclosed caveat (the int-sidecar path's exact caveat, same
    * order): a 64-bit collision between two shingles of one document
    * can DEFLATE the prefilter's jaccard and drop a pair the string
    * predicate admits — probability ~|shingles|²·2⁻⁶⁵ per doc,
    * vanishing; `incrementalPairsFromIndex` already runs on this
    * arithmetic alone.
    */
  private[operators] def verifyCandidatePairs(
      cand: DataFrame,
      candDocs: DataFrame,
      side: DataFrame => DataFrame,
      threshold: Double,
      n: Int
  ): DataFrame = {
    val hashUdf = udf((t: String) => shingleHashSet(t, n))
    // Array (not Seq) parameters: Spark decodes a primitive array via
    // toLongArray — a Seq[Long] parameter would BOX every element, and
    // this UDF runs per candidate pair over ~|shingles|-long arrays
    val jacH = udf((x: Array[Long], y: Array[Long]) => hashSetJaccard(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(x),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(y)))
    val preH = candDocs.select(col("id"), hashUdf(col("txt")).as("shs"))
    val surv = cand
      .join(side(preH.select(col("id").as("id_a"), col("shs").as("shs_a"))),
        Seq("id_a"))
      .join(side(preH.select(col("id").as("id_b"), col("shs").as("shs_b"))),
        Seq("id_b"))
      .filter(jacH(col("shs_a"), col("shs_b")) >= threshold)
      .select("id_a", "id_b")
    val strUdf = udf { (t: String) =>
      val a = wordShingles(t, n).toArray
      java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]])
      a
    }
    val preS = candDocs.select(col("id"), strUdf(col("txt")).as("sh"))
    val jacS = udf((x: Array[String], y: Array[String]) => sortedStringJaccard(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(x),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(y)))
    surv
      .join(side(preS.select(col("id").as("id_a"), col("sh").as("sh_a"))),
        Seq("id_a"))
      .join(side(preS.select(col("id").as("id_b"), col("sh").as("sh_b"))),
        Seq("id_b"))
      .filter(jacS(col("sh_a"), col("sh_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Jaccard of two SORTED distinct shingle-string arrays via one
    * linear merge — exactly `ngramJaccard` of the originating texts
    * (set intersection counted under a shared total order; no hashing,
    * no allocation). Empty vs empty is 1.0, matching `jaccardOf`.
    */
  private[operators] def sortedStringJaccard(a: Seq[String], b: Seq[String]): Double = {
    val na = a.length
    val nb = b.length
    if (na == 0 && nb == 0) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val c = a(i).compareTo(b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** (band, band_hash, id) banded minhash rows — the ONLY rows that
    * shuffle in `minhashPairs`; exposed so the driver can dump them and
    * the bucket/candidate/jaccard-verify pair logic becomes
    * SQL-oracle-checkable (same pattern as `simhashSigs` /
    * `embeddingBuckets`).
    */
  def minhashBands(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = k / bands
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .as[(Long, String)]
      .flatMap { case (id, txt) =>
        val sig = minhashSig(wordShingles(txt), k)
        (0 until bands).map { b =>
          (b, java.util.Arrays.hashCode(sig.slice(b * rows, (b + 1) * rows)), id)
        }
      }.toDF("band", "bh", "id")
  }

  /** Candidate-payload fetch for pair verification (shared by every
    * pair generator). `cand` is (id_a, id_b); `payload` is (id,
    * <payload cols>). Returns the materialized candidate leaf, the
    * payload rows restricted to candidate ids, and the join-side
    * decorator for the two fetch joins.
    *
    * useBroadcast=true (default, near-dups rare): candidate ids
    * broadcast into a semi-join, matching payloads broadcast back —
    * zero payload shuffle.
    *
    * useBroadcast=false (dup-heavy corpora, candidate set outgrows
    * executor broadcast budget): NOTHING row-sized broadcasts. A
    * compact Bloom sketch of the candidate ids (~12 bits/id at 1% fpp
    * — bounded even when |candidates| = O(corpus)) pre-filters the
    * payload table BEFORE any exchange, and the fetch joins are
    * shuffled hash joins: every exchange carries O(|candidates|)
    * payload bytes, never O(corpus). Bloom false positives survive the
    * pre-filter but are dropped by the inner pair joins on id, so rows
    * are identical to the broadcast path (asserted in DedupSpec; plan
    * asserted in PlanSpec under autoBroadcastJoinThreshold=-1).
    *
    * The candidate subplan — the most expensive subtree of every pair
    * job, and one that reappears ~4 times in the final plan (spine +
    * candIds broadcast + both fetch sides) — is materialized as a
    * scope leaf first and returned in place of `cand`: one eager job
    * (a lazy cache is raced by the parallel subtrees of the first
    * action), so the banding executes once by construction, and the
    * pair plan embeds a flat leaf instead of the whole candidate tree.
    */
  private[operators] def fetchCandidatePayload(
      cand: DataFrame,
      payload: DataFrame,
      useBroadcast: Boolean
  )(implicit scope: Scope): (DataFrame, DataFrame, DataFrame => DataFrame) = {
    val (candU, nPairs) = scope.leaf(cand)
    if (useBroadcast) {
      val candIds = candU
        .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      (candU, payload.join(broadcast(candIds), Seq("id"), "left_semi"),
        df => broadcast(df))
    } else {
      // distinct ids ≤ 2·pairs, so sizing the Bloom at that bound skips
      // both a distinct aggregation and its count job. Overestimating
      // expectedNumItems only LOWERS the fpp (more bits, ≤2x — bloom
      // inserts are idempotent, no distinct needed); false positives
      // still die in the exact id joins, so rows are unchanged.
      val bf = candU.select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .stat.bloomFilter("id", math.max(2L * nPairs, 1024L), 0.01)
      val bfB = scope.broadcast(bf)
      val mightContain = udf((id: Long) => bfB.value.mightContain(id))
      (candU, payload.filter(mightContain(col("id"))), df => df.hint("shuffle_hash"))
    }
  }

  /** Near-dup clusters from minhash pairs via connected components;
    * returns (id, cluster_id = min id of component).
    *
    * CC label propagation runs over the PAIR-TOUCHED ids only: an
    * untouched document is trivially its own singleton cluster and its
    * label can never change, so routing the full corpus through every
    * iteration (the naive nodes = docs form) would put O(corpus) rows
    * into each CC round for a non-singleton set that is O(duplicates).
    * Untouched docs get cluster_id = id back via one left join at the
    * end — same output, iteration cost proportional to the dup graph.
    */
  def minhashClusters(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.7,
      useBroadcast: Boolean = true)(implicit scope: Scope): DataFrame = {
    // the candidate cache lives only until CC has built the labels
    val labels = Scope(docs.sparkSession) { pairScope =>
      val pairs = minhashPairs(docs, idCol, textCol, threshold = threshold,
        useBroadcast = useBroadcast)(pairScope)
      Canonicalize.pairComponents(
        pairs.select(col("id_a").as("cid_a"), col("id_b").as("cid_b")))
    }
    docs.select(col(idCol).cast("long").as(idCol))
      .join(labels.select(col("cid").as(idCol), col("cluster_id")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("cluster_id"), col(idCol)).as("cluster_id"))
  }

  // ---------- exact n-gram Jaccard (prefix filtering) ----------

  /** Sorted distinct 64-bit shingle hashes of one text — the hashed
    * form of `wordShingles` under the same murmur pair `shingleRows`
    * exchanges: h = (murmur(g,31) << 32) | murmur(g,37). The
    * verification payload of `IncrDedup.incrementalPairsFromIndex`.
    */
  private[operators] def shingleHashSet(txt: String, n: Int = 3): Array[Long] = {
    val out = wordShingles(txt, n).iterator.map { g =>
      val h1 = MurmurHash3.stringHash(g, 31)
      val h2 = MurmurHash3.stringHash(g, 37)
      (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    }.toArray
    java.util.Arrays.sort(out)
    // the source is a Set of strings — this dedupes only the
    // (vanishing) 64-bit hash collisions, keeping the array a SET so
    // hashSetJaccard's merge count is exact
    var w = 0
    var i = 0
    while (i < out.length) {
      if (w == 0 || out(w - 1) != out(i)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  /** Exact Jaccard of two SORTED distinct hash arrays via one linear
    * merge — equals `ngramJaccard` over the originating texts unless
    * two distinct shingles collide in 64 bits. Empty vs empty is 1.0
    * (two empty documents are identical), matching `jaccardOf`.
    */
  def hashSetJaccard(a: Seq[Long], b: Seq[Long]): Double = {
    val na = a.length
    val nb = b.length
    if (na == 0 && nb == 0) return 1.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < na && j < nb) {
      val x = a(i)
      val y = b(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    inter.toDouble / (na + nb - inter)
  }

  /** Per-doc word-3-gram shingle rows as 64-bit hashes with the doc's
    * distinct-shingle count: (id, sh, set_size). Shingle TEXT never
    * leaves the row — downstream joins exchange only longs.
    */
  def shingleRows(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .as[(Long, String)]
      .flatMap { case (id, txt) =>
        val sh = wordShingles(txt, n)
        sh.iterator.map { g =>
          val h1 = MurmurHash3.stringHash(g, 31)
          val h2 = MurmurHash3.stringHash(g, 37)
          (id, (h1.toLong << 32) | (h2.toLong & 0xffffffffL), sh.size)
        }
      }.toDF("id", "sh", "set_size")
  }

  /** EXACT all-pairs n-gram-Jaccard similarity join via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo et al., "Scaling Up All
    * Pairs Similarity Search", WWW'07; Xiao et al., "Efficient
    * Similarity Joins for Near Duplicate Detection", WWW'08). Unlike
    * `minhashPairs` (probabilistic candidate recall), every pair with
    * word-3-gram Jaccard >= threshold is guaranteed emitted: a doc's
    * shingles are ordered rarest-first by global document frequency and
    * only its PREFIX of |x| - ceil(t*|x|) + 1 shingles is indexed — any
    * two sets with J >= t must collide on at least one prefix shingle
    * (pigeonhole on the shared total order), and candidates are then
    * exact-verified. The length filter t*|x| <= |y| <= |x|/t prunes the
    * index join further.
    *
    * Scale shape: three shuffles, all on compact keys — (sh) longs for
    * the document-frequency count, (id) for the per-doc rank window,
    * (sh) for the prefix self-join; raw text rides only the final
    * candidate fetch (same broadcast/Bloom discipline as minhashPairs
    * via fetchCandidatePayload). Exchange volume is O(total shingles)
    * longs — intrinsically heavier than minhash's O(bands x docs), which
    * is the price of exactness; the rarest-first prefix order is what
    * keeps the candidate count near |true pairs| instead of
    * quadratic (the WWW'07 result).
    */
  def jaccardPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.7,
      n: Int = 3,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val compactDocs = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
    val sh = shingleRows(docs, idCol, textCol, n)
    // global document frequency per shingle hash → rarest-first order
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("dfreq"))
    val ranked = sh.join(dfreq, Seq("sh"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("dfreq"), col("sh"))))
    // All candidate-stage bounds get an EPS slack before ceil/compare:
    // the bounds are exact rationals (t·|x|, t/(1+t)·(|x|+|y|)) compared
    // against integers, and double rounding can land a hair ABOVE the
    // exact value (e.g. double(0.8)·5 = 4.0000000000000004, ceil → 5
    // instead of 4), silently pruning a true pair with J exactly at the
    // threshold. Set sizes are ≤ ~1e5 shingles so the representation
    // error is < 1e-10; relaxing by 1e-9 admits only exact-boundary
    // candidates, and the final exact jaccard verify keeps the output
    // precise. Exactness contract > a vanishing amount of extra work.
    val Eps = 1e-9
    // prefix length p = |x| - ceil(t*|x|) + 1
    val prefix = ranked.filter(
      col("rk") <= col("set_size") - ceil(lit(threshold) * col("set_size") - Eps) + 1)
      .select(col("sh"), col("id"), col("set_size"), col("rk"))
    val cand = prefix.select(col("sh"), col("id").as("id_a"),
      col("set_size").as("sz_a"), col("rk").as("rk_a"))
      .join(prefix.select(col("sh"), col("id").as("id_b"),
        col("set_size").as("sz_b"), col("rk").as("rk_b")), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      // length filter: J >= t ⟹ t*|x| <= |y| <= |x|/t
      .filter(col("sz_b") >= lit(threshold) * col("sz_a") - Eps &&
        col("sz_a") >= lit(threshold) * col("sz_b") - Eps)
      // PPJoin positional filter: at the FIRST common prefix token
      // (positions rk_a, rk_b) every common element sits at or after it
      // in both sets, so |x∩y| <= min(|x|-rk_a, |y|-rk_b) + 1, while
      // J >= t needs |x∩y| >= ⌈t/(1+t)·(|x|+|y|)⌉. Pairs whose only
      // collisions fail this bound can't reach the threshold; a true
      // pair always survives via its first common token, where the
      // bound is valid (Xiao et al. WWW'08 §3.2).
      .filter(least(col("sz_a") - col("rk_a"), col("sz_b") - col("rk_b")) + 1 >=
        ceil(lit(threshold / (1.0 + threshold)) * (col("sz_a") + col("sz_b")) - Eps))
      .select("id_a", "id_b").distinct()
    val (candU, candDocs, side) = fetchCandidatePayload(cand, compactDocs, useBroadcast)
    verifyCandidatePairs(candU, candDocs, side, threshold, n)
  }

  // ---------- simhash ----------

  /** 64-bit simhash over word hashes (Charikar). */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    text.toLowerCase.split("\\W+").filter(_.nonEmpty).foreach { w =>
      val h1 = MurmurHash3.stringHash(w, 11)
      val h2 = MurmurHash3.stringHash(w, 12)
      val h = (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
      var bit = 0
      while (bit < 64) {
        if (((h >>> bit) & 1L) == 1L) acc(bit) += 1 else acc(bit) -= 1
        bit += 1
      }
    }
    var out = 0L
    var bit = 0
    while (bit < 64) { if (acc(bit) > 0) out |= (1L << bit); bit += 1 }
    out
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** SimHash near-dup pairs with Hamming distance <= maxHamming.
    * Banding: 4 bands of 16 bits — any pair within Hamming 3 shares at
    * least one exact band (pigeonhole), so the exchange is on 16-bit
    * band keys, then verified on the full 64-bit signature.
    */
  /** Per-doc 64-bit simhash signatures (id, sig) — also dumped by the
    * driver so the banding+Hamming pair logic is SQL-oracle-checkable.
    */
  /** Distinct (token, h1, h2) murmur values of the simhash token walk —
    * oracle INPUT (parameters, not derived data): murmur3 is not
    * SQL-expressible, but GIVEN these per-token hashes the entire
    * 64-bit bit-vote signature IS — the dedup_simhash_sigs oracle
    * rebuilds every signature from the documents table in DuckDB.
    */
  def tokenHashes(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(textCol)).as[String]
      .flatMap(t => t.toLowerCase.split("\\W+").filter(_.nonEmpty).distinct.toSeq)
      .distinct()
      .map(w => (w, MurmurHash3.stringHash(w, 11), MurmurHash3.stringHash(w, 12)))
      .toDF("token", "h1", "h2")
  }

  /** Distinct (shingle, h1, h2) double-hashing parameters of the
    * minhash signature pass (h2 pre-OR'd with 1, exactly as consumed) —
    * oracle INPUT for the dedup_minhash_bands full-signature recompute.
    */
  def shingleHashes(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(textCol)).as[String]
      .flatMap(t => wordShingles(t).toSeq)
      .distinct()
      .map(g => (g, MurmurHash3.stringHash(g, 7777), MurmurHash3.stringHash(g, 7778) | 1))
      .toDF("shingle", "h1", "h2")
  }

  def simhashSigs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .as[(Long, String)]
      .map { case (id, txt) => (id, simhash64(txt)) }
      .toDF("id", "sig")
  }

  def simhashPairs(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      maxHamming: Int = 3,
      maxBucket: Int = 1024
  ): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sigs = simhashSigs(docs, idCol, textCol)
    val banded = sigs.as[(Long, Long)].flatMap { case (id, sig) =>
      (0 until 4).map(b => (b, ((sig >>> (16 * b)) & 0xffffL).toInt, id, sig))
    }.toDF("band", "bh", "id", "sig")
    val ok = banded.groupBy("band", "bh").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
    val pruned = banded.join(ok, Seq("band", "bh"), "left_semi")
    val a = pruned.select(col("band"), col("bh"), col("id").as("id_a"), col("sig").as("sig_a"))
    val b = pruned.select(col("band"), col("bh"), col("id").as("id_b"), col("sig").as("sig_b"))
    val ham = udf((x: Long, y: Long) => hamming64(x, y))
    a.join(b, Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .filter(ham(col("sig_a"), col("sig_b")) <= maxHamming)
      .select("id_a", "id_b").distinct()
  }

  // ---------- embedding cosine ----------

  /** Cosine similarity of two float vectors: a BIT-IDENTICAL
    * reimplementation of the zip_with/aggregate Column form (kept in
    * SimilaritySpec as the executable spec; higher-order functions are
    * CodegenFallback in Spark, ~20x this UDF's per-element cost) as a
    * primitive-array UDF: per dim the product/squares are FLOAT
    * multiplies (zip_with's element type) widened to double and
    * accumulated left-to-right from a 0.0 seed, norms the same way,
    * then dot / (sqrt(na) * sqrt(nb)) — every IEEE op in the same
    * order, so the dumped cosine columns (ann_*_topk,
    * dedup_embedding_pairs oracles) hash-match exactly as before.
    * Array (not Seq) parameters decode via toFloatArray — no boxing.
    *
    * A ZERO-NORM vector (a zero divisor) raises, as the Column form
    * does under ANSI mode (DIVIDE_BY_ZERO): plain IEEE division would
    * return NaN, which fails every `>= threshold` filter, so a zero
    * embedding would silently drop out of `embeddingPairs` / the ANN
    * scorers instead of failing the job.
    */
  def cosineFloatUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (a: Array[Float], b: Array[Float]) =>
      // null inputs and length mismatches yield null, exactly as the
      // HOF form does (zip_with pads the shorter side with nulls and
      // the aggregate fold nulls out)
      if (a == null || b == null || a.length != b.length) null
      else {
        var dot = 0.0
        var na = 0.0
        var nb = 0.0
        var i = 0
        while (i < a.length) {
          dot += a(i) * b(i) // float multiply, widened — zip_with's bits
          i += 1
        }
        i = 0
        while (i < a.length) { na += a(i) * a(i); i += 1 }
        i = 0
        while (i < b.length) { nb += b(i) * b(i); i += 1 }
        val norms = math.sqrt(na) * math.sqrt(nb)
        if (norms == 0.0) throw new ArithmeticException(
          "[DIVIDE_BY_ZERO] cosine of a zero-norm vector")
        java.lang.Double.valueOf(dot / norms)
      }
    }

  /** Evidence-planting for the driver's embedding-dedup query: base
    * vectors + EXACT duplicates (every 50th vec_id reappears under
    * id+1,000,000) + PERTURBED near-duplicates (every (50k+25)th
    * reappears under id+2,000,000 with +0.25 added to its first
    * component — cosine ≈ 0.97 against the original for unit-norm
    * 64-dim vectors, i.e. a genuine near-dup whose sign-LSH signature
    * can flip a bit: the case only multi-probe blocking recalls).
    */
  def plantNearDups(emb: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val exact = emb.filter(col(idCol) % 50 === 0)
      .withColumn(idCol, col(idCol) + lit(1000000L))
    val perturbed = emb.filter(col(idCol) % 50 === 25)
      .withColumn(idCol, col(idCol) + lit(2000000L))
      .withColumn(vecCol, transform(col(vecCol),
        (x, i) => when(i === 0, (x + lit(0.25f)).cast("float")).otherwise(x)))
    emb.unionByName(exact).unionByName(perturbed)
  }

  /** (id, bucket) sign-LSH table used by `embeddingPairs` blocking —
    * exposed so the driver can dump it and the candidate/probe/pair
    * logic becomes SQL-oracle-checkable over deterministic ints (same
    * pattern as `simhashSigs` → the simhash-pairs oracle).
    */
  def embeddingBuckets(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      bits: Int = 8
  ): DataFrame =
    emb.select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bucket", Similarity.signatureUdf(bits)(col("v")))
      .select("id", "bucket", "v")

  /** Embedding near-dup pairs: cosine >= threshold. Blocking via
    * random-hyperplane sign buckets (see Similarity.signature) with
    * 1-bit-flip multi-probe: the probe side explodes to its bucket plus
    * every 1-bit-flip neighbor, so genuine 0.95-0.99-cosine near-dups
    * whose signatures differ in one sign bit are still candidates
    * (Hamming<=1 coverage; exact-bucket-only missed them — DedupSpec
    * asserts recall on planted perturbed vectors).
    *
    * Same exchange discipline as `minhashPairs`: only (bucket, id) ints
    * shuffle; candidate vectors are fetched by a join-back that is
    * broadcast by default and shuffled-hash with useBroadcast=false
    * (dup-heavy corpora whose candidate set outgrows broadcast budget),
    * so the float arrays never ride an O(corpus) shuffle.
    */
  def embeddingPairs(
      emb: DataFrame,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.95,
      bits: Int = 8,
      multiProbe: Boolean = true,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame = {
    val withSig = embeddingBuckets(emb, idCol, vecCol, bits)
    val banded = withSig.select("bucket", "id")
    val probeSide =
      if (multiProbe)
        banded.select(explode(Similarity.probesUdf(bits)(col("bucket"))).as("bucket"),
          col("id").as("id_a"))
      else banded.select(col("bucket"), col("id").as("id_a"))
    val cand = probeSide
      .join(banded.select(col("bucket"), col("id").as("id_b")), Seq("bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val (candU, candVecs, side) =
      fetchCandidatePayload(cand, withSig.select("id", "v"), useBroadcast)
    candU
      .join(side(candVecs.select(col("id").as("id_a"), col("v").as("v_a"))), Seq("id_a"))
      .join(side(candVecs.select(col("id").as("id_b"), col("v").as("v_b"))), Seq("id_b"))
      .filter(cosineFloatUdf(col("v_a"), col("v_b")) >= threshold)
      .select("id_a", "id_b")
  }
}
