package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental near-dup deduplication against a persisted MinHash band
  * index — the shape LSH dedup actually takes at 10^12 documents. A
  * full-corpus `Dedup.minhashPairs` run re-signatures every document on
  * every crawl; at Common-Crawl cadence that is an O(corpus) pass for an
  * O(delta) question. This operator maintains the banded signature table
  * as a SEEN-CORPUS INDEX and processes each crawl's delta against it:
  *
  *  - `bandIndex` / `bucketCounts`: the at-rest state — the (band, bh,
  *    id) rows of every document ever seen (`Dedup.minhashBands`) plus a
  *    per-bucket occupancy table. At rest the band table is
  *    hash-distributed on (band, bh) (Iceberg bucket transform), so the
  *    per-crawl probe joins are shuffle-free on the index side; the
  *    index scan itself is int-only (never text) and O(index) — the
  *    crawl's TEXT work is O(delta).
  *  - `incrementalPairs`: the per-crawl job. Signatures are computed for
  *    the DELTA ONLY; the bucket-size prune uses index counts + delta
  *    counts (so it agrees bucket-for-bucket with what a batch run over
  *    corpus ∪ delta would decide); candidates are delta-vs-delta and
  *    delta-vs-index bucket mates; verification is the same exact
  *    word-3-gram Jaccard as the batch path, with texts fetched by id
  *    under `Dedup.fetchCandidatePayload`'s broadcast/Bloom discipline.
  *
  *    EXACTNESS CONTRACT (spec-asserted): the emitted pairs are exactly
  *    the delta-touching subset of `Dedup.minhashPairs(corpus ∪ delta)`
  *    — banding is per-document-deterministic, the merged occupancy
  *    equals the batch bucket count, so the candidate sets coincide and
  *    the verification predicate is identical. The contract is also
  *    CHUNKING-INVARIANT away from the maxBucket cap: applying a delta
  *    as several chunks (updating the index between them) emits the
  *    same pair union as one chunk, EXCEPT when a chunk boundary
  *    crosses a bucket's maxBucket occupancy threshold — the skew-guard
  *    prune is evaluated against the corpus seen so far, so an early
  *    chunk can admit pairs from a bucket a fuller one-shot view caps
  *    away (and emitted pairs are never retracted). Crossing the cap
  *    means the bucket was within one chunk of being dropped as
  *    degenerate either way; the single-application batch-exactness
  *    above is unconditional.
  *
  *  - `survivors`: the keep/drop decision for the delta under
  *    seen-corpus semantics. Connected components over the emitted
  *    pairs; a delta document whose component touches ANY seen id is
  *    dropped (its content — or content within one near-dup hop of it —
  *    was already crawled, kept or not), otherwise the min-id delta
  *    document of each all-new component is kept. Previously-kept
  *    documents are NEVER retracted: incremental maintenance cannot
  *    unpublish what earlier crawls shipped, so a delta that would have
  *    merged two old components changes no old decision (disclosed
  *    deviation from a from-scratch batch rerun; the PAIRS remain
  *    batch-exact, only the keep rule is prefix-greedy).
  *  - `updatedIndex`: O(delta) state growth — bands and counts of ALL
  *    delta documents (kept AND dropped) join the index, because "seen"
  *    means seen, not kept: a future near-dup of a dropped page is still
  *    a near-dup of seen content. At rest this is a merge-on-read
  *    append (delta band files + delta count sidecar, compacted on the
  *    `Materialize` schedule), not the in-memory union re-aggregation.
  *
  * Scale shape per crawl: one text pass over the DELTA (signatures), a
  * (band, bh) probe into the index pruned to delta-touched buckets, and
  * candidate-payload fetches proportional to the duplicate rate. All
  * wide exchanges carry (band, bh, id) ints; raw text rides only the
  * candidate fetch (broadcast by default, Bloom + shuffled-hash with
  * useBroadcast=false on dup-heavy crawls). Index-side SCANS are
  * O(index) rows but int-only — with one exception:
  * `incrementalPairs`' candidate fetch filters the corpus DOCUMENT
  * store by id, so it re-reads the (id, text) columns of the whole
  * corpus each crawl even though only O(|candidates|) rows survive
  * into any exchange. `incrementalPairsFromIndex` closes that last
  * O(corpus)-TEXT scan: verification runs over a per-document
  * shingle-hash sidecar maintained next to the band index (O(delta)
  * appends per crawl, `updatedShingleIndex`), so the crawl job never
  * touches corpus text at all — its only text input is the delta.
  */
object IncrDedup {

  /** Band rows (band, bh, id) for a document table — the index payload.
    * Delegates to `Dedup.minhashBands` so index and delta signatures are
    * the same function by construction.
    */
  def bandIndex(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 16, bands: Int = 8): DataFrame =
    Dedup.minhashBands(docs, idCol, textCol, k, bands)

  /** Per-bucket occupancy (band, bh, n) — maintained alongside the band
    * rows so the incremental prune never aggregates over the index.
    */
  def bucketCounts(bandRows: DataFrame): DataFrame =
    bandRows.groupBy("band", "bh").agg(count(lit(1)).as("n"))

  /** Verified near-dup pairs touching the delta: (id_a < id_b) where at
    * least one side is a delta document. `corpusDocs` is the seen-corpus
    * DOCUMENT store (id → text), touched only by the candidate-id fetch.
    * Delta ids must be disjoint from seen ids (new crawl ⇒ new ids).
    */
  def incrementalPairs(
      indexBands: DataFrame,
      indexCounts: DataFrame,
      corpusDocs: DataFrame,
      delta: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 128,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame = {
    val deltaBands = Dedup.minhashBands(delta, idCol, textCol, k, bands)
    val cand = deltaCandidates(indexBands, indexCounts, deltaBands, maxBucket)
    // verification payload: seen-corpus store ∪ delta, fetched BY ID —
    // O(|candidates|) rows survive the fetch, but the filter pass SCANS
    // the corpus store's (id, text) columns (see the object doc; use
    // incrementalPairsFromIndex to verify off the int-only sidecar
    // instead when re-reading corpus text per crawl is the bottleneck)
    val payload = corpusDocs
      .select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .unionByName(delta
        .select(col(idCol).cast("long").as("id"), col(textCol).as("txt")))
    // the candidate subplan reappears in the spine AND inside every
    // broadcast branch of the fetch (measured ~4 evaluations,
    // 269-exchange executed plan at sf0.1 without the cache): the fetch
    // materializes it as a scope leaf first
    val (candU, candDocs, side) =
      Dedup.fetchCandidatePayload(cand, payload, useBroadcast)
    Dedup.verifyCandidatePairs(candU, candDocs, side, threshold, 3)
  }

  /** Candidate pairs touching the delta: delta-vs-delta and
    * delta-vs-index bucket mates under the merged occupancy prune.
    * Shared by the text-payload and sidecar verification paths.
    */
  private def deltaCandidates(indexBands: DataFrame, indexCounts: DataFrame,
      deltaBands: DataFrame, maxBucket: Int): DataFrame = {
    // merged occupancy = index count + delta count, LEFT-joined FROM the
    // delta side: a bucket the delta never touches cannot admit a
    // delta-touching pair, so the index count table is probed, never
    // scanned. The merged total equals the batch bucket count over
    // corpus ∪ delta — the prune decisions coincide bucket-for-bucket.
    val dCounts = deltaBands.groupBy("band", "bh").agg(count(lit(1)).as("dn"))
    val ok = dCounts
      .join(indexCounts.withColumnRenamed("n", "ixn"), Seq("band", "bh"), "left_outer")
      .withColumn("total", coalesce(col("ixn"), lit(0L)) + col("dn"))
      .filter(col("total") > 1 && col("total") <= maxBucket)
      .select("band", "bh")
    val prunedDelta = deltaBands.join(ok, Seq("band", "bh"), "left_semi")
    // index rows in admitted delta-touched buckets only. The semi-join
    // reads the index ONCE as (band, bh, id) ints — never text — and
    // only matching rows survive into the exchange; with the index
    // stored hash-distributed on (band, bh) (Iceberg bucket transform /
    // bucketed table) the index side of this join and the pair join
    // below shuffles nothing at all
    val touchedIdx = indexBands.join(ok, Seq("band", "bh"), "left_semi")
    val dd = prunedDelta.select(col("band"), col("bh"), col("id").as("id_a"))
      .join(prunedDelta.select(col("band"), col("bh"), col("id").as("id_b")),
        Seq("band", "bh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    val dc = prunedDelta.select(col("band"), col("bh"), col("id").as("id_d"))
      .join(touchedIdx.select(col("band"), col("bh"), col("id").as("id_c")),
        Seq("band", "bh"))
      // suppress the degenerate self-pair a delta id colliding with a
      // seen id would emit (id_a < id_b invariant). That is the ONLY
      // collision case made safe here: duplicate-id payload rows are
      // otherwise OUT OF CONTRACT (delta ids must be fresh — the
      // latest-crawl-wins ingestion upstream owns re-crawled urls, see
      // Materialize) and would double-emit that id's other pairs
      .filter(col("id_d") =!= col("id_c"))
      .select(least(col("id_d"), col("id_c")).as("id_a"),
        greatest(col("id_d"), col("id_c")).as("id_b"))
    dd.union(dc).distinct()
  }

  /** Int-only verification sidecar: one row per document with its
    * SORTED distinct word-3-gram shingle hashes (`Dedup.shingleHashSet`
    * — the same murmur pair `Dedup.shingleRows` exchanges). Maintained
    * next to the band index with O(delta) appends per crawl
    * (`updatedShingleIndex`), so `incrementalPairsFromIndex` can
    * exact-verify candidates without ever re-reading corpus text.
    */
  def shingleSidecar(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", n: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("id"), col(textCol).as("txt"))
      .as[(Long, String)]
      .map { case (id, txt) => (id, Dedup.shingleHashSet(txt, n)) }
      .toDF("id", "shs")
  }

  /** O(delta) sidecar maintenance, mirroring `updatedIndex`: the delta
    * documents' shingle rows join the sidecar (MoR append at rest).
    */
  def updatedShingleIndex(indexShingles: DataFrame,
      deltaShingles: DataFrame): DataFrame =
    indexShingles.unionByName(deltaShingles)

  /** `incrementalPairs` verified off the shingle sidecar instead of the
    * corpus document store — the at-scale form of the crawl job: its
    * inputs are the three index tables plus the delta, and NO stage
    * reads corpus text (the delta is the job's only text input; the
    * fetch filter scans the int-only sidecar). Candidate generation is
    * shared code with the text path, and `Dedup.hashSetJaccard` over
    * the sorted hash sets equals the text path's word-3-gram Jaccard
    * unless two distinct shingles collide in 64 bits — so the emitted
    * pairs match `incrementalPairs` exactly up to that vanishing
    * caveat (spec-asserted equal on fixture and random dup-heavy
    * corpora), and the batch-exactness contract carries over.
    */
  def incrementalPairsFromIndex(
      indexBands: DataFrame,
      indexCounts: DataFrame,
      indexShingles: DataFrame,
      delta: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      k: Int = 16,
      bands: Int = 8,
      threshold: Double = 0.7,
      maxBucket: Int = 128,
      useBroadcast: Boolean = true
  )(implicit scope: Scope): DataFrame = {
    val deltaBands = Dedup.minhashBands(delta, idCol, textCol, k, bands)
    val cand = deltaCandidates(indexBands, indexCounts, deltaBands, maxBucket)
    // verification payload: the int-only sidecar ∪ the delta's freshly
    // shingled rows — corpus TEXT appears nowhere in this plan. The
    // verification n is pinned to 3 to mirror the text path's
    // ngramJaccardMemo default, keeping the two paths comparable.
    val payload = indexShingles
      .unionByName(shingleSidecar(delta, idCol, textCol, n = 3))
    val (candU, candDocs, side) =
      Dedup.fetchCandidatePayload(cand, payload, useBroadcast)
    // same join shape as Dedup.verifyCandidatePairs, over the hash-set
    // payload column with the sorted-merge Jaccard
    // primitive-array UDF params: no per-element boxing (see
    // Dedup.verifyCandidatePairs)
    val jac = udf((x: Array[Long], y: Array[Long]) => Dedup.hashSetJaccard(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(x),
      scala.collection.immutable.ArraySeq.unsafeWrapArray(y)))
    candU
      .join(side(candDocs.select(col("id").as("id_a"), col("shs").as("shs_a"))),
        Seq("id_a"))
      .join(side(candDocs.select(col("id").as("id_b"), col("shs").as("shs_b"))),
        Seq("id_b"))
      .filter(jac(col("shs_a"), col("shs_b")) >= threshold)
      .select("id_a", "id_b")
  }

  /** Kept delta ids under seen-corpus semantics: connected components
    * over the delta-touching pairs; a component containing ANY seen
    * (non-delta) id drops all its delta members, an all-new component
    * keeps its min-id delta member. Deterministic and independent of
    * partitioning (CC is label-propagation to the component min).
    */
  def survivors(delta: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id")(implicit scope: Scope): DataFrame = {
    val deltaIds = delta.select(col(idCol).cast("long").as("id"))
    // CC runs over the DUP GRAPH only (Canonicalize.pairComponents):
    // the pairs subplan (LSH + exact verify — the expensive stage) feeds
    // both the node set and the edge list, so it is materialized once
    // and released before returning (the returned frame references only
    // the materialized CC labels, never `pairs`)
    val labels = Canonicalize.pairComponents(
      pairs.select(col("id_a").as("cid_a"), col("id_b").as("cid_b")))
    // deltas with no pair at all are kept unconditionally; the CC node
    // set IS the pair-id set, so the materialized labels serve as the
    // anti-join side
    val untouched = deltaIds
      .join(labels.select(col("cid").as("id")), Seq("id"), "left_anti")
      .select(col("id").as(idCol))
    val flagged = labels
      .join(deltaIds.select(col("id").as("cid"), lit(true).as("is_delta")),
        Seq("cid"), "left_outer")
      .withColumn("is_delta", coalesce(col("is_delta"), lit(false)))
    val perComp = flagged.groupBy("cluster_id")
      .agg(max(when(!col("is_delta"), 1).otherwise(0)).as("has_seen"),
        min(when(col("is_delta"), col("cid"))).as("min_delta"))
    val keptFromComps = flagged.filter(col("is_delta"))
      .join(perComp, Seq("cluster_id"))
      .filter(col("has_seen") === 0 && col("cid") === col("min_delta"))
      .select(col("cid").as(idCol))
    untouched.unionByName(keptFromComps)
  }

  /** Post-crawl index state: bands and counts of ALL delta documents
    * (kept and dropped — "seen" semantics) merged in. In-memory form;
    * at rest this is an MoR append of the delta's band files + count
    * sidecar with compaction on the `Materialize` schedule, never a
    * rewrite of the O(corpus) index.
    */
  def updatedIndex(indexBands: DataFrame, indexCounts: DataFrame,
      deltaBands: DataFrame): (DataFrame, DataFrame) = {
    val nb = indexBands.unionByName(deltaBands)
    val nc = indexCounts.unionByName(bucketCounts(deltaBands))
      .groupBy("band", "bh").agg(sum("n").as("n"))
    (nb, nc)
  }
}
