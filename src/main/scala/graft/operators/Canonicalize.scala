package graft.operators

import graft.functions.Normalize
import graft.model.{CanonicalEntity, ChemDictEntry}
import graft.plans.Scope
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** J5: entity canonicalization — min-hash blocking on name n-grams,
  * Jaccard verification and connected components (GraphFrames-free,
  * per the north star).
  *
  * Reference analog: all PubChem synonyms of a compound key to one CID
  * (cprex/pubchem/linker.py:49-53) — i.e. same-CID names are one entity.
  * At web scale the dictionary itself contains near-duplicate entries
  * (split CIDs); we merge them: two dict entries are candidates when a
  * min-hash band over their name 3-gram shingles collides, verified by
  * actual Jaccard >= threshold, then CC merges transitively.
  *
  * The dictionary is a driver array (`ChemDict.entries`), so its
  * blocking ([[candidatePairs]]), verification and union-find run on
  * the driver, and the blocking dumps ([[bandedNames]], [[canonNames]],
  * [[shingleHashes]]) are local relations built there:
  *  - blocking: each name emits `Bands` (band, hash) keys and names
  *    pair only within a bucket (the classic LSH trick: candidate volume
  *    is O(sum of bucket²), not O(n²));
  *  - oversized buckets (degenerate bands — e.g. thousands of "...acid"
  *    names) are CAPPED: buckets above `MaxBucket` are dropped, a
  *    deliberate recall/cost trade.
  * The distributed blocking plan is kept as a reference in
  * CanonicalizeSpec. [[connectedComponents]] and [[pairComponents]]
  * label distributed pair graphs (the dedup operators' near-duplicate
  * graphs): iterative min-label propagation with pointer jumping over
  * scope leaves, or a driver union-find when the edges fit
  * (SURVEY.md §4.2).
  */
object Canonicalize {

  val JaccardThreshold = 0.6
  // second verification signal: token-set Jaccard — blocks char-level
  // near-dups that are chemically distinct words ("ethanol"/"methanol"
  // share 5 of 6 char-3-grams but zero tokens)
  val TokenJaccardThreshold = 0.5
  val MinhashK = 8
  // 8 bands × 1 row: candidate-pair miss probability for a true pair at
  // jaccard j is (1-j)^8 (≤ 6.6e-4 at the 0.6 threshold). One-row bands
  // produce more candidates than multi-row bands, but every candidate is
  // verified by exact Jaccard and oversized buckets are capped, so the
  // extra volume is bounded.
  val Bands = 8

  /** (cid, chemNorm'd canonical name) of every entry. */
  private def names(dict: Array[ChemDictEntry]): Seq[(Long, String)] =
    dict.toSeq.map(e => (e.cid, Normalize.chemNorm(e.canonicalName)))

  /** (band, band_hash, cid, name) LSH blocking rows of every entry. */
  private def banded(dict: Array[ChemDictEntry]): Seq[(Int, Int, Long, String)] =
    names(dict).flatMap { case (cid, name) =>
      bandKeys(name).map { case (b, h) => (b, h, cid, name) }
    }

  /** Distinct (shingle, lane, h) seeded-murmur values of the
    * name-blocking minhash — oracle INPUT: given these, the
    * kg_canon_bands oracle rebuilds every band row (char-3-gram
    * shingling, per-lane min, single-element Arrays.hashCode) in SQL.
    */
  def shingleHashes(spark: SparkSession, dict: Array[ChemDictEntry]): DataFrame = {
    import spark.implicits._
    names(dict).flatMap(n => Normalize.shingles(n._2)).distinct
      .flatMap(g => (0 until MinhashK).map(j =>
        (g, j, scala.util.hashing.MurmurHash3.stringHash(g, 1000 + j))))
      .toDF("shingle", "lane", "h")
  }

  /** (cid, chemNorm'd canonical name) — the name side of the blocking
    * input, dumped so the kg_canon_bands oracle can re-shingle and
    * re-minhash every name in SQL without re-deriving chemNorm (which
    * is engine arithmetic, same dump pattern as kg_mention_norms).
    */
  def canonNames(spark: SparkSession, dict: Array[ChemDictEntry]): DataFrame = {
    import spark.implicits._
    names(dict).toDF("cid", "name")
  }

  /** The (band, band_hash, cid, name) blocking rows — dumped so the
    * bucket/pair/Jaccard-verify logic is SQL-oracle-checkable.
    */
  def bandedNames(spark: SparkSession, dict: Array[ChemDictEntry]): DataFrame = {
    import spark.implicits._
    banded(dict).toDF("band", "band_hash", "cid", "name")
  }

  /** The blocking rule, as plain functions shared by [[candidatePairs]]
    * and the distributed reference plan in CanonicalizeSpec:
    *  - `bandKeys`: the `Bands` (band, band_hash) LSH keys of one
    *    chemNorm'd name;
    *  - `keepsBucket`: a bucket of `n` names is blocked on only when
    *    `1 < n <= MaxBucket` (larger ones are degenerate and dropped);
    *  - `similar`: both Jaccard verifications of a candidate pair.
    */
  def bandKeys(name: String): Seq[(Int, Int)] = {
    val mh = Normalize.minhash(Normalize.shingles(name), MinhashK)
    val rows = MinhashK / Bands
    (0 until Bands).map(b => (b, java.util.Arrays.hashCode(mh.slice(b * rows, (b + 1) * rows))))
  }

  val MaxBucket = 64

  def keepsBucket(n: Long): Boolean = n > 1 && n <= MaxBucket

  def similar(x: String, y: String): Boolean =
    Normalize.jaccard(Normalize.shingles(x), Normalize.shingles(y)) >= JaccardThreshold &&
      Normalize.jaccard(x.split(' ').toSet, y.split(' ').toSet) >= TokenJaccardThreshold

  /** Candidate same-entity pairs (cidA < cidB), distinct, from LSH
    * blocking + Jaccard verification on the driver: the edge list of
    * [[entityTable]] and the kg_canon_pairs dump.
    */
  def candidatePairs(dict: Array[ChemDictEntry]): Seq[(Long, Long)] =
    banded(dict).groupMap(r => (r._1, r._2))(r => (r._3, r._4)).valuesIterator
      .filter(m => keepsBucket(m.size))
      .flatMap(m => for ((ca, na) <- m; (cb, nb) <- m if ca < cb && similar(na, nb))
        yield (ca, cb))
      .toSeq.distinct

  /** Connected components of the pair graph: (cid, cluster_id = min
    * cid of its component) for every node.
    *
    * Small graphs (the usual output of pair verification) take the
    * driver branch: the edge list comes back through
    * [[Scope.collectWithin]] and a union-find labels it, skipping the
    * distributed loop's per-iteration cost (~2s for a 200-edge graph at
    * local[32]). The NODE set is never collected: it can be O(dict) even
    * when edges are few. Larger graphs run
    * [[connectedComponentsDistributed]]. An edge is priced at 32 B (two
    * longs, held as a boxed `Row`), so the budget keeps about 1M edges.
    *
    * Contract notes shared by both branches:
    *  - `nodes` must cover every pair endpoint (all in-tree callers
    *    derive nodes FROM pairs, so this holds by construction); the
    *    driver branch require-fails on a violation, because the two
    *    branches would otherwise disagree on edges bridging through a
    *    missing node (the distributed joins drop them silently).
    *  - Callers should persist (and materialize) `pairs` before the
    *    call: the bounded collect plus, above the budget, the
    *    distributed loop evaluate it more than once, and every in-tree
    *    caller already passes a persisted leaf-cut frame. The collect
    *    reads `pairs` as one partition (one job; its task reads at most
    *    the budget's rows from the cache).
    *  - `nodesArePairEndpoints = true` asserts nodes == the exact pair
    *    endpoint set (what all in-tree callers construct). The driver
    *    branch then RETURNS THE LOCAL LABEL MAP directly as a
    *    driver-built DataFrame — the coverage-guard job, the node
    *    resolution join and the materializing job all collapse away
    *    (4 jobs → 1 collect). Output rows are identical by
    *    construction: every endpoint appears in the union-find label
    *    map, and there are no non-endpoint nodes to backfill. A pair
    *    with a null endpoint breaks that equality (its non-null end
    *    would have no label row), so this form require-fails on one.
    *  - The returned labels are materialized: a driver-built frame, or
    *    a leaf registered in `scope`, so callers may release their pair
    *    caches right after the call.
    */
  def connectedComponents(nodes: DataFrame, pairs: DataFrame, maxIter: Int = 40,
      nodesArePairEndpoints: Boolean = false)(implicit scope: Scope): DataFrame =
    Scope.collectWithin(pairs.coalesce(1)
      .select(col("cid_a").cast("long"), col("cid_b").cast("long")), 32L) match {
      case Some(rows) => connectedComponentsDriver(nodes, rows, nodesArePairEndpoints)
      case None => connectedComponentsDistributed(nodes, pairs, maxIter)
    }

  /** The distributed branch of [[connectedComponents]]: min-label
    * propagation WITH pointer jumping. Each iteration does two monotone
    * steps:
    *
    *  1. neighbor-min: label(v) := min(label(v), min over neighbors'
    *     labels) — the classic propagation, O(diameter) alone;
    *  2. pointer jump: label(v) := min(label(v), label(label(v))) —
    *     every label is itself a node id of the same component, so
    *     chasing one hop of the label "pointer graph" halves chain
    *     depth, giving O(log diameter) convergence overall (a
    *     3000-link synonym chain converges in ~12 rounds, not 3000).
    *
    * Invariants: label(v) is always (a) a node id of v's component and
    * (b) <= v; both steps only decrease labels, so the loop converges,
    * and at fixpoint labels are constant per component and equal to the
    * component min. `maxIter` is a SAFETY VALVE, not a truncation
    * point: if the loop exits with changes still pending the result
    * would be silently wrong cluster ids, so it `require`-fails loudly
    * instead (a diameter needing > 2^40 jumps does not exist).
    * Returns (cid, cluster_id = min cid of component).
    */
  private[graft] def connectedComponentsDistributed(nodes: DataFrame, pairs: DataFrame,
      maxIter: Int = 40)(implicit scope: Scope): DataFrame = {
    val spark = nodes.sparkSession
    // every iteration plans over scope leaves (Scope.leaf): a cached
    // frame keeps its full ANALYZED lineage, and every iteration's
    // action would re-run analysis over that subtree on the driver —
    // with an expensive upstream (the LSH + verify chain feeding
    // IncrDedup.survivors) the re-planning alone dominated the loop
    // (measured 12.2s vs 2.0s for an identical 198-edge graph from leaf
    // inputs at sf0.1). Leaves keep lineage-based recompute (an
    // executor loss re-derives blocks; a localCheckpoint would abort).
    // The edge list and each iteration's labels live in nested scopes
    // released as the loop moves on (the finally also covers a failed
    // convergence require, so a caller retrying with a higher maxIter
    // accumulates no cache); only the final labels go to `scope`.
    // undirected edge list, both directions
    val edgeScope = new Scope(spark)
    var held = new Scope(spark)
    try {
    val (edges, _) = edgeScope.leaf(
      pairs.select(col("cid_a").as("src"), col("cid_b").as("dst"))
        .union(pairs.select(col("cid_b").as("src"), col("cid_a").as("dst"))))
    var labels = held.leaf(nodes.select(col("cid"), col("cid").as("cluster_id")))._1
    var changedCount = 1L
    var iter = 0
    while (changedCount > 0 && iter < maxIter) {
      val candidate = edges
        .join(labels, edges("dst") === labels("cid"))
        .groupBy(col("src").as("cid0"))
        .agg(min("cluster_id").as("nbr_min"))
      val viaNbr = labels
        .join(candidate, labels("cid") === candidate("cid0"), "left_outer")
        .select(col("cid"), col("cluster_id").as("old_label"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id")))
            .as("mid_label"))
      // pointer jump: look up the label of the label (every label IS a
      // node id, so the self-join is total; left_outer + coalesce is
      // belt-and-braces)
      val ptr = viaNbr.select(col("cid").as("jcid"), col("mid_label").as("jlabel"))
      val updated = viaNbr
        .join(ptr, viaNbr("mid_label") === ptr("jcid"), "left_outer")
        .select(viaNbr("cid"),
          least(col("mid_label"), coalesce(col("jlabel"), col("mid_label")))
            .as("cluster_id"),
          (least(col("mid_label"), coalesce(col("jlabel"), col("mid_label")))
            < col("old_label")).as("changed"))
      // the previous labels release once this round is materialized
      val prev = held
      held = new Scope(spark)
      val (u, _) = try held.leaf(updated) finally prev.close()
      changedCount = u.filter(col("changed")).count()
      labels = u.select("cid", "cluster_id")
      iter += 1
    }
    require(changedCount == 0,
      s"connectedComponents did not converge within $maxIter iterations " +
        s"($changedCount labels still changing) — result would be silently " +
        "wrong cluster ids; raise maxIter")
    // the returned labels outlive the nested scopes
    scope.leaf(labels)._1
    } finally {
      held.close()
      edgeScope.close()
    }
  }

  /** Min-label union-find over an edge list: (endpoint, component
    * minimum) for every endpoint. Union always keeps the smaller root,
    * so each tree's root is its component minimum by induction, and
    * `find` is order-independent — the same labels for any edge order.
    */
  def unionFind(edges: Iterable[(Long, Long)]): scala.collection.Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) {
        val gp = parent.getOrElse(p, p)
        parent(x) = gp // path halving
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    val ids = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    scala.collection.mutable.LongMap.from(ids.iterator.map(id => (id, find(id))))
  }

  /** The small-graph CC path: [[unionFind]] over the collected edge
    * rows on the driver, then resolve EVERY node's label with
    * one broadcast left join (nodes stay distributed — only the
    * ≤ 2·|edges| component map rides the broadcast). Same fixpoint as
    * the distributed loop, and bit-identical labels for any edge
    * arrival order or partitioning. Returned labels are materialized
    * like the loop's, so callers release their pair caches right after.
    */
  private def connectedComponentsDriver(nodes: DataFrame, rows: Array[Row],
      nodesArePairEndpoints: Boolean)(implicit scope: Scope): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    // null endpoints: the distributed equi-joins drop such edges
    // silently, and the node join below backfills their nodes; the
    // endpoint-node form has no node join, so there a dropped edge
    // would silently drop its non-null endpoint from the output
    val edges = rows.collect {
      case r if !r.isNullAt(0) && !r.isNullAt(1) => (r.getLong(0), r.getLong(1))
    }
    require(!nodesArePairEndpoints || edges.length == rows.length,
      s"connectedComponents: ${rows.length - edges.length} pair(s) with a null " +
        "endpoint — nodesArePairEndpoints would lose their nodes; filter them " +
        "or pass the node set")
    val labelMap = unionFind(edges).toSeq
    // endpoint-node callers: the label map IS the answer — nodes ==
    // endpoints means no backfill rows exist and nothing distributed
    // remains to resolve, so skip the guard job, the node join and the
    // materializing job entirely (lineage is already action-free)
    if (nodesArePairEndpoints)
      return labelMap.toDF("cid", "cluster_id")
    val labels = labelMap.toDF("k", "v")
    // precondition guard (see connectedComponents doc): an endpoint the
    // node set does not cover would make this branch bridge components
    // the distributed joins would drop — fail loudly instead
    val uncovered = labels
      .join(nodes.select(col("cid").cast("long").as("k")), Seq("k"), "left_anti")
      .count()
    require(uncovered == 0,
      s"connectedComponents: $uncovered pair endpoint(s) missing from the " +
        "node set — nodes must cover every pair endpoint")
    val out = nodes
      .join(broadcast(labels), nodes("cid").cast("long") === col("k"), "left")
      .select(col("cid"),
        coalesce(col("v"), col("cid").cast("long")).as("cluster_id"))
    scope.leaf(out)._1
  }

  /** Connected components of a pair graph (cid_a, cid_b) over its
    * PAIR-TOUCHED ids only: an id no pair touches is trivially its own
    * cluster, so routing a full node set through the label iterations
    * would put O(all ids) rows into every round for a merge set that
    * is O(pairs). Returns (cid, cluster_id) for the pair endpoints; the
    * caller backfills untouched ids with cluster_id = cid.
    *
    * The pairs are materialized once as a leaf in a nested scope (CC
    * reads them from several subtrees, and the producer is typically
    * the deep LSH + verify chain) and released as soon as the labels
    * exist; the endpoint-node form collapses the driver branch to one
    * collect.
    */
  def pairComponents(pairs: DataFrame)(implicit scope: Scope): DataFrame =
    Scope(pairs.sparkSession) { pairScope =>
      val (pl, _) = pairScope.leaf(pairs)
      val touched = pl.select(col("cid_a").as("cid"))
        .union(pl.select(col("cid_b").as("cid"))).distinct()
      connectedComponents(touched, pl, nodesArePairEndpoints = true)
    }

  /** Full canonicalization: dict → clustered entity table (clusterId =
    * the minimum cid of the entry's component; an entry in no candidate
    * pair is its own cluster). The dictionary is a driver array, so the
    * union-find over [[candidatePairs]] runs on the driver too (the
    * broadcast-small-side choice SparkER makes for blocking indexes):
    * no job until the caller's action, which reads one local relation.
    */
  def entityTable(spark: SparkSession, dict: Array[ChemDictEntry]): Dataset[CanonicalEntity] = {
    import spark.implicits._
    val labels = unionFind(candidatePairs(dict))
    spark.createDataset(dict.toIndexedSeq.map(e => CanonicalEntity(
      labels.getOrElse(e.cid, e.cid), e.cid, e.canonicalName, e.synonyms,
      e.molecularFormula, e.molecularWeight)))
  }
}
