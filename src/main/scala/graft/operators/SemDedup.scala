package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
  * deduplication by k-means clustering + within-cluster cosine pruning —
  * the CLUSTER-SCOPED member of the embedding-dedup family, next to the
  * sign-LSH blocking of `Dedup.embeddingPairs`. LSH finds pairs whose
  * random projections collide; SemDeDup instead trains a coarse
  * quantizer (the SAME deterministic Lloyd trainer the IVF ANN path
  * uses — `Similarity.ivfCentroidsTrained`), assigns every vector to
  * its nearest centroid, and verifies exact cosine only WITHIN a
  * cluster. Near-dup groups (connected components of the pair graph)
  * keep exactly one member: the paper's rule keeps the example with the
  * LOWEST cosine to its cluster centroid (preserving atypical examples);
  * ties break on id ascending, so the survivor set is deterministic.
  *
  * Scale discipline:
  *  - centroids are nlist-bounded and broadcast (the IVF contract);
  *    assignment + centroid-cosine is a ZERO-EXCHANGE projection;
  *  - the quadratic term is bounded per cluster: vectors ride exactly
  *    ONE exchange (the cell aggregation), and pair generation is
  *    in-row over the sorted member list — nlist is the dial that
  *    bounds EXPECTED cluster size (paper uses ~sqrt(N) clusters),
  *    and a HUB cell (every embedding of a template page family
  *    landing in one Voronoi cell) is capped by `maxCellSize` in
  *    three deterministic steps (see `pairsFromAssigned`):
  *    exact-vector groups collapse to one representative first (the
  *    bit-identical hub no quantizer can separate — within-group
  *    pairs are emitted by construction through a distributed
  *    self-join), the representatives RE-QUANTIZE one level down with
  *    a second-level Lloyd (the same deterministic
  *    `Similarity.ivfCentroidsTrained`), and any rep group Lloyd
  *    still cannot split re-scatters by hashed id — so no single
  *    task ever collects a hub into one row, now including the
  *    degenerate identical-vector case. Cell sizes are an
  *    nlist-bounded collect; the driver loop trains one small Lloyd
  *    per oversize cell (at most N/maxCellSize of them). Like the
  *    coarse level itself, subcell scoping is the method's disclosed
  *    approximation: a near-dup pair split across subcells is missed,
  *    exactly as one split across coarse cells already is;
  *  - the component/survivor stage runs over the PAIR table (near-dup
  *    density-bounded, far smaller than the corpus) via the same
  *    join-based convergence-guarded connected components the entity
  *    canonicalization uses (`Canonicalize.connectedComponents`).
  *
  * Determinism/oracle contract: assignment cosine uses float products
  * accumulated into doubles in ascending dim order (exactly
  * `Similarity.nearestCells`'s loop, replayed bit-exactly in SQL by the
  * IVF-cells oracle technique), so `cent_cos` hash-matches in DuckDB;
  * the pair threshold compare replays with the same spelled arithmetic.
  */
object SemDedup {

  /** Default cosine threshold above which two same-cluster documents
    * count as semantic duplicates (paper operating range 0.9-0.95 for
    * web text).
    */
  val DefaultThreshold: Double = 0.95

  /** Default hub-cell cap: cells above this member count re-quantize
    * one level down before pairing (4096² in-row cosines ≈ the upper
    * end of a healthy task; far above any cell a well-sized nlist
    * produces, so the common case never pays the subdivision pass).
    */
  val DefaultMaxCellSize: Int = 4096

  /** The engine-wide exact cosine (see `Similarity.cosExact` — the one
    * implementation both oracle families replay).
    */
  private[graft] def cosF(a: Seq[Float], b: Seq[Float]): Double =
    Similarity.cosExact(a, b)

  /** (id, cell, cent_cos): nearest-centroid assignment plus the exact
    * cosine to that centroid (the keep-rule key), in ONE zero-exchange
    * projection over the broadcast centroids. Tie-break on (-cos, cell)
    * — identical to `Similarity.nearestCells`.
    */
  def assignCos(
      corpus: DataFrame, cents: Array[(Int, Array[Float])],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    assignedVectors(corpus, cents, idCol, vecCol)
      .select(col("id"), col("cell"), col("cent_cos"))

  /** Within-cluster near-dup pairs (cell, a, b) with a < b and exact
    * cosine >= threshold. One wide exchange: the per-(cell, subcell)
    * member aggregation; pairing is in-row over the id-sorted member
    * list, so the output is partition-invariant. Hub cells above
    * `maxCellSize` re-quantize one level down first (class doc) — the
    * size probe is one count action over the assignment projection.
    */
  def pairs(
      corpus: DataFrame, cents: Array[(Int, Array[Float])],
      threshold: Double = DefaultThreshold,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellSize: Int = DefaultMaxCellSize)(implicit scope: Scope): DataFrame =
    pairsFromAssigned(scope.persist(assignedVectors(corpus, cents, idCol, vecCol)),
      threshold, maxCellSize)

  /** (id, cell, cent_cos, v): the one corpus projection every SemDeDup
    * stage reads — assignment, keep-rule key, and the vector payload in
    * a single pass (no join back onto the corpus: the udf emits cell
    * and cosine next to the vector it scored).
    */
  private def assignedVectors(
      corpus: DataFrame, cents: Array[(Int, Array[Float])],
      idCol: String, vecCol: String): DataFrame = {
    val bc = corpus.sparkSession.sparkContext.broadcast(cents)
    val f = udf { (v: Seq[Float]) =>
      // same scoring + (-cos, cell) tie-break as Similarity.nearestCells
      Similarity.cellCosines(v, bc.value)
        .minBy { case (cell, cos) => (-cos, cell) }
    }
    corpus.select(col(idCol).cast("long").as("id"),
        col(vecCol).as("v"), f(col(vecCol)).as("ac"))
      .select(col("id"), col("ac._1").as("cell"),
        col("ac._2").as("cent_cos"), col("v"))
  }

  /** The assignment projection extended with `scell`: 0 everywhere
    * when no cell exceeds the cap (the fast path adds a literal
    * column, no pass); otherwise oversize cells get a second-level
    * Lloyd subcell id — deterministic (the trainer is, and the
    * assignment replays `Similarity.nearestCells`'s (-cos, cell)
    * tie-break on the sub-centroids).
    */
  private[graft] def withSubcells(
      assigned: DataFrame, maxCellSize: Int): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect() // nlist-bounded by construction
    val oversize = sizes.filter(_._2 > maxCellSize).sortBy(_._1)
    if (oversize.isEmpty) assigned.withColumn("scell", lit(0))
    else {
      val subCents: Map[Int, Array[(Int, Array[Float])]] =
        oversize.map { case (c, n) =>
          val k2 = math.max(2, math.ceil(n.toDouble / maxCellSize).toInt)
          c -> Similarity.ivfCentroidsTrained(
            assigned.filter(col("cell") === c), k2,
            idCol = "id", vecCol = "v")
        }.toMap
      val bc = spark.sparkContext.broadcast(subCents)
      val f = udf { (cell: Int, v: Seq[Float]) =>
        bc.value.get(cell) match {
          case Some(cs) => Similarity.cellCosines(v, cs)
            .minBy { case (sc, cos) => (-cos, sc) }._1
          case None => 0
        }
      }
      assigned.withColumn("scell", f(col("cell"), col("v")))
    }
  }

  /** In-row pairing over (id, cell, scell, v) rows: one wide exchange
    * (the per-(cell, subcell) member aggregation), pair generation over
    * the id-sorted member list — partition-invariant.
    */
  private def pairsWithin(rows: DataFrame, threshold: Double): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows
      .select(col("id"), col("cell"), col("scell"), col("v"))
      .groupBy(col("cell"), col("scell"))
      .agg(collect_list(struct(col("id").as("_1"), col("v").as("_2"))).as("ms"))
      .select(col("cell").as("_1"), col("ms").as("_2"))
      .as[(Int, Seq[(Long, Seq[Float])])]
      .flatMap { case (cell, ms0) =>
        val ms = ms0.sortBy(_._1).toArray
        for {
          i <- ms.indices.iterator
          j <- (i + 1) until ms.length
          if cosF(ms(i)._2, ms(j)._2) >= threshold
        } yield (cell, ms(i)._1, ms(j)._1)
      }
      .toDF("cell", "a", "b")
  }

  /** Pair build. Fast path (no cell above `maxCellSize` — the common
    * case under a well-sized nlist): exactly the historical shape, one
    * vector exchange, in-row pairing. Hub cells take the degenerate-
    * safe path:
    *
    *  1. EXACT-VECTOR PRE-COLLAPSE (r5 review watch #2): members of an
    *     oversize cell group by vector VALUE; each exact group keeps
    *     its min id as representative. The motivating hub — 10^6
    *     template pages sharing ONE embedding — collapses to a single
    *     rep before any quantized structure is built, so the
    *     second-level Lloyd (which cannot separate identical points)
    *     never sees it. Within-group pairs are emitted BY CONSTRUCTION
    *     (identical vectors are pairwise duplicates at any threshold
    *     their self-cosine clears — the same cosF predicate decides,
    *     so zero/NaN vectors behave exactly as in-row checks would),
    *     via a distributed self-join on the group id: no driver- or
    *     task-sized structure anywhere, though the OUTPUT is
    *     inherently quadratic in the group size (the operator's pair
    *     contract).
    *  2. Second-level Lloyd subdivision runs over the REPS
    *     ([[withSubcells]] unchanged — rep counts drive its oversize
    *     decision now).
    *  3. SALT GUARANTEE: if a rep (cell, scell) group still exceeds
    *     the cap (near-identical-but-distinct vectors defeat Lloyd the
    *     same way identical ones do), its reps re-scatter by
    *     pmod(xxhash64(id), ceil(n/cap)) — deterministic, partition-
    *     invariant, and hard-bounds the expected group size where the
    *     trained subdivision could not. Subcell scoping remains the
    *     method's disclosed approximation either way.
    *  4. Rep pairs expand back to member pairs through the (gid,
    *     member) table — cosines are equal across an exact group, so
    *     the expansion reproduces exactly the member-level pair set.
    *
    * Callers pass the assignment projection PERSISTED (it feeds the
    * size probe, the pair aggregation and — on the hub path — every
    * trainer pass); the hub path's exact-group cache registers into
    * `scope`.
    */
  private def pairsFromAssigned(
      assigned: DataFrame, threshold: Double,
      maxCellSize: Int)(implicit scope: Scope): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val sizes = assigned.groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .as[(Int, Long)].collect() // nlist-bounded by construction
    val oversize = sizes.filter(_._2 > maxCellSize).map(_._1).toSet
    if (oversize.isEmpty)
      return pairsWithin(assigned.withColumn("scell", lit(0)), threshold)
    val small = assigned
      .filter(!col("cell").isin(oversize.toSeq: _*))
      .withColumn("scell", lit(0))
    val big = assigned.filter(col("cell").isin(oversize.toSeq: _*))
    // exact-vector groups of the oversize cells (identical vectors
    // share cell and cent_cos by determinism of the assignment)
    val groups = scope.persist(big.groupBy(col("cell"), col("v"))
      .agg(min(col("id")).as("gid"), collect_list(col("id")).as("members")))
    val reps = groups.select(col("gid").as("id"), col("cell"), col("v"))
    val repsSub = withSubcells(reps, maxCellSize)
    // salt guarantee over still-oversize rep groups (bounded probe:
    // one row per (cell, scell) group)
    val repSizes = repsSub.groupBy(col("cell"), col("scell"))
      .agg(count(lit(1)).as("n")).as[(Int, Int, Long)].collect()
    val stillOver = repSizes.filter(_._3 > maxCellSize)
    val repsFinal =
      if (stillOver.isEmpty) repsSub
      else {
        val maxScell = repSizes.map(_._2).max
        var offset = maxScell + 1
        val salted = stillOver.sortBy(g => (g._1, g._2)).foldLeft(col("scell")) {
          case (acc, (c, sc, n)) =>
            val k = math.max(2, math.ceil(n.toDouble / maxCellSize).toInt)
            val e = when(col("cell") === c && col("scell") === sc,
              lit(offset) + pmod(xxhash64(col("id")), lit(k.toLong)).cast("int"))
              .otherwise(acc)
            offset += k
            e
        }
        repsSub.withColumn("scell", salted)
      }
    val repPairs = pairsWithin(repsFinal, threshold)
    val memberOf = groups
      .select(col("cell"), col("gid"), explode(col("members")).as("mid"))
    // within-group pairs by construction, gated by the group's own
    // self-cosine against the SAME predicate the in-row check applies
    val selfOk = udf((v: Seq[Float]) => cosF(v, v) >= threshold)
    val withinOk = groups.filter(selfOk(col("v")))
      .select(col("cell"), col("gid"))
    val within = memberOf.join(withinOk, Seq("cell", "gid"))
      .select(col("cell"), col("gid"), col("mid").as("ma"))
      .join(memberOf.select(col("cell"), col("gid"), col("mid").as("mb")),
        Seq("cell", "gid"))
      .filter(col("ma") < col("mb"))
      .select(col("cell"), col("ma").as("a"), col("mb").as("b"))
    // cross-group expansion of the rep pairs
    val cross = repPairs
      .join(memberOf.select(col("cell"), col("gid").as("a"), col("mid").as("ma")),
        Seq("cell", "a"))
      .join(memberOf.select(col("cell"), col("gid").as("b"), col("mid").as("mb")),
        Seq("cell", "b"))
      .select(col("cell"), least(col("ma"), col("mb")).as("a"),
        greatest(col("ma"), col("mb")).as("b"))
    pairsWithin(small, threshold)
      .unionByName(within)
      .unionByName(cross)
  }

  /** Survivor ids after semantic dedup: every near-dup component
    * (connected components over `pairs`) keeps ONLY the member with the
    * lowest (cent_cos, id); documents in no pair survive untouched.
    * ONE corpus pass: the shared assigned projection persists into
    * `scope` and feeds the pair build, the keep-rule join, and the
    * survivor anti-join; the pairs become a `scope` leaf (CC, keeper
    * and anti-join all read it), and the pair-build intermediates (hub
    * path's exact-group cache) release as soon as the pairs are
    * materialized.
    */
  def survivors(
      corpus: DataFrame, cents: Array[(Int, Array[Float])],
      threshold: Double = DefaultThreshold,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxCellSize: Int = DefaultMaxCellSize)(implicit scope: Scope): DataFrame = {
    val assigned = scope.persist(assignedVectors(corpus, cents, idCol, vecCol))
    val (p, _) = Scope(corpus.sparkSession) { build =>
      scope.leaf(pairsFromAssigned(assigned, threshold, maxCellSize)(build))
    }
    val members = p.select(col("a").as("cid"))
      .union(p.select(col("b").as("cid"))).distinct()
    val cc = Canonicalize.connectedComponents(
      members, p.select(col("a").as("cid_a"), col("b").as("cid_b")),
      nodesArePairEndpoints = true)
    val withKey = cc.join(
      assigned.select(col("id"), col("cent_cos")),
      cc("cid") === col("id"))
    // min(struct) orders lexicographically: lowest cent_cos, then id
    val keepers = withKey.groupBy(col("cluster_id"))
      .agg(min(struct(col("cent_cos"), col("cid"))).as("k"))
      .select(col("k.cid").as("keep_id"))
    val dropped = members
      .join(keepers, members("cid") === keepers("keep_id"), "left_anti")
    assigned.select(col("id"))
      .join(dropped, col("id") === dropped("cid"), "left_anti")
  }
}
