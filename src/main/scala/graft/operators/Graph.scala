package graft.operators

import graft.plans.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph analytics over the materialized knowledge graph — the
  * downstream consumer of the (chemical, property, value) triples the
  * pipeline emits (reference: the KG the corpus feeds, cprex's triples
  * are rendered/exported but never analyzed — this is the analytics
  * layer a production KG build runs right after materialize).
  *
  * Graph model: an undirected bipartite co-occurrence graph, stored as
  * directed arcs both ways.
  *
  *   - chem node  = the linked PubChem-style `cid` (a positive long);
  *   - prop node  = `-rank` of the property type (negative longs, so
  *     the two id spaces cannot collide; the property vocabulary is
  *     the bounded ruler vocab, so the rank window runs over a
  *     group-by-reduced input of at most |vocab| rows);
  *   - arc (c, p) with weight `support` = the number of distinct
  *     extraction tuples — (url, sentId, valueLabel, valueText, unit)
  *     — in which a mention linked to cid `c` heads the same measured
  *     value as a property mention of type `p`.
  *
  * Scale discipline: every exchange carries long/int keys only — the
  * arcs are (long, long, long) rows, node labels are attached by a
  * bounded-vocabulary join only at the human-readable edge of the
  * dataflow. PageRank is join-based power iteration in FIXED-POINT
  * integer arithmetic: prq is pr scaled by 2^32 and every per-arc
  * contribution is an integer floor-division, so the per-node inflow
  * is a sum of LONGS — associative, map-side-combinable, and therefore
  * bit-identical at any parallelism AND replayable in DuckDB SQL (the
  * same reason the LM/NB/DSIR scorers quantize their log-probs). A
  * float PageRank would make the result depend on the shuffle's
  * reduction order.
  */
object Graph {

  /** pr fixed-point scale: prq = round-down fixed-point of pr * 2^32. */
  val PrScale: Long = 1L << 32

  /** Damping factor as an exact rational (DampNum / 100). */
  val DampNum: Long = 85L

  /** Default power iterations — fixed, part of the operator's
    * deterministic contract (an epsilon-stop would make the iteration
    * count data-dependent and the oracle unreproducible).
    */
  val DefaultIters: Int = 5

  /** relatedChems defaults — shared with the DuckDB oracle SQL (which
    * interpolates them) so engine and oracle can never drift apart.
    */
  val DefaultRelQueries: Int = 10
  val DefaultRelK: Int = 5

  /** Largest per-chem total support for which the weighted-Jaccard
    * ordering is replayable: den = tot_q + tot_c − num ≤ 2·maxTot must
    * stay ≤ 2^53 so the one IEEE division sees exactly-representable
    * integers on both engines.
    */
  val MaxExactTot: Long = 1L << 52

  /** Property-type node ids: (prop_type, node) with node = -1, -2, …
    * by ascending prop_type. The window runs AFTER a distinct() that
    * reduces the input to the bounded property vocabulary, so the
    * single-partition rank stage is |vocab|-sized, not corpus-sized.
    */
  def propNodes(linked: DataFrame): DataFrame = {
    val distinctProps = linked
      .filter(col("propType") =!= "")
      .select(col("propType").as("prop_type")).distinct()
    distinctProps.withColumn(
      "node", -row_number().over(Window.orderBy("prop_type")).cast("long"))
  }

  /** Tuple identity: the columns that pin one extracted (value) tuple
    * inside one sentence, folded to a 64-bit fingerprint so the tuple
    * join and both distincts exchange ONLY long columns (no url/span
    * text in any shuffle — the line-dedup discipline; a fingerprint
    * collision merges two tuples, the same accepted 2^-64-per-pair
    * trade as `Lines`). `value` (a double that can be NaN) is
    * deliberately excluded — valueText/unit carry the same identity
    * textually and NaN-in-join-key semantics differ across engines.
    *
    * The key is HEX-ENCODED before fingerprinting: `fingerprint64`
    * case-folds and squashes whitespace (right for content dedup,
    * wrong for an identity key — "mPa" and "MPa" are different units),
    * and lowercasing a hex string is injective, so the encoding makes
    * the normalization a no-op without a second hash implementation.
    */
  private def tupleKey: org.apache.spark.sql.Column =
    graft.functions.GraftFunctions.fingerprint64(hex(concat_ws("\u0001",
      col("url"), col("sentId"), col("valueLabel"), col("valueText"), col("unit"))))

  /** Support-weighted arcs of the chem↔prop co-occurrence graph, both
    * directions. Input is the linked triple table
    * (`Linking.linkTriplesFused` output): CHEM-headed rows carry `cid`,
    * PROP/FORMULA-headed rows carry `propType`; rows of the same tuple
    * pair up. Only (long, long, long) rows survive past the tuple join.
    *
    * The linked table feeds THREE consumers (prop-node ranks, the chem
    * side, the prop side) and the caller typically feeds the result to
    * `pageRank`, which scans the arc list again for out-weights — so
    * the compact (tkey, cid, propType, headLabel) projection, never
    * full linked rows, becomes a scope leaf: materialized eagerly (a
    * lazy persist races the consumers' scans into concurrent full
    * upstream recomputes before any block is cached) and lineage-cut
    * (`linked` embeds the whole annotate+linking chain, and each
    * consumer's action would re-analyze it on the driver).
    */
  def propertyEdges(linked: DataFrame)(implicit scope: Scope): DataFrame = {
    val (compact, _) = scope.leaf(linked
      .filter((col("headLabel") === "CHEM" && col("cid").isNotNull) ||
        col("propType") =!= "")
      .select(tupleKey.as("tkey"), col("cid"), col("propType"), col("headLabel")))
    val pnodes = propNodes(compact.select(col("propType")))
    // ONE wide exchange: group the tuple's members by tkey and emit the
    // chem×prop pairs in-row (collect_set = the per-tuple DISTINCT; the
    // per-tuple sets are sentence-bounded). The naive formulation —
    // distinct chem side, distinct prop side, tkey equi-join — exchanges
    // the same tuple-keyed rows THREE times.
    val pairs = compact
      .groupBy(col("tkey"))
      .agg(
        collect_set(when(col("headLabel") === "CHEM", col("cid"))).as("cids"),
        collect_set(when(col("propType") =!= "", col("propType"))).as("pts"))
      .select(explode(col("cids")).as("cid"), col("pts"))
      .select(col("cid"), explode(col("pts")).as("prop_type"))
      .groupBy(col("cid"), col("prop_type"))
      .agg(count(lit(1)).as("support"))
      .join(broadcast(pnodes), Seq("prop_type"))
      .select(col("cid"), col("node"), col("support"))
    pairs
      .select(col("cid").as("src"), col("node").as("dst"), col("support"))
      .union(pairs.select(col("node").as("src"), col("cid").as("dst"), col("support")))
  }

  /** Per-node degree stats over the arc list: arc count and total
    * support of outgoing arcs (the graph is symmetric, so in == out).
    * One map-side-combined hash aggregation.
    */
  def degrees(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("deg"), sum("support").as("wdeg"))

  /** Related chemicals by WEIGHTED JACCARD over property-support
    * profiles: sim(a, b) = Σ_p min(w_a(p), w_b(p)) / Σ_p max(w_a(p),
    * w_b(p)). The denominator never needs the per-property max walk —
    * Σ max = tot_a + tot_b − Σ min — so the whole similarity is two
    * integer sums, EXACT in 64-bit arithmetic, and the oracle
    * hash-matches bit-for-bit (the final sim ordering divides two
    * exact longs < 2^53: one correctly-rounded IEEE division on both
    * engines).
    *
    * Scale shape (the property vocabulary is bounded, so every chem
    * shares hub properties with every other — inverted-index pair
    * pruning degenerates; the honest path is query-driven): the
    * `nQueries` lowest cids form the query set; their arcs (≤
    * nQueries·|vocab| rows) BROADCAST against the corpus arc list, the
    * only wide exchange is the (query, candidate)-keyed partial-agg
    * sum, and per-query cost is one corpus-arc pass — the
    * bruteForceTopK contract applied to profile space.
    *
    * Returns (query_cid, rank, cand_cid, num, den), rank 1..k per
    * query by (sim desc, cand_cid asc); candidates sharing no
    * property (num = 0) are not candidates at all.
    */
  def relatedChems(edges: DataFrame,
      nQueries: Int = DefaultRelQueries, k: Int = DefaultRelK)
      (implicit scope: Scope): DataFrame =
    // `chems` feeds four consumers (tot, qarcs, num, and tot's three
    // join sites) — a scope leaf, the pageRank discipline: without the
    // cut the final plan embeds ~5 copies of the caller's whole
    // upstream arc-build tree (Catalyst re-analyzes each per action,
    // and the arc aggregation re-executes where exchange reuse does
    // not apply). Both caches live in a nested scope: the ≤
    // nQueries·k result rows are materialized into `scope` before they
    // release (also when the MaxExactTot require throws).
    Scope(edges.sparkSession) { local =>
      val (chems, _) = local.leaf(edges.filter(col("src") > 0)
        .select(col("src").as("cid"), col("dst").as("node"), col("support")))
      val tot = local.persist(chems.groupBy("cid").agg(sum("support").as("tot")))
      // bit-exact-replay guard (the pageRank require discipline): the sim
      // ordering divides two exact longs only while den = tot_q + tot_c −
      // num ≤ 2·maxTot stays ≤ 2^53 — beyond that the double cast rounds
      // and near-tie ranks become engine-dependent. Fail loudly instead.
      // This action also warms the tot cache before the multi-consumer
      // final job.
      val maxTotRow = tot.agg(max("tot")).head()
      val maxTot = if (maxTotRow.isNullAt(0)) 0L else maxTotRow.getLong(0)
      require(maxTot <= MaxExactTot,
        s"relatedChems exact-arithmetic bound exceeded: max per-chem total " +
          s"support $maxTot > 2^52 — num/den would round in the IEEE " +
          s"division and the rank ordering stops being replayable")
      val qids = tot.select("cid").orderBy("cid").limit(nQueries)
        .withColumnRenamed("cid", "qcid")
      val qarcs = chems.join(qids, col("cid") === col("qcid"))
        .select(col("qcid"), col("node"), col("support").as("wq"))
      val qtot = tot.join(qids, col("cid") === col("qcid"))
        .select(col("qcid"), col("tot").as("tot_q"))
      val num = chems.join(broadcast(qarcs), Seq("node"))
        .filter(col("cid") =!= col("qcid"))
        .groupBy(col("qcid"), col("cid"))
        .agg(sum(least(col("wq"), col("support"))).as("num"))
      val scored = num
        .join(tot, Seq("cid"))
        .join(broadcast(qtot), Seq("qcid"))
        .select(col("qcid").as("query_cid"), col("cid").as("cand_cid"),
          col("num"), (col("tot_q") + col("tot") - col("num")).as("den"))
      val w = Window.partitionBy("query_cid")
        .orderBy((col("num").cast("double") / col("den")).desc, col("cand_cid"))
      scope.leaf(scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_cid"), col("rank"), col("cand_cid"), col("num"),
          col("den")))._1
    }

  /** Support-weighted PageRank by fixed-point power iteration.
    *
    * Recurrence (all integer arithmetic, every division a positive
    * floor division):
    *
    *   prq_0(v)   = PrScale / N
    *   teleport   = ((100 - DampNum) * (PrScale / N)) / 100
    *   arc flow   = (DampNum * prq_i(u) * support(u,v)) / (100 * wout(u))
    *   prq_{i+1}(v) = teleport + Σ_{(u,v) ∈ arcs} flow(u → v)
    *
    * prq ≤ PrScale = 2^32 (total mass only shrinks under floors), so
    * the per-arc product needs support < 2^25 to stay inside a long —
    * ~33M co-occurrences of ONE (chem, prop) pair; beyond that, bump
    * PrScale down. Nodes are taken from the arc list and the arc list
    * is symmetric, so every node has out-arcs: no dangling-mass term.
    *
    * `edges` MUST be a symmetric arc list (both directions present, as
    * `propertyEdges` emits): nodes are taken from `src`, and symmetry
    * guarantees every node also appears as a `dst` group, so the
    * teleport base folds directly into the per-node aggregation — no
    * dangling-mass term and no per-iteration join back onto the node
    * set. (The DuckDB oracle replays the left-join formulation over
    * DISTINCT src, so a non-symmetric input would mismatch rather than
    * pass silently.)
    *
    * Per iteration: one long-keyed join (prq onto arcs, arcs carry
    * their wout from a one-time pre-join and stay persisted across all
    * iterations) + one long-sum aggregation. Iterations chain LAZILY —
    * the whole recurrence is one Catalyst plan evaluated at the
    * caller's action (5 iterations ≈ 10 plan nodes, well within
    * analyzer limits); `localCheckpoint` cuts lineage only every
    * `CheckpointEvery` rounds so deep iteration counts stay safe
    * without paying an eager materialization per round (measured 6.0s
    * → sub-second on a 153-node graph at local[32]: the per-round
    * checkpoint job dominated everything).
    *
    * Returns (node, prq, pr) where pr = prq / 2^32 exactly (a power-of-
    * two IEEE division — exact, so the double column is as replayable
    * as the integer one).
    *
    * Small graphs take the driver branch: the wout-joined arc list
    * (32 B per arc) comes back through [[Scope.collectWithin]] and the
    * same fixed-point integer recurrence runs in memory (long sums are
    * order-independent, so the result is BIT-IDENTICAL to the
    * distributed loop) instead of paying the loop's per-iteration fixed
    * cost (~0.66s/round of planning + job round trips for a 153-node
    * graph at local[32]). Larger graphs run [[pageRankDistributed]].
    */
  def pageRank(edges: DataFrame, iters: Int = DefaultIters)
      (implicit scope: Scope): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val arcs = woutArcs(edges)
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("support").cast("long"), col("wout").cast("long"))
      .as[(Long, Long, Long, Long)]
    Scope.collectWithin(arcs, 32L) match {
      case Some(small) => pageRankDriver(small, spark, iters)
      case None => pageRankDistributed(edges, iters)
    }
  }

  /** (src, dst, support, wout): every arc with its source's out-weight. */
  private def woutArcs(edges: DataFrame): DataFrame =
    edges
      .join(edges.groupBy(col("src")).agg(sum("support").as("wout")), Seq("src"))
      .select(col("src"), col("dst"), col("support"), col("wout"))

  /** The distributed branch of [[pageRank]]: join-based power iteration. */
  private[graft] def pageRankDistributed(edges: DataFrame, iters: Int = DefaultIters)
      (implicit scope: Scope): DataFrame = {
    // Cut the LOGICAL lineage at the iteration entry: every chained
    // iteration plan embeds `arcs`, and `arcs` embeds the caller's
    // whole upstream tree — without this cut Catalyst re-analyzes that
    // tree once per iteration per action (measured: 3.8s of pure
    // driver-side planning for 5 iterations over a 153-node graph with
    // the full linking pipeline upstream; 0.9s with a flat leaf). The
    // leaf scans the persisted blocks, so executors do the same work
    // either way; it releases once the result is materialized.
    Scope(edges.sparkSession) { local =>
      val (arcs, _) = local.leaf(woutArcs(edges))
      val nodes = arcs.select(col("src").as("node")).distinct()
      val n = nodes.count()
      require(n > 0, "pageRank on an empty graph")
      // beyond PrScale nodes, init = PrScale/n floors to 0 and every rank
      // degenerates to 0 — fail loudly like the CC convergence guard
      // (a >2^32-node graph needs a wider fixed-point scale)
      require(n <= PrScale,
        s"pageRank fixed-point scale 2^32 cannot represent 1/N for N=$n nodes; raise PrScale")
      val init = PrScale / n
      val teleport = (100L - DampNum) * init / 100L
      var pr = nodes.select(col("node"), lit(init).as("prq"))
      var i = 0
      while (i < iters) {
        pr = arcs
          .join(pr, arcs("src") === pr("node"))
          // `div` is Spark's INTEGRAL division — a float `/` here would
          // round above 2^53 and diverge from the oracle's integer `//`
          .selectExpr("dst", s"($DampNum * prq * support) div (100 * wout) as flow")
          .groupBy("dst").agg((lit(teleport) + sum(col("flow"))).as("prq"))
          .select(col("dst").as("node"), col("prq"))
        i += 1
        if (i % CheckpointEvery == 0 && i < iters) pr = pr.localCheckpoint()
      }
      scope.leaf(pr.withColumn("pr", col("prq").cast("double") / lit(PrScale.toDouble)))._1
    }
  }

  /** Lineage-cut cadence for the power iteration: plans of ~2 nodes per
    * round are cheap, so cut only often enough that a deep run (e.g. 50
    * rounds) never builds an unbounded tree.
    */
  val CheckpointEvery: Int = 8

  /** The small-graph branch of [[pageRank]]: collect the wout-joined
    * arc list and run the identical fixed-point recurrence in memory.
    * The loop MIRRORS the distributed plan step for step so the two
    * branches agree on ANY input, not just contract-conforming ones:
    * an arc whose src has no current rank contributes nothing (the
    * iteration's inner join), a zero-wout arc contributes nothing
    * (Spark's `div` nulls and `sum` skips), and each iteration's rank
    * set is the receiving `dst` group set (symmetric arc lists make it
    * equal to the src node set — the documented contract — but a
    * non-symmetric input now degrades identically to the loop instead
    * of diverging or throwing bare LongMap errors).
    */
  private def pageRankDriver(arcs: Array[(Long, Long, Long, Long)],
      spark: org.apache.spark.sql.SparkSession,
      iters: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val nodeIds = arcs.map(_._1).distinct
    val n = nodeIds.length.toLong
    require(n > 0, "pageRank on an empty graph")
    // beyond PrScale nodes, init = PrScale/n floors to 0 and every rank
    // degenerates to 0 — fail loudly like the CC convergence guard
    require(n <= PrScale,
      s"pageRank fixed-point scale 2^32 cannot represent 1/N for N=$n nodes; raise PrScale")
    val init = PrScale / n
    val teleport = (100L - DampNum) * init / 100L
    var pr = scala.collection.mutable.LongMap.empty[Long]
    nodeIds.foreach(v => pr(v) = init)
    var i = 0
    while (i < iters) {
      val next = scala.collection.mutable.LongMap.empty[Long]
      arcs.foreach { case (src, dst, support, wout) =>
        pr.get(src) match {
          case Some(p) if wout != 0L =>
            // identical arithmetic to the distributed selectExpr: all
            // operands non-negative, so Java's truncating / IS the
            // floor division
            val flow = DampNum * p * support / (100L * wout)
            next(dst) = next.getOrElse(dst, teleport) + flow
          case _ => () // mirrors the join miss / null div of the plan
        }
      }
      pr = next
      i += 1
    }
    pr.toSeq.map { case (v, q) => (v, q, q.toDouble / PrScale.toDouble) }
      .toDF("node", "prq", "pr")
  }
}
