package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Graph analytics over the linked triple table: edge derivation,
  * degree stats, and the fixed-point PageRank (bit-equality against an
  * in-test BigInt reference of the same integer recurrence).
  */
class GraphSpec extends AnyFunSuite with ScopePerTest {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** Minimal linked-table shape: only the columns propertyEdges reads.
    * Tuples: (url, sentId, valueLabel, valueText, unit, headLabel,
    * propType, cid).
    */
  private def linkedDf(rows: Seq[(String, Int, String, String, String, String, String, java.lang.Long)]): DataFrame =
    rows.toDF("url", "sentId", "valueLabel", "valueText", "unit",
      "headLabel", "propType", "cid")

  // Two docs. Tuple A (u1, s1, VALUE, "5 g", g): chem 10 + props density,
  // melting point. Tuple B (u1, s2): chem 10 + density again. Tuple C
  // (u2, s1): chem 20 + density; unlinked chem rides along (dropped);
  // a duplicate CHEM mention of cid 10 in tuple A collapses.
  private val fixture = linkedDf(Seq(
    ("u1", 1, "VALUE", "5 g", "g", "CHEM", "", 10L),
    ("u1", 1, "VALUE", "5 g", "g", "CHEM", "", 10L), // dup mention, same tuple
    ("u1", 1, "VALUE", "5 g", "g", "PROP", "density", null),
    ("u1", 1, "VALUE", "5 g", "g", "PROP", "melting point", null),
    ("u1", 2, "VALUE", "3 K", "K", "CHEM", "", 10L),
    ("u1", 2, "VALUE", "3 K", "K", "PROP", "density", null),
    ("u2", 1, "VALUE", "7 Pa", "Pa", "CHEM", "", 20L),
    ("u2", 1, "VALUE", "7 Pa", "Pa", "CHEM", "", null), // unlinked chem
    ("u2", 1, "VALUE", "7 Pa", "Pa", "PROP", "density", null)))

  test("propNodes: dense negative ids by ascending prop_type") {
    val nodes = Graph.propNodes(fixture).orderBy("node").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // ascending prop_type: "density" -> -1, "melting point" -> -2
    assert(nodes.toSet === Set(("density", -1L), ("melting point", -2L)))
  }

  test("propertyEdges: support counts distinct tuples, both directions") {
    val edges = Graph.propertyEdges(fixture).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cid 10 <-> density: tuples A and B -> support 2 (dup mention collapses)
    // cid 10 <-> melting point (-2): tuple A -> 1
    // cid 20 <-> density: tuple C -> 1 (unlinked chem contributes nothing)
    assert(edges === Set(
      (10L, -1L, 2L), (-1L, 10L, 2L),
      (10L, -2L, 1L), (-2L, 10L, 1L),
      (20L, -1L, 1L), (-1L, 20L, 1L)))
  }

  test("degrees: arc count and summed support per node") {
    val d = Graph.degrees(Graph.propertyEdges(fixture)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(d === Set(
      (10L, 2L, 3L), // -> density (2), -> melting point (1)
      (20L, 1L, 1L),
      (-1L, 2L, 3L), // density -> 10 (2), -> 20 (1)
      (-2L, 1L, 1L)))
  }

  /** The exact integer recurrence of Graph.pageRank, driver-side. */
  private def referencePr(
      arcs: Seq[(Long, Long, Long)], iters: Int): Map[Long, Long] = {
    val wout = arcs.groupBy(_._1).map { case (s, as) => s -> as.map(_._3).sum }
    val nodes = arcs.map(_._1).distinct
    val n = nodes.size
    val init = Graph.PrScale / n
    val teleport = (100L - Graph.DampNum) * init / 100L
    var pr = nodes.map(_ -> init).toMap
    (0 until iters).foreach { _ =>
      val inflow = arcs
        .map { case (s, d, w) =>
          d -> (BigInt(Graph.DampNum) * pr(s) * w / (BigInt(100) * wout(s))).toLong
        }
        .groupBy(_._1).map { case (d, fs) => d -> fs.map(_._2).sum }
      pr = nodes.map(v => v -> (teleport + inflow.getOrElse(v, 0L))).toMap
    }
    pr
  }

  test("pageRank: bit-equal to the BigInt reference recurrence (both paths)") {
    val edges = Graph.propertyEdges(fixture)
    val arcs = edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val expected = referencePr(arcs, Graph.DefaultIters)
    // pageRank takes the driver loop on a graph this small;
    // pageRankDistributed is the distributed iteration — both must be
    // bit-equal to the reference
    val got = Graph.pageRank(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
    val gotDist = Graph.pageRankDistributed(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotDist === expected)
    // pr double column is the exact power-of-two division
    Graph.pageRank(edges).collect().foreach { r =>
      assert(r.getDouble(2) === r.getLong(1).toDouble / Graph.PrScale.toDouble)
    }
  }

  test("pageRank: partition-invariant (integer sums are order-free)") {
    val edges = Graph.propertyEdges(fixture)
    // partition invariance is the distributed loop's property to prove
    // (the driver loop never sees partitions)
    val a = Graph.pageRankDistributed(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Graph.pageRankDistributed(edges.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }

  test("pageRank: hub of a weighted star outranks leaves") {
    val arcs = (1 to 6).flatMap { i =>
      Seq((0L, i.toLong, 1L), (i.toLong, 0L, 1L))
    }.toDF("src", "dst", "support")
    val pr = Graph.pageRank(arcs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1 to 6).forall(i => pr(0L) > pr(i.toLong)))
    // leaves are symmetric: identical prq
    assert((1 to 6).map(i => pr(i.toLong)).distinct.size === 1)
  }

  test("pageRank on a long path converges without divergence and keeps mass bounded") {
    val arcs = (0 until 40).flatMap { i =>
      Seq((i.toLong, (i + 1).toLong, 1L), ((i + 1).toLong, i.toLong, 1L))
    }.toDF("src", "dst", "support")
    val pr = Graph.pageRank(arcs, iters = 8).collect().map(_.getLong(1))
    assert(pr.forall(p => p > 0 && p <= Graph.PrScale))
    assert(pr.sum <= Graph.PrScale) // floors only lose mass
  }

  test("relatedChems: weighted Jaccard equals a driver-side brute force; rank/tie semantics exact") {
    // a denser random-ish graph: 12 chems × up to 6 props with varied supports
    val arcs = (1 to 12).flatMap { c =>
      (1 to 6).filter(p => (c * 7 + p) % 3 != 0).map { p =>
        (c.toLong, -p.toLong, ((c * p) % 5 + 1).toLong)
      }
    }
    val edges = arcs.flatMap { case (c, p, w) => Seq((c, p, w), (p, c, w)) }
      .toDF("src", "dst", "support")
    val got = Graph.relatedChems(edges, nQueries = 4, k = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // brute force
    val prof = arcs.groupBy(_._1).map { case (c, as) =>
      c -> as.map(a => a._2 -> a._3).toMap
    }
    val tot = prof.map { case (c, m) => c -> m.values.sum }
    val qs = prof.keys.toSeq.sorted.take(4)
    val expect = qs.flatMap { q =>
      val sims = prof.keys.filter(_ != q).flatMap { c =>
        val num = (prof(q).keySet & prof(c).keySet).toSeq
          .map(p => math.min(prof(q)(p), prof(c)(p))).sum
        if (num == 0) None
        else Some((c, num, tot(q) + tot(c) - num))
      }.toSeq
      sims.sortBy { case (c, n, d) => (-(n.toDouble / d), c) }
        .take(3).zipWithIndex
        .map { case ((c, n, d), i) => (q, i + 1, c, n, d) }
    }.toSet
    assert(got.toSet === expect)
  }

  test("relatedChems is partition-invariant and long-only in every exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: p.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    val edges = Graph.propertyEdges(fixture)
    val a = Graph.relatedChems(edges, 3, 2).collect().map(_.toString).sorted
    val b = Graph.relatedChems(edges.repartition(7), 3, 2).collect().map(_.toString).sorted
    assert(a.sameElements(b))
    val q = Graph.relatedChems(edges, 3, 2)
    q.collect()
    exchanges(q.queryExecution.executedPlan).foreach { e =>
      e.child.output.foreach { attr =>
        assert(attr.dataType != StringType || attr.name == "prop_type",
          s"text column ${attr.name} rides a relatedChems exchange")
      }
    }
  }

  test("plan: no unbounded text column rides a graph exchange") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.StringType
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: p.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    val edges = Graph.propertyEdges(fixture)
    val pr = Graph.pageRank(edges)
    pr.count()
    // the iteration plans are cut by localCheckpoint; assert on a probe
    // of one iteration's shape: arcs + wout join. The ONLY string
    // allowed in any exchange is prop_type — the vocab-bounded node-id
    // window — never url/valueText/etc (the tuple key rides as a
    // 64-bit fingerprint).
    val arcs = edges.join(
      edges.groupBy("src").agg(org.apache.spark.sql.functions.sum("support").as("wout")),
      Seq("src"))
    arcs.count()
    exchanges(arcs.queryExecution.executedPlan).foreach { e =>
      e.child.output.foreach { attr =>
        assert(attr.dataType != StringType || attr.name == "prop_type",
          s"unbounded text column ${attr.name} rides a graph exchange")
      }
    }
  }
}
