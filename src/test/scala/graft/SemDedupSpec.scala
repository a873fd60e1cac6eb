package graft

import graft.operators.{Dedup, SemDedup}
import graft.operators.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SemDeDup: cluster assignment, within-cluster pair semantics, the
  * keep-lowest-centroid-cosine survivor rule, and the one-exchange plan.
  */
class SemDedupSpec extends AnyFunSuite with ScopePerTest {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  /** Hand fixture: two well-separated clusters in 4-d plus planted
    * near-dups. Cluster A around e1, cluster B around e2.
    *   1,2: exact duplicates (cos 1.0)        — component {1,2}
    *   3:   slightly rotated copy of 1        — chains to {1,2} if >= t
    *   10,11: cluster-B near-dups
    *   20: lone cluster-B member (no pair)
    */
  private def fixture = Seq(
    (1L, Seq(1.0f, 0.02f, 0.0f, 0.0f)),
    (2L, Seq(1.0f, 0.02f, 0.0f, 0.0f)),
    (3L, Seq(1.0f, 0.10f, 0.0f, 0.0f)),
    (10L, Seq(0.0f, 0.0f, 1.0f, 0.05f)),
    (11L, Seq(0.0f, 0.0f, 1.0f, 0.08f)),
    (20L, Seq(0.1f, 0.0f, 0.9f, -0.4f))
  ).toDF("vec_id", "embedding")

  private def cents = Similarity.ivfCentroids(fixture, 2)

  test("assignCos: same-cluster members share a cell; cent_cos matches the driver-side loop") {
    val got = SemDedup.assignCos(fixture, cents).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getDouble(2)))).toMap
    // the two geometric clusters must separate
    assert(got(1L)._1 === got(2L)._1)
    assert(got(10L)._1 === got(11L)._1)
    assert(got(1L)._1 !== got(10L)._1)
    // bit-equality with a driver-side recompute of the same loop
    val cs = cents
    got.foreach { case (id, (cell, cos)) =>
      val v = fixture.filter(col("vec_id") === id)
        .select("embedding").as[Seq[Float]].head()
      val best = cs.map { case (c, cv) => (c, SemDedup.cosF(v, cv.toSeq)) }
        .sortBy { case (c, s) => (-s, c) }.head
      assert(cell === best._1 && cos === best._2, s"id $id")
    }
  }

  test("pairs: exact + near dups found, cross-cluster and sub-threshold pairs absent") {
    val p = SemDedup.pairs(fixture, cents, threshold = 0.99)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // cos(1,3) = (1 + .002)/ (sqrt(1.0004)*sqrt(1.01)) ~ 0.9968 < 0.99? compute:
    // keep assertions structural: {1,2} certain; every pair same-cell, a<b
    assert(p.contains((1L, 2L)))
    assert(p.forall { case (a, b) => a < b })
    val cells = SemDedup.assignCos(fixture, cents).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    p.foreach { case (a, b) => assert(cells(a) === cells(b)) }
    // driver-side brute force within cells at the same threshold
    val vecs = fixture.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val expect = (for {
      a <- vecs.keys; b <- vecs.keys
      if a < b && cells(a) == cells(b) && SemDedup.cosF(vecs(a), vecs(b)) >= 0.99
    } yield (a, b)).toSet
    assert(p === expect)
  }

  test("survivors: one keeper per component (lowest cent_cos, id tie-break); singletons untouched") {
    val t = 0.95
    val s = SemDedup.survivors(fixture, cents, t).as[Long].collect().toSet
    // recompute expectation driver-side
    val cells = SemDedup.assignCos(fixture, cents).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val cellOf = cells.map(c => c._1 -> c._2).toMap
    val centCos = cells.map(c => c._1 -> c._3).toMap
    val vecs = fixture.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val prs = (for {
      a <- vecs.keys; b <- vecs.keys
      if a < b && cellOf(a) == cellOf(b) && SemDedup.cosF(vecs(a), vecs(b)) >= t
    } yield (a, b)).toSet
    // union-find over the pair graph
    val parent = scala.collection.mutable.Map(vecs.keys.map(k => k -> k).toSeq: _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    prs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val comps = vecs.keys.groupBy(find).values.filter(_.size > 1)
    val droppedExpect = comps.flatMap { m =>
      val keeper = m.minBy(id => (centCos(id), id))
      m.filter(_ != keeper)
    }.toSet
    assert(s === vecs.keySet -- droppedExpect)
    // lone member survives
    assert(s.contains(20L))
  }

  test("pairs are partition-invariant") {
    val a = SemDedup.pairs(fixture, cents, 0.95).collect().map(_.toString).sorted
    val b = SemDedup.pairs(fixture.repartition(5), cents, 0.95)
      .collect().map(_.toString).sorted
    assert(a.sameElements(b))
  }

  test("planted near-dups on the driver table are recovered with NO LSH recall caveat") {
    val emb = Dedup.plantNearDups(
      (0L until 200L).map { i =>
        (i, (0 until 64).map(j => (math.sin(i * 64 + j + 1) / 8.0).toFloat +
          (if (j % 8 == i % 8) 1.0f else 0.0f)))
      }.toDF("vec_id", "embedding"))
    val cs = Similarity.ivfCentroids(emb, 8)
    val p = SemDedup.pairs(emb, cs, 0.95)
      .select("a", "b").as[(Long, Long)].collect().toSet
    // every exact-dup pair (i, i+1e6) whose two copies share a cell MUST
    // be found; identical vectors always share a cell (same argmax), so
    // recall on exact plants is 1.0 by construction
    val exact = (0L until 200L by 50L).map(i => (i, i + 1000000L)).toSet
    assert(exact.subsetOf(p), s"missing: ${exact -- p}")
  }

  test("hub cell: 1000 identical-ish vectors re-quantize; no task collects the hub in one row") {
    // one template-page family: 1000 small perturbations of one base
    // vector, plus a handful of far-away singletons. With nlist=2 the
    // whole family lands in ONE coarse cell — the pathological hub.
    val dim = 16
    def vec(i: Long): Seq[Float] =
      (0 until dim).map(j => (if (j == 0) 10.0 else 0.0).toFloat +
        (math.sin(i * dim + j + 1) / 50.0).toFloat)
    val hub = (0L until 1000L).map(i => (i, vec(i)))
    // mutually orthogonal: real singletons (no pair among themselves)
    val far = (5000L until 5005L).map(i =>
      (i, (0 until dim).map(j =>
        if (j == dim - 1 - (i - 5000L).toInt * 2) 5.0f else 0.0f).toSeq))
    val emb = (hub ++ far).toDF("vec_id", "embedding")
    val cs = Similarity.ivfCentroids(emb, 2)
    val cap = 100
    // the subdivision itself: every (cell, scell) group is far below
    // the hub size — the giant collect_list row cannot exist
    val assigned = SemDedup.assignCos(emb, cs)
      .join(emb.select(col("vec_id").cast("long").as("id"),
        col("embedding").as("v")), Seq("id"))
    val groups = SemDedup.withSubcells(assigned, cap)
      .groupBy("cell", "scell").count()
      .select("count").as[Long].collect()
    assert(groups.max < 500, s"hub not subdivided: max group ${groups.max}")
    assert(groups.length > 2, s"expected multiple subcells: ${groups.length}")
    // pairs are SOUND (every emitted pair really >= threshold) and the
    // run completes with the cap in force
    val p = SemDedup.pairs(emb, cs, threshold = 0.999, maxCellSize = cap)
      .select("a", "b").as[(Long, Long)].collect()
    val vecs = (hub ++ far).toMap
    p.foreach { case (a, b) =>
      assert(a < b && SemDedup.cosF(vecs(a), vecs(b)) >= 0.999) }
    assert(p.nonEmpty) // identical-ish neighbors do land in shared subcells
    // deterministic across partitionings
    val p2 = SemDedup.pairs(emb.repartition(7), cs, 0.999, maxCellSize = cap)
      .select("a", "b").as[(Long, Long)].collect()
    assert(p.sorted.toSeq == p2.sorted.toSeq)
    // and the survivor rule still runs end-to-end under the cap
    val s = SemDedup.survivors(emb, cs, 0.999, maxCellSize = cap)
      .as[Long].collect().toSet
    assert(far.map(_._1).toSet.subsetOf(s)) // singletons untouched
    assert(s.size < 1005) // the hub family did deduplicate
  }

  test("hub of 1000 BIT-IDENTICAL vectors: exact pre-collapse, bounded groups, brute-force survivors") {
    // the degenerate template-page hub: every member shares ONE
    // embedding, so no quantizer can separate them — the r5 review's
    // watch item. The exact-vector pre-collapse must keep every
    // (cell, scell) pairing group at the rep level (1 here), emit all
    // C(1000,2) pairs by construction, and the survivor rule must
    // match brute force: keep the min id of the identical family,
    // leave the orthogonal singletons untouched.
    val dim = 16
    val base = (0 until dim).map(j => if (j == 0) 10.0f else 0.1f)
    val hub = (0L until 1000L).map(i => (i, base))
    val far = (5000L until 5005L).map(i =>
      (i, (0 until dim).map(j =>
        if (j == dim - 1 - (i - 5000L).toInt * 2) 5.0f else 0.0f).toSeq))
    val emb = (hub ++ far).toDF("vec_id", "embedding")
    val cs = Similarity.ivfCentroids(emb, 2)
    val cap = 100
    val p = SemDedup.pairs(emb, cs, threshold = 0.95, maxCellSize = cap)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val expected = (for {
      i <- 0L until 1000L; j <- (i + 1) until 1000L
    } yield (i, j)).toSet
    assert(p == expected,
      s"pair set differs: missing ${(expected -- p).take(3)}, extra ${(p -- expected).take(3)}")
    // partition invariance of the collapsed path
    val p2 = SemDedup.pairs(emb.repartition(7), cs, 0.95, maxCellSize = cap)
      .select("a", "b").as[(Long, Long)].collect().toSet
    assert(p == p2)
    val s = SemDedup.survivors(emb, cs, 0.95, maxCellSize = cap)
      .as[Long].collect().toSet
    assert(s == (Set(0L) ++ far.map(_._1)),
      s"survivors differ from brute force: $s")
  }

  test("plan: vectors ride exactly one shuffle exchange (the cell aggregation)") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: p.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    val p = SemDedup.pairs(fixture, cents, 0.95)
    p.collect()
    val withVec = exchanges(p.queryExecution.executedPlan).filter(_.child.output
      .exists(a => a.dataType == ArrayType(FloatType, containsNull = true) ||
        a.dataType == ArrayType(FloatType, containsNull = false) ||
        a.dataType.simpleString.contains("array<float>")))
    assert(withVec.size <= 1,
      s"vectors ride ${withVec.size} exchanges — expected only the cell aggregation")
  }
}
