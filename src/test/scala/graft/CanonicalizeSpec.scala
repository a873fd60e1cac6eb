package graft

import graft.model.{CanonicalEntity, ChemDictEntry}
import graft.operators.Canonicalize
import graft.plans.Scope
import graft.sources.ChemDict
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, udf}
import org.scalatest.funsuite.AnyFunSuite

/** J5: min-hash blocking + connected-components vs the dictionary's
  * gold clusters (FIXTURES.md §2).
  */
class CanonicalizeSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark

  /** Distributed reference form of `Canonicalize.candidatePairs`: the
    * blocking rows self-join within their (band, band_hash) buckets,
    * with the same bucket cap and verification rule. Only (band,
    * band_hash, cid) rows plus the in-bucket name pairs move.
    */
  private def candidatePairsDistributed(dict: Array[ChemDictEntry]): DataFrame = {
    val banded = Canonicalize.bandedNames(spark, dict)
    // cap degenerate buckets before the self-join
    val keep = udf((n: Long) => Canonicalize.keepsBucket(n))
    val bucketSizes = banded.groupBy("band", "band_hash")
      .agg(count(lit(1)).as("n"))
      .filter(keep(col("n")))
    val pruned = banded.join(bucketSizes, Seq("band", "band_hash"), "left_semi")
    val a = pruned.select(col("band"), col("band_hash"),
      col("cid").as("cid_a"), col("name").as("name_a"))
    val b = pruned.select(col("band"), col("band_hash"),
      col("cid").as("cid_b"), col("name").as("name_b"))
    val similar = udf((x: String, y: String) => Canonicalize.similar(x, y))
    a.join(b, Seq("band", "band_hash"))
      .filter(col("cid_a") < col("cid_b"))
      .filter(similar(col("name_a"), col("name_b")))
      .select("cid_a", "cid_b").distinct()
  }

  /** Distributed reference form of `Canonicalize.entityTable`: the
    * distributed blocking above, CC over the pair graph
    * ([[Canonicalize.pairComponents]]) and a join back onto the
    * dictionary. The driver form must produce its rows.
    */
  private def entityTableDistributed(dict: Array[ChemDictEntry])(implicit scope: Scope)
      : Dataset[CanonicalEntity] = {
    import spark.implicits._
    val labels = Canonicalize.pairComponents(candidatePairsDistributed(dict))
    spark.createDataset(dict.toIndexedSeq).toDF()
      .join(labels, Seq("cid"), "left")
      .select(coalesce(col("cluster_id"), col("cid")).as("clusterId"),
        col("cid"),
        col("canonicalName"), col("synonyms").as("memberNames"),
        col("molecularFormula"), col("molecularWeight"))
      .as[CanonicalEntity]
  }

  private def rows(t: Dataset[CanonicalEntity]): Seq[String] =
    t.collect().map(e => (e.clusterId, e.cid, e.canonicalName, e.memberNames.toSeq,
      e.molecularFormula, e.molecularWeight).toString).toSeq.sorted

  private def entry(cid: Long, name: String): ChemDictEntry =
    ChemDictEntry(cid, name, Array(name), "C", 1.0, "C", name)

  private def assertDriverMatchesDistributed(dict: Array[ChemDictEntry]): Map[Long, Long] = {
    import spark.implicits._
    assert(Canonicalize.candidatePairs(dict).toDF("cid_a", "cid_b").collect().toSet ==
      candidatePairsDistributed(dict).collect().toSet)
    val driver = Canonicalize.entityTable(spark, dict)
    assert(rows(driver) == rows(entityTableDistributed(dict)))
    driver.collect().map(e => e.cid -> e.clusterId).toMap
  }

  test("entity table merges gold near-duplicate families exactly") {
    import spark.implicits._
    val table = Canonicalize.entityTable(spark, ChemDict.entries).collect()
    assert(table.length == ChemDict.entries.length)
    val engine: Map[Long, Long] = table.map(e => e.cid -> e.clusterId).toMap

    // same gold cluster -> same engine cluster (completeness)
    val byGold = ChemDict.goldClusters.groupBy(_._2).values
    byGold.foreach { members =>
      val engineClusters = members.keys.map(engine).toSet
      assert(engineClusters.size == 1,
        s"gold cluster ${members.keys.toSeq.sorted} split into $engineClusters")
    }
    // different gold cluster -> different engine cluster (soundness)
    val engineByCluster = engine.groupBy(_._2).values
    engineByCluster.foreach { members =>
      val goldIds = members.keys.map(ChemDict.goldClusters).toSet
      assert(goldIds.size == 1,
        s"engine merged across gold clusters: ${members.keys.toSeq.sorted} -> $goldIds")
    }
  }

  test("CC converges on a high-diameter path graph (diameter 120 >> old 20-iteration cap)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 0-1-2-...-120 chained synonyms plus a second component 200-...-230:
    // min-label propagation alone needs ~diameter iterations; the
    // pointer-jumping loop must converge in O(log d) and must NOT
    // silently truncate
    val n = 121
    val nodes = ((0 until n) ++ (200 until 231)).map(_.toLong).toDF("cid")
    val pairs = ((0 until n - 1).map(i => (i.toLong, (i + 1).toLong)) ++
      (200 until 230).map(i => (i.toLong, (i + 1).toLong)))
      .toDF("cid_a", "cid_b")
    // the DISTRIBUTED loop (this test exists to prove the
    // pointer-jumping loop converges on high diameter;
    // connectedComponents would take the driver union-find on a graph
    // this small)
    val labels = Canonicalize.connectedComponentsDistributed(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    (0 until n).foreach(i => assert(labels(i.toLong) == 0L, s"node $i"))
    (200 until 231).foreach(i => assert(labels(i.toLong) == 200L, s"node $i"))
    // the driver path must agree exactly on the same graph
    val viaDriver = Canonicalize.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaDriver == labels)
  }

  test("CC fails LOUDLY when forced to stop before convergence (no silent truncation)") {
    import spark.implicits._
    val nodes = (0L until 40L).toDF("cid")
    val pairs = (0 until 39).map(i => (i.toLong, (i + 1).toLong)).toDF("cid_a", "cid_b")
    val e = intercept[IllegalArgumentException] {
      Canonicalize.connectedComponentsDistributed(nodes, pairs, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("CC endpoint-node form fails LOUDLY on a null pair endpoint (no silent row loss)") {
    import spark.implicits._
    // node 1's only pair has a null partner: the endpoint-node fast path
    // would drop that edge and, with no node join to backfill, node 1
    val pairs = Seq[(java.lang.Long, java.lang.Long)]((1L, null), (2L, 3L))
      .toDF("cid_a", "cid_b")
    val nodes = Seq(1L, 2L, 3L).toDF("cid")
    val e = intercept[IllegalArgumentException] {
      Canonicalize.connectedComponents(nodes, pairs,
        nodesArePairEndpoints = true).collect()
    }
    assert(e.getMessage.contains("null endpoint"))
    // the node-set form backfills node 1 as its own cluster
    val labels = Canonicalize.connectedComponents(nodes, pairs)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 2L, 3L -> 2L))
  }

  test("CC converges and is idempotent (labels = min cid of component)") {
    val t1 = Canonicalize.entityTable(spark, ChemDict.entries)
      .collect().map(e => (e.cid, e.clusterId)).sortBy(_._1)
    val t2 = Canonicalize.entityTable(spark, ChemDict.entries)
      .collect().map(e => (e.cid, e.clusterId)).sortBy(_._1)
    assert(t1.sameElements(t2))
    // cluster id is the min cid of its members
    t1.groupBy(_._2).foreach { case (cluster, members) =>
      assert(cluster == members.map(_._1).min)
    }
  }

  test("driver entity table equals the distributed reference: the fixture dictionary") {
    val labels = assertDriverMatchesDistributed(ChemDict.entries)
    assert(labels.size == ChemDict.entries.length)
    assert(labels.values.toSet.size < labels.size, "fixture must merge something")
  }

  test("driver entity table equals the distributed reference: the bucket cap") {
    // 64 copies of one name fill every one of its band buckets exactly
    // to the cap (kept: one cluster); 65 copies of another overflow all
    // of theirs (dropped: no pair, every copy its own cluster)
    val kept = (1L to 64L).map(entry(_, "sodium benzoate hydrate"))
    val dropped = (101L to 165L).map(entry(_, "potassium sorbate anhydrous"))
    val labels = assertDriverMatchesDistributed((kept ++ dropped).toArray)
    assert(kept.map(e => labels(e.cid)).toSet == Set(1L))
    assert(dropped.forall(e => labels(e.cid) == e.cid))
  }

  test("driver entity table equals the distributed reference: a multi-hop chain") {
    // each name differs from the next by one letter, so neighbours pass
    // both Jaccard checks while the ends share no token: only the
    // transitive union joins them
    val words = Array("methyl", "propyl", "butanol", "sulfate", "chloride", "nitrate")
    val chain = words.indices.scanLeft(words.mkString(" ")) { (name, i) =>
      name.split(' ').updated(i, words(i).updated(0, 'x')).mkString(" ")
    }
    val dict = chain.zipWithIndex.map { case (n, i) => entry(10L + i, n) }.toArray
    val ends = (chain.head.split(' ').toSet, chain.last.split(' ').toSet)
    assert((ends._1 & ends._2).isEmpty, "chain ends must not pair directly")
    val labels = assertDriverMatchesDistributed(dict)
    assert(dict.map(e => labels(e.cid)).toSet == Set(10L))
  }
}
