package graft

import graft.operators._
import graft.plans.{Materialize, Pipeline, Scope}
import graft.sources.{ChemDict, PageGen}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every public operator that caches leaves NOTHING cached once the
  * caller's scope closes: no cache-manager entry and no persistent RDD.
  * One row per operator; each row runs the operator and an action on
  * its result inside a fresh scope.
  */
class NoCacheLeakSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  private def docs = spark.read.parquet(s"$sf/documents.parquet")
  private def emb = Dedup.plantNearDups(spark.read.parquet(s"$sf/embeddings.parquet"))
  private def annotated = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, 40)),
    ChemDict.entries.flatMap(_.synonyms))
  private def bench = docs.filter(col("doc_id") % 20 === 7)
    .select(col("doc_id").as("bench_id"), col("text"))
  private def corpus = docs.filter(col("doc_id") % 10 =!= 7)
  private def delta = docs.filter(col("doc_id") % 10 === 7)
  private def pairGraph = {
    import spark.implicits._
    (Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("cid_a", "cid_b"),
      Seq(1L, 2L, 3L, 4L, 5L, 6L).toDF("cid"))
  }
  private def tmpDir() = java.nio.file.Files.createTempDirectory("graft-leak").toString

  private val rows: Seq[(String, Scope => Any)] = Seq(
    "Dedup.minhashPairs" -> { implicit s =>
      Dedup.minhashPairs(docs, threshold = 0.5).count() },
    "Dedup.minhashPairs(useBroadcast=false)" -> { implicit s =>
      Dedup.minhashPairs(docs, threshold = 0.5, useBroadcast = false).count() },
    "Dedup.jaccardPairs" -> { implicit s =>
      Dedup.jaccardPairs(docs, threshold = 0.5).count() },
    "Dedup.embeddingPairs" -> { implicit s =>
      Dedup.embeddingPairs(emb, threshold = 0.95).count() },
    "Dedup.minhashClusters" -> { implicit s =>
      Dedup.minhashClusters(docs, threshold = 0.5).count() },
    "Canonicalize.connectedComponents(distributed)" -> { implicit s =>
      val (pairs, nodes) = pairGraph
      Canonicalize.connectedComponentsDistributed(nodes, pairs).count() },
    "Canonicalize.connectedComponents(driver)" -> { implicit s =>
      val (pairs, nodes) = pairGraph
      Canonicalize.connectedComponents(nodes, pairs).count() },
    "Canonicalize.entityTable" -> { implicit s =>
      Canonicalize.entityTable(spark, ChemDict.entries).count() },
    "Linking.attachToMentions" -> { implicit s =>
      Linking.attachToMentions(annotated, ChemDict.entries).count() },
    "Linking.linkTriplesFused" -> { implicit s =>
      Linking.linkTriplesFused(annotated, ChemDict.entries).count() },
    "Linking.linkTriplesSaltedFused" -> { implicit s =>
      Linking.linkTriplesSaltedFused(annotated, ChemDict.entries).count() },
    "Linking.linkTriplesSaltedTargeted" -> { implicit s =>
      Linking.linkTriplesSaltedTargeted(annotated, ChemDict.entries,
        heavyThreshold = 5L).count() },
    "Graph.propertyEdges + pageRank + relatedChems" -> { implicit s =>
      val edges = Graph.propertyEdges(Linking.linkTriplesFused(annotated, ChemDict.entries))
      Graph.pageRank(edges).count()
      Graph.pageRankDistributed(edges).count()
      Graph.relatedChems(edges).count() },
    "Ranking.globalRank" -> { implicit s =>
      Ranking.globalRank(docs, Seq(col("doc_id"))).count() },
    "Ranking.perplexityBuckets" -> { implicit s =>
      Ranking.perplexityBuckets(docs.select(col("doc_id"),
        (col("doc_id") % 17).cast("double").as("avg_lp"))).count() },
    "Search.bm25TopK" -> { implicit s =>
      Search.bm25TopK(docs, Seq(1 -> Seq("dup", "hash")), k = 5).count() },
    "Decontaminate.overlap(useBroadcast=false)" -> { implicit s =>
      Decontaminate.overlap(docs, bench, useBroadcast = false).count() },
    "Decontaminate.clean" -> { implicit s =>
      Decontaminate.clean(docs, bench, useBroadcast = false).count() },
    "SpanDedup.removeDupSpans" -> { implicit s =>
      SpanDedup.removeDupSpans(docs, k = 8).agg(sum(length(col("clean_text")))).collect() },
    "Lines.removeBoilerplate" -> { implicit s =>
      Lines.removeBoilerplate(docs, maxDocFreq = 2)
        .agg(sum(length(col("clean_text")))).collect()
      Lines.removeBoilerplateGiven(docs, Lines.blocklist(docs, maxDocFreq = 2), None)
        .agg(sum(length(col("clean_text")))).collect() },
    "IncrDedup.incrementalPairs + survivors" -> { implicit s =>
      val b = IncrDedup.bandIndex(corpus)
      val pairs = IncrDedup.incrementalPairs(b, IncrDedup.bucketCounts(b), corpus, delta,
        threshold = 0.5)
      IncrDedup.survivors(delta, pairs).count() },
    "IncrDedup.incrementalPairsFromIndex" -> { implicit s =>
      val b = IncrDedup.bandIndex(corpus)
      IncrDedup.incrementalPairsFromIndex(b, IncrDedup.bucketCounts(b),
        IncrDedup.shingleSidecar(corpus), delta, threshold = 0.5).count() },
    "SemDedup.pairs" -> { implicit s =>
      SemDedup.pairs(emb, Similarity.ivfCentroids(emb, 4), 0.95, maxCellSize = 50).count() },
    "SemDedup.survivors" -> { implicit s =>
      SemDedup.survivors(emb, Similarity.ivfCentroids(emb, 4), 0.95, maxCellSize = 50).count() },
    "Release.ledger" -> { implicit s =>
      Release.ledger(SparkEntry.releaseFixture(docs)).count() },
    "Release.released(useBroadcast=false)" -> { implicit s =>
      Release.released(SparkEntry.releaseFixture(docs),
        cfg = Release.Config(useBroadcast = false)).count() },
    "Release.incrementalLedger" -> { implicit s =>
      val fx = SparkEntry.releaseFixture(docs)
      Release.incrementalLedger(fx.filter(col("doc_id") % 10 === 9),
        Release.buildIndex(fx.filter(col("doc_id") % 10 =!= 9))).count() },
    "Materialize.materializeGraph + incrementalUpdate" -> { _ =>
      val dir = tmpDir()
      Materialize.materializeGraph(spark, PageGen.pages(spark, 20), dir, 4)
      Materialize.incrementalUpdate(spark, PageGen.pages(spark, 5), dir, 4)
      Materialize.incrementalUpdate(spark, PageGen.pages(spark, 5), dir, 4,
        mergeOnRead = true) }
  )

  rows.foreach { case (name, run) =>
    test(s"no cache entry left after the scope closes: $name") {
      // other suites share the session; start from an empty cache
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
      Scope(spark)(run)
      assert(spark.sharedState.cacheManager.isEmpty, s"$name left a cache-manager entry")
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name left persistent RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
    }
  }
}
