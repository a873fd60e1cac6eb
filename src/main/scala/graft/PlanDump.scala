package graft

import graft.operators._
import graft.plans.Scope
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dump `explain("formatted")` for the operator paths whose plan shape
  * matters (dev tool): writes one `<name>.txt` per query into the
  * target directory. Run from the parent tree for the `_before`
  * captures and from the current tree for `_after`; the files are the
  * committed plan evidence under `plans/`.
  *
  * Usage: runMain graft.PlanDump <outDir> [suffix]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/plans")
    val suffix = if (args.length > 1) args(1) else ""
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $name (${txt.length} chars)")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // nb_classify scoring plan (crossJoin+2 joins -> array-LUT resolve)
    locally {
      val tr = docs.filter(col("doc_id") % 7 === 3)
      val nb = Classify.nbTable(Classify.counts(tr), Classify.vocabSize(tr))
      dump("nb_score", Classify.score(docs, nb, Classify.priors(tr)))
    }
    // search_bm25 scoring plan (idf broadcast bound)
    Scope(spark) { implicit sc =>
      dump("search_bm25", Search.bm25TopK(docs,
        Seq(1 -> Seq("dup", "hash", "join"), 2 -> Seq("merge", "sort", "window")),
        k = 10))
    }
    // pair plans: the candidate (banding) subtree is a scope
    // leaf, so the pair plan scans it instead of embedding it per use
    Scope(spark) { implicit sc =>
      dump("dedup_minhash_pairs", Dedup.minhashPairs(docs, threshold = 0.5))
    }
    Scope(spark) { implicit sc =>
      dump("dedup_jaccard_pairs", Dedup.jaccardPairs(docs, threshold = 0.5))
    }
    // composed release ledger (leaf cuts: the fates plan reads flat
    // cached leaves instead of re-embedding the pair chain)
    Scope(spark) { implicit sc =>
      dump("release_fates", Release.ledger(SparkEntry.releaseFixture(docs)))
    }
    // incremental release ledger
    Scope(spark) { implicit sc =>
      val fixture = SparkEntry.releaseFixture(docs)
      val idx = Release.buildIndex(fixture.filter(col("doc_id") % 10 =!= 9))
      dump("release_incr_fates", Release.incrementalLedger(
        fixture.filter(col("doc_id") % 10 === 9), idx))
    }
    // incremental dedup survivors (cand leaf + CC fusion)
    Scope(spark) { implicit sc =>
      val corpus = docs.filter(col("doc_id") % 10 =!= 7)
      val delta = docs.filter(col("doc_id") % 10 === 7)
      val b = sc.persist(IncrDedup.bandIndex(corpus))
      val c = sc.persist(IncrDedup.bucketCounts(b))
      b.count(); c.count()
      val pairs = IncrDedup.incrementalPairs(b, c, corpus, delta, threshold = 0.5)
      dump("dedup_incr_survivors", IncrDedup.survivors(delta, pairs))
    }
    Scope(spark) { implicit sc =>
      // minhash cluster labels (CC endpoint-node driver form)
      dump("dedup_minhash_clusters", Dedup.minhashClusters(docs, threshold = 0.5))
      // semdedup survivors
      val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
      dump("semdedup_survivors", SemDedup.survivors(
        Dedup.plantNearDups(raw), Similarity.ivfCentroids(raw, 16), 0.95))
      // pagerank result frame (driver-branch local relation vs iterated plan)
      val edges = Seq((1L, -1L, 3L), (-1L, 1L, 3L), (2L, -1L, 1L), (-1L, 2L, 1L))
        .toDF("src", "dst", "support")
      dump("kg_pagerank", Graph.pageRank(edges))
    }
    spark.stop()
  }
}
