package graft

import graft.operators.{Dedup, IncrDedup}
import graft.plans.Scope
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-level timing probe for the incremental-dedup crawl job (what
  * does `dedup_incr`'s time actually buy): delta signature pass vs
  * candidate derivation vs the full pairs+survivors job, against the
  * full-batch rerun of the same decision. Best-of-3 warm each.
  */
object ProfileIncr {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val corpus = docs.filter(col("doc_id") % 10 =!= 7)
    val delta = docs.filter(col("doc_id") % 10 === 7)
    val index = new Scope(spark)
    val b = index.persist(IncrDedup.bandIndex(corpus))
    val c = index.persist(IncrDedup.bucketCounts(b))
    b.count(); c.count()
    def best(f: Scope => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); Scope(spark)(f); (System.nanoTime() - t0) / 1e9
      }.min
    def crawlJob(implicit s: Scope): Unit = {
      val pairs = IncrDedup.incrementalPairs(b, c, corpus, delta, threshold = 0.5)
      IncrDedup.survivors(delta, pairs).count(); ()
    }
    Scope(spark)(crawlJob(_)) // warmup
    val tBands = best { _ => Dedup.minhashBands(delta).count(); () }
    val tPairs = best { implicit s =>
      IncrDedup.incrementalPairs(b, c, corpus, delta, threshold = 0.5).count(); ()
    }
    val tCrawl = best(crawlJob(_))
    val tBatch = best { implicit s => Dedup.minhashPairs(docs, threshold = 0.5).count(); () }
    println(f"[profile-incr] deltaSignatures=$tBands%.3f pairs=$tPairs%.3f " +
      f"crawlJob=$tCrawl%.3f batchPairs=$tBatch%.3f")
    index.close()
    spark.stop()
  }
}
