package graft

import graft.operators._
import graft.plans.Scope
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Stage-by-stage timing of the composed release build (dev tool,
  * mirrors ProfileIncr). Historical findings recorded
  * in BENCH.md: the interpreted HOF n-gram builders cost ~12 ms/row
  * (now the single-pass native scan, ~50x), and count()-only probes
  * lie about projection cost because column pruning deletes the work —
  * always persist before timing a projection.
  */
object ProfileRelease {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      a
    }
    val docs = SparkEntry.releaseFixture(
      spark.read.parquet(s"$sfDir/documents.parquet"))
    for (round <- 1 to 2) Scope(spark) { implicit sc =>
      println(s"--- round $round ---")
      val compact = sc.persist(Release.labeled(docs))
      t("labeled (persisted)")(compact.count())
      val a0 = compact.filter(col("red").isNotNull).select("doc_id", "red")
      val keep = sc.persist(a0.groupBy(md5(col("red")).as("h"))
        .agg(min(col("doc_id")).as("doc_id")).select("doc_id"))
      t("exact keep ids")(keep.count())
      val a1 = a0.join(keep, Seq("doc_id"), "left_semi")
      Scope(spark) { pairScope =>
        val pairs = Dedup.minhashPairs(a1, "doc_id", "red", threshold = 0.5)(pairScope)
        val p = pairScope.persist(
          pairs.select(col("id_a").as("cid_a"), col("id_b").as("cid_b")))
        t("minhash pairs")(p.count())
        val touched = p.select(col("cid_a").as("cid"))
          .union(p.select(col("cid_b").as("cid"))).distinct()
        val cc = t("CC (pair-touched nodes)")(
          Canonicalize.connectedComponents(touched, p))
        t("cc.count")(cc.count())
      }
      val bench = docs.filter(col("doc_id") % 20 === 7)
        .select(col("doc_id").as("bench_id"), col("text").as("red"))
      t("decontam flagged")(Decontaminate.flagged(a1, bench, "doc_id",
        "bench_id", "red").count())
      t("full ledger")(Scope(spark)(Release.ledger(docs)(_).count()))
    }
    // incremental form: index built+persisted once, two warm crawls
    val seen = docs.filter(col("doc_id") % 10 =!= 9)
    val delta = docs.filter(col("doc_id") % 10 === 9)
    val held = new Scope(spark)
    val idx0 = Release.buildIndex(seen)
    val idx = Release.Index(held.persist(idx0.exactHashes), held.persist(idx0.bands),
      held.persist(idx0.counts), held.persist(idx0.shingles), held.persist(idx0.bench))
    t("index build+persist")(Seq(idx.exactHashes, idx.bands, idx.counts,
      idx.shingles, idx.bench).foreach(_.count()))
    for (round <- 1 to 3) {
      t(s"incremental ledger r$round")(
        Scope(spark)(Release.incrementalLedger(delta, idx)(_).count()))
    }
    // stage bisect of one incremental crawl
    Scope(spark) { implicit sc =>
      val compact = sc.persist(Release.labeled(delta))
      t("i: labeled")(compact.count())
      val a0 = compact.filter(col("red").isNotNull).select("doc_id", "red")
      val hashed = a0.select(col("doc_id"), md5(col("red")).as("h"))
      val keep = sc.persist(hashed
        .join(hashed.groupBy("h").agg(min(col("doc_id")).as("keep_id")), Seq("h"))
        .filter(col("doc_id") === col("keep_id"))
        .join(idx.exactHashes, Seq("h"), "left_anti")
        .select("doc_id"))
      t("i: exact keep")(keep.count())
      val a1 = a0.join(keep, Seq("doc_id"), "left_semi")
      val pp = sc.persist(IncrDedup.incrementalPairsFromIndex(
        idx.bands, idx.counts, idx.shingles, a1, "doc_id", "red",
        threshold = 0.5))
      t("i: incr pairs")(pp.count())
      val kept = t("i: survivors")(IncrDedup.survivors(a1, pp))
      t("i: kept.count")(kept.count())
      val nearKill = a1.select("doc_id").join(kept, Seq("doc_id"), "left_anti")
      val a2 = a1.join(nearKill, Seq("doc_id"), "left_anti")
      t("i: decontam")(Decontaminate.flagged(a2,
        idx.bench.select(col("bench_id"), col("text").as("red")),
        "doc_id", "bench_id", "red").count())
      // CC cost isolation: same pair set, pre-materialized inputs
      val (pmat, _) = sc.leaf(pp)
      t("i: survivors(pre-materialized pairs)")(
        IncrDedup.survivors(sc.leaf(a1)._1, pmat).count())
      val (nodes2, _) = sc.leaf(pmat.select(col("id_a").as("cid"))
        .union(pmat.select(col("id_b").as("cid"))).distinct())
      val (edges2, _) = sc.leaf(
        pmat.select(col("id_a").as("cid_a"), col("id_b").as("cid_b")))
      t("i: bare CC on materialized")(
        Canonicalize.connectedComponents(nodes2, edges2).count())
      // which part of survivors recomputes? edge/node build vs CC loop
      val pairIds3 = pp
        .select(explode(array(col("id_a"), col("id_b"))).as("id")).distinct()
      val nodes3 = pairIds3.select(col("id").as("cid"))
      val edges3 = pp.select(col("id_a").as("cid_a"), col("id_b").as("cid_b"))
      t("i: nodes3.count (from cached pp)")(nodes3.count())
      t("i: CC on cached-pp derivations")(
        Canonicalize.connectedComponents(nodes3, edges3).count())
    }
    held.close()
    spark.stop()
  }
}
