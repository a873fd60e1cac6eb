package graft

import graft.operators._
import graft.plans.Scope
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev tool: phase bisect of the composed release ledger at the
  * ScalingBench problem size (reads the materialized 80k-doc input the
  * scaling run leaves under /tmp/graft_docs), at an arbitrary
  * parallelism — run at local[2] and local[8] to see which phases
  * carry the non-scaling fraction. Phases mirror Release.build's
  * structure; cfg matches the scaling run (useBroadcast = false).
  */
object ProfileReleaseScale {
  def main(args: Array[String]): Unit = {
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val docsDir = sys.env.getOrElse("SPARK_GRAFT_DOCS_DIR",
      "/tmp/graft_docs/v1-n=80000-f256")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores.toInt * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", 4 * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", "0")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"[profile-scale] $name%-26s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      a
    }
    val taskTime = new java.util.concurrent.atomic.AtomicLong
    val gcTime = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskMetrics != null) {
          taskTime.addAndGet(te.taskMetrics.executorRunTime)
          gcTime.addAndGet(te.taskMetrics.jvmGCTime)
          ()
        }
      }
    })
    def phase[A](name: String)(f: => A): A = {
      taskTime.set(0); gcTime.set(0)
      val t0 = System.nanoTime(); val a = f
      val w = (System.nanoTime() - t0) / 1e9
      println(f"[profile-scale] $name%-26s wall=$w%7.2f core=${taskTime.get / 1e3}%8.2f gc=${gcTime.get / 1e3}%6.2f")
      a
    }
    val docs = spark.read.parquet(docsDir)
    val cfg = Release.Config(useBroadcast = false)
    // warmup (JIT/codegen) on a slice
    Scope(spark)(Release.ledger(docs.where(col("doc_id") < 500), cfg = cfg)(_).count())
    for (round <- 1 to 2) {
      println(s"--- round $round  cores=$cores ---")
      t("full ledger")(Scope(spark)(Release.ledger(docs, cfg = cfg)(_).count()))
    }
    // phase bisect
    implicit val sc: Scope = new Scope(spark)
    val compact = sc.persist(Release.labeled(docs))
    t("p: labeled+persist")(compact.count())
    val a0 = compact.filter(col("red").isNotNull).select("doc_id", "red")
    val keep = sc.persist(a0.groupBy(md5(col("red")).as("h"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id"))
    t("p: exact keep")(keep.count())
    val a1 = a0.join(keep, Seq("doc_id"), "left_semi")
    Scope(spark) { pairScope =>
      val pairs = phase("p: cand build (eager)")(
        Dedup.minhashPairs(a1, "doc_id", "red",
          threshold = cfg.nearThreshold, useBroadcast = false)(pairScope))
      val (pl, nP) = phase("p: verify (pairs.count)")(pairScope.leaf(
        pairs.select(col("id_a").as("cid_a"), col("id_b").as("cid_b"))))
      println(s"[profile-scale] nPairs=$nP")
      val touched = pl.select(col("cid_a").as("cid"))
        .union(pl.select(col("cid_b").as("cid"))).distinct()
      t("p: CC")(Canonicalize.connectedComponents(touched, pl,
        knownEdgeCount = Some(nP), nodesArePairEndpoints = true).count())
    }
    val bench = docs.filter(col("doc_id") % 20 === 7)
      .select(col("doc_id").as("bench_id"), col("text").as("red"))
    phase("p: decontam flagged")(Decontaminate.flagged(a1, bench, "doc_id",
      "bench_id", "red", useBroadcast = false).count())
    locally {
      val banded = Dedup.minhashBands(a1, "doc_id", "red")
      val bp = banded.groupBy("band", "bh").count()
        .filter("count > 1 AND count <= 128")
        .agg(sum(expr("count*(count-1)/2"))).head().getDouble(0)
      val capped = banded.groupBy("band", "bh").count()
        .filter("count > 128").count()
      println(s"[profile-scale] candidate pairs (pre-distinct) = $bp; capped buckets = $capped")
    }
    locally {
      val cgc = Decontaminate.gramRows(a1, "doc_id", "red")
        .groupBy("gh").agg(count(lit(1)).as("nc"))
      val bgc = Decontaminate.gramRows(bench, "bench_id", "red")
        .groupBy("gh").agg(count(lit(1)).as("nb"))
      val row = cgc.join(bgc, Seq("gh"))
        .agg(sum(col("nc") * col("nb")), max(col("nc") * col("nb"))).head()
      println(s"[profile-scale] gram-match emissions = ${row.get(0)}; hottest gram = ${row.get(1)}")
    }
    phase("x: gramRows(a1).count")(
      Decontaminate.gramRows(a1, "doc_id", "red").count())
    phase("x: gramRows(docs).count")(
      Decontaminate.gramRows(docs, "doc_id", "text").count())
    phase("x: bench grams+count")(
      Decontaminate.gramRows(bench, "bench_id", "red").count())
    phase("x: minhash bands(a1)")(
      Dedup.minhashBands(a1, "doc_id", "red").count())
    phase("x: decontam flagged again")(Decontaminate.flagged(a1, bench, "doc_id",
      "bench_id", "red", useBroadcast = false).count())
    // inside flagged: which piece is slow?
    val bg2 = Decontaminate.gramRows(bench, "bench_id", "red")
      .toDF("bench_id", "gh", "n_bench_grams")
    phase("y: bg count")(bg2.count())
    val bf = phase("y: bloom build")(bg2.stat.bloomFilter("gh", 800000L, 0.01))
    val bfB = spark.sparkContext.broadcast(bf)
    val mc = udf((gh: Long) => bfB.value.mightContain(gh))
    val cg2 = Decontaminate.gramRows(a1, "doc_id", "red")
      .toDF("doc_id", "gh", "n_doc_grams")
    phase("y: cg bloom-filter count")(cg2.filter(mc(col("gh"))).count())
    phase("y: join+aggs")(cg2.filter(mc(col("gh")))
      .join(bg2.hint("shuffle_hash"), Seq("gh"))
      .groupBy("doc_id", "bench_id", "n_doc_grams", "n_bench_grams")
      .agg(count(lit(1)).as("n_shared")).count())
    // partition-layout probe: how parallel is the a1 text frame the
    // gram/banding passes consume?
    val layout = a1.select(col("doc_id")).rdd
      .mapPartitionsWithIndex { (i, it) => Iterator((i, it.size)) }.collect()
    println(s"[profile-scale] a1 partitions = ${layout.length}; sizes = ${layout.map(_._2).sorted.reverse.take(8).mkString(",")}")
    val layout0 = a0.select(col("doc_id")).rdd
      .mapPartitionsWithIndex { (i, it) => Iterator((i, it.size)) }.collect()
    println(s"[profile-scale] a0 partitions = ${layout0.length}")
    sc.close()
    spark.stop()
  }
}
