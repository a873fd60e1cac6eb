package graft

import graft.plans.{Pipeline, Scope}
import graft.sources.PageGen
import org.apache.spark.sql.SparkSession
import scala.sys.process._

/** North-rule scaling evidence: the same job at N and 4N executors.
  *
  * Two workloads (SPARK_GRAFT_WORKLOAD):
  *  - `pipeline` (default): page→triple extraction — the BASELINE.json
  *    headline metric, certified since round 2.
  *  - `release`: the composed corpus-release ledger (`Release.ledger`
  *    over the planted release fixture) — the gate+dedup+decontam
  *    chain that IS the engine's claimed 100-TB job; certifying only
  *    the extraction headline left the release chain's scaling
  *    asserted-but-unmeasured (round-4 review task #4). Input is a
  *    materialized (doc_id, text) parquet (the fixture applied at
  *    write time, so the timed job reads at-rest bytes exactly like a
  *    crawl slice); docs via SPARK_GRAFT_DOCS (default 5000 — the
  *    sf0.1 corpus size ×1). The ledger's fixed job-count overhead
  *    (CC fixed point, ledger joins) does NOT parallelize, so this
  *    workload is the honest scaling test of the engine's widest DAG.
  *
  * Default mode runs `local-cluster[nExec, coresPerExec, mem]` — Spark's
  * standalone-in-a-box: a real master, a real worker, and **separate
  * executor JVM processes**, exactly like spark-submit onto a cluster,
  * just on one host. 1 executor vs 4 executors (8 cores each) is then a
  * literal N-vs-4N-executor comparison: per-executor heaps, per-executor
  * GC (young-gen parallelism scales with the executor, not the fleet),
  * netty shuffle between processes. A single-JVM `local[8]` vs
  * `local[32]` proxy (mode=local, kept for comparison) is pessimistic at
  * the high level: one global heap means every young GC stops all 32
  * mutator threads, which no 4-executor deployment does.
  *
  * Each level runs in its OWN child driver JVM (a stopped SparkSession
  * leaves heap/codegen residue that degrades a second session 5-10x —
  * measured, see BENCH.md) and reports best-of-k; levels are interleaved
  * L,H,H,L and take the per-level min so a noisy host epoch (this
  * sandbox is a shared VM — CPU steal is routinely visible in
  * /proc/stat) cannot bias one level.
  */
object ScalingBench {

  /** Calibrated host-health probe: total work completed by `threads`
    * spin loops in `ms` wall-clock, in arbitrary-but-stable ops. This
    * sandbox is a shared VM whose hypervisor occasionally caps the
    * guest's deliverable CPU far below its 32 advertised cores for tens
    * of minutes (measured: an 8-thread spinner achieving 2.2 effective
    * cores while /proc/stat showed only 5% steal — the cap shows up as
    * inflated system time, not steal). Such an epoch crushes the WIDE
    * level of this bench specifically while leaving the narrow level
    * untouched, silently faking a scaling regression. Sampling the
    * probe around every child and embedding the values in the artifact
    * makes a throttled epoch visible in the JSON itself: per-level
    * numbers are trustworthy iff their surrounding probes agree.
    */
  private[graft] def spinOps(threads: Int, ms: Long): Long = {
    val end = System.currentTimeMillis() + ms
    val cnt = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        var c = 0L
        while (System.currentTimeMillis() < end) {
          var j = 0
          while (j < 10000) { c += j * 31 + k; j += 1 }
        }
        cnt.addAndGet(c / 10000) // per-batch units keep the sum in Long range
        ()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    cnt.get()
  }

  private def jarPath: String = {
    val p = sys.env.getOrElse("SPARK_GRAFT_JAR",
      "target/scala-2.13/cprexspark_2.13-0.1.0.jar")
    require(new java.io.File(p).exists(),
      s"app jar not found at $p — run `sbt package` first (local-cluster " +
        "executors load engine classes from spark.jars)")
    new java.io.File(p).getAbsolutePath
  }

  /** Materialized release-workload input: the release fixture applied
    * at write time over the deterministic page generator's text column
    * — the child reads plain (doc_id, text) parquet. Same row-group
    * discipline as [[PageGen.materializedPages]].
    */
  private[graft] def materializedDocs(spark: SparkSession, n: Long,
      baseDir: String = "/tmp/graft_docs"): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val files = 256
    val dir = s"$baseDir/v1-n=$n-f$files"
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(dir + "/_SUCCESS"))) {
      val raw = spark.range(0, n, 1, files)
        .map(i => (i, PageGen.genPage(i).page.text)).toDF("doc_id", "text")
      SparkEntry.releaseFixture(raw).write.mode("overwrite").parquet(dir)
    }
    spark.read.parquet(dir)
  }

  private def measureChild(mode: String, nExec: Int, coresPerExec: Int,
      nPages: Long, workload: String): Unit = {
    val totalCores = nExec * coresPerExec
    val execMemMb = sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM_MB", "10240").toInt
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", (totalCores * 2).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // NER cost per input byte is ~100x a plain scan's: size input
      // splits for CPU balance, not IO (default 128MB maxPartitionBytes
      // would collapse this table to ~2 splits and serialize the run).
      // 4MB (not 1MB as in round 1): at 16 concurrent slots, 1MB splits
      // mean ~0.4s tasks and the single-threaded DAGScheduler event loop
      // becomes the bottleneck of the WIDE level specifically — measured
      // 18.5s -> 11.2s at 4x4 executors (1.2M pages) from this change
      // alone, while the 1x4 level is unchanged. ~1.5s tasks keep
      // scheduling overhead <1% at both levels.
      .config("spark.sql.files.maxPartitionBytes",
        sys.env.getOrElse("SPARK_GRAFT_SPLIT_MB", "4").toInt * 1024 * 1024)
      .config("spark.sql.files.openCostInBytes", "0")
      // local-FS blocks advertise "localhost" while local-cluster
      // executors register under the machine hostname — the mismatch
      // makes every task burn the 3s locality wait (measured 11x
      // slowdown). All storage is node-local here; don't wait.
      .config("spark.locality.wait", "0s")
    val spark = (mode match {
      case "local-cluster" =>
        b.master(s"local-cluster[$nExec,$coresPerExec,$execMemMb]")
          .config("spark.executor.memory", s"${execMemMb}m")
          // each executor JVM must size its GC/JIT/thread pools for ITS
          // cores, not the host's 32: without this, 4 co-hosted
          // executors each spawn a ~23-thread parallel-GC pool sized
          // for the whole machine and stampede each other during young
          // GC — a local-cluster artifact real deployments don't have
          // (cluster managers cgroup-limit visible CPUs per executor)
          .config("spark.executor.extraJavaOptions",
            s"-XX:ActiveProcessorCount=$coresPerExec")
          .config("spark.jars", jarPath)
      case _ => b.master(s"local[$totalCores]")
    }).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      var best = Double.MaxValue
      var n = 0L
      if (workload == "release") {
        val docs = materializedDocs(spark, nPages)
        // the at-scale configuration: shuffled-hash candidate fetch and
        // decontam probe (useBroadcast=false — rows identical to the
        // broadcast path, spec-verified). The broadcast path's driver
        // collect+replicate is the SMALL-corpus optimization; a scaling
        // certification must run the shape a 100-TB cluster would.
        val cfg = graft.operators.Release.Config(useBroadcast = false)
        // JIT/codegen warmup on a small slice of the same shape
        Scope(spark)(graft.operators.Release.ledger(
          docs.where(org.apache.spark.sql.functions.col("doc_id") < 500),
          cfg = cfg)(_).count())
        for (_ <- 1 to 2) { // the ledger run is long; 2 rounds bound the cost
          val t0 = System.nanoTime()
          n = Scope(spark)(graft.operators.Release.ledger(docs, cfg = cfg)(_).count())
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
      } else {
        val pages = PageGen.materializedPages(spark, nPages)
        Pipeline.run(PageGen.pages(spark, 2000)).count() // JIT/codegen warmup
        for (_ <- 1 to 3) {
          val t0 = System.nanoTime()
          n = Pipeline.run(pages).count()
          best = math.min(best, (System.nanoTime() - t0) / 1e9)
        }
      }
      println(s"""CHILD {"mode":"$mode","executors":$nExec,"cores":$totalCores,"sec":$best,"triples":$n}""")
    } finally spark.stop()
  }

  private def runChild(mode: String, nExec: Int, coresPerExec: Int,
      nPages: Long, workload: String): (Double, Long) = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val jvmOpts = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString)
      .filter(o => o.startsWith("--add-opens") || o.startsWith("-Xmx") || o.startsWith("-D"))
    // in local mode the driver JVM hosts the executor threads: cap its
    // visible processors to model a node of that size (GC/JIT pools
    // scale with the level). In local-cluster the driver does no row
    // work — leave it unpinned.
    val pin = if (mode == "local") Seq(s"-XX:ActiveProcessorCount=${nExec * coresPerExec}")
      else Seq.empty
    val cmd = Seq(javaBin) ++ jvmOpts ++ pin ++
      Seq("-cp", cp, "graft.ScalingBench", "--child", mode, nExec.toString,
        coresPerExec.toString, nPages.toString, workload)
    val out = new StringBuilder
    // keep the last ~200 stderr lines so a child crash is diagnosable
    // (Spark logs to stderr; unbounded capture would hold the whole log)
    val err = new java.util.ArrayDeque[String](256)
    // local-cluster workers launch executors through Spark's command
    // builder, which needs the Scala version when SPARK_HOME is a
    // release layout without build dirs — set it so the bench does not
    // depend on the caller remembering the env var
    val code = Process(cmd, None, "SPARK_SCALA_VERSION" -> "2.13").!(ProcessLogger(
      l => out.append(l).append('\n'),
      l => { if (err.size >= 200) err.removeFirst(); err.addLast(l) }))
    require(code == 0, s"child (mode=$mode exec=$nExec) failed:\n$out\n--- stderr tail ---\n" +
      String.join("\n", err))
    val line = out.toString.linesIterator.find(_.startsWith("CHILD ")).get
    val sec = """"sec":([0-9.]+)""".r.findFirstMatchIn(line).get.group(1).toDouble
    val n = """"triples":(\d+)""".r.findFirstMatchIn(line).get.group(1).toLong
    (sec, n)
  }

  def main(args: Array[String]): Unit = {
    if (args.length >= 6 && args(0) == "--child") {
      measureChild(args(1), args(2).toInt, args(3).toInt, args(4).toLong,
        args(5))
      return
    }
    val mode = sys.env.getOrElse("SPARK_GRAFT_MODE", "local-cluster")
    val workload = sys.env.getOrElse("SPARK_GRAFT_WORKLOAD", "pipeline")
    val nPages =
      if (workload == "release") sys.env.getOrElse("SPARK_GRAFT_DOCS", "5000").toLong
      else sys.env.getOrElse("SPARK_GRAFT_PAGES", "2400000").toLong
    // 2 cores/executor default (the BENCH.md headline row): the 4N
    // level then uses 8 of 32 host cores — the closest this shared
    // sandbox gets to executors on separate machines, since co-hosted
    // executors contend for ONE machine's DRAM bandwidth that real
    // cluster executors never share (this host's own allocation-heavy
    // scaling curve is 0.65 over 4→16 cores; see BENCH.md "host
    // characterization"). Set SPARK_GRAFT_EXEC_CORES=4 +
    // SPARK_GRAFT_PAGES=4800000 for the wider secondary row.
    val coresPerExec = sys.env.getOrElse("SPARK_GRAFT_EXEC_CORES", "2").toInt
    val nLow = sys.env.getOrElse("SPARK_GRAFT_N", "1").toInt // executors at low level
    val nHigh = nLow * 4
    if (mode == "local-cluster") jarPath // fail fast before materializing

    // materialize the shared input once (parent JVM, untimed)
    val prep = SparkSession.builder().master("local[16]")
      .config("spark.ui.enabled", "false").getOrCreate()
    prep.sparkContext.setLogLevel("WARN")
    if (workload == "release") materializedDocs(prep, nPages).count()
    else PageGen.materializedPages(prep, nPages).count()
    prep.stop()

    // interleave levels (L,H,H,L) and take the per-level min so a slow
    // host epoch cannot bias one level; bracket every child with the
    // host probe so a throttled epoch is visible in the artifact
    val probeThreads = nHigh * coresPerExec
    spinOps(probeThreads, 500) // JIT the probe loop before measuring
    val probes = scala.collection.mutable.ArrayBuffer(spinOps(probeThreads, 2000))
    def probed(level: => (Double, Long)): (Double, Long) = {
      val r = level; probes += spinOps(probeThreads, 2000); r
    }
    val (tLow1, triples) = probed(runChild(mode, nLow, coresPerExec, nPages, workload))
    val (tHigh1, _) = probed(runChild(mode, nHigh, coresPerExec, nPages, workload))
    val (tHigh2, _) = probed(runChild(mode, nHigh, coresPerExec, nPages, workload))
    val (tLow2, _) = probed(runChild(mode, nLow, coresPerExec, nPages, workload))
    val tLow = math.min(tLow1, tLow2)
    val tHigh = math.min(tHigh1, tHigh2)
    val thrLow = triples / tLow
    val thrHigh = triples / tHigh
    val eff = (thrHigh / thrLow) / 4.0
    // health = worst probe / best probe; < ~0.7 means some child ran
    // during a throttled epoch and the run should be repeated
    val health = probes.min.toDouble / probes.max
    println(s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio",""" +
      s""""workload":"$workload","mode":"$mode","pages":$nPages,"triples":$triples,""" +
      s""""executors_low":$nLow,"cores_low":${nLow * coresPerExec},"sec_low":$tLow,"triples_per_sec_low":$thrLow,""" +
      s""""executors_high":$nHigh,"cores_high":${nHigh * coresPerExec},"sec_high":$tHigh,"triples_per_sec_high":$thrHigh,""" +
      s""""host_probe_ops":[${probes.mkString(",")}],"host_health":$health}""")
  }
}
