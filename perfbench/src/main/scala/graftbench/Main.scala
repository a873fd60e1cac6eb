package graftbench

import graft.plans.Pipeline
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

/** The KG-construction benchmark. One process, one client, a closed loop
  * at local[4]:
  *
  *   Main --workload build|maintain|query --seed N --seconds S --trace 0|1
  *        --dir RUN_DIR --out TRACE_DIR
  *
  * Prints a report of named metrics with units, then one JSON line with
  * `correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics
  * untraced, the per-layer metrics traced). See perfbench/README.md.
  */
object Main {
  val Slots = 4
  val SetupReps = 5
  /** Pages per workload: build is sized so the annotate chain is a large
    * share of a build; maintain and query are bounded by Spark's per-job
    * cost, not by table size, and use a smaller table.
    */
  val Pages = Map("build" -> 2000, "maintain" -> 1000, "query" -> 1000)
  /** A run is flagged `capped` when its two CPU probes differ by more. */
  val CappedRatio = 0.8
  val ProbeMs = 250L
  /** Hard stop for the loop, past `--seconds`, whatever the op mix. */
  val OverrunS = 60

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      dir: String, out: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv("dir"), kv.getOrElse("out", "perfbench/out"))
    require(Pages.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "seconds must be positive")
    a
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = SparkSession.builder().master(s"local[$Slots]").appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", Slots.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.dir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ok = try { new Run(spark, a).run(); true }
      catch { case e: Throwable => e.printStackTrace(); false }
      finally spark.stop()
    sys.exit(if (ok) 0 else 1)
  }
}

/** Per-op record of a traced op. */
final case class OpTrace(ms: Double, spark: SparkStats, fs: FsCounters, filesCreated: Int,
    rowsOut: Long, phases: Map[String, (Double, Double, Double)])

final class Run(spark: SparkSession, a: Main.Args) {
  import Main._
  private val in = new Inputs(a.seed, Pages(a.workload))
  private val root = s"${a.dir}/${a.workload}"
  private val wl: Workload = a.workload match {
    case "build" => new BuildWorkload(spark, in, root)
    case "maintain" => new MaintainWorkload(spark, in, root)
    case "query" => new QueryWorkload(spark, in, root)
  }
  private val tracer = if (a.trace) Some(new Tracer(spark, Slots)) else None
  private val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val untraced = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  private val traced = mutable.LinkedHashMap.empty[String, ArrayBuffer[OpTrace]]
  private val totals = mutable.Map.empty[String, Totals].withDefaultValue(Totals(0, 0))
  private var attempted = 0
  private var failed = 0
  private var peakHeapMb = 0.0

  private def line(name: String, value: Double, unit: String, note: String = ""): Unit =
    println(f"  $name%-56s ${Json.num(value)}%-22s $unit%-10s $note")

  /** Largest heap occupancy right after a full collection: the live set.
    * The second collection runs after Spark's ContextCleaner has had time
    * to drop the blocks of datasets and broadcasts the first one freed.
    */
  private def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
  }

  private def count(kind: String) =
    samples.get(kind).map(_.size).getOrElse(0) + untraced.get(kind).map(_.size).getOrElse(0)

  private def exec[R](op: Op[R], i: Int): Unit = {
    val isTraced = tracer.isDefined && count(op.kind) % 2 == 0
    tracer.foreach(t => if (isTraced) t.attach() else t.detach())
    val before = if (isTraced) Disk.paths(op.dir) else Set.empty[String]
    val fs0 = FsCounters.now()
    val span = tracer.filter(_ => isTraced).map(_.open(op.kind, -1, i)).getOrElse(-1)
    val t0ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = Try(op.call())
    val ms = (System.nanoTime() - t0) / 1e6
    val t1ms = System.currentTimeMillis()
    if (isTraced) tracer.get.close(span)
    val fs = FsCounters.now() - fs0
    val rows = res.toOption.map(op.rowsOut).getOrElse(0L)
    attempted += 1
    val prev = totals(op.kind)
    totals(op.kind) = Totals(prev.bytesWritten + fs.bytesWritten, prev.rows + rows)
    (if (tracer.isDefined && !isTraced) untraced else samples)
      .getOrElseUpdate(op.kind, ArrayBuffer.empty) += ms
    if (isTraced) {
      val t = tracer.get
      t.drain()
      val (st, jobs, tasks) = t.sparkStats(t0ms, t1ms + 1, span, i)
      val phases = if (op.kind == "build") buildPhases(t, jobs, tasks) else Map.empty[String, (Double, Double, Double)]
      traced.getOrElseUpdate(op.kind, ArrayBuffer.empty) +=
        OpTrace(ms, st, fs, (Disk.paths(op.dir) -- before).size, rows, phases)
    }
    val ok = res.flatMap(r => Try(op.check(r))) match {
      case Success(b) =>
        if (!b) System.err.println(s"op $i (${op.kind}): wrong answer")
        b
      case Failure(e) =>
        System.err.println(s"op $i (${op.kind}) failed: $e"); false
    }
    if (!ok) failed += 1
    if (wl.mayStopAfter(i)) sampleHeap()
  }

  /** Split a graph build's tasks by the table stage their job writes; a
    * job that writes nothing belongs to the stage of the next job that
    * does (the annotate pass feeds the triples write, the A1 gate and
    * dictionary join feed the linked write, the canonicalization loop
    * feeds the entities write). Values: (executor run s, shuffle write
    * bytes, worst stage's max/median task time).
    */
  private def buildPhases(t: Tracer, jobs: Seq[JobRec], tasks: Seq[TaskRec])
      : Map[String, (Double, Double, Double)] = {
    val sorted = jobs.sortBy(_.jobId)
    val written = sorted.map(t.recorder.writtenStage)
    val phaseOf = sorted.indices.flatMap { k =>
      val p = written.drop(k).flatten.headOption.getOrElse("other")
      sorted(k).stageIds.map(_ -> p)
    }.toMap
    tasks.groupBy(x => phaseOf.getOrElse(x.stageId, "other")).map { case (p, ts) =>
      p -> (ts.map(_.runMs).sum / 1e3, ts.map(_.shuffleWrite).sum.toDouble, Tracer.taskSkewMax(ts))
    }
  }

  private def uptimeS() =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  private val readyS = uptimeS()

  def run(): Unit = {
    def setup(r: Int): (Double, Map[String, Double]) = {
      val span = tracer.map(_.open(s"setup.rep$r")).getOrElse(-1)
      val phase = new Phase(tracer, span)
      val t0 = System.nanoTime()
      wl.setupRep(wl.repDir(r), phase)
      val s = (System.nanoTime() - t0) / 1e9
      tracer.foreach(_.close(span))
      (s, phase.times.toMap)
    }
    val first = setup(0)
    val warmSpan = tracer.map(_.open("warmup")).getOrElse(-1)
    val warm = new Phase(tracer, warmSpan)
    wl.warmup(warm)
    tracer.foreach(_.close(warmSpan))
    // the other set-ups repeat the page-table write after the warm-up, so
    // that the median is a warm one; each writes its own directory, which
    // the loop does not use
    val reps = first +: (1 until SetupReps).map { r =>
      val rep = setup(r); Disk.delete(wl.repDir(r)); rep
    }
    wl.oracle()
    sampleHeap()

    // the probes bracket the measured loop, once set-up's JIT work is done
    Probe.spin(Slots, ProbeMs / 2)
    val probeBefore = Probe.spin(Slots, ProbeMs)
    val loopT0 = System.nanoTime()
    val deadline = loopT0 + a.seconds * 1000000000L
    val hardStop = deadline + OverrunS * 1000000000L
    val need = if (a.trace) 2 else 1
    def enough = count(wl.kinds._1) >= need && count(wl.kinds._2) >= need
    var i = 0
    while (i == 0 || System.nanoTime() < hardStop &&
        (System.nanoTime() < deadline || !wl.mayStopAfter(i - 1) || !enough)) {
      exec(wl.op(i), i)
      i += 1
    }
    val loopS = (System.nanoTime() - loopT0) / 1e9
    tracer.foreach(_.detach())

    val all: Map[String, Seq[Double]] = (samples.keySet ++ untraced.keySet).map { k =>
      k -> (samples.getOrElse(k, Nil).toSeq ++ untraced.getOrElse(k, Nil))
    }.toMap.withDefaultValue(Nil)
    val probeAfter = Probe.spin(Slots, ProbeMs)
    val fin = wl.finish(all, totals.toMap)
    sampleHeap()
    val chain = if (a.trace) Some(chainPass()) else None
    failed = math.min(attempted, failed + fin.failedChecks + chain.count(c => !c.matches))
    val probeRatio = math.min(probeBefore, probeAfter).toDouble / math.max(probeBefore, probeAfter)

    println(s"graft perfbench: workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} pages=${in.pages} slots=$Slots")
    line("host.probe_ops_before", probeBefore.toDouble, "ops", s"$Slots-thread spin, $ProbeMs ms")
    line("host.probe_ops_after", probeAfter.toDouble, "ops")
    line("host.probe_ratio", probeRatio, "ratio",
      if (probeRatio < CappedRatio) s"CAPPED (below $CappedRatio)" else s"ok (capped below $CappedRatio)")
    line("setup_s", Stats.median(reps.map(_._1)), "s",
      s"median of $SetupReps: ${reps.map(r => f"${r._1}%.3f").mkString(", ")}")
    reps.head._2.keys.foreach { ph =>
      line(s"$ph.s", Stats.median(reps.map(_._2(ph))), "s", s"median of $SetupReps set-ups")
    }
    warm.times.foreach { case (k, v) => line(s"warmup.$k.s", v, "s", "once, after set-up; not in setup_s") }
    line("loop_s", loopS, "s", s"$i ops")
    line("jvm_ready_s", readyS, "s", "JVM start to Spark session ready")
    line("jvm_uptime_s", uptimeS(), "s", "JVM start to this report")
    all.toSeq.sortBy(_._1).foreach { case (k, xs) =>
      val (scale, unit) = if (k == "lookup") (1.0, "ms") else (1e3, "s")
      line(s"${k}_p50_$unit", Stats.median(xs) / scale, unit, s"n=${xs.size}")
      Stats.tail(xs) match {
        case Some((p, v)) => line(s"${k}_tail_$unit", v / scale, unit, s"p$p, n=${xs.size}")
        case None => line(s"${k}_tail_$unit", xs.max / scale, unit,
          s"max: n=${xs.size} < 20 leaves no percentile with ten samples beyond it")
      }
    }
    fin.report.foreach { case (k, v, u) => line(k, v, u) }
    line("triple_precision", fin.precision, "ratio")
    line("triple_recall", fin.recall, "ratio")
    line("peak_heap_mb", peakHeapMb, "MB", "largest heap after a full GC")
    line("failed_frac", failed.toDouble / attempted, "ratio", s"$failed of $attempted ops")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", Stats.median(reps.map(_._1)), "s"),
        ("op_p50_ms", Stats.median(all(wl.kinds._1)), "ms"),
        ("op2_p50_ms", Stats.median(all(wl.kinds._2)), "ms"),
        ("triples_per_s", fin.triplesPerS, "triples/s"),
        ("table_bytes_per_triple", fin.tableBytes.toDouble / math.max(1L, fin.liveTriples), "B"),
        ("peak_heap_mb", peakHeapMb, "MB"),
        ("triple_precision", fin.precision, "ratio"),
        ("triple_recall", fin.recall, "ratio"))
      else layerMetrics(reps.map(_._2), fin, chain.get)

    if (a.trace) {
      val path = java.nio.file.Paths.get(a.out, s"trace-${a.workload}-seed${a.seed}.jsonl")
      tracer.get.writeSpans(path)
      println(s"  spans written to $path")
    }
    println(Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }

  final case class ChainPass(result: Chain.Result, sparkTriples: Long) {
    def matches: Boolean = result.triples == sparkTriples
  }

  /** The single-threaded in-row chain over the base pages (a first pass
    * warms the JIT, the second is measured), checked against the triple
    * count of `Pipeline.run` over the same pages: a pass that drifts from
    * the pipeline would time other work than a build does.
    */
  private def chainPass(): ChainPass = {
    val pages = (0 until in.pages).map(in.basePage)
    Chain.run(pages)
    val c = ChainPass(Chain.run(pages), Pipeline.run(wl.pages(wl.dataDir)).count())
    if (!c.matches) System.err.println(
      s"in-row chain pass: ${c.result.triples} triples, Spark pipeline: ${c.sparkTriples}")
    c
  }

  /** Per-layer metrics of a traced run. Role names (`op`, `op2`) keep the
    * set identical across workloads; the report lines name the op kind.
    */
  private def layerMetrics(reps: Seq[Map[String, Double]], fin: Finish, chain: ChainPass)
      : Seq[(String, Double, String)] = {
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else Stats.median(xs)
    def sparkFields(k: String): Seq[(String, Double, String)] = {
      val ts = traced.getOrElse(k, Nil).toSeq
      def m(f: SparkStats => Double) = med(ts.map(t => f(t.spark)))
      Seq(("jobs", m(_.jobs), "count"), ("tasks", m(_.tasks), "count"),
        ("planning_ms", m(_.planningMs), "ms"), ("driver_serial_s", m(_.driverSerialS), "s"),
        ("executor_run_s", m(_.executorRunS), "s"), ("executor_cpu_s", m(_.executorCpuS), "s"),
        ("gc_s", m(_.gcS), "s"), ("slot_busy_ratio", m(_.slotBusyRatio), "ratio"),
        ("shuffle_write_bytes", m(_.shuffleWriteBytes), "B"),
        ("shuffle_read_bytes", m(_.shuffleReadBytes), "B"),
        ("spill_bytes", m(_.spillBytes), "B"), ("task_skew_max", m(_.taskSkewMax), "ratio"))
    }
    def storageFields(k: String): Seq[(String, Double, String)] = {
      val ts = traced.getOrElse(k, Nil).toSeq
      Seq(("fs_bytes_written", med(ts.map(_.fs.bytesWritten.toDouble)), "B"),
        ("fs_bytes_read", med(ts.map(_.fs.bytesRead.toDouble)), "B"),
        ("files_created", med(ts.map(_.filesCreated.toDouble)), "count"),
        ("commit_tail_s", med(ts.map(_.spark.commitTailS)), "s"),
        ("rows_read_per_row_out", med(ts.map(t =>
          t.spark.recordsRead / math.max(1.0, t.rowsOut + t.spark.recordsWritten))), "ratio"))
    }
    def overhead(k: String) = med(traced.getOrElse(k, Nil).map(_.ms).toSeq) /
      med(untraced.getOrElse(k, Nil).toSeq) - 1
    val triplesDir = s"${fin.tableDir}/triples"
    val deltaToBase = Disk.bytes(s"$triplesDir/delta").toDouble /
      math.max(1L, Disk.bytes(s"$triplesDir/data"))
    val filesLive = Disk.dataFiles(fin.tableDir).toDouble

    // report: the same figures under each op kind's own name
    println("  -- per layer (traced ops only; medians over ops) --")
    chain.result.metrics.foreach { case (k, v, u) => line(k, v, u) }
    line("chain.triples", chain.result.triples.toDouble, "count",
      s"Spark pipeline over the same pages: ${chain.sparkTriples}" + (if (chain.matches) "" else " MISMATCH"))
    traced.keys.foreach { k =>
      sparkFields(k).foreach { case (f, v, u) => line(s"spark.$k.$f", v, u, s"n=${traced(k).size}") }
      storageFields(k).foreach { case (f, v, u) => line(s"plans.Materialize.$k.$f", v, u) }
      line(s"trace.$k.overhead_frac", overhead(k), "ratio",
        s"traced ${traced(k).size} vs untraced ${untraced.getOrElse(k, Nil).size} ops")
    }
    traced.get("build").foreach { ts =>
      for (p <- Seq("triples", "linked", "entities")) {
        val name = if (p == "linked") "linking" else p
        val xs = ts.toSeq.flatMap(_.phases.get(p))
        line(s"spark.build.$name.executor_run_s", med(xs.map(_._1)), "s")
        line(s"spark.build.$name.shuffle_write_bytes", med(xs.map(_._2)), "B")
        line(s"spark.build.$name.task_skew_max", med(xs.map(_._3)), "ratio")
      }
    }
    line("plans.Materialize.table.files_live", filesLive, "count")
    line("plans.Materialize.table.delta_to_base_bytes", deltaToBase, "ratio")

    val (k1, k2) = wl.kinds
    Seq(("sources.PageGen.write_s", Stats.median(reps.map(_("sources.PageGen.write"))), "s")) ++
      chain.result.metrics ++
      sparkFields(k1).map { case (f, v, u) => (s"spark.op.$f", v, u) } ++
      sparkFields(k2).map { case (f, v, u) => (s"spark.op2.$f", v, u) } ++
      storageFields(k1).map { case (f, v, u) => (s"plans.Materialize.op.$f", v, u) } ++
      storageFields(k2).map { case (f, v, u) => (s"plans.Materialize.op2.$f", v, u) } ++
      Seq(("plans.Materialize.table.files_live", filesLive, "count"),
        ("plans.Materialize.table.delta_to_base_bytes", deltaToBase, "ratio"),
        ("trace.op.overhead_frac", overhead(k1), "ratio"),
        ("trace.op2.overhead_frac", overhead(k2), "ratio"))
  }
}

/** CPU spin probe (same shape as `ScalingBench.spinOps`): operations
  * `threads` threads complete in `ms` milliseconds. Two probes per run
  * that disagree show the host's CPU allowance changed during the run.
  */
object Probe {
  def spin(threads: Int, ms: Long): Long = {
    val end = System.currentTimeMillis() + ms
    val cnt = new java.util.concurrent.atomic.AtomicLong
    val ts = (0 until threads).map { k =>
      val t = new Thread(() => {
        var c = 0L
        while (System.currentTimeMillis() < end) {
          var j = 0
          while (j < 10000) { c += j * 31 + k; j += 1 }
        }
        cnt.addAndGet(c / 10000)
        ()
      })
      t.start(); t
    }
    ts.foreach(_.join())
    cnt.get()
  }
}
