package graftbench

import graft.model.Page
import graft.plans.{Materialize, Pipeline}
import org.apache.spark.sql.{Dataset, SparkSession}

/** One op of a workload's closed loop: the program call that is timed,
  * and the check of its answer, which is not. `rowsOut` counts the
  * triples a read returns or aggregates (0 for writes); `dir` is where the
  * op's files live.
  */
final case class Op[R](kind: String, call: () => R, check: R => Boolean,
    rowsOut: R => Long = (_: R) => 0L, dir: String)

/** Per op kind: Hadoop bytes written during its ops and rows they
  * produced or returned.
  */
final case class Totals(bytesWritten: Long, rows: Long)

/** End-of-run figures a workload reports beside its op latencies. */
final case class Finish(failedChecks: Int, precision: Double, recall: Double,
    tableBytes: Long, liveTriples: Long, triplesPerS: Double,
    report: Seq[(String, Double, String)], tableDir: String)

/** A workload: repeated set-up, a warm-up, an oracle computed once, then
  * a closed loop of ops. `kinds` names the two op kinds whose medians
  * are the end-to-end `op_p50_ms` and `op2_p50_ms`.
  */
abstract class Workload(val spark: SparkSession, val in: Inputs, val root: String) {
  import spark.implicits._
  val Buckets = 32
  def kinds: (String, String)
  /** One set-up: write the page table. Everything else a workload needs
    * before its loop happens once, in `warmup`, on the first set-up's
    * pages; repeating it per set-up would cost more than the loop.
    */
  def setupRep(dir: String, phase: Phase): Unit =
    phase("sources.PageGen.write")(in.writePages(spark, s"$dir/pages"))
  /** Bootstrap what the loop needs and run each op kind once (JIT and
    * codegen), on the first set-up's pages.
    */
  def warmup(phase: Phase): Unit
  def oracle(): Unit
  def op(i: Int): Op[_]
  /** Whether the loop may stop after op `i` once time is up. */
  def mayStopAfter(i: Int): Boolean = true
  def finish(samples: Map[String, Seq[Double]], totals: Map[String, Totals]): Finish

  /** Re-crawl step `s`: 1% of the page ids, each with new content. */
  def delta(s: Int, n: Int): Seq[(Int, Int, Page)] =
    in.pick(s, n).zipWithIndex.map { case (id, k) => (id, k, in.recrawl(id, s, k)) }

  /** Gold triples of the table after the given re-crawls (latest wins). */
  def gold(recrawled: Map[Int, (Int, Int)]): Seq[String] =
    (0 until in.pages).flatMap { id =>
      recrawled.get(id).map { case (s, k) => in.recrawlGold(id, s, k) }.getOrElse(in.baseGold(id))
    }.map(Keys.of)

  /** Page table after the given re-crawls (latest wins). */
  def world(recrawled: Map[Int, (Int, Int)]): Seq[Page] =
    (0 until in.pages).map { id =>
      recrawled.get(id).map { case (s, k) => in.recrawl(id, s, k) }.getOrElse(in.basePage(id))
    }

  def repDir(rep: Int) = s"$root/rep$rep"
  /** The first set-up: its pages are the ones the warm-up, the loop and
    * the checks use.
    */
  def dataDir: String = repDir(0)
  def pages(dir: String): Dataset[Page] = spark.read.parquet(s"$dir/pages").as[Page]
  def ds(ps: Seq[Page]): Dataset[Page] = spark.createDataset(ps)
  def aggregate(df: org.apache.spark.sql.DataFrame): Map[(String, String, String), Long] =
    df.groupBy("headLabel", "propType", "unit").count().collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getLong(3)).toMap
}

/** Times named set-up phases, and records them as spans when traced. */
final class Phase(tracer: Option[Tracer], parent: Int) {
  val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val a = tracer match {
      case Some(t) => t.span(name, parent)(f)
      case None => f
    }
    times(name) = times.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
    a
  }
}

/** `build`: the full graph build (triples, linked and entities tables,
  * 32 buckets) over an at-rest page table, between two triple-table-only
  * builds (the bootstrap maintain and query start from). The in-row
  * annotate chain does most of the triple build's work; the graph build
  * adds the linking shuffle and the canonicalization loop.
  */
final class BuildWorkload(spark: SparkSession, in: Inputs, root: String)
    extends Workload(spark, in, root) {
  val kinds = ("build", "triples")
  private var builtTriples = -1L
  private var goldKeys: Seq[String] = Nil
  private var lastBuildDir = ""

  private def src = pages(dataDir)

  def warmup(phase: Phase): Unit = {
    phase("build")(Materialize.materializeGraph(spark, src, s"$root/warm-graph", Buckets))
    phase("triples")(Materialize.runResumable(spark, src, s"$root/warm-triples", Buckets))
  }

  def oracle(): Unit = {
    goldKeys = (0 until in.pages).flatMap(in.baseGold).map(Keys.of)
    builtTriples = Materialize.readTriples(spark, s"$root/warm-graph").count()
    Disk.delete(s"$root/warm-graph"); Disk.delete(s"$root/warm-triples")
  }

  // per round: triple build, graph build, triple build
  override def mayStopAfter(i: Int): Boolean = i % 3 == 2

  def op(i: Int): Op[_] = {
    val dir = s"$root/op$i"
    val graph = i % 3 == 1
    def sameCount(u: Unit): Boolean = {
      val n = Materialize.readTriples(spark, dir).count()
      if (graph) {
        if (lastBuildDir.nonEmpty) Disk.delete(lastBuildDir)
        lastBuildDir = dir
      } else Disk.delete(dir)
      n == builtTriples
    }
    if (graph)
      Op[Unit]("build", () => Materialize.materializeGraph(spark, src, dir, Buckets),
        sameCount, dir = dir)
    else
      Op[Int]("triples", () => Materialize.runResumable(spark, src, dir, Buckets),
        (_: Int) => sameCount(()), dir = dir)
  }

  def finish(samples: Map[String, Seq[Double]], totals: Map[String, Totals]): Finish = {
    val engine = Keys.collect(Materialize.readTriples(spark, lastBuildDir))
    val (p, r) = Keys.precisionRecall(engine, goldKeys)
    val graphBytes = Disk.bytes(lastBuildDir)
    val buildS = Stats.median(samples("build")) / 1e3
    Finish(if (p < 0.95 || r < 0.95) 1 else 0, p, r, graphBytes, engine.size, builtTriples / buildS,
      Seq(("build_triples_per_s", builtTriples / buildS, "triples/s"),
        ("build_write_bytes_per_triple",
          totals("build").bytesWritten.toDouble / (samples("build").size * builtTriples), "B"),
        ("triples_built", builtTriples.toDouble, "count")),
      lastBuildDir)
  }
}

/** `maintain`: a bootstrapped table takes a stream of 1% re-crawl deltas
  * through merge-on-read `incrementalUpdate`; `compact` runs after every
  * third delta, and the run always ends on a compact. Commit, file-system
  * and driver-planning work dominate; annotate sees only the deltas.
  */
final class MaintainWorkload(spark: SparkSession, in: Inputs, root: String)
    extends Workload(spark, in, root) {
  val kinds = ("update", "compact")
  val deltaPages: Int = math.max(1, in.pages / 100)
  private def table = s"$dataDir/table"
  // latest content of every re-crawled page id: (step, k) of its re-crawl
  private val recrawled = scala.collection.mutable.Map.empty[Int, (Int, Int)]
  private var step = 1
  private var deltaTriples = 0L

  /** Re-crawl step 1 and a compact warm the loop's two op kinds; the
    * measured stream continues from step 2.
    */
  def warmup(phase: Phase): Unit = {
    phase("bootstrap")(Materialize.runResumable(spark, pages(dataDir), table, Buckets))
    val batch = delta(1, deltaPages)
    phase("update")(Materialize.incrementalUpdate(spark, ds(batch.map(_._3)), table, Buckets,
      mergeOnRead = true))
    batch.foreach { case (id, k, _) => recrawled(id) = (1, k) }
    phase("compact")(Materialize.compact(spark, table))
  }

  def oracle(): Unit = ()

  // compaction after every third delta: ops 0,1,2 update, 3 compacts, ...
  override def mayStopAfter(i: Int): Boolean = i % 4 == 3

  def op(i: Int): Op[_] =
    if (i % 4 == 3)
      Op[Set[Int]]("compact", () => Materialize.compact(spark, table), _.nonEmpty, dir = table)
    else {
      step += 1
      val s = step
      val batch = delta(s, deltaPages)
      Op[Materialize.IncrementalStats]("update",
        () => Materialize.incrementalUpdate(spark, ds(batch.map(_._3)), table, Buckets,
          mergeOnRead = true),
        st => {
          batch.foreach { case (id, k, _) => recrawled(id) = (s, k) }
          // expected answer: the pipeline over the batch itself
          val expected = Keys.collect(Pipeline.run(ds(batch.map(_._3))).toDF())
          deltaTriples += expected.size
          val probeUrl = batch.head._3.url
          val got = Keys.collect(Materialize.readTriplesForUrl(spark, table, probeUrl))
          st.appliedUrls == batch.size &&
            Keys.bag(got) == Keys.bag(expected.filter(_.startsWith(probeUrl + "|")))
        }, dir = table)
    }

  def finish(samples: Map[String, Seq[Double]], totals: Map[String, Totals]): Finish = {
    val live = Keys.collect(Materialize.readTriples(spark, table))
    val expected = Keys.collect(Pipeline.run(ds(world(recrawled.toMap))).toDF())
    val (p, r) = Keys.precisionRecall(live, gold(recrawled.toMap))
    val tableBytes = Disk.bytes(table)
    val written = totals.values.map(_.bytesWritten).sum
    val maintS = (samples("update") ++ samples("compact")).sum / 1e3
    Finish(if (Keys.bag(live) == Keys.bag(expected)) 0 else 1, p, r, tableBytes, live.size,
      deltaTriples / maintS,
      Seq(("write_bytes_per_triple", written.toDouble / math.max(1L, deltaTriples), "B"),
        ("table_bytes_per_triple", tableBytes.toDouble / math.max(1, live.size), "B"),
        ("deltas_applied", step - 1.0, "count")),
      table)
  }
}

/** `query`: the same kind of table, left with three uncompacted
  * merge-on-read deltas, serves point lookups (`readTriplesForUrl` on
  * seeded uniform urls, some with no triples), resolved full scans
  * (`readTriples` plus a group-by) and time-travel reads
  * (`readTriplesAsOf` at the bootstrap snapshot, plus the same group-by).
  * Nothing is written or annotated during the loop.
  */
final class QueryWorkload(spark: SparkSession, in: Inputs, root: String)
    extends Workload(spark, in, root) {
  val kinds = ("lookup", "scan")
  val deltaPages: Int = math.max(1, in.pages / 100)
  val Deltas = 3
  private def table = s"$dataDir/table"
  private val lookupIds = in.pick(-1, in.pages)
  private var byUrl = Map.empty[String, KeyBag]
  private var expectedScan = Map.empty[(String, String, String), Long]
  private var expectedAsOf = Map.empty[(String, String, String), Long]
  private var lookups = 0

  def warmup(phase: Phase): Unit = {
    phase("bootstrap")(Materialize.runResumable(spark, pages(dataDir), table, Buckets))
    phase("deltas")((1 to Deltas).foreach { s =>
      Materialize.incrementalUpdate(spark, ds(delta(s, deltaPages).map(_._3)), table, Buckets,
        mergeOnRead = true)
    })
    phase("reads") { lookup(in.url(0)); scan(); asOf() }
  }

  private def scan() = aggregate(Materialize.readTriples(spark, table))
  private def asOf() = aggregate(Materialize.readTriplesAsOf(spark, table, in.bootstrapSnapshotMs))
  private def lookup(url: String) = Keys.collect(Materialize.readTriplesForUrl(spark, table, url))

  // later steps win: the map keeps each id's last re-crawl
  private def recrawled: Map[Int, (Int, Int)] =
    (1 to Deltas).flatMap(s => delta(s, deltaPages).map { case (id, k, _) => id -> (s, k) }).toMap

  def oracle(): Unit = {
    val latest = Pipeline.run(ds(world(recrawled))).toDF()
    byUrl = Keys.collect(latest).groupBy(_.takeWhile(_ != '|')).map { case (u, ks) => u -> Keys.bag(ks) }
    expectedScan = aggregate(latest)
    expectedAsOf = aggregate(Pipeline.run(pages(dataDir)).toDF())
  }

  // per round: lookup, scan, lookup, scan, lookup, as-of read
  override def mayStopAfter(i: Int): Boolean = i % 6 == 5

  def op(i: Int): Op[_] = i % 6 match {
    case 1 | 3 => Op[Map[(String, String, String), Long]]("scan", () => scan(),
      _ == expectedScan, _.values.sum, table)
    case 5 => Op[Map[(String, String, String), Long]]("asof", () => asOf(),
      _ == expectedAsOf, _.values.sum, table)
    case _ =>
      val url = in.url(lookupIds(lookups % lookupIds.size)); lookups += 1
      Op[Seq[String]]("lookup", () => lookup(url),
        got => Keys.bag(got) == byUrl.getOrElse(url, KeyBag(0, 0)), _.size.toLong, table)
  }

  def finish(samples: Map[String, Seq[Double]], totals: Map[String, Totals]): Finish = {
    val live = Keys.collect(Materialize.readTriples(spark, table))
    val (p, r) = Keys.precisionRecall(live, gold(recrawled))
    val tableBytes = Disk.bytes(table)
    val readS = (samples("scan") ++ samples("asof")).sum / 1e3
    Finish(0, p, r, tableBytes, live.size, (totals("scan").rows + totals("asof").rows) / readS,
      Seq(("table_bytes_per_triple", tableBytes.toDouble / math.max(1, live.size), "B")),
      table)
  }
}
