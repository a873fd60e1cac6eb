package graft

import graft.model.Page
import graft.plans.Materialize
import graft.sources.PageGen
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files

/** Crash-consistency of every table writer, by exhaustive fault
  * injection: for each operation, a crash is injected before EVERY
  * counted file-system op it performs (see [[FaultyFs]]). At each crash
  * point the table must read as its pre-state or its post-state —
  * nothing in between — and re-running the same call must leave exactly
  * the table of a crash-free run (row multiset including `seq`, and the
  * time-travel horizon).
  */
class CommitSweepSpec extends AnyFunSuite {

  private lazy val spark = { val s = SparkSpec.spark; FaultyFs.install(s); s }
  private val B = 4
  private val base = (0L until 10L).map(PageGen.genPage(_).page)

  private def ds(ps: Seq[Page]): Dataset[Page] = {
    import spark.implicits._
    spark.createDataset(ps)
  }

  import TripleFixtures.recrawl

  private val rowKey =
    "concat_ws('|', url, sentId, headLabel, headText, propType, valueLabel, valueText, value, unit, seq)"

  /** What a reader can observe: the triple rows (with seq) as a sorted
    * multiset, the horizon, the linked rows, the entity rows and the
    * lineage as sorted (stage, bucket, rows) — its times differ between
    * runs.
    */
  private case class State(triples: Seq[String], horizonMs: Long, linked: Seq[String],
      entities: Seq[String], lineage: Seq[(String, Int, Long)]) {
    /** The part of the state one stage dir's commits change. */
    def of(stage: String): Product = {
      val own = lineage.filter(l => stage match {
        case Materialize.StageLinked | Materialize.StageEntities => l._1 == stage
        case _ => l._1 != Materialize.StageLinked && l._1 != Materialize.StageEntities
      })
      stage match {
        case Materialize.StageLinked => (linked, own)
        case Materialize.StageEntities => (entities, own)
        case _ => (triples, horizonMs, own)
      }
    }
  }

  private val stages = Seq(Materialize.StageTriples, Materialize.StageLinked, Materialize.StageEntities)

  private def state(dir: String): State = {
    val t = Materialize.latestSnapshot(spark, s"$dir/triples")
    def keys(stage: String, rows: => org.apache.spark.sql.DataFrame, expr: String) =
      if (Materialize.latestSnapshot(spark, s"$dir/$stage").entries.isEmpty) Nil
      else rows.selectExpr(expr).collect().map(_.getString(0)).toSeq.sorted
    State(
      keys("triples", Materialize.readTriplesWithSeq(spark, dir), rowKey),
      t.horizonMs,
      keys("linked", Materialize.readLinked(spark, dir),
        "concat_ws('|', url, sentId, headText, valueText, cast(cid as string))"),
      keys("entities", Materialize.readEntities(spark, dir),
        "concat_ws('|', clusterId, cid, canonicalName)"),
      Materialize.lineage(spark, dir).collect().map(r => (r.stage, r.bucket, r.rows)).toSeq.sorted)
  }

  private def copyRec(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs(); src.listFiles().foreach(f => copyRec(f, new File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath)

  private def rmRec(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmRec); f.delete(); ()
  }

  /** Sweep a crash over every counted op of `op` applied to the state
    * `setup` builds; prints the number of crash points.
    */
  private def sweep(name: String)(setup: String => Unit)(op: String => Unit): Unit = {
    val root = Files.createTempDirectory(s"graft-sweep-$name").toFile
    val pre = new File(root, "pre")
    pre.mkdirs()
    setup(FaultyFs.uri(pre))
    def fresh(tag: String): File = { val d = new File(root, tag); copyRec(pre, d); d }

    val clean = fresh("clean")
    FaultyFs.arm(Long.MaxValue)
    op(FaultyFs.uri(clean))
    val ops = FaultyFs.log
    FaultyFs.disarm()
    val preS = state(FaultyFs.uri(pre))
    val postS = state(FaultyFs.uri(clean))
    assert(preS != postS, s"$name: the operation must change the table")
    val swaps = ops.indices.filter(i => ops(i).matches("""rename .*/snapshots/v\d+""")).map(_ + 1)
    assert(swaps.nonEmpty && swaps.head > 1 && swaps.last < ops.size,
      s"$name: no crash point before or after the snapshot swap(s) at $swaps:\n${ops.mkString("\n")}")

    for (k <- 1 to ops.size) {
      val dir = fresh(s"k$k")
      val d = FaultyFs.uri(dir)
      FaultyFs.arm(k)
      try op(d) catch { case _: Exception => () }
      FaultyFs.disarm()
      val s = state(d)
      assert(stages.forall(st => s.of(st) == preS.of(st) || s.of(st) == postS.of(st)),
        s"$name: crash before op $k (${ops(k - 1)}) left a state that is neither pre nor post")
      op(d)
      assert(state(d) == postS,
        s"$name: recovery after a crash before op $k (${ops(k - 1)}) differs from the crash-free run")
      rmRec(dir)
    }
    rmRec(root)
    println(s"[sweep] $name: ${ops.size} crash points, snapshot swap(s) at op ${swaps.mkString(", ")}")
  }

  private val half = Some(Set(0, 1))
  private val newUrl = PageGen.genPage(40).page
  private val v1 = Seq(recrawl(2, 502, tsPlusDays = 10), recrawl(5, 505, tsPlusDays = 10))
  private val v2 = Seq(recrawl(2, 602, tsPlusDays = 20), recrawl(7, 507, tsPlusDays = 20), newUrl)

  test("runResumable: every crash point reads pre or post; resume equals the crash-free run") {
    sweep("runResumable") { d =>
      Materialize.runResumable(spark, ds(base), d, B, onlyBuckets = half)
      // an upsert landing in buckets the bootstrap has not reached yet
      Materialize.incrementalUpdate(spark, ds(Seq(newUrl)), d, B)
    } { d => Materialize.runResumable(spark, ds(base), d, B) }
  }

  test("materializeGraph: every crash point reads pre or post per stage; resume equals the crash-free run") {
    sweep("materializeGraph") { d =>
      // two partial builds: the op's triples and linked commits then
      // expire a snapshot file after their swaps, a crash point too
      Materialize.materializeGraph(spark, ds(base), d, B, onlyBuckets = Some(Set(0)))
      Materialize.materializeGraph(spark, ds(base), d, B, onlyBuckets = half)
      // a build that crashed before its entity stage opened: the op
      // commits all three stages
      rmRec(new File(new java.net.URI(d).getPath, Materialize.StageEntities))
    } { d => Materialize.materializeGraph(spark, ds(base), d, B) }
  }

  test("copy-on-write incrementalUpdate: every crash point reads pre or post; redelivery equals the crash-free run") {
    sweep("cow") { d =>
      Materialize.runResumable(spark, ds(base), d, B)
      Materialize.incrementalUpdate(spark, ds(v1), d, B, mergeOnRead = true)
    } { d => Materialize.incrementalUpdate(spark, ds(v2), d, B) }
  }

  test("merge-on-read incrementalUpdate: every crash point reads pre or post; redelivery equals the crash-free run") {
    sweep("mor") { d =>
      Materialize.runResumable(spark, ds(base), d, B)
      Materialize.incrementalUpdate(spark, ds(v1), d, B, mergeOnRead = true)
    } { d => Materialize.incrementalUpdate(spark, ds(v2), d, B, mergeOnRead = true) }
  }

  test("compact: every crash point reads pre or post; re-running compact equals the crash-free run") {
    sweep("compact") { d =>
      Materialize.runResumable(spark, ds(base), d, B)
      Materialize.incrementalUpdate(spark, ds(v1), d, B, mergeOnRead = true)
      Materialize.incrementalUpdate(spark, ds(v2), d, B, mergeOnRead = true)
    } { d => Materialize.compact(spark, d) }
  }

  test("a crashed write's unnamed dirs are invisible, survive compact inside the GC grace, and are collected past it") {
    val dir = Files.createTempDirectory("graft-sweep-gc").toFile
    val d = FaultyFs.uri(dir)
    Materialize.runResumable(spark, ds(base), d, B)
    val before = state(d)
    // crash the merge-on-read commit AT its snapshot swap: delta and
    // versions are fully written, but no snapshot names them
    val probe = Files.createTempDirectory("graft-sweep-gc-probe").toFile
    copyRec(dir, probe)
    FaultyFs.arm(Long.MaxValue)
    Materialize.incrementalUpdate(spark, ds(v1), FaultyFs.uri(probe), B, mergeOnRead = true)
    FaultyFs.arm(FaultyFs.log.indexWhere(_.matches("""rename .*/snapshots/v\d+""")) + 1L)
    intercept[java.io.IOException] {
      Materialize.incrementalUpdate(spark, ds(v1), d, B, mergeOnRead = true)
    }
    FaultyFs.disarm()
    rmRec(probe)
    def batchDirs(root: String) =
      Option(new File(dir, s"triples/$root").listFiles()).toSeq.flatten.filter(_.isDirectory)
    val orphans = batchDirs("delta") ++ batchDirs("versions")
    assert(orphans.nonEmpty, "precondition: the crashed commit left its written dirs behind")
    assert(state(d) == before, "unnamed dirs leaked into the read path")
    // inside the grace window the dirs are indistinguishable from an
    // in-flight commit and must survive
    assert(Materialize.compact(spark, d).isEmpty)
    assert(orphans.forall(_.exists()), "compact collected dirs inside the GC grace window")
    // aged past the grace they are collected; the table is unchanged
    val old = System.currentTimeMillis() - Materialize.DefaultGcGraceMs - 60000L
    orphans.foreach(_.setLastModified(old))
    assert(Materialize.compact(spark, d).isEmpty)
    assert(orphans.forall(!_.exists()), "compact must collect unnamed dirs past the grace window")
    assert(state(d) == before)
    // the redelivery is not stale (nothing of it was committed) and applies
    assert(Materialize.incrementalUpdate(spark, ds(v1), d, B, mergeOnRead = true).appliedUrls == 2)
  }

  test("compact collects aged unnamed dirs in every stage: triples, linked and entities") {
    val dir = Files.createTempDirectory("graft-sweep-gc-stages").toFile
    val d = FaultyFs.uri(dir)
    Materialize.materializeGraph(spark, ds(base), d, B)
    val before = state(d)
    // what a crashed write of each stage leaves: a data dir no snapshot
    // names, holding a copy of a committed bucket's files
    val orphans = Seq(Materialize.StageTriples, Materialize.StageLinked, Materialize.StageEntities)
      .map { stage =>
        val committed = new File(dir, s"$stage/data").listFiles().filter(_.isDirectory).head
        val orphan = new File(dir, s"$stage/data/batch=crashed-$stage")
        copyRec(committed, orphan)
        orphan
      }
    assert(state(d) == before, "unnamed dirs leaked into the read path")
    assert(Materialize.compact(spark, d).isEmpty)
    assert(orphans.forall(_.exists()), "compact collected dirs inside the GC grace window")
    val old = System.currentTimeMillis() - Materialize.DefaultGcGraceMs - 60000L
    orphans.foreach(_.setLastModified(old))
    assert(Materialize.compact(spark, d).isEmpty)
    assert(orphans.forall(!_.exists()),
      s"compact left unnamed dirs: ${orphans.filter(_.exists()).mkString(", ")}")
    assert(state(d) == before)
  }

  test("a commit that loses the snapshot rename retries onto the winner's state, or fails loudly if the winner replaced what it folded") {
    def table(tag: String): String = {
      val d = FaultyFs.uri(Files.createTempDirectory(s"graft-sweep-race-$tag").toFile)
      Materialize.runResumable(spark, ds(base), d, B)
      Materialize.incrementalUpdate(spark, ds(v1), d, B, mergeOnRead = true)
      d
    }
    /** Run `op`, letting `other` commit right before op's first snapshot rename. */
    def racing[A](d: String)(other: => Unit)(op: => A): A = {
      var fired = false
      FaultyFs.beforeRename = p =>
        if (!fired && p.toString.contains("/snapshots/v")) { fired = true; other }
      try op finally FaultyFs.beforeRename = _ => ()
    }
    // a stream batch commits while compact folds v1: compact re-reads,
    // finds everything it replaces still live and commits on top — the
    // batch stays live next to the folded base
    val sequential = table("seq")
    val folded = Materialize.compact(spark, sequential)
    Materialize.incrementalUpdate(spark, ds(v2), sequential, B, mergeOnRead = true)
    val raced = table("mor")
    assert(racing(raced)(Materialize.incrementalUpdate(spark, ds(v2), raced, B, mergeOnRead = true))(
      Materialize.compact(spark, raced)) == folded)
    assert(state(raced) == state(sequential))
    assert(Materialize.latestSnapshot(spark, s"$raced/triples").version == 4)
    // a second compact wins the race: what the first one folded is gone
    val twice = table("compact")
    val e = intercept[IllegalArgumentException] {
      racing(twice)(Materialize.compact(spark, twice))(Materialize.compact(spark, twice))
    }
    assert(e.getMessage.contains("concurrent commit"))
    val once = table("once")
    Materialize.compact(spark, once)
    assert(state(twice) == state(once))
    // two first writers with different bucket counts: the winner's count
    // is the table's, and the loser fails loudly rather than committing
    // its rows under another bucket numbering
    val first = FaultyFs.uri(Files.createTempDirectory("graft-sweep-race-buckets").toFile)
    val e2 = intercept[IllegalArgumentException] {
      racing(first)(Materialize.runResumable(spark, ds(base), first, 2 * B, Some(Set(B, B + 1))))(
        Materialize.runResumable(spark, ds(base), first, B))
    }
    assert(e2.getMessage.contains(s"concurrent commit to $first/triples recorded ${2 * B} buckets"),
      e2.getMessage)
    assert(Materialize.tableBuckets(spark, first) == 2 * B)
    // the loser's rerun resumes under the winner's numbering
    assert(Materialize.runResumable(spark, ds(base), first, B) == 2 * B - 2)
    val wide = FaultyFs.uri(Files.createTempDirectory("graft-sweep-race-wide").toFile)
    Materialize.runResumable(spark, ds(base), wide, 2 * B)
    assert(state(first) == state(wide))
  }
}
