package graft

import graft.model.Page
import graft.plans.{Materialize, Pipeline}
import graft.sources.PageGen
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.sql.Timestamp

/** Incremental latest-crawl-wins maintenance of the materialized triple
  * table: equivalence to full recompute, stale/out-of-order rejection,
  * idempotent re-delivery, and delta-only partition touch.
  */
class IncrementalSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val B = 8

  private def ds(ps: Seq[Page]): Dataset[Page] = {
    import spark.implicits._
    spark.createDataset(ps)
  }

  import TripleFixtures.{tripleKeys, recrawl}

  private def batchDirs(root: String): Seq[java.io.File] =
    Option(new java.io.File(root).listFiles()).toSeq.flatten.filter(_.isDirectory)

  private def rmRec(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmRec); f.delete(); ()
  }

  private def copyRec(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs(); src.listFiles().foreach(f => copyRec(f, new java.io.File(dst, f.getName)))
    } else Files.copy(src.toPath, dst.toPath)

  /** A bootstrapped table under the crash-injecting `faulty:` scheme
    * (see [[FaultyFs]]): its local dir and its uri.
    */
  private def faultyTable(tag: String, base: Seq[Page]): (java.io.File, String) = {
    FaultyFs.install(spark)
    val dir = Files.createTempDirectory(tag).toFile
    val d = FaultyFs.uri(dir)
    Materialize.runResumable(spark, ds(base), d, B)
    (dir, d)
  }

  /** Crash `op` on `dir` before the first counted FS op whose log line
    * matches `at` — a process killed at that instant. A crash-free run
    * on a copy finds the op's position.
    */
  private def crashAt(dir: java.io.File, at: String)(op: String => Unit): Unit = {
    val probe = Files.createTempDirectory("graft-incr-probe").toFile
    rmRec(probe)
    copyRec(dir, probe)
    FaultyFs.arm(Long.MaxValue)
    op(FaultyFs.uri(probe))
    val k = FaultyFs.log.indexWhere(_.matches(at)) + 1
    FaultyFs.disarm()
    rmRec(probe)
    assert(k > 0, s"no op matches $at")
    FaultyFs.arm(k)
    val crashed = try { op(FaultyFs.uri(dir)); false } catch { case _: Exception => true }
    FaultyFs.disarm()
    assert(crashed, s"no crash injected at op $k")
  }

  /** The first counted op of the versions write: the delta rows are
    * written, the batch's versions (its tombstones) are not.
    */
  private val versionsWrite = """\w+ .*/triples/versions/batch=.*"""
  /** The snapshot swap: delta and versions are fully written, unnamed. */
  private val snapshotSwap = """rename .*/triples/snapshots/v\d+"""

  test("bootstrap + recrawl/new batch == full recompute over the latest world") {
    val dir = Files.createTempDirectory("graft-incr").toString
    val base = (0L until 40L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, ds(base), dir, B)

    // batch: 5 re-crawled-with-new-content urls + 5 brand-new urls
    val recrawled = (10L until 15L).map(i => recrawl(i, i + 500, tsPlusDays = 30))
    val brandNew = (40L until 45L).map(PageGen.genPage(_).page)
    val stats = Materialize.incrementalUpdate(spark, ds(recrawled ++ brandNew), dir, B)
    assert(stats.appliedUrls == 10 && stats.staleUrls == 0)

    val world = base.filterNot(p => recrawled.exists(_.url == p.url)) ++
      recrawled ++ brandNew
    assert(tripleKeys(Materialize.readTriples(spark, dir)) ==
      tripleKeys(Pipeline.run(ds(world)).toDF()))
  }

  test("stale and equal-ts redelivery is rejected; table bytes untouched") {
    val dir = Files.createTempDirectory("graft-incr-stale").toString
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, ds(base), dir, B)
    val batch = Seq(recrawl(3, 503, tsPlusDays = 30))
    assert(Materialize.incrementalUpdate(spark, ds(batch), dir, B).appliedUrls == 1)
    val keysAfter = tripleKeys(Materialize.readTriples(spark, dir))

    // exact redelivery (equal ts) → stale
    val s1 = Materialize.incrementalUpdate(spark, ds(batch), dir, B)
    assert(s1.appliedUrls == 0 && s1.staleUrls == 1 && s1.affectedBuckets.isEmpty)
    // an OLDER crawl of the same url (the original content) → stale
    val s2 = Materialize.incrementalUpdate(spark,
      ds(Seq(PageGen.genPage(3).page)), dir, B)
    assert(s2.appliedUrls == 0 && s2.staleUrls == 1)
    assert(tripleKeys(Materialize.readTriples(spark, dir)) == keysAfter)
  }

  test("out-of-order batch application converges to the same table") {
    val dirF = Files.createTempDirectory("graft-incr-fwd").toString
    val dirR = Files.createTempDirectory("graft-incr-rev").toString
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    val v2 = Seq(recrawl(5, 505, tsPlusDays = 10), recrawl(6, 506, tsPlusDays = 10))
    val v3 = Seq(recrawl(5, 605, tsPlusDays = 20)) // url 5 crawled again later
    for (d <- Seq(dirF, dirR)) Materialize.runResumable(spark, ds(base), d, B)
    Materialize.incrementalUpdate(spark, ds(v2), dirF, B)
    Materialize.incrementalUpdate(spark, ds(v3), dirF, B)
    // reversed delivery: v3 first, then v2 — url 5's v2 must be rejected
    Materialize.incrementalUpdate(spark, ds(v3), dirR, B)
    val s = Materialize.incrementalUpdate(spark, ds(v2), dirR, B)
    assert(s.appliedUrls == 1 && s.staleUrls == 1) // url 6 applies, url 5 stale
    assert(tripleKeys(Materialize.readTriples(spark, dirF)) ==
      tripleKeys(Materialize.readTriples(spark, dirR)))
  }

  test("delta-only touch: unaffected bucket directories keep their files byte-identical") {
    val dir = Files.createTempDirectory("graft-incr-delta").toString
    val base = (0L until 40L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, ds(base), dir, B)

    def fileStamps(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(Materialize.dataPath(dir)))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = fileStamps()
    val stats = Materialize.incrementalUpdate(spark,
      ds(Seq(recrawl(7, 507, tsPlusDays = 30))), dir, B)
    assert(stats.affectedBuckets.size == 1)
    val bk = stats.affectedBuckets.head
    val after = fileStamps()
    val untouchedBefore = before.filterNot(_._1.contains(s"bucket=$bk"))
    val untouchedAfter = after.filterNot(_._1.contains(s"bucket=$bk"))
    assert(untouchedBefore == untouchedAfter,
      "an incremental update must not rewrite unaffected bucket partitions")
    // the affected bucket WAS rewritten
    assert(before.keySet.filter(_.contains(s"bucket=$bk")) !=
      after.keySet.filter(_.contains(s"bucket=$bk")))

    // versions read is partition-pruned (PartitionFilters on bucket)
    val v = Materialize.readVersions(spark, dir, Set(bk))
    v.count()
    val scan = v.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("bucket"),
      s"expected bucket partition pruning in versions scan:\n$scan")
  }

  test("merge-on-read: same final table as COW and as full recompute; NO existing data file touched") {
    val dirC = Files.createTempDirectory("graft-incr-cow").toString
    val dirM = Files.createTempDirectory("graft-incr-mor").toString
    val base = (0L until 40L).map(PageGen.genPage(_).page)
    val recrawled = (10L until 15L).map(i => recrawl(i, i + 500, tsPlusDays = 30))
    val brandNew = (40L until 45L).map(PageGen.genPage(_).page)
    for (d <- Seq(dirC, dirM)) Materialize.runResumable(spark, ds(base), d, B)

    def allStamps(d: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(Materialize.dataPath(d)))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.lastModified()).toMap
    }
    val before = allStamps(dirM)
    Materialize.incrementalUpdate(spark, ds(recrawled ++ brandNew), dirC, B)
    val sM = Materialize.incrementalUpdate(spark, ds(recrawled ++ brandNew), dirM, B,
      mergeOnRead = true)
    assert(sM.appliedUrls == 10)
    assert(allStamps(dirM) == before,
      "merge-on-read must not touch any existing base data file")

    val world = base.filterNot(p => recrawled.exists(_.url == p.url)) ++
      recrawled ++ brandNew
    val expect = tripleKeys(Pipeline.run(ds(world)).toDF())
    assert(tripleKeys(Materialize.readTriples(spark, dirM)) == expect)
    assert(tripleKeys(Materialize.readTriples(spark, dirC)) == expect)

    // stale/out-of-order rejection works identically under MoR
    val s2 = Materialize.incrementalUpdate(spark,
      ds(Seq(PageGen.genPage(12).page)), dirM, B, mergeOnRead = true)
    assert(s2.appliedUrls == 0 && s2.staleUrls == 1)

    // compact folds deltas into the base and consolidates versions into
    // batch=base: same rows, delta dir gone, no un-compacted batches left
    val compacted = Materialize.compact(spark, dirM)
    assert(compacted == sM.affectedBuckets)
    assert(tripleKeys(Materialize.readTriples(spark, dirM)) == expect)
    assert(batchDirs(Materialize.deltaPath(dirM)).isEmpty)
    val snap = Materialize.latestSnapshot(spark, s"$dirM/triples")
    assert(snap.of(Materialize.Delta, Materialize.Tomb).isEmpty)
    val vBatches = batchDirs(Materialize.versionsPath(dirM)).map(_.getName).toSet
    assert(vBatches == snap.of(Materialize.VBase).map(e => s"batch=${e.id}"),
      s"expected only the consolidated versions batches, got $vBatches")
    assert(Materialize.compact(spark, dirM).isEmpty) // idempotent no-op

    // a later MoR batch after compaction still resolves
    val s3 = Materialize.incrementalUpdate(spark,
      ds(Seq(recrawl(12, 712, tsPlusDays = 60))), dirM, B, mergeOnRead = true)
    assert(s3.appliedUrls == 1)
    val world2 = world.filterNot(_.url == PageGen.genPage(12).page.url) :+
      recrawl(12, 712, tsPlusDays = 60)
    assert(tripleKeys(Materialize.readTriples(spark, dirM)) ==
      tripleKeys(Pipeline.run(ds(world2)).toDF()))
  }

  test("MoR crash replay is idempotent: wiping versions and re-applying the same batch changes nothing") {
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    val batch = Seq(recrawl(4, 504, tsPlusDays = 30), PageGen.genPage(20).page)
    val (dir, d) = faultyTable("graft-incr-replay", base)
    // the crash-free result of applying the batch once
    val (_, ref) = faultyTable("graft-incr-replay-ref", base)
    Materialize.incrementalUpdate(spark, ds(batch), ref, B, mergeOnRead = true)
    val keys = tripleKeys(Materialize.readTriples(spark, ref))
    val rows = Materialize.readTriples(spark, ref).count()
    // a crash that wrote the delta rows but lost the versions write:
    // the replayed batch must apply exactly once, not duplicate them
    crashAt(dir, versionsWrite) { t =>
      Materialize.incrementalUpdate(spark, ds(batch), t, B, mergeOnRead = true)
    }
    val s = Materialize.incrementalUpdate(spark, ds(batch), d, B, mergeOnRead = true)
    assert(s.appliedUrls == 2) // versions never committed → batch re-applies
    assert(tripleKeys(Materialize.readTriples(spark, d)) == keys)
    // and row MULTIPLICITY is unchanged too (no duplicate delta rows)
    assert(Materialize.readTriples(spark, d).count() == rows)
    assert(Materialize.readTriples(spark, d).count() ==
      Materialize.readTriples(spark, d).distinct().count())
    // a second replay, after the commit, is a stale no-op
    assert(Materialize.incrementalUpdate(spark, ds(batch), d, B,
      mergeOnRead = true).appliedUrls == 0)
    assert(tripleKeys(Materialize.readTriples(spark, d)) == keys)
    assert(Materialize.readTriples(spark, d).count() == rows)
  }

  test("mixed modes: COW after MoR inline-compacts the buckets it rewrites") {
    val dir = Files.createTempDirectory("graft-incr-mixed").toString
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, ds(base), dir, B)
    Materialize.incrementalUpdate(spark,
      ds(Seq(recrawl(3, 503, tsPlusDays = 10))), dir, B, mergeOnRead = true)
    // a COW batch over (likely) overlapping buckets
    val s = Materialize.incrementalUpdate(spark,
      ds(Seq(recrawl(3, 603, tsPlusDays = 20), recrawl(9, 509, tsPlusDays = 20))),
      dir, B, mergeOnRead = false)
    assert(s.appliedUrls == 2)
    val world = base.filterNot(p =>
      p.url == PageGen.genPage(3).page.url || p.url == PageGen.genPage(9).page.url) ++
      Seq(recrawl(3, 603, tsPlusDays = 20), recrawl(9, 509, tsPlusDays = 20))
    assert(tripleKeys(Materialize.readTriples(spark, dir)) ==
      tripleKeys(Pipeline.run(ds(world)).toDF()))
    // the COW-rewritten buckets carry no outstanding delta or
    // un-compacted versions, neither in the snapshot nor on disk
    val snap = Materialize.latestSnapshot(spark, s"$dir/triples")
    for (bk <- s.affectedBuckets) {
      assert(snap.restrict(Set(bk)).of(Materialize.Delta, Materialize.Tomb).isEmpty,
        s"outstanding delta or tombstones for bucket $bk")
      val consolidated = snap.restrict(Set(bk)).of(Materialize.VBase).map(e => s"batch=${e.id}")
      assert(batchDirs(Materialize.deltaPath(dir))
        .forall(bd => !new java.io.File(bd, s"bucket=$bk").exists()),
        s"delta leftover for bucket $bk")
      assert(batchDirs(Materialize.versionsPath(dir))
        .filterNot(bd => consolidated(bd.getName))
        .forall(bd => !new java.io.File(bd, s"bucket=$bk").exists()),
        s"un-compacted versions leftover for bucket $bk")
    }
  }

  test("an incremental update into a never-bootstrapped bucket does not poison bootstrap resume") {
    // an upsert landing in a bucket the bootstrap never finished must
    // NOT make resume skip it (only bootstrap commits mark a bucket
    // done) — silent loss of every base page hashing there otherwise
    val dir = Files.createTempDirectory("graft-incr-resume").toString
    val base = (0L until 40L).map(PageGen.genPage(_).page)
    import org.apache.spark.sql.functions._
    val firstHalf = (0 until B / 2).toSet
    Materialize.runResumable(spark, ds(base), dir, B,
      onlyBuckets = Some(firstHalf)) // simulated bootstrap crash
    // a new-url batch landing in a NOT-yet-bootstrapped bucket
    val brandNew = (100L until 110L).map(PageGen.genPage(_).page)
      .find(p => {
        val bk = ds(Seq(p)).toDF()
          .select(pmod(hash(col("url")), lit(B)).cast("int")).collect()(0).getInt(0)
        !firstHalf.contains(bk)
      })
    assume(brandNew.isDefined)
    Materialize.incrementalUpdate(spark, ds(Seq(brandNew.get)), dir, B)
    // resume the bootstrap: the upserted bucket must still be attempted
    Materialize.runResumable(spark, ds(base), dir, B)
    assert(tripleKeys(Materialize.readTriples(spark, dir)) ==
      tripleKeys(Pipeline.run(ds(base :+ brandNew.get)).toDF()))
    // and row multiplicity matches the full recompute too
    assert(Materialize.readTriples(spark, dir).count() ==
      Pipeline.run(ds(base :+ brandNew.get)).count())
  }

  test("MoR commit gate: a delta batch without its versions write is invisible and GC'd, not half-applied") {
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    val (dir, d) = faultyTable("graft-incr-gate", base)
    val keys0 = tripleKeys(Materialize.readTriples(spark, d))
    val batch = Seq(recrawl(4, 504, tsPlusDays = 30), PageGen.genPage(20).page)
    // crash window: delta written, versions write lost
    crashAt(dir, versionsWrite) { t =>
      Materialize.incrementalUpdate(spark, ds(batch), t, B, mergeOnRead = true)
    }
    val deltas = batchDirs(Materialize.deltaPath(dir.getPath))
    assert(deltas.nonEmpty, "precondition: the crash left the delta batch behind")
    // the uncommitted delta must be INVISIBLE: otherwise the new rows
    // would be live with no tombstone killing url 4's old rows — both
    // crawls of url 4 returned at once
    assert(tripleKeys(Materialize.readTriples(spark, d)) == keys0,
      "uncommitted delta rows leaked into the read path")
    // compact GCs the unnamed dir instead of folding it, once it is
    // older than the GC grace (aged here: the crash is synthesized)
    val old = System.currentTimeMillis() - Materialize.DefaultGcGraceMs - 60000L
    deltas.foreach(_.setLastModified(old))
    assert(Materialize.compact(spark, d).isEmpty)
    assert(batchDirs(Materialize.deltaPath(dir.getPath)).isEmpty,
      "compact must GC uncommitted delta batches")
    assert(tripleKeys(Materialize.readTriples(spark, d)) == keys0)
    // redelivery then applies cleanly
    val s = Materialize.incrementalUpdate(spark, ds(batch), d, B, mergeOnRead = true)
    assert(s.appliedUrls == 2)
    val world = base.filterNot(_.url == batch.head.url) ++ batch
    assert(tripleKeys(Materialize.readTriples(spark, d)) ==
      tripleKeys(Pipeline.run(ds(world)).toDF()))
  }

  test("equal-ts ties within a batch break deterministically (replay commits identical content)") {
    val dirs = Seq("graft-incr-tie-a", "graft-incr-tie-b")
      .map(Files.createTempDirectory(_).toString)
    val base = (0L until 10L).map(PageGen.genPage(_).page)
    val orig = PageGen.genPage(3).page
    val ts = new Timestamp(orig.warc_ts.getTime + 86400000L)
    // two crawls of url 3 with the SAME ts but different content —
    // delivered in opposite orders
    val a = PageGen.genPage(503).page.copy(url = orig.url, warc_ts = ts)
    val bb = PageGen.genPage(603).page.copy(url = orig.url, warc_ts = ts)
    for (d <- dirs) Materialize.runResumable(spark, ds(base), d, B)
    Materialize.incrementalUpdate(spark, ds(Seq(a, bb)), dirs.head, B)
    Materialize.incrementalUpdate(spark, ds(Seq(bb, a)), dirs(1), B)
    assert(tripleKeys(Materialize.readTriples(spark, dirs.head)) ==
      tripleKeys(Materialize.readTriples(spark, dirs(1))))
  }

  test("a re-crawl that extracts zero triples erases the url's rows (incl. a whole-bucket delete)") {
    val dir = Files.createTempDirectory("graft-incr-zero").toString
    // find a url alone in its bucket so the zero-triple re-crawl
    // exercises the stale-directory delete path
    val base = (0L until 6L).map(PageGen.genPage(_).page)
      .filter(_.lang == "en")
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val bucketOf = spark.createDataset(base).toDF()
      .select(col("url"), pmod(hash(col("url")), lit(B)).cast("int").as("bucket"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val loner = bucketOf.groupBy(_._2).collectFirst {
      case (_, m) if m.size == 1 => m.head._1
    }
    assume(loner.isDefined, "no singleton bucket in fixture — widen the base set")
    val lonerPage = base.find(_.url == loner.get).get

    Materialize.runResumable(spark, ds(base), dir, B)
    assert(Materialize.readTriples(spark, dir)
      .filter(col("url") === loner.get).count() > 0)
    // re-crawl as non-English → the pipeline extracts nothing for it
    val gone = lonerPage.copy(lang = "de",
      warc_ts = new Timestamp(lonerPage.warc_ts.getTime + 86400000L))
    Materialize.incrementalUpdate(spark, ds(Seq(gone)), dir, B)
    assert(Materialize.readTriples(spark, dir)
      .filter(col("url") === loner.get).count() == 0)
    val bkDirs = batchDirs(Materialize.dataPath(dir))
      .map(new java.io.File(_, s"bucket=${bucketOf(loner.get)}"))
    assert(bkDirs.forall(d => !d.exists() || d.listFiles().forall(!_.getName.endsWith(".parquet"))),
      "a fully-emptied bucket partition must not keep stale parquet files")
  }

  test("time travel: as-of snapshots equal the state after each MoR commit, independent of arrival order") {
    // brand-new url whose crawl ts is shifted like the re-crawls, so
    // snapshot boundaries separate batches cleanly
    def newShifted(i: Long, tsPlusDays: Int): Page = {
      val p = PageGen.genPage(i).page
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + tsPlusDays * 86400000L))
    }
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    val v1 = Seq(recrawl(3, 503, tsPlusDays = 1000), recrawl(4, 504, tsPlusDays = 1000),
      newShifted(20, 1000))
    val v2 = Seq(recrawl(3, 603, tsPlusDays = 2000), newShifted(21, 2000))
    val t0 = v1.map(_.warc_ts.getTime).min - 1 // just before any v1 version
    val t1 = v1.map(_.warc_ts.getTime).max // v1 fully applied, v2 not yet

    val dir = Files.createTempDirectory("graft-incr-tt").toString
    Materialize.runResumable(spark, ds(base), dir, B)
    val snap0 = tripleKeys(Materialize.readTriples(spark, dir))
    assert(Materialize.incrementalUpdate(spark, ds(v1), dir, B,
      mergeOnRead = true).appliedUrls == 3)
    val snap1 = tripleKeys(Materialize.readTriples(spark, dir))
    assert(Materialize.incrementalUpdate(spark, ds(v2), dir, B,
      mergeOnRead = true).appliedUrls == 2)
    val snap2 = tripleKeys(Materialize.readTriples(spark, dir))
    assert(snap0 != snap1 && snap1 != snap2)

    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, t0)) == snap0)
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, t1)) == snap1)
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, Long.MaxValue)) == snap2)

    // arrival-order independence: apply v2 FIRST, then v1 — every
    // snapshot is a pure function of (content, asOfMs)
    val dirR = Files.createTempDirectory("graft-incr-tt-rev").toString
    Materialize.runResumable(spark, ds(base), dirR, B)
    assert(Materialize.incrementalUpdate(spark, ds(v2), dirR, B,
      mergeOnRead = true).appliedUrls == 2)
    // url 3's v1 crawl is now STALE (v2 already holds a newer version);
    // urls 4 and 20 still apply
    val sR = Materialize.incrementalUpdate(spark, ds(v1), dirR, B, mergeOnRead = true)
    assert(sR.appliedUrls == 2 && sR.staleUrls == 1)
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dirR, t0)) == snap0)
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dirR, Long.MaxValue)) == snap2)
    // at t1 the reversed table MUST show v1-but-not-v2 for the urls v1
    // carried... except url 3, whose v1 crawl was never applied (stale
    // under v2) — exactly Iceberg semantics: a snapshot reflects
    // COMMITTED batches, and the stale v1 row of url 3 never committed.
    val snap1R = tripleKeys(Materialize.readTriplesAsOf(spark, dirR, t1))
    val snap1NoUrl3 = snap1.filterNot(_.startsWith(PageGen.genPage(3).page.url + "|"))
    val snap0Url3 = snap0.filter(_.startsWith(PageGen.genPage(3).page.url + "|"))
    assert(snap1R == snap1NoUrl3 ++ snap0Url3,
      "reversed arrival: t1 snapshot = v1 state except never-committed stale rows")
  }

  test("time travel: compaction is the retention horizon (expired snapshots fail loudly, valid ones serve)") {
    val base = (0L until 12L).map(PageGen.genPage(_).page)
    val v1 = Seq(recrawl(2, 502, tsPlusDays = 1000))
    val t0 = v1.map(_.warc_ts.getTime).min - 1
    val tV1 = v1.map(_.warc_ts.getTime).max
    val dir = Files.createTempDirectory("graft-incr-tt-compact").toString
    Materialize.runResumable(spark, ds(base), dir, B)
    val snap0 = tripleKeys(Materialize.readTriples(spark, dir))
    Materialize.incrementalUpdate(spark, ds(v1), dir, B, mergeOnRead = true)
    val snap1 = tripleKeys(Materialize.readTriples(spark, dir))
    // pre-compaction: full history
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, t0)) == snap0)
    Materialize.compact(spark, dir)
    // post-compaction: superseded rows are physically gone — an asOf
    // below the fold's newest version is an EXPIRED snapshot and must
    // error (Iceberg semantics), never silently return a state the
    // table never had (url 2 absent entirely: its folded rows carry
    // seq > t0 and its pre-fold rows no longer exist)
    val e = intercept[IllegalArgumentException] {
      Materialize.readTriplesAsOf(spark, dir, t0)
    }
    assert(e.getMessage.contains("expired snapshot"))
    // at/after the horizon the folded state serves exactly
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, tV1)) == snap1)
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, Long.MaxValue)) == snap1)
    assert(tripleKeys(Materialize.readTriples(spark, dir)) == snap1)
  }

  test("horizon survives a zero-triple tombstone whose delta dir was pruned before the fold") {
    // a re-crawl that extracts ZERO triples commits a tombstone with no
    // delta rows; a later COW fold of the tombstone's bucket physically
    // removes the dead rows with NO delta rows present — the horizon
    // pass must key off tombstones, not delta rows, or time travel
    // below the kill silently serves a state missing the url entirely
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-incr-zombstone").toString
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, ds(base), dir, B)
    def bucketOf(url: String): Int =
      ds(Seq(PageGen.genPage(0).page)).sparkSession.range(1).toDF()
        .select(pmod(hash(lit(url)), lit(B)).cast("int")).collect()(0).getInt(0)
    val uPage = base.find(_.lang == "en").get
    val bkU = bucketOf(uPage.url)
    // v1 (MoR): url U re-crawled as non-English — zero triples, pure
    // tombstone at +2000 days
    val v1 = uPage.copy(lang = "de",
      warc_ts = new Timestamp(uPage.warc_ts.getTime + 2000L * 86400000L))
    assert(Materialize.incrementalUpdate(spark, ds(Seq(v1)), dir, B,
      mergeOnRead = true).appliedUrls == 1)
    // v2 (COW, EARLIER ts than v1, different bucket)
    val wPage = base.find(p => p.url != uPage.url && bucketOf(p.url) != bkU).get
    val v2 = recrawl(base.indexOf(wPage).toLong, 555, tsPlusDays = 1000)
    assert(Materialize.incrementalUpdate(spark, ds(Seq(v2)), dir, B)
      .appliedUrls == 1)
    assert(Materialize.latestSnapshot(spark, s"$dir/triples").of(Materialize.Delta).isEmpty,
      "precondition: the zero-triple batch committed tombstones only")
    // v3 (COW): a brand-new url hashing into U's bucket — its fold
    // physically removes U's dead rows while contributing no kill of
    // its own (new url, no prior rows)
    val x = (100L until 200L).map(PageGen.genPage(_).page)
      .find(p => bucketOf(p.url) == bkU && p.lang == "en").get
    assert(Materialize.incrementalUpdate(spark, ds(Seq(x)), dir, B)
      .appliedUrls == 1)
    // the horizon must now be v1's version: snapshots below it lost U's
    // pre-recrawl rows to the fold
    val e = intercept[IllegalArgumentException] {
      Materialize.readTriplesAsOf(spark, dir, v1.warc_ts.getTime - 1)
    }
    assert(e.getMessage.contains("expired snapshot"),
      "a tombstone-only (zero-triple) kill must raise the horizon even with no delta dirs")
    // at/above the horizon the table serves the exact folded state
    val world = base.filterNot(p => p.url == uPage.url || p.url == wPage.url) ++
      Seq(v2, x)
    assert(tripleKeys(Materialize.readTriples(spark, dir)) ==
      tripleKeys(Pipeline.run(ds(world :+ v1)).toDF()))
  }

  test("MoR commit gate: a half-written versions dir (no _SUCCESS) is uncommitted — no partial tombstones, redelivery applies") {
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    val (dir, d) = faultyTable("graft-incr-halfv", base)
    val keys0 = tripleKeys(Materialize.readTriples(spark, d))
    val batch = Seq(recrawl(4, 504, tsPlusDays = 30), PageGen.genPage(20).page)
    // crash after the versions write, before the snapshot names it:
    // part-files present, batch never committed
    crashAt(dir, snapshotSwap) { t =>
      Materialize.incrementalUpdate(spark, ds(batch), t, B, mergeOnRead = true)
    }
    val vBatches = batchDirs(Materialize.versionsPath(dir.getPath))
    assert(vBatches.nonEmpty, "precondition: the crash left the versions batch behind")
    // the batch must be fully invisible: delta rows out AND its
    // tombstones inert (a dir-existence gate would kill url 4's old
    // rows while the batch itself stays dark)
    assert(tripleKeys(Materialize.readTriples(spark, d)) == keys0,
      "a half-committed versions write leaked into the read path")
    val crashed = Files.createTempDirectory("graft-incr-halfv-gc").toFile
    rmRec(crashed)
    copyRec(dir, crashed)
    // stale rejection must not count the uncommitted versions either —
    // otherwise this very redelivery would be dropped and the batch
    // could never commit
    val s = Materialize.incrementalUpdate(spark, ds(batch), d, B, mergeOnRead = true)
    assert(s.appliedUrls == 2, "redelivery was stale-rejected by an uncommitted versions dir")
    val world = base.filterNot(_.url == batch.head.url) ++ batch
    assert(tripleKeys(Materialize.readTriples(spark, d)) ==
      tripleKeys(Pipeline.run(ds(world)).toDF()))
    // and the crash state is GC-able. Within the GC grace window it is
    // INDISTINGUISHABLE from an in-flight commit and must survive
    // compact untouched — GC'ing it would destroy a batch whose commit
    // succeeds a moment later (checkpoint advances, never redelivered:
    // permanent loss)
    val c = FaultyFs.uri(crashed)
    def halves = batchDirs(Materialize.deltaPath(crashed.getPath)) ++
      batchDirs(Materialize.versionsPath(crashed.getPath))
    val orphans = halves
    assert(orphans.size == 2)
    assert(Materialize.compact(spark, c).isEmpty)
    assert(orphans.forall(_.exists()),
      "compact must not GC an uncommitted batch inside the grace window")
    assert(tripleKeys(Materialize.readTriples(spark, c)) == keys0)
    // past the grace the crashed halves are GC'd
    val old = System.currentTimeMillis() - Materialize.DefaultGcGraceMs - 60000L
    orphans.foreach(_.setLastModified(old))
    assert(Materialize.compact(spark, c).isEmpty)
    assert(halves.isEmpty,
      "compact must GC both halves (delta and versions) of an uncommitted batch")
    assert(tripleKeys(Materialize.readTriples(spark, c)) == keys0)
  }

  test("time travel: folds that remove no row (append-only batches) expire no snapshot") {
    // a MoR batch of ONLY new urls, compacted: nothing was physically
    // superseded, so every pre-fold snapshot is still exactly
    // reconstructable (the new rows filter out by seq) and must serve —
    // a horizon keyed to "newest folded version" would wrongly reject it
    val base = (0L until 12L).map(PageGen.genPage(_).page)
    def newShifted(i: Long, tsPlusDays: Int): Page = {
      val p = PageGen.genPage(i).page
      p.copy(warc_ts = new Timestamp(p.warc_ts.getTime + tsPlusDays * 86400000L))
    }
    val v1 = Seq(newShifted(20, 1000), newShifted(21, 1000))
    val t0 = v1.map(_.warc_ts.getTime).min - 1
    val dir = Files.createTempDirectory("graft-incr-tt-append").toString
    Materialize.runResumable(spark, ds(base), dir, B)
    val snap0 = tripleKeys(Materialize.readTriples(spark, dir))
    assert(Materialize.incrementalUpdate(spark, ds(v1), dir, B,
      mergeOnRead = true).appliedUrls == 2)
    val snap1 = tripleKeys(Materialize.readTriples(spark, dir))
    Materialize.compact(spark, dir)
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, t0)) == snap0,
      "append-only fold must keep pre-fold snapshots serving")
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, Long.MaxValue)) == snap1)

    // COW flavor of the same guarantee: append-only upserts rewrite
    // nothing pre-existing, so old snapshots stay valid...
    val v2 = Seq(newShifted(22, 2000))
    assert(Materialize.incrementalUpdate(spark, ds(v2), dir, B).appliedUrls == 1)
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, t0)) == snap0)
    // ...but a COW RE-crawl physically removes the url's old rows —
    // snapshots below that version are expired and must fail loudly
    val re = recrawl(2, 502, tsPlusDays = 3000)
    assert(Materialize.incrementalUpdate(spark, ds(Seq(re)), dir, B).appliedUrls == 1)
    val e = intercept[IllegalArgumentException] {
      Materialize.readTriplesAsOf(spark, dir, re.warc_ts.getTime - 1)
    }
    assert(e.getMessage.contains("expired snapshot"))
    assert(tripleKeys(Materialize.readTriplesAsOf(spark, dir, Long.MaxValue)) ==
      tripleKeys(Materialize.readTriples(spark, dir)))
  }

  test("a versions root holding only a zero-part-file crashed batch does not crash-loop the redelivery") {
    // crash early in the FIRST-ever versions job: the batch dir exists
    // with only _temporary inside — no readable parquet anywhere under
    // versions/. No snapshot names it, so the redelivery must treat it
    // as "no stored versions" and apply, not throw schema-inference errors
    val dir = Files.createTempDirectory("graft-incr-novparq").toString
    val base = (0L until 12L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, ds(base), dir, B)
    val vBatch = new java.io.File(Materialize.versionsPath(dir), "batch=deadbeef")
    assert(new java.io.File(vBatch, "_temporary").mkdirs())
    val batch = Seq(recrawl(4, 504, tsPlusDays = 30))
    val s = Materialize.incrementalUpdate(spark, ds(batch), dir, B, mergeOnRead = true)
    assert(s.appliedUrls == 1,
      "a schema-less crashed versions dir must not block the redelivery")
    val world = base.filterNot(_.url == batch.head.url) ++ batch
    assert(tripleKeys(Materialize.readTriples(spark, dir)) ==
      tripleKeys(Pipeline.run(ds(world)).toDF()))
  }

  /** The live rows of a table, `seq` included, as a sorted multiset. */
  private def liveRows(dir: String): Seq[String] =
    Materialize.readTriplesWithSeq(spark, dir).selectExpr("concat_ws('|', url, sentId, " +
      "headLabel, headText, propType, valueLabel, valueText, value, unit, seq)")
      .collect().map(_.getString(0)).toSeq.sorted

  test("the driver applied/stale decision equals the distributed marking: stats and live rows, MoR and COW") {
    val base = (0L until 12L).map(PageGen.genPage(_).page)
    val orig = PageGen.genPage(3).page
    val ts = new Timestamp(orig.warc_ts.getTime + 86400000L)
    val tieA = PageGen.genPage(503).page.copy(url = orig.url, warc_ts = ts)
    val tieB = PageGen.genPage(603).page.copy(url = orig.url, warc_ts = ts)
    val v1 = Seq(recrawl(5, 505, tsPlusDays = 10), recrawl(6, 506, tsPlusDays = 10))
    val scenarios = Seq(
      // applied, then an equal-ts redelivery and an older crawl: both
      // all-stale batches, the early return
      "stale redelivery" -> Seq(v1, v1, Seq(PageGen.genPage(5).page)),
      "equal-ts tie a,b" -> Seq(Seq(tieA, tieB)),
      "equal-ts tie b,a" -> Seq(Seq(tieB, tieA)),
      "brand-new urls" -> Seq((20L until 24L).map(PageGen.genPage(_).page)),
      // url 5 applies, url 6's older crawl is stale, url 24 is new
      "mixed" -> Seq(v1, Seq(recrawl(5, 605, tsPlusDays = 20), PageGen.genPage(6).page,
        PageGen.genPage(24).page)))
    for (mor <- Seq(true, false); (name, batches) <- scenarios) {
      val Seq(drv, dist) = Seq("drv", "dist").map(t =>
        Files.createTempDirectory(s"graft-incr-parity-$t").toString)
      for (d <- Seq(drv, dist)) Materialize.runResumable(spark, ds(base), d, B)
      for ((batch, i) <- batches.zipWithIndex) {
        val sD = Materialize.incrementalUpdate(spark, ds(batch), drv, B, mergeOnRead = mor)
        val sX = Materialize.incrementalUpdateDistributed(spark, ds(batch), dist, B,
          mergeOnRead = mor)
        assert(sD == sX, s"$name batch $i (mergeOnRead=$mor)")
        assert(liveRows(drv) == liveRows(dist), s"$name batch $i (mergeOnRead=$mor)")
      }
    }
  }

  test("lineage recounts exactly: every live entry's parquet rows after a graph build, MoR, COW and compact") {
    val dir = Files.createTempDirectory("graft-incr-lineage").toString
    val stages = Seq(Materialize.StageTriples, Materialize.StageLinked, Materialize.StageEntities)
    /** Recount every live entry's rows from its parquet files (one read
      * per stage root, grouped by its batch and bucket dirs): each must
      * equal its snapshot `rows` field, and per (stage label, bucket)
      * the data and delta rows must equal `lineage`'s.
      */
    def recount(after: String, label: String): Unit = {
      val counted = for {
        stage <- stages
        snap = Materialize.latestSnapshot(spark, s"$dir/$stage")
        (root, es) <- snap.entries.groupBy(e => Materialize.rootOf(e.kind)).toSeq
        onDisk = spark.read.parquet(s"$dir/$stage/$root").groupBy("batch", "bucket").count()
          .collect().map(r => (r.get(0).toString, r.getInt(1)) -> r.getLong(2)).toMap
        _ = assert(onDisk.keySet == es.map(e => (e.id, e.bucket)),
          s"after $after: $stage/$root dirs ${onDisk.keySet} vs live entries $es")
        e <- es.toSeq
      } yield {
        assert(onDisk((e.id, e.bucket)) == e.rows, s"after $after: $stage $e holds ${onDisk((e.id, e.bucket))} rows")
        (e, snap.writes(e.id).stage)
      }
      val fromFiles = counted.collect {
        case (e, stage) if e.kind == Materialize.Data || e.kind == Materialize.Delta => (stage, e.bucket, e.rows)
      }.groupMapReduce(t => (t._1, t._2))(_._3)(_ + _)
      val (lineage, jobs) = SparkSpec.withJobs(Materialize.lineage(spark, dir).collect().toSeq)
      assert(jobs == 0, s"after $after: lineage ran $jobs Spark jobs")
      assert(lineage.groupMapReduce(r => (r.stage, r.bucket))(_.rows)(_ + _) == fromFiles, s"after $after")
      assert(lineage.exists(_.stage == label), s"after $after: no $label lineage in $lineage")
      assert(lineage.forall(r => r.startedAtMs <= r.finishedAtMs), s"after $after")
      for (stage <- stages)
        assert(!new java.io.File(s"$dir/$stage/manifest").exists(), s"after $after: $stage/manifest")
    }
    Materialize.materializeGraph(spark, ds((0L until 20L).map(PageGen.genPage(_).page)), dir, B)
    recount("the graph build", Materialize.StageLinked)
    Materialize.incrementalUpdate(spark, ds((0L until 6L).map(i => recrawl(i, 500 + i, 10))),
      dir, B, mergeOnRead = true)
    recount("the MoR update", s"${Materialize.StageTriples}_delta")
    Materialize.incrementalUpdate(spark, ds(Seq(recrawl(7, 507, 20))), dir, B)
    recount("the COW update", Materialize.StageTriplesUpsert)
    assert(Materialize.compact(spark, dir).nonEmpty, "precondition: the MoR deltas outlive the COW fold")
    recount("compact", "compact")
  }

  test("a warm merge-on-read update of a small batch runs one key collect and one versions collect") {
    val dir = Files.createTempDirectory("graft-incr-jobs").toString
    Materialize.runResumable(spark, ds((0L until 20L).map(PageGen.genPage(_).page)), dir, B)
    Materialize.incrementalUpdate(spark,
      ds(Seq(recrawl(5, 505, tsPlusDays = 10), recrawl(6, 506, tsPlusDays = 10))), dir, B,
      mergeOnRead = true)
    val batch = Seq(recrawl(5, 605, tsPlusDays = 20), recrawl(7, 507, tsPlusDays = 20),
      PageGen.genPage(20).page)
    val (s, jobs) = SparkSpec.withJobs(
      Materialize.incrementalUpdate(spark, ds(batch), dir, B, mergeOnRead = true))
    assert(s.appliedUrls == 3 && s.staleUrls == 0)
    // the key collect (the batch window's shuffle, the cache and the
    // collect: 3), the stored-versions collect (scan and group-by: 2)
    // and the delta and versions writes (a bucket shuffle and a write
    // each: 4); lineage rides in the snapshot commit
    assert(jobs == 9, s"the update ran $jobs jobs")
  }

  test("the update's own versions scan is partition-pruned on bucket, driver path and fallback") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.util.QueryExecutionListener
    // every plan node, through adaptive plans, query stages and caches
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case m: InMemoryTableScanExec => Seq(m.relation.cachedPlan)
      case _ => p.children
    }).flatMap(nodes)
    val forms = Seq[(String, (Dataset[Page], String) => Materialize.IncrementalStats)](
      "driver" -> ((b, d) => Materialize.incrementalUpdate(spark, b, d, B, mergeOnRead = true)),
      "distributed" -> ((b, d) =>
        Materialize.incrementalUpdateDistributed(spark, b, d, B, mergeOnRead = true)))
    for ((name, update) <- forms) {
      val dir = Files.createTempDirectory(s"graft-incr-prune-$name").toString
      Materialize.runResumable(spark, ds((0L until 20L).map(PageGen.genPage(_).page)), dir, B)
      // stored versions to read
      Materialize.incrementalUpdate(spark, ds(Seq(recrawl(5, 505, tsPlusDays = 10))), dir, B,
        mergeOnRead = true)
      val scans = new java.util.concurrent.ConcurrentLinkedQueue[FileSourceScanExec]
      val listener = new QueryExecutionListener {
        def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
          nodes(qe.executedPlan).foreach {
            case f: FileSourceScanExec
                if f.relation.location.rootPaths.exists(_.getName == "versions") => scans.add(f)
            case _ =>
          }
        def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(listener)
      // withJobs' marker drains the listener bus the listener rides on
      val (s, _) = try SparkSpec.withJobs(update(ds(Seq(recrawl(5, 605, tsPlusDays = 20),
        recrawl(7, 507, tsPlusDays = 20))), dir))
        finally spark.listenerManager.unregister(listener)
      assert(s.appliedUrls == 2, name)
      assert(!scans.isEmpty, s"$name: the update read no versions")
      scans.forEach { f =>
        assert(f.partitionFilters.exists(_.references.exists(_.name == "bucket")),
          s"$name: expected bucket partition pruning in the versions scan:\n$f")
      }
    }
  }
}
