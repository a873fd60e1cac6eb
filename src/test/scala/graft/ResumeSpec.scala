package graft

import graft.plans.{Materialize, Pipeline}
import graft.sources.PageGen
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** North-rule resumability: restart mid-pipeline yields identical final
  * output (SURVEY.md §5.5).
  */
class ResumeSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val N = 80L
  private val B = 8

  private def tripleKeys(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.selectExpr("concat_ws('|', url, sentId, headLabel, headText, propType, valueText, unit)")
      .collect().map(_.getString(0)).toSet

  test("partial run + resume == single-shot run; lineage complete") {
    val dirA = Files.createTempDirectory("graft-resume-a").toString
    val dirB = Files.createTempDirectory("graft-resume-b").toString
    val pages = PageGen.pages(spark, N)

    // single-shot
    val n1 = Materialize.runResumable(spark, pages, dirA, B)
    assert(n1 == B)

    // simulated failure after half the buckets, then restart
    val firstHalf = (0 until B / 2).toSet
    val nPartial = Materialize.runResumable(spark, pages, dirB, B, Some(firstHalf))
    assert(nPartial == B / 2)
    assert(Materialize.completedBuckets(spark, dirB) == firstHalf)
    val nResume = Materialize.runResumable(spark, pages, dirB, B)
    assert(nResume == B - B / 2)

    val a = tripleKeys(Materialize.readTriples(spark, dirA))
    val b = tripleKeys(Materialize.readTriples(spark, dirB))
    assert(a == b)
    assert(a == tripleKeys(Pipeline.run(pages).toDF()))

    // third run is a no-op (all buckets manifested)
    assert(Materialize.runResumable(spark, pages, dirB, B) == 0)

    // the stored bucket count wins over a mismatched caller argument:
    // resuming with buckets=999 must not renumber/reprocess anything
    assert(Materialize.runResumable(spark, pages, dirB, 999) == 0)
    assert(Materialize.tableBuckets(spark, dirB) == B)

    // lineage: one row per bucket, row counts match the data
    val lineage = Materialize.lineage(spark, dirB)
    assert(lineage.select("bucket").distinct().count() == B)
    val lineageTotal = lineage.groupBy().sum("rows").collect()(0).getLong(0)
    assert(lineageTotal == Materialize.readTriples(spark, dirB).count())

    // J6: url lookup is partition-pruned — the scan reads exactly one
    // of the B bucket directories (PartitionFilters on the bucket column)
    val someUrl = Materialize.readTriples(spark, dirA)
      .select("url").limit(1).collect()(0).getString(0)
    // bucket count comes from the table's own snapshot, never the caller
    assert(Materialize.tableBuckets(spark, dirA) == B)
    val lookup = Materialize.readTriplesForUrl(spark, dirA, someUrl)
    assert(lookup.count() > 0)
    assert(lookup.select("url").distinct().count() == 1)
    val scan = lookup.queryExecution.executedPlan.collectLeaves().head
    val meta = scan.toString
    assert(meta.contains("PartitionFilters") && meta.contains("bucket"),
      s"expected bucket partition pruning in scan:\n$meta")
    val pruned = lookup.queryExecution.executedPlan.toString
    assert(!pruned.contains("PartitionFilters: []"),
      "partition filters must not be empty")
  }

  test("materializeGraph: single annotate pass feeds triple write, linking and entity table") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-mat-graph").toString
    val pages = PageGen.pages(spark, 60)
    // every page row the build reads passes this accumulator: one
    // annotate pass reads each page once
    val pageReads = spark.sparkContext.longAccumulator("page-reads")
    val counted = pages.map { p => pageReads.add(1); p }
    val (_, jobs) =
      SparkSpec.withJobs(Materialize.materializeGraph(spark, counted, dir, buckets = 4))
    assert(pageReads.value == 60, s"the graph build read ${pageReads.value} page rows for 60 pages")
    // the triples write (the annotate pass fills the compact cache inside
    // it), the linked write from that cache (its dictionary side built
    // on the driver) and one local entity-table write, over 60 pages in
    // 4 buckets; lineage rides in each stage's snapshot commit
    assert(jobs == 9, s"the graph build ran $jobs jobs")
    val triples = Materialize.readTriples(spark, dir)
    val linked = Materialize.readLinked(spark, dir)
    val entities = Materialize.readEntities(spark, dir)
    assert(triples.count() > 0)
    // linked rows = triple rows (left-outer link preserves cardinality)
    assert(linked.count() == triples.count())
    assert(entities.count() == graft.sources.ChemDict.entries.length)
    // the entity table is one live snapshot entry holding one parquet file
    val entityEntries = Materialize.latestSnapshot(spark, s"$dir/${Materialize.StageEntities}").entries
    assert(entityEntries.map(_.bucket) == Set(0), s"entity entries $entityEntries")
    val entityFiles = new java.io.File(s"$dir/entities/data/batch=${entityEntries.head.id}/bucket=0")
      .list().filter(_.endsWith(".parquet"))
    assert(entityFiles.length == 1, s"entity table in ${entityFiles.mkString(", ")}")
    // lineage lives in the snapshots: no stage holds anything else
    for (stage <- Seq(Materialize.StageTriples, Materialize.StageLinked, Materialize.StageEntities))
      assert(new java.io.File(s"$dir/$stage").list().sorted.toSeq == Seq("data", "snapshots"), stage)
    // table properties live in the snapshots: no side file anywhere
    def walk(f: java.io.File): Seq[java.io.File] =
      f +: Option(f.listFiles()).toSeq.flatten.flatMap(walk)
    assert(!walk(new java.io.File(dir)).exists(_.getName.contains("table_meta")))
    // rerun is a no-op for the triple stage (all buckets manifested) and
    // produces identical linked output
    val before = tripleKeys(triples)
    Materialize.materializeGraph(spark, pages, dir, buckets = 4)
    assert(tripleKeys(Materialize.readTriples(spark, dir)) == before)
  }

  test("runResumable and materializeGraph record the same triple-table schema") {
    val pages = PageGen.pages(spark, 20)
    val dirA = Files.createTempDirectory("graft-schema-a").toString
    val dirB = Files.createTempDirectory("graft-schema-b").toString
    Materialize.runResumable(spark, pages, dirA, 4)
    Materialize.materializeGraph(spark, pages, dirB, 4)
    def schemaLine(dir: String) = Materialize
      .latestSnapshot(spark, s"$dir/${Materialize.StageTriples}").schemas(Materialize.Data)
    assert(schemaLine(dirA) == schemaLine(dirB))
    assert(tripleKeys(Materialize.readTriples(spark, dirA)) ==
      tripleKeys(Materialize.readTriples(spark, dirB)))
  }

  test("resume fails loudly when the dictionary changed since the table was written") {
    val dir = Files.createTempDirectory("graft-dict-guard").toString
    val pages = PageGen.pages(spark, 20)
    Materialize.runResumable(spark, pages, dir, 4)
    // simulate a dictionary change by tampering the content hash the
    // latest snapshot records
    val snap = Materialize.latestSnapshot(spark, s"$dir/${Materialize.StageTriples}")
    val snapFile = java.nio.file.Paths.get(s"$dir/${Materialize.StageTriples}/snapshots/v${snap.version}")
    val text = java.nio.file.Files.readString(snapFile)
    assert(text.linesIterator.contains(s"dict ${snap.dictHash}"))
    java.nio.file.Files.writeString(snapFile,
      text.replaceAll("(?m)^dict [0-9a-f]+$", "dict deadbeef00000000deadbeef00000000"))
    // drop the Hadoop local-FS checksum sidecar invalidated by the edit
    java.nio.file.Files.deleteIfExists(
      snapFile.getParent.resolve("." + snapFile.getFileName.toString + ".crc"))
    val e = intercept[IllegalArgumentException] {
      Materialize.runResumable(spark, pages, dir, 4)
    }
    assert(e.getMessage.contains("dictionary changed"))
  }

  test("materializeGraph resumes the linked stage per bucket; complete rerun does no stage work") {
    val dirA = Files.createTempDirectory("graft-mat-res-a").toString
    val dirB = Files.createTempDirectory("graft-mat-res-b").toString
    val pages = PageGen.pages(spark, 60)

    def linkedKeys(dir: String): Set[String] =
      Materialize.readLinked(spark, dir)
        .selectExpr("concat_ws('|', url, sentId, headText, valueText, cast(cid as string))")
        .collect().map(_.getString(0)).toSet

    // single shot
    Materialize.materializeGraph(spark, pages, dirA, buckets = 4)
    // partial run (buckets 0-1 only), then resume completes 2-3
    Materialize.materializeGraph(spark, pages, dirB, buckets = 4, Some(Set(0, 1)))
    val partial = Materialize.lineage(spark, dirB)
      .filter(org.apache.spark.sql.functions.col("stage") === Materialize.StageLinked)
      .select("bucket").distinct().collect().map(_.getInt(0)).toSet
    assert(partial == Set(0, 1))
    Materialize.materializeGraph(spark, pages, dirB, buckets = 4)
    assert(linkedKeys(dirB) == linkedKeys(dirA))
    assert(linkedKeys(dirB).nonEmpty)
    // bucket 0's triples committed by an earlier write: the linked stage
    // reads that bucket back from the table and links the other buckets
    // from this run's cache — the same linked rows
    val dirC = Files.createTempDirectory("graft-mat-res-c").toString
    Materialize.runResumable(spark, pages, dirC, 4, Some(Set(0)))
    Materialize.materializeGraph(spark, pages, dirC, buckets = 4)
    assert(linkedKeys(dirC) == linkedKeys(dirA))
    // an upsert into buckets before their bootstrap: their live table
    // rows are no longer this run's triples, so they link from the table
    // too — the same linked rows as upserting after a full bootstrap
    import spark.implicits._
    val recrawls = (0L until 10L).map(i => TripleFixtures.recrawl(i, 500 + i, 30)).toDS()
    val dirD = Files.createTempDirectory("graft-mat-res-d").toString
    Materialize.runResumable(spark, pages, dirD, 4, Some(Set(0)))
    Materialize.incrementalUpdate(spark, recrawls, dirD, 4, mergeOnRead = true)
    Materialize.materializeGraph(spark, pages, dirD, buckets = 4)
    val dirE = Files.createTempDirectory("graft-mat-res-e").toString
    Materialize.runResumable(spark, pages, dirE, 4)
    Materialize.incrementalUpdate(spark, recrawls, dirE, 4, mergeOnRead = true)
    Materialize.materializeGraph(spark, pages, dirE, buckets = 4)
    assert(linkedKeys(dirD) == linkedKeys(dirE))
    assert(linkedKeys(dirD) != linkedKeys(dirA))

    // a rerun over the fully materialized graph must do no stage work:
    // no triple re-scan, no linking join, no CC rebuild. Direct
    // evidence: every data file untouched (mtime), and no Spark job at
    // all — resume reads the three stages' latest snapshot files.
    def mtimes(sub: String): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dirB/$sub")).map(f => f.getPath -> f.lastModified()).toMap
    }
    val beforeFiles = mtimes("triples/data") ++ mtimes("linked/data") ++ mtimes("entities/data")
    assert(beforeFiles.nonEmpty)
    val (_, jobs) =
      SparkSpec.withJobs(Materialize.materializeGraph(spark, pages, dirB, buckets = 4))
    val afterFiles = mtimes("triples/data") ++ mtimes("linked/data") ++ mtimes("entities/data")
    assert(afterFiles == beforeFiles, "rerun touched materialized data files")
    assert(jobs == 0, s"complete rerun submitted $jobs jobs (none expected)")
  }

  test("a snapshot without table properties fails loudly instead of guessing a bucket count") {
    // the layout that kept the bucket count and dictionary hash in a
    // side file: its snapshots carry neither line
    val dir = Files.createTempDirectory("graft-no-props").toString
    val pages = PageGen.pages(spark, 20)
    Materialize.runResumable(spark, pages, dir, 4)
    val snapDir = new java.io.File(s"$dir/triples/snapshots")
    snapDir.listFiles().foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else java.nio.file.Files.writeString(f.toPath, java.nio.file.Files.readString(f.toPath)
        .linesIterator.filterNot(l => l.startsWith("buckets ") || l.startsWith("dict ")).mkString("\n"))
    }
    for ((name, call) <- Seq[(String, () => Any)](
        "readTriples" -> (() => Materialize.readTriples(spark, dir)),
        "tableBuckets" -> (() => Materialize.tableBuckets(spark, dir)),
        "runResumable" -> (() => Materialize.runResumable(spark, pages, dir, 4)),
        "incrementalUpdate" -> (() => Materialize.incrementalUpdate(spark, pages, dir, 4)))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("re-materialize it into a fresh outDir"), s"$name: ${e.getMessage}")
    }
  }

  test("a table without a snapshot log fails loudly instead of reading as empty") {
    // the layout before the snapshot log: bucket dirs straight under
    // data/, no snapshots/ — its crash states are not interpretable
    val dir = Files.createTempDirectory("graft-old-layout").toString
    val pages = PageGen.pages(spark, 20)
    Materialize.runResumable(spark, pages, dir, 4)
    Materialize.readTriples(spark, dir).drop("bucket").write
      .parquet(s"$dir/triples/old/data/bucket=0")
    def rmRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmRec); f.delete(); ()
    }
    Seq("data", "snapshots").foreach(d => rmRec(new java.io.File(s"$dir/triples/$d")))
    assert(new java.io.File(s"$dir/triples/old/data").renameTo(new java.io.File(s"$dir/triples/data")))
    for ((name, call) <- Seq[(String, () => Any)](
        "readTriples" -> (() => Materialize.readTriples(spark, dir)),
        "runResumable" -> (() => Materialize.runResumable(spark, pages, dir, 4)),
        "incrementalUpdate" -> (() => Materialize.incrementalUpdate(spark, pages, dir, 4)),
        "compact" -> (() => Materialize.compact(spark, dir)))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("re-materialize it into a fresh outDir"), s"$name: ${e.getMessage}")
    }
    // the snapshot form before lineage moved into it: entry lines
    // `kind id bucket` without their row count, and no write lines
    val noRows = Files.createTempDirectory("graft-no-rows").toString
    Materialize.runResumable(spark, pages, noRows, 4)
    new java.io.File(s"$noRows/triples/snapshots").listFiles().foreach { f =>
      if (f.getName.endsWith(".crc")) f.delete()
      else java.nio.file.Files.writeString(f.toPath, java.nio.file.Files.readString(f.toPath)
        .linesIterator.filterNot(_.startsWith("write ")).map { l =>
          if (l.startsWith(s"${Materialize.Data} ")) l.split(" ").take(3).mkString(" ") else l
        }.mkString("\n"))
    }
    for ((name, call) <- Seq[(String, () => Any)](
        "readTriples" -> (() => Materialize.readTriples(spark, noRows)),
        "lineage" -> (() => Materialize.lineage(spark, noRows)),
        "runResumable" -> (() => Materialize.runResumable(spark, pages, noRows, 4)),
        "compact" -> (() => Materialize.compact(spark, noRows)))) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("re-materialize it into a fresh outDir"), s"$name: ${e.getMessage}")
    }
  }
}
