package graft

import graft.model.Page
import graft.plans.Materialize
import graft.sources.PageGen
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Table file layout: every writer leaves exactly one parquet file in
  * each `(kind, batch, bucket)` dir it commits, however many partitions
  * its input arrives in — the writes hash-distribute by bucket, so no
  * upstream task opens a file of its own in every bucket. The writes
  * start no process for the files they create (an in-process JFR
  * recording of `jdk.ProcessStart` names none of the table's paths),
  * yet leave the modes `chmod` left: 0644 parquet files with a `.crc`
  * sidecar in 0755 bucket dirs (umask 022).
  */
class WriteLayoutSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private val B = 8
  private val Parts = 8

  import TripleFixtures.recrawl

  private def ds(ps: Seq[Page]): Dataset[Page] = {
    import spark.implicits._
    spark.createDataset(ps).repartition(Parts)
  }

  /** Parquet files per dir the latest snapshot of `dir/stage` names. */
  private def filesPerEntry(dir: String, stage: String): Map[String, Int] =
    Materialize.latestSnapshot(spark, s"$dir/$stage").entries.toSeq.map { e =>
      val d = new File(s"$dir/$stage/${Materialize.rootOf(e.kind)}/batch=${e.id}/bucket=${e.bucket}")
      s"${e.kind} batch=${e.id} bucket=${e.bucket}" ->
        Option(d.listFiles()).toSeq.flatten.count(_.getName.endsWith(".parquet"))
    }.toMap

  private def assertOneFilePerBucket(dir: String, stage: String, after: String): Unit = {
    val files = filesPerEntry(dir, stage)
    assert(files.nonEmpty, s"after $after: $stage snapshot names no dir")
    val bad = files.filter(_._2 != 1)
    assert(bad.isEmpty, s"after $after: $stage dirs without exactly one parquet file: $bad")
  }

  /** The dirs table write jobs write under (the session's commit path
    * writes `snapshots/`, not these).
    */
  private def writtenRoots(dir: String): Seq[File] =
    (for (stage <- Seq(Materialize.StageTriples, Materialize.StageLinked);
          root <- Seq("data", "delta", "versions"))
      yield new File(s"$dir/$stage/$root")) :+
      new File(s"$dir/${Materialize.StageEntities}/data")

  private def walk(f: File): Seq[File] =
    f +: Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)

  private def mode(f: File): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(f.toPath))

  /** Runs `f` under an in-process JFR recording of `jdk.ProcessStart`;
    * fails if a started process names a path under a written root of
    * `dir`, then checks every file and bucket dir the writes left.
    */
  private def forkFree[A](dir: String, what: String)(f: => A): A = {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val out = try f finally rec.stop()
    val jfr = Files.createTempFile("graft-layout", ".jfr")
    val commands =
      try { rec.dump(jfr); RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq }
      finally { rec.close(); Files.delete(jfr) }
    val roots = writtenRoots(dir).flatMap(r => Seq(r.getPath, r.getCanonicalPath)).distinct
    val forks = commands.filter(c => roots.exists(r => c.contains(r + "/") || c.endsWith(r)))
    assert(forks.size == 0, s"$what started processes on table files, e.g. ${forks.take(3)}")
    assertModes(dir, what)
    out
  }

  private def assertModes(dir: String, what: String): Unit = {
    val all = writtenRoots(dir).filter(_.exists).flatMap(walk)
    val parquet = all.filter(_.getName.endsWith(".parquet"))
    assert(parquet.nonEmpty, s"after $what: no parquet file under $dir")
    parquet.foreach { p =>
      assert(mode(p) == "rw-r--r--", s"after $what: $p has mode ${mode(p)}")
      assert(new File(p.getParentFile, s".${p.getName}.crc").isFile, s"after $what: $p has no .crc")
    }
    all.filter(_.getName.startsWith("bucket=")).foreach { d =>
      assert(mode(d) == "rwxr-xr-x", s"after $what: $d has mode ${mode(d)}")
    }
  }

  test("bootstrap writers leave one file per bucket: runResumable, materializeGraph triples and linked") {
    val pages = PageGen.pages(spark, 60, partitions = Parts)
    assert(pages.rdd.getNumPartitions >= Parts)

    val a = Files.createTempDirectory("graft-layout-a").toString
    forkFree(a, "runResumable")(Materialize.runResumable(spark, pages, a, B))
    assertOneFilePerBucket(a, Materialize.StageTriples, "runResumable")

    val g = Files.createTempDirectory("graft-layout-g").toString
    forkFree(g, "materializeGraph")(Materialize.materializeGraph(spark, pages, g, B))
    assertOneFilePerBucket(g, Materialize.StageTriples, "materializeGraph")
    assertOneFilePerBucket(g, Materialize.StageLinked, "materializeGraph")
    assertOneFilePerBucket(g, Materialize.StageEntities, "materializeGraph")
    val markers = walk(new File(g)).filter(_.getName == "_SUCCESS")
    assert(markers.isEmpty, s"materializeGraph left success markers: $markers")
  }

  test("maintenance writers leave one file per bucket: COW, MoR above the old 50,000-row funnel, compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-layout-m").toString
    Materialize.runResumable(spark, PageGen.pages(spark, 40, partitions = Parts), dir, B)

    forkFree(dir, "COW incrementalUpdate")(Materialize.incrementalUpdate(spark,
      ds((0L until 16L).map(i => recrawl(i, 500 + i, 1))), dir, B))
    assertOneFilePerBucket(dir, Materialize.StageTriples, "COW incrementalUpdate")

    // 50,001 cheap non-English pages (tombstones only, no annotate work)
    // plus re-crawls that produce delta rows
    val ts = new Timestamp(PageGen.genPage(0).page.warc_ts.getTime + 2 * 86400000L)
    val bulk = spark.range(0, 50001, 1, Parts)
      .map(i => Page(f"https://bulk.example/doc-$i%08d", ts, Array.emptyByteArray, "", "de"))
    val batch = bulk.union(ds((16L until 32L).map(i => recrawl(i, 600 + i, 2))))
    assert(batch.rdd.getNumPartitions >= Parts)
    val st = forkFree(dir, "MoR incrementalUpdate")(
      Materialize.incrementalUpdate(spark, batch, dir, B, mergeOnRead = true))
    assert(st.appliedUrls > 50000L)
    assertOneFilePerBucket(dir, Materialize.StageTriples, "MoR incrementalUpdate")

    assert(forkFree(dir, "compact")(Materialize.compact(spark, dir)).nonEmpty)
    assertOneFilePerBucket(dir, Materialize.StageTriples, "compact")
  }
}
