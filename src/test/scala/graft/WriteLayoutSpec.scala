package graft

import graft.model.Page
import graft.plans.Materialize
import graft.sources.PageGen
import org.apache.spark.sql.Dataset
import org.scalatest.funsuite.AnyFunSuite
import java.io.File
import java.nio.file.Files
import java.sql.Timestamp

/** Table file layout: every writer leaves exactly one parquet file in
  * each `(kind, batch, bucket)` dir it commits, however many partitions
  * its input arrives in — the writes hash-distribute by bucket, so no
  * upstream task opens a file of its own in every bucket.
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

  test("bootstrap writers leave one file per bucket: runResumable, materializeGraph triples and linked") {
    val pages = PageGen.pages(spark, 60, partitions = Parts)
    assert(pages.rdd.getNumPartitions >= Parts)

    val a = Files.createTempDirectory("graft-layout-a").toString
    Materialize.runResumable(spark, pages, a, B)
    assertOneFilePerBucket(a, Materialize.StageTriples, "runResumable")

    val g = Files.createTempDirectory("graft-layout-g").toString
    Materialize.materializeGraph(spark, pages, g, B)
    assertOneFilePerBucket(g, Materialize.StageTriples, "materializeGraph")
    assertOneFilePerBucket(g, Materialize.StageLinked, "materializeGraph")
  }

  test("maintenance writers leave one file per bucket: COW, MoR above the old 50,000-row funnel, compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-layout-m").toString
    Materialize.runResumable(spark, PageGen.pages(spark, 40, partitions = Parts), dir, B)

    Materialize.incrementalUpdate(spark,
      ds((0L until 16L).map(i => recrawl(i, 500 + i, 1))), dir, B)
    assertOneFilePerBucket(dir, Materialize.StageTriples, "COW incrementalUpdate")

    // 50,001 cheap non-English pages (tombstones only, no annotate work)
    // plus re-crawls that produce delta rows
    val ts = new Timestamp(PageGen.genPage(0).page.warc_ts.getTime + 2 * 86400000L)
    val bulk = spark.range(0, 50001, 1, Parts)
      .map(i => Page(f"https://bulk.example/doc-$i%08d", ts, Array.emptyByteArray, "", "de"))
    val batch = bulk.union(ds((16L until 32L).map(i => recrawl(i, 600 + i, 2))))
    assert(batch.rdd.getNumPartitions >= Parts)
    val st = Materialize.incrementalUpdate(spark, batch, dir, B, mergeOnRead = true)
    assert(st.appliedUrls > 50000L)
    assertOneFilePerBucket(dir, Materialize.StageTriples, "MoR incrementalUpdate")

    assert(Materialize.compact(spark, dir).nonEmpty)
    assertOneFilePerBucket(dir, Materialize.StageTriples, "compact")
  }
}
