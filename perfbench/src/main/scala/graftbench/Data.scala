package graftbench

import graft.model.{Page, Triple}
import graft.sources.PageGen
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.hashing.MurmurHash3

/** Seeded inputs. The seed picks a page-id range (one of 1000 disjoint
  * ones), the re-crawled page ids and the lookup urls. Re-crawl content
  * comes from a range above every seed's pages and is the same for every
  * seed, so a delta's size in triples does not vary with the seed.
  */
final class Inputs(seed: Long, val pages: Int) {
  val offset: Long = Math.floorMod(seed, 1000L) * 100000L
  private val contentBase = 1000L * 100000L
  require(pages <= 100000, "page range would overlap the next seed's")

  def url(id: Int): String = PageGen.genPage(offset + id).page.url
  def basePage(id: Int): Page = PageGen.genPage(offset + id).page

  /** Epoch ms below every re-crawl's version: the bootstrap snapshot. */
  val bootstrapSnapshotMs: Long = basePage(0).warc_ts.getTime

  /** `n` distinct page ids of [0, pages), chosen by (seed, salt). */
  def pick(salt: Long, n: Int): Seq[Int] =
    new scala.util.Random(seed * 1000003L + salt).shuffle((0 until pages).toVector).take(n)

  /** Re-crawl `k` of step `step`: another page's content under page
    * `id`'s url, crawled `step` hours later than the original.
    */
  def recrawl(id: Int, step: Int, k: Int): Page = {
    require(step < 80 && k < 1000, "re-crawl content id out of range")
    val orig = basePage(id)
    PageGen.genPage(contentBase + step * 1000L + k).page.copy(url = orig.url,
      warc_ts = new java.sql.Timestamp(orig.warc_ts.getTime + step * 3600000L))
  }

  def recrawlContentId(step: Int, k: Int): Long = contentBase + step * 1000L + k

  /** Gold triples of a re-crawled page: its content page's gold under the
    * re-crawled url.
    */
  def recrawlGold(id: Int, step: Int, k: Int): Seq[Triple] =
    PageGen.genPage(recrawlContentId(step, k)).triples.toSeq.map(_.copy(url = url(id)))

  def baseGold(id: Int): Seq[Triple] = PageGen.genPage(offset + id).triples.toSeq

  /** Write pages [offset, offset + pages) as the at-rest page table. */
  def writePages(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val off = offset
    spark.range(off, off + pages, 1, 16).map(i => PageGen.genPage(i).page)
      .write.parquet(dir)
  }
}

/** Multiset of triple identities, compared by row count and an
  * order-insensitive hash.
  */
final case class KeyBag(rows: Long, hash: Long) {
  def +(o: KeyBag): KeyBag = KeyBag(rows + o.rows, hash + o.hash)
}

object Keys {
  val Columns: Seq[String] = Seq("url", "sentId", "headLabel", "headText", "propType",
    "valueLabel", "valueText", "value", "unit")

  def key(url: String, sentId: Int, headLabel: String, headText: String, propType: String,
      valueLabel: String, valueText: String, value: Double, unit: String): String =
    s"$url|$sentId|$headLabel|$headText|$propType|$valueLabel|$valueText|" +
      s"${java.lang.Double.doubleToLongBits(value)}|$unit"

  def of(t: Triple): String = key(t.url, t.sentId, t.headLabel, t.headText, t.propType,
    t.valueLabel, t.valueText, t.value, t.unit)

  /** Collect the triple identities of a triple table or pipeline output. */
  def collect(df: DataFrame): Seq[String] =
    df.select(Columns.map(org.apache.spark.sql.functions.col): _*).collect().toSeq.map { r =>
      key(r.getString(0), r.getInt(1), r.getString(2), r.getString(3), r.getString(4),
        r.getString(5), r.getString(6), r.getDouble(7), r.getString(8))
    }

  def bag(keys: Iterable[String]): KeyBag =
    keys.foldLeft(KeyBag(0, 0)) { (b, k) => b + KeyBag(1, MurmurHash3.stringHash(k).toLong) }

  /** Micro precision and recall of engine triples against gold. */
  def precisionRecall(engine: Seq[String], gold: Seq[String]): (Double, Double) = {
    val e = engine.toSet; val g = gold.toSet
    val tp = (e & g).size.toDouble
    (if (e.isEmpty) 0.0 else tp / e.size, if (g.isEmpty) 0.0 else tp / g.size)
  }
}

object Disk {
  import java.nio.file.{Files, Path, Paths}
  import scala.jdk.CollectionConverters._

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
  }

  def bytes(dir: String): Long = files(dir).map(Files.size).sum
  def paths(dir: String): Set[String] = files(dir).map(_.toString).toSet
  def dataFiles(dir: String): Int = files(dir).count(_.getFileName.toString.endsWith(".parquet"))

  def delete(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
