package graft

import graft.model.Page
import graft.sources.PageGen
import java.sql.Timestamp

/** Shared fixtures for the incremental-table specs: ONE definition of
  * triple-row identity and of the "re-crawl with changed content"
  * page transform, so IncrementalSpec and StreamingSpec can never
  * silently test different notions of latest-crawl-wins.
  */
object TripleFixtures {

  /** Full row identity of an extracted triple — every column that
    * distinguishes two extractions.
    */
  def tripleKeys(df: org.apache.spark.sql.DataFrame): Set[String] =
    tripleKeyBag(df).toSet

  /** The same identity as a sorted multiset: duplicated rows show. */
  def tripleKeyBag(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.selectExpr(
      "concat_ws('|', url, sentId, headLabel, headText, propType, valueText, unit)")
      .collect().map(_.getString(0)).toSeq.sorted

  /** Deterministic "re-crawl with changed content" of page i: the body
    * of page `contentFrom` under page i's url, warc_ts shifted forward.
    */
  def recrawl(i: Long, contentFrom: Long, tsPlusDays: Int): Page = {
    val orig = PageGen.genPage(i).page
    val other = PageGen.genPage(contentFrom).page
    other.copy(url = orig.url,
      warc_ts = new Timestamp(orig.warc_ts.getTime + tsPlusDays * 86400000L))
  }
}
