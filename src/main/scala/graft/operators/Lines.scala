package graft.operators

import graft.functions.GraftFunctions
import graft.plans.Scope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Line-level boilerplate removal — CCNet's signature pre-dedup move:
  * a line (normalized) that appears in more than `maxDocFreq` distinct
  * documents is boilerplate (cookie banners, nav menus, footers) and
  * is struck from every document, preserving the order of the
  * surviving lines. Document-level dedup can't see this (every page
  * differs); line-level frequency can.
  *
  * Scale shape: lines ride the corpus-frequency aggregation as 64-bit
  * fingerprints only (the codegen'd [[GraftFunctions.fingerprint64]],
  * which lowercases and collapses whitespace first, exactly CCNet's
  * normalization) — the exchange carries (hash, doc) pairs, never
  * line text. The strike itself is SIZE-ADAPTIVE (the
  * `Canonicalize.connectedComponents` discipline), because the
  * blocklist bound — total-line-occurrences / maxDocFreq — is NOT a
  * driver-sized bound at web scale: boilerplate diversity grows with
  * domain count (~1e8 domains × their nav/footer lines ≫ driver
  * memory at 1e12 docs), so a fixed collect-and-broadcast is the one
  * structure in this family that breaks at 100 TB.
  *
  *  - Blocklists that fit one bounded driver collect
  *    ([[Scope.collectWithin]], 8 B per hash; the common
  *    case: a single crawl slice, a per-domain shard) BROADCAST;
  *    the rewrite is then a ZERO-EXCHANGE per-document projection — an
  *    in-row filter of the split lines against the broadcast hash set
  *    (set membership is O(1) per line — a Column `array_contains`
  *    scan would be O(|blocklist|) per line, unacceptable at the
  *    ~1e6-entry blocklists a web corpus produces).
  *  - Larger blocklists go DISTRIBUTED and the driver
  *    never sees the blocklist: LEFT-ANTI join of the exploded
  *    (doc, pos, h) line table against the blocklist frame (both sides
  *    shuffle on the 8-byte hash only), then an order-preserving
  *    re-aggregation — collect surviving (pos, line) structs per doc,
  *    array_sort (pos is the struct's first field, unique per doc),
  *    array_join — and one shuffle join back onto the input row. Three
  *    exchanges total, all key/line-sized, none driver-sized.
  *
  * Both branches implement the SAME function — rows-identical by
  * property test under multiple partitionings (LinesSpec) — so the
  * branch is purely an execution choice, like AQE picking a broadcast
  * join.
  *
  * Hash-collision caveat (disclosed, standard for hash-keyed dedup):
  * two distinct normalized lines colliding in 64 bits are counted —
  * and potentially removed — together. The SQL oracle groups by the
  * SAME hash expression, so it replays engine semantics exactly,
  * collisions included.
  */
object Lines {

  /** (doc, pos, line, h): the exploded line table with the normalized
    * 64-bit fingerprint.
    */
  def lineTable(
      docs: DataFrame,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame =
    docs
      .select(col(keyCol).as("doc_id"),
        posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
      .withColumn("h", GraftFunctions.fingerprint64(col("line")))

  /** Distinct-document frequency per normalized-line hash. Two hash
    * aggregations over (h, doc) int pairs.
    */
  def lineDocFreq(
      docs: DataFrame,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame =
    lineTable(docs, textCol, keyCol)
      .select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("doc_freq"))

  /** The boilerplate blocklist frame `(h)`: hashes of lines in more
    * than `maxDocFreq` distinct documents (strict >).
    */
  def blocklist(
      docs: DataFrame, maxDocFreq: Long,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame =
    lineDocFreq(docs, textCol, keyCol)
      .where(col("doc_freq") > maxDocFreq).select("h")

  /** Strike boilerplate lines from every document: `clean_text` keeps
    * the surviving lines in original order (empty string if every line
    * was boilerplate). Size-adaptive (see object doc): the blocklist
    * comes back through [[Scope.collectWithin]] and rides a broadcast
    * set; a larger one persists into `scope` for the distributed
    * anti-join, which recomputes it once and keeps it cached across the
    * caller's actions (each would otherwise recompute the corpus-wide
    * lineDocFreq aggregation). A deployment holding an at-rest
    * blocklist should call [[removeBoilerplateDistributed]] with it
    * directly and skip the decision pass entirely.
    */
  def removeBoilerplate(
      docs: DataFrame, maxDocFreq: Long,
      textCol: String = "text",
      keyCol: String = "doc_id")
      (implicit scope: Scope): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val block = blocklist(docs, maxDocFreq, textCol, keyCol)
    removeBoilerplateGiven(docs, block, Scope.collectWithin(block.as[Long], 8L),
      textCol, keyCol)
  }

  /** [[removeBoilerplate]] past its bounded collect: `collected` is the
    * collect's verdict on the blocklist frame `block`.
    */
  private[graft] def removeBoilerplateGiven(
      docs: DataFrame, block: DataFrame, collected: Option[Array[Long]],
      textCol: String = "text", keyCol: String = "doc_id")
      (implicit scope: Scope): DataFrame =
    collected match {
      case Some(h) => removeBoilerplateBroadcast(docs, h.toSet, textCol)
      case None =>
        removeBoilerplateDistributed(docs, scope.persist(block), textCol, keyCol)
    }

  /** The broadcast-set rewrite: one zero-exchange projection. */
  def removeBoilerplateBroadcast(
      docs: DataFrame, blocked: Set[Long],
      textCol: String = "text"): DataFrame = {
    val bc = docs.sparkSession.sparkContext.broadcast(blocked)
    val cleanUdf = udf((lines: Seq[String]) =>
      if (lines == null) "" // NULL text -> empty, like the all-struck doc
      else lines.filter(l => !bc.value.contains(TextStats.fingerprint64(l)))
        .mkString("\n"))
    docs.withColumn("clean_text", cleanUdf(split(col(textCol), "\n")))
  }

  /** The distributed strike: anti-join the exploded line table against
    * the `(h)` blocklist frame, re-assemble surviving lines in position
    * order, and join the result back onto the input rows (docs whose
    * every line was struck — or whose text is NULL — get ''). No
    * driver-sized structure anywhere; the blocklist can be any frame
    * (including one read from rest). Requires `keyCol` to be unique
    * per row (it is the group/join key); the broadcast branch has no
    * such requirement, but every caller in this engine keys by a
    * unique doc id.
    */
  def removeBoilerplateDistributed(
      docs: DataFrame, blocklist: DataFrame,
      textCol: String = "text",
      keyCol: String = "doc_id"): DataFrame = {
    val surviving = lineTable(docs, textCol, keyCol)
      .join(blocklist.select(col("h")), Seq("h"), "left_anti")
      .groupBy(col("doc_id").as("__bk"))
      .agg(array_join(transform(
        sort_array(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line")), "\n").as("__clean"))
    docs.join(surviving, docs(keyCol) === col("__bk"), "left")
      .withColumn("clean_text", coalesce(col("__clean"), lit("")))
      .drop("__bk", "__clean")
  }
}
