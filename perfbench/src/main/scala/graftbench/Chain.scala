package graftbench

import graft.functions.{Html, Text}
import graft.model.{Page, Sentence}
import graft.operators._
import graft.sources.ChemDict

/** Single-threaded pass over pages that calls the in-row chain's public
  * functions directly, timing each call. It mirrors `Pipeline.sentences`
  * (abstract paragraphs, section paragraphs, then one tab-joined
  * pseudo-sentence per table row) followed by `Pipeline.annotate` and
  * `Pipeline.triples`, so its triple count must equal the Spark
  * pipeline's for the same pages.
  *
  * The three detectors are also called on their own, next to
  * `Ner.annotate` (which calls them again inside), to split NER time
  * per detector; the pass therefore does more work than the pipeline,
  * and only the per-call times are meaningful, not their sum.
  */
object Chain {
  final case class Result(pages: Long, sentences: Long, tokens: Long, ents: Long,
      kept: Long, triples: Long, ns: Map[String, Long]) {
    def metrics: Seq[(String, Double, String)] = {
      val s = math.max(1L, sentences).toDouble
      def perSent(k: String) = ns(k) / s
      Seq(
        ("functions.Html.extract.ns_per_page", ns("extract") / math.max(1L, pages).toDouble, "ns"),
        ("functions.Text.splitSentences.ns_per_sentence", perSent("split"), "ns"),
        ("functions.Text.tokenize.ns_per_sentence", perSent("tokenize"), "ns"),
        ("operators.ChemGazetteer.findEntities.ns_per_sentence", perSent("gazetteer"), "ns"),
        ("operators.QuantityParser.findEntities.ns_per_sentence", perSent("quantity"), "ns"),
        ("operators.PropertyRuler.findEntities.ns_per_sentence", perSent("property"), "ns"),
        ("operators.Ner.annotate.ns_per_sentence", perSent("ner"), "ns"),
        ("operators.Relations.relate.ns_per_sentence", perSent("relate"), "ns"),
        ("operators.Triples.assemble.ns_per_sentence", perSent("assemble"), "ns"),
        ("functions.Text.sentences_per_page", sentences / math.max(1L, pages).toDouble, "count"),
        ("functions.Text.tokens_per_sentence", tokens / s, "count"),
        ("operators.Ner.ents_per_sentence", ents / s, "count"),
        ("operators.Relations.kept_sentence_ratio", kept / s, "ratio"),
        ("operators.Triples.triples_per_kept_sentence", triples / math.max(1L, kept).toDouble, "count"))
    }
  }

  def run(pages: Seq[Page]): Result = {
    val gaz = new ChemGazetteer(ChemDict.entries.flatMap(_.synonyms))
    val ns = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var nPages, nSents, nToks, nEnts, nKept, nTriples = 0L
    @inline def timed[A](k: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f; ns(k) += System.nanoTime() - t0; a
    }
    def sentence(url: String, doc: Html.ExtractedDoc, section: String, sent: String): Unit = {
      val toks = timed("tokenize")(Text.tokenize(sent))
      val g = timed("gazetteer")(gaz.findEntities(toks))
      val q = timed("quantity")(QuantityParser.findEntities(sent, toks))
      val p = timed("property")(PropertyRuler.findEntities(toks))
      val ents = timed("ner")(Ner.annotate(sent, toks, gaz))
      val rels = timed("relate")(Relations.relate(ents))
      val triples = timed("assemble") {
        if (!Relations.keepDoc(ents)) -1
        else Triples.assemble(Sentence(url, 0L, 0, section, doc.title, doc.doi, sent,
          toks, ents, rels)).length
      }
      // uses the detectors' results so the JIT cannot drop those calls
      require(g.length + q.length + p.length >= 0)
      nSents += 1; nToks += toks.length; nEnts += ents.length
      if (triples >= 0) { nKept += 1; nTriples += triples }
    }
    pages.filter(_.lang == "en").foreach { page =>
      nPages += 1
      val doc = timed("extract")(Html.extract(page.html))
      doc.abstractParas.foreach { para =>
        timed("split")(Text.splitSentences(para)).foreach(sentence(page.url, doc, "Abstract", _))
      }
      doc.sections.foreach { sec =>
        sec.paragraphs.foreach { para =>
          timed("split")(Text.splitSentences(para)).foreach(sentence(page.url, doc, sec.heading, _))
        }
      }
      doc.tables.foreach { t =>
        t.rows.foreach(r => sentence(page.url, doc, s"table:${t.heading}", Html.rowText(r)))
      }
    }
    Result(nPages, nSents, nToks, nEnts, nKept, nTriples, ns.toMap.withDefaultValue(0L))
  }
}
