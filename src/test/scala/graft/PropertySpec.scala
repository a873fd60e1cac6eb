package graft

import graft.model.Tok
import graft.operators.{Abbreviations, Canonicalize, ChemGazetteer, Dedup, Ner, QuantityParser}
import graft.functions.Normalize
import graft.sources.ChemDict
import org.scalacheck.{Gen, Prop, Test => SchkTest}
import org.scalatest.funsuite.AnyFunSuite

/** Property-based tests (SURVEY.md §5.4): totality and structural
  * invariants of the in-row algorithms over RANDOM inputs, not just the
  * golden fixtures — overlap resolution yields disjoint spans, offset
  * alignment stays in bounds, CC matches a driver-side union-find at
  * any partitioning, hash signatures honor their algebraic contracts.
  * Uses scalacheck's engine directly (no scalatest-plus bridge in the
  * offline cache).
  */
class PropertySpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark
  private lazy val gaz = new ChemGazetteer(ChemDict.entries.flatMap(_.synonyms))

  private def check(p: Prop, minTests: Int = 200): Unit = {
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(minTests), p)
    assert(res.passed, res.status.toString)
  }

  /** Random token streams over a vocabulary that exercises every
    * detector: chem names (gazetteer hits), numbers, units, property
    * words, punctuation, parens.
    */
  private val word: Gen[String] = Gen.oneOf(
    "water", "ethanol", "sodium", "chloride", "benzene", "acid",
    "melting", "point", "density", "temperature", "enthalpy", "viscosity",
    "12", "3.5", "0.92", "100", "-40", "1e3",
    "K", "MPa", "kg/m3", "kJ/mol", "mPa.s", "°C", "%", "mL",
    "the", "of", "at", "was", "measured", "sample", "showed",
    "(", ")", ",", ";", ".", "-")

  private val tokenStream: Gen[Array[Tok]] =
    Gen.listOfN(25, word).map { ws =>
      var off = 0
      ws.map { w =>
        val t = Tok(w, off)
        off += w.length + 1
        t
      }.toArray
    }

  private def textOf(toks: Array[Tok]): String = {
    if (toks.isEmpty) return ""
    val sb = new StringBuilder
    toks.foreach { t =>
      while (sb.length < t.start) sb.append(' ')
      sb.append(t.text)
    }
    sb.toString
  }

  test("W2 overlap resolution: spans disjoint, sorted, in bounds, text-faithful on random input") {
    check(Prop.forAll(tokenStream) { toks =>
      val text = textOf(toks)
      val ents = Ner.annotate(text, toks, gaz)
      val disjoint = ents.sliding(2).forall {
        case Array(a, b) => a.endTok <= b.startTok
        case _ => true
      }
      val inBounds = ents.forall(e =>
        0 <= e.startTok && e.startTok < e.endTok && e.endTok <= toks.length &&
          0 <= e.startChar && e.startChar < e.endChar && e.endChar <= text.length)
      val faithful = ents.forall(e => e.text == text.substring(e.startChar, e.endChar))
      disjoint && inBounds && faithful
    })
  }

  test("F3 quantity alignment: total, in-bounds, substring-faithful on random text") {
    check(Prop.forAll(tokenStream) { toks =>
      val text = textOf(toks)
      val ents = QuantityParser.findEntities(text, toks)
      ents.forall(e =>
        0 <= e.startChar && e.startChar < e.endChar && e.endChar <= text.length &&
          0 <= e.startTok && e.startTok < e.endTok && e.endTok <= toks.length &&
          e.text == text.substring(e.startChar, e.endChar) &&
          // char span sits inside the claimed token range
          toks(e.startTok).start <= e.startChar && e.endChar <= toks(e.endTok - 1).end)
    })
  }

  test("W4 abbreviation detector: total and index-sound on random paren-bearing streams") {
    check(Prop.forAll(tokenStream) { toks =>
      val abbrevs = Abbreviations.detect(toks)
      abbrevs.forall(a =>
        0 <= a.shortStart && a.shortStart < a.shortEnd && a.shortEnd <= toks.length &&
          0 <= a.longStart && a.longStart < a.longEnd && a.longEnd <= toks.length)
    })
  }

  test("simhash is a bag-of-words signature: invariant under word permutation") {
    val words = Gen.listOfN(12, word)
    check(Prop.forAll(words, Gen.long) { (ws, seed) =>
      val shuffled = new scala.util.Random(seed).shuffle(ws)
      Dedup.simhash64(ws.mkString(" ")) == Dedup.simhash64(shuffled.mkString(" "))
    })
  }

  test("minhash signature: each lane is the min of the double-hash family over the shingle set") {
    import scala.util.hashing.MurmurHash3
    val shingleSet = Gen.listOfN(10, word).map(_.toSet)
    check(Prop.forAll(shingleSet) { sh =>
      val k = 16
      val sig = Dedup.minhashSig(sh, k)
      if (sh.isEmpty) sig.forall(_ == 0)
      else (0 until k).forall { j =>
        sig(j) == sh.map { g =>
          MurmurHash3.stringHash(g, 7777) + j * (MurmurHash3.stringHash(g, 7778) | 1)
        }.min
      }
    })
  }

  test("chem_norm is idempotent and F6-deterministic") {
    val messy = Gen.listOfN(4, Gen.oneOf(
      "Water", "  SODIUM  chloride ", "β-carotene", "2,4,6-Trinitrotoluene",
      "ACID salt", "poly(ethylene)", "Éthanol", "ＮａＣｌ"))
    check(Prop.forAll(messy) { parts =>
      val s = parts.mkString(" ")
      val once = Normalize.chemNorm(s)
      Normalize.chemNorm(once) == once && Normalize.chemNorm(s) == once
    })
  }

  test("CC equals driver-side union-find and is partition-invariant (random graphs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    for (_ <- 1 to 5) {
      val n = 2 + rnd.nextInt(40)
      val nodes = (0L until n.toLong).toSeq
      val edges = Seq.fill(rnd.nextInt(60))(
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)).filter(p => p._1 != p._2)
      // driver-side union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = nodes.map(i => i -> {
        // min of component = fully-compressed root under min-union
        var r = i.toInt; while (parent(r) != r) r = parent(r); r.toLong
      }).toMap
      // the distributed label loop and the size-adaptive driver
      // union-find must both match the reference
      for (parts <- Seq(1, 7); distributed <- Seq(true, false)) {
        val nodesDf = nodes.toDF("cid").repartition(parts)
        val pairsDf = edges.toDF("cid_a", "cid_b").repartition(parts)
        val got = (if (distributed) Canonicalize.connectedComponentsDistributed(nodesDf, pairsDf)
          else Canonicalize.connectedComponents(nodesDf, pairsDf))
          .as[(Long, Long)].collect().toMap
        assert(got == expected,
          s"n=$n parts=$parts distributed=$distributed: ${got.toSeq.diff(expected.toSeq).take(3)}")
      }
    }
  }

  test("jaccard prefix-filter join equals brute force on random dup-heavy corpora") {
    // tiny vocab + short docs → dense near-dup structure; exactness must
    // hold regardless (the AllPairs prefix theorem, not sampling luck)
    import spark.implicits._
    val rnd = new scala.util.Random(1717)
    val vocab = Array("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    for (round <- 1 to 6) {
      val docs = (0 until 30).map { i =>
        val len = 3 + rnd.nextInt(8)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }
      val df = docs.toDF("doc_id", "text")
      for (t <- Seq(0.4, 0.7)) {
        val got = Dedup.jaccardPairs(df, threshold = t)
          .as[(Long, Long)].collect().toSet
        val want = (for {
          i <- docs.indices; j <- (i + 1) until docs.length
          if Dedup.ngramJaccard(docs(i)._2, docs(j)._2) >= t
        } yield (docs(i)._1, docs(j)._1)).toSet
        assert(got == want, s"round=$round t=$t missed=${(want -- got).take(3)} " +
          s"extra=${(got -- want).take(3)}")
      }
    }
  }

  test("renderer fragments: text-faithful, topology matches interval-cover recount") {
    import graft.model.{Ent, RelEdge, Sentence}
    import graft.operators.Render
    val labels = Array("CHEM", "PROP", "TEMPERATURE", "VALUE", "UNSEEN")
    def unescape(s: String): String =
      s.replace("&quot;", "\"").replace("&gt;", ">").replace("&lt;", "<")
        .replace("&amp;", "&")
    val gen = for {
      toks <- tokenStream
      nEnts <- Gen.choose(0, 6)
      starts <- Gen.pick(math.min(nEnts, toks.length), toks.indices)
      labelPick <- Gen.listOfN(toks.length, Gen.choose(0, labels.length - 1))
      nRels <- Gen.choose(0, 6)
      relIdx <- Gen.listOfN(nRels, Gen.choose(0, 100))
      scores <- Gen.listOfN(nRels, Gen.choose(0.0, 1.0))
    } yield {
      val text = textOf(toks)
      val ents = starts.toArray.sorted.map { ti =>
        val t = toks(ti)
        Ent(ti, ti + 1, t.start, t.end, text.substring(t.start, t.end),
          labels(labelPick(ti)), "", Double.NaN, "")
      }
      val rels =
        if (ents.length < 2) Array.empty[RelEdge]
        else relIdx.zip(scores).map { case (r, sc) =>
          val i = r % ents.length
          val j = (r / 7) % ents.length
          RelEdge(ents(i).startTok, ents(if (i == j) (j + 1) % ents.length else j).startTok,
            "has_value", sc)
        }.toArray
      Sentence("u", 0L, 0, "s", "t", "d", text, toks, ents, rels)
    }
    check(Prop.forAll(gen) { s =>
      val (html, frags) = Render.renderSentence(s)
      val ents = s.ents.sortBy(e => (e.startChar, e.endChar))
      // 1. text fidelity: concat of unescaped fragment texts equals the
      // sentence text minus the dropped whitespace-only gaps
      val expectedText = {
        val sb = new StringBuilder
        var off = 0
        ents.foreach { e =>
          val gap = s.text.substring(off, e.startChar)
          if (gap.trim.nonEmpty) sb.append(gap)
          sb.append(s.text.substring(e.startChar, e.endChar))
          off = e.endChar
        }
        sb.append(s.text.substring(off)); sb.toString
      }
      val gotText = frags.map(f => unescape(f.text)).mkString
      // 2. entity fragments 1:1 with entities, in order
      val entFrags = frags.filter(_.kind == "ent")
      // 3. relation topology via independent interval-cover recount
      //    (the DuckDB oracle's logic): rel spans [lo,hi] in entity-order
      //    space; entity k carries lo<=k<=hi; the gap after k carries
      //    lo<=k<hi
      val kept = s.rels.filter(_.score >= 0.45)
      val ord = ents.zipWithIndex.map { case (e, i) => e.startTok -> (i + 1) }.toMap
      val spans = kept.map(r => (math.min(ord(r.headTok), ord(r.tailTok)),
        math.max(ord(r.headTok), ord(r.tailTok)), ord(r.headTok), ord(r.tailTok)))
      var k = 0 // entity-order index of the most recent entity fragment
      val topologyOk = frags.forall { f =>
        if (f.kind == "ent") {
          k += 1
          f.nRels == spans.count(x => x._1 <= k && k <= x._2) &&
            f.nHead == spans.count(_._3 == k) && f.nTail == spans.count(_._4 == k)
        } else
          f.nRels == spans.count(x => x._1 <= k && k < x._2) &&
            f.nHead == 0 && f.nTail == 0
      }
      // 4. html structurally balanced
      def cnt(h: String, p: String) = h.sliding(p.length).count(_ == p)
      gotText == expectedText &&
        entFrags.length == ents.length &&
        entFrags.map(f => unescape(f.text)).sameElements(
          ents.map(e => s.text.substring(e.startChar, e.endChar))) &&
        topologyOk &&
        cnt(html, "<mark") == cnt(html, "</mark") &&
        cnt(html, "<span") == cnt(html, "</span") &&
        cnt(html, "<mark") == ents.length
    }, minTests = 150)
  }

  // ---------- HTML extractor fuzz (S4/P1: the one operator that faces
  // raw web bytes at 10^12 rows) ----------

  import graft.functions.Html
  import graft.functions.Html.{ExtractedDoc, Section, Table, TableRow}

  /** Alphanumeric+space text — avoids the escape set and the two F1
    * normalization digraphs, whose handling the golden fixtures already
    * pin; here we fuzz STRUCTURE (random section/paragraph/table/author
    * counts, ragged colspans).
    */
  private val safeWord: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(12))
  private val safeText: Gen[String] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.listOfN(n, safeWord)).map(_.mkString(" "))

  private val tableGen: Gen[Table] = for {
    heading <- safeText
    nd <- Gen.chooseNum(0, 2)
    desc <- Gen.listOfN(nd, safeText)
    nr <- Gen.chooseNum(0, 4)
    rows <- Gen.listOfN(nr, for {
      nc <- Gen.chooseNum(1, 5)
      cells <- Gen.listOfN(nc, safeText)
      spans <- Gen.listOfN(nc, Gen.chooseNum(1, 3))
    } yield {
      // keys from cumulative colspan advance, first cell at c_0 (the
      // render/extract key contract; a row starting past c_0 is not
      // representable in html and not produced by extract)
      var idx = 0
      TableRow(cells.zip(spans).map { case (c, sp) =>
        val k = s"c_$idx"; idx += sp; k -> c
      }.toMap)
    })
  } yield Table(heading, desc.toArray, rows.toArray)

  private val docGen: Gen[ExtractedDoc] = for {
    title <- safeText; doi <- safeWord
    na <- Gen.chooseNum(0, 3); authors <- Gen.listOfN(na, safeText)
    pubDate <- Gen.oneOf("", "2021-04-01", "1999-12-31")
    nAbs <- Gen.chooseNum(0, 2); abs <- Gen.listOfN(nAbs, safeText)
    ns <- Gen.chooseNum(0, 4)
    secs <- Gen.listOfN(ns, for {
      h <- safeText; np <- Gen.chooseNum(0, 3); ps <- Gen.listOfN(np, safeText)
    } yield Section(h, ps.toArray))
    nt <- Gen.chooseNum(0, 2); tbls <- Gen.listOfN(nt, tableGen)
  } yield ExtractedDoc(title, doi, secs.toArray, authors.toArray, pubDate,
    tbls.toArray, abs.toArray)

  test("P1/S4 roundtrip: extract(render(doc)) recovers every field on random documents") {
    check(Prop.forAll(docGen) { d =>
      val e = Html.extract(Html.render(d))
      e.title == d.title && e.doi == d.doi && e.pubDate == d.pubDate &&
        e.authors.toSeq == d.authors.toSeq &&
        e.abstractParas.toSeq == d.abstractParas.toSeq &&
        e.sections.toSeq.map(s => (s.heading, s.paragraphs.toSeq)) ==
          d.sections.toSeq.map(s => (s.heading, s.paragraphs.toSeq)) &&
        e.tables.toSeq.map(t => (t.heading, t.description.toSeq, t.rows.toSeq.map(_.cells))) ==
          d.tables.toSeq.map(t => (t.heading, t.description.toSeq, t.rows.toSeq.map(_.cells))) &&
        e.text == d.text
    })
  }

  test("P1/S4 totality: extract never throws on tag soup or corrupted renders") {
    val frag: Gen[String] = Gen.oneOf(
      "<section>", "<section data-field=\"abstract\">", "</section>",
      "<h2>", "</h2>", "<h3>", "</h3>", "<p>", "</p>",
      "<figure data-type=\"table\">", "</figure>", "<figcaption>", "</figcaption>",
      "<table>", "</table>", "<tr>", "</tr>", "<td>", "</td>",
      "<td colspan=\"999999999999\">", "<td colspan=\"\">",
      "<title>", "</title>", "data-doi=\"", "\"",
      "name=\"citation_author\" content=\"", "name=\"citation_date\" content=\"",
      "&lt;", "&amp;", "&quot;", "&#x;", "&", ";", "<", ">",
      " À", " ¼", " ", "é£✓", "plain text", "  ")
    val soup: Gen[String] = Gen.listOf(frag).map(_.mkString)
    // corruption of a VALID page: truncation at any byte, a random byte
    // flip, or splicing soup into the middle — the failure shapes of
    // real crawls (cut-off responses, encoding damage, injected markup)
    val corrupted: Gen[Array[Byte]] = for {
      d <- docGen
      s <- soup
      mode <- Gen.chooseNum(0, 2)
      at <- Gen.chooseNum(0, 4096)
      b <- Gen.chooseNum(0, 255)
    } yield {
      val bytes = Html.render(d)
      mode match {
        case 0 => bytes.take(at % (bytes.length + 1))
        case 1 => val c = bytes.clone(); c(at % c.length) = b.toByte; c
        case _ =>
          val cut = at % (bytes.length + 1)
          bytes.take(cut) ++ s.getBytes("UTF-8") ++ bytes.drop(cut)
      }
    }
    check(Prop.forAll(Gen.oneOf(soup.map(_.getBytes("UTF-8")), corrupted)) { b =>
      val d1 = Html.extract(b)
      val d2 = Html.extract(b) // deterministic, and .text total
      d1.text == d2.text && d1.text != null &&
        d1.tables.forall(t => t.rows.forall(r => Html.rowCellsInOrder(r) != null))
    }, minTests = 300)
  }
}
