package graft

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files
import java.util.zip.GZIPOutputStream

import graft.sources.{PageGen, Warc}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** WARC source/sink: golden parse of hand-authored bytes, byte-level
  * round trip through real gzip shards, CC-layout edge cases, the
  * ingest adapter vs the generator's page table, and the file-level
  * parallelism contract.
  */
class WarcSpec extends AnyFunSuite with ScopePerTest {
  private lazy val spark = SparkSpec.spark

  private def gzMembers(recs: Array[Byte]*): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    recs.foreach { r =>
      // BAOS.close() is a no-op, so plain close() per member is safe
      val gz = new GZIPOutputStream(out)
      gz.write(r); gz.close()
    }
    out.toByteArray
  }

  private def handRecord(typ: String, uri: String, date: String,
      payload: Array[Byte],
      contentType: String = "application/http; msgtype=response"): Array[Byte] = {
    val head = (s"WARC/1.0\r\n" +
      s"WARC-Type: $typ\r\n" +
      "WARC-Record-ID: <urn:test:1>\r\n" +
      s"WARC-Date: $date\r\n" +
      (if (uri.nonEmpty) s"WARC-Target-URI: $uri\r\n" else "") +
      s"Content-Type: $contentType\r\n" +
      s"Content-Length: ${payload.length}\r\n\r\n").getBytes(ISO_8859_1)
    head ++ payload ++ "\r\n\r\n".getBytes(ISO_8859_1)
  }

  private def httpPayload(body: String, status: String = "200 OK"): Array[Byte] =
    (s"HTTP/1.1 $status\r\n" +
      "Content-Type: text/html; charset=UTF-8\r\n" +
      s"Content-Length: ${body.getBytes(UTF_8).length}\r\n\r\n").getBytes(ISO_8859_1) ++
      body.getBytes(UTF_8)

  test("golden: hand-authored multi-record stream parses to exactly the response rows") {
    val recs = Seq(
      handRecord("warcinfo", "", "2023-01-01T00:00:00Z",
        "software: x\r\n".getBytes(ISO_8859_1), "application/warc-fields"),
      handRecord("request", "http://a.example/", "2023-05-01T10:00:00Z",
        "GET / HTTP/1.1\r\nHost: a.example\r\n\r\n".getBytes(ISO_8859_1),
        "application/http; msgtype=request"),
      handRecord("response", "http://a.example/", "2023-05-01T10:00:00Z",
        httpPayload("<html>A</html>")),
      handRecord("response", "http://b.example/x?y=1", "2023-05-01T11:30:45Z",
        httpPayload("<html>B page</html>", status = "404 Not Found")))
    // uncompressed variant (filename without .gz)
    val raw = recs.reduce(_ ++ _)
    val rows = Warc.records(new ByteArrayInputStream(raw), "t.warc",
      maxPayload = 1 << 20, lenientTail = false).toList
    assert(rows.map(_.warcType) === List("warcinfo", "request", "response", "response"))
    val http = rows.filter(_.warcType == "response")
      .flatMap(r => Warc.parseHttp(r.payload.get))
    assert(http.map(_._1) === List(200, 404))
    assert(new String(http.head._3, UTF_8) === "<html>A</html>")
    assert(new String(http(1)._3, UTF_8) === "<html>B page</html>")
    // gzip-per-member variant parses identically
    val gz = Warc.records(new ByteArrayInputStream(gzMembers(recs: _*)),
      "t.warc.gz", 1 << 20, lenientTail = false).toList
    assert(gz.map(_.warcType) === rows.map(_.warcType))
    assert(gz.zip(rows).forall { case (a, b) =>
      java.util.Arrays.equals(a.payload.get, b.payload.get) })
  }

  test("round trip: write -> read preserves (url, ts, html) bytes over real shards") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-rt").toString
    val pages = PageGen.pages(spark, 60, partitions = 3)
    val shards = Warc.write(pages.toDF(), dir)
    assert(shards === 3)
    val back = Warc.read(spark, s"$dir/*.warc.gz")
    assert(back.select("http_status").distinct().as[Int].collect().toSeq === Seq(200))
    val got = back.select("url", "warc_ts", "html")
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .collect().sortBy(_._1)
    val exp = pages.collect().sortBy(_.url)
    assert(got.length === exp.length)
    got.zip(exp).foreach { case ((u, ts, h), p) =>
      assert(u === p.url)
      assert(ts === p.warc_ts) // whole-second fixtures survive WARC/1.0 dates
      assert(java.util.Arrays.equals(h, p.html))
    }
    // parallelism contract: one task per shard
    assert(back.rdd.getNumPartitions === 3)
  }

  test("ingest derives the full input-hint page table (text + lang) from raw bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-ing").toString
    val pages = PageGen.pages(spark, 120, partitions = 2)
    Warc.write(pages.toDF(), dir)
    val got = Warc.ingest(spark, s"$dir/*.warc.gz").collect().sortBy(_.url)
    val exp = pages.collect().sortBy(_.url)
    got.zip(exp).foreach { case (g, p) =>
      assert(g.url === p.url)
      assert(java.util.Arrays.equals(g.html, p.html))
      // text is the S4 extraction of the html bytes — the same function
      // the pipeline runs, so byte-identical by construction
      assert(g.text === graft.functions.Html.extractText(p.html))
      // the stopword-argmax langid agrees with the generator's label on
      // every fixture page (en bodies carry en stopwords, de/fr theirs)
      assert(g.lang === p.lang, s"lang mismatch for ${p.url}")
    }
    // end-to-end: the pipeline over ingested pages == over original pages
    val a = graft.plans.Pipeline.run(Warc.ingest(spark, s"$dir/*.warc.gz"))
      .drop("score").collect().map(_.toString).sorted
    val b = graft.plans.Pipeline.run(pages).drop("score")
      .collect().map(_.toString).sorted
    assert(a === b)
  }

  test("oversized payloads are skipped without materializing; rec_seq gaps expose them") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-big").toString
    val big = "x" * 5000
    val recs = gzMembers(
      handRecord("response", "http://small.example/", "2023-05-01T10:00:00Z",
        httpPayload("<html>ok</html>")),
      handRecord("response", "http://big.example/", "2023-05-01T10:00:01Z",
        httpPayload(s"<html>$big</html>")),
      handRecord("response", "http://small2.example/", "2023-05-01T10:00:02Z",
        httpPayload("<html>ok2</html>")))
    Files.write(java.nio.file.Paths.get(dir, "f.warc.gz"), recs)
    val rows = Warc.read(spark, s"$dir/*.warc.gz", maxPayload = 1000)
      .select("url", "rec_seq").as[(String, Int)].collect().sortBy(_._2)
    assert(rows.map(_._1).toSeq ===
      Seq("http://small.example/", "http://small2.example/"))
    assert(rows.map(_._2).toSeq === Seq(0, 2)) // gap at 1 = the dropped record
  }

  test("truncated tail: strict read fails loudly, lenient read yields the prefix") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-trunc").toString
    val good = handRecord("response", "http://ok.example/", "2023-05-01T10:00:00Z",
      httpPayload("<html>ok</html>"))
    val cut = handRecord("response", "http://cut.example/", "2023-05-01T10:00:01Z",
      httpPayload("<html>never arrives</html>"))
    val truncated = gzMembers(good) ++ gzMembers(cut).dropRight(40)
    Files.write(java.nio.file.Paths.get(dir, "t.warc.gz"), truncated)
    val strict = intercept[org.apache.spark.SparkException] {
      Warc.read(spark, s"$dir/*.warc.gz").count()
    }
    // the contextual wrap must survive the Spark exception chain
    val chain = Iterator.iterate[Throwable](strict)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse(""))
      .mkString(" | ")
    assert(chain.contains("WARC record in"), s"unexpected chain: $chain")
    val lenient = Warc.read(spark, s"$dir/*.warc.gz", lenientTail = true)
      .select("url").as[String].collect().toSeq
    assert(lenient === Seq("http://ok.example/"))
  }

  test("damaged (not truncated) shard: lenient read survives, strict fails loudly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-damage").toString
    val good = gzMembers(handRecord("response", "http://ok.example/",
      "2023-05-01T10:00:00Z", httpPayload("<html>ok</html>")))
    val bad = gzMembers(handRecord("response", "http://bad.example/",
      "2023-05-01T10:00:01Z", httpPayload("<html>damaged</html>")))
    // flip bits in the middle of the second member's deflate stream —
    // gzip damage (ZipException territory), not truncation
    val damaged = good ++ bad.zipWithIndex.map { case (b, i) =>
      if (i > 40 && i < 44) (b ^ 0x55).toByte else b
    }
    Files.write(java.nio.file.Paths.get(dir, "d.warc.gz"), damaged)
    intercept[org.apache.spark.SparkException] {
      Warc.read(spark, s"$dir/*.warc.gz").count()
    }
    val lenient = Warc.read(spark, s"$dir/*.warc.gz", lenientTail = true)
      .select("url").as[String].collect().toSeq
    assert(lenient === Seq("http://ok.example/"))
  }

  test("CDX: writeWithCdx indexes every record; fetchRecords == glob read, byte-exact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-cdx").toString
    val pages = PageGen.pages(spark, 80, partitions = 4)
    val n = Warc.writeWithCdx(pages.toDF(), s"$dir/warc", s"$dir/cdx")
    assert(n === 80)
    val cdx = spark.read.parquet(s"$dir/cdx")
    assert(cdx.count() === 80)
    // offsets strictly increase within a shard and never address byte 0
    // (the warcinfo member leads every shard)
    val mono = cdx.select("warc_file", "offset", "length")
      .as[(String, Long, Long)].collect()
      .groupBy(_._1).values
    mono.foreach { f =>
      val offs = f.sortBy(_._2)
      assert(offs.head._2 > 0)
      offs.sliding(2).foreach {
        case Array((_, o1, l1), (_, o2, _)) => assert(o1 + l1 <= o2)
        case _ =>
      }
    }
    // random-access fetch of a shuffled subset equals the scan rows
    val some = cdx.filter(md5(col("url")).substr(1, 1) <= "7")
    val fetched = Warc.fetchRecords(some)
      .select("url", "warc_ts", "html")
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .collect().sortBy(_._1)
    val scanned = Warc.read(spark, s"$dir/warc/*.warc.gz")
      .join(some.select("url"), Seq("url"), "left_semi")
      .select("url", "warc_ts", "html")
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .collect().sortBy(_._1)
    assert(fetched.length === some.count())
    assert(fetched.length === scanned.length)
    fetched.zip(scanned).foreach { case ((u1, t1, h1), (u2, t2, h2)) =>
      assert(u1 === u2); assert(t1 === t2)
      assert(java.util.Arrays.equals(h1, h2))
    }
  }

  test("CDX-split read: sub-file splits yield the same record set as the file-unit reader") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-split").toString
    // 2 multi-record shards (60 records each): the file-unit reader
    // gets 2 tasks; the CDX-driven ranged reader must split further
    val pages = PageGen.pages(spark, 120, partitions = 2)
    Warc.writeWithCdx(pages.toDF(), s"$dir/warc", s"$dir/cdx")
    val cdx = spark.read.parquet(s"$dir/cdx")
    // shard sizes are a few hundred KB; 4 KiB ranges force many buckets
    val split = Warc.fetchRecords(cdx, splitBytes = 4096)
    val whole = Warc.read(spark, s"$dir/warc/*.warc.gz")
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("url", "warc_ts", "html")
        .as[(String, java.sql.Timestamp, Array[Byte])]
        .collect().map { case (u, t, h) => (u, t, h.toSeq) }.sortBy(_._1).toSeq
    assert(key(split) === key(whole))
    // the ranged reader's offsets actually spread over >2 range buckets
    // (the splittability claim): distinct (file, offset/4096) keys
    val buckets = cdx.select(col("warc_file"),
      floor(col("offset") / lit(4096L))).distinct().count()
    assert(buckets > 2, s"fixture too small to exercise splitting: $buckets")
  }

  test("rec_seq: a malformed HTTP head drops the row without forging an oversized gap") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-badhttp").toString
    val recs = gzMembers(
      handRecord("response", "http://ok1.example/", "2023-05-01T10:00:00Z",
        httpPayload("<html>ok1</html>")),
      // a response record whose payload is NOT an HTTP message at all
      handRecord("response", "http://weird.example/", "2023-05-01T10:00:01Z",
        "this is not http".getBytes(ISO_8859_1)),
      handRecord("response", "http://ok2.example/", "2023-05-01T10:00:02Z",
        httpPayload("<html>ok2</html>")))
    Files.write(java.nio.file.Paths.get(dir, "m.warc.gz"), recs)
    val rows = Warc.read(spark, s"$dir/*.warc.gz")
      .select("url", "rec_seq").as[(String, Int)].collect().sortBy(_._2)
    assert(rows.map(_._1).toSeq ===
      Seq("http://ok1.example/", "http://ok2.example/"))
    // contiguous: no gap, so a reader auditing gaps counts ONLY
    // oversized drops (the scaladoc's one-gap-cause contract)
    assert(rows.map(_._2).toSeq === Seq(0, 1))
  }

  test("shard commit is first-writer-wins: a committed shard is never deleted or replaced") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-fww").toString
    val pages = PageGen.pages(spark, 30, partitions = 1).toDF()
    Warc.write(pages, dir)
    val shard = java.nio.file.Paths.get(dir, "part-00000.warc.gz")
    val committed = Files.readAllBytes(shard)
    // a REPLAY of the same dataset (the zombie-attempt / speculative
    // re-run shape): deterministic bytes → the standing shard satisfies
    // the attempt, no exception, bytes untouched
    Warc.write(pages, dir)
    assert(java.util.Arrays.equals(Files.readAllBytes(shard), committed),
      "committed shard bytes were replaced by a replay")
    // a DIFFERENT dataset racing into the same directory fails loudly
    // (r5 advice: the old silent keep committed a fresh CDX describing
    // discarded bytes) — and the committed shard still stands untouched
    val ex = intercept[org.apache.spark.SparkException] {
      Warc.write(PageGen.pages(spark, 10, partitions = 1).toDF(), dir)
    }
    assert(ex.getMessage.contains("different bytes") ||
      Option(ex.getCause).exists(_.getMessage.contains("different bytes")))
    assert(java.util.Arrays.equals(Files.readAllBytes(shard), committed),
      "committed shard bytes were replaced by a conflicting writer")
    // and no temp litter remains after either outcome
    val tmps = new java.io.File(dir).listFiles().map(_.getName)
      .filter(_.contains(".tmp"))
    assert(tmps.isEmpty, s"uncleaned temp attempts: ${tmps.mkString(",")}")
  }

  test("writer determinism: same rows twice -> byte-identical shards and identical CDX") {
    // the attempt-commit safety argument (cdxRows scaladoc) rests on
    // this: a speculative re-attempt of the same partition must produce
    // the same bytes, so either attempt's renamed file satisfies the
    // committed index rows
    import spark.implicits._
    val dirA = Files.createTempDirectory("graft-warc-detA").toString
    val dirB = Files.createTempDirectory("graft-warc-detB").toString
    val pages = PageGen.pages(spark, 50, partitions = 2).toDF()
    val cdxA = {
      Warc.writeWithCdx(pages, s"$dirA/warc", s"$dirA/cdx")
      spark.read.parquet(s"$dirA/cdx")
        .select("url", "offset", "length")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    }
    val cdxB = {
      Warc.writeWithCdx(pages, s"$dirB/warc", s"$dirB/cdx")
      spark.read.parquet(s"$dirB/cdx")
        .select("url", "offset", "length")
        .as[(String, Long, Long)].collect().sortBy(_._1).toSeq
    }
    assert(cdxA === cdxB)
    val shardsA = new java.io.File(s"$dirA/warc").listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
    val shardsB = new java.io.File(s"$dirB/warc").listFiles()
      .filter(_.getName.endsWith(".warc.gz")).sortBy(_.getName)
    assert(shardsA.map(_.getName).toSeq === shardsB.map(_.getName).toSeq)
    shardsA.zip(shardsB).foreach { case (a, b) =>
      assert(java.util.Arrays.equals(
        Files.readAllBytes(a.toPath), Files.readAllBytes(b.toPath)),
        s"shard bytes differ: ${a.getName}")
    }
  }

  test("WET: released-corpus export round-trips; conversion records only; char-exact text") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-wet").toString
    // the real pipeline: released (redacted) corpus -> WET shards
    val fx = SparkEntry.releaseFixture(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
    val docs = scope.persist(graft.operators.Release.released(fx).select(
      concat(lit("https://wet.example/doc/"),
        lpad(col("doc_id").cast("string"), 8, "0")).as("url"),
      (lit(1700000000L) + col("doc_id")).cast("timestamp").as("warc_ts"),
      col("clean_text").as("text")))
    val n = Warc.writeWet(docs.repartition(3), dir)
    assert(n === 3)
    val exp = docs.as[(String, java.sql.Timestamp, String)].collect().sortBy(_._1).toSeq
    val got = Warc.readWet(spark, s"$dir/*.warc.wet.gz")
      .as[(String, java.sql.Timestamp, String)].collect().sortBy(_._1).toSeq
    assert(got === exp)
    // a WET shard holds warcinfo + conversion records only: the
    // response reader finds nothing in it
    assert(Warc.read(spark, s"$dir/*.warc.wet.gz").count() === 0)
  }

  test("read emits no shuffle and no wide stage (scan -> rows is one narrow plan)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-warc-plan").toString
    Warc.write(PageGen.pages(spark, 20, partitions = 1).toDF(), dir)
    val df = Warc.read(spark, s"$dir/*.warc.gz")
      .select("url", "http_status")
    assert(df.count() === 20)
    assert(df.rdd.toDebugString.linesIterator
      .count(_.contains("ShuffledRDD")) === 0)
  }
}
