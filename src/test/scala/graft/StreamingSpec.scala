package graft

import graft.plans.Pipeline
import graft.sources.PageGen
import graft.streaming.EventStream
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  /** Batch reference semantics for `EventStream.userSessions` (the
    * sessionization tests assert stream == batch): sessions = per-user
    * runs of events with gaps <= gapMinutes.
    */
  private def userSessionsBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val gapMs = gapMinutes * 60000L
    val w = Window.partitionBy("user_id").orderBy("ts_ms")
    events
      .select(col("user_id"),
        (col("ts").cast("timestamp").cast("double") * 1000).cast("long").as("ts_ms"))
      .withColumn("prev", lag("ts_ms", 1).over(w))
      .withColumn("new_session",
        when(col("prev").isNull || col("ts_ms") - col("prev") > gapMs, 1).otherwise(0))
      .withColumn("session_id", sum("new_session").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min("ts_ms").as("session_start_ms"), max("ts_ms").as("session_end_ms"),
        count(lit(1)).as("n_events"))
      .drop("session_id")
  }

  test("windowed event counts: streaming result == batch equivalent") {
    val dir = Files.createTempDirectory("graft-events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartition(4).write.mode("overwrite").parquet(dir)

    val q = EventStream.windowedEventCounts(spark, dir)
      .writeStream.outputMode("complete")
      .format("memory").queryName("evt_counts").start()
    try {
      q.processAllAvailable()
      // compare window starts as epoch seconds: the memory sink hands
      // back java.sql.Timestamp while batch rows use LocalDateTime
      // (java8 datetime API default in Spark 4)
      // memory-sink window bounds come back TIMESTAMP_NTZ: go via
      // TIMESTAMP (UTC session) before the epoch cast
      val streaming = spark.sql(
        "SELECT CAST(CAST(window.start AS TIMESTAMP) AS LONG) AS ws, event_type, n FROM evt_counts")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val batch = spark.read.parquet(dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .selectExpr("CAST(CAST(window.start AS TIMESTAMP) AS LONG) AS ws", "event_type", "n")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(streaming == batch)
    } finally q.stop()
  }

  test("page stream -> triples via foreachBatch == batch pipeline") {
    import graft.plans.Materialize
    import TripleFixtures.tripleKeys
    val pagesDir = Files.createTempDirectory("graft-stream-pages").toString
    val tableDir = Files.createTempDirectory("graft-stream-table").toString
    val ckDir = Files.createTempDirectory("graft-stream-ck").toString
    val pages = PageGen.pages(spark, 40)
    pages.write.mode("overwrite").parquet(pagesDir)

    // the maintained table starts empty: the first micro-batch bootstraps it
    val q = EventStream.maintainTriples(spark, pagesDir, tableDir, ckDir, 8)
    try q.processAllAvailable() finally q.stop()

    assert(tripleKeys(Materialize.readTriples(spark, tableDir)) ==
      tripleKeys(Pipeline.run(pages).toDF()))
  }

  test("page stream -> triples: a micro-batch replayed after a lost commit is written once") {
    import graft.plans.Materialize
    import TripleFixtures.tripleKeyBag
    val pagesDir = Files.createTempDirectory("graft-stream-pages").toString
    val tableDir = Files.createTempDirectory("graft-stream-table").toString
    val ckDir = Files.createTempDirectory("graft-stream-ck").toString
    val pages = PageGen.pages(spark, 40)
    pages.write.mode("overwrite").parquet(pagesDir)

    val q1 = EventStream.maintainTriples(spark, pagesDir, tableDir, ckDir, 8)
    try q1.processAllAvailable() finally q1.stop()
    val committed = tripleKeyBag(Materialize.readTriples(spark, tableDir))
    assert(committed == tripleKeyBag(Pipeline.run(pages).toDF()))
    // a crash after the table commit but before the checkpoint commit:
    // the restarted query replays the last batch under the same batch id
    val commits = new java.io.File(ckDir, "commits").listFiles()
      .filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty, "the first run committed no batch")
    val last = commits.maxBy(_.getName.toLong)
    new java.io.File(ckDir, s"commits/.${last.getName}.crc").delete()
    assert(last.delete())
    val q2 = EventStream.maintainTriples(spark, pagesDir, tableDir, ckDir, 8)
    try q2.processAllAvailable() finally q2.stop()

    assert(last.exists(), "the restarted query did not replay the batch")
    assert(tripleKeyBag(Materialize.readTriples(spark, tableDir)) == committed)
  }

  test("streaming incremental maintenance: commits == batch latest-crawl-wins; full replay is idempotent") {
    import graft.plans.Materialize
    import TripleFixtures.{tripleKeys => keys, recrawl}
    import spark.implicits._
    val B = 8
    val pagesDir = Files.createTempDirectory("graft-maint-pages").toString
    val tableDir = Files.createTempDirectory("graft-maint-table").toString
    val ckDir = Files.createTempDirectory("graft-maint-ck").toString

    val base = (0L until 20L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, spark.createDataset(base), tableDir, B)

    // crawl batch A arrives as files; the stream applies it
    val batchA = Seq(recrawl(3, 503, 1000), recrawl(4, 504, 1000))
    spark.createDataset(batchA).toDF().write.mode("append").parquet(pagesDir)
    val q1 = EventStream.maintainTriples(spark, pagesDir, tableDir, ckDir, B)
    try q1.processAllAvailable() finally q1.stop()

    // batch B later (url 3 crawled again); RESTART from the checkpoint —
    // only the new files process
    val batchB = Seq(recrawl(3, 603, 2000))
    spark.createDataset(batchB).toDF().write.mode("append").parquet(pagesDir)
    val q2 = EventStream.maintainTriples(spark, pagesDir, tableDir, ckDir, B)
    try q2.processAllAvailable() finally q2.stop()

    val world = base.filterNot(p => p.url == PageGen.genPage(3).page.url ||
        p.url == PageGen.genPage(4).page.url) ++
      Seq(recrawl(3, 603, 2000), recrawl(4, 504, 1000))
    val expected = keys(Pipeline.run(spark.createDataset(world)).toDF())
    assert(keys(Materialize.readTriples(spark, tableDir)) == expected)

    // FULL REPLAY with a fresh checkpoint: every file reprocesses, every
    // commit is stale-or-idempotent — table state unchanged
    val ckDir2 = Files.createTempDirectory("graft-maint-ck2").toString
    val q3 = EventStream.maintainTriples(spark, pagesDir, tableDir, ckDir2, B)
    try q3.processAllAvailable() finally q3.stop()
    assert(keys(Materialize.readTriples(spark, tableDir)) == expected)
  }

  test("WARC-arrival maintenance: shards land as .warc.gz, table == batch latest-crawl-wins") {
    import graft.plans.Materialize
    import TripleFixtures.{tripleKeys => keys, recrawl}
    import spark.implicits._
    val B = 8
    val warcDir = Files.createTempDirectory("graft-maint-warc").toString
    val tableDir = Files.createTempDirectory("graft-maint-warc-table").toString
    val ckDir = Files.createTempDirectory("graft-maint-warc-ck").toString

    val base = (0L until 20L).map(PageGen.genPage(_).page)
    Materialize.runResumable(spark, spark.createDataset(base), tableDir, B)

    // crawl batch A lands as ONE WARC shard (text/lang re-derive
    // in-stream from the raw bytes — the WarcSpec ingest equality)
    def land(batch: Seq[graft.model.Page], sub: String): Unit =
      graft.sources.Warc.write(
        spark.createDataset(batch).toDF().coalesce(1), s"$warcDir/$sub")
    land(Seq(recrawl(3, 503, 1000), recrawl(4, 504, 1000)), "cc-a")
    val q1 = EventStream.maintainTriplesFromWarc(spark, s"$warcDir/*", tableDir, ckDir, B)
    try q1.processAllAvailable() finally q1.stop()

    // batch B later; RESTART from the checkpoint — only the new shard
    land(Seq(recrawl(3, 603, 2000)), "cc-b")
    val q2 = EventStream.maintainTriplesFromWarc(spark, s"$warcDir/*", tableDir, ckDir, B)
    try q2.processAllAvailable() finally q2.stop()

    val world = base.filterNot(p => p.url == PageGen.genPage(3).page.url ||
        p.url == PageGen.genPage(4).page.url) ++
      Seq(recrawl(3, 603, 2000), recrawl(4, 504, 1000))
    val expected = keys(Pipeline.run(spark.createDataset(world)).toDF())
    assert(keys(Materialize.readTriples(spark, tableDir)) == expected)

    // full replay under a fresh checkpoint: every shard reprocesses,
    // every commit is stale-or-idempotent — table unchanged
    val ckDir2 = Files.createTempDirectory("graft-maint-warc-ck2").toString
    val q3 = EventStream.maintainTriplesFromWarc(spark, s"$warcDir/*", tableDir, ckDir2, B)
    try q3.processAllAvailable() finally q3.stop()
    assert(keys(Materialize.readTriples(spark, tableDir)) == expected)
  }

  test("CDX-routed WARC maintenance == binaryFile path: multi-record shards, table equality") {
    import graft.plans.Materialize
    import TripleFixtures.{tripleKeys => keys, recrawl}
    import spark.implicits._
    val B = 8
    val root = Files.createTempDirectory("graft-maint-cdx").toString
    val base = (0L until 20L).map(PageGen.genPage(_).page)
    // the crawl lands as TWO multi-record shards + their CDX index
    // (writeWithCdx commits index rows only after the shard bytes)
    val crawl = Seq(recrawl(3, 503, 1000), recrawl(4, 504, 1000),
      recrawl(5, 505, 1000), PageGen.genPage(30).page, PageGen.genPage(31).page)
    graft.sources.Warc.writeWithCdx(
      spark.createDataset(crawl).toDF().repartition(2),
      s"$root/warc", s"$root/cdx")

    def runPath(sub: String)(start: (String, String) => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val tableDir = s"$root/table-$sub"
      Materialize.runResumable(spark, spark.createDataset(base), tableDir, B)
      val q = start(tableDir, s"$root/ck-$sub")
      try q.processAllAvailable() finally q.stop()
    }
    runPath("bin")((t, ck) =>
      EventStream.maintainTriplesFromWarc(spark, s"$root/warc", t, ck, B))
    runPath("cdx")((t, ck) =>
      // splitBytes far below the shard size: the fetch fans sub-file
      EventStream.maintainTriplesFromCdx(spark, s"$root/cdx", t, ck, B,
        splitBytes = 4096L))
    val kBin = keys(Materialize.readTriples(spark, s"$root/table-bin"))
    val kCdx = keys(Materialize.readTriples(spark, s"$root/table-cdx"))
    assert(kBin == kCdx, "CDX-routed stream diverged from the binaryFile path")
    // and both equal the batch world
    val world = base.filterNot(p => crawl.exists(_.url == p.url)) ++ crawl
    assert(kCdx == keys(Pipeline.run(spark.createDataset(world)).toDF()))
  }

  test("streaming exact dedup: one survivor per distinct text, state bounded by watermark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-stream-dedup").toString
    def write(rows: Seq[(Long, Long, String)]): Unit = // (doc_id, minute, text)
      rows.toDF("doc_id", "m", "text")
        .withColumn("ts", expr("timestamp_millis(m * 60000 + 1600000000000)"))
        .select("doc_id", "ts", "text")
        .write.mode("append").parquet(dir)

    // batch 1: 6 rows, 4 distinct texts (intra-batch dups)
    write(Seq((0L, 0L, "alpha"), (1L, 0L, "beta"), (2L, 1L, "alpha"),
      (3L, 1L, "gamma"), (4L, 2L, "beta"), (5L, 2L, "delta")))
    val q = graft.streaming.EventStream.dedupDocStream(spark, dir, watermark = "2 hours")
      .writeStream.outputMode("append").format("memory").queryName("dedup_stream").start()
    try {
      q.processAllAvailable()
      // batch 2: cross-batch dups within the watermark drop; new text survives
      write(Seq((6L, 3L, "alpha"), (7L, 3L, "epsilon"), (8L, 4L, "gamma")))
      q.processAllAvailable()
      val out = spark.sql("SELECT doc_id, text FROM dedup_stream")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      // exactly one survivor per distinct text (within a micro-batch
      // the surviving row is whichever task saw the hash first — the
      // same any-single-survivor contract as batch exactSurvivors up
      // to tie-break); cross-batch duplicates must NOT re-emit
      assert(out.length == 5, s"got ${out.toSeq}")
      assert(out.map(_._2).toSet == Set("alpha", "beta", "gamma", "delta", "epsilon"))
      val byText = out.toMap.map(_.swap)
      assert(byText("alpha") <= 5L && byText("gamma") <= 5L,
        s"batch-2 duplicate re-emitted: $byText")
      assert(byText("epsilon") == 7L)
    } finally q.stop()
  }

  test("sessionization merges late out-of-order events like the batch semantics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sessions-ooo").toString
    def write(rows: Seq[(Long, Long)]): Unit = // (user_id, minute)
      rows.toDF("user_id", "m")
        .withColumn("ts", expr("timestamp_millis(m * 60000 + 1500000000000)"))
        .withColumn("event_id", lit(0L)).withColumn("event_type", lit("x"))
        .withColumn("value", lit(0.0)).withColumn("props", lit(""))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)

    write(Seq((1L, 100L), (1L, 110L), (2L, 200L), (3L, 0L), (3L, 100L)))
    val q = EventStream.userSessions(spark, dir, gapMinutes = 30, watermark = "240 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sessions_ooo").start()
    try {
      q.processAllAvailable()
      // out-of-order second batch: user1's event arrives BEFORE its open
      // session's start but within gap (must merge and LOWER the start);
      // user2's is more than gap older (must become its own session);
      // user3's t=25 must merge into the PENDING session [0,0] — which
      // therefore must not have been emitted in batch 1, even though a
      // later event (t=100) already closed it batch-locally
      write(Seq((1L, 95L), (2L, 100L), (3L, 25L)))
      q.processAllAvailable()
      write(Seq((999L, 100000L))) // sentinel: watermark past everything
      q.processAllAvailable()

      val streamed = spark.sql(
        "SELECT user_id, session_start_ms, session_end_ms, n_events FROM sessions_ooo " +
        "WHERE user_id < 999")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = userSessionsBatch(
        spark.read.parquet(dir).filter(col("user_id") < 999), gapMinutes = 30)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(5)} spurious=${(streamed -- batch).take(5)}")
      // the late event genuinely lowered user1's session start
      assert(streamed.exists(s => s._1 == 1L &&
        s._2 == 95L * 60000 + 1500000000000L && s._4 == 3L))
    } finally q.stop()
  }

  test("sessionization boundary: ts == watermark is LATE to the operator; close-at-<= is safe") {
    import spark.implicits._
    // Investigated round-4: one might fear an on-time event at exactly
    // ts == wm == pending.lastS + gap merges in batch but hits an
    // already-closed stream session. It cannot: flatMapGroupsWithState
    // with EventTimeTimeout filters input rows with ts <= wm as late
    // (this test is the executable witness — the m=30 event below
    // reaches neither a merge nor its own session), so once
    // wm >= lastS + gap NO mergeable event can still arrive and
    // closing at <= is the earliest safe emission point.
    val dir = Files.createTempDirectory("graft-sessions-boundary").toString
    def write(rows: Seq[(Long, Long)]): Unit = // (user_id, minute)
      rows.toDF("user_id", "m")
        .withColumn("ts", expr("timestamp_millis(m * 60000 + 1500000000000)"))
        .withColumn("event_id", lit(0L)).withColumn("event_type", lit("x"))
        .withColumn("value", lit(0.0)).withColumn("props", lit(""))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)

    val q = EventStream.userSessions(spark, dir, gapMinutes = 30, watermark = "240 minutes")
      .writeStream.outputMode("append").format("memory").queryName("sessions_bd").start()
    try {
      write(Seq((10L, 0L))) // pending [0,0]; lastS + gap = 30min
      q.processAllAvailable()
      write(Seq((998L, 270L))) // watermark -> exactly 30min
      q.processAllAvailable()
      // u10 active again while wm == lastS + gap: [0,0] closes here (<=)
      write(Seq((10L, 100L)))
      q.processAllAvailable()
      // the boundary event: ts == wm == 30min — DROPPED by the
      // operator's late filter, so it can neither merge into [0,0]
      // nor open a session of its own
      write(Seq((10L, 30L)))
      q.processAllAvailable()
      write(Seq((999L, 100000L))) // close everything
      q.processAllAvailable()

      val streamed = spark.sql(
        "SELECT user_id, session_start_ms, session_end_ms, n_events FROM sessions_bd " +
        "WHERE user_id = 10")
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val base = 1500000000000L
      assert(streamed == Set(
        (base, base, 1L), // [0,0] closed at wm == lastS+gap; m=30 was late
        (base + 100L * 60000, base + 100L * 60000, 1L)),
        s"got $streamed")
      // stream == batch over the NON-LATE events (the watermark
      // contract): batch sessions over {0, 100} match exactly
      val batch = userSessionsBatch(
        spark.read.parquet(dir)
          .filter(col("user_id") === 10 &&
            col("ts") =!= expr("timestamp_millis(30 * 60000 + 1500000000000)")),
        gapMinutes = 30)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization: closed stream sessions == batch sessions") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sessions").toString
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.repartition(2).write.mode("overwrite").parquet(dir)

    val q = EventStream.userSessions(spark, dir, gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("sessions").start()
    try {
      q.processAllAvailable()
      // advance the watermark far past every session with a sentinel
      // user so all open sessions time out and emit
      val maxTsMs = events.agg(max(col("ts").cast("timestamp").cast("double") * 1000))
        .collect()(0).getDouble(0).toLong
      val sentinel = Seq((java.lang.Long.valueOf(999999999L),
        new java.sql.Timestamp(maxTsMs + 365L * 86400000L)))
        .toDF("user_id", "ts")
        .withColumn("event_id", lit(0L)).withColumn("event_type", lit("x"))
        .withColumn("value", lit(0.0)).withColumn("props", lit(""))
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
      sentinel.write.mode("append").parquet(dir)
      q.processAllAvailable()

      val streamed = spark.sql(
        "SELECT user_id, session_start_ms, session_end_ms, n_events FROM sessions " +
        "WHERE user_id <> 999999999")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val batch = userSessionsBatch(events, gapMinutes = 30)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} spurious=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }
}
