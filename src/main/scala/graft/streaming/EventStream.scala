package graft.streaming

import graft.model.Page
import graft.plans.Scope
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured Streaming facade (SURVEY.md §2.8: the reference is
  * strictly batch with resume flags; the engine's stages are stateless
  * per-row maps, so a streaming wrapper is a thin layer — provided here
  * for stream-shaped deployments).
  *
  *  - `windowedEventCounts`: watermarked tumbling-window aggregation
  *    over an events directory (file source).
  *  - `maintainTriples` (and its CDX and WARC sources): page stream →
  *    foreachBatch(merge-on-read commit) into the one snapshot-logged
  *    triple table. Each micro-batch reuses the exact batch dataflow, so
  *    stream output ≡ batch output on the same rows (asserted in
  *    StreamingSpec).
  */
/** One pending session interval for `EventStream.userSessions`
  * (top-level: encoder codegen requires a publicly constructible
  * class). State per user is the LIST of pending sessions — a session
  * is only emitted once the watermark passes lastS + gap, because
  * until then a late-but-within-watermark event may still merge into
  * it (or bridge two pending sessions); emitting earlier would split
  * sessions the batch semantics would join.
  */
final case class SessionAcc(startS: Long, lastS: Long, n: Long)

final case class SessionState(pending: List[SessionAcc])

object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  val pageSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** Tumbling-window counts per event type with a watermark — the
    * canonical streaming aggregation (late rows beyond the watermark
    * drop).
    */
  def windowedEventCounts(
      spark: SparkSession, dir: String,
      windowLen: String = "1 hour", watermark: String = "2 hours"
  ): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total"))

  /** One closed user session: consecutive events of a user with gaps
    * <= the session gap.
    */
  final case class UserSession(user_id: Long, session_start_ms: Long,
      session_end_ms: Long, n_events: Long)

  /** Custom-state streaming: event-time sessionization per user via
    * `flatMapGroupsWithState` + event-time timeout — the
    * KeyValueGroupedDataset state API the built-in windowed aggs can't
    * express (a session has data-dependent bounds). A session closes
    * when the watermark passes its last event + gap; closed sessions
    * are emitted, open ones stay in state. State per key is three
    * longs — bounded, timeout-collected: safe at any cardinality.
    */
  def userSessions(
      spark: SparkSession, dir: String,
      gapMinutes: Int = 30, watermark: String = "10 minutes"
  ): Dataset[UserSession] = {
    import spark.implicits._
    val gapMs = gapMinutes * 60000L
    spark.readStream.schema(eventSchema).parquet(dir)
      .withWatermark("ts", watermark)
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionState]) =>
          // merge the micro-batch's event times into the PENDING
          // session list. flatMapGroupsWithState does NOT drop
          // late-but-within-watermark rows, so an event may arrive
          // older than any pending session's start, inside one, or
          // bridging two: interval-merge over (pending ∪ new singleton
          // intervals) reproduces the batch window semantics exactly,
          // because a pending interval's interior gaps are already
          // <= gap, so anything within gap of the interval belongs to
          // it. A session is EMITTED only once the watermark passes
          // its lastS + gap — before that, a late event could still
          // change it, and append-mode output cannot be retracted.
          val wm = state.getCurrentWatermarkMs()
          val intervals = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
          if (state.exists) intervals ++= state.get.pending
          rows.foreach { case (_, ts) =>
            intervals += SessionAcc(ts.getTime, ts.getTime, 1)
          }
          val merged = scala.collection.mutable.ArrayBuffer.empty[SessionAcc]
          intervals.sortBy(a => (a.startS, a.lastS)).foreach { iv =>
            if (merged.nonEmpty && iv.startS - merged.last.lastS <= gapMs) {
              val last = merged.last
              merged(merged.length - 1) = SessionAcc(
                math.min(last.startS, iv.startS),
                math.max(last.lastS, iv.lastS), last.n + iv.n)
            } else merged += iv
          }
          // close at lastS + gap <= wm: this is EXACTLY the earliest
          // safe point, because Spark's flatMapGroupsWithState with
          // EventTimeTimeout drops input rows with ts <= wm as late
          // (verified empirically — StreamingSpec "sessionization
          // boundary"), so once wm >= lastS + gap no event that could
          // merge (ts <= lastS + gap) can still arrive; a strict <
          // would only hold state one watermark-tick longer for the
          // same output
          val (closed, open) = merged.partition(_.lastS + gapMs <= wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionState(open.toList))
            // next emission point; clamp strictly above the watermark
            // (a very late batch can leave lastS + gap at/below it and
            // Spark rejects such timeouts)
            state.setTimeoutTimestamp(
              math.max(open.map(_.lastS).min + gapMs, wm + 1))
          }
          closed.iterator.map(a => UserSession(user, a.startS, a.lastS, a.n))
      }
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("ts", TimestampType),
    StructField("text", StringType)))

  /** Streaming exact dedup over a document stream — the streaming
    * analog of Dedup.exactSurvivors: first-seen wins per content hash.
    * State is the 16-byte hash per distinct doc and is BOUNDED by the
    * watermark (`dropDuplicatesWithinWatermark` ages entries out once
    * the watermark passes them) — the only state shape that survives an
    * unbounded stream; a plain dropDuplicates would grow state forever.
    * Only the hash rides in state/shuffle, never the text (the same
    * exchange discipline as the batch dedup family).
    */
  def dedupDocStream(
      spark: SparkSession, dir: String, watermark: String = "1 hour"
  ): DataFrame =
    spark.readStream.schema(docSchema).parquet(dir)
      .withColumn("text_hash", md5(col("text")))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Stream pages → an INCREMENTALLY MAINTAINED triple table: each
    * micro-batch applies as a latest-crawl-wins merge-on-read commit
    * (`Materialize.incrementalUpdate`), so the continuously-updated KG
    * inherits the batch path's whole safety story —
    *
    *  - Structured Streaming's foreachBatch is AT-LEAST-ONCE; a
    *    micro-batch becomes visible in one snapshot commit, so a replay
    *    of a committed batch is a stale no-op and a replay of a crashed
    *    one applies it afresh (exactly-once TABLE state);
    *  - repeated or out-of-order crawls of a url are stale no-ops
    *    (versions sidecar), so replays and late file discovery cannot
    *    regress a url to older content;
    *  - write amplification is O(micro-batch) regardless of how the
    *    batch scatters over buckets (merge-on-read), which is the only
    *    viable shape for a stream of small batches; run `compact()` on
    *    whatever schedule read-amplification warrants — it is safe
    *    concurrent with the committing stream (its fold commits only if
    *    every entry it replaces is still live, so a batch committed
    *    meanwhile stays live; unnamed-dir GC is grace-gated, so keep
    *    `Materialize.DefaultGcGraceMs` above the longest micro-batch
    *    write);
    *  - `readTriples` serves the live table and `readTriplesAsOf`
    *    time-travels it while the stream keeps committing: a batch
    *    becomes visible atomically at the rename that publishes its
    *    snapshot — a reader mid-commit sees the pre-batch state, never
    *    a half-applied one.
    *
    * The table may start empty (first micro-batch bootstraps) or from
    * a `runResumable` bootstrap.
    */
  def maintainTriples(
      spark: SparkSession, pagesDir: String, tableDir: String,
      checkpointDir: String, buckets: Int
  ): StreamingQuery = {
    spark.readStream.schema(pageSchema).parquet(pagesDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        if (!batch.isEmpty) {
          graft.plans.Materialize.incrementalUpdate(
            s, batch.as[Page], tableDir, buckets, mergeOnRead = true)
          ()
        }
      }
      .start()
  }

  /** [[maintainTriplesFromWarc]] for producers that land shards WITH a
    * CDX index ([[graft.sources.Warc.writeWithCdx]] — the index rows
    * commit only after their shard's bytes, so a discovered index row
    * always addresses readable bytes): the STREAM SOURCE is the CDX
    * parquet itself, one row per member, and each micro-batch routes
    * through `Warc.fetchRecords(batch, splitBytes)`. That makes the
    * landed-shard parse SPLITTABLE below file granularity: a 1-GB
    * shard fans across ~size/splitBytes tasks with O(run) per-task
    * memory (the seek + bounded gzip-run reader), where the
    * binaryFile path holds the WHOLE shard in one task (its disclosed
    * bound). Page derivation (extractText + detectLang over
    * the raw bytes) and the merge-on-read commit are identical —
    * StreamingSpec asserts table equality between the two paths.
    */
  def maintainTriplesFromCdx(
      spark: SparkSession, cdxDir: String, tableDir: String,
      checkpointDir: String, buckets: Int, maxPayload: Int = 8 << 20,
      splitBytes: Long = 1L << 20
  ): StreamingQuery = {
    import spark.implicits._
    spark.readStream.schema(graft.sources.Warc.cdxSchema).parquet(cdxDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        // persist the parsed pages (same rationale as the binaryFile
        // path: the commit takes multiple actions over its input)
        Scope(s) { scope =>
          val pages = scope.persist(graft.sources.Warc
            .fetchRecords(batch, maxPayload, splitBytes)
            .select("url", "warc_ts", "html")
            .as[(String, java.sql.Timestamp, Array[Byte])]
            .map { case (url, ts, body) =>
              val text = graft.functions.Html.extractText(body)
              Page(url, ts, body, text,
                graft.operators.TextStats.detectLang(text))
            })
          if (!pages.isEmpty) {
            graft.plans.Materialize.incrementalUpdate(
              s, pages, tableDir, buckets, mergeOnRead = true)
            ()
          }
        }
      }
      .start()
  }

  /** [[maintainTriples]] with the crawl arriving AS WARC SHARDS — the
    * end-to-end shape of a live CC-style deployment: `*.warc.gz` files
    * land in `warcDir`, each discovered shard stream-parses in-task
    * (binaryFile delivers whole files, so per-task memory = shard
    * size; bound micro-batches with `maxFilesPerTrigger` and size
    * shards accordingly), text/lang derive exactly as the batch ingest
    * derives them, and the parsed pages commit through the SAME
    * merge-on-read path — so the whole safety story above (idempotent
    * replay, stale no-ops, O(micro-batch) write amplification, atomic
    * visibility at the snapshot swap) carries over unchanged.
    *
    * `lenientTail = true` is the DEFAULT here — the operational setting
    * for a directory fed by real crawlers: a damaged or non-atomically-
    * copied shard parses to its good prefix instead of failing the
    * micro-batch — and since the file is already in the source's input
    * log, a strict failure would REPLAY the same bytes forever (a
    * poison shard). Pass `lenientTail = false` only for ingest from a
    * trusted writer where a damaged shard should halt the stream.
    */
  def maintainTriplesFromWarc(
      spark: SparkSession, warcDir: String, tableDir: String,
      checkpointDir: String, buckets: Int, maxPayload: Int = 8 << 20,
      lenientTail: Boolean = true
  ): StreamingQuery = {
    import spark.implicits._
    // binaryFile's fixed schema, spelled out: the streaming source
    // requires an explicit schema
    val binSchema = StructType(Seq(
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    spark.readStream.format("binaryFile")
      .schema(binSchema)
      .option("pathGlobFilter", "*.warc.gz")
      .load(warcDir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[(String, Array[Byte])], _: Long) =>
        val s = batch.sparkSession
        import s.implicits._
        // persist the parsed pages: gunzip + extractText + detectLang
        // dominate per-shard cost, and incrementalUpdate's commit takes
        // multiple actions over its input — without the cache each one
        // re-parses every shard
        Scope(s) { scope =>
          val pages = scope.persist(batch.flatMap { case (path, bytes) =>
            graft.sources.Warc.parsePages(bytes, path, maxPayload, lenientTail)
          })
          if (!pages.isEmpty) {
            graft.plans.Materialize.incrementalUpdate(
              s, pages, tableDir, buckets, mergeOnRead = true)
            ()
          }
        }
      }
      .start()
  }
}
