package graft.plans

import graft.model.{LineageRow, Page, Triple}
import graft.operators.{Canonicalize, Linking}
import graft.sources.ChemDict
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** S5/S2/S7-analog: stage materialization with Iceberg-style layout,
  * per-partition lineage in the snapshot, and checkpoint-resumable
  * stage boundaries (north rule).
  *
  * No Iceberg runtime jar exists in this sandbox (documented deviation,
  * BASELINE.md), so the table format reproduces Iceberg's COMMIT MODEL
  * instead of its jar — immutable data directories plus an append-only
  * snapshot log that names the live ones:
  *
  *   out/triples/
  *     data/batch=<id>/bucket=<b>/part-*.parquet      base rows (seq = crawl version)
  *     delta/batch=<id>/bucket=<b>/part-*.parquet     merge-on-read rows
  *     versions/batch=<id>/bucket=<b>/part-*.parquet  per-url versions
  *       (one parquet file per bucket per write: [[write]] hash-distributes
  *       by bucket, the Iceberg `write.distribution-mode=hash` analog)
  *     snapshots/v<N>                                 the commit log (live entries
  *       with their row counts, the stage and times of each live write,
  *       schemas, done buckets, horizon, bucket count, dictionary hash)
  *   out/linked/{data,snapshots}/
  *   out/entities/{data,snapshots}/                   one live entry, bucket=0
  *
  * Every writer — bootstrap (`runResumable`, `materializeGraph`), the
  * copy-on-write and merge-on-read `incrementalUpdate`, and `compact` —
  * writes its files under a FRESH `batch=<id>` name, then publishes
  * them in [[commit]]: one temp-file + rename to `v<N+1>`. A crash
  * anywhere before the rename leaves only unnamed (invisible) dirs;
  * after it the write is complete. Readers and resume decisions read
  * only the latest snapshot, so there is exactly one crash rule.
  *
  * Resume semantics = the reference's `processed` flag + file-exists
  * skip (cprex/corpus/corpus.py:199-214, chemrxiv.py:126-127) lifted to
  * partition granularity: the snapshot records the bootstrap-completed
  * buckets, and a restart skips pages whose bucket is already done.
  *
  * Scale note: bucket count B is the resume granularity; at 10^12 docs
  * you'd set B ~ 10^5 so one bucket ≈ 10^7 docs. Writes stream through
  * — no collect; each entry's row count comes from an accumulator filled
  * by the write itself, and [[lineage]] reads it back from the snapshot
  * files alone.
  */
object Materialize {

  val StageTriples = "triples"
  val StageLinked = "linked"
  val StageEntities = "entities"

  def withBucket(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("bucket", pmod(hash(col("url")), lit(buckets)))

  def dataPath(outDir: String): String = s"$outDir/$StageTriples/data"
  def deltaPath(outDir: String): String = s"$outDir/$StageTriples/delta"
  def versionsPath(outDir: String): String = s"$outDir/$StageTriples/versions"

  /** The session's file system: the driver-side commit path (the
    * `snapshots/` log and its swap) stays on it, because the swap relies
    * on it refusing a rename onto an existing file.
    */
  private def fsOf(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Writer options that send a write job's `file:` paths through
    * [[NioLocalFileSystem]] (no `chmod` process per created file or dir).
    * Spark copies them into the job's Hadoop conf; Hadoop caches file
    * systems by scheme, not by conf, so the job bypasses the cache or
    * `fs.file.impl` would be ignored.
    */
  private[graft] val ForkFreeWriteOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Writer options of every table write job: fork-free, and no
    * `_SUCCESS` marker — visibility is the snapshot commit.
    */
  private[graft] val TableWriteOptions: Map[String, String] =
    ForkFreeWriteOptions + ("mapreduce.fileoutputcommitter.marksuccessfuljobs" -> "false")

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def writeText(fs: FileSystem, p: Path, s: String): Unit = {
    val out = fs.create(p, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  // ------------------------------------------------------------------
  // snapshot log
  // ------------------------------------------------------------------

  /** Entry kinds: base rows, merge-on-read rows, merge-on-read versions
    * (tombstones: a row is live iff its seq is not below the newest
    * tombstone of its url) and consolidated versions (kill nothing —
    * folded rows carry their version as seq).
    */
  private[graft] val Data = "data"
  private[graft] val Delta = "delta"
  private[graft] val Tomb = "tomb"
  private[graft] val VBase = "vbase"

  private[graft] def rootOf(kind: String): String =
    if (kind == Tomb || kind == VBase) "versions" else kind

  /** One live bucket directory, `<root of kind>/batch=<id>/bucket=<bucket>`, and its rows. */
  private[graft] final case class Entry(kind: String, id: String, bucket: Int, rows: Long)

  /** One write id's lineage: its stage label, its start and its pre-swap time. */
  private[graft] final case class WriteLog(stage: String, startedAtMs: Long, finishedAtMs: Long)

  /** One table state. Bootstrap ADDS entries (a bucket may hold the rows
    * of several writes — e.g. an upsert into a never-bootstrapped bucket
    * before the bootstrap resumes), copy-on-write and compact REPLACE a
    * bucket's whole entry set. `done` = bootstrap-completed buckets;
    * `horizonMs` = the time-travel retention floor. `buckets` and
    * `dictHash` are the table properties every row was written under
    * (the bucket count and [[DictHash]]): like Iceberg's partition spec,
    * they live in the record whose swap is the commit — as does the
    * lineage, `writes`, rendered only for ids with a live entry.
    */
  private[graft] final case class Snapshot(version: Long, entries: Set[Entry],
      done: Set[Int], horizonMs: Long, schemas: Map[String, String],
      writes: Map[String, WriteLog], buckets: Int, dictHash: String) {
    def restrict(buckets: Set[Int]): Snapshot =
      copy(entries = entries.filter(e => buckets(e.bucket)))
    def of(kinds: String*): Set[Entry] = entries.filter(e => kinds.contains(e.kind))
    def render: String = {
      val live = entries.map(_.id)
      (Seq(s"buckets $buckets", s"dict $dictHash", s"horizon $horizonMs",
        ("done" +: done.toSeq.sorted.map(_.toString)).mkString(" ")) ++
        schemas.toSeq.sorted.map { case (root, json) => s"schema $root $json" } ++
        writes.toSeq.filter(w => live(w._1)).sortBy(_._1).map { case (id, w) =>
          s"write $id ${w.stage} ${w.startedAtMs} ${w.finishedAtMs}"
        } ++
        entries.toSeq.sortBy(e => (e.kind, e.id, e.bucket))
          .map(e => s"${e.kind} ${e.id} ${e.bucket} ${e.rows}")).mkString("\n")
    }
  }

  private val Empty = Snapshot(0L, Set.empty, Set.empty, 0L, Map.empty, Map.empty, 0, "")

  private val SnapshotName = """v(\d+)""".r

  private def parseSnapshot(file: Path, version: Long, text: String): Snapshot =
    text.split("\n").map(_.split(" ").toList).foldLeft(Empty.copy(version = version)) {
      case (s, "buckets" :: n :: Nil) => s.copy(buckets = n.toInt)
      case (s, "dict" :: h :: Nil) => s.copy(dictHash = h)
      case (s, "horizon" :: h :: Nil) => s.copy(horizonMs = h.toLong)
      case (s, "schema" :: root :: json) => s.copy(schemas = s.schemas + (root -> json.mkString(" ")))
      case (s, "done" :: bs) => s.copy(done = bs.map(_.toInt).toSet)
      case (s, "write" :: id :: stage :: t0 :: t1 :: Nil) =>
        s.copy(writes = s.writes + (id -> WriteLog(stage, t0.toLong, t1.toLong)))
      case (s, k :: id :: b :: n :: Nil) => s.copy(entries = s.entries + Entry(k, id, b.toInt, n.toLong))
      case (_, l) => throw new IllegalArgumentException(s"$file: `${l.mkString(" ")}` is not a line of " +
        "this format (entry lines carry their rows); re-materialize it into a fresh outDir")
    }

  /** The latest committed state of a stage dir (empty before the first
    * commit). A stage that holds data but no snapshot log was written by
    * the pre-snapshot table format, whose crash states this reader cannot
    * interpret, and a snapshot without table properties by the format
    * that kept them in a side file — both fail loudly rather than
    * reading as empty or as some bucket count.
    */
  private[graft] def latestSnapshot(spark: SparkSession, stageDir: String): Snapshot = {
    val fs = fsOf(spark, stageDir)
    val dir = new Path(s"$stageDir/snapshots")
    if (!fs.exists(dir)) {
      require(!Seq("data", "delta", "versions").exists(r => fs.exists(new Path(s"$stageDir/$r"))),
        s"$stageDir holds data but no snapshots/ — a table written before the " +
          "snapshot-log format; re-materialize it into a fresh outDir")
      Empty
    } else {
      val vs = fs.listStatus(dir).map(_.getPath.getName).collect {
        case SnapshotName(n) => n.toLong
      }
      if (vs.isEmpty) Empty
      else {
        val file = new Path(dir, s"v${vs.max}")
        val snap = parseSnapshot(file, vs.max, readText(fs, file))
        require(snap.buckets > 0 && snap.dictHash.nonEmpty,
          s"$stageDir/snapshots/v${vs.max} records no bucket count or dictionary hash — " +
            "a table written before they moved into the snapshot; re-materialize it into a fresh outDir")
        snap
      }
    }
  }

  /** Writer entry: the latest snapshot with its table properties
    * resolved. The STORED bucket count wins over the caller's `buckets`
    * (resuming with another count would mix two bucket numberings in one
    * table: wrong resume skips, wrong pruning); a stage not committed yet
    * takes `buckets` and the current [[DictHash]]. A dictionary CHANGE
    * fails loudly: committed buckets were annotated/linked under the old
    * dictionary and cannot be mixed with new-dictionary output. The log
    * dir is created BEFORE the first data write so a crashed first commit
    * can never look like a pre-snapshot table.
    */
  private def openStage(spark: SparkSession, stageDir: String, buckets: Int): Snapshot = {
    val snap = latestSnapshot(spark, stageDir)
    require(snap.version == 0 || snap.dictHash == DictHash,
      s"dictionary changed since this table was written ($stageDir): " +
        "completed buckets hold old-dict annotations — materialize to a fresh outDir")
    val fs = fsOf(spark, stageDir)
    val dir = new Path(s"$stageDir/snapshots")
    if (!fs.exists(dir)) fs.mkdirs(dir)
    if (snap.version == 0) snap.copy(buckets = buckets, dictHash = DictHash) else snap
  }

  /** Content hash of the dictionary every stage annotates, links and
    * canonicalizes with, recorded in each snapshot (see [[openStage]]).
    */
  private lazy val DictHash: String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ChemDict.entries.sortBy(_.cid).foreach { e =>
      md.update((e.cid.toString + "|" + e.canonicalName + "|" +
        e.synonyms.mkString(",") + "|" + e.molecularFormula + "|" +
        e.molecularWeight + "|" + e.canonicalSmiles + "|" + e.iupacName + "\n")
        .getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** The latest snapshot of the triple table, which must have committed. */
  private def committed(spark: SparkSession, outDir: String): Snapshot = {
    val snap = latestSnapshot(spark, s"$outDir/$StageTriples")
    require(snap.version > 0, s"no committed triple table under $outDir")
    snap
  }

  /** Bucket count the table was written with (from its latest snapshot). */
  def tableBuckets(spark: SparkSession, outDir: String): Int = committed(spark, outDir).buckets

  private def freshId(): String =
    f"c${System.currentTimeMillis()}%x${java.util.concurrent.ThreadLocalRandom.current().nextLong()}%016x"

  /** THE commit point of every write. Publishes `read` minus `remove`
    * plus the `written` entries (and their schemas, their lineage — the
    * `stage` label, `startedAtMs` and the time just before the swap —,
    * the `done` buckets, the raised horizon and `read`'s table
    * properties) as `v<N+1>` with one temp-file + rename —
    * HDFS and this build's local file system refuse a rename onto an
    * existing file; the existence check narrows the race on file systems
    * that would overwrite. A writer that loses the race re-reads the
    * latest snapshot and retries only if everything it replaces is still
    * live — so a compact racing a committing stream never drops the
    * stream's new batch, and never folds state someone else already
    * replaced, and under the same table properties — a table never
    * holds two bucket numberings. Then deletes what this commit
    * superseded and every snapshot file before the previous one.
    */
  private def commit(spark: SparkSession, stageDir: String, read: Snapshot, stage: String,
      startedAtMs: Long, written: Seq[Written], remove: Set[Entry] = Set.empty,
      done: Set[Int] = Set.empty, horizonMs: Long = 0L): Snapshot = {
    val fs = fsOf(spark, stageDir)
    val dir = new Path(s"$stageDir/snapshots")
    @scala.annotation.tailrec
    def attempt(cur: Snapshot): Snapshot = {
      require(remove.subsetOf(cur.entries) && (done & cur.done).isEmpty,
        s"a concurrent commit to $stageDir replaced state this write " +
          "folded or bootstrapped — rerun it")
      require(cur.buckets == read.buckets && cur.dictHash == read.dictHash,
        s"a concurrent commit to $stageDir recorded ${cur.buckets} buckets and dictionary " +
          s"${cur.dictHash}, this write ${read.buckets} and ${read.dictHash} — rerun it")
      val next = Snapshot(cur.version + 1, cur.entries -- remove ++ written.flatMap(_.entries),
        cur.done ++ done, math.max(cur.horizonMs, horizonMs),
        cur.schemas ++ written.map(w => rootOf(w.kind) -> w.schema),
        cur.writes ++ written.map(_.id -> WriteLog(stage, startedAtMs, System.currentTimeMillis())),
        read.buckets, read.dictHash)
      val tmp = new Path(dir, s".pending-${freshId()}")
      writeText(fs, tmp, next.render)
      val v = new Path(dir, s"v${next.version}")
      if (!fs.exists(v) && fs.rename(tmp, v)) next
      else { fs.delete(tmp, false); attempt(latestSnapshot(spark, stageDir)) }
    }
    val next = attempt(read)
    (remove -- next.entries).groupBy(e => (rootOf(e.kind), e.id)).foreach {
      case ((root, id), gone) =>
        val idDir = new Path(s"$stageDir/$root/batch=$id")
        if (next.entries.exists(e => rootOf(e.kind) == root && e.id == id))
          gone.foreach(e => fs.delete(new Path(idDir, s"bucket=${e.bucket}"), true))
        else fs.delete(idDir, true)
    }
    fs.listStatus(dir).map(_.getPath).foreach { p =>
      p.getName match {
        case SnapshotName(n) if n.toLong < next.version - 1 => fs.delete(p, false)
        case _ =>
      }
    }
    next
  }

  /** Unnamed-dir GC waits at least this long after a dir's last
    * modification (default 1h): a writer whose files are written but
    * whose snapshot is not yet published looks exactly like a crashed
    * one, and deleting its dirs would make its commit name missing
    * files. Any grace comfortably above the longest write closes the
    * race — the same contract as Iceberg's orphan-file retention.
    */
  val DefaultGcGraceMs: Long = 60L * 60 * 1000

  /** Delete what crashed writers left behind in every stage dir under
    * `outDir` that holds a snapshot log (triples, linked, entities): the
    * dirs and snapshot temp files its latest snapshot does not name that
    * are older than [[DefaultGcGraceMs]].
    */
  private def gcOrphans(spark: SparkSession, outDir: String): Unit = {
    val fs = fsOf(spark, outDir)
    val cutoff = System.currentTimeMillis() - DefaultGcGraceMs
    def list(p: Path) = if (fs.exists(p)) fs.listStatus(p).toSeq else Nil
    for (stage <- list(new Path(outDir)).map(_.getPath.getName)
        if fs.exists(new Path(s"$outDir/$stage/snapshots"))) {
      val stageDir = s"$outDir/$stage"
      val snap = latestSnapshot(spark, stageDir)
      for (root <- Seq("data", "delta", "versions")) {
        val live = snap.entries.filter(e => rootOf(e.kind) == root)
          .groupBy(_.id).map { case (id, es) => s"batch=$id" -> es.map(e => s"bucket=${e.bucket}") }
        list(new Path(s"$stageDir/$root")).foreach { d =>
          val unnamed = live.get(d.getPath.getName) match {
            case None => Seq(d)
            case Some(buckets) => list(d.getPath).filter(b => b.isDirectory && !buckets(b.getPath.getName))
          }
          unnamed.filter(_.getModificationTime < cutoff).foreach(u => fs.delete(u.getPath, true))
        }
      }
      list(new Path(s"$stageDir/snapshots"))
        .filter(s => s.getPath.getName.startsWith(".pending-") && s.getModificationTime < cutoff)
        .foreach(s => fs.delete(s.getPath, false))
    }
  }

  /** Per-bucket row-count accumulator: the commit's entries and their
    * row counts, collected DURING a write instead of a read-back job.
    */
  private class BucketCountAcc
      extends org.apache.spark.util.AccumulatorV2[Int, Map[Int, Long]] {
    private val m = scala.collection.mutable.Map.empty[Int, Long]
    def isZero: Boolean = m.isEmpty
    def copy(): BucketCountAcc = {
      val c = new BucketCountAcc; c.m ++= m; c
    }
    def reset(): Unit = m.clear()
    def add(v: Int): Unit = m(v) = m.getOrElse(v, 0L) + 1
    def merge(o: org.apache.spark.util.AccumulatorV2[Int, Map[Int, Long]]): Unit =
      o.value.foreach { case (k, n) => m(k) = m.getOrElse(k, 0L) + n }
    def value: Map[Int, Long] = m.toMap
  }

  /** One write's result: its snapshot entries (the buckets it wrote
    * rows into, with their row counts) and its data schema — recorded in
    * the snapshot so readers skip the parquet schema-inference job.
    */
  private final case class Written(kind: String, id: String, counts: Map[Int, Long],
      schema: String) {
    def entries: Set[Entry] = counts.map { case (b, n) => Entry(kind, id, b, n) }.toSet
  }

  /** Write `df` bucket-partitioned under the fresh `<root>/batch=<id>`,
    * one file per bucket per write: rows are hash-distributed by bucket
    * first (Iceberg's `write.distribution-mode=hash`), so one task writes
    * each bucket instead of every upstream task opening a small file in
    * every bucket; no partition count, so AQE can coalesce. Rows per
    * bucket are counted DURING the write (write actions apply each
    * successful task's accumulator updates exactly once). No success
    * marker: visibility is the snapshot commit.
    */
  private def write(spark: SparkSession, df: DataFrame, stageDir: String,
      kind: String, id: String): Written = {
    val acc = new BucketCountAcc
    spark.sparkContext.register(acc, s"rows:$kind")
    val counted = udf((b: Int) => { acc.add(b); b }).asNondeterministic()
    df.repartition(col("bucket"))
      .withColumn("bucket", counted(col("bucket").cast("int")))
      .write.options(TableWriteOptions)
      .partitionBy("bucket").parquet(s"$stageDir/${rootOf(kind)}/batch=$id")
    Written(kind, id, acc.value,
      org.apache.spark.sql.types.StructType(df.schema.filterNot(_.name == "bucket")).json)
  }

  /** The rows of the snapshot's `kinds` entries (all under one root):
    * ONE read of the root with the recorded schema, pruned to the named
    * (batch, bucket) dirs by partition filters — never one path per dir
    * (above 32 paths every read launches a listing job).
    */
  private def readEntries(spark: SparkSession, stageDir: String, snap: Snapshot,
      kinds: String*): Option[DataFrame] = {
    import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructType}
    val es = snap.of(kinds: _*)
    val root = rootOf(kinds.head)
    if (es.isEmpty) None
    else Some(spark.read
      .schema(DataType.fromJson(snap.schemas(root)).asInstanceOf[StructType]
        .add("batch", StringType).add("bucket", IntegerType))
      .parquet(s"$stageDir/$root")
      .filter(col("bucket").isin(es.map(_.bucket).toSeq.sorted: _*) &&
        concat_ws("/", col("batch"), col("bucket").cast("string"))
          .isin(es.map(e => s"${e.id}/${e.bucket}").toSeq.sorted: _*))
      .drop("batch"))
  }

  // ------------------------------------------------------------------
  // bootstrap
  // ------------------------------------------------------------------

  /** Buckets already completed in a previous run (empty on first run). */
  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] =
    latestSnapshot(spark, s"$outDir/$StageTriples").done

  /** Run the triple-extraction pipeline over `pages`, materializing
    * results partitioned by bucket, skipping buckets already completed.
    * Returns the number of buckets processed this run.
    */
  def runResumable(
      spark: SparkSession,
      pages: Dataset[Page],
      outDir: String,
      buckets: Int = 16,
      onlyBuckets: Option[Set[Int]] = None // test hook: simulate partial run
  ): Int = {
    val stageDir = s"$outDir/$StageTriples"
    val snap = openStage(spark, stageDir, buckets)
    val b = snap.buckets
    val attempted = onlyBuckets.getOrElse((0 until b).toSet) -- snap.done
    if (attempted.isEmpty) return 0 // true no-op: no job submitted

    // resume filter: drop pages of completed buckets BEFORE any work
    val remaining = pages
      .withColumn("bucket", pmod(hash(col("url")), lit(b)))
      .filter(col("bucket").isin(attempted.toSeq: _*))
      .drop("bucket").as[Page](pages.encoder)

    // bootstrap rows carry an explicit seq=0 (crawl-version epoch): every
    // triples data file then has the SAME schema as incrementally-written
    // ones
    bootstrap(spark, stageDir, StageTriples, snap,
      Pipeline.run(remaining).toDF().withColumn("seq", lit(0L)), b, attempted)
  }

  /** Write stage rows bucketed by url-hash under a fresh dir and commit
    * them, with their lineage, with the attempted buckets marked done —
    * including row-count-0 buckets, which have no data directory (and so
    * no entry) but are complete.
    */
  private def bootstrap(spark: SparkSession, stageDir: String, stage: String,
      snap: Snapshot, rows: DataFrame, buckets: Int, attempted: Set[Int]): Int = {
    val t0 = System.currentTimeMillis()
    val w = write(spark, withBucket(rows, buckets), stageDir, Data, freshId())
    commit(spark, stageDir, snap, stage, t0, Seq(w), done = attempted)
    attempted.size
  }

  // ------------------------------------------------------------------
  // reads
  // ------------------------------------------------------------------

  /** Read the materialized triple table — all completed buckets, with
    * any outstanding merge-on-read deltas/tombstones RESOLVED (see
    * `incrementalUpdate`): a row is live iff its crawl sequence is not
    * superseded by a tombstone for its url. Tables with no incremental
    * history read exactly as written.
    */
  def readTriples(spark: SparkSession, outDir: String): DataFrame =
    readTriplesWithSeq(spark, outDir).drop("seq")

  /** SNAPSHOT READ (Iceberg time travel): the table as of crawl-version
    * time `asOfMs` (epoch millis, inclusive). A row is visible iff its
    * crawl sequence is <= asOfMs AND no committed version of its url
    * with warc_ts_ms in (seq, asOfMs] supersedes it — i.e. exactly the
    * latest-crawl-wins state the table had once every batch with
    * versions <= asOfMs (and none after) was applied. Because batch
    * visibility is the snapshot swap and stale redelivery is a no-op,
    * the snapshot is independent of batch arrival ORDER — it is a pure
    * function of (content, asOfMs), spec-asserted.
    *
    * Retention = the compaction horizon, exactly like Iceberg snapshot
    * expiration: `compact()` (and COW upserts, which rewrite rows in
    * place and inline-compact affected buckets) physically removes
    * superseded rows. The horizon is the newest version whose fold
    * actually REMOVED an older row, committed in the same snapshot as
    * the fold — an asOfMs below it is an EXPIRED snapshot and fails
    * loudly: the folded rows carry seq = their version, so an older
    * asOfMs would filter them out while their superseded predecessors
    * no longer exist — the read would silently return a state the
    * table never had. Folds that remove nothing (append-only batches)
    * do NOT raise the horizon — every pre-fold snapshot is still
    * exactly reconstructable and still serves.
    */
  def readTriplesAsOf(spark: SparkSession, outDir: String, asOfMs: Long): DataFrame = {
    val snap = latestSnapshot(spark, s"$outDir/$StageTriples")
    require(asOfMs >= snap.horizonMs,
      s"expired snapshot: asOfMs=$asOfMs predates the compaction " +
        s"horizon ${snap.horizonMs} — superseded rows below it were physically " +
        s"removed (compact()/COW), so that table state no longer exists")
    resolve(spark, outDir, snap, asOfMs)
      .getOrElse(sys.error(s"no triple data under $outDir"))
      .drop("seq")
  }

  /** Resolution variant that keeps the internal per-row crawl sequence
    * (warc_ts_ms of the crawl that produced the row; 0 for bootstrap
    * rows): the full row identity the commit specs compare.
    */
  private[graft] def readTriplesWithSeq(spark: SparkSession, outDir: String): DataFrame =
    resolve(spark, outDir, latestSnapshot(spark, s"$outDir/$StageTriples"), Long.MaxValue)
      .getOrElse(sys.error(s"no triple data under $outDir"))

  /** Base + delta rows the snapshot names, tombstones NOT applied. */
  private def rowsOf(spark: SparkSession, outDir: String, snap: Snapshot): Option[DataFrame] = {
    val stageDir = s"$outDir/$StageTriples"
    (readEntries(spark, stageDir, snap, Data) ++ readEntries(spark, stageDir, snap, Delta))
      .reduceOption(_.unionByName(_))
  }

  /** The rows of `rows` live as of `asOfMs`: crawled by then and not
    * superseded by a tombstone (the versions of un-compacted batches) of
    * their url up to then. Tombstone volume is bounded by the deltas
    * since the last compaction — broadcastable by contract.
    */
  private def live(spark: SparkSession, outDir: String, snap: Snapshot,
      rows: DataFrame, asOfMs: Long): DataFrame = {
    val visible = rows.filter(col("seq") <= asOfMs)
    readEntries(spark, s"$outDir/$StageTriples", snap, Tomb) match {
      case None => visible
      case Some(v) =>
        val dead = v.filter(col("warc_ts_ms") <= asOfMs)
          .groupBy("url").agg(max("warc_ts_ms").as("upto_ms"))
        visible.join(broadcast(dead), Seq("url"), "left_outer")
          .filter(col("upto_ms").isNull || col("seq") >= col("upto_ms"))
          .drop("upto_ms")
    }
  }

  /** The one resolution routine behind the current-state read
    * (asOfMs = Long.MaxValue), the time-travel read and the folds. */
  private def resolve(spark: SparkSession, outDir: String, snap: Snapshot,
      asOfMs: Long): Option[DataFrame] =
    rowsOf(spark, outDir, snap).map(live(spark, outDir, snap, _, asOfMs))

  private def emptyTriples(spark: SparkSession, buckets: Int): DataFrame =
    withBucket(spark.emptyDataset[Triple](
      org.apache.spark.sql.Encoders.product[Triple]).toDF(), buckets)
      .withColumn("seq", lit(0L))

  private def bucketOf(url: String, buckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Murmur3Hash, Pmod}
    Pmod(new Murmur3Hash(Seq(Literal(url))), Literal(buckets)).eval().asInstanceOf[Int]
  }

  /** J6-analog (doi→docs lookup, cprex/corpus/corpus.py:114-134): fetch
    * one url's triples via partition pruning — the bucket is computable
    * from the url, so the scans touch exactly that bucket's directories
    * (PartitionFilters in the plan; asserted in ResumeSpec), tombstones
    * included. At 10^12 rows with B=10^5 buckets this reads 1/B of the
    * table. B comes from the table's own snapshot (never caller-supplied:
    * a mismatched B would prune to the wrong partition and silently
    * return zero rows).
    */
  def readTriplesForUrl(spark: SparkSession, outDir: String, url: String): DataFrame = {
    val all = committed(spark, outDir)
    val bk = bucketOf(url, all.buckets)
    resolve(spark, outDir, all.restrict(Set(bk)), Long.MaxValue)
      .getOrElse(emptyTriples(spark, all.buckets))
      .filter(col("bucket") === bk && col("url") === url)
      .drop("seq")
  }

  /** The linked triple table of `materializeGraph` (latest snapshot). */
  def readLinked(spark: SparkSession, outDir: String): DataFrame = readStage(spark, outDir, StageLinked)

  /** The canonical entity table of `materializeGraph` (latest snapshot),
    * without the bucket column of its one entry.
    */
  def readEntities(spark: SparkSession, outDir: String): DataFrame =
    readStage(spark, outDir, StageEntities).drop("bucket")

  private def readStage(spark: SparkSession, outDir: String, stage: String): DataFrame = {
    val stageDir = s"$outDir/$stage"
    readEntries(spark, stageDir, latestSnapshot(spark, stageDir), Data)
      .getOrElse(sys.error(s"no $stage data under $outDir"))
  }

  /** Lineage of the live tables: one row per live `data`/`delta` entry of
    * the triples, linked and entities stages — its write's stage label and
    * times, its rows — from the latest snapshot files alone, as a local
    * relation (no Spark job). A superseded entry's lineage expires with its
    * snapshot file, as in Iceberg's expire-snapshots.
    */
  def lineage(spark: SparkSession, outDir: String): Dataset[LineageRow] = {
    import spark.implicits._
    Seq(StageTriples, StageLinked, StageEntities).flatMap { stage =>
      val snap = latestSnapshot(spark, s"$outDir/$stage")
      snap.of(Data, Delta).toSeq.sortBy(e => (e.bucket, e.kind, e.id)).map { e =>
        val w = snap.writes(e.id)
        LineageRow(w.stage, e.bucket, e.rows, w.startedAtMs, w.finishedAtMs)
      }
    }.toDS()
  }

  // ------------------------------------------------------------------
  // incremental update (latest-crawl-wins upsert)
  // ------------------------------------------------------------------

  /** Lineage stage name for COW upsert rewrites. */
  val StageTriplesUpsert = "triples_upsert"

  final case class IncrementalStats(appliedUrls: Long, staleUrls: Long,
      affectedBuckets: Set[Int])

  /** Per-url crawl versions currently recorded for the given buckets —
    * (url, warc_ts_ms, bucket) with warc_ts_ms RESOLVED to the max per
    * url over the un-compacted and consolidated versions. Partition-
    * pruned to exactly those bucket directories. Empty when the table
    * has no incremental history (runResumable-bootstrapped tables have
    * no versions — every incoming url then counts as newer, which is the
    * correct default for a table whose rows all came from one crawl).
    */
  def readVersions(spark: SparkSession, outDir: String,
      buckets: Set[Int], snap: Option[Snapshot] = None): DataFrame = {
    import spark.implicits._
    val s = snap.getOrElse(latestSnapshot(spark, s"$outDir/$StageTriples")).restrict(buckets)
    readEntries(spark, s"$outDir/$StageTriples", s, Tomb, VBase).map {
      _.groupBy("url", "bucket").agg(max("warc_ts_ms").as("warc_ts_ms"))
        .select("url", "warc_ts_ms", "bucket")
    }.getOrElse(Seq.empty[(String, Long, Int)].toDF("url", "warc_ts_ms", "bucket"))
  }

  /** Incremental graph maintenance — the only operation mode that
    * exists at 10^12 documents, where "recompute the table" is not a
    * job you run twice. Applies a new crawl batch to an existing triple
    * table with LATEST-CRAWL-WINS semantics per url:
    *
    *  - within the batch, only each url's newest warc_ts row counts;
    *  - a batch row older-or-equal to the url's stored version (the
    *    `versions` sidecar — Iceberg sequence-number analog) is STALE
    *    and dropped, so out-of-order batch re-delivery is harmless;
    *  - applied urls REPLACE their old triples; new urls append.
    *
    * TWO write strategies, selected by `mergeOnRead` — the same trade
    * Iceberg/Hudi/Delta expose, because hash-bucketing spreads a RANDOM
    * re-crawl batch across ~ALL buckets (200 urls into 32 buckets
    * touch every bucket; 10^10 urls into 10^5 buckets certainly do),
    * so a copy-on-write upsert of a scattered delta rewrites nearly
    * the whole table regardless of delta size (measured: 10.8s for a
    * 1% batch vs 0.43s for the full pipeline at sf0.1):
    *
    *  - COPY-ON-WRITE (mergeOnRead=false): survivors of affected
    *    buckets are rewritten alongside the new rows. Read-optimal
    *    (the table is always plain parquet), write cost O(affected
    *    buckets' data). Right for bucket-concentrated deltas or low
    *    update rates. A COW pass also folds any outstanding deltas/
    *    tombstones of its affected buckets into the base (inline
    *    compaction), keeping the two modes freely mixable.
    *  - MERGE-ON-READ (mergeOnRead=true): new rows land under
    *    delta/batch=<id>/bucket=N and the batch's version rows under
    *    versions/batch=<id>/bucket=N; NOTHING existing is rewritten —
    *    write cost is O(delta) regardless of scatter, two writes total
    *    (the versions rows double as the tombstone set).
    *    `compact()` folds deltas into the base and consolidates
    *    versions (which then kill nothing — compacted rows carry their
    *    version as seq).
    *
    * Either way the write becomes visible in ONE snapshot commit; a
    * crash before it leaves unnamed dirs, and redelivering the batch
    * applies it afresh (its versions were never committed, so it is
    * not stale); a crash after it makes the redelivery a stale no-op.
    *
    * Cost scales with the delta, not the table. The batch's
    * (url, warc_ts_ms, bucket) keys come to the driver in ONE bounded
    * collect ([[Scope.collectWithin]], [[KeyRowBytes]] per key), and the
    * stored versions of exactly those urls in one more: the versions
    * read is partition-pruned to the batch's buckets (PartitionFilters,
    * asserted in IncrementalSpec on the update's own scan) and filtered
    * to its urls, so it returns at most one row per key. Applied/stale
    * is decided there, so the write path joins nothing against the
    * batch. The extraction pipeline runs over applied pages only, and
    * under merge-on-read no existing data file is touched at all
    * (byte-stamp-asserted). A batch whose keys overflow the driver
    * budget (a 1% batch at 10^10 urls) is marked in the cluster
    * instead, by [[incrementalUpdateDistributed]].
    *
    * Scope: this maintains the TRIPLES stage (the base table). The
    * linked/entity stages are DERIVED artifacts whose semantics are
    * corpus-global (the A1 mention-count gate can flip for untouched
    * documents when global counts move), so they follow the standard
    * warehouse pattern: base table incrementally maintained, derived
    * tables refreshed on their own schedule from the updated base —
    * re-run the linked stage into a fresh stage dir when lag matters.
    */
  def incrementalUpdate(
      spark: SparkSession,
      newPages: Dataset[Page],
      outDir: String,
      buckets: Int = 16,
      mergeOnRead: Boolean = false
  ): IncrementalStats = update(spark, newPages, outDir, buckets, mergeOnRead) {
    (scope, snap, latest) =>
      import spark.implicits._
      Scope.collectWithin(latest.select("url", "warc_ts_ms", "bucket").as[(String, Long, Int)],
        KeyRowBytes) match {
        case Some(keys) => decideOnDriver(spark, outDir, snap, latest, keys)
        case None => markDistributed(spark, scope, outDir, snap, latest)
      }
  }

  /** The distributed branch of [[incrementalUpdate]], the path a batch
    * whose keys overflow the driver budget takes: the batch is marked
    * applied/stale by a join against the stored versions in the
    * cluster.
    */
  private[graft] def incrementalUpdateDistributed(
      spark: SparkSession,
      newPages: Dataset[Page],
      outDir: String,
      buckets: Int = 16,
      mergeOnRead: Boolean = false
  ): IncrementalStats =
    update(spark, newPages, outDir, buckets, mergeOnRead)(markDistributed(spark, _, outDir, _, _))

  /** A key row's price in [[incrementalUpdate]]'s driver collect: its
    * url, budgeted at 128 B (well above a typical crawl url's length),
    * plus 12 B for its long version and int bucket. The budget then
    * keeps about 240k urls per batch.
    */
  private val KeyRowBytes: Long = 128L + 12L

  /** An update's applied/stale split: the stats; the batch rows of the
    * applied urls (the pages to extract) and their version rows
    * (url, warc_ts_ms, bucket); the step that gives the applied pages'
    * triples their `seq`; and the stored versions of the batch's
    * buckets, which a copy-on-write fold carries over.
    */
  private final case class Decision(stats: IncrementalStats, pages: DataFrame,
      keys: DataFrame, withSeq: DataFrame => DataFrame, stored: DataFrame)

  /** The body both update forms share: take each url's newest batch row,
    * split the batch with `decide`, and commit the applied part.
    */
  private def update(spark: SparkSession, newPages: Dataset[Page], outDir: String,
      buckets: Int, mergeOnRead: Boolean)(
      decide: (Scope, Snapshot, DataFrame) => Decision): IncrementalStats = Scope(spark) { scope =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val snap = openStage(spark, s"$outDir/$StageTriples", buckets)
    val b = snap.buckets

    // newest row per url within the batch (a batch may carry several
    // crawls of one url); equal-ts ties break on content hash so every
    // delivery order commits the SAME winner. Persisted (O(delta) by
    // contract): it feeds both the applied/stale decision and the
    // applied-page extraction, and without the persist the per-url
    // window would re-read and re-shuffle the whole batch source twice.
    val latest = scope.persist(newPages.toDF()
      .withColumn("rn", row_number().over(
        Window.partitionBy("url").orderBy(col("warc_ts").desc,
          xxhash64(col("html")).desc, xxhash64(col("text"), col("lang")).desc)))
      .filter(col("rn") === 1).drop("rn")
      .withColumn("warc_ts_ms",
        (col("warc_ts").cast("double") * 1000).cast("long"))
      .withColumn("bucket", pmod(hash(col("url")), lit(b)).cast("int")))

    val d = decide(scope, snap, latest)
    val affected = d.stats.affectedBuckets
    if (affected.nonEmpty) {
      // new rows carry seq = their crawl's warc_ts_ms (the per-url
      // version order tombstones resolve against)
      val fresh = d.withSeq(withBucket(
        Pipeline.run(d.pages.drop("warc_ts_ms", "bucket").as[Page]).toDF(), b))
      if (mergeOnRead) morCommit(spark, outDir, snap, fresh, d.keys)
      else cowCommit(spark, outDir, snap, b, fresh, d.keys, d.stored, affected)
    }
    d.stats
  }

  /** The driver branch of the applied/stale split, over the batch's
    * collected keys: ONE collect brings the stored versions of those urls
    * (readVersions' group-by leaves at most one row per url), and a key
    * applies iff its url has no stored version or an older one. The
    * applied pages are a narrow filter of the cached batch, their
    * triples' `seq` a lookup in a driver map and their version rows a
    * driver-built frame: no join of the batch, and no broadcast of a
    * local relation (which would cost its own collect job).
    */
  private def decideOnDriver(spark: SparkSession, outDir: String, snap: Snapshot,
      latest: DataFrame, keys: Array[(String, Long, Int)]): Decision = {
    import spark.implicits._
    val stored = readVersions(spark, outDir, keys.map(_._3).toSet, Some(snap))
    val storedMs = stored.filter(col("url").isin(keys.map(_._1): _*))
      .select("url", "warc_ts_ms").as[(String, Long)].collect().toMap
    val (applied, stale) = keys.partition { case (url, ms, _) => storedMs.get(url).forall(ms > _) }
    val seqOf = applied.map { case (url, ms, _) => url -> ms }.toMap
    val seq = udf((url: String) => seqOf(url))
    Decision(IncrementalStats(applied.length, stale.length, applied.map(_._3).toSet),
      if (stale.isEmpty) latest else latest.filter(col("url").isin(seqOf.keys.toSeq: _*)),
      applied.toSeq.toDF("url", "warc_ts_ms", "bucket"),
      _.withColumn("seq", seq(col("url"))), stored)
  }

  /** The distributed branch of the applied/stale split: the batch is
    * joined to the stored versions of its buckets in the cluster, and
    * the marked keys are persisted for the stats and the write path.
    */
  private def markDistributed(spark: SparkSession, scope: Scope, outDir: String,
      snap: Snapshot, latest: DataFrame): Decision = {
    // versions pruning needs the batch's bucket set (at most B values)
    val batchBuckets = latest
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    val stored = readVersions(spark, outDir, batchBuckets, Some(snap))

    // mark rather than filter: one cached compact table serves the
    // applied/stale split and the stats
    val marked = scope.persist(latest
      .join(stored.select(col("url"), col("warc_ts_ms").as("stored_ms")),
        Seq("url"), "left_outer")
      .withColumn("is_applied",
        col("stored_ms").isNull || col("warc_ts_ms") > col("stored_ms"))
      .select("url", "warc_ts_ms", "bucket", "is_applied"))
    val stats = marked.groupBy("bucket", "is_applied").agg(count(lit(1)).as("n")).collect()
    val appliedStats = stats.filter(_.getBoolean(1))
    val keys = marked.filter(col("is_applied")).drop("is_applied")
    // No broadcast hint on the key joins: the keys are O(delta) — 10^8
    // urls for a 1% batch at the 10^10-url scale this branch serves, far
    // past any broadcast limit; AQE upgrades small deltas to broadcast
    // at runtime.
    Decision(
      IncrementalStats(appliedStats.map(_.getLong(2)).sum,
        stats.filterNot(_.getBoolean(1)).map(_.getLong(2)).sum,
        appliedStats.map(_.getInt(0)).toSet),
      latest.join(keys.select("url"), Seq("url"), "left_semi"),
      keys,
      _.join(keys.select(col("url"), col("warc_ts_ms").as("seq")), Seq("url")),
      stored)
  }

  /** Merge-on-read commit: delta rows + the batch's versions (its
    * tombstones) under one fresh id, published with their lineage by one
    * snapshot commit. Four jobs: each write is a bucket shuffle and a
    * write job. Together with the driver branch's key collect (3 jobs)
    * and versions collect (2), a small update runs 9 (IncrementalSpec
    * counts them).
    */
  private def morCommit(spark: SparkSession, outDir: String, snap: Snapshot,
      fresh: DataFrame, appliedKeys: DataFrame): Unit = {
    val t0 = System.currentTimeMillis()
    val stageDir = s"$outDir/$StageTriples"
    val id = freshId()
    val rows = write(spark, fresh, stageDir, Delta, id)
    val vers = write(spark, appliedKeys, stageDir, Tomb, id)
    commit(spark, stageDir, snap, s"${StageTriples}_delta", t0, Seq(rows, vers))
  }

  /** Copy-on-write commit: rewrite affected buckets (survivors keep
    * their seq; outstanding deltas/tombstones of those buckets fold in
    * — inline compaction).
    */
  private def cowCommit(spark: SparkSession, outDir: String, snap: Snapshot, b: Int,
      fresh: DataFrame, appliedKeys: DataFrame, stored: DataFrame,
      affected: Set[Int]): Unit = Scope(spark) { scope =>
    val t0 = System.currentTimeMillis()
    val snapA = snap.restrict(affected)
    // the affected buckets' rows feed TWO actions (the survivors write
    // and the kill-horizon aggregate) — persist once. No broadcast hint
    // on the O(delta) key set; AQE upgrades small deltas at runtime.
    val raw = rowsOf(spark, outDir, snapA).map(scope.persist(_))
    val survivors = raw.map(live(spark, outDir, snapA, _, Long.MaxValue)
      .join(appliedKeys.select("url"), Seq("url"), "left_anti"))
      .getOrElse(emptyTriples(spark, b))
    val union = survivors.unionByName(fresh.select(survivors.columns.map(col): _*))
    val newVersions = appliedKeys
      .unionByName(stored.filter(col("bucket").isin(affected.toSeq: _*))
        .join(appliedKeys.select("url"), Seq("url"), "left_anti"))
    // the rewrite physically removes (a) re-crawled urls' live rows —
    // killed by this batch's own versions — and (b) already-superseded
    // rows swept out by the inline fold; append-only batches kill nothing
    val killers = readEntries(spark, s"$outDir/$StageTriples", snapA, Tomb)
      .map(_.select("url", "warc_ts_ms").unionByName(appliedKeys.select("url", "warc_ts_ms")))
      .getOrElse(appliedKeys)
    val horizon = raw.map(killHorizonMs(_, killers)).getOrElse(0L)
    fold(spark, outDir, snap, affected, Some(union), newVersions, horizon,
      StageTriplesUpsert, t0)
  }

  /** The horizon contribution of physically removing `rows`' superseded
    * members: over every row some killer version supersedes, the newest
    * FIRST-superseding version — each killed row's visibility range ends
    * exactly there; attributing the kill to the url's newest version
    * would over-raise the floor past states that remain
    * reconstructable. A killer that supersedes nothing — a brand-new
    * url's own version row — expires no snapshot.
    */
  private def killHorizonMs(rows: DataFrame, killers: DataFrame): Long = {
    val r = rows.select("url", "seq")
      .join(killers.select("url", "warc_ts_ms"), Seq("url"))
      .filter(col("seq") < col("warc_ts_ms"))
      .groupBy("url", "seq").agg(min("warc_ts_ms").as("first_killer"))
      .agg(max("first_killer")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** The fold shared by COW and compact: the affected buckets' whole
    * state (base, deltas, tombstones, consolidated versions) is replaced
    * by one rewrite under a fresh id, together with the horizon its
    * removals raise and its lineage, in one snapshot commit.
    */
  private def fold(spark: SparkSession, outDir: String, snap: Snapshot,
      affected: Set[Int], rows: Option[DataFrame], versions: DataFrame,
      horizonMs: Long, stage: String, t0: Long): Unit = {
    val stageDir = s"$outDir/$StageTriples"
    val id = freshId()
    val data = rows.map(write(spark, _, stageDir, Data, id))
    val vers = write(spark, versions, stageDir, VBase, id)
    commit(spark, stageDir, snap, stage, t0, data.toSeq :+ vers,
      remove = snap.restrict(affected).entries, horizonMs = horizonMs)
  }

  /** Fold all outstanding merge-on-read deltas and tombstones into the
    * base table — the periodic maintenance job that keeps the MoR read
    * path cheap (the tombstone broadcast is bounded by deltas since the
    * last compaction). Rewrites only buckets with outstanding delta/
    * tombstone entries and returns that bucket set; a crash inside
    * compact() leaves the previous snapshot live and is recovered by
    * re-running it. Also collects the unnamed dirs crashed writers left
    * in every stage (triples, linked, entities) that are older than
    * [[DefaultGcGraceMs]].
    *
    * Safe to run concurrently with a committing stream: the fold is
    * computed from one snapshot and commits only if every entry it
    * replaces is still live; a batch the stream commits meanwhile stays
    * live next to the folded base.
    */
  def compact(spark: SparkSession, outDir: String): Set[Int] = {
    gcOrphans(spark, outDir)
    val stageDir = s"$outDir/$StageTriples"
    val snap = latestSnapshot(spark, stageDir)
    val affected = snap.of(Delta, Tomb).map(_.bucket)
    if (affected.isEmpty) return Set.empty
    val t0 = System.currentTimeMillis()
    Scope(spark) { scope =>
      val snapA = snap.restrict(affected)
      val raw = rowsOf(spark, outDir, snapA).map(scope.persist(_))
      val resolved = raw.map(live(spark, outDir, snapA, _, Long.MaxValue))
      val versions = readVersions(spark, outDir, affected, Some(snap))
      val horizon = (raw, readEntries(spark, stageDir, snapA, Tomb)) match {
        case (Some(r), Some(t)) => killHorizonMs(r, broadcast(t))
        case _ => 0L
      }
      fold(spark, outDir, snap, affected, resolved, versions, horizon, "compact", t0)
    }
    affected
  }

  // ------------------------------------------------------------------
  // graph
  // ------------------------------------------------------------------

  /** Materialize the full graph: triples + linked triple table +
    * canonical entity table, each with its lineage in its snapshot. ALL
    * three stages are resumable:
    * triples and linked at bucket granularity (completed buckets are
    * never re-scanned or re-joined), the entity table as one committed
    * entry (a dictionary change fails loudly, see [[openStage]]). A rerun
    * over a fully materialized graph reads three snapshot files and
    * submits NO Spark job (asserted in ResumeSpec via a job listener).
    *
    * One annotate pass feeds both page-dependent stages, cached as the
    * compact (mention | triple) rows of `Linking.fusedParts`, never as
    * full sentences: the triples stage writes the cached triples, and
    * the linked stage counts the A1 gate over the cached mentions and
    * links the cached triples of every bucket this run committed. Only
    * buckets whose triples an earlier write committed are read back
    * from the table, so a resumed build links exactly what a fresh one
    * does. The entity table is built on the driver, where the
    * dictionary already is (`Canonicalize.entityTable`).
    */
  def materializeGraph(
      spark: SparkSession,
      pages: Dataset[Page],
      outDir: String,
      buckets: Int = 16,
      onlyBuckets: Option[Set[Int]] = None // test hook: simulate partial run
  ): Unit = {
    val triplesDir = s"$outDir/$StageTriples"
    val linkedDir = s"$outDir/$StageLinked"
    val entitiesDir = s"$outDir/$StageEntities"
    val snapT = openStage(spark, triplesDir, buckets)
    val b = snapT.buckets
    val snapL = openStage(spark, linkedDir, b)
    val snapE = openStage(spark, entitiesDir, 1)
    val only: Set[Int] = onlyBuckets.getOrElse((0 until b).toSet)
    val remainingT = only -- snapT.done
    val remainingL = only -- snapL.done
    if (remainingT.isEmpty && remainingL.isEmpty && snapE.done(0)) return

    if (!snapE.done(0)) {
      // one job, one file: a local relation scans with one task per
      // core, and `write`'s bucket shuffle would add a job
      val t0 = System.currentTimeMillis()
      val id = freshId()
      val entities = Canonicalize.entityTable(spark, ChemDict.entries).toDF()
      entities.coalesce(1).write.options(TableWriteOptions)
        .parquet(s"$entitiesDir/data/batch=$id/bucket=0")
      commit(spark, entitiesDir, snapE, StageEntities, t0, Seq(Written(Data, id,
        Map(0 -> ChemDict.entries.length.toLong), entities.schema.json)), done = Set(0))
    }
    Scope(spark) { implicit scope =>
      // only when some page-dependent stage needs it
      lazy val (eligible, cached) = Linking.fusedParts(
        Pipeline.annotate(Pipeline.sentences(pages), ChemDict.entries.flatMap(_.synonyms)),
        Linking.MinOccurrences)
      def inBuckets(df: DataFrame, bs: Set[Int]): DataFrame =
        withBucket(df, b).filter(col("bucket").isin(bs.toSeq: _*)).drop("bucket")
      if (remainingT.nonEmpty)
        // seq=0 for the same schema-uniformity invariant as runResumable
        bootstrap(spark, triplesDir, StageTriples, snapT,
          inBuckets(cached, remainingT).withColumn("seq", lit(0L)), b, remainingT)
      if (remainingL.nonEmpty) {
        // a bucket this run bootstrapped holds exactly the cached
        // triples, unless an earlier write (an upsert ahead of the
        // bootstrap) already put rows in it; the A1 gate is corpus-global
        val fresh = remainingL & remainingT -- snapT.entries.map(_.bucket)
        val stored = remainingL -- fresh
        val fromTable =
          if (stored.isEmpty) None
          else resolve(spark, outDir, latestSnapshot(spark, triplesDir).restrict(stored),
            Long.MaxValue).map(_.drop("seq", "bucket"))
        val todo = (Option.when(fresh.nonEmpty)(inBuckets(cached, fresh)) ++ fromTable)
          .reduceOption(_.unionByName(_))
          .getOrElse(emptyTriples(spark, b).drop("seq", "bucket"))
        bootstrap(spark, linkedDir, StageLinked, snapL,
          Linking.linkEligible(todo, eligible, ChemDict.entries), b, remainingL)
      }
    }
  }
}
