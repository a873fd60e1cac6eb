package graft.plans

import graft.model.{Page, Sentence, Triple}
import graft.operators.{Canonicalize, Linking}
import graft.sources.ChemDict
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** S5/S2/S7-analog: stage materialization with Iceberg-style layout,
  * per-partition lineage rows, and checkpoint-resumable stage
  * boundaries (north rule).
  *
  * No Iceberg runtime jar exists in this sandbox (documented deviation,
  * BASELINE.md): the layout is Iceberg-like partitioned Parquet plus
  * self-written manifest/lineage tables:
  *
  *   out/
  *     triples/data/bucket=[b]/part-....parquet  (hash-partitioned by url)
  *     triples/manifest/part-....parquet         (stage,bucket,rows,t0,t1)
  *     linked/data/, entities/data/              (graph tables)
  *
  * Resume semantics = the reference's `processed` flag + file-exists
  * skip (cprex/corpus/corpus.py:199-214, chemrxiv.py:126-127) lifted to
  * partition granularity: a completed bucket is recorded in the
  * manifest; on restart, pages whose bucket is already manifested are
  * skipped (an anti-join against the manifest — cheap: manifest has one
  * row per bucket, broadcast).
  *
  * Scale note: bucket count B is the resume granularity; at 10^12 docs
  * you'd set B ~ 10^5 so one bucket ≈ 10^7 docs. Writes stream through
  * — no collect; lineage rows come from the same pass's per-bucket
  * counts (one extra narrow aggregation per stage).
  */
object Materialize {

  val StageTriples = "triples"

  def withBucket(df: DataFrame, buckets: Int): DataFrame =
    df.withColumn("bucket", pmod(hash(col("url")), lit(buckets)))

  def manifestPath(outDir: String): String = s"$outDir/$StageTriples/manifest"
  def dataPath(outDir: String): String = s"$outDir/$StageTriples/data"
  def metaPath(outDir: String): String = s"$outDir/$StageTriples/table_meta.json"

  /** Record the table's bucket count B and the dictionary content hash
    * next to the manifest (Iceberg table-metadata analog). The
    * bucket-pruning predicate in `readTriplesForUrl` MUST use the same
    * B the table was written with — a caller-supplied mismatch would
    * compute pmod(hash(url), B') pointing at the wrong partition and
    * silently return zero rows. The dict hash guards resume
    * consistency: triples (gazetteer) and linked (cid join) both
    * depend on the dictionary, so resuming manifested buckets under a
    * DIFFERENT dictionary would silently mix annotation vintages.
    */
  private def writeMeta(spark: SparkSession, outDir: String, buckets: Int,
      dictHash: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(metaPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) {
      val out = fs.create(path, true)
      out.write(s"""{"buckets":$buckets,"dict_hash":"$dictHash"}""".getBytes("UTF-8"))
      out.close()
    }
  }

  /** The bucket count every write/resume/read path must agree on: once
    * table metadata exists, the STORED B wins and the caller-supplied
    * value is ignored — resuming an existing table with a different
    * `buckets` argument would otherwise silently mix two bucket
    * numberings in one table (wrong resume skips + wrong pruning).
    * A dictionary CHANGE between runs fails loudly instead: completed
    * buckets were annotated/linked under the old dict and cannot be
    * mixed with new-dict output — write to a fresh outDir.
    * First call records the requested B + current dict hash.
    */
  private def resolveBuckets(spark: SparkSession, outDir: String, requested: Int): Int = {
    val path = new org.apache.hadoop.fs.Path(metaPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dh = dictHash(ChemDict.entries)
    if (fs.exists(path)) {
      val in = fs.open(path)
      val meta = scala.io.Source.fromInputStream(in).mkString
      in.close()
      """"dict_hash"\s*:\s*"([0-9a-f]+)"""".r.findFirstMatchIn(meta).foreach { m =>
        require(m.group(1) == dh,
          s"dictionary changed since this table was written ($outDir): " +
            "completed buckets hold old-dict annotations — materialize to a fresh outDir")
      }
      tableBuckets(spark, outDir)
    } else { writeMeta(spark, outDir, requested, dh); requested }
  }

  /** Bucket count the table was written with (from table_meta.json). */
  def tableBuckets(spark: SparkSession, outDir: String): Int = {
    val path = new org.apache.hadoop.fs.Path(metaPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(path), s"no table metadata at ${metaPath(outDir)}")
    val in = fs.open(path)
    val s = scala.io.Source.fromInputStream(in).mkString
    in.close()
    """"buckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s) match {
      case Some(m) => m.group(1).toInt
      case None => sys.error(s"malformed table metadata: $s")
    }
  }

  /** Buckets already completed in a previous run (empty on first run). */
  def completedBuckets(spark: SparkSession, outDir: String): Set[Int] =
    completedBucketsAt(spark, manifestPath(outDir), StageTriples)

  /** The manifest is an append-only lineage LOG shared by every job
    * that touches the stage (bootstrap, incremental upserts, deltas,
    * compactions), so resume decisions must filter to the BOOTSTRAP
    * stage rows: an incremental update landing in a never-bootstrapped
    * bucket records `triples_upsert`/`triples_delta` lineage for it,
    * and counting that as "bootstrapped" would make a resumed bootstrap
    * skip the bucket forever — silent loss of every base-crawl page
    * hashing there.
    */
  private def completedBucketsAt(spark: SparkSession, manifest: String,
      stage: String): Set[Int] = {
    val path = new org.apache.hadoop.fs.Path(manifest)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else spark.read.parquet(manifest)
      .filter(col("stage") === stage)
      .select("bucket").distinct()
      .collect().map(_.getInt(0)).toSet
  }

  /** Run the triple-extraction pipeline over `pages`, materializing
    * results partitioned by bucket, skipping buckets already in the
    * manifest. Returns the number of buckets processed this run.
    */
  def runResumable(
      spark: SparkSession,
      pages: Dataset[Page],
      outDir: String,
      buckets: Int = 16,
      onlyBuckets: Option[Set[Int]] = None // test hook: simulate partial run
  ): Int = {
    val b = resolveBuckets(spark, outDir, buckets)
    val done = completedBuckets(spark, outDir)

    val attempted = onlyBuckets.getOrElse((0 until b).toSet) -- done
    if (attempted.isEmpty) return 0 // true no-op: no job submitted

    // resume filter: drop pages of completed buckets BEFORE any work
    val remaining = pages
      .withColumn("bucket", pmod(hash(col("url")), lit(b)))
      .filter(col("bucket").isin(attempted.toSeq: _*))
      .drop("bucket").as[Page](pages.encoder)

    // bootstrap rows carry an explicit seq=0 (crawl-version epoch): every
    // triples data file then has the SAME schema as incrementally-written
    // ones. Without it, a partial fold leaves the table with MIXED
    // schemas (some files with seq, some without) and non-merged parquet
    // schema inference may pick a no-seq file — zeroing every row's
    // version and making post-snapshot rows visible to time travel.
    appendBucketedWithManifest(spark,
      Pipeline.run(remaining).toDF().withColumn("seq", lit(0L)), b,
      s"$outDir/$StageTriples", StageTriples, attempted)
  }

  /** Append stage rows bucketed by url-hash, then record lineage rows
    * for every ATTEMPTED bucket — including row-count-0 buckets, which
    * have no data directory but must still be manifested as complete or
    * a resume would retry them forever. The lineage pass selects ONLY
    * the `bucket` partition column — the scan reads zero data columns
    * (values come from directory names, row counts from parquet
    * footers), so it is metadata-cost, not a second pass over the data.
    */
  private def appendBucketedWithManifest(
      spark: SparkSession,
      rows: DataFrame,
      buckets: Int,
      stageDir: String,
      stage: String,
      attempted: Set[Int]
  ): Int = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    withBucket(rows, buckets).write.mode(SaveMode.Append)
      .partitionBy("bucket")
      .parquet(s"$stageDir/data")

    val t1 = System.currentTimeMillis()
    // an all-empty append leaves no readable parquet under data/ — the
    // manifest must still record the attempted buckets (rows=0)
    val counts =
      try spark.read.parquet(s"$stageDir/data")
        .select(col("bucket").cast("int").as("bucket"))
        .filter(col("bucket").isin(attempted.toSeq: _*))
        .groupBy("bucket").agg(count(lit(1)).as("rows"))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          Seq.empty[(Int, Long)].toDF("bucket", "rows")
      }
    val doneNow = attempted.toSeq.sorted.toDF("bucket")
      .join(counts, Seq("bucket"), "left_outer")
      .withColumn("rows", coalesce(col("rows"), lit(0L)))
      .withColumn("stage", lit(stage))
      .withColumn("startedAtMs", lit(t0))
      .withColumn("finishedAtMs", lit(t1))
      .select("stage", "bucket", "rows", "startedAtMs", "finishedAtMs")
    doneNow.write.mode(SaveMode.Append).parquet(s"$stageDir/manifest")
    attempted.size
  }

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
    * visibility is the versions write and stale redelivery is a no-op,
    * the snapshot is independent of batch arrival ORDER — it is a pure
    * function of (content, asOfMs), spec-asserted.
    *
    * Retention = the compaction horizon, exactly like Iceberg snapshot
    * expiration: `compact()` (and COW upserts, which rewrite rows in
    * place and inline-compact affected buckets) physically removes
    * superseded rows and consolidates their versions into batch=base.
    * The horizon is the newest version whose fold actually REMOVED an
    * older row — an asOfMs below it is an EXPIRED snapshot and fails
    * loudly: the folded rows carry seq = their version, so an older
    * asOfMs would filter them out while their superseded predecessors
    * no longer exist — the read would silently return a state the
    * table never had (re-crawled urls absent entirely). Iceberg errors
    * on expired snapshot ids for the same reason. Folds that remove
    * nothing (append-only batches: every url new) do NOT raise the
    * horizon — every pre-fold snapshot is still exactly
    * reconstructable (the new rows simply filter out by seq) and still
    * serves. History is complete for every snapshot at or above the
    * horizon.
    */
  def readTriplesAsOf(spark: SparkSession, outDir: String, asOfMs: Long): DataFrame = {
    val horizon = readHorizonMs(spark, outDir)
    require(asOfMs >= horizon,
      s"expired snapshot: asOfMs=$asOfMs predates the compaction " +
        s"horizon $horizon — superseded rows below it were physically " +
        s"removed (compact()/COW), so that table state no longer exists")
    resolveAsOfOpt(spark, outDir, asOfMs)
      .getOrElse(sys.error(s"no triple data under $outDir"))
      .drop("origin").drop("seq")
  }

  /** Guarded parquet read shared by every sidecar/data reader: None
    * when the path is absent OR exists with no inferable schema — the
    * state a crash early in a write job leaves behind (`_temporary`
    * only). ONLY the read itself is guarded; downstream column
    * resolution errors (a genuinely corrupt sidecar) stay loud.
    */
  private def readParquetOpt(spark: SparkSession, p: String): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) None
    else try Some(spark.read.parquet(p))
    catch { case _: org.apache.spark.sql.AnalysisException => None }
  }

  /** The snapshot-retention floor, stored as marker files
    * `horizon/h_<ms>` next to the data (max filename wins): raising it
    * is an atomic empty-file CREATE — never a read-modify-rewrite of
    * table metadata that a crash could corrupt — and reading it is an
    * O(1) directory listing instead of a scan over the consolidated
    * versions sidecar (O(table urls) at target scale). Monotone by
    * construction. 0 when no fold ever removed a row.
    *
    * Every fold creates the directory even when it removes nothing, so
    * the dir's EXISTENCE marks a marker-era table. A table folded
    * before markers existed (consolidated `versions/batch=base`
    * present, no horizon dir) cannot distinguish removing folds from
    * append-only ones — for it the floor falls back to the
    * conservative pre-marker rule, the max version ever consolidated
    * into base (over-rejects append-only history rather than silently
    * serving states that removing folds destroyed).
    */
  def horizonPath(outDir: String): String = s"$outDir/$StageTriples/horizon"

  private def readHorizonMs(spark: SparkSession, outDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(horizonPath(outDir))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).map(_.getPath.getName)
        .collect { case n if n.startsWith("h_") => n.stripPrefix("h_").toLong }
        .foldLeft(0L)(math.max)
    else {
      // legacy fallback: pre-marker folds left no record of what they
      // removed — the consolidated base's max version is the loudest
      // safe floor. Self-migrating: the scanned value is materialized
      // as a marker (best effort — a read-only reader still gets the
      // value) so the O(table-urls) scan runs once, not per read.
      val base = new org.apache.hadoop.fs.Path(
        s"${versionsPath(outDir)}/batch=$BaseBatch")
      if (!fs.exists(base)) 0L
      else {
        val legacy = readParquetOpt(spark, base.toString).map { v =>
          val row = v.agg(max("warc_ts_ms")).head()
          if (row.isNullAt(0)) 0L else row.getLong(0)
        }.getOrElse(0L)
        if (legacy > 0) try writeHorizonMarker(fs, p, legacy)
        catch { case _: java.io.IOException => () }
        legacy
      }
    }
  }

  /** MARKER FIRST, never an empty dir: `fs.create` makes parent dirs,
    * so the directory can never exist without its floor — an empty
    * horizon dir would read as 0 and silently serve destroyed states
    * (the exact inversion of the raise-before-fold invariant).
    */
  private def writeHorizonMarker(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, h: Long): Unit = {
    fs.create(new org.apache.hadoop.fs.Path(dir, s"h_$h"), true).close()
  }

  /** Raise the retention floor BEFORE the fold commits (a crash between
    * the raise and the fold over-rejects — conservative — never the
    * reverse, which would silently serve a state the table never had).
    * Called by every fold, including h=0 ones: creating the horizon dir
    * is what opts the table out of the legacy conservative fallback.
    */
  private def raiseHorizonMs(spark: SparkSession, outDir: String, h: Long): Unit = {
    val dir = new org.apache.hadoop.fs.Path(horizonPath(outDir))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // readHorizonMs self-migrates a legacy floor into a marker before
    // the dir's existence switches the read rule; only a floor-0 table
    // gets a bare mkdirs (an empty dir correctly reads as 0 there)
    val current = readHorizonMs(spark, outDir)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    if (h <= 0 || h <= current) return
    writeHorizonMarker(fs, dir, h)
    // best-effort GC of superseded markers (readers take the max anyway)
    fs.listStatus(dir).map(_.getPath)
      .filter(p => p.getName.startsWith("h_") &&
        p.getName.stripPrefix("h_").toLong < h)
      .foreach(p => fs.delete(p, false))
  }

  /** The horizon contribution of folding the given buckets' outstanding
    * tombstones: over all PHYSICALLY PRESENT rows (base or committed
    * delta) being removed, the newest FIRST-superseding version — each
    * killed row's smallest tombstone above its seq, because the row's
    * visibility range ends exactly there; attributing the kill to the
    * url's newest tombstone would over-raise the floor past states
    * that remain reconstructable. A tombstone that kills nothing — a
    * brand-new url's own version row — expires no snapshot: pre-fold
    * states never contained that url. One broadcast-join aggregate
    * over the affected buckets, run only at fold time (compaction
    * cadence, not read cadence).
    */
  private def foldKillHorizonMs(spark: SparkSession, outDir: String,
      affected: Set[Int], committed: Set[String]): Long = {
    val dead = readParquetOpt(spark, versionsPath(outDir)).map {
      _.filter(col("batch") =!= lit(BaseBatch) &&
          col("batch").isin(committed.toSeq: _*))
        .filter(col("bucket").isin(affected.toSeq: _*))
        .select(col("url"), col("warc_ts_ms"))
    }
    if (dead.isEmpty) return 0L
    val baseRows = readParquetOpt(spark, dataPath(outDir)).map { b =>
      val s = if (b.columns.contains("seq")) b else b.withColumn("seq", lit(0L))
      s.select(col("url"), coalesce(col("seq"), lit(0L)).as("seq"), col("bucket"))
    }
    val deltaRows = readParquetOpt(spark, deltaPath(outDir)).map {
      _.filter(col("batch").isin(committed.toSeq: _*))
        .select(col("url"), coalesce(col("seq"), lit(0L)).as("seq"), col("bucket"))
    }
    val rows = (baseRows, deltaRows) match {
      case (Some(a), Some(d)) => Some(a.unionByName(d))
      case (a, d) => a.orElse(d)
    }
    rows.map { r =>
      val row = r.filter(col("bucket").isin(affected.toSeq: _*))
        .join(broadcast(dead.get), Seq("url"))
        .filter(col("seq") < col("warc_ts_ms"))
        .groupBy(col("url"), col("seq"))
        .agg(min("warc_ts_ms").as("first_killer"))
        .agg(max("first_killer")).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }.getOrElse(0L)
  }

  /** Resolution variant that keeps the internal per-row crawl sequence
    * (warc_ts_ms of the crawl that produced the row; 0 for rows that
    * predate incremental updates) — the COW rewrite and `compact` need
    * it to fold deltas into the base without losing version info.
    */
  private def readTriplesWithSeq(spark: SparkSession, outDir: String): DataFrame =
    readTriplesWithSeqOpt(spark, outDir)
      .getOrElse(sys.error(s"no triple data under $outDir"))

  private def readTriplesWithSeqOpt(
      spark: SparkSession, outDir: String): Option[DataFrame] =
    readTriplesWithSeqOriginOpt(spark, outDir).map(_.drop("origin"))

  /** Like [[readTriplesWithSeqOpt]] but rows carry an `origin` column
    * (`b` = base table, `d` = un-compacted delta) — the crash-heal fold
    * in compact/COW needs to distinguish the two storages.
    */
  private def readTriplesWithSeqOriginOpt(
      spark: SparkSession, outDir: String,
      committedSnap: Option[Set[String]] = None): Option[DataFrame] =
    resolveAsOfOpt(spark, outDir, Long.MaxValue, committedSnap)

  /** The one resolution routine behind both the current-state read
    * (asOfMs = Long.MaxValue) and the time-travel read: rows newer than
    * asOfMs are invisible, and only tombstones up to asOfMs apply.
    * `committedSnap` lets a maintenance operation (compact/COW) pin ONE
    * committed-batch snapshot across its whole read-fold-drop sequence —
    * recomputing it per step would let a batch that commits mid-fold be
    * half-included.
    */
  private def resolveAsOfOpt(
      spark: SparkSession, outDir: String, asOfMs: Long,
      committedSnap: Option[Set[String]] = None): Option[DataFrame] = {
    def read(p: String): Option[DataFrame] = readParquetOpt(spark, p)
    val base = read(dataPath(outDir)).map { b0 =>
      val b = if (b0.columns.contains("seq")) b0 else b0.withColumn("seq", lit(0L))
      b.withColumn("origin", lit("b"))
    }
    // COMMIT GATE: a delta batch is visible only once its versions
    // batch is FULLY written (its job's _SUCCESS marker exists —
    // committedBatchIds) — morCommit writes delta first, versions
    // second, so the versions job commit is the commit point. A crash
    // before or DURING the versions write leaves an invisible
    // (uncommitted) delta dir: without this gate its rows would be live
    // with no tombstone (or a partial one) killing the old rows of the
    // same urls, violating latest-crawl-wins. Uncommitted dirs are
    // replay-overwritten by redelivery (same content-derived id) or
    // GC'd by compact(). The same gate applies to the TOMBSTONES below:
    // a half-written versions dir must not kill anything either, or a
    // concurrent reader mid-commit would see rows vanish before the
    // batch becomes visible.
    val committed = committedSnap.getOrElse(committedBatchIds(spark, outDir))
    val delta = read(deltaPath(outDir)).map { d =>
      d.filter(col("batch").isin(committed.toSeq: _*)).drop("batch")
        .withColumn("origin", lit("d"))
    }
    val withDelta = (base, delta) match {
      case (Some(b), Some(d)) => Some(b.unionByName(d, allowMissingColumns = true))
      case (Some(b), None) => Some(b)
      case (None, Some(d)) => Some(d)
      case (None, None) => None
    }
    withDelta.map { wd =>
      val visible = wd.withColumn("seq", coalesce(col("seq"), lit(0L)))
        .filter(col("seq") <= asOfMs) // rows crawled after the snapshot
      read(versionsPath(outDir)) match {
        case None => visible
        case Some(v) =>
          // tombstones ARE the versions rows of un-compacted batches
          // (batch != base): a row is live iff its seq is not below the
          // newest applied version of its url — restricted to versions
          // within the snapshot for time travel. Volume is bounded by
          // the deltas since the last compaction (compact()/COW
          // consolidate into batch=base, which kills nothing —
          // compacted rows carry seq = their version) — broadcastable
          // by contract.
          val dead = v.filter(col("batch").isin(committed.toSeq: _*))
            .filter(col("warc_ts_ms") <= asOfMs)
            .groupBy("url").agg(max("warc_ts_ms").as("upto_ms"))
          visible.join(broadcast(dead), Seq("url"), "left_outer")
            .filter(col("upto_ms").isNull || col("seq") >= col("upto_ms"))
            .drop("upto_ms")
      }
    }
  }

  // ------------------------------------------------------------------
  // incremental update (latest-crawl-wins upsert)
  // ------------------------------------------------------------------

  def versionsPath(outDir: String): String = s"$outDir/$StageTriples/versions"
  def deltaPath(outDir: String): String = s"$outDir/$StageTriples/delta"
  private def stagingPath(outDir: String): String = s"$outDir/$StageTriples/.staging"

  /** Crash-heal fold: collapse the double-count a crashed half-commit
    * leaves behind WITHOUT erasing legitimate duplicate rows. A
    * fold-into-base (compact, or COW inline compaction) that crashed
    * after the base overwrite but before the delta-dir drop leaves
    * every row of the folded batch live TWICE — once in base, once in
    * delta — and ONLY then can a live base row equal a live delta row
    * including `seq` (a re-crawled url's old base rows sit below the
    * delta's tombstone; folded rows carry their version as seq). So the
    * correct multiplicity per identical-row group is max(base copies,
    * delta copies): k legitimate duplicates (a sentence stating the
    * same fact twice) live in one origin are (k,0)/(0,k) → k, a
    * half-committed fold is (k,k) → k. A plain dropDuplicates would
    * turn every legitimate k into 1, silently changing row multiplicity
    * vs a full recompute.
    */
  private[graft] def healFold(df: DataFrame): DataFrame = {
    val dataCols = df.columns.filter(_ != "origin").map(col)
    df.groupBy(dataCols: _*)
      .agg(sum(when(col("origin") === "b", 1L).otherwise(0L)).as("cb"),
        sum(when(col("origin") === "d", 1L).otherwise(0L)).as("cd"))
      .withColumn("copy_n", explode(expr("sequence(1, greatest(cb, cd))")))
      .drop("cb", "cd", "copy_n")
  }

  /** Names of the `batch=<id>` directories under a delta/versions root. */
  private def batchIdsUnder(spark: SparkSession, root: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isDirectory)
      .map(_.getPath.getName.stripPrefix("batch=")).toSet
  }

  /** Batch ids whose VERSIONS write JOB completed — the `_SUCCESS`
    * marker Spark's committer drops at job commit is the commit record.
    * Directory existence is NOT enough: the batch dir appears at job
    * start and part-files land as tasks commit, so a concurrent reader
    * (or a crash mid-write) would otherwise observe a HALF-WRITTEN
    * tombstone set — some re-crawled urls' old rows killed, others
    * still live next to the already-visible delta rows. Gating every
    * consumer (delta visibility, tombstone resolution, stale
    * rejection, compaction fold) on the marker makes the versions
    * `_SUCCESS` creation the single atomic commit point.
    * `batch=base` is excluded by construction: it is written by
    * dynamic partition overwrite (whose `_SUCCESS` lands at the
    * versions ROOT) and is never a delta gate nor a tombstone source.
    */
  private def committedBatchIds(spark: SparkSession, outDir: String): Set[String] = {
    val root = new org.apache.hadoop.fs.Path(versionsPath(outDir))
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).filter(_.isDirectory)
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d.getPath, "_SUCCESS")))
      .map(_.getPath.getName.stripPrefix("batch="))
      .toSet - BaseBatch
  }

  /** Versions batch holding the consolidated (compacted) per-url
    * versions — excluded from tombstone resolution (compacted data rows
    * carry their version as seq, so consolidated versions kill nothing).
    */
  val BaseBatch = "base"

  /** Lineage stage name for COW upsert rewrites — distinct from the
    * bootstrap stage so `completedBuckets` never mistakes an upserted
    * bucket for a bootstrapped one.
    */
  val StageTriplesUpsert = "triples_upsert"

  /** Post-commit lineage append: one row per affected bucket with its
    * current count. Guards the all-buckets-emptied case (no readable
    * parquet left under data/) the same way the bootstrap path does —
    * the commit has already succeeded at that point and must not throw.
    */
  private def appendLineage(spark: SparkSession, outDir: String,
      stage: String, affected: Set[Int], t0: Long, t1: Long): Unit = {
    import spark.implicits._
    val counts =
      try spark.read.parquet(dataPath(outDir))
        .select(col("bucket").cast("int").as("bucket"))
        .filter(col("bucket").isin(affected.toSeq: _*))
        .groupBy("bucket").agg(count(lit(1)).as("rows"))
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          Seq.empty[(Int, Long)].toDF("bucket", "rows")
      }
    affected.toSeq.sorted.toDF("bucket")
      .join(counts, Seq("bucket"), "left_outer")
      .withColumn("rows", coalesce(col("rows"), lit(0L)))
      .withColumn("stage", lit(stage))
      .withColumn("startedAtMs", lit(t0))
      .withColumn("finishedAtMs", lit(t1))
      .select("stage", "bucket", "rows", "startedAtMs", "finishedAtMs")
      .write.mode(SaveMode.Append).parquet(manifestPath(outDir))
  }

  /** Commit a staged bucket rewrite — the shared protocol of cowCommit
    * and compact (one implementation, one place to fix): dynamically
    * overwrite the staged data partitions into the base, drop affected
    * bucket dirs the staged data did not mention (pure deletes), fold
    * away the affected buckets' outstanding delta dirs, consolidate
    * staged versions into batch=base and drop those buckets'
    * un-compacted version dirs, then remove staging.
    *
    * `foldBatches` is the committed-batch snapshot whose content the
    * staged rewrite actually folded: ONLY those batch dirs lose their
    * affected-bucket subdirs. A batch that committed (or is still
    * mid-commit) after the fold read must keep both its delta rows and
    * its tombstones — dropping them here would permanently lose a
    * committed batch that was never part of the fold.
    */
  private def commitStaged(spark: SparkSession, outDir: String,
      affected: Set[Int], foldBatches: Set[String]): Unit = {
    val staging = stagingPath(outDir)
    val fsData = new org.apache.hadoop.fs.Path(dataPath(outDir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Partition-dir RENAMES, not a second Spark write: the staged files
    // were produced by this fold's own write job — re-reading and
    // dynamic-overwriting them into the final path (the pre-r6 flow)
    // read and wrote the whole affected-bucket set a SECOND time, plus
    // a distinct-collect job to find pure-delete buckets. The staged
    // layout already matches the final one (partitionBy("bucket")), so
    // the commit is delete-dst + rename-src per affected bucket —
    // metadata ops. The crash window (dst deleted, src not yet renamed)
    // is the same shape as dynamic partition overwrite's own
    // commit-time delete+rename, only narrower because no job runs
    // between them; a crash mid-commit is healed the same way as
    // before (re-run compact: still-present deltas + healFold).
    def stagedSubdirs(p: org.apache.hadoop.fs.Path, prefix: String) =
      if (!fsData.exists(p)) Array.empty[org.apache.hadoop.fs.Path]
      else fsData.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith(prefix))
    def replace(src: org.apache.hadoop.fs.Path, dstDir: String): Unit = {
      val dst = new org.apache.hadoop.fs.Path(dstDir, src.getName)
      if (fsData.exists(dst)) fsData.delete(dst, true)
      fsData.mkdirs(dst.getParent)
      require(fsData.rename(src, dst), s"commit rename $src -> $dst failed")
    }
    // an all-empty staged union (every affected row re-crawled into
    // zero triples) leaves no staged bucket dirs — every affected
    // partition is then a pure delete
    val stagedData = stagedSubdirs(
      new org.apache.hadoop.fs.Path(s"$staging/data"), "bucket=")
    val written = stagedData
      .map(_.getName.stripPrefix("bucket=").toInt).toSet
    (affected -- written).foreach { bk =>
      fsData.delete(new org.apache.hadoop.fs.Path(
        s"${dataPath(outDir)}/bucket=$bk"), true)
    }
    stagedData.foreach(replace(_, dataPath(outDir)))
    // the rewrite folded the affected buckets' outstanding deltas
    // into the base — drop them (folded batches only)
    dropBucketDirsUnderBatches(spark, deltaPath(outDir), affected, foldBatches)
    // versions: consolidated rows land in batch=base (bucket dirs
    // renamed in under their batch dir), then the affected buckets'
    // un-compacted batch rows (now folded) drop. Staged versions may
    // be legitimately absent. foldBatches never contains BaseBatch, so
    // the consolidated batch is safe.
    stagedSubdirs(new org.apache.hadoop.fs.Path(s"$staging/versions"), "batch=")
      .foreach { bdir =>
        stagedSubdirs(bdir, "bucket=").foreach(
          replace(_, s"${versionsPath(outDir)}/${bdir.getName}"))
      }
    dropBucketDirsUnderBatches(spark, versionsPath(outDir), affected, foldBatches)
    fsData.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /** Per-bucket row-count accumulator: lineage counts collected DURING
    * the delta write instead of a read-back job.
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

  final case class IncrementalStats(appliedUrls: Long, staleUrls: Long,
      affectedBuckets: Set[Int])

  /** Per-url crawl versions currently recorded for the given buckets —
    * (url, warc_ts_ms, bucket) with warc_ts_ms RESOLVED to the max per
    * url (merge-on-read appends version rows; max is the current
    * version — identity for copy-on-write tables, which store one row
    * per url). Partition-pruned to exactly those bucket directories.
    * Empty when the table predates incremental updates
    * (runResumable-bootstrapped tables have no versions sidecar —
    * every incoming url then counts as newer, which is the correct
    * default for a table whose rows all came from one crawl batch).
    */
  def readVersions(spark: SparkSession, outDir: String,
      buckets: Set[Int], committedSnap: Option[Set[String]] = None): DataFrame = {
    import spark.implicits._
    val empty = Seq.empty[(String, Long, Int)].toDF("url", "warc_ts_ms", "bucket")
    // only COMMITTED batches (plus the consolidated base) count as
    // stored versions: a half-written versions dir of a crashed
    // commit would otherwise stale-reject its own redelivery — the
    // batch could then never commit, losing its data permanently.
    // readParquetOpt guards ONLY absence / no inferable schema (the
    // states a crashed write leaves); a resolvable-but-corrupt sidecar
    // (missing columns) must fail loudly, or stale rejection silently
    // turns off and an old batch redelivery rolls the table back.
    readParquetOpt(spark, versionsPath(outDir)).map { v =>
      val committed = committedSnap.getOrElse(committedBatchIds(spark, outDir))
      v.filter(col("batch") === lit(BaseBatch) ||
          col("batch").isin(committed.toSeq: _*))
        .filter(col("bucket").isin(buckets.toSeq: _*))
        .groupBy(col("url"), col("bucket").cast("int").as("bucket"))
        .agg(max("warc_ts_ms").as("warc_ts_ms"))
        .select("url", "warc_ts_ms", "bucket")
    }.getOrElse(empty)
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
    *    write cost is O(delta) regardless of scatter, two write jobs
    *    total (the versions rows double as the tombstone set: a row is
    *    live iff seq >= the newest non-base version of its url;
    *    non-base versions are bounded by deltas since last compaction,
    *    so the resolution join broadcasts). `compact()` folds deltas
    *    into the base and consolidates versions into batch=base (which
    *    kills nothing — compacted rows carry their version as seq).
    *    The batch id is a deterministic content hash, so a crash-replay
    *    of the same batch dynamic-overwrites its own partitions —
    *    idempotent, not duplicating.
    *
    * Cost scales with the delta, not the table: the versions read is
    * partition-pruned to pmod(hash(url), B) of batch urls
    * (PartitionFilters, asserted in IncrementalSpec), the extraction
    * pipeline runs over applied pages only, and under merge-on-read no
    * existing data file is touched at all (byte-stamp-asserted).
    *
    * Scope: this maintains the TRIPLES stage (the base table). The
    * linked/entity stages are DERIVED artifacts whose semantics are
    * corpus-global (the A1 mention-count gate can flip for untouched
    * documents when global counts move), so they follow the standard
    * warehouse pattern: base table incrementally maintained, derived
    * tables refreshed on their own schedule from the updated base —
    * re-run the linked stage into a fresh stage dir when lag matters.
    *
    * Commit discipline (no Iceberg runtime in this sandbox — manifest
    * append is the commit record, same deviation as the rest of this
    * file): the union of survivors + new triples is staged under
    * .staging first (you cannot overwrite a path you are reading), then
    * dynamically overwrites exactly the affected data partitions, then
    * versions, then the lineage append. Every pre-versions crash window
    * is idempotent: versions still hold the OLD warc_ts, so re-running
    * the same batch re-applies and rewrites the same partitions to the
    * same bytes; once versions are written the data partitions are
    * already fully updated.
    */
  def incrementalUpdate(
      spark: SparkSession,
      newPages: Dataset[Page],
      outDir: String,
      buckets: Int = 16,
      mergeOnRead: Boolean = false
  ): IncrementalStats = Scope(spark) { scope =>
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val b = resolveBuckets(spark, outDir, buckets)

    // newest row per url within the batch (a batch may carry several
    // crawls of one url); equal-ts ties break on content hash so a
    // crash REPLAY picks the same winner — the batch id hashes only
    // (url, warc_ts), and a nondeterministic winner would commit
    // DIFFERENT content under the SAME id. Persisted (O(delta) by
    // contract): it feeds both the version-marking join and the
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

    // versions pruning needs the batch's bucket set (bounded-size
    // collect: at most B values). Computed from `latest`, whose
    // materialization the stats pass pays moments later anyway — the
    // per-url dedup cannot change the bucket SET (same urls), and
    // probing the cache here saves a second pass over the batch
    // source (r6: the old raw-side probe re-read/re-generated the
    // whole batch once more per update)
    val batchBuckets = latest
      .select(col("bucket")).distinct().collect().map(_.getInt(0)).toSet
    // one committed-batch snapshot pins the whole operation (stale
    // rejection + COW fold + drop) to a single consistent view
    val committed = committedBatchIds(spark, outDir)
    val stored = readVersions(spark, outDir, batchBuckets, Some(committed))

    // mark rather than filter: one cached compact table serves the
    // applied/stale split, the stats, and the batch id — one Spark job
    // instead of four
    val marked = scope.persist(latest
      .join(stored.select(col("url"), col("warc_ts_ms").as("stored_ms")),
        Seq("url"), "left_outer")
      .withColumn("is_applied",
        col("stored_ms").isNull || col("warc_ts_ms") > col("stored_ms"))
      .select("url", "warc_ts_ms", "bucket", "is_applied"))
    // the second hash lane sums the xxhash64 HALVES separately: a
    // direct sum of 64-bit hashes overflows long (ANSI error in
    // Spark 4) after ~2^31 magnitude; each half-sum is bounded by
    // n*2^32 and stays order-independent
    val xx = xxhash64(col("url"), col("warc_ts_ms"))
    val stats = marked.groupBy("bucket", "is_applied")
      .agg(count(lit(1)).as("n"),
        sum(hash(col("url"), col("warc_ts_ms")).cast("long")).as("h"),
        max("warc_ts_ms").as("m"),
        sum(shiftright(xx, 32)).as("h2hi"),
        sum(xx.bitwiseAND(lit(0xffffffffL))).as("h2lo")).collect()
    val appliedStats = stats.filter(_.getBoolean(1))
    val affected = appliedStats.map(_.getInt(0)).toSet
    val nApplied = appliedStats.map(_.getLong(2)).sum
    val nStale = stats.filterNot(_.getBoolean(1)).map(_.getLong(2)).sum
    if (affected.isEmpty) return IncrementalStats(0L, nStale, Set.empty)
    // deterministic content-derived batch id (order-independent).
    // TWO independent hash-family sums (32-bit murmur + xxhash64) plus
    // max ts and row count: a collision must defeat all four at once —
    // a single 32-bit sum is not collision-resistant across the
    // continuous batch stream this mode targets, and an id collision
    // with an un-compacted earlier batch would silently Overwrite
    // that batch's delta dir while its tombstones stay live.
    val h2 = appliedStats.map(_.getLong(5)).sum ^
      java.lang.Long.rotateLeft(appliedStats.map(_.getLong(6)).sum, 17)
    val batchId =
      java.lang.Long.toHexString(appliedStats.map(_.getLong(3)).sum) +
        java.lang.Long.toHexString(h2) + "-" +
        java.lang.Long.toHexString(appliedStats.map(_.getLong(4)).max) + "-" +
        java.lang.Long.toHexString(nApplied)

    val appliedKeys = marked.filter(col("is_applied")).drop("is_applied")
    // applied PAGE rows (html et al.) for the extraction pipeline:
    // semi-join the (persisted) batch against the cached applied keys
    val appliedPages = latest
      .join(appliedKeys.select("url"), Seq("url"), "left_semi")
      .drop("warc_ts_ms", "bucket").as[Page]
    // new rows carry seq = their crawl's warc_ts_ms (the per-url
    // version order tombstones resolve against). No broadcast hint:
    // appliedKeys is O(delta) — 10^8 urls for a 1% batch at the
    // 10^10-url scale this mode targets, far past any broadcast
    // limit; AQE upgrades small deltas to broadcast at runtime.
    val fresh = withBucket(Pipeline.run(appliedPages).toDF(), b)
      .join(appliedKeys.select(col("url"),
        col("warc_ts_ms").as("seq")), Seq("url"))

    if (mergeOnRead)
      morCommit(spark, outDir, fresh, appliedKeys, batchId, nApplied)
    else
      cowCommit(spark, outDir, b, fresh, appliedKeys, stored, affected,
        committed)
    IncrementalStats(nApplied, nStale, affected)
  }

  /** Merge-on-read commit: delta + tombstones under a deterministic
    * content-derived batch id (crash replay dynamic-overwrites the same
    * partitions — idempotent), versions appended last (duplicates from
    * a replay are harmless: readVersions max-resolves).
    */
  private def morCommit(spark: SparkSession, outDir: String,
      fresh: DataFrame, appliedKeys: DataFrame,
      batchId: String, nApplied: Long): Unit = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()

    // partition-align every partitioned write or each shuffle partition
    // writes one tiny file into every bucket dir it touches
    // (~parallelism x buckets files per batch — the classic small-files
    // problem). Small batches funnel through ONE post-shuffle writer
    // task (repartition, NOT coalesce — coalesce would collapse the
    // upstream extraction to one task too); large ones shuffle by
    // bucket. Either way the exchange moves O(delta) rows.
    def aligned(df: DataFrame): DataFrame =
      if (nApplied <= 50000) df.repartition(1) else df.repartition(col("bucket"))

    // lineage counts collected DURING the delta write via accumulator
    // (write actions apply each successful task's updates exactly once)
    // instead of a read-back job; the side-effect rides a kept data
    // column so projection pruning cannot elide it
    val acc = new BucketCountAcc
    spark.sparkContext.register(acc, "delta_bucket_rows")
    val countUdf = udf((url: String, bucket: Int) => { acc.add(bucket); url })

    // write DIRECTLY into the explicit batch=<id> directory with a
    // plain overwrite: replay-idempotent like dynamic partition
    // overwrite (same id → same dir) without its list-and-rename
    // commit overhead; reading the delta/versions ROOT still discovers
    // batch= as a partition column from the directory name
    aligned(fresh)
      .withColumn("url", countUdf(col("url"), col("bucket")))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"${deltaPath(outDir)}/batch=$batchId")
    // the versions batch IS the tombstone set (url, warc_ts_ms,
    // bucket): one sidecar serves stale rejection (max over all
    // batches) AND read resolution (non-base batches only) — one
    // write instead of two
    aligned(appliedKeys)
      .write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"${versionsPath(outDir)}/batch=$batchId")
    // the _SUCCESS marker IS the commit record every reader gates on
    // (committedBatchIds) — if the committer was configured not to
    // write it (marksuccessfuljobs=false), every batch would read as
    // uncommitted forever; fail the commit loudly instead
    val okPath = new org.apache.hadoop.fs.Path(
      s"${versionsPath(outDir)}/batch=$batchId/_SUCCESS")
    require(okPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(okPath),
      "versions commit marker missing after the write — the committer " +
        "must emit _SUCCESS (mapreduce.fileoutputcommitter." +
        "marksuccessfuljobs) for merge-on-read commits to be visible")

    val t1 = System.currentTimeMillis()
    acc.value.toSeq.sortBy(_._1).toDF("bucket", "rows")
      .withColumn("stage", lit(s"${StageTriples}_delta"))
      .withColumn("startedAtMs", lit(t0))
      .withColumn("finishedAtMs", lit(t1))
      .select("stage", "bucket", "rows", "startedAtMs", "finishedAtMs")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(manifestPath(outDir))
  }

  /** Copy-on-write commit: rewrite affected buckets (survivors keep
    * their seq; outstanding deltas/tombstones of those buckets fold in
    * — inline compaction), staged first, versions last so every
    * pre-versions crash window replays idempotently.
    */
  private def cowCommit(spark: SparkSession, outDir: String, b: Int,
      fresh: DataFrame, appliedKeys: DataFrame, stored: DataFrame,
      affected: Set[Int], committed: Set[String]): Unit = {
    import spark.implicits._
    val t0 = System.currentTimeMillis()
    // survivors: affected buckets' current LIVE rows minus re-crawled
    // urls (bucket predicate prunes to those partition dirs);
    // bootstrapping an empty table has no survivors. healFold only when
    // outstanding deltas exist (its groupBy is pure cost on a clean
    // table). No broadcast hint on the O(delta) key set — 10^8 urls for
    // a 1% batch at target scale; AQE upgrades small deltas at runtime.
    val hasDeltas = batchIdsUnder(spark, deltaPath(outDir)).nonEmpty
    // outstanding COMMITTED tombstones can exist with NO delta dir (a
    // re-crawl that extracted zero triples writes versions buckets but
    // no delta buckets) — the inline fold still physically removes the
    // rows they killed, so the horizon pass keys off tombstones, not
    // delta dirs. committedBatchIds IS the set of tombstone batches
    // (versions dirs with _SUCCESS, minus base), so the pinned snapshot
    // answers this without another listing.
    val hasTombs = committed.nonEmpty
    val prior = readTriplesWithSeqOriginOpt(spark, outDir, Some(committed))
    Scope(spark) { scope =>
      // the affected buckets' resolved rows feed TWO actions (the staged
      // survivors write and the kill-horizon aggregate) — persist once
      // instead of resolving base+delta+tombstones twice
      val liveOpt = prior.map(p =>
        scope.persist(p.filter(col("bucket").isin(affected.toSeq: _*))))
      val survivors = liveOpt match {
        case Some(live) =>
          val healed = if (hasDeltas) healFold(live) else live.drop("origin")
          healed.join(appliedKeys.select("url"), Seq("url"), "left_anti")
        case None =>
          withBucket(spark.emptyDataset[Triple].toDF(), b)
            .withColumn("seq", lit(0L))
      }
      val union = survivors.unionByName(fresh.select(survivors.columns.map(col): _*))

      // stage → commit (cannot overwrite the path being read)
      val staging = stagingPath(outDir)
      union.write.mode(SaveMode.Overwrite).partitionBy("bucket")
        .parquet(s"$staging/data")
      val newVersions = appliedKeys
        .unionByName(stored.join(appliedKeys.select("url"),
          Seq("url"), "left_anti"))
        .withColumn("batch", lit(BaseBatch))
      newVersions.repartition(col("bucket"))
        .write.mode(SaveMode.Overwrite).partitionBy("batch", "bucket")
        .parquet(s"$staging/versions")

      // retention floor: the rewrite physically removes (a) re-crawled
      // urls' live rows — killed by this batch's own new versions — and
      // (b) already-superseded rows swept out by the inline fold. Append-
      // only batches (every url new) kill nothing and expire no snapshot.
      val killCow = liveOpt.map { live =>
        val row = live
          .join(appliedKeys.select(col("url"), col("warc_ts_ms").as("new_ms")),
            Seq("url"))
          .agg(max("new_ms")).head()
        if (row.isNullAt(0)) 0L else row.getLong(0)
      }.getOrElse(0L)
      val killFold =
        if (hasTombs) foldKillHorizonMs(spark, outDir, affected, committed)
        else 0L
      raiseHorizonMs(spark, outDir, math.max(killCow, killFold))
    }

    commitStaged(spark, outDir, affected, committed)
    appendLineage(spark, outDir, StageTriplesUpsert, affected, t0,
      System.currentTimeMillis())
  }

  /** Delete `bucket=<bk>` subdirectories for the given buckets under
    * the named `batch=<id>` directories of a delta/versions root, then
    * prune batch dirs (and the root) that became empty.
    */
  private def dropBucketDirsUnderBatches(spark: SparkSession, root: String,
      buckets: Set[Int], onlyBatches: Set[String]): Unit = {
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return
    fs.listStatus(rootPath).filter(_.isDirectory)
      .filter(d => onlyBatches.contains(
        d.getPath.getName.stripPrefix("batch=")))
      .foreach { batchDir =>
        buckets.foreach { bk =>
          val p = new org.apache.hadoop.fs.Path(batchDir.getPath, s"bucket=$bk")
          if (fs.exists(p)) fs.delete(p, true)
        }
        if (fs.listStatus(batchDir.getPath)
          .forall(s => !s.isDirectory)) // only stray markers left
          fs.delete(batchDir.getPath, true)
      }
    if (fs.listStatus(rootPath).isEmpty) fs.delete(rootPath, true)
  }

  /** Uncommitted-batch GC waits at least this long after the batch
    * dirs' last modification (default 1h): a writer whose morCommit is
    * still in flight — delta written, versions job running, `_SUCCESS`
    * not yet dropped — looks exactly like a crashed commit, and GC'ing
    * it would destroy a batch whose commit then succeeds (checkpoint
    * advances, batch never redelivered — permanent loss). Any grace
    * comfortably above the longest expected commit duration closes the
    * race; tests that synthesize crash states pass 0.
    */
  val DefaultGcGraceMs: Long = 60L * 60 * 1000

  /** Fold all outstanding merge-on-read deltas and tombstones into the
    * base table — the periodic maintenance job that keeps the MoR read
    * path cheap (the tombstone broadcast is bounded by deltas since the
    * last compaction). Rewrites only buckets that have outstanding
    * COMMITTED delta/tombstone state; exact-duplicate rows (possible
    * only from a crash-replayed half-commit) are healed via healFold —
    * a full-row shuffle, disclosed and bounded to the affected buckets;
    * a crash inside compact() itself is healed by re-running it.
    * Returns the compacted bucket set.
    *
    * Safe to run concurrently with a committing stream: one committed
    * snapshot pins the fold, drops touch only folded batches, and
    * uncommitted-dir GC is grace-gated (see [[DefaultGcGraceMs]]) plus
    * re-checked against the commit marker immediately before each
    * delete — versions half first, so a straggler versions job whose
    * dir vanishes fails its own commit (and redelivers) rather than
    * committing tombstones whose delta was GC'd.
    */
  def compact(spark: SparkSession, outDir: String,
      gcGraceMs: Long = DefaultGcGraceMs): Set[Int] = {
    val fs = new org.apache.hadoop.fs.Path(dataPath(outDir))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def bucketsUnder(root: String, onlyBatches: Set[String]): Set[Int] = {
      val p = new org.apache.hadoop.fs.Path(root)
      if (!fs.exists(p)) Set.empty
      else fs.listStatus(p).filter(_.isDirectory)
        .filter(d => onlyBatches.contains(
          d.getPath.getName.stripPrefix("batch=")))
        .flatMap(batchDir =>
          fs.listStatus(batchDir.getPath).map(_.getPath.getName)
            .filter(_.startsWith("bucket="))
            .map(_.stripPrefix("bucket=").toInt)).toSet
    }
    // GC uncommitted batches first (crash window between the delta
    // write and the versions job COMMIT): the _SUCCESS-gated commit
    // point hides them from every reader, their tombstones never took
    // effect, and a redelivery rewrites the same dirs — folding them
    // would resurrect an uncommitted batch. Both halves go: the delta
    // dir AND any half-written versions dir (partial part-files, no
    // _SUCCESS) of the same crashed commit. Grace-gated: an in-flight
    // commit younger than gcGraceMs is NOT a crash and must survive.
    val committed = committedBatchIds(spark, outDir)
    val now = System.currentTimeMillis()
    val uncommitted = (batchIdsUnder(spark, deltaPath(outDir)) ++
      (batchIdsUnder(spark, versionsPath(outDir)) - BaseBatch)) -- committed
    uncommitted.foreach { id =>
      val vDir = new org.apache.hadoop.fs.Path(
        s"${versionsPath(outDir)}/batch=$id")
      val dDir = new org.apache.hadoop.fs.Path(
        s"${deltaPath(outDir)}/batch=$id")
      val age = Seq(vDir, dDir).filter(fs.exists)
        .map(p => now - fs.getFileStatus(p).getModificationTime)
        .foldLeft(Long.MaxValue)(math.min)
      val ok = new org.apache.hadoop.fs.Path(vDir, "_SUCCESS")
      // ONE marker observation decides both halves (a second look after
      // deleting vDir would be vacuously "absent" — the marker lived
      // inside it). This re-check narrows the commit-vs-GC race to the
      // instant between the observation and the deletes; it cannot
      // close it — no filesystem-only protocol can — which is why the
      // grace window is the real guarantee: correctness requires
      // gcGraceMs > the longest possible commit duration, same contract
      // as Iceberg's orphan-file retention vs job runtime.
      if (age >= gcGraceMs && !fs.exists(ok)) {
        if (fs.exists(vDir)) fs.delete(vDir, true)
        if (fs.exists(dDir)) fs.delete(dDir, true)
      }
    }
    for (root <- Seq(deltaPath(outDir), versionsPath(outDir))) {
      val p = new org.apache.hadoop.fs.Path(root)
      if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, true)
    }

    // fold COMMITTED state only — an uncommitted batch still inside its
    // grace window neither marks buckets affected nor loses its dirs
    val affected = bucketsUnder(deltaPath(outDir), committed) ++
      bucketsUnder(versionsPath(outDir), committed)
    if (affected.isEmpty) return Set.empty
    val t0 = System.currentTimeMillis()

    // the kill-horizon aggregate reads only (url, seq, bucket) columns
    // of base+delta+versions — independent of the staged writes below,
    // so it runs on a driver thread OVERLAPPING them (guide §2.6); its
    // result is awaited before the raise, which still happens strictly
    // BEFORE the fold commits (crash ⇒ over-reject, never silent wrong
    // time travel); folds that remove no row — append-only batches —
    // leave the floor untouched
    val killF = {
      import scala.concurrent.Future
      import scala.concurrent.ExecutionContext.Implicits.global
      Future(foldKillHorizonMs(spark, outDir, affected, committed))
    }

    // repartition by bucket: compaction's whole point is few large
    // files per bucket — one output partition per bucket (B is sized so
    // a bucket fits a task). healFold (not dropDuplicates) collapses
    // crash-half-commit double counts while preserving legitimate
    // duplicate-row multiplicity.
    val resolved = healFold(
      readTriplesWithSeqOriginOpt(spark, outDir, Some(committed))
        .getOrElse(sys.error(s"no triple data under $outDir"))
        .filter(col("bucket").isin(affected.toSeq: _*)))
      .repartition(col("bucket"))
    val staging = stagingPath(outDir)
    resolved.write.mode(SaveMode.Overwrite).partitionBy("bucket")
      .parquet(s"$staging/data")
    readVersions(spark, outDir, affected, Some(committed))
      .withColumn("batch", lit(BaseBatch))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("batch", "bucket")
      .parquet(s"$staging/versions")

    raiseHorizonMs(spark, outDir, {
      import scala.concurrent.Await
      import scala.concurrent.duration.Duration
      Await.result(killF, Duration.Inf)
    })

    commitStaged(spark, outDir, affected, committed)
    appendLineage(spark, outDir, "compact", affected, t0,
      System.currentTimeMillis())
    affected
  }

  /** J6-analog (doi→docs lookup, cprex/corpus/corpus.py:114-134): fetch
    * one url's triples via partition pruning — the bucket predicate is
    * computable from the url, so the scan touches exactly one bucket
    * directory (PartitionFilters in the plan; asserted in ResumeSpec).
    * At 10^12 rows with B=10^5 buckets this reads 1/B of the table.
    * B comes from the table's own metadata (never caller-supplied: a
    * mismatched B would prune to the wrong partition and silently
    * return zero rows).
    */
  def readTriplesForUrl(spark: SparkSession, outDir: String, url: String): DataFrame = {
    val buckets = tableBuckets(spark, outDir)
    readTriples(spark, outDir)
      .filter(col("bucket") === pmod(hash(lit(url)), lit(buckets)) &&
        col("url") === url)
  }

  val StageLinked = "linked"
  val StageEntities = "entities"

  /** Content hash of the dictionary the entity table was built from —
    * recorded in entities/table_meta.json so an unchanged dict skips
    * the full CC rebuild on resume.
    */
  private def dictHash(dict: Array[graft.model.ChemDictEntry]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    dict.sortBy(_.cid).foreach { e =>
      md.update((e.cid.toString + "|" + e.canonicalName + "|" +
        e.synonyms.mkString(",") + "|" + e.molecularFormula + "|" +
        e.molecularWeight + "|" + e.canonicalSmiles + "|" + e.iupacName + "\n")
        .getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def entitiesMetaPath(outDir: String) = s"$outDir/$StageEntities/table_meta.json"

  private def entitiesUpToDate(spark: SparkSession, outDir: String, hash: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(entitiesMetaPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) false
    else {
      val in = fs.open(path)
      val s = scala.io.Source.fromInputStream(in).mkString
      in.close()
      s.contains(s""""dict_hash":"$hash"""")
    }
  }

  private def writeEntitiesMeta(spark: SparkSession, outDir: String, hash: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(entitiesMetaPath(outDir))
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(path, true)
    out.write(s"""{"dict_hash":"$hash"}""".getBytes("UTF-8"))
    out.close()
  }

  /** Materialize the full graph: triples + linked triple table +
    * canonical entity table + lineage. ALL three stages are resumable:
    * triples and linked at manifest/bucket granularity (append-only,
    * completed buckets are never re-scanned or re-joined), the entity
    * table by dictionary content hash (an unchanged dict skips the CC
    * loop). A rerun over a fully materialized graph submits NO Spark
    * jobs at all (asserted in ResumeSpec via a job listener).
    */
  def materializeGraph(
      spark: SparkSession,
      pages: Dataset[Page],
      outDir: String,
      buckets: Int = 16,
      onlyBuckets: Option[Set[Int]] = None // test hook: simulate partial run
  ): Unit = {
    import spark.implicits._
    val b = resolveBuckets(spark, outDir, buckets)
    val doneT = completedBuckets(spark, outDir)
    val doneL = completedBucketsAt(spark, s"$outDir/$StageLinked/manifest",
      StageLinked)
    val dHash = dictHash(ChemDict.entries)
    val entitiesDone = entitiesUpToDate(spark, outDir, dHash)
    val only: Set[Int] = onlyBuckets.getOrElse((0 until b).toSet)
    val remainingT = (only -- doneT)
    val remainingL = (only -- doneL)
    if (remainingT.isEmpty && remainingL.isEmpty && entitiesDone) return

    Scope(spark) { implicit scope =>
      // ONE NER pass: the annotated sentence table feeds both the triple
      // write and the linking join — and only when some stage needs it
      lazy val sents = scope.persist(Pipeline.annotate(Pipeline.sentences(pages),
        ChemDict.entries.flatMap(_.synonyms)))
      if (remainingT.nonEmpty) {
        val todo = sents
          .withColumn("bucket", pmod(hash(col("url")), lit(b)))
          .filter(col("bucket").isin(remainingT.toSeq: _*))
          .drop("bucket").as[Sentence]
        // seq=0 for the same schema-uniformity invariant as runResumable
        appendBucketedWithManifest(spark,
          Pipeline.triples(todo).toDF().withColumn("seq", lit(0L)), b,
          s"$outDir/$StageTriples", StageTriples, remainingT)
      }
      if (remainingL.nonEmpty) {
        // link ONLY the still-unlinked buckets' triples; the A1 gate +
        // dict join (surface links) is corpus-global, computed from the
        // full annotated table as always
        val todo = readTriples(spark, outDir)
          .filter(col("bucket").isin(remainingL.toSeq: _*))
          .drop("bucket").as[Triple]
        val linked = Linking.linkTriples(todo, sents, ChemDict.entries)
        appendBucketedWithManifest(spark, linked, b,
          s"$outDir/$StageLinked", StageLinked, remainingL)
      }
      if (!entitiesDone) {
        Canonicalize.entityTable(spark, ChemDict.entries)
          .write.mode(SaveMode.Overwrite).parquet(s"$outDir/$StageEntities/data")
        writeEntitiesMeta(spark, outDir, dHash)
      }
    }
  }
}
