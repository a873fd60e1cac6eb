package graft

import graft.operators.{Dedup, IncrDedup, Linking, Similarity}
import graft.plans.{Materialize, Pipeline, Scope}
import graft.sources.{ChemDict, PageGen}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark main (driver contract): runs the headline workloads at
  * SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS and prints ONE JSON line.
  *
  * Headlines:
  *  - kg_pipeline: the full page→triple dataflow (the BASELINE.json
  *    metric is triples/sec — reported as `triples_per_sec`)
  *  - kg_linked: pipeline + A1 gate + broadcast linking join
  *  - dedup_minhash / ann_brute: training-data ops on driver tables
  *  - q1_agg / q2_join / q7_events_window: relational analogs
  */
object Bench {

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Noise-proofed measurement (same methodology as ScalingBench): each
    * query runs `Rounds` times in INTERLEAVED order (q1..qn, q1..qn, …)
    * and reports its per-query MINIMUM (headline) plus MEDIAN and
    * spread ((max-min)/min) — a noisy epoch of this shared VM inflates
    * one round, not one query, so the min is robust, and the median
    * makes the artifact self-certifying when a round is noisy (round-3
    * review: one epoch showed 67x spread; min/median together let a
    * reader adjudicate without a rerun).
    */
  val Rounds = 5

  final case class Result(best: Map[String, Double], median: Map[String, Double],
      spread: Map[String, Double], nTriples: Long, nPages: Long)

  def run(spark: SparkSession, sfDir: String): Result = {
    val nPages = PageGen.numPagesFor(sfDir)
    val names = ChemDict.entries.flatMap(_.synonyms)
    var nTriples = 0L

    // kg_incremental state: the table bootstraps on the (discarded)
    // warmup call; each measured round applies a FRESH 1% re-crawl
    // batch (ts strictly increasing per round so latest-wins always
    // applies — a repeated batch would be a stale no-op and measure
    // nothing)
    val incrDir = java.nio.file.Files.createTempDirectory("graft-bench-incr").toString
    var incrRound = 0

    // dedup_incr state: the seen-corpus band index (and, for the
    // sidecar-verified variant, the shingle-hash sidecar), built once
    // on the discarded warmup round (a deployment reads both from rest)
    var incrDedupIdx: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = null
    var incrDedupShs: org.apache.spark.sql.DataFrame = null

    // release_incr state: the at-rest release index, built once on the
    // discarded warmup round (a deployment reads it from rest)
    var relIdx: graft.operators.Release.Index = null

    // warc_read state: Common-Crawl-layout shards written once on the
    // discarded warmup round (ingest reads at-rest crawl output)
    var warcDir: String = null

    // warc_read_few / warc_read_cdx state: the SAME corpus as 2 big
    // shards + CDX — the splittability pair (big shards, fewer files
    // than cores — the CC situation where 1-GB shards outnumber by
    // cores: the file-unit reader is parallelism-starved at 2 tasks,
    // the CDX range reader fans the same bytes over all cores)
    var warcFewDir: String = null
    def ensureWarcFew(): String = {
      if (warcFewDir == null) {
        warcFewDir = java.nio.file.Files
          .createTempDirectory("graft-bench-warcfew").toString
        graft.sources.Warc.writeWithCdx(
          PageGen.pages(spark, nPages).toDF().repartition(2),
          s"$warcFewDir/warc", s"$warcFewDir/cdx")
      }
      warcFewDir
    }

    // kg_compact state: its own MoR table, bootstrapped on the
    // discarded warmup round; each measured round = 3 re-crawl deltas
    // + the compaction fold (the maintenance cycle a deployment pays)
    val compactDir = java.nio.file.Files
      .createTempDirectory("graft-bench-compact").toString
    var compactRound = 0

    // at-rest index state built on the warmup round lives in this scope
    // for the whole run; each query's own caches live in a per-call
    // scope closed after its action
    val held = new Scope(spark)

    val thunks: Seq[(String, Scope => Unit)] = Seq(
      "kg_pipeline" -> (implicit sc => {
        nTriples = Pipeline.run(PageGen.pages(spark, nPages)).count()
      }),
      "wet_write" -> (implicit sc => {
        // corpus-export throughput: the released-text sink (WET
        // conversion-record shards, gzip member per record) — pairs
        // with warc_read to bracket the ingest/export story
        val out = java.nio.file.Files
          .createTempDirectory("graft-bench-wet").toString
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(
            concat(lit("https://wet.example/doc/"), col("doc_id")).as("url"),
            (lit(1700000000L) + col("doc_id")).cast("timestamp").as("warc_ts"),
            col("text"))
        graft.sources.Warc.writeWet(
          docs.repartition(spark.sparkContext.defaultParallelism), out); ()
      }),
      "warc_read" -> (implicit sc => {
        // S1 ingest throughput: stream-parse every gzip-per-record WARC
        // shard (one task per shard, the format's parallelism unit) and
        // touch every parsed byte via the length sum
        if (warcDir == null) {
          warcDir = java.nio.file.Files
            .createTempDirectory("graft-bench-warc").toString
          graft.sources.Warc.write(
            PageGen.pages(spark, nPages).toDF()
              .repartition(spark.sparkContext.defaultParallelism), warcDir)
        }
        graft.sources.Warc.read(spark, s"$warcDir/*.warc.gz")
          .agg(count(lit(1)), sum(length(col("html")))).collect(); ()
      }),
      "warc_read_few" -> (implicit sc => {
        // splittability baseline: 2 big shards at file granularity —
        // 2 tasks regardless of cores (the gzip format's own limit)
        val d = ensureWarcFew()
        graft.sources.Warc.read(spark, s"$d/warc/*.warc.gz")
          .agg(count(lit(1)), sum(length(col("html")))).collect(); ()
      }),
      "warc_read_cdx" -> (implicit sc => {
        // the same 2 shards via the CDX range reader: (file,
        // offset/1MiB) buckets spread members across all cores —
        // sub-file splits the format alone cannot offer (r4 task #7)
        val d = ensureWarcFew()
        graft.sources.Warc.fetchRecords(
          spark.read.parquet(s"$d/cdx"), splitBytes = 1L << 20)
          .agg(count(lit(1)), sum(length(col("html")))).collect(); ()
      }),
      "kg_linked" -> (implicit sc => {
        val ann = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, nPages)), names)
        Linking.linkTriplesFused(ann, ChemDict.entries).count(); ()
      }),
      "kg_entities_linked" -> (implicit sc => {
        // J2 strict per-mention back-attachment, fused single-pass
        val ann = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, nPages)), names)
        Linking.attachToMentions(ann, ChemDict.entries).count(); ()
      }),
      "dedup_minhash" -> (implicit sc => {
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        Dedup.minhashPairs(docs, threshold = 0.5).count(); ()
      }),
      "dedup_incr" -> (implicit sc => {
        // the per-crawl marginal cost: delta (10%) deduped against the
        // persisted seen-corpus band index — the number a 10^12-doc
        // deployment pays per crawl, vs dedup_minhash's full-batch
        // rerun of the same decision. Index builds once (the discarded
        // warmup round) and persists, exactly like the at-rest index a
        // real deployment reads instead of recomputing.
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val corpus = docs.filter(col("doc_id") % 10 =!= 7)
        val delta = docs.filter(col("doc_id") % 10 === 7)
        if (incrDedupIdx == null) {
          val b = held.persist(IncrDedup.bandIndex(corpus))
          val c = held.persist(IncrDedup.bucketCounts(b))
          b.count(); c.count()
          incrDedupIdx = (b, c)
        }
        val pairs = IncrDedup.incrementalPairs(
          incrDedupIdx._1, incrDedupIdx._2, corpus, delta, threshold = 0.5)
        IncrDedup.survivors(delta, pairs).count(); ()
      }),
      "dedup_incr_idx" -> (implicit sc => {
        // the same crawl job verified off the int-only shingle sidecar:
        // NO corpus text input at all — the at-10^12-docs shape, where
        // re-reading corpus (id, text) per crawl is the cost that
        // dominates dedup_incr. Sidecar persists from warmup like the
        // band index (at rest in a deployment).
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val corpus = docs.filter(col("doc_id") % 10 =!= 7)
        val delta = docs.filter(col("doc_id") % 10 === 7)
        if (incrDedupIdx == null) {
          val b = held.persist(IncrDedup.bandIndex(corpus))
          val c = held.persist(IncrDedup.bucketCounts(b))
          b.count(); c.count()
          incrDedupIdx = (b, c)
        }
        if (incrDedupShs == null) {
          incrDedupShs = held.persist(IncrDedup.shingleSidecar(corpus))
          incrDedupShs.count()
        }
        val pairs = IncrDedup.incrementalPairsFromIndex(
          incrDedupIdx._1, incrDedupIdx._2, incrDedupShs, delta, threshold = 0.5)
        IncrDedup.survivors(delta, pairs).count(); ()
      }),
      "dedup_jaccard" -> (implicit sc => {
        // the EXACT near-dup path (prefix-filtered all-pairs) — tracked
        // next to the probabilistic minhash path it cross-checks
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        Dedup.jaccardPairs(docs, threshold = 0.5).count(); ()
      }),
      "kg_render" -> (implicit sc => {
        // displacy render: annotate + per-row HTML assembly + the
        // zero-shuffle contiguous title lag (pipeline layout)
        val ann = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, nPages)), names)
        graft.operators.Render.htmlContiguous(ann).count(); ()
      }),
      "dedup_embedding" -> (implicit sc => {
        // the bucketed near-dup scale path (multi-probe sign-LSH)
        val emb = Dedup.plantNearDups(spark.read.parquet(s"$sfDir/embeddings.parquet"))
        Dedup.embeddingPairs(emb, threshold = 0.95).count(); ()
      }),
      "semdedup" -> (implicit sc => {
        // cluster-scoped semantic dedup: Lloyd train + assign +
        // within-cell exact-cosine pairs + CC survivor rule
        val raw = spark.read.parquet(s"$sfDir/embeddings.parquet")
        graft.operators.SemDedup.survivors(
          Dedup.plantNearDups(raw), Similarity.ivfCentroids(raw, 16), 0.95).count(); ()
      }),
      "ann_brute" -> (implicit sc => {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        Similarity.bruteForceTopK(emb, emb.orderBy("vec_id").limit(20), 10).count(); ()
      }),
      "ann_lsh" -> (implicit sc => {
        // the bucketed ANN scale path — regression-tracked next to brute
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        Similarity.lshTopK(emb, emb.orderBy("vec_id").limit(20), 10).count(); ()
      }),
      "ann_ivf" -> (implicit sc => {
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        Similarity.ivfTopK(emb, emb.orderBy("vec_id").limit(20), 10).count(); ()
      }),
      "ann_pq" -> (implicit sc => {
        // the memory-bound path: train + encode + ADC scan + exact
        // rerank of the c=100 shortlist
        val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
        val cbs = graft.operators.Pq.codebooks(emb, 8, 16)
        graft.operators.Pq.topKReranked(emb,
          emb.orderBy("vec_id").limit(20), 10, 100, cbs,
          graft.operators.Pq.encode(emb, cbs)).count(); ()
      }),
      "kg_incremental" -> (implicit sc => {
        import spark.implicits._
        if (incrRound == 0)
          Materialize.runResumable(spark, PageGen.pages(spark, nPages), incrDir, 32)
        incrRound += 1
        val r = incrRound
        val deltaN = math.max(nPages / 100L, 1L)
        val batch = spark.range(0L, deltaN).map { i =>
          val orig = PageGen.genPage(i).page
          val alt = PageGen.genPage(i + 100000L + 1000L * r).page
          alt.copy(url = orig.url, warc_ts = new java.sql.Timestamp(
            orig.warc_ts.getTime + r * 86400000L))
        }
        // merge-on-read: the strategy that stays O(delta) when the
        // re-crawl scatters across all buckets (a COW rewrite of the
        // same batch measured 10.8s — the whole table)
        Materialize.incrementalUpdate(spark, batch, incrDir, 32,
          mergeOnRead = true); ()
      }),
      "kg_compact" -> (implicit sc => {
        // the MoR maintenance cycle, measured end to end: 3 re-crawl
        // deltas land merge-on-read, then compact() folds them (and
        // any tombstones) back into the base buckets — the cost that
        // keeps the read path O(base) between crawls (r4 task #8).
        // ts strictly increases across rounds so latest-wins applies.
        import spark.implicits._
        if (compactRound == 0)
          Materialize.runResumable(spark, PageGen.pages(spark, nPages), compactDir, 32)
        compactRound += 1
        val r = compactRound
        val deltaN = math.max(nPages / 100L, 1L)
        for (k <- 0 until 3) {
          val step = 3L * r + k
          val batch = spark.range(0L, deltaN).map { i =>
            val orig = PageGen.genPage(i).page
            val alt = PageGen.genPage(i + 500000L + 1000L * step).page
            alt.copy(url = orig.url, warc_ts = new java.sql.Timestamp(
              orig.warc_ts.getTime + (step + 1) * 3600000L))
          }
          Materialize.incrementalUpdate(spark, batch, compactDir, 32,
            mergeOnRead = true)
        }
        Materialize.compact(spark, compactDir); ()
      }),
      "release_incr" -> (implicit sc => {
        // the INCREMENTAL release: one crawl delta (doc_id%10==9)
        // through the gates against the at-rest index (seen exact
        // hashes + band index + shingle sidecar + bench set), all
        // persisted from the warmup round like the dedup_incr indexes —
        // measured per-crawl cost excludes the one-time bootstrap and
        // reads NO seen text
        val docs = SparkEntry.releaseFixture(
          spark.read.parquet(s"$sfDir/documents.parquet"))
        if (relIdx == null) {
          val idx = graft.operators.Release.buildIndex(
            docs.filter(col("doc_id") % 10 =!= 9))
          relIdx = graft.operators.Release.Index(
            held.persist(idx.exactHashes), held.persist(idx.bands),
            held.persist(idx.counts), held.persist(idx.shingles),
            held.persist(idx.bench))
          relIdx.exactHashes.count(); relIdx.bands.count()
          relIdx.counts.count(); relIdx.shingles.count(); relIdx.bench.count()
        }
        val delta = docs.filter(col("doc_id") % 10 === 9)
        graft.operators.Release.incrementalLedger(delta, relIdx).count(); ()
      }),
      "corpus_release" -> (implicit sc => {
        // the composed end-to-end release build (langid/quality/
        // repetition gates + PII redaction in ONE projection → exact
        // dedup → minhash near-dup → 8-gram decontam) over the planted
        // fixture derivation — the flagship training-data workload;
        // measures the full chain including the attrition ledger joins
        val docs = SparkEntry.releaseFixture(
          spark.read.parquet(s"$sfDir/documents.parquet"))
        graft.operators.Release.ledger(docs).count(); ()
      }),
      "decontam" -> (implicit sc => {
        // eval-leakage sweep: corpus-pass gram hashing + broadcast join
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.Decontaminate.overlap(
          docs.filter(col("doc_id") % 20 =!= 7),
          docs.filter(col("doc_id") % 20 === 7)
            .select(col("doc_id").as("bench_id"), col("text"))).count(); ()
      }),
      "search_bm25" -> (implicit sc => {
        // lexical top-k: postings build (one agg, persisted once per
        // run) + broadcast query scoring + per-query rank windows
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.Search.bm25TopK(
          docs, Seq(1 -> Seq("dup", "hash", "join"),
            2 -> Seq("merge", "sort", "window")), k = 10).count(); ()
      }),
      "pack_chunks" -> (implicit sc => {
        // context-length packing manifest: per-shard window cumsum +
        // slice explode (the one-exchange path)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.Packing.concatChunkSlices(
          docs.select(col("doc_id"),
            graft.operators.TextStats.wsTokenCount(col("text")).as("n_tokens")),
          ctxLen = 64, nShards = 32).count(); ()
      }),
      "span_dedup" -> (implicit sc => {
        // ExactSubstr: persisted window pass + flag agg + broadcast
        // rewrite; agg forces the UDF projection (count would prune it)
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        graft.operators.SpanDedup.removeDupSpans(docs, k = 8)
          .agg(sum(length(col("clean_text")))).collect(); ()
      }),
      "line_dedup" -> (implicit sc => {
        // CCNet-style line-level boilerplate strike: two (hash, doc)
        // aggs + bounded blocklist collect + zero-exchange rewrite.
        // The agg over length() forces the rewrite projection — a bare
        // count() would prune the deterministic UDF column away.
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
          .withColumn("text", concat_ws("\n", col("text"),
            concat(lit("subscribe to our newsletter "),
              (col("doc_id") % 3).cast("string")),
            concat(lit("copyright footer "),
              (col("doc_id") % 50).cast("string")),
            concat(lit("doc footnote "), col("doc_id").cast("string"))))
        graft.operators.Lines.removeBoilerplate(docs, maxDocFreq = 50)
          .agg(sum(length(col("clean_text")))).collect(); ()
      }),
      "sample_mixture" -> (implicit sc => {
        // data-recipe realization: broadcast weights + copy explode
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        val w = (0 until 20).map(i => s"src$i" -> (i % 4 match {
          case 0 => 2.5; case 1 => 1.0; case 2 => 0.5; case _ => 0.125
        })).toMap
        graft.operators.Sampling.sampleMixture(docs, w).count(); ()
      }),
      "bpe_tokenize" -> (implicit sc => {
        // tokenizer fit (one agg + driver merge loop) + zero-exchange
        // corpus encode
        import graft.operators.Bpe
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        val merges = Bpe.train(d.filter(col("doc_id") % 7 === 3), 40)
        Bpe.encodePieces(d, merges).count(); ()
      }),
      "kg_pagerank" -> (implicit sc => {
        // post-materialize graph analytics: fused linking pass → arc
        // derivation → 5 fixed-point power iterations (long-keyed
        // joins + integer sums only)
        import graft.operators.Graph
        val ann = Pipeline.annotate(Pipeline.sentences(PageGen.pages(spark, nPages)), names)
        val edges = Graph.propertyEdges(Linking.linkTriplesFused(ann, ChemDict.entries))
        Graph.pageRank(edges).count(); ()
      }),
      "ppl_buckets" -> (implicit sc => {
        // CCNet terciles: LM train + score + exact global rank (range
        // repartition + prefix offsets — no single-partition window)
        import graft.operators.{NgramLm, Ranking}
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        val ref = d.filter(col("doc_id") % 10 === 3)
        Ranking.perplexityBuckets(NgramLm.score(d,
          NgramLm.lmTable(NgramLm.counts(ref), NgramLm.vocabSize(ref)))).count(); ()
      }),
      "nb_classify" -> (implicit sc => {
        // train (one agg over the labeled slice) + broadcast-resolve
        // scoring + argmax window
        import graft.operators.Classify
        val d = spark.read.parquet(s"$sfDir/documents.parquet")
        val tr = d.filter(col("doc_id") % 7 === 3)
        Classify.predict(Classify.score(d,
          Classify.nbTable(Classify.counts(tr), Classify.vocabSize(tr)),
          Classify.priors(tr))).count(); ()
      }),
      "q1_agg" -> (implicit sc => {
        spark.read.parquet(s"$sfDir/lineitem.parquet")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("l_quantity"), count(lit(1))).count(); ()
      }),
      "q2_join" -> (implicit sc => {
        val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
        val part = spark.read.parquet(s"$sfDir/part.parquet")
        li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
          .groupBy("p_brand").agg(count(lit(1))).count(); ()
      }),
      "q7_events_window" -> (implicit sc => {
        spark.read.parquet(s"$sfDir/events.parquet")
          .groupBy(date_trunc("hour", col("ts")), col("event_type"))
          .agg(count(lit(1))).count(); ()
      })
    )

    // one full DISCARDED warmup round first: JIT/codegen must see every
    // query path before any measured round — the small-slice pipeline
    // warmup alone left first-round JIT noise inside the measured min
    for ((_, f) <- thunks) Scope(spark)(f)

    val samples = scala.collection.mutable.Map.empty[String, List[Double]]
    for (_ <- 0 until Rounds; (name, f) <- thunks) {
      val (_, t) = timed(Scope(spark)(f))
      samples(name) = t :: samples.getOrElse(name, Nil)
    }
    val best = samples.map { case (k, ts) => k -> ts.min }.toMap
    val median = samples.map { case (k, ts) => k -> ts.sorted.apply(ts.size / 2) }.toMap
    val spread = samples.map { case (k, ts) => k -> ((ts.max - ts.min) / ts.min) }.toMap
    held.close()
    Result(best, median, spread, nTriples, nPages.toLong)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // JIT/codegen warmup on a small slice so timings measure steady state
    Pipeline.run(PageGen.pages(spark, 100)).count()

    // bracket the measured rounds with the calibrated host probe
    // (ScalingBench.spinOps): min/median/spread expose a TRANSIENT
    // noisy epoch, but a hypervisor cap sustained across the whole run
    // inflates every sample uniformly with a small spread — only an
    // absolute throughput reference distinguishes that from a slow
    // engine. health = worst/best probe; compare probe ops across
    // artifacts to spot a capped run.
    val probeThreads = cpus.toInt
    ScalingBench.spinOps(probeThreads, 500) // JIT the probe loop
    val probe0 = ScalingBench.spinOps(probeThreads, 2000)
    val r = run(spark, sfDir)
    val probe1 = ScalingBench.spinOps(probeThreads, 2000)
    val health = math.min(probe0, probe1).toDouble / math.max(probe0, probe1)
    val total = r.best.values.sum
    val tps = r.nTriples / r.best("kg_pipeline")
    val dps = r.nPages / r.best("kg_pipeline")
    def jmap(m: Map[String, Double]) = m.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${jmap(r.best)},""" +
      s""""sf":"$sfDir","triples":${r.nTriples},"pages":${r.nPages},""" +
      s""""triples_per_sec":$tps,"docs_per_sec":$dps,"cpus":$cpus,""" +
      s""""method":"warm+best-of-${Bench.Rounds}-interleaved",""" +
      s""""median":${jmap(r.median)},"spread":${jmap(r.spread)},""" +
      s""""host_probe_ops":[$probe0,$probe1],"host_health":$health}""")
    spark.stop()
  }
}
