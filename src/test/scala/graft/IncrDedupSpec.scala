package graft

import graft.operators.{Dedup, IncrDedup}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Incremental dedup against the seen-corpus band index: batch-exact
  * pairs, chunking invariance, seen-semantics survivors.
  */
class IncrDedupSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark
  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet").cache()

  private def split(m: Int) = (
    docs.filter(col("doc_id") % 10 =!= m),
    docs.filter(col("doc_id") % 10 === m))

  test("incremental pairs == the delta-touching subset of the batch run") {
    import spark.implicits._
    val (corpus, delta) = split(0)
    val idx = IncrDedup.bandIndex(corpus).cache()
    val got = IncrDedup.incrementalPairs(idx, IncrDedup.bucketCounts(idx),
      corpus, delta, threshold = 0.5).as[(Long, Long)].collect().toSet
    val deltaIds = delta.select(col("doc_id").cast("long")).as[Long]
      .collect().toSet
    val batch: Set[(Long, Long)] = Dedup.minhashPairs(docs, threshold = 0.5)
      .as[(Long, Long)].collect().toSet
    val want = batch.filter { case (a, b) => deltaIds(a) || deltaIds(b) }
    assert(want.exists { case (a, b) => deltaIds(a) && deltaIds(b) },
      "fixture must exercise delta-vs-delta pairs")
    assert(want.exists { case (a, b) => deltaIds(a) ^ deltaIds(b) },
      "fixture must exercise delta-vs-corpus pairs")
    assert(got == want,
      s"missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    idx.unpersist()
  }

  test("chunked deltas (index updated between chunks) emit the same pair union as one shot") {
    import spark.implicits._
    val (corpus, delta) = split(0)
    val oneShotIdx = IncrDedup.bandIndex(corpus).cache()
    val counts0 = IncrDedup.bucketCounts(oneShotIdx)
    val oneShot = IncrDedup.incrementalPairs(oneShotIdx, counts0,
      corpus, delta, threshold = 0.5).as[(Long, Long)].collect().toSet

    val chunk1 = delta.filter(col("doc_id") % 20 === 0)
    val chunk2 = delta.filter(col("doc_id") % 20 === 10)
    assert(chunk1.count() > 0 && chunk2.count() > 0)
    val p1 = IncrDedup.incrementalPairs(oneShotIdx, counts0,
      corpus, chunk1, threshold = 0.5).as[(Long, Long)].collect().toSet
    val (idx2, counts2) = IncrDedup.updatedIndex(oneShotIdx, counts0,
      IncrDedup.bandIndex(chunk1))
    val seenDocs2 = corpus.unionByName(chunk1)
    val p2 = IncrDedup.incrementalPairs(idx2, counts2,
      seenDocs2, chunk2, threshold = 0.5).as[(Long, Long)].collect().toSet
    assert((p1 ++ p2) == oneShot,
      s"missed=${(oneShot -- p1 -- p2).take(3)} extra=${((p1 ++ p2) -- oneShot).take(3)}")
    // the two chunks can never emit the same pair twice: chunk2 pairs
    // always touch a chunk2 id, chunk1 pairs never do
    assert((p1 & p2).isEmpty)
    oneShotIdx.unpersist()
  }

  // crafted 3-doc chain: A (seen) ~ B, B ~ C, but A !~ C at t=0.7 —
  // sliding 20-word windows over a shared vocab, so the Jaccards are
  // exactly 16/20 = 0.8 (adjacent) and 14/22 ≈ 0.64 (two apart)
  private def windowDoc(start: Int): String =
    (start until start + 20).map(i => s"w$i").mkString(" ")

  test("seen-corpus semantics: a near-dup of a DROPPED doc is still dropped; pairs chain through dropped docs") {
    import spark.implicits._
    val a = windowDoc(1) // seen corpus
    val b = windowDoc(3) // crawl 1: J(a,b)=0.8 -> dropped
    val c = windowDoc(5) // crawl 2: J(b,c)=0.8, J(a,c)<0.7 -> must still drop
    assert(Dedup.ngramJaccard(a, b) >= 0.7 && Dedup.ngramJaccard(b, c) >= 0.7)
    assert(Dedup.ngramJaccard(a, c) < 0.7)
    val corpus = Seq((1L, a)).toDF("doc_id", "text")
    val idx0 = IncrDedup.bandIndex(corpus)
    val counts0 = IncrDedup.bucketCounts(idx0)

    val crawl1 = Seq((101L, b)).toDF("doc_id", "text")
    val pairs1 = IncrDedup.incrementalPairs(idx0, counts0, corpus, crawl1,
      threshold = 0.7)
    assert(pairs1.as[(Long, Long)].collect().toSet == Set((1L, 101L)))
    assert(IncrDedup.survivors(crawl1, pairs1).count() == 0) // B dropped

    // B is dropped but SEEN: its bands enter the index anyway
    val (idx1, counts1) = IncrDedup.updatedIndex(idx0, counts0,
      IncrDedup.bandIndex(crawl1))
    val seen1 = corpus.unionByName(crawl1)
    val crawl2 = Seq((201L, c)).toDF("doc_id", "text")
    val pairs2 = IncrDedup.incrementalPairs(idx1, counts1, seen1, crawl2,
      threshold = 0.7)
    // C pairs with the dropped B (not with A), and is dropped for it
    assert(pairs2.as[(Long, Long)].collect().toSet == Set((101L, 201L)))
    assert(IncrDedup.survivors(crawl2, pairs2).count() == 0)
  }

  test("survivors: all-new components keep their min id; singletons survive; seen contact drops the whole component") {
    import spark.implicits._
    val corpus = Seq((1L, windowDoc(1))).toDF("doc_id", "text")
    val idx = IncrDedup.bandIndex(corpus)
    val delta = Seq(
      (301L, windowDoc(100)), (302L, windowDoc(102)), // new near-dup pair
      (303L, windowDoc(200)),                         // singleton
      (304L, windowDoc(3))                            // near-dup of seen A
    ).toDF("doc_id", "text")
    val pairs = IncrDedup.incrementalPairs(idx, IncrDedup.bucketCounts(idx),
      corpus, delta, threshold = 0.7)
    assert(pairs.as[(Long, Long)].collect().toSet == Set((301L, 302L), (1L, 304L)))
    val kept = IncrDedup.survivors(delta, pairs).as[Long].collect().toSet
    assert(kept == Set(301L, 303L))
  }

  test("id-disjointness guard: a delta id colliding with a seen id emits no degenerate self-pair") {
    import spark.implicits._
    // out-of-contract re-crawl under the ORIGINAL id: latest-crawl-wins
    // upstream owns that case; here the engine must not emit (X, X) or
    // break the id_a < id_b invariant
    val t = windowDoc(1)
    val corpus = Seq((5L, t)).toDF("doc_id", "text")
    val idx = IncrDedup.bandIndex(corpus)
    val delta = Seq((5L, t)).toDF("doc_id", "text")
    val pairs = IncrDedup.incrementalPairs(idx, IncrDedup.bucketCounts(idx),
      corpus, delta, threshold = 0.7).as[(Long, Long)].collect()
    assert(pairs.forall { case (a, bb) => a < bb })
    assert(pairs.isEmpty)
  }

  test("disclosed chunking-invariance boundary: a chunk crossing the maxBucket cap admits pairs the one-shot run prunes") {
    import spark.implicits._
    // 120 identical seen docs put every band bucket at occupancy 120;
    // a 10-doc identical delta lands the total at 130 > maxBucket=128,
    // so the ONE-SHOT run prunes the bucket (degenerate-bucket skew
    // guard) and emits nothing...
    val t = windowDoc(1)
    val corpus = (1L to 120L).map(i => (i, t)).toDF("doc_id", "text")
    val idx = IncrDedup.bandIndex(corpus).cache()
    val counts = IncrDedup.bucketCounts(idx)
    val delta = (201L to 210L).map(i => (i, t)).toDF("doc_id", "text")
    val oneShot = IncrDedup.incrementalPairs(idx, counts, corpus, delta,
      threshold = 0.7)
    assert(oneShot.count() == 0)
    // ...but a 5-doc first chunk sees occupancy 125 <= 128 and emits —
    // the documented exception to chunking invariance (prunes are
    // decided against the corpus seen SO FAR; emitted pairs are never
    // retracted)
    val chunk1 = delta.filter(col("doc_id") <= 205)
    val p1 = IncrDedup.incrementalPairs(idx, counts, corpus, chunk1,
      threshold = 0.7)
    assert(p1.count() > 0)
    idx.unpersist()
  }

  test("sidecar path: incrementalPairsFromIndex == incrementalPairs on fixture and a random dup-heavy corpus") {
    import spark.implicits._
    // fixture corpus (natural near-dups at t=0.5)
    val (corpus, delta) = split(0)
    val idx = IncrDedup.bandIndex(corpus).cache()
    val counts = IncrDedup.bucketCounts(idx)
    val shs = IncrDedup.shingleSidecar(corpus).cache()
    val text = IncrDedup.incrementalPairs(idx, counts, corpus, delta,
      threshold = 0.5).as[(Long, Long)].collect().toSet
    val side = IncrDedup.incrementalPairsFromIndex(idx, counts, shs, delta,
      threshold = 0.5).as[(Long, Long)].collect().toSet
    assert(text.nonEmpty && side == text,
      s"missed=${(text -- side).take(3)} extra=${(side -- text).take(3)}")
    idx.unpersist(); shs.unpersist()

    // random dup-heavy corpus: 60 docs over a 12-word vocab, seeded —
    // dense natural near-dups at several set sizes and both thresholds
    val rnd = new scala.util.Random(4242)
    def randDoc(): String =
      (0 until (8 + rnd.nextInt(10))).map(_ => s"v${rnd.nextInt(12)}").mkString(" ")
    val rdocs = (0L until 60L).map(i => (i, randDoc())).toDF("doc_id", "text")
    val rcorpus = rdocs.filter(col("doc_id") % 3 =!= 0)
    val rdelta = rdocs.filter(col("doc_id") % 3 === 0)
    val ridx = IncrDedup.bandIndex(rcorpus).cache()
    val rcounts = IncrDedup.bucketCounts(ridx)
    val rshs = IncrDedup.shingleSidecar(rcorpus).cache()
    for (t <- Seq(0.5, 0.7)) {
      val a = IncrDedup.incrementalPairs(ridx, rcounts, rcorpus, rdelta,
        threshold = t).as[(Long, Long)].collect().toSet
      val b = IncrDedup.incrementalPairsFromIndex(ridx, rcounts, rshs, rdelta,
        threshold = t).as[(Long, Long)].collect().toSet
      assert(b == a, s"t=$t missed=${(a -- b).take(3)} extra=${(b -- a).take(3)}")
    }
    ridx.unpersist(); rshs.unpersist()
  }

  test("sidecar path plan: corpus TEXT appears in no scan — the only text input is the delta") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // fresh UNCACHED read from a COPY of the fixture: the delta slice
    // must show up as a real file scan with its pushed filter — reading
    // the original path would plan-match the suite's cached `docs` and
    // come back as an InMemoryTableScan instead
    val dir = java.nio.file.Files.createTempDirectory("graft-incr-idx").toString
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .write.parquet(s"$dir/docs")
    val fresh = spark.read.parquet(s"$dir/docs")
    val corpus = fresh.filter(col("doc_id") % 10 =!= 0)
    val delta = fresh.filter(col("doc_id") % 10 === 0)
    val idx = IncrDedup.bandIndex(corpus)
    val shs = IncrDedup.shingleSidecar(corpus)
    // materialize index tables to parquet, as at rest: the crawl job
    // must then plan over index files + delta only
    idx.write.parquet(s"$dir/bands")
    IncrDedup.bucketCounts(idx).write.parquet(s"$dir/counts")
    shs.write.parquet(s"$dir/shingles")
    val q = IncrDedup.incrementalPairsFromIndex(
      spark.read.parquet(s"$dir/bands"),
      spark.read.parquet(s"$dir/counts"),
      spark.read.parquet(s"$dir/shingles"),
      delta, threshold = 0.5)
    q.count()
    def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
      case s: QueryStageExec => fileScans(s.plan)
      case f: FileSourceScanExec => f +: p.children.flatMap(fileScans)
      case _ => (p.children ++ p.subqueries).flatMap(fileScans)
    }
    val scans = fileScans(q.queryExecution.executedPlan)
    // the at-rest index tables are genuinely the plan's inputs...
    assert(scans.exists(_.metadata.get("Location").exists(_.contains(s"$dir/shingles"))),
      s"expected shingle-sidecar parquet scan under $dir:\n${scans.mkString("\n")}")
    // ...and every file scan that reads a text column carries the
    // delta's pushed data filter — i.e. it is the DELTA slice of the
    // documents table, never an unfiltered corpus text pass
    val textScans = scans.filter(_.schema.fieldNames.contains("text"))
    assert(textScans.nonEmpty, "delta text scan missing — check is vacuous")
    assert(textScans.forall(_.dataFilters.nonEmpty),
      s"unfiltered corpus text scan in the sidecar plan:\n${textScans.mkString("\n")}")
  }

  test("empty delta and pair-free delta degrade cleanly") {
    import spark.implicits._
    val corpus = Seq((1L, windowDoc(1))).toDF("doc_id", "text")
    val idx = IncrDedup.bandIndex(corpus)
    val counts = IncrDedup.bucketCounts(idx)
    val lonely = Seq((401L, windowDoc(500))).toDF("doc_id", "text")
    val pairs = IncrDedup.incrementalPairs(idx, counts, corpus, lonely,
      threshold = 0.7)
    assert(pairs.count() == 0)
    assert(IncrDedup.survivors(lonely, pairs).as[Long].collect().toSet == Set(401L))
    val empty = lonely.filter(lit(false))
    val pairsE = IncrDedup.incrementalPairs(idx, counts, corpus, empty,
      threshold = 0.7)
    assert(pairsE.count() == 0)
    assert(IncrDedup.survivors(empty, pairsE).count() == 0)
  }
}
