package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite with ScopePerTest {

  private lazy val spark = SparkSpec.spark
  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet").cache()

  test("exact dedup: groups partition the table; survivors unique by text") {
    val groups = Dedup.exactGroups(docs)
    val total = groups.agg(sum("n_dups")).collect()(0).getLong(0)
    assert(total == docs.count())
    val survivors = Dedup.exactSurvivors(docs)
    assert(survivors.count() == groups.count())
    assert(survivors.select(md5(col("text"))).distinct().count() == survivors.count())
  }

  test("minhash pairs: symmetric-free, verified above threshold") {
    import spark.implicits._
    val pairs = Dedup.minhashPairs(docs, threshold = 0.5).cache()
    val rows = pairs.as[(Long, Long)].collect()
    assert(rows.forall { case (a, b) => a < b })
    // spot-verify: every emitted pair really clears the Jaccard threshold
    val texts = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toMap
    rows.take(50).foreach { case (a, b) =>
      assert(Dedup.ngramJaccard(texts(a), texts(b)) >= 0.5)
    }
    // exact duplicates (if any) must be found by minhash too
    val exactDupPairs = docs.as[(Long, String, String, String, Long)]
      .collect().groupBy(_._2).values.filter(_.length > 1)
      .flatMap(g => g.map(_._1).sorted.combinations(2).map(p => (p(0), p(1))))
      .toSet
    val found = rows.toSet
    assert(exactDupPairs.subsetOf(found),
      s"exact dups missed by minhash: ${(exactDupPairs -- found).take(3)}")
  }

  test("minhash clusters: cluster id is min member; exact dups co-clustered") {
    import spark.implicits._
    val clusters = Dedup.minhashClusters(docs, threshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(clusters.size == docs.count())
    clusters.groupBy(_._2).foreach { case (c, members) =>
      assert(c == members.keys.min)
    }
  }

  test("jaccard prefix-filter join is EXACT: equals brute-force all-pairs") {
    import spark.implicits._
    val texts = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().toMap
    val ids = texts.keys.toArray.sorted
    def brute(t: Double): Set[(Long, Long)] =
      (for {
        i <- ids.indices.iterator
        j <- (i + 1) until ids.length
        if Dedup.ngramJaccard(texts(ids(i)), texts(ids(j))) >= t
      } yield (ids(i), ids(j))).toSet
    for (t <- Seq(0.5, 0.8)) {
      val got = Dedup.jaccardPairs(docs, threshold = t).as[(Long, Long)].collect().toSet
      val want = brute(t)
      assert(got == want,
        s"t=$t missed=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
      assert(want.nonEmpty || t > 0.5) // fixture has real near-dups at 0.5
    }
  }

  test("jaccard boundary exactness: J exactly at threshold survives double rounding") {
    import spark.implicits._
    // doc 2's 4 shingles nest inside doc 1's 5: J = 4/5 = 0.8 exactly,
    // while double(0.8)*5 = 4.000000000000000444 — without the Eps slack
    // the candidate-stage length filter pruned this TRUE pair
    // (sz_b >= t*sz_a read 4 >= 4.0000000000000004) even though the
    // final exact verify would have passed it
    val pair = Seq(
      (1L, "a b c d e f g"), // shingles: abc bcd cde def efg (5)
      (2L, "a b c d e f") // shingles: abc bcd cde def (4, all in doc 1)
    ).toDF("doc_id", "text")
    assert(Dedup.ngramJaccard("a b c d e f g", "a b c d e f") == 0.8)
    val got = Dedup.jaccardPairs(pair, threshold = 0.8).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 2L)))
  }

  test("jaccard prefix filter prunes: indexed rows < total shingle rows") {
    val total = Dedup.shingleRows(docs).count()
    // the operator's own prefix selection, reproduced for the assertion
    val sh = Dedup.shingleRows(docs)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("dfreq"))
    val pref = sh.join(dfreq, Seq("sh"))
      .withColumn("rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("dfreq"), col("sh"))))
      .filter(col("rk") <= col("set_size") - ceil(lit(0.7) * col("set_size")) + 1)
      .count()
    assert(pref < total / 2, s"prefix kept $pref of $total shingle rows")
  }

  test("jaccard non-broadcast path returns identical pairs") {
    import spark.implicits._
    val bc = Dedup.jaccardPairs(docs, threshold = 0.5).as[(Long, Long)].collect().toSet
    val nb = Dedup.jaccardPairs(docs, threshold = 0.5, useBroadcast = false)
      .as[(Long, Long)].collect().toSet
    assert(bc == nb)
  }

  test("simhash: identical text -> distance 0; pairs verified") {
    assert(Dedup.hamming64(Dedup.simhash64("the same text"), Dedup.simhash64("the same text")) == 0)
    val d = Dedup.hamming64(
      Dedup.simhash64("the quick brown fox jumps over the lazy dog in the yard today"),
      Dedup.simhash64("the quick brown fox jumps over the lazy dog in the yard tonight"))
    assert(d <= 16, s"one-word edit moved simhash by $d bits")
    import spark.implicits._
    val pairs = Dedup.simhashPairs(docs, maxHamming = 3).as[(Long, Long)].collect()
    assert(pairs.forall { case (a, b) => a < b })
  }

  test("planted exact + perturbed embedding dups: multi-probe recalls the near-dups") {
    import spark.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val enlarged = Dedup.plantNearDups(emb)
    // planted perturbed vectors really are NEAR-dups, not exact: cosine
    // strictly < 1 but >= 0.95 (the sign-LSH stress case)
    val baseVecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val pertVecs = enlarged.filter(col("vec_id") >= 2000000L)
      .select(col("vec_id") - 2000000L, col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    pertVecs.foreach { case (id, vp) =>
      val v = baseVecs(id)
      val dot = v.zip(vp).map { case (x, y) => x.toDouble * y }.sum
      val cos = dot / (math.sqrt(v.map(x => x.toDouble * x).sum) *
        math.sqrt(vp.map(x => x.toDouble * x).sum))
      assert(cos >= 0.95 && cos < 0.9999, s"vec $id: planted cosine $cos not a near-dup")
    }

    val found = Dedup.embeddingPairs(enlarged, threshold = 0.95)
      .as[(Long, Long)].collect().toSet
    val exactExpected = emb.filter(col("vec_id") % 50 === 0)
      .select("vec_id").as[Long].collect().map(id => (id, id + 1000000L)).toSet
    val pertExpected = emb.filter(col("vec_id") % 50 === 25)
      .select("vec_id").as[Long].collect().map(id => (id, id + 2000000L)).toSet
    assert(exactExpected.nonEmpty && pertExpected.nonEmpty)
    // exact dups share their bucket — all found
    assert(exactExpected.subsetOf(found),
      s"exact dups missed: ${(exactExpected -- found).take(3)}")
    // no pair outside the planted sets (base corpus has no natural >=0.95)
    assert((found -- exactExpected -- pertExpected).isEmpty,
      s"spurious: ${(found -- exactExpected -- pertExpected).take(3)}")
    // 1-bit-flip multi-probe earns its keep on the perturbed plants:
    // strictly better recall than exact-bucket-only blocking, and high
    // absolute recall (deterministic given the fixed testdata)
    val recall = pertExpected.count(found).toDouble / pertExpected.size
    val foundNoProbe = Dedup.embeddingPairs(enlarged, threshold = 0.95, multiProbe = false)
      .as[(Long, Long)].collect().toSet
    val recallNoProbe = pertExpected.count(foundNoProbe).toDouble / pertExpected.size
    assert(recall >= recallNoProbe, s"multi-probe $recall < exact-bucket $recallNoProbe")
    assert(recall >= 0.8, s"multi-probe recall $recall (exact-bucket-only: $recallNoProbe)")
  }

  test("broadcast-free verification (useBroadcast=false) yields identical pairs with no broadcast") {
    import spark.implicits._
    val conf = spark.conf
    val saved = conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val a = Dedup.minhashPairs(docs, threshold = 0.5)
        .as[(Long, Long)].collect().toSet
      val bDf = Dedup.minhashPairs(docs, threshold = 0.5, useBroadcast = false)
      val b = bDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(a == b, s"minhash rows differ: ${(a -- b).take(3)} / ${(b -- a).take(3)}")
      val emb = Dedup.plantNearDups(
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet"))
      val pa = Dedup.embeddingPairs(emb, threshold = 0.95)
        .as[(Long, Long)].collect().toSet
      val pbDf = Dedup.embeddingPairs(emb, threshold = 0.95, useBroadcast = false)
      val pb = pbDf.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pa == pb, s"embedding rows differ: ${(pa -- pb).take(3)} / ${(pb -- pa).take(3)}")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("embedding near-dup pairs verified by exact cosine") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val pairs = Dedup.embeddingPairs(emb, threshold = 0.99)
    // verify a sample against a direct cosine computation
    import spark.implicits._
    val sample = pairs.limit(20).as[(Long, Long)].collect()
    if (sample.nonEmpty) {
      val vecs = emb.select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toMap
      sample.foreach { case (a, b) =>
        val (va, vb) = (vecs(a), vecs(b))
        val dot = va.zip(vb).map { case (x, y) => x.toDouble * y }.sum
        val cos = dot / (math.sqrt(va.map(x => x.toDouble * x).sum) *
          math.sqrt(vb.map(x => x.toDouble * x).sum))
        assert(cos >= 0.99 - 1e-9)
      }
    }
  }
}
