package graft

import graft.operators.Similarity
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()
  private val K = 10

  private lazy val queries = emb.orderBy("vec_id").limit(20).cache()

  /** Cosine similarity of two float vectors as a Column expression —
    * zip_with/aggregate higher-order functions, the executable
    * specification of `Dedup.cosineFloatUdf`'s arithmetic (HOFs are
    * CodegenFallback in Spark, so the scoring paths use the UDF).
    */
  private def cosineCol(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
    val na = sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))
    val nb = sqrt(aggregate(b, lit(0.0d), (acc, x) => acc + x * x))
    dot / (na * nb)
  }

  test("brute-force top-k: k rows per query, ranked by descending cosine") {
    import spark.implicits._
    val res = Similarity.bruteForceTopK(emb, queries, K).cache()
    val perQuery = res.groupBy("query_id").count().as[(Long, Long)].collect()
    assert(perQuery.forall(_._2 == K))
    // ranks are 1..K with non-increasing cosine
    val one = res.filter(col("query_id") === queries.select("vec_id").first().getLong(0))
      .orderBy("rank").select("cosine").as[Double].collect()
    assert(one.zip(one.tail).forall { case (a, b) => a >= b })
  }

  test("brute-force agrees with a driver-side exact computation for one query") {
    import spark.implicits._
    val qid = queries.select("vec_id").first().getLong(0)
    val vecs = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    val qv = vecs(qid)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val expected = vecs.toSeq.filter(_._1 != qid)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(K).map(_._1)
    val got = Similarity.bruteForceTopK(emb, queries, K)
      .filter(col("query_id") === qid).orderBy("rank")
      .select("corpus_id").as[Long].collect().toSeq
    assert(got == expected)
  }

  /** Deterministic CLUSTERED embeddings: 10 murmur-derived centers,
    * 30 members each with small perturbation. (The driver embeddings
    * table is isotropic random noise — verified: intra-label and
    * inter-label mean cosine are both ~0 — so it cannot exercise
    * recall/coherence claims; structure tests use this set instead.)
    */
  private lazy val clustered = {
    import spark.implicits._
    def h(s: String) = scala.util.hashing.MurmurHash3.stringHash(s, 7)
    val dim = 32
    val rows = for {
      c <- 0 until 10
      m <- 0 until 30
    } yield {
      val center = Array.tabulate(dim)(j => (h(s"c:$c:$j").toDouble / Int.MaxValue).toFloat)
      val vec = Array.tabulate(dim)(j =>
        center(j) + 0.05f * (h(s"n:$c:$m:$j").toDouble / Int.MaxValue).toFloat)
      (c * 30L + m, vec, c)
    }
    rows.toDF("vec_id", "embedding", "label").cache()
  }
  private lazy val cQueries = clustered.filter(col("vec_id") % 30 === 0).cache()

  test("LSH ANN: recall@10 vs brute force >= 0.8 on clustered data") {
    import spark.implicits._
    val bf = Similarity.bruteForceTopK(clustered, cQueries, K)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = Similarity.lshTopK(clustered, cQueries, K, bits = 8)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bf.keys.toSeq.map { q =>
      ann.getOrElse(q, Set.empty).intersect(bf(q)).size.toDouble / K
    }
    val mean = recalls.sum / recalls.size
    info(f"ANN mean recall@$K = $mean%.3f over ${recalls.size} queries")
    assert(mean >= 0.8, f"mean recall $mean%.3f too low")
  }

  test("IVF ANN: recall@10 vs brute force >= 0.8 on clustered data; cells partition the corpus") {
    import spark.implicits._
    val cents = Similarity.ivfCentroids(clustered, nlist = 8)
    assert(cents.length == 8)
    // every corpus vector lands in exactly one cell
    val assigned = Similarity.ivfAssign(clustered, cents)
    assert(assigned.count() == clustered.count())
    assert(assigned.select("id").distinct().count() == clustered.count())
    // probing nProbe cells recovers most of the true top-k
    val bf = Similarity.bruteForceTopK(clustered, cQueries, K)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.ivfTopK(clustered, cQueries, K, nlist = 8, nProbe = 3)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalls = bf.keys.toSeq.map { q =>
      ivf.getOrElse(q, Set.empty).intersect(bf(q)).size.toDouble / K
    }
    val mean = recalls.sum / recalls.size
    info(f"IVF mean recall@$K = $mean%.3f over ${recalls.size} queries (nProbe=3/8 cells)")
    assert(mean >= 0.8, f"mean recall $mean%.3f too low")
    // single-cell probing must be cheaper AND lower-or-equal recall:
    // the probe budget is the recall/cost dial
    val ivf1 = Similarity.ivfTopK(clustered, cQueries, K, nlist = 8, nProbe = 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val mean1 = bf.keys.toSeq.map { q =>
      ivf1.getOrElse(q, Set.empty).intersect(bf(q)).size.toDouble / K
    }.sum / recalls.size
    assert(mean1 <= mean + 1e-9)
  }

  test("IVF trained quantizer beats the seeded sample at equal nProbe (Lloyd iterations pay)") {
    import spark.implicits._
    // SKEWED cluster sizes — the case where a seeded sample fails: one
    // dominant cluster (240 members) plus 7 small ones (15 each). The
    // murmur sample lands most seeds in the big cluster, so several
    // small clusters share a cell and nProbe=1 misses them; Lloyd
    // iterations migrate centroids to the occupied regions.
    def h(s: String) = scala.util.hashing.MurmurHash3.stringHash(s, 13)
    val dim = 32
    val sizes = Seq(240, 15, 15, 15, 15, 15, 15, 15)
    val rows = for {
      c <- sizes.indices
      m <- 0 until sizes(c)
    } yield {
      val center = Array.tabulate(dim)(j => (h(s"sc:$c:$j").toDouble / Int.MaxValue).toFloat)
      val vec = Array.tabulate(dim)(j =>
        center(j) + 0.05f * (h(s"sn:$c:$m:$j").toDouble / Int.MaxValue).toFloat)
      (c * 1000L + m, vec, c)
    }
    val skewed = rows.toDF("vec_id", "embedding", "label").cache()
    val sQueries = skewed.filter(col("vec_id") % 1000 < 3).cache()
    val bf = Similarity.bruteForceTopK(skewed, sQueries, K)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recall(cents: Array[(Int, Array[Float])], nProbe: Int): Double = {
      val got = Similarity.ivfTopKWithCentroids(skewed, sQueries, K, cents, nProbe)
        .select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      bf.keys.toSeq.map { q =>
        got.getOrElse(q, Set.empty).intersect(bf(q)).size.toDouble / K
      }.sum / bf.size
    }
    val sampled = Similarity.ivfCentroidsSampled(skewed, nlist = 8)
    val trained = Similarity.ivfCentroidsTrained(skewed, nlist = 8)
    val (rs, rt) = (recall(sampled, 1), recall(trained, 1))
    info(f"recall@$K nProbe=1: sampled=$rs%.3f trained=$rt%.3f")
    assert(rt > rs, f"training did not improve recall: $rt%.3f <= $rs%.3f")
    // training is deterministic at any parallelism (sequential id-order
    // accumulation): two runs produce bit-identical centroids
    val again = Similarity.ivfCentroidsTrained(skewed, nlist = 8)
    trained.zip(again).foreach { case ((c1, v1), (c2, v2)) =>
      assert(c1 == c2 && v1.sameElements(v2), s"centroid $c1 not deterministic")
    }
  }

  test("cosineFloatUdf == cosineCol bit-exactly (random, zero, NaN vectors)") {
    import spark.implicits._
    // no zero vectors here: both forms raise on a zero-norm divisor
    // (the next test). NaN COMPONENTS are in scope (NaN divisor is legal).
    val rnd = new scala.util.Random(11)
    val rows = (0L until 300L).map { i =>
      val dim = 64
      val v: Seq[Float] =
        if (i % 89 == 0) (0 until dim).map(j =>
          if (j == 3) Float.NaN else rnd.nextFloat())
        else (0 until dim).map(_ => (rnd.nextFloat() - 0.5f) * 4f)
      (i, v)
    }.toDF("vec_id", "embedding")
    val paired = rows.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(rows.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .filter(col("ia") < col("ib") && (col("ia") + col("ib")) % 37 === 0)
    val both = paired.select(
      cosineCol(col("va"), col("vb")).as("hof"),
      graft.operators.Dedup.cosineFloatUdf(col("va"), col("vb")).as("udf"))
      .as[(Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (h, u) =>
      assert(java.lang.Double.doubleToLongBits(h) ==
        java.lang.Double.doubleToLongBits(u),
        s"cosine diverged: HOF $h vs UDF $u")
    }
  }

  test("cosineFloatUdf raises on a zero-norm vector, as cosineCol does under ANSI") {
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    def chain(e: Throwable): Seq[String] =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).toSeq
    val zero = Seq(0f, 0f, 0f)
    for (pair <- Seq((zero, Seq(1f, 2f, 3f)), (Seq(1f, 2f, 3f), zero), (zero, zero))) {
      val one = Seq(pair).toDF("va", "vb")
      val ref = intercept[Exception](one.select(cosineCol(col("va"), col("vb"))).collect())
      assert(chain(ref).exists(_.contains("DIVIDE_BY_ZERO")), chain(ref).mkString("\n"))
      val udf = intercept[Exception](
        one.select(graft.operators.Dedup.cosineFloatUdf(col("va"), col("vb"))).collect())
      assert(chain(udf).exists(_.contains("DIVIDE_BY_ZERO")), chain(udf).mkString("\n"))
    }
  }

  test("trainer branch parity: driver Lloyd == distributed Lloyd, bit-exact") {
    // the driver branch must reproduce the distributed trainer's
    // centroids BIT-IDENTICALLY — same sample order, same ascending-id
    // per-cell double accumulation, same (x / n).toFloat mean
    val viaDriver = Similarity.ivfCentroidsTrained(clustered, nlist = 8)
    val viaDistributed = Similarity.ivfCentroidsDistributed(clustered, nlist = 8)
    assert(viaDriver.length == viaDistributed.length)
    viaDriver.zip(viaDistributed).foreach { case ((c1, v1), (c2, v2)) =>
      assert(c1 == c2 && v1.sameElements(v2),
        s"centroid $c1 differs between driver and distributed Lloyd")
    }
  }

  test("label coherence on clustered data: 1-NN shares the label") {
    import spark.implicits._
    val labels = clustered.select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val nn = Similarity.bruteForceTopK(clustered, cQueries, 1)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
    val agree = nn.count { case (q, c) => labels(q) == labels(c) }
    val rate = agree.toDouble / nn.length
    info(f"1-NN label agreement = $rate%.2f")
    assert(rate >= 0.9)
  }
}
