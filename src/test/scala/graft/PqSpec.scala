package graft

import graft.operators.{Pq, Similarity}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: bit-identical training at any parallelism,
  * encode shape, trained-beats-sampled quantization error, recall
  * against exact cosine, partition invariance, and the codes-only
  * (no-raw-vector) exchange discipline.
  */
class PqSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark
  private def emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private val M = 8
  private val Ksub = 16

  test("codebooks are bit-identical at any input layout") {
    def flat(df: DataFrame) =
      Pq.codebooks(df, M, Ksub).map { case (s, c, v) =>
        (s, c, v.map(java.lang.Double.doubleToLongBits).toList)
      }.sortBy(r => (r._1, r._2)).toList
    val a = flat(emb)
    assert(a == flat(emb.repartition(17)))
    assert(a == flat(emb.coalesce(1)))
    assert(a.size == M * Ksub)
  }

  test("encode: m codes per vector, all in range") {
    import spark.implicits._
    val cbs = Pq.codebooks(emb, M, Ksub)
    val codes = Pq.encode(emb, cbs)
    assert(codes.count() == 500L * M)
    val bad = codes.filter(
      org.apache.spark.sql.functions.col("code") < 0 ||
      org.apache.spark.sql.functions.col("code") >= Ksub).count()
    assert(bad == 0)
    val perVec = codes.groupBy("id").count()
      .filter(org.apache.spark.sql.functions.col("count") =!= M).count()
    assert(perVec == 0)
  }

  /** Mean squared quantization error of a codebook set over the
    * normalized corpus (driver-side, corpus is small).
    */
  private def quantError(cbs: Array[(Int, Int, Array[Double])]): Double = {
    import spark.implicits._
    val dsub = cbs.head._3.length
    val bySub = cbs.groupBy(_._1).map { case (s, r) => s -> r.sortBy(_._2).map(_._3) }
    val vecs = emb.select("embedding").as[Array[Float]].collect()
    vecs.map { v =>
      val nv = Pq.normalize(v)
      bySub.map { case (sub, cents) =>
        cents.map { c =>
          var s = 0.0; var j = 0
          while (j < dsub) { val t = nv(sub * dsub + j) - c(j); s += t * t; j += 1 }
          s
        }.min
      }.sum
    }.sum / vecs.length
  }

  test("Lloyd training reduces quantization error over the seeded sample") {
    val sampled = Pq.codebooks(emb, M, Ksub, iters = 0)
    val trained = Pq.codebooks(emb, M, Ksub, iters = Pq.TrainIters)
    val (e0, e1) = (quantError(sampled), quantError(trained))
    assert(e1 < e0, s"trained error $e1 should beat sampled $e0")
  }

  test("recall@10: ADC is quantization-bound; exact rerank recovers it") {
    import spark.implicits._
    val queries = emb.orderBy("vec_id").limit(20)
    val exact = Similarity.bruteForceTopK(emb, queries, 10)
      .select("query_id", "corpus_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def recallOf(df: DataFrame): Double = {
      val got = df.select("query_id", "corpus_id").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      exact.map { case (q, want) =>
        (want intersect got.getOrElse(q, Set.empty)).size.toDouble / want.size
      }.sum / exact.size
    }
    val cbs = Pq.codebooks(emb, M, Ksub)
    val codes = Pq.encode(emb, cbs).cache()
    codes.count()
    // 32-bit codes on near-random 64-dim vectors: ADC alone is
    // quantization-bound (measured ~0.28 here) — the reason the
    // production pattern is shortlist + exact rerank
    val adc = recallOf(Pq.topKWithCodebooks(codes, queries, cbs, 10))
    assert(adc >= 0.2, s"ADC recall collapsed: $adc")
    val reranked = recallOf(Pq.topKReranked(emb, queries, 10, c = 100, cbs, codes))
    assert(reranked >= 0.8, s"reranked recall too low: $reranked")
    assert(reranked > adc, s"rerank must improve on raw ADC: $reranked vs $adc")
    codes.unpersist()
  }

  test("topk is partition-invariant and deterministic") {
    import spark.implicits._
    val queries = emb.orderBy("vec_id").limit(5)
    def run(df: DataFrame) = Pq.topK(df, queries, 10, M, Ksub)
      .select("query_id", "corpus_id", "adc", "rank")
      .as[(Long, Long, Double, Int)].collect()
      .sortBy(r => (r._1, r._4)).toList
    val a = run(emb)
    assert(a == run(emb.repartition(13)))
  }

  test("plan: no raw vector rides any exchange of the topk scan") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.types.ArrayType
    def exchanges(p: SparkPlan): Seq[ShuffleExchangeLike] = p match {
      case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
      case q: QueryStageExec => exchanges(q.plan)
      case e: ShuffleExchangeLike => e +: p.children.flatMap(exchanges)
      case _ => p.children.flatMap(exchanges)
    }
    val cbs = Pq.codebooks(emb, M, Ksub)
    val q = Pq.topKWithCodebooks(Pq.encode(emb, cbs),
      emb.orderBy("vec_id").limit(5), cbs, 10)
    q.count()
    val exs = exchanges(q.queryExecution.executedPlan)
    val wide = exs.filter(_.child.output.exists(a =>
      a.dataType.isInstanceOf[ArrayType] &&
        !a.name.startsWith("ps"))) // the per-(q,id) sub/part pairs are bounded (m rows)
    assert(wide.isEmpty,
      s"raw vectors must not shuffle:\n${q.queryExecution.executedPlan}")
  }

  test("trainer branch parity: driver codebooks == distributed, bit-exact") {
    def flat(cbs: Array[(Int, Int, Array[Double])]) =
      cbs.map { case (s, c, v) =>
        (s, c, v.map(java.lang.Double.doubleToLongBits).toList)
      }.sortBy(r => (r._1, r._2)).toList
    val viaDriver = Pq.codebooks(emb, M, Ksub)
    val raw = Similarity.idVectors(emb, "vec_id", "embedding")
    val viaDistributed = Pq.codebooksDistributed(raw, Similarity.vectorWidth(raw), M, Ksub)
    assert(flat(viaDriver) == flat(viaDistributed))
  }
}
