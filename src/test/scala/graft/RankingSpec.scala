package graft

import graft.operators.Ranking
import graft.plans.Scope
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Distributed exact global ranking + CCNet perplexity buckets. */
class RankingSpec extends AnyFunSuite with ScopePerTest {
  private lazy val spark = SparkSpec.spark
  import spark.implicits._

  private def scored(n: Int) =
    (0 until n).map(i => (i.toLong, ((i * 37) % n).toDouble / 10.0 - 3.0))
      .toDF("doc_id", "avg_lp")

  test("globalRank equals driver-side sort order") {
    val df = scored(200)
    val got = Ranking.globalRank(df, Seq(col("avg_lp").desc, col("doc_id").asc))
      .select("doc_id", "rank").as[(Long, Long)].collect().toMap
    val expect = df.as[(Long, Double)].collect()
      .sortBy { case (id, lp) => (-lp, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    assert(got === expect)
  }

  test("globalRank is partition-invariant") {
    val df = scored(300)
    val keys = Seq(col("avg_lp").desc, col("doc_id").asc)
    val a = Ranking.globalRank(df, keys)
      .select("doc_id", "rank").as[(Long, Long)].collect().toSet
    val b = Ranking.globalRank(df.repartition(11), keys)
      .select("doc_id", "rank").as[(Long, Long)].collect().toSet
    assert(a === b)
  }

  test("perplexityBuckets: terciles of sizes differing by at most one, head has best scores") {
    val df = scored(100)
    val out = Ranking.perplexityBuckets(df).cache()
    val sizes = out.groupBy("bucket").count().as[(Int, Long)].collect().toMap
    assert(sizes.keySet === Set(0, 1, 2))
    assert(sizes.values.max - sizes.values.min <= 1)
    // every head doc outscores every tail doc
    val headMin = out.filter(col("bucket") === 0).agg(min("avg_lp")).as[Double].head()
    val tailMax = out.filter(col("bucket") === 2).agg(max("avg_lp")).as[Double].head()
    assert(headMin >= tailMax)
    out.unpersist()
  }

  test("rankBuckets: exact integer boundary arithmetic") {
    val ranked = (1 to 10).map(r => (r.toLong, r.toLong)).toDF("doc_id", "rank")
    val b = Ranking.rankBuckets(ranked, 10L, 3)
      .select("rank", "bucket").as[(Long, Int)].collect().toMap
    // (rank-1)*3/10: ranks 1-4 -> 0, 5-7 -> 1, 8-10 -> 2
    assert(b === Map(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0,
      5L -> 1, 6L -> 1, 7L -> 1, 8L -> 2, 9L -> 2, 10L -> 2))
  }

  test("plan: ranking range-partitions, no single-partition window") {
    val df = scored(500)
    val r = Ranking.globalRank(df, Seq(col("avg_lp").desc, col("doc_id").asc))
    r.count()
    val plan = r.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("rangepartitioning"),
      s"expected a range repartition:\n$plan")
    assert(!plan.contains("Window"), s"global rank must not use a window:\n$plan")
  }

  test("scope close releases the range-partitioned cache") {
    val df = scored(50)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Scope(spark) { s =>
      val r = Ranking.globalRank(df, Seq(col("avg_lp").desc, col("doc_id").asc))(s)
      assert(r.count() === 50)
      assert(spark.sparkContext.getPersistentRDDs.keySet !== before)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet === before)
  }
}
