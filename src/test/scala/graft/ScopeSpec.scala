package graft

import graft.plans.Scope
import org.apache.spark.scheduler.{SparkListener, SparkListenerUnpersistRDD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** The one scoped-materialization mechanism: release order, close
  * semantics, and the one-job leaf.
  */
class ScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def frame(tag: Int): DataFrame =
    spark.range(0, 200, 1, 4).selectExpr("id", s"id * $tag as v")

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != org.apache.spark.storage.StorageLevel.NONE

  /** Persist `df` into `s`, materialize it, return its cached RDD id. */
  private def persistedRdd(s: Scope, df: DataFrame): Int = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    s.persist(df).count()
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.size == 1, s"expected one new cached RDD, got $added")
    added.head
  }

  test("close releases in reverse registration order, exactly once") {
    val unpersisted = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = {
        unpersisted.add(e.rddId); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val s = new Scope(spark)
      val ids = Seq(1, 2, 3).map(t => persistedRdd(s, frame(t)))
      s.close()
      eventually(timeout(10.seconds)) {
        import scala.jdk.CollectionConverters._
        assert(unpersisted.asScala.toSeq.filter(ids.contains) == ids.reverse)
      }
      s.close() // idempotent: nothing released twice, no error
      Thread.sleep(200)
      import scala.jdk.CollectionConverters._
      assert(unpersisted.asScala.count(ids.contains) == ids.size)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("registering on a closed scope fails") {
    val s = new Scope(spark)
    s.close()
    intercept[IllegalArgumentException](s.persist(frame(4)))
  }

  test("release happens when the body throws") {
    val df = frame(5)
    intercept[IllegalStateException] {
      Scope(spark) { s =>
        s.persist(df).count()
        assert(cached(df))
        throw new IllegalStateException("boom")
      }
    }
    assert(!cached(df))
  }

  test("leaf materializes with exactly one job and plans over a LogicalRDD") {
    Scope(spark) { s =>
      val df = frame(6).filter("id % 3 = 0")
      val ((leaf, n), jobs) = SparkSpec.withJobs(s.leaf(df))
      assert(jobs == 1)
      assert(n == 67)
      assert(cached(df))
      assert(leaf.queryExecution.analyzed.isInstanceOf[LogicalRDD])
      assert(leaf.count() == n)
    }
  }

  test("collectWithin: the verdict depends on bytes, not rows") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_repeat, col, lit}
    // 768-dim (id, vector) rows: just over the budget gives None
    val wideBytes = 8L + 4L * 768
    val overBudget = Scope.DriverBytes / wideBytes + 1
    assert(overBudget * wideBytes > Scope.DriverBytes)
    val wide = spark.range(0, overBudget, 1, 4)
      .select(col("id"), array_repeat(lit(0.5f), 768).as("v")).as[(Long, Array[Float])]
    assert(Scope.collectWithin(wide, wideBytes).isEmpty)
    // eight times as many 8-byte rows, far under the budget: Some, whole
    val narrow = spark.range(0, 8 * overBudget, 1, 4).as[Long]
    assert(Scope.collectWithin(narrow, 8L).map(_.sorted.toSeq) ==
      Some(0L until 8 * overBudget))
  }

  test("collectWithin: n rows come back whole, n + 1 do not; one partition is one job") {
    import spark.implicits._
    val rowBytes = Scope.DriverBytes / 3 // n = 3
    val three = Scope.collectWithin(spark.range(0, 3, 1, 4).as[Long], rowBytes)
    assert(three.map(_.sorted.toSeq) == Some(Seq(0L, 1L, 2L)))
    assert(Scope.collectWithin(spark.range(0, 4, 1, 4).as[Long], rowBytes).isEmpty)
    // a persisted leaf passed as one partition: one job, whole or None
    Scope(spark) { local =>
      val (leaf, _) = local.leaf(spark.range(0, 4, 1, 4).toDF())
      val (four, jobs4) = SparkSpec.withJobs(
        Scope.collectWithin(leaf.coalesce(1).as[Long], rowBytes))
      val (all, jobsAll) = SparkSpec.withJobs(
        Scope.collectWithin(leaf.coalesce(1).as[Long], Scope.DriverBytes / 4))
      assert(four.isEmpty && all.map(_.sorted.toSeq) == Some(Seq(0L, 1L, 2L, 3L)))
      assert(jobs4 == 1 && jobsAll == 1)
    }
  }

  test("an inner scope releases before its outer scope") {
    val outerDf = frame(7)
    val innerDf = frame(8)
    Scope(spark) { outer =>
      outer.persist(outerDf).count()
      Scope(spark) { inner =>
        inner.persist(innerDf).count()
        assert(cached(outerDf) && cached(innerDf))
      }
      assert(cached(outerDf) && !cached(innerDf))
    }
    assert(!cached(outerDf))
  }

  test("broadcasts are destroyed on close") {
    val s = new Scope(spark)
    val b = s.broadcast(Set(1, 2, 3))
    assert(spark.sparkContext.parallelize(1 to 4).filter(b.value.contains).count() == 3)
    s.close()
    intercept[org.apache.spark.SparkException](b.value)
  }
}
