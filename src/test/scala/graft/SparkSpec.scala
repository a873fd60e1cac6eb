package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for all Spark-backed suites. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `body`'s result and the number of Spark jobs it submitted. The
    * listener bus is asynchronous, so a marker job run after `body`
    * drains it: the marker's start event arrives after every event of
    * `body`'s jobs, and is not counted.
    */
  def withJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val marker = s"withJobs-marker-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == marker))
          drained.countDown()
        else { jobs.incrementAndGet(); () }
    }
    sc.addSparkListener(listener)
    try {
      val a = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(0), 1).count() finally sc.setJobDescription(null)
      require(drained.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not deliver the marker job")
      (a, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
