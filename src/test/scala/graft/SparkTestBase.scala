package graft

import org.apache.spark.sql.SparkSession

/** The shared test session: the harness session (the engine's one
  * configuration, extensions included) on local[4].
  */
trait SparkTestBase {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Run `body` and count the Spark jobs it submitted. Listener delivery
    * is async but ORDERED: once the event of one tagged sentinel job run
    * after `body` arrives, every job `body` ran has been counted.
    */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val tag = s"jobsDuring-sentinel-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val sentinel = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(s: SparkListenerJobStart): Unit =
        if (Option(s.properties).exists(_.getProperty("spark.job.description") == tag))
          sentinel.countDown()
        else jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(tag)
      try sc.parallelize(1 to 2, 1).count() finally sc.setJobDescription(null)
      require(sentinel.await(10, java.util.concurrent.TimeUnit.SECONDS),
        "sentinel job event never arrived")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = Harness.session(4)
}
