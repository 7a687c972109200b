package graft.operators

import graft.SparkSpec

/** Counts the Spark jobs a body starts, for specs that pin a job budget. */
trait JobsDuring { this: SparkSpec =>

  /** Spark jobs started while `body` runs. Listener delivery is
    * asynchronous but FIFO, so a marked fence job submitted afterwards
    * is seen only once every job of `body` has been counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("graft.fence") != null))
          fenced.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      val out = body
      sc.setLocalProperty("graft.fence", "1")
      try spark.range(1).count() finally sc.setLocalProperty("graft.fence", null)
      fenced.await(60, java.util.concurrent.TimeUnit.SECONDS) shouldBe true
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}
