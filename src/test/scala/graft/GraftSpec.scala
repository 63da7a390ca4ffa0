package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + testdata locations for all specs. Sessions must be
  * created through GraftSession so correctness-critical configs hold
  * (GraftSession.local asserts them on reuse). */
trait GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("4")
  val sf: String = "/root/testdata/sf0.001"

  /** `body`'s value and the number of Spark jobs it started. Listener
    * events arrive in order, so the count is taken between two marker
    * jobs run before and after `body`: once the closing marker's start
    * is seen, every job in between has been counted. */
  def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = s"graft-spec-marker-${System.nanoTime()}"
    val (open, closed) = (new java.util.concurrent.CountDownLatch(1),
      new java.util.concurrent.CountDownLatch(1))
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).map(_.getProperty("spark.job.description"))
          .orNull match {
          case d if d == s"$tag-open" => open.countDown()
          case d if d == s"$tag-close" => closed.countDown()
          case _ => if (open.getCount == 0 && closed.getCount > 0)
            jobs.incrementAndGet()
        }
    }
    def marker(side: String): Unit = {
      sc.setJobDescription(s"$tag-$side")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = body
      marker("close")
      assert(closed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the listener bus did not deliver the closing marker job")
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }
}
