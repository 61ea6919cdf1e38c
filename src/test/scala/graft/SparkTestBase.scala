package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (spark_guide.md: lazy val, WARN). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"

  /** Spark jobs of job group `group` started while `body` runs. The
    * listener bus is asynchronous, so a sentinel job from this thread
    * marks the end: events arrive in order, and once its start is seen
    * every earlier one has been.
    */
  protected def jobsInGroup(group: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val sentinel = s"graft-jobs-${System.nanoTime()}"
    val counted = new java.util.concurrent.atomic.AtomicInteger
    val drained = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        if (props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).contains(group))
          counted.incrementAndGet()
        if (props.flatMap(p => Option(p.getProperty("graft.test.sentinel"))).contains(sentinel))
          drained.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty("graft.test.sentinel", sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS))
      counted.get
    } finally {
      sc.setLocalProperty("graft.test.sentinel", null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = Sessions.builder("local[8]", "8").appName("graft-tests").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
