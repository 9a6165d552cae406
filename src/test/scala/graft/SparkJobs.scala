package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Job counting for specs that bound how much Spark work an action does. */
object SparkJobs {

  /** Jobs started by `action`, seen by a SparkListener. Listener events
    * arrive asynchronously but in order: a barrier job in its own group
    * marks the end of the count. */
  def jobsOf(spark: SparkSession)(action: => Unit): Int = {
    val sc = spark.sparkContext
    val group = java.util.UUID.randomUUID().toString
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val done = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet(); ()
          case g if g == s"$group-end" => done.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      action
      sc.setJobGroup(s"$group-end", "barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    jobs.get
  }
}
