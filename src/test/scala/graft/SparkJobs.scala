package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a piece of driver code launches. */
object SparkJobs {

  /** `body`'s result and the Spark jobs started while it ran, counted with
    * a listener and an in-order marker job: the listener bus delivers
    * events in order, so once the marker's start arrives every job started
    * before it has been counted. */
  def during[A](spark: SparkSession)(body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        descriptions.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    sc.addSparkListener(listener)
    val out = try {
      val a = body
      sc.setJobDescription("jobs-marker")
      sc.parallelize(Seq(1), 1).count()
      sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!descriptions.contains("jobs-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      a
    } finally sc.removeSparkListener(listener)
    assert(descriptions.contains("jobs-marker"), "marker job never reached the listener")
    (out, descriptions.toArray(Array.empty[String]).toSeq.takeWhile(_ != "jobs-marker").size)
  }
}
