package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The number of Spark jobs a block of code starts. */
object JobCount {
  /** Runs `body` and returns its value with the number of jobs started
    * while it ran. The count is read once the asynchronous listener bus
    * has stayed quiet for 0.4 s (at most 10 s).
    */
  def apply[A](spark: SparkSession)(body: => A): (A, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val a = body
      var last = -1; var stable = 0; var waited = 0
      while (stable < 4 && waited < 100) {
        Thread.sleep(100)
        if (jobs.get == last) stable += 1 else { stable = 0; last = jobs.get }
        waited += 1
      }
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
