package graft

import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block of code starts. */
object SparkJobs {

  private val Sentinel = "graft-jobs-sentinel"

  /** Spark jobs started while `body` runs. A sentinel query runs after
    * it in its own job group; the listener bus delivers job starts in
    * order, so once the sentinel's jobs arrive every job of `body` has.
    * The sentinel's jobs (two under AQE) are excluded by their group.
    */
  def during(spark: SparkSession)(body: => Unit): Int = {
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(Sentinel, "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 30000
      while (!groups.contains(Sentinel) &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
    } finally sc.removeSparkListener(listener)
    assert(groups.contains(Sentinel), "the sentinel job never arrived")
    groups.toArray.count(_ != Sentinel)
  }
}
