package graft

import org.apache.spark.sql.SparkSession

/** Job-shape assertions: which Spark jobs a call launches. */
object JobShape {

  /** The jobs `f` runs, each as the names of its stages, seen by a
    * SparkListener. */
  def jobsOf(spark: SparkSession)(f: => Unit): Seq[Seq[String]] = {
    val group = "graft-job-shape"
    val jobs = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.synchronized { jobs += e.stageInfos.map(_.name) }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job shape")
      try f finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.toSeq
  }
}
