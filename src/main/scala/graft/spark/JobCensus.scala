package graft.spark

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs, stages and tasks started by one block of driver code. */
final case class JobCensus(jobs: Int, stages: Int, tasks: Int)

object JobCensus {

  private val Key = "graft.jobCensus"

  /** Counts what `f` starts, by a listener: the jobs of this thread and
    * of the threads it starts (a streaming query's micro-batches), which
    * inherit a per-call local property. A sentinel job after `f` flushes
    * the asynchronous listener bus, so every job of `f` has been seen
    * when this returns. Stages and tasks are summed over each job's
    * `stageInfos`, skipped stages included. */
  def during(sc: SparkContext)(f: => Unit): JobCensus = {
    val token = java.util.UUID.randomUUID.toString
    val sentinel = "sentinel-" + token
    val seen = new LinkedBlockingQueue[(String, Int, Int)]
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.put((Option(j.properties).flatMap(p => Option(p.getProperty(Key))).getOrElse(""),
          j.stageInfos.size, j.stageInfos.map(_.numTasks).sum))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(Key, token)
      try f finally sc.setLocalProperty(Key, sentinel)
      sc.parallelize(Seq(1), 1).count()
      var census = JobCensus(0, 0, 0)
      var d = ""
      while (d != sentinel) {
        val job = seen.poll(60, TimeUnit.SECONDS)
        if (job == null) throw new IllegalStateException("the sentinel job never reached the listener")
        d = job._1
        if (d == token)
          census = JobCensus(census.jobs + 1, census.stages + job._2, census.tasks + job._3)
      }
      census
    } finally {
      sc.setLocalProperty(Key, null)
      sc.removeSparkListener(listener)
    }
  }
}
