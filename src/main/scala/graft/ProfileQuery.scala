package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/**
 * Per-JOB decomposition of a query's bench wall-clock (guide §1: find
 * where the time goes before touching anything). Runs each named query
 * exactly as Bench does (same session, same runner, same noop sink),
 * with a listener recording every Spark job's duration, stage count,
 * task count and shuffle bytes. The gap between the sum of
 * job times and the wall-clock is driver-side work (planning, literal
 * collection, barrier bookkeeping).
 *
 * Usage: runMain graft.ProfileQuery <sfDir> <reps> <query> [query ...]
 */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSeq
    val spark = GraftSession()

    final case class JobRec(id: Int, var desc: String, var start: Long = 0L,
      var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0,
      var shufR: Long = 0L, var shufW: Long = 0L)
    val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
    // stage → owning job, recorded at job start (r21 ADVICE: Spark runs
    // jobs concurrently — AQE broadcast jobs, parallel actions — so
    // attributing a completed stage to the most recently STARTED job
    // could credit it to the wrong job); re-attempted stages counted once
    val stageJob = mutable.HashMap.empty[Int, Int]
    val seenStages = mutable.HashSet.empty[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, d, start = e.time)
        e.stageIds.foreach(sid => stageJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        jobs.synchronized {
          val si = e.stageInfo
          if (!seenStages.add(si.stageId)) () // retried stage: first attempt counted
          else stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
            j.stages += 1
            j.tasks += si.numTasks
            j.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
            j.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    // warmup, as Bench does
    spark.read.parquet(s"$dir/lineitem.parquet").count()

    names.foreach { name =>
      val q = Queries.all(name)
      (1 to reps).foreach { rep =>
        jobs.synchronized { jobs.clear(); stageJob.clear(); seenStages.clear() }
        val t0 = System.nanoTime()
        q.execute(spark, dir, forBench = true)(
          _.write.format("noop").mode("overwrite").save())
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // let the listener bus drain
        val snap = jobs.synchronized(jobs.values.toSeq)
        val jobSum = snap.map(j => (j.end - j.start).max(0L)).sum / 1e3
        println(f"== $name rep $rep wall=$wall%.3f s, jobs=${snap.size}, jobSum=$jobSum%.3f s, driverGap=${wall - jobSum}%.3f s")
        snap.foreach { j =>
          val dur = (j.end - j.start).max(0L) / 1e3
          println(f"   job ${j.id}%3d ${dur}%7.3f s stages=${j.stages}%2d tasks=${j.tasks}%4d shufR=${j.shufR / 1024}%8d KiB shufW=${j.shufW / 1024}%8d KiB  ${j.desc.take(80)}")
        }
      }
    }
    spark.stop()
  }
}
