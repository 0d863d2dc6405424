package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Counters of the Spark work done inside one labelled span. */
final class SpanStats {
  var wallS = 0.0
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L          // executor run time, summed over tasks
  var shuffleBytes = 0L   // shuffle bytes written
  var spillBytes = 0L     // memory + disk spill
  def +=(o: SpanStats): Unit = {
    wallS += o.wallS; jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
  }
}

/**
 * Records jobs, stages, tasks, executor run time, shuffle and spill per
 * span. A span is a label set as a thread-local Spark property around a
 * block of driver code; every job submitted inside it (including jobs AQE
 * submits from its own threads, which inherit the property) is charged to
 * the label. Everything stays in memory until [[stats]] drains the bus.
 */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  private val byLabel = mutable.LinkedHashMap.empty[String, SpanStats]
  private val stageLabel = mutable.HashMap.empty[Int, String]

  private def acc(label: String): SpanStats = synchronized {
    byLabel.getOrElseUpdate(label, new SpanStats)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .getOrElse("unattributed")
    synchronized {
      acc(label).jobs += 1
      e.stageInfos.foreach(s => stageLabel(s.stageId) = label)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageLabel.get(e.stageInfo.stageId).foreach(l => acc(l).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageLabel.getOrElse(e.stageId, "unattributed"))
    a.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Run `f` as span `label`, charging its wall time and Spark work to it. */
  def span[A](label: String)(f: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    val t0 = System.nanoTime()
    try f
    finally {
      val dt = (System.nanoTime() - t0) / 1e9
      synchronized(acc(label).wallS += dt)
      sc.setLocalProperty(Key, prev)
    }
  }

  /** Charge Spark work in `f` to `label` without timing it: the
    * fallback label for driver code between spans. */
  def labelled[A](label: String)(f: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, label)
    try f finally sc.setLocalProperty(Key, prev)
  }

  /** Every span's counters, after the listener bus has delivered all
    * events posted so far. */
  def stats(): Map[String, SpanStats] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(byLabel.toMap)
  }
}
