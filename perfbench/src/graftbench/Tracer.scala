package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-job-group totals gathered by [[Tracer]]. */
final class GroupTotals {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var recordsRead = 0L
  /** Task durations (ms) per stage, for the skew ratio. */
  val stageTaskMs: mutable.Map[Int, mutable.ArrayBuffer[Long]] = mutable.Map.empty

  def taskS: Double = taskMs / 1e3

  /** Largest max/median task-time ratio over stages with at least 2 tasks. */
  def skewMax: Double = stageTaskMs.values.filter(_.size >= 2).map { ms =>
    val med = Stats.median(ms.map(_.toDouble).toSeq)
    if (med <= 0) 1.0 else ms.max / med
  }.foldLeft(1.0)(math.max)

  def add(o: GroupTotals): GroupTotals = {
    jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    recordsRead += o.recordsRead
    o.stageTaskMs.foreach { case (s, ms) =>
      stageTaskMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ms }
    this
  }
}

/** The benchmark's own `SparkListener`: attributes every job and task to the
  * job group the benchmark set (`SparkContext.setJobGroup`) on the thread
  * that submitted it. Jobs without a group are ignored. */
final class Tracer extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, GroupTotals]()

  private def totals(g: String): GroupTotals =
    groups.computeIfAbsent(g, _ => new GroupTotals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val t = totals(group)
      t.synchronized(t.jobs += 1)
      e.stageIds.foreach(stageGroup.putIfAbsent(_, group))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val t = totals(group)
      t.synchronized {
        t.tasks += 1
        t.taskMs += e.taskInfo.duration
        t.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          t.recordsRead += m.inputMetrics.recordsRead
        }
      }
    }

  /** Totals of one group, after every queued event has been delivered. */
  def group(sc: SparkContext, name: String): GroupTotals = {
    org.apache.spark.BenchBus.drain(sc)
    Option(groups.get(name)).getOrElse(new GroupTotals)
  }

  /** Sum over all groups whose name satisfies `p`. */
  def sum(sc: SparkContext)(p: String => Boolean): GroupTotals = {
    org.apache.spark.BenchBus.drain(sc)
    groups.asScala.filter(kv => p(kv._1)).values
      .foldLeft(new GroupTotals)((acc, t) => t.synchronized(acc.add(t)))
  }
}
