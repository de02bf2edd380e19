package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans the benchmark opens around each call it makes into a layer.
  * Kept in memory and written with the run record. Times are epoch
  * nanoseconds so they line up with the listener's event times. A
  * disabled tracer records nothing and only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  private def now: Long = epochNs0 + (System.nanoTime() - nano0)
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private val spans = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val s = mutable.LinkedHashMap[String, Any](
        "id" -> id, "name" -> name, "parent" -> open.headOption.getOrElse(-1),
        "start_ns" -> now)
      spans += s
      open = id :: open
      val gc0 = gcMs
      try body
      finally {
        s("end_ns") = now
        s("gc_ms") = gcMs - gc0
        open = open.tail
      }
    }

  def records: Seq[collection.Map[String, Any]] = spans.toSeq
}

/** Jobs, stages and task metrics as the scheduler reports them.
  * Attribution to spans happens after the run (by time), so nothing
  * here depends on call-site names. The `graft.*` kernel counters are
  * read from each task's accumulator updates by name and summed per
  * stage. */
final class SparkLog extends SparkListener {
  private val jobs = new ConcurrentHashMap[Int, mutable.LinkedHashMap[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[collection.Map[String, Any]]()
  private val counters = new ConcurrentHashMap[(Int, Int), ConcurrentHashMap[String, Long]]()
  @volatile private var drainJob = -1
  @volatile private var drained: CountDownLatch = _

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    if (e.properties != null && e.properties.getProperty(SparkLog.DrainKey) != null) {
      drainJob = e.jobId
      return
    }
    jobs.put(e.jobId, mutable.LinkedHashMap[String, Any](
      "id" -> e.jobId, "submit_ms" -> e.time, "stage_ids" -> e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    if (e.jobId == drainJob && drained != null) { drained.countDown(); return }
    val j = jobs.get(e.jobId)
    if (j != null) j.synchronized {
      j("end_ms") = e.time
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
      a.name.filter(_.startsWith("graft.")).foreach { n =>
        a.update match {
          case Some(v: Long) =>
            counters.computeIfAbsent((e.stageId, e.stageAttemptId),
              _ => new ConcurrentHashMap[String, Long]()).merge(n, v, (x, y) => x + y)
          case _ =>
        }
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val base = mutable.LinkedHashMap[String, Any](
      "id" -> i.stageId, "attempt" -> i.attemptNumber(), "name" -> i.name,
      "submit_ms" -> i.submissionTime.getOrElse(-1L),
      "end_ms" -> i.completionTime.getOrElse(-1L),
      "tasks" -> i.numTasks, "failed" -> i.failureReason.isDefined)
    if (m != null) base ++= Seq(
      "exec_cpu_ns" -> m.executorCpuTime, "exec_run_ms" -> m.executorRunTime,
      "gc_ms" -> m.jvmGCTime, "bytes_read" -> m.inputMetrics.bytesRead,
      "bytes_written" -> m.outputMetrics.bytesWritten,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten)
    stages.add(base)
  }

  /** Block until every event posted so far has reached this listener:
    * run one marker job and wait for its end event, which the bus
    * delivers after everything queued before it. */
  def drain(sc: SparkContext): Unit = {
    drained = new CountDownLatch(1)
    sc.setLocalProperty(SparkLog.DrainKey, "1")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SparkLog.DrainKey, null)
    drained.await(30, TimeUnit.SECONDS)
  }

  def jobRecords: Seq[collection.Map[String, Any]] =
    jobs.values.asScala.toSeq.sortBy(_("id").asInstanceOf[Int])

  def stageRecords: Seq[collection.Map[String, Any]] =
    stages.asScala.toSeq.map { s =>
      val c = counters.get((s("id").asInstanceOf[Int], s("attempt").asInstanceOf[Int]))
      s ++ Seq("counters" -> (if (c == null) Map.empty[String, Long] else c.asScala.toMap))
    }
}

object SparkLog {
  private val DrainKey = "perfbench.drain"
}
