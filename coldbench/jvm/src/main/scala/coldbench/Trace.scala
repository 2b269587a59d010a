package coldbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One benchmark-side span: a stage of the chain, timed around the public
  * operator calls it makes. Kept in memory; written when the run ends. */
final case class Span(name: String, parent: String, iter: Int,
                      startMs: Long, endMs: Long, wallNs: Long) {
  def wallS: Double = wallNs / 1e9
}

/** Task totals attributed to one stage label. */
final class StageTotals {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
}

/** Attributes Spark task metrics and job intervals to benchmark stages using
  * public listener events only: the stage label travels as a job-group-free
  * local property (`sc.setLocalProperty(Trace.Key, stage)`), which Spark
  * copies into every job's and stage's properties. */
final class StageListener extends SparkListener {
  private val stageLabel = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  val totals = new ConcurrentHashMap[String, StageTotals]()
  /** (label, startMs, endMs) of every finished job. */
  val jobs = new ConcurrentLinkedQueue[(String, Long, Long)]()
  @volatile private var fence: (String, CountDownLatch) = ("", new CountDownLatch(0))

  private def label(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Trace.Key))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val l = label(e.properties)
    jobStart.put(e.jobId, (l, e.time))
    e.stageIds.foreach(stageLabel.put(_, l))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageLabel.put(e.stageInfo.stageId, label(e.properties))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val t = totals.computeIfAbsent(stageLabel.getOrDefault(e.stageId, ""), _ => new StageTotals)
      t.synchronized {
        t.cpuNs += m.executorCpuTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.diskBytesSpilled
        t.tasks += 1
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val (l, start) = Option(jobStart.remove(e.jobId)).getOrElse(("", e.time))
    jobs.add((l, start, e.time))
    val (tag, latch) = fence
    if (l == tag) latch.countDown()
  }

  /** Block until every event posted before this call has been delivered:
    * run a tiny job under a unique label and wait for its end event, which
    * the listener bus delivers after all earlier events of this listener. */
  def drain(sc: SparkContext): Unit = {
    val tag = s"${Trace.Fence}-${System.nanoTime}"
    val latch = new CountDownLatch(1)
    fence = (tag, latch)
    val prev = sc.getLocalProperty(Trace.Key)
    sc.setLocalProperty(Trace.Key, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Trace.Key, prev)
    latch.await(30, TimeUnit.SECONDS)
  }
}

/** Span recorder for one run. With `listener` set, stage labels are
  * published to Spark so task metrics land on the right stage. */
final class Trace(sc: SparkContext) {
  val spans = ArrayBuffer[Span]()
  var listener: Option[StageListener] = None
  var iter = 0

  /** Attach a stage listener and publish stage labels. */
  def enableListener(): Unit = {
    val l = new StageListener
    sc.addSparkListener(l)
    listener = Some(l)
  }

  def span[T](name: String, parent: String = "chain")(body: => T): T = {
    val traced = listener.isDefined
    val outer = sc.getLocalProperty(Trace.Key)
    if (traced) sc.setLocalProperty(Trace.Key, name)
    val s0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    try body
    finally {
      spans += Span(name, parent, iter, s0, System.currentTimeMillis(), System.nanoTime() - n0)
      if (traced) sc.setLocalProperty(Trace.Key, outer)
    }
  }

  /** Span time with no Spark job running: the span minus the union of the
    * job intervals that overlap it. */
  def driverS(s: Span, jobs: Seq[(String, Long, Long)]): Double = {
    val iv = jobs.map { case (_, a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { busy += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    busy += curB - curA
    math.max(0.0, (s.endMs - s.startMs - busy) / 1000.0)
  }
}

object Trace {
  val Key = "coldbench.stage"
  val Fence = "coldbench.fence"
}
