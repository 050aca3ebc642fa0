package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Task metrics summed over every task of one job group. */
final class GroupAgg {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  var peakExecMem = 0L
  /** Task run times per stage, for the slowest-over-median skew ratio. */
  val stageRunMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(stageId: Int, m: org.apache.spark.executor.TaskMetrics): Unit = {
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
    shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.diskBytesSpilled
    inputBytes += m.inputMetrics.bytesRead
    outputBytes += m.outputMetrics.bytesWritten
    peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    stageRunMs.getOrElseUpdate(stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
  }

  /** Largest slowest-task / median-task ratio over stages with ≥ 2 tasks
    * (1.0 when no stage ran more than one task). */
  def taskSkew: Double = {
    val ratios = stageRunMs.values.filter(_.size >= 2).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}

/** SparkListener that attributes task metrics to the job group the task's
  * job ran under. Counters live in memory; the harness reads them after a
  * [[drain]] and writes them out once, at exit.
  *
  * Listener events arrive asynchronously, so a group's counters are only
  * complete once every event posted before the group's action returned
  * has been delivered. [[drain]] guarantees that without sleeping: it
  * runs a one-task marker job and waits for that job's end event — the
  * listener bus delivers events in posting order, so every task and job
  * event of earlier actions has been handled by then. */
final class Tap extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val groups = mutable.Map.empty[String, GroupAgg]
  private val endedMarkers = mutable.Set.empty[String]
  private var markerSeq = 0

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tap.JobGroup))).getOrElse("")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) {
      val g = Option(stageGroup.get(e.stageId)).getOrElse("")
      synchronized { groups.getOrElseUpdate(g, new GroupAgg).add(e.stageId, e.taskMetrics) }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = Option(jobGroup.remove(e.jobId)).getOrElse("")
    if (g.startsWith("drain:")) synchronized { endedMarkers += g; notifyAll() }
  }

  /** Block until every listener event posted so far has been handled. */
  def drain(sc: SparkContext): Unit = {
    val marker = synchronized { markerSeq += 1; s"drain:$markerSeq" }
    val prev = sc.getLocalProperty(Tap.JobGroup)
    sc.setJobGroup(marker, marker)
    try sc.parallelize(Seq(1), 1).count()
    finally {
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    synchronized {
      while (!endedMarkers(marker)) {
        val left = (deadline - System.nanoTime()) / 1000000L
        if (left <= 0) throw new IllegalStateException(s"listener drain timed out on $marker")
        wait(left)
      }
      endedMarkers -= marker
    }
  }

  /** Counters of every group whose name starts with `prefix`, merged. */
  def group(prefix: String): GroupAgg = synchronized {
    val out = new GroupAgg
    groups.foreach { case (g, a) =>
      if (g.startsWith(prefix)) {
        out.cpuNs += a.cpuNs; out.gcMs += a.gcMs
        out.shuffleReadBytes += a.shuffleReadBytes
        out.shuffleWriteBytes += a.shuffleWriteBytes
        out.spillBytes += a.spillBytes; out.inputBytes += a.inputBytes
        out.outputBytes += a.outputBytes
        out.peakExecMem = math.max(out.peakExecMem, a.peakExecMem)
        a.stageRunMs.foreach { case (s, ts) =>
          out.stageRunMs.getOrElseUpdate(s, mutable.ArrayBuffer.empty) ++= ts }
      }
    }
    out
  }
}

/** One recorded span: a layer call (or a whole iteration, `parent` = -1). */
final case class Span(id: Int, parent: Int, run: String, name: String,
                      startNs: Long, endNs: Long)

/** Span recorder. Spans stay in memory until the harness writes them out
  * at exit; self time is a span's duration minus what its children cover. */
final class Spans(run: String) {
  val all = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def record(parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    val id = next; next += 1
    all += Span(id, parent, run, name, startNs, endNs)
    id
  }

  def close(id: Int, endNs: Long): Unit = all(id) = all(id).copy(endNs = endNs)

  def selfS(s: Span): Double = {
    // children of one span never overlap (layers run one after another)
    val covered = all.iterator.filter(_.parent == s.id)
      .map(c => math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
      .filter(_ > 0).sum
    (s.endNs - s.startNs - covered) / 1e9
  }
}

object Tap {
  /** Local property under which SparkContext.setJobGroup stores the group. */
  val JobGroup = "spark.jobGroup.id"
}
