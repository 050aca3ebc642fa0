package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Layer boundaries of one pipeline iteration.
  *
  * Untraced, a layer call is just the call: DataFrames stay lazy and
  * Spark fuses the whole slice into as few jobs as it likes. Traced,
  * every layer boundary is MATERIALISED: the layer's output DataFrame is
  * persisted and counted under the layer's own job group, so the task
  * CPU, shuffle, spill and GC of exactly that layer's jobs land in the
  * layer's counters, and the next layer reads the materialised rows. */
trait Layers {
  /** A layer whose result is a DataFrame (materialised when traced). */
  def df(layer: String, rowsIn: Long)(f: => DataFrame): DataFrame
  /** A layer whose result is an action's value; `rowsOut` reads it. */
  def act[T](layer: String, rowsIn: Long)(f: => T)(rowsOut: T => Long): T
  /** Rows of a DataFrame a layer produced: known when traced, else -1. */
  def rows(d: DataFrame): Long
  /** Extra per-layer metric, recorded only when traced. */
  def extra(layer: String, metric: String, v: => Double): Unit
  /** A metric recorded earlier in this iteration (0 when untraced). */
  def metric(layer: String, name: String): Double
}

object Untraced extends Layers {
  def df(layer: String, rowsIn: Long)(f: => DataFrame): DataFrame = f
  def act[T](layer: String, rowsIn: Long)(f: => T)(rowsOut: T => Long): T = f
  def rows(d: DataFrame): Long = -1L
  def extra(layer: String, metric: String, v: => Double): Unit = ()
  def metric(layer: String, name: String): Double = 0.0
}

/** Per-layer record of one traced iteration: metric name → value. */
final class Traced(spark: SparkSession, tap: Tap, spans: Spans,
                   iter: Int, iterSpan: Int) extends Layers {
  private val sc = spark.sparkContext
  val metrics = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  private val persisted = mutable.ArrayBuffer.empty[DataFrame]
  private val counted = mutable.Map.empty[DataFrame, Long]
  private val layerSpans = mutable.ArrayBuffer.empty[(String, Int)]

  private def run[T](layer: String, rowsIn: Long)(body: => (T, Long)): T = {
    val g = s"L$iter:$layer"
    val prev = sc.getLocalProperty(Tap.JobGroup)
    sc.setJobGroup(g, g)
    val t0 = System.nanoTime()
    val (v, out) = try body finally {
      if (prev == null) sc.clearJobGroup() else sc.setJobGroup(prev, prev)
    }
    val t1 = System.nanoTime()
    tap.drain(sc)
    layerSpans += layer -> spans.record(iterSpan, layer, t0, t1)
    val a = tap.group(g)
    val m = metrics.getOrElseUpdate(layer, mutable.LinkedHashMap.empty)
    m("cpu_s") = a.cpuNs / 1e9
    m("rows_in") = rowsIn.toDouble
    m("rows_out") = out.toDouble
    m("shuffle_read_mb") = a.shuffleReadBytes / 1e6
    m("shuffle_write_mb") = a.shuffleWriteBytes / 1e6
    m("spill_mb") = a.spillBytes / 1e6
    m("gc_s") = a.gcMs / 1e3
    m("task_skew") = a.taskSkew
    m("input_mb") = a.inputBytes / 1e6
    m("output_mb") = a.outputBytes / 1e6
    v
  }

  def df(layer: String, rowsIn: Long)(f: => DataFrame): DataFrame =
    run(layer, rowsIn) {
      val d = f.persist(StorageLevel.MEMORY_AND_DISK)
      persisted += d
      val n = d.count()
      counted(d) = n
      (d, n)
    }

  def act[T](layer: String, rowsIn: Long)(f: => T)(rowsOut: T => Long): T =
    run(layer, rowsIn) { val v = f; (v, rowsOut(v)) }

  def rows(d: DataFrame): Long = counted.getOrElse(d, -1L)

  def metric(layer: String, name: String): Double =
    metrics.get(layer).flatMap(_.get(name)).getOrElse(0.0)

  def extra(layer: String, metric: String, v: => Double): Unit =
    metrics.getOrElseUpdate(layer, mutable.LinkedHashMap.empty)(metric) = v

  /** Self times, filled in once the iteration span has closed. */
  def finish(): Unit = {
    layerSpans.foreach { case (layer, id) =>
      metrics(layer)("wall_s") = spans.selfS(spans.all(id))
    }
    persisted.foreach(_.unpersist(blocking = true))
  }
}
