package perfbench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run. `perfbench/run.py` starts it and turns the raw
  * record it prints into the reported metrics.
  *
  *   --workload aoi_crop|dense_layer|ingest_resume  --seed N  --seconds S
  *   --trace 0|1  --work DIR
  *
  * At local[nproc]: commit the input `SetupReps` times, run `Warmups`
  * untimed iterations, then time iterations back to back for S seconds and
  * at least `MinIters` (one client, closed loop). With `--trace 1`, then as
  * many traced iterations. With `--trace 0`, the scaling leg follows: the
  * context is stopped and a fresh one at local[max(1, nproc/4)] repeats one
  * warm-up and the timed loop (at least `MinNarrowIters`) on the same
  * input. The last stdout line is `PERFBENCH {json}`. */
object Main {
  val SetupReps = 3
  val Warmups = 3
  val MinIters = 6
  val MinNarrowIters = 3

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else d.toString

  private def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private def errs(os: Iterable[IterOut]): String =
    os.map(_.error.map(str).getOrElse("null")).mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload"); val seed = a("seed").toLong
    val seconds = a("seconds").toDouble; val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val nproc = Runtime.getRuntime.availableProcessors
    val narrow = if (trace) 0 else math.max(1, nproc / 4)

    def session(c: Int): SparkSession = {
      require(c >= 1 && c <= nproc, s"refusing a local[$c] leg on a host with $nproc cores")
      val s = SparkSession.builder()
        .master(s"local[$c]")
        .appName(s"perfbench-$workload")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.shuffle.partitions", c.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    def workloadOn(s: SparkSession): Workload = workload match {
      case "aoi_crop" | "dense_layer" => new Slice(s, workload, seed, work)
      case "ingest_resume" => new Ingest(s, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    def sec(t0: Long) = (System.nanoTime() - t0) / 1e9

    val out = mutable.LinkedHashMap.empty[String, String]
    out("workload") = str(workload)
    out("narrow") = narrow.toString; out("nproc") = nproc.toString

    var spark = session(nproc)
    val tap = new Tap
    spark.sparkContext.addSparkListener(tap)
    out("ready_ms") = System.currentTimeMillis().toString
    var wl = workloadOn(spark)
    val spans = new Spans(s"$workload-$seed")
    val warmErrors = mutable.ArrayBuffer.empty[String]

    var it = 0
    def runIter(l: Int => Layers, group: String): (IterOut, Layers) = {
      val i = it; it += 1
      val layers = l(i)
      val sc = spark.sparkContext
      val seg = new Seg(sc, s"$group:$i", s"bench:$group:$i")
      val o =
        try wl.iterate(i, layers, seg)
        catch { case e: Exception =>
          IterOut(seg.ns, 0L, 0L, 0L, Some(s"${e.getClass.getName}: ${e.getMessage}")) }
      sc.clearJobGroup()
      (o, layers)
    }
    var warmups = 0
    def warmUp(n: Int): Unit = (0 until n).foreach { _ =>
      warmups += 1
      warmErrors ++= runIter(_ => Untraced, "warm")._1.error
    }
    def timedLoop(group: String, minIters: Int): Seq[IterOut] = {
      val done = mutable.ArrayBuffer.empty[IterOut]
      val t0 = System.nanoTime()
      while (done.size < minIters || sec(t0) < seconds) done += runIter(_ => Untraced, group)._1
      done.toSeq
    }

    // ---- set-up: inputs committed `SetupReps` times, then the warm-up
    val t0 = System.nanoTime(); wl.prepOnce(); out("prep_once_s") = num(sec(t0))
    val setupLayers = mutable.ArrayBuffer.empty[Traced]
    out("rep_s") = arr((0 until SetupReps).map { r =>
      val t = System.nanoTime()
      val id = spans.record(-1, "setup", t, t)
      val l = if (trace) { val tl = new Traced(spark, tap, spans, -1 - r, id); setupLayers += tl; tl }
              else Untraced
      wl.prepRep(r, l)
      spans.close(id, System.nanoTime())
      if (trace) setupLayers.last.finish()
      sec(t)
    })
    val tw = System.nanoTime()
    warmUp(Warmups)
    out("warmup_s") = num(sec(tw))

    // ---- timed iterations, untraced, at local[nproc]
    val timed = timedLoop("iter", MinIters)
    tap.drain(spark.sparkContext)
    val agg = tap.group("iter:")
    out("walls_s") = arr(timed.map(_.wallNs / 1e9))
    out("images") = arr(timed.map(_.images.toDouble))
    out("errors") = errs(timed)
    out("cpu_s") = num(agg.cpuNs / 1e9)
    out("shuffle_write_bytes") = agg.shuffleWriteBytes.toString
    out("peak_exec_mem_bytes") = agg.peakExecMem.toString
    out("output_bytes") = agg.outputBytes.toString
    out("log_bytes") = timed.map(_.logBytesWritten).sum.toString
    out("committed_bytes") = timed.map(_.committedBytes).sum.toString

    // ---- traced iterations: per-layer numbers
    if (trace) {
      val traced = mutable.ArrayBuffer.empty[(IterOut, Traced)]
      val tt = System.nanoTime()
      while (traced.size < MinIters || sec(tt) < seconds) {
        val t0 = System.nanoTime()
        val id = spans.record(-1, "bench", t0, t0)
        val (o, l) = runIter(i => new Traced(spark, tap, spans, i, id), "traced")
        spans.close(id, System.nanoTime())
        val tl = l.asInstanceOf[Traced]
        if (traced.isEmpty) wl.extras(tl)
        tl.finish()
        tap.drain(spark.sparkContext)
        val b = tap.group(s"bench:traced:${it - 1}")
        val m = tl.metrics.getOrElseUpdate("bench", mutable.LinkedHashMap.empty)
        m("wall_s") = spans.selfS(spans.all(id)); m("cpu_s") = b.cpuNs / 1e9
        m("rows_in") = o.images.toDouble; m("rows_out") = o.images.toDouble
        m("shuffle_read_mb") = b.shuffleReadBytes / 1e6
        m("shuffle_write_mb") = b.shuffleWriteBytes / 1e6
        m("spill_mb") = b.spillBytes / 1e6; m("gc_s") = b.gcMs / 1e3
        traced += o -> tl
      }
      out("traced_walls_s") = arr(traced.map(_._1.wallNs / 1e9))
      out("traced_errors") = errs(traced.map(_._1))
      // per layer: median over traced iterations; a layer called only
      // during set-up (codec.encode on the slice workloads) gets the
      // median over the set-up repetitions
      val names = (traced.flatMap(_._2.metrics.keys) ++ setupLayers.flatMap(_.metrics.keys)).distinct
      out("layers") = names.map { layer =>
        val src = if (traced.exists(_._2.metrics.contains(layer))) traced.map(_._2) else setupLayers
        val ms = src.flatMap(_.metrics.get(layer))
        str(layer) + ":" + ms.flatMap(_.keys).distinct
          .map(k => str(k) + ":" + num(median(ms.flatMap(_.get(k)).toSeq))).mkString("{", ",", "}")
      }.mkString("{", ",", "}")
      Files.write(work.resolve("spans.jsonl"), spans.all.map { s =>
        s"""{"run":${str(s.run)},"id":${s.id},"parent":${s.parent},"name":${str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${num(spans.selfS(s))}}"""
      }.mkString("", "\n", "\n").getBytes("UTF-8"))
    }

    // ---- scaling leg: a fresh context at local[narrow], same input
    if (narrow > 0) {
      spark.stop()
      spark = session(narrow)
      wl = workloadOn(spark)
      wl.attach()
      warmUp(1)
      val nt = timedLoop("narrow", MinNarrowIters)
      out("narrow_walls_s") = arr(nt.map(_.wallNs / 1e9))
      out("narrow_images") = arr(nt.map(_.images.toDouble))
      out("narrow_errors") = errs(nt)
    }
    out("warmups") = warmups.toString
    out("warmup_errors") = warmErrors.map(str).mkString("[", ",", "]")
    spark.stop()
    println("PERFBENCH " + out.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}"))
  }
}
