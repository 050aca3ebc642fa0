package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Codec
import graft.gen.Synth
import graft.ops.{Indices, SpatialJoin, Tiling}
import graft.table.Lineage
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** Generated sizes and fixed knobs shared by every workload. */
object Sizes {
  val Images = 480L           // rows of the committed input table
  val InBuckets = 16          // writeResumable buckets of the input table
  val OutBuckets = 8          // buckets of each iteration's committed output
  val AoiCols = 21            // grid of large rect AOIs (aoi_crop)
  val AoiRows = 16
  val AoiPolys: Int = AoiCols * AoiRows
  val DensePolys = 100000     // small concave L-rings (dense_layer)
  val Hotspots = 8
  val HotspotShare = 0.9      // share of dense polygons placed in hotspots
  val HotspotRadiusM = 1500L  // mdeg half-width of a hotspot square
  val IngestImages = 120L     // fresh rows written per ingest_resume iteration
  val IngestBuckets = 6 
  val GenParts = 4            // partitions rows are generated in: files per bucket
  /** Period of the Synth shape/codec formulas in the key: key ranges that
    * start on a multiple of it hold the same multiset of image shapes and
    * codecs, so a seed moves footprints and pixel values, not the work. */
  val KeyPeriod = 240L
  val Res = 7                 // covering-cell resolution of the joins
  val ChunkBytes = 65536L     // tile map chunk size (Tiling.tiles)
}

/** Rows of the `(image_id, bytes, w, h, fmt, caption, phash)` table with
  * footprints, for keys [lo, lo + n), built from the Synth formulas. */
object Gen {
  def images(spark: SparkSession, lo: Long, n: Long, parts: Int): DataFrame = {
    val enc = udf((k: Long) => Synth.encodeImage(k))
    val ph = udf((k: Long) => Codec.aHash(Synth.planes(k)(0), Synth.wOf(k), Synth.hOf(k)))
    val k = col("k")
    Synth.imagesRange(spark, lo + n, parts).where(k >= lo)
      .repartition(parts)
      .withColumn("caption", concat(lit("a "),
        element_at(array(Synth.Adjs.map(lit): _*), ((k % 16) + 1).cast("int")),
        lit(" photo of "),
        element_at(array(Synth.Nouns.map(lit): _*), (((k * 7) % 16) + 1).cast("int"))))
      .withColumn("bytes", enc(k))
      .withColumn("phash", ph(k))
      .drop("nw")
  }

  /** Payload bytes of the encoded rows (sum of `length(bytes)`). */
  def payloadBytes(d: DataFrame): Long =
    d.agg(coalesce(sum(length(col("bytes")).cast("long")), lit(0L))).head().getLong(0)

  /** Row digest independent of the table layer: count and the sum of a
    * 64-bit hash over every column. */
  def digest(d: DataFrame): (Long, BigDecimal) = {
    val cols = Seq("k", "image_id", "w", "h", "fmt", "caption", "phash",
      "x0m", "y0m", "x1m", "y1m", "bytes").map(col)
    val r = d.agg(count(lit(1)),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(BigDecimal(0)))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Every bucket directory under a table root holding parquet files,
    * read with plain Spark, not through the table layer. */
  def plainRead(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(Files.list(Paths.get(root)).iterator().asScala
      .filter(d => d.getFileName.toString.startsWith("part=") &&
        Files.list(d).iterator().asScala.exists(_.toString.endsWith(".parquet")))
      .map(_.toString).toSeq: _*)

  def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
}

/** Result of one iteration as the harness needs it. */
final case class IterOut(wallNs: Long, images: Long, committedBytes: Long,
                         logBytesWritten: Long, error: Option[String])

trait Workload {
  /** Once per run, before the set-up repetitions: inputs every rep shares. */
  def prepOnce(): Unit
  /** One set-up repetition: encode and commit the input (may be a no-op). */
  def prepRep(rep: Int, l: Layers): Unit
  /** Load the input a previous leg committed (scaling leg). */
  def attach(): Unit
  /** One pipeline iteration: times its own pipeline segments, then checks
    * its output outside the timed window. */
  def iterate(i: Int, l: Layers, seg: Seg): IterOut
  /** Extra per-layer metrics computed outside the timed window. */
  def extras(l: Layers): Unit = ()
}

/** The timed window of one iteration: the sum of its pipeline segments.
  * Segments run under the iteration's job group; work between them (the
  * output check, the simulated crash) runs under the harness's group. */
final class Seg(sc: org.apache.spark.SparkContext, group: String, benchGroup: String) {
  var ns = 0L
  sc.setJobGroup(benchGroup, benchGroup)
  def apply[T](f: => T): T = {
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    try f finally {
      ns += System.nanoTime() - t0
      sc.setJobGroup(benchGroup, benchGroup)
    }
  }
}

object Workload {

  /** Buckets' bytes as the commit log records them, latest generation. */
  def committedBytes(root: String): Long =
    Lineage.latestCommits(root).values.map(_.bytes).sum

  def logSize(root: String): Long = {
    val p = Lineage.logPath(root)
    if (Files.exists(p)) Files.size(p) else 0L
  }
}

/** aoi_crop and dense_layer: committed-table scan → cover/join/refine →
  * crop → tile map → decode + NDVI-masked crop stats → resumable commit. */
final class Slice(spark: SparkSession, name: String, seed: Long,
                  work: Path) extends Workload {
  import Sizes._
  private val rnd = new java.util.SplittableRandom(seed)
  val keyOff: Long = KeyPeriod * rnd.nextLong(4000L)
  private val fidOff: Long = rnd.nextLong(100000L)
  private val inRoot = work.resolve("input").toString
  private val polyPath = work.resolve("polys.parquet").toString
  private val dense = name == "dense_layer"
  private lazy val polys: Array[Poly] =
    if (dense) Check.densePolys(keyOff, Images, fidOff, rnd)
    else Check.aoiPolys(fidOff, rnd)
  private lazy val check = new Check(keyOff, Images, polys, dense, seed)

  def prepOnce(): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(polys.map(_.row).toSeq, GenParts),
      if (dense) Check.DenseSchema else Check.AoiSchema)
      .write.mode("overwrite").parquet(polyPath)
  }

  def prepRep(rep: Int, l: Layers): Unit = {
    Gen.deleteRec(Paths.get(inRoot))
    val src = l.df("codec.encode", Images)(Gen.images(spark, keyOff, Images, GenParts))
    l.extra("codec.encode", "mb_out", Gen.payloadBytes(src) / 1e6)
    val n = l.act("lineage.commit", Images)(
      Lineage.writeResumable(spark, src, inRoot, "image_id", InBuckets))(_ => Images)
    l.extra("lineage.commit", "buckets", n.toDouble)
  }

  def attach(): Unit =
    require(Lineage.latestCommits(inRoot).size == InBuckets && Files.exists(Paths.get(polyPath)),
      s"no committed input under $work")

  private def outRoot(i: Int) = work.resolve(s"out-$i")

  def iterate(i: Int, l: Layers, seg: Seg): IterOut = {
    val out = outRoot(i).toString
    Gen.deleteRec(outRoot(i))
    spark.catalog.clearCache()
    seg {
      val imgs = l.df("lineage.read", Images)(Lineage.read(spark, inRoot))
      val polys = spark.read.parquet(polyPath)
      val nPolys = if (dense) DensePolys.toLong else AoiPolys.toLong
      val joined = l.df("spatialjoin.join", Images + nPolys)(
        if (dense) SpatialJoin.joinPolygons(imgs, polys, Res)
        else SpatialJoin.joinRects(imgs, polys, Res))
      val crops = l.df("spatialjoin.crop", l.rows(joined))(SpatialJoin.cropRects(joined))
      val tiles = l.df("tiling.tiles", l.rows(crops))(Tiling.tiles(
        crops.withColumnRenamed("w", "iw").withColumnRenamed("h", "ih")
          .withColumn("w", col("cpx1") - col("cpx0"))
          .withColumn("h", col("cpy1") - col("cpy0")),
        ChunkBytes))
      l.extra("tiling.tiles", "tiles_per_pair", l.rows(tiles).toDouble / l.rows(crops))
      val d0 = Codec.decodeCounter.sum(); val m0 = Codec.memoCallCounter.sum()
      val stats = l.df("codec.decode_stats", l.rows(tiles))(Slice.cropStats(tiles))
      val (dd, mm) = (Codec.decodeCounter.sum() - d0, Codec.memoCallCounter.sum() - m0)
      l.extra("codec.decode_stats", "decodes", dd.toDouble)
      l.extra("codec.decode_stats", "memo_hit_ratio", if (mm == 0) 0.0 else 1.0 - dd.toDouble / mm)
      val nb = l.act("lineage.commit", l.rows(stats))(
        Lineage.writeResumable(spark, stats, out, "image_id", OutBuckets))(
        _ => Lineage.latestCommits(out).values.map(_.rows).sum)
      l.extra("lineage.commit", "buckets", nb.toDouble)
    }
    val bytes = Workload.committedBytes(out)
    val log = Workload.logSize(out)
    val err = check.slice(Gen.plainRead(spark, out))
    l.extra("codec.decode_stats", "decodes_per_image",
      l.metric("codec.decode_stats", "decodes") / math.max(1L, check.matchedImages))
    if (i > 0) Gen.deleteRec(outRoot(i - 1))
    IterOut(seg.ns, Images, bytes, log, err)
  }

  override def extras(l: Layers): Unit = {
    val imgs = Lineage.read(spark, inRoot)
    val polys = spark.read.parquet(polyPath)
    val ic = SpatialJoin.withCoverCells(imgs.select("x0m", "y0m", "x1m", "y1m"),
      Res, "x0m", "y0m", "x1m", "y1m").select("cix", "ciy", "x0m", "y0m", "x1m", "y1m")
    val pc = SpatialJoin.withCoverCells(polys.select("px0m", "py0m", "px1m", "py1m"),
      Res, "px0m", "py0m", "px1m", "py1m")
    val nic = ic.count(); val npc = pc.count()
    l.extra("spatialjoin.join", "cover_cells_per_image", nic.toDouble / Images)
    l.extra("spatialjoin.join", "cover_cells_per_poly",
      npc.toDouble / (if (dense) DensePolys else AoiPolys))
    // bbox candidates: covering-cell key matches whose bboxes overlap,
    // counted once per shared cell (before dedup and ring refine)
    val cand = ic.join(pc, Seq("cix", "ciy")).where(
      col("x0m") < col("px1m") && col("px0m") < col("x1m") &&
      col("y0m") < col("py1m") && col("py0m") < col("y1m")).count()
    l.extra("spatialjoin.join", "candidates_per_match",
      cand.toDouble / math.max(1L, check.checkedPairs))
  }
}

object Slice {
  /** NDVI-masked crop stats of one tile window, decoded through the
    * program's memoised decoder: 6-band raw codecs give (pixels with a
    * defined NDVI, pixels with NDVI > 0, Σ floor(NDVI·1e4) over those);
    * single-band codecs give (valid band-0 pixels, same, Σ band-0). */
  def stats(k: Long, bytes: Array[Byte], iw: Int, ih: Int, fmt: String,
            x0: Int, x1: Int, y0: Int, y1: Int): (Long, Long, Long) = {
    val nb = Codec.bandsStored(fmt, Synth.NumBands)
    val cube = Codec.decodeMemo(k, bytes, iw, ih, nb, fmt)
    val ww = x1 - x0; val wh = y1 - y0
    val win = cube.map { p =>
      val o = new Array[Double](ww * wh)
      var y = 0
      while (y < wh) { System.arraycopy(p, (y0 + y) * iw + x0, o, y * ww, ww); y += 1 }
      o
    }
    var nValid = 0L; var nMask = 0L; var s = 0L; var i = 0
    if (nb >= 4) {
      val ndvi = Indices.planes(win, Seq("ndvi"))(0)
      while (i < ndvi.length) {
        val v = ndvi(i)
        if (!v.isNaN) {
          nValid += 1
          if (v > 0) { nMask += 1; s += math.floor(v * 1e4).toLong }
        }
        i += 1
      }
    } else {
      val p = win(0)
      while (i < p.length) {
        if (!p(i).isNaN) { nValid += 1; s += p(i).toLong }
        i += 1
      }
      nMask = nValid
    }
    (nValid, nMask, s)
  }

  def cropStats(tiles: DataFrame): DataFrame = {
    val f = udf((k: Long, bytes: Array[Byte], iw: Long, ih: Long, fmt: String,
                 x0: Long, x1: Long, y0: Long, y1: Long) =>
      stats(k, bytes, iw.toInt, ih.toInt, fmt, x0.toInt, x1.toInt, y0.toInt, y1.toInt))
    tiles
      .withColumn("st", f(col("k"), col("bytes"), col("iw"), col("ih"), col("fmt"),
        col("cpx0"), col("cpx1"), col("cpy0") + col("ty0"), col("cpy0") + col("ty1")))
      .select(col("image_id"), col("k"), col("fid"), col("tile_idx"),
        col("cpx0"), col("cpx1"), col("cpy0"), col("cpy1"), col("ty0"), col("ty1"),
        col("st._1").as("n_valid"), col("st._2").as("n_mask"), col("st._3").as("sum_q"))
  }
}

/** ingest_resume: encode a fresh batch, commit it over many buckets,
  * crash (cut the commit log and leave a torn last line), resume,
  * compact, read back. */
final class Ingest(spark: SparkSession, seed: Long, work: Path)
    extends Workload {
  import Sizes._
  private val keyOff: Long = KeyPeriod * new java.util.SplittableRandom(seed).nextLong(4000L)
  private def root(i: Int) = work.resolve(s"table-$i")

  def prepOnce(): Unit = ()
  def prepRep(rep: Int, l: Layers): Unit = ()
  def attach(): Unit = ()

  /** Keep the first half of the commit lines and half of the next one,
    * without its newline: the log a crash mid-append leaves behind. */
  private def crash(r: String): Int = {
    val p = Lineage.logPath(r)
    val lines = Files.readAllLines(p).asScala.toSeq
    val keep = lines.size / 2
    val torn = lines(keep).take(lines(keep).length / 2)
    Files.write(p, (lines.take(keep).map(_ + "\n").mkString + torn).getBytes,
      StandardOpenOption.TRUNCATE_EXISTING)
    IngestBuckets - keep
  }

  def iterate(i: Int, l: Layers, seg: Seg): IterOut = {
    val r = root(i).toString
    Gen.deleteRec(root(i))
    spark.catalog.clearCache()
    val lo = keyOff + (i + 1L) * KeyPeriod
    val src = seg {
      l.df("codec.encode", IngestImages)(Gen.images(spark, lo, IngestImages, GenParts))
    }
    l.extra("codec.encode", "mb_out", Gen.payloadBytes(src) / 1e6)
    val n1 = seg {
      l.act("lineage.commit", IngestImages)(
        Lineage.writeResumable(spark, src, r, "image_id", IngestBuckets))(_ => IngestImages)
    }
    l.extra("lineage.commit", "buckets", n1.toDouble)
    val before = Gen.digest(Gen.plainRead(spark, r))
    val logFirst = Workload.logSize(r)
    val lost = crash(r)
    val logCut = Workload.logSize(r)
    val lostRows = IngestImages - Lineage.latestCommits(r).values.map(_.rows).sum
    val redo = seg {
      l.act("lineage.resume", lostRows)(
        Lineage.writeResumable(spark, src, r, "image_id", IngestBuckets))(_ => lostRows)
    }
    l.extra("lineage.resume", "redo_ratio", redo.toDouble / lost)
    val compacted = seg {
      l.act("lineage.compact", IngestImages)(Lineage.compact(spark, r))(_ => IngestImages)
    }
    val after = seg {
      l.act("lineage.read", IngestImages)(Gen.digest(Lineage.read(spark, r)))(_._1)
    }
    val err =
      if (before._1 != IngestImages) Some(s"committed ${before._1} of $IngestImages rows")
      else if (redo != lost) Some(s"resume rewrote $redo buckets, $lost were lost")
      else if (compacted != IngestBuckets) Some(s"compacted $compacted of $IngestBuckets buckets")
      else if (after != before) Some(s"read-back $after != pre-crash $before")
      else None
    val bytes = Workload.committedBytes(r)
    val log = logFirst + (Workload.logSize(r) - logCut)
    if (i > 0) Gen.deleteRec(root(i - 1))
    IterOut(seg.ns, IngestImages, bytes, log, err)
  }
}
