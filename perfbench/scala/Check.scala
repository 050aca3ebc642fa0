package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.gen.Synth
import scala.collection.mutable

/** A polygon of a generated layer. `ring` is null for a rect AOI; for a
  * dense L-ring it holds (ax0, ay0, ax1, ay1, cutx, cuty) in HALF-mdeg
  * units, all odd, so no ring coordinate ever equals an image edge (image
  * edges are whole mdeg) and "touching" cannot occur. */
final case class Poly(fid: Long, px0: Long, py0: Long, px1: Long, py1: Long,
                      ring: Array[Long]) {
  def wkt: String = {
    def d(v: Long) = new java.math.BigDecimal(java.math.BigInteger.valueOf(v * 5), 4).toPlainString
    val Array(ax0, ay0, ax1, ay1, cx, cy) = ring
    Seq((ax0, ay0), (ax1, ay0), (ax1, cy), (cx, cy), (cx, ay1), (ax0, ay1), (ax0, ay0))
      .map { case (x, y) => s"${d(x)} ${d(y)}" }.mkString("POLYGON ((", ", ", "))")
  }
  def row: Row =
    if (ring == null) Row(fid, px0, py0, px1, py1) else Row(fid, px0, py0, px1, py1, wkt)

  /** Do the open image rect and the polygon's interior overlap? */
  def hits(x0: Long, y0: Long, x1: Long, y1: Long): Boolean =
    if (ring == null) x0 < px1 && px0 < x1 && y0 < py1 && py0 < y1
    else {
      val Array(ax0, ay0, ax1, ay1, cx, cy) = ring
      val (hx0, hy0, hx1, hy1) = (2 * x0, 2 * y0, 2 * x1, 2 * y1)
      // the L = bottom band [ax0,ax1]×[ay0,cy] ∪ left band [ax0,cx]×[cy,ay1]
      (hx0 < ax1 && ax0 < hx1 && hy0 < cy && ay0 < hy1) ||
      (hx0 < cx && ax0 < hx1 && hy0 < ay1 && cy < hy1)
    }
}

object Check {
  import Sizes._

  val AoiSchema: StructType = StructType(Seq("fid", "px0m", "py0m", "px1m", "py1m")
    .map(StructField(_, LongType, nullable = false)))
  val DenseSchema: StructType =
    AoiSchema.add(StructField("geom_wkt", StringType, nullable = false))

  /** Large rect AOIs tiling the image domain: a grid of `AoiCols` ×
    * `AoiRows` cells of 15° × 8°, shifted by a seed-chosen offset. Every
    * image matches one AOI, or a few where it straddles a grid line, so
    * the matched work barely moves with the seed. */
  def aoiPolys(fidOff: Long, rnd: java.util.SplittableRandom): Array[Poly] = {
    val (cw, ch) = (15000L, 8000L)
    // the grid covers x in [-150000, 151020], y in [-60000, 61020]
    val sx = 1020L + rnd.nextLong(cw - 1020L); val sy = 1020L + rnd.nextLong(ch - 1020L)
    (for (c <- 0 until AoiCols; r <- 0 until AoiRows) yield {
      val x0 = -150000L - cw + sx + cw * c; val y0 = -60000L - ch + sy + ch * r
      Poly(fidOff + c * AoiRows + r, x0, y0, x0 + cw, y0 + ch, null)
    }).toArray
  }

  /** Small L-rings: `HotspotShare` of them scattered in squares around
    * `Hotspots` centres placed on seed-chosen image footprints, the rest
    * uniform over the image domain. */
  def densePolys(keyOff: Long, n: Long, fidOff: Long,
                 rnd: java.util.SplittableRandom): Array[Poly] = {
    val centres = Array.fill(Hotspots) {
      val k = keyOff + rnd.nextLong(n)
      (Synth.x0mOf(k) + 2L * Synth.wOf(k), Synth.y0mOf(k) + 2L * Synth.hOf(k))
    }
    val hot = (DensePolys * HotspotShare).toInt
    val r = HotspotRadiusM
    Array.tabulate(DensePolys) { j =>
      val (cx, cy) =
        if (j < hot) {
          val c = centres(j % Hotspots)
          (c._1 - r + rnd.nextLong(2 * r), c._2 - r + rnd.nextLong(2 * r))
        } else (-150000L + rnd.nextLong(300000L), -60000L + rnd.nextLong(120000L))
      val w = 40L + rnd.nextLong(260L); val h = 40L + rnd.nextLong(260L)
      val ax0 = 2 * cx + 1; val ay0 = 2 * cy + 1
      val ring = Array(ax0, ay0, ax0 + 2 * w, ay0 + 2 * h, ax0 + 2 * (w / 2), ay0 + 2 * (h / 2))
      Poly(fidOff + j, cx, cy, cx + w + 1, cy + h + 1, ring)
    }
  }

  final case class Img(k: Long) {
    val w: Int = Synth.wOf(k); val h: Int = Synth.hOf(k); val fmt: String = Synth.fmtOf(k)
    val nw: Int = Synth.nwOf(k)
    val x0: Long = Synth.x0mOf(k); val y0: Long = Synth.y0mOf(k)
    val x1: Long = x0 + Synth.ResM * w; val y1: Long = y0 + Synth.ResM * h
  }

  /** Tiles of a crop window of height `ch` and width `cw`: the chunk
    * iterator's rows-per-tile formula. Returns (rows per tile, tiles). */
  def chunks(cw: Long, ch: Long): (Long, Long) = {
    val rows = math.min(math.max(1L, (ChunkBytes / 8) / cw), ch)
    (rows, (ch + rows - 1) / rows)
  }
}

/** Output checks, written without the code under test: footprints come
  * from the generator's formulas, matches from a brute-force nested loop,
  * crop windows and tiles from their defining arithmetic, and stats from
  * `Synth.pixelValue`. */
final class Check(keyOff: Long, n: Long, polys: Array[Poly], dense: Boolean, seed: Long) {
  import Check._
  private val imgs = (keyOff until keyOff + n).map(k => k -> Img(k)).toMap
  private val byFid = polys.map(p => p.fid -> p).toMap
  /** Polygons whose match sets are brute-forced in full. */
  private val sample: Set[Long] =
    if (!dense) byFid.keySet
    else new scala.util.Random(seed).shuffle(polys.toSeq).take(5000).map(_.fid).toSet
  private lazy val samplePairs: Set[(Long, Long)] =
    (for {
      p <- polys.iterator if sample(p.fid)
      im <- imgs.valuesIterator if p.hits(im.x0, im.y0, im.x1, im.y1)
    } yield (im.k, p.fid)).toSet
  private val expectedStats = mutable.Map.empty[(Long, Long, Long), (Long, Long, Long)]
  /** Distinct (image, polygon) pairs of the last checked output. */
  var checkedPairs = 0L
  /** Distinct images among them. */
  var matchedImages = 0L

  private def trueStats(im: Img, x0: Long, x1: Long, y0: Long, y1: Long): (Long, Long, Long) = {
    var nValid = 0L; var nMask = 0L; var s = 0L
    val raw = im.fmt.startsWith("raw-")
    var y = y0.toInt
    while (y < y1) {
      var x = x0.toInt
      while (x < x1) {
        if (raw) {
          val red = Synth.pixelValue(im.k, im.fmt, 2, x, y)
          val nir = Synth.pixelValue(im.k, im.fmt, 3, x, y)
          if (!red.isNaN && !nir.isNaN) {
            val v = (nir - red) / (nir + red)
            nValid += 1
            if (v > 0) { nMask += 1; s += math.floor(v * 1e4).toLong }
          }
        } else {
          val v = Synth.pixelValue(im.k, im.fmt, 0, x, y)
          if (!v.isNaN) { nValid += 1; nMask += 1; s += v.toLong }
        }
        x += 1
      }
      y += 1
    }
    (nValid, nMask, s)
  }

  /** `out` columns: k, fid, tile_idx, cpx0, cpx1, cpy0, cpy1, ty0, ty1,
    * n_valid, n_mask, sum_q. None when every row is right. */
  def slice(out: DataFrame): Option[String] = {
    val rows = out.select("k", "fid", "tile_idx", "cpx0", "cpx1", "cpy0", "cpy1",
      "ty0", "ty1", "n_valid", "n_mask", "sum_q").collect()
      .map(r => Array.tabulate(12)(r.getLong))
    val byPair = rows.groupBy(r => (r(0), r(1)))
    checkedPairs = byPair.size
    matchedImages = byPair.keySet.map(_._1).size
    val errs = mutable.ArrayBuffer.empty[String]
    def bad(s: String): Unit = if (errs.size < 5) errs += s
    byPair.foreach { case ((k, fid), ts) =>
      (imgs.get(k), byFid.get(fid)) match {
        case (Some(im), Some(p)) if p.hits(im.x0, im.y0, im.x1, im.y1) =>
          val cpx0 = Math.floorDiv(math.max(im.x0, p.px0) - im.x0, Synth.ResM)
          val cpx1 = Math.floorDiv(math.min(im.x1, p.px1) - im.x0 + Synth.ResM - 1, Synth.ResM)
          val cpy0 = Math.floorDiv(im.y1 - math.min(im.y1, p.py1), Synth.ResM)
          val cpy1 = Math.floorDiv(im.y1 - math.max(im.y0, p.py0) + Synth.ResM - 1, Synth.ResM)
          val (rpt, nt) = chunks(cpx1 - cpx0, cpy1 - cpy0)
          if (ts.map(_(2)).sorted.toSeq != (0L until nt))
            bad(s"pair ($k,$fid): tiles ${ts.map(_(2)).sorted.mkString(",")}, want 0..${nt - 1}")
          ts.foreach { t =>
            val ty0 = t(2) * rpt; val ty1 = math.min(cpy1 - cpy0, ty0 + rpt)
            if (!(t(3) == cpx0 && t(4) == cpx1 && t(5) == cpy0 && t(6) == cpy1 &&
                  t(7) == ty0 && t(8) == ty1))
              bad(s"pair ($k,$fid) tile ${t(2)}: window ${t.slice(3, 9).mkString(",")}")
            else {
              val (ev, em, es) = expectedStats.getOrElseUpdate((k, fid, t(2)),
                trueStats(im, cpx0, cpx1, cpy0 + ty0, cpy0 + ty1))
              val (gv, gm, gs) = (t(9), t(10), t(11))
              val ok =
                if (im.fmt != "jpg") gv == ev && gm == em && gs == es
                else {
                  // lossy: PSNR ≥ 40 dB bounds the RMSE by 2.55 grey levels,
                  // so the window sum (nodata decodes to 0 and adds
                  // nothing) is off by at most 2.55 per pixel; the
                  // nodata stripe may blur into valid pixels and the
                  // darkest valid pixels into nodata
                  val area = (cpx1 - cpx0) * (ty1 - ty0)
                  val stripe = math.max(0L, math.min(cpx1, im.nw.toLong) - cpx0) * (ty1 - ty0)
                  gm == gv && math.abs(gv - ev) <= stripe + area / 50 &&
                  math.abs(gs - es) <= 2.55 * area
                }
              if (!ok) bad(s"pair ($k,$fid) tile ${t(2)} ${im.fmt}: stats ($gv,$gm,$gs) want ($ev,$em,$es)")
            }
          }
        case _ => bad(s"pair ($k,$fid) is not a match")
      }
    }
    if (rows.length != rows.map(r => (r(0), r(1), r(2))).distinct.length)
      bad("duplicate tiles")
    val gotSample = byPair.keySet.filter { case (_, fid) => sample(fid) }
    if (gotSample != samplePairs)
      bad(s"sampled polygons: ${(samplePairs -- gotSample).size} matches missing, " +
        s"${(gotSample -- samplePairs).size} extra")
    if (errs.isEmpty) None else Some(errs.mkString("; "))
  }
}
