package graft

import java.nio.file.{Files, Path}
import graft.operators.KMeansDF.Centroid

/** Seeded blob point sets for the integer-path specs, in the reference's
  * input format: one `x y` pair per line. */
object BlobPoints {

  /** `n` points around 8 centres in [0, 1e6]² with integer coordinates,
    * or, when `fractional`, shifted to straddle zero and cut to quarter
    * units (exact in both the text and the parsed double), so truncation
    * toward zero and truncating division meet negative sums. */
  def generate(seed: Long, n: Int, fractional: Boolean = false): IndexedSeq[(Double, Double)] = {
    val r = new scala.util.Random(seed)
    val centres = IndexedSeq.fill(8)((r.between(50000, 950000), r.between(50000, 950000)))
    IndexedSeq.fill(n) {
      val (cx, cy) = centres(r.nextInt(centres.length))
      val (x, y) = (cx + math.round(r.nextGaussian() * 40000), cy + math.round(r.nextGaussian() * 40000))
      if (fractional) ((x - 500000) / 4.0, (y - 500000) / 4.0) else (x.toDouble, y.toDouble)
    }
  }

  /** Writes the points to `file`: integral values without a decimal
    * point, as the reference's Birch files hold them. */
  def write(points: Seq[(Double, Double)], file: Path): Path = {
    def fmt(v: Double) = if (v == math.rint(v)) v.toLong.toString else v.toString
    Files.write(file, points.map { case (x, y) => s"${fmt(x)} ${fmt(y)}\n" }.mkString.getBytes("UTF-8"))
  }

  /** The reference's integer Lloyd written plainly: every round, strict-<
    * argmin over the slots in cid order, sums of coordinates truncated
    * toward zero, truncating division, empty clusters unchanged. */
  def lloydInt(points: Seq[(Double, Double)], init: Seq[Centroid], rounds: Int): Seq[Centroid] = {
    var cs = init.sortBy(_.cid).toIndexedSeq
    for (_ <- 1 to rounds) {
      val k = cs.length
      val (sx, sy, cnt) = (new Array[Long](k), new Array[Long](k), new Array[Long](k))
      for ((x, y) <- points) {
        val d = cs.map(c => (x - c.x) * (x - c.x) + (y - c.y) * (y - c.y))
        val b = d.indexOf(d.min)
        sx(b) += x.toLong; sy(b) += y.toLong; cnt(b) += 1
      }
      cs = cs.zipWithIndex.map { case (c, i) =>
        if (cnt(i) == 0) c else Centroid(c.cid, (sx(i) / cnt(i)).toDouble, (sy(i) / cnt(i)).toDouble)
      }
    }
    cs
  }
}
