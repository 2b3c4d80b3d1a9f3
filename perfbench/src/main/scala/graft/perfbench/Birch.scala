package graft.perfbench

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.Path
import java.util.SplittableRandom

/** A generated point set, in file order. */
final class PointSet(val xs: Array[Int], val ys: Array[Int]) {
  def size: Int = xs.length
}

/** Seeded Birch-like point sets: 100 Gaussian blobs centred on a 10×10
  * grid, integer coordinates clamped to [0, 1e6], written in the
  * reference's whitespace `x y` text format (one point per line). The
  * generator uses only `SplittableRandom` and `StrictMath`, so the same
  * seed gives byte-identical files on every JVM. */
object Birch {
  val Grid = 10
  val Extent = 1000000
  val Sigma = 10000.0

  def generate(seed: Long, n: Int): PointSet = {
    val rng = new SplittableRandom(seed)
    val cell = Extent.toDouble / Grid
    val xs = new Array[Int](n)
    val ys = new Array[Int](n)
    var i = 0
    while (i < n) {
      val b = rng.nextInt(Grid * Grid)
      val cx = (b % Grid + 0.5) * cell
      val cy = (b / Grid + 0.5) * cell
      // Box–Muller: one blob draw per point
      val r = StrictMath.sqrt(-2.0 * StrictMath.log(1.0 - rng.nextDouble())) * Sigma
      val a = 2.0 * StrictMath.PI * rng.nextDouble()
      xs(i) = clamp(cx + r * StrictMath.cos(a))
      ys(i) = clamp(cy + r * StrictMath.sin(a))
      i += 1
    }
    new PointSet(xs, ys)
  }

  private def clamp(v: Double): Int =
    math.max(0L, math.min(Extent.toLong, math.round(v))).toInt

  def write(p: PointSet, path: Path): Unit = {
    val out = new BufferedOutputStream(new FileOutputStream(path.toFile), 1 << 20)
    try {
      val sb = new java.lang.StringBuilder(1 << 16)
      var i = 0
      while (i < p.size) {
        sb.append(p.xs(i)).append(' ').append(p.ys(i)).append('\n')
        if (sb.length > (1 << 16) - 32) {
          out.write(sb.toString.getBytes(US_ASCII)); sb.setLength(0)
        }
        i += 1
      }
      out.write(sb.toString.getBytes(US_ASCII))
    } finally out.close()
  }

  /** Hex SHA-256 of a file: printed with each run so two runs of one
    * seed can be compared byte for byte. */
  def sha256(path: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val in = java.nio.file.Files.newInputStream(path)
    try {
      val buf = new Array[Byte](1 << 20)
      var r = in.read(buf)
      while (r > 0) { md.update(buf, 0, r); r = in.read(buf) }
    } finally in.close()
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
