package graft.perfbench

/** Driver-side re-implementations of what the engine computes, written
  * from the reference's algorithms and sharing no code with the engine.
  * Each timed call's output is compared against these. */
object Oracle {

  /** libstdc++ `std::default_random_engine` (minstd_rand0:
    * x' = 16807·x mod 2³¹−1) drawn through
    * `uniform_int_distribution<int>(0, max)`'s downscale path. */
  final class MinStdRand0(seed: Long) {
    private val M = 2147483647L
    private var x: Long = {
      val s = java.lang.Long.remainderUnsigned(seed, M)
      if (s == 0L) 1L else s
    }
    private def draw(): Long = { x = x * 16807L % M; x }

    def uniformInt(max: Int): Int = {
      val urngRange = (M - 1L) - 1L // engine max − engine min
      val uerange = max.toLong + 1L
      val scaling = urngRange / uerange
      val past = uerange * scaling
      var r = draw() - 1L
      while (r >= past) r = draw() - 1L
      (r / scaling).toInt
    }
  }

  /** Result of the reference's integer Lloyd: centroids in slot order
    * and the number of rounds the engine's cycle early-exit runs. */
  final case class RefFit(xs: Array[Long], ys: Array[Long], rounds: Int) {
    def lines: Seq[String] = xs.indices.map(i => s"Point: (${xs(i)},${ys(i)})")
  }

  /** `KMeansMain.run` on the first `n` points: seeded init (k draws
    * over file positions, the inclusive bound clamped), then
    * `iterations` rounds of integer-mean Lloyd with lowest-slot
    * tie-break, empty clusters kept. The result is computed by running
    * every round literally (stopping early only at a fixpoint); the
    * round count replays the engine's rule (rounds until a state
    * repeats, plus the remainder of the cycle). */
  def refFit(p: PointSet, limit: Int, k: Int, seed: Long, iterations: Int): RefFit = {
    val n = math.min(limit, p.size)
    val rng = new MinStdRand0(seed)
    val init = Array.fill(k)(math.min(rng.uniformInt(n), n - 1))
    var cx = init.map(i => p.xs(i).toLong)
    var cy = init.map(i => p.ys(i).toLong)
    def step(ax: Array[Long], ay: Array[Long]): (Array[Long], Array[Long]) = {
      val sx = new Array[Long](k); val sy = new Array[Long](k); val cnt = new Array[Long](k)
      var i = 0
      while (i < n) {
        val x = p.xs(i).toLong; val y = p.ys(i).toLong
        var best = Long.MaxValue; var bi = 0; var c = 0
        while (c < k) {
          val dx = x - ax(c); val dy = y - ay(c)
          val d = dx * dx + dy * dy
          if (d < best) { best = d; bi = c }
          c += 1
        }
        sx(bi) += x; sy(bi) += y; cnt(bi) += 1
        i += 1
      }
      (Array.tabulate(k)(c => if (cnt(c) == 0) ax(c) else sx(c) / cnt(c)),
        Array.tabulate(k)(c => if (cnt(c) == 0) ay(c) else sy(c) / cnt(c)))
    }
    // round count: first revisit of a state at round i (first seen at j)
    val seen = scala.collection.mutable.HashMap[Vector[Long], Int]()
    var (tx, ty) = (cx, cy)
    var i = 0
    var rounds = iterations
    while (i < iterations && rounds == iterations) {
      val key = (tx ++ ty).toVector
      seen.get(key) match {
        case Some(j) => rounds = i + (iterations - i) % (i - j)
        case None =>
          seen(key) = i
          val (nx, ny) = step(tx, ty); tx = nx; ty = ny; i += 1
      }
    }
    // the result: every round, literally
    var r = 0
    var fixed = false
    while (r < iterations && !fixed) {
      val (nx, ny) = step(cx, cy)
      fixed = nx.sameElements(cx) && ny.sameElements(cy)
      cx = nx; cy = ny; r += 1
    }
    RefFit(cx, cy, rounds)
  }

  /** `BigDecimal(v).setScale(6, HALF_UP)`: the per-round rounding of
    * the engine's double Lloyd. */
  def round6(v: Double): Double =
    BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Double Lloyd from the first `k` points in file order, `rounds`
    * fixed rounds, means rounded to 6 decimals each round. With
    * integer coordinates every per-cluster sum below 2⁵³ is exact, so
    * the summation order cannot change the result. */
  def doubleFit(p: PointSet, k: Int, rounds: Int): (Array[Double], Array[Double]) = {
    var cx = Array.tabulate(k)(i => p.xs(i).toDouble)
    var cy = Array.tabulate(k)(i => p.ys(i).toDouble)
    var r = 0
    while (r < rounds) {
      val sx = new Array[Double](k); val sy = new Array[Double](k); val cnt = new Array[Long](k)
      var i = 0
      while (i < p.size) {
        val x = p.xs(i).toDouble; val y = p.ys(i).toDouble
        var best = Double.MaxValue; var bi = 0; var c = 0
        while (c < k) {
          val dx = x - cx(c); val dy = y - cy(c)
          val d = dx * dx + dy * dy
          if (d < best) { best = d; bi = c }
          c += 1
        }
        sx(bi) += x; sy(bi) += y; cnt(bi) += 1
        i += 1
      }
      val (ox, oy) = (cx, cy)
      cx = Array.tabulate(k)(c => if (cnt(c) == 0) ox(c) else round6(sx(c) / cnt(c)))
      cy = Array.tabulate(k)(c => if (cnt(c) == 0) oy(c) else round6(sy(c) / cnt(c)))
      r += 1
    }
    (cx, cy)
  }
}
