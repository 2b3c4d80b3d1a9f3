package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Spark-first re-expression of the reference's GPU MapReduce K-means
  * (kmeans_mapreduce_core.cu, kmeans_with_mapreduce-cuda.cu).
  *
  * The reference's phases map onto Spark as:
  *   - map (nearest-centroid assignment, kmeans_mapreduce_core.cu:21-44):
  *     a per-row codegen'd fold over a *broadcast-literal* centroid array
  *     — zero shuffle, no n×k intermediate.
  *   - shuffle+reduce (sort pairs by key, load-balanced per-cluster sum,
  *     kmeans_mapreduce_core.cu:71-207): `groupBy(cid).avg` — Spark's
  *     hash aggregation does map-side partial combine, so only k rows per
  *     partition cross the wire; this is exactly the skew-proof "loading
  *     balance" the reference hand-rolls, for free.
  *   - iterate (kmeans_mapreduce_core.cu:237-259): driver loop over k×dim
  *     doubles (tiny state), re-broadcast each round. Both fits run their
  *     rounds on one treeAggregate round over a pinned coordinate RDD
  *     ([[stepRdd]]); the declarative [[step]] and [[stepInt]] are the
  *     references it is tested against.
  *
  * At 100 TB: the point table is only ever scanned (never repartitioned);
  * each iteration moves k×numPartitions partial-agg rows, independent of
  * data volume and of cluster-size skew.
  */
object KMeansDF {

  final case class Centroid(cid: Int, x: Double, y: Double)

  /** (cid, squared-distance) argmin over the centroid list — the native
    * codegen'd NearestCentroid2D expression with the centroid table
    * baked in as primitive arrays. Ties break to the lowest cid. */
  def nearest(x: Column, y: Column, centroids: Seq[Centroid]): Column =
    graft.functions.KMeansExpressions.nearestCentroid(
      x, y, centroids.map(c => (c.cid, c.x, c.y)))

  /** Map phase: points(id,x,y) → +cid, +dist (squared Euclidean). */
  def assign(points: DataFrame, centroids: Seq[Centroid]): DataFrame = {
    val n = nearest(col("x"), col("y"), centroids)
    points.withColumn("_n", n)
      .withColumn("cid", col("_n.cid"))
      .withColumn("dist", col("_n.dist"))
      .drop("_n")
  }

  /** One full Lloyd iteration: assign + per-cluster mean (the reference's
    * map→sort→reduce round). Empty clusters keep their old centroid, as
    * the reference implicitly does (no pairs → centroid untouched).
    * Centroids are rounded to `roundTo` decimals so that iteration
    * results are bit-stable across engines/summation orders. */
  def step(points: DataFrame, centroids: Seq[Centroid], roundTo: Int = 6): Seq[Centroid] = {
    val moved = assign(points, centroids)
      .groupBy("cid")
      .agg(round(avg("x"), roundTo).as("nx"), round(avg("y"), roundTo).as("ny"))
      .collect()
      .map(r => r.getInt(0) -> Centroid(r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .toMap
    centroids.map(c => moved.getOrElse(c.cid, c)).sortBy(_.cid)
  }

  /** Deterministic init: the k lowest-id points (the reference samples k
    * input points with a seeded RNG, kmeans_with_mapreduce-cuda.cu:12-19;
    * we pick a seed-free but equally data-driven rule so the oracle can
    * reproduce it). */
  def initFirstK(points: DataFrame, k: Int): Seq[Centroid] =
    points.orderBy("id").limit(k).collect().toIndexedSeq.zipWithIndex.map { case (r, i) =>
      Centroid(i, r.getAs[Double]("x"), r.getAs[Double]("y"))
    }

  /** The (x, y) columns as an RDD pinned (MEMORY_AND_DISK) for a fit:
    * iterative refinement re-scans the points every round. The fit
    * unpersists it; the caller's frame is never persisted or dropped. */
  private def pinXY(points: DataFrame): RDD[(Double, Double)] =
    points.select(col("x"), col("y"))
      .rdd.map(r => (r.getDouble(0), r.getDouble(1)))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** One Lloyd round over a pinned coordinate RDD, shared by both 2-D
    * fits: broadcast centroids, the argmin of [[nearest]] (strict <, so
    * the lowest cid wins ties; a point with no finite distance joins no
    * cluster), and a treeAggregate of per-cluster sums, so only k rows
    * per partition reach the driver. The loop carries no Catalyst work
    * — a fresh DataFrame plan would be re-analyzed and re-optimized
    * every round because the centroid literals change — which is
    * MLlib's own shape. The fit picks the mean rule, applied on the
    * driver to k rows: [[step]]'s Σ/n HALF_UP-rounded to 6 decimals, or,
    * when `integer`, [[stepInt]]'s Σ trunc(coord) divided by n with
    * truncating integer division. Empty clusters keep their centroid. */
  private def stepRdd(rdd: RDD[(Double, Double)], centroids: Seq[Centroid],
      integer: Boolean): Seq[Centroid] = {
    val sorted = centroids.sortBy(_.cid)
    val cxs = sorted.map(_.x).toArray
    val cys = sorted.map(_.y).toArray
    val k = cxs.length
    val bc = rdd.sparkContext.broadcast((cxs, cys))
    try {
      // cluster i's x sums sit at 2i and its y sums at 2i+1: as doubles
      // for the HALF_UP rule and truncated to longs for the integer rule
      val (sumD, sumL, size) = rdd.treeAggregate(
        (new Array[Double](2 * k), new Array[Long](2 * k), new Array[Long](k)))(
        seqOp = { case (acc @ (ds, ls, cnt), (x, y)) =>
          val (cx, cy) = bc.value
          var best = Double.MaxValue; var bi = -1; var i = 0
          while (i < k) {
            val dx = x - cx(i); val dy = y - cy(i)
            val d = dx * dx + dy * dy
            if (d < best) { best = d; bi = i }
            i += 1
          }
          if (bi >= 0) {
            ds(2 * bi) += x; ds(2 * bi + 1) += y
            ls(2 * bi) += x.toLong; ls(2 * bi + 1) += y.toLong
            cnt(bi) += 1
          }
          acc
        },
        combOp = { case (a @ (ds, ls, cnt), (ds2, ls2, cnt2)) =>
          for (i <- 0 until 2 * k) { ds(i) += ds2(i); ls(i) += ls2(i) }
          for (i <- 0 until k) cnt(i) += cnt2(i)
          a
        })
      def mean(s: Int, n: Long): Double =
        if (integer) (sumL(s) / n).toDouble
        else BigDecimal(sumD(s) / n).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      sorted.zipWithIndex.map { case (c, i) =>
        if (size(i) == 0) c else Centroid(c.cid, mean(2 * i, size(i)), mean(2 * i + 1, size(i)))
      }
    } finally bc.destroy()
  }

  /** Full Lloyd's to convergence (max centroid movement < tol), bounded
    * iterations like the reference's ITERATIONS cap (config.cuh:11). */
  def fit(points: DataFrame, k: Int, maxIter: Int = 25, tol: Double = 1e-4): Seq[Centroid] =
    fitWithIters(points, k, maxIter, tol)._1

  /** [[fit]] plus the number of Lloyd iterations actually performed —
    * the convergent trajectory is deterministic (per-round HALF_UP
    * rounding, strict-< tie-break), so exposing the count lets an
    * oracle replay the SAME trajectory as a fixed chain of
    * assign+update stages (km_lloyd's hash gate, round 11). */
  def fitWithIters(points: DataFrame, k: Int, maxIter: Int = 25,
      tol: Double = 1e-4): (Seq[Centroid], Int) = {
    val rdd = pinXY(points)
    try {
      var cs = initFirstK(points, k)
      var iter = 0
      var moved = Double.MaxValue
      while (iter < maxIter && moved >= tol) {
        val next = stepRdd(rdd, cs, integer = false)
        moved = cs.zip(next).map { case (a, b) =>
          math.max(math.abs(a.x - b.x), math.abs(a.y - b.y))
        }.max
        cs = next
        iter += 1
      }
      (cs, iter)
    } finally rdd.unpersist(blocking = false)
  }

  /** WSSSE: sum of squared distance to the nearest centroid. */
  def cost(points: DataFrame, centroids: Seq[Centroid]): DataFrame =
    assign(points, centroids).agg(round(sum("dist"), 4).as("wssse"))

  // ---- reference-faithful integer mode ------------------------------

  /** One iteration with the reference's exact arithmetic
    * (kmeans_mapreduce_core.cu:54-69 `new_centroid.x /= len`), as a
    * declarative plan: distances on the parsed doubles, per-cluster
    * sums of coordinates truncated to integers, truncating-division
    * means. Distance comparison in double is exact for Birch coords
    * ≤ ~1e6 (squared distances stay below 2^53). Empty clusters keep
    * their centroid, as in the reference (no pairs → untouched). Tests
    * check [[fitReferenceFrom]]'s rounds against it; callers that drive
    * their own loop use it per round (it plans a new query each call). */
  def stepInt(points: DataFrame, centroids: Seq[Centroid]): Seq[Centroid] = {
    val moved = assign(points, centroids)
      .groupBy("cid")
      .agg(expr("sum(CAST(x AS BIGINT)) div count(1)").as("nx"),
        expr("sum(CAST(y AS BIGINT)) div count(1)").as("ny"))
      .collect()
      .map(r => r.getInt(0) -> Centroid(r.getInt(0),
        r.getLong(1).toDouble, r.getLong(2).toDouble))
      .toMap
    centroids.map(c => moved.getOrElse(c.cid, c)).sortBy(_.cid)
  }

  /** The reference's integer Lloyd (config.cuh ITERATIONS rounds of
    * [[stepInt]]'s arithmetic) from an explicit init, such as the CLI's
    * seeded draw (kmeans_with_mapreduce-cuda.cu:75) or [[initFirstK]].
    * Rounds run on [[stepRdd]] over the fit's own pinned coordinate
    * RDD. The integer round is deterministic, so the trajectory is
    * eventually periodic — usually a fixpoint, occasionally a short
    * limit cycle (integer means can oscillate between two partitions).
    * On revisiting a state the remaining rounds are resolved by
    * arithmetic ((iterations − i) mod period extra steps), so the
    * result is IDENTICAL to running the full fixed count, at a fraction
    * of the rounds. State history is ≤ iterations × k tiny case
    * classes — driver-trivial. */
  def fitReferenceFrom(points: DataFrame, init: Seq[Centroid],
      iterations: Int): Seq[Centroid] = {
    val rdd = pinXY(points)
    try {
      val seen = scala.collection.mutable.HashMap[Seq[Centroid], Int]()
      var cs = init.sortBy(_.cid)
      var i = 0
      var done = false
      while (i < iterations && !done) {
        seen.get(cs) match {
          case Some(j) => // entered a cycle of period i-j at round j
            val rem = (iterations - i) % (i - j)
            var r = 0
            while (r < rem) { cs = stepRdd(rdd, cs, integer = true); r += 1 }
            done = true
          case None =>
            seen(cs) = i
            cs = stepRdd(rdd, cs, integer = true)
            i += 1
        }
      }
      cs
    } finally rdd.unpersist(blocking = false)
  }
}
