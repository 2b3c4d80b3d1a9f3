package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{KMeansDF, ReferenceRng}
import graft.sources.PointsSource

/** Binary-parity CLI with the reference executable
  * (kmeans_with_mapreduce-cuda.cu:26-140): the drop-in entry point for
  * anyone invoking the reference as `./kmeans_with_mapreduce-cuda
  * <file.txt>` today.
  *
  * Same contract end to end:
  *   - one argument, a whitespace `x y` points file; anything else
  *     prints the reference's usage line and exits 1
  *     (kmeans_with_mapreduce-cuda.cu:27-30);
  *   - config.cuh defaults: first NUM_INPUT=10000 lines,
  *     NUM_OUTPUT=15 centroids, ITERATIONS=999 Lloyd rounds (the
  *     fixpoint early-exit returns the identical result — the integer
  *     step is deterministic), SAVE_TO_FILE semantics;
  *   - the reference's seeded-sample init (k uniform_int draws over
  *     file positions, `ReferenceRng` — bit-exact libstdc++
  *     minstd_rand0 + downscale). The seed is the wall clock, as in
  *     random_num_generator.hpp:18; `SPARK_GRAFT_SEED` pins it, an
  *     override the reference lacks (which is why its own recorded
  *     runs are unreproducible);
  *   - integer-mean iteration arithmetic
  *     (kmeans_mapreduce_core.cu:54-69: `KMeansDF.fitReferenceFrom`,
  *     with `KMeansDF.stepInt`'s arithmetic);
  *   - the same output: one `Point: (x,y)` line per centroid to
  *     stdout AND to `<input>.output`
  *     (kmeans_with_mapreduce-cuda.cu:105-121), then the three
  *     load/compute/total wall-time lines.
  */
object KMeansMain {
  val NumInput = 10000
  val NumOutput = 15
  val Iterations = 999

  /** Fit and format — everything between the reference's file read and
    * its output loop. Returns the `Point: (x,y)` lines in centroid
    * slot order. Exposed separately so the spec can drive it without
    * process-level side effects. */
  def run(spark: SparkSession, fname: String, seed: Long): Seq[String] =
    timedRun(spark, fname, seed)
      .getOrElse(throw new IllegalArgumentException(s"no points parsed from $fname"))._1

  /** [[run]] plus the reference's two stopwatches in ms, read_data +
    * initialize_centroids and the Lloyd loop (cu:36, 76-80); None when
    * the file yields no points. */
  private def timedRun(spark: SparkSession, fname: String,
      seed: Long): Option[(Seq[String], Long, Long)] = {
    val t0 = System.nanoTime()
    val points = PointsSource.readPoints(spark, fname)
      .orderBy("id").limit(NumInput).cache()
    try {
      val n = points.count().toInt
      if (n == 0) None
      else {
        val init = ReferenceRng.seededInit(points, NumOutput, math.min(NumInput, n), seed)
        val t1 = System.nanoTime()
        val cs = KMeansDF.fitReferenceFrom(points, init, Iterations)
        // Point is integer-coordinate (config.cuh:17-19); integer means
        // keep it so — print as the reference's operator<< does
        val lines = cs.map(c => s"Point: (${c.x.toLong},${c.y.toLong})")
        Some((lines, (t1 - t0) / 1000000, (System.nanoTime() - t1) / 1000000))
      }
    } finally points.unpersist(blocking = false)
  }

  def main(args: Array[String]): Unit = {
    if (args.length != 1) {
      // the reference's exact usage complaint (cu:28)
      println("input textfile *.txt")
      sys.exit(1)
    }
    val fname = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftSession.registerFunctions(spark)
    spark.sparkContext.setLogLevel("WARN")
    // seed: env (CLI use) / system property (in-process spec use) /
    // the reference's clock seed (random_num_generator.hpp:18)
    val seed = sys.env.get("SPARK_GRAFT_SEED")
      .orElse(sys.props.get("spark.graft.seed")).map(_.toLong)
      .getOrElse(System.currentTimeMillis())
    val (lines, loadMs, fitMs) = timedRun(spark, fname, seed).getOrElse {
      println("Failed to read file.")
      sys.exit(1)
    }
    lines.foreach(println)
    java.nio.file.Files.write(java.nio.file.Paths.get(fname + ".output"),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    println(s"Data loading and initialize: $loadMs milliseconds")
    println(s"Time for map reduce KMeans: $fitMs milliseconds")
    println(s"Total time: ${loadMs + fitMs} milliseconds")
    // the spec drives main() inside the shared test JVM, where the
    // session must outlive this call
    if (!sys.props.contains("spark.graft.test.keepSession")) spark.stop()
  }
}
