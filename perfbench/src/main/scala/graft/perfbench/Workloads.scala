package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.KMeansMain
import graft.operators.{KMeansDF, ReferenceRng}
import graft.sources.PointsSource

/** What one timed call did: passes over the point set (Lloyd rounds),
  * whether its output passed the check, and
  * the wall seconds of the engine calls alone (checks excluded). */
final case class Outcome(passes: Int, ok: Boolean, wallS: Double)

object Outcome {
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

/** A benchmark workload. `prepare` writes the inputs (untimed); set-up
  * is `warmup` then `ingest`; `call` is one timed call into the engine.
  * Every call consumes every column it computes, so Catalyst cannot
  * prune the timed work away. */
trait Workload {
  def name: String
  /** points one pass reads */
  def points: Long
  /** passes over the points made in untimed calls after set-up,
    * before timing */
  def settlePasses: Int = 0
  /** the text file the engine reads */
  def input: Path
  def prepare(): Unit
  def warmup(spark: SparkSession): Unit
  def ingest(spark: SparkSession): Unit = ()
  /** drops what `ingest` cached, before the next set-up */
  def release(): Unit = ()
  /** `t` records spans when enabled; a disabled tracer makes this an
    * untraced call */
  def call(spark: SparkSession, t: Tracer): Outcome
}

object Workloads {
  val K = 15

  def apply(name: String, seed: Long, dir: Path): Workload = name match {
    case "ref_cli_10k" => new RefCli(seed, dir)
    case "lloyd_2m" => new Lloyd(seed, dir, 2000000, 10)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Rows of a file as the engine parses them; the aggregate consumes
    * every parsed column, so none of the parsing is pruned. */
  def scan(spark: SparkSession, path: Path): Long =
    PointsSource.readPoints(spark, path.toString)
      .agg(count(lit(1)), sum("x"), sum("y"), max("id")).head().getLong(0)
}

/** `KMeansMain.run` on a 10,000-point file, k=15, up to 999 rounds with
  * the engine's cycle early-exit; a fresh init seed per call. */
final class RefCli(seed: Long, dir: Path) extends Workload {
  val name = "ref_cli_10k"
  val points = KMeansMain.NumInput.toLong
  /** per-round driver cost keeps falling for hundreds of rounds as
    * the JIT compiles the planner's paths; timing starts at the same
    * point of that curve in every run */
  override def settlePasses = 250
  val input: Path = dir.resolve("ref_cli_10k.txt")
  private lazy val ps = Birch.generate(seed, KMeansMain.NumInput)
  private val seeds = new java.util.SplittableRandom(seed ^ 0x5eed)

  def prepare(): Unit = Birch.write(ps, input)

  /** A few rounds through the same public calls as a fit. */
  def warmup(spark: SparkSession): Unit = {
    val pts = PointsSource.readPoints(spark, input.toString)
      .orderBy("id").limit(KMeansMain.NumInput).cache()
    val n = pts.count().toInt
    var cs = ReferenceRng.seededInit(pts, KMeansMain.NumOutput, n, seed)
    for (_ <- 1 to 8) cs = KMeansDF.stepInt(pts, cs)
    pts.unpersist(blocking = true)
  }

  def call(spark: SparkSession, t: Tracer): Outcome = {
    val s = seeds.nextLong() & Long.MaxValue
    val want = Oracle.refFit(ps, KMeansMain.NumInput, KMeansMain.NumOutput, s, KMeansMain.Iterations)
    if (!t.enabled) {
      val (got, dt) = Outcome.timed(KMeansMain.run(spark, input.toString, s))
      Outcome(want.rounds, got == want.lines, dt)
    } else replay(spark, t, s, want)
  }

  private def replay(spark: SparkSession, t: Tracer, s: Long, want: Oracle.RefFit): Outcome = {
    val ((got, rounds), dt) = Outcome.timed(t.operation("op") {
      // KMeansMain.run, replayed call by call so each layer gets a span
      val pts = t.span("PointsSource.readPoints") {
        PointsSource.readPoints(spark, input.toString)
      }.orderBy("id").limit(KMeansMain.NumInput).cache()
      val n = t.span("Dataset.count")(pts.count().toInt)
      val init = t.span("ReferenceRng.seededInit") {
        ReferenceRng.seededInit(pts, KMeansMain.NumOutput, math.min(KMeansMain.NumInput, n), s)
      }
      // KMeansDF.fitReferenceFrom's loop
      val seen = scala.collection.mutable.HashMap[Seq[KMeansDF.Centroid], Int]()
      var cs = init.sortBy(_.cid)
      var i = 0
      var rounds = 0
      var done = false
      def step(): Unit = { cs = t.span("KMeansDF.stepInt")(KMeansDF.stepInt(pts, cs)); rounds += 1 }
      while (i < KMeansMain.Iterations && !done) seen.get(cs) match {
        case Some(j) =>
          for (_ <- 0 until (KMeansMain.Iterations - i) % (i - j)) step()
          done = true
        case None => seen(cs) = i; step(); i += 1
      }
      pts.unpersist(blocking = false)
      (cs.map(c => s"Point: (${c.x.toLong},${c.y.toLong})"), rounds)
    })
    Outcome(rounds, got == want.lines && rounds == want.rounds, dt)
  }
}

/** `KMeansDF.fitWithIters(points, k=15, rounds, tol=0)` on a point set
  * read once in set-up and cached. */
final class Lloyd(seed: Long, dir: Path, n: Int, rounds: Int) extends Workload {
  val name = s"lloyd_${n / 1000000}m"
  val points = n.toLong
  val input: Path = dir.resolve(s"$name.txt")
  private lazy val ps = Birch.generate(seed, n)
  private lazy val want = Oracle.doubleFit(ps, Workloads.K, rounds)
  /** warm-up input: the first 100,000 points, which run the same plans
    * at a twentieth of the cost */
  private val warmInput = dir.resolve(s"$name-warmup.txt")
  private var pts: DataFrame = _
  /** the kernel's JIT settles over the first few fits */
  override def settlePasses = 2 * rounds
  /** the stated tolerance; integer inputs make every sum exact, so the
    * expected difference is 0 */
  val Tol = 1e-6

  def prepare(): Unit = {
    Birch.write(ps, input)
    Birch.write(new PointSet(ps.xs.take(100000), ps.ys.take(100000)), warmInput)
    want
  }

  override def ingest(spark: SparkSession): Unit = {
    pts = PointsSource.readPoints(spark, input.toString).cache()
    pts.count()
  }

  def warmup(spark: SparkSession): Unit = {
    val small = PointsSource.readPoints(spark, warmInput.toString).cache()
    small.count()
    KMeansDF.fitWithIters(small, Workloads.K, 2, 0.0)
    small.unpersist(blocking = true)
  }

  override def release(): Unit = pts.unpersist(blocking = true)

  def call(spark: SparkSession, t: Tracer): Outcome = {
    val ((cs, iters), dt) = Outcome.timed(t.operation("op") {
      t.span("KMeansDF.fitWithIters")(KMeansDF.fitWithIters(pts, Workloads.K, rounds, 0.0))
    })
    val (wx, wy) = want
    val ok = iters == rounds && cs.size == Workloads.K && cs.forall { c =>
      math.abs(c.x - wx(c.cid)) <= Tol && math.abs(c.y - wy(c.cid)) <= Tol
    }
    Outcome(iters, ok, dt)
  }
}
