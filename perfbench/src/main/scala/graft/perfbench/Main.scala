package graft.perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.perfbench.ListenerBus
import graft.GraftSession

/** Benchmark process: generates one workload's inputs from the seed,
  * sets up a session several times (the last one stays up), then makes
  * timed calls in a closed loop with one client until the run length
  * is reached, checking every call's output. With tracing on, calls
  * alternate between untraced and traced; the traced ones record spans
  * and Spark counters. Prints readable lines, then one line
  * `PERFBENCH_RESULT {json}` with every metric it measured.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1
  *            --cores N --out DIR
  */
object Main {
  val SetupRepeats = 3

  final case class Call(wallS: Double, passes: Int, traced: Boolean) {
    def perPassS: Double = wallS / passes
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }

  /** The highest percentile with at least ten samples beyond it; with
    * fewer than 11 samples, the maximum. */
  def tail(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else if (s.size < 11) s.last else s(s.size - 11)
  }

  private def memTotalKb(): Long =
    scala.io.Source.fromFile("/proc/meminfo").getLines()
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val out = Paths.get(opts("out")).toAbsolutePath
    Files.createDirectories(out)
    val w = Workloads(opts("workload"), seed, out)

    val metrics = mutable.LinkedHashMap[String, (Double, String)]()
    def put(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)

    val (_, genS) = Outcome.timed(w.prepare())
    println(f"input ${w.input.getFileName} sha256=${Birch.sha256(w.input)} points=${w.points} generated in $genS%.2f s")

    // ---- set-up, repeated; each one pays session build, function
    // registration, warm-up, and ingest
    def builder = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
    val setups = mutable.ArrayBuffer[(Double, Double, Double, Double)]()
    var spark: SparkSession = null
    for (i <- 0 until SetupRepeats) {
      if (spark != null) { w.release(); spark.stop() }
      val (s, buildS) = Outcome.timed(builder.getOrCreate())
      spark = s
      spark.sparkContext.setLogLevel("WARN")
      val (_, registerS) = Outcome.timed(GraftSession.registerFunctions(spark))
      val (_, warmupS) = Outcome.timed(w.warmup(spark))
      val (_, ingestS) = Outcome.timed(w.ingest(spark))
      setups += ((buildS, registerS, ingestS, warmupS))
      println(f"setup ${i + 1}: build $buildS%.3f s, register $registerS%.3f s, warm-up $warmupS%.3f s, ingest $ingestS%.3f s")
    }
    val sc = spark.sparkContext
    val counters = new Counters
    if (trace) sc.addSparkListener(counters)
    put("setup_s", median(setups.map(s => s._1 + s._2 + s._3 + s._4).toSeq), "s")
    put("GraftSession.cold_build_s", setups.head._1, "s")
    put("GraftSession.build_s", median(setups.map(_._1).toSeq), "s")
    put("GraftSession.register_s", median(setups.map(_._2).toSeq), "s")
    put("setup.ingest_s", median(setups.map(_._3).toSeq), "s")
    put("setup.warmup_s", median(setups.map(_._4).toSeq), "s")

    // ---- every call is an attempt; one that throws or fails its
    // output check counts as failed
    val tracer = new Tracer(sc, trace)
    val untraced = new Tracer(sc, false)
    var attempted = 0
    var failed = 0
    def attempt(t: Tracer): Option[Outcome] = {
      attempted += 1
      try {
        val o = w.call(spark, t)
        if (!o.ok) {
          failed += 1
          System.err.println(s"[perfbench] call $attempted: output check failed")
        }
        Some(o)
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] call $attempted threw: $e")
          None
      }
    }

    // ---- settle: untimed calls until the JIT has seen enough of the
    // call path (set-up's warm-up is kept short because it is repeated)
    val (settled, settleS) = Outcome.timed {
      var passes = 0
      while (passes < w.settlePasses)
        passes += attempt(untraced).map(_.passes).getOrElse(w.settlePasses)
      passes
    }
    if (settled > 0) println(f"settled in $settleS%.2f s ($settled passes)")

    // ---- timed closed loop; traced runs alternate untraced and traced calls
    val calls = mutable.ArrayBuffer[Call]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val minCalls = if (trace) 2 else 1
    while (elapsed < seconds || (calls.size < minCalls && elapsed < 4 * seconds)) {
      val traced = trace && calls.size % 2 == 1
      for (o <- attempt(if (traced) tracer else untraced)) {
        calls += Call(o.wallS, o.passes, traced)
        println(f"call ${calls.size}: ${o.wallS}%.3f s, ${o.passes} passes, ${o.wallS / o.passes * 1000}%.1f ms/pass${if (traced) " (traced)" else ""}")
      }
    }
    val plain = calls.filterNot(_.traced).toSeq
    put("round_p50_ms", median(plain.map(_.perPassS)) * 1000, "ms")
    put("points_per_s", if (plain.isEmpty) 0.0 else w.points * plain.map(_.passes).sum / plain.map(_.wallS).sum, "1/s")
    put("call.p50_s", median(plain.map(_.wallS)), "s")
    put("call.tail_s", tail(plain.map(_.wallS)), "s")
    put("call.samples", plain.size, "count")
    put("failed_ratio", failed.toDouble / attempted, "ratio")

    if (trace) traceMetrics(spark, w, tracer, counters, calls.toSeq, cores, out, seed, put)

    put("peak_rss_mb", peakRssMb(), "MB")
    val fingerprint = Seq(
      "nproc" -> Runtime.getRuntime.availableProcessors().toString,
      "mem_total_kb" -> memTotalKb().toString,
      "jvm" -> System.getProperty("java.vm.version"),
      "spark" -> spark.version,
      "master" -> sc.master)
    spark.stop()

    for ((k, (v, u)) <- metrics) println(f"metric $k%-42s $v%.6g $u")
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def jnum(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val ms = metrics.map { case (k, (v, u)) =>
      s"${jstr(k)}:{\"value\":${jnum(v)},\"unit\":${jstr(u)}}" }.mkString("{", ",", "}")
    val fp = fingerprint.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }.mkString("{", ",", "}")
    println(s"""PERFBENCH_RESULT {"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":$ms,"fingerprint":$fp}""")
  }

  /** Per-layer numbers from the traced calls: spans, per-layer self
    * time, Spark counters per operation, tracing overhead, and the
    * `PointsSource` probe. */
  private def traceMetrics(spark: SparkSession, w: Workload, tracer: Tracer,
      counters: Counters, calls: Seq[Call], cores: Int, out: Path, seed: Long,
      put: (String, Double, String) => Unit): Unit = {
    ListenerBus.drain(spark.sparkContext)
    val spans = tracer.spans.toSeq
    val roots = spans.filter(_.parent == 0L)
    val nOps = math.max(1, roots.size).toDouble
    def totalsOf(ss: Seq[Span]) = ss.flatMap(s => counters.group(s"span-${s.id}"))
    def named(n: String) = spans.filter(_.name == n)
    def busyS(ss: Seq[Span]) = totalsOf(ss).map(_.busyMs).sum / 1000.0

    tracer.writeJsonl(out.resolve(s"spans-${w.name}-s$seed.jsonl"))
    val self = tracer.selfByLayer
    for (layer <- Seq("op", "PointsSource", "Dataset", "ReferenceRng", "KMeansDF"))
      put(s"self.${layer}_s", self.getOrElse(layer, 0.0) / nOps, "s")
    self.toSeq.sortBy(_._1).foreach { case (l, v) => println(f"self time per op: $l%-14s ${v / nOps}%.4f s") }

    // Spark counters per traced operation
    val all = totalsOf(spans)
    def perOp(f: Counters#Totals => Long) = all.map(f).sum / nOps
    val wallS = roots.map(_.durS).sum
    val busy = all.map(_.busyMs).sum / 1000.0
    put("spark.jobs", perOp(_.jobs), "count")
    put("spark.stages", perOp(_.stages), "count")
    put("spark.tasks", perOp(_.tasks), "count")
    put("spark.tasks_failed", perOp(_.tasksFailed), "count")
    put("spark.task_busy_s", busy / nOps, "s")
    put("spark.busy_ratio", if (wallS > 0) busy / (wallS * cores) else 0.0, "ratio")
    put("spark.gc_s", perOp(_.gcMs) / 1000.0, "s")
    put("spark.shuffle_write_bytes", perOp(_.shuffleWrite), "bytes")
    put("spark.shuffle_read_bytes", perOp(_.shuffleRead), "bytes")
    put("spark.input_bytes", perOp(_.input), "bytes")
    put("spark.spill_bytes", perOp(_.spill), "bytes")
    val tracedCalls = calls.filter(_.traced)
    val passes = tracedCalls.map(_.passes).sum
    put("spark.jobs_per_round", if (passes > 0) all.map(_.jobs).sum.toDouble / passes else 0.0, "count")

    // driver self time: operation wall minus the union of its jobs' run time
    val driverSelf = roots.map { r =>
      val (lo, hi) = (r.startNs / 1000000L, r.endNs / 1000000L)
      val jobs = totalsOf(spans.filter(_.op == r.op)).flatMap(_.jobSpans)
        .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(j => j._2 > j._1).sortBy(_._1)
      var covered = 0L; var end = lo
      for ((a, b) <- jobs) { val s = math.max(a, end); if (b > s) { covered += b - s; end = b } }
      r.durS - covered / 1000.0
    }
    put("driver.self_s", driverSelf.sum / nOps, "s")

    // per-layer timings
    put("ReferenceRng.init_s", median(named("ReferenceRng.seededInit").map(_.durS)), "s")
    put("KMeansDF.round_s", median(named("KMeansDF.stepInt").map(_.durS)), "s")
    put("KMeansDF.rounds_per_fit", if (tracedCalls.nonEmpty) passes.toDouble / tracedCalls.size else 0.0, "count")
    val fitsSpans = named("KMeansDF.fitWithIters")
    put("KMeansDF.iter_s", if (fitsSpans.nonEmpty) median(tracedCalls.map(_.perPassS)) else 0.0, "s")
    // computed, not counted: points × k per pass over task-busy seconds
    val fitBusy = busyS(fitsSpans)
    put("kernel.dist_evals_per_busy_s",
      if (fitBusy > 0) w.points * Workloads.K * passes / fitBusy else 0.0, "1/s")
    val nc = named("KMeansDF.stepInt")
    val ncBusy = busyS(nc)
    put("NearestCentroid2D.dist_evals_per_busy_s",
      if (ncBusy > 0) w.points * Workloads.K * nc.size / ncBusy else 0.0, "1/s")

    // tracing overhead: traced minus untraced wall, per pass over the points
    val plainPass = median(calls.filterNot(_.traced).map(_.perPassS))
    val tracedPass = median(tracedCalls.map(_.perPassS))
    put("trace.overhead_s", tracedPass - plainPass, "s")
    put("trace.overhead_pct", if (plainPass > 0) 100 * (tracedPass / plainPass - 1) else 0.0, "%")
    put("trace.spans", spans.size / nOps, "count")

    // PointsSource probe: read-only passes over the workload's input,
    // every parsed column consumed; the workload's cache is dropped
    // first, since Spark would answer an identical plan from it
    w.release()
    val lineStream = Files.lines(w.input)
    val lines = try lineStream.count() finally lineStream.close()
    val probes = (1 to 3).map(_ => Outcome.timed(Workloads.scan(spark, w.input)))
    val readS = median(probes.map(_._2))
    val rows = probes.head._1
    put("PointsSource.read_s", readS, "s")
    put("PointsSource.rows_per_s", rows / readS, "1/s")
    put("PointsSource.rows_dropped", (lines - rows).toDouble, "count")
  }
}
