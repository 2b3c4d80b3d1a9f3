package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced call: name, start, end (epoch ns), parent span id (0 for
  * a root) and the id of the benchmark operation it belongs to. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def durS: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Every span tags the Spark jobs started
  * inside it with a job group named after its id, so the listener can
  * charge jobs and task time to the innermost span. Disabled, `span`
  * is a plain call. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Long] = Nil
  private var nextId = 1L
  private var op = 0L

  private def now(): Long = System.nanoTime() + epochOffsetNs

  /** A root span for one benchmark operation. */
  def operation[T](name: String)(body: => T): T =
    if (!enabled) body else { op += 1; span(name)(body) }

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    sc.setJobGroup(s"span-$id", name)
    val t0 = now()
    try body finally {
      spans += Span(id, parent, op, name, t0, now())
      stack = stack.tail
      if (stack.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(s"span-${stack.head}", name)
    }
  }

  /** Self time by layer (span-name prefix): each span's duration minus
    * the time its children cover. Children of one span run one after
    * another, so their coverage is the sum of their durations. */
  def selfByLayer: Map[String, Double] = {
    val childSum = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.durS).sum }
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.durS - childSum.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark counters, per job group. Read them only after
  * [[org.apache.spark.perfbench.ListenerBus.drain]]. */
final class Counters extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var tasksFailed = 0L
    var busyMs = 0L; var gcMs = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var input = 0L; var spill = 0L
    /** (start, end) epoch ms of each finished job */
    val jobSpans = mutable.ArrayBuffer[(Long, Long)]()
  }

  private val byGroup = mutable.HashMap[String, Totals]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val jobStart = mutable.HashMap[Int, (String, Long)]()

  private def totals(g: String): Totals = byGroup.getOrElseUpdate(g, new Totals)

  def group(g: String): Option[Totals] = synchronized(byGroup.get(g))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = (g, e.time)
    e.stageIds.foreach(stageGroup(_) = g)
    totals(g).jobs += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    totals(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) => totals(g).jobSpans += ((t0, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals(stageGroup.getOrElse(e.stageId, ""))
    t.tasks += 1
    if (!e.taskInfo.successful) t.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      t.busyMs += m.executorRunTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.input += m.inputMetrics.bytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}
