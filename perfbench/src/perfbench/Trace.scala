package perfbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Spark work done under one job group (one span). */
final class Counters {
  var jobs, stages, tasks, tasksFailed = 0L
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var shuffleWriteB, shuffleReadB, spillB = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; tasksFailed += o.tasksFailed
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs; schedDelayMs += o.schedDelayMs
    shuffleWriteB += o.shuffleWriteB; shuffleReadB += o.shuffleReadB; spillB += o.spillB
  }
}

/** Attributes jobs, stages and tasks to the job group they were submitted
  * under. Attribution is exact: the group travels with the job's local
  * properties, including jobs Spark submits from its own threads
  * (broadcast exchanges, adaptive stages). Only reads events; it changes
  * no Spark setting. */
final class GroupListener extends SparkListener {
  private val jobGroup = mutable.Map[Int, String]()
  private val stageGroup = mutable.Map[Int, String]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val byGroup = mutable.Map[String, Counters]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def of(group: String): Counters = byGroup.getOrElseUpdate(group, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    jobGroup(e.jobId) = g
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(s => stageGroup(s) = g)
    of(g).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    of(stageGroup.getOrElse(e.stageInfo.stageId, "")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = of(stageGroup.getOrElse(e.stageId, ""))
    c.tasks += 1
    if (!e.taskInfo.successful) c.tasksFailed += 1
    val m = e.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      c.schedDelayMs += math.max(0L, info.finishTime - info.launchTime -
        m.executorRunTime - m.executorDeserializeTime - m.resultSerializationTime -
        gettingResult)
    }
  }

  def counters(group: String): Counters = synchronized(byGroup.getOrElse(group, new Counters))
  def intervals: Seq[(Long, Long)] = synchronized(jobIntervals.toList)
}

final case class Span(id: Int, name: String, parent: Int, round: Int,
    startNs: Long, var endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records a span around each call into a layer and tags the Spark jobs
  * it submits with the span's job group. Disabled, it only runs the body. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  /** Off, spans are not recorded; the listener keeps its counts. */
  var enabled: Boolean = traced
  val spans = mutable.ArrayBuffer[Span]()
  var round = 0
  private var stack: List[Span] = Nil
  // maps System.nanoTime onto the epoch milliseconds Spark stamps jobs with
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  val listener: GroupListener = if (traced) new GroupListener else null
  if (traced) sc.addSparkListener(listener)

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), round,
        System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb${s.id}", name)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name)
          case None    => sc.clearJobGroup()
        }
      }
    }

  def drain(): Unit = if (traced) PerfbenchBridge.drainListenerBus(sc)

  def countersOf(s: Span): Counters = listener.counters(s"pb${s.id}")

  def toEpochMs(ns: Long): Double = epochMs0 + (ns - nano0) / 1e6

  def write(path: String): Unit = {
    val out = new PrintWriter(path)
    try {
      out.println("id\tname\tparent\tround\tstart_s\tend_s\tjobs\ttasks\trun_ms")
      spans.foreach { s =>
        val c = countersOf(s)
        out.println(Seq(s.id, s.name, s.parent, s.round, (s.startNs - nano0) / 1e9,
          (s.endNs - nano0) / 1e9, c.jobs, c.tasks, c.runMs).mkString("\t"))
      }
    } finally out.close()
  }
}

/** Per-layer figures from the spans of a set of rounds. */
object Layers {

  /** Duration minus the part covered by direct children. */
  def selfSeconds(spans: Seq[Span]): Map[Int, Double] = {
    val childTime = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    spans.map(s => s.id -> (s.seconds - childTime.getOrElse(s.id, 0.0))).toMap
  }

  /** Seconds of `[from, to]` (epoch ms) during which no Spark job ran. */
  def idleSeconds(from: Double, to: Double, jobs: Seq[(Long, Long)]): Double = {
    val clipped = jobs.map { case (a, b) => (math.max(a.toDouble, from), math.min(b.toDouble, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    math.max(0.0, (to - from) - covered) / 1e3
  }
}
