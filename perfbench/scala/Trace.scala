package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: name, start/end (ns, monotonic),
  * the enclosing span, and the benchmark operation it belongs to. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                      parent: Int, op: Int)

/**
 * In-memory span recorder for the traced mode. The benchmark drives the
 * program from one client thread, so a plain stack gives parents. When
 * `on` is false `span` only runs its body: untraced rounds and untraced
 * runs record nothing. Spans are written out once, at exit.
 */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var opId = 0
  val opCalls: mutable.Map[String, Int] = mutable.Map.empty.withDefaultValue(0)

  /** Start a new benchmark operation (one ingest, one query, ...). */
  def nextOp(): Unit = opId += 1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += null // reserve the slot so children get later ids
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, name, t0, System.nanoTime(), parent, opId)
        stack = stack.tail
      }
    }

  /** A span that also tags the Spark jobs it launches with `name`, so
    * [[SparkCounters]] can attribute jobs, stages and tasks to it. */
  def sparkOp[T](name: String)(body: => T): T =
    if (!on) body
    else {
      opCalls(name) += 1
      sc.setLocalProperty(SparkCounters.OpKey, name)
      try span(s"spark.$name")(body)
      finally sc.setLocalProperty(SparkCounters.OpKey, null)
    }

  def all: Seq[Span] = spans.toSeq

  /** Durations in seconds of every span with this name. */
  def seconds(name: String): Seq[Double] =
    spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def has(name: String): Boolean = spans.exists(_.name == name)

  def writeJsonLines(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}""")
    } finally w.close()
  }
}

/** Spark's own counters per tagged operation, from a listener. */
final class SparkCounters extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
    var peakExec = 0L; var cpuNs = 0L
  }
  val byOp: mutable.Map[String, Totals] = mutable.Map.empty
  private val stageOp = mutable.Map.empty[Int, String]

  private def totals(op: String) = byOp.getOrElseUpdate(op, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(SparkCounters.OpKey))).foreach { op =>
      totals(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(totals(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOp.get(e.stageId).foreach { op =>
      val t = totals(op)
      t.tasks += 1
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakExec = math.max(t.peakExec, m.peakExecutionMemory)
      t.cpuNs += m.executorCpuTime
    }
  }
}

object SparkCounters {
  val OpKey = "perfbench.op"

  def install(sc: SparkContext): SparkCounters = {
    val l = new SparkCounters
    sc.addSparkListener(l)
    l
  }
}

/** Process-wide JVM figures: GC time, CPU time, bytes written. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime)
      .filter(_ >= 0).sum / 1e3

  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  /** Seconds the JIT compilers have spent so far. */
  def jitSeconds: Double = ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** Classes Spark's code generator has compiled with Janino so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Bytes this process passed to write(2), from /proc/self/io; -1 when
    * the file is not readable. */
  def bytesWritten: Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst {
        case l if l.startsWith("wchar:") => l.stripPrefix("wchar:").trim.toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: java.io.IOException => -1L }

  /** Heap in use after full collections. */
  def retainedHeapBytes: Long = {
    val mem = ManagementFactory.getMemoryMXBean
    var i = 0
    while (i < 3) { System.gc(); Thread.sleep(100); i += 1 }
    mem.getHeapMemoryUsage.getUsed
  }
}
