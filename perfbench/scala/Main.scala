package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one workload produced. Set-up is `setupPasses` (the state build,
  * repeated) plus `warmupS` (untimed warm-up calls of the timed
  * operations, made once). `opSeconds` are the latencies behind
  * `op_p50_s`; `work` is the unit count behind `throughput_per_s`, done
  * in `busySeconds`. */
final case class Outcome(setupPasses: Seq[Double], warmupS: Double, work: Double,
                         busySeconds: Double, opSeconds: Seq[Double])

/** Everything a workload needs: the session, its input and work
  * directories, the run length and the tracer. */
final class Ctx(val spark: SparkSession, val in: String, val probeIn: String,
                val work: String, val seed: Long, val seconds: Double,
                val tracer: Tracer, val counters: Option[SparkCounters]) {
  /** Figures for the run report beyond the end-to-end metrics. */
  val info: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
  /** Counts taken at layer boundaries in traced rounds, by metric name. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  /** Latencies of traced and untraced rounds, for the tracing overhead. */
  val tracedRounds, untracedRounds = mutable.ArrayBuffer.empty[Double]
  var attempted = 0
  var failed = 0
  /** JVM GC seconds, CPU seconds, JIT seconds and bytes written inside timed loops. */
  var timedGcS, timedCpuS, timedJitS = 0.0
  var timedWritten, timedCodegen = 0L

  /**
   * The closed loop: one client thread runs `round` back to back until
   * `seconds` have passed, at least `minRounds` rounds ran and the round
   * count is a whole number of `cycle`s, so a workload that cycles
   * through a pool of operations runs each of them equally often. In the
   * traced mode odd rounds are traced and even rounds are not, so the
   * two can be compared. A round that throws counts as failed and is
   * left out of the latencies.
   */
  def loop(seconds: Double, minRounds: Int, cycle: Int = 1)(round: Int => Unit): Seq[Double] = {
    val out = mutable.ArrayBuffer.empty[Double]
    val gc0 = Jvm.gcSeconds; val cpu0 = Jvm.cpuSeconds; val jit0 = Jvm.jitSeconds
    val w0 = Jvm.bytesWritten; val cg0 = Jvm.codegenCompiles
    val end = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (i < minRounds || System.nanoTime() < end || i % cycle != 0) {
      tracer.on = tracer.enabled && i % 2 == 1
      tracer.nextOp()
      attempted += 1
      val t0 = System.nanoTime()
      try {
        round(i)
        val dt = (System.nanoTime() - t0) / 1e9
        out += dt
        if (tracer.enabled) (if (tracer.on) tracedRounds else untracedRounds) += dt
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"round $i failed: $e")
          e.printStackTrace()
      }
      i += 1
    }
    tracer.on = false
    timedGcS += Jvm.gcSeconds - gc0
    timedCpuS += Jvm.cpuSeconds - cpu0
    timedJitS += Jvm.jitSeconds - jit0
    timedWritten += Jvm.bytesWritten - w0
    timedCodegen += Jvm.codegenCompiles - cg0
    out.toSeq
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opts("workload")
    val work = opts("work")
    val trace = opts("trace") == "1"
    val cpus = opts("cpus").toInt
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val counters = if (trace) Some(SparkCounters.install(spark.sparkContext)) else None
    val ctx = new Ctx(spark, opts("in"), opts("probe_in"), work, opts("seed").toLong,
      opts("seconds").toDouble, new Tracer(trace, spark.sparkContext), counters)

    val outcome = workload match {
      case "metrics_ingest" => MetricsWorkloads.ingest(ctx)
      case "metrics_dashboard" => MetricsWorkloads.dashboard(ctx)
      case "corpus_dedup" => DedupWorkload.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val heap = Jvm.retainedHeapBytes

    val report = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "trace" -> trace,
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "session_s" -> sessionS, "setup_passes_s" -> outcome.setupPasses,
      "warmup_s" -> outcome.warmupS,
      "setup_s" -> (sessionS + Stats.median(outcome.setupPasses) + outcome.warmupS),
      "throughput_per_s" -> outcome.work / outcome.busySeconds,
      "op_p50_s" -> Stats.median(outcome.opSeconds),
      "op_samples" -> outcome.opSeconds.size, "op_seconds" -> outcome.opSeconds,
      "retained_heap_bytes" -> heap,
      "timed_gc_s" -> ctx.timedGcS, "timed_cpu_s" -> ctx.timedCpuS,
      "timed_jit_s" -> ctx.timedJitS, "timed_codegen_compiles" -> ctx.timedCodegen,
      "timed_bytes_written" -> ctx.timedWritten,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_version" -> spark.version)
    report ++= ctx.info
    if (trace) {
      val layers = Probes.perLayer(ctx)
      report("per_layer") = layers
      ctx.tracer.writeJsonLines(s"$work/spans.jsonl")
    }
    Json.write(s"$work/report.json", report)
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** JSON for the benchmark's own files: a minimal writer for the report
  * and the recorded results, and Jackson (shipped with Spark) to read
  * the generator's metadata. */
object Json {
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))

  def enc(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => enc(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => enc(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte | _: Boolean) => n.toString
    case bd: java.math.BigDecimal => bd.toPlainString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => enc(k.toString) + ":" + enc(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case a: Array[_] => enc(a.toSeq)
    case other => enc(other.toString)
  }

  def write(path: String, v: Any): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.println(enc(v)) finally w.close()
  }
}
