package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.core.GorillaCodec
import graft.tsdb.Ts

/**
 * Per-layer metrics of a traced run. Every layer is measured on every
 * workload: a layer the workload's timed phase drove is read off its
 * traced rounds; a layer it did not drive is probed afterwards with the
 * same calls on the small probe input of the other data family (the
 * metrics grid or the corpus), so each traced run reports every metric.
 */
object Probes {
  val SparkOps: Seq[String] =
    Seq("ingest", "upsert", "signatures", "lsh_pairs", "verify", "components", "apply")

  private def exists(p: String) = new java.io.File(p).exists()

  def perLayer(ctx: Ctx): mutable.LinkedHashMap[String, Double] = {
    val t = ctx.tracer
    val spark = ctx.spark
    t.on = true
    val gridIn = if (exists(s"${ctx.in}/points.parquet")) ctx.in else ctx.probeIn
    val corpusIn = if (exists(s"${ctx.in}/corpus.parquet")) ctx.in else ctx.probeIn
    val mainStore = s"${ctx.work}/store"
    val probeStore = s"${ctx.work}/probe_store"
    def rounds(n: Int)(body: => Unit): Unit = (0 until n).foreach { _ => t.nextOp(); body }

    // graft.tsdb write path
    if (!t.has("spark.ingest") || !t.has("spark.upsert")) {
      val (late, _) = MetricsWorkloads.lateBatches(ctx, gridIn)
      rounds(3)(MetricsWorkloads.ingestOnce(ctx, gridIn, probeStore))
      var b = 0
      rounds(3) { MetricsWorkloads.upsertOnce(ctx, probeStore, late, b); b += 1 }
      late.unpersist(true)
    }
    // an ingest split in two: chunkify into a no-op sink (cached), then
    // the store write of the already encoded chunks
    rounds(3) {
      val chunks = Ts.chunkify(MetricsWorkloads.points(spark, gridIn),
        MetricsWorkloads.LabelCols, "ts", "v").persist(StorageLevel.MEMORY_ONLY)
      t.span("tsdb.chunkify")(chunks.write.format("noop").mode("overwrite").save())
      t.span("tsdb.write")(Ts.writeStore(chunks, s"${ctx.work}/split_store"))
      chunks.unpersist(true)
    }
    // graft.tsdb read path and graft.plans pruning
    val store = if (exists(mainStore)) mainStore else probeStore
    if (!t.has("tsdb.promql.exec")) {
      val pool = MetricsWorkloads.loadQueries(gridIn)
      MetricsWorkloads.Shapes.foreach { s =>
        pool(s).take(5).foreach(q => rounds(1)(MetricsWorkloads.runQuery(ctx, store, q)))
      }
    }
    // graft.ops dedup stages
    if (!t.has("spark.signatures"))
      rounds(2)(DedupWorkload.pipeline(ctx, spark.read.parquet(s"$corpusIn/corpus.parquet"),
        s"${ctx.work}/probe_dedup_out"))
    val core = codecRates(ctx, gridIn)
    t.on = false
    org.apache.spark.BusDrain(spark.sparkContext)

    val out = mutable.LinkedHashMap.empty[String, Double]
    def med(span: String) = Stats.median(t.seconds(span))
    def medSample(name: String) = Stats.median(ctx.samples.getOrElse(name, Nil).toSeq)
    out ++= core
    MetricsWorkloads.Shapes.foreach { s =>
      Seq("build", "plan", "exec").foreach(p => out(s"tsdb.$s.${p}_s") = med(s"tsdb.$s.$p"))
      out(s"tsdb.$s.p50_s") = med(s"tsdb.$s")
    }
    out("tsdb.chunkify_s") = med("tsdb.chunkify")
    out("tsdb.write_s") = med("tsdb.write")
    out("tsdb.store_bytes_per_point") =
      MetricsWorkloads.storeBytes(store).toDouble / MetricsWorkloads.gridPoints(gridIn)
    out("tsdb.upsert.dates_touched") = medSample("tsdb.upsert.dates_touched")
    out("tsdb.upsert.bytes_rewritten_per_late_point") =
      medSample("tsdb.upsert.bytes_rewritten_per_late_point")
    out("plans.store_chunks") = spark.read.parquet(store).count().toDouble
    MetricsWorkloads.Shapes.foreach { s =>
      Seq("chunks_read", "scan_bytes", "files_read").foreach(k =>
        out(s"plans.$s.$k") = medSample(s"plans.$s.$k"))
    }
    Seq("signatures", "lsh_pairs", "verify", "components", "apply").foreach(op =>
      out(s"ops.${op}_s") = med(s"spark.$op"))
    out("ops.candidate_pairs") = medSample("ops.candidate_pairs")
    out("ops.verified_pairs") = medSample("ops.verified_pairs")
    out("ops.verify_yield") = out("ops.verified_pairs") / out("ops.candidate_pairs")
    val counters = ctx.counters.get
    def perCall(op: String)(f: counters.Totals => Double): Double = {
      val tot = counters.byOp.getOrElse(op, new counters.Totals)
      f(tot) / math.max(1, t.opCalls(op))
    }
    out("ops.components_jobs") = perCall("components")(_.jobs.toDouble)
    SparkOps.foreach { op =>
      out(s"spark.$op.jobs") = perCall(op)(_.jobs.toDouble)
      out(s"spark.$op.stages") = perCall(op)(_.stages.toDouble)
      out(s"spark.$op.tasks") = perCall(op)(_.tasks.toDouble)
      out(s"spark.$op.shuffle_write_bytes") = perCall(op)(_.shuffleWrite.toDouble)
      out(s"spark.$op.shuffle_read_bytes") = perCall(op)(_.shuffleRead.toDouble)
      out(s"spark.$op.spill_bytes") = perCall(op)(_.spill.toDouble)
      out(s"spark.$op.peak_exec_memory_bytes") =
        counters.byOp.get(op).map(_.peakExec.toDouble).getOrElse(0.0)
      out(s"spark.$op.executor_cpu_s") = perCall(op)(_.cpuNs / 1e9)
    }
    out("jvm.gc_s") = ctx.timedGcS
    out("jvm.cpu_s") = ctx.timedCpuS
    out("jvm.bytes_written") = ctx.timedWritten.toDouble
    out("trace.overhead_ratio") =
      Stats.median(ctx.tracedRounds.toSeq) / Stats.median(ctx.untracedRounds.toSeq) - 1
    out
  }

  /** Single-thread `GorillaCodec` rates on the grid's own series: the
    * `cpu` series of every host, cut into the store's 2-hour chunks. */
  def codecRates(ctx: Ctx, gridIn: String): Seq[(String, Double)] = {
    val pts = MetricsWorkloads.points(ctx.spark, gridIn)
    val rows = pts.filter(col("type") === "cpu")
      .select(col("host"), Ts.epochSec(pts, "ts").as("sec"), col("v"))
      .orderBy("host", "sec").collect()
    val chunks = rows.groupBy(r => (r.getString(0), Math.floorDiv(r.getLong(1), Ts.WindowSec)))
      .values.toArray.map { rs =>
        val sorted = rs.sortBy(_.getLong(1))
        (sorted.map(_.getLong(1)), sorted.map(_.getDouble(2)))
      }
    val n = chunks.map(_._1.length.toLong).sum
    val t = ctx.tracer
    /** points per second of `body` over all chunks, repeated for >= 0.3 s */
    def rate(name: String)(body: => Unit): Double = t.span(name) {
      val t0 = System.nanoTime()
      var passes = 0
      while (System.nanoTime() - t0 < 300000000L) { body; passes += 1 }
      n * passes / ((System.nanoTime() - t0) / 1e9)
    }
    def encodeAll() = chunks.map { case (ts, vs) =>
      GorillaCodec.encode(ts, vs, GorillaCodec.alignWindow(ts(0), Ts.WindowSec))
    }
    val encoded = encodeAll()
    var sink = 0L
    val enc = rate("core.encode")(sink += encodeAll().length)
    val dec = rate("core.decode")(encoded.foreach(b => sink += GorillaCodec.decode(b)._1.length))
    val agg = rate("core.agg_range")(encoded.foreach { b =>
      val h = GorillaCodec.readHeader(b).headerTime
      sink += GorillaCodec.aggregateRange(b, h + 1800, h + 5399).n
    })
    val bucket = rate("core.bucket_agg")(encoded.foreach(b =>
      sink += GorillaCodec.aggregateBuckets(b, 300L, Ts.FixedScale).length))
    ctx.info("core_sink") = sink
    Seq("core.encode_points_per_s" -> enc, "core.decode_points_per_s" -> dec,
      "core.agg_range_points_per_s" -> agg, "core.bucket_agg_points_per_s" -> bucket,
      "core.bytes_per_point" -> encoded.map(_.length.toLong).sum.toDouble / n)
  }
}
