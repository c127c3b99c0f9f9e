package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.tsdb.{Labels, Promql, Ts}

/** One dashboard query from the generated pool (queries.json). */
final case class Query(shape: String, idx: Int, selector: String, from: Long, to: Long,
                       step: Long, range: Long)

/** The write path (`metrics_ingest`) and the read path
  * (`metrics_dashboard`) over the labeled metrics grid. */
object MetricsWorkloads {
  val LabelCols: Seq[String] = Seq("type", "host", "region")
  val Shapes: Seq[String] = Seq("range_agg", "range_scan", "promql")
  private val FullFrom = 0L
  private val FullTo = 4000000000L

  def points(spark: SparkSession, in: String): DataFrame =
    spark.read.parquet(s"$in/points.parquet")

  def gridPoints(in: String): Long = Json.read(s"$in/series.json").get("points").asLong

  /** One full ingest: read the raw points, chunkify, write the store. */
  def ingestOnce(ctx: Ctx, in: String, store: String): Unit = {
    val chunks = Ts.chunkify(points(ctx.spark, in), LabelCols, "ts", "v")
    ctx.tracer.sparkOp("ingest")(Ts.writeStore(chunks, store))
  }

  /** The late batches, cached once: batch `b` is one upsert's input. */
  def lateBatches(ctx: Ctx, in: String): (DataFrame, Int) = {
    val late = ctx.spark.read.parquet(s"$in/late.parquet").cache()
    late.count()
    (late, late.agg(max("batch")).head.getInt(0) + 1)
  }

  def upsertOnce(ctx: Ctx, store: String, late: DataFrame, batch: Int): Unit = {
    val pts = late.filter(col("batch") === batch).drop("batch")
    if (ctx.tracer.on) {
      val before = partitionFiles(store)
      ctx.tracer.sparkOp("upsert")(
        Ts.upsertIntoStore(ctx.spark, store, pts, LabelCols, "ts", "v"))
      val after = partitionFiles(store)
      val touched = after.keySet.filter(d => !before.get(d).contains(after(d)))
      ctx.sample("tsdb.upsert.dates_touched", touched.size)
      ctx.sample("tsdb.upsert.bytes_rewritten_per_late_point",
        touched.toSeq.flatMap(after).map(_._2).sum.toDouble / pts.count())
    } else Ts.upsertIntoStore(ctx.spark, store, pts, LabelCols, "ts", "v")
  }

  /** window_date partition -> its data files (name, size). */
  def partitionFiles(store: String): Map[String, Set[(String, Long)]] =
    Option(new File(store).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("window_date="))
      .map(d => d.getName -> Option(d.listFiles()).toSeq.flatten
        .filter(f => f.getName.endsWith(".parquet")).map(f => f.getName -> f.length()).toSet)
      .toMap

  def storeBytes(store: String): Long =
    partitionFiles(store).values.flatten.map(_._2).sum

  /** Per-series count/min/max/Σcents over the whole store, as recorded rows. */
  def fullAgg(ctx: Ctx, store: String): Seq[Seq[Any]] =
    Ts.rangeAgg(Ts.readStore(ctx.spark, store), LabelCols, FullFrom, FullTo)
      .select("type", "host", "region", "n", "min_ts", "max_ts", "min_v", "max_v", "sum_cents")
      .collect().toSeq.map(r => r.toSeq)

  def ingest(ctx: Ctx): Outcome = {
    val store = s"${ctx.work}/store"
    val pts = gridPoints(ctx.in)
    var late: DataFrame = null
    var nBatches = 0
    val setup = (0 until 3).map { pass =>
      ctx.timed {
        if (late != null) late.unpersist(true)
        val (l, n) = lateBatches(ctx, ctx.in)
        late = l; nBatches = n
        ingestOnce(ctx, ctx.in, store)
        upsertOnce(ctx, store, late, nBatches - 1 - pass)
      }._2
    }
    // upserts keep speeding up for several calls after the first (every
    // batch plans and generates code afresh); warm them past that point
    val warmup = ctx.timed((4 until 10).foreach(k => upsertOnce(ctx, store, late, nBatches - k)))._2
    // write path: repeated full ingests, then late-data upserts
    val ingests = ctx.loop(ctx.seconds * 0.35, 3)(_ => ingestOnce(ctx, ctx.in, store))
    ctx.info("ingest_seconds") = ingests
    ctx.info("store_bytes") = storeBytes(store)
    ctx.info("store_bytes_per_point") = storeBytes(store).toDouble / pts
    val afterIngest = fullAgg(ctx, store)
    val applied = mutable.ArrayBuffer.empty[Int]
    val upserts = ctx.loop(ctx.seconds * 0.65, 20) { i =>
      val b = i % nBatches
      upsertOnce(ctx, store, late, b)
      applied += b
    }
    val afterUpsert = fullAgg(ctx, store)
    Json.write(s"${ctx.work}/records.json", Map(
      "agg_after_ingest" -> afterIngest, "agg_after_upsert" -> afterUpsert,
      "applied_batches" -> applied))
    ctx.info("points_per_ingest") = pts
    Outcome(setup, warmup, pts.toDouble * ingests.size, ingests.sum, upserts)
  }

  def loadQueries(in: String): Map[String, IndexedSeq[Query]] = {
    val root = Json.read(s"$in/queries.json")
    Shapes.map { shape =>
      val arr = root.get(shape)
      shape -> (0 until arr.size).map { i =>
        val q = arr.get(i)
        if (shape == "promql")
          Query(shape, i, q.get("query").asText, q.get("start").asLong, q.get("end").asLong,
            q.get("step").asLong, q.get("range").asLong)
        else
          Query(shape, i, q.get("selector").asText, q.get("from").asLong, q.get("to").asLong,
            0L, 0L)
      }
    }.toMap
  }

  /** Run one dashboard query as a client would: open the store for the
    * query's window, build the frame, plan it and collect it. Returns
    * the result in a canonical, sorted form. */
  def runQuery(ctx: Ctx, store: String, q: Query): Seq[Seq[Any]] = {
    val spark = ctx.spark
    val t = ctx.tracer
    t.span(s"tsdb.${q.shape}") {
      val df = t.span(s"tsdb.${q.shape}.build") {
        q.shape match {
          case "range_agg" =>
            Labels.selectRangeAgg(Ts.readStore(spark, store, q.from, q.to), LabelCols,
              q.selector, q.from, q.to)
              .select("type", "host", "region", "n", "min_ts", "max_ts", "min_v", "max_v",
                "sum_cents")
          case "range_scan" =>
            Labels.selectRange(Ts.readStore(spark, store, q.from, q.to), LabelCols,
              q.selector, q.from, q.to)
              .agg(count(lit(1)).as("n"), sum("ts").as("sum_ts"),
                sum(round(col("v") * 100).cast("long")).as("sum_cents"))
          case "promql" =>
            Promql.evalRange(Ts.readStore(spark, store, q.from - q.range, q.to), LabelCols,
              q.selector, q.from, q.to, q.step)
              .select("region", "ts", "value")
        }
      }
      t.span(s"tsdb.${q.shape}.plan")(df.queryExecution.executedPlan)
      val rows = t.span(s"tsdb.${q.shape}.exec")(df.collect())
      if (t.on) ScanStats.record(ctx, q.shape, df)
      rows.toSeq.map(_.toSeq).sortBy(_.mkString("\u0001"))
    }
  }

  def dashboard(ctx: Ctx): Outcome = {
    val store = s"${ctx.work}/store"
    val pool = loadQueries(ctx.in)
    val setup = (0 until 3).map { _ =>
      ctx.timed {
        ingestOnce(ctx, ctx.in, store)
        Shapes.foreach(s => runQuery(ctx, store, pool(s)(0)))
      }._2
    }
    // one pass over the whole pool, so every panel's plan has been
    // generated and compiled before the timed refreshes start
    val warmup = ctx.timed(pool.values.flatten.foreach(q => runQuery(ctx, store, q)))._2
    val rng = new java.util.Random(ctx.seed)
    val first = mutable.LinkedHashMap.empty[(String, Int), Seq[Seq[Any]]]
    val runs = mutable.Map.empty[(String, Int), Int].withDefaultValue(0)
    val mismatches = mutable.Map.empty[(String, Int), Int].withDefaultValue(0)
    val perShape = Shapes.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    // one round is one dashboard refresh: each panel shape once, in a
    // seeded order; round i runs query i of each pool, cycling, and the
    // loop ends on a whole cycle so every query runs equally often
    val rounds = ctx.loop(ctx.seconds, 40, pool(Shapes.head).size) { i =>
      val order = scala.util.Random.javaRandomToRandom(rng).shuffle(Shapes)
      order.foreach { shape =>
        val q = pool(shape)(i % pool(shape).size)
        val (rows, dt) = ctx.timed(runQuery(ctx, store, q))
        perShape(shape) += dt
        val key = (shape, q.idx)
        runs(key) += 1
        first.get(key) match {
          case None => first(key) = rows
          case Some(r) => if (r != rows) mismatches(key) += 1
        }
      }
    }
    Json.write(s"${ctx.work}/records.json", first.toSeq.map { case ((shape, idx), rows) =>
      Map("shape" -> shape, "idx" -> idx, "rows" -> rows, "runs" -> runs((shape, idx)),
        "mismatches" -> mismatches((shape, idx)))
    })
    Shapes.foreach(s => ctx.info(s"${s}_p50_s") = Stats.median(perShape(s).toSeq))
    ctx.info("store_bytes_per_point") = storeBytes(store).toDouble / gridPoints(ctx.in)
    Outcome(setup, warmup, rounds.size * Shapes.size.toDouble, rounds.sum, rounds)
  }
}

/** Scan-side figures of a traced query: rows (chunks), bytes and files
  * read by the store scans of its executed plan. */
object ScanStats extends AdaptiveSparkPlanHelper {
  def record(ctx: Ctx, shape: String, df: DataFrame): Unit = {
    val scans = collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec => s
    }
    def total(k: String) = scans.map(_.metrics.get(k).map(_.value).getOrElse(0L)).sum.toDouble
    ctx.sample(s"plans.$shape.chunks_read", total("numOutputRows"))
    ctx.sample(s"plans.$shape.scan_bytes", total("filesSize"))
    ctx.sample(s"plans.$shape.files_read", total("numFiles"))
  }
}
