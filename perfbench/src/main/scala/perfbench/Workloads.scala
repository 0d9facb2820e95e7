package perfbench

import java.io.File
import java.sql.Timestamp
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import graft.{SparkEntry, Tables}
import graft.relational.PipelineQueries
import graft.streaming.StreamingDetectors
import graft.streaming.StreamingDetectors.{FlaggedPoint, Point, StreamEvent}
import graft.ts._

/** Registered queries over seeded parquet tables: set-up writes the
  * tables and loads them; each pass runs every query through Bench's
  * checksum action.
  */
abstract class QueryWorkload(val ctx: Ctx) extends Workload {
  def queryNames: Seq[String]
  def tables: Seq[String]
  def writeTables(dir: String): Unit
  def kindOf(query: String): String

  protected var dir: String = _
  private var reps = 0
  private var tableLoadSeconds = Seq.empty[Double]

  def setup(): Unit = {
    reps += 1
    dir = s"${ctx.work}/data$reps"
    new File(dir).mkdirs()
    writeTables(dir)
    val (_, load) = Bench.timed(ctx.tracer.span("sources", "table_load") {
      tables.foreach(t => Tables.load(ctx.spark, dir, t).count())
    })
    tableLoadSeconds :+= load
  }

  def ops: Seq[Op] = queryNames.map { q =>
    val f = SparkEntry.queries(q)
    Op(q, kindOf(q), () =>
      Bench.frameOp(ctx, "relational", f(ctx.spark, dir), Bench.checksum))
  }

  override def runLayers: Map[String, Double] =
    Map("sources.table_load_s" -> Bench.median(tableLoadSeconds))
}

/** Registered `det_*` queries over a seeded `events` table. */
final class DetectEvents(ctx: Ctx, val queryNames: Seq[String], rows: Int, users: Int)
    extends QueryWorkload(ctx) {
  val tables = Seq("events")
  def writeTables(dir: String): Unit =
    DataGen.writeSingle(DataGen.events(ctx.spark, ctx.seed, rows, users), dir, "events")
  def kindOf(q: String): String = "relational.detect_s"
}

/** Stored-index lifecycle and tokenizer queries over a seeded corpus.
  * Pass 1 builds every artifact under the run's own empty artifact root
  * (the writes); later passes serve them (the reads).
  */
final class Corpus(ctx: Ctx, val queryNames: Seq[String], expectedBuilds: Int, docs: Int)
    extends QueryWorkload(ctx) {
  val tables = Seq("documents")

  def writeTables(dir: String): Unit =
    DataGen.writeSingle(DataGen.documents(ctx.spark, ctx.seed, docs), dir, "documents")

  def kindOf(q: String): String =
    if (q.contains("delete")) "pipeline.delete_s"
    else if (q.contains("compact")) "pipeline.compact_s"
    else if (q.contains("wordpiece")) "pipeline.tokenize_s"
    else "pipeline.screen_s"

  private val builds = mutable.Map[Int, Int]()
  private var artifactMb = 0.0

  private def artifactRoot: File = new File(System.getProperty("java.io.tmpdir"))

  override def afterPass(pass: Int): Seq[String] = {
    builds(pass) = PipelineQueries.indexBuildsThisJvm.size
    PipelineQueries.resetIndexBuildLog()
    if (pass == 1) {
      artifactMb = Option(artifactRoot.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("graft_"))
        .map(Bench.dirBytes).sum / (1024.0 * 1024.0)
      if (builds(1) != expectedBuilds)
        Seq(s"pass 1 built ${builds(1)} artifacts, expected $expectedBuilds")
      else Nil
    } else if (builds(pass) != 0) Seq(s"pass $pass rebuilt ${builds(pass)} artifacts")
    else Nil
  }

  override def passLayers(pass: Int): Map[String, Double] =
    Map("pipeline.artifact_builds" -> builds.getOrElse(pass, 0).toDouble)

  override def runLayers: Map[String, Double] = super.runLayers ++ Map(
    "pipeline.artifact_builds_first" -> builds.getOrElse(1, 0).toDouble,
    "pipeline.artifact_mb" -> artifactMb)
}

/** Detector stages over a persisted synthetic sensor frame, counted by
  * flagged rows: the ensemble, the three recursive detectors and the
  * chunked (segmented-scan) CUSUM.
  */
final class DetectScale(val ctx: Ctx, rows: Long, series: Long) extends Workload {
  private val spec = SeriesSpec(seriesId = Seq("series_id"))
  private var df: DataFrame = _
  private var tableLoad = Seq.empty[Double]

  def setup(): Unit = {
    if (df != null) df.unpersist(blocking = true)
    val (_, s) = Bench.timed(ctx.tracer.span("sources", "table_load") {
      df = DataGen.sensors(ctx.spark, ctx.seed, rows, series).persist()
      df.count()
    })
    tableLoad :+= s
  }

  private val ensemble = CombinedDetector(Seq(
    RangeDetector(-15, 15), DiffDetector(5.0), HampelDetector(5, 3.0)))
  private val cusum = CusumDetector(target = 0.5, slack = 12.0, threshold = 400.0)
  /** Series 0, which always has flags: the chunked scan's distributed
    * formulation.
    */
  private def oneSeries: DataFrame = df.filter(col("series_id") === 0).drop("series_id")

  private def flagged(d: DataFrame): DataFrame = d.filter(col(spec.flag)).groupBy().count()

  private var stageSeconds = 0.0
  private var stagesRun = 0

  private def stage(name: String, kind: String)(build: => DataFrame): Op =
    Op(name, kind, () => {
      val (fp, sec) = Bench.timed(Bench.frameOp(ctx, "ts", build, flagged))
      stageSeconds += sec
      stagesRun += 1
      fp
    })

  def ops: Seq[Op] = Seq(
    stage("ensemble_3det", "ts.ensemble_s")(ensemble.detect(df, spec)),
    stage("ewma", "ts.recursive_s")(EwmaDetector(0.3, 20.0).detect(df, spec)),
    stage("holt", "ts.recursive_s")(HoltDetector(0.5, 0.3, 20.0).detect(df, spec)),
    stage("cusum", "ts.recursive_s")(cusum.detect(df, spec)),
    stage("cusum_chunked_1series", "ts.chunked_s")(
      cusum.detectChunked(oneSeries, SeriesSpec(), 3600L)))

  override def passLayers(pass: Int): Map[String, Double] = {
    val rate = if (stageSeconds > 0) rows * stagesRun / stageSeconds else 0.0
    stageSeconds = 0.0
    stagesRun = 0
    Map("ts.rows_per_s" -> rate)
  }

  /** Count of the flagged rows and XOR of the hashes of their keys:
    * equal masks, equal pair.
    */
  private def mask(d: DataFrame): (Long, Long) = {
    val keys = d.columns.filter(c => c == "series_id" || c == "ts").map(col).toIndexedSeq
    val r = d.filter(col(spec.flag)).select(xxhash64(keys: _*).as("h"))
      .agg(count(lit(1)), coalesce(bit_xor(col("h")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  override def check(): Seq[String] = {
    // the OR invariant holds series by series: check a tenth of them
    val some = df.filter(col("series_id") % 10 === 0)
    val members = ensemble.detectors.zipWithIndex.foldLeft(some) { case (acc, (d, i)) =>
      d.detect(acc, spec.copy(flag = s"m$i"))
    }
    val orMismatch = ensemble.detect(members, spec)
      .filter(col(spec.flag) =!= (col("m0") || col("m1") || col("m2"))).count()
    val (seqFlags, seqHash) = mask(cusum.detect(oneSeries, SeriesSpec()))
    val (chunkFlags, chunkHash) = mask(cusum.detectChunked(oneSeries, SeriesSpec(), 3600L))
    Seq(
      if (orMismatch != 0) Some(s"ensemble mask != OR of members on $orMismatch rows") else None,
      // series 0 carries fixed spikes, so an empty mask is itself a failure
      if (seqFlags == 0) Some("sequential CUSUM flags no row of series 0") else None,
      if (chunkFlags != seqFlags || chunkHash != seqHash)
        Some(s"chunked CUSUM mask ($chunkFlags rows) != sequential mask ($seqFlags rows)")
      else None
    ).flatten
  }

  override def runLayers: Map[String, Double] =
    Map("sources.table_load_s" -> Bench.median(tableLoad))
}

/** Seeded points for `series` sensors fed through `MemoryStream`s in
  * fixed-size micro-batches into five stateful streaming detectors with
  * memory sinks. A pass is `batchesPerPass` batches; each operation adds
  * one batch and waits until every query has processed it.
  */
final class DetectStream(val ctx: Ctx, series: Int, pointsPerBatch: Int,
    batchesPerPass: Int) extends Workload {
  import ctx.spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = ctx.spark.sqlContext

  private var points: MemoryStream[Point] = _
  private var events: MemoryStream[StreamEvent] = _
  private var queries = Seq.empty[(String, StreamingQuery)]
  private var batch = 0
  private var rep = 0
  private val fed = mutable.ArrayBuffer[Point]()

  private val Start = 1704067200000L
  private val ewma = (0.3, 20.0)
  private val holt = (0.5, 0.3, 20.0)
  private val cusum = (0.5, 12.0, 400.0)
  private val maxDiff = 5.0
  private val hampel = (5, 3.0)

  private def sink(name: String) = s"${name}_r$rep"

  /** Points of batch `b`: for each series the next `pointsPerBatch`
    * one-minute samples (smooth signal, noise, 0.1% spikes, 0.1% nulls).
    */
  private def batchPoints(b: Int): Seq[Point] = {
    val rng = new SplittableRandom(ctx.seed * 7919L + b)
    for (j <- 0 until pointsPerBatch; s <- 0 until series) yield {
      val t = b.toLong * pointsPerBatch + j
      val r = rng.nextInt(1000)
      val v: java.lang.Double =
        if (r == 0) null
        else math.floor((math.sin(t / 50.0 + s) * 10 + rng.nextDouble() +
          (if (r == 1) 500.0 else 0.0)) * 64) / 64
      Point(s"s$s", new Timestamp(Start + t * 60000L), v)
    }
  }

  private def stopQueries(): Unit = queries.foreach(_._2.stop())

  def setup(): Unit = {
    stopQueries()
    rep += 1
    batch = 0
    fed.clear()
    ctx.tracer.span("streaming", "start") {
      points = MemoryStream[Point]
      events = MemoryStream[StreamEvent]
      val ds = points.toDS()
      def start(name: String, out: Dataset[FlaggedPoint]): (String, StreamingQuery) =
        name -> out.writeStream.format("memory").queryName(sink(name))
          .outputMode("append")
          .option("checkpointLocation", s"${ctx.work}/checkpoints/${sink(name)}")
          .start()
      queries = Seq(
        start("ewma", StreamingDetectors.ewmaStream(ds, ewma._1, ewma._2)),
        start("holt", StreamingDetectors.holtStream(ds, holt._1, holt._2, holt._3)),
        start("cusum", StreamingDetectors.cusumStream(ds, cusum._1, cusum._2, cusum._3)),
        start("diff", StreamingDetectors.diffStream(ds, maxDiff)),
        start("hampel", StreamingDetectors.hampelStream(events.toDS(), hampel._1, hampel._2)))
    }
  }

  private def addAndWait(pts: Seq[Point], evs: Seq[StreamEvent]): Unit = {
    points.addData(pts)
    events.addData(evs)
    queries.foreach(_._2.processAllAvailable())
  }

  def ops: Seq[Op] = (0 until batchesPerPass).map { i =>
    Op(s"batch$i", "streaming.batch_s", () => {
      val pts = batchPoints(batch)
      batch += 1
      fed ++= pts
      ctx.tracer.span("streaming", "add_batch") {
        addAndWait(pts, pts.map(p => StreamEvent(p.series_id, p.ts, p.value, eos = false)))
      }
      pts.size.toString
    })
  }

  // traced runs: progress of every micro-batch, grouped into passes
  private val progress = mutable.ArrayBuffer[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  private var passStart = 0
  if (ctx.tracer.enabled) ctx.spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized(progress += e.progress)
  })

  override def passLayers(pass: Int): Map[String, Double] = {
    val ps = progress.synchronized {
      val s = progress.slice(passStart, progress.size).toVector
      passStart = progress.size
      s.filter(_.numInputRows > 0)
    }
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)).sum / 1e3
    val ops = ps.flatMap(_.stateOperators)
    val latest = ps.groupBy(_.id).values.map(_.maxBy(_.batchId)).flatMap(_.stateOperators)
    Map(
      "streaming.add_batch_s" -> dur("addBatch"),
      "streaming.planning_s" -> dur("queryPlanning"),
      "streaming.state_commit_s" -> ops.map(_.commitTimeMs).sum / 1e3,
      "streaming.state_rows" -> latest.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mb" -> latest.map(_.memoryUsedBytes).sum / (1024.0 * 1024.0))
  }

  override def check(): Seq[String] = {
    val all = fed.toSeq.toDF().cache()
    val spec = SeriesSpec(seriesId = Seq("series_id"))
    val batchDetectors: Map[String, Detector] = Map(
      "ewma" -> EwmaDetector(ewma._1, ewma._2),
      "holt" -> HoltDetector(holt._1, holt._2, holt._3),
      "cusum" -> CusumDetector(cusum._1, cusum._2, cusum._3),
      "diff" -> DiffDetector(maxDiff),
      "hampel" -> HampelDetector(hampel._1, hampel._2))
    def masks(df: DataFrame): Map[(String, Timestamp), Boolean] =
      df.select("series_id", "ts", "is_anomaly").collect()
        .map(r => (r.getString(0), r.getTimestamp(1)) -> r.getBoolean(2)).toMap
    val failures = queries.flatMap { case (name, _) =>
      val want = masks(batchDetectors(name).detect(all, spec))
      val got = masks(ctx.spark.table(sink(name)))
      // the Hampel stream emits a point once `windowSize` later points
      // exist, so the last `windowSize` points of each series are pending
      val pending = if (name == "hampel") series * hampel._1 else 0
      val wrong = got.count { case (k, v) => !want.get(k).contains(v) }
      if (wrong > 0 || want.size - got.size != pending)
        Some(s"$name stream mask differs from batch: $wrong wrong flags, " +
          s"${want.size - got.size} points not emitted (expected $pending)")
      else None
    }
    all.unpersist()
    stopQueries()
    failures
  }
}

/** Several workloads' operations interleaved in one pass. */
final class Composite(val ctx: Ctx, parts: Seq[Workload]) extends Workload {
  def setup(): Unit = parts.foreach(_.setup())
  def ops: Seq[Op] = parts.flatMap(_.ops)
  override def check(): Seq[String] = parts.flatMap(_.check())
  override def afterPass(pass: Int): Seq[String] = parts.flatMap(_.afterPass(pass))
  override def passLayers(pass: Int): Map[String, Double] =
    parts.map(_.passLayers(pass)).reduce(_ ++ _)
  override def runLayers: Map[String, Double] =
    parts.map(_.runLayers).reduce { (a, b) =>
      (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap
    }
}
