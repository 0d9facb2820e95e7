package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.util.Json
import graft.util.Json.{JBool, JNum, JObj, JStr, JValue}

/** Benchmark JVM entry point; `perfbench/run.py` builds and launches it.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --result <file> --expected <checksums.json>
  *   [--spans <file>]
  *
  * Writes one JSON object to `--result`; with `--trace 1` also the spans
  * to `--spans`.
  */
object Main {
  /** Input sizes per workload, fixed so every seed does the same work. */
  def workload(name: String, ctx: Ctx): Workload = name match {
    case "detect" => new Composite(ctx, Seq(
      new DetectEvents(ctx, Seq("det_combined"), rows = 20000, users = 300),
      new DetectScale(ctx, rows = 400000L, series = 2000L),
      new DetectStream(ctx, series = 1000, pointsPerBatch = 2, batchesPerPass = 1)))
    case "corpus" => new Corpus(ctx, Seq(
      "p109_exact_screen", "p159_index_delete", "p167_exact_compact", "p112_wordpiece"),
      expectedBuilds = 4, docs = 500)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The session `graft.Bench` builds: shuffle partitions = cores, plan
    * strings capped, codegen cache sized to a query suite, UTC, no UI.
    */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val name = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val work = opts("work")
    val expected = Checksums.read(opts("expected"), name, seed)
    val cores = Runtime.getRuntime.availableProcessors()

    // JVM start and the heap pre-touch are left out of set-up: they depend
    // on the benchmark's JVM flags, not on the program
    val (spark, sessionSeconds) = Bench.timed(session(cores, work))
    val tracer = new Tracer(spark, trace)
    val ctx = Ctx(spark, tracer, seed, seconds, cores, work, expected)
    val outcome = Bench.run(workload(name, ctx), sessionSeconds)
    opts.get("spans").foreach(tracer.write)

    // bare values: BENCHMARK.json gives the units, and run.py attaches them
    def metricsJson(ms: Seq[(String, Double)]): JValue = JObj(ms.map { case (k, v) => k -> JNum(v) })
    val metrics =
      if (trace) metricsJson(outcome.perLayer.toSeq.sortBy(_._1))
      else metricsJson(outcome.endToEnd)
    val json = JObj(Seq(
      "correct" -> JBool(outcome.failed == 0),
      "attempted" -> JNum(outcome.attempted),
      "failed" -> JNum(outcome.failed),
      "metrics" -> metrics,
      "failures" -> Json.JArr(outcome.failures.map(JStr)),
      "workload" -> JStr(name),
      "seed" -> JNum(seed),
      "trace" -> JBool(trace),
      "cores" -> JNum(cores),
      "checked_against_table" -> JBool(expected.nonEmpty),
      "end_to_end" -> metricsJson(outcome.endToEnd)) ++ outcome.extra).render
    Files.write(Paths.get(opts("result")), (json + "\n").getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** The committed expected-checksum table, written by `run.py --record`:
  * one flat JSON object `{"<workload>/<seed>/<op>": "<value>", ...}`.
  */
object Checksums {
  def read(path: String, workload: String, seed: Long): Map[String, String] = {
    val f = new java.io.File(path)
    if (!f.isFile) return Map.empty
    val prefix = s"$workload/$seed/"
    Json.parse(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)) match {
      case JObj(fs) => fs.collect {
        case (k, v) if k.startsWith(prefix) => k.stripPrefix(prefix) -> v.str
      }.toMap
      case _ => sys.error(s"$path is not a JSON object")
    }
  }
}
