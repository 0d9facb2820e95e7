package perfbench

import java.io.File
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
import graft.util.Json.{JArr, JNum, JObj, JStr, JValue}

/** What one run needs: the session, its tracer, and where it may write. */
final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
    seconds: Int, cores: Int, work: String, expected: Map[String, String])

/** One timed operation of a pass: a query, a detector stage or a
  * micro-batch. `run` returns a fingerprint of its output (a checksum or
  * a count) that must not change between passes; `kind` names the
  * per-layer sum the operation's time is added to.
  */
final case class Op(name: String, kind: String, run: () => String)

/** A workload: repeated set-up, then passes of operations, then untimed
  * checks. The runner times everything and derives the metrics.
  */
trait Workload {
  def ctx: Ctx
  /** One set-up repetition; the last one's state is measured. */
  def setup(): Unit
  def ops: Seq[Op]
  /** Untimed correctness checks after the measured phase: failure messages. */
  def check(): Seq[String] = Nil
  /** Workload-specific per-layer metrics for a finished pass (traced runs). */
  def passLayers(pass: Int): Map[String, Double] = Map.empty
  /** Workload-specific per-layer metrics for the whole run (traced runs). */
  def runLayers: Map[String, Double] = Map.empty
  /** Called after each pass, with its number (1 = first). */
  def afterPass(pass: Int): Seq[String] = Nil
}

final case class PassResult(seconds: Double, opSeconds: Seq[(String, Double)],
    layers: Map[String, Double])

final case class Outcome(attempted: Long, failed: Long, failures: Seq[String],
    endToEnd: Seq[(String, Double)], perLayer: Map[String, Double],
    extra: Seq[(String, JValue)])

object Bench {
  val SetupReps = 3
  val MinWarmPasses = 2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Bench's checksum action: xxhash64 of every output column, XORed. */
  def checksum(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).as("__h"))
      .agg(bit_xor(col("__h")))

  /** Runs one frame-producing operation as build → plan → exec spans. */
  def frameOp(ctx: Ctx, buildLayer: String, build: => DataFrame,
      action: DataFrame => DataFrame): String = {
    val t = ctx.tracer
    val df = t.span(buildLayer, "build")(build)
    val res = action(df)
    t.span("spark.plan", "plan")(res.queryExecution.executedPlan)
    val rows: Array[Row] = t.span("spark.exec", "exec")(res.collect())
    rows.map(r => if (r.isNullAt(0)) "null" else r.get(0).toString).mkString(",")
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length()
    else Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)

  def oldGenUsedMb(): Double = {
    import scala.jdk.CollectionConverters._
    System.gc()
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(p.getUsage.getUsed))
      .sum / (1024.0 * 1024.0)
  }

  def run(w: Workload, sessionSeconds: Double): Outcome = {
    val ctx = w.ctx
    val tracer = ctx.tracer
    val failures = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    val fingerprints = mutable.LinkedHashMap[String, String]()

    val setupTimes = (1 to SetupReps).map(_ => timed(w.setup())._2)
    val heap = mutable.ArrayBuffer[Double]()

    def runPass(pass: Int): PassResult = {
      // pass 1 keeps the declared order: the first operation pays most of
      // the JIT and codegen warm-up, and a seeded order made first_pass_s
      // depend on which operation that was
      val order = if (pass == 1) w.ops else new Random(ctx.seed * 1000003L + pass).shuffle(w.ops)
      val before = tracer.snapshot()
      val kinds = mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      val opTimes = tracer.span("bench", s"pass$pass") {
        order.map { op =>
          attempted += 1
          val (fp, sec) = timed {
            try Some(tracer.span("op", op.name)(op.run()))
            catch {
              case e: Throwable =>
                failed += 1
                failures += s"${op.name} (pass $pass): ${e.getClass.getSimpleName}: " +
                  Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200)
                None
            }
          }
          fp.foreach { f =>
            fingerprints.get(op.name) match {
              case Some(prev) if prev != f =>
                failed += 1
                failures += s"${op.name} (pass $pass): output $f differs from pass 1's $prev"
              case Some(_) =>
              case None =>
                fingerprints(op.name) = f
                ctx.expected.get(op.name).filter(_ != f).foreach { want =>
                  failed += 1
                  failures += s"${op.name}: checksum $f, expected $want"
                }
            }
          }
          kinds(op.kind) = kinds.getOrElse(op.kind, 0.0) + sec
          op.name -> sec
        }
      }
      val t1 = System.nanoTime()
      val passFailures = w.afterPass(pass)
      failures ++= passFailures
      failed += passFailures.size
      // counters first: the GC that measures the heap is the benchmark's own
      val after = tracer.snapshot()
      if (tracer.enabled) heap += oldGenUsedMb()
      val layers =
        if (!tracer.enabled) Map.empty[String, Double]
        else {
          val spans = tracer.allSpans.filter(s => s.startNs >= t0 && s.startNs < t1)
          def sum(layer: String) = spans.filter(_.layer == layer).map(_.seconds).sum
          val jobs = spans.filter(_.layer == "spark.job").map(s => (s.startNs, s.endNs))
          val jobBusy = Trace.unionSeconds(jobs)
          val counters = after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
          val self = Trace.selfSeconds(tracer.allSpans, t0, t1).map {
            case (layer, v) => s"self.${layer.replace('.', '_')}_s" -> v
          }
          counters ++ kinds ++ self ++ w.passLayers(pass) ++ Map(
            "relational.build_s" -> sum("relational"),
            "spark.plan_s" -> sum("spark.plan"),
            "spark.exec_s" -> sum("spark.exec"),
            "spark.nojob_s" -> ((t1 - t0) / 1e9 - jobBusy),
            // share of the cores busy while at least one job runs
            "spark.core_util" ->
              (if (jobBusy > 0) counters("spark.executor_run_s") / (jobBusy * ctx.cores) else 0.0))
        }
      PassResult((t1 - t0) / 1e9, opTimes, layers)
    }

    val first = runPass(1)
    val warm = mutable.ArrayBuffer[PassResult]()
    val warmStart = System.nanoTime()
    while (warm.size < MinWarmPasses ||
        (System.nanoTime() - warmStart) / 1e9 < ctx.seconds)
      warm += runPass(warm.size + 2)

    val (checks, checkSeconds) = timed(w.check())
    failures ++= checks
    attempted += 1
    if (checks.nonEmpty) failed += 1

    val warmPass = median(warm.map(_.seconds).toSeq)
    val e2e = Seq(
      "setup_s" -> (sessionSeconds + median(setupTimes)),
      "first_pass_s" -> first.seconds,
      "warm_pass_s" -> warmPass)
    val perLayer: Map[String, Double] =
      if (!tracer.enabled) Map.empty
      else {
        val keys = warm.flatMap(_.layers.keys).distinct
        val warmMedians = keys.map(k => k -> median(warm.map(_.layers.getOrElse(k, 0.0)).toSeq))
        val firstOnly = Seq(
          "codegen.compiles_first" -> first.layers.getOrElse("codegen.compiles", 0.0),
          "codegen.compile_first_s" -> first.layers.getOrElse("codegen.compile_s", 0.0),
          "spark.jobs_first" -> first.layers.getOrElse("spark.jobs", 0.0))
        (warmMedians ++ firstOnly ++ w.runLayers :+ ("jvm.heap_peak_mb" -> heap.max)).toMap
      }
    val extra = Seq(
      "fingerprints" -> JObj(fingerprints.toSeq.map { case (k, v) => k -> JStr(v) }),
      "warm_pass_times_s" -> JArr(warm.map(p => JNum(p.seconds)).toSeq),
      "op_first_s" -> JObj(first.opSeconds.map { case (k, v) => k -> JNum(v) }),
      "op_warm_median_s" -> JObj(first.opSeconds.map(_._1).map { k =>
        k -> JNum(median(warm.flatMap(_.opSeconds.filter(_._1 == k).map(_._2)).toSeq))
      }),
      "setup_reps_s" -> JArr(setupTimes.map(JNum)),
      "session_s" -> JNum(sessionSeconds),
      "check_s" -> JNum(checkSeconds))
    Outcome(attempted, failed, failures.toSeq, e2e, perLayer, extra)
  }
}
