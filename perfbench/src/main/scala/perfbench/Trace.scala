package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.BenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import graft.util.Json.{JNum, JObj, JStr}

/** One timed interval at a layer boundary. `parent` is the span that
  * caused it (0 for a root); times are `System.nanoTime` readings.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer, Spark job
  * spans (linked to their caller through a job group set per span) and
  * cumulative Spark/JVM counters. Disabled, every call is a plain
  * pass-through: no listener, no job groups, nothing recorded.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack[Long]()
  private val spans = mutable.ArrayBuffer[Span]()
  private val openJobs = new ConcurrentHashMap[Int, (Long, Long)]()
  private val origin = System.nanoTime()
  // job events carry wall-clock millis; map them onto the nanoTime axis
  private val wallToNano = System.currentTimeMillis() * 1000000L - System.nanoTime()

  private object totals {
    var jobs, stages, tasks = 0L
    var shuffleRead, shuffleWrite, spill, input = 0L
    var runMs, cpuNs, gcMs = 0L
  }

  private val GroupPrefix = "perfbench-"

  if (enabled) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .map(_.stripPrefix(GroupPrefix).toLong).getOrElse(0L)
      openJobs.put(e.jobId, (e.time * 1000000L - wallToNano, parent))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, parent) = openJobs.remove(e.jobId)
      record(Span(nextId.getAndIncrement(), parent, "spark.job",
        s"job${e.jobId}", start, e.time * 1000000L - wallToNano))
      totals.synchronized(totals.jobs += 1)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      totals.synchronized(totals.stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) totals.synchronized {
        totals.tasks += 1
        totals.runMs += m.executorRunTime
        totals.cpuNs += m.executorCpuTime
        totals.gcMs += m.jvmGCTime
        totals.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        totals.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        totals.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        totals.input += m.inputMetrics.bytesRead
      }
    }
  })

  private def record(s: Span): Unit = spans.synchronized(spans += s)

  /** Times `body` as a span of `layer`; jobs it launches join its group. */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      stack.push(id)
      sc.setJobGroup(s"$GroupPrefix$id", s"$layer:$name")
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        record(Span(id, parent, layer, name, t0, t1))
        if (parent == 0L) sc.clearJobGroup()
        else sc.setJobGroup(s"$GroupPrefix$parent", "")
      }
    }

  /** Cumulative counters; differences between two snapshots give a pass's
    * share. Waits for queued listener events first.
    */
  def snapshot(): Map[String, Double] = {
    if (!enabled) return Map.empty
    BenchAccess.drainListeners(sc)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    val mb = 1024.0 * 1024.0
    totals.synchronized(Map(
      "spark.jobs" -> totals.jobs.toDouble,
      "spark.stages" -> totals.stages.toDouble,
      "spark.tasks" -> totals.tasks.toDouble,
      "spark.shuffle_read_mb" -> totals.shuffleRead / mb,
      "spark.shuffle_write_mb" -> totals.shuffleWrite / mb,
      "spark.spill_mb" -> totals.spill / mb,
      "spark.input_mb" -> totals.input / mb,
      "spark.executor_run_s" -> totals.runMs / 1e3,
      "spark.executor_cpu_s" -> totals.cpuNs / 1e9,
      "spark.executor_gc_s" -> totals.gcMs / 1e3,
      // the histogram keeps a sample reservoir: mean × count approximates
      // the running sum of compile milliseconds
      "codegen.compiles" -> compile.getCount.toDouble,
      "codegen.compile_s" -> compile.getSnapshot.getMean * compile.getCount / 1e3,
      "jvm.gc_s" -> gcs.map(_.getCollectionTime).sum / 1e3,
      "jvm.gc_count" -> gcs.map(_.getCollectionCount).sum.toDouble))
  }

  def allSpans: Seq[Span] = spans.synchronized(spans.toVector)

  /** Writes every span as one JSON object per line, times in nanoseconds
    * since the tracer started.
    */
  def write(path: String): Unit = if (enabled) {
    val lines = allSpans.sortBy(_.startNs).map { s =>
      JObj(Seq("id" -> JNum(s.id), "parent" -> JNum(s.parent), "layer" -> JStr(s.layer),
        "name" -> JStr(s.name), "start_ns" -> JNum(s.startNs - origin),
        "end_ns" -> JNum(s.endNs - origin))).render
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}

object Trace {
  /** Total length of the union of `[start, end)` intervals. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total += curE - curS
    total / 1e9
  }

  /** Self time per layer of the spans inside `[from, to)`: each span's
    * duration minus the part of it its children cover. Job spans are
    * children of the span whose group they ran under.
    */
  def selfSeconds(spans: Seq[Span], from: Long, to: Long): Map[String, Double] = {
    val inside = spans.filter(s => s.startNs >= from && s.startNs < to)
    val children = inside.groupBy(_.parent)
    inside.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val kids = children.getOrElse(s.id, Nil)
          .map(k => (math.max(k.startNs, s.startNs), math.min(k.endNs, s.endNs)))
          .filter { case (a, b) => b > a }
        s.seconds - unionSeconds(kids)
      }.sum
    }
  }
}
