package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.BenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed span: a call into a layer, the span that caused it, and the
  * run it belongs to. Times are nanoseconds since the run's origin. */
case class Span(id: Int, name: String, parent: Int, unit: Int,
                startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the program. When disabled a
  * span only runs its body, so untraced units pay nothing for it. */
final class Spans(val runId: String) {
  private val origin = System.nanoTime()
  private val done = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 1
  var enabled = false
  var unit = -1

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        done += Span(id, name, parent, unit, t0 - origin,
          System.nanoTime() - origin)
      }
    }

  def all: Seq[Span] = done.toSeq
}

/** Counters read from outside the program: Spark's listener events and
  * query trackers, Spark's codegen metrics, the JVM's MXBeans and Hadoop's
  * per-scheme storage statistics. `snapshot` returns the running totals;
  * a unit's figures are the difference of two snapshots. */
final class Counters(spark: SparkSession) {
  private var jobs, stages, tasks = 0L
  private var runMs, cpuNs, shuffleBytes, execGcMs = 0L
  private var catalystMs = 0L
  private val running = mutable.Map.empty[Int, Long]
  // wall-clock intervals (ms) during which at least one Spark job ran
  private val busy = mutable.ArrayBuffer.empty[(Long, Long)]
  private var busySince = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      if (running.isEmpty) busySince = e.time
      running(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running.remove(e.jobId)
      if (running.isEmpty) busy += ((busySince, e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted)
        : Unit = synchronized {
      val info = e.stageInfo
      stages += 1
      tasks += info.numTasks
      val m = info.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        execGcMs += m.jvmGCTime
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Long = {
      val p = qe.tracker.phases
      Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING)
        .flatMap(p.get).map(_.durationMs).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Counters.this.synchronized { catalystMs += phases(qe) }
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit =
      Counters.this.synchronized { catalystMs += phases(qe) }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    attached = false
  }

  def drain(): Unit = BenchBus.drain(spark.sparkContext)

  /** Milliseconds of [from, to] covered by a running Spark job. */
  def busyMs(from: Long, to: Long): Long = synchronized {
    busy.iterator.map { case (a, b) =>
      math.max(0L, math.min(b, to) - math.max(a, from))
    }.sum
  }

  def snapshot(): Map[String, Double] = {
    drain()
    val compile = CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = compile.getSnapshot
    // the histogram's reservoir holds every sample up to its size, so the
    // sum is exact until then and an estimate from the mean after
    val compileMs =
      if (compile.getCount <= 1028) snap.getValues.sum.toDouble
      else snap.getMean * compile.getCount
    val fs = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    synchronized {
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.executor_run_s" -> runMs / 1e3,
        "spark.executor_cpu_s" -> cpuNs / 1e9,
        "spark.shuffle_bytes" -> shuffleBytes.toDouble,
        "spark.gc_s" -> execGcMs / 1e3,
        "spark.catalyst_ms" -> catalystMs.toDouble,
        "spark.codegen_compiles" -> compile.getCount.toDouble,
        "spark.codegen_ms" -> compileMs,
        "fs.bytes_read" -> fs.map(_.getBytesRead).sum.toDouble,
        "fs.bytes_written" -> fs.map(_.getBytesWritten).sum.toDouble,
        "jvm.classes_loaded" -> ManagementFactory.getClassLoadingMXBean
          .getTotalLoadedClassCount.toDouble,
        "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean
          .getTotalCompilationTime.toDouble,
        "jvm.gc_s" -> gcMs / 1e3)
    }
  }
}

object Counters {
  def delta(after: Map[String, Double], before: Map[String, Double])
      : Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}
