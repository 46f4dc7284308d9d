package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Runs one workload in this JVM and writes its raw samples as JSON for
  * `run.py`, which computes the metrics and judges the output checks.
  *
  *   perfbench.Main --workload <name> --corpus <dir> --tmp <dir>
  *     --plan <file> --out <file> [--spans <file>] --seconds <s>
  *     --warmup <units> --min-warm <units> --max-warm <units>
  *     --trace <0|1> --cores <n>
  *
  * Warm units run until `--seconds` have passed, and at least `--min-warm`
  * and at most `--max-warm` of them. Every file the run writes is under
  * `--tmp`, except `--out`/`--spans`. With `--trace 1` warm units
  * alternate between traced (spans and counters on) and untraced, so one
  * run gives both and their difference is the tracing overhead; the
  * workload's span pass, if it has one, follows the warm units. */
object Main {

  private def session(cores: Int, tmp: String): SparkSession = {
    val spark = GraftSession
      .builder(s"local[$cores]", shufflePartitions = cores,
        appName = "perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .config("spark.local.dir", s"$tmp/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    def arg(k: String) = args.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val workloadName = arg("workload")
    val corpus = arg("corpus")
    val tmp = arg("tmp")
    val trace = arg("trace") == "1"
    val cores = arg("cores").toInt
    val plan = {
      val src = scala.io.Source.fromFile(arg("plan"))
      try Plan.parse(src.getLines()) finally src.close()
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spans = new Spans(s"$workloadName-${jvmStartMs}")
    spans.enabled = trace
    val t0 = System.nanoTime()
    val spark = spans("session.build")(session(cores, tmp))
    val sessionBuildS = Workload.seconds(t0)
    val counters = if (trace) Some(new Counters(spark)) else None
    counters.foreach(_.attach())
    val workload: Workload = workloadName match {
      case "etl_job" => new EtlJob(spark, corpus, tmp, plan, spans)
      case "manifest_ingest" =>
        new ManifestIngest(spark, corpus, tmp, plan, spans)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    spans("fixture")(workload.prepare())
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val result = mutable.LinkedHashMap[String, Any](
      "setup_s" -> setupS, "session_build_s" -> sessionBuildS)
    result("setup_layers") = counters.map(_.snapshot()).getOrElse(Map.empty)
    result("setup_spans") = spans.all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum }

    val units = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runUnit(u: Int, kind: String, traced: Boolean)(
        body: => UnitOut): Unit = {
      System.gc() // outside the timed window
      counters.foreach(c => if (traced) c.attach() else c.detach())
      spans.enabled = traced
      spans.unit = u
      val before = counters.filter(_ => traced).map(_.snapshot())
      val startMs = System.currentTimeMillis()
      val t = System.nanoTime()
      val (out, error) =
        try (body, "")
        catch {
          case e: Exception =>
            e.printStackTrace()
            (UnitOut(0L), e.toString.replaceAll("\\s+", " ").take(300))
        }
      val wall = Workload.seconds(t)
      val endMs = System.currentTimeMillis()
      val layers = (for (c <- counters; b <- before) yield {
        val d = Counters.delta(c.snapshot(), b)
        val api = spans.all.filter(_.unit == u)
        def sum(suffix: String) = api.filter(_.name.endsWith(suffix))
          .map(s => (s.endNs - s.startNs) / 1e9).sum
        d ++ Map(
          "spark.driver_s" -> (wall - c.busyMs(startMs, endMs) / 1e3),
          "spark.cpu_util" ->
            d("spark.executor_cpu_s") / (wall * cores),
          "api.build_s" -> sum("build"),
          "spans" -> api.groupBy(_.name).map { case (n, ss) =>
            n -> ss.map(s => (s.endNs - s.startNs) / 1e9).sum })
      }).getOrElse(Map.empty)
      units += Map("unit" -> u, "kind" -> kind, "traced" -> traced,
        "wall_s" -> wall, "rows" -> out.rows, "error" -> error,
        "ops" -> out.ops.map { case (k, v) => Seq(k, v) },
        "facts" -> out.facts, "layers" -> layers)
    }

    val maxUnits = workloadName match {
      case "manifest_ingest" => plan.cycles.size
      case _ => Int.MaxValue
    }
    def checks(): Unit = result("checks") =
      try workload.checks()
      catch { case e: Exception => e.printStackTrace(); Map("error" -> e.toString) }
    runUnit(0, "cold", trace)(workload.unit(0))
    result("cold_layers") = counters.map(_.snapshot()).getOrElse(Map.empty)
    counters.foreach(_.detach())
    var u = 1
    val warmup = arg("warmup").toInt
    while (u <= warmup && u < maxUnits) {
      runUnit(u, "warmup", traced = false)(workload.unit(u))
      u += 1
    }
    val deadline = System.nanoTime() + (arg("seconds").toDouble * 1e9).toLong
    val minWarm = arg("min-warm").toInt
    val maxWarm = arg("max-warm").toInt
    var warm = 0
    while ((System.nanoTime() < deadline || warm < minWarm) &&
        warm < maxWarm && u < maxUnits) {
      // traced runs alternate: even warm units traced, odd untraced
      runUnit(u, "warm", trace && warm % 2 == 0)(workload.unit(u))
      u += 1
      warm += 1
    }
    if (trace) workload.spanPass.foreach { pass =>
      runUnit(u, "spans", traced = true)(pass(u))
    }
    counters.foreach(_.detach())
    spans.enabled = false
    System.gc()
    result("units") = units.toSeq
    checks()
    result("report") =
      try workload.report()
      catch { case e: Exception => e.printStackTrace(); Map("error" -> e.toString) }
    result("peak_rss_kb") = peakRssKb()
    result("env") = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "master" -> spark.sparkContext.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString)
    Json.write(arg("out"), result.toMap)
    args.get("--spans").foreach { f =>
      Files.write(Paths.get(f), spans.all.map { s =>
        Json.render(Map("run" -> spans.runId, "id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "unit" -> s.unit,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      }.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    spark.stop()
  }
}

object Json {
  def render(v: Any): String =
    org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(
      org.json4s.DefaultFormats)

  def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), render(v).getBytes(UTF_8))
}
