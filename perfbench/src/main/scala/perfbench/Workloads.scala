package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Relational, TableManifest}
import graft.sources.TableCatalog
import graft.workflow.{Jobs, Pipeline}

/** What one unit did: rows it committed (or returned), the latency of
  * each public call it timed, and facts the output checks read. */
case class UnitOut(rows: Long, ops: Seq[(String, Double)] = Nil,
                   facts: Map[String, Any] = Map.empty)

/** A workload runs units against one session. `prepare` is part of the
  * set-up; `checks` runs once after the timed units, untimed. */
trait Workload {
  def prepare(): Unit
  def unit(u: Int): UnitOut
  def checks(): Map[String, Any]
  def report(): Map[String, Any] = Map.empty
  /** A unit that opens spans inside calls the timed units make whole;
    * traced runs run it once, untimed, after the timed units. */
  def spanPass: Option[Int => UnitOut] = None
}

object Workload {
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    seconds(t0)
  }

  def bytesUnder(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(dir))
  }

  /** Bytes of `df` written once as plain parquet under `dir`. */
  def plainBytes(df: DataFrame, dir: String): Long = {
    df.write.mode("overwrite").parquet(dir)
    bytesUnder(dir)
  }
}

import Workload._

/** `etl_job`: the paper's deployment unit, `Jobs.full_etl`, once per unit,
  * traced or not. */
final class EtlJob(spark: SparkSession, corpus: String, tmp: String,
                   plan: Plan, spans: Spans) extends Workload {
  private val work = s"$tmp/etl"
  private val registry = Jobs.builtinRegistry(work)
  private var prevLoaded = 0L

  def prepare(): Unit = new File(work).mkdirs()

  def unit(u: Int): UnitOut = {
    val (jobId, loadDate) = plan.jobs(u % plan.jobs.size)
    out(Jobs.execute(spark, registry, Jobs.JobConfig(jobId, "full_etl",
      "full_etl", loadDate, sfDir = corpus)))
  }

  private def out(r: Jobs.JobResult): UnitOut = {
    val committed = r.rowsProcessed + prevLoaded
    prevLoaded = r.rowsProcessed
    UnitOut(committed, Seq("job" -> r.durationSeconds), Map(
      "status" -> r.status, "rows" -> r.rowsProcessed,
      "variance_pct" -> r.variancePct.getOrElse(-1.0),
      "error" -> r.error.getOrElse("")))
  }

  /** `full_etl`'s body (Jobs.builtinRegistry), one span per verb. `run.py`
    * fails the run unless this pass makes as many Spark jobs and loads as
    * many rows as the traced `Jobs.execute` units, so the spans cannot
    * drift from the job they describe. */
  override def spanPass: Option[Int => UnitOut] = Some { _ =>
    val t0 = System.nanoTime()
    val main = s"$work/main"
    val extracted = spans("workflow.extract_build")(
      Relational.q03FlagshipSql(spark, corpus))
    val prev = spans("workflow.prev_count")(
      if (TableCatalog.exists(spark, main, "pah_out"))
        TableCatalog.load(spark, main, "pah_out").count()
      else 0L)
    if (prev > 0) spans("workflow.backup")(
      Pipeline.backupAndValidate(spark, main, "pah_out", s"$work/backup"))
    val loaded = spans("workflow.load")(
      Pipeline.loadAndVerify(extracted, main, "pah_out"))
    val variance = spans("workflow.validate")(
      Pipeline.validateVariance(loaded, prev))
    out(Jobs.JobResult("spans", "full_etl", "success", loaded, seconds(t0),
      variancePct = Some(variance)))
  }

  def checks(): Map[String, Any] = Map.empty

  override def report(): Map[String, Any] = {
    val main = TableCatalog.load(spark, s"$work/main", "pah_out")
    val backup = TableCatalog.load(spark, s"$work/backup", "pah_out")
    val plain = plainBytes(main, s"$tmp/plain/main") +
      plainBytes(backup, s"$tmp/plain/backup")
    Map("space_amp" -> bytesUnder(work).toDouble / plain)
  }
}

/** `manifest_ingest`: a seeded change stream on the storage tier. Each
  * commit is followed by a read of the source; the relay to the
  * destination runs every `relayEvery` commits and one maintenance pass
  * over the destination ends the cycle. */
final class ManifestIngest(spark: SparkSession, corpus: String, tmp: String,
                           plan: Plan, spans: Spans) extends Workload {
  private val src = s"$tmp/manifest/src"
  private val dst = s"$tmp/manifest/dst"
  private var slice: DataFrame = _
  private val applied = scala.collection.mutable.ArrayBuffer.empty[Plan.Op]

  private val columns = Seq("id", "ts", "l_orderkey", "l_partkey",
    "l_quantity", "l_extendedprice", "l_discount", "l_returnflag",
    "l_shipdate")

  /** The rows of keys `ids` as of version `v`: every column derives from
    * (id, v), so a batch is a pure function of the plan. */
  private def rowsOf(ids: DataFrame, v: Long): DataFrame = {
    val id = col("id")
    ids.select(id,
      lit(v).as("ts"),
      ((id * 7 + v) % 30000).as("l_orderkey"),
      ((id * 31 + v) % 4000).as("l_partkey"),
      ((id + v) % 50 + 1).cast("double").as("l_quantity"),
      ((id * 131 + v * 17) % 100000 + 900).cast("double")
        .as("l_extendedprice"),
      (((id + v) % 11).cast("double") / 100).as("l_discount"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        ((id + v) % 3 + 1).cast("int")).as("l_returnflag"),
      date_add(lit(java.sql.Date.valueOf("1995-01-02")),
        ((id * 13 + v) % 2500).cast("int")).cast("timestamp_ntz")
        .as("l_shipdate"))
  }

  private def keys(ks: Seq[Long]): DataFrame = {
    import spark.implicits._
    ks.toDF("id")
  }

  private def batch(op: Plan.Op): DataFrame = op.kind match {
    case "append" => rowsOf(spark.range(op.lo, op.lo + op.n).toDF("id"), op.v)
    case "upsert" => rowsOf(keys(op.keys), op.v)
    case "delete" => keys(op.keys)
  }

  def prepare(): Unit = {
    // one partition over the one-file table: the limit keeps the first
    // rows in file order, and ids follow it
    slice = TableCatalog.load(spark, corpus, "lineitem").coalesce(1)
      .limit(plan.sliceRows.toInt)
      .withColumn("id", monotonically_increasing_id())
      .withColumn("ts", lit(0L))
      .select(columns.map(col): _*)
      .localCheckpoint()
    spans("manifest.publish")(TableManifest.publish(spark, src, slice))
    spans("manifest.publish")(TableManifest.publish(spark, dst, slice))
  }

  private def commit(op: Plan.Op): Unit = {
    val b = batch(op)
    op.kind match {
      case "append" => spans("manifest.append")(
        TableManifest.append(spark, src, b, Some(op.v)))
      case "upsert" => spans("manifest.upsert_delta")(
        TableManifest.upsertDelta(spark, src, b, Seq("id"), "ts", "id",
          numBuckets = 4, batchId = Some(op.v)))
      case "delete" => spans("manifest.delete_rows")(
        TableManifest.deleteRows(spark, src, b, Seq("id"), Some(op.v)))
    }
  }

  def unit(u: Int): UnitOut = {
    val cycle = plan.cycles(u)
    val ops = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val dirCounts = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var rows = 0L
    cycle.zipWithIndex.foreach { case (op, i) =>
      ops += s"commit.${op.kind}" -> time(commit(op))
      applied += op
      rows += (if (op.kind == "append") op.n else op.keys.size)
      if (spans.enabled) dirCounts += dirCount(src)
      ops += "read" -> time {
        val df = spans("manifest.read_build")(TableManifest.read(spark, src))
        spans("manifest.read_action")(df.count())
      }
      if ((i + 1) % plan.relayEvery == 0)
        ops += "relay" -> time(spans("manifest.relay")(
          TableManifest.relayChanges(spark, src, dst, dstBuckets = 4)))
    }
    ops += "maintain" -> time(spans("manifest.maintain")(
      TableManifest.maintainManifested(spark, dst, targetBytes = 8L << 20)))
    val facts =
      if (dirCounts.isEmpty) Map.empty[String, Any]
      else Map(
        "generations" -> dirCounts.map(_._1).max,
        "log_files" -> dirCounts.map(_._2).max)
    UnitOut(rows, ops.toSeq, facts)
  }

  /** (generation directories, manifest log files) in a table directory. */
  private def dirCount(dir: String): (Int, Int) = {
    val names = Option(new File(dir).list()).map(_.toSeq).getOrElse(Nil)
    (names.count(_.startsWith("_gen-")),
      names.count(n => n.startsWith("_graft_manifest-") &&
        n.endsWith(".json")))
  }

  /** The same operations replayed on plain DataFrames, no manifest. */
  private def replay(): DataFrame =
    applied.zipWithIndex.foldLeft(slice) { case (state, (op, i)) =>
      val next = op.kind match {
        case "append" => state.unionByName(batch(op))
        case "upsert" => state.join(keys(op.keys), Seq("id"), "left_anti")
          .unionByName(batch(op))
        case "delete" => state.join(keys(op.keys), Seq("id"), "left_anti")
      }
      if (i % 8 == 7) next.localCheckpoint() else next
    }

  def checks(): Map[String, Any] = {
    val got = TableManifest.read(spark, src).select(columns.map(col): _*)
    val want = replay().select(columns.map(col): _*)
    val mirror = TableManifest.read(spark, dst).select(columns.map(col): _*)
    Map(
      "src_rows" -> got.count(),
      "replay_rows" -> want.count(),
      "src_minus_replay" -> got.exceptAll(want).count(),
      "replay_minus_src" -> want.exceptAll(got).count(),
      "dst_minus_src" -> mirror.exceptAll(got).count(),
      "src_minus_dst" -> got.exceptAll(mirror).count())
  }

  /** The destination holds the source's rows (checked), so the final
    * rows are written plainly once and counted for both tables. */
  override def report(): Map[String, Any] = Map("space_amp" ->
    (bytesUnder(src) + bytesUnder(dst)).toDouble /
      (2 * plainBytes(TableManifest.read(spark, src), s"$tmp/plain")))
}
