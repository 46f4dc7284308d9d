package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest

/** The `graft-manifest` Structured Streaming SOURCE: offsets are
  * manifest versions owned by the ENGINE's checkpoint, micro-batches
  * are generation-set diffs, restarts replay the checkpointed range
  * exactly, and history mutation surfaces as a stream error. */
class GraftManifestSourceSpec extends AnyFunSuite with SuiteTempRoot {
  private lazy val spark = TestSpark.spark

  private def tmpDir(prefix: String): String =
    suiteTempDir(prefix)

  private def rows(ids: Range, tag: String): DataFrame = {
    import spark.implicits._
    ids.map(i => (i.toLong, tag)).toDF("id", "tag")
  }

  test("readStream.format(graft-manifest) delivers each version once " +
      "across a checkpoint restart (exactly-once, engine-owned offsets)") {
    val tbl = tmpDir("msrc") + "/t"
    val ckpt = tmpDir("msrcckpt")
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    TableManifest.append(spark, tbl, rows(0 until 10, "a"))
    val delivered =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val batchIds =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(tbl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          batchIds.add(id)
          df.collect().foreach(r =>
            delivered.add((r.getLong(0), r.getString(1))))
          ()
        }
        .start()
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    }
    run() // batch 0: everything after the seed
    TableManifest.append(spark, tbl, rows(10 until 25, "b"))
    TableManifest.append(spark, tbl, rows(25 until 30, "c"))
    run() // restart from the engine checkpoint: only the new versions
    run() // no new commits: nothing re-delivered
    import scala.jdk.CollectionConverters._
    val got = delivered.asScala.toSeq.sorted
    val expect = ((0 until 10).map(i => (i.toLong, "a")) ++
      (10 until 25).map(i => (i.toLong, "b")) ++
      (25 until 30).map(i => (i.toLong, "c"))).sorted
    assert(got == expect, s"delivered ${got.size} rows, " +
      s"expected ${expect.size} — duplicates or drops across restart")
    assert(batchIds.asScala.toSet.size == batchIds.size) // ids unique
  }

  test("a maintenance rewrite on the streamed table surfaces as a " +
      "stream ERROR, and a merge-on-read delta likewise — never " +
      "silent drops") {
    val tbl = tmpDir("msrcloud") + "/t"
    val ckpt = tmpDir("msrcloudckpt")
    TableManifest.publish(spark, tbl, rows(0 until 0, "seed"))
    TableManifest.append(spark, tbl, rows(0 until 5, "a"))
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(tbl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (_: DataFrame, _: Long) => () }
        .start()
      try { q.processAllAvailable(); q.stop() }
      catch { case e: Throwable => q.stop(); throw e }
    }
    run()
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))
    TableManifest.append(spark, tbl, rows(5 until 8, "b"))
    val e = intercept[Exception] { run() }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(rootChain(e).exists(_.contains("REWRITTEN")),
      rootChain(e).mkString(" | "))
  }

  test("changefeed mode streams merge-on-read upserts and row deletes " +
      "as op-coded rows, exactly-once across a checkpoint restart; " +
      "rewrites still surface as a stream error") {
    import spark.implicits._
    val tbl = tmpDir("msrccf") + "/t"
    val ckpt = tmpDir("msrccfckpt")
    def r(ids: Range, ts: Long, tag: String): DataFrame =
      ids.map(i => (i.toLong, ts, tag)).toDF("id", "ts", "tag")
    TableManifest.publish(spark, tbl, r(0 until 0, 0, "seed"))
    TableManifest.append(spark, tbl, r(0 until 6, 1, "a"))
    TableManifest.upsertDelta(spark, tbl, r(3 until 9, 2, "b"),
      Seq("id"), "ts", "id", numBuckets = 4)
    val delivered = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Long, Long)]() // (op, version, id)
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest")
        .option("changefeed", "true").load(tbl)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.collect().foreach { row =>
            delivered.add((
              row.getString(row.fieldIndex(TableManifest.ChangeOpCol)),
              row.getLong(row.fieldIndex(TableManifest.ChangeVersionCol)),
              row.getLong(row.fieldIndex("id"))))
          }
          ()
        }
        .start()
      try { q.processAllAvailable(); q.stop() }
      catch { case e: Throwable => q.stop(); throw e }
    }
    run() // append + upsert delivered op-coded
    TableManifest.deleteRows(spark, tbl,
      Seq(0L, 1L).toDF("id"), Seq("id"))
    run() // restart from the checkpoint: only the delete version
    run() // idle: nothing re-delivered
    import scala.jdk.CollectionConverters._
    val got = delivered.asScala.toSeq.sorted
    val expect = ((0 until 6).map(i => ("insert", 2L, i.toLong)) ++
      (3 until 9).map(i => ("upsert", 3L, i.toLong)) ++
      Seq(("delete", 4L, 0L), ("delete", 4L, 1L))).sorted
    assert(got == expect, s"got ${got.mkString(",")}")
    // what a changefeed cannot represent stays LOUD through the stream
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))
    TableManifest.append(spark, tbl, r(20 until 22, 5, "c"))
    val e = intercept[Exception] { run() }
    def rootChain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
    assert(rootChain(e).exists(_.contains("REWRITTEN")),
      rootChain(e).mkString(" | "))
  }

  test("source composes with the manifested sink: manifest -> stream " +
      "-> manifest, all state in engine checkpoint + destination " +
      "watermark") {
    import spark.implicits._
    val src = tmpDir("msrcpipe") + "/src"
    val dst = tmpDir("msrcpipe2") + "/dst"
    val ckpt = tmpDir("msrcpipeckpt")
    TableManifest.publish(spark, src, rows(0 until 0, "seed"))
    TableManifest.publish(spark, dst, rows(0 until 0, "seed"))
    TableManifest.append(spark, src, rows(0 until 12, "a"))
    def run(): Unit = {
      val q = spark.readStream.format("graft-manifest").load(src)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch(TableManifest.streamingSink(dst, writerId = "pipe"))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    run()
    TableManifest.append(spark, src, rows(12 until 20, "b"))
    run()
    run() // idle restart: watermark + checkpoint both skip
    def canon(dir: String): Array[String] =
      TableManifest.read(spark, dir)
        .select(concat_ws("|", col("id"), col("tag")))
        .as[String].collect().sorted
    assert(canon(dst).sameElements(canon(src)))
    assert(canon(dst).length == 20)
  }
}
