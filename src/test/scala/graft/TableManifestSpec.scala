package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.TableManifest

class TableManifestSpec extends AnyFunSuite with SuiteTempRoot {
  // a child session: the manifested-catalog names this suite registers
  // point into its temp root, deleted in afterAll, so they must not
  // stay registered in the shared session other suites query through
  private lazy val spark = TestSpark.spark.newSession()

  private def tmpTable(prefix: String): String =
    suiteTempDir(prefix) + "/t"

  test("publish/read round-trips; rewrite advances the pointer and " +
      "retains exactly the previous generation; direct reads of the " +
      "table dir cannot double-count generations") {
    import spark.implicits._
    val tbl = tmpTable("manif")
    val g1 = TableManifest.publish(spark, tbl,
      (0 until 100).map(i => (i.toLong, "v1")).toDF("id", "tag"))
    assert(TableManifest.currentGeneration(spark, tbl).contains(g1))
    assert(TableManifest.read(spark, tbl).count() == 100)
    val g2 = TableManifest.rewrite(spark, tbl)(df =>
      df.withColumn("tag", lit("v2")).repartition(2))
    val g3 = TableManifest.rewrite(spark, tbl)(df =>
      df.withColumn("tag", lit("v3")))
    assert(TableManifest.read(spark, tbl)
      .select("tag").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("v3"))
    // retention: current + previous generation only — g1 is gone, g2 (the
    // one a concurrent reader may still hold) survives
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val gens = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(gens == Set(g2, g3), gens.toString)
    // generation dirs are hidden from direct listing: reading the TABLE
    // dir (instead of through the pointer) fails loudly rather than
    // silently unioning generations
    intercept[Exception] { spark.read.parquet(tbl).collect() }
  }

  test("a reader iterating DURING rewrites sees exactly one whole " +
      "generation — old or new, never a mix, never a missing tree") {
    import spark.implicits._
    val tbl = tmpTable("manifrace")
    def gen(tag: String) =
      (0 until 500).map(i => (i.toLong, tag)).toDF("id", "tag")
    TableManifest.publish(spark, tbl, gen("v0"))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = TableManifest.read(spark, tbl)
            .agg(count(lit(1)), countDistinct(col("tag"))).head
          if (r.getLong(0) != 500L || r.getLong(1) != 1L)
            violations.add(s"torn read: ${r.toString}")
          reads.incrementAndGet()
        } catch {
          case e: Throwable => violations.add(s"read failed: $e")
        }
      }
    })
    reader.start()
    try {
      // each rewrite is a full old→new transition under the reader; the
      // writer waits for reader progress between swaps so every swap is
      // actually observed (and a stalled-reader generation is never two
      // rewrites behind — the retention contract's bound)
      (1 to 5).foreach { v =>
        val before = reads.get()
        TableManifest.rewrite(spark, tbl)(df =>
          df.withColumn("tag", lit(s"v$v")))
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (reads.get() == before && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(reads.get() > before, "reader made no progress")
      }
    } finally {
      stop.set(true)
      reader.join(30000)
    }
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    assert(TableManifest.read(spark, tbl)
      .select("tag").distinct().head.getString(0) == "v5")
  }

  test("append accumulates generations without rewriting data; read is " +
      "the union; versions()/readVersion() time-travel inside the " +
      "retention window; rewrite compacts the log back to ONE generation") {
    import spark.implicits._
    val tbl = tmpTable("manifapp")
    def batch(tag: String, from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, tag)).toDF("id", "tag")
    val g1 = TableManifest.publish(spark, tbl, batch("base", 0, 100))
    val gA = TableManifest.append(spark, tbl, batch("a", 100, 50))
    val gB = TableManifest.append(spark, tbl, batch("b", 150, 25))
    assert(gA.isDefined && gB.isDefined && gA != gB)
    // the base generation was NOT rewritten: all three dirs live, the
    // newest version references all three
    assert(TableManifest.currentGenerations(spark, tbl).toSet ==
      Set(g1, gA.get, gB.get))
    val now = TableManifest.read(spark, tbl)
    assert(now.count() == 175)
    assert(now.groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("base" -> 100L, "a" -> 50L, "b" -> 25L))
    // time travel: append-chain versions SHARE generations with the
    // head, so the whole history stays readable
    assert(TableManifest.versions(spark, tbl) == Seq(1L, 2L, 3L))
    assert(TableManifest.readVersion(spark, tbl, 1L).count() == 100)
    assert(TableManifest.readVersion(spark, tbl, 2L).count() == 150)
    assert(TableManifest.readVersion(spark, tbl, 3L).count() == 175)
    // a version that never committed fails loudly, naming the window
    val err = intercept[IllegalArgumentException] {
      TableManifest.readVersion(spark, tbl, 99L)
    }
    assert(err.getMessage.contains("retained"), err.getMessage)
    // rewrite = manifest-log compaction: back to ONE generation, same
    // rows; the superseded chain stays readable while its data survives
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))
    assert(TableManifest.currentGenerations(spark, tbl).size == 1)
    assert(TableManifest.read(spark, tbl).count() == 175)
    assert(TableManifest.readVersion(spark, tbl, 3L).count() == 175)
    assert(TableManifest.readVersion(spark, tbl, 1L).count() == 100)
    // a SECOND rewrite ages the chain out of retention: its generations
    // vacuum, the window cuts to the last two rewrites, and reading an
    // evicted version names the vacuum
    TableManifest.rewrite(spark, tbl)(df => df)
    assert(TableManifest.versions(spark, tbl) == Seq(4L, 5L))
    val evicted = intercept[IllegalArgumentException] {
      TableManifest.readVersion(spark, tbl, 2L)
    }
    assert(evicted.getMessage.contains("vacuumed"), evicted.getMessage)
    assert(TableManifest.readVersion(spark, tbl, 4L).count() == 175)
  }

  test("exactly-once ingest: a replayed batch id commits nothing, and " +
      "the watermark SURVIVES a compaction between batches") {
    import spark.implicits._
    val tbl = tmpTable("manifeo")
    def batch(tag: String, from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, tag)).toDF("id", "tag")
    TableManifest.publish(spark, tbl, batch("seed", 0, 0).limit(0))
    assert(TableManifest.append(spark, tbl, batch("b0", 0, 10),
      batchId = Some(0L)).isDefined)
    assert(TableManifest.append(spark, tbl, batch("b1", 10, 10),
      batchId = Some(1L)).isDefined)
    // replay of batch 1 (crash between sink commit and checkpoint): skipped
    assert(TableManifest.append(spark, tbl, batch("b1", 10, 10),
      batchId = Some(1L)).isEmpty)
    // a batch id BELOW the watermark is an ID REGRESSION, not a replay —
    // a real replay only ever re-offers the LAST batch. r10 silently
    // skipped these (the quiet-loss mode its contract documented); now
    // it fails loudly, naming the recovery recipe
    val reg = intercept[IllegalStateException] {
      TableManifest.append(spark, tbl, batch("b0", 0, 10),
        batchId = Some(0L))
    }
    assert(reg.getMessage.contains("REGRESSED") &&
      reg.getMessage.contains("writerId"), reg.getMessage)
    assert(TableManifest.lastBatchId(spark, tbl).contains(1L))
    assert(TableManifest.read(spark, tbl).count() == 20)
    // a compaction between batches must CARRY the watermark — otherwise
    // a post-compaction replay would double-append
    TableManifest.rewrite(spark, tbl)(df => df.coalesce(1))
    assert(TableManifest.lastBatchId(spark, tbl).contains(1L),
      "compaction dropped the exactly-once watermark")
    assert(TableManifest.append(spark, tbl, batch("b1", 10, 10),
      batchId = Some(1L)).isEmpty,
      "replay after compaction must still be covered")
    assert(TableManifest.append(spark, tbl, batch("b2", 20, 5),
      batchId = Some(2L)).isDefined)
    assert(TableManifest.read(spark, tbl).count() == 25)
    val dup = TableManifest.read(spark, tbl).groupBy("id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    assert(dup == 1L, s"exactly-once violated: a row appears $dup times")
  }

  test("concurrent appenders: the fresh-name manifest rename is a CAS — " +
      "losers rebase onto the winner and EVERY batch lands exactly once") {
    import spark.implicits._
    val tbl = tmpTable("manifcas")
    TableManifest.publish(spark, tbl,
      Seq((-1L, "seed")).toDF("id", "tag"))
    val writers = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes =
      new java.util.concurrent.ConcurrentHashMap[Int, String]()
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            try {
              // every writer pre-builds its frame, then all commit at once
              val df = (0 until 10)
                .map(i => ((w * 100 + i).toLong, s"w$w")).toDF("id", "tag")
              start.await()
              val r =
                TableManifest.append(spark, tbl, df, maxRetries = writers * 2)
              outcomes.put(w, s"committed:$r")
            } catch {
              case t: Throwable => outcomes.put(w, s"failed:$t")
            }
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    import scala.jdk.CollectionConverters._
    assert(!outcomes.asScala.values.exists(_.startsWith("failed")),
      outcomes.asScala.toSeq.sortBy(_._1).mkString("; "))
    val rows = TableManifest.read(spark, tbl)
    assert(rows.count() == 1 + writers * 10,
      "a lost-CAS append dropped or duplicated a batch — outcomes: " +
        outcomes.asScala.toSeq.sortBy(_._1).mkString("; "))
    assert(rows.groupBy("tag").count().count() == 1 + writers,
      "some writer's batch is missing entirely")
    // the loser's rebase preserved every winner: the newest version
    // references one generation per commit (seed + all writers)
    assert(TableManifest.currentGenerations(spark, tbl).size == 1 + writers)
  }

  test("rewrite vs concurrent append: the version READ is the CAS BASE — " +
      "an append landing mid-transform survives the retried compaction " +
      "with its exactly-once watermark intact") {
    import spark.implicits._
    val tbl = tmpTable("maniftoctou")
    TableManifest.publish(spark, tbl,
      (0 until 50).map(i => (i.toLong, "base")).toDF("id", "tag"))
    val late = (1000 until 1010).map(i => (i.toLong, "late")).toDF("id", "tag")
    val first = new java.util.concurrent.atomic.AtomicBoolean(true)
    // batch 7 commits BETWEEN the rewrite's read and its commit — the
    // window where a re-read CAS base would silently drop it (the
    // review-caught TOCTOU): the rewrite must LOSE, delete its stale
    // result, and re-derive from the head that includes the batch
    TableManifest.rewrite(spark, tbl) { df =>
      if (first.getAndSet(false))
        TableManifest.append(spark, tbl, late, batchId = Some(7L))
      df.coalesce(1)
    }
    val rows = TableManifest.read(spark, tbl)
    assert(rows.count() == 60,
      "an append racing the rewrite vanished from the compacted table")
    assert(rows.filter(col("tag") === "late").count() == 10)
    // the compaction collapsed the log (retry attempt won)…
    assert(TableManifest.currentGenerations(spark, tbl).size == 1)
    // …and the batch watermark still covers a post-compaction replay
    assert(TableManifest.lastBatchId(spark, tbl).contains(7L))
    assert(TableManifest.append(spark, tbl, late, batchId = Some(7L)).isEmpty,
      "replay after the raced compaction must still be covered")
  }

  // ---- streaming-harness helpers shared by the foreachBatch replay
  // tests: a staged-then-atomic-move parquet input writer, an
  // AvailableNow one-file-per-batch runner, and the torn-checkpoint
  // surgery. The surgery is subtle: the commit record AND its hidden
  // .crc sibling must be deleted together, or the restart fails on the
  // CRC rename instead of replaying the batch.
  private def stageInput(base: String, name: String,
                         df: org.apache.spark.sql.DataFrame): Unit = {
    df.coalesce(1).write.parquet(s"$base/stage_$name") // stage whole…
    val f = new java.io.File(s"$base/stage_$name").listFiles()
      .filter(_.getName.endsWith(".parquet")).head // …then move atomically
    java.nio.file.Files.move(f.toPath,
      java.nio.file.Paths.get(s"$base/in/$name.parquet"))
  }

  private def runAvailableNow(schema: String, in: String, ckpt: String,
      sink: (org.apache.spark.sql.DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(in)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Tear the checkpoint: offsets for the last batch survive, its
    * commit record does not — EXACTLY the crash window foreachBatch
    * re-offers the batch for, under the same batch id. */
  private def tearLastCommit(ckpt: String): Unit = {
    val committed = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toLong).sorted
    assert(committed.nonEmpty)
    assert(new java.io.File(s"$ckpt/commits/${committed.last}").delete())
    new java.io.File(s"$ckpt/commits/.${committed.last}.crc").delete()
  }

  private def emptySeed(schema: String): org.apache.spark.sql.DataFrame =
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType.fromDDL(schema))

  test("streamingSink is exactly-once under a REAL foreachBatch replay: " +
      "re-offering the last batch after a torn checkpoint commits nothing") {
    import spark.implicits._
    val base = suiteTempDir("manifsink")
    val in = s"$base/in"; val tbl = s"$base/t"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    def writeInput(name: String, from: Int, n: Int): Unit =
      stageInput(base, name,
        (from until from + n).map(i => (i.toLong, s"r$i")).toDF("id", "v"))
    writeInput("f1", 0, 8)
    writeInput("f2", 8, 8)
    val schema = "id BIGINT, v STRING"
    TableManifest.publish(spark, tbl, emptySeed(schema))
    def runOnce(): Unit =
      runAvailableNow(schema, in, ckpt, TableManifest.streamingSink(tbl))
    runOnce()
    assert(TableManifest.read(spark, tbl).count() == 16)
    val lastBatch = TableManifest.lastBatchId(spark, tbl).get
    tearLastCommit(ckpt)
    runOnce() // replays the torn batch with the same id → sink skips it
    assert(TableManifest.read(spark, tbl).count() == 16,
      "replayed batch was appended twice")
    assert(TableManifest.lastBatchId(spark, tbl).contains(lastBatch))
    val dup = TableManifest.read(spark, tbl).groupBy("id").count()
      .agg(org.apache.spark.sql.functions.max("count")).head.getLong(0)
    assert(dup == 1L, s"duplicate rows after replay: $dup")
    // and NEW data after the recovery still flows
    writeInput("f3", 16, 4)
    runOnce()
    assert(TableManifest.read(spark, tbl).count() == 20)
  }

  test("optimizeManifested: fragmented ingest compacts through ONE " +
      "atomic commit with content identical; an already-compact table " +
      "decides skip and commits NOTHING; the plan follows the byte target") {
    import spark.implicits._
    val tbl = tmpTable("manifopt")
    def batch(from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, s"v$i")).toDF("id", "tag")
    TableManifest.publish(spark, tbl, batch(0, 400).repartition(6))
    TableManifest.append(spark, tbl, batch(400, 100).repartition(3))
    TableManifest.append(spark, tbl, batch(500, 100).repartition(3))
    val beforeRows = TableManifest.read(spark, tbl)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(TableManifest.read(spark, tbl).inputFiles.length == 12)
    val headBefore = TableManifest.versions(spark, tbl).last
    // generous target → 1-file plan → compact
    val (a1, g1) = TableManifest.optimizeManifested(spark, tbl, 1L << 30)
    assert(a1 == "compact" && g1.isDefined)
    val opt = TableManifest.read(spark, tbl)
    assert(opt.inputFiles.length == 1)
    assert(opt.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      beforeRows, "optimize changed table content")
    assert(TableManifest.versions(spark, tbl).last == headBefore + 1)
    // second pass: at the plan already → skip, and NO version commits
    val (a2, g2) = TableManifest.optimizeManifested(spark, tbl, 1L << 30)
    assert(a2 == "skip" && g2.isEmpty)
    assert(TableManifest.versions(spark, tbl).last == headBefore + 1,
      "a skip decision must not commit a version")
    // a small byte target plans MORE than one file
    val bytes = {
      val fs = new org.apache.hadoop.fs.Path(tbl)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val gen = TableManifest.currentGenerations(spark, tbl).head
      TableManifest.dataFiles(fs, s"$tbl/$gen").map(_.getLen).sum
    }
    // re-fragment, then optimize to a ~half-table target → 2-file plan
    TableManifest.rewrite(spark, tbl)(_.repartition(8))
    val (a3, _) =
      TableManifest.optimizeManifested(spark, tbl, math.max(1L, bytes / 2))
    assert(a3 == "compact")
    val n3 = TableManifest.read(spark, tbl).inputFiles.length
    assert(n3 >= 2 && n3 < 8, s"expected a ~2-3 file plan, got $n3")
  }

  test("upsertSink materializes the latest row per key through the " +
      "manifest, exactly-once under a REAL torn-checkpoint replay, with " +
      "the superseded snapshot still time-travel-readable") {
    import spark.implicits._
    val base = suiteTempDir("manifup")
    val in = s"$base/in"; val tbl = s"$base/t"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    def writeInput(name: String, rows: Seq[(Long, Long, String)]): Unit =
      stageInput(base, name, rows.toDF("key", "seq", "state"))
    // two files = two micro-batches (maxFilesPerTrigger=1): key 10 is
    // updated across batches, key 20 re-delivered identically, key 30
    // arrives late with an OLDER seq and must lose to the newer state
    writeInput("f1", Seq((10L, 1L, "a"), (20L, 1L, "x"), (30L, 5L, "hot")))
    writeInput("f2", Seq((10L, 2L, "b"), (20L, 1L, "x"), (30L, 3L, "stale")))
    val schema = "key BIGINT, seq BIGINT, state STRING"
    TableManifest.publish(spark, tbl, emptySeed(schema))
    val sink = TableManifest.upsertSink(tbl, Seq("key"), "seq", "state")
    def runOnce(): Unit = runAvailableNow(schema, in, ckpt, sink)
    runOnce()
    def snapshot(): Map[Long, (Long, String)] =
      TableManifest.read(spark, tbl).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(snapshot() == Map(10L -> ((2L, "b")), 20L -> ((1L, "x")),
      30L -> ((5L, "hot"))), snapshot().toString)
    val head = TableManifest.versions(spark, tbl).last
    // the restart re-offers the last batch under the same id and the
    // watermark must SKIP it: the head version does not advance
    tearLastCommit(ckpt)
    runOnce()
    assert(TableManifest.versions(spark, tbl).last == head,
      "a replayed upsert batch committed a new version")
    assert(snapshot()(10L) == ((2L, "b")))
    // the pre-merge snapshot is still time-travel-readable
    assert(TableManifest.readVersion(spark, tbl, head - 1)
      .filter(col("key") === 10L).head.getString(2) == "a")
    // new changes still flow after the recovery
    writeInput("f3", Seq((10L, 3L, "c"), (40L, 1L, "new")))
    runOnce()
    assert(snapshot() == Map(10L -> ((3L, "c")), 20L -> ((1L, "x")),
      30L -> ((5L, "hot")), 40L -> ((1L, "new"))), snapshot().toString)
  }

  private def genInventory(tbl: String,
                           gens: Seq[String]): Map[String, Map[String, (Long, String)]] =
    gens.map { g =>
      val dir = new java.io.File(s"$tbl/$g")
      g -> dir.listFiles().filter(f => f.isFile &&
          !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map { f =>
          val bytes = java.nio.file.Files.readAllBytes(f.toPath)
          val md5 = java.security.MessageDigest.getInstance("MD5")
            .digest(bytes).map("%02x".format(_)).mkString
          f.getName -> ((f.length(), md5))
        }.toMap
    }.toMap

  test("upsertBucketed rewrites ONLY the buckets a batch touches: " +
      "untouched buckets' generation files are BYTE-IDENTICAL across " +
      "the commit, content matches the total-order winner per key, the " +
      "bucket layout is pinned, and non-upsert commits trigger a " +
      "one-time re-bucket migration") {
    import spark.implicits._
    val tbl = tmpTable("manifbuck")
    def rows(pairs: (Long, Long, String)*): org.apache.spark.sql.DataFrame =
      pairs.toDF("key", "seq", "state")
    // seed with REAL rows (unbucketed publish) — the first upsert must
    // migrate the whole table into the bucket layout once
    TableManifest.publish(spark, tbl,
      rows((0 until 64).map(k => (k.toLong, 1L, s"v1-$k")): _*))
    val g2 = TableManifest.upsertBucketed(spark, tbl,
      rows((10L, 2L, "hot"), (11L, 2L, "warm")),
      keyCols = Seq("key"), tsCol = "seq", tieCol = "state",
      numBuckets = 8, batchId = Some(0L))
    assert(g2.isDefined)
    val gensAfterMigrate = TableManifest.currentGenerations(spark, tbl)
    assert(gensAfterMigrate.forall(g =>
      TableManifest.bucketOf(g).isDefined),
      s"migration must leave every generation bucketed: $gensAfterMigrate")
    assert(TableManifest.read(spark, tbl).count() == 64)
    assert(TableManifest.read(spark, tbl)
      .filter(col("key") === 10L).head.getString(2) == "hot")
    // INCREMENTAL batch: touches exactly key 10's bucket — every other
    // bucket's generation must survive by REFERENCE (same names, same
    // bytes: never opened, never copied)
    val before = genInventory(tbl, gensAfterMigrate)
    val g3 = TableManifest.upsertBucketed(spark, tbl,
      rows((10L, 3L, "hotter")),
      Seq("key"), "seq", "state", numBuckets = 8, batchId = Some(1L))
    assert(g3.isDefined && g3.get.size == 1,
      s"a one-key batch must rewrite exactly one bucket: $g3")
    val gensNow = TableManifest.currentGenerations(spark, tbl)
    val untouched = gensNow.toSet.intersect(gensAfterMigrate.toSet)
    assert(untouched.size == gensAfterMigrate.size - 1,
      s"exactly one bucket generation may be replaced: before=" +
        s"$gensAfterMigrate now=$gensNow")
    val after = genInventory(tbl, untouched.toSeq)
    untouched.foreach { g =>
      assert(after(g) == before(g),
        s"untouched bucket $g changed on disk (names/sizes/md5)")
    }
    // content: still 64 keys, winner per key across all batches
    val snap = TableManifest.read(spark, tbl)
    assert(snap.count() == 64)
    assert(snap.filter(col("key") === 10L).head.getString(2) == "hotter")
    assert(snap.filter(col("key") === 11L).head.getString(2) == "warm")
    assert(snap.filter(col("key") === 12L).head.getString(2) == "v1-12")
    assert(snap.groupBy("key").count().agg(max("count")).head
      .getLong(0) == 1L, "duplicate keys after incremental merges")
    // exactly-once: same batch id replays skip; a regressed id is loud
    assert(TableManifest.upsertBucketed(spark, tbl,
      rows((10L, 9L, "replayed")), Seq("key"), "seq", "state", 8,
      batchId = Some(1L)).isEmpty, "replay must skip")
    intercept[IllegalStateException] {
      TableManifest.upsertBucketed(spark, tbl, rows((10L, 9L, "old")),
        Seq("key"), "seq", "state", 8, batchId = Some(0L))
    }
    // the layout is pinned: a different bucket count refuses loudly
    val mismatch = intercept[IllegalArgumentException] {
      TableManifest.upsertBucketed(spark, tbl, rows((10L, 9L, "x")),
        Seq("key"), "seq", "state", numBuckets = 16, batchId = Some(2L))
    }
    assert(mismatch.getMessage.contains("bucketed 8-way"),
      mismatch.getMessage)
    // an EMPTY batch with a batch id commits a watermark-only version:
    // no generation changes, replay bookkeeping advances
    val headBefore = TableManifest.versions(spark, tbl).last
    assert(TableManifest.upsertBucketed(spark, tbl,
      rows().limit(0).toDF(), Seq("key"), "seq", "state", 8,
      batchId = Some(2L)).contains(Seq.empty))
    assert(TableManifest.versions(spark, tbl).last == headBefore + 1)
    assert(TableManifest.currentGenerations(spark, tbl) == gensNow)
    assert(TableManifest.lastBatchId(spark, tbl).contains(2L))
    // a non-upsert commit (append) mixes in an unbucketed generation
    // and clears the pinned layout — the NEXT upsert re-buckets once,
    // and the appended rows keep their winner semantics
    TableManifest.append(spark, tbl,
      rows((100L, 1L, "appended"), (10L, 4L, "appended-newer")))
    assert(TableManifest.upsertBucketed(spark, tbl,
      rows((101L, 1L, "fresh")), Seq("key"), "seq", "state", 8,
      batchId = Some(3L)).isDefined)
    val fin = TableManifest.read(spark, tbl)
    assert(fin.count() == 66) // 64 + keys 100, 101
    assert(fin.filter(col("key") === 10L).head.getString(2) ==
      "appended-newer", "migration must fold appended rows into winners")
    assert(TableManifest.currentGenerations(spark, tbl)
      .forall(g => TableManifest.bucketOf(g).isDefined),
      "re-bucket migration incomplete")
  }

  test("merge-on-read deltas: a SPREAD-key batch commits O(batch) bytes " +
      "with every base generation carried BY REFERENCE (byte-identical); " +
      "reads resolve winners through the manifest's merge rule; " +
      "compactDeltas folds per-bucket, clears the rule, and is " +
      "idempotent; time travel pre-fold sees merged content") {
    import spark.implicits._
    val tbl = tmpTable("manifmor")
    def rows(pairs: (Long, Long, String)*): org.apache.spark.sql.DataFrame =
      pairs.toDF("key", "seq", "state")
    TableManifest.publish(spark, tbl,
      rows((0 until 2048).map(k => (k.toLong, 1L, s"v1-$k")): _*))
    // boot: first delta call on a non-bucketed table routes through the
    // one-time copy-on-write migration
    assert(TableManifest.upsertBucketedDelta(spark, tbl,
      rows((0L, 2L, "boot")), Seq("key"), "seq", "state",
      numBuckets = 8, batchId = Some(0L)).isDefined)
    val base = TableManifest.currentGenerations(spark, tbl)
    assert(base.forall(g => TableManifest.bucketOf(g).isDefined))
    assert(!base.exists(TableManifest.isDeltaGen))
    // SPREAD batch: every 32nd key — touches ALL 8 buckets, the CoW
    // degenerate case. The delta path must write the batch and nothing
    // else: every base generation carried by name AND byte-identical
    val before = genInventory(tbl, base)
    val spread = rows((0 until 2048 by 32)
      .map(k => (k.toLong, 3L, s"v3-$k")): _*)
    val deltas = TableManifest.upsertBucketedDelta(spark, tbl, spread,
      Seq("key"), "seq", "state", 8, batchId = Some(1L))
    assert(deltas.isDefined && deltas.get.nonEmpty)
    assert(deltas.get.forall(TableManifest.isDeltaGen),
      s"delta commit must add only delta generations: ${deltas.get}")
    val gensNow = TableManifest.currentGenerations(spark, tbl)
    assert(base.forall(gensNow.contains),
      "a delta commit must never replace a base generation")
    val after = genInventory(tbl, base)
    base.foreach(g => assert(after(g) == before(g),
      s"base generation $g changed on disk under a delta commit"))
    // O(batch) bytes: the delta generations hold 64 single-version
    // rows vs the base's 2048 — they must be well under half the base
    // even with parquet's fixed per-file overhead (8 files each side)
    def bytesOf(gens: Seq[String]): Long =
      genInventory(tbl, gens).values.flatMap(_.values.map(_._1)).sum
    assert(bytesOf(deltas.get) < bytesOf(base) / 2,
      s"delta bytes ${bytesOf(deltas.get)} vs base ${bytesOf(base)}")
    // reads resolve the winner rule from the manifest alone
    val merged = TableManifest.read(spark, tbl)
    assert(merged.count() == 2048)
    assert(merged.filter(col("key") === 32L).head.getString(2) == "v3-32")
    assert(merged.filter(col("key") === 9L).head.getString(2) == "v1-9")
    assert(merged.filter(col("key") === 0L).head.getString(2) == "v3-0")
    assert(merged.groupBy("key").count().agg(max("count")).head
      .getLong(0) == 1L, "duplicate keys through the merge rule")
    // point reads stay bucket-pruned AND merge-aware
    val hit = TableManifest.readKeyBuckets(spark, tbl, Seq("key"),
      Seq(32L, 9L).toDF("key"))
    assert(hit.collect().map(r => (r.getLong(0), r.getString(2)))
      .toSet == Set((32L, "v3-32"), (9L, "v1-9")))
    val openedGens = hit.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet
    assert(openedGens.size < gensNow.size,
      s"point read must stay bucket-pruned on a MoR table: $openedGens")
    // an appends-tail across the delta commit must fail LOUDLY — delta
    // rows are upserts, and delivering them as appends would hand the
    // consumer both versions of every updated key (the base carry-
    // forward means the rewritten-history check can never fire)
    val tailErr = intercept[IllegalStateException] {
      TableManifest.tailAppends(spark, tbl, 2L)
    }
    assert(tailErr.getMessage.contains("DELTAS"), tailErr.getMessage)
    // exactly-once: replay skips (nothing staged), regressed id is loud
    val headV = TableManifest.versions(spark, tbl).last
    assert(TableManifest.upsertBucketedDelta(spark, tbl, spread,
      Seq("key"), "seq", "state", 8, batchId = Some(1L)).isEmpty)
    assert(TableManifest.versions(spark, tbl).last == headV)
    intercept[IllegalStateException] {
      TableManifest.upsertBucketedDelta(spark, tbl, spread,
        Seq("key"), "seq", "state", 8, batchId = Some(0L))
    }
    // the merge rule is pinned: a different key refuses loudly
    val ruleClash = intercept[IllegalArgumentException] {
      TableManifest.upsertBucketedDelta(spark, tbl,
        rows((1L, 9L, "x")), Seq("state"), "seq", "key", 8,
        batchId = Some(2L))
    }
    assert(ruleClash.getMessage.contains("merge rule"),
      ruleClash.getMessage)
    // ... and so is the bucket modulus (boot path hits the CoW pin)
    intercept[IllegalArgumentException] {
      TableManifest.upsertBucketedDelta(spark, tbl,
        rows((1L, 9L, "x")), Seq("key"), "seq", "state", 16,
        batchId = Some(2L))
    }
    // FOLD: per-bucket, content-identical, merge rule cleared,
    // idempotent; the pre-fold version stays time-travel-readable
    // WITH the merge applied
    val expected = merged.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val folded = TableManifest.compactDeltas(spark, tbl)
    assert(folded.isDefined && folded.get.nonEmpty)
    val gensFolded = TableManifest.currentGenerations(spark, tbl)
    assert(!gensFolded.exists(TableManifest.isDeltaGen),
      s"fold must retire every delta generation: $gensFolded")
    assert(gensFolded.forall(g => TableManifest.bucketOf(g).isDefined),
      "fold must preserve the bucket layout")
    val headBody = {
      val fs = new org.apache.hadoop.fs.Path(tbl)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val p = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
        .map(_.getPath).filter(_.getName.startsWith("_graft_manifest-"))
        .maxBy(_.getName)
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(!headBody.contains(""""merge""""),
      s"a fully-folded table must carry no merge rule: $headBody")
    assert(TableManifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq == expected.toSeq,
      "fold changed table content")
    assert(TableManifest.compactDeltas(spark, tbl).isEmpty,
      "a second fold must be a no-op")
    assert(TableManifest.readVersion(spark, tbl, headV)
      .filter(col("key") === 32L).head.getString(2) == "v3-32",
      "time travel to the pre-fold version must apply ITS merge rule")
    // untouched-bucket economics survive the fold: a sparse CoW upsert
    // afterwards still carries folded buckets by reference
    val g4 = TableManifest.upsertBucketed(spark, tbl,
      rows((32L, 5L, "post-fold")), Seq("key"), "seq", "state", 8,
      batchId = Some(2L))
    assert(g4.isDefined && g4.get.size == 1)
    assert(TableManifest.read(spark, tbl)
      .filter(col("key") === 32L).head.getString(2) == "post-fold")
  }

  test("partition-value generations: appendPartitioned commits one " +
      "generation per value, readPartitions opens ONLY the asked " +
      "values' generations from the manifest alone, the declared " +
      "column is pinned, and unvalued generations stay conservative") {
    import spark.implicits._
    val tbl = tmpTable("manifpart")
    def rows(pairs: (Long, String, String)*): org.apache.spark.sql.DataFrame =
      pairs.toDF("id", "day", "v")
    TableManifest.publish(spark, tbl, rows().limit(0).coalesce(1))
    // the seed generation carries no partition value — conservatively
    // included in every partition read, by design
    val seed = TableManifest.currentGenerations(spark, tbl).head
    val a = TableManifest.appendPartitioned(spark, tbl,
      rows((1L, "d1", "a"), (2L, "d2", "b"), (3L, "d3", "c"),
        (4L, "d1", "d")), "day", batchId = Some(0L))
    assert(a.isDefined && a.get.keySet == Set("d1", "d2", "d3"))
    val b = TableManifest.appendPartitioned(spark, tbl,
      rows((5L, "d1", "e"), (6L, "d4", "f")), "day", batchId = Some(1L))
    assert(b.isDefined && b.get.keySet == Set("d1", "d4"))
    // pruned read: exactly d1's generations (+ the unvalued seed) open
    val hit = TableManifest.readPartitions(spark, tbl, "day", Seq("d1"))
    assert(hit.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 4L, 5L))
    val opened = hit.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet
    assert(opened == Set(a.get("d1"), b.get("d1"), seed),
      s"must open exactly d1's generations plus the unvalued seed: " +
        s"$opened")
    // the partition column survives in the data files
    assert(hit.columns.contains("day") &&
      hit.select("day").distinct().head.getString(0) == "d1")
    // replay: same batch id commits nothing
    val headV = TableManifest.versions(spark, tbl).last
    assert(TableManifest.appendPartitioned(spark, tbl,
      rows((9L, "d9", "x")), "day", batchId = Some(1L)).isEmpty)
    assert(TableManifest.versions(spark, tbl).last == headV)
    // the declared column is pinned while valued generations live
    intercept[IllegalArgumentException] {
      TableManifest.appendPartitioned(spark, tbl,
        rows((9L, "d9", "x")), "v", batchId = Some(2L))
    }
    // an UNVALUED generation (plain append) is conservatively included
    // in every partition read — pruning is never a correctness input
    TableManifest.append(spark, tbl, rows((7L, "d1", "g")))
    val hit2 = TableManifest.readPartitions(spark, tbl, "day", Seq("d1"))
      .filter(col("day") === "d1")
    assert(hit2.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 4L, 5L, 7L))
    val opened2 = TableManifest.readPartitions(spark, tbl, "day",
      Seq("d2")).inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.filter(_.startsWith("_gen-")).toSet
    assert(opened2.size == 3 && opened2.contains(a.get("d2")),
      s"d2 + the two unvalued generations (seed + plain append) only: " +
        s"$opened2")
    // a different column's request reads WHOLE (conservative), and a
    // rewrite clears the spec so the column can be re-declared
    assert(TableManifest.readPartitions(spark, tbl, "other", Seq("zz"))
      .count() == TableManifest.read(spark, tbl).count())
    TableManifest.rewrite(spark, tbl)(df => df)
    assert(TableManifest.appendPartitioned(spark, tbl,
      rows((8L, "d1", "h")), "v", batchId = Some(3L)).isDefined,
      "a rewrite must clear the partition spec")
  }

  test("row-level deletes: a tombstone removes the key at read time " +
      "with later commits re-adding it; time travel pre-delete sees " +
      "the rows; rewrite folds tombstones; upserts refuse while they " +
      "live; the rule composes with merge-on-read deltas") {
    import spark.implicits._
    val tbl = tmpTable("manifdel")
    def rows(pairs: (Long, Long, String)*): org.apache.spark.sql.DataFrame =
      pairs.toDF("key", "seq", "state")
    TableManifest.publish(spark, tbl,
      rows((0 until 200).map(k => (k.toLong, 1L, s"v1-$k")): _*))
    val v1 = TableManifest.versions(spark, tbl).last
    val tomb = TableManifest.deleteRows(spark, tbl,
      (0 until 200 by 10).map(_.toLong).toDF("key"), Seq("key"),
      batchId = Some(0L))
    assert(tomb.isDefined && TableManifest.isTombstoneGen(tomb.get))
    val afterDel = TableManifest.read(spark, tbl)
    assert(afterDel.count() == 180)
    assert(afterDel.filter(col("key") % 10 === 0).count() == 0)
    // time travel BEFORE the delete still reads the rows
    assert(TableManifest.readVersion(spark, tbl, v1).count() == 200)
    // a LATER commit re-adds the key (seq ordering is structural)
    TableManifest.append(spark, tbl, rows((0L, 9L, "reborn")))
    val reAdd = TableManifest.read(spark, tbl)
    assert(reAdd.count() == 181)
    assert(reAdd.filter(col("key") === 0L).head.getString(2) == "reborn")
    // point reads apply the rule too (unbucketed: whole-table fallback)
    assert(TableManifest.readKeyBuckets(spark, tbl, Seq("key"),
      Seq(0L, 10L).toDF("key")).collect().map(_.getString(2)).toSeq ==
      Seq("reborn"))
    // exactly-once + rule pinning
    assert(TableManifest.deleteRows(spark, tbl,
      Seq(1L).toDF("key"), Seq("key"), batchId = Some(0L)).isEmpty,
      "replay must skip")
    intercept[IllegalArgumentException] {
      TableManifest.deleteRows(spark, tbl,
        Seq("v1-3").toDF("state"), Seq("state"), batchId = Some(1L))
    }
    // upserts refuse while tombstones live (a bucket rewrite would
    // resurrect deleted keys above the tombstone seq)
    intercept[IllegalArgumentException] {
      TableManifest.upsertBucketed(spark, tbl, rows((5L, 9L, "x")),
        Seq("key"), "seq", "state", 8)
    }
    // FOLD through rewrite: content identical, tombstones gone, the
    // delete rule cleared — and a differently-keyed delete now lands
    val expected = reAdd.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    TableManifest.rewrite(spark, tbl)(_.coalesce(2))
    val gens = TableManifest.currentGenerations(spark, tbl)
    assert(!gens.exists(TableManifest.isTombstoneGen), gens.toString)
    assert(TableManifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq == expected.toSeq, "fold changed content")
    assert(TableManifest.deleteRows(spark, tbl,
      Seq("reborn").toDF("state"), Seq("state")).isDefined,
      "a fold must clear the delete-rule pin")
    assert(TableManifest.read(spark, tbl).count() == 180)
    // composes with merge-on-read: delete a key on a delta table, the
    // winner rule and the tombstone both apply; compactDeltas routes
    // the mixed layout through a whole-table fold
    val tbl2 = tmpTable("manifdelmor")
    TableManifest.publish(spark, tbl2,
      rows((0 until 64).map(k => (k.toLong, 1L, s"v1-$k")): _*))
    TableManifest.upsertBucketedDelta(spark, tbl2,
      rows((1L, 2L, "boot")), Seq("key"), "seq", "state", 4,
      batchId = Some(0L))
    TableManifest.upsertBucketedDelta(spark, tbl2,
      rows((2L, 3L, "delta2")), Seq("key"), "seq", "state", 4,
      batchId = Some(1L))
    TableManifest.deleteRows(spark, tbl2, Seq(2L, 3L).toDF("key"),
      Seq("key"))
    val mor = TableManifest.read(spark, tbl2)
    assert(mor.count() == 62)
    assert(mor.filter(col("key") === 1L).head.getString(2) == "boot")
    assert(mor.filter(col("key").isin(2L, 3L)).count() == 0)
    // delta upserts refuse while tombstones live, fold re-opens them
    intercept[IllegalArgumentException] {
      TableManifest.upsertBucketedDelta(spark, tbl2, rows((9L, 9L, "y")),
        Seq("key"), "seq", "state", 4, batchId = Some(2L))
    }
    assert(TableManifest.compactDeltas(spark, tbl2).isDefined)
    val gens2 = TableManifest.currentGenerations(spark, tbl2)
    assert(!gens2.exists(TableManifest.isTombstoneGen) &&
      !gens2.exists(TableManifest.isDeltaGen), gens2.toString)
    assert(TableManifest.read(spark, tbl2).count() == 62)
    assert(TableManifest.upsertBucketedDelta(spark, tbl2,
      rows((2L, 9L, "back")), Seq("key"), "seq", "state", 4,
      batchId = Some(2L)).isDefined)
    assert(TableManifest.read(spark, tbl2)
      .filter(col("key") === 2L).head.getString(2) == "back")
  }

  test("manifest-to-manifest CDC relay: the cursor lives in the " +
      "destination watermark (no external checkpoint), restarts and " +
      "replays land exactly once through a REAL streaming clock, and " +
      "a source rewrite surfaces the loud resync error") {
    import spark.implicits._
    val src = tmpTable("manifrelaysrc")
    val dst = tmpTable("manifrelaydst")
    def rows(r: Range): org.apache.spark.sql.DataFrame =
      r.map(i => (i.toLong, s"v$i")).toDF("id", "tag")
    TableManifest.publish(spark, src, rows(0 until 10))
    // boot: seed the destination with the source's current content,
    // then relay covers everything after
    TableManifest.publish(spark, dst, TableManifest.read(spark, src))
    assert(TableManifest.relayOnce(spark, src, dst) ==
      TableManifest.versions(spark, src).last)
    assert(TableManifest.read(spark, dst).count() == 10)
    TableManifest.append(spark, src, rows(10 until 20), Some(0L))
    TableManifest.relayOnce(spark, src, dst)
    assert(TableManifest.read(spark, dst).count() == 20)
    // idempotent: a re-poll (crash-restart with no state) is a no-op
    val vDst = TableManifest.versions(spark, dst).last
    TableManifest.relayOnce(spark, src, dst)
    assert(TableManifest.versions(spark, dst).last == vDst,
      "an at-head relay poll must commit nothing")
    // one poll covers MULTIPLE source versions
    TableManifest.append(spark, src, rows(20 until 30), Some(1L))
    TableManifest.append(spark, src, rows(30 until 40), Some(2L))
    TableManifest.relayOnce(spark, src, dst)
    assert(TableManifest.read(spark, dst).count() == 40)
    assert(TableManifest.lastBatchId(spark, dst, "relay")
      .contains(TableManifest.versions(spark, src).last),
      "the cursor must ride the destination watermark")
    // REAL streaming clock, with a RESTART between appends: the second
    // query shares nothing with the first but the destination manifest
    def awaitCount(n: Long): Unit = {
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (TableManifest.read(spark, dst).count() != n &&
          System.nanoTime < deadline) Thread.sleep(200)
      assert(TableManifest.read(spark, dst).count() == n,
        s"relay stream did not converge to $n rows")
    }
    val q1 = TableManifest.relayStream(spark, src, dst, intervalMs = 200L)
    try {
      TableManifest.append(spark, src, rows(40 until 50), Some(3L))
      awaitCount(50)
    } finally q1.stop()
    val q2 = TableManifest.relayStream(spark, src, dst, intervalMs = 200L)
    try {
      TableManifest.append(spark, src, rows(50 until 60), Some(4L))
      awaitCount(60)
    } finally q2.stop()
    assert(TableManifest.read(spark, dst)
      .select("id").distinct().count() == 60,
      "restart or replay double-delivered rows")
    // maintenance on the source surfaces the loud resync error
    TableManifest.rewrite(spark, src)(df => df)
    val resync = intercept[IllegalStateException] {
      TableManifest.relayOnce(spark, src, dst)
    }
    assert(resync.getMessage.toLowerCase.contains("resync"),
      resync.getMessage)
  }

  test("column mapping: renames are metadata-only (old files read " +
      "under the new name, generations carried by name), drops hide " +
      "the id, a re-added name takes a FRESH id so old values never " +
      "resurrect, time travel sees each version's schema, and a " +
      "rewrite folds the mapping") {
    import spark.implicits._
    val tbl = tmpTable("manifcolmap")
    TableManifest.publish(spark, tbl,
      (0 until 10).map(i => (i.toLong, s"t$i")).toDF("id", "tag"))
    val gens0 = TableManifest.currentGenerations(spark, tbl)
    TableManifest.enableColumnMapping(spark, tbl)
    TableManifest.enableColumnMapping(spark, tbl) // idempotent
    // RENAME: metadata-only — same generation set, old file reads
    // under the new name
    TableManifest.renameColumn(spark, tbl, "tag", "label")
    assert(TableManifest.currentGenerations(spark, tbl) == gens0,
      "a rename must not touch data generations")
    val r1 = TableManifest.read(spark, tbl)
    assert(r1.columns.toSeq == Seq("id", "label"))
    assert(r1.filter(col("id") === 3L).head.getString(1) == "t3")
    // schema evolution: an appended new column takes a fresh id; old
    // generations read it as null
    TableManifest.append(spark, tbl,
      Seq((10L, "t10", 1.5)).toDF("id", "label", "score"))
    val r2 = TableManifest.read(spark, tbl)
    assert(r2.columns.toSeq == Seq("id", "label", "score"))
    assert(r2.filter(col("id") === 3L).head.isNullAt(2))
    assert(r2.filter(col("id") === 10L).head.getDouble(2) == 1.5)
    // DROP + RE-ADD: the re-added name binds a FRESH id — the old
    // values must NOT reappear under it
    TableManifest.dropColumn(spark, tbl, "label")
    assert(TableManifest.read(spark, tbl).columns.toSeq ==
      Seq("id", "score"))
    TableManifest.append(spark, tbl,
      Seq((11L, "fresh", 2.5)).toDF("id", "label", "score"))
    val r3 = TableManifest.read(spark, tbl)
    assert(r3.columns.toSeq == Seq("id", "score", "label"))
    assert(r3.count() == 12)
    assert(r3.filter(col("id") === 3L).head
      .isNullAt(r3.columns.indexOf("label")),
      "a dropped column's old values resurrected under the re-add")
    assert(r3.filter(col("id") === 10L).head
      .isNullAt(r3.columns.indexOf("label")),
      "the pre-drop 'label' data must stay hidden (old id)")
    assert(r3.filter(col("id") === 11L).head
      .getString(r3.columns.indexOf("label")) == "fresh")
    // renames keep composing over every generation
    TableManifest.renameColumn(spark, tbl, "id", "key")
    assert(TableManifest.read(spark, tbl).columns.head == "key")
    // time travel sees THAT version's schema (version 1 = pre-mapping)
    assert(TableManifest.readVersion(spark, tbl, 1L).columns.toSeq ==
      Seq("id", "tag"))
    // the mapped-table writer matrix is closed loudly
    intercept[IllegalArgumentException] {
      TableManifest.upsertBucketed(spark, tbl,
        Seq((1L, 9L, "x")).toDF("key", "seq", "state"),
        Seq("key"), "seq", "state", 4)
    }
    intercept[IllegalArgumentException] {
      TableManifest.deleteRows(spark, tbl, Seq(1L).toDF("key"),
        Seq("key"))
    }
    intercept[IllegalArgumentException] {
      TableManifest.appendPartitioned(spark, tbl,
        Seq((12L, "d", 0.0)).toDF("key", "label", "score"), "label")
    }
    // FOLD: a rewrite materializes the current names and clears the
    // mapping — content identical, physical schema = logical schema
    val expected = TableManifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.toString).getOrElse(""),
        Option(r.get(2)).map(_.toString).getOrElse(""))).sorted
    TableManifest.rewrite(spark, tbl)(df => df)
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val headBody = {
      val p = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
        .map(_.getPath).filter(_.getName.startsWith("_graft_manifest-"))
        .maxBy(_.getName)
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    assert(!headBody.contains(""""columns""""),
      s"a fold must clear the mapping: $headBody")
    val folded = TableManifest.read(spark, tbl)
    assert(folded.columns.toSeq == Seq("key", "score", "label"))
    assert(folded.collect().map(r => (r.getLong(0),
      Option(r.get(1)).map(_.toString).getOrElse(""),
      Option(r.get(2)).map(_.toString).getOrElse(""))).sorted.toSeq ==
      expected.toSeq, "the fold changed content")
    // ... and the folded table can be mapped afresh
    TableManifest.enableColumnMapping(spark, tbl)
    TableManifest.renameColumn(spark, tbl, "score", "weight")
    assert(TableManifest.read(spark, tbl).columns.toSeq ==
      Seq("key", "weight", "label"))
  }

  test("regression: an EMPTY first batch on an EMPTY published table " +
      "must never commit a zero-generation snapshot — the table stays " +
      "readable and the watermark still advances") {
    import spark.implicits._
    val tbl = tmpTable("manifemptyboot")
    val seed = Seq.empty[(Long, Long, String)].toDF("key", "seq", "state")
    TableManifest.publish(spark, tbl, seed.coalesce(1))
    // the stream's batch 0 is empty (a real stream-start shape): before
    // the fix this committed generations=[] and read() refused the
    // table until the next data-bearing commit
    val r = TableManifest.upsertBucketed(spark, tbl,
      seed, Seq("key"), "seq", "state", numBuckets = 8,
      batchId = Some(0L))
    assert(r.contains(Seq.empty))
    assert(TableManifest.currentGenerations(spark, tbl).nonEmpty,
      "a zero-generation snapshot was committed")
    assert(TableManifest.read(spark, tbl).count() == 0) // readable
    assert(TableManifest.lastBatchId(spark, tbl).contains(0L),
      "the empty batch's watermark must still advance")
    // a replay of the empty batch skips; data then flows normally
    assert(TableManifest.upsertBucketed(spark, tbl, seed,
      Seq("key"), "seq", "state", 8, batchId = Some(0L)).isEmpty)
    assert(TableManifest.upsertBucketed(spark, tbl,
      Seq((1L, 1L, "a")).toDF("key", "seq", "state"),
      Seq("key"), "seq", "state", 8, batchId = Some(1L)).isDefined)
    assert(TableManifest.read(spark, tbl).count() == 1)
  }

  test("concurrent bucketed upserts: racing writers rebase through the " +
      "CAS and EVERY writer's keys land with winner-per-key semantics — " +
      "a lost race re-derives against the new head instead of " +
      "committing its stale bucket set") {
    import spark.implicits._
    val tbl = tmpTable("manifbuckrace")
    def rows(pairs: (Long, Long, String)*): org.apache.spark.sql.DataFrame =
      pairs.toDF("key", "seq", "state")
    // boot the bucket layout first (migration is not under test here)
    TableManifest.publish(spark, tbl,
      rows((0 until 32).map(k => (k.toLong, 1L, s"v$k")): _*))
    TableManifest.upsertBucketed(spark, tbl, rows((0L, 2L, "boot")),
      Seq("key"), "seq", "state", numBuckets = 8)
    val writers = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            try {
              // writer w updates ITS OWN key slice (CDC partitions are
              // disjoint across writers; the CAS races are on the
              // manifest, and overlapping buckets force real re-derives)
              val df = rows((0 until 8).map(i =>
                ((w * 8 + i).toLong, 5L, s"w$w")): _*)
              start.await()
              TableManifest.upsertBucketed(spark, tbl, df, Seq("key"),
                "seq", "state", numBuckets = 8,
                maxRetries = writers * 4)
            } catch { case t: Throwable => failures.add(t.toString) }
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    val fin = TableManifest.read(spark, tbl)
    assert(fin.count() == 32, "a racing upsert dropped or duplicated keys")
    val dup = fin.groupBy("key").count().agg(max("count")).head.getLong(0)
    assert(dup == 1L, s"duplicate keys after racing upserts: $dup")
    // EVERY writer's update won its keys (seq 5 beats the seed's 1/2):
    // a stale bucket set committed by a lost race would resurrect old
    // states for the writer it raced
    val states = fin.collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    (0 until writers).foreach { w =>
      (0 until 8).foreach { i =>
        assert(states((w * 8 + i).toLong) == s"w$w",
          s"writer $w's update to key ${w * 8 + i} was lost " +
            s"(got ${states((w * 8 + i).toLong)})")
      }
    }
    // the layout survived the storm: still purely bucketed, still 8-way
    assert(TableManifest.currentGenerations(spark, tbl)
      .forall(g => TableManifest.bucketOf(g).isDefined))
  }

  test("upsertSinkDelta is exactly-once under a REAL torn-checkpoint " +
      "replay: a spread-key micro-batch commits ONLY delta " +
      "generations (every base carried by name), the replay skips " +
      "outright, and reads stay merged across batches") {
    import spark.implicits._
    val base = suiteTempDir("manifdsink")
    val in = s"$base/in"; val tbl = s"$base/t"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    def writeInput(name: String, rows: Seq[(Long, Long, String)]): Unit =
      stageInput(base, name, rows.toDF("key", "seq", "state"))
    // batch 1 seeds (boots the layout via the CoW migration); batch 2
    // is a SPREAD slice (every 5th key) — the CoW degenerate shape
    writeInput("f1", (0 until 40).map(k => (k.toLong, 1L, s"a$k")))
    writeInput("f2", (0 until 40 by 5).map(k => (k.toLong, 2L, s"b$k")))
    val schema = "key BIGINT, seq BIGINT, state STRING"
    TableManifest.publish(spark, tbl, emptySeed(schema))
    val sink = TableManifest.upsertSinkDelta(tbl, Seq("key"), "seq",
      "state", numBuckets = 8)
    def runOnce(): Unit = runAvailableNow(schema, in, ckpt, sink)
    runOnce()
    val merged = TableManifest.read(spark, tbl)
    assert(merged.count() == 40)
    assert(merged.filter(col("key") === 5L).head.getString(2) == "b5")
    assert(merged.filter(col("key") === 6L).head.getString(2) == "a6")
    val gens = TableManifest.currentGenerations(spark, tbl)
    // every batch-1 base generation must survive the spread batch BY
    // NAME; the spread batch added only delta generations
    val baseGens = gens.filterNot(TableManifest.isDeltaGen)
    val deltaGens = gens.filter(TableManifest.isDeltaGen)
    assert(deltaGens.nonEmpty,
      s"the spread micro-batch must land as deltas: $gens")
    assert(baseGens.forall(_.startsWith("_gen-000002-")),
      s"a spread delta batch must never rewrite a base bucket: $gens")
    val head = TableManifest.versions(spark, tbl).last
    tearLastCommit(ckpt)
    runOnce() // replay of the torn batch must skip outright
    assert(TableManifest.versions(spark, tbl).last == head,
      "a replayed delta batch committed a new version")
    assert(TableManifest.currentGenerations(spark, tbl) == gens)
    // new changes flow after recovery; the fold keeps them
    writeInput("f3", Seq((5L, 3L, "c5"), (50L, 1L, "new")))
    runOnce()
    TableManifest.compactDeltas(spark, tbl)
    val fin = TableManifest.read(spark, tbl)
    assert(fin.count() == 41)
    assert(fin.filter(col("key") === 5L).head.getString(2) == "c5")
    assert(fin.groupBy("key").count().agg(max("count")).head
      .getLong(0) == 1L, "duplicate keys after replay + fold")
  }

  test("upsertSinkBucketed is exactly-once under a REAL torn-checkpoint " +
      "replay, and each micro-batch rewrites only its touched buckets") {
    import spark.implicits._
    val base = suiteTempDir("manifbsink")
    val in = s"$base/in"; val tbl = s"$base/t"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()
    def writeInput(name: String, rows: Seq[(Long, Long, String)]): Unit =
      stageInput(base, name, rows.toDF("key", "seq", "state"))
    writeInput("f1", (0 until 40).map(k => (k.toLong, 1L, s"a$k")))
    writeInput("f2", Seq((3L, 2L, "b3"), (7L, 2L, "b7")))
    val schema = "key BIGINT, seq BIGINT, state STRING"
    TableManifest.publish(spark, tbl, emptySeed(schema))
    val sink = TableManifest.upsertSinkBucketed(tbl, Seq("key"), "seq",
      "state", numBuckets = 8)
    def runOnce(): Unit = runAvailableNow(schema, in, ckpt, sink)
    runOnce()
    assert(TableManifest.read(spark, tbl).count() == 40)
    assert(TableManifest.read(spark, tbl)
      .filter(col("key") === 3L).head.getString(2) == "b3")
    val head = TableManifest.versions(spark, tbl).last
    val gens = TableManifest.currentGenerations(spark, tbl)
    // batch 2 (f2) touched ≤2 buckets: most of batch 1's bucket
    // generations must still be referenced by name
    assert(gens.count(_.startsWith("_gen-000002-")) >= 4,
      s"micro-batch 2 rewrote buckets it did not touch: $gens")
    tearLastCommit(ckpt)
    runOnce() // replay of the torn batch must skip outright
    assert(TableManifest.versions(spark, tbl).last == head,
      "a replayed bucketed-upsert batch committed a new version")
    assert(TableManifest.currentGenerations(spark, tbl) == gens)
    // new changes flow after recovery
    writeInput("f3", Seq((3L, 3L, "c3"), (50L, 1L, "new")))
    runOnce()
    val fin = TableManifest.read(spark, tbl)
    assert(fin.count() == 41)
    assert(fin.filter(col("key") === 3L).head.getString(2) == "c3")
    val dup = fin.groupBy("key").count().agg(max("count")).head.getLong(0)
    assert(dup == 1L, s"duplicate keys after replay: $dup")
  }

  test("manifest-carried file statistics: a selective range predicate " +
      "opens STRICTLY FEWER files through readPruned, with content " +
      "identical to the unpruned read; generations without stats stay " +
      "conservative (all files included, correctness never depends on " +
      "pruning)") {
    import spark.implicits._
    val tbl = tmpTable("manifstats")
    // 400 rows over key 0..399, range-clustered into 8 files with
    // disjoint key ranges — the layout file-skipping needs
    val base = (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "tag")
      .repartitionByRange(8, col("k"))
    TableManifest.publish(spark, tbl, base, statsCol = Some("k"))
    val (sel1, tot1) = TableManifest.prunedFiles(spark, tbl, "k", 100, 140)
    assert(tot1 == 8, s"expected 8 range files, got $tot1")
    assert(sel1.size < tot1 && sel1.nonEmpty,
      s"a 40-key window over 8 range files must prune: ${sel1.size}/$tot1")
    val pruned = TableManifest.readPruned(spark, tbl, "k", 100, 140)
      .filter(col("k").between(100, 140))
    val full = TableManifest.read(spark, tbl)
      .filter(col("k").between(100, 140))
    assert(pruned.collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toSeq ==
      full.collect().map(r => (r.getLong(0), r.getString(1)))
        .sortBy(_._1).toSeq,
      "pruned read content differs from the unpruned read")
    assert(pruned.count() == 41)
    // the scan really is file-level pruned: Spark's input files are
    // exactly the selected set
    assert(TableManifest.readPruned(spark, tbl, "k", 100, 140)
      .inputFiles.map(f => new java.net.URI(f).getPath).toSet ==
      sel1.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet)
    // an appended generation WITHOUT stats is conservatively included
    // whole; with stats, its files prune too
    TableManifest.append(spark, tbl,
      Seq((1000L, "late")).toDF("k", "tag").coalesce(1))
    val (sel2, tot2) = TableManifest.prunedFiles(spark, tbl, "k", 100, 140)
    assert(tot2 == 9 && sel2.size == sel1.size + 1,
      s"no-stats generation must be conservatively included: " +
        s"${sel2.size}/$tot2")
    assert(TableManifest.readPruned(spark, tbl, "k", 100, 140)
      .filter(col("k").between(100, 140)).count() == 41)
    TableManifest.append(spark, tbl,
      Seq((2000L, "late2")).toDF("k", "tag").coalesce(1),
      statsCol = Some("k"))
    val (sel3, tot3) = TableManifest.prunedFiles(spark, tbl, "k", 100, 140)
    assert(tot3 == 10 && sel3.size == sel2.size,
      "a stats-carrying out-of-range append must be pruned away")
    val (sel4, _) = TableManifest.prunedFiles(spark, tbl, "k", 1990, 2010)
    assert(sel4.exists(_.contains("_gen-")) && sel4.size <= 2,
      s"the in-range window must select the late file + the no-stats " +
        s"file only: $sel4")
    // a different column's request ignores the sidecar (conservative):
    // every file comes back
    val (sel5, tot5) = TableManifest.prunedFiles(spark, tbl, "nope", 0, 1)
    assert(sel5.size == tot5,
      "a stats request for an unrecorded column must not prune")
    // the whole-window read through pruning equals the plain read
    assert(TableManifest.readPruned(spark, tbl, "k", 0, 3000).count() ==
      TableManifest.read(spark, tbl).count())
  }

  test("manifest-recorded file inventories: a pruned read resolves its " +
      "file set from the commit JSON alone (file lists ride the " +
      "manifest); a head manifest without inventories is refused, " +
      "naming its path, instead of falling back to listings") {
    import spark.implicits._
    val tbl = tmpTable("manifinv")
    TableManifest.publish(spark, tbl,
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "tag")
        .repartitionByRange(8, col("k")), statsCol = Some("k"))
    (0 until 3).foreach(i =>
      TableManifest.append(spark, tbl,
        Seq((500L + i, "late")).toDF("k", "tag").coalesce(1),
        statsCol = Some("k")))
    val info = TableManifest.prunedFilesInfo(spark, tbl, "k", 100, 140)
    assert(info.total == 11 && info.files.size < info.total,
      s"${info.files.size}/${info.total}")
    assert(TableManifest.readPruned(spark, tbl, "k", 100, 140)
      .filter(col("k").between(100, 140)).count() == 41)
    // a pre-inventory body (the meta block stripped from the head
    // manifest on disk) is refused at the parse: no listing fallback
    // remains, so pruning and reads fail loudly, naming the manifest
    val head = rewriteHeadManifest(tbl) { body =>
      val cut = body.indexOf(""","meta":""")
      assert(cut > 0, s"expected a meta block in $body")
      body.substring(0, cut) + "}"
    }
    val e1 = intercept[IllegalStateException] {
      TableManifest.prunedFilesInfo(spark, tbl, "k", 100, 140)
    }
    assert(e1.getMessage.contains(head) &&
      e1.getMessage.contains("no recorded inventory"), e1.getMessage)
    val e2 = intercept[IllegalStateException] {
      TableManifest.readPruned(spark, tbl, "k", 100, 140).count()
    }
    assert(e2.getMessage.contains(head), e2.getMessage)
  }

  test("one manifest wire format: a head manifest with no format or an " +
      "unknown one makes read, append and readVersion refuse the table " +
      "with an error naming the manifest path and the format found") {
    import spark.implicits._
    Seq(
      "<none>" -> ((b: String) => b.replace("""{"format":1,""", "{")),
      "99" -> ((b: String) => b.replace(""""format":1""", """"format":99"""))
    ).foreach { case (found, edit) =>
      val tbl = tmpTable("maniffmt")
      TableManifest.publish(spark, tbl, Seq((1L, "a")).toDF("id", "tag"))
      TableManifest.append(spark, tbl, Seq((2L, "b")).toDF("id", "tag"))
      val head = rewriteHeadManifest(tbl)(edit)
      def refused(what: String)(f: => Any): Unit = {
        val e = intercept[IllegalStateException](f)
        assert(e.getMessage.contains(head) &&
          e.getMessage.contains(s"has format $found"),
          s"$what on format $found: ${e.getMessage}")
      }
      refused("read")(TableManifest.read(spark, tbl).count())
      refused("append")(TableManifest.append(spark, tbl,
        Seq((3L, "c")).toDF("id", "tag")))
      refused("readVersion")(TableManifest.readVersion(spark, tbl, 2L))
    }
  }

  test("readPruned composes with the table rules: tombstoned rows stay " +
      "deleted under a stats-pruned scan (tombstone files never enter " +
      "the data union), a merge-on-read table reads whole-and-merged " +
      "(file pruning must not resurrect superseded winners), and a " +
      "non-finite stats bound records no range instead of bricking " +
      "the manifest") {
    import spark.implicits._
    // tombstones × pruning
    val tbl = tmpTable("manifprunedel")
    TableManifest.publish(spark, tbl,
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "tag")
        .repartitionByRange(8, col("k")), statsCol = Some("k"))
    TableManifest.deleteRows(spark, tbl,
      (0 until 400 by 10).map(_.toLong).toDF("k"), Seq("k"))
    val pruned = TableManifest.readPruned(spark, tbl, "k", 90, 210)
      .filter(col("k").between(90, 210))
    assert(pruned.count() == 121 - 13,
      "a stats-pruned scan must still apply the tombstone rule")
    assert(pruned.filter(col("k") % 10 === 0).count() == 0)
    val info = TableManifest.prunedFilesInfo(spark, tbl, "k", 90, 210)
    assert(!info.files.exists(_._1.contains("-x-")),
      "tombstone key files must never enter the data selection " +
        "(they are the rule side of the plan, not scan input)")
    assert(info.files.size < info.total && info.files.nonEmpty,
      "pruning must still prune under tombstones")
    // merge-on-read × pruning: whole-and-merged, never range-selected
    val tbl2 = tmpTable("manifprunemor")
    TableManifest.publish(spark, tbl2,
      (0 until 64).map(i => (i.toLong, 1L, s"v1-$i"))
        .toDF("k", "seq", "tag"))
    TableManifest.upsertBucketedDelta(spark, tbl2,
      Seq((1L, 2L, "boot")).toDF("k", "seq", "tag"),
      Seq("k"), "seq", "tag", 4, batchId = Some(0L))
    TableManifest.upsertBucketedDelta(spark, tbl2,
      Seq((2L, 3L, "newer")).toDF("k", "seq", "tag"),
      Seq("k"), "seq", "tag", 4, batchId = Some(1L))
    val mor = TableManifest.readPruned(spark, tbl2, "k", 0, 1000)
    assert(mor.count() == 64, "merged read must hold one row per key")
    assert(mor.filter(col("k") === 2L).head.getString(2) == "newer",
      "file pruning must not resurrect a superseded winner")
    // non-finite stats bound: commit survives, table stays parseable,
    // the file is conservatively kept
    val tbl3 = tmpTable("manifinf")
    TableManifest.publish(spark, tbl3,
      Seq((1L, 0.5), (2L, Double.PositiveInfinity)).toDF("k", "v")
        .coalesce(1), statsCol = Some("v"))
    assert(TableManifest.read(spark, tbl3).count() == 2,
      "an infinite stats bound must not brick the manifest")
    val inf = TableManifest.prunedFilesInfo(spark, tbl3, "v", 9.0, 10.0)
    assert(inf.files.size == inf.total,
      "a range-less file must be conservatively kept")
  }

  test("stats survive maintenance: a rewrite/optimize with statsCol " +
      "records fresh sidecars, so pruning keeps working after " +
      "compaction instead of silently degrading to read-everything") {
    import spark.implicits._
    val tbl = tmpTable("manifstatsrw")
    TableManifest.publish(spark, tbl,
      (0 until 400).map(i => (i.toLong, s"v$i")).toDF("k", "tag")
        .repartitionByRange(8, col("k")), statsCol = Some("k"))
    assert(TableManifest.prunedFiles(spark, tbl, "k", 10, 20)._1.size <
      TableManifest.prunedFiles(spark, tbl, "k", 10, 20)._2)
    // re-cluster through rewrite WITH stats: pruning must still work on
    // the new generation
    TableManifest.rewrite(spark, tbl, statsCol = Some("k"))(
      _.repartitionByRange(4, col("k")))
    val (sel, tot) = TableManifest.prunedFiles(spark, tbl, "k", 10, 20)
    assert(tot == 4 && sel.size < tot && sel.nonEmpty,
      s"stats must survive the rewrite: ${sel.size}/$tot")
    assert(TableManifest.readPruned(spark, tbl, "k", 10, 20)
      .filter(col("k").between(10, 20)).count() == 11)
    // a rewrite WITHOUT stats degrades to conservative (all files), and
    // stays correct
    TableManifest.rewrite(spark, tbl)(_.repartitionByRange(4, col("k")))
    val (sel2, tot2) = TableManifest.prunedFiles(spark, tbl, "k", 10, 20)
    assert(sel2.size == tot2, "no-stats rewrite must include all files")
    assert(TableManifest.readPruned(spark, tbl, "k", 10, 20)
      .filter(col("k").between(10, 20)).count() == 11)
  }

  test("bucket-pruned point reads: a k-key lookup opens ONLY the " +
      "buckets those keys hash into; results exactly match the full " +
      "read; non-bucketed tables fall back whole (correctness never " +
      "depends on pruning)") {
    import spark.implicits._
    val tbl = tmpTable("manifpoint")
    def rows(pairs: (Long, Long, String)*): org.apache.spark.sql.DataFrame =
      pairs.toDF("key", "seq", "state")
    TableManifest.publish(spark, tbl,
      rows((0 until 64).map(k => (k.toLong, 1L, s"v$k")): _*))
    // non-bucketed table: fallback still answers exactly
    val fallback = TableManifest.readKeyBuckets(spark, tbl, Seq("key"),
      Seq(5L, 6L).toDF("key"))
    assert(fallback.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 6L))
    // boot the bucket layout, then point-read two keys
    TableManifest.upsertBucketed(spark, tbl, rows((5L, 2L, "hot")),
      Seq("key"), "seq", "state", numBuckets = 8, batchId = Some(0L))
    val gens = TableManifest.currentGenerations(spark, tbl)
    val hit = TableManifest.readKeyBuckets(spark, tbl, Seq("key"),
      Seq(5L, 23L).toDF("key"))
    val got = hit.collect().map(r => (r.getLong(0), r.getString(2))).toMap
    assert(got == Map(5L -> "hot", 23L -> "v23"), got.toString)
    // the scan opened at most TWO bucket generations' files
    val openedGens = hit.inputFiles.map { f =>
      new java.net.URI(f).getPath.split("/").takeRight(2).head
    }.toSet
    assert(openedGens.size <= 2 &&
      openedGens.forall(g => TableManifest.bucketOf(g).isDefined),
      s"point read opened $openedGens of ${gens.size} generations")
    // absent keys: empty result, still bucket-pruned
    assert(TableManifest.readKeyBuckets(spark, tbl, Seq("key"),
      Seq(100000L).toDF("key")).count() == 0)
  }

  test("tailAppends consumes exactly the generations committed after " +
      "the cursor — no drop, no double-delivery across interleaved " +
      "appends; a rewrite behind the cursor fails LOUDLY demanding a " +
      "resync; a truncated cursor fails loudly too") {
    import spark.implicits._
    val tbl = tmpTable("maniftail")
    def batch(tag: String, from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, tag)).toDF("id", "tag")
    TableManifest.publish(spark, tbl, batch("seed", 0, 10))
    val (d0, v0) = TableManifest.tailAppends(spark, tbl, 1L)
    assert(d0.count() == 0 && v0 == 1L, "no commits yet: empty, same cursor")
    TableManifest.append(spark, tbl, batch("a", 100, 20))
    TableManifest.append(spark, tbl, batch("b", 200, 30))
    val (d1, v1) = TableManifest.tailAppends(spark, tbl, v0)
    assert(v1 == 3L)
    assert(d1.groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 20L, "b" -> 30L),
      "the tail must deliver exactly the two appended batches")
    // idempotent cursor: nothing new → empty; then one more batch →
    // exactly that batch, never re-delivering a or b
    assert(TableManifest.tailAppends(spark, tbl, v1)._1.count() == 0)
    TableManifest.append(spark, tbl, batch("c", 300, 5))
    val (d2, v2) = TableManifest.tailAppends(spark, tbl, v1)
    assert(v2 == 4L && d2.count() == 5 &&
      d2.select("tag").distinct().head.getString(0) == "c")
    // a cursor from the future is a usage bug, loud
    intercept[IllegalArgumentException] {
      TableManifest.tailAppends(spark, tbl, 99L)
    }
    // a REWRITE behind the cursor invalidates the diff — the tail must
    // refuse (silently dropping the compacted history is the CDC loss
    // mode this check exists for)
    TableManifest.rewrite(spark, tbl)(_.coalesce(1))
    val rewritten = intercept[IllegalStateException] {
      TableManifest.tailAppends(spark, tbl, v2)
    }
    assert(rewritten.getMessage.contains("REWRITTEN") &&
      rewritten.getMessage.contains("Resync"), rewritten.getMessage)
    // resync recipe works: read() then tail from the new head
    val headAfter = TableManifest.versions(spark, tbl).last
    assert(TableManifest.read(spark, tbl).count() == 65)
    TableManifest.append(spark, tbl, batch("d", 400, 3))
    val (d3, _) = TableManifest.tailAppends(spark, tbl, headAfter)
    assert(d3.count() == 3)
    // a truncated cursor is loud (build a long log, cut it)
    (0 until 12).foreach(i =>
      TableManifest.append(spark, tbl, batch(s"t$i", 1000 + i * 10, 1)))
    TableManifest.truncateLog(spark, tbl, keepVersions = 8)
    val truncated = intercept[IllegalStateException] {
      TableManifest.tailAppends(spark, tbl, 2L)
    }
    assert(truncated.getMessage.contains("truncated"),
      truncated.getMessage)
  }

  test("history() renders the retained commit log from metadata alone; " +
      "read(mergeSchema=true) unions an evolving append's schema with " +
      "NULL backfill for pre-evolution generations") {
    import spark.implicits._
    val tbl = tmpTable("manifhist")
    TableManifest.publish(spark, tbl,
      (0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "tag"))
    TableManifest.append(spark, tbl,
      (10 until 15).map(i => (i.toLong, s"v$i")).toDF("id", "tag"),
      batchId = Some(0L), writerId = "ing")
    val h = TableManifest.history(spark, tbl).orderBy("version").collect()
    assert(h.map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSeq ==
      Seq((1L, 1, ""), (2L, 2, "ing=0")), h.mkString("; "))
    // ADDITIVE EVOLUTION: the next append carries a new column
    TableManifest.append(spark, tbl,
      Seq((100L, "new", 3.5)).toDF("id", "tag", "score"))
    val merged = TableManifest.read(spark, tbl, mergeSchema = true)
    assert(merged.columns.toSet == Set("id", "tag", "score"))
    assert(merged.count() == 16)
    assert(merged.filter(col("id") === 100L).head.getDouble(2) == 3.5)
    assert(merged.filter(col("score").isNull).count() == 15,
      "pre-evolution rows must read with NULL backfill")
    // the plain read stays cheap and fixed-schema (documented contract)
    assert(TableManifest.read(spark, tbl).count() == 16)
  }

  test("truncateLog bounds the permanent log: drops exactly the oldest " +
      "manifests, vacuums data referenced only below the cut, keeps the " +
      "suffix fully readable, and the table keeps committing") {
    import spark.implicits._
    val tbl = tmpTable("maniftrunc")
    def batch(tag: String, from: Int, n: Int) =
      (from until from + n).map(i => (i.toLong, tag)).toDF("id", "tag")
    TableManifest.publish(spark, tbl, batch("base", 0, 20))
    (0 until 11).foreach { b =>
      TableManifest.append(spark, tbl, batch(s"b$b", 100 + b * 10, 10),
        batchId = Some(b.toLong))
    }
    assert(TableManifest.versions(spark, tbl).size == 12)
    // floor: a tiny window is an ABA hazard, refuse it
    intercept[IllegalArgumentException] {
      TableManifest.truncateLog(spark, tbl, keepVersions = 2)
    }
    assert(TableManifest.truncateLog(spark, tbl, keepVersions = 8) == 4)
    assert(TableManifest.truncateLog(spark, tbl, keepVersions = 8) == 0,
      "idempotent when already inside the window")
    // the kept suffix is versions 5..12, all still fully readable
    // (append chain: their generations are shared with the head)
    val vs = TableManifest.versions(spark, tbl)
    assert(vs == (5L to 12L), vs.toString)
    assert(TableManifest.read(spark, tbl).count() == 20 + 11 * 10)
    assert(TableManifest.readVersion(spark, tbl, 5L).count() == 20 + 4 * 10)
    // versions below the cut are gone from the log
    val err = intercept[IllegalArgumentException] {
      TableManifest.readVersion(spark, tbl, 4L)
    }
    assert(err.getMessage.contains("retained"), err.getMessage)
    // the table keeps committing: watermark intact, appends continue
    assert(TableManifest.lastBatchId(spark, tbl).contains(10L))
    assert(TableManifest.append(spark, tbl, batch("b11", 300, 5),
      batchId = Some(11L)).isDefined)
    assert(TableManifest.read(spark, tbl).count() == 20 + 11 * 10 + 5)
    // a rewrite then cuts history as usual and data-only vacuum still
    // works over the truncated log
    TableManifest.rewrite(spark, tbl)(_.coalesce(1))
    TableManifest.rewrite(spark, tbl)(df => df)
    assert(TableManifest.read(spark, tbl).count() == 20 + 11 * 10 + 5)
    assert(TableManifest.versions(spark, tbl).size == 2)
  }

  test("per-writer watermarks: two foreachBatch sinks share one table, " +
      "each exactly-once under its OWN torn-checkpoint replay; a " +
      "REBUILT checkpoint (ids restart at 0) fails LOUDLY instead of " +
      "silently skipping; a fresh writerId is the recovery") {
    import spark.implicits._
    val base = suiteTempDir("manifmw")
    val tbl = s"$base/t"
    val schema = "id BIGINT, src STRING"
    new java.io.File(s"$base/inA").mkdirs()
    new java.io.File(s"$base/inB").mkdirs()
    // stageInput writes to $base/in — re-point per writer
    def stageTo(sub: String, name: String, from: Int, n: Int,
                src: String): Unit = {
      new java.io.File(s"$base/$sub").mkdirs()
      val df = (from until from + n).map(i => (i.toLong, src))
        .toDF("id", "src")
      df.coalesce(1).write.parquet(s"$base/stage_$sub$name")
      val f = new java.io.File(s"$base/stage_$sub$name").listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(f.toPath,
        java.nio.file.Paths.get(s"$base/$sub/$name.parquet"))
    }
    stageTo("inA", "a1", 0, 5, "A"); stageTo("inA", "a2", 5, 5, "A")
    stageTo("inB", "b1", 100, 5, "B"); stageTo("inB", "b2", 105, 5, "B")
    TableManifest.publish(spark, tbl, emptySeed(schema))
    def run(sub: String, ckpt: String, writerId: String): Unit =
      runAvailableNow(schema, s"$base/$sub", ckpt,
        TableManifest.streamingSink(tbl, writerId))
    run("inA", s"$base/ckA", "sink-a")
    run("inB", s"$base/ckB", "sink-b")
    assert(TableManifest.read(spark, tbl).count() == 20)
    assert(TableManifest.lastBatchId(spark, tbl, "sink-a").contains(1L))
    assert(TableManifest.lastBatchId(spark, tbl, "sink-b").contains(1L))
    // BOTH sinks crash between their manifest commit and their
    // checkpoint commit: each replays ITS OWN last batch under its own
    // writer id — no loss, no double, watermarks independent
    tearLastCommit(s"$base/ckA")
    tearLastCommit(s"$base/ckB")
    run("inA", s"$base/ckA", "sink-a")
    run("inB", s"$base/ckB", "sink-b")
    assert(TableManifest.read(spark, tbl).count() == 20,
      "a shared-table replay double-appended")
    val dup = TableManifest.read(spark, tbl).groupBy("id").count()
      .agg(max("count")).head.getLong(0)
    assert(dup == 1L, s"duplicate rows after two-writer replay: $dup")
    // REBUILT checkpoint: sink-a's checkpoint dir is lost entirely; the
    // restarted stream re-offers everything from batch id 0 — r10's
    // contract silently SKIPPED those batches (quiet loss); per-writer
    // watermarks fail LOUDLY instead
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(s"$base/ckA"))
    val boom = intercept[Exception] { run("inA", s"$base/ckA", "sink-a") }
    val chain = Iterator.iterate(boom: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.toString).mkString(" <- ")
    assert(chain.contains("REGRESSED"),
      s"a rebuilt checkpoint must fail loudly, got: $chain")
    assert(TableManifest.read(spark, tbl).count() == 20,
      "the refused regression must not have committed anything")
    // recovery recipe: a FRESH writer id (unknown writer = no watermark)
    // over the still-missing data only — new batches land
    stageTo("inC", "a3", 10, 5, "A2")
    run("inC", s"$base/ckC", "sink-a-rebuilt")
    assert(TableManifest.read(spark, tbl).count() == 25)
    assert(TableManifest.lastBatchId(spark, tbl, "sink-a-rebuilt")
      .contains(0L))
  }

  test("checkpointed head resolution: per-commit metadata cost is flat " +
      "in table age (bounded by the checkpoint interval), with no log " +
      "listing on the fast path — and the log stays time-travel-correct") {
    import spark.implicits._
    val tbl = tmpTable("manifckpt")
    def batch(from: Int): org.apache.spark.sql.DataFrame =
      Seq((from.toLong, s"b$from")).toDF("id", "tag")
    TableManifest.publish(spark, tbl, batch(0))
    (1 to 24).foreach(i => TableManifest.append(spark, tbl, batch(i)))
    val opsAt25 = TableManifest.headResolutionOps(spark, tbl)
    (25 to 120).foreach(i => TableManifest.append(spark, tbl, batch(i)))
    val opsAt121 = TableManifest.headResolutionOps(spark, tbl)
    // bound: hint read (2) + checkpoint parse (1) + ≤interval forward
    // probes + head parse (1) + slack — and NOT O(commits)
    val bound = TableManifest.CheckpointInterval.toInt + 6
    assert(opsAt25 <= bound, s"resolution cost $opsAt25 > $bound at 25")
    assert(opsAt121 <= bound,
      s"resolution cost $opsAt121 > $bound at 121 commits — head " +
        "resolution is growing with table age")
    // the fast path really is checkpoint-based: checkpoint files and the
    // hint exist on disk
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .map(_.getPath.getName).toSet
    assert(names.contains("_graft_last_checkpoint"), names.toString)
    assert(names.exists(_.startsWith("_graft_checkpoint-000120")),
      "the seq-120 winner must have checkpointed")
    // correctness unchanged: head content, versions window, reads
    assert(TableManifest.read(spark, tbl).count() == 121)
    assert(TableManifest.versions(spark, tbl).last == 121L)
    assert(TableManifest.readVersion(spark, tbl, 121L).count() == 121)
    assert(TableManifest.readVersion(spark, tbl, 60L).count() == 60)
  }

  test("the six-appender CAS race ACROSS a checkpoint boundary: the " +
      "seq-10 winner checkpoints mid-race and every batch still lands " +
      "exactly once") {
    import spark.implicits._
    val tbl = tmpTable("manifcasck")
    TableManifest.publish(spark, tbl, Seq((-1L, "seed")).toDF("id", "tag"))
    // serial appends to seq 7 — the race then commits seqs 8..13,
    // crossing the CheckpointInterval boundary at 10
    (0 until 6).foreach(i =>
      TableManifest.append(spark, tbl,
        Seq((i.toLong, s"pre$i")).toDF("id", "tag")))
    val writers = 6
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()
    try {
      val futures = (0 until writers).map { w =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            try {
              val df = (0 until 5)
                .map(i => ((1000 + w * 100 + i).toLong, s"w$w"))
                .toDF("id", "tag")
              start.await()
              TableManifest.append(spark, tbl, df,
                maxRetries = writers * 2)
            } catch { case t: Throwable => failures.add(t.toString) }
          }
        })
      }
      start.countDown()
      futures.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(failures.isEmpty, failures.toArray.mkString("; "))
    val rows = TableManifest.read(spark, tbl)
    assert(rows.count() == 1 + 6 + writers * 5,
      "a batch vanished or doubled across the checkpoint boundary")
    assert(TableManifest.versions(spark, tbl).last == 13L)
    // the boundary winner checkpointed; resolution goes through it
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$tbl/_graft_checkpoint-000010.json")))
    assert(TableManifest.headResolutionOps(spark, tbl) <=
      TableManifest.CheckpointInterval.toInt + 6)
  }

  test("catalog integration: SQL over a registered manifested name sees " +
      "exactly ONE committed version per statement across concurrent " +
      "rewrites; an un-refreshed view stays pinned within retention") {
    import spark.implicits._
    import graft.sources.TableCatalog
    val tbl = tmpTable("manifsql")
    TableManifest.publish(spark, tbl,
      (0 until 200).map(i => (i.toLong, "v1")).toDF("id", "tag"))
    TableCatalog.registerManifested(spark, "manif_sql_t", tbl)
    val r1 = TableCatalog.sqlManifested(spark,
      "SELECT COUNT(*) AS n, COUNT(DISTINCT tag) AS t, MIN(tag) AS v " +
        "FROM manif_sql_t").head
    assert((r1.getLong(0), r1.getLong(1), r1.getString(2)) ==
      ((200L, 1L, "v1")))
    // pinned view: after ONE rewrite, the un-refreshed registration
    // still reads the version it resolved (retention keeps it)
    TableManifest.rewrite(spark, tbl)(df =>
      df.withColumn("tag", lit("v2")))
    assert(spark.sql("SELECT MIN(tag) FROM manif_sql_t")
      .head.getString(0) == "v1",
      "an un-refreshed view must stay pinned to its resolved version")
    // resolve-through-pointer: the next statement sees the new head
    assert(TableCatalog.sqlManifested(spark,
      "SELECT MIN(tag) FROM manif_sql_t").head.getString(0) == "v2")
    // whole-version isolation under concurrent rewrites: every SQL
    // statement sees one tag and the full row count, never a mix
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reads = new java.util.concurrent.atomic.AtomicLong(0)
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = TableCatalog.sqlManifested(spark,
            "SELECT COUNT(*) AS n, COUNT(DISTINCT tag) AS t " +
              "FROM manif_sql_t").head
          if (r.getLong(0) != 200L || r.getLong(1) != 1L)
            violations.add(s"torn SQL read: $r")
          reads.incrementAndGet()
        } catch { case e: Throwable => violations.add(s"SQL failed: $e") }
      }
    })
    reader.start()
    try {
      (3 to 6).foreach { v =>
        val before = reads.get()
        TableManifest.rewrite(spark, tbl)(df =>
          df.withColumn("tag", lit(s"v$v")))
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (reads.get() == before && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(reads.get() > before, "SQL reader made no progress")
      }
    } finally { stop.set(true); reader.join(30000) }
    assert(violations.isEmpty, violations.toArray.mkString("; "))
    assert(TableCatalog.sqlManifested(spark,
      "SELECT MIN(tag) FROM manif_sql_t").head.getString(0) == "v6")
    // unknown names fail loudly
    intercept[IllegalArgumentException] {
      TableCatalog.refreshManifested(spark, "never_registered")
    }
  }

  test("live-writer-safe truncation: the barrier is persisted before " +
      "any deletion, a stale writer's claim of a freed seq self-undoes " +
      "as a CAS loss, live appenders racing a mid-stream truncation " +
      "land every batch exactly once, and recover reaps phantoms") {
    import spark.implicits._
    val tbl = tmpTable("maniftrbar")
    TableManifest.publish(spark, tbl, Seq((0L, "b0")).toDF("id", "tag"))
    (1 to 20).foreach(i =>
      TableManifest.append(spark, tbl,
        Seq((i.toLong, s"b$i")).toDF("id", "tag")))
    assert(TableManifest.truncateLog(spark, tbl, keepVersions = 8) == 13)
    assert(TableManifest.readBarrier(spark, tbl) == 14L,
      "the barrier must persist the cut seq")
    // the exact stale-writer shape: a claim of a FREED seq (the link
    // wins — the manifest was deleted) must self-undo and read as a
    // CAS loss, leaving no phantom behind
    val snap = TableManifest.parseSnapshotBody(
      minimalBody("_gen-000002-deadbeef"), "test")
    assert(!TableManifest.commitSnapshot(spark, tbl, 5L, snap),
      "a below-barrier claim must report a CAS loss")
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$tbl/_graft_manifest-000005.json")),
      "the stale claim must be undone, not left as a phantom version")
    // ... while an at/above-barrier commit is untouched by the check
    assert(TableManifest.read(spark, tbl).count() == 21)
    // LIVE RACE: three appenders churn while truncations run mid-stream
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 3).map { t =>
      new Thread(() => {
        try (0 until 10).foreach { i =>
          TableManifest.append(spark, tbl,
            Seq((1000L + t * 100 + i, s"w$t-$i")).toDF("id", "tag"),
            maxRetries = 20)
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    val truncator = new Thread(() => {
      try (0 until 5).foreach { _ =>
        Thread.sleep(150)
        TableManifest.truncateLog(spark, tbl, keepVersions = 8)
      } catch { case e: Throwable => errs.add(e) }
    })
    (threads :+ truncator).foreach(_.start())
    (threads :+ truncator).foreach(_.join())
    assert(errs.isEmpty, s"race errors: ${errs.toArray.mkString("; ")}")
    val fin = TableManifest.read(spark, tbl)
    assert(fin.filter(col("id") >= 1000L).count() == 30,
      "a truncation-raced append lost a batch (ABA)")
    assert(fin.filter(col("id") >= 1000L).select("id").distinct()
      .count() == 30, "a truncation-raced append double-landed")
    // the log actually shrank at the cuts (manifests ≤ 8 + post-cut
    // commits), and the table still reads whole
    assert(TableManifest.read(spark, tbl).count() == 51)
    // recover reaps a phantom below-barrier manifest (the crash-inside-
    // undo debris shape)
    val barrier = TableManifest.readBarrier(spark, tbl)
    assert(barrier >= 14L)
    val phantom = new org.apache.hadoop.fs.Path(
      s"$tbl/_graft_manifest-000003.json")
    val out = fs.create(phantom, false)
    out.write(minimalBody("_gen-000002-deadbeef").getBytes("UTF-8"))
    out.close()
    TableManifest.recover(spark, tbl)
    assert(!fs.exists(phantom),
      "recover must reap phantom below-barrier manifests")
    assert(TableManifest.read(spark, tbl).count() == 51)
  }

  test("commit-version alignment: a commit-race rebase renames its " +
      "staged generation to the version it actually lands at, so the " +
      "tombstone ordering rule stays exact under contention — a key " +
      "re-added concurrently with its delete is visible iff the append " +
      "COMMITTED after the tombstone") {
    import spark.implicits._
    (0 until 3).foreach { round =>
      val tbl = tmpTable(s"manifalign$round")
      TableManifest.publish(spark, tbl,
        (0 until 10).map(k => (k.toLong, "v1")).toDF("key", "tag"))
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val adder = new Thread(() => {
        try TableManifest.append(spark, tbl,
          Seq((5L, "re-added")).toDF("key", "tag"), maxRetries = 20)
        catch { case e: Throwable => errs.add(e) }
      })
      val deleter = new Thread(() => {
        try TableManifest.deleteRows(spark, tbl, Seq(5L).toDF("key"),
          Seq("key"), maxRetries = 20)
        catch { case e: Throwable => errs.add(e) }
      })
      adder.start(); deleter.start(); adder.join(); deleter.join()
      assert(errs.isEmpty, errs.toArray.mkString("; "))
      // every generation's name seq equals the version that introduced
      // it — the invariant the delete rule runs on
      val byVersion = TableManifest.versions(spark, tbl).map { v =>
        v -> TableManifest.readVersion(spark, tbl, v) // existence probe
      } // (readVersion also proves each version still resolves whole)
      val head = TableManifest.versions(spark, tbl).last
      var prev = Set.empty[String]
      (1L to head).foreach { v =>
        val gens = graft.ops.TableManifest
          .parseSnapshotBody(readManifest(tbl, v), "spec").generations.toSet
        (gens -- prev).foreach { g =>
          assert(TableManifest.genSeqOf(g) == v,
            s"generation $g introduced at version $v carries the wrong " +
              "seq — the rebase must re-align staged names")
        }
        prev = gens
      }
      // semantics follow commit order exactly
      val tombV = (1L to head).find { v =>
        graft.ops.TableManifest.parseSnapshotBody(readManifest(tbl, v),
          "spec").generations.exists(TableManifest.isTombstoneGen)
      }.get
      val addV = (1L to head).find { v =>
        graft.ops.TableManifest.parseSnapshotBody(readManifest(tbl, v),
          "spec").generations
          .exists(g => !TableManifest.isTombstoneGen(g) &&
            TableManifest.genSeqOf(g) == v && v > 1)
      }.get
      val visible = TableManifest.read(spark, tbl)
        .filter(col("key") === 5L).count()
      assert((visible > 0) == (addV > tombV),
        s"key 5 visibility ($visible rows) must equal commit order " +
          s"(append v$addV vs delete v$tombV, round $round)")
      assert(byVersion.nonEmpty)
    }
  }

  /** Replace the head manifest's body on disk with `edit(body)` and
    * drop the checkpoint cache (which still carries the old state);
    * returns the head manifest's path. */
  private def rewriteHeadManifest(tbl: String)(edit: String => String)
      : String = {
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val head = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .map(_.getPath).filter(_.getName.startsWith("_graft_manifest-"))
      .maxBy(_.getName)
    val body = {
      val in = fs.open(head)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    }
    fs.delete(head, false)
    val out = fs.create(head, false)
    out.write(edit(body).getBytes("UTF-8")); out.close()
    fs.listStatus(new org.apache.hadoop.fs.Path(tbl)).foreach { e =>
      val n = e.getPath.getName
      if (n.startsWith("_graft_checkpoint-") || n == "_graft_last_checkpoint")
        fs.delete(e.getPath, e.isDirectory)
    }
    head.toUri.getPath
  }

  /** A format-1 body listing one generation with an empty inventory. */
  private def minimalBody(gen: String, extra: String = ""): String =
    s"""{"format":1,"generations":["$gen"]$extra,"meta":""" +
      s"""{"$gen":{"schema":"{\\"type\\":\\"struct\\",""" +
      s"""\\"fields\\":[]}","files":[]}}}"""

  private def readManifest(tbl: String, v: Long): String = {
    val p = new org.apache.hadoop.fs.Path(
      f"$tbl/_graft_manifest-$v%06d.json")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  test("maintainManifested: one idempotent pass folds deltas AND " +
      "tombstones, compacts to the byte target, bounds the log, and " +
      "leaves content identical — the second pass is all-quiet") {
    import spark.implicits._
    val tbl = tmpTable("manifmaint")
    def rows(pairs: (Long, Long, String)*): org.apache.spark.sql.DataFrame =
      pairs.toDF("key", "seq", "state")
    TableManifest.publish(spark, tbl,
      (0 until 64).map(k => (k.toLong, 1L, s"v1-$k")).toDF(
        "key", "seq", "state"))
    // a long log (15 commits), live deltas, and a tombstone
    (0 until 10).foreach(i =>
      TableManifest.append(spark, tbl,
        rows((100L + i, 1L, s"app$i")), maxRetries = 10))
    TableManifest.upsertBucketedDelta(spark, tbl,
      rows((1L, 2L, "boot")), Seq("key"), "seq", "state", 4,
      batchId = Some(0L))
    TableManifest.upsertBucketedDelta(spark, tbl,
      rows((2L, 3L, "newer"), (105L, 2L, "upd")),
      Seq("key"), "seq", "state", 4, batchId = Some(1L))
    TableManifest.deleteRows(spark, tbl, Seq(3L, 107L).toDF("key"),
      Seq("key"))
    val before = TableManifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).sorted
    val rpt = TableManifest.maintainManifested(spark, tbl,
      targetBytes = 64L << 20, keepVersions = 8)
    assert(rpt.deltasFolded, rpt.toString)
    // the mixed layout folds tombstones WITH the deltas (one pass)
    val gens = TableManifest.currentGenerations(spark, tbl)
    assert(!gens.exists(TableManifest.isDeltaGen) &&
      !gens.exists(TableManifest.isTombstoneGen), gens.toString)
    assert(TableManifest.read(spark, tbl).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sorted.toSeq == before.toSeq, "maintenance changed content")
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val manifests = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .count(_.getPath.getName.startsWith("_graft_manifest-"))
    assert(manifests <= 8 + 2,
      s"the log must be bounded after maintenance: $manifests")
    // idempotent: the second pass is all-quiet
    val rpt2 = TableManifest.maintainManifested(spark, tbl,
      targetBytes = 64L << 20, keepVersions = 8)
    assert(!rpt2.deltasFolded && !rpt2.tombstonesFolded &&
      rpt2.optimizeAction == "skip" && rpt2.logDropped <= 1,
      rpt2.toString)
    // a PURE-bucketed table with only tombstones takes the
    // fold-and-compact branch
    val tbl2 = tmpTable("manifmaint2")
    TableManifest.publish(spark, tbl2,
      rows((1L, 1L, "a"), (2L, 1L, "b")))
    TableManifest.upsertBucketed(spark, tbl2, rows((1L, 2L, "a2")),
      Seq("key"), "seq", "state", 4, batchId = Some(0L))
    TableManifest.deleteRows(spark, tbl2, Seq(2L).toDF("key"), Seq("key"))
    val rpt3 = TableManifest.maintainManifested(spark, tbl2,
      targetBytes = 64L << 20, keepVersions = 8)
    assert(rpt3.tombstonesFolded, rpt3.toString)
    assert(TableManifest.read(spark, tbl2).collect()
      .map(_.getString(2)).sorted.toSeq == Seq("a2"))
    assert(!TableManifest.currentGenerations(spark, tbl2)
      .exists(TableManifest.isTombstoneGen))
  }

  test("recover reconciles crash debris: orphan next-generations and " +
      "stale manifest tmps are dropped, the pointer never moves") {
    import spark.implicits._
    val tbl = tmpTable("manifrec")
    TableManifest.publish(spark, tbl,
      (0 until 50).map(i => (i.toLong, "v1")).toDF("id", "tag"))
    val g2 = TableManifest.rewrite(spark, tbl)(df =>
      df.withColumn("tag", lit("v2")))
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // crash BEFORE the commit point: a fully-written orphan generation
    // and a stale manifest tmp — the manifest still serves v2
    (0 until 50).map(i => (i.toLong, "orphan")).toDF("id", "tag")
      .write.parquet(s"$tbl/_gen-000099-deadbeef")
    val out = fs.create(new org.apache.hadoop.fs.Path(
      s"$tbl/._manifest-crashed.tmp"), true)
    out.write("{}".getBytes("UTF-8")); out.close()
    assert(TableManifest.read(spark, tbl)
      .select("tag").distinct().head.getString(0) == "v2",
      "a crashed publish must be invisible to readers")
    // a ROUTINE publish must NOT reap the future-seq generation: it is
    // indistinguishable from another publisher's in-flight write —
    // only the explicit recover() (no-writer contract) may drop it
    val g3 = TableManifest.rewrite(spark, tbl)(df => df)
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$tbl/_gen-000099-deadbeef")),
      "publish must never delete a future-seq (possibly in-flight) gen")
    TableManifest.recover(spark, tbl)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .map(_.getPath.getName).toSet
    assert(!names.contains("_gen-000099-deadbeef"),
      s"orphan generation must be reconciled: $names")
    assert(!names.exists(_.startsWith("._manifest-")),
      s"stale manifest tmp must be dropped: $names")
    assert(names.contains(g2) && names.contains(g3),
      s"retention must keep current + previous: $names")
    assert(TableManifest.currentGeneration(spark, tbl).contains(g3))
    assert(TableManifest.read(spark, tbl).count() == 50)
  }

  test("writer ids can never alias manifest protocol fields: the parse " +
      "is top-level-anchored (a writers-map key named like a field is " +
      "just a writer), and the reserved names are refused at the API") {
    // the r11 regex parser read writers:{"batch":7} as a LEGACY global
    // watermark (phantom default-writer skip = quiet data loss) and
    // writers:{"buckets":3} as the bucket modulus (wrong-modulus point
    // reads) — pin the structural fix at the parser seam
    val s = TableManifest.parseSnapshotBody(minimalBody("_gen-000001-aa",
      ""","writers":{"batch":7,"buckets":3,"seq":9,"format":2}"""), "test")
    assert(s.watermark("batch").contains(7L))
    assert(s.watermark("buckets").contains(3L))
    assert(s.watermark("format").contains(2L),
      "a writers-map key must never read as the format field")
    assert(s.watermark(TableManifest.DefaultWriter).isEmpty,
      "a writers-map key must never read as a default-writer watermark")
    assert(s.buckets.isEmpty,
      "a writers-map key must never read as the bucket modulus")
    // the modern fields still parse from the top level ...
    val top = TableManifest.parseSnapshotBody(
      minimalBody("g", ""","buckets":16"""), "test")
    assert(top.buckets.contains(16))
    // ... and a pre-format body (the old top-level "batch" watermark
    // form) is refused, not aliased into a default-writer watermark
    val e = intercept[IllegalStateException] {
      TableManifest.parseSnapshotBody(
        """{"generations":["g"],"batch":4,"buckets":16}""", "legacy-body")
    }
    assert(e.getMessage.contains("legacy-body") &&
      e.getMessage.contains("format <none>"), e.getMessage)
    // belt and braces: the reserved names are refused before they can
    // ever be rendered into a manifest
    val tbl = tmpTable("manifresv")
    import spark.implicits._
    TableManifest.publish(spark, tbl, Seq((1L, "a")).toDF("id", "tag"))
    Seq("batch", "buckets", "writers", "generations", "format").foreach { w =>
      intercept[IllegalArgumentException] {
        TableManifest.append(spark, tbl, Seq((2L, "b")).toDF("id", "tag"),
          batchId = Some(0L), writerId = w)
      }
    }
  }

  test("checkpoint hint maintenance leaves no checksum debris: after " +
      "many checkpointed commits the table dir holds no stranded " +
      "'.._manifest-*.tmp.crc' sidecars") {
    import spark.implicits._
    val tbl = tmpTable("manifcrc")
    TableManifest.publish(spark, tbl, Seq((0L, "b0")).toDF("id", "tag"))
    (1 to 21).foreach(i =>
      TableManifest.append(spark, tbl, Seq((i.toLong, s"b$i")).toDF("id", "tag")))
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val debris = fs.listStatus(new org.apache.hadoop.fs.Path(tbl))
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".tmp.crc") || n.endsWith(".tmp"))
    assert(debris.isEmpty,
      s"checkpoint/commit staging must clean up after itself: " +
        debris.mkString(","))
  }

  test("a hint-guided resolution racing truncateLog never reports a " +
      "below-cut head: mid-truncation state (hint gone, gap above the " +
      "old checkpoint) falls back to the listing and finds the true head") {
    import spark.implicits._
    val tbl = tmpTable("maniftrunc")
    TableManifest.publish(spark, tbl, Seq((0L, "b0")).toDF("id", "tag"))
    (1 to 24).foreach(i =>
      TableManifest.append(spark, tbl, Seq((i.toLong, s"b$i")).toDF("id", "tag")))
    // head = 25, newest checkpoint = 20, hint → 20. Emulate truncation
    // mid-flight in ITS documented order (hint first, then manifests):
    // the hint is gone and manifests 21..23 are deleted — the old probe
    // walked 20→gap and reported 20 (five commits behind); the guard
    // must fall back to the listing and report 25.
    val fs = new org.apache.hadoop.fs.Path(tbl)
      .getFileSystem(spark.sessionState.newHadoopConf())
    def del(n: String) =
      fs.delete(new org.apache.hadoop.fs.Path(s"$tbl/$n"), false)
    // stale hint pointing at 10 (the pre-race state a best-effort hint
    // write allows), checkpoint 10 still present
    val out = fs.create(
      new org.apache.hadoop.fs.Path(s"$tbl/_graft_last_checkpoint"), true)
    out.write("""{"seq":10}""".getBytes("UTF-8")); out.close()
    (11 to 13).foreach(i => del(f"_graft_manifest-$i%06d.json"))
    del("_graft_last_checkpoint") // truncation drops the hint FIRST
    val head = TableManifest.headResolutionOps(spark, tbl) // must not throw
    assert(head > 0)
    assert(TableManifest.versions(spark, tbl).last == 25L,
      "resolution must fall back to the listing and find the true head")
    assert(TableManifest.read(spark, tbl).count() == 25)
  }

  test("manifested-catalog registry is per-session and validates names: " +
      "a sibling session sees none of this session's registrations, and " +
      "a non-identifier name fails at registration, not inside SQL") {
    import spark.implicits._
    import graft.sources.TableCatalog
    val tbl = tmpTable("manifcat2")
    TableManifest.publish(spark, tbl,
      (0 until 10).map(i => (i.toLong, "v1")).toDF("id", "tag"))
    intercept[IllegalArgumentException] {
      TableCatalog.registerManifested(spark, "bad name; drop", tbl)
    }
    TableCatalog.registerManifested(spark, "manif_scoped_t", tbl)
    assert(TableCatalog.sqlManifested(spark,
      "SELECT count(*) AS n FROM manif_scoped_t").head.getLong(0) == 10L)
    val sibling = spark.newSession()
    intercept[IllegalArgumentException] {
      TableCatalog.refreshManifested(sibling, "manif_scoped_t")
    }
    // and sqlManifested in the sibling must not materialize our views
    intercept[Exception] {
      TableCatalog.sqlManifested(sibling,
        "SELECT count(*) FROM manif_scoped_t").collect()
    }
  }

  test("the manifest-recorded schema IS the footer-inferred schema — " +
      "for plain, staged-bucket, delta, tombstone and partition-staged " +
      "generations — so scan construction reads zero footers and zero " +
      "listings, and the read's schema is byte-identical to a directory " +
      "read's") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array, col, lit, map, struct, to_timestamp}
    // schema with every normalization hazard: non-nullable longs/ints
    // from literals, nested array, timestamp_ntz, decimal, map,
    // struct-of-struct, and a field carrying non-empty METADATA (Spark
    // round-trips field metadata through the footer's row-metadata
    // property, so footer inference RETURNS it — the recorded schema
    // must preserve it the same way or the identity breaks)
    def rows(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, s"v$i", i * 1.5)).toDF("k", "tag", "v")
      .withColumn("nn", lit(7))
      .withColumn("arr", array(col("k")))
      .withColumn("ts", to_timestamp(lit("2020-01-01 00:00:00"))
        .cast("timestamp_ntz"))
      .withColumn("dec", col("k").cast("decimal(12,2)"))
      .withColumn("mp", map(col("tag"), col("v")))
      .withColumn("nest",
        struct(struct(col("k").as("a")).as("inner"), col("tag").as("t")))
      .select(col("*"), col("k").as("md",
        new org.apache.spark.sql.types.MetadataBuilder()
          .putString("comment", "carried caller metadata").build()))
    val tbl = tmpTable("manifschema")
    TableManifest.publish(spark, tbl, rows(0, 64), statsCol = Some("k"))
    TableManifest.append(spark, tbl, rows(64, 96))
    TableManifest.upsertBucketed(spark, tbl, rows(0, 8),
      Seq("k"), "v", "tag", numBuckets = 4)
    TableManifest.upsertBucketedDelta(spark, tbl, rows(8, 12),
      Seq("k"), "v", "tag", numBuckets = 4)
    TableManifest.upsertDelta(spark, tbl, rows(12, 16),
      Seq("k"), "v", "tag", numBuckets = 4)
    def assertHeadIdentity(t: String): Unit = {
      val head = TableManifest.resolveHead(spark, t).get
      head.snap.generations.foreach { g =>
        val rec = head.snap.meta(g).schemaJson
        val inferred = spark.read.parquet(s"$t/$g").schema.json
        assert(rec == inferred,
          s"generation $g recorded schema != footer inference:\n" +
            s"  recorded: $rec\n  inferred: $inferred")
      }
    }
    // staged-bucket, delta (both delta verbs) and plain generations
    val beforeFold = TableManifest.resolveHead(spark, tbl).get.snap
    assert(beforeFold.deltaGens.size >= 2, beforeFold.generations.toString)
    assertHeadIdentity(tbl)
    // the bucket-bounded fold's staged generations, then a tombstone
    val folded = TableManifest.compactDeltas(spark, tbl)
    assert(folded.exists(_.nonEmpty), s"expected a bucketed fold: $folded")
    assert(TableManifest.resolveHead(spark, tbl).get.snap.buckets
      .contains(4), "the fold must keep the bucket layout")
    TableManifest.deleteRows(spark, tbl, Seq(63L).toDF("k"), Seq("k"))
    assertHeadIdentity(tbl)
    // the partition-staged writer too (separate table: partition rules
    // and merge rules don't mix)
    val tbl2 = tmpTable("manifschemap")
    TableManifest.publish(spark, tbl2,
      rows(0, 4).withColumn("part", col("k") % 2))
    TableManifest.appendPartitioned(spark, tbl2,
      rows(4, 32).withColumn("part", col("k") % 2), "part")
    assertHeadIdentity(tbl2)
  }
}
