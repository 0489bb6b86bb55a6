package graft

import org.apache.spark.sql.functions._

import graft.ops.{EventOps, Lww}
import graft.streaming.ReplicationJob
import graft.streaming.ReplicationJob.Config

/** End-to-end replication path over the sf0.001 fixture stream:
  * stream → validate/split → compact → upsert, then replay for
  * exactly-once semantics (reference test_kafka_to_postgres +
  * test_checkpoint_resume semantics).
  */
class ReplicationSpec extends SparkSpecBase {

  private def freshCfg(): Config = {
    val base = tmpDir("repl")
    Config(
      sourceDir = s"$sfDir",                 // events.parquet lives here
      targetDir = s"$base/target",
      dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt")
  }

  // The file-source stream needs a directory of event files; point at a
  // dir containing only events.parquet.
  private def eventSourceDir(): String = {
    val d = tmpDir("src")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  private def expectedState() = {
    val ev = Tables.events(spark, sfDir)
    val err = EventOps.errorType(col("event_type"), col("value"), col("user_id"),
      Seq("signup", "purchase", "view", "click", "error"), 150.0)
    val valid = EventOps.validationSplit(ev, err)._1
    Lww.latestPerKey(
      valid.withColumn("_cdc_timestamp_micros", col("ts_us"))
        .withColumn("_last_event_id", col("event_id")),
      Seq("user_id"), Seq(col("_cdc_timestamp_micros"), col("_last_event_id")))
  }

  private def ev(id: Long, ts: Long, uid: Long, et: String, v: Double = 1.0) =
    s"""{"event_id":$id,"ts":${ts * 1000},"user_id":$uid,"event_type":"$et","value":$v}"""

  /** A commit-log directory with one segment file per element of `segs`. */
  private def commitLog(segs: Seq[Seq[String]]): String = {
    import java.nio.file.{Files, Paths}
    val dir = tmpDir("packlog")
    segs.zipWithIndex.foreach { case (lines, i) =>
      Files.writeString(Paths.get(dir, f"seg-$i%03d.log"), lines.mkString("", "\n", "\n"))
    }
    dir
  }

  /** A commit-log batch decoded as `ReplicationJob.start` decodes it, read
    * through the source's batch scan: one partition per segment.
    */
  private def commitLogBatch(segs: Seq[Seq[String]]) =
    spark.read.format(classOf[graft.streaming.EventLogSource].getName)
      .option("path", commitLog(segs)).load()
      .select(from_json(col("value"), ReplicationJob.eventSchema).as("e"))
      .select(col("e.*"))
      .withColumn("ts_us", expr("ts div 1000"))

  private def dlqFiles(cfg: Config, batchId: Long): Long = {
    val s = java.nio.file.Files.list(java.nio.file.Paths.get(cfg.dlqDir, s"_batch_id=$batchId"))
    try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
    finally s.close()
  }

  Seq("local", "persist").foreach { mode =>
    test(s"$mode mode: a 10-slice batch with a few malformed rows writes one DLQ file") {
      import spark.implicits._
      withSQLConf("spark.graft.materialize" -> mode) {
        // 10 segments of 20 events; ids 7, 57, 107 and 157 carry an unknown type
        val segs = (0 until 10).map(sg => (0 until 20).map { j =>
          val id = sg * 20L + j
          ev(id, 1000L + id, id % 37, if (id % 50 == 7) "bogus_type" else "view")
        })
        val batch = commitLogBatch(segs)
        assert(batch.rdd.getNumPartitions == 10)
        val cfg = freshCfg()
        ReplicationJob.processBatch(spark, batch, cfg, batchId = 3L)
        assert(dlqFiles(cfg, 3L) == 1L, "a few malformed rows take one DLQ task")
        val dlq = spark.read.parquet(cfg.dlqDir)
          .select("event_id", "error_type", "failed_at_us", "resolution_status", "_batch_id")
          .as[(Long, String, Long, String, Long)].collect().toSet
        // failed_at_us is the batch's max malformed ts_us
        assert(dlq == Set(7L, 57L, 107L, 157L).map(id =>
          (id, "SCHEMA_MISMATCH", 1157L, "PENDING", 3L)), s"DLQ rows: $dlq")
        assert(ReplicationJob.targetState(spark, cfg).count() == 37L)
      }
    }

    test(s"$mode mode: an all-malformed batch writes one DLQ file per tagged partition") {
      withSQLConf("spark.graft.materialize" -> mode) {
        // every row is malformed, so the DLQ write keeps all P partitions of
        // the tagged batch and its file count reads P: packed to at most one
        // partition per core, never more than the batch's own slices
        val cores = spark.sparkContext.defaultParallelism
        Seq(10, 3).zipWithIndex.foreach { case (slices, b) =>
          val segs = (0 until slices).map(sg => (0 until 20).map { j =>
            val id = sg * 20L + j
            ev(id, 1000L + id, id, "bogus_type")
          })
          val cfg = freshCfg()
          ReplicationJob.processBatch(spark, commitLogBatch(segs), cfg, batchId = b.toLong)
          assert(dlqFiles(cfg, b.toLong) == math.min(slices, cores).toLong,
            s"$slices slices on $cores cores")
          assert(spark.read.parquet(cfg.dlqDir).count() == slices * 20L)
        }
      }
    }
  }

  test("poison batch: all-null malformed rows route to DLQ without crashing") {
    import spark.implicits._
    val cfg = freshCfg()
    // a fully-malformed envelope decodes to all-null columns (null ts_us
    // included) — the batch must land in the DLQ, not NPE the stream
    val poison = Seq((null: java.lang.Long, null: java.lang.Long, null: java.lang.Long,
        null: String, null: java.lang.Double, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts_us", org.apache.spark.sql.functions.expr("ts div 1000"))
    ReplicationJob.processBatch(spark, poison, cfg, batchId = 7L)
    val dlq = spark.read.parquet(cfg.dlqDir)
    assert(dlq.count() == 1L)
    assert(dlq.select("failed_at_us").head().getLong(0) == 0L)
  }

  test("stream end-to-end: target equals LWW fold of valid events; invalid → DLQ") {
    val cfg = freshCfg().copy(sourceDir = eventSourceDir())
    val q = ReplicationJob.start(spark, cfg)
    q.awaitTermination(120000)

    val target = ReplicationJob.targetState(spark, cfg)
    val expected = expectedState()

    assert(target.count() == expected.count())
    val mism = target.select("user_id", "_cdc_timestamp_micros", "_last_event_id")
      .exceptAll(expected.select("user_id", "_cdc_timestamp_micros", "_last_event_id"))
    assert(mism.isEmpty, "target state diverges from LWW fold")

    val ev = Tables.events(spark, sfDir)
    val err = EventOps.errorType(col("event_type"), col("value"), col("user_id"),
      cfg.validTypes, cfg.maxValue)
    val invalidCount = EventOps.validationSplit(ev, err)._2.count()
    val dlqCount = spark.read.parquet(cfg.dlqDir).count()
    assert(dlqCount == invalidCount)
    assert(dlqCount > 0, "fixture should produce some DLQ rows")
  }

  test("replay idempotence: reprocessing the same batch leaves state unchanged") {
    val src = eventSourceDir()
    val cfg = freshCfg().copy(sourceDir = src)
    ReplicationJob.start(spark, cfg).awaitTermination(120000)
    val first = ReplicationJob.targetState(spark, cfg)
      .select("user_id", "_cdc_timestamp_micros", "_last_event_id").collect().toSet

    // new checkpoint → the stream replays from scratch against existing target
    val cfg2 = cfg.copy(checkpointDir = tmpDir("ckpt2"))
    ReplicationJob.start(spark, cfg2).awaitTermination(120000)
    val second = ReplicationJob.targetState(spark, cfg)
      .select("user_id", "_cdc_timestamp_micros", "_last_event_id").collect().toSet

    assert(first == second, "replayed batches must not change LWW state")
  }

  test("streaming path executes the LWW sink against a live JDBC target") {
    import graft.sink.JdbcLwwExecutor
    val url = "jdbc:derby:memory:repljdbc;create=true"
    val cols = Seq("user_id", "event_type", "value",
      "_cdc_deleted", "_cdc_timestamp_micros", "_last_event_id")
    JdbcLwwExecutor.ensureTable(url,
      """CREATE TABLE cdc_events_t (
        |  "user_id" BIGINT NOT NULL,
        |  "event_type" VARCHAR(32),
        |  "value" DOUBLE,
        |  "_cdc_deleted" BOOLEAN,
        |  "_cdc_timestamp_micros" BIGINT,
        |  "_last_event_id" BIGINT,
        |  PRIMARY KEY ("user_id"))""".stripMargin)
    val t = JdbcLwwExecutor.Target(url, "cdc_events_t", cols, pk = Seq("user_id"))
    val cfg = freshCfg().copy(sourceDir = eventSourceDir(), jdbcTarget = Some(t))
    ReplicationJob.start(spark, cfg).awaitTermination(120000)

    // S7: live JDBC target scan through the Spark JDBC source
    val target = spark.read.format("jdbc")
      .option("url", url).option("dbtable", "cdc_events_t").load()
    val expected = expectedState()
    assert(target.count() == expected.count())
    val mism = target.select("user_id", "_cdc_timestamp_micros", "_last_event_id")
      .exceptAll(expected.select("user_id", "_cdc_timestamp_micros", "_last_event_id"))
    assert(mism.isEmpty, "JDBC target state diverges from LWW fold")
  }

  test("DLQ full loop: poison -> DLQ -> replay produce -> reprocess -> state") {
    import spark.implicits._
    import graft.ops.DlqService
    import graft.streaming.KafkaCdc
    val cfg = freshCfg()
    // batch 0: one good row, one poison row (unknown event type)
    val b0 = Seq(
      (1L, 1000000L, 1L, "view", 1.0, null: String),
      (2L, 2000000L, 2L, "bogus", 2.0, null: String))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .withColumn("ts_us", expr("ts div 1000"))
    ReplicationJob.processBatch(spark, b0, cfg, batchId = 0L)
    assert(ReplicationJob.targetState(spark, cfg).count() == 1L)
    val dlq = spark.read.parquet(cfg.dlqDir)
    assert(dlq.select("event_id").as[Long].collect().toSeq == Seq(2L))

    // operator replays id 2: produce to the wire, fix upstream, re-consume
    val (outbound, updatedDlq) = DlqService.replay(dlq, Seq(2L), nowUs = 999L)
    val reframed = outbound.select(
      col("key").cast("binary").as("key"),
      col("value").cast("binary").as("value"),
      lit("cdc-events-users").as("topic"), lit(0).as("partition"),
      lit(0L).as("offset"), current_timestamp().as("timestamp"),
      lit(0).as("timestampType"))
    val reconsumed = KafkaCdc.decode(reframed, spark.read.parquet(cfg.dlqDir).schema)
      .withColumn("event_type", lit("purchase")) // the upstream fix
      .select("event_id", "ts", "user_id", "event_type", "value", "props", "ts_us")
    ReplicationJob.processBatch(spark, reconsumed, cfg, batchId = 1L)

    // the fixed event reaches target state; the DLQ row is resolved
    val state = ReplicationJob.targetState(spark, cfg)
      .select("user_id", "_last_event_id").as[(Long, Long)].collect().toMap
    assert(state == Map(1L -> 1L, 2L -> 2L), s"replayed event must land in state: $state")
    val resolved = updatedDlq.filter(col("event_id") === 2L)
      .select("resolution_status", "resolved_at_us").head()
    assert(resolved.getString(0) == "MANUAL_RESOLVED" && resolved.getLong(1) == 999L)
  }

  test("SC-007 crash recovery: mid-stream stop + resume loses nothing") {
    import java.nio.file.{Files, Paths}
    // 10 events (one invalid) over 2 commit-log segments, 2 rows/trigger
    // → 5 micro-batches; the stream is stopped while running (possibly
    // mid-batch) and resumed from the checkpoint. Zero loss/dup is the
    // checkpoint + idempotent-LWW construction (reference
    // test_crash_recovery.py:343, SC-007 "≤30s, zero events lost").
    val dir = tmpDir("crashlog")
    Files.writeString(Paths.get(dir, "seg-000.log"),
      (1L to 5L).map(i => ev(i, i * 100, i, "view", 1.0)).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(dir, "seg-001.log"),
      ((6L to 9L).map(i => ev(i, i * 100, i, "click", 2.0)) :+
        ev(10, 1000, 10, "bogus_type", 3.0)).mkString("", "\n", "\n"))
    val base = tmpDir("crashrepl")
    val cfg = freshCfg().copy(
      sourceDir = dir, targetDir = s"$base/target", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", eventLog = Some((dir, 2L)))

    val q = ReplicationJob.start(spark, cfg, continuous = true)
    // let at least one batch commit, then "crash"
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!Files.exists(Paths.get(cfg.targetDir, "_SUCCESS")) &&
        System.nanoTime() < deadline) Thread.sleep(100)
    assert(Files.exists(Paths.get(cfg.targetDir, "_SUCCESS")),
      "stream never committed a batch")
    q.stop()

    // resume from the same checkpoint: drain whatever remains — CLOCKED
    // (r17 verdict #2: SC-007's "≤30 s" half was proven for zero-loss
    // but never timed; graft.RecoveryBench measures it at sf0.1, this
    // spec pins the same bound at fixture scale)
    val tResume0 = System.nanoTime()
    ReplicationJob.start(spark, cfg).awaitTermination(120000)
    val recoverySec = (System.nanoTime() - tResume0) / 1e9
    assert(recoverySec <= 30.0,
      f"SC-007 recovery took $recoverySec%.1f s (bound 30 s)")
    val state = ReplicationJob.targetState(spark, cfg)
      .select("user_id", "_last_event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == (1L to 9L).map(i => i -> i).toMap,
      s"every valid event must survive the crash exactly once: $state")
    val dlq = spark.read.parquet(cfg.dlqDir).select("event_id")
      .collect().map(_.getLong(0)).toSeq
    assert(dlq == Seq(10L), s"the invalid event must be in the DLQ exactly once: $dlq")
  }

  test("soft-deleted rows are flagged, not dropped") {
    val cfg = freshCfg().copy(sourceDir = eventSourceDir())
    ReplicationJob.start(spark, cfg).awaitTermination(120000)
    val t = ReplicationJob.targetState(spark, cfg)
    val live = ReplicationJob.targetState(spark, cfg, includeDeleted = false)
    assert(t.filter(col("_cdc_deleted")).count() + live.count() == t.count())
  }

  /** (event_id, ts_us, user_id, event_type, value) rows in the stream's
    * post-decode shape; a None is a null column.
    */
  private def rowsDf(rows: (Option[Long], Option[Long], Option[Long], String, Double)*) = {
    import spark.implicits._
    rows.toSeq.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), (col("ts_us") * 1000).as("ts"), col("user_id"),
        col("event_type"), col("value"), lit(null).cast("string").as("props"), col("ts_us"))
  }

  private def row(id: Long, tsUs: Long, uid: Long, et: String) =
    (Some(id), Some(tsUs), Some(uid), et, 1.0)

  Seq("local", "persist").foreach { mode =>
    test(s"$mode mode: one fold of the raw rows equals the two-fold reference") {
      import spark.implicits._
      val kinds = Seq("signup", "purchase", "view", "click", "error", "truncate")
      // intra-batch duplicate keys, out-of-order events, ts ties broken on
      // event_id, deletes ("error"), a truncate and null positions
      val b0 = rowsDf(
        row(1, 100, 1, "signup"), row(2, 150, 1, "view"), row(3, 120, 1, "click"),
        row(5, 200, 2, "signup"), row(4, 200, 2, "purchase"),
        row(6, 300, 3, "signup"), row(7, 310, 3, "error"),
        row(8, 400, 4, "signup"), row(9, 90, 5, "signup"),
        (None, Some(500L), Some(6L), "view", 1.0), (Some(10L), None, Some(6L), "view", 1.0),
        row(11, 450, 7, "bogus"))
      val b1 = rowsDf(
        row(20, 150, 1, "purchase"), row(21, 150, 1, "click"),   // tie with state, tie in batch
        row(22, 199, 2, "view"),                                   // older than state: rejected
        row(23, 320, 3, "signup"), row(24, 315, 3, "error"),      // out of order in batch
        row(25, 350, 8, "view"), row(26, 90, 8, "view"),
        (Some(27L), Some(120L), None, "truncate", 1.0),           // clears rows below (120, 27)
        row(28, 260, 5, "error"), row(29, 95, 9, "view"),
        (Some(30L), None, Some(4L), "view", 1.0), (Some(31L), Some(600L), Some(4L), "view", 500.0))
      // reference: state = latestPerKey(state ∪ latestPerKey(batch)), then
      // the batch's truncate watermark
      val order = Seq(col("_cdc_timestamp_micros"), col("_last_event_id"))
      def enriched(b: org.apache.spark.sql.DataFrame) =
        b.filter(col("event_type").isin(kinds.filterNot(_ == "truncate"): _*) &&
            col("event_id").isNotNull && col("ts_us").isNotNull &&
            col("value").between(0.0, 150.0))
          .withColumn("_cdc_deleted", col("event_type") === "error")
          .withColumn("_cdc_timestamp_micros", col("ts_us"))
          .withColumn("_last_event_id", col("event_id"))
      val s0 = Lww.latestPerKey(enriched(b0), Seq("user_id"), order)
      val s1 = Lww.latestPerKey(s0.unionByName(Lww.latestPerKey(enriched(b1), Seq("user_id"), order)),
          Seq("user_id"), order)
        .filter(col("ts_us") > 120L || (col("ts_us") === 120L && col("event_id") > 27L))
      val cols = s1.columns.toSeq
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
      val expected = rows(s1)
      assert(s1.select("user_id", "_last_event_id").as[(Long, Long)].collect().toMap ==
        Map(1L -> 21L, 2L -> 5L, 3L -> 23L, 4L -> 8L, 5L -> 28L, 8L -> 25L))
      withSQLConf("spark.graft.materialize" -> mode) {
        val cfg = freshCfg().copy(validTypes = kinds)
        ReplicationJob.processBatch(spark, b0, cfg, batchId = 0L)
        ReplicationJob.processBatch(spark, b1, cfg, batchId = 1L)
        assert(rows(ReplicationJob.targetState(spark, cfg)) == expected)
        val dlq = spark.read.parquet(cfg.dlqDir)
          .select("event_id", "error_type", "failed_at_us", "_batch_id")
          .as[(Option[Long], String, Long, Long)].collect().toSet
        assert(dlq == Set(
          (None, "SCHEMA_MISMATCH", 500L, 0L), (Some(10L), "SCHEMA_MISMATCH", 500L, 0L),
          (Some(11L), "SCHEMA_MISMATCH", 500L, 0L),
          (Some(30L), "SCHEMA_MISMATCH", 600L, 1L),
          (Some(31L), "CONSTRAINT_VIOLATION", 600L, 1L)), dlq.toString)
      }
    }
  }

  test("local mode: a steady-state batch runs 4 Spark jobs with DLQ rows and 3 without") {
    withSQLConf("spark.graft.materialize" -> "local") {
      val cfg = freshCfg()
      ReplicationJob.processBatch(spark,
        rowsDf((1L to 20L).map(i => row(i, 100 + i, i % 7, "view")): _*), cfg, batchId = 0L)
      // tag barrier, fold map stage, state write, DLQ write
      val withDlq = Harness.measure(spark)(ReplicationJob.processBatch(spark, rowsDf(
        row(30, 500, 1, "click"), row(31, 501, 1, "view"), row(32, 502, 9, "bogus")),
        cfg, batchId = 1L))
      assert(withDlq.jobs == 4)
      val clean = Harness.measure(spark)(ReplicationJob.processBatch(spark, rowsDf(
        row(40, 600, 2, "click"), row(41, 601, 3, "view")), cfg, batchId = 2L))
      assert(clean.jobs == 3)
      assert(ReplicationJob.targetState(spark, cfg).count() == 7L)
    }
  }

  Seq("local", "persist", "checkpoint").foreach { mode =>
    test(s"$mode mode: an empty batch and an all-malformed batch each deliver the control row") {
      import spark.implicits._
      if (mode == "checkpoint") spark.sparkContext.setCheckpointDir(tmpDir("rdd_ckpt"))
      withSQLConf("spark.graft.materialize" -> mode) {
        // the guard reads ts_min, which is null when no row is valid
        val cfg = freshCfg().copy(tsSanityBoundsUs = Some((0L, 10000L)))
        // a missing control row would throw here instead of returning
        ReplicationJob.processBatch(spark, rowsDf(), cfg, batchId = 0L)
        assert(ReplicationJob.targetState(spark, cfg).count() == 0L)
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cfg.dlqDir)))
        ReplicationJob.processBatch(spark, rowsDf(
          row(1, 700, 1, "bogus"), (Some(2L), None, Some(2L), "view", 1.0),
          row(3, 900, 3, "view").copy(_5 = 151.0)), cfg, batchId = 1L)
        assert(ReplicationJob.targetState(spark, cfg).count() == 0L)
        val dlq = spark.read.parquet(cfg.dlqDir)
          .select("event_id", "error_type", "failed_at_us").as[(Long, String, Long)].collect().toSet
        assert(dlq == Set((1L, "SCHEMA_MISMATCH", 900L), (2L, "SCHEMA_MISMATCH", 900L),
          (3L, "CONSTRAINT_VIOLATION", 900L)))
      }
    }
  }

  test("a control row that never arrives, or arrives empty, fails the batch") {
    import scala.concurrent.duration._
    val never = scala.concurrent.Promise[org.apache.spark.sql.Row]().future
    val late = intercept[IllegalStateException](ReplicationJob.controlRow(never, 5L, 50.millis))
    assert(late.getMessage.contains("batch 5: control row not delivered"))
    val empty = intercept[IllegalStateException](ReplicationJob.controlRow(
      scala.concurrent.Future.successful(org.apache.spark.sql.Row.empty), 6L))
    assert(empty.getMessage.contains("batch 6: the tag barrier delivered an empty control row"))
  }

  test("a second AvailableNow query over the same log in a warm session compiles at most 2 classes") {
    // 3 segments of 40 events on 23 keys, 2 malformed per segment
    val log = commitLog((0 until 3).map(sg => (0 until 40).map { j =>
      val id = sg * 40L + j
      ev(id, 1000L + id, id % 23, if (j % 20 == 3) "bogus" else Seq("signup", "view", "error")(j % 3))
    }))
    def cfg() = freshCfg().copy(eventLog = Some((log, 40L)))
    val first = cfg()
    ReplicationJob.start(spark, first).awaitTermination(120000)
    val second = cfg()
    val m = Harness.measure(spark)(ReplicationJob.start(spark, second).awaitTermination(120000))
    assert(m.compiles <= 2L, s"${m.compiles} classes compiled by the second query")
    def state(c: Config) = ReplicationJob.targetState(spark, c).collect().toSet
    assert(state(second) == state(first) && state(first).size == 23)
    assert(spark.read.parquet(second.dlqDir).count() == 6L)
  }

  test("a steady-state batch compiles nothing: the batch id and DLQ watermark are data") {
    import spark.implicits._
    withSQLConf("spark.graft.materialize" -> "local") {
      val cfg = freshCfg()
      // each batch: 11 valid rows on 4 keys and one malformed row whose
      // ts_us, the batch's failed_at_us, differs per batch
      def batch(b: Long) = rowsDf(((0L until 11L).map(j =>
        row(b * 100 + j, 1000 * b + j, j % 4, "view")) :+ row(b * 100 + 50, 1000 * b + 77, 9, "bogus")): _*)
      // the first batch meets no state, the second folds into it
      ReplicationJob.processBatch(spark, batch(0), cfg, batchId = 0L)
      ReplicationJob.processBatch(spark, batch(1), cfg, batchId = 1L)
      val m = Harness.measure(spark)(ReplicationJob.processBatch(spark, batch(2), cfg, batchId = 2L))
      assert(m.compiles == 0L, s"${m.compiles} classes compiled by a steady-state batch")
      val dlq = spark.read.parquet(cfg.dlqDir)
        .select("event_id", "error_type", "failed_at_us", "resolution_status", "resolved_at_us", "_batch_id")
        .as[(Long, String, Long, String, Option[Long], Long)].collect().toSet
      assert(dlq == (0L to 2L).map(b =>
        (b * 100 + 50, "SCHEMA_MISMATCH", 1000 * b + 77, "PENDING", None, b)).toSet, s"DLQ rows: $dlq")
      assert((0L to 2L).map(dlqFiles(cfg, _)) == Seq(1L, 1L, 1L))
      // a replayed batch id overwrites its own partition
      ReplicationJob.processBatch(spark, batch(2), cfg, batchId = 2L)
      assert(spark.read.parquet(cfg.dlqDir).count() == 3L && dlqFiles(cfg, 2L) == 1L)
      assert(ReplicationJob.targetState(spark, cfg).count() == 4L)
    }
  }

  /** Start a drain of `src` on `session` through `startStream`, and
    * return the identity of the class loader its batch's task ran under,
    * with the isolation conf the stream's own session carried.
    */
  private def streamTaskLoader(session: org.apache.spark.sql.SparkSession,
      src: String): (Int, String) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val writer = session.readStream.schema(ReplicationJob.eventSchema).parquet(src)
      .writeStream.option("checkpointLocation", tmpDir("ldrck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val loader = batch.sparkSession.sparkContext.parallelize(Seq(1), 1)
          .map(_ => System.identityHashCode(Thread.currentThread.getContextClassLoader))
          .collect().head
        seen.add((loader, batch.sparkSession.conf.get("spark.sql.artifact.isolation.enabled")))
        ()
      }
    ReplicationJob.startStream(session, writer).awaitTermination(120000)
    assert(seen.size == 1)
    seen.peek()
  }

  test("stream queries share one task class loader unless the session carries artifacts") {
    val src = eventSourceDir()
    val (a, aIso) = streamTaskLoader(spark.newSession(), src)
    val (b, bIso) = streamTaskLoader(spark.newSession(), src)
    assert(a == b && aIso == "false" && bIso == "false")
    // a session-scoped class keeps its stream on a loader of its own
    val withClass = spark.newSession()
    val bytes = getClass.getResourceAsStream("/graft/SparkTestSession.class").readAllBytes()
    withClass.addArtifact(bytes, "classes/GraftArtifactProbe.class")
    val (c, cIso) = streamTaskLoader(withClass, src)
    assert(c != a && cIso == "true")
  }

  test("startStream puts the caller's isolation conf back as it found it, set or unset") {
    val key = "spark.sql.artifact.isolation.enabled"
    val src = eventSourceDir()
    Seq(None, Some("true"), Some("false")).foreach { prior =>
      val session = spark.newSession()
      prior.foreach(session.conf.set(key, _))
      streamTaskLoader(session, src)
      assert(session.conf.getAll.get(key) == prior, s"prior $prior")
    }
  }

  test("a small streamed batch runs one task in the tag barrier and the stages that read it") {
    // 8 segments of 25 events (about 9 KB of log), one trigger: far below
    // EventLogSource.TaskBytes, so the source plans one partition
    val log = commitLog((0 until 8).map(sg => (0 until 25).map { j =>
      val id = sg * 25L + j
      ev(id, 1000L + id, id % 31, if (j == 7) "bogus" else Seq("signup", "view", "error")(j % 3))
    }))
    withSQLConf("spark.graft.materialize" -> "local") {
      val cfg = freshCfg().copy(eventLog = Some((log, 1000L)))
      val m = Harness.measure(spark)(ReplicationJob.start(spark, cfg).awaitTermination(120000))
      // in stage order: the tag barrier, the fold's map side, the DLQ
      // write and the state write (4, 4, 1 and 1 tasks when the source
      // planned one partition per segment)
      val tasks = m.stages.sortBy(_.stageId).map(_.numTasks)
      assert(tasks == Seq(1, 1, 1, 1), s"tasks per stage: $tasks")
      assert(ReplicationJob.targetState(spark, cfg).count() == 31L)
      assert(spark.read.parquet(cfg.dlqDir).count() == 8L)
    }
  }

  Seq("local", "persist", "checkpoint").foreach { mode =>
    test(s"$mode mode: the DLQ task count is read off the tagged batch without a SQL execution") {
      import spark.implicits._
      if (mode == "checkpoint") spark.sparkContext.setCheckpointDir(tmpDir("rdd_ckpt"))
      withSQLConf("spark.graft.materialize" -> mode) {
        val cfg = freshCfg()
        def batch(b: Long) = rowsDf(((0L until 11L).map(j =>
          row(b * 100 + j, 1000 * b + j, j % 4, "view")) :+ row(b * 100 + 50, 1000 * b + 77, 9, "bogus")): _*)
        ReplicationJob.processBatch(spark, batch(0), cfg, batchId = 0L)
        ReplicationJob.processBatch(spark, batch(1), cfg, batchId = 1L)
        val executions = new java.util.concurrent.atomic.AtomicInteger
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
            e match {
              case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
                executions.incrementAndGet()
              case _ =>
            }
        }
        spark.sparkContext.addSparkListener(listener)
        try Harness.measure(spark)(ReplicationJob.processBatch(spark, batch(2), cfg, batchId = 2L))
        finally spark.sparkContext.removeSparkListener(listener)
        // the tag barrier, the fold + state write and the DLQ write; the
        // DLQ task count read through `tagged.rdd` posted a fourth
        assert(executions.get() == 3, s"${executions.get()} SQL executions")
        val dlq = spark.read.parquet(cfg.dlqDir)
          .select("event_id", "error_type", "failed_at_us", "resolution_status", "_batch_id")
          .as[(Long, String, Long, String, Long)].collect().toSet
        assert(dlq == (0L to 2L).map(b =>
          (b * 100 + 50, "SCHEMA_MISMATCH", 1000 * b + 77, "PENDING", b)).toSet, s"DLQ rows: $dlq")
        assert((0L to 2L).map(dlqFiles(cfg, _)) == Seq(1L, 1L, 1L))
        assert(ReplicationJob.targetState(spark, cfg).count() == 4L)
      }
    }
  }
}
