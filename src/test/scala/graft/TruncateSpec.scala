package graft

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import org.apache.spark.sql.functions._

import graft.streaming.ReplicationJob
import graft.streaming.ReplicationJob.Config

/** TRUNCATE operation semantics (reference `src/models/change_event.py:14,
  * 115-117`: a TRUNCATE carries no before/after image and clears the whole
  * table at its position in the change stream; op validation
  * `src/utils/validators.py:76-78`).
  *
  * The engine's contract is LWW-ordered: only rows that LOSE the
  * (ts, event_id) ordering against the truncate watermark are cleared, so
  * late-but-newer upserts — same batch or already stored — survive, and
  * replaying a truncate-bearing batch is a no-op (the ST5 exactly-once
  * construction extends to control operations). Verified against both
  * targets: the parquet state store and live JDBC.
  */
class TruncateSpec extends SparkSpecBase {
  import spark.implicits._

  private val kinds = Seq("signup", "purchase", "view", "click", "error", "truncate")

  /** (event_id, ts_us, user_id, event_type, value) rows in the stream's
    * post-decode shape.
    */
  private def batchDf(rows: (Long, Long, Long, String, Double)*) =
    rows.toSeq.toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000)
      .withColumn("props", lit(null).cast("string"))

  private def freshCfg(): Config = {
    val base = tmpDir("trunc")
    Config(sourceDir = base, targetDir = s"$base/target", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", validTypes = kinds)
  }

  private def stateOf(cfg: Config): Map[Long, Long] =
    ReplicationJob.targetState(spark, cfg)
      .select("user_id", "_last_event_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** Shared scenario: fold 3 users, truncate at (300, 4) in a batch that
    * also carries one pre- and one post-watermark upsert, replay that
    * batch, then keep folding.
    */
  private def runScenario(cfg: Config, readState: () => Map[Long, Long]): Unit = {
    ReplicationJob.processBatch(spark, batchDf(
      (1L, 100L, 1L, "view", 1.0),
      (2L, 200L, 2L, "click", 2.0),
      (3L, 500L, 3L, "purchase", 3.0)), cfg, batchId = 0L)
    assert(readState() == Map(1L -> 1L, 2L -> 2L, 3L -> 3L))

    // truncate watermark (300, 4); user 4 @ ts 400 out-orders it (same
    // batch), user 5 @ ts 250 and stored users 1 (100) / 2 (200) lose;
    // stored user 3 (500) survives
    val b1 = batchDf(
      (4L, 300L, 0L, "truncate", 0.0),
      (5L, 400L, 4L, "signup", 4.0),
      (6L, 250L, 5L, "view", 5.0))
    ReplicationJob.processBatch(spark, b1, cfg, batchId = 1L)
    val after = readState()
    assert(after == Map(3L -> 3L, 4L -> 5L),
      s"only rows newer than the truncate watermark survive, got $after")

    // at-least-once replay of the truncate-bearing batch: a no-op
    ReplicationJob.processBatch(spark, b1, cfg, batchId = 1L)
    assert(readState() == after, "replayed truncate batch must converge")

    // the fold continues normally past the truncate
    ReplicationJob.processBatch(spark, batchDf(
      (7L, 600L, 1L, "view", 1.0)), cfg, batchId = 2L)
    assert(readState() == after + (1L -> 7L))

    // no DLQ writes: every batch was clean
    assert(!Files.exists(Paths.get(cfg.dlqDir)), "clean batches must not touch the DLQ")
  }

  test("plain parquet store: truncate clears only LWW-losing rows, replay-idempotent") {
    val cfg = freshCfg()
    runScenario(cfg, () => stateOf(cfg))
  }

  test("plain parquet store: state rebuilds after a truncate that clears everything") {
    val cfg = freshCfg()
    ReplicationJob.processBatch(spark, batchDf(
      (1L, 100L, 1L, "view", 1.0),
      (2L, 200L, 2L, "click", 2.0)), cfg, batchId = 0L)
    ReplicationJob.processBatch(spark, batchDf(
      (9L, 900L, 0L, "truncate", 0.0)), cfg, batchId = 1L)
    assert(stateOf(cfg).isEmpty, "an all-clearing truncate leaves an empty state")
    // a replay of the truncate batch clears nothing more
    ReplicationJob.processBatch(spark, batchDf(
      (9L, 900L, 0L, "truncate", 0.0)), cfg, batchId = 1L)
    assert(stateOf(cfg).isEmpty)
    // state rebuilds from scratch afterwards
    ReplicationJob.processBatch(spark, batchDf(
      (10L, 1000L, 7L, "signup", 1.0)), cfg, batchId = 2L)
    assert(stateOf(cfg) == Map(7L -> 10L))
  }

  test("live JDBC target: truncateTable executes the watermark DELETE") {
    val url = "jdbc:derby:memory:trunctest;create=true"
    graft.sink.JdbcLwwExecutor.ensureTable(url,
      """CREATE TABLE trunc_t (
        |  "user_id" BIGINT NOT NULL,
        |  "event_type" VARCHAR(32),
        |  "value" DOUBLE,
        |  "_cdc_deleted" BOOLEAN,
        |  "_cdc_timestamp_micros" BIGINT,
        |  "_last_event_id" BIGINT,
        |  PRIMARY KEY ("user_id"))""".stripMargin)
    val t = graft.sink.JdbcLwwExecutor.Target(url, "trunc_t",
      Seq("user_id", "event_type", "value",
        "_cdc_deleted", "_cdc_timestamp_micros", "_last_event_id"),
      pk = Seq("user_id"))
    val cfg = freshCfg().copy(jdbcTarget = Some(t))
    def readState(): Map[Long, Long] = {
      val conn = DriverManager.getConnection(url)
      try {
        val rs = conn.createStatement().executeQuery(
          """SELECT "user_id", "_last_event_id" FROM trunc_t""")
        val b = Map.newBuilder[Long, Long]
        while (rs.next()) b += rs.getLong(1) -> rs.getLong(2)
        b.result()
      } finally conn.close()
    }
    runScenario(cfg, () => readState())
  }

  test("a truncate without a timestamp is malformed: DLQ, not a phantom row") {
    val cfg = freshCfg()
    import org.apache.spark.sql.functions.expr
    // null ts → null ts_us: no LWW position, must not fold or apply
    val b = Seq(
      (1L, Some(100L), 1L, "view", 1.0),
      (2L, None: Option[Long], 0L, "truncate", 0.0))
      .toDF("event_id", "ts_us_opt", "user_id", "event_type", "value")
      .withColumn("ts_us", col("ts_us_opt")).drop("ts_us_opt")
      .withColumn("ts", col("ts_us") * 1000)
      .withColumn("props", lit(null).cast("string"))
    ReplicationJob.processBatch(spark, b, cfg, batchId = 0L)
    assert(stateOf(cfg) == Map(1L -> 1L),
      "the null-ts truncate must not appear in state or clear it")
    val dlq = spark.read.parquet(cfg.dlqDir)
      .select("event_id", "error_type").collect()
    assert(dlq.length == 1 && dlq.head.getLong(0) == 2L &&
      dlq.head.getString(1) == "SCHEMA_MISMATCH")
  }

  test("a truncate carries no row image: null user_id/value still applies") {
    // reference `change_event.py:14,115-117`: TRUNCATE has no before/
    // after image — the data-row checks (user_id/value) must not DLQ it
    val cfg = freshCfg()
    ReplicationJob.processBatch(spark, batchDf(
      (1L, 100L, 1L, "view", 1.0),
      (2L, 200L, 2L, "click", 2.0)), cfg, batchId = 0L)
    import spark.implicits._
    val imagelessTruncate = Seq((9L, 150L, "truncate"))
      .toDF("event_id", "ts_us", "event_type")
      .withColumn("ts", col("ts_us") * 1000)
      .withColumn("user_id", lit(null).cast("long"))
      .withColumn("value", lit(null).cast("double"))
      .withColumn("props", lit(null).cast("string"))
    ReplicationJob.processBatch(spark, imagelessTruncate, cfg, batchId = 1L)
    assert(stateOf(cfg) == Map(2L -> 2L),
      "the imageless truncate must clear rows older than (150, 9)")
    assert(!Files.exists(Paths.get(cfg.dlqDir)),
      "an imageless truncate is valid, not a DLQ row")
  }

  test("a data row without an LWW position (null event_id) routes to DLQ") {
    val cfg = freshCfg()
    import spark.implicits._
    val b = Seq((Some(1L), 100L, 1L, "view", 1.0), (None: Option[Long], 200L, 2L, "click", 2.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .withColumn("ts", col("ts_us") * 1000)
      .withColumn("props", lit(null).cast("string"))
    ReplicationJob.processBatch(spark, b, cfg, batchId = 0L)
    assert(stateOf(cfg) == Map(1L -> 1L))
    val dlq = spark.read.parquet(cfg.dlqDir).select("user_id", "error_type").head()
    assert(dlq.getLong(0) == 2L && dlq.getString(1) == "SCHEMA_MISMATCH",
      "a null event_id has no LWW position and must be DLQ'd")
  }

  test("streaming end-to-end: a truncate mid-stream clears prior batches' state") {
    val dir = tmpDir("evlog")
    def ev(id: Long, ts: Long, uid: Long, et: String, v: Double) =
      s"""{"event_id":$id,"ts":${ts * 1000},"user_id":$uid,"event_type":"$et","value":$v}"""
    // segment 0 folds three users; segment 1 truncates at (300, 4) and
    // then upserts user 4 — batches split by admission control so the
    // truncate lands in a later micro-batch than the state it clears
    Files.writeString(Paths.get(dir, "seg-000.log"), Seq(
      ev(1, 100, 1, "view", 1.0),
      ev(2, 200, 2, "click", 2.0),
      ev(3, 500, 3, "purchase", 3.0)).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(dir, "seg-001.log"), Seq(
      ev(4, 300, 0, "truncate", 0.0),
      ev(5, 400, 4, "signup", 4.0)).mkString("", "\n", "\n"))
    val base = tmpDir("truncrepl")
    val cfg = Config(
      sourceDir = dir, targetDir = s"$base/target", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", validTypes = kinds,
      eventLog = Some((dir, 3L)))
    ReplicationJob.start(spark, cfg).awaitTermination(120000)
    assert(stateOf(cfg) == Map(3L -> 3L, 4L -> 5L),
      "stream must converge to the truncate-aware LWW fold")
  }
}
