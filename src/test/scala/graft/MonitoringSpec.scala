package graft

import org.apache.spark.sql.functions._

import graft.streaming.{Monitoring, ReplicationJob}
import graft.streaming.ReplicationJob.Config

/** Heartbeat listener (ST11) over a real streaming query + alert
  * evaluation (ST13).
  */
class MonitoringSpec extends SparkSpecBase {
  import spark.implicits._

  test("heartbeat listener reports batch progress for the replication stream") {
    val base = tmpDir("mon")
    val src = s"$base/src"
    new java.io.File(src).mkdirs()
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      java.nio.file.Paths.get(s"$src/events.parquet"))
    val cfg = Config(src, s"$base/target", s"$base/dlq", s"$base/ckpt")
    val handle = Monitoring.attach(spark)
    try {
      ReplicationJob.start(spark, cfg).awaitTermination(120000)
      // listener events are delivered async; poll briefly
      var beats = handle.drain()
      val deadline = System.currentTimeMillis() + 10000
      while (beats.isEmpty && System.currentTimeMillis() < deadline) {
        Thread.sleep(200); beats = handle.drain()
      }
      assert(beats.nonEmpty, "no heartbeats collected")
      // AvailableNow can emit several progress events for one drain;
      // the contract is: rows are reported and at least the full input shows up.
      assert(beats.map(_.numInputRows).sum >= 1000L) // sf0.001 events
      assert(beats.exists(_.numInputRows > 0))
      assert(beats.forall(_.batchDurationMs > 0))
    } finally Monitoring.detach(spark, handle)
  }

  test("alert evaluation fires at reference thresholds") {
    val jobs = Seq((1L, 0.4), (2L, 2.0), (3L, 7.5))
      .toDF("job_id", "drift_percentage")
    val alerts = Monitoring.evaluateAlerts(jobs)
      .select("job_id", "severity").as[(Long, String)].collect().toMap
    assert(alerts == Map(2L -> "warning", 3L -> "critical"))
  }

  test("/metrics text for a mixed batch: counts by operation and by error type") {
    val base = tmpDir("metrics")
    val reg = new graft.ops.Metrics.Registry
    val cfg = Config(base, s"$base/target", s"$base/dlq", s"$base/ckpt", metrics = Some(reg))
    // (event_id, ts_us, user_id, event_type, value): every valid type,
    // one row of each error type and one null position
    val batch = Seq[(Option[Long], Option[Long], Option[Long], String, Option[Double])](
      (Some(1L), Some(10L), Some(1L), "signup", Some(1.0)),
      (Some(2L), Some(11L), Some(1L), "purchase", Some(2.0)),
      (Some(3L), Some(12L), Some(2L), "purchase", Some(3.0)),
      (Some(4L), Some(13L), Some(3L), "view", Some(4.0)),
      (Some(5L), Some(14L), Some(3L), "view", Some(5.0)),
      (Some(6L), Some(15L), Some(4L), "view", Some(6.0)),
      (Some(7L), Some(16L), Some(5L), "click", Some(7.0)),
      (Some(8L), Some(17L), Some(5L), "error", Some(8.0)),
      (Some(9L), Some(18L), Some(6L), "bogus", Some(9.0)),
      (Some(10L), Some(19L), Some(7L), "view", None),
      (Some(11L), Some(20L), Some(8L), "view", Some(151.0)),
      (Some(12L), Some(21L), Some(9L), "click", Some(-1.0)),
      (Some(13L), None, Some(10L), "view", Some(1.0)))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
      .select(col("event_id"), (col("ts_us") * 1000).as("ts"), col("user_id"),
        col("event_type"), col("value"), lit(null).cast("string").as("props"), col("ts_us"))
    ReplicationJob.processBatch(spark, batch, cfg, batchId = 0L)
    // the latency histogram's buckets and sum are wall-clock readings
    val text = reg.render().linesIterator.filterNot(l =>
      l.startsWith("cdc_processing_latency_seconds_bucket") ||
        l.startsWith("cdc_processing_latency_seconds_sum")).mkString("\n")
    // pinned from the grouped-count implementation the control row replaced
    assert(text ==
      """# TYPE cdc_errors_total counter
        |cdc_errors_total{error_type="CONSTRAINT_VIOLATION"} 2
        |cdc_errors_total{error_type="SCHEMA_MISMATCH"} 2
        |cdc_errors_total{error_type="TYPE_CONVERSION_ERROR"} 1
        |# TYPE cdc_events_processed_total counter
        |cdc_events_processed_total{table="events",operation="click"} 1
        |cdc_events_processed_total{table="events",operation="error"} 1
        |cdc_events_processed_total{table="events",operation="purchase"} 2
        |cdc_events_processed_total{table="events",operation="signup"} 1
        |cdc_events_processed_total{table="events",operation="view"} 3
        |# TYPE cdc_backlog_depth gauge
        |cdc_backlog_depth{table="events"} 0
        |# TYPE cdc_processing_latency_seconds histogram
        |cdc_processing_latency_seconds_count 1""".stripMargin)
  }
}
