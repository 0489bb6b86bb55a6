package graft

import org.apache.spark.sql.functions._

import graft.streaming.ReplicationJob
import graft.streaming.ReplicationJob.Config

/** Fixture-regeneration resilience: the driver has already flipped
  * events.ts ns→µs between rounds, so every temporal reader in
  * [[Tables]] dispatches on the READ schema. This spec drives each
  * reader over the physical encodings the generator could ship —
  * raw-ns int64 (what `nanosAsLong` yields for a ns timestamp), µs
  * TIMESTAMP, and DATE — and asserts identical normalized values,
  * plus the mid-stream unit-flip guard on the replication batch path.
  */
class SchemaDriftSpec extends SparkSpecBase {

  private val UsA = 1700000000123456L // 2023-11-14T22:13:20.123456Z
  private val UsB = 1700000086400000L

  test("events reader: raw-ns long and µs timestamp yield the same ts_us") {
    import spark.implicits._
    def read(dir: String) =
      Tables.events(spark, dir).select("event_id", "ts_us")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val nsDir = tmpDir("drift_ns")
    Seq((1L, UsA * 1000L + 789L), (2L, UsB * 1000L))
      .toDF("event_id", "ts").write.parquet(s"$nsDir/events.parquet")

    val usDir = tmpDir("drift_us")
    Seq((1L, UsA), (2L, UsB)).toDF("event_id", "us")
      .select(col("event_id"), timestamp_micros(col("us")).as("ts"))
      .write.parquet(s"$usDir/events.parquet")

    val want = Set((1L, UsA), (2L, UsB))
    assert(read(nsDir) == want, "ns-long encoding mis-normalized")
    assert(read(usDir) == want, "µs-timestamp encoding mis-normalized")
  }

  test("lineitem/orders readers: DATE and ns-long date columns normalize to the timestamp the queries filter on") {
    import spark.implicits._
    val day = java.sql.Date.valueOf("1995-06-15")
    val dayUs = 803174400000000L // 1995-06-15T00:00:00Z
    val asTs = tmpDir("drift_ts")
    Seq((1L, dayUs)).toDF("l_orderkey", "us")
      .select(col("l_orderkey"), timestamp_micros(col("us")).as("l_shipdate"))
      .write.parquet(s"$asTs/lineitem.parquet")
    val asDate = tmpDir("drift_date")
    Seq((1L, day)).toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$asDate/lineitem.parquet")
    val asNs = tmpDir("drift_ns2")
    Seq((1L, dayUs * 1000L)).toDF("l_orderkey", "l_shipdate")
      .write.parquet(s"$asNs/lineitem.parquet")

    for (d <- Seq(asTs, asDate, asNs)) {
      val li = Tables.lineitem(spark, d)
      assert(li.schema("l_shipdate").dataType ==
        org.apache.spark.sql.types.TimestampType, s"$d: not normalized")
      // the predicate shape every TPC-H gate uses must select the row
      assert(li.filter(expr("l_shipdate >= timestamp'1995-01-01'") &&
        expr("l_shipdate < timestamp'1996-01-01'")).count() == 1L, s"$d: filter missed")
      assert(li.select(unix_micros(col("l_shipdate").cast("timestamp")))
        .head().getLong(0) == dayUs, s"$d: wrong instant")
    }

    val od = tmpDir("drift_od")
    Seq((7L, day)).toDF("o_orderkey", "o_orderdate")
      .write.parquet(s"$od/orders.parquet")
    assert(Tables.orders(spark, od).schema("o_orderdate").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("replication batch guard: out-of-band ts_us fails the stream loudly when bounds are set") {
    import spark.implicits._
    val base = tmpDir("drift_guard")
    val cfg = Config(sourceDir = base, targetDir = s"$base/t",
      dlqDir = s"$base/d", checkpointDir = s"$base/c",
      tsSanityBoundsUs = Some((100000000000000L, 100000000000000000L)))
    // ts_us at ms scale — exactly what a mid-stream µs flip under a
    // declared ns schema produces (÷1000 of the real position)
    val batch = Seq((1L, 1700000000123L, 5L, "view", 1.0),
        (2L, 1700000000124L, 6L, "bogus", 1.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    val e = intercept[IllegalStateException] {
      ReplicationJob.processBatch(spark, batch, cfg, batchId = 1L)
    }
    assert(e.getMessage.contains("unit likely flipped"))
    // the guard throws before either write starts
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cfg.targetDir)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cfg.dlqDir)))
    // in-band positions pass and upsert normally
    val ok = Seq((1L, UsA, 5L, "view", 1.0))
      .toDF("event_id", "ts_us", "user_id", "event_type", "value")
    ReplicationJob.processBatch(spark, ok, cfg, batchId = 2L)
    assert(spark.read.parquet(cfg.targetDir).count() == 1L)
  }
}
