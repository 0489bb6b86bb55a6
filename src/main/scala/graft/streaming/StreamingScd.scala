package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Scd

/** Incremental SCD2 maintenance across micro-batches — the streaming
  * form of [[graft.ops.Scd.scd2History]], closing the loop the
  * replication path opens: the CDC stream that feeds the LWW latest
  * table ALSO feeds the warehouse history, and a change arriving in a
  * later batch must CLOSE the open interval its key carried since an
  * earlier batch (reference sink semantics folded into validity
  * intervals; cf. `connect/sink.properties:30-38`).
  *
  * Layout: two parquet dirs, both partitioned by `_kb = pmod(xxhash64(
  * key…), buckets)`.
  *  - `changesDir` — the compacted per-key change log (keys, ts, event
  *    id, delete flag, payload). Batch N overwrites ONLY the buckets
  *    its keys touch, with `union(prior bucket changes, batch changes)`
  *    deduplicated on (key…, ts, event id) — a set union, so replaying
  *    a batch is a no-op on the log (the at-least-once foreachBatch
  *    contract, [[graft.llm.StreamingDedup]]'s discipline).
  *  - `historyDir` — SCD2 version rows, re-folded PER AFFECTED BUCKET
  *    from the updated log and overwritten. Derived purely from the
  *    log, so a crash between the two writes leaves stale history that
  *    the replay repairs; write order (log first) makes that safe.
  *
  * Scale shape: per-batch work ∝ the size of the touched buckets, not
  * the corpus — the fold itself is ONE key-partitioned window inside
  * each bucket (Scd.scd2History's shape; state per task bounded by a
  * single key's version count). Bucket count trades write amplification
  * (hot random keys touch every bucket) against file count; the
  * production evolution at 100 TB is key-clustered MERGE (Delta/Hudi
  * style) with the identical fold, which this layout deliberately
  * mirrors.
  */
final class StreamingScd(spark: SparkSession, changesDir: String,
    historyDir: String, keyCols: Seq[String], tsUsCol: String,
    eventIdCol: String, isDelete: Column, payloadCols: Seq[String],
    buckets: Int = 32) {
  require(buckets >= 1, s"need at least one bucket, got $buckets")

  private def kb: Column =
    pmod(xxhash64(keyCols.map(col): _*), lit(buckets.toLong))

  /** Fold one micro-batch of change events into the log + history.
    * Idempotent under replay: the log merge is a set union keyed by
    * (key…, ts, event id), and the history is a pure function of the
    * log's touched buckets.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit = {
    val incoming = batch.select(
      keyCols.map(col) ++ Seq(col(tsUsCol), col(eventIdCol),
        isDelete.as("_is_del")) ++ payloadCols.map(col): _*)
      .withColumn("_kb", kb)
    // the touched-bucket list is bounded control data (≤ `buckets` rows)
    val touched = incoming.select("_kb").distinct()
      .collect().map(_.getLong(0))
    if (touched.isEmpty) return
    val merged =
      if (!StreamingState.hasData(spark, changesDir)) incoming
      else incoming.unionByName(
        spark.read.parquet(changesDir)
          .filter(col("_kb").isin(touched: _*)))
    // one row per change identity — replays and at-least-once sources
    // collapse here (rank-1, not distinct: payload column drift between
    // duplicate deliveries must not resurrect both copies)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy((keyCols :+ tsUsCol :+ eventIdCol).map(col): _*)
      .orderBy(col("_is_del").desc)
    val compacted = graft.util.Materialize.stable(
      merged.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn"))
    compacted.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_kb").parquet(changesDir)
    // re-fold ONLY the touched buckets from the committed log, then
    // overwrite exactly those history partitions
    val logTouched = spark.read.parquet(changesDir)
      .filter(col("_kb").isin(touched: _*))
    val refolded = graft.util.Materialize.stable(
      Scd.scd2History(logTouched, keyCols,
          Seq(col(tsUsCol), col(eventIdCol)), tsUsCol,
          col("_is_del"), payloadCols)
        .withColumn("_kb", kb))
    refolded.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_kb").parquet(historyDir)
  }

  /** The current SCD2 history — the same columns [[Scd.scd2History]]
    * emits (bucket column dropped). Empty-schema-safe only after the
    * first batch.
    */
  def history: DataFrame =
    spark.read.parquet(historyDir).drop("_kb")
}
