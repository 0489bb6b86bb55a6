package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{EventOps, Lww}
import graft.recon.Reconciler

/** CDC operator family (SURVEY.md §2.1-2.5, §2.7) exercised over the
  * driver's `events` fixture table, each with a DuckDB oracle.
  *
  * The `events` stream stands in for the reference's per-table CDC topic:
  * `user_id` is the primary key, `(ts_us, event_id)` the LWW ordering,
  * `event_type = 'error'` plays the DELETE operation, and a deterministic
  * modulus filter simulates a drifted replica for reconciliation ops.
  *
  * Oracle-parity rules used throughout: integer µs timestamps (`ts div
  * 1000` ≡ DuckDB `epoch_us(ts)`), money as exact cents
  * (`round(value*100)::long`), sha256 over '|'-joined canonical strings,
  * never a raw double→string cast.
  */
object CdcQueries {

  private val ValidTypes = Seq("signup", "purchase", "view", "click", "error")
  private val MaxValue = 150.0
  /** Fixed "now" for TTL-liveness determinism: 2024-01-15T00:00:00Z. */
  private val NowUs = 1705276800000000L

  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)

  private def errCol: Column =
    EventOps.errorType(col("event_type"), col("value"), col("user_id"), ValidTypes, MaxValue)

  /** CASE-expression mirror of [[EventOps.errorType]] for the oracle.
    * The type list interpolates [[ValidTypes]] — one source of truth, so
    * adding an event type can never update only the Spark predicate.
    */
  private val errSql: String =
    s"""CASE WHEN user_id IS NULL OR event_type IS NULL THEN 'SCHEMA_MISMATCH'
       | WHEN value IS NULL THEN 'TYPE_CONVERSION_ERROR'
       | WHEN event_type NOT IN (${ValidTypes.map(t => s"'$t'").mkString(",")})
       |   THEN 'SCHEMA_MISMATCH'
       | WHEN value < 0 OR value > $MaxValue THEN 'CONSTRAINT_VIOLATION'
       | ELSE NULL END""".stripMargin.replace("\n", "")

  /** LWW-compacted state per key, optionally from a filtered event log
    * (`eventIdMod` drops event_id % m == 0 to simulate a lossy replica).
    */
  private def lwwState(s: SparkSession, dir: String, dropMod: Option[Long]): DataFrame = {
    val base = ev(s, dir).select(
      col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
      EventOps.cents(col("value")).as("value_cents"))
    val src = dropMod.fold(base)(m => base.filter(col("event_id") % m =!= 0))
    Lww.latestPerKey(src, Seq("user_id"), Seq(col("ts_us"), col("event_id")))
  }

  private def lwwStateSql(dropMod: Option[Long]): String = {
    val where = dropMod.fold("")(m => s" WHERE event_id % $m <> 0")
    s"""(SELECT user_id, event_id, ts_us, event_type, value_cents FROM (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
       |         CAST(round(value*100, 0) AS BIGINT) AS value_cents,
       |         row_number() OVER (PARTITION BY user_id
       |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
       |  FROM events$where) WHERE rn = 1)""".stripMargin.replace("\n", "")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1/T5: latest-event-per-key (the LWW fold) — one max_by sort
    // aggregate (a struct buffer rules out a hash agg), map-side partial
    // compaction before the single key shuffle.
    "cdc_lww_latest" -> ((s, dir) => lwwState(s, dir, None)),

    // TRUNCATE fold (reference `change_event.py:14,115-117`): the LWW
    // state after applying a table-wide truncate at an LWW watermark —
    // only rows whose (ts_us, event_id) out-orders the watermark survive.
    // The watermark (a deterministic proxy: newest error event of the
    // user_id%10 cohort) is a 1-row aggregate broadcast against the
    // folded state — no data-sized shuffle beyond the fold itself, the
    // same shape ReplicationJob.processBatch executes against its sinks
    // (TruncateSpec proves the store-side equivalence).
    "cdc_truncate_fold" -> ((s, dir) => {
      val base = ev(s, dir).select(
        col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
        EventOps.cents(col("value")).as("value_cents"))
      val state = Lww.latestPerKey(base, Seq("user_id"), Seq(col("ts_us"), col("event_id")))
      val wm = base.filter(col("event_type") === "error" && col("user_id") % 10 === 0)
        .agg(max(struct(col("ts_us"), col("event_id"))).as("w"))
      state.crossJoin(broadcast(wm))
        .filter(col("ts_us") > col("w.ts_us") ||
          (col("ts_us") === col("w.ts_us") && col("event_id") > col("w.event_id")))
        .drop("w")
    }),

    // T8: validation split, valid side.
    "cdc_validate_valid" -> ((s, dir) =>
      EventOps.validationSplit(
        ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts_us")),
        errCol)._1),

    // T8 + ST9/A4: invalid side classified into the DLQ error taxonomy,
    // aggregated — the reference's DLQ stats endpoint (dlq_service.py:375-443).
    "cdc_dlq_stats" -> ((s, dir) =>
      EventOps.validationSplit(ev(s, dir), errCol)._2
        .groupBy(col("error_type"), col("event_type"))
        .agg(count(lit(1)).as("n"))),

    // T11: TTL expiry computation + liveness flag at a fixed `now`.
    "cdc_ttl_expiry" -> ((s, dir) => {
      val ttl = when(col("event_type") === "signup", col("user_id") * 60 + 30)
        .otherwise(lit(null).cast("long"))
      ev(s, dir)
        .withColumn("ttl_seconds", ttl)
        .withColumn("expiry_us", EventOps.ttlExpiryMicros(col("ts_us"), col("ttl_seconds")))
        .withColumn("is_live", EventOps.ttlLive(col("expiry_us"), NowUs))
        .select("event_id", "ts_us", "ttl_seconds", "expiry_us", "is_live")
    }),

    // A2: canonical per-row checksum (engine-portable form of the
    // reference's sha256-over-sorted-json).
    "cdc_checksum" -> ((s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        EventOps.canonicalChecksum(Seq(
          col("event_id"), col("user_id"), col("event_type"),
          EventOps.cents(col("value")), col("ts_us"))).as("row_checksum"))),

    // A1: row-count validation with drift% against a lossy replica.
    "cdc_recon_rowcount" -> ((s, dir) =>
      Reconciler.rowCountValidation(
        ev(s, dir), ev(s, dir).filter(col("event_id") % 97 =!= 0))),

    // J2/A3: full-outer checksum reconciliation between two LWW replicas,
    // classified with the reference's mismatch taxonomy.
    // A-family sample validation (reconciliation_engine.py:380-408):
    // deterministic modulus-10 pk sample reconciled with the full
    // checksum taxonomy — the reference samples then probes per pk; one
    // pre-filtered join here, stable across engines unlike TABLESAMPLE
    "cdc_recon_sample" -> ((s, dir) =>
      Reconciler.sampleValidation(
        lwwState(s, dir, Some(101L)), lwwState(s, dir, Some(97L)),
        "user_id", Seq("event_id", "event_type", "value_cents", "ts_us"),
        modulus = 10L)),

    "cdc_recon_mismatch" -> ((s, dir) =>
      Reconciler.checksumMismatches(
        lwwState(s, dir, Some(101L)), lwwState(s, dir, Some(97L)),
        "user_id", Seq("event_id", "event_type", "value_cents", "ts_us"))),

    // A3 tail: mismatch-type breakdown.
    "cdc_recon_mismatch_stats" -> ((s, dir) =>
      Reconciler.mismatchStats(
        Reconciler.checksumMismatches(
          lwwState(s, dir, Some(101L)), lwwState(s, dir, Some(97L)),
          "user_id", Seq("event_id", "event_type", "value_cents", "ts_us")))),

    // S12/T7: soft-delete state — LWW fold where 'error' events act as
    // DELETEs, flagging `_cdc_deleted` like the reference's PG metadata.
    "cdc_soft_delete_state" -> ((s, dir) =>
      Lww.stateWithSoftDelete(
        ev(s, dir).select("user_id", "event_id", "ts_us", "event_type"),
        "user_id", "ts_us", "event_id",
        col("event_type") === "error")),

    // T1-analog: envelope unwrap — extract typed fields from the JSON
    // payload column (the reference's ExtractNewRecordState).
    "cdc_unwrap_json" -> ((s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))),

    // O1: order-by + paginate (DLQ listing semantics, dlq_service.py:83-115).
    "cdc_order_paginate" -> ((s, dir) =>
      ev(s, dir).filter(col("event_type") === "purchase")
        .select("event_id", "ts_us", "value")
        .orderBy(col("ts_us").desc, col("event_id"))
        .offset(50).limit(100)),

    // A4: multi-dimension cube over the event stream (DLQ-stats shape).
    // `grouping_id` disambiguates subtotal rows from data-NULL groups:
    // a subtotal (NULL, x) and a genuine NULL-group (NULL, x) are
    // otherwise indistinguishable to the row comparator, so cube output
    // without a gid is not well-defined whenever a grouping column CAN
    // be NULL (the fixture happens to have none today, but the DLQ shape
    // this mirrors does).
    "cdc_events_cube" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("bucket", col("user_id") % 3)
        .cube(col("event_type"), col("bucket"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(EventOps.cents(col("value"))).as("sum_cents"))),

    // U1: set difference of key populations (reconciliation primitive).
    "cdc_except" -> ((s, dir) => {
      val e = ev(s, dir)
      e.filter(col("event_type") === "view").select("user_id").distinct()
        .except(e.filter(col("event_type") === "purchase").select("user_id").distinct())
    }),

    // A5: job statistics over per-bucket reconciliation drift rows.
    "cdc_recon_job_stats" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("tbl", col("user_id") % 10)
      val srcC = e.groupBy("tbl").agg(count(lit(1)).as("source_count"))
      val tgtC = e.filter(col("event_id") % 97 =!= 0)
        .groupBy("tbl").agg(count(lit(1)).as("target_count"))
      val jobs = srcC.join(tgtC, Seq("tbl"), "left_outer")
        .withColumn("target_count", coalesce(col("target_count"), lit(0L)))
        .withColumn("mismatch_count", abs(col("source_count") - col("target_count")))
        // same op order as the oracle: (long * 100.0) / long — one double op
        .withColumn("drift_percentage",
          round(col("mismatch_count") * lit(100.0) / col("source_count"), 2))
        .withColumn("alert_fired", col("drift_percentage") >= 1.0)
      Reconciler.jobStatistics(jobs)
    }),

    // T13: declarative transformation rules — MASK/CAST/COMPUTE chain.
    "cdc_transform_rules" -> ((s, dir) =>
      EventOps.applyRules(
        ev(s, dir).select("event_id", "event_type", "props", "value"),
        Seq(
          EventOps.Mask("props", 4),
          EventOps.Compute("value_cents", "CAST(round(value*100, 0) AS BIGINT)"),
          EventOps.CastTo("event_id", "string"),
          EventOps.Redact("event_type")))
        .drop("value"))
  )

  val oracleSql: Map[String, String] = Map(
    "cdc_lww_latest" -> s"SELECT * FROM ${lwwStateSql(None)}",

    "cdc_truncate_fold" ->
      s"""SELECT s.user_id, s.event_id, s.ts_us, s.event_type, s.value_cents
         |FROM ${lwwStateSql(None)} s,
         |  (SELECT epoch_us(ts) AS wts, event_id AS wid FROM events
         |   WHERE event_type='error' AND user_id % 10 = 0
         |   ORDER BY epoch_us(ts) DESC, event_id DESC LIMIT 1) w
         |WHERE s.ts_us > w.wts OR (s.ts_us = w.wts AND s.event_id > w.wid)""".stripMargin.replace("\n", " "),

    "cdc_validate_valid" ->
      s"""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
         |FROM events WHERE ($errSql) IS NULL""".stripMargin.replace("\n", " "),

    "cdc_dlq_stats" ->
      s"""SELECT error_type, event_type, count(*) AS n FROM (
         |  SELECT ($errSql) AS error_type, event_type FROM events)
         |WHERE error_type IS NOT NULL GROUP BY error_type, event_type""".stripMargin.replace("\n", " "),

    "cdc_ttl_expiry" ->
      s"""SELECT event_id, epoch_us(ts) AS ts_us,
         |  CASE WHEN event_type='signup' THEN user_id*60+30 ELSE NULL END AS ttl_seconds,
         |  CASE WHEN event_type='signup' AND user_id*60+30 > 0
         |       THEN epoch_us(ts) + (user_id*60+30)*1000000 ELSE NULL END AS expiry_us,
         |  CASE WHEN event_type='signup' AND user_id*60+30 > 0
         |       THEN epoch_us(ts) + (user_id*60+30)*1000000 > $NowUs ELSE TRUE END AS is_live
         |FROM events""".stripMargin.replace("\n", " "),

    "cdc_checksum" ->
      s"""SELECT event_id, ${EventOps.checksumSqlDuck(Seq(
             "event_id", "user_id", "event_type",
             "CAST(round(value*100, 0) AS BIGINT)", "epoch_us(ts)"))} AS row_checksum
         |FROM events""".stripMargin.replace("\n", " "),

    // zero-source guard mirrors Reconciler.rowCountValidation: an empty
    // source with surviving target rows is 100% drift (the data-loss
    // alert case), never NULL-by-division
    "cdc_recon_rowcount" ->
      """SELECT s.source_count, t.target_count,
        |  abs(s.source_count - t.target_count) AS mismatch_count,
        |  CASE WHEN s.source_count = 0
        |       THEN CASE WHEN abs(s.source_count - t.target_count) > 0
        |                 THEN 100.0 ELSE 0.0 END
        |       ELSE round(abs(s.source_count - t.target_count) * 100.0 / s.source_count, 2)
        |  END AS drift_percentage
        |FROM (SELECT count(*) AS source_count FROM events) s,
        |     (SELECT count(*) AS target_count FROM events WHERE event_id % 97 <> 0) t""".stripMargin.replace("\n", " "),

    "cdc_recon_mismatch" -> reconMismatchSql(statsOnly = false),
    "cdc_recon_sample" ->
      reconMismatchSql(statsOnly = false, sampleModulus = Some(10L)),
    "cdc_recon_mismatch_stats" -> reconMismatchSql(statsOnly = true),

    "cdc_soft_delete_state" ->
      """SELECT user_id, event_id, ts_us, event_type, _cdc_deleted FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |         event_type = 'error' AS _cdc_deleted,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin.replace("\n", " "),

    // TRY_CAST mirrors Spark's null-on-failure cast: a non-integer $.k
    // must yield NULL per row, not abort the whole oracle query
    "cdc_unwrap_json" ->
      "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events",

    "cdc_order_paginate" ->
      """SELECT event_id, epoch_us(ts) AS ts_us, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY epoch_us(ts) DESC, event_id LIMIT 100 OFFSET 50""".stripMargin.replace("\n", " "),

    "cdc_events_cube" ->
      """SELECT event_type, bucket, CAST(grouping(event_type, bucket) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM (SELECT event_type, user_id % 3 AS bucket, value FROM events)
        |GROUP BY CUBE(event_type, bucket)""".stripMargin.replace("\n", " "),

    "cdc_except" ->
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'""".stripMargin.replace("\n", " "),

    "cdc_recon_job_stats" ->
      """WITH src AS (SELECT user_id % 10 AS tbl, count(*) AS source_count FROM events GROUP BY 1),
        |tgt AS (SELECT user_id % 10 AS tbl, count(*) AS target_count FROM events
        |        WHERE event_id % 97 <> 0 GROUP BY 1),
        |jobs AS (SELECT src.tbl, source_count, coalesce(target_count, 0) AS target_count,
        |  abs(source_count - coalesce(target_count, 0)) AS mismatch_count,
        |  round(abs(source_count - coalesce(target_count, 0)) * 100.0 / source_count, 2) AS drift_percentage
        |  FROM src LEFT JOIN tgt ON src.tbl = tgt.tbl)
        |SELECT count(*) AS total_jobs,
        |  round(sum(CAST(round(drift_percentage*100, 0) AS BIGINT)) / (count(drift_percentage) * 100.0), 4) AS avg_drift,
        |  max(drift_percentage) AS max_drift,
        |  CAST(sum(mismatch_count) AS BIGINT) AS total_mismatches,
        |  CAST(sum(CASE WHEN drift_percentage >= 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS alerts_fired
        |FROM jobs""".stripMargin.replace("\n", " "),

    // greatest(1, ...): Spark's negative-start substring clamps to the
    // string head (a 2-char value keeps both chars); DuckDB's negative
    // start would keep fewer — clamp explicitly so short masked fields
    // agree across engines
    "cdc_transform_rules" ->
      """SELECT CAST(event_id AS VARCHAR) AS event_id,
        |  '[REDACTED]' AS event_type,
        |  '***' || substr(props, greatest(1, length(props) - 3), 4) AS props,
        |  CAST(round(value*100, 0) AS BIGINT) AS value_cents
        |FROM events""".stripMargin.replace("\n", " ")
  )

  private def reconMismatchSql(statsOnly: Boolean,
      sampleModulus: Option[Long] = None): String = {
    val cks = EventOps.checksumSqlDuck(Seq("event_id", "event_type", "value_cents", "ts_us"))
    val sample = sampleModulus.fold("")(m => s" WHERE user_id % $m = 0")
    val core =
      s"""WITH s AS (SELECT user_id, $cks AS source_checksum
         |          FROM ${lwwStateSql(Some(101L))} ss$sample),
         |t AS (SELECT user_id, $cks AS target_checksum
         |          FROM ${lwwStateSql(Some(97L))} tt$sample),
         |m AS (SELECT coalesce(s.user_id, t.user_id) AS user_id, source_checksum, target_checksum,
         |  CASE WHEN target_checksum IS NULL THEN 'MISSING_IN_POSTGRES'
         |       WHEN source_checksum IS NULL THEN 'MISSING_IN_CASSANDRA'
         |       WHEN source_checksum <> target_checksum THEN 'DATA_MISMATCH'
         |       ELSE NULL END AS mismatch_type
         |  FROM s FULL OUTER JOIN t ON s.user_id = t.user_id)""".stripMargin.replace("\n", " ")
    if (statsOnly)
      s"$core SELECT mismatch_type, count(*) AS n FROM m WHERE mismatch_type IS NOT NULL GROUP BY mismatch_type"
    else
      s"$core SELECT user_id, source_checksum, target_checksum, mismatch_type FROM m WHERE mismatch_type IS NOT NULL"
  }
}
