package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.Tables
import graft.ops.{EventOps, Lww}
import graft.recon.Reconciler
import graft.streaming.StreamOps

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
  *
  * Beside the fold, validation, DLQ and reconciliation operators it holds
  * J1 conflict-check lookup join with T6 annotation, J3 job↔mismatch
  * hydration, U1 per-key set diff, session windows (batch form), the
  * as-of purchase join and a per-language n-gram profile.
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

  /** LWW state SQL over an arbitrary WHERE. */
  private def lwwSql(where: String): String =
    s"""(SELECT user_id, event_id, ts_us, event_type, value_cents FROM (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
       |         CAST(round(value*100, 0) AS BIGINT) AS value_cents,
       |         row_number() OVER (PARTITION BY user_id
       |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
       |  FROM events WHERE $where) WHERE rn = 1)""".stripMargin.replace("\n", " ")

  private def lwwStateWhere(s: SparkSession, dir: String, pred: org.apache.spark.sql.Column): DataFrame = {
    val base = Tables.events(s, dir).select(
      col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
      EventOps.cents(col("value")).as("value_cents"))
    Lww.latestPerKey(base.filter(pred), Seq("user_id"), Seq(col("ts_us"), col("event_id")))
  }

  def gates: Seq[Gate] = Seq(
    // W1/T5: latest-event-per-key (the LWW fold) — one max_by sort
    // aggregate (a struct buffer rules out a hash agg), map-side partial
    // compaction before the single key shuffle.
    Gate("cdc_lww_latest", (s, dir) => lwwState(s, dir, None),
      s"SELECT * FROM ${lwwStateSql(None)}"),

    // TRUNCATE fold (reference `change_event.py:14,115-117`): the LWW
    // state after applying a table-wide truncate at an LWW watermark —
    // only rows whose (ts_us, event_id) out-orders the watermark survive.
    // The watermark (a deterministic proxy: newest error event of the
    // user_id%10 cohort) is a 1-row aggregate broadcast against the
    // folded state — no data-sized shuffle beyond the fold itself, the
    // same shape ReplicationJob.processBatch executes against its sinks
    // (TruncateSpec proves the store-side equivalence).
    Gate("cdc_truncate_fold", (s, dir) => {
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
    },
      s"""SELECT s.user_id, s.event_id, s.ts_us, s.event_type, s.value_cents
         |FROM ${lwwStateSql(None)} s,
         |  (SELECT epoch_us(ts) AS wts, event_id AS wid FROM events
         |   WHERE event_type='error' AND user_id % 10 = 0
         |   ORDER BY epoch_us(ts) DESC, event_id DESC LIMIT 1) w
         |WHERE s.ts_us > w.wts OR (s.ts_us = w.wts AND s.event_id > w.wid)""".stripMargin.replace("\n", " ")),

    // T8: validation split, valid side.
    Gate("cdc_validate_valid", (s, dir) =>
      EventOps.validationSplit(
        ev(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"), col("ts_us")),
        errCol)._1,
      s"""SELECT event_id, user_id, event_type, value, epoch_us(ts) AS ts_us
         |FROM events WHERE ($errSql) IS NULL""".stripMargin.replace("\n", " ")),

    // T8 + ST9/A4: invalid side classified into the DLQ error taxonomy,
    // aggregated — the reference's DLQ stats endpoint (dlq_service.py:375-443).
    Gate("cdc_dlq_stats", (s, dir) =>
      EventOps.validationSplit(ev(s, dir), errCol)._2
        .groupBy(col("error_type"), col("event_type"))
        .agg(count(lit(1)).as("n")),
      s"""SELECT error_type, event_type, count(*) AS n FROM (
         |  SELECT ($errSql) AS error_type, event_type FROM events)
         |WHERE error_type IS NOT NULL GROUP BY error_type, event_type""".stripMargin.replace("\n", " ")),

    // T11: TTL expiry computation + liveness flag at a fixed `now`.
    Gate("cdc_ttl_expiry", (s, dir) => {
      val ttl = when(col("event_type") === "signup", col("user_id") * 60 + 30)
        .otherwise(lit(null).cast("long"))
      ev(s, dir)
        .withColumn("ttl_seconds", ttl)
        .withColumn("expiry_us", EventOps.ttlExpiryMicros(col("ts_us"), col("ttl_seconds")))
        .withColumn("is_live", EventOps.ttlLive(col("expiry_us"), NowUs))
        .select("event_id", "ts_us", "ttl_seconds", "expiry_us", "is_live")
    },
      s"""SELECT event_id, epoch_us(ts) AS ts_us,
         |  CASE WHEN event_type='signup' THEN user_id*60+30 ELSE NULL END AS ttl_seconds,
         |  CASE WHEN event_type='signup' AND user_id*60+30 > 0
         |       THEN epoch_us(ts) + (user_id*60+30)*1000000 ELSE NULL END AS expiry_us,
         |  CASE WHEN event_type='signup' AND user_id*60+30 > 0
         |       THEN epoch_us(ts) + (user_id*60+30)*1000000 > $NowUs ELSE TRUE END AS is_live
         |FROM events""".stripMargin.replace("\n", " ")),

    // A2: canonical per-row checksum (engine-portable form of the
    // reference's sha256-over-sorted-json).
    Gate("cdc_checksum", (s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        EventOps.canonicalChecksum(Seq(
          col("event_id"), col("user_id"), col("event_type"),
          EventOps.cents(col("value")), col("ts_us"))).as("row_checksum")),
      s"""SELECT event_id, ${EventOps.checksumSqlDuck(Seq(
             "event_id", "user_id", "event_type",
             "CAST(round(value*100, 0) AS BIGINT)", "epoch_us(ts)"))} AS row_checksum
         |FROM events""".stripMargin.replace("\n", " ")),

    // A1: row-count validation with drift% against a lossy replica.
    Gate("cdc_recon_rowcount", (s, dir) =>
      Reconciler.rowCountValidation(
        ev(s, dir), ev(s, dir).filter(col("event_id") % 97 =!= 0)),
      // zero-source guard mirrors Reconciler.rowCountValidation: an empty
      // source with surviving target rows is 100% drift (the data-loss
      // alert case), never NULL-by-division
      """SELECT s.source_count, t.target_count,
        |  abs(s.source_count - t.target_count) AS mismatch_count,
        |  CASE WHEN s.source_count = 0
        |       THEN CASE WHEN abs(s.source_count - t.target_count) > 0
        |                 THEN 100.0 ELSE 0.0 END
        |       ELSE round(abs(s.source_count - t.target_count) * 100.0 / s.source_count, 2)
        |  END AS drift_percentage
        |FROM (SELECT count(*) AS source_count FROM events) s,
        |     (SELECT count(*) AS target_count FROM events WHERE event_id % 97 <> 0) t""".stripMargin.replace("\n", " ")),

    // J2/A3: full-outer checksum reconciliation between two LWW replicas,
    // classified with the reference's mismatch taxonomy.
    // A-family sample validation (reconciliation_engine.py:380-408):
    // deterministic modulus-10 pk sample reconciled with the full
    // checksum taxonomy — the reference samples then probes per pk; one
    // pre-filtered join here, stable across engines unlike TABLESAMPLE
    Gate("cdc_recon_sample", (s, dir) =>
      Reconciler.sampleValidation(
        lwwState(s, dir, Some(101L)), lwwState(s, dir, Some(97L)),
        "user_id", Seq("event_id", "event_type", "value_cents", "ts_us"),
        modulus = 10L),
      reconMismatchSql(statsOnly = false, sampleModulus = Some(10L))),

    Gate("cdc_recon_mismatch", (s, dir) =>
      Reconciler.checksumMismatches(
        lwwState(s, dir, Some(101L)), lwwState(s, dir, Some(97L)),
        "user_id", Seq("event_id", "event_type", "value_cents", "ts_us")),
      reconMismatchSql(statsOnly = false)),

    // A3 tail: mismatch-type breakdown.
    Gate("cdc_recon_mismatch_stats", (s, dir) =>
      Reconciler.mismatchStats(
        Reconciler.checksumMismatches(
          lwwState(s, dir, Some(101L)), lwwState(s, dir, Some(97L)),
          "user_id", Seq("event_id", "event_type", "value_cents", "ts_us"))),
      reconMismatchSql(statsOnly = true)),

    // S12/T7: soft-delete state — LWW fold where 'error' events act as
    // DELETEs, flagging `_cdc_deleted` like the reference's PG metadata.
    Gate("cdc_soft_delete_state", (s, dir) =>
      Lww.stateWithSoftDelete(
        ev(s, dir).select("user_id", "event_id", "ts_us", "event_type"),
        "user_id", "ts_us", "event_id",
        col("event_type") === "error"),
      """SELECT user_id, event_id, ts_us, event_type, _cdc_deleted FROM (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type,
        |         event_type = 'error' AS _cdc_deleted,
        |         row_number() OVER (PARTITION BY user_id
        |                            ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin.replace("\n", " ")),

    // T1-analog: envelope unwrap — extract typed fields from the JSON
    // payload column (the reference's ExtractNewRecordState).
    Gate("cdc_unwrap_json", (s, dir) =>
      ev(s, dir).select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k")),
      // TRY_CAST mirrors Spark's null-on-failure cast: a non-integer $.k
      // must yield NULL per row, not abort the whole oracle query
      "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events"),

    // O1: order-by + paginate (DLQ listing semantics, dlq_service.py:83-115).
    Gate("cdc_order_paginate", (s, dir) =>
      ev(s, dir).filter(col("event_type") === "purchase")
        .select("event_id", "ts_us", "value")
        .orderBy(col("ts_us").desc, col("event_id"))
        .offset(50).limit(100),
      """SELECT event_id, epoch_us(ts) AS ts_us, value FROM events
        |WHERE event_type = 'purchase'
        |ORDER BY epoch_us(ts) DESC, event_id LIMIT 100 OFFSET 50""".stripMargin.replace("\n", " ")),

    // A4: multi-dimension cube over the event stream (DLQ-stats shape).
    // `grouping_id` disambiguates subtotal rows from data-NULL groups:
    // a subtotal (NULL, x) and a genuine NULL-group (NULL, x) are
    // otherwise indistinguishable to the row comparator, so cube output
    // without a gid is not well-defined whenever a grouping column CAN
    // be NULL (the fixture happens to have none today, but the DLQ shape
    // this mirrors does).
    Gate("cdc_events_cube", (s, dir) =>
      ev(s, dir)
        .withColumn("bucket", col("user_id") % 3)
        .cube(col("event_type"), col("bucket"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n"),
          sum(EventOps.cents(col("value"))).as("sum_cents")),
      """SELECT event_type, bucket, CAST(grouping(event_type, bucket) AS BIGINT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(round(value*100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM (SELECT event_type, user_id % 3 AS bucket, value FROM events)
        |GROUP BY CUBE(event_type, bucket)""".stripMargin.replace("\n", " ")),

    // U1: set difference of key populations (reconciliation primitive).
    Gate("cdc_except", (s, dir) => {
      val e = ev(s, dir)
      e.filter(col("event_type") === "view").select("user_id").distinct()
        .except(e.filter(col("event_type") === "purchase").select("user_id").distinct())
    },
      """SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |EXCEPT
        |SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'""".stripMargin.replace("\n", " ")),

    // A5: job statistics over per-bucket reconciliation drift rows.
    Gate("cdc_recon_job_stats", (s, dir) => {
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
    },
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
        |FROM jobs""".stripMargin.replace("\n", " ")),

    // T13: declarative transformation rules — MASK/CAST/COMPUTE chain.
    Gate("cdc_transform_rules", (s, dir) =>
      EventOps.applyRules(
        ev(s, dir).select("event_id", "event_type", "props", "value"),
        Seq(
          EventOps.Mask("props", 4),
          EventOps.Compute("value_cents", "CAST(round(value*100, 0) AS BIGINT)"),
          EventOps.CastTo("event_id", "string"),
          EventOps.Redact("event_type")))
        .drop("value"),
      // greatest(1, ...): Spark's negative-start substring clamps to the
      // string head (a 2-char value keeps both chars); DuckDB's negative
      // start would keep fewer — clamp explicitly so short masked fields
      // agree across engines
      """SELECT CAST(event_id AS VARCHAR) AS event_id,
        |  '[REDACTED]' AS event_type,
        |  '***' || substr(props, greatest(1, length(props) - 3), 4) AS props,
        |  CAST(round(value*100, 0) AS BIGINT) AS value_cents
        |FROM events""".stripMargin.replace("\n", " ")),

    // J1 + T6: per-key conflict-check join of an incoming state against a
    // target, annotated with the reference's _conflict_resolution struct.
    Gate("cdc_conflict_annotate", (s, dir) => {
      val incoming = lwwStateWhere(s, dir, col("event_id") % 2 === 0)
      val target = lwwStateWhere(s, dir, col("event_id") % 2 =!= 0)
      Lww.resolveAgainstTarget(incoming, target, "user_id", "ts_us", "event_id")
        .select(
          col("user_id"), col("event_id"), col("ts_us"),
          col("_conflict_resolution.was_accepted").as("was_accepted"),
          col("_conflict_resolution.had_conflict").as("had_conflict"),
          col("_conflict_resolution.timestamp_diff_micros").as("timestamp_diff_micros"))
    },
      s"""SELECT s.user_id, s.event_id, s.ts_us,
         |  CASE WHEN t.user_id IS NULL THEN TRUE
         |       WHEN s.ts_us > t.ts_us THEN TRUE
         |       WHEN s.ts_us = t.ts_us AND s.event_id > t.event_id THEN TRUE
         |       WHEN t.ts_us IS NULL AND s.ts_us IS NOT NULL THEN TRUE
         |       ELSE FALSE END AS was_accepted,
         |  t.user_id IS NOT NULL AS had_conflict,
         |  s.ts_us - coalesce(t.ts_us, s.ts_us) AS timestamp_diff_micros
         |FROM ${lwwSql("event_id % 2 = 0")} s
         |LEFT JOIN ${lwwSql("event_id % 2 <> 0")} t ON s.user_id = t.user_id"""
        .stripMargin.replace("\n", " ")),

    // J3: job ↔ mismatch hydration join — each per-bucket reconciliation
    // job carries its (sorted) mismatched keys.
    Gate("cdc_job_mismatch_hydration", (s, dir) => {
      val e = Tables.events(s, dir).withColumn("tbl", col("user_id") % 10)
      val srcC = e.groupBy("tbl").agg(count(lit(1)).as("source_count"))
      val tgtC = e.filter(col("event_id") % 97 =!= 0)
        .groupBy("tbl").agg(count(lit(1)).as("target_count"))
      val jobs = srcC.join(tgtC, Seq("tbl"), "left_outer")
        .withColumn("target_count", coalesce(col("target_count"), lit(0L)))
        // (long * 100.0) / long — same op order as the oracle
        .withColumn("drift_percentage", round(
          abs(col("source_count") - col("target_count")) * lit(100.0) /
            col("source_count"), 2))
      // Mismatch keys serialized to a sorted comma-joined string: the
      // oracle harness hashes scalar cells only (array cells are
      // unhashable in its comparator), and the string form is the same
      // information.
      val mism = Reconciler.checksumMismatches(
          lwwStateWhere(s, dir, lit(true)),
          lwwStateWhere(s, dir, col("event_id") % 97 =!= 0),
          "user_id", Seq("event_id", "event_type", "value_cents", "ts_us"))
        .withColumn("tbl", col("user_id") % 10)
        .groupBy("tbl")
        .agg(concat_ws(",",
          transform(sort_array(collect_list(col("user_id"))), _.cast("string")))
          .as("mismatch_user_ids"))
      jobs.join(mism, Seq("tbl"), "left_outer")
        .withColumn("mismatch_user_ids", coalesce(col("mismatch_user_ids"), lit("")))
        .select("tbl", "source_count", "target_count", "drift_percentage", "mismatch_user_ids")
    },
      s"""WITH src AS (SELECT user_id % 10 AS tbl, count(*) AS source_count FROM events GROUP BY 1),
         |tgt AS (SELECT user_id % 10 AS tbl, count(*) AS target_count FROM events
         |        WHERE event_id % 97 <> 0 GROUP BY 1),
         |jobs AS (SELECT src.tbl, source_count, coalesce(target_count, 0) AS target_count,
         |  round(abs(source_count - coalesce(target_count, 0)) * 100.0 / source_count, 2) AS drift_percentage
         |  FROM src LEFT JOIN tgt ON src.tbl = tgt.tbl),
         |s AS (SELECT user_id, ${EventOps.checksumSqlDuck(Seq("event_id", "event_type", "value_cents", "ts_us"))} AS cks
         |      FROM ${lwwSql("TRUE")} ss),
         |t AS (SELECT user_id, ${EventOps.checksumSqlDuck(Seq("event_id", "event_type", "value_cents", "ts_us"))} AS cks
         |      FROM ${lwwSql("event_id % 97 <> 0")} tt),
         |m AS (SELECT coalesce(s.user_id, t.user_id) AS user_id
         |      FROM s FULL OUTER JOIN t ON s.user_id = t.user_id
         |      WHERE s.cks IS NULL OR t.cks IS NULL OR s.cks <> t.cks),
         |hyd AS (SELECT user_id % 10 AS tbl,
         |        array_to_string(list_sort(list(user_id)), ',') AS mismatch_user_ids
         |        FROM m GROUP BY 1)
         |SELECT jobs.tbl, source_count, target_count, drift_percentage,
         |  coalesce(mismatch_user_ids, '') AS mismatch_user_ids
         |FROM jobs LEFT JOIN hyd ON jobs.tbl = hyd.tbl""".stripMargin.replace("\n", " ")),

    // U1: per-key set diff between source and target column populations
    // (the reference's dict-diff on mismatched rows, set-at-a-time).
    Gate("cdc_dict_diff", (s, dir) => {
      val e = Tables.events(s, dir)
      def typeSets(df: DataFrame, as: String) =
        df.groupBy("user_id").agg(sort_array(collect_set(col("event_type"))).as(as))
      val src = typeSets(e, "src_types")
      val tgt = typeSets(e.filter(col("event_id") % 7 =!= 0), "tgt_types")
      // Set-diff results serialized to sorted comma-joined strings so every
      // output cell is scalar (the oracle comparator can't hash arrays).
      src.join(tgt, Seq("user_id"), "left_outer")
        .withColumn("tgt_types", coalesce(col("tgt_types"), array()))
        .select(
          col("user_id"),
          concat_ws(",", sort_array(array_except(col("src_types"), col("tgt_types")))).as("source_only"),
          concat_ws(",", sort_array(array_except(col("tgt_types"), col("src_types")))).as("target_only"),
          concat_ws(",", sort_array(array_intersect(col("src_types"), col("tgt_types")))).as("common"))
    },
      """WITH src AS (SELECT user_id, list_sort(list(DISTINCT event_type)) AS s FROM events GROUP BY 1),
        |tgt AS (SELECT user_id, list_sort(list(DISTINCT event_type)) AS t FROM events
        |        WHERE event_id % 7 <> 0 GROUP BY 1),
        |j AS (SELECT src.user_id, s, coalesce(t, []) AS t FROM src LEFT JOIN tgt ON src.user_id = tgt.user_id)
        |SELECT user_id,
        |  coalesce(array_to_string(list_sort(list_filter(s, x -> NOT list_contains(t, x))), ','), '') AS source_only,
        |  coalesce(array_to_string(list_sort(list_filter(t, x -> NOT list_contains(s, x))), ','), '') AS target_only,
        |  coalesce(array_to_string(list_sort(list_filter(s, x -> list_contains(t, x))), ','), '') AS common
        |FROM j""".stripMargin.replace("\n", " ")),

    // Session windows, batch form (the flatMapGroupsWithState semantics as
    // a window-function query; 30-minute inactivity gap). Uses the
    // generic (keyCol, tsCol) entry — the key name is a parameter, not a
    // fixture-ism.
    Gate("events_sessionize", (s, dir) =>
      StreamOps.closeOpenSessions(Tables.events(s, dir), "user_id", "ts_us",
        gapUs = 1800000000L),
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |g AS (SELECT user_id, ts_us,
        |  CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
        |         OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) > 1800000000
        |       THEN 1 ELSE 0 END AS new_s FROM e),
        |s AS (SELECT user_id, ts_us, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
        |        ROWS UNBOUNDED PRECEDING) AS sid FROM g)
        |SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
        |  count(*) AS n_events, max(ts_us) - min(ts_us) AS duration_us
        |FROM s GROUP BY user_id, sid""".stripMargin.replace("\n", " ")),

    // AS-OF enrichment: every click gets the same user's most recent
    // purchase at-or-before it (ties: max purchase event_id — LWW). The
    // scalable union+window re-expression of a temporal range join.
    Gate("events_asof_purchase", (s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_us"),
          col("event_id").as("p_event_id"), col("value").as("p_value"))
      graft.ops.AsOf.joinAtOrBefore(clicks, purchases, Seq("user_id"),
        leftTs = "ts_us", rightTs = "ts_us", rightTie = "p_event_id",
        rightVals = Seq("p_event_id", "p_value"), prefix = "")
    },
      // LATERAL top-1 subquery — the declarative statement of the as-of
      // contract the union+window plan implements
      """WITH c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value FROM events
        |  WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.ts_us, q.p_event_id, q.p_value
        |FROM c LEFT JOIN LATERAL (
        |  SELECT p.event_id AS p_event_id, p.value AS p_value FROM p
        |  WHERE p.user_id = c.user_id AND p.ts_us <= c.ts_us
        |  ORDER BY p.ts_us DESC, p.event_id DESC LIMIT 1) q ON true"""
        .stripMargin.replace("\n", " ")),

    // Per-language n-gram profile: top-3 trigrams by frequency — the
    // language-model fingerprint a lang-ID classifier trains on.
    Gate("text_ngram_freq", (s, dir) => {
      // widen: parallelize the trigram explode when the scan is narrow
      // (single fixture file); no-op on an already-wide scan
      val sh = graft.llm.Dedup.widen(Tables.documents(s, dir)
        .select(col("lang"), split(col("text"), " ").as("_toks")))
        .select(col("lang"), explode(
          when(size(col("_toks")) >= 3,
            expr("transform(sequence(1, size(_toks) - 2), i -> concat_ws(' ', slice(_toks, i, 3)))"))
            .otherwise(array())).as("sh"))
      val counts = sh.groupBy("lang", "sh").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("n").desc, col("sh"))
      counts.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
    },
      """WITH toks AS (SELECT lang, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT lang, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |c AS (SELECT lang, sh, count(*) AS n FROM sh GROUP BY lang, sh),
        |r AS (SELECT lang, sh, n, row_number() OVER (PARTITION BY lang ORDER BY n DESC, sh) AS rank FROM c)
        |SELECT lang, sh, n, rank FROM r WHERE rank <= 3""".stripMargin.replace("\n", " "))
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
