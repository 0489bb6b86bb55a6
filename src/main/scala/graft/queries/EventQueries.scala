package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.Privacy
import graft.ops.EventAnalytics

/** Product-analytics shapes over the event stream: the ordered
  * conversion funnel (with a conversion window) and the cohort-retention
  * triangle — [[graft.ops.EventAnalytics]] gated end-to-end. All time
  * arithmetic is integer epoch-µs; both plans are user-keyed with no
  * global ordering.
  */
object EventQueries {

  private val FunnelStages = Seq("signup", "view", "click", "purchase")

  private val ConversionWindowUs = 86400000000L // 24 h per stage — at
  // the fixture's event density this decays the funnel non-trivially at
  // both gate scales (sf0.01: 150→39→16→5)

  private val RetentionPeriodUs = 86400000000L // daily cohorts — weekly
  // periods saturate (every fixture user is active every week)

  /** Explicit pivot value list (alphabetical — the deterministic column
    * set; a pivot without one costs a driver-side distinct at scale).
    */
  private val EventTypes = Seq("click", "error", "purchase", "signup", "view")

  private val HistoryN = 5 // recent-history window length

  private val DriftBuckets = 32
  private val DriftHi = 32768L // value ≤ ~330 → ×100 ≤ 33000, clamped tail

  def gates: Seq[Gate] = Seq(
    // Ordered conversion funnel: stage k strictly after stage k-1 and
    // within the 24 h conversion window of it; per-stage user counts.
    Gate("events_funnel", (s, dir) =>
      EventAnalytics.funnel(Tables.events(s, dir), "user_id", "event_type",
        "ts_us", FunnelStages, ConversionWindowUs),
      {
        val w = ConversionWindowUs
        val stageCtes = FunnelStages.zipWithIndex.drop(1).map { case (st, i) =>
          val k = i + 1
          s"""s$k AS (SELECT e.user_id, min(e.ts_us) AS t$k
             |  FROM e JOIN s$i ON e.user_id = s$i.user_id
             |    AND e.ts_us > s$i.t$i AND e.ts_us <= s$i.t$i + $w
             |  WHERE e.event_type = '$st' GROUP BY e.user_id)""".stripMargin
        }.mkString(", ")
        val unions = FunnelStages.zipWithIndex.map { case (st, i) =>
          s"SELECT ${i + 1} AS stage_no, '$st' AS stage, " +
            s"CAST(count(*) AS BIGINT) AS n_users FROM s${i + 1}"
        }.mkString(" UNION ALL ")
        s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
           |    FROM events),
           |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
           |  WHERE event_type = '${FunnelStages.head}' GROUP BY user_id),
           |$stageCtes
           |$unions""".stripMargin.replace("\n", " ")
      }),

    // Daily cohort retention triangle: cohort = first active day,
    // retained at offset w iff any event on cohort_day + w.
    Gate("events_retention_cohort", (s, dir) =>
      EventAnalytics.retentionCohorts(Tables.events(s, dir), "user_id",
        "ts_us", RetentionPeriodUs)
        .withColumnRenamed("cohort_period", "cohort_day")
        .withColumnRenamed("period_offset", "day_offset"),
      s"""WITH p AS (SELECT DISTINCT user_id,
         |    epoch_us(ts) // $RetentionPeriodUs AS period FROM events),
         |f AS (SELECT user_id, min(period) AS cohort_day FROM p
         |  GROUP BY user_id)
         |SELECT f.cohort_day, p.period - f.cohort_day AS day_offset,
         |  CAST(count(*) AS BIGINT) AS n_users
         |FROM p JOIN f ON p.user_id = f.user_id
         |GROUP BY f.cohort_day, p.period - f.cohort_day"""
        .stripMargin.replace("\n", " ")),

    // Where users stall: exact lower-median conversion latency per
    // funnel stage (integer rank median, no float percentile).
    Gate("events_funnel_latency", (s, dir) =>
      EventAnalytics.funnelLatency(Tables.events(s, dir), "user_id",
        "event_type", "ts_us", FunnelStages, ConversionWindowUs),
      {
        val w = ConversionWindowUs
        val stageCtes = FunnelStages.zipWithIndex.drop(1).map { case (st, i) =>
          val k = i + 1
          s"""s$k AS (SELECT e.user_id, min(e.ts_us) AS t$k
             |  FROM e JOIN s$i ON e.user_id = s$i.user_id
             |    AND e.ts_us > s$i.t$i AND e.ts_us <= s$i.t$i + $w
             |  WHERE e.event_type = '$st' GROUP BY e.user_id)""".stripMargin
        }.mkString(", ")
        val unions = FunnelStages.zipWithIndex.drop(1).map { case (st, i) =>
          val k = i + 1
          s"""SELECT $k AS stage_no, '$st' AS stage,
             |  CAST(n AS BIGINT) AS n_users, CAST(gap AS BIGINT) AS median_gap_us
             |FROM (SELECT s$k.t$k - s$i.t$i AS gap,
             |    row_number() OVER (ORDER BY s$k.t$k - s$i.t$i) AS rk,
             |    count(*) OVER () AS n
             |  FROM s$k JOIN s$i ON s$k.user_id = s$i.user_id)
             |WHERE rk = (n + 1) // 2""".stripMargin
        }.mkString(" UNION ALL ")
        s"""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
           |    FROM events),
           |s1 AS (SELECT user_id, min(ts_us) AS t1 FROM e
           |  WHERE event_type = '${FunnelStages.head}' GROUP BY user_id),
           |$stageCtes
           |$unions""".stripMargin.replace("\n", " ")
      }),

    // Relational PIVOT: per-user event-type count matrix with an
    // EXPLICIT value list (the only scale-sane pivot — value discovery
    // is a driver-side distinct collect) and zero-filled empty cells.
    Gate("events_type_pivot", (s, dir) => {
      val p = Tables.events(s, dir).groupBy("user_id")
        .pivot("event_type", EventTypes).agg(count(lit(1)))
      p.select(col("user_id") +:
        EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    },
      {
        val cols = EventTypes.map(t =>
          s"CAST(count(CASE WHEN event_type = '$t' THEN 1 END) AS BIGINT) AS \"$t\"")
          .mkString(", ")
        s"SELECT user_id, $cols FROM events GROUP BY user_id"
      }),

    // UNPIVOT (melt) of the same matrix back to (user, type, n) — the
    // wide↔long round trip, zero cells included.
    Gate("events_type_unpivot", (s, dir) => {
      val p = Tables.events(s, dir).groupBy("user_id")
        .pivot("event_type", EventTypes).agg(count(lit(1)))
        .select(col("user_id") +:
          EventTypes.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      p.unpivot(Array(col("user_id")), EventTypes.map(col).toArray,
        "event_type", "n")
    },
      {
        val vals = EventTypes.map(t => s"('$t')").mkString(", ")
        s"""WITH u AS (SELECT DISTINCT user_id FROM events),
           |t(event_type) AS (VALUES $vals),
           |c AS (SELECT user_id, event_type, count(*) AS n
           |  FROM events GROUP BY 1, 2)
           |SELECT u.user_id, t.event_type,
           |  CAST(coalesce(c.n, 0) AS BIGINT) AS n
           |FROM u CROSS JOIN t
           |LEFT JOIN c ON c.user_id = u.user_id
           |  AND c.event_type = t.event_type""".stripMargin.replace("\n", " ")
      }),

    // Robust per-user outlier profile: exact lower-median + MAD over
    // integer cents, strict |v−med| > 3·MAD flag.
    Gate("events_anomaly_mad", (s, dir) =>
      EventAnalytics.madOutliers(Tables.events(s, dir), "user_id",
        graft.ops.EventOps.cents(col("value")), k = 3),
      """WITH b AS (SELECT user_id AS k,
        |    CAST(round(value*100, 0) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL),
        |m AS (SELECT k, v AS median_v FROM (
        |    SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) AS rk,
        |      count(*) OVER (PARTITION BY k) AS n FROM b)
        |  WHERE rk = (n + 1) // 2),
        |d AS (SELECT b.k, abs(b.v - m.median_v) AS dd, m.median_v
        |  FROM b JOIN m ON b.k = m.k),
        |md AS (SELECT k, dd AS mad_v FROM (
        |    SELECT k, dd, row_number() OVER (PARTITION BY k ORDER BY dd) AS rk,
        |      count(*) OVER (PARTITION BY k) AS n FROM d)
        |  WHERE rk = (n + 1) // 2)
        |SELECT d.k AS user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  max(d.median_v) AS median_v, max(md.mad_v) AS mad_v,
        |  CAST(sum(CASE WHEN d.dd > 3 * md.mad_v THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_anomalies
        |FROM d JOIN md ON d.k = md.k GROUP BY d.k"""
        .stripMargin.replace("\n", " ")),

    // Z-order layout key: the Morton interleave of (user, hour) — the
    // 2-D data-skipping sort key; exact magic-bit arithmetic shared with
    // the oracle. The write-side layout (range partition + sort on this
    // value) is asserted in CurationSelectSpec.
    Gate("events_zorder_key", (s, dir) =>
      Tables.events(s, dir).select(col("event_id"),
        pmod(col("user_id"), lit(65536L)).as("zx"),
        pmod(expr("ts_us div 3600000000"), lit(65536L)).as("zy"))
        .withColumn("zvalue",
          graft.warehouse.ZOrder.zValue(col("zx"), col("zy"))),
      {
        val z = graft.warehouse.ZOrder.zValueSqlDuck("zx", "zy")
        s"""WITH b AS (SELECT event_id,
           |    user_id % 65536 AS zx,
           |    (epoch_us(ts) // 3600000000) % 65536 AS zy
           |  FROM events)
           |SELECT event_id, CAST(zx AS BIGINT) AS zx, CAST(zy AS BIGINT) AS zy,
           |  CAST($z AS BIGINT) AS zvalue FROM b""".stripMargin.replace("\n", " ")
      }),

    // Zone-map pruning audit — per range predicate: zones kept by the
    // min/max manifest, rows the kept zones force you to SCAN, rows
    // that actually MATCH. Zones are insertion-order blocks (event_id
    // div 1024), so the time predicates prune hard (the fixture log is
    // time-ordered) while the uncorrelated user/value predicates keep
    // every zone — the audit exhibits exactly when zone maps pay and
    // when a re-cluster (Z-order) is needed.
    Gate("zonemap_prune_audit", (s, dir) =>
      graft.warehouse.ZoneMap.pruneAudit(Tables.events(s, dir),
        expr("event_id div 1024"), ZonePreds),
      {
        val statCols = ZonePreds.map(_.column).distinct
          .map(c => s"min($c) AS ${c}_min, max($c) AS ${c}_max").mkString(", ")
        val predRows = ZonePreds.map { p =>
          val keep = s"${p.column}_max >= ${p.lo} AND ${p.column}_min <= ${p.hi}"
          s"""SELECT '${p.id}' AS pred_id,
             |  (SELECT count(*) FROM st) AS zones_total,
             |  (SELECT count(*) FROM st WHERE $keep) AS zones_kept,
             |  (SELECT CAST(COALESCE(sum(n_rows), 0) AS BIGINT) FROM st
             |    WHERE $keep) AS rows_scanned,
             |  (SELECT count(*) FROM z
             |    WHERE ${p.column} BETWEEN ${p.lo} AND ${p.hi}) AS rows_match"""
            .stripMargin
        }.mkString(" UNION ALL ")
        s"""WITH z AS (SELECT event_id // 1024 AS zone, epoch_us(ts) AS ts_us,
           |    user_id, value FROM events),
           |st AS (SELECT zone, count(*) AS n_rows, $statCols
           |  FROM z GROUP BY 1)
           |$predRows""".stripMargin.replace("\n", " ")
      }),

    // Per-user recent-history assembly: the last 5 events most-recent-
    // first as one deterministic pipe-joined id string — the sequence
    // windows behavioral training data is cut into. One user-keyed
    // exchange; the rank filter is a WindowGroupLimit.
    Gate("events_user_histories", (s, dir) =>
      EventAnalytics.userHistories(Tables.events(s, dir),
        "user_id", "event_id", "ts_us", n = HistoryN),
      s"""WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
         |  FROM events),
         |r AS (SELECT user_id, event_id, ts_us, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC)
         |    AS rn FROM v),
         |k AS (SELECT * FROM r WHERE rn <= $HistoryN)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
         |  min(ts_us) AS first_ts_us, max(ts_us) AS last_ts_us,
         |  string_agg(CAST(event_id AS VARCHAR), '|' ORDER BY rn)
         |    AS history
         |FROM k GROUP BY user_id""".stripMargin.replace("\n", " ")),

    // The history's register identity in-plan: last-n survivor sets are
    // TRUE registers (last-n of A ∪ B == last-n of the per-batch
    // last-ns unioned), so two ts-parity batch legs keep ≤n rows each
    // per user and the merged ≤2n rows re-rank to the ONE-PASS
    // histories — oracle shared verbatim with events_user_histories.
    Gate("events_user_histories_stream", (s, dir) => {
      val ev = Tables.events(s, dir)
      def leg(pred: org.apache.spark.sql.Column) =
        EventAnalytics.recentEvents(ev.filter(pred),
          "user_id", "event_id", "ts_us", n = HistoryN)
      EventAnalytics.historiesFromRecent(
        leg(col("ts_us") % 2 === 0).unionByName(leg(col("ts_us") % 2 === 1)),
        "user_id", "event_id", "ts_us", n = HistoryN)
    },
      // the register identity: the two-leg survivor fold must land on the
      // ONE-PASS histories — oracle shared verbatim
      s"""WITH v AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us
         |  FROM events),
         |r AS (SELECT user_id, event_id, ts_us, row_number() OVER (
         |    PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC)
         |    AS rn FROM v),
         |k AS (SELECT * FROM r WHERE rn <= $HistoryN)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_recent,
         |  min(ts_us) AS first_ts_us, max(ts_us) AS last_ts_us,
         |  string_agg(CAST(event_id AS VARCHAR), '|' ORDER BY rn)
         |    AS history
         |FROM k GROUP BY user_id""".stripMargin.replace("\n", " ")),

    // tumbling-window event rates via Spark's native window() — the
    // per-minute ingest-rate panel; the oracle is the equivalent integer
    // floor-bucket arithmetic (window() aligns to the epoch in UTC, so
    // unix_micros(start) == (ts_us div 60e6) * 60e6 for positive ts)
    Gate("events_tumbling_rate", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.groupBy(
        window(timestamp_micros(col("ts_us")), "1 minute").as("w"),
        col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value*100, 0) AS BIGINT)")).as("cents"))
        .select(unix_micros(col("w.start")).as("bucket_us"),
          col("event_type"), col("n"), col("cents"))
    },
      """SELECT (epoch_us(ts) // 60000000) * 60000000 AS bucket_us, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " ")),

    // The TableMonitors drift walk, oracled: per event type, the
    // integer EMD between the even- and odd-event-id halves' value
    // distributions (a deterministic two-window split standing in for
    // prior-history vs latest-batch).
    Gate("events_value_drift", (s, dir) => {
      val ev = Tables.events(s, dir)
      def leg(pred: org.apache.spark.sql.Column) =
        Privacy.tClosenessCounts(ev.filter(pred),
          Seq("etype" -> col("event_type")), round(col("value") * 100, 0),
          lo = 0L, hi = DriftHi, buckets = DriftBuckets)
      Privacy.emdBetweenCounts(
        leg(col("event_id") % 2 === 0), leg(col("event_id") % 2 === 1),
        Seq("etype"), buckets = DriftBuckets)
    },
      s"""WITH sv AS (SELECT event_id, event_type AS etype,
         |    CAST(round(value * 100, 0) AS BIGINT) AS v
         |  FROM events WHERE value IS NOT NULL),
         |bk AS (SELECT event_id, etype,
         |  CAST(CAST(least(${DriftHi - 1}, greatest(0, v)) AS HUGEINT)
         |    * $DriftBuckets // $DriftHi AS BIGINT) AS b FROM sv),
         |ha AS (SELECT etype, b, CAST(count(*) AS BIGINT) AS na
         |  FROM bk WHERE event_id % 2 = 0 GROUP BY 1, 2),
         |hb AS (SELECT etype, b, CAST(count(*) AS BIGINT) AS nb
         |  FROM bk WHERE event_id % 2 = 1 GROUP BY 1, 2),
         |keys AS (SELECT DISTINCT etype FROM
         |  (SELECT etype FROM ha UNION ALL SELECT etype FROM hb)),
         |gr AS (SELECT CAST(range AS BIGINT) AS b FROM range($DriftBuckets)),
         |grid AS (SELECT k.etype, gr.b FROM keys k CROSS JOIN gr),
         |j AS (SELECT grid.etype, grid.b,
         |    coalesce(ha.na, 0) AS na, coalesce(hb.nb, 0) AS nb
         |  FROM grid LEFT JOIN ha ON ha.etype = grid.etype AND ha.b = grid.b
         |  LEFT JOIN hb ON hb.etype = grid.etype AND hb.b = grid.b),
         |cc AS (SELECT etype, b, na, nb,
         |  CAST(sum(na) OVER (PARTITION BY etype ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
         |  CAST(sum(nb) OVER (PARTITION BY etype ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
         |  FROM j),
         |tot AS (SELECT etype, CAST(sum(na) AS BIGINT) AS n_a,
         |  CAST(sum(nb) AS BIGINT) AS n_b FROM j GROUP BY 1)
         |SELECT t.etype, t.n_a, t.n_b,
         |  CASE WHEN t.n_a = 0 OR t.n_b = 0 THEN NULL
         |       ELSE CAST(sum(abs(cc.ca * 1000000 // t.n_a
         |         - cc.cb * 1000000 // t.n_b)) // ${DriftBuckets - 1}
         |         AS BIGINT) END AS emd_x1e6
         |FROM cc JOIN tot t ON cc.etype = t.etype
         |GROUP BY t.etype, t.n_a, t.n_b""".stripMargin.replace("\n", " "))
  )

  /** Audited predicates: two time ranges (zone-correlated), a user and
    * a value range (uncorrelated). Epoch-µs bounds: Jan 2–3 and Jan 15
    * of the fixture's 2024-01 month.
    */
  private val ZonePreds = Seq(
    graft.warehouse.ZoneMap.RangePred(
      "ts_jan02_03", "ts_us", 1704153600000000L, 1704326399999999L),
    graft.warehouse.ZoneMap.RangePred(
      "ts_jan15", "ts_us", 1705276800000000L, 1705363199999999L),
    graft.warehouse.ZoneMap.RangePred("user_lt100", "user_id", 0L, 99L),
    graft.warehouse.ZoneMap.RangePred("value_100_150", "value", 100L, 150L))
}
