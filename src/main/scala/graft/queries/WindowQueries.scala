package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Window-function breadth over the relational fixtures: running
  * (prefix) aggregation, partitioned ntile bucketing, and lag-based
  * event-gap derivation — the §2.5 analytic shapes beyond rank-k.
  *
  * Scale notes: every window here is PARTITIONED (customer, nation,
  * user) — no global ORDER BY window, which would serialize the corpus
  * through one task. Running sums are exact DECIMAL prefix sums cast to
  * DOUBLE only at the end (the rollup_orders discipline); gap arithmetic
  * stays in integer microseconds.
  */
object WindowQueries {

  private val NtileBuckets = 4 // per-nation balance quartiles

  private val AttributionWindowUs = 86400000000L // 24 h click→purchase

  private val TrailingWindowUs = 2592000000000L // 30 d RANGE frame

  def gates: Seq[Gate] = Seq(
    // Per-customer running order total in date order — the classic
    // cumulative-balance statement shape (ROWS UNBOUNDED PRECEDING).
    Gate("window_running_balance", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, dir)
        .withColumn("running_total",
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).over(w)
            .cast("double"))
        .select(col("o_custkey"), col("o_orderkey"),
          // o_orderdate is TIMESTAMP_NTZ in the fixture; session TZ is
          // UTC on both engines so the cast is instant-preserving
          unix_micros(col("o_orderdate").cast("timestamp")).as("order_date_us"),
          col("running_total"))
    },
      """SELECT o_custkey, o_orderkey, epoch_us(o_orderdate) AS order_date_us,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_total
        |FROM orders""".stripMargin.replace("\n", " ")),

    // Integer percent_rank / cume_dist per nation over account balance
    // — both rendered as exact per-mille from rank()/count() (the float
    // window built-ins don't hash-compare across engines; the integer
    // forms are the same statistics).
    Gate("window_percent_rank", (s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("bal_cents"), col("c_custkey"))
      val cw = Window.partitionBy("c_nationkey")
      Tables.customer(s, dir)
        .select(col("c_nationkey"), col("c_custkey"),
          expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)").as("bal_cents"))
        .withColumn("_rk", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(cw))
        .withColumn("pr_permille",
          when(col("_n") === 1, 0L)
            .otherwise(expr("((_rk - 1) * 1000) div (_n - 1)")))
        .withColumn("cd_permille", expr("(_rk * 1000) div _n"))
        .drop("_rk", "_n")
    },
      """WITH b AS (SELECT c_nationkey, c_custkey,
        |    CAST(round(c_acctbal * 100, 0) AS BIGINT) AS bal_cents
        |  FROM customer),
        |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY c_nationkey
        |    ORDER BY bal_cents, c_custkey) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY c_nationkey) AS BIGINT) AS n
        |  FROM b)
        |SELECT c_nationkey, c_custkey, bal_cents,
        |  CASE WHEN n = 1 THEN 0 ELSE ((rk - 1) * 1000) // (n - 1) END
        |    AS pr_permille,
        |  (rk * 1000) // n AS cd_permille
        |FROM r""".stripMargin.replace("\n", " ")),

    // Per-source doc-length deciles: boundary d (1..10) = the token
    // count at exact rank ceil(n*d/10) — the distribution profile a
    // curation run eyeballs, no float percentile.
    Gate("source_token_deciles", (s, dir) => {
      val docs = Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          graft.llm.TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      val w = Window.partitionBy("source")
        .orderBy(col("n_tok"), col("doc_id"))
      val cw = Window.partitionBy("source")
      docs
        .withColumn("_rk", row_number().over(w).cast("long"))
        .withColumn("_n", count(lit(1)).over(cw))
        .select(col("source"), col("_rk"), col("_n"), col("n_tok"),
          explode(sequence(lit(1), lit(10))).as("decile"))
        .filter(col("_rk") === expr("(_n * decile + 9) div 10"))
        .select(col("source"), col("decile").cast("long").as("decile"),
          col("n_tok").as("boundary_tokens"))
    },
      """WITH d AS (SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT source, doc_id, n_tok,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_tok, doc_id) AS BIGINT) AS rk,
        |    CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM d)
        |SELECT source, CAST(u.d AS BIGINT) AS decile,
        |  n_tok AS boundary_tokens
        |FROM r, unnest(range(1, 11)) AS u(d)
        |WHERE rk = (n * u.d + 9) // 10""".stripMargin.replace("\n", " ")),

    // Per-nation balance quartiles: ntile within each nation partition,
    // then quartile population stats. min/max are picked values (no
    // float arithmetic); the sum goes through exact integer cents.
    Gate("ntile_nation_balance", (s, dir) => {
      val w = Window.partitionBy("c_nationkey")
        .orderBy(col("c_acctbal"), col("c_custkey"))
      Tables.customer(s, dir)
        .withColumn("quartile", ntile(NtileBuckets).over(w))
        .groupBy("c_nationkey", "quartile")
        .agg(count(lit(1)).as("n"),
          min("c_acctbal").as("min_bal"),
          max("c_acctbal").as("max_bal"),
          sum(expr("CAST(round(c_acctbal * 100, 0) AS BIGINT)")).as("sum_cents"))
    },
      s"""WITH q AS (SELECT c_nationkey, c_acctbal,
         |    ntile($NtileBuckets) OVER (PARTITION BY c_nationkey
         |      ORDER BY c_acctbal, c_custkey) AS quartile
         |  FROM customer)
         |SELECT c_nationkey, quartile, count(*) AS n,
         |  min(c_acctbal) AS min_bal, max(c_acctbal) AS max_bal,
         |  CAST(sum(CAST(round(c_acctbal * 100, 0) AS BIGINT)) AS BIGINT) AS sum_cents
         |FROM q GROUP BY c_nationkey, quartile"""
        .stripMargin.replace("\n", " ")),

    // Per-user inter-event gaps via lag(): the session-gap profile that
    // feeds gap-threshold sessionization — all integer microseconds.
    Gate("events_gap_stats", (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("gap_us", col("ts_us") - lag("ts_us", 1).over(w))
        .filter(col("gap_us").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"),
          sum("gap_us").as("sum_gap_us"),
          min("gap_us").as("min_gap_us"),
          max("gap_us").as("max_gap_us"))
    },
      """WITH g AS (SELECT user_id,
        |    epoch_us(ts) - lag(epoch_us(ts)) OVER (
        |      PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events)
        |SELECT user_id, count(*) AS n_gaps,
        |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
        |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
        |FROM g WHERE gap_us IS NOT NULL GROUP BY user_id"""
        .stripMargin.replace("\n", " ")),

    // Trailing-30-day spend per order: a RANGE frame over the epoch-µs
    // order date — the moving-window shape ROWS frames can't express
    // (ties and gaps in dates are handled by value, not position).
    Gate("window_trailing_spend", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("order_date_us"))
        .rangeBetween(-TrailingWindowUs, 0L)
      Tables.orders(s, dir)
        .withColumn("order_date_us",
          unix_micros(col("o_orderdate").cast("timestamp")))
        .withColumn("trailing_spend",
          sum(expr("CAST(o_totalprice AS DECIMAL(18,2))")).over(w)
            .cast("double"))
        .select("o_custkey", "o_orderkey", "order_date_us", "trailing_spend")
    },
      s"""SELECT o_custkey, o_orderkey,
         |  epoch_us(o_orderdate) AS order_date_us,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         |    PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
         |    RANGE BETWEEN $TrailingWindowUs PRECEDING AND CURRENT ROW)
         |    AS DOUBLE) AS trailing_spend
         |FROM orders""".stripMargin.replace("\n", " ")),

    // Click→purchase attribution through the stream-stream-capable
    // interval join (same plan runs on streaming inputs with watermarked
    // state — StreamAttributionSpec proves batch/stream parity): per
    // purchase, clicks by the same user in the prior 24 h and the latest
    // such click.
    Gate("events_click_attribution", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.streaming.StreamOps.clickAttribution(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"),
        AttributionWindowUs)
    },
      s"""WITH c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cts
         |    FROM events WHERE event_type = 'click'),
         |p AS (SELECT user_id, event_id AS purchase_id, epoch_us(ts) AS pts
         |    FROM events WHERE event_type = 'purchase'),
         |j AS (SELECT p.purchase_id, p.user_id, p.pts, c.click_id, c.cts
         |  FROM p LEFT JOIN c ON c.user_id = p.user_id
         |    AND c.cts >= p.pts - $AttributionWindowUs AND c.cts < p.pts),
         |agg AS (SELECT purchase_id, user_id, pts,
         |    count(click_id) AS n_clicks FROM j GROUP BY 1, 2, 3),
         |r AS (SELECT purchase_id, click_id, cts, row_number() OVER (
         |    PARTITION BY purchase_id
         |    ORDER BY cts DESC NULLS LAST, click_id DESC) AS rn FROM j)
         |SELECT a.purchase_id, a.user_id, a.pts AS purchase_ts_us,
         |  a.n_clicks, r.click_id AS last_click_id, r.cts AS last_click_ts_us
         |FROM agg a JOIN r ON a.purchase_id = r.purchase_id AND r.rn = 1"""
        .stripMargin.replace("\n", " "))
  )
}
