package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relational analytics pack over the TPC-H-ish fixture tables —
  * aggregation, multi-way join, broadcast join, window top-k, rollup,
  * percentile, min_by/max_by (SURVEY.md §2.3-2.5 shapes at scale).
  *
  * Numeric-parity strategy: every floating aggregate is computed as an
  * exact DECIMAL sum (order-independent, so Spark's parallel partial
  * aggregation and DuckDB's sequential scan agree bit-for-bit) and only
  * then cast to DOUBLE; per-row double arithmetic (e.g. price*(1-disc))
  * is written with identical operation order in both engines, so IEEE 754
  * guarantees identical inputs to the decimal cast.
  *
  * Scale notes are per-query below; the common ones: filters sit directly
  * on scans (pushed into parquet), dimension joins are broadcast, fact
  * joins shuffle on the join key once, and AQE is left to re-plan skew.
  *
  * The decorrelation family — the four classic correlated-subquery
  * shapes, hand-decorrelated into the joins Catalyst would produce from
  * SQL, so the physical plans are auditable (PlanAuditSpec) — plus the
  * remaining classic relational shapes the fixture schema can express:
  *
  *  - Q4: `EXISTS` → LeftSemi join with a non-equi correlated predicate.
  *  - Q17: correlated scalar `avg` → per-key aggregate joined back.
  *  - Q21: nested `EXISTS` + `NOT EXISTS` on the same fact → a LeftSemi
  *    and a LeftAnti chained on one join key.
  *  - Q22: `NOT EXISTS` anti-join + an uncorrelated global scalar
  *    broadcast under every row.
  *  - Q8: CASE-inside-aggregate market-share ratio over a snowflake.
  *  - Q12: conditional two-way classification counts on a non-equi join.
  *  - Q15: scalar max over a derived view, equality-joined back.
  *  - Q19: disjunction of conjunctive branches as the join predicate.
  *
  * The fixture schema is a pruned TPC-H (no l_commitdate/l_receiptdate,
  * p_container, c_phone, o_comment), so the predicates are adapted to
  * the columns that exist — the *decorrelation shape* (semi/anti/scalar
  * subquery) is the thing under test, and each adaptation keeps the
  * original query's selectivity character (probed non-degenerate at
  * sf0.001/0.01/0.1). Correlated averages run only over the
  * integer-valued l_quantity (exact in double at any aggregation order);
  * the Q22 threshold is cross-multiplied in DECIMAL (acctbal·n > Σ) so
  * no engine ever divides.
  *
  * The partsupp family — Q2, Q9, Q11, Q16, Q20 — needs a partsupp table
  * the fixtures don't ship, so it is DERIVED deterministically from
  * part × supplier-count (the `builtLineDocs` fixture-construction
  * discipline): each part gets 4 suppliers at stride max(⌊S/4⌋, 1)
  * around the supplier-key ring, with integer availqty/supplycost from
  * closed-form arithmetic on the two keys. The IDENTICAL construction
  * runs as a CTE in every oracle ([[psCteDuck]]), so the derived table
  * cannot drift between engines, and it scales with the fixture (S and
  * part count grow with SF). ps_supplycost is integer DOLLARS (1..1000)
  * so the Q9 profit and Q11 stock-value arithmetic stay exact-integer
  * until the final DECIMAL/DOUBLE cast. Plan shapes at 100 TB:
  * part/supplier/nation/region sides broadcast (dim-sized);
  * partsupp↔lineitem joins exchange on the composite (partkey, suppkey);
  * Q11's global total is a 1-row broadcast scalar; Q16's exclusion is a
  * LeftAnti against a broadcast bad-supplier set; Q20 is the semi-join
  * chain ps⋈qty→supplier. No cartesian anywhere (PlanAuditSpec pins
  * Q9/Q16/Q20).
  */
object TpchQueries {

  private val Revenue = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))"

  private val Q2Type = "LARGE"
  private val Q2Region = "EUROPE"
  private val Q9NameSub = "red" // p_name LIKE '%red%'
  private val Q11Nation = "NATION_3"
  private val Q11FracDen = 1000L // keep parts with value*1000 > total
  private val Q16Brand = "Brand#4" // excluded brand
  private val Q16MaxSize = 8 // p_size 1..8 (the IN-list shape)
  private val Q20NamePrefix = "red" // p_name LIKE 'red%'
  private val Q20Year = 1997
  private val Q20Nation = "NATION_9" // non-empty at sf0.01 AND sf0.1

  /** The derived partsupp: (ps_partkey, ps_suppkey, ps_availqty,
    * ps_supplycost), 4 rows per part. All-integer closed forms so the
    * oracle CTE reproduces it bit-exactly.
    */
  def partsupp(s: SparkSession, dir: String): DataFrame = {
    val nsupp = Tables.supplier(s, dir).agg(count(lit(1)).as("n"))
    Tables.part(s, dir).select("p_partkey")
      .crossJoin(broadcast(nsupp))
      .select(col("p_partkey"), col("n"),
        explode(expr("sequence(0, 3)")).as("i"))
      .withColumn("ps_suppkey",
        (col("p_partkey") + col("i") * greatest(expr("n div 4"), lit(1L))) % col("n"))
      .withColumn("ps_availqty",
        (col("p_partkey") * 7 + col("ps_suppkey") * 11) % 9999 + 1)
      .withColumn("ps_supplycost",
        (col("p_partkey") * 13 + col("ps_suppkey") * 17) % 1000 + 1)
      .select(col("p_partkey").as("ps_partkey"), col("ps_suppkey"),
        col("ps_availqty"), col("ps_supplycost"))
  }

  /** DuckDB CTE prefix defining `ps` — the same construction. */
  val psCteDuck: String =
    """ns AS (SELECT count(*) AS n FROM supplier),
      |ps AS (SELECT p_partkey AS ps_partkey,
      |  (p_partkey + u.i * greatest(ns.n // 4, 1)) % ns.n AS ps_suppkey,
      |  (p_partkey * 7 + ((p_partkey + u.i * greatest(ns.n // 4, 1)) % ns.n) * 11) % 9999 + 1 AS ps_availqty,
      |  (p_partkey * 13 + ((p_partkey + u.i * greatest(ns.n // 4, 1)) % ns.n) * 17) % 1000 + 1 AS ps_supplycost
      |  FROM part, ns, UNNEST(range(0, 4)) u(i))"""
      .stripMargin.replace("\n", " ")

  def gates: Seq[Gate] = Seq(
    // Q1-shape pricing summary: single scan + hash agg; partial aggs
    // map-side, 6 rows out. Decimal sums → exact at any SF.
    Gate("q1_pricing_summary", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(expr("l_shipdate < timestamp'1998-09-01'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_base_price"),
          expr(s"CAST(sum($Revenue) AS DOUBLE)").as("sum_revenue"),
          count(lit(1)).as("count_order")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS sum_revenue,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate < TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " ")),

    // Q6-shape forecast revenue: the pure-pushdown query — every
    // predicate reaches the parquet scan, one exchange-free global agg.
    Gate("q6_forecast_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(expr("l_shipdate >= timestamp'1994-01-01'") &&
          expr("l_shipdate < timestamp'1995-01-01'") &&
          expr("l_discount >= 0.05") && expr("l_discount <= 0.07") &&
          expr("l_quantity < 24"))
        .agg(expr(
          "CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE)")
          .as("revenue")),
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate < TIMESTAMP '1995-01-01'
        |AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""
        .stripMargin.replace("\n", " ")),

    // Q3-shape shipping priority: two fact joins; customer is small →
    // broadcast; orders⋈lineitem shuffles once on the order key.
    Gate("q3_shipping_priority", (s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir).filter(expr("o_orderdate < timestamp'1995-03-15'"))
      val l = Tables.lineitem(s, dir).filter(expr("l_shipdate > timestamp'1995-03-15'"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("orderdate_us"),
          col("o_orderpriority"))
        .agg(expr(s"CAST(sum($Revenue) AS DOUBLE)").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, epoch_us(o_orderdate) AS orderdate_us, o_orderpriority,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, epoch_us(o_orderdate), o_orderpriority
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin.replace("\n", " ")),

    // Q5-shape local-supplier volume: snowflake join; all dimensions
    // (region/nation/supplier/customer) broadcast, facts shuffle once.
    Gate("q5_local_supplier", (s, dir) => {
      val r = Tables.region(s, dir)
      val n = Tables.nation(s, dir)
      val su = Tables.supplier(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(c),
          o("o_custkey") === c("c_custkey") && c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(expr(s"CAST(sum($Revenue) AS DOUBLE)").as("revenue"))
    },
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY n_name""".stripMargin.replace("\n", " ")),

    // Q10-shape returned-item ranking: the remaining classic plan — two
    // fact joins + broadcast dims + agg + global top-k. The orderBy+limit
    // plans as TakeOrderedAndProject (per-task top-20, never a full
    // sort); customer/nation broadcast; facts shuffle once on orderkey.
    // Q7-shape nation-pair volume: the self-joined-dimension pattern —
    // nation plays two roles (supplier side via lineitem.l_suppkey,
    // customer side via orders.o_custkey), both broadcast; the
    // direction-pair filter keeps both orderings, grouped by year.
    Gate("q7_nation_volume", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(expr("l_shipdate >= timestamp'1995-01-01'") &&
          expr("l_shipdate < timestamp'1997-01-01'"))
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val su = Tables.supplier(s, dir)
      val n1 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, dir)
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(n1), su("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), c("c_nationkey") === col("c_nk"))
        .filter((col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate").cast("timestamp")).as("l_year"))
        .agg(expr(s"CAST(sum($Revenue) AS DOUBLE)").as("revenue"))
    },
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  year(l_shipdate) AS l_year,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY n1.n_name, n2.n_name, year(l_shipdate)"""
        .stripMargin.replace("\n", " ")),

    // Q13-shape customer distribution: LEFT outer join (zero-order
    // customers count in the 0 bucket) + two stacked aggregations — the
    // first shuffles on the customer key, the second on the tiny count
    // domain; count(o_orderkey) skips nulls identically in both engines.
    Gate("q13_custdist", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
    },
      """WITH pc AS (SELECT c.c_custkey, count(o.o_orderkey) AS c_count
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        |FROM pc GROUP BY c_count""".stripMargin.replace("\n", " ")),

    // Q14-shape promo revenue: month-bounded fact scan (pushed filter) ⋈
    // broadcast part; both revenue sums exact DECIMAL → DOUBLE (the
    // classic ratio is a trivial client-side division of the two).
    Gate("q14_promo_revenue", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(expr("l_shipdate >= timestamp'1995-09-01'") &&
          expr("l_shipdate < timestamp'1995-10-01'"))
      l.join(broadcast(Tables.part(s, dir)), l("l_partkey") === col("p_partkey"))
        .agg(
          expr(s"CAST(sum(CASE WHEN p_type LIKE 'PROMO%' THEN $Revenue " +
            "ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)").as("promo_revenue"),
          expr(s"CAST(sum($Revenue) AS DOUBLE)").as("total_revenue"))
    },
      """SELECT
        |  CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
        |    ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS promo_revenue,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1995-09-01'
        |  AND l_shipdate < TIMESTAMP '1995-10-01'""".stripMargin.replace("\n", " ")),

    // Q18-shape large-volume orders: the HAVING-on-fact-agg pattern —
    // per-order quantity sums partial-aggregate map-side, the >200
    // filter prunes before the (broadcast) customer enrich, so the join
    // sees only the big-order survivors.
    Gate("q18_large_orders", (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)")
          .as("sum_qty"))
        .filter(col("sum_qty") > 200.0)
      val o = Tables.orders(s, dir)
      big.join(o, big("l_orderkey") === o("o_orderkey"))
        .join(broadcast(Tables.customer(s, dir)),
          o("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("orderdate_us"),
          col("o_totalprice"), col("sum_qty"))
    },
      """WITH big AS (SELECT l_orderkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 200.0)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  epoch_us(o.o_orderdate) AS orderdate_us, o.o_totalprice, big.sum_qty
        |FROM big JOIN orders o ON big.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey"""
        .stripMargin.replace("\n", " ")),

    Gate("q10_returned_items", (s, dir) => {
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val o = Tables.orders(s, dir)
        .filter(expr("o_orderdate >= timestamp'1995-01-01'") &&
          expr("o_orderdate < timestamp'1996-01-01'"))
      val l = Tables.lineitem(s, dir).filter(col("l_returnflag") === "R")
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(expr(s"CAST(sum($Revenue) AS DOUBLE)").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    },
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin.replace("\n", " ")),

    // Broadcast dimension-enrich: part is tiny at every SF relative to
    // lineitem; the explicit broadcast() keeps the fact table unshuffled.
    Gate("join_part_brand_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(
          count(lit(1)).as("n_lines"),
          expr("CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)").as("sum_qty"),
          expr(s"CAST(sum($Revenue) AS DOUBLE)").as("revenue")),
      """SELECT p_brand, count(*) AS n_lines,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin.replace("\n", " ")),

    // Window top-k: revenue rank of suppliers within nation. One shuffle
    // for the supplier agg, one tiny window over the 10-row result.
    Gate("window_topk_suppliers", (s, dir) => {
      val perSupp = Tables.lineitem(s, dir)
        .groupBy("l_suppkey")
        .agg(expr(s"CAST(sum($Revenue) AS DOUBLE)").as("revenue"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("revenue").desc, col("s_suppkey"))
      perSupp.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("s_nationkey", "s_suppkey", "s_name", "revenue", "rank")
    },
      """SELECT s_nationkey, s_suppkey, s_name, revenue, rank FROM (
        |  SELECT s_nationkey, s_suppkey, s_name, revenue,
        |    row_number() OVER (PARTITION BY s_nationkey ORDER BY revenue DESC, s_suppkey) AS rank
        |  FROM (
        |    SELECT s_nationkey, s_suppkey, s_name,
        |      CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
        |    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    GROUP BY s_nationkey, s_suppkey, s_name))
        |WHERE rank <= 3""".stripMargin.replace("\n", " ")),

    // Rollup: hierarchical totals (status → priority → grand total).
    Gate("rollup_orders", (s, dir) =>
      Tables.orders(s, dir)
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          expr("CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)").as("sum_price")),
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin.replace("\n", " ")),

    // Explicit GROUPING SETS (the rollup/cube generalization): the
    // (flag, status) detail grid, per-flag subtotals, and the grand
    // total in ONE pass — grouping_id() disambiguates NULL-as-subtotal
    // from NULL-as-value. Same single-shuffle partial-agg shape as
    // rollup; DuckDB's GROUPING() shares Spark's bit order (first
    // grouping column = MSB).
    Gate("grouping_sets_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_lines"),
          expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)")
            .as("sum_price")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |  count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"""
        .stripMargin.replace("\n", " ")),

    // Exact percentiles (reference A7 latency histogram shape):
    // P50/P95/P99 of event value per type. Spark `percentile` and DuckDB
    // `quantile_cont` both do linear interpolation on the sorted set.
    Gate("percentile_event_value", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          expr("round(percentile(value, 0.5), 6)").as("p50"),
          expr("round(percentile(value, 0.95), 6)").as("p95"),
          expr("round(percentile(value, 0.99), 6)").as("p99")),
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type""".stripMargin.replace("\n", " ")),

    // min_by/max_by (reference U2 oldest-event eviction / O4 latest-job).
    Gate("minmax_by_event", (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(
          max_by(col("event_id"), struct(col("ts_us"), col("event_id"))).as("latest_event_id"),
          min_by(col("event_id"), struct(col("ts_us"), col("event_id"))).as("oldest_event_id"),
          count(lit(1)).as("n")),
      """WITH r AS (SELECT event_type, event_id,
        |  row_number() OVER (PARTITION BY event_type ORDER BY epoch_us(ts) DESC, event_id DESC) AS rmax,
        |  row_number() OVER (PARTITION BY event_type ORDER BY epoch_us(ts) ASC, event_id ASC) AS rmin
        |  FROM events)
        |SELECT event_type,
        |  max(CASE WHEN rmax = 1 THEN event_id END) AS latest_event_id,
        |  max(CASE WHEN rmin = 1 THEN event_id END) AS oldest_event_id,
        |  count(*) AS n
        |FROM r GROUP BY event_type""".stripMargin.replace("\n", " ")),

    /* Scale notes, per query:
     *  - q4: the semi join shuffles both sides once on l_orderkey; the
     *    correlated date predicate rides the join condition (evaluated
     *    during the probe, never materializing the pair). No broadcast —
     *    both sides are fact-sized at scale.
     *  - q17: the brand filter broadcasts into the fact scan, and the
     *    per-part threshold aggregate (one row per qualifying part —
     *    dim-sized) broadcasts back over the same filtered fact, so
     *    lineitem is scanned once, shuffled once (partial agg), joined
     *    without an exchange.
     *  - q21: three passes over lineitem, but all three exchange on the
     *    SAME key (l_orderkey), so the semi and anti probes reuse the
     *    exchange/sort of the base side; top-20 is TakeOrderedAndProject
     *    (per-task heap, never a full sort).
     *  - q22: the global (Σ, n) scalar is a 1-row broadcast nested-loop
     *    (the only sound plan for an uncorrelated scalar); the anti join
     *    shuffles on custkey. Nothing driver-side.
     *  - q8: every dimension (part/customer/nation×2/region/supplier)
     *    broadcasts; the facts shuffle once on the order key; both sums
     *    ride one aggregate.
     *  - q12: equi-key + non-equi lateness predicate on one fact⋈fact
     *    join; counts partial-aggregate map-side.
     *  - q15: the revenue view aggregates once (partial sums), its 1-row
     *    max broadcasts back over the same ALREADY-AGGREGATED view (one
     *    row per supplier) — the fact is scanned once.
     *  - q19: the brand/size conjunct of each branch prunes the part
     *    build side before the broadcast; the quantity residual evaluates
     *    on joined rows only.
     */
    // Q4-shape priority check: orders in a 1-year window with at least
    // one lineitem shipped >60 days after the order date (the fixture's
    // stand-in for commitdate<receiptdate), counted per priority.
    Gate("q4_order_priority", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(expr("o_orderdate >= timestamp'1996-01-01'") &&
          expr("o_orderdate < timestamp'1997-01-01'"))
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      o.join(l,
          o("o_orderkey") === l("l_orderkey") &&
            l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    },
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority""".stripMargin.replace("\n", " ")),

    // Q17-shape small-quantity revenue: weekly revenue lost to orders
    // below 20% of the part's average quantity, one brand. The
    // correlated `avg(l_quantity)` decorrelates to a per-part aggregate
    // over the SAME brand-filtered fact slice (the correlation key is
    // l_partkey, so pre-filtering by part is semantics-preserving).
    Gate("q17_small_qty_revenue", (s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#23")
        .select("p_partkey")
      val lp = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
      // l_quantity is integer-valued 1..50 → double sums are exact at any
      // partial-agg order; 0.2*avg is one IEEE multiply in both engines.
      val th = lp.groupBy("l_partkey")
        .agg((avg("l_quantity") * 0.2).as("qty_threshold"))
        .withColumnRenamed("l_partkey", "t_partkey")
      lp.join(broadcast(th), col("l_partkey") === col("t_partkey"))
        .filter(col("l_quantity") < col("qty_threshold"))
        .agg((expr("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)") / 7.0)
          .as("avg_yearly"))
    },
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT avg(l_quantity) * 0.2 FROM lineitem l2
        |    WHERE l2.l_partkey = part.p_partkey)""".stripMargin.replace("\n", " ")),

    // Q21-shape waiting suppliers: suppliers that returned ('R') a line
    // in a finalized multi-supplier order where NO other supplier
    // returned one — EXISTS(other supplier) + NOT EXISTS(other returner)
    // on the same order key, then count per supplier, top 20.
    Gate("q21_waiting_suppliers", (s, dir) => {
      val l1 = Tables.lineitem(s, dir)
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_suppkey"))
      val oF = Tables.orders(s, dir)
        .filter(col("o_orderstatus") === "F")
        .select("o_orderkey")
      // The EXISTS / NOT EXISTS pair reduced to ONE per-order min/max
      // aggregate (guide §2.3 "aggregate before you shuffle"; round-19
      // BYTES_AUDIT flagged the semi/anti shape 587× superlinear at
      // sf0.1→sf1 — two more full-lineitem shuffle sides). For an
      // R-flagged probe row of supplier s in order o, s is a member of
      // both supplier sets, so
      //   EXISTS l2 (order o, supp <> s)        ⟺ min(supp) <> max(supp)
      //   NOT EXISTS l3 (R, order o, supp <> s) ⟺ min(R-supp) = max(R-supp)
      // — the min/max partial-combine map-side (no countDistinct Expand),
      // the exchange carries ≤1 five-long row per (order × map task), and
      // the probe side attaches by one semi join. Row-identical: the
      // conditions hold for EVERY s in the respective set exactly when
      // the set has (≥2) / (=1) members.
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("g_orderkey"))
        .agg(min(col("l_suppkey")).as("_smin"), max(col("l_suppkey")).as("_smax"),
          min(when(col("l_returnflag") === "R", col("l_suppkey"))).as("_rmin"),
          max(when(col("l_returnflag") === "R", col("l_suppkey"))).as("_rmax"))
        .filter(col("_smin") =!= col("_smax") && col("_rmin") === col("_rmax"))
        .select("g_orderkey")
      l1.join(oF, l1("l_orderkey") === oF("o_orderkey"), "left_semi")
        .join(g, col("l_orderkey") === col("g_orderkey"), "left_semi")
        .groupBy("l_suppkey")
        .agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables.supplier(s, dir)), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    },
      """SELECT s_name, count(*) AS numwait
        |FROM lineitem l1
        |JOIN orders ON o_orderkey = l1.l_orderkey
        |JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |      AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin.replace("\n", " ")),

    // Q8-shape national market share: of the revenue a region's
    // customers spent on one part type in 1995-1996, the fraction
    // supplied by one nation, per year — the CASE-inside-aggregate
    // ratio over a snowflake join. Both sums are exact DECIMAL; the
    // final share is ONE double division, identical in both engines.
    Gate("q8_market_share", (s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_type") === "STANDARD")
        .select("p_partkey")
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .filter(expr("o_orderdate >= timestamp'1995-01-01'") &&
          expr("o_orderdate < timestamp'1997-01-01'"))
      val c = Tables.customer(s, dir)
      val nCust = Tables.nation(s, dir)
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val nSupp = Tables.nation(s, dir)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val su = Tables.supplier(s, dir)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .join(o, l("l_orderkey") === o("o_orderkey"))
        .join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(nCust), c("c_nationkey") === col("cn_key"))
        .join(broadcast(r), col("n_regionkey") === r("r_regionkey"))
        .join(broadcast(su), l("l_suppkey") === su("s_suppkey"))
        .join(broadcast(nSupp), su("s_nationkey") === col("sn_key"))
        .groupBy(year(col("o_orderdate").cast("timestamp")).as("o_year"))
        .agg(
          expr(s"CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN $Revenue " +
            "ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)").as("nation_volume"),
          expr(s"CAST(sum($Revenue) AS DOUBLE)").as("total_volume"))
        .withColumn("mkt_share", col("nation_volume") / col("total_volume"))
    },
      """SELECT year(o_orderdate) AS o_year,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
        |    ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE) AS nation_volume,
        |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS total_volume,
        |  CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
        |    ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |WHERE p_type = 'STANDARD' AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1995-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY year(o_orderdate)""".stripMargin.replace("\n", " ")),

    // Q12-shape late-shipment priority classes: lines shipped >90 days
    // after their order, bucketed into high/low priority counts — the
    // conditional two-way classification aggregate (the fixture lacks
    // l_shipmode/receiptdate; lateness vs o_orderdate is the stand-in
    // predicate, same join + CASE-count shape).
    Gate("q12_late_lines", (s, dir) => {
      val l = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
      val o = Tables.orders(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(year(col("l_shipdate").cast("timestamp")).as("l_year"))
        .agg(
          sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    },
      """SELECT year(l_shipdate) AS l_year,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAY
        |GROUP BY year(l_shipdate)""".stripMargin.replace("\n", " ")),

    // Q15-shape top supplier: per-supplier quarter revenue, keep the
    // supplier(s) achieving the GLOBAL maximum — the scalar-subquery-
    // over-a-derived-view shape. Revenue is an exact DECIMAL sum cast
    // to DOUBLE, so the equality join against max() is exact; the
    // 1-row max broadcasts under the per-supplier aggregate.
    Gate("q15_top_supplier", (s, dir) => {
      // the view feeds both the max and the equality probe — materialize
      // once or the fact is scanned twice (Materialize discipline)
      val rev = graft.util.Materialize.stable(
        Tables.lineitem(s, dir)
          .filter(expr("l_shipdate >= timestamp'1996-01-01'") &&
            expr("l_shipdate < timestamp'1996-04-01'"))
          .groupBy("l_suppkey")
          .agg(expr(s"CAST(sum($Revenue) AS DOUBLE)").as("total_revenue")))
      val top = rev.agg(max("total_revenue").as("max_revenue"))
      rev.crossJoin(broadcast(top))
        .filter(col("total_revenue") === col("max_revenue"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    },
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""
        .stripMargin.replace("\n", " ")),

    // Q19-shape disjunctive-predicate join: three OR'd brand/size/
    // quantity branches — the classic planner test that the OR of
    // conjunctions still prunes (the part side filters to the union of
    // brands BEFORE the join; the residual disjunction evaluates on the
    // joined row).
    Gate("q19_disjunctive_revenue", (s, dir) => {
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      val branch1 = col("p_brand") === "Brand#12" &&
        col("p_size").between(1, 5) && col("l_quantity").between(1, 11)
      val branch2 = col("p_brand") === "Brand#23" &&
        col("p_size").between(1, 10) && col("l_quantity").between(10, 20)
      val branch3 = col("p_brand") === "Brand#34" &&
        col("p_size").between(1, 15) && col("l_quantity").between(20, 30)
      l.join(broadcast(p), l("l_partkey") === p("p_partkey") &&
          (branch1 || branch2 || branch3))
        .agg(expr(s"CAST(sum($Revenue) AS DOUBLE)").as("revenue"))
    },
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin.replace("\n", " ")),

    // Q22-shape dormant rich customers: positive-balance customers above
    // the global average balance with no URGENT order, per nation. The
    // global scalar stays a (Σ, n) pair and the threshold test is the
    // exact DECIMAL cross-multiplication acctbal·n > Σ — no division, no
    // float aggregation order to disagree on.
    Gate("q22_dormant_customers", (s, dir) => {
      val pos = Tables.customer(s, dir).filter(col("c_acctbal") > 0)
      val glob = pos.agg(
        expr("sum(CAST(c_acctbal AS DECIMAL(18,2)))").as("tot"),
        count(lit(1)).as("cnt"))
      val urgent = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_custkey")
      pos.crossJoin(broadcast(glob))
        .filter(expr("CAST(c_acctbal AS DECIMAL(18,2)) * cnt > tot"))
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("numcust"),
          expr("CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)").as("totacctbal"))
    },
      """WITH pos AS (SELECT * FROM customer WHERE c_acctbal > 0),
        |gtot AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS tot,
        |    count(*) AS cnt FROM pos)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM pos, gtot
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = pos.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey""".stripMargin.replace("\n", " ")),

    // Q2 minimum-cost supplier: the correlated MIN subquery decorrelated
    // to a per-part min over the region-restricted partsupp, joined back
    // on (partkey, cost). Dims broadcast; the only fact-sized exchange
    // is the partsupp groupBy.
    Gate("q2_min_cost_supplier", (s, dir) => {
      val ps = partsupp(s, dir)
      val sup = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir).filter(col("r_name") === Q2Region)
      val eligible = ps
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
      val minCost = eligible.groupBy(col("ps_partkey").as("m_partkey"))
        .agg(min("ps_supplycost").as("min_cost"))
      val p = Tables.part(s, dir).filter(col("p_type") === Q2Type)
      eligible
        .join(minCost, col("ps_partkey") === col("m_partkey") &&
          col("ps_supplycost") === col("min_cost"))
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand",
          "ps_supplycost")
    },
      s"""WITH $psCteDuck,
         |el AS (SELECT ps.*, s.s_acctbal, s.s_name, n.n_name
         |  FROM ps JOIN supplier s ON ps.ps_suppkey = s.s_suppkey
         |  JOIN nation n ON s.s_nationkey = n.n_nationkey
         |  JOIN region r ON n.n_regionkey = r.r_regionkey
         |  WHERE r.r_name = '$Q2Region'),
         |mc AS (SELECT ps_partkey, min(ps_supplycost) AS min_cost
         |  FROM el GROUP BY ps_partkey)
         |SELECT el.s_acctbal, el.s_name, el.n_name, p.p_partkey, p.p_brand,
         |  el.ps_supplycost
         |FROM el JOIN mc ON el.ps_partkey = mc.ps_partkey
         |  AND el.ps_supplycost = mc.min_cost
         |JOIN part p ON el.ps_partkey = p.p_partkey
         |WHERE p.p_type = '$Q2Type'""".stripMargin.replace("\n", " ")),

    // Q9 product-type profit: revenue (exact DECIMAL) minus integer
    // supply cost, by supplier nation × order year.
    Gate("q9_product_profit", (s, dir) => {
      val p = Tables.part(s, dir)
        .filter(col("p_name").like(s"%$Q9NameSub%")).select("p_partkey")
      val ps = partsupp(s, dir)
      val l = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(ps, col("l_partkey") === col("ps_partkey") &&
          col("l_suppkey") === col("ps_suppkey"))
      val o = Tables.orders(s, dir).select(col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.supplier(s, dir)),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("o_year"))
        .agg(expr(
          """CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))
            |  - CAST(ps_supplycost * CAST(l_quantity AS BIGINT) AS DECIMAL(38,6))) AS DOUBLE)"""
            .stripMargin.replace("\n", " ")).as("sum_profit"))
    },
      s"""WITH $psCteDuck
         |SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
         |  CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))
         |    - CAST(ps.ps_supplycost * CAST(l.l_quantity AS BIGINT) AS DECIMAL(38,6))) AS DOUBLE)
         |    AS sum_profit
         |FROM lineitem l
         |JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%$Q9NameSub%'
         |JOIN ps ON l.l_partkey = ps.ps_partkey AND l.l_suppkey = ps.ps_suppkey
         |JOIN orders o ON l.l_orderkey = o.o_orderkey
         |JOIN supplier s ON l.l_suppkey = s.s_suppkey
         |JOIN nation n ON s.s_nationkey = n.n_nationkey
         |GROUP BY 1, 2""".stripMargin.replace("\n", " ")),

    // Q11 important stock: per-part stock value in one nation vs a
    // global-fraction threshold — all-integer value arithmetic, the
    // scalar total re-attached as a 1-row broadcast.
    Gate("q11_important_stock", (s, dir) => {
      val sup = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === Q11Nation)),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val ps = partsupp(s, dir)
        .join(broadcast(sup), col("ps_suppkey") === col("s_suppkey"))
        .withColumn("value", col("ps_supplycost") * col("ps_availqty"))
      val perPart = ps.groupBy("ps_partkey").agg(sum("value").as("part_value"))
      val total = perPart.agg(sum("part_value").as("total_value"))
      perPart.crossJoin(broadcast(total))
        .filter(col("part_value") * Q11FracDen > col("total_value"))
        .select("ps_partkey", "part_value")
    },
      s"""WITH $psCteDuck,
         |sup AS (SELECT s_suppkey FROM supplier s JOIN nation n
         |  ON s.s_nationkey = n.n_nationkey WHERE n.n_name = '$Q11Nation'),
         |pp AS (SELECT ps_partkey,
         |    CAST(sum(ps_supplycost * ps_availqty) AS BIGINT) AS part_value
         |  FROM ps JOIN sup ON ps.ps_suppkey = sup.s_suppkey
         |  GROUP BY ps_partkey),
         |t AS (SELECT CAST(sum(part_value) AS BIGINT) AS total_value FROM pp)
         |SELECT ps_partkey, part_value FROM pp, t
         |WHERE part_value * $Q11FracDen > total_value"""
        .stripMargin.replace("\n", " ")),

    // Q16 supplier count by part attributes: the NOT-IN exclusion
    // decorrelates to a LeftAnti against the (data-dependent)
    // negative-balance supplier set; count(DISTINCT) per attribute
    // triple.
    Gate("q16_supplier_parts", (s, dir) => {
      val bad = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val p = Tables.part(s, dir)
        .filter(col("p_brand") =!= Q16Brand && col("p_size") <= Q16MaxSize)
        .select("p_partkey", "p_brand", "p_type", "p_size")
      partsupp(s, dir)
        .join(broadcast(bad), col("ps_suppkey") === col("s_suppkey"), "left_anti")
        .join(broadcast(p), col("ps_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct("ps_suppkey").as("supplier_cnt"))
    },
      s"""WITH $psCteDuck
         |SELECT p.p_brand, p.p_type, p.p_size,
         |  count(DISTINCT ps.ps_suppkey) AS supplier_cnt
         |FROM ps JOIN part p ON ps.ps_partkey = p.p_partkey
         |WHERE p.p_brand <> '$Q16Brand' AND p.p_size <= $Q16MaxSize
         |  AND ps.ps_suppkey NOT IN
         |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
         |GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")),

    // Q20 excess-stock suppliers: availqty > ½ of the year's shipped
    // quantity for that (part, supplier) — correlated scalar decorrelated
    // to a grouped qty table, integer 2·avail > qty compare, then a
    // semi-join up to the nation-filtered supplier list.
    Gate("q20_excess_stock_suppliers", (s, dir) => {
      val qty = Tables.lineitem(s, dir)
        .filter(expr(s"l_shipdate >= timestamp'$Q20Year-01-01'") &&
          expr(s"l_shipdate < timestamp'${Q20Year + 1}-01-01'"))
        .groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity").cast("long")).as("q"))
      val redParts = Tables.part(s, dir)
        .filter(col("p_name").like(s"$Q20NamePrefix%")).select("p_partkey")
      val sel = partsupp(s, dir)
        .join(broadcast(redParts), col("ps_partkey") === col("p_partkey"))
        .join(qty, col("ps_partkey") === col("l_partkey") &&
          col("ps_suppkey") === col("l_suppkey"))
        .filter(col("ps_availqty") * 2 > col("q"))
        .select("ps_suppkey").distinct()
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === Q20Nation)),
          col("s_nationkey") === col("n_nationkey"))
        .join(sel, col("s_suppkey") === col("ps_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
    },
      s"""WITH $psCteDuck,
         |qty AS (SELECT l_partkey, l_suppkey,
         |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS q
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '$Q20Year-01-01'
         |    AND l_shipdate < TIMESTAMP '${Q20Year + 1}-01-01'
         |  GROUP BY 1, 2),
         |sel AS (SELECT DISTINCT ps.ps_suppkey
         |  FROM ps JOIN part p ON ps.ps_partkey = p.p_partkey
         |    AND p.p_name LIKE '$Q20NamePrefix%'
         |  JOIN qty ON ps.ps_partkey = qty.l_partkey
         |    AND ps.ps_suppkey = qty.l_suppkey
         |  WHERE ps.ps_availqty * 2 > qty.q)
         |SELECT s.s_suppkey, s.s_name
         |FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
         |WHERE n.n_name = '$Q20Nation'
         |  AND s.s_suppkey IN (SELECT ps_suppkey FROM sel)"""
        .stripMargin.replace("\n", " "))
  )
}
