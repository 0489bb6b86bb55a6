package graft

import org.apache.spark.sql.DataFrame

/** Semantic check for the hand-decorrelated TPC-H family: each
  * DataFrame plan must return exactly what Spark's OWN subquery
  * decorrelation produces for the equivalent correlated SQL — an
  * engine-internal oracle independent of the driver's DuckDB gate
  * (same engine, different planning path).
  */
class TpchDecorrelationSpec extends SparkSpecBase {

  private def registerViews(): Unit =
    for (t <- Seq("orders", "lineitem", "part", "supplier", "customer",
        "nation", "region"))
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)

  private def assertSameRows(df: DataFrame, sql: String, sortCols: Seq[String]): Unit = {
    registerViews()
    val got = df.orderBy(sortCols.head, sortCols.tail: _*).collect().toSeq
    val want = spark.sql(sql).orderBy(sortCols.head, sortCols.tail: _*).collect().toSeq
    assert(want.nonEmpty, "degenerate oracle: correlated SQL returned no rows")
    assert(got == want, s"decorrelated plan diverges from Spark SQL:\n got=$got\nwant=$want")
  }

  test("q4: LeftSemi equals Spark's EXISTS decorrelation") {
    assertSameRows(
      SparkEntry.queries("q4_order_priority")(spark, sfDir),
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE o_orderdate >= timestamp'1996-01-01'
        |  AND o_orderdate < timestamp'1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |    WHERE l.l_orderkey = o.o_orderkey
        |      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
        |GROUP BY o_orderpriority""".stripMargin,
      Seq("o_orderpriority"))
  }

  test("q17: per-part aggregate equals Spark's correlated scalar subquery") {
    assertSameRows(
      SparkEntry.queries("q17_small_qty_revenue")(spark, sfDir),
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0
        |    AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        |  AND l_quantity < (SELECT avg(l_quantity) * 0.2 FROM lineitem l2
        |    WHERE l2.l_partkey = part.p_partkey)""".stripMargin,
      Seq("avg_yearly"))
  }

  test("q21: semi+anti chain equals Spark's nested EXISTS/NOT EXISTS") {
    assertSameRows(
      SparkEntry.queries("q21_waiting_suppliers")(spark, sfDir),
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
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,
      Seq("s_name"))
  }

  test("q8: market-share ratio equals Spark SQL's CASE-in-aggregate form") {
    assertSameRows(
      SparkEntry.queries("q8_market_share")(spark, sfDir),
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
        |  AND o_orderdate >= timestamp'1995-01-01'
        |  AND o_orderdate < timestamp'1997-01-01'
        |GROUP BY year(o_orderdate)""".stripMargin,
      Seq("o_year"))
  }

  test("q12: late-line classification equals Spark SQL") {
    assertSameRows(
      SparkEntry.queries("q12_late_lines")(spark, sfDir),
      """SELECT year(l_shipdate) AS l_year,
        |  sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |    THEN 1L ELSE 0L END) AS high_line_count,
        |  sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |    THEN 1L ELSE 0L END) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE l_shipdate > o_orderdate + INTERVAL 90 DAYS
        |GROUP BY year(l_shipdate)""".stripMargin,
      Seq("l_year"))
  }

  test("q15: materialized view + broadcast max equals Spark's scalar subquery") {
    assertSameRows(
      SparkEntry.queries("q15_top_supplier")(spark, sfDir),
      """WITH rev AS (SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= timestamp'1996-01-01'
        |    AND l_shipdate < timestamp'1996-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""".stripMargin,
      Seq("s_suppkey"))
  }

  test("q19: disjunctive join predicate equals Spark SQL's WHERE form") {
    assertSameRows(
      SparkEntry.queries("q19_disjunctive_revenue")(spark, sfDir),
      """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
        |    AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
        |    AND l_quantity BETWEEN 1 AND 11)
        |  OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
        |    AND l_quantity BETWEEN 10 AND 20)
        |  OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
      Seq("revenue"))
  }

  test("q22: anti join + scalar broadcast equals Spark's NOT EXISTS + uncorrelated scalar") {
    assertSameRows(
      SparkEntry.queries("q22_dormant_customers")(spark, sfDir),
      """WITH pos AS (SELECT * FROM customer WHERE c_acctbal > 0),
        |glob AS (SELECT sum(CAST(c_acctbal AS DECIMAL(18,2))) AS tot,
        |    count(*) AS cnt FROM pos)
        |SELECT c_nationkey, count(*) AS numcust,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
        |FROM pos, glob
        |WHERE CAST(c_acctbal AS DECIMAL(18,2)) * cnt > tot
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |    WHERE o.o_custkey = pos.c_custkey
        |      AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey""".stripMargin,
      Seq("c_nationkey"))
  }

  // --- partsupp family: the derived table registers as a view so Spark
  // SQL can plan the textbook correlated forms over it ---

  private def assertSameRowsAt(dir: String, df: DataFrame, sql: String,
      sortCols: Seq[String]): Unit = {
    for (t <- Seq("orders", "lineitem", "part", "supplier", "customer",
        "nation", "region"))
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    graft.queries.TpchQueries.partsupp(spark, dir)
      .createOrReplaceTempView("partsupp")
    val got = df.orderBy(sortCols.head, sortCols.tail: _*).collect().toSeq
    val want = spark.sql(sql).orderBy(sortCols.head, sortCols.tail: _*).collect().toSeq
    assert(want.nonEmpty, "degenerate oracle: correlated SQL returned no rows")
    assert(got == want, s"decorrelated plan diverges from Spark SQL:\n got=$got\nwant=$want")
  }

  test("q2: per-part min join equals Spark's correlated MIN subquery") {
    assertSameRowsAt(sfDir,
      SparkEntry.queries("q2_min_cost_supplier")(spark, sfDir),
      """SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, ps_supplycost
        |FROM partsupp ps, supplier s, nation n, region r, part p
        |WHERE ps.ps_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
        |  AND n.n_regionkey = r.r_regionkey AND r.r_name = 'EUROPE'
        |  AND ps.ps_partkey = p.p_partkey AND p.p_type = 'LARGE'
        |  AND ps.ps_supplycost = (
        |    SELECT min(ps2.ps_supplycost)
        |    FROM partsupp ps2, supplier s2, nation n2, region r2
        |    WHERE ps2.ps_partkey = ps.ps_partkey
        |      AND ps2.ps_suppkey = s2.s_suppkey
        |      AND s2.s_nationkey = n2.n_nationkey
        |      AND n2.n_regionkey = r2.r_regionkey
        |      AND r2.r_name = 'EUROPE')""".stripMargin,
      Seq("p_partkey", "s_name"))
  }

  test("q16: LeftAnti equals Spark's NOT IN decorrelation") {
    assertSameRowsAt(sfDir,
      SparkEntry.queries("q16_supplier_parts")(spark, sfDir),
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT ps_suppkey) AS supplier_cnt
        |FROM partsupp JOIN part ON ps_partkey = p_partkey
        |WHERE p_brand <> 'Brand#4' AND p_size <= 8
        |  AND ps_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_type, p_size""".stripMargin,
      Seq("p_brand", "p_type", "p_size"))
  }

  test("q20: semi chain equals Spark's nested IN + correlated scalar (sf0.01)") {
    // sf0.01: the NATION_9 supplier set is non-empty there
    val dir = "/root/testdata/sf0.01"
    assertSameRowsAt(dir,
      SparkEntry.queries("q20_excess_stock_suppliers")(spark, dir),
      """SELECT s_suppkey, s_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name = 'NATION_9'
        |  AND s_suppkey IN (
        |    SELECT ps_suppkey FROM partsupp
        |    WHERE ps_partkey IN
        |      (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
        |      AND ps_availqty > (
        |        SELECT 0.5 * sum(l_quantity) FROM lineitem
        |        WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        |          AND l_shipdate >= timestamp'1997-01-01'
        |          AND l_shipdate < timestamp'1998-01-01'))""".stripMargin,
      Seq("s_suppkey"))
  }
}
