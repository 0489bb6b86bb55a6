package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Dedup, Privacy}

/** Data-governance gates: the release-audit artifacts a training-data
  * pipeline publishes alongside the corpus — re-identification risk
  * (k-anonymity / l-diversity over the replicated user tables, the
  * structured-column tier next to [[graft.llm.PiiScrub]]'s free-text
  * tier) and dedup-loss attribution (which feeds pay for duplication).
  * Same discipline as every other tranche: integer-exact statistics,
  * the identical derivation rendered into the DuckDB oracle.
  */
object GovernanceQueries {

  private val K = 5L    // k-anonymity target
  private val LMin = 2L // l-diversity floor

  // t-closeness: balance in CENTS over the TPC-H acctbal domain
  // [-999.99, 9999.99], 10 declared buckets
  private val TClo = -100000L
  private val TChi = 1000000L
  private val TCbuckets = 10

  /** Balance band = (floor(balance) + 1000) div 1000 — shifted
    * NON-NEGATIVE before the integer division (acctbal ≥ −1000), so
    * Spark's `div` and DuckDB's `//` (which disagree on negatives)
    * never see a negative operand. Spark's floor(double) returns
    * BIGINT; DuckDB's returns DOUBLE, hence the CAST on that side —
    * integral doubles cast exactly.
    */
  private def bandCol = expr("(floor(c_acctbal) + 1000) div 1000")
  private val bandSqlDuck = "(CAST(floor(c_acctbal) AS BIGINT) + 1000) // 1000"
  private def dollarsCol = expr("floor(c_acctbal)")
  private val dollarsSqlDuck = "CAST(floor(c_acctbal) AS BIGINT)"

  /** The ladder: each level's classes are unions of the previous
    * level's (band is a function of dollars; l2 drops columns), so
    * at_risk_rows is non-increasing down the ladder by construction.
    */
  private def ladderLevels = Seq(
    "l0_exact" -> Seq("nation" -> col("c_nationkey").cast("long"),
      "segment" -> col("c_mktsegment"), "dollars" -> dollarsCol),
    "l1_band" -> Seq("nation" -> col("c_nationkey").cast("long"),
      "segment" -> col("c_mktsegment"), "band" -> bandCol),
    "l2_segment" -> Seq("segment" -> col("c_mktsegment")))

  /** Spliced duplicate text: every doc_id ≡ 3 (mod 11) collapses onto a
    * small per-source set of synthetic texts (17 classes per source),
    * so exact dedup has real losers to attribute; all other docs keep
    * their fixture text. Identical CASE rendered into the oracle.
    */
  private def splicedText = when(pmod(col("doc_id"), lit(11L)) === 3,
    concat(lit("dup "), col("source"), lit(" "),
      pmod(col("doc_id"), lit(17L)).cast("string"))).otherwise(col("text"))
  private val splicedTextSqlDuck =
    "CASE WHEN doc_id % 11 = 3 THEN 'dup ' || source || ' ' || " +
      "CAST(doc_id % 17 AS VARCHAR) ELSE text END"

  def gates: Seq[Gate] = Seq(
    // k-anonymity equivalence classes over the replicated customer
    // table: QI = (nation, segment, balance band), sensitive = the
    // exact balance. One partial-agg shuffle on the QI tuple; the class
    // table is bounded by distinct QI tuples, not rows.
    Gate("privacy_k_anonymity", (s, dir) =>
      Privacy.kAnonymityClasses(Tables.customer(s, dir),
        Seq("nation" -> col("c_nationkey").cast("long"),
          "segment" -> col("c_mktsegment"), "band" -> bandCol),
        col("c_acctbal"), k = K),
      s"""SELECT CAST(c_nationkey AS BIGINT) AS nation,
         |  c_mktsegment AS segment, $bandSqlDuck AS band,
         |  count(*) AS class_size,
         |  count(DISTINCT c_acctbal) AS l_distinct,
         |  CAST(CASE WHEN count(*) < $K THEN 1 ELSE 0 END AS BIGINT) AS at_risk
         |FROM customer GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")),

    // The generalization ladder: risk summary at three QI granularities
    // — the curve an auditor reads to pick the cheapest generalization
    // that reaches the k target. One shuffle per level, 1-row summaries.
    Gate("privacy_generalization_ladder", (s, dir) =>
      Privacy.generalizationLadder(Tables.customer(s, dir), ladderLevels,
        col("c_acctbal"), k = K, lMin = LMin),
      {
        def level(name: String, quasi: String) =
          s"""SELECT '$name' AS level, CAST(sum(class_size) AS BIGINT) AS total_rows,
             |  count(*) AS n_classes, min(class_size) AS min_class_size,
             |  CAST(sum(CASE WHEN class_size < $K THEN class_size ELSE 0 END)
             |    AS BIGINT) AS at_risk_rows,
             |  CAST(sum(CASE WHEN class_size < $K THEN 1 ELSE 0 END)
             |    AS BIGINT) AS at_risk_classes,
             |  CAST(sum(CASE WHEN l_distinct < $LMin THEN 1 ELSE 0 END)
             |    AS BIGINT) AS low_l_classes
             |FROM (SELECT count(*) AS class_size,
             |    count(DISTINCT c_acctbal) AS l_distinct
             |  FROM customer GROUP BY $quasi) c""".stripMargin
        Seq(level("l0_exact", s"c_nationkey, c_mktsegment, $dollarsSqlDuck"),
          level("l1_band", s"c_nationkey, c_mktsegment, $bandSqlDuck"),
          level("l2_segment", "c_mktsegment"))
          .mkString(" UNION ALL ").replace("\n", " ")
      }),

    // Dedup-loss attribution: after exact dedup (canonical = min id per
    // text hash), docs lost per source and the per-mille share — the
    // mirror-site/syndicated-feed report. Dup classes spliced in-query.
    Gate("dedup_loss_by_source", (s, dir) =>
      Dedup.exactDupLossBySource(
        Tables.documents(s, dir).withColumn("text", splicedText),
        "doc_id", "text", "source"),
      s"""WITH d AS (SELECT doc_id, source,
         |    ($splicedTextSqlDuck) AS text FROM documents),
         |h AS (SELECT doc_id, source, md5(text) AS th FROM d),
         |r AS (SELECT th, min(doc_id) AS cid FROM h GROUP BY th)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN h.doc_id <> r.cid THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_lost,
         |  CAST(sum(CASE WHEN h.doc_id <> r.cid THEN 1 ELSE 0 END)
         |    AS BIGINT) * 1000 // count(*) AS lost_permille
         |FROM h JOIN r ON h.th = r.th
         |GROUP BY source""".stripMargin.replace("\n", " ")),

    // t-closeness: per (nation, segment) class, the integer EMD between
    // the class's balance-cent distribution and the global one over 10
    // declared buckets — the skewness-attack release gate k-anonymity
    // and l-diversity cannot see. One corpus pass keyed by (QI, bucket);
    // everything after runs on class×bucket scaffolds and the broadcast
    // global CDF.
    Gate("privacy_t_closeness", (s, dir) =>
      Privacy.tCloseness(Tables.customer(s, dir),
        Seq("nation" -> col("c_nationkey").cast("long"),
          "segment" -> col("c_mktsegment")),
        round(col("c_acctbal") * 100, 0),
        lo = TClo, hi = TChi, buckets = TCbuckets),
      tClosenessSqlDuck),

    // The privacy panel's register identity in-plan: the per-(QI,
    // bucket) counts are the EMD's sufficient statistic and SUM-MERGE —
    // two customer-parity legs fold their registers, the merged table
    // rides the SAME tClosenessFromCounts walk. Oracle shared verbatim
    // with privacy_t_closeness.
    Gate("privacy_t_closeness_stream", (s, dir) => {
      val cust = Tables.customer(s, dir)
      val quasi = Seq("nation" -> col("c_nationkey").cast("long"),
        "segment" -> col("c_mktsegment"))
      def leg(pred: org.apache.spark.sql.Column) =
        Privacy.tClosenessCounts(cust.filter(pred), quasi,
          round(col("c_acctbal") * 100, 0),
          lo = TClo, hi = TChi, buckets = TCbuckets)
      Privacy.tClosenessFromCounts(
        leg(col("c_custkey") % 2 === 0)
          .unionByName(leg(col("c_custkey") % 2 === 1))
          .groupBy("nation", "segment", "_b")
          .agg(sum("_n").as("_n")),
        Seq("nation", "segment"), buckets = TCbuckets)
    },
      // the register identity: the folded (QI, bucket) counts must land
      // on the ONE-PASS EMD panel — oracle shared verbatim
      tClosenessSqlDuck)
  )

  /** The one-pass t-closeness oracle — shared verbatim by the batch
    * gate (`privacy_t_closeness`) and the register fold
    * (`privacy_t_closeness_stream`).
    */
  private val tClosenessSqlDuck: String =
      s"""WITH sv AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
         |  c_mktsegment AS segment,
         |  CAST(round(c_acctbal * 100, 0) AS BIGINT) AS v FROM customer),
         |bk AS (SELECT nation, segment,
         |  CAST((CAST(least(${TChi - 1}, greatest($TClo, v)) AS HUGEINT)
         |    - ($TClo)) * $TCbuckets // ${TChi - TClo} AS BIGINT) AS b
         |  FROM sv),
         |cb AS (SELECT nation, segment, b, CAST(count(*) AS BIGINT) AS n
         |  FROM bk GROUP BY 1, 2, 3),
         |cls AS (SELECT nation, segment, CAST(sum(n) AS BIGINT)
         |  AS class_size FROM cb GROUP BY 1, 2),
         |gr AS (SELECT CAST(range AS BIGINT) AS b FROM range($TCbuckets)),
         |gn AS (SELECT gr.b, coalesce(x.g, 0) AS g FROM gr LEFT JOIN
         |  (SELECT b, CAST(sum(n) AS BIGINT) AS g FROM cb GROUP BY 1) x
         |  ON gr.b = x.b),
         |gc AS (SELECT b, CAST(sum(g) OVER (ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS gcum,
         |  CAST(sum(g) OVER () AS BIGINT) AS gtotal FROM gn),
         |sc AS (SELECT cls.nation, cls.segment, cls.class_size, gr.b,
         |    coalesce(cb.n, 0) AS n
         |  FROM cls CROSS JOIN gr
         |  LEFT JOIN cb ON cb.nation = cls.nation
         |    AND cb.segment = cls.segment AND cb.b = gr.b),
         |cc AS (SELECT nation, segment, class_size, b,
         |  CAST(sum(n) OVER (PARTITION BY nation, segment ORDER BY b
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS ccum FROM sc)
         |SELECT cc.nation, cc.segment, cc.class_size,
         |  CAST(sum(abs(cc.ccum * 1000000 // cc.class_size
         |    - gc.gcum * 1000000 // gc.gtotal)) // ${TCbuckets - 1}
         |    AS BIGINT) AS emd_x1e6
         |FROM cc JOIN gc ON cc.b = gc.b
         |GROUP BY 1, 2, 3""".stripMargin.replace("\n", " ")
}
