package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Dedup, Sampling, TextAnalysis}
import graft.ops.TableProfile
import graft.sketch.Sketches

/** Round-11 late-wave audit gates — pre-flight measurements a 100 TB
  * pipeline takes BEFORE committing to a plan, each with the identical
  * derivation rendered into its DuckDB oracle:
  *
  *   - `split_leakage_audit` — near-dup pairs straddling the train/test
  *     boundary under doc-hash vs cluster splitting (the measurement
  *     that justifies [[graft.llm.Sampling.clusterSplit]]);
  *   - `sketch_join_size` — equi-join cardinality from CMS inner
  *     products next to the exact legs (Cormode & Muthukrishnan 2005),
  *     the "will this join explode" estimate from 2·d·w integers;
  *   - `tokenizer_fertility` — BPE-ish tokens per 1000 words by
  *     predicted language, the tokenizer-parity audit.
  */
object AuditQueries {

  private val TrainPermille = 800 // the split_cluster_assign operating
  private val ValPermille = 100   // point — the audited configuration
  private val JoinD = 4   // CMS shape for the join-size estimate:
  private val JoinW = 64  // 4 rows × 64 buckets = 256 ints per side
  private val RollD = 4   // CMS shape for the rolling heavy-hitter
  private val RollW = 64  // panel: 256 ints per DAY
  private val RollQuantilesPm = Seq(500, 900, 990)

  def gates: Seq[Gate] = Seq(
    // Train/test leakage through near-duplicates: the same LSH pair
    // graph the dedup family resolves, with each endpoint assigned a
    // split two ways — by its own id hash (naive) and by its component
    // label (the shipped scheme). The cluster row's cross_pairs = 0 is
    // COMPUTED (both endpoints independently join the label table); the
    // doc_hash row's nonzero count is the leak the cluster split closes.
    // The pair graph is banded ONCE and feeds both the audited pair
    // list and the component labels (r18, guide §1.2 step 1: the
    // previous shape ran the whole minhash+banding pipeline twice —
    // same function over the same input, so the shared frame is
    // row-identical; labels still reuse the split_cluster_assign
    // derivation, singletons labeled themselves).
    Gate("split_leakage_audit", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = graft.util.Materialize.stable(
        Dedup.lshCandidatePairs(docs, "doc_id", "text"))
      val labels = docs.select("doc_id")
        .join(Dedup.connectedComponents(pairs, "doc_a", "doc_b"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      Sampling.splitLeakageAudit(pairs, "doc_a", "doc_b",
        labels, "doc_id", "cluster_id", TrainPermille, ValPermille)
    },
      s"""WITH RECURSIVE ${DedupQueries.lshCtes}, prs AS (${DedupQueries.lshPairSelect}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst),
         |lab0 AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
         |lab AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab0 l ON d.doc_id = l.doc_id),
         |naive AS (SELECT 'doc_hash' AS scheme,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN ${splitDuck("doc_a")} <> ${splitDuck("doc_b")}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS cross_pairs FROM prs),
         |clus AS (SELECT 'cluster' AS scheme,
         |  CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN ${splitDuck("la.cluster_id")} <> ${splitDuck("lb.cluster_id")}
         |    THEN 1 ELSE 0 END) AS BIGINT) AS cross_pairs
         |  FROM prs JOIN lab la ON prs.doc_a = la.doc_id
         |  JOIN lab lb ON prs.doc_b = lb.doc_id),
         |u AS (SELECT * FROM naive UNION ALL SELECT * FROM clus)
         |SELECT scheme, n_pairs, cross_pairs,
         |  1000 * cross_pairs // n_pairs AS cross_permille FROM u"""
        .stripMargin.replace("\n", " ")),

    // Equi-join cardinality estimate: |view events ⋈ purchase events|
    // on user_id from two 4×64 CMS cell tables (inner-product rowsums,
    // min over rows — an overestimate by construction), next to the
    // exact per-key frequency join it stands in for. The pre-flight
    // "will this join explode" audit: at 100 TB the estimate reads 512
    // integers where the exact leg is itself a full join.
    Gate("sketch_join_size", (s, dir) => {
      val ev = Tables.events(s, dir)
      Sketches.cmsJoinSize(
        ev.filter(col("event_type") === "view"),
        col("user_id").cast("string"),
        ev.filter(col("event_type") === "purchase"),
        col("user_id").cast("string"),
        d = JoinD, w = JoinW)
    },
      s"""WITH ${cmsCellsDuck("va", "event_type = 'view'")},
         |${cmsCellsDuck("pb", "event_type = 'purchase'")},
         |rsum AS (SELECT a.r, sum(CAST(a.c AS HUGEINT) * b.c) AS rowsum
         |  FROM va_c a JOIN pb_c b ON a.r = b.r AND a.b = b.b GROUP BY a.r),
         |est AS (SELECT CAST(min(coalesce(rowsum, 0)) AS BIGINT) AS cms_join_est
         |  FROM (SELECT CAST(range AS INTEGER) AS r FROM range($JoinD)) rows
         |  LEFT JOIN rsum USING (r)),
         |fa AS (SELECT user_id, count(*) AS fa FROM events
         |  WHERE event_type = 'view' GROUP BY user_id),
         |fb AS (SELECT user_id, count(*) AS fb FROM events
         |  WHERE event_type = 'purchase' GROUP BY user_id),
         |ex AS (SELECT CAST(coalesce(sum(CAST(fa AS HUGEINT) * fb), 0) AS BIGINT)
         |  AS join_exact FROM fa JOIN fb USING (user_id)),
         |na AS (SELECT CAST(count(*) AS BIGINT) AS n_a FROM events WHERE event_type = 'view'),
         |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_b FROM events WHERE event_type = 'purchase')
         |SELECT n_a, n_b, join_exact, cms_join_est FROM na, nb, ex, est"""
        .stripMargin.replace("\n", " ")),

    // Tokenizer-parity audit: BPE-ish tokens per 1000 whitespace words
    // and chars per token ×100, by the engine's own language verdict —
    // one map pass into a languages-sized partial agg.
    Gate("tokenizer_fertility", (s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir),
        "doc_id", "text"),
      s"""WITH f AS (SELECT
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
         |  CAST(len(list_filter(string_split(text, ' '),
         |    x -> x IN ($stopListDuck))) AS BIGINT) AS n_stop,
         |  CAST(len(regexp_extract_all(text, '$bpePatternDuck')) AS BIGINT) AS n_bpe,
         |  CAST(length(text) AS BIGINT) AS n_chars FROM documents),
         |g AS (SELECT CASE WHEN n_stop * 1000 // n_words >= 50
         |    THEN 'en' ELSE 'und' END AS predicted_lang, * FROM f)
         |SELECT predicted_lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_words) AS BIGINT) AS n_words,
         |  CAST(sum(n_bpe) AS BIGINT) AS n_bpe_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |  1000 * CAST(sum(n_bpe) AS BIGINT) // CAST(sum(n_words) AS BIGINT)
         |    AS fertility_permille,
         |  100 * CAST(sum(n_chars) AS BIGINT) // CAST(sum(n_bpe) AS BIGINT)
         |    AS chars_per_token_x100
         |FROM g GROUP BY predicted_lang"""
        .stripMargin.replace("\n", " ")),

    // Generic per-column profiler over orders: exact rows / nulls /
    // distincts / min-max per column in ONE scan (multi-distinct rides
    // Spark's Expand), long format one row per column. The timestamp
    // column is profiled through the repo's epoch-µs derivation — never
    // a raw temporal/double string render.
    Gate("table_profile_orders", (s, dir) =>
      TableProfile.columnProfile(
        Tables.orders(s, dir).withColumn("o_orderdate_us",
          unix_micros(col("o_orderdate").cast("timestamp"))),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
          "o_orderdate_us")),
      {
        def leg(c: String, e: String) =
          s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count($e) AS BIGINT) AS n_nonnull,
             |  CAST(count(DISTINCT $e) AS BIGINT) AS n_distinct,
             |  CAST(min($e) AS VARCHAR) AS min_s,
             |  CAST(max($e) AS VARCHAR) AS max_s FROM orders"""
            .stripMargin.replace("\n", " ")
        Seq("o_orderkey" -> "o_orderkey", "o_custkey" -> "o_custkey",
          "o_orderstatus" -> "o_orderstatus",
          "o_orderpriority" -> "o_orderpriority",
          "o_orderdate_us" -> "epoch_us(o_orderdate)")
          .map { case (c, e) => leg(c, e) }.mkString(" UNION ALL ")
      }),

    // Rolling 7-day per-user event counts for the exact top-10 users,
    // served from daily CMS cell tables SUM-merged over the sliding
    // window — the frequency twin of sketch_hll_rolling_users (HLL
    // registers MAX-merge; CMS cells SUM-merge). Events are scanned
    // ONCE for the daily cells; every window after that is register
    // arithmetic on days × d·w ints. est ≥ exact per (day, user) by
    // construction; the gap is the audited collision price.
    Gate("sketch_cms_rolling_heavy", (s, dir) => {
      val daily = Tables.events(s, dir)
        .select(expr("ts_us div 86400000000").as("day"),
          col("user_id").cast("string").as("u"))
      val cells = graft.util.Materialize.stable(
        Sketches.cmsCellsBy(daily, Seq("day"), col("u"), d = RollD, w = RollW))
      val rolled = Sketches.rollingSumRegisters(
        cells, "day", Seq("r", "b"), "c", windowDays = 7)
      val top = daily.groupBy("u").agg(count(lit(1)).as("n_total"))
        .orderBy(col("n_total").desc, col("u")).limit(10)
      val days = cells.select("day").distinct()
      val probes = broadcast(top.select("u")).crossJoin(broadcast(days))
        .withColumn("_h", Dedup.tokenHash(col("u")))
        .select(col("day"), col("u"),
          explode(array((0 until RollD).map(i => struct(lit(i).as("r"),
            Sketches.cmsRowBucket(col("_h"), i, RollW).as("b"))): _*)).as("rb"))
        .select(col("day"), col("u"), col("rb.r").as("r"), col("rb.b").as("b"))
      val est = probes.join(broadcast(rolled), Seq("day", "r", "b"), "left")
        .groupBy("day", "u")
        .agg(min(coalesce(col("c"), lit(0L))).as("cms_estimate"))
      val exact = broadcast(days.withColumnRenamed("day", "wday"))
        .join(daily.join(broadcast(top.select("u")), Seq("u"), "left_semi"),
          col("day").between(col("wday") - 6, col("wday")))
        .groupBy(col("wday"), col("u")).agg(count(lit(1)).as("n_exact"))
        .withColumnRenamed("wday", "day")
      est.join(exact, Seq("day", "u"), "left")
        .select(col("day"), col("u"),
          coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          col("cms_estimate"))
    },
      {
        def rows(src: String, extra: String) = (0 until RollD).map { i =>
          val (a, b) = (Dedup.MinhashA(i), Dedup.MinhashB(i))
          s"SELECT $extra, $i AS r, (($a * hh + $b) % ${Dedup.MinhashP}) % $RollW AS b FROM $src"
        }.mkString(" UNION ALL ")
        s"""WITH dl AS (SELECT epoch_us(ts) // 86400000000 AS day,
           |    CAST(user_id AS VARCHAR) AS u FROM events),
           |h AS (SELECT day, u,
           |  CAST(concat('0x', substr(md5(u), 1, 8)) AS BIGINT) AS hh FROM dl),
           |hb AS (${rows("h", "day")}),
           |cells AS (SELECT day, r, b, count(*) AS c FROM hb GROUP BY 1, 2, 3),
           |days AS (SELECT DISTINCT day FROM cells),
           |rbs AS (SELECT DISTINCT r, b FROM cells),
           |scaf AS (SELECT day, r, b FROM days, rbs),
           |jj AS (SELECT s.day, s.r, s.b, coalesce(c, 0) AS c
           |  FROM scaf s LEFT JOIN cells USING (day, r, b)),
           |roll AS (SELECT day, r, b, CAST(sum(c) OVER (PARTITION BY r, b
           |    ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           |    AS BIGINT) AS c FROM jj),
           |top AS (SELECT u, any_value(hh) AS hh, count(*) AS n_total
           |  FROM h GROUP BY u ORDER BY n_total DESC, u LIMIT 10),
           |tp AS (SELECT t.u, t.hh, d.day FROM top t, days d),
           |probes AS (${rows("tp", "day, u")}),
           |est AS (SELECT day, u,
           |    CAST(min(coalesce(roll.c, 0)) AS BIGINT) AS cms_estimate
           |  FROM probes LEFT JOIN roll USING (day, r, b) GROUP BY 1, 2),
           |ex AS (SELECT d.day, dl.u, count(*) AS n_exact FROM days d
           |  JOIN dl ON dl.day BETWEEN d.day - 6 AND d.day
           |  JOIN top t ON t.u = dl.u GROUP BY 1, 2)
           |SELECT est.day, est.u,
           |  CAST(coalesce(ex.n_exact, 0) AS BIGINT) AS n_exact, cms_estimate
           |FROM est LEFT JOIN ex ON est.day = ex.day AND est.u = ex.u"""
          .stripMargin.replace("\n", " ")
      }),

    // Rolling 7-day P50/P90/P99 of the event value per day, from daily
    // log₂-histogram registers SUM-merged over the sliding window
    // (registers are sum-mergeable, so the rolling panel is pure
    // register arithmetic: days × ≤65 ints — the corpus is scanned
    // once). Estimate next to the exact windowed rank value; the exact
    // leg is gate-only calibration (it IS the full windowed rank the
    // sketch exists to avoid).
    Gate("sketch_quantile_rolling", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val vals = Tables.events(s, dir)
        .select(expr("ts_us div 86400000000").as("day"),
          graft.ops.EventOps.cents(col("value")).as("vc"))
      val regs = graft.util.Materialize.stable(
        Sketches.logHistogram(vals, Seq("day"), col("vc")))
      val rolled = Sketches.rollingSumRegisters(
        regs, "day", Seq("_bin"), "_cnt", windowDays = 7)
      val est = Sketches.quantilesFromLogHistogram(rolled, Seq("day"),
          RollQuantilesPm)
        .withColumn("_target",
          greatest(lit(1L), expr("(q_permille * n + 999) div 1000")))
      val days = regs.select("day").distinct()
      val ranked = broadcast(days.withColumnRenamed("day", "wday"))
        .join(vals, col("day").between(col("wday") - 6, col("wday")))
        .withColumn("rk", row_number().over(
          Window.partitionBy("wday").orderBy("vc")).cast("long"))
      est.join(ranked,
          est("day") === ranked("wday") && col("rk") === est("_target"))
        .select(est("day"), col("q_permille"), col("n"),
          col("vc").as("exact_v"), col("est"))
    },
      {
        val qsValues = RollQuantilesPm.map(q => s"($q)").mkString(",")
        s"""WITH v AS (SELECT epoch_us(ts) // 86400000000 AS day,
           |    CAST(round(value*100, 0) AS BIGINT) AS vc FROM events),
           |r AS (SELECT day,
           |    CAST(CASE WHEN vc = 0 THEN 0 ELSE length(bin(vc)) END AS BIGINT)
           |      AS bin, count(*) AS cnt
           |  FROM v GROUP BY 1, 2),
           |days AS (SELECT DISTINCT day FROM r),
           |bins AS (SELECT DISTINCT bin FROM r),
           |scaf AS (SELECT day, bin FROM days, bins),
           |jj AS (SELECT s.day, s.bin, coalesce(cnt, 0) AS cnt
           |  FROM scaf s LEFT JOIN r USING (day, bin)),
           |roll0 AS (SELECT day, bin, CAST(sum(cnt) OVER (PARTITION BY bin
           |    ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
           |    AS BIGINT) AS cnt FROM jj),
           |roll AS (SELECT * FROM roll0 WHERE cnt > 0),
           |c AS (SELECT day, bin, cnt,
           |    CAST(coalesce(sum(cnt) OVER (PARTITION BY day ORDER BY bin
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS cum_before,
           |    CAST(sum(cnt) OVER (PARTITION BY day) AS BIGINT) AS n
           |  FROM roll),
           |q AS (SELECT q_permille FROM (VALUES $qsValues) t(q_permille)),
           |sel AS (SELECT day, CAST(q_permille AS BIGINT) AS q_permille,
           |    n, bin, cnt, cum_before,
           |    greatest(1, (q_permille * n + 999) // 1000) AS target
           |  FROM c, q
           |  WHERE cum_before < greatest(1, (q_permille * n + 999) // 1000)
           |    AND greatest(1, (q_permille * n + 999) // 1000) <= cum_before + cnt),
           |est AS (SELECT day, q_permille, n, target,
           |    CAST((CASE WHEN bin = 0 THEN 0 ELSE 1 << (bin - 1) END)
           |      + ((CASE WHEN bin = 0 THEN 1 ELSE 1 << (bin - 1) END)
           |         * (target - cum_before - 1)) // cnt AS BIGINT) AS est
           |  FROM sel),
           |rk AS (SELECT d.day AS wday, vc, row_number() OVER (
           |    PARTITION BY d.day ORDER BY vc) AS rk
           |  FROM days d JOIN v ON v.day BETWEEN d.day - 6 AND d.day)
           |SELECT est.day, q_permille, n, rk.vc AS exact_v, est
           |FROM est JOIN rk ON est.day = rk.wday AND rk.rk = est.target"""
          .stripMargin.replace("\n", " ")
      }),

    // Pairwise Pearson correlation from EXACT integer sums (cents /
    // per-mille derivations, never raw doubles): the feature-redundancy
    // pre-flight. qty↔price is the strongly-correlated pair (price =
    // qty × unit price); the discount/tax pairs calibrate near zero.
    // One scan, one partial agg; the only floating step is the final
    // r from six exact integers — bit-identical cross-engine.
    Gate("profile_corr_lineitem", (s, dir) =>
      TableProfile.pearsonCorr(
        Tables.lineitem(s, dir).select(
          col("l_quantity").cast("long").as("qty"),
          graft.ops.EventOps.cents(col("l_extendedprice")).as("price_cents"),
          round(col("l_discount") * 1000, 0).cast("long").as("disc_pm"),
          round(col("l_tax") * 1000, 0).cast("long").as("tax_pm")),
        Seq("qty" -> "price_cents", "price_cents" -> "disc_pm",
          "qty" -> "tax_pm")),
      {
        def leg(x: String, y: String) =
          s"""SELECT '$x' AS x_col, '$y' AS y_col, n,
             |  CASE WHEN n < 2 OR n * sxx = sx * sx OR n * syy = sy * sy
             |    THEN NULL
             |  ELSE CAST(n * sxy - sx * sy AS DOUBLE)
             |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
             |         * CAST(n * syy - sy * sy AS DOUBLE)) END AS corr
             |FROM (SELECT CAST(count(*) AS BIGINT) AS n,
             |  sum(CAST($x AS HUGEINT)) AS sx, sum(CAST($y AS HUGEINT)) AS sy,
             |  sum(CAST($x AS HUGEINT) * $y) AS sxy,
             |  sum(CAST($x AS HUGEINT) * $x) AS sxx,
             |  sum(CAST($y AS HUGEINT) * $y) AS syy
             |  FROM li WHERE $x IS NOT NULL AND $y IS NOT NULL)"""
            .stripMargin.replace("\n", " ")
        s"""WITH li AS (SELECT CAST(l_quantity AS BIGINT) AS qty,
           |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS price_cents,
           |  CAST(round(l_discount * 1000, 0) AS BIGINT) AS disc_pm,
           |  CAST(round(l_tax * 1000, 0) AS BIGINT) AS tax_pm FROM lineitem)
           |${leg("qty", "price_cents")} UNION ALL
           |${leg("price_cents", "disc_pm")} UNION ALL
           |${leg("qty", "tax_pm")}""".stripMargin.replace("\n", " ")
      }),

    // Functional-dependency audit across three declared FDs: the
    // join-safety pre-flight (a violated "key" silently duplicates rows
    // through every join that assumes it). o_orderkey→o_custkey holds
    // (primary key); the other two are honest violations whose fan-out
    // the audit bounds.
    Gate("fd_audit", (s, dir) =>
      TableProfile.fdAudit(Tables.orders(s, dir), "o_orderkey", "o_custkey")
        .unionByName(TableProfile.fdAudit(
          Tables.lineitem(s, dir), "l_orderkey", "l_suppkey"))
        .unionByName(TableProfile.fdAudit(
          Tables.events(s, dir), "user_id", "event_type")),
      {
        def leg(table: String, lhs: String, rhs: String) =
          s"""SELECT '$lhs' AS lhs_col, '$rhs' AS rhs_col,
             |  CAST(count(*) AS BIGINT) AS n_lhs,
             |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_violating,
             |  CAST(max(nd) AS BIGINT) AS max_rhs_distinct
             |FROM (SELECT $lhs, count(DISTINCT
             |    coalesce(CAST($rhs AS VARCHAR), chr(0) || 'null')) AS nd
             |  FROM $table GROUP BY 1)""".stripMargin.replace("\n", " ")
        s"""${leg("orders", "o_orderkey", "o_custkey")} UNION ALL
           |${leg("lineitem", "l_orderkey", "l_suppkey")} UNION ALL
           |${leg("events", "user_id", "event_type")}"""
          .stripMargin.replace("\n", " ")
      }),

    // Per-event-type time trend of the daily mean value (cents): OLS
    // slope over daily means as the exact integer num/den pair — the
    // "which way is this stream drifting" monitor next to the χ²/MAD
    // "is it different" audits. The corpus collapses to the daily
    // table in one partial-agg pass; the regression runs on that.
    Gate("events_value_trend", (s, dir) =>
      TableProfile.dailyTrend(
        Tables.events(s, dir).select(col("event_type"),
          expr("ts_us div 86400000000").as("day"),
          graft.ops.EventOps.cents(col("value")).as("vc")),
        Seq("event_type"), "day", col("vc")),
      s"""WITH daily AS (SELECT event_type,
         |    epoch_us(ts) // 86400000000 AS d,
         |    sum(CAST(round(value*100, 0) AS BIGINT)) // count(*) AS y
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type,
         |    d - min(d) OVER (PARTITION BY event_type) AS t, y FROM daily)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         |  CAST(count(*) * sum(t*y) - sum(t) * sum(y) AS BIGINT)
         |    AS slope_num,
         |  CAST(count(*) * sum(t*t) - sum(t) * sum(t) AS BIGINT)
         |    AS slope_den
         |FROM b GROUP BY 1""".stripMargin.replace("\n", " ")),

    // Recall-vs-nprobe tuning curve for the gated IVF index (16 cells,
    // k=5): mean recall@k at nprobe 1/3/6 — the table that prices each
    // additional probe. The brute-force reference and the corpus cell
    // assignment are computed once and shared across operating points.
    Gate("ann_ivf_recall_curve", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.llm.Similarity.ivfRecallCurve(emb,
        emb.filter(col("vec_id") < 50), numCentroids = 16,
        probes = Seq(1, 3, 6), k = 5)
    },
      {
        import graft.llm.Similarity
        val (cN, k) = (16, 5)
        def cos(dot: String, n1: String, n2: String) =
          s"CAST($dot AS DOUBLE) / (sqrt(CAST($n1 AS DOUBLE)) * sqrt(CAST($n2 AS DOUBLE)))"
        s"""WITH v AS (SELECT vec_id, ${Similarity.quantizeSqlDuck} AS qv
           |  FROM embeddings),
           |n AS (SELECT vec_id, qv,
           |  ${Similarity.dotQSqlDuck("qv", "qv")} AS nrm FROM v),
           |fr AS (SELECT qid, cid FROM (
           |  SELECT q.vec_id AS qid, c.vec_id AS cid,
           |    row_number() OVER (PARTITION BY q.vec_id ORDER BY
           |      ${cos(Similarity.dotQSqlDuck("q.qv", "c.qv"), "q.nrm", "c.nrm")} DESC,
           |      c.vec_id) AS rank
           |  FROM n q, n c WHERE q.vec_id < 50 AND c.vec_id <> q.vec_id)
           |  WHERE rank <= $k),
           |cents AS (SELECT vec_id AS cent_id, qv AS centv, nrm AS ncent FROM
           |  (SELECT vec_id, qv, nrm FROM n
           |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $cN)),
           |ca AS (SELECT vec_id, qv, nrm, cent_id AS cell FROM (
           |  SELECT n.vec_id, n.qv, n.nrm, c.cent_id,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      ${cos(Similarity.dotQSqlDuck("n.qv", "c.centv"), "n.nrm", "c.ncent")} DESC,
           |      c.cent_id) AS crn
           |  FROM n, cents c) WHERE crn = 1),
           |qr AS (SELECT nq.vec_id, nq.qv, nq.nrm, c.cent_id,
           |    row_number() OVER (PARTITION BY nq.vec_id ORDER BY
           |      ${cos(Similarity.dotQSqlDuck("nq.qv", "c.centv"), "nq.nrm", "c.ncent")} DESC,
           |      c.cent_id) AS crn
           |  FROM (SELECT * FROM n WHERE vec_id < 50) nq, cents c),
           |pv AS (SELECT p FROM (VALUES (1), (3), (6)) t(p)),
           |qa AS (SELECT pv.p, qr.vec_id, qr.qv, qr.nrm, qr.cent_id AS cell
           |  FROM qr, pv WHERE qr.crn <= pv.p),
           |ir AS (SELECT p, qid, cid FROM (
           |  SELECT qa.p, qa.vec_id AS qid, ca.vec_id AS cid,
           |    row_number() OVER (PARTITION BY qa.p, qa.vec_id ORDER BY
           |      ${cos(Similarity.dotQSqlDuck("qa.qv", "ca.qv"), "qa.nrm", "ca.nrm")} DESC,
           |      ca.vec_id) AS rank
           |  FROM qa JOIN ca ON qa.cell = ca.cell AND ca.vec_id <> qa.vec_id)
           |  WHERE rank <= $k),
           |cm AS (SELECT ir.p, fr.qid, count(*) AS n_common
           |  FROM fr JOIN ir ON fr.qid = ir.qid AND fr.cid = ir.cid
           |  GROUP BY 1, 2),
           |base AS (SELECT pv.p, q.vec_id FROM pv,
           |  (SELECT vec_id FROM embeddings WHERE vec_id < 50) q)
           |SELECT CAST(b.p AS BIGINT) AS nprobe,
           |  CAST(count(*) AS BIGINT) AS n_queries,
           |  CAST(sum(coalesce(cm.n_common, 0)) AS BIGINT) AS sum_common,
           |  CAST(sum(coalesce(cm.n_common, 0)) AS BIGINT) * 1000
           |    // (count(*) * $k) AS mean_recall_permille
           |FROM base b LEFT JOIN cm ON cm.p = b.p AND cm.qid = b.vec_id
           |GROUP BY b.p""".stripMargin.replace("\n", " ")
      }),

    // Equi-width histogram of lineitem price cents over DECLARED bounds
    // (stable bucket edges across snapshots — two runs compare
    // bar-for-bar; out-of-range rows clamp into the edge buckets, and
    // empty buckets emit 0). 20 buckets over [0, 12,000,000) cents.
    Gate("profile_price_histogram", (s, dir) =>
      TableProfile.histogram(
        Tables.lineitem(s, dir),
        graft.ops.EventOps.cents(col("l_extendedprice")),
        lo = 0L, hi = 12000000L, buckets = 20),
      {
        val (lo, hi, nb) = (0L, 12000000L, 20)
        val width = hi - lo
        s"""WITH v AS (SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT)
           |    AS vc FROM lineitem),
           |c AS (SELECT least(${nb - 1}, greatest(0,
           |    (vc - $lo) * $nb // $width)) AS bucket, count(*) AS n
           |  FROM v GROUP BY 1),
           |s AS (SELECT CAST(b AS BIGINT) AS bucket
           |  FROM UNNEST(range(0, $nb)) AS t(b))
           |SELECT s.bucket,
           |  CAST($lo + s.bucket * $width // $nb AS BIGINT) AS lo_v,
           |  CAST($lo + (s.bucket + 1) * $width // $nb AS BIGINT) AS hi_v,
           |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_rows
           |FROM s LEFT JOIN c ON s.bucket = c.bucket"""
          .stripMargin.replace("\n", " ")
      }),

    // Bucketed range join: view events falling inside 4-day campaign
    // windows opened by sampled purchase events — the interval join
    // decomposed onto a 2-day bucket equi-key so Catalyst plans a
    // shuffled join instead of the nested loop a raw BETWEEN forces
    // (plan-audited). Aggregated per window: event count + value cents.
    Gate("events_range_join", (s, dir) => {
      val ev = Tables.events(s, dir)
      val day = expr("ts_us div 86400000000")
      val wins = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
        .select(col("event_id").as("win_id"), day.as("lo_day"),
          (day + 3).as("hi_day"))
      val probe = ev.filter(col("event_type") === "view")
        .select(day.as("d"), graft.ops.EventOps.cents(col("value")).as("cents"))
      graft.ops.RangeJoin.bucketed(probe, "d", wins, "lo_day", "hi_day",
          bucketWidth = 2L)
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_value_cents"))
    },
      """WITH wins AS (SELECT event_id AS win_id,
        |    epoch_us(ts) // 86400000000 AS lo_day,
        |    epoch_us(ts) // 86400000000 + 3 AS hi_day
        |  FROM events WHERE event_type = 'purchase' AND event_id % 97 = 0),
        |pr AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'view')
        |SELECT win_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_value_cents
        |FROM wins JOIN pr ON pr.d BETWEEN wins.lo_day AND wins.hi_day
        |GROUP BY win_id""".stripMargin.replace("\n", " ")),

    // Exact ROC-AUC (Mann-Whitney with tie correction) of the engine's
    // stopword language score against the corpus's ground-truth lang
    // label — the single-number ranking audit behind the lang-ID
    // threshold (the confusion gate shows the operating point; this
    // grades the whole score). Near-500 on this synthetic corpus is the
    // honest verdict: its lang labels are assigned independently of the
    // text. The only corpus-sized pass is one partial agg by score.
    Gate("quality_auc_lang", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.languageId(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), (col("lang") === "en").as("_is_en")),
          "doc_id")
      TableProfile.rocAuc(scored, col("stop_per_mille"), col("_is_en"))
    },
      s"""WITH f AS (SELECT lang = 'en' AS y,
         |  len(list_filter(string_split(text, ' '), x -> x IN ($stopListDuck)))
         |    * 1000 // len(string_split(text, ' ')) AS sc FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL),
         |s AS (SELECT sc,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM f GROUP BY 1),
         |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY sc
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
         |  FROM s),
         |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  sum(CAST(np AS HUGEINT) * (2 * cnb + nn)) AS num FROM c)
         |SELECT n_pos, n_neg,
         |  CAST(1000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |    AS BIGINT) AS auc_permille,
         |  CAST(1000000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |    AS BIGINT) AS auc_x1e6
         |FROM a""".stripMargin.replace("\n", " ")),

    // The same ranking audit per SOURCE — "which feeds does the score
    // rank well on" next to the corpus-wide number (a score can look
    // adequate in aggregate while being noise on one feed). Same
    // arithmetic, window partitioned by source.
    Gate("quality_auc_by_source", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = TextAnalysis.languageId(docs, "doc_id", "text")
        .join(docs.select(col("doc_id"), col("source"),
          (col("lang") === "en").as("_is_en")), "doc_id")
      TableProfile.rocAuc(scored, col("stop_per_mille"), col("_is_en"),
        groups = Seq("source"))
    },
      s"""WITH f AS (SELECT source, lang = 'en' AS y,
         |  len(list_filter(string_split(text, ' '), x -> x IN ($stopListDuck)))
         |    * 1000 // len(string_split(text, ' ')) AS sc FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL),
         |s AS (SELECT source, sc,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM f GROUP BY 1, 2),
         |c AS (SELECT source, np, nn, coalesce(sum(nn) OVER (
         |    PARTITION BY source ORDER BY sc
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
         |  FROM s),
         |a AS (SELECT source, CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  sum(CAST(np AS HUGEINT) * (2 * cnb + nn)) AS num
         |  FROM c GROUP BY 1)
         |SELECT source, n_pos, n_neg,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
         |    ELSE CAST(1000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |      AS BIGINT) END AS auc_permille,
         |  CASE WHEN n_pos = 0 OR n_neg = 0 THEN NULL
         |    ELSE CAST(1000000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |      AS BIGINT) END AS auc_x1e6
         |FROM a""".stripMargin.replace("\n", " ")),

    // The range-join panel folded from two probe batches (event_id
    // parity) — per-batch bucketed joins into interval-keyed partial
    // aggs, SUM-merged: the StreamingRangeJoin read path expressed
    // in-plan, gated against the ONE-PASS oracle (count/sum distribute
    // over any batch decomposition of the probe stream).
    Gate("events_range_join_stream", (s, dir) => {
      val ev = Tables.events(s, dir)
      val day = expr("ts_us div 86400000000")
      val wins = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
        .select(col("event_id").as("win_id"), day.as("lo_day"),
          (day + 3).as("hi_day"))
      def leg(pred: org.apache.spark.sql.Column) = graft.ops.RangeJoin
        .bucketed(
          ev.filter(col("event_type") === "view" && pred)
            .select(day.as("d"),
              graft.ops.EventOps.cents(col("value")).as("cents")),
          "d", wins, "lo_day", "hi_day", bucketWidth = 2L)
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_value_cents"))
      leg(col("event_id") % 2 === 0).unionByName(leg(col("event_id") % 2 === 1))
        .groupBy("win_id")
        .agg(sum("n_events").as("n_events"),
          sum("sum_value_cents").as("sum_value_cents"))
    },
      """WITH wins AS (SELECT event_id AS win_id,
        |    epoch_us(ts) // 86400000000 AS lo_day,
        |    epoch_us(ts) // 86400000000 + 3 AS hi_day
        |  FROM events WHERE event_type = 'purchase' AND event_id % 97 = 0),
        |pr AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'view')
        |SELECT win_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_value_cents
        |FROM wins JOIN pr ON pr.d BETWEEN wins.lo_day AND wins.hi_day
        |GROUP BY win_id""".stripMargin.replace("\n", " ")),

    // The range-join panel with BOTH sides batch-decomposed — the
    // StreamingRangeJoin register design expressed in-plan: probe
    // batches fold into a per-t digest (sum-merged sufficient statistic
    // for any interval aggregate), interval batches union, ONE bucketed
    // join of digest x intervals replaces every history re-join. Gated
    // against the same one-pass oracle: count/sum distribute over any
    // batch decomposition of EITHER side.
    Gate("events_range_join_stream2", (s, dir) => {
      val ev = Tables.events(s, dir)
      val day = expr("ts_us div 86400000000")
      val wins = ev
        .filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
        .select(col("event_id").as("win_id"), day.as("lo_day"),
          (day + 3).as("hi_day"))
      def digestLeg(pred: org.apache.spark.sql.Column) = ev
        .filter(col("event_type") === "view" && pred)
        .select(day.as("_t"), graft.ops.EventOps.cents(col("value")).as("_v"))
        .groupBy("_t")
        .agg(count(lit(1)).as("_n"), sum("_v").as("_sum"))
      val digest = digestLeg(col("event_id") % 2 === 0)
        .unionByName(digestLeg(col("event_id") % 2 === 1))
        .groupBy("_t").agg(sum("_n").as("_n"), sum("_sum").as("_sum"))
      val ivs = wins.filter(col("win_id") % 2 === 0)
        .unionByName(wins.filter(col("win_id") % 2 === 1))
      graft.ops.RangeJoin
        .bucketed(digest, "_t", ivs, "lo_day", "hi_day", bucketWidth = 2L)
        .groupBy("win_id")
        .agg(sum("_n").as("n_events"), sum("_sum").as("sum_value_cents"))
    },
      """WITH wins AS (SELECT event_id AS win_id,
        |    epoch_us(ts) // 86400000000 AS lo_day,
        |    epoch_us(ts) // 86400000000 + 3 AS hi_day
        |  FROM events WHERE event_type = 'purchase' AND event_id % 97 = 0),
        |pr AS (SELECT epoch_us(ts) // 86400000000 AS d,
        |    CAST(round(value * 100, 0) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'view')
        |SELECT win_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(cents) AS BIGINT) AS sum_value_cents
        |FROM wins JOIN pr ON pr.d BETWEEN wins.lo_day AND wins.hi_day
        |GROUP BY win_id""".stripMargin.replace("\n", " ")),

    // Model-scored quality classifier seam, calibrated with ROC-AUC —
    // the LEARNED tier above Gopher/C4 (the FineWeb-Edu / DCLM stage):
    // the deterministic stub scorer flows through the mapPartitions
    // seam (one model session per partition, never per-row init) and
    // the gate grades its ranking against the corpus's ground-truth
    // lang label with the same Mann-Whitney walk as quality_auc_lang.
    // Swap the stub for a real model; the gate and the plan stay.
    Gate("quality_classifier_auc", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.llm.QualityRules
        .classifierScores(s, docs, "doc_id", "text")
      TableProfile.rocAuc(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").as("_is_en")), "doc_id"),
        col("score_permille"), col("_is_en"))
    },
      classifierAucSqlDuck),

    // The classifier's operating-point table — the decision the AUC
    // ranks but cannot make: per observed threshold (keep score >= s),
    // exact confusion counts and integer per-mille precision/recall/F1.
    // FineWeb-Edu's "keep score >= 3" comes from exactly this table;
    // emitting every point keeps the precision/recall trade visible.
    Gate("quality_classifier_operating_points", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.llm.QualityRules
        .classifierScores(s, docs, "doc_id", "text")
      TableProfile.operatingPoints(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").as("_is_en")), "doc_id"),
        col("score_permille"), col("_is_en"))
    },
      classifierOpsSqlDuck),

    // The embedding-side classifier: an integer-exact LINEAR PROBE
    // (class-mean-difference direction over the quantized embeddings —
    // the FineWeb-Edu mechanism with the head's training in closed
    // form), graded with the same exact AUC. Proves the engine scores
    // by VECTOR, not only by text heuristics; floor-division parity
    // with DuckDB is the load-bearing detail (probe sums go negative).
    Gate("embedding_probe_auc", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      TableProfile.rocAuc(
        graft.llm.Similarity.linearProbeScores(emb, "vec_id", "embedding",
          col("label") < 5),
        col("score_pm"), col("y"))
    },
      s"""WITH v AS (SELECT vec_id, label < 5 AS y,
         |  ${graft.llm.Similarity.quantizeSqlDuck} AS qv FROM embeddings
         |  WHERE label IS NOT NULL),
         |ex AS (SELECT y, generate_subscripts(qv, 1) AS i, unnest(qv) AS qe
         |  FROM v),
         |w0 AS (SELECT i,
         |  CAST(sum(CASE WHEN y THEN qe ELSE 0 END) AS BIGINT) AS sp,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np0,
         |  CAST(sum(CASE WHEN NOT y THEN qe ELSE 0 END) AS BIGINT) AS sn,
         |  CAST(sum(CASE WHEN NOT y THEN 1 ELSE 0 END) AS BIGINT) AS nn0
         |  FROM ex GROUP BY 1),
         |w AS (SELECT i, sp // np0 - sn // nn0 AS wi FROM w0),
         |wv AS (SELECT list(wi ORDER BY i) AS wl FROM w),
         |f AS (SELECT v.y, CAST(list_sum(list_transform(
         |    list_zip(v.qv, wv.wl), s -> s[1] * s[2])) AS BIGINT) // 100000
         |    AS sc FROM v, wv),
         |s AS (SELECT sc,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM f GROUP BY 1),
         |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY sc
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
         |  FROM s),
         |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  sum(CAST(np AS HUGEINT) * (2 * cnb + nn)) AS num FROM c)
         |SELECT n_pos, n_neg,
         |  CAST(1000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |    AS BIGINT) AS auc_permille,
         |  CAST(1000000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |    AS BIGINT) AS auc_x1e6
         |FROM a""".stripMargin.replace("\n", " ")),

    // The classifier's reliability curve — per declared score decile,
    // the EMPIRICAL positive rate: AUC grades the ranking, the
    // operating points grade the decision, this grades the score's
    // MAGNITUDE (a flat curve = the score orders but its value is
    // meaningless; non-monotone segments localize where it lies).
    Gate("quality_classifier_reliability", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.llm.QualityRules
        .classifierScores(s, docs, "doc_id", "text")
      TableProfile.reliabilityCurve(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").as("_is_en")), "doc_id"),
        col("score_permille"), col("_is_en"), lo = 0L, hi = 1000L,
        buckets = 10)
    },
      classifierReliabilitySqlDuck),

    // The classifier's per-source score-decile histogram — the
    // distribution panel a score threshold is picked from (which feeds
    // skew low, where the mass sits). Bounded output: sources × 10.
    // Unscoreable docs (NULL text → NULL score) are EXCLUDED, not
    // binned: both engines' least() skips NULLs, so an unfiltered NULL
    // would silently land in decile 9 as a "best" doc. The decile is
    // clamped at BOTH edges — the seam contract allows any Long scorer,
    // and a negative permille must not mint a negative bucket.
    Gate("quality_classifier_hist", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.QualityRules.classifierScores(s, docs, "doc_id", "text")
        .filter(col("score_permille").isNotNull)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(col("source"),
          expr("greatest(0L, least(score_permille div 100, 9L))")
            .as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum("score_permille").as("sum_score"))
    },
      s"""WITH sc AS (SELECT doc_id, source,
         |  ${graft.llm.QualityRules.stubEduScoreSqlDuck} AS score_permille
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT source, greatest(0, least(score_permille // 100, 9)) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(score_permille) AS BIGINT) AS sum_score
         |FROM sc GROUP BY 1, 2""".stripMargin.replace("\n", " ")),

    // The REAL-model leg of the classifier seam: the frozen n-gram
    // logistic head (hash-bucketed token weights shipped as ONE
    // broadcast, per-partition init through the factory seam) scored
    // over the corpus and graded with the same exact AUC — proves the
    // broadcast-weights path a fastText-class model needs at 100 TB,
    // not just the stateless-stub plumbing.
    Gate("quality_ngram_head_auc", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.llm.QualityRules.classifierScoresInit(
        s, docs, "doc_id", "text", graft.llm.NgramHead.scorerFactory(s))
      TableProfile.rocAuc(
        scored.join(docs.select(col("doc_id"),
          (col("lang") === "en").as("_is_en")), "doc_id"),
        col("score_permille"), col("_is_en"))
    },
      s"""WITH hs AS ${graft.llm.NgramHead.scoresSqlDuck(
           "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")},
         |f AS (SELECT d.lang = 'en' AS y, hs.score_permille AS sc
         |  FROM hs JOIN documents d USING (doc_id) WHERE d.lang IS NOT NULL),
         |s AS (SELECT sc,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM f GROUP BY 1),
         |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY sc
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
         |  FROM s),
         |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
         |  CAST(sum(nn) AS BIGINT) AS n_neg,
         |  sum(CAST(np AS HUGEINT) * (2 * cnb + nn)) AS num FROM c)
         |SELECT n_pos, n_neg,
         |  CAST(1000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |    AS BIGINT) AS auc_permille,
         |  CAST(1000000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
         |    AS BIGINT) AS auc_x1e6
         |FROM a""".stripMargin.replace("\n", " ")),

    // The head's per-source score-decile panel — same discipline as the
    // stub hist: NULL scores excluded, decile clamped at both edges.
    Gate("quality_ngram_head_hist", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.QualityRules.classifierScoresInit(
          s, docs, "doc_id", "text", graft.llm.NgramHead.scorerFactory(s))
        .filter(col("score_permille").isNotNull)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy(col("source"),
          expr("greatest(0L, least(score_permille div 100, 9L))")
            .as("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum("score_permille").as("sum_score"))
    },
      s"""WITH hs AS ${graft.llm.NgramHead.scoresSqlDuck(
           "(SELECT doc_id, text FROM documents WHERE text IS NOT NULL)")}
         |SELECT d.source,
         |  greatest(0, least(hs.score_permille // 100, 9)) AS decile,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(hs.score_permille) AS BIGINT) AS sum_score
         |FROM hs JOIN documents d USING (doc_id)
         |GROUP BY 1, 2""".stripMargin.replace("\n", " ")),

    // The STREAMING curation funnel's register identity, expressed
    // in-plan (the events_range_join_stream pattern): the corpus
    // arrives in three batches (doc_id mod 3), each batch runs the
    // StreamingCuration stage chain — compaction+scrub -> quality ->
    // novelty (first-seen per content hash, judged in batch order) —
    // and the per-batch 1-row stage counts SUM-merge into the
    // continuous loss panel. Gated against the ONE-PASS funnel oracle:
    // batch-local stages partition the corpus and novelty decomposes
    // over batches, so the fold must land exactly on the one-pass
    // counts. (The scrub is provably the identity on this fixture —
    // every PII pattern needs digits/'@' and the corpus has none; the
    // spliced-PII parity is pii_scrub's own gate. The stateful
    // state-store path of the same fold is StreamingCurationSpec's.)
    Gate("corpus_curation_funnel_stream", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val tok = graft.llm.TextAnalysis.tokenCount(col("text"))
      def leg(idx: Long, name: String, df: DataFrame) =
        df.agg(count(lit(1)).as("n_docs"),
            coalesce(sum(tok), lit(0L)).as("n_tokens"))
          .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
            col("n_docs"), col("n_tokens"))
      // Each batch's cp/q frame feeds SEVERAL legs below (cp: its own
      // count + q; q: quality leg + fluency leg + the 3×-consumed
      // firstOcc union), so without materialization the scrub-regex +
      // dedup-exchange chain re-executes up to 15× — the funnel's own
      // materializeStages discipline applied to the stream twin
      // (measured r18: 7.9 s → the chain runs once per batch).
      val stages = (0 until 3).map { k =>
        val raw = docs.filter(pmod(col("doc_id"), lit(3)) === k)
        val cp = graft.util.Materialize.stable(graft.llm.PiiScrub.scrubbed(
          raw.dropDuplicates("doc_id" :: "text" :: Nil), "text"))
        val q = graft.util.Materialize.stable(
          cp.join(graft.llm.TextAnalysis.qualityFilter(cp, "doc_id",
            "text", minTokens = 20, maxTokens = 90, minUniqPermille = 350,
            maxTopTokPermille = 150).filter(col("keep")).select("doc_id"),
            Seq("doc_id")))
        (k.toLong, raw, cp, q)
      }
      // novelty decomposed over batches: a hash's canonical copy lives
      // in its FIRST batch (min doc id there) — the sequential
      // filterNew fold as one window
      // materialized: the novelty union is consumed once per batch by
      // the "novel" legs below (3 filtered reads)
      val firstOcc = graft.util.Materialize.stable(
        stages.map { case (k, _, _, q) =>
            q.select(col("doc_id"), col("text"), lit(k).as("_b")) }
          .reduce(_ unionByName _)
          .withColumn("_h", md5(col("text")))
          .withColumn("_rn", row_number().over(
            Window.partitionBy("_h").orderBy("_b", "doc_id")))
          .filter(col("_rn") === 1))
      val legs =
        stages.map { case (_, raw, _, _) => leg(0L, "raw", raw) } ++
          stages.map { case (_, _, cp, _) => leg(1L, "compact_scrub", cp) } ++
          stages.map { case (_, _, _, q) => leg(2L, "quality", q) } ++
          stages.map { case (_, _, _, q) => leg(3L, "fluency", q) } ++
          stages.map { case (k, _, _, _) =>
            leg(4L, "novel", firstOcc.filter(col("_b") === k)) }
      legs.reduce(_ unionByName _)
        .groupBy("stage_idx", "stage")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
    },
      // the ONE-PASS funnel the batch-folded panel must land on exactly:
      // compaction is DISTINCT (doc_id, text), scrub is the identity on
      // this fixture (no digits/'@'), quality is the corpus_quality_filter
      // ruleset, novel is one canonical copy per content hash (copies
      // share the text, so any copy's token count represents the hash)
      """WITH cp AS (SELECT DISTINCT doc_id, text FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM cp),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_tok_n
        |  FROM tc GROUP BY 1),
        |keepids AS (SELECT doc_id FROM ts
        |  WHERE NOT (n_tokens < 20 OR n_tokens > 90
        |    OR n_distinct * 1000 // n_tokens < 350
        |    OR top_tok_n * 1000 // n_tokens > 150)),
        |k AS (SELECT cp.doc_id, cp.text FROM cp JOIN keepids USING (doc_id)),
        |nv AS (SELECT md5(text) AS h,
        |  min(len(string_split(text, ' '))) AS t FROM k GROUP BY 1)
        |SELECT CAST(0 AS BIGINT) AS stage_idx, 'raw' AS stage,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
        |    AS n_tokens FROM documents
        |UNION ALL SELECT 1, 'compact_scrub', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
        |  FROM cp
        |UNION ALL SELECT 2, 'quality', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
        |  FROM k
        |UNION ALL SELECT 3, 'fluency', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(len(string_split(text, ' '))), 0) AS BIGINT)
        |  FROM k
        |UNION ALL SELECT 4, 'novel', CAST(count(*) AS BIGINT),
        |  CAST(coalesce(sum(t), 0) AS BIGINT) FROM nv"""
        .stripMargin.replace("\n", " ")),

    // INCREMENTAL calibration (StreamingCalibration's register identity
    // in-plan): the per-score (n_pos, n_neg) count table is the
    // sufficient statistic for the whole calibration story, and counts
    // sum-merge — two batch legs fold their per-score registers, the
    // merged table rides the SAME rocAucFromCounts walk the batch audit
    // runs (one code path, the live panel cannot drift), and the gate
    // pins the fold to the one-pass AUC oracle.
    Gate("quality_auc_stream", (s, dir) =>
      TableProfile.rocAucFromCounts(foldedClassifierCounts(s, dir)),
      // the register identity: the batch-folded count table must land on
      // the ONE-PASS AUC — the oracle IS the one-pass audit's, verbatim
      classifierAucSqlDuck),

    // The live operating-point table — the DECISION leg off the same
    // registers: the folded counts ride operatingPointsFromCounts,
    // pinned to the ONE-PASS operating-point oracle verbatim. With this
    // the full calibration story (ranking, decision, magnitude, rank
    // normalizer) reads live off ONE register store.
    Gate("quality_operating_points_stream", (s, dir) =>
      TableProfile.operatingPointsFromCounts(
        foldedClassifierCounts(s, dir).withColumnRenamed("_s", "threshold")),
      // the register identity, decision leg: the folded count table must
      // land on the ONE-PASS operating-point table — oracle verbatim
      classifierOpsSqlDuck),

    // The calibration story's THIRD leg live (AUC ranks, operating
    // points decide, reliability grades the MAGNITUDE): the same
    // two-batch register fold re-bucketed by reliabilityCurveFromCounts
    // — shared assembly with the batch panel, so the gate pins the live
    // curve to the ONE-PASS reliability oracle verbatim.
    Gate("quality_reliability_stream", (s, dir) =>
      TableProfile.reliabilityCurveFromCounts(
        foldedClassifierCounts(s, dir), lo = 0L, hi = 1000L, buckets = 10),
      // the register identity, third leg: the batch-folded count table
      // re-bucketed must land on the ONE-PASS reliability curve — the
      // oracle IS the batch panel's, verbatim
      classifierReliabilitySqlDuck)
  )

  /** The shared two-leg register fold behind the quality_*_stream
    * gates: per-score (n_pos, n_neg) counts per doc_id-parity leg,
    * sum-merged — ONE definition, so an edit to the fold (NULL
    * handling, the label derivation) cannot desynchronize the streaming
    * gates while each stays individually green (the v5Stages twin
    * discipline applied to the fold itself).
    */
  private def foldedClassifierCounts(s: SparkSession,
      dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    def legCounts(pred: org.apache.spark.sql.Column) = graft.llm.QualityRules
      .classifierScores(s, docs.filter(pred), "doc_id", "text")
      .join(docs.select(col("doc_id"),
        (col("lang") === "en").as("_y")), "doc_id")
      .filter(col("score_permille").isNotNull && col("_y").isNotNull)
      .groupBy(col("score_permille").as("_s")).agg(
        sum(when(col("_y"), 1L).otherwise(0L)).as("_np"),
        sum(when(col("_y"), 0L).otherwise(1L)).as("_nn"))
    legCounts(col("doc_id") % 2 === 0)
      .unionByName(legCounts(col("doc_id") % 2 === 1))
      .groupBy("_s")
      .agg(sum("_np").as("_np"), sum("_nn").as("_nn"))
  }

  /** The one-pass stub-classifier AUC oracle — shared verbatim by the
    * batch gate (`quality_classifier_auc`) and the streaming register
    * fold (`quality_auc_stream`), because the fold's whole contract is
    * landing on this exact number.
    */
  private val classifierAucSqlDuck: String =
    s"""WITH f AS (SELECT lang = 'en' AS y,
       |  ${graft.llm.QualityRules.stubEduScoreSqlDuck} AS sc FROM documents
       |  WHERE lang IS NOT NULL AND text IS NOT NULL),
       |s AS (SELECT sc,
       |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM f GROUP BY 1),
       |c AS (SELECT np, nn, coalesce(sum(nn) OVER (ORDER BY sc
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cnb
       |  FROM s),
       |a AS (SELECT CAST(sum(np) AS BIGINT) AS n_pos,
       |  CAST(sum(nn) AS BIGINT) AS n_neg,
       |  sum(CAST(np AS HUGEINT) * (2 * cnb + nn)) AS num FROM c)
       |SELECT n_pos, n_neg,
       |  CAST(1000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
       |    AS BIGINT) AS auc_permille,
       |  CAST(1000000 * num // (2 * CAST(n_pos AS HUGEINT) * n_neg)
       |    AS BIGINT) AS auc_x1e6
       |FROM a""".stripMargin.replace("\n", " ")

  /** The one-pass stub-classifier operating-point oracle — shared
    * verbatim by the batch gate (`quality_classifier_operating_points`)
    * and the streaming register fold (`quality_operating_points_stream`).
    */
  private val classifierOpsSqlDuck: String =
      s"""WITH f AS (SELECT lang = 'en' AS y,
         |  ${graft.llm.QualityRules.stubEduScoreSqlDuck} AS sc FROM documents
         |  WHERE lang IS NOT NULL AND text IS NOT NULL),
         |s AS (SELECT sc AS threshold,
         |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np,
         |  CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS nn
         |  FROM f GROUP BY 1),
         |c AS (SELECT threshold,
         |  CAST(sum(np) OVER (ORDER BY threshold DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
         |  CAST(sum(nn) OVER (ORDER BY threshold DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
         |  FROM s),
         |t AS (SELECT CAST(sum(np) AS BIGINT) AS p,
         |  CAST(sum(nn) AS BIGINT) AS n FROM s)
         |SELECT threshold, tp, fp, p - tp AS fn, n - fp AS tn,
         |  tp * 1000 // (tp + fp) AS precision_permille,
         |  tp * 1000 // p AS recall_permille,
         |  2 * tp * 1000 // (2 * tp + fp + (p - tp)) AS f1_permille
         |FROM c, t""".stripMargin.replace("\n", " ")

  /** The one-pass stub-classifier reliability oracle — shared verbatim
    * by the batch gate (`quality_classifier_reliability`) and the
    * streaming register fold (`quality_reliability_stream`): the fold's
    * whole contract is landing on this exact curve.
    */
  private val classifierReliabilitySqlDuck: String =
    s"""WITH f AS (SELECT lang = 'en' AS y,
       |  ${graft.llm.QualityRules.stubEduScoreSqlDuck} AS sc FROM documents
       |  WHERE lang IS NOT NULL AND text IS NOT NULL),
       |b AS (SELECT least(9, greatest(0, sc * 10 // 1000)) AS bucket, y
       |  FROM f),
       |c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       |  CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
       |  FROM b GROUP BY 1),
       |g AS (SELECT CAST(range AS BIGINT) AS bucket FROM range(10))
       |SELECT g.bucket, g.bucket * 1000 // 10 AS lo_v,
       |  (g.bucket + 1) * 1000 // 10 AS hi_v,
       |  coalesce(c.n, 0) AS n, coalesce(c.n_pos, 0) AS n_pos,
       |  CASE WHEN c.n IS NULL THEN NULL
       |    ELSE c.n_pos * 1000 // c.n END AS pos_permille
       |FROM g LEFT JOIN c ON g.bucket = c.bucket"""
      .stripMargin.replace("\n", " ")

  private val bpePatternDuck =
    TextAnalysis.BpeishPattern.replace("'", "''")
  private val stopListDuck =
    TextAnalysis.StopWords.map(s => s"'$s'").mkString(", ")

  /** md5-per-mille bucket of an int64 key, rendered exactly as
    * [[graft.llm.Sampling.hashPermille]] computes it.
    */
  private def permilleDuck(x: String): String =
    s"CAST(concat('0x', substr(md5(CAST($x AS VARCHAR)), 1, 8)) AS BIGINT) % 1000"

  private def splitDuck(x: String): String =
    s"""CASE WHEN ${permilleDuck(x)} < $TrainPermille THEN 'train'
       |  WHEN ${permilleDuck(x)} < ${TrainPermille + ValPermille} THEN 'val'
       |  ELSE 'test' END""".stripMargin.replace("\n", " ")

  /** CMS cell table for one side of the join-size oracle: the engine's
    * MinHash row hashes over the 32-bit md5 key hash, counts per
    * (row, bucket).
    */
  private def cmsCellsDuck(name: String, pred: String): String = {
    val rows = (0 until JoinD).map { i =>
      val (a, b) = (Dedup.MinhashA(i), Dedup.MinhashB(i))
      s"SELECT $i AS r, (($a * hh + $b) % ${Dedup.MinhashP}) % $JoinW AS b FROM ${name}_h"
    }.mkString(" UNION ALL ")
    s"""${name}_h AS (SELECT
       |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hh
       |  FROM events WHERE $pred),
       |${name}_c AS (SELECT r, b, count(*) AS c FROM ($rows) GROUP BY 1, 2)"""
      .stripMargin.replace("\n", " ")
  }
}
