package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.Dedup
import graft.ops.SkewProfile

/** Corpus-maintenance gates: the operations that keep a 100 TB corpus's
  * DERIVED state current without recomputing it — incremental
  * connected-components folding (the dedup-cluster map under daily
  * ingest, completing the incremental family next to HLL registers,
  * quantile registers, Bloom words, and CMS cells) — plus the
  * pre-flight key-skew audit that decides HOW the next shuffle over
  * that corpus should be planned. Integer-exact, oracle-gated like
  * every other tranche.
  */
object MaintenanceQueries {

  def gates: Seq[Gate] = Seq(
    // Incremental cluster-map maintenance: prior labels built over 2/3
    // of the corpus, then one delta batch (every doc_id ≡ 0 mod 3) is
    // folded in via cluster contraction — CC runs over the DELTA-sized
    // contracted graph and the corpus state is touched by exactly one
    // equi-join. The oracle is the FULL-corpus recursive closure
    // (dedup_clusters' SQL): the gate's whole claim is that the
    // incremental fold lands bit-exactly on the full recompute.
    Gate("dedup_clusters_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      // ONE banding pass over the full corpus, split into prior/delta
      // pair sets (r18, guide §1.2 step 1: the previous shape ran the
      // whole tokenize→minhash→band-join pipeline twice — once over the
      // prior 2/3, once over the full corpus). Row-identical: a MinHash
      // signature is doc-local, so banding the prior subset alone yields
      // exactly the full corpus's band pairs restricted to both-prior
      // endpoints — the filter below.
      val pairs = graft.util.Materialize.stable(
        Dedup.lshCandidatePairs(docs, "doc_id", "text"))
      val priorLabels = Dedup.connectedComponents(
        pairs.filter(col("doc_a") % 3 =!= 0 && col("doc_b") % 3 =!= 0),
        "doc_a", "doc_b")
      // the delta a real ingest derives from banding the new docs
      // against the full band table: every candidate pair touching a
      // new doc (prior↔prior pairs are unchanged by new arrivals, so
      // prior labels already summarize them)
      val delta = pairs
        .filter(col("doc_a") % 3 === 0 || col("doc_b") % 3 === 0)
      Dedup.incrementalComponents(priorLabels, delta, "doc_a", "doc_b")
    },
      // the full-corpus closure — incremental == full recompute IS the
      // contract, so the oracle is dedup_clusters' SQL verbatim
      s"""WITH RECURSIVE ${DedupQueries.lshCtes},
         |prs AS (${DedupQueries.lshPairSelect}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst)
         |SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v"""
        .stripMargin.replace("\n", " ")),

    // Pre-flight shuffle-key skew audit over the event log's user_id —
    // the measurement that picks plain vs salted vs broadcast BEFORE
    // the join is committed: top-20 heaviest keys with their share and
    // hot-factor (n_rows over the uniform per-key expectation, ×1000).
    Gate("skew_key_profile", (s, dir) =>
      SkewProfile.keySkewProfile(Tables.events(s, dir), col("user_id"),
        topN = 20),
      // n_total sums to HUGEINT in DuckDB — every derived ratio CASTs
      // back to BIGINT (the export discipline)
      """WITH c AS (SELECT user_id AS key, count(*) AS n_rows
        |    FROM events WHERE user_id IS NOT NULL GROUP BY 1),
        |t AS (SELECT count(*) AS n_keys,
        |    CAST(sum(n_rows) AS BIGINT) AS n_total FROM c),
        |top AS (SELECT key, n_rows,
        |    row_number() OVER (ORDER BY n_rows DESC, key) AS rank
        |  FROM c ORDER BY n_rows DESC, key LIMIT 20)
        |SELECT key, rank, n_rows,
        |  (n_rows * 1000) // n_total AS share_permille,
        |  CAST((CAST(n_rows AS HUGEINT) * n_keys * 1000) // n_total
        |    AS BIGINT) AS hot_factor_permille,
        |  n_keys, n_total
        |FROM top CROSS JOIN t""".stripMargin.replace("\n", " ")),

    // Referential-integrity orphan audit over the replicated warehouse:
    // parents pruned by deterministic retention predicates (the CDC
    // delete/TTL shape) so the audit has real orphans to count — one
    // LEFT-join pass per relation, dimension parents broadcast.
    Gate("ri_orphan_audit", (s, dir) =>
      graft.recon.Integrity.orphanAudit(Seq(
        ("orders->customer", Tables.orders(s, dir), Seq("o_custkey"),
          Tables.customer(s, dir).filter(col("c_custkey") % 7 =!= 0),
          Seq("c_custkey")),
        ("lineitem->orders", Tables.lineitem(s, dir), Seq("l_orderkey"),
          Tables.orders(s, dir), Seq("o_orderkey")),
        ("lineitem->part", Tables.lineitem(s, dir), Seq("l_partkey"),
          Tables.part(s, dir).filter(col("p_partkey") % 3 =!= 0),
          Seq("p_partkey")),
        ("lineitem->supplier", Tables.lineitem(s, dir), Seq("l_suppkey"),
          Tables.supplier(s, dir).filter(col("s_suppkey") % 5 =!= 0),
          Seq("s_suppkey")),
        ("customer->nation", Tables.customer(s, dir), Seq("c_nationkey"),
          Tables.nation(s, dir), Seq("n_nationkey")))),
      {
        def leg(name: String, childSql: String, ck: String,
            parentSql: String, pk: String): String =
          s"""SELECT '$name' AS relation, count(*) AS n_child,
             |  CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_orphans,
             |  (1000 * CAST(sum(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT)) // count(*) AS orphan_permille
             |FROM ($childSql) c LEFT JOIN
             |  (SELECT DISTINCT $pk FROM ($parentSql)) p ON c.$ck = p.$pk"""
            .stripMargin
        Seq(
          leg("orders->customer", "SELECT * FROM orders", "o_custkey",
            "SELECT * FROM customer WHERE c_custkey % 7 <> 0", "c_custkey"),
          leg("lineitem->orders", "SELECT * FROM lineitem", "l_orderkey",
            "SELECT * FROM orders", "o_orderkey"),
          leg("lineitem->part", "SELECT * FROM lineitem", "l_partkey",
            "SELECT * FROM part WHERE p_partkey % 3 <> 0", "p_partkey"),
          leg("lineitem->supplier", "SELECT * FROM lineitem", "l_suppkey",
            "SELECT * FROM supplier WHERE s_suppkey % 5 <> 0", "s_suppkey"),
          leg("customer->nation", "SELECT * FROM customer", "c_nationkey",
            "SELECT * FROM nation", "n_nationkey"))
          .mkString(" UNION ALL ").replace("\n", " ")
      }),

    // Lost-range detection over the CDC sequence: deterministic
    // retention predicates carve gaps out of the event-id space, and
    // the audit reports the top-20 lost RANGES (not just a count) —
    // bucket-decomposed so nothing corpus-sized globally sorts. The
    // oracle computes the same ranges with the naive full-sequence lag,
    // proving the decomposition exact.
    Gate("cdc_gap_ranges", (s, dir) =>
      graft.recon.Completeness.gapRanges(
        Tables.events(s, dir).filter(col("event_id") % 97 =!= 13 &&
          expr("((event_id div 64) % 50)") =!= 7),
        col("event_id"), topK = 20, bucketSize = 4096),
      """WITH ids AS (SELECT DISTINCT event_id AS id FROM events
        |  WHERE event_id % 97 <> 13 AND ((event_id // 64) % 50) <> 7),
        |g AS (SELECT lag(id) OVER (ORDER BY id) AS p, id FROM ids)
        |SELECT p + 1 AS gap_start, id - 1 AS gap_end, id - p - 1 AS gap_len
        |FROM g WHERE p IS NOT NULL AND id > p + 1
        |ORDER BY gap_len DESC, gap_start LIMIT 20"""
        .stripMargin.replace("\n", " ")),

    // Duplicate-delivery profile: two deterministic redelivery slices
    // unioned onto the stream (the at-least-once shape), audited per
    // event type — redelivery rate, worst id, extra-row per-mille.
    Gate("cdc_dup_delivery", (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.recon.Completeness.duplicateDeliveryAudit(
        ev.unionByName(ev.filter(col("event_id") % 11 === 3))
          .unionByName(ev.filter(col("event_id") % 101 === 5)),
        col("event_id"), "event_type")
    },
      """WITH r AS (SELECT event_type, event_id FROM events
        |  UNION ALL SELECT event_type, event_id FROM events
        |    WHERE event_id % 11 = 3
        |  UNION ALL SELECT event_type, event_id FROM events
        |    WHERE event_id % 101 = 5),
        |c AS (SELECT event_type, event_id, count(*) AS c
        |  FROM r GROUP BY 1, 2)
        |SELECT event_type, CAST(sum(c) AS BIGINT) AS n_rows,
        |  count(*) AS n_ids,
        |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_ids,
        |  CAST(sum(c - 1) AS BIGINT) AS n_extra_rows,
        |  CAST(max(c) AS BIGINT) AS max_copies,
        |  (1000 * CAST(sum(c - 1) AS BIGINT)) // CAST(sum(c) AS BIGINT)
        |    AS dup_permille
        |FROM c GROUP BY 1""".stripMargin.replace("\n", " ")),

    // Out-of-order-arrival profile per event type: event-time
    // regressions within each user's arrival (event_id) order — the
    // watermark-sizing audit (late share, worst regression, total
    // disorder budget), integer µs end-to-end.
    Gate("event_lateness_profile", (s, dir) =>
      graft.ops.EventAnalytics.latenessProfile(Tables.events(s, dir),
        keyCol = "user_id", seqCol = "event_id", tsUsCol = "ts_us",
        groupCol = "event_type"),
      """WITH l AS (SELECT event_type, epoch_us(ts) AS ts_us,
        |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY event_id) AS prev
        |  FROM events)
        |SELECT event_type, count(*) AS n_events, count(prev) AS n_pairs,
        |  CAST(sum(CASE WHEN ts_us < prev THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_late,
        |  CAST(max(CASE WHEN ts_us < prev THEN prev - ts_us ELSE 0 END)
        |    AS BIGINT) AS max_regression_us,
        |  CAST(sum(CASE WHEN ts_us < prev THEN prev - ts_us ELSE 0 END)
        |    AS BIGINT) AS total_regression_us,
        |  CASE WHEN count(prev) = 0 THEN 0
        |       ELSE (1000 * CAST(sum(CASE WHEN ts_us < prev THEN 1 ELSE 0
        |         END) AS BIGINT)) // count(prev) END AS late_permille
        |FROM l GROUP BY 1""".stripMargin.replace("\n", " "))
  )
}
