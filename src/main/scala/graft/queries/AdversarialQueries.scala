package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Adversarial, Dedup}
import graft.ops.{EventOps, Lww}

/** Adversarial-corpus gates (round-17 verdict #5): the hot-key-cap and
  * salting disciplines exercised against the distributions they exist
  * for — 80% boilerplate text, Zipf-hot event keys — with DuckDB
  * oracles that apply the SAME derivation and the SAME caps, so "the
  * cap engages AND the result is still exactly right" is
  * driver-checked, not argued. The three gates also ride the
  * heavy-list audits (ScaleAudit width, SkewAudit balance, BytesAudit
  * cross-SF volume), giving every audit family an adversarial section.
  *
  * Derivation parity note: doc-unique suffix tokens are built by string
  * concatenation of `doc_id` — Spark `concat` on a BIGINT column and
  * DuckDB `||` both render the plain decimal form, and the template is
  * ASCII single-spaced, so `string_split(text, ' ')` tokenizes
  * byte-identically in both engines.
  */
object AdversarialQueries {

  /** DuckDB twin of [[Adversarial.documents]]. */
  private[queries] val advDocsCte: String = {
    def g(base: String, n: Int) =
      (1 to n).map(j => s"'g' || $base || '_$j'").mkString(" || ' ' || ")
    s"""advdocs AS (SELECT doc_id,
       |  CASE WHEN doc_id % 100 = 8 THEN ${g("doc_id", 10)}
       |  WHEN doc_id % 100 = 9 THEN ${g("(doc_id - 1)", 9)} || ' x' || doc_id
       |  WHEN doc_id % 10 < 8 THEN '${Adversarial.Boilerplate}'
       |    || ' u' || doc_id || '_0 u' || doc_id || '_1 u' || doc_id
       |    || '_2 u' || doc_id || '_3 u' || doc_id || '_4'
       |  ELSE text END AS text FROM documents)"""
      .stripMargin.replace("\n", " ")
  }

  /** DuckDB twin of [[Adversarial.events]] (epoch-µs ts, cents value —
    * the cdc_lww_latest parity rules).
    */
  private val advEventsCte: String =
    """advev AS (SELECT event_id, epoch_us(ts) AS ts_us,
      |  CASE WHEN event_id % 10 < 8 THEN user_id % 3 ELSE user_id END AS user_id,
      |  event_type, CAST(round(value*100, 0) AS BIGINT) AS value_cents
      |  FROM events)"""
      .stripMargin.replace("\n", " ")

  /** Shingle-hash postings over the adversarial corpus (the
    * DedupQueries.shingleHashCte shape, sourced from advdocs).
    */
  private val advShingleHashCte: String =
    advDocsCte +
      """, toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM advdocs),
        |sh AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |shh AS (SELECT DISTINCT doc_id,
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh)"""
      .stripMargin.replace("\n", " ")

  def gates: Seq[Gate] = Seq(
    // n-gram Jaccard under 80% boilerplate: every template shingle sits
    // in 0.8·N docs; maxShingleDocFreq=50 must drop them BEFORE the
    // postings self-join (uncapped: ~(0.8N)²/2 pairs — quadratic), after
    // which candidates come only from the benign tail's organic overlap.
    Gate("adv_dedup_ngram_jaccard", (s, dir) =>
      Dedup.jaccardPairs(Adversarial.documents(Tables.documents(s, dir)),
        "doc_id", "text", n = 3, thresholdNum = 7, thresholdDen = 10,
        maxShingleDocFreq = 50),
      s"""WITH $advShingleHashCte,
         |kept AS (SELECT doc_id, h FROM shh WHERE h IN
         |  (SELECT h FROM shh GROUP BY h HAVING count(*) <= 50)),
         |sizes AS (SELECT doc_id, count(*) AS n_sh FROM kept GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
         |  FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, inter, sa.n_sh + sb.n_sh - inter AS uni
         |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
         |WHERE inter * 10 >= (sa.n_sh + sb.n_sh - inter) * 7"""
        .stripMargin.replace("\n", " ")),

    // exact-substring window profile under the same corpus — the
    // UNCAPPED hot-postings path: template windows legitimately count
    // (nd ≈ 0.8·N), and volume stays linear because postings are
    // per-window rows joined on h (Σ windows·docs), never doc pairs.
    Gate("adv_dedup_window_profile", (s, dir) =>
      Dedup.windowDupProfile(Adversarial.documents(Tables.documents(s, dir)),
        "doc_id", "text", n = 8),
      s"""WITH $advDocsCte,
         |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM advdocs),
         |w AS (SELECT doc_id, i AS start, array_to_string(t[i:i+7], ' ') AS w
         |  FROM toks, UNNEST(range(1, len(t) - 6)) AS r(i) WHERE len(t) >= 8),
         |wh AS (SELECT doc_id, start,
         |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
         |duph AS (SELECT h FROM wh GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |tot AS (SELECT doc_id, count(*) AS n_windows FROM wh GROUP BY 1),
         |dup AS (SELECT doc_id, count(*) AS n_dup_windows,
         |    min(start) AS first_dup, max(start) AS last_dup
         |  FROM wh WHERE h IN (SELECT h FROM duph) GROUP BY 1)
         |SELECT t.doc_id, n_windows, coalesce(n_dup_windows, 0) AS n_dup_windows,
         |  first_dup, last_dup,
         |  coalesce(n_dup_windows, 0) * 1000 // n_windows AS dup_permille
         |FROM tot t LEFT JOIN dup d ON t.doc_id = d.doc_id"""
        .stripMargin.replace("\n", " ")),

    // LWW fold with three keys owning 80% of the log: the salted
    // two-phase max_by must return bit-identical state to the plain
    // fold (the oracle) while no reducer sees a whole hot key.
    Gate("adv_lww_latest_salted", (s, dir) =>
      Lww.latestPerKeySalted(
        Adversarial.events(Tables.events(s, dir)).select(
          col("user_id"), col("event_id"), col("ts_us"), col("event_type"),
          EventOps.cents(col("value")).as("value_cents")),
        Seq("user_id"), Seq(col("ts_us"), col("event_id"))),
      s"""WITH $advEventsCte
         |SELECT user_id, event_id, ts_us, event_type, value_cents FROM (
         |  SELECT user_id, event_id, ts_us, event_type, value_cents,
         |    row_number() OVER (PARTITION BY user_id
         |                       ORDER BY ts_us DESC, event_id DESC) AS rn
         |  FROM advev) WHERE rn = 1"""
        .stripMargin.replace("\n", " "))
  )
}
