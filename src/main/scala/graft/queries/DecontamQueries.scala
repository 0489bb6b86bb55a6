package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Decontam, Similarity}

/** Train/eval decontamination gates: n-gram overlap with and without
  * a Bloom prefilter, clean and trimmed corpora, span trimming, the
  * multi-eval and per-eval reports, and the embedding-space leg (the
  * semantic twin of the n-gram family). Integer-exact arithmetic is
  * shared constant-for-constant with the DuckDB SQL.
  */
object DecontamQueries {
  import RetrievalQueries.{quantDuck, vecCtes}

  /** Cosine threshold for semantic contamination. The fixture
    * embeddings are uniform random (cross-split max cosine ≈ 0.43—0.51
    * across the SFs), so 0.30 is what yields a non-trivial flagged set;
    * a production run on real embeddings would sit at ~0.9+.
    */
  private val SemThreshold = 0.30

  /** Every 20th vector plays the eval set — register-sized by
    * construction at any SF (5% of the table), the broadcast contract.
    */
  private val EvalMod = 20

  def gates: Seq[Gate] = Seq(
    // decontamination: docs from the training split (source <> src0)
    // sharing any word-3-gram with the held-out split (source = src0);
    // eval-side grams present in >20 eval docs dropped as boilerplate
    Gate("decontam_overlap", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.overlapReport(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, maxGramEvalDf = 20)
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, source, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |shh AS (SELECT DISTINCT doc_id, source,
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh),
        |corp AS (SELECT doc_id, h FROM shh WHERE source <> 'src0'),
        |ev AS (SELECT doc_id AS eval_id, h FROM shh WHERE source = 'src0'),
        |evk AS (SELECT eval_id, h FROM ev WHERE h IN
        |  (SELECT h FROM ev GROUP BY h HAVING count(*) <= 20)),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id),
        |hits AS (SELECT c.doc_id, count(DISTINCT c.h) AS n_hits,
        |    count(DISTINCT e.eval_id) AS n_eval_docs
        |  FROM corp c JOIN evk e ON c.h = e.h GROUP BY c.doc_id)
        |SELECT h.doc_id, n_hits, n_eval_docs, s.n_grams,
        |  n_hits * 1000 // s.n_grams AS hit_permille
        |FROM hits h JOIN sizes s ON h.doc_id = s.doc_id"""
        .stripMargin.replace("\n", " ")),

    // Bloom pre-filter for the overlap join (5-grams, where real
    // contamination is rare): the eval gram set compressed to a 2^20-bit
    // filter probes every corpus gram map-side — per source, candidate
    // docs next to the exact contaminated count. Candidates ⊇
    // contaminated ALWAYS (no false negatives); the FP column is the
    // price of never broadcasting the raw gram set.
    Gate("decontam_bloom_prefilter", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.bloomPrefilterAudit(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 5, groupCol = "source")
    },
      {
        import graft.sketch.Bloom
        val m = 1 << 20
        def pos(i: Int) = Bloom.positionSqlDuck("h", i, m)
        val bitTest = s"(w._bits & ${Bloom.shift1SqlDuck("p % 64")}) <> 0"
        val keyPs = (0 until 3)
          .map(i => s"SELECT ${pos(i)} AS p FROM ev").mkString(" UNION ALL ")
        val evPs = (0 until 3)
          .map(i => s"SELECT doc_id, source, h, ${pos(i)} AS p FROM corp")
          .mkString(" UNION ALL ")
        s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
           |    FROM documents),
           |sh AS (SELECT doc_id, source,
           |    concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS sh
           |  FROM toks, UNNEST(range(1, len(t)-3)) AS r(i) WHERE len(t) >= 5),
           |shh AS (SELECT DISTINCT doc_id, source,
           |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh),
           |corp AS (SELECT doc_id, source, h FROM shh WHERE source <> 'src0'),
           |ev AS (SELECT DISTINCT h FROM shh WHERE source = 'src0'),
           |ps AS ($keyPs),
           |w AS (SELECT p // 64 AS _word,
           |    bit_or(${Bloom.shift1SqlDuck("p % 64")}) AS _bits
           |  FROM ps GROUP BY 1),
           |ep AS ($evPs),
           |gb AS (SELECT doc_id, source, h,
           |    sum(CASE WHEN w._bits IS NOT NULL AND $bitTest
           |      THEN 1 ELSE 0 END) AS nb
           |  FROM ep LEFT JOIN w ON w._word = p // 64
           |  GROUP BY doc_id, source, h),
           |pd AS (SELECT doc_id, any_value(source) AS source,
           |    max(CASE WHEN nb = 3 THEN 1 ELSE 0 END) AS c
           |  FROM gb GROUP BY doc_id),
           |ct AS (SELECT doc_id,
           |    max(CASE WHEN h IN (SELECT h FROM ev) THEN 1 ELSE 0 END) AS t
           |  FROM corp GROUP BY doc_id)
           |SELECT pd.source, count(*) AS n_docs,
           |  CAST(sum(c) AS BIGINT) AS n_candidates,
           |  CAST(sum(t) AS BIGINT) AS n_contaminated,
           |  CAST(sum(c) - sum(t) AS BIGINT) AS n_false_pos
           |FROM pd JOIN ct USING (doc_id) GROUP BY pd.source"""
          .stripMargin.replace("\n", " ")
      }),

    // the clean training split after decontamination at 100‰ containment
    Gate("decontam_clean", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.decontaminate(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, minHitPermille = 100, maxGramEvalDf = 20)
        .select("doc_id", "source")
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, source, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |shh AS (SELECT DISTINCT doc_id, source,
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh),
        |corp AS (SELECT doc_id, h FROM shh WHERE source <> 'src0'),
        |ev AS (SELECT doc_id AS eval_id, h FROM shh WHERE source = 'src0'),
        |evk AS (SELECT eval_id, h FROM ev WHERE h IN
        |  (SELECT h FROM ev GROUP BY h HAVING count(*) <= 20)),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id),
        |hits AS (SELECT c.doc_id, count(DISTINCT c.h) AS n_hits
        |  FROM corp c JOIN evk e ON c.h = e.h GROUP BY c.doc_id),
        |flagged AS (SELECT h.doc_id FROM hits h JOIN sizes s ON h.doc_id = s.doc_id
        |  WHERE n_hits * 1000 // s.n_grams >= 100)
        |SELECT doc_id, source FROM documents
        |WHERE source <> 'src0' AND doc_id NOT IN (SELECT doc_id FROM flagged)"""
        .stripMargin.replace("\n", " ")),

    // eval-integrity view: per held-out doc, leakage into the train split
    Gate("decontam_eval_report", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.evalContaminationReport(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3)
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, source, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |shh AS (SELECT DISTINCT doc_id, source,
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh),
        |corp AS (SELECT doc_id, h FROM shh WHERE source <> 'src0'),
        |ev AS (SELECT doc_id AS eval_id, h FROM shh WHERE source = 'src0'),
        |sizes AS (SELECT eval_id, count(*) AS n_grams FROM ev GROUP BY eval_id),
        |hits AS (SELECT e.eval_id, count(DISTINCT e.h) AS n_leaked,
        |    count(DISTINCT c.doc_id) AS n_train_docs
        |  FROM corp c JOIN ev e ON c.h = e.h GROUP BY e.eval_id)
        |SELECT h.eval_id, n_leaked, n_train_docs, s.n_grams,
        |  n_leaked * 1000 // s.n_grams AS leak_permille
        |FROM hits h JOIN sizes s ON h.eval_id = s.eval_id"""
        .stripMargin.replace("\n", " ")),

    // surgical decontamination: trim the contaminated 3-gram span out of
    // each training doc (eval = the src0 held-out split, boilerplate cap
    // 20 like decontam_clean) instead of dropping the whole doc
    Gate("decontam_trim", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Decontam.trimContaminated(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, maxGramEvalDf = 20)
        .select("doc_id", "source", "text")
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, source, i AS start, array_to_string(t[i:i+2], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i) WHERE len(t) >= 3),
        |wh AS (SELECT doc_id, source, start,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
        |evg AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM wh WHERE source = 'src0')
        |  GROUP BY h HAVING count(*) <= 20),
        |hit AS (SELECT doc_id, min(start) AS first_hit, max(start) AS last_hit
        |  FROM wh WHERE source <> 'src0' AND h IN (SELECT h FROM evg) GROUP BY 1),
        |trimmed AS (SELECT d.doc_id, d.source, hit.first_hit,
        |  CASE WHEN first_hit IS NULL THEN d.text
        |    ELSE array_to_string(list_concat(tk.t[1:first_hit - 1],
        |      tk.t[last_hit + 3:]), ' ') END AS text
        |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
        |  LEFT JOIN hit ON d.doc_id = hit.doc_id
        |  WHERE d.source <> 'src0')
        |SELECT doc_id, source, text FROM trimmed
        |WHERE first_hit IS NULL OR len(text) > 0"""
        .stripMargin.replace("\n", " ")),

    // Per-span surgical decontamination (the island/gap upgrade over
    // decontam_trim's hull): only the contaminated islands are cut, so
    // clean text BETWEEN two quoted eval snippets survives. Same eval
    // split/cap as decontam_trim for comparability.
    Gate("decontam_trim_spans", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Decontam.trimContaminatedSpans(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", n = 3, maxGramEvalDf = 20)
        .select("doc_id", "source", "text")
    },
      // gaps-and-islands over hit starts: break when the next window
      // starts more than n (=3, mergeGap 0) past the previous start; the
      // kept text is the ordered tokens outside every island span
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |w AS (SELECT doc_id, source, i AS start, array_to_string(t[i:i+2], ' ') AS w
        |  FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i) WHERE len(t) >= 3),
        |wh AS (SELECT doc_id, source, start,
        |  CAST(concat('0x', substr(md5(w), 1, 8)) AS BIGINT) AS h FROM w),
        |evg AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM wh WHERE source = 'src0')
        |  GROUP BY h HAVING count(*) <= 20),
        |hit AS (SELECT doc_id, start FROM wh
        |  WHERE source <> 'src0' AND h IN (SELECT h FROM evg)),
        |brk AS (SELECT doc_id, start,
        |  CASE WHEN lag(start) OVER (PARTITION BY doc_id ORDER BY start) IS NULL
        |    OR start > lag(start) OVER (PARTITION BY doc_id ORDER BY start) + 3
        |    THEN 1 ELSE 0 END AS b FROM hit),
        |isl AS (SELECT doc_id, start, sum(b) OVER (PARTITION BY doc_id
        |  ORDER BY start ROWS UNBOUNDED PRECEDING) AS g FROM brk),
        |spans AS (SELECT doc_id, g, min(start) AS s, max(start) + 2 AS e
        |  FROM isl GROUP BY doc_id, g),
        |tp AS (SELECT doc_id, source, p, t[p] AS tok
        |  FROM toks, UNNEST(range(1, len(t) + 1)) AS r(p) WHERE source <> 'src0'),
        |kept AS (SELECT tp.doc_id, array_to_string(list(tp.tok ORDER BY tp.p), ' ') AS text
        |  FROM tp WHERE NOT EXISTS (SELECT 1 FROM spans sp
        |    WHERE sp.doc_id = tp.doc_id AND tp.p BETWEEN sp.s AND sp.e)
        |  GROUP BY tp.doc_id),
        |sd AS (SELECT DISTINCT doc_id FROM spans)
        |SELECT d.doc_id, d.source,
        |  CASE WHEN sd.doc_id IS NULL THEN d.text ELSE k.text END AS text
        |FROM documents d
        |LEFT JOIN sd ON d.doc_id = sd.doc_id
        |LEFT JOIN kept k ON d.doc_id = k.doc_id
        |WHERE d.source <> 'src0'
        |  AND (sd.doc_id IS NULL OR (k.text IS NOT NULL AND len(k.text) > 0))"""
        .stripMargin.replace("\n", " ")),

    // Multi-eval contamination matrix: src0 and src1 as two eval suites
    // screened against the rest of the corpus in ONE postings pass —
    // per (doc, suite) overlap with the same per-suite boilerplate cap
    // decontam_overlap uses.
    Gate("decontam_multi_eval", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Decontam.overlapMatrix(
        docs.filter(!col("source").isin("src0", "src1")),
        docs.filter(col("source").isin("src0", "src1")),
        "doc_id", "text", "source", n = 3, maxGramEvalDf = 20)
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id, source, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |shh AS (SELECT DISTINCT doc_id, source,
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh),
        |corp AS (SELECT doc_id, h FROM shh WHERE source NOT IN ('src0', 'src1')),
        |ev AS (SELECT doc_id AS eval_id, source AS eval_set, h FROM shh
        |  WHERE source IN ('src0', 'src1')),
        |cap AS (SELECT eval_set, h FROM ev GROUP BY eval_set, h
        |  HAVING count(DISTINCT eval_id) <= 20),
        |hits AS (SELECT c.doc_id, e.eval_set, count(DISTINCT c.h) AS n_hits
        |  FROM corp c JOIN cap e ON c.h = e.h GROUP BY 1, 2),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY doc_id)
        |SELECT h.doc_id, h.eval_set, n_hits, s.n_grams,
        |  n_hits * 1000 // s.n_grams AS hit_permille
        |FROM hits h JOIN sizes s ON h.doc_id = s.doc_id"""
        .stripMargin.replace("\n", " ")),

    // Semantic decontamination report: corpus vectors whose cosine
    // against ANY eval vector reaches the threshold — the
    // embedding-space contamination n-gram overlap cannot see
    // (paraphrased/translated benchmark twins). Eval side broadcasts;
    // the corpus is touched once map-side.
    Gate("decontam_embedding", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Decontam.embeddingOverlapReport(
        emb.filter(col("vec_id") % EvalMod =!= 0),
        emb.filter(col("vec_id") % EvalMod === 0),
        threshold = SemThreshold)
    },
      s"""WITH $vecCtes,
         |c AS (SELECT * FROM n WHERE vec_id % $EvalMod <> 0),
         |ev AS (SELECT vec_id AS eval_id, qv AS evv, nrm AS ne FROM n
         |  WHERE vec_id % $EvalMod = 0),
         |p AS (SELECT c.vec_id, eval_id,
         |    ${Similarity.dotQSqlDuck("c.qv", "ev.evv")} AS dot,
         |    c.nrm AS nv, ev.ne FROM c CROSS JOIN ev),
         |s AS (SELECT vec_id, eval_id, CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(ne AS DOUBLE))) AS cos
         |  FROM p)
         |SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
         |  max(cos) AS max_cos
         |FROM s WHERE cos >= $SemThreshold GROUP BY 1"""
        .stripMargin.replace("\n", " ")),

    // The semantically-clean corpus: the anti-join composition over the
    // same report (kept columns bounded: id + label).
    Gate("decontam_embedding_clean", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Decontam.decontaminateSemantic(
        emb.filter(col("vec_id") % EvalMod =!= 0),
        emb.filter(col("vec_id") % EvalMod === 0),
        threshold = SemThreshold)
        .select("vec_id", "label")
    },
      s"""WITH $vecCtes,
         |c AS (SELECT * FROM n WHERE vec_id % $EvalMod <> 0),
         |ev AS (SELECT vec_id AS eval_id, qv AS evv, nrm AS ne FROM n
         |  WHERE vec_id % $EvalMod = 0),
         |p AS (SELECT c.vec_id,
         |    ${Similarity.dotQSqlDuck("c.qv", "ev.evv")} AS dot,
         |    c.nrm AS nv, ev.ne FROM c CROSS JOIN ev),
         |flagged AS (SELECT DISTINCT vec_id FROM p
         |  WHERE CAST(dot AS DOUBLE) /
         |    (sqrt(CAST(nv AS DOUBLE)) * sqrt(CAST(ne AS DOUBLE)))
         |    >= $SemThreshold)
         |SELECT e.vec_id, e.label FROM embeddings e
         |WHERE e.vec_id % $EvalMod <> 0
         |  AND e.vec_id NOT IN (SELECT vec_id FROM flagged)"""
        .stripMargin.replace("\n", " "))
  )
}
