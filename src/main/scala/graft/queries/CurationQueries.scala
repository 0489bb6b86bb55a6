package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Curation, Dedup, Packing, QualityRules, Sampling, Shuffling, Similarity, TextAnalysis}
import graft.ops.TableProfile

/** Corpus curation gates — deciding what to train on and auditing the
  * decision: mixing weights (token, temperature, epoch plan), DSIR
  * importance weights, sequence packing, sampling, leakage-free splits,
  * curricula, shuffling and sharding, source-reputation and C4 line
  * filters, budgeted and cluster-balanced selection, novelty scoring,
  * and the composed curation pipelines (`corpus_curated` … `_v7`) with
  * their funnel. Constants are shared fields referenced by both the
  * Spark plan and the rendered oracle.
  *
  * The fixture corpus is single-line punctuation-free text, so the
  * line-level C4 gate builds its multi-line documents IN-QUERY from
  * neighboring docs' texts with deterministic punctuation suffixes —
  * the identical construction in both engines (the `pii_scrub` splice
  * pattern); the operator under test sees genuine multi-line docs with
  * genuinely varying line verdicts.
  */
object CurationQueries {
  import RetrievalQueries.quantDuck

  private val TrainPermille = 800 // cluster-split thresholds
  private val ValPermille = 100

  private val EpochBudget = 100000L // tokens; >> corpus so epochs > 1000‰
  private val MinSrcPermille = 500L // source-reputation floor (the
  // fixture's per-source diversity means span ~450-560‰, so 500 divides
  // the sources non-trivially at both gate scales)

  private val TokenBudget = 6000L // greedy fill target (corpus sf0.01
  // carries ~27k tokens, sf0.1 ~271k — the budget binds at both scales)

  private val NoveltyN = 3 // word-n-gram order for the novelty profile

  private val V3MinSrc = 500L  // curateV3: reputation floor (splits the
  private val V3Budget = 3000L // fixture sources) and a budget that
  // binds at both gate scales (survivors carry 8.4k / 107k tokens)
  private val V3Stops = Seq("the", "a") // fixture-tuned Gopher stoplist
  // (the corpus_curated_v2 constant)
  private val V5MinScore = 350L // curateV5 classifier operating point:
  // the fixture's stub-score median is ~330, so 350 keeps ~43% — the
  // threshold genuinely bites without starving the budget/packing tail
  private val V7MinScore = 300L // curateV7: the TRAINED head's operating
  // point, read off the score distribution of the population it
  // actually gates (the post-Gopher keep set — medians 274–308, p75
  // 311–338 across all four fixture realizations), exactly how
  // V6MinScore was chosen for the frozen head. The gentle
  // size-normalized step leaves margins uncalibrated (AUC 0.96 but all
  // mass below the nominal 500 midpoint), so the nominal margin-0
  // threshold would keep nothing — a real curation run reads its cut
  // off operatingPoints, and 300 drops roughly the bottom half here.
  private val V6MinScore = 510L // curateV6: the n-gram HEAD's operating
  // point — the head's fixture scores span 416..595 with median 510, so
  // the real-model gate kills roughly half the post-Gopher survivors

  private val BalanceCentroids = 16 // the ann_ivf_topk geometry
  private val CapPerCell = 8        // diversity cap: ≤8 vectors per cell

  private val PhaseCuts = Seq(250L, 500L, 750L) // declared quality-phase
  // boundaries (integer per-mille score domain)

  private val EcdfCuts = Seq(334L, 667L) // rank-band curriculum cuts:
  // bottom / middle / top thirds of the score distribution

  def gates: Seq[Gate] = Seq(
    // deterministic curation sampling: 20% of en, 10% of everything else
    Gate("sample_stratified", (s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        rates = Map("en" -> 200), defaultPermille = 100)
        .select("doc_id", "lang", "source"),
      """SELECT doc_id, lang, source FROM documents
        |WHERE CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000
        |  < CASE WHEN lang = 'en' THEN 200 ELSE 100 END"""
        .stripMargin.replace("\n", " ")),

    // exact 5 exemplars per source, hash-ordered (WindowGroupLimit path)
    Gate("sample_topk_per_source", (s, dir) =>
      Sampling.exactKPerStratum(Tables.documents(s, dir), "doc_id", "source", k = 5)
        .select("doc_id", "source", "rk"),
      """WITH r AS (SELECT doc_id, source, row_number() OVER (
        |  PARTITION BY source ORDER BY
        |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000,
        |    doc_id) AS rk FROM documents)
        |SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM r WHERE rk <= 5"""
        .stripMargin.replace("\n", " ")),

    // mixing: cap every source at 800 tokens → per-source keep rates
    // (sources run ~1.3k tokens at sf0.01, so the cap genuinely binds)
    Gate("mix_token_weights", (s, dir) =>
      Sampling.mixWeights(Tables.documents(s, dir), "source",
        TextAnalysis.tokenCount(col("text")), tokenBudget = 800L),
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  least(CAST(1000 AS BIGINT),
        |    800 * 1000 // CAST(sum(len(string_split(text, ' '))) AS BIGINT)) AS rate_permille
        |FROM documents GROUP BY source""".stripMargin.replace("\n", " ")),

    // packing: greedy first-fit into 128-token bins per source, id order
    Gate("pack_sequences", (s, dir) =>
      Packing.packGreedy(Tables.documents(s, dir), "doc_id", "source",
        TextAnalysis.tokenCount(col("text")), tokenBudget = 128L)
        .select(col("doc_id"), col("grp").as("source"),
          col("n_tokens"), col("bin_idx")),
      // the sequential first-fit fold, replayed row-by-row per source via
      // a recursive CTE stepping rn -> rn+1 carrying (bin, fill)
      """WITH RECURSIVE toks AS (SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS n_tokens FROM documents),
        |t AS (SELECT source, doc_id, n_tokens, row_number() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS rn FROM toks),
        |p(source, rn, doc_id, n_tokens, bin_idx, fill) AS (
        |  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
        |    CAST(n_tokens AS BIGINT) FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.bin_idx ELSE p.bin_idx + 1 END,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.fill + t.n_tokens
        |         ELSE CAST(t.n_tokens AS BIGINT) END
        |  FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1)
        |SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens, bin_idx
        |FROM p""".stripMargin.replace("\n", " ")),

    // deterministic training-order shuffle + 8-way round-robin sharding
    Gate("corpus_shuffle", (s, dir) =>
      Shuffling.deterministicShuffle(Tables.documents(s, dir), "doc_id",
        numShards = 8),
      """WITH h AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hh
        |  FROM documents),
        |p AS (SELECT doc_id, row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos FROM h)
        |SELECT doc_id, pos, pos % 8 AS shard FROM p""".stripMargin.replace("\n", " ")),

    // per-shard integrity manifest over the same permutation — the
    // verify-after-copy artifact (count + order-independent content sum)
    Gate("corpus_shard_manifest", (s, dir) =>
      Shuffling.shardManifest(Tables.documents(s, dir), "doc_id",
        col("text"), numShards = 8),
      """WITH h AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hh
        |  FROM documents),
        |p AS (SELECT doc_id, row_number() OVER (ORDER BY hh, doc_id) - 1 AS pos FROM h),
        |sh AS (SELECT doc_id, pos, pos % 8 AS shard FROM p),
        |c AS (SELECT doc_id,
        |  CAST(concat('0x', substr(md5(text), 1, 8)) AS BIGINT) AS ch
        |  FROM documents)
        |SELECT sh.shard, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(c.ch) AS BIGINT) AS content_sum,
        |  min(sh.pos) AS min_pos, max(sh.pos) AS max_pos
        |FROM sh JOIN c ON sh.doc_id = c.doc_id
        |GROUP BY sh.shard""".stripMargin.replace("\n", " ")),

    // composite quality filter: C4/Gopher-style keep/drop with first
    // failing rule as the reason (thresholds chosen to bind on the
    // fixture: tokens in [20,90], >=350‰ unique, <=150‰ top token)
    Gate("corpus_quality_filter", (s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir), "doc_id", "text",
        minTokens = 20, maxTokens = 90, minUniqPermille = 350,
        maxTopTokPermille = 150),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_tok_n
        |  FROM tc GROUP BY 1),
        |f AS (SELECT doc_id, n_tokens,
        |  n_distinct * 1000 // n_tokens AS uniq_permille,
        |  top_tok_n * 1000 // n_tokens AS top_tok_permille FROM ts),
        |v AS (SELECT *, CASE WHEN n_tokens < 20 THEN 'too_short'
        |    WHEN n_tokens > 90 THEN 'too_long'
        |    WHEN uniq_permille < 350 THEN 'low_diversity'
        |    WHEN top_tok_permille > 150 THEN 'repetitive'
        |    ELSE 'keep' END AS reason FROM f)
        |SELECT doc_id, n_tokens, uniq_permille, top_tok_permille, reason,
        |  reason = 'keep' AS keep FROM v""".stripMargin.replace("\n", " ")),

    // per-source corpus health: docs/tokens/quality-kept/exact-dup counts
    // (same thresholds as corpus_quality_filter)
    Gate("corpus_report", (s, dir) =>
      Curation.corpusReport(Tables.documents(s, dir), "doc_id", "text",
        "source", minTokens = 20, maxTokens = 90, minUniqPermille = 350,
        maxTopTokPermille = 150),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_tok_n
        |  FROM tc GROUP BY 1),
        |f AS (SELECT doc_id, n_tokens,
        |  NOT (n_tokens < 20 OR n_tokens > 90
        |    OR n_distinct * 1000 // n_tokens < 350
        |    OR top_tok_n * 1000 // n_tokens > 150) AS keep FROM ts),
        |h AS (SELECT doc_id, source, md5(text) AS hash FROM documents),
        |cn AS (SELECT hash, min(doc_id) AS canonical FROM h GROUP BY 1),
        |j AS (SELECT h.doc_id, h.source, h.doc_id <> cn.canonical AS is_dup
        |  FROM h JOIN cn ON h.hash = cn.hash)
        |SELECT source, count(*) AS n_docs, CAST(sum(f.n_tokens) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        |FROM j JOIN f ON j.doc_id = f.doc_id GROUP BY source"""
        .stripMargin.replace("\n", " ")),

    // bin utilization of the pack_sequences run: fill + pad per bin
    Gate("pack_bin_stats", (s, dir) =>
      Packing.binStats(
        Packing.packGreedy(Tables.documents(s, dir), "doc_id", "source",
          TextAnalysis.tokenCount(col("text")), tokenBudget = 128L),
        tokenBudget = 128L)
        .select(col("grp").as("source"), col("bin_idx"), col("n_docs"),
          col("fill_tokens"), col("pad_tokens")),
      // the pack_sequences recursive fold, aggregated per (source, bin)
      """WITH RECURSIVE toks AS (SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS n_tokens FROM documents),
        |t AS (SELECT source, doc_id, n_tokens, row_number() OVER (
        |    PARTITION BY source ORDER BY doc_id) AS rn FROM toks),
        |p(source, rn, doc_id, n_tokens, bin_idx, fill) AS (
        |  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
        |    CAST(n_tokens AS BIGINT) FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.bin_idx ELSE p.bin_idx + 1 END,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.fill + t.n_tokens
        |         ELSE CAST(t.n_tokens AS BIGINT) END
        |  FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1)
        |SELECT source, bin_idx, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS fill_tokens,
        |  greatest(CAST(0 AS BIGINT), 128 - CAST(sum(n_tokens) AS BIGINT)) AS pad_tokens
        |FROM p GROUP BY source, bin_idx""".stripMargin.replace("\n", " ")),

    // DSIR: weight the whole corpus toward the held-out split's hashed
    // unigram+bigram distribution (target = src0, the decontam split's
    // quality-reference role)
    Gate("dsir_weights", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.importanceWeights(docs, docs.filter(col("source") === "src0"),
        "doc_id", "text", numBuckets = 4096)
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |uni AS (SELECT doc_id, source, unnest(t) AS f FROM toks),
        |big AS (SELECT doc_id, source, concat_ws(' ', t[i], t[i+1]) AS f
        |  FROM toks, UNNEST(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |feats AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(f), 1, 8)) AS BIGINT) % 4096 AS b
        |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
        |p AS (SELECT b, count(*) AS pc FROM feats GROUP BY b),
        |q AS (SELECT b, count(*) AS qc FROM feats WHERE source = 'src0' GROUP BY b),
        |ratio AS (SELECT p.b,
        |  (coalesce(qc, 0) + 1) * 1000000 // (pc + 1) AS r
        |  FROM p LEFT JOIN q USING (b)),
        |w AS (SELECT doc_id, count(*) AS n_feats, CAST(sum(r) AS BIGINT) AS weight
        |  FROM feats JOIN ratio USING (b) GROUP BY doc_id)
        |SELECT doc_id, n_feats, weight, weight // n_feats AS weight_per_feat
        |FROM w""".stripMargin.replace("\n", " ")),

    // packing-budget sizing: power-of-two token-length histogram
    Gate("pack_length_histogram", (s, dir) =>
      graft.llm.Packing.lengthHistogram(Tables.documents(s, dir), "doc_id",
        TextAnalysis.tokenCount(col("text"))),
      {
        val bucket = graft.llm.Packing.bucketSql("len(string_split(text, ' '))")
        s"""SELECT $bucket AS bucket, count(*) AS n_docs,
           |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |FROM documents GROUP BY 1""".stripMargin.replace("\n", " ")
      }),

    // the FULL composed curation recipe, oracle-exact end to end:
    // quality -> exact dedup -> decontam (vs src0) -> per-source budget.
    // Same thresholds as corpus_quality_filter / corpus_report so the
    // stage oracles and the composition oracle share constants.
    Gate("corpus_curated", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Curation.curate(docs, docs.filter(col("source") === "src0"),
        "doc_id", "text", "source", minTokens = 20, maxTokens = 90,
        minUniqPermille = 350, maxTopTokPermille = 150, decontamN = 3,
        minHitPermille = 100, tokenBudgetPerSource = 400L)
        .select("doc_id", "source")
    },
      // the four stage oracles (corpus_quality_filter, dedup_exact,
      // decontam_clean, mix_token_weights + sample_stratified) composed in
      // curate()'s order, constants shared line for line
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
        |tstats AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_tok_n FROM tc GROUP BY 1),
        |kept AS (SELECT doc_id, n_tokens FROM tstats
        |  WHERE NOT (n_tokens < 20 OR n_tokens > 90
        |    OR n_distinct * 1000 // n_tokens < 350
        |    OR top_tok_n * 1000 // n_tokens > 150)),
        |kd AS (SELECT d.doc_id, d.source, d.text, k.n_tokens
        |  FROM documents d JOIN kept k USING (doc_id)),
        |canon AS (SELECT min(doc_id) AS doc_id FROM kd GROUP BY md5(text)),
        |dd AS (SELECT kd.* FROM kd JOIN canon USING (doc_id)),
        |toks3 AS (SELECT doc_id, string_split(text, ' ') AS t FROM dd),
        |sh AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM toks3, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |shh AS (SELECT DISTINCT doc_id,
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM sh),
        |etoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |  WHERE source = 'src0'),
        |esh AS (SELECT concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
        |  FROM etoks, UNNEST(range(1, len(t)-1)) AS r(i) WHERE len(t) >= 3),
        |eshh AS (SELECT DISTINCT
        |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM esh),
        |sizes AS (SELECT doc_id, count(*) AS n_grams FROM shh GROUP BY 1),
        |hits AS (SELECT s.doc_id, count(*) AS n_hits FROM shh s JOIN eshh e USING (h) GROUP BY 1),
        |flagged AS (SELECT h.doc_id FROM hits h JOIN sizes s USING (doc_id)
        |  WHERE n_hits * 1000 // s.n_grams >= 100),
        |clean AS (SELECT dd.* FROM dd
        |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
        |rates AS (SELECT source, least(CAST(1000 AS BIGINT),
        |    400 * 1000 // CAST(sum(n_tokens) AS BIGINT)) AS rate
        |  FROM clean GROUP BY source)
        |SELECT c.doc_id, c.source FROM clean c JOIN rates r USING (source)
        |WHERE CAST(concat('0x', substr(md5(CAST(c.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
        |  % 1000 < r.rate""".stripMargin.replace("\n", " ")),

    // temperature-α=½ mixing: per-source sqrt-flattened budget shares
    Gate("mix_temperature", (s, dir) =>
      Sampling.temperatureMixWeights(Tables.documents(s, dir), "source",
        graft.llm.TextAnalysis.tokenCount(col("text")), tokenBudget = 20000L),
      {
        val isq = Sampling.isqrtSqlDuck("n_tokens")
        """WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
          |  FROM documents GROUP BY source),
          |w AS (SELECT source, n_docs, n_tokens, ISQ AS w_sqrt FROM per),
          |t AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS w_total FROM w)
          |SELECT source, n_docs, n_tokens, w_sqrt,
          |  CAST(w_sqrt * 1000 // w_total AS BIGINT) AS mix_permille,
          |  CAST(least(1000, (20000 * w_sqrt // w_total) * 1000 // n_tokens) AS BIGINT)
          |    AS rate_permille
          |FROM w, t""".stripMargin.replace("\n", " ").replace("ISQ", isq)
      }),

    // C4 line rules over synthetic multi-line docs: doc s's lines are
    // source texts s..s+2 suffixed by (source id % 4) ∈ {'.', '!', '',
    // ' {'} — exercising the punctuation, brace, and word-count verdicts
    // — plus a spliced "lorem ipsum" line on every 50th doc (doc kill)
    Gate("c4_line_filter", (s, dir) =>
      QualityRules.c4LineFilter(builtLineDocs(Tables.documents(s, dir)),
        "doc_id", "text", minWords = 5),
      QualityRules.c4SqlDuck("built", minWords = 5, withCtes = lineDocsCtes)),

    // next-fit-decreasing packing: same fold as pack_sequences, length-
    // descending order — long sequences claim bins, short ones fill tails
    Gate("pack_sequences_nfd", (s, dir) =>
      graft.llm.Packing.packGreedyDecreasing(Tables.documents(s, dir),
        "doc_id", "source", graft.llm.TextAnalysis.tokenCount(col("text")),
        tokenBudget = 128L)
        .select(col("doc_id"), col("grp").as("source"), col("n_tokens"),
          col("bin_idx")),
      """WITH RECURSIVE toks AS (SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS n_tokens FROM documents),
        |t AS (SELECT source, doc_id, n_tokens, row_number() OVER (
        |    PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rn FROM toks),
        |p(source, rn, doc_id, n_tokens, bin_idx, fill) AS (
        |  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
        |    CAST(n_tokens AS BIGINT) FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.bin_idx ELSE p.bin_idx + 1 END,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.fill + t.n_tokens
        |         ELSE CAST(t.n_tokens AS BIGINT) END
        |  FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1)
        |SELECT doc_id, source, CAST(n_tokens AS INTEGER) AS n_tokens, bin_idx
        |FROM p""".stripMargin.replace("\n", " ")),

    // bin utilization of the NFD pack — the number a packing-order
    // decision is made on (vs pack_bin_stats' arrival-order fill)
    Gate("pack_bin_stats_nfd", (s, dir) =>
      graft.llm.Packing.binStats(
        graft.llm.Packing.packGreedyDecreasing(Tables.documents(s, dir),
          "doc_id", "source", graft.llm.TextAnalysis.tokenCount(col("text")),
          tokenBudget = 128L),
        tokenBudget = 128L)
        .select(col("grp").as("source"), col("bin_idx"), col("n_docs"),
          col("fill_tokens"), col("pad_tokens")),
      """WITH RECURSIVE toks AS (SELECT source, doc_id,
        |    len(string_split(text, ' ')) AS n_tokens FROM documents),
        |t AS (SELECT source, doc_id, n_tokens, row_number() OVER (
        |    PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rn FROM toks),
        |p(source, rn, doc_id, n_tokens, bin_idx, fill) AS (
        |  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
        |    CAST(n_tokens AS BIGINT) FROM t WHERE rn = 1
        |  UNION ALL
        |  SELECT t.source, t.rn, t.doc_id, t.n_tokens,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.bin_idx ELSE p.bin_idx + 1 END,
        |    CASE WHEN p.fill + t.n_tokens <= 128 THEN p.fill + t.n_tokens
        |         ELSE CAST(t.n_tokens AS BIGINT) END
        |  FROM t JOIN p ON t.source = p.source AND t.rn = p.rn + 1)
        |SELECT source, bin_idx, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS fill_tokens,
        |  greatest(CAST(0 AS BIGINT), 128 - CAST(sum(n_tokens) AS BIGINT)) AS pad_tokens
        |FROM p GROUP BY source, bin_idx""".stripMargin.replace("\n", " ")),

    // round-8 composed curation: Gopher rules (fixture-tuned stop list)
    // → paragraph dedup → exact dedup → temperature budget, end to end
    // over the synthetic 3-paragraph corpus, vs ONE composed oracle
    Gate("corpus_curated_v2", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val built = builtParaDocs(docs)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      Curation.curateV2(built, "doc_id", "text", "source",
        tokenBudget = 20000L, stopWords = Seq("the", "a"))
    },
      {
        val pd = "chr(10) || chr(10)"
        val isq = Sampling.isqrtSqlDuck("n_tokens")
        val gopherPass = QualityRules.gopherPassSqlDuck("bs", Seq("the", "a"))
        s"""WITH sh AS (SELECT d.doc_id - s.i AS doc_id, s.i AS para_no, d.text AS para
           |  FROM documents d, (SELECT unnest([0, 1, 2]) AS i) s),
           |built AS (SELECT doc_id, string_agg(para, $pd ORDER BY para_no) AS text
           |  FROM sh WHERE doc_id >= 0 GROUP BY doc_id),
           |bs AS (SELECT b.doc_id, b.text, d.source FROM built b
           |  JOIN documents d ON b.doc_id = d.doc_id),
           |gp AS ($gopherPass),
           |keep AS (SELECT bs.* FROM bs JOIN gp ON bs.doc_id = gp.doc_id),
           |paras AS (SELECT doc_id,
           |    generate_subscripts(string_split(text, $pd), 1) AS para_no,
           |    unnest(string_split(text, $pd)) AS para FROM keep),
           |pr AS (SELECT doc_id, para_no, para,
           |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, para_no) AS rn
           |  FROM paras),
           |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
           |    CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |    string_agg(CASE WHEN rn = 1 THEN para END, $pd ORDER BY para_no) AS text_kept
           |  FROM pr GROUP BY doc_id),
           |pd2 AS (SELECT * FROM agg WHERE n_kept >= 1),
           |ex AS (SELECT pd2.*, row_number() OVER (PARTITION BY md5(text_kept)
           |    ORDER BY doc_id) AS xrn FROM pd2),
           |uq AS (SELECT e.doc_id, e.n_paras, e.n_kept, e.text_kept, k.source
           |  FROM ex e JOIN keep k ON e.doc_id = k.doc_id WHERE e.xrn = 1),
           |per AS (SELECT source, CAST(sum(len(string_split(text_kept, ' '))) AS BIGINT)
           |    AS n_tokens FROM uq GROUP BY source),
           |wt AS (SELECT source, n_tokens, $isq AS w_sqrt FROM per),
           |tt AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS w_total FROM wt),
           |rt AS (SELECT source,
           |    CAST(least(1000, (20000 * w_sqrt // w_total) * 1000 // n_tokens) AS BIGINT)
           |      AS rate FROM wt, tt)
           |SELECT uq.doc_id, uq.source, uq.n_paras, uq.n_kept,
           |  md5(uq.text_kept) AS text_hash
           |FROM uq JOIN rt ON uq.source = rt.source
           |WHERE CAST(concat('0x', substr(md5(CAST(uq.doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           |  % 1000 < rt.rate""".stripMargin.replace("\n", " ")
      }),

    // incremental-ingest delta between two synthetic snapshots: old =
    // ids ∤ 7, new = ids ∤ 5 with every 11th text uppercased (changed)
    Gate("corpus_delta", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val oldSnap = docs.filter(col("doc_id") % 7 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 11 === 0, upper(col("text")))
            .otherwise(col("text")))
      Curation.snapshotDelta(oldSnap, newSnap, "doc_id", "text")
    },
      // coalesce mirrors snapshotDelta's NULL-text sentinel (no nulls in
      // the fixture, but the two engines must share the convention)
      """WITH o AS (SELECT doc_id, coalesce(md5(text), '<null>') AS old_hash
        |    FROM documents WHERE doc_id % 7 <> 0),
        |n AS (SELECT doc_id,
        |    coalesce(md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END),
        |      '<null>') AS new_hash
        |    FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, old_hash, new_hash,
        |  CASE WHEN old_hash IS NULL THEN 'added'
        |       WHEN new_hash IS NULL THEN 'removed'
        |       WHEN old_hash <> new_hash THEN 'changed'
        |       ELSE 'unchanged' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""
        .stripMargin.replace("\n", " ")),

    // Leakage-free train/val/test split: split membership decided by the
    // near-dup CLUSTER hash (LSH graph, singletons = own cluster), so a
    // doc and its near-copy can never straddle the held-out boundary.
    Gate("split_cluster_assign", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = docs.select("doc_id")
        .join(Dedup.connectedComponents(
          Dedup.lshCandidatePairs(docs, "doc_id", "text"), "doc_a", "doc_b"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      Sampling.clusterSplit(labels, "doc_id", "cluster_id",
        TrainPermille, ValPermille)
    },
      // same recursive-CTE closure as dedup_clusters / dedup_cluster_rep;
      // bucket arithmetic is the hashPermille idiom over the cluster id
      s"""WITH RECURSIVE ${DedupQueries.lshCtes}, prs AS (${DedupQueries.lshPairSelect}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst),
         |lab0 AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
         |lab AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab0 l ON d.doc_id = l.doc_id),
         |b AS (SELECT doc_id, cluster_id,
         |  CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |    % 1000 AS bucket FROM lab)
         |SELECT doc_id, cluster_id, bucket,
         |  CASE WHEN bucket < $TrainPermille THEN 'train'
         |       WHEN bucket < ${TrainPermille + ValPermille} THEN 'val'
         |       ELSE 'test' END AS split FROM b"""
        .stripMargin.replace("\n", " ")),

    // Epoch plan: milli-epochs per source to hit the token budget at
    // the n^½ temperature mix — budget >> corpus so sources repeat
    // (epochs_permille > 1000).
    Gate("mix_epoch_plan", (s, dir) =>
      Sampling.epochPlan(Tables.documents(s, dir), "source",
        graft.llm.TextAnalysis.tokenCount(col("text")), EpochBudget),
      {
        val isq = Sampling.isqrtSqlDuck("n_tokens")
        s"""WITH per AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           |  FROM documents GROUP BY source),
           |w AS (SELECT source, n_docs, n_tokens, ISQ AS w_sqrt FROM per),
           |t AS (SELECT CAST(sum(w_sqrt) AS BIGINT) AS w_total FROM w),
           |m AS (SELECT source, n_docs, n_tokens, w_sqrt,
           |    CAST(w_sqrt * 1000 // w_total AS BIGINT) AS mix_permille,
           |    CAST(least(1000, ($EpochBudget * w_sqrt // w_total) * 1000 // n_tokens) AS BIGINT)
           |      AS rate_permille
           |  FROM w, t)
           |SELECT source, n_docs, n_tokens, w_sqrt, mix_permille, rate_permille,
           |  CAST($EpochBudget * mix_permille // 1000 AS BIGINT) AS target_tokens,
           |  CAST(($EpochBudget * mix_permille // 1000) * 1000 // n_tokens AS BIGINT)
           |    AS epochs_permille
           |FROM m""".stripMargin.replace("\n", " ").replace("ISQ", isq)
      }),

    // Domain-level reputation gate: a doc survives iff its SOURCE's mean
    // lexical diversity clears the floor — corpus never exchanges, the
    // per-source table broadcasts back.
    Gate("source_reputation_filter", (s, dir) =>
      Sampling.sourceReputationFilter(Tables.documents(s, dir),
        "doc_id", "text", "source", MinSrcPermille),
      s"""WITH sc AS (SELECT doc_id, source,
         |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
         |      // len(string_split(text, ' ')) AS BIGINT) AS doc_score
         |  FROM documents),
         |bs AS (SELECT source,
         |    CAST(sum(doc_score) // count(*) AS BIGINT) AS src_score
         |  FROM sc GROUP BY source HAVING sum(doc_score) // count(*) >= $MinSrcPermille)
         |SELECT sc.doc_id, sc.source, sc.doc_score, bs.src_score
         |FROM sc JOIN bs ON sc.source = bs.source"""
        .stripMargin.replace("\n", " ")),

    // Greedy quality-ordered selection under a token budget: best docs
    // first (integer lexical-diversity score) until the budget is spent.
    // The cumulative sum is split bucket-prefix + within-bucket so no
    // global-sort window appears in the plan.
    Gate("select_token_budget", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Sampling.tokenBudgetSelect(docs, "doc_id",
        expr("size(array_distinct(split(text, ' '))) * 1000 div " +
          "size(split(text, ' '))"),
        TextAnalysis.tokenCount(col("text")), TokenBudget)
    },
      s"""WITH sc AS (SELECT doc_id,
         |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
         |      // len(string_split(text, ' ')) AS BIGINT) AS score,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM documents),
         |c AS (SELECT doc_id, score, n_tokens,
         |    CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM sc)
         |SELECT doc_id, score, n_tokens, cum_tokens FROM c
         |WHERE cum_tokens <= $TokenBudget""".stripMargin.replace("\n", " ")),

    // Content novelty of an incoming batch vs the prior corpus (src0 as
    // the prior): per-doc share of never-seen word-3-gram hashes — the
    // partial-overlap generalization of incremental exact dedup.
    Gate("novelty_score", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.noveltyProfile(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", NoveltyN)
    },
      s"""WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t
         |  FROM documents),
         |sh AS (SELECT doc_id, source,
         |    concat_ws(' ', t[i], t[i+1], t[i+2]) AS sh
         |  FROM toks, UNNEST(range(1, len(t)-1)) AS r(i)
         |  WHERE len(t) >= $NoveltyN),
         |shh AS (SELECT DISTINCT doc_id, source,
         |    CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h
         |  FROM sh),
         |prior AS (SELECT DISTINCT h FROM shh WHERE source = 'src0'),
         |inc AS (SELECT doc_id, h FROM shh WHERE source <> 'src0')
         |SELECT i.doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
         |  CAST(sum(CASE WHEN p.h IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_novel,
         |  CAST(sum(CASE WHEN p.h IS NULL THEN 1 ELSE 0 END) * 1000
         |    // count(*) AS BIGINT) AS novelty_permille
         |FROM inc i LEFT JOIN prior p ON i.h = p.h
         |GROUP BY i.doc_id""".stripMargin.replace("\n", " ")),

    // Split-proportion audit over the leakage-free cluster split: per
    // (lang, split) doc and token totals — the table that catches a
    // skewed split before training does (cluster-hash splitting only
    // approximates the 80/10/10 target; this is the check).
    Gate("split_proportions", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val labels = docs.select("doc_id")
        .join(Dedup.connectedComponents(
          Dedup.lshCandidatePairs(docs, "doc_id", "text"), "doc_a", "doc_b"),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      Sampling.clusterSplit(labels, "doc_id", "cluster_id",
        TrainPermille, ValPermille)
        .join(docs.select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("_tok")),
          Seq("doc_id"))
        .groupBy("lang", "split")
        .agg(count(lit(1)).as("n_docs"), sum("_tok").as("n_tokens"))
    },
      // the split_cluster_assign closure CTEs + lang/token rollup
      s"""WITH RECURSIVE ${DedupQueries.lshCtes}, prs AS (${DedupQueries.lshPairSelect}),
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |  UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach(v, r) AS (SELECT src, src FROM edges
         |  UNION SELECT e.src, rc.r FROM edges e JOIN reach rc ON rc.v = e.dst),
         |lab0 AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
         |lab AS (SELECT d.doc_id, coalesce(l.cluster_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN lab0 l ON d.doc_id = l.doc_id),
         |b AS (SELECT doc_id,
         |  CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT)
         |    % 1000 AS bucket FROM lab),
         |sp AS (SELECT doc_id,
         |  CASE WHEN bucket < $TrainPermille THEN 'train'
         |       WHEN bucket < ${TrainPermille + ValPermille} THEN 'val'
         |       ELSE 'test' END AS split FROM b)
         |SELECT d.lang, sp.split, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(len(string_split(d.text, ' '))) AS BIGINT) AS n_tokens
         |FROM sp JOIN documents d ON sp.doc_id = d.doc_id
         |GROUP BY d.lang, sp.split""".stripMargin.replace("\n", " ")),

    // Third composed pipeline: reputation gate → Gopher rules → exact
    // dedup → token-budget selection — the round-9 selection stages
    // proven to COMPOSE against one assembled oracle.
    Gate("corpus_curated_v3", (s, dir) =>
      graft.llm.Curation.curateV3(Tables.documents(s, dir), "doc_id",
        "text", "source", V3MinSrc, V3Budget, V3Stops),
      // reputation CTE + gopher pass + exact-dup rn + the budget cumsum
      {
        val gopherPass = graft.llm.QualityRules.gopherPassSqlDuck("qual", V3Stops)
        s"""WITH sc AS (SELECT doc_id, source,
           |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
           |      // len(string_split(text, ' ')) AS BIGINT) AS doc_score
           |  FROM documents),
           |bsrc AS (SELECT source FROM sc GROUP BY source
           |  HAVING sum(doc_score) // count(*) >= $V3MinSrc),
           |qual AS (SELECT d.doc_id, d.source, d.text FROM documents d
           |  JOIN bsrc USING (source)),
           |gp AS ($gopherPass),
           |keep AS (SELECT q.* FROM qual q JOIN gp USING (doc_id)),
           |uq AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
           |    ORDER BY doc_id) AS rn FROM keep),
           |u AS (SELECT doc_id, source, text FROM uq WHERE rn = 1),
           |s2 AS (SELECT doc_id, source, md5(text) AS text_hash,
           |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
           |      // len(string_split(text, ' ')) AS BIGINT) AS score,
           |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
           |  FROM u),
           |c AS (SELECT *, CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
           |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM s2)
           |SELECT doc_id, source, score, n_tokens, cum_tokens, text_hash
           |FROM c WHERE cum_tokens <= $V3Budget""".stripMargin.replace("\n", " ")
      }),

    // Fourth composed pipeline — the END-TO-END training-set assembly:
    // reputation gate → eval-set decontamination (src0 as the eval
    // suite) → Gopher rules → exact dedup → token-budget selection →
    // next-fit-decreasing packing into 128-token bins. One assembled
    // oracle proves all six stages compose. Decontam runs on 5-grams
    // here: the fixture's 31-word vocab makes 3-grams collide so hard
    // at sf0.1 that a 100-permille containment gate flags 2989/3000
    // docs — the n-gram order IS the false-positive dial, and 5-grams
    // flag a meaningful 2/1/20 docs across the three scales.
    Gate("corpus_curated_v4", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Curation.curateV4(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", "source", V3MinSrc, V3Budget, binBudget = 128L,
        decontamN = 5, minHitPermille = 100, maxGramEvalDf = 20,
        stopWords = V3Stops)
    },
      // the v3 CTE chain with the decontamination CTEs spliced in after
      // the reputation gate and the NFD packing fold appended — one
      // assembled oracle across all six stages
      curatedV4LikeSql(None)),

    // Fifth composed pipeline — v4 with the LEARNED quality tier
    // spliced in: reputation → decontam → Gopher → classifier
    // threshold (stub scores through the mapPartitions seam, keep
    // >= 350 permille) → exact dedup → budget selection → packing.
    // One assembled oracle proves the model seam COMPOSES with every
    // closed-form stage around it.
    Gate("corpus_curated_v5", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Curation.curateV5(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", "source", V3MinSrc, V5MinScore, V3Budget,
        binBudget = 128L, decontamN = 5, minHitPermille = 100,
        maxGramEvalDf = 20, stopWords = V3Stops)
    },
      curatedV4LikeSql(Some(stubClassifierCte))),

    // Sixth composed pipeline — the v5 assembly with the REAL model in
    // the classifier slot: the frozen n-gram head flows through the
    // factory seam (broadcast weight table, one init per partition) and
    // its operating point (510 permille — read off the head's own score
    // distribution) gates the corpus. Proves the real-model leg COMPOSES
    // with every closed-form stage, against the same shared CTE chain.
    Gate("corpus_curated_v6", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Curation.curateV5(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", "source", V3MinSrc, V6MinScore, V3Budget,
        binBudget = 128L, decontamN = 5, minHitPermille = 100,
        maxGramEvalDf = 20, stopWords = V3Stops,
        mkScorer = graft.llm.NgramHead.scorerFactory(s))
    },
      // the v5 assembly with the REAL head spliced in — same shared chain,
      // the head's grouped score CTE as the classifier stage
      curatedV4LikeSql(Some(headClassifierCte))),

    // Seventh composed pipeline — the DISTILLATION LOOP CLOSED: the
    // classifier slot runs the head TRAINED IN-ENGINE this round
    // (HeadTrain's 8 integer gradient rounds against the stub-teacher
    // label), published through the same factory seam (register-sized
    // weight collect → one broadcast → per-partition init) and gating
    // at its natural margin-0 operating point. One assembled oracle —
    // the full training chain spliced into the curation CTEs — proves
    // train-then-filter composes end to end.
    Gate("corpus_curated_v7", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = graft.llm.HeadTrain.train(docs, "doc_id", "text")
      graft.llm.Curation.curateV5(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", "source", V3MinSrc, V7MinScore, V3Budget,
        binBudget = 128L, decontamN = 5, minHitPermille = 100,
        maxGramEvalDf = 20, stopWords = V3Stops,
        mkScorer = graft.llm.HeadTrain.scorerFactory(s, w))
    },
      curatedV4LikeSql(Some(trainedHeadClassifierCte))),

    // The v5 assembly's per-stage survivor FUNNEL — doc/token counts
    // after each of the seven stages, the loss-attribution panel a
    // curation run is operated by. Shares the recipe's stage operators
    // (Spark) and CTE chain (oracle), so it cannot drift from the
    // pipeline it audits.
    Gate("corpus_curation_funnel", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.Curation.curationFunnel(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text", "source", V3MinSrc, V5MinScore, V3Budget,
        decontamN = 5, minHitPermille = 100, maxGramEvalDf = 20,
        stopWords = V3Stops)
    },
      curationFunnelSql),

    // Cluster-balanced (diversity) selection: assign every vector its
    // IVF cell, then cap each cell at CapPerCell by the deterministic
    // hash priority — the DataComp-style "no cluster dominates the
    // training set" pruning, expressed as the composition of two
    // audited operators (broadcast-centroid assignment + per-stratum
    // WindowGroupLimit over cell-sized groups).
    Gate("cluster_balanced_select", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val cents = Similarity.sampledCentroids(emb, BalanceCentroids)
      val assigned = Similarity.ivfAssign(emb, cents)
        .select(col("cid").as("vec_id"), col("cell"))
      Sampling.exactKPerStratum(assigned, "vec_id", "cell",
          k = CapPerCell)
        .select("cell", "vec_id", "rk")
    },
      {
        def cos(dot: String, n1: String, n2: String) =
          s"CAST($dot AS DOUBLE) / (sqrt(CAST($n1 AS DOUBLE)) * sqrt(CAST($n2 AS DOUBLE)))"
        s"""WITH v AS (SELECT vec_id, $quantDuck AS qv FROM embeddings),
           |n AS (SELECT vec_id, qv, ${Similarity.dotQSqlDuck("qv", "qv")} AS nrm FROM v),
           |cents AS (SELECT vec_id AS cent_id, qv AS centv, nrm AS ncent FROM
           |  (SELECT vec_id, qv, nrm FROM n
           |   ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           |   LIMIT $BalanceCentroids)),
           |ca AS (SELECT vec_id, cent_id AS cell FROM (
           |  SELECT n.vec_id, c.cent_id,
           |    row_number() OVER (PARTITION BY n.vec_id ORDER BY
           |      ${cos(Similarity.dotQSqlDuck("n.qv", "c.centv"), "n.nrm", "c.ncent")} DESC,
           |      c.cent_id) AS crn
           |  FROM n, cents c) WHERE crn = 1),
           |r AS (SELECT cell, vec_id, row_number() OVER (PARTITION BY cell
           |    ORDER BY ${permilleDuck("CAST(vec_id AS VARCHAR)")}, vec_id)
           |    AS rk FROM ca)
           |SELECT cell, vec_id, rk FROM r WHERE rk <= $CapPerCell"""
          .stripMargin.replace("\n", " ")
      }),

    // Curriculum schedule panel: the classifier-scored corpus cut into
    // declared quality phases with per-phase doc/token mass — the
    // annealing-schedule provisioning table (broad phases early,
    // high-quality tail late).
    Gate("curriculum_phases", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.llm.QualityRules
        .classifierScores(s, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          graft.llm.TextAnalysis.tokenCount(col("text")).as("_tk")),
          "doc_id")
      Sampling.curriculumPhases(scored, col("score_permille"), col("_tk"),
        cuts = PhaseCuts)
    },
      curriculumSqlDuck),

    // The curriculum panel's register identity in-plan: per-batch phase
    // panels sum-merge (n_docs/n_tokens add, score ranges min/max, the
    // declared bounds ride along) — two doc_id-parity legs fold to the
    // ONE-PASS panel, oracle shared verbatim with curriculum_phases.
    Gate("curriculum_phases_stream", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def leg(pred: org.apache.spark.sql.Column) = {
        val part = docs.filter(pred)
        val scored = graft.llm.QualityRules
          .classifierScores(s, part, "doc_id", "text")
          .join(part.select(col("doc_id"),
            graft.llm.TextAnalysis.tokenCount(col("text")).as("_tk")),
            "doc_id")
        Sampling.curriculumPhases(scored, col("score_permille"),
          col("_tk"), cuts = PhaseCuts)
      }
      leg(col("doc_id") % 2 === 0).unionByName(leg(col("doc_id") % 2 === 1))
        .groupBy("phase", "cut_lo", "cut_hi")
        .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
          min("score_min").as("score_min"), max("score_max").as("score_max"))
    },
      // the register identity: the two-leg phase-panel fold must land on
      // the ONE-PASS panel — oracle shared verbatim
      curriculumSqlDuck),

    // ECDF-derived curriculum: phase cuts as RANK bands (bottom/middle/
    // top thirds of the score distribution) instead of declared score
    // values — the scale-free curriculum that survives a score-model
    // swap. Fully in-plan: the ecdf table joins back on the score
    // column (a score-bounded broadcast), and the phase panel runs on
    // the rank.
    Gate("curriculum_ecdf_phases", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val scored = graft.llm.QualityRules
        .classifierScores(s, docs, "doc_id", "text")
        .join(docs.select(col("doc_id"),
          graft.llm.TextAnalysis.tokenCount(col("text")).as("_tk")),
          "doc_id")
      val ecdf = TableProfile.scoreEcdf(scored, col("score_permille"))
        .select(col("score").as("score_permille"), col("ecdf_permille"))
      Sampling.curriculumPhases(
        scored.join(broadcast(ecdf), Seq("score_permille")),
        col("ecdf_permille"), col("_tk"), cuts = EcdfCuts)
    },
      {
        val Seq(e1, e2) = EcdfCuts
        s"""WITH sc AS (SELECT
           |  ${graft.llm.QualityRules.stubEduScoreSqlDuck} AS s,
           |  len(string_split(text, ' ')) AS tk
           |  FROM documents WHERE text IS NOT NULL),
           |gg AS (SELECT s AS score, CAST(count(*) AS BIGINT) AS n
           |  FROM sc GROUP BY 1),
           |cdf AS (SELECT score, CAST(sum(n) OVER (ORDER BY score
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           |    * 1000 // CAST(sum(n) OVER () AS BIGINT) AS ep FROM gg),
           |j AS (SELECT cdf.ep AS e, sc.tk FROM sc
           |  JOIN cdf ON sc.s = cdf.score),
           |ph AS (SELECT CASE WHEN e >= $e2 THEN 2 WHEN e >= $e1 THEN 1
           |    ELSE 0 END AS phase, e, tk FROM j),
           |c AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(tk) AS BIGINT) AS n_tokens,
           |  CAST(min(e) AS BIGINT) AS score_min,
           |  CAST(max(e) AS BIGINT) AS score_max FROM ph GROUP BY 1),
           |g(phase, cut_lo, cut_hi) AS (VALUES
           |  (CAST(0 AS BIGINT), CAST(NULL AS BIGINT), CAST($e1 AS BIGINT)),
           |  (1, $e1, $e2), (2, $e2, NULL))
           |SELECT g.phase, g.cut_lo, g.cut_hi,
           |  coalesce(c.n_docs, 0) AS n_docs,
           |  coalesce(c.n_tokens, 0) AS n_tokens,
           |  c.score_min, c.score_max
           |FROM g LEFT JOIN c ON g.phase = c.phase"""
          .stripMargin.replace("\n", " ")
      })
  )

  /** Synthetic multi-line docs for the C4 gate: line i of doc s is the
    * text of source doc s+i (i = 0..2) suffixed by source-id-determined
    * punctuation, plus a "lorem ipsum" line on every 50th doc. The
    * IDENTICAL construction runs as CTEs in the oracle.
    */
  private def builtLineDocs(docs: DataFrame): DataFrame = {
    val suffix = expr(
      "CASE doc_id % 4 WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '' ELSE ' {' END")
    val shifted = (0 to 2).map { i =>
      docs.select((col("doc_id") - i).as("doc_id"), lit(i).as("line_no"),
        concat(col("text"), suffix).as("line"))
    }.reduce(_ union _)
    val lorem = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id"), lit(3).as("line_no"),
        lit("lorem ipsum dolor sit amet.").as("line"))
    shifted.union(lorem).filter(col("doc_id") >= 0)
      .groupBy("doc_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(line_no, line))), x -> x.line)"),
        "\n").as("text"))
  }

  /** Synthetic 3-paragraph docs for the paragraph-dedup gate: paragraph
    * i of doc s is the text of source doc s+i, so neighboring docs
    * genuinely share paragraphs.
    */
  private[queries] def builtParaDocs(docs: DataFrame): DataFrame =
    (0 to 2).map { i =>
      docs.select((col("doc_id") - i).as("doc_id"), lit(i).as("para_no"),
        col("text").as("para"))
    }.reduce(_ union _)
      .filter(col("doc_id") >= 0)
      .groupBy("doc_id")
      .agg(array_join(
        expr("transform(array_sort(collect_list(struct(para_no, para))), x -> x.para)"),
        "\n\n").as("text"))

  private val lineDocsCtes =
    """sh AS (SELECT d.doc_id - s.i AS doc_id, s.i AS line_no,
      |    d.text || CASE d.doc_id % 4 WHEN 0 THEN '.' WHEN 1 THEN '!'
      |      WHEN 2 THEN '' ELSE ' {' END AS line
      |  FROM documents d, (SELECT unnest([0, 1, 2]) AS i) s
      |  UNION ALL
      |  SELECT doc_id, 3, 'lorem ipsum dolor sit amet.' FROM documents
      |  WHERE doc_id % 50 = 0),
      |built AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY line_no) AS text
      |  FROM sh WHERE doc_id >= 0 GROUP BY doc_id), """
      .stripMargin.replace("\n", " ")

  /** The v5 classifier CTE: the stub score as an inline expression over
    * `keep`.
    */
  private def stubClassifierCte: String =
    s"""kc AS (SELECT * FROM keep
       |  WHERE ${graft.llm.QualityRules.stubEduScoreSqlDuck} >= $V5MinScore),
       |""".stripMargin

  /** The v6 classifier CTE: the REAL n-gram head — its grouped score
    * chain over `keep`'s docs, joined back and thresholded at the head's
    * own operating point.
    */
  private def headClassifierCte: String =
    s"""hv6 AS ${graft.llm.NgramHead.scoresSqlDuck(
         "(SELECT doc_id, text FROM keep)")},
       |kc AS (SELECT keep.* FROM keep JOIN hv6 USING (doc_id)
       |  WHERE hv6.score_permille >= $V6MinScore),
       |""".stripMargin

  /** The v7 classifier CTE: the FULL in-engine training chain (the
    * quality_head_train oracle's CTE list, trained over the whole
    * documents table exactly as the gate does) + `keep`'s docs scored
    * under the final weights on the hard-sigmoid per-mille grid +
    * the margin-0 threshold.
    */
  private def trainedHeadClassifierCte: String = {
    val ht = graft.llm.HeadTrain
    s"""${ht.trainCtesDuck("documents", "doc_id")},
       |hk7 AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM keep),
       |hx7 AS (
       |  SELECT doc_id, CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT)
       |      % ${ht.Buckets} AS b, CAST(count(*) AS BIGINT) AS x
       |    FROM hk7 GROUP BY 1, 2
       |  UNION ALL SELECT doc_id, -1 AS b, 1 AS x FROM keep),
       |hz7 AS (SELECT hx7.doc_id, CAST(sum(hx7.x * w.w) AS BIGINT) AS z
       |  FROM hx7 JOIN w${ht.Rounds} w ON hx7.b = w.b GROUP BY 1),
       |hs7 AS (SELECT doc_id, (least(${ht.ZClamp}, greatest(${-ht.ZClamp}, z))
       |    + ${ht.ZClamp}) // 4000 AS score FROM hz7),
       |kc AS (SELECT keep.* FROM keep JOIN hs7 USING (doc_id)
       |  WHERE hs7.score >= $V7MinScore),
       |""".stripMargin
  }

  /** The shared CTE chain of the curateV4/V5 oracles — raw corpus
    * through budget selection (`seld`), optionally with the v5
    * classifier threshold CTE (`kc`) spliced between the Gopher gate
    * and the dedup. ONE text so the recipes' gates AND the funnel
    * audit can never drift from each other.
    */
  private def curatedStageCtes(classifierCte: Option[String]): String = {
      val gopherPass = graft.llm.QualityRules.gopherPassSqlDuck("clean", V3Stops)
      val dedupSrc = if (classifierCte.isDefined) "kc" else "keep"
      s"""sc AS (SELECT doc_id, source,
         |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
         |      // len(string_split(text, ' ')) AS BIGINT) AS doc_score
         |  FROM documents WHERE source <> 'src0'),
         |bsrc AS (SELECT source FROM sc GROUP BY source
         |  HAVING sum(doc_score) // count(*) >= $V3MinSrc),
         |qual AS (SELECT d.doc_id, d.source, d.text FROM documents d
         |  JOIN bsrc USING (source)),
         |qtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM qual),
         |shq AS (SELECT doc_id,
         |    concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS sh
         |  FROM qtoks, UNNEST(range(1, len(t)-3)) AS r(i) WHERE len(t) >= 5),
         |corp AS (SELECT DISTINCT doc_id,
         |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM shq),
         |etoks AS (SELECT doc_id, string_split(text, ' ') AS t
         |  FROM documents WHERE source = 'src0'),
         |she AS (SELECT doc_id,
         |    concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]) AS sh
         |  FROM etoks, UNNEST(range(1, len(t)-3)) AS r(i) WHERE len(t) >= 5),
         |ev AS (SELECT DISTINCT doc_id AS eval_id,
         |  CAST(concat('0x', substr(md5(sh), 1, 8)) AS BIGINT) AS h FROM she),
         |evk AS (SELECT eval_id, h FROM ev WHERE h IN
         |  (SELECT h FROM ev GROUP BY h HAVING count(*) <= 20)),
         |sizes AS (SELECT doc_id, count(*) AS n_grams FROM corp GROUP BY 1),
         |hits AS (SELECT c.doc_id, count(DISTINCT c.h) AS n_hits
         |  FROM corp c JOIN evk e ON c.h = e.h GROUP BY 1),
         |flagged AS (SELECT h.doc_id FROM hits h JOIN sizes s USING (doc_id)
         |  WHERE n_hits * 1000 // s.n_grams >= 100),
         |clean AS (SELECT * FROM qual
         |  WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
         |gp AS ($gopherPass),
         |keep AS (SELECT q.* FROM clean q JOIN gp USING (doc_id)),
         |${classifierCte.getOrElse("")}uq AS (SELECT *, row_number() OVER (PARTITION BY md5(text)
         |    ORDER BY doc_id) AS rn FROM $dedupSrc),
         |u AS (SELECT doc_id, source, text FROM uq WHERE rn = 1),
         |s2 AS (SELECT doc_id, source, md5(text) AS text_hash,
         |    CAST(len(list_distinct(string_split(text, ' '))) * 1000
         |      // len(string_split(text, ' ')) AS BIGINT) AS score,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM u),
         |cum AS (SELECT *, CAST(sum(n_tokens) OVER (ORDER BY score DESC, doc_id
         |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens FROM s2),
         |seld AS (SELECT doc_id, source, n_tokens, text_hash FROM cum
         |  WHERE cum_tokens <= $V3Budget)"""
        .stripMargin.replace("\n", " ")
  }

  /** The assembled curateV4/V5 oracle: the shared stage chain plus the
    * recursive next-fit-decreasing packing fold.
    */
  private def curatedV4LikeSql(classifierCte: Option[String]): String =
    s"""WITH RECURSIVE ${curatedStageCtes(classifierCte)},
       |t2 AS (SELECT source, doc_id, n_tokens, row_number() OVER (
       |    PARTITION BY source ORDER BY n_tokens DESC, doc_id) AS rn FROM seld),
       |p(source, rn, doc_id, n_tokens, bin_idx, fill) AS (
       |  SELECT source, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
       |    CAST(n_tokens AS BIGINT) FROM t2 WHERE rn = 1
       |  UNION ALL
       |  SELECT t2.source, t2.rn, t2.doc_id, t2.n_tokens,
       |    CASE WHEN p.fill + t2.n_tokens <= 128 THEN p.bin_idx ELSE p.bin_idx + 1 END,
       |    CASE WHEN p.fill + t2.n_tokens <= 128 THEN p.fill + t2.n_tokens
       |         ELSE CAST(t2.n_tokens AS BIGINT) END
       |  FROM t2 JOIN p ON t2.source = p.source AND t2.rn = p.rn + 1)
       |SELECT p.doc_id, p.source, CAST(p.n_tokens AS INTEGER) AS n_tokens,
       |  p.bin_idx, s.text_hash
       |FROM p JOIN seld s ON p.doc_id = s.doc_id"""
      .stripMargin.replace("\n", " ")

  /** The funnel oracle: stage-by-stage survivor counts read off the
    * SAME chain the v5 gate runs — the per-stage loss attribution a
    * curation operator asks for first ("where did my corpus go").
    */
  private def curationFunnelSql: String = {
    def leg(idx: Int, name: String, src: String, tokExpr: String) =
      s"""SELECT CAST($idx AS BIGINT) AS stage_idx, '$name' AS stage,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(coalesce(sum($tokExpr), 0) AS BIGINT) AS n_tokens
         |FROM $src""".stripMargin
    val t = "len(string_split(text, ' '))"
    s"""WITH ${curatedStageCtes(Some(stubClassifierCte))},
       |raw AS (SELECT doc_id, text FROM documents WHERE source <> 'src0')
       |${leg(0, "raw", "raw", t)}
       |UNION ALL ${leg(1, "reputation", "qual", t)}
       |UNION ALL ${leg(2, "decontam", "clean", t)}
       |UNION ALL ${leg(3, "gopher", "keep", t)}
       |UNION ALL ${leg(4, "classifier", "kc", t)}
       |UNION ALL ${leg(5, "dedup", "u", t)}
       |UNION ALL ${leg(6, "budget", "seld", "n_tokens")}"""
      .stripMargin.replace("\n", " ")
  }

  /** md5-per-mille hash of an expression, rendered exactly as
    * [[Sampling.hashPermille]] computes it (string input: md5 applies
    * directly).
    */
  private[queries] def permilleDuck(x: String): String =
    s"CAST(concat('0x', substr(md5($x), 1, 8)) AS BIGINT) % 1000"

  /** The one-pass curriculum-phase oracle — shared verbatim by the batch
    * gate (`curriculum_phases`) and the two-leg register fold
    * (`curriculum_phases_stream`): the fold's whole contract is landing
    * on this exact panel.
    */
  private val curriculumSqlDuck: String = {
      val Seq(c1, c2, c3) = PhaseCuts
      s"""WITH sc AS (SELECT
         |  ${graft.llm.QualityRules.stubEduScoreSqlDuck} AS s,
         |  len(string_split(text, ' ')) AS tk
         |  FROM documents WHERE text IS NOT NULL),
         |ph AS (SELECT CASE WHEN s >= $c3 THEN 3 WHEN s >= $c2 THEN 2
         |    WHEN s >= $c1 THEN 1 ELSE 0 END AS phase, s, tk FROM sc),
         |c AS (SELECT phase, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(tk) AS BIGINT) AS n_tokens,
         |  CAST(min(s) AS BIGINT) AS score_min,
         |  CAST(max(s) AS BIGINT) AS score_max FROM ph GROUP BY 1),
         |g(phase, cut_lo, cut_hi) AS (VALUES
         |  (CAST(0 AS BIGINT), CAST(NULL AS BIGINT), CAST($c1 AS BIGINT)),
         |  (1, $c1, $c2), (2, $c2, $c3), (3, $c3, NULL))
         |SELECT g.phase, g.cut_lo, g.cut_hi,
         |  coalesce(c.n_docs, 0) AS n_docs,
         |  coalesce(c.n_tokens, 0) AS n_tokens,
         |  c.score_min, c.score_max
         |FROM g LEFT JOIN c ON g.phase = c.phase"""
        .stripMargin.replace("\n", " ")
  }
}
