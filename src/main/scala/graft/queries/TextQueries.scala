package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Bpe, Retrieval, TextAnalysis, Ulm}

/** Tokenizer and text-analysis gates over `documents`: token counts,
  * BPE training, segmentation and corpus encoding, the unigram-LM
  * (SentencePiece-family) tokenizer, vocabulary audits, language id and
  * confusion, CCNet language buckets, bigram-LM fluency, quality and
  * repetition profiles, chunking, canonical normalization, PII
  * scrubbing and fill-in-the-middle spans.
  *
  * The k BPE merge rounds are generated from the SAME constant on both
  * sides ([[Bpe.mergesSqlDuck]]). ULM oracles are generated from the
  * same constants (vocab size, piece/word caps, EM rounds, cost scale)
  * by [[Ulm.trainSqlDuck]] / [[Ulm.segmentSqlDuck]] /
  * [[Ulm.encodeCorpusSqlDuck]], with the EM rounds and DP positions
  * unrolled as MATERIALIZED CTEs — the BPE round-chain discipline.
  */
object TextQueries {
  private val MergeRounds = 6 // learned merges; rounds unrolled in-plan
  private val PairTopN = 20   // initial pair-count audit rows

  private val VocabK = 10 // fixture vocab is 31 distinct words, so a
  // 10-word vocabulary leaves a real OOV tail at any SF

  def gates: Seq[Gate] = Seq(
    Gate("text_token_count", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars")),
      """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens, length(text) AS n_chars
        |FROM documents""".stripMargin.replace("\n", " ")),

    // BPE-ish pre-tokenizer count (same RE2-safe pattern both engines)
    Gate("text_bpe_tokens", (s, dir) =>
      Tables.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_bpe_tokens")),
      // DuckDB string literals keep backslashes literal; only the embedded
      // single quote needs doubling
      s"""SELECT doc_id, len(regexp_extract_all(text,
         |  '${TextAnalysis.BpeishPattern.replace("'", "''")}')) AS n_bpe_tokens
         |FROM documents""".stripMargin.replace("\n", " ")),

    Gate("text_quality", (s, dir) =>
      TextAnalysis.qualityFeatures(Tables.documents(s, dir), "doc_id", "text"),
      {
        val stopList = TextAnalysis.StopWords.map(s => s"'$s'").mkString(", ")
        s"""SELECT doc_id, length(text) AS n_chars,
           |  len(string_split(text, ' ')) AS n_tokens,
           |  len(list_distinct(string_split(text, ' '))) AS n_unique,
           |  len(list_filter(string_split(text, ' '), x -> x IN ($stopList))) AS n_stop,
           |  (length(text) - (len(string_split(text, ' ')) - 1)) * 100 // len(string_split(text, ' ')) AS avg_token_len_x100
           |FROM documents""".stripMargin.replace("\n", " ")
      }),

    Gate("text_lang_id", (s, dir) =>
      TextAnalysis.languageId(Tables.documents(s, dir), "doc_id", "text"),
      {
        val stopList = TextAnalysis.StopWords.map(s => s"'$s'").mkString(", ")
        s"""WITH f AS (SELECT doc_id,
           |  len(list_filter(string_split(text, ' '), x -> x IN ($stopList))) * 1000
           |    // len(string_split(text, ' ')) AS stop_per_mille FROM documents)
           |SELECT doc_id, stop_per_mille,
           |  CASE WHEN stop_per_mille >= 50 THEN 'en' ELSE 'und' END AS predicted_lang
           |FROM f""".stripMargin.replace("\n", " ")
      }),

    // Gopher-style repetitiousness gates (dup-token / top-n-gram counts)
    Gate("text_repetition", (s, dir) =>
      TextAnalysis.repetitionProfile(Tables.documents(s, dir), "doc_id", "text"),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |tok AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |tc AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok),
        |ts AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_tok_n
        |  FROM tc GROUP BY doc_id),
        |bg AS (SELECT doc_id, concat_ws(' ', t[i], t[i+1]) AS bg
        |  FROM toks, UNNEST(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |bc AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY doc_id, bg),
        |bs AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_bigram_n FROM bc GROUP BY doc_id)
        |SELECT ts.doc_id, n_tokens, n_distinct, top_tok_n,
        |  coalesce(top_bigram_n, 0) AS top_bigram_n
        |FROM ts LEFT JOIN bs ON ts.doc_id = bs.doc_id"""
        .stripMargin.replace("\n", " ")),

    // context-window packing: 32-token chunks, 8-token overlap
    Gate("text_chunks", (s, dir) =>
      TextAnalysis.chunkTokens(Tables.documents(s, dir), "doc_id", "text",
        chunkSize = 32, overlap = 8),
      """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |st AS (SELECT doc_id, t, unnest(range(1, greatest(1, len(t) - 32 + 24) + 1, 24)) AS s
        |  FROM toks)
        |SELECT doc_id, CAST((s - 1) // 24 AS INTEGER) AS chunk_idx,
        |  CAST(len(t[s:s+31]) AS INTEGER) AS chunk_tokens,
        |  array_to_string(t[s:s+31], ' ') AS chunk_text
        |FROM st""".stripMargin.replace("\n", " ")),

    // tokenizer-fit vocabulary: top-20 terms by occurrence count
    Gate("vocab_topk", (s, dir) =>
      Retrieval.vocabulary(Tables.documents(s, dir), "doc_id", "text",
        k = 20),
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
        |FROM tok GROUP BY term
        |ORDER BY n_occurrences DESC, term LIMIT 20""".stripMargin.replace("\n", " ")),

    // bigram-LM fluency (the KenLM/CCNet-filter shape): LM trained on
    // the held-out split (src0 = the clean-reference role), scoring the
    // training split
    Gate("lm_fluency", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.lmFluency(
        docs.filter(col("source") =!= "src0"),
        docs.filter(col("source") === "src0"),
        "doc_id", "text")
    },
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |big AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(t[i]), 1, 8)) AS BIGINT) AS h1,
        |  CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1])), 1, 8)) AS BIGINT) AS h12
        |  FROM toks, UNNEST(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |ref AS (SELECT h1, h12 FROM big WHERE source = 'src0'),
        |c12 AS (SELECT h12, count(*) AS c12 FROM ref GROUP BY h12),
        |c1 AS (SELECT h1, count(*) AS c1 FROM ref GROUP BY h1),
        |sc AS (SELECT doc_id,
        |  coalesce(c12.c12, 0) * 1000 // (coalesce(c1.c1, 0) + 1) AS p_permille
        |  FROM big LEFT JOIN c12 USING (h12) LEFT JOIN c1 USING (h1)
        |  WHERE big.source <> 'src0')
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(p_permille) AS BIGINT) // count(*) AS score_permille
        |FROM sc GROUP BY doc_id""".stripMargin.replace("\n", " ")),

    // canonical normalization (the dedup-robustness pre-stage)
    Gate("text_normalize", (s, dir) =>
      TextAnalysis.normalized(Tables.documents(s, dir), "doc_id", "text"),
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g')) AS norm_text,
        |  len(string_split(trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' ')) AS n_tokens
        |FROM documents""".stripMargin.replace("\n", " ")),

    // PII scrub + per-class report, fully hash-oracled. The fixture is
    // word-only (zero natural regex hits — verified), so the query
    // splices deterministic synthetic PII into every doc INSIDE the
    // query — one value per class, derived from doc_id — with the
    // identical concat in the DuckDB oracle. Both engines then run the
    // same sequential class order, so the scrubbed text AND the
    // attribution counts are gated end to end.
    Gate("pii_scrub", (s, dir) => {
      val spliced = Tables.documents(s, dir).select(col("doc_id"), concat(
        col("text"),
        lit(" contact "), col("doc_id").cast("string"), lit("@example.com"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
        lit(" call +1 (555) 123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" ssn 123-45-6789 end")).as("text"))
      val rep = graft.llm.PiiScrub.piiReport(spliced, "doc_id", "text")
      graft.llm.PiiScrub.scrubbed(spliced, "text")
        .join(rep, Seq("doc_id"))
        .select(col("doc_id") +: col("text") +:
          (graft.llm.PiiScrub.Patterns.map(_._1) :+ "pii").map(n =>
            col(s"n_$n").cast("long").as(s"n_$n")): _*)
    },
      // the same splice + sequential scrub as the Spark side, CTE per
      // class in PiiScrub.Patterns order (patterns interpolated from the
      // SAME Seq, constant-for-constant); counts on the earlier-classes-
      // already-replaced text so attribution matches the scrub
      {
        val splice = "text || ' contact ' || CAST(doc_id AS VARCHAR) || " +
          "'@example.com' || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || " +
          "'.7' || ' call +1 (555) 123-' || " +
          "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-6789 end'"
        val steps = graft.llm.PiiScrub.Patterns.zipWithIndex.map {
          case ((name, pat), i) =>
            val prev = if (i == 0) "d" else s"s$i"
            s"""s${i + 1} AS (SELECT doc_id,${
            (0 until i).map(j =>
              s" n_${graft.llm.PiiScrub.Patterns(j)._1},").mkString}
               |  CAST(len(regexp_extract_all(t, '$pat')) AS BIGINT) AS n_$name,
               |  regexp_replace(t, '$pat', '[${name.toUpperCase}]', 'g') AS t
               |  FROM $prev)""".stripMargin
        }
        val names = graft.llm.PiiScrub.Patterns.map(n => s"n_${n._1}")
        s"""WITH d AS (SELECT doc_id, $splice AS t FROM documents),
           |${steps.mkString(",\n")}
           |SELECT doc_id, t AS text, ${names.mkString(", ")},
           |  ${names.mkString(" + ")} AS n_pii
           |FROM s${graft.llm.PiiScrub.Patterns.size}"""
          .stripMargin.replace("\n", " ")
      }),

    // Initial adjacent-character pair counts (the round-1 input of BPE
    // training): corpus collapses to the word-frequency dict in its one
    // scan; the counts are vocab-sized.
    Gate("bpe_pair_counts", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pc = Bpe.pairCounts(
        Bpe.initialForms(Bpe.wordFreqs(Tables.documents(s, dir), "text")))
      val w = Window.orderBy(col("cnt").desc, col("lhs"), col("rhs"))
      pc.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= PairTopN)
    },
      Bpe.pairCountsSqlDuck("documents", "text", PairTopN)),

    // The learned merge table after k rounds — the tokenizer artifact a
    // training pipeline ships (subword-nmt's merges.txt).
    Gate("bpe_merges", (s, dir) =>
      Bpe.learnMerges(Tables.documents(s, dir), "text", MergeRounds)._1,
      Bpe.mergesSqlDuck("documents", "text", MergeRounds)),

    // Final per-word segmentation under those merges: the encode side,
    // over the same vocab-sized dict.
    Gate("bpe_segment", (s, dir) =>
      Bpe.segmented(
        Bpe.learnMerges(Tables.documents(s, dir), "text", MergeRounds)._2)
        .select("word", "freq", "form", "n_tokens"),
      Bpe.segmentedSqlDuck("documents", "text", MergeRounds)),

    // Tokenizer compression curve: corpus token totals after each merge
    // round — where the curve flattens is where more merges stop paying.
    Gate("bpe_merge_curve", (s, dir) =>
      Bpe.mergeCurve(Tables.documents(s, dir), "text", MergeRounds),
      Bpe.mergeCurveSqlDuck("documents", "text", MergeRounds)),

    // Per-doc token accounting under the learned merges: the number every
    // downstream packing/budget decision uses; the vocab-sized dict
    // broadcasts back onto the corpus word stream.
    Gate("bpe_encode_corpus", (s, dir) =>
      Bpe.encodeCorpus(Tables.documents(s, dir), "doc_id", "text",
        MergeRounds),
      Bpe.encodeCorpusSqlDuck("documents", "doc_id", "text", MergeRounds)),

    // Typo/variant mining over the vocabulary: edit-distance-≤2 word
    // pairs, length-blocked equi-join over the vocab table (corpus-
    // scale-independent after the word-count scan).
    Gate("vocab_edit_pairs", (s, dir) =>
      graft.llm.TextAnalysis.vocabEditPairs(Tables.documents(s, dir),
        "text", maxDist = 2, minFreq = 1L),
      """WITH wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
        |    SELECT unnest(string_split_regex(lower(text), '\s+')) AS word
        |    FROM documents) WHERE regexp_matches(word, '^[a-z]+$')
        |  GROUP BY word HAVING count(*) >= 1),
        |a AS (SELECT word AS word_a, freq AS freq_a, length(word) AS len_a,
        |    u.b AS blk
        |  FROM wf, UNNEST(range(length(word) - 2, length(word) + 1)) u(b)),
        |b AS (SELECT word AS word_b, freq AS freq_b, length(word) AS len_b
        |  FROM wf)
        |SELECT word_a, word_b, freq_a, freq_b,
        |  CAST(levenshtein(word_a, word_b) AS INTEGER) AS dist
        |FROM a JOIN b ON a.blk = b.len_b
        |WHERE (len_a > len_b OR (len_a = len_b AND word_a < word_b))
        |  AND levenshtein(word_a, word_b) <= 2"""
        .stripMargin.replace("\n", " ")),

    // CCNet head/middle/tail: per-language fluency terciles over the
    // src0-trained LM scores — the table per-bucket sampling rates are
    // set from (Wenzek et al. 2020 §4.4).
    Gate("ccnet_lang_buckets", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.llm.TextAnalysis.fluencyBuckets(
        graft.llm.TextAnalysis.lmFluency(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"), "doc_id", "text"),
        docs, "doc_id", "lang")
    },
      // lm_fluency's score CTEs + lang attach + integer tercile window
      """WITH toks AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
        |big AS (SELECT doc_id, source,
        |  CAST(concat('0x', substr(md5(t[i]), 1, 8)) AS BIGINT) AS h1,
        |  CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1])), 1, 8)) AS BIGINT) AS h12
        |  FROM toks, UNNEST(range(1, len(t))) AS r(i) WHERE len(t) >= 2),
        |ref AS (SELECT h1, h12 FROM big WHERE source = 'src0'),
        |c12 AS (SELECT h12, count(*) AS c12 FROM ref GROUP BY h12),
        |c1 AS (SELECT h1, count(*) AS c1 FROM ref GROUP BY h1),
        |sc AS (SELECT doc_id,
        |  coalesce(c12.c12, 0) * 1000 // (coalesce(c1.c1, 0) + 1) AS p_permille
        |  FROM big LEFT JOIN c12 USING (h12) LEFT JOIN c1 USING (h1)
        |  WHERE big.source <> 'src0'),
        |fl AS (SELECT doc_id, CAST(sum(p_permille) AS BIGINT) // count(*) AS score_permille
        |  FROM sc GROUP BY doc_id),
        |rk AS (SELECT d.lang, fl.doc_id, fl.score_permille,
        |    CAST(row_number() OVER (PARTITION BY d.lang
        |      ORDER BY fl.score_permille DESC, fl.doc_id) AS BIGINT) AS rnk,
        |    CAST(count(*) OVER (PARTITION BY d.lang) AS BIGINT) AS n_lang
        |  FROM fl JOIN documents d ON fl.doc_id = d.doc_id),
        |bk AS (SELECT lang, score_permille,
        |    CASE WHEN rnk * 3 <= n_lang THEN 'head'
        |         WHEN rnk * 3 <= n_lang * 2 THEN 'middle'
        |         ELSE 'tail' END AS bucket FROM rk)
        |SELECT lang, bucket, count(*) AS n_docs,
        |  min(score_permille) AS min_score, max(score_permille) AS max_score
        |FROM bk GROUP BY lang, bucket""".stripMargin.replace("\n", " ")),

    // Vocabulary-coverage audit: per-doc OOV rate under the top-k corpus
    // vocabulary — k-bounded vocab broadcasts onto the token stream.
    Gate("vocab_oov_rate", (s, dir) =>
      Retrieval.oovRate(Tables.documents(s, dir), "doc_id", "text",
        VocabK),
      s"""WITH tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |wf AS (SELECT term, count(*) AS c FROM tk GROUP BY term),
         |v AS (SELECT term FROM wf ORDER BY c DESC, term LIMIT $VocabK),
         |j AS (SELECT tk.doc_id,
         |    CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM tk LEFT JOIN v ON tk.term = v.term)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(oov) AS BIGINT) AS n_oov,
         |  CAST(sum(oov) * 1000 // count(*) AS BIGINT) AS oov_permille
         |FROM j GROUP BY doc_id""".stripMargin.replace("\n", " ")),

    // Declared-vs-detected language confusion matrix: the audit that
    // catches mislabeled-language strata before per-language curation
    // rules fire on them (the heuristic detector only claims en/und —
    // the matrix quantifies exactly how far that claim disagrees with
    // the declared labels). Corpus scans once; the matrix is
    // ≤ langs × preds rows.
    Gate("lang_confusion", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.languageId(docs, "doc_id", "text")
        .join(docs.select("doc_id", "lang"), Seq("doc_id"))
        .groupBy("lang", "predicted_lang")
        .agg(count(lit(1)).as("n_docs"))
    },
      {
        val stopList = TextAnalysis.StopWords.map(w => s"'$w'").mkString(", ")
        s"""WITH f AS (SELECT doc_id, lang,
           |    len(list_filter(string_split(text, ' '), x -> x IN ($stopList))) * 1000
           |      // len(string_split(text, ' ')) AS spm
           |  FROM documents)
           |SELECT lang,
           |  CASE WHEN spm >= 50 THEN 'en' ELSE 'und' END AS predicted_lang,
           |  CAST(count(*) AS BIGINT) AS n_docs
           |FROM f GROUP BY 1, 2""".stripMargin.replace("\n", " ")
      }),

    // Fill-in-the-middle span extraction: deterministic (prefix, middle,
    // suffix) split per doc, segments as md5 fingerprints — the FIM
    // training transform as a pure-map corpus operator.
    Gate("fim_spans", (s, dir) =>
      graft.llm.TextAnalysis.fimSpans(
        Tables.documents(s, dir), "doc_id", "text", minTokens = 2),
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS l,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents WHERE text IS NOT NULL),
         |f AS (SELECT * FROM t WHERE n >= 2),
         |d AS (SELECT doc_id, l, n,
         |  CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR) || ':a'),
         |    1, 8)) AS BIGINT) % n AS a FROM f),
         |e AS (SELECT doc_id, l, n, a,
         |  a + 1 + CAST(concat('0x',
         |    substr(md5(CAST(doc_id AS VARCHAR) || ':b'), 1, 8))
         |    AS BIGINT) % (n - a) AS b FROM d)
         |SELECT doc_id, n AS n_tokens, a, b,
         |  a AS prefix_tokens, b - a AS middle_tokens,
         |  n - b AS suffix_tokens,
         |  md5(coalesce(array_to_string(l[1:a], ' '), '')) AS prefix_md5,
         |  md5(coalesce(array_to_string(l[a+1:b], ' '), '')) AS middle_md5,
         |  md5(coalesce(array_to_string(l[b+1:n], ' '), '')) AS suffix_md5
         |FROM e""".stripMargin.replace("\n", " ")),

    // Tokenizer fertility panel: per source, whitespace words vs BPE-ish
    // pre-tokens and the x1000 fertility ratio — the tokenizer-budget
    // metric a multilingual pipeline reads per feed.
    Gate("token_fertility_by_source", (s, dir) =>
      graft.llm.TextAnalysis.tokenFertilityBySource(
        Tables.documents(s, dir), "source", "text"),
      s"""WITH f AS (SELECT source,
         |  CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
         |  CAST(len(regexp_extract_all(text,
         |    '${TextAnalysis.BpeishPattern.replace("'", "''")}', 0))
         |    AS BIGINT) AS p
         |  FROM documents WHERE text IS NOT NULL)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(w) AS BIGINT) AS n_words,
         |  CAST(sum(p) AS BIGINT) AS n_pretokens,
         |  CAST(sum(p) AS BIGINT) * 1000 // CAST(sum(w) AS BIGINT)
         |    AS fertility_x1000
         |FROM f GROUP BY 1""".stripMargin.replace("\n", " ")),

    Gate("ulm_train", (s, dir) =>
      Ulm.train(Tables.documents(s, dir), "text"),
      Ulm.trainSqlDuck("documents", "text")),

    Gate("ulm_segment", (s, dir) =>
      Ulm.segment(Tables.documents(s, dir), "text"),
      Ulm.segmentSqlDuck("documents", "text")),

    Gate("ulm_encode_corpus", (s, dir) =>
      Ulm.encodeCorpus(Tables.documents(s, dir), "doc_id", "text"),
      Ulm.encodeCorpusSqlDuck("documents", "doc_id", "text")),

    // The SentencePiece EM → prune → EM refinement: drop never-used
    // multi-char pieces, renormalize, one more hard-EM round.
    Gate("ulm_pruned_vocab", (s, dir) =>
      Ulm.trainPruned(Tables.documents(s, dir), "text"),
      Ulm.trainPrunedSqlDuck("documents", "text")),

    // SOFT-EM ULM (Kudo 2018's actual E-step): one forward-backward
    // expectation round over the word lattice in mantissa/exponent
    // fixed point — expected piece counts in millionths + re-derived
    // costs. The oracle unrolls the identical integer lattice (16
    // forward positions, 16 backward distances, edge posteriors).
    Gate("ulm_train_soft", (s, dir) =>
      Ulm.trainSoft(Tables.documents(s, dir), "text"),
      Ulm.trainSoftSqlDuck("documents", "text"))
  )
}
