package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.Tables
import graft.llm.Unicode

/** Unicode / multilingual text gates (round-16 verdict #2): the
  * SC-002-style type-fidelity bar applied to TEXT — NFC normalization,
  * no-space CJK segmentation, script profiling, normalization-aware
  * dedup, and codepoint/byte width parity, each oracle-exact against
  * DuckDB over the SAME deterministically derived multilingual column
  * (see [[graft.llm.Unicode]]: the fixture parquet is ASCII-only, so
  * `utext` is derived from doc_id + a shared literal snippet table —
  * byte-identical input in both engines at every SF and seed).
  */
object UnicodeQueries {

  private def ud(s: SparkSession, dir: String): DataFrame =
    Unicode.withUtext(Tables.documents(s, dir))

  def gates: Seq[Gate] = Seq(
    // NFC canonical composition: decomposed e+U+0301 / jamo / U+212B
    // inputs must normalize to their precomposed twins (changed=true),
    // stable text must pass through untouched
    Gate("unicode_normalize", (s, dir) =>
      Unicode.normalizeProfile(ud(s, dir), "utext"),
      s"""WITH $UD
         |SELECT doc_id, nfc_normalize(utext) <> utext AS changed,
         |  length(nfc_normalize(utext)) AS n_cp,
         |  nfc_normalize(utext) AS norm_text
         |FROM ud""".stripMargin.replace("\n", " ")),

    // codepoint-class segmentation: CJK one-token-per-char + \p{L}-run
    // tokens elsewhere — the multilingual token_count
    Gate("unicode_token_count", (s, dir) =>
      Unicode.tokenProfile(ud(s, dir), "utext"),
      s"""WITH $UD,
         |nf AS (SELECT doc_id, nfc_normalize(utext) AS nfc FROM ud),
         |pre AS (SELECT doc_id, nfc,
         |  regexp_replace(nfc, '${Unicode.CjkCharPat}', ' \\0 ', 'g') AS pre
         |  FROM nf)
         |SELECT doc_id,
         |  len(regexp_extract_all(pre, '${Unicode.RunTokenPat}')) AS n_tokens,
         |  len(regexp_extract_all(nfc, '${Unicode.CjkCharPat}')) AS n_cjk
         |FROM pre""".stripMargin.replace("\n", " ")),

    // per-doc script mix over raw text (combining marks still visible)
    Gate("unicode_script_profile", (s, dir) =>
      Unicode.scriptProfile(ud(s, dir), "utext"),
      s"""WITH $UD
         |SELECT doc_id,
         |  len(regexp_extract_all(utext, '${Unicode.LatinPat}')) AS n_latin,
         |  len(regexp_extract_all(utext, '${Unicode.CyrillicPat}')) AS n_cyrillic,
         |  len(regexp_extract_all(utext, '${Unicode.ArabicPat}')) AS n_arabic,
         |  len(regexp_extract_all(utext, '${Unicode.DevanagariPat}')) AS n_devanagari,
         |  len(regexp_extract_all(utext, '${Unicode.HanPat}')) AS n_han,
         |  len(regexp_extract_all(utext, '${Unicode.KanaPat}')) AS n_kana,
         |  len(regexp_extract_all(utext, '${Unicode.HangulPat}')) AS n_hangul,
         |  len(regexp_extract_all(utext, '${Unicode.EmojiPat}')) AS n_emoji,
         |  len(regexp_extract_all(utext, '${Unicode.CombiningPat}')) AS n_marks
         |FROM ud""".stripMargin.replace("\n", " ")),

    // exact dedup keyed on md5(NFC(text)): byte-distinct spellings of
    // the same text land in one cluster (n_raw_variants > 1)
    Gate("unicode_dedup_clusters", (s, dir) =>
      Unicode.nfcDedupClusters(ud(s, dir), "utext"),
      s"""WITH $UD
         |SELECT md5(nfc_normalize(utext)) AS norm_h,
         |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies,
         |  count(DISTINCT utext) AS n_raw_variants
         |FROM ud GROUP BY 1""".stripMargin.replace("\n", " ")),

    // codepoint vs UTF-8 byte vs printable-ASCII width parity
    Gate("unicode_width_stats", (s, dir) =>
      Unicode.widthStats(ud(s, dir), "utext"),
      s"""WITH $UD
         |SELECT doc_id, length(utext) AS n_chars, strlen(utext) AS n_bytes,
         |  len(regexp_extract_all(utext, '${Unicode.AsciiPrintPat}')) AS n_ascii
         |FROM ud""".stripMargin.replace("\n", " ")),

    // the stream twin: two doc_id-parity batch registers folded through
    // the merge identity must land on the batch clusters exactly —
    // oracle shared verbatim with unicode_dedup_clusters
    Gate("unicode_dedup_stream", (s, dir) => {
      val docs = ud(s, dir)
      Unicode.clustersFromRegisters(Unicode.mergeNfcRegisters(
        Unicode.nfcDedupRegisters(docs.filter(col("doc_id") % 2 === 0), "utext"),
        Unicode.nfcDedupRegisters(docs.filter(col("doc_id") % 2 === 1), "utext")))
    },
      // the stream fold must land on the BATCH clusters — one oracle
      s"""WITH $UD
         |SELECT md5(nfc_normalize(utext)) AS norm_h,
         |  min(doc_id) AS keeper_doc_id, count(*) AS n_copies,
         |  count(DISTINCT utext) AS n_raw_variants
         |FROM ud GROUP BY 1""".stripMargin.replace("\n", " ")),

    // BPE trained on the MULTILINGUAL word stream through the unchanged
    // training loop (the wf seam): merges and the final segmentation —
    // the tokenizer-on-real-corpora leg of the unicode tier
    Gate("unicode_bpe_merges", (s, dir) =>
      graft.llm.Bpe.learnMergesFromWf(
        Unicode.wordFreqs(ud(s, dir), "utext"), UMergeRounds)._1,
      graft.llm.Bpe.mergesSqlDuckFrom(Unicode.bpeInitCtesDuck, UMergeRounds)),

    Gate("unicode_bpe_segment", (s, dir) =>
      graft.llm.Bpe.segmented(
        graft.llm.Bpe.learnMergesFromWf(
          Unicode.wordFreqs(ud(s, dir), "utext"), UMergeRounds)._2)
        .select("word", "freq", "form", "n_tokens"),
      graft.llm.Bpe.segmentedSqlDuckFrom(Unicode.bpeInitCtesDuck, UMergeRounds))
  )

  /** Unicode BPE merge rounds — matches the ASCII gates' k. */
  private val UMergeRounds = 6

  private val UD = Unicode.utextCteDuck
}
