package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{HeadTrain, QualityRules}
import graft.ops.TableProfile

/** Document-quality gates: the Gopher rule set, per-language quantile
  * calibration, in-engine training and AUC of the n-gram quality head,
  * and the quality-score ECDF (batch and streamed). The Gopher oracle is
  * RENDERED from the same Scala constants as the Spark plan, and the
  * head's oracle renders the identical unrolled integer arithmetic
  * ([[HeadTrain.trainSqlDuck]]), so a threshold cannot drift one-sided.
  * The classifier audits (AUC, operating points, reliability) live in
  * [[AuditQueries]].
  */
object QualityQueries {
  private val KeepPermille = 400 // per-language quality keep rate

  def gates: Seq[Gate] = Seq(
    // Gopher document-level quality rules (Rae et al. 2021 §A1.1)
    Gate("quality_gopher", (s, dir) =>
      QualityRules.gopherQuality(Tables.documents(s, dir), "doc_id", "text"),
      QualityRules.gopherSqlDuck("documents")),

    // Per-language quality-quantile calibration: keep the top p‰ of each
    // language by unique-token count — the threshold ADAPTS to each
    // language's population (a fixed global cutoff over-filters
    // low-resource languages). Exact integer rank test rnk·1000 ≤ p·n,
    // no float percentile; rank-1-per-group machinery compiles map-side.
    Gate("quality_quantile_cal", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val scored = docs.select(col("doc_id"), col("lang"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("score"))
      val w = Window.partitionBy("lang")
        .orderBy(col("score").desc, col("doc_id"))
      val cw = Window.partitionBy("lang")
      scored
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("n_lang", count(lit(1)).over(cw))
        .filter(col("rnk") * 1000 <= lit(KeepPermille) * col("n_lang"))
    },
      s"""WITH sc AS (SELECT doc_id, lang,
         |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS score
         |  FROM documents),
         |r AS (SELECT doc_id, lang, score,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
         |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n_lang
         |  FROM sc)
         |SELECT doc_id, lang, score, rnk, n_lang FROM r
         |WHERE rnk * 1000 <= $KeepPermille * n_lang"""
        .stripMargin.replace("\n", " ")),

    // ECDF rank-normalization table over the classifier scores: per
    // distinct score, its per-mille empirical-CDF rank — the scale-free
    // form heterogeneous quality scores are mixed/thresholded on.
    Gate("quality_score_ecdf", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TableProfile.scoreEcdf(
        graft.llm.QualityRules.classifierScores(s, docs, "doc_id", "text"),
        col("score_permille"))
    },
      ecdfSqlDuck),

    // The FOURTH walk off the calibration registers, in-plan: two
    // doc_id-parity legs fold their per-score counts, the merged table
    // rides scoreEcdfFromCounts — oracle shared verbatim with
    // quality_score_ecdf (the register identity again).
    Gate("quality_ecdf_stream", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def legCounts(pred: org.apache.spark.sql.Column) = graft.llm
        .QualityRules.classifierScores(s, docs.filter(pred), "doc_id", "text")
        .select(col("score_permille").as("score"))
        .filter(col("score").isNotNull)
        .groupBy("score").agg(count(lit(1)).as("n"))
      TableProfile.scoreEcdfFromCounts(
        legCounts(col("doc_id") % 2 === 0)
          .unionByName(legCounts(col("doc_id") % 2 === 1))
          .groupBy("score").agg(sum("n").as("n")))
    },
      // the register identity, fourth walk: the folded count table must
      // land on the ONE-PASS ECDF — oracle shared verbatim
      ecdfSqlDuck),

    // Hard-sigmoid logistic head distilled from the stub-teacher label
    // by 8 unrolled integer gradient rounds (size-normalized step) on
    // the non-held-out fold; output is the exact micro-unit weight
    // table. HeadTrainSpec grades the trained weights against the
    // frozen scorer on the held-out fold's AUC.
    Gate("quality_head_train", (s, dir) =>
      HeadTrain.train(Tables.documents(s, dir), "doc_id", "text"),
      HeadTrain.trainSqlDuck("documents", "doc_id")),

    // The trained head graded out-of-sample: the exact integer AUC of
    // the distilled weights on the HELD-OUT fold — the HeadTrainSpec
    // improvement claim as a driver-gated number (oracle = training
    // chain + held-out margins + the quality_ngram_head_auc AUC walk).
    // margins quantize to the hard-sigmoid per-mille grid BEFORE the
    // AUC walk: raw integer margins are unbounded-cardinality at scale,
    // the per-mille grid keeps the score register ≤1001 rows (the
    // rocAuc boundedScoreTable contract) at any corpus size
    Gate("quality_head_auc", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val w = HeadTrain.train(docs, "doc_id", "text")
      graft.ops.TableProfile.rocAuc(
        HeadTrain.heldOutScores(docs, "doc_id", "text", w)
          .withColumn("_s", expr(
            s"(least(${HeadTrain.ZClamp}L, greatest(${-HeadTrain.ZClamp}L, _z))" +
              s" + ${HeadTrain.ZClamp}L) div 4000")),
        col("_s"), col("_y") === 1)
    },
      HeadTrain.heldOutAucSqlDuck("documents", "doc_id"))
  )

  /** The one-pass ECDF oracle — shared verbatim by the batch gate
    * (`quality_score_ecdf`) and the register fold
    * (`quality_ecdf_stream`).
    */
  private val ecdfSqlDuck: String =
    s"""WITH sc AS (SELECT
       |  ${graft.llm.QualityRules.stubEduScoreSqlDuck} AS s
       |  FROM documents WHERE text IS NOT NULL),
       |g AS (SELECT s AS score, CAST(count(*) AS BIGINT) AS n
       |  FROM sc GROUP BY 1),
       |c AS (SELECT score, n, CAST(sum(n) OVER (ORDER BY score
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    AS cum_n,
       |  CAST(sum(n) OVER () AS BIGINT) AS total FROM g)
       |SELECT score, n, cum_n, cum_n * 1000 // total AS ecdf_permille
       |FROM c""".stripMargin.replace("\n", " ")
}
