package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{BaseSubqueryExec, LocalTableScanExec,
  SparkPlan, TakeOrderedAndProjectExec, BaseLimitExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec,
  ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Whole-surface STATIC plan lint — the scale-envelope rules ScaleAudit
  * samples on its hand-picked heavy list, asserted over EVERY gate plan
  * so a new query cannot regress silently (round-14 verdict #2):
  *
  *   - `cartesian`      — a CartesianProduct is never acceptable;
  *   - `bnl-join`       — a BroadcastNestedLoopJoin is acceptable only
  *                        when its broadcast side is bounded BY
  *                        CONSTRUCTION (a limit / TakeOrdered / local
  *                        relation / one-row aggregate) or the query
  *                        documents the bound in [[allow]];
  *   - `single-exchange`— a shuffle to ONE partition is acceptable only
  *                        when its input is register-sized by construction
  *                        (a partial aggregate, per-partition limit, or
  *                        group-limit upstream) — otherwise it is a
  *                        corpus-sized single-task gather;
  *   - `global-window`  — an UNPARTITIONED window is acceptable only over
  *                        a register-bounded input (an aggregate upstream
  *                        — the `maxDistinctScores`-enforced calibration
  *                        walks) or with a documented per-query bound.
  *
  * The STATIC walk runs on `queryExecution.sparkPlan` (the planned
  * physical tree BEFORE adaptive wrapping and codegen collapse), so it is
  * cheap — no execution — and deterministic, and covers all 264 gates.
  * The EXECUTED walk ([[lintExecuted]], round-15 verdict #2) additionally
  * runs the [[ScaleAudit.heavy]] list and re-applies the same rules to
  * the FINAL post-AQE `executedPlan` (including subquery plans, which
  * the static `collect` never descends into) — catching shapes adaptive
  * re-planning materializes only at runtime. Wired into [[Verify]]
  * (every dump also lints, `plan_lint.json` lands next to the parquet)
  * and hard-gated by `PlanLintSpec`; the standalone main writes the
  * round artifact with both sections.
  */
object PlanLint {

  final case class Hit(query: String, rule: String, node: String,
    allowed: Boolean, reason: String)

  /** Documented per-query exceptions: (query, rule) → why the flagged
    * shape is bounded at scale. Every entry must name the bound.
    */
  val allow: Map[(String, String), String] = {
    // shared justifications — one string per FAMILY so the reader audits
    // the argument once; the query list below pins where each applies
    val anchors = "broadcast side is the ABSOLUTELY-bounded query/anchor " +
      "set (vec_id < 50 at every SF; brute-force forms additionally " +
      "enforce MaxBruteForceAnchors eagerly before submitting the scan)"
    val evalSet = "broadcast side is the eval/benchmark table — MBs by " +
      "contract (decontamination broadcasts the eval side, never the corpus)"
    val registers = "broadcast side is a register-sized derived table " +
      "(grouped to a declared-bounded key set before broadcasting)"
    val seeds = "broadcast side is a fixed-size seed/codebook sample " +
      "(orderBy md5 + LIMIT — constant rows at any corpus size)"
    // grouped-agg-bounded shapes (round-15 advisor: a grouped aggregate
    // no longer auto-allows — each family documents its KEY bound here)
    val scoreGrid = "the global window / single-partition gather runs " +
      "over the per-score register — integer per-mille scores, ≤1001 " +
      "distinct keys (the maxDistinctScores-enforced boundedScoreTable " +
      "contract), never the corpus"
    val bucketGrid = "global window runs over the bounded bucket grid " +
      "(2..10000 buckets by require) — the register-sized global-CDF " +
      "cumsum of the t-closeness walk"
    val budgetPfx = "the global window / single-partition gather is the " +
      "exclusive prefix sum over the ≤1001-row per-score token table " +
      "(tokenBudgetSelect's bucket-prefix decomposition); the " +
      "corpus-sized cumsum stays PARTITION BY score"
    val gapBuckets = "global window runs over per-bucket (min,max) " +
      "summaries — |id-space| div bucketSize rows, a 4096× reduction at " +
      "the gated bucketSize; size bucketSize to the id space at scale " +
      "(gapRanges' boundary pass)"
    val sketchRegs = "broadcast side is the sketch register table — " +
      "fixed capacity by construction (CMS depth×width / HLL 2^p / " +
      "KLL-digest compaction bound), grouped on the register index"
    Map(
      // --- bnl-join: bounded anchor/query sets (the ANN family) ---
      ("ann_cosine_topk", "bnl-join") -> anchors,
      ("ann_hard_negatives", "bnl-join") -> anchors,
      ("ann_contrastive_triples", "bnl-join") -> anchors,
      ("ann_matryoshka_topk", "bnl-join") -> anchors,
      ("ann_matryoshka_recall", "bnl-join") -> anchors,
      ("ann_hamming_topk", "bnl-join") -> anchors,
      ("ann_sq8_topk", "bnl-join") -> anchors,
      ("ann_sq8_recall", "bnl-join") -> anchors,
      ("dedup_embedding_cosine", "bnl-join") -> anchors,
      // --- bnl-join: eval-side broadcasts (decontamination contract) ---
      ("decontam_embedding", "bnl-join") -> evalSet,
      ("decontam_embedding_clean", "bnl-join") -> evalSet,
      // --- bnl-join: register-sized derived tables ---
      ("rag_context_pack", "bnl-join") -> registers,
      // --- bnl-join: Materialize.stable() hides the bound ---
      // these broadcast a stable()'d FIXED-SIZE table (centroid /
      // codebook samples: orderBy md5 + LIMIT numCentroids; or a
      // register-sized rank/distribution table) — stable() returns a
      // checkpointed leaf in EVERY mode, so the bounding
      // TakeOrdered/limit/aggregate upstream is structurally invisible
      // to the walk and the bound is documented here instead
      ("ann_ivf_topk", "bnl-join") -> seeds,
      ("ann_ivf_recall", "bnl-join") -> seeds,
      ("ann_ivf_recall_curve", "bnl-join") -> seeds,
      ("ann_ivf_incremental", "bnl-join") -> seeds,
      ("ann_ivfpq_topk", "bnl-join") -> seeds,
      ("ann_ivfpq_residual_topk", "bnl-join") -> seeds,
      ("ann_pq_recall", "bnl-join") -> seeds,
      ("ann_hamming_recall", "bnl-join") -> seeds,
      ("ann_cell_balance", "bnl-join") -> seeds,
      ("ann_hard_negatives_ivf", "bnl-join") -> seeds,
      ("ann_contrastive_triples_ivf", "bnl-join") -> seeds,
      ("ann_hard_negatives_recall", "bnl-join") -> (anchors +
        "; the index leg additionally broadcasts the stable()'d " +
        "fixed-size centroid sample (the seeds bound) and the 1-row " +
        "anchor-count guard"),
      // --- bnl-join: cross-modal towers (round 17) — same IVF path ---
      ("multimodal_crossmodal_topk", "bnl-join") -> seeds,
      ("multimodal_crossmodal_recall", "bnl-join") -> (anchors +
        "; the IVF leg additionally broadcasts the stable()'d " +
        "fixed-size centroid sample (the seeds bound)"),
      ("events_value_drift", "bnl-join") -> registers,
      ("privacy_t_closeness", "bnl-join") -> registers,
      ("privacy_t_closeness_stream", "bnl-join") -> registers,
      ("hybrid_rrf_topk", "bnl-join") -> registers,
      ("rerank_cross_topk", "bnl-join") -> registers,
      // --- bnl-join: sketch register tables (grouped on register index) ---
      ("sketch_cms_rolling_heavy", "bnl-join") -> sketchRegs,
      ("sketch_hll_rolling_users", "bnl-join") -> sketchRegs,
      ("sketch_quantile_rolling", "bnl-join") -> sketchRegs,
      // --- global-window: score-grid registers (≤1001 permille keys) ---
      ("quality_auc_lang", "global-window") -> scoreGrid,
      ("quality_auc_stream", "global-window") -> scoreGrid,
      ("quality_classifier_auc", "global-window") -> scoreGrid,
      ("quality_ngram_head_auc", "global-window") -> scoreGrid,
      ("quality_head_auc", "global-window") -> scoreGrid,
      ("quality_classifier_operating_points", "global-window") -> scoreGrid,
      ("quality_operating_points_stream", "global-window") -> scoreGrid,
      ("quality_score_ecdf", "global-window") -> scoreGrid,
      ("quality_ecdf_stream", "global-window") -> scoreGrid,
      ("curriculum_ecdf_phases", "global-window") -> scoreGrid,
      // --- global-window: t-closeness bucket grids ---
      ("privacy_t_closeness", "global-window") -> bucketGrid,
      ("privacy_t_closeness_stream", "global-window") -> bucketGrid,
      // --- single-exchange: the SAME score-grid / budget-prefix bounds,
      // tripped by the post-AQE executed walk (the final plan's
      // SinglePartition shuffle feeding the register window) ---
      ("quality_auc_lang", "single-exchange") -> scoreGrid,
      ("quality_auc_stream", "single-exchange") -> scoreGrid,
      ("quality_classifier_auc", "single-exchange") -> scoreGrid,
      ("quality_ngram_head_auc", "single-exchange") -> scoreGrid,
      ("quality_score_ecdf", "single-exchange") -> scoreGrid,
      ("select_token_budget", "single-exchange") -> budgetPfx,
      // --- global-window: token-budget prefix decomposition ---
      ("select_token_budget", "global-window") -> budgetPfx,
      ("corpus_curated_v3", "global-window") -> budgetPfx,
      ("corpus_curation_funnel", "global-window") -> budgetPfx,
      // --- global-window: gap-range bucket boundary pass ---
      ("cdc_gap_ranges", "global-window") -> gapBuckets
    )
  }

  /** True when `p`'s subtree contains a node that bounds its output to a
    * register-sized row count regardless of input size: a GLOBAL
    * (grouping-key-empty) aggregate, a per-partition or global limit, a
    * TakeOrdered, a group-limit, or a literal local relation. A GROUPED
    * aggregate does NOT auto-allow (round-15 advisor): its output is
    * group-cardinality-sized, and a corpus-cardinality key (per-doc_id)
    * feeding a global window or single-partition gather is exactly the
    * scale-killer this lint exists to catch — grouped-agg-bounded
    * shapes must document their key bound in [[allow]] instead.
    */
  private def boundedSubtree(p: SparkPlan): Boolean =
    p.collectFirst {
      case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
      case _: BaseLimitExec => true
      case _: TakeOrderedAndProjectExec => true
      case _: WindowGroupLimitExec => true
      case _: LocalTableScanExec => true
    }.isDefined

  /** Like [[boundedSubtree]] but stops at the first downstream exchange:
    * the bound must hold for the rows ENTERING this exchange, and a
    * bounding node on the far side of another shuffle says nothing about
    * this one's input volume. A grouped aggregate passes only if
    * something BELOW it (before the next exchange) bounds its input —
    * its own keyed output never auto-allows (see [[boundedSubtree]]).
    */
  private def boundedAboveExchange(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec =>
      a.groupingExpressions.isEmpty || a.children.exists(boundedAboveExchange)
    case _: BaseLimitExec | _: TakeOrderedAndProjectExec |
         _: WindowGroupLimitExec | _: LocalTableScanExec => true
    case _: Exchange => false
    case other => other.children.exists(boundedAboveExchange)
  }

  def lintPlan(query: String, plan: SparkPlan): Seq[Hit] = {
    def mk(rule: String, node: SparkPlan, autoOk: Boolean): Hit =
      allow.get((query, rule)) match {
        case Some(reason) => Hit(query, rule, node.nodeName, allowed = true, reason)
        case None if autoOk =>
          Hit(query, rule, node.nodeName, allowed = true,
            "bounded by construction (limit/aggregate/local upstream)")
        case None => Hit(query, rule, node.nodeName, allowed = false, "")
      }
    plan.collect {
      case c: CartesianProductExec =>
        mk("cartesian", c, autoOk = false)
      case j: BroadcastNestedLoopJoinExec =>
        // the broadcast side is the build side; bounded-by-construction
        // broadcast (seed samples, one-row stats) auto-allows
        val bcast = j.buildSide match {
          case org.apache.spark.sql.catalyst.optimizer.BuildLeft => j.left
          case _ => j.right
        }
        mk("bnl-join", j, autoOk = boundedSubtree(bcast))
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
        mk("single-exchange", e, autoOk = boundedAboveExchange(e.child))
      case w: WindowExec if w.partitionSpec.isEmpty =>
        mk("global-window", w, autoOk = boundedSubtree(w.child))
    }
  }

  /** Rewrites an EXECUTED (post-AQE) physical tree into a plain tree the
    * static rules can walk: the adaptive wrapper is replaced by the plan
    * it FINALLY ran, query stages by the plans they materialized, reused
    * exchanges/subqueries by their originals. Without this, the rules
    * would see only wrapper nodes and miss anything AQE re-planned.
    */
  private def unwrapExecuted(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrapExecuted(a.executedPlan)
    case s: QueryStageExec => unwrapExecuted(s.plan)
    case r: ReusedExchangeExec => unwrapExecuted(r.child)
    case s: BaseSubqueryExec => unwrapExecuted(s.child)
    case other => other.withNewChildren(other.children.map(unwrapExecuted))
  }

  /** POST-AQE lint (round-15 verdict #2): execute the frame (noop sink —
    * count() would let Catalyst prune the real projections), then walk
    * the FINAL `executedPlan` with the same four rules. Two things the
    * static `sparkPlan` walk structurally cannot see are covered here:
    * shapes AQE materialized only at runtime (a re-planned join, a
    * runtime-injected exchange), and SUBQUERY plans — `collect` never
    * descends into subquery expressions, so a cartesian inside a scalar
    * subquery is invisible to the static walk (PlanLintSpec proves the
    * executed walk catches exactly that shape). Hits are de-duplicated:
    * `subqueriesAll` re-lists nested subqueries at every level.
    */
  def lintExecuted(query: String, df: DataFrame): Seq[Hit] = {
    df.write.format("noop").mode("overwrite").save()
    val plain = unwrapExecuted(df.queryExecution.executedPlan)
    val subs = plain.subqueriesAll.map(unwrapExecuted)
    (plain +: subs).flatMap(lintPlan(query, _)).distinct
  }

  /** Lint every (or the named) gate plans; returns hits. Builds each
    * frame exactly as Verify does but never executes it.
    */
  def run(spark: SparkSession, sfDir: String,
      only: Set[String] = Set.empty): Seq[Hit] = {
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .flatMap { case (name, fn) =>
        lintPlan(name, fn(spark, sfDir).queryExecution.sparkPlan)
      }
  }

  def toJson(sfDir: String, nQueries: Int, hits: Seq[Hit],
      executed: Option[(Int, Seq[Hit])] = None): String = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    def hitsJson(hs: Seq[Hit]): String = hs.map(h =>
      s"""{"query":${q(h.query)},"rule":${q(h.rule)},"node":${q(h.node)},""" +
        s""""allowed":${h.allowed},"reason":${q(h.reason)}}""").mkString("[", ",", "]")
    val execSection = executed.map { case (n, ehs) =>
      s""","executed":{"n_queries":$n,"n_hits":${ehs.size},""" +
        s""""n_unexplained":${ehs.count(!_.allowed)},"hits":${hitsJson(ehs)}}"""
    }.getOrElse("")
    s"""{"sf":${q(sfDir)},"n_queries":$nQueries,""" +
      s""""n_hits":${hits.size},"n_unexplained":${hits.count(!_.allowed)},""" +
      s""""hits":${hitsJson(hits)}$execSection}"""
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outFile) = args.toList match {
      case s :: o :: Nil => (s, o)
      case _ => sys.error("usage: PlanLint <sfDir> <outJson>")
    }
    val spark = Harness.session()
    val hits = run(spark, sfDir)
    // post-AQE re-walk of the ScaleAudit heavy list: the static section
    // covers every gate cheaply; the executed section EXECUTES the
    // queries AQE actually re-plans the hardest and lints what ran
    val execHits = ScaleAudit.heavy.sorted.flatMap { name =>
      lintExecuted(name, SparkEntry.queries(name)(spark, sfDir))
    }
    val bad = hits.filterNot(_.allowed) ++ execHits.filterNot(_.allowed)
    val json = toJson(sfDir, SparkEntry.queries.size, hits,
      Some((ScaleAudit.heavy.size, execHits)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), json)
    println(json)
    spark.stop()
    if (bad.nonEmpty) {
      bad.foreach(h => System.err.println(s"UNEXPLAINED ${h.rule} in ${h.query} (${h.node})"))
      sys.exit(1)
    }
  }
}
