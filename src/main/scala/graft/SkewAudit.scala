package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Packing, TextAnalysis}

/** Straggler measurement under injected hot keys at sf0.1 (the
  * wall-clock side of SkewAuditSpec): run the three skew-prone shuffles
  * — paragraph dedup with a boilerplate paragraph in 10% of docs,
  * star-contraction components with a hub vertex attached to 10% of doc
  * ids, greedy packing with one stratum holding 80% of the corpus — and
  * report, for the heaviest stage of each, `max task time / median task
  * time`. The claim: degradation is bounded (map-side combine /
  * AQE-splittable joins / O(1)-per-row folds), so the ratio stays small
  * even though the KEY distribution is pathological. Exits nonzero if
  * any ratio exceeds the bound (default 12 — generous for local[32]
  * scheduling noise on sub-second tasks; the signal watched for is the
  * 100×-order blowup a serialized hot key produces).
  *
  * One JSON line:
  * `{"bound":B,"violations":[...],"queries":{name:{"stages":n,"max_ms":m,"median_ms":d,"ratio":r,"wall_s":t}}}`.
  */
object SkewAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val bound = sys.env.getOrElse("SPARK_GRAFT_SKEW_BOUND", "12").toDouble
    val spark = Harness.session(32, Seq(
      // keep exchanges at the forced width so every stage has enough
      // tasks for a median (skew SPLITTING stays on; same rationale as
      // ScaleAudit — this is an observability knob, not a perf setting)
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false"))

    val docs = Tables.documents(spark, sfDir)
    val boiler = "COMMON LICENSE HEADER PARAGRAPH REPEATED ACROSS THE CORPUS"
    val skewedDocs = docs.select(col("doc_id"),
      when(col("doc_id") % 10 === 0, concat(lit(boiler), lit("\n\n"), col("text")))
        .otherwise(col("text")).as("text"))
    val hubPairs = docs.filter(col("doc_id") % 10 === 0)
      .select(lit(-1L).as("doc_a"), col("doc_id").as("doc_b"))
    val hotStratum = docs.select(col("doc_id"),
      when(col("doc_id") % 5 =!= 0, lit("srcHOT")).otherwise(col("source"))
        .as("source"),
      col("text"))

    // a hyper-user owning 10% of the event log, over a wide synthetic
    // item space (event_id % 10000) so its co-visitation degree is
    // ~10,000 → ~5·10^7 pairs if admitted; the production degree cap
    // (normal users sit near 66 distinct items at sf0.1) must drop it
    // BEFORE the self-join, keeping the stage flat
    val events = Tables.events(spark, sfDir)
    val hyperEvents = events.select(
      when(col("event_id") % 10 === 0, lit(424242L))
        .otherwise(col("user_id")).as("user_id"),
      pmod(col("event_id"), lit(10000L)).as("item"))

    val runs: Seq[(String, () => DataFrame)] = Seq(
      "covisit_pairs_hyper_user" -> (() =>
        graft.graph.GraphOps.itemCopairs(hyperEvents, "user_id",
          col("item"), maxUserDegree = 2000)),
      "paragraph_dedup_hot" -> (() =>
        Dedup.paragraphDedup(skewedDocs, "doc_id", "text")),
      "cc_stars_hub" -> (() =>
        // force the distributed rounds: the hybrid union-find finish
        // would otherwise collect this graph immediately
        Dedup.connectedComponentsStars(hubPairs, "doc_a", "doc_b",
          localThreshold = 0L)),
      "pack_greedy_hot_stratum" -> (() =>
        Packing.packGreedy(hotStratum, "doc_id", "source",
          TextAnalysis.tokenCount(col("text")), tokenBudget = 512L)),
      // the r13 fix's wall-clock twin: one boilerplate page duplicated
      // into 30% of the corpus; min_by's partial agg must keep the
      // heaviest stage flat (the replaced text-hash window serialized
      // the whole copy set into one task)
      "first_occurrence_hot_dup" -> (() =>
        Dedup.firstOccurrences(docs.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, lit(boiler))
            .otherwise(col("text")).as("text")),
          "doc_id", "text")),
      // the keep-best twin: same 30%-hot duplicate through bestByKey's
      // max_by — the score-carrying ordering key must not change the
      // partial-agg combine behavior
      "best_occurrence_hot_dup" -> (() =>
        Dedup.bestOccurrences(docs.select(col("doc_id"),
          when(col("doc_id") % 3 === 0, lit(boiler))
            .otherwise(col("text")).as("text"),
          pmod(col("doc_id"), lit(1000L)).as("score")),
          "doc_id", "text", col("score"))),
      // round-18 adversarial-corpus legs (the oracled gate twins —
      // graft.llm.Adversarial): 80% boilerplate docs through the capped
      // shingle join, and a log where three keys own 80% of events
      // through the salted LWW fold — the hot-shingle cap / content-hash
      // salt must keep the heaviest stage balanced under exactly the
      // distribution they were built for
      "adv_jaccard_capped_boilerplate" -> (() =>
        Dedup.jaccardPairs(
          graft.llm.Adversarial.documents(docs), "doc_id", "text",
          n = 3, thresholdNum = 7, thresholdDen = 10,
          maxShingleDocFreq = 50)),
      "adv_lww_salted_hot_keys" -> (() =>
        graft.ops.Lww.latestPerKeySalted(
          graft.llm.Adversarial.events(events)
            .select(col("user_id"), col("event_id"), col("ts_us"),
              col("event_type"), col("value")),
          Seq("user_id"), Seq(col("ts_us"), col("event_id")))))

    var violations = List.empty[String]
    val out = runs.map { case (name, mk) =>
      val run = Harness.measure(spark) {
        mk().write.format("noop").mode("overwrite").save()
      }
      // straggler ratio of the HEAVIEST stage (by summed task time) with
      // enough tasks for a median to mean something
      val byStage = run.tasks.groupBy(_._1).filter(_._2.size >= 4)
      val (ratio, mx, med) =
        if (byStage.isEmpty) (1.0, 0L, 0L)
        else {
          val heavy = byStage.maxBy(_._2.map(_._2).sum)._2.map(_._2).sorted
          val m = math.max(1L, heavy(heavy.size / 2))
          (heavy.last.toDouble / m, heavy.last, m)
        }
      if (ratio > bound) violations ::= name
      f""""$name":{"stages":${byStage.size},"max_ms":$mx,"median_ms":$med,"ratio":$ratio%.2f,"wall_s":${run.seconds}%.2f}"""
    }
    val viol = violations.reverse.map(n => s""""$n"""").mkString("[", ",", "]")
    println(s"""{"bound":$bound,"violations":$viol,"queries":{${out.mkString(",")}}}""")
    if (violations.nonEmpty) {
      System.err.println(s"SKEW VIOLATIONS (ratio > $bound): ${violations.reverse.mkString(", ")}")
      spark.stop(); sys.exit(1)
    }
    spark.stop()
  }
}
