package graft

import org.apache.spark.sql.functions._

import graft.llm.{Dedup, Retrieval, Sampling, Similarity}
import graft.ops.EventAnalytics

/** Semantics + plan-shape tests for the round-9 selection/audit tranche:
  * token-budget selection, OOV rate, novelty profile, IVF recall, and
  * the funnel/retention event analytics.
  */
class CurationSelectSpec extends SparkSpecBase {
  import spark.implicits._

  // ---- tokenBudgetSelect ----

  test("tokenBudgetSelect: greedy fill in (score desc, id) order, inclusive budget") {
    val docs = Seq(
      (1L, 900L, 40L), (2L, 900L, 30L), (3L, 800L, 50L),
      (4L, 700L, 10L), (5L, 950L, 25L))
      .toDF("doc_id", "s", "t")
    // order: 5(25) 1(40) 2(30) 3(50) 4(10); inclusive cums 25 65 95 145 155
    val got = Sampling.tokenBudgetSelect(docs, "doc_id", col("s"), col("t"),
      tokenBudget = 95L)
      .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
    assert(got === Map(5L -> 25L, 1L -> 65L, 2L -> 95L),
      "doc 2 lands exactly on the budget (inclusive); doc 3 overflows")
    // budget below the first doc selects nothing
    assert(Sampling.tokenBudgetSelect(docs, "doc_id", col("s"), col("t"),
      24L).count() === 0L)
    // a within-score tie fills in doc-id order: same score, budget splits it
    val tie = Seq((1L, 500L, 10L), (2L, 500L, 10L), (3L, 500L, 10L))
      .toDF("doc_id", "s", "t")
    val ids = Sampling.tokenBudgetSelect(tie, "doc_id", col("s"), col("t"),
      20L).select("doc_id").as[Long].collect().sorted.toSeq
    assert(ids === Seq(1L, 2L))
  }

  test("tokenBudgetSelect plan: prefix table broadcasts; corpus window is score-partitioned") {
    val docs = Tables.documents(spark, sfDir)
    val df = Sampling.tokenBudgetSelect(docs, "doc_id",
      expr("size(array_distinct(split(text, ' '))) * 1000 div size(split(text, ' '))"),
      graft.llm.TextAnalysis.tokenCount(col("text")), 6000L)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      "per-score prefix table must broadcast back onto the corpus")
    assert(!p.contains("CartesianProduct"))
    // the corpus-sized window must carry a partition spec — inspect the
    // optimized logical plan: of the two Window nodes, the unpartitioned
    // one (the prefix sum) must sit on the per-score AGGREGATE (bounded
    // rows), never on the corpus scan
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LW}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LW => w }
    assert(wins.size === 2, s"expected 2 windows, got ${wins.size}")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collectFirst { case a: Aggregate => a }.isDefined,
        "unpartitioned window must be over the per-score aggregate, " +
          s"not the corpus:\n$w")
    }
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "corpus cumulative sum must be score-partitioned")
  }

  // ---- oovRate ----

  test("oovRate: occurrences outside the top-k vocabulary, per-mille exact") {
    val docs = Seq(
      (1L, "a a a b"),   // 'a'×3 'b'×1
      (2L, "a b c c c"), // vocab(k=2) = {a:4, c:4}? counts: a=4 b=2 c=3
      (3L, "b d"))
      .toDF("doc_id", "text")
    // freqs: a=4, b=3... recount: doc1 a3 b1; doc2 a1 b1 c3; doc3 b1 d1
    // → a=4, b=3, c=3, d=1; top-2 by (count desc, term) = a, b
    val got = Retrieval.oovRate(docs, "doc_id", "text", k = 2)
      .select("doc_id", "n_tokens", "n_oov", "oov_permille")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === ((4L, 0L, 0L)))
    assert(got(2L) === ((5L, 3L, 600L)), "c-occurrences are OOV")
    assert(got(3L) === ((2L, 1L, 500L)))
  }

  test("oovRate plan: vocab is TakeOrdered-bounded and broadcasts") {
    val p = Retrieval.oovRate(Tables.documents(spark, sfDir), "doc_id",
      "text", 10).queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      "top-k vocab must be a bounded TakeOrdered, not a global sort")
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast")
  }

  // ---- noveltyProfile ----

  test("noveltyProfile: unseen-shingle share vs the prior corpus") {
    val prior = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "a b c d e"),   // every 3-gram seen → 0‰
      (2L, "x y z w"),     // fully novel → 1000‰
      (3L, "a b c x y z")) // shingles: abc bcx cxy xyz; only abc seen → 750‰
      .toDF("doc_id", "text")
    val got = Dedup.noveltyProfile(incoming, prior, "doc_id", "text", n = 3)
      .select("doc_id", "n_shingles", "n_novel", "novelty_permille")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got(1L) === ((3L, 0L, 0L)))
    assert(got(2L) === ((2L, 2L, 1000L)))
    assert(got(3L) === ((4L, 3L, 750L)))
  }

  // ---- ivfRecall ----

  test("ivfRecall: probing every cell recovers the brute-force ranking exactly") {
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
    val recalls = Similarity.ivfRecall(emb, emb.filter(col("vec_id") < 10),
      numCentroids = 4, nprobe = 4, k = 3)
      .select("recall_permille").as[Long].collect()
    assert(recalls.length === 10)
    assert(recalls.forall(_ === 1000L),
      "nprobe = numCentroids scans every cell → recall must be perfect")
  }

  test("ivfRecall: fewer probes can only lose candidates (recall ≤ 1000, all queries present)") {
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 100)
    val rows = Similarity.ivfRecall(emb, emb.filter(col("vec_id") < 10),
      numCentroids = 8, nprobe = 1, k = 3)
      .select("qid", "recall_permille").as[(Long, Long)].collect()
    assert(rows.length === 10, "zero-recall queries must still appear")
    assert(rows.forall { case (_, r) => r >= 0L && r <= 1000L })
  }

  // ---- funnel ----

  test("funnel: stages must be ordered and inside the conversion window") {
    val ev = Seq(
      // u1 converts fully: signup@0, view@10, click@15, purchase@20
      (1L, "signup", 0L), (1L, "view", 10L), (1L, "click", 15L), (1L, "purchase", 20L),
      // u2: view BEFORE signup doesn't count; no later view → stalls at signup
      (2L, "view", 5L), (2L, "signup", 10L), (2L, "purchase", 20L),
      // u3: view inside window, click outside (window 100) → stalls at view
      (3L, "signup", 0L), (3L, "view", 50L), (3L, "click", 200L),
      // u4: no signup at all → not in the funnel
      (4L, "view", 0L), (4L, "purchase", 5L))
      .toDF("user_id", "event_type", "ts_us")
    val got = EventAnalytics.funnel(ev, "user_id", "event_type", "ts_us",
      Seq("signup", "view", "click", "purchase"), windowUs = 100L)
      .select("stage_no", "n_users").as[(Int, Long)].collect().toMap
    assert(got === Map(1 -> 3L, 2 -> 2L, 3 -> 1L, 4 -> 1L))
  }

  test("stageTimes: equal-timestamp events don't satisfy STRICTLY-after") {
    val ev = Seq(
      (1L, "signup", 10L), (1L, "view", 10L), // same instant — no progress
      (2L, "signup", 10L), (2L, "view", 11L))
      .toDF("user_id", "event_type", "ts_us")
    val t = EventAnalytics.stageTimes(ev, "user_id", "event_type", "ts_us",
      Seq("signup", "view"), windowUs = 100L)
      .select("user_id", "t2").collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(t(1L).isEmpty && t(2L) === Some(11L))
  }

  test("funnelLatency: exact lower median per stage, odd and even counts") {
    val ev = Seq(
      // three converters with gaps 10, 30, 20 → lower median 20
      (1L, "s1", 0L), (1L, "s2", 10L),
      (2L, "s1", 0L), (2L, "s2", 30L),
      (3L, "s1", 0L), (3L, "s2", 20L),
      // stage 3: two converters, gaps 5 and 9 → lower median 5
      (1L, "s3", 15L), (2L, "s3", 39L),
      // a non-converter at stage 1 only
      (4L, "s1", 0L))
      .toDF("user_id", "event_type", "ts_us")
    val got = EventAnalytics.funnelLatency(ev, "user_id", "event_type",
      "ts_us", Seq("s1", "s2", "s3"), windowUs = 100L)
      .select("stage_no", "n_users", "median_gap_us")
      .as[(Int, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got === Map(2 -> ((3L, 20L)), 3 -> ((2L, 5L))))
  }

  // ---- retention ----

  test("retentionCohorts: first-period cohort, distinct offsets, exact counts") {
    val day = 86400000000L
    val ev = Seq(
      // u1 cohort day 0, active days 0,1,3 (two events on day 1 count once)
      (1L, 0L), (1L, day + 5L), (1L, day + 6L), (1L, 3 * day),
      // u2 cohort day 1, active days 1,3
      (2L, day), (2L, 3 * day + 1L))
      .toDF("user_id", "ts_us")
    val got = EventAnalytics.retentionCohorts(ev, "user_id", "ts_us", day)
      .select("cohort_period", "period_offset", "n_users")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((0L, 0L, 1L), (0L, 1L, 1L), (0L, 3L, 1L),
      (1L, 0L, 1L), (1L, 2L, 1L)))
  }

  // ---- z-order layout ----

  test("zValue: exact Morton interleave, monotone per dimension, bijective on 16 bits") {
    import graft.warehouse.ZOrder
    val pts = Seq((0L, 0L), (1L, 0L), (0L, 1L), (65535L, 65535L),
      (0xAAAAL, 0x5555L), (12345L, 54321L))
    val got = pts.toDF("x", "y")
      .withColumn("z", ZOrder.zValue(col("x"), col("y")))
      .select("x", "y", "z").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    def ref(x: Long, y: Long): Long = {
      var z = 0L
      for (b <- 0 until 16) {
        z |= ((x >> b) & 1L) << (2 * b)
        z |= ((y >> b) & 1L) << (2 * b + 1)
      }
      z
    }
    pts.foreach { case (x, y) =>
      assert(got((x, y)) === ref(x, y), s"($x, $y)")
    }
    // interleave is a bijection: distinct inputs → distinct z
    assert(got.values.toSeq.distinct.size === pts.size)
  }

  test("zorder layout plan: one range exchange on the curve value, sorted within") {
    val ev = Tables.events(spark, sfDir)
    val p = graft.warehouse.ZOrder.layout(ev,
      pmod(col("user_id"), lit(65536L)),
      pmod(expr("ts_us div 3600000000"), lit(65536L)), numFiles = 4)
      .queryExecution.executedPlan.toString
    assert(p.contains("rangepartitioning(_z"),
      s"layout must range-partition on the z value:\n${p.take(1500)}")
    assert(p.contains("Sort [_z"), "files must be sorted by the z value")
  }

  test("pqRecall: a corpus the codebook represents exactly has recall 1000") {
    // 16 corpus vectors + 16 sampled centroids → every sub-vector IS a
    // codeword, encoding is lossless, ADC distance == exact L2, so the
    // PQ ranking must equal the exact-L2 reference on every query
    val emb = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 16)
    val recalls = Similarity.pqRecall(emb, emb.filter(col("vec_id") < 5),
      k = 3).select("recall_permille").as[Long].collect()
    assert(recalls.length === 5)
    assert(recalls.forall(_ === 1000L), recalls.toSeq.toString)
  }

  test("curateV3: every stage bites and the invariants hold end to end") {
    val docs = Tables.documents(spark, sfDir)
    val out = graft.llm.Curation.curateV3(docs, "doc_id", "text", "source",
      minSrcPermille = 500L, tokenBudget = 3000L, stopWords = Seq("the", "a"))
      .collect()
    assert(out.nonEmpty, "pipeline must select something at sf0.001")
    assert(out.length < docs.count(), "the filters must remove something")
    // budget respected (inclusive cumulative)
    assert(out.map(_.getAs[Long]("cum_tokens")).max <= 3000L)
    // exact dedup held: one row per text hash
    val hashes = out.map(_.getAs[String]("text_hash"))
    assert(hashes.distinct.length === hashes.length)
    // reputation gate held: no surviving doc from a below-floor source
    val okSrc = graft.llm.Sampling.sourceReputationFilter(docs, "doc_id",
      "text", "source", 500L).select("source").distinct()
      .as[String].collect().toSet
    assert(out.map(_.getAs[String]("source")).forall(okSrc))
  }

  // ---- dedup_source_stats / grouping sets ----

  test("per-source dup stats: first occurrence is never charged, cross-source dups are") {
    val docs = Seq(
      (1L, "same text", "a"), (2L, "same text", "b"), (3L, "same text", "b"),
      (4L, "unique one", "a"))
      .toDF("doc_id", "text", "source")
    val h = docs.select(col("doc_id"), col("source"), md5(col("text")).as("text_hash"))
    val firsts = h.groupBy("text_hash").agg(min("doc_id").as("_first_id"))
    val got = h.join(firsts, Seq("text_hash"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") =!= col("_first_id"), 1L).otherwise(0L)).as("n_dup_docs"))
      .select("source", "n_docs", "n_dup_docs")
      .as[(String, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // doc 1 owns the hash (min id, source a); docs 2 and 3 in b are dups
    assert(got("a") === ((2L, 0L)))
    assert(got("b") === ((2L, 2L)))
  }

  test("grouping sets plan: one Expand, no cartesian") {
    val p = SparkEntry.queries("grouping_sets_revenue")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(p.contains("Expand"), "grouping sets must compile to Expand + one agg")
    assert(!p.contains("CartesianProduct"))
  }

  test("funnel/retention plans: user-keyed joins, no cartesian") {
    val ev = Tables.events(spark, sfDir)
    val f = EventAnalytics.funnel(ev, "user_id", "event_type", "ts_us",
      Seq("signup", "view", "click", "purchase"), 86400000000L)
      .queryExecution.executedPlan.toString
    assert(!f.contains("CartesianProduct"))
    val r = EventAnalytics.retentionCohorts(ev, "user_id", "ts_us",
      86400000000L).queryExecution.executedPlan.toString
    assert(!r.contains("CartesianProduct"))
  }
}
