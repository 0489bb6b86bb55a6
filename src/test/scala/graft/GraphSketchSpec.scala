package graft

import org.apache.spark.sql.functions._

import graft.graph.GraphOps
import graft.llm.Dedup
import graft.ops.{Lww, Scd}
import graft.sketch.Sketches

/** Round-10 families: graph centrality, deterministic sketches, SCD2.
  * The PageRank test is the strongest shape: the distributed
  * join+agg iteration must equal a sequential in-memory reference
  * implementation of the SAME integer recurrence, vertex by vertex.
  */
class GraphSketchSpec extends SparkSpecBase {
  import spark.implicits._

  private def itemCol = get_json_object(col("props"), "$.k").cast("long")
  private def events = Tables.events(spark, sfDir)
  private def docs = Tables.documents(spark, sfDir)

  test("pageRankInt equals a sequential reference of the same recurrence") {
    val edgesDf = GraphOps.covisitEdges(events, "user_id", itemCol)
    val edges = edgesDf.select("src", "dst", "w").as[(Long, Long, Long)].collect()
    // sequential reference: identical integer arithmetic, plain maps
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var mass = outW.keys.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val inflow = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d, w) =>
        inflow(d) += mass(s) * w / outW(s)
      }
      // every vertex retains a row (teleport floor), inflow or not —
      // the left-join-onto-verts semantics
      mass = outW.keys.map(v => v -> (150000L + 85L * inflow(v) / 100L)).toMap
    }
    val got = GraphOps.pageRankInt(edgesDf, iters = 3)
      .as[(Long, Long)].collect().toMap
    assert(got === mass)
    // teleport floor holds for every vertex
    assert(got.values.forall(_ >= 150000L))
  }

  test("covisitOutWeighted equals the generic outWeighted over covisitEdges") {
    // the per-side out-weight derivation (round-19 §2.3/§2.4 rewrite)
    // must be row-identical to the generic self-join shape it replaces
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("src", "dst", "w", "out_w")
        .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val generic = canon(GraphOps.outWeighted(
      GraphOps.covisitEdges(events, "user_id", itemCol)))
    val perSide = canon(GraphOps.covisitOutWeighted(events, "user_id", itemCol))
    assert(perSide === generic)
    // and the covisit entry points land on the generic results exactly
    val prGeneric = GraphOps.pageRankInt(
      GraphOps.covisitEdges(events, "user_id", itemCol), iters = 3)
      .as[(Long, Long)].collect().toMap
    val prCovisit = GraphOps.pageRankIntCovisit(events, "user_id", itemCol,
      iters = 3).as[(Long, Long)].collect().toMap
    assert(prCovisit === prGeneric)
  }

  test("covisit PageRank ranks the busiest item above the least-connected") {
    val pr = GraphOps.pageRankInt(
      GraphOps.covisitEdges(events, "user_id", itemCol), iters = 3)
      .as[(Long, Long)].collect().toMap
    val strength = GraphOps.covisitEdges(events, "user_id", itemCol)
      .groupBy("src").agg(sum("w").as("s")).as[(Long, Long)].collect().toMap
    val items = strength.keys.filter(_ >= GraphOps.ItemBase)
    val hot = items.maxBy(strength)
    val cold = items.minBy(strength)
    assert(pr(hot) > pr(cold),
      s"hot item ${hot} mass ${pr(hot)} not above cold ${cold} mass ${pr(cold)}")
  }

  test("personalized PageRank equals its sequential reference; seeds hold the floor") {
    val edgesDf = GraphOps.covisitEdges(events, "user_id", itemCol)
    val edges = edgesDf.select("src", "dst", "w").as[(Long, Long, Long)].collect()
    def seed(v: Long) = v >= GraphOps.ItemBase && (v - GraphOps.ItemBase) % 5 == 0
    val outW = edges.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var mass = outW.keys.map(v => v -> (if (seed(v)) 1000000L else 0L)).toMap
    for (_ <- 1 to 3) {
      val inflow = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
      edges.foreach { case (s, d, w) => inflow(d) += mass(s) * w / outW(s) }
      mass = outW.keys.map(v =>
        v -> ((if (seed(v)) 150000L else 0L) + 85L * inflow(v) / 100L)).toMap
    }
    val got = GraphOps.personalizedPageRankInt(edgesDf,
      v => v >= GraphOps.ItemBase && pmod(v - GraphOps.ItemBase, lit(5L)) === 0,
      iters = 3).as[(Long, Long)].collect().toMap
    assert(got === mass)
    got.foreach { case (v, m) =>
      if (seed(v)) assert(m >= 150000L, s"seed $v lost its teleport floor")
      assert(m >= 0L)
    }
  }

  test("backbone triangles: every emitted triple is an ordered triangle, and all are found") {
    val pairs = GraphOps.itemCopairs(events, "user_id", itemCol, maxUserDegree = 0)
    val top = pairs.orderBy(col("t").desc, col("i"), col("j")).limit(150)
      .select("i", "j").as[(Long, Long)].collect().toSet
    val expected = for {
      (i, j) <- top; (j2, k) <- top
      if j2 == j && top.contains((i, k))
    } yield (i, j, k)
    val got = GraphOps.backboneTriangles(pairs, topK = 150)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === expected)
    got.foreach { case (i, j, k) => assert(i < j && j < k) }
  }

  test("degreeProfile: degree counts distinct destinations, permille bounded") {
    val e = GraphOps.covisitEdges(events, "user_id", itemCol)
    val prof = GraphOps.degreeProfile(e).collect()
    val expectDeg = e.groupBy("src").agg(countDistinct("dst").as("d"))
      .as[(Long, Long)].collect().toMap
    prof.foreach { r =>
      assert(r.getAs[Long]("out_degree") === expectDeg(r.getAs[Long]("vertex")))
      val pm = r.getAs[Long]("top_edge_permille")
      assert(pm >= 1 && pm <= 1000)
    }
  }

  private def shingleHashes = {
    Dedup.widen(docs.select(col("source"), split(col("text"), " ").as("_toks")))
      .filter(size(col("_toks")) >= 3)
      .select(col("source"), explode(expr(
        "transform(sequence(1, size(_toks) - 2), " +
          "i -> concat_ws(' ', slice(_toks, i, 3)))")).as("sh"))
      .select(col("source"), Dedup.tokenHash(col("sh")).as("h"))
  }

  test("KMV: exhaustive below k, calibrated above, deterministic") {
    val r = Sketches.kmvCalibration(shingleHashes, Seq("source"), col("h"),
      k = 64, preHashed = true).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (exact, kk, est) = (row.getAs[Long]("n_exact"),
        row.getAs[Long]("kmv_k"), row.getAs[Long]("kmv_estimate"))
      if (kk < 64) assert(est === exact, s"sub-k group must be exact: $row")
      else assert(est >= exact / 3 && est <= exact * 3,
        s"KMV estimate off by >3x: $row")
    }
    // small-group exactness: one source restricted to < k shingles
    val tiny = Sketches.kmvCalibration(
      shingleHashes.limit(10), Seq("source"), col("h"), k = 64,
      preHashed = true).collect()
    tiny.foreach(row => assert(
      row.getAs[Long]("kmv_estimate") === row.getAs[Long]("n_exact")))
  }

  test("HLL: integer estimator lands within sketch error of exact") {
    val r = Sketches.hllDistinct(shingleHashes, Seq("source"), col("h"),
      p = 6, alphaMilli = 709L, preHashed = true).collect()
    assert(r.nonEmpty)
    r.foreach { row =>
      val (exact, est) =
        (row.getAs[Long]("n_exact"), row.getAs[Long]("hll_estimate"))
      assert(est >= exact / 4 && est <= exact * 4,
        s"HLL estimate implausible: $row")
    }
  }

  test("HLL registers max-merge across disjoint shards to the whole-corpus registers") {
    val all = shingleHashes
    val half1 = all.filter(pmod(col("h"), lit(2L)) === 0)
    val half2 = all.filter(pmod(col("h"), lit(2L)) === 1)
    def regs(df: org.apache.spark.sql.DataFrame) =
      Sketches.hllRegisters(df, Seq("source"), col("h"), p = 6, preHashed = true)
    val merged = regs(half1).unionByName(regs(half2))
      .groupBy("source", "_bucket").agg(max("_r").as("_r"))
      .as[(String, Long, Int)].collect().toSet
    val whole = regs(all).as[(String, Long, Int)].collect().toSet
    assert(merged === whole,
      "shard-wise sketching + max-merge must equal the one-pass sketch")
  }

  test("CMS: every estimate >= exact (collisions only add); heavy keys tight") {
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    val r = Sketches.cmsTopKCalibration(toks, col("tok"), d = 4, w = 256,
      topN = 10).collect()
    assert(r.length === 10)
    r.foreach { row =>
      val (exact, est) =
        (row.getAs[Long]("n_exact"), row.getAs[Long]("cms_estimate"))
      assert(est >= exact, s"CMS must overestimate: $row")
      // the corpus' heavy keys dominate their cells — the overestimate
      // is collision mass from a ~31-token universe into 256 buckets
      assert(est <= exact * 2, s"CMS overestimate implausibly large: $row")
    }
  }

  test("backbone components equal a union-find over the same edges") {
    val pairs = GraphOps.itemCopairs(events, "user_id", itemCol, maxUserDegree = 0)
    val edges = GraphOps.backboneEdges(pairs, 150).as[(Long, Long)].collect()
    // reference union-find
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val verts = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expected = verts.map(v => v -> find(v)).toMap
    val got = graft.llm.Dedup.connectedComponentsStars(
      GraphOps.backboneEdges(pairs, 150), "i", "j")
      .select(col("doc_id"), col("cluster_id"))
      .as[(Long, Long)].collect().toMap
    // same partition: the engine labels by min member, as does the
    // path-compressed min-union reference
    assert(got === expected)
  }

  test("itemCopairs degree cap removes exactly the hyper-connector's pairs") {
    // a synthetic hyper-user touching every item would connect ALL items
    val base = events.select(col("user_id"), itemCol.as("it"))
      .filter(col("it").isNotNull)
    val hyper = base.select(lit(999999L).as("user_id"), col("it")).distinct()
    val withHyper = base.unionByName(hyper)
      .select(col("user_id"), col("it"))
    val capped = GraphOps.itemCopairs(
      withHyper.select(col("user_id"), col("it")), "user_id", col("it"),
      maxUserDegree = 80)
      .as[(Long, Long, Long)].collect()
      .map { case (i, j, t) => (i, j) -> t }.toMap
    val clean = GraphOps.itemCopairs(base, "user_id", col("it"),
      maxUserDegree = 0)
      .as[(Long, Long, Long)].collect()
      .map { case (i, j, t) => (i, j) -> t }.toMap
    assert(capped === clean,
      "capping must restore exactly the hyper-user-free pair counts")
  }

  test("streaming HLL: project + one max-agg equals the batch registers, across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val rows = shingleHashes.as[(String, Long)].collect()
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val in = MemoryStream[(String, Long)]
    val regs = in.toDF().toDF("source", "h")
      .select(col("source"), Sketches.hllBucket(col("h"), 6).as("_bucket"),
        Sketches.hllRho(col("h"), 6).as("_rho"))
      .groupBy("source", "_bucket").agg(max("_rho").as("_r"))
    assert(regs.isStreaming)
    val q = regs.writeStream.format("memory").queryName("hll_regs")
      .outputMode("complete").start()
    try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("hll_regs")
        .as[(String, Long, Int)].collect().toSet
      val batch = Sketches.hllRegisters(shingleHashes, Seq("source"),
        col("h"), p = 6, preHashed = true)
        .as[(String, Long, Int)].collect().toSet
      assert(streamed === batch,
        "the streaming register build must equal the batch sketch")
    } finally q.stop()
  }

  test("MAD outliers: exact medians, strict flag, known-outlier injection") {
    val df = (Seq.fill(9)(100L) :+ 10000L).zipWithIndex
      .map { case (v, i) => (1L, i.toLong, v) }
      .toDF("user_id", "event_id", "v")
    val r = graft.ops.EventAnalytics.madOutliers(df, "user_id", col("v"))
      .collect().head
    assert(r.getAs[Long]("median_v") === 100L)
    assert(r.getAs[Long]("mad_v") === 0L) // >half identical → MAD 0
    assert(r.getAs[Long]("n_anomalies") === 1L,
      "with MAD 0 any deviation flags — exactly the injected outlier")
    assert(r.getAs[Long]("n_events") === 10L)
  }

  test("chi2 drift: identical distributions score 0; disjoint vocabularies score high") {
    val same = Seq(("a", "x y z x y z"), ("b", "x y z x y z"))
      .toDF("source", "text")
    graft.llm.TextAnalysis.sourceDriftChi2(same, "source", "text")
      .collect().foreach(r =>
        assert(r.getAs[Long]("chi2_scaled") === 0L,
          s"a source distributed like the corpus must score 0: $r"))
    val skew = Seq(("a", "x x x x x x"), ("b", "y y y y y y"))
      .toDF("source", "text")
    // e = 6·6 div 12 = 3 for the one present token; term = 9·1000 div 4
    graft.llm.TextAnalysis.sourceDriftChi2(skew, "source", "text")
      .collect().foreach(r =>
        assert(r.getAs[Long]("chi2_scaled") === 2250L, r.toString))
  }

  test("log-histogram quantiles: shard sum-merge == one-pass; estimate shares the truth's bin") {
    val vals = events.select(col("event_type"),
      graft.ops.EventOps.cents(col("value")).as("vc"))
    val onePass = Sketches.logHistogram(vals, Seq("event_type"), col("vc"))
    // shard-merge property: registers over 3 disjoint shards, summed,
    // equal the one-pass registers bit-for-bit
    val merged = (0L to 2L).map(i =>
        Sketches.logHistogram(vals.filter(pmod(col("vc"), lit(3L)) === i),
          Seq("event_type"), col("vc")))
      .reduce(_ unionByName _)
      .groupBy("event_type", "_bin").agg(sum("_cnt").as("_cnt"))
    def regSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long)].collect().toSet
    assert(regSet(merged) === regSet(onePass))
    // fixed-splits guarantee: the estimate lands in the same power-of-2
    // bin as the true rank-target value → ratio within [1/2, 2]
    val est = Sketches.quantilesFromLogHistogram(onePass,
      Seq("event_type"), Seq(500, 900, 990))
      .as[(String, Long, Long, Long)].collect()
    assert(est.length === 15, "3 quantiles × 5 event types")
    val byType = vals.as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    est.foreach { case (et, q, n, e) =>
      val sortedVals = byType(et)
      assert(n === sortedVals.length)
      val target = math.max(1L, (q * n + 999) / 1000).toInt
      val exact = sortedVals(target - 1)
      assert(e <= 2 * exact && exact <= 2 * e,
        s"$et q=$q: est $e vs exact $exact outside the 2x bin bound")
      // monotone in q within a group is implied by cum-walk; check anyway
    }
    val byGroup = est.groupBy(_._1).values
    byGroup.foreach { rows =>
      val sorted = rows.sortBy(_._2).map(_._4)
      assert(sorted.zip(sorted.tail).forall { case (a, b) => a <= b },
        "quantile estimates must be monotone in q")
    }
  }

  test("streaming quantile maintenance: batches land on the one-pass " +
      "registers, replays are no-ops, panel reads match") {
    val dir = java.nio.file.Files.createTempDirectory("quant_stream").toString
    val sq = new graft.sketch.StreamingQuantile(spark, dir, Seq("event_type"))
    val vals = events.select(col("event_type"),
      graft.ops.EventOps.cents(col("value")).as("vc"))
    (0L to 2L).foreach { i =>
      sq.recordBatch(vals.filter(pmod(col("vc"), lit(3L)) === i), col("vc"), i)
    }
    val onePass = Sketches.logHistogram(vals, Seq("event_type"), col("vc"))
    def regSet(df: org.apache.spark.sql.DataFrame) =
      df.select("event_type", "_bin", "_cnt")
        .as[(String, Long, Long)].collect().toSet
    val want = regSet(onePass)
    assert(regSet(sq.mergedRegisters()) === want)
    // at-least-once replay: re-delivering batch 1 rewrites its own
    // partition with identical registers — the merged counts are
    // unchanged (counts are duplicate-sensitive; the partition
    // overwrite is what makes this a no-op)
    sq.recordBatch(vals.filter(pmod(col("vc"), lit(3L)) === 1), col("vc"), 1L)
    assert(regSet(sq.mergedRegisters()) === want)
    val panel = Sketches.quantilesFromLogHistogram(onePass,
      Seq("event_type"), Seq(500, 950)).as[(String, Long, Long, Long)]
      .collect().toSet
    assert(sq.quantiles(Seq(500, 950)).as[(String, Long, Long, Long)]
      .collect().toSet === panel)
  }

  test("streaming quantile zero state: empty registers, empty panel") {
    val sq = new graft.sketch.StreamingQuantile(spark, tmpDir("quant_zero"),
      Seq("event_type"))
    assert(sq.mergedRegisters().columns.toSeq === Seq("event_type", "_bin", "_cnt"))
    assert(sq.mergedRegisters().count() === 0L)
    assert(sq.quantiles(Seq(500, 950)).count() === 0L)
  }

  test("log-histogram rejects negative values loudly") {
    val bad = Seq(("a", -5L)).toDF("g", "v")
    val e = intercept[Exception] {
      Sketches.logHistogram(bad, Seq("g"), col("v")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("negative value")))
  }

  test("chi2 drift overflow regime: billion-scale counts whose products exceed int64 stay exact") {
    // c·st = 7e9 · 5e9 = 3.5e19 > Long.MaxValue — the pre-round-11 int64
    // product would wrap; DECIMAL(38,0) must reproduce the BigInt fold
    val counts = Seq(
      ("A", 1L, 4000000000L), ("A", 2L, 1000000000L),
      ("B", 1L, 3000000000L), ("B", 3L, 2000000000L))
    val got = graft.llm.TextAnalysis.driftChi2FromCounts(
        counts.toDF("source", "h", "o"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("chi2_scaled"))).toMap
    // sequential BigInt reference of the same recurrence
    val c = counts.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    val st = counts.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val tt = counts.map(_._3).sum
    val want = counts.groupBy(_._1).map { case (s, rows) =>
      val chi2 = rows.map { case (_, h, o) =>
        val e = (BigInt(c(h)) * st(s) / tt).toLong
        (BigInt(o - e) * (o - e) * 1000 / (e + 1)).toLong
      }.sum
      s -> (st(s), chi2)
    }
    assert(got === want)
  }

  test("SCD2 as-of: exactly the last pre-T non-delete version per key, else no row") {
    val t = 1705276800000000L // 2024-01-15T00:00Z, mid-fixture
    val changes = events.select(col("user_id"), col("event_id"), col("ts_us"),
      col("event_type"), graft.ops.EventOps.cents(col("value")).as("value_cents"))
    val hist = Scd.scd2History(changes, Seq("user_id"),
      Seq(col("ts_us"), col("event_id")), "ts_us",
      col("event_type") === "error", Seq("event_type", "value_cents"))
    val live = Scd.asOf(hist, t).collect()
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("valid_from_us"), r.getAs[String]("event_type"))).toMap
    assert(live.size === Scd.asOf(hist, t).count(),
      "at most one live version per key")
    // reference: per user, the latest change at or before t
    val expected = changes.filter(col("ts_us") <= t)
      .collect()
      .groupBy(_.getAs[Long]("user_id"))
      .flatMap { case (u, rows) =>
        val last = rows.maxBy(r => (r.getAs[Long]("ts_us"), r.getAs[Long]("event_id")))
        if (last.getAs[String]("event_type") == "error") None
        else Some(u -> (last.getAs[Long]("ts_us"), last.getAs[String]("event_type")))
      }
    assert(live === expected)
  }

  test("SCD2: intervals chain per key; is_current agrees with the LWW fold") {
    val changes = events.select(col("user_id"), col("event_id"), col("ts_us"),
      col("event_type"), graft.ops.EventOps.cents(col("value")).as("value_cents"))
    val hist = Scd.scd2History(changes, Seq("user_id"),
      Seq(col("ts_us"), col("event_id")), "ts_us",
      col("event_type") === "error", Seq("event_type", "value_cents"))
    val rows = hist.collect()
    assert(rows.nonEmpty)
    // every closed interval is non-negative-length and versions nest in order
    rows.foreach { r =>
      Option(r.getAs[java.lang.Long]("valid_to_us")).foreach(to =>
        assert(to >= r.getAs[Long]("valid_from_us")))
    }
    // at most one open (current) version per key
    val openPerKey = rows.filter(_.getAs[Boolean]("is_current"))
      .groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length)
    openPerKey.foreach { case (k, n) => assert(n === 1, s"key $k has $n open versions") }
    // a key whose LWW-latest change is non-delete has exactly that row current
    val lww = Lww.latestPerKey(changes, Seq("user_id"),
      Seq(col("ts_us"), col("event_id"))).collect()
    val current = rows.filter(_.getAs[Boolean]("is_current"))
      .map(r => r.getAs[Long]("user_id") ->
        (r.getAs[Long]("valid_from_us"), r.getAs[String]("event_type"))).toMap
    lww.foreach { r =>
      val k = r.getAs[Long]("user_id")
      if (r.getAs[String]("event_type") != "error") {
        assert(current.contains(k), s"key $k lost its current version")
        assert(current(k) === (r.getAs[Long]("ts_us"), r.getAs[String]("event_type")))
      } else assert(!current.contains(k),
        s"key $k deleted last but still has a current version")
    }
  }

  test("kmvSetOps equals a sequential reference of the same sketch algebra") {
    val k = 8
    val rnd = new scala.util.Random(42)
    def draw() = math.abs(rnd.nextLong()) % Sketches.HashSpace
    // g0 small (union < k → every estimate must collapse to exact);
    // g2 shares 20 hashes with the base (nontrivial intersection)
    val aRows =
      (1 to 3).map(i => ("g0", i.toLong * 17L)) ++
        (for (g <- Seq("g1", "g2"); _ <- 1 to 40) yield (g, draw()))
    val bRows = ((1 to 3).map(_.toLong * 17L) ++ (1 to 35).map(_ => draw()) ++
      aRows.filter(_._1 == "g2").map(_._2).take(20)).distinct
    val got = Sketches.kmvSetOps(aRows.toDF("g", "h"), Seq("g"), col("h"),
        bRows.toDF("h"), col("h"), k, preHashed = true)
      .collect().map(r => r.getString(0) -> r).toMap
    val bSet = bRows.sorted
    val bSk = bSet.take(k).toSet
    aRows.groupBy(_._1).foreach { case (g, rows) =>
      val aSet = rows.map(_._2).distinct.sorted
      val aSk = aSet.take(k).toSet
      val usk = (aSk ++ bSk).toSeq.sorted.take(k)
      val ku = usk.size
      val kint = usk.count(h => aSk(h) && bSk(h)).toLong
      val unionEst =
        if (ku < k) ku.toLong
        else ((ku - 1).toLong * Sketches.HashSpace) / usk.max
      val interEst = if (ku < k) kint else kint * unionEst / k
      val nA = aSet.size.toLong
      val nB = bSet.size.toLong
      val inter = aSet.toSet.intersect(bSet.toSet).size.toLong
      val r = got(g)
      assert(r.getAs[Long]("n_a_exact") === nA, g)
      assert(r.getAs[Long]("n_b_exact") === nB, g)
      assert(r.getAs[Long]("inter_exact") === inter, g)
      assert(r.getAs[Long]("union_exact") === nA + nB - inter, g)
      assert(r.getAs[Long]("jacc_pm_exact") === 1000L * inter / (nA + nB - inter), g)
      assert(r.getAs[Long]("kmv_union_est") === unionEst, g)
      assert(r.getAs[Long]("kmv_inter_est") === interEst, g)
      assert(r.getAs[Long]("kmv_jacc_pm_est") === 1000L * kint / ku, g)
      if (ku < k) { // exhaustive sketch ⇒ estimates ARE the truth
        assert(r.getAs[Long]("kmv_union_est") === nA + nB - inter, g)
        assert(r.getAs[Long]("kmv_inter_est") === inter, g)
      }
    }
  }

  test("kmvSetOps of a set against itself estimates Jaccard 1000") {
    val sh = docs.select(lit("all").as("g"), col("text"))
    val got = Sketches.kmvSetOps(sh, Seq("g"), col("text"),
        docs.select(col("text")), col("text"), k = 16)
      .collect().head
    assert(got.getAs[Long]("kmv_jacc_pm_est") === 1000L)
    assert(got.getAs[Long]("jacc_pm_exact") === 1000L)
    assert(got.getAs[Long]("inter_exact") === got.getAs[Long]("union_exact"))
    assert(got.getAs[Long]("kmv_inter_est") === got.getAs[Long]("kmv_union_est"))
  }

  test("rolling HLL registers equal the one-pass registers of each window's union") {
    val daily = events.select(expr("ts_us div 86400000000").as("day"),
      col("user_id").cast("string").as("u"))
    val regs = Sketches.hllRegisters(daily, Seq("day"), col("u"), p = 4)
    val rolled = Sketches.hllRollingRegisters(regs, "day", windowDays = 7, p = 4)
      .as[(Long, Long, Long)].collect().groupBy(_._1)
    val days = rolled.keys.toSeq.sorted
    assert(days.nonEmpty)
    // max-merge == one-pass: spot-check first / middle / last windows
    Seq(days.head, days(days.size / 2), days.last).distinct.foreach { d =>
      val want = Sketches.hllRegisters(
          daily.filter(col("day").between(d - 6, d)), Nil, col("u"), p = 4)
        .as[(Long, Long)].collect().toSet
      assert(rolled(d).map(t => (t._2, t._3)).toSet === want,
        s"day $d rolled registers != one-pass window registers")
    }
  }

  test("streaming CMS maintenance: batches land on the one-pass cells, " +
      "replays are no-ops, estimates >= exact") {
    val dir = tmpDir("cms_stream")
    val sc = new graft.sketch.StreamingCms(spark, dir, d = 4, w = 64)
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
    def batchPred(i: Long) =
      pmod(Dedup.tokenHash(col("tok")), lit(3L)) === i
    (0L to 2L).foreach { i =>
      sc.recordBatch(toks.filter(batchPred(i)), col("tok"), i)
    }
    val onePass = Sketches.cmsCells(toks, col("tok"), 4, 64)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select("r", "b", "c").as[(Int, Long, Long)].collect().toSet
    val want = cellSet(onePass)
    assert(cellSet(sc.mergedCells()) === want)
    // at-least-once replay: batch 1 redelivered rewrites its own
    // partition with identical cells — merged counts unchanged
    sc.recordBatch(toks.filter(batchPred(1L)), col("tok"), 1L)
    assert(cellSet(sc.mergedCells()) === want)
    val top = toks.groupBy("tok").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("tok")).limit(10)
    val est = sc.estimates(top.select(col("tok").as("key")))
      .as[(String, Long)].collect().toMap
    val exact = top.as[(String, Long)].collect().toMap
    exact.foreach { case (tok, n) =>
      assert(est(tok) >= n, s"CMS underestimated '$tok': ${est(tok)} < $n")
    }
    assert(est === Sketches.cmsEstimate(onePass,
      top.select(col("tok").as("key")), 4, 64)
      .as[(String, Long)].collect().toMap)
  }

  test("streaming CMS zero state: empty cells, every estimate 0") {
    val sc = new graft.sketch.StreamingCms(spark, tmpDir("cms_zero"), d = 4, w = 64)
    assert(sc.mergedCells().columns.toSeq === Seq("r", "b", "c"))
    assert(sc.mergedCells().count() === 0L)
    assert(sc.mergedCellsBy(Seq("day")).count() === 0L)
    assert(sc.estimates(Seq("a", "b").toDF("key")).as[(String, Long)]
      .collect().toMap === Map("a" -> 0L, "b" -> 0L))
  }

  test("streaming CMS: a new batch id compiles no classes") {
    val sc = new graft.sketch.StreamingCms(spark, tmpDir("cms_compile"), d = 4, w = 64)
    def batch(i: Long) = Seq(s"tok$i", "shared", s"tok${i + 1}").toDF("tok")
    // ids no other test records, so no class of an earlier test matches
    (900L to 901L).foreach(i => sc.recordBatch(batch(i), col("tok"), i))
    val m = Harness.measure(spark)(sc.recordBatch(batch(902L), col("tok"), 902L))
    assert(m.compiles == 0L, s"${m.compiles} classes compiled by batch 902")
    assert(sc.mergedCells().agg(sum("c")).as[Long].head() === 9L * 4)
  }

  test("streaming day-grouped CMS state feeds the rolling panel: " +
      "stream fold + replay == one-pass grouped cells == batch rolling") {
    val dir = tmpDir("cms_stream_day")
    val sc = new graft.sketch.StreamingCms(spark, dir, d = 4, w = 32)
    val rnd = new scala.util.Random(13)
    val rows = (1 to 500).map(_ =>
      (rnd.nextInt(5).toLong + 1L, s"u${rnd.nextInt(20)}"))
    val all = rows.toDF("day", "u")
    // three arrival batches cut ACROSS days (late data lands a day's
    // cells in a later batch — the shape that makes grouped state earn
    // its keep), plus a replay of batch 1
    def batchPred(i: Long) = pmod(Dedup.tokenHash(col("u")), lit(3L)) === i
    (0L to 2L).foreach { i =>
      sc.recordBatchBy(all.filter(batchPred(i)), Seq("day"), col("u"), i)
    }
    sc.recordBatchBy(all.filter(batchPred(1L)), Seq("day"), col("u"), 1L)
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.select("day", "r", "b", "c").as[(Long, Int, Long, Long)]
        .collect().toSet
    val onePass = Sketches.cmsCellsBy(all, Seq("day"), col("u"), 4, 32)
    assert(cellSet(sc.mergedCellsBy(Seq("day"))) === cellSet(onePass),
      "stream-folded day cells must equal the one-pass grouped cells")
    // and the rolling panel read off the STREAM state equals the panel
    // read off the batch cells
    def rolled(cells: org.apache.spark.sql.DataFrame) =
      Sketches.rollingSumRegisters(cells, "day", Seq("r", "b"), "c", 3)
        .as[(Long, Int, Long, Long)].collect().toSet
    assert(rolled(sc.mergedCellsBy(Seq("day"))) === rolled(onePass))
  }

  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .filter(e => e._1 != e._2).distinct
    val nbrs = sym.groupMap(_._1)(_._2)
    var lab = nbrs.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds)
      lab = nbrs.map { case (v, ns) =>
        val cnt = ns.groupBy(lab).view.mapValues(_.size)
        v -> cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
    lab
  }

  test("label propagation separates dense blocks that components merge") {
    // two triangles joined by one bridge: a single connected component,
    // but each triangle out-votes the bridge — two communities
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val got = graft.graph.GraphOps.labelPropagation(
        edges.toDF("i", "j"), "i", "j", rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === lpaRef(edges, 4))
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(4L) === got(5L) && got(5L) === got(6L))
    assert(got(1L) !== got(4L), "the two triangles must separate")
    val cc = Dedup.connectedComponents(edges.toDF("i", "j"), "i", "j")
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size === 1, "CC merges the whole bridge graph")
  }

  test("label propagation equals the sequential reference on random graphs") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(7 + seed)
      val edges = Seq.fill(50)(
        (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter(e => e._1 != e._2)
      val got = graft.graph.GraphOps.labelPropagation(
          edges.toDF("i", "j"), "i", "j", rounds = 3)
        .as[(Long, Long)].collect().toMap
      assert(got === lpaRef(edges, 3), s"seed=$seed")
    }
  }

  test("key skew profile: closed-form shares and hot factors, " +
      "deterministic tie-break") {
    val rows = Seq.fill(50)(1L) ++ Seq.fill(30)(2L) ++ Seq.fill(10)(3L) ++
      (4L to 13L) // 10 singleton keys; 13 keys, 100 rows total
    val got = graft.ops.SkewProfile.keySkewProfile(
        rows.toDF("k"), col("k"), topN = 4)
      .orderBy("rank").collect()
    assert(got.length === 4)
    val r1 = got(0)
    assert(r1.getAs[Long]("key") === 1L && r1.getAs[Long]("n_rows") === 50L)
    assert(r1.getAs[Long]("share_permille") === 500L)
    assert(r1.getAs[Long]("hot_factor_permille") === 50L * 13 * 1000 / 100)
    assert(got(1).getAs[Long]("key") === 2L &&
      got(1).getAs[Long]("share_permille") === 300L)
    assert(got(2).getAs[Long]("key") === 3L)
    // singletons tie at n_rows=1 — rank 4 must be the smallest key
    assert(got(3).getAs[Long]("key") === 4L)
    assert(got.forall(r => r.getAs[Long]("n_keys") === 13L &&
      r.getAs[Long]("n_total") === 100L))
  }
}
