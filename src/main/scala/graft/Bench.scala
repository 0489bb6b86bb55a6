package graft

/** Driver benchmark: per-query wall clock over SPARK_GRAFT_SF_DIR plus a
  * replication-pipeline throughput metric (events/s through
  * validate→compact→merge, the BASELINE.md headline number). One JSON
  * line on stdout.
  *
  * Measurement discipline (the host shows transient multi-minute CPU
  * contention windows — identical code measured 10-100x apart minutes
  * apart):
  *   1. The headline `events_per_sec` is measured FIRST, before the long
  *      query tail can push it into a contention window: MEDIAN of 5
  *      fixed-work trials (round-15 verdict #1 — the r15 driver run's
  *      best-of-3 spanned 26.9k–55.9k on unchanged code, so a single
  *      contended window could dominate the headline; the median of
  *      five absorbs up to two bad windows, and the full trial vector +
  *      host loadavg land in the JSON so a dirty run is diagnosable).
  *   2. Each query is timed once; entries that look contaminated (>2 s)
  *      are re-measured min-of-up-to-3, cheapest first, under a global
  *      re-measure budget — so one slow outlier can't starve the others'
  *      retries.
  *   3. A query that throws is recorded in `failed` with value -1, never
  *      as its (tiny) time-to-throw.
  *   4. `contention_ratio` = max over all multi-trial measurements of
  *      (slowest trial / fastest trial); >3 means the round very likely
  *      hit a contention window and the numbers should be read with that.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default: one shuffle partition per core; SPARK_GRAFT_SHUFFLE
    // overrides for cluster-shaped runs (the scale-audit artifact)
    val spark = Harness.session(
      sys.env.get("SPARK_GRAFT_SHUFFLE").fold(Harness.cores)(_.toInt))
    // host-load breadcrumb: a high 1-min loadavg at start explains a
    // slow pass-1 better than any per-query number — now also emitted
    // into the JSON artifact (round-15 verdict #1), not just stderr
    def loadavg(): Seq[Double] = scala.util.Try(
      java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
        .trim.split("\\s+").take(3).toSeq.map(_.toDouble)).getOrElse(Nil)
    val loadAtStart = loadavg()
    System.err.println(s"[bench] loadavg_at_start ${loadAtStart.mkString(" ")}")

    /** Median of the positive entries — the contention-robust reducer
      * for the fixed-work replication trials: best-of rewards a lucky
      * window, mean is dragged by one stall; the median of five needs
      * three clean windows to be clean.
      */
    def medianPos(xs: Seq[Double]): Double = {
      val s = xs.filter(_ > 0).sorted
      if (s.isEmpty) -1.0
      else if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    var contentionRatio = 1.0
    def noteSpread(trials: Seq[Double]): Unit = {
      val pos = trials.filter(_ > 0)
      if (pos.size >= 2 && pos.min > 0)
        contentionRatio = math.max(contentionRatio, pos.max / pos.min)
    }

    // Let the ContextCleaner actually reclaim unpersisted blocks:
    // cleaning is driven by GC of the RDD objects, so late in a
    // 200-query session thousands of dead localCheckpoint blocks still
    // occupy storage memory — measured as a 60× retry-phase blow-up
    // (2.7 s → 151 s) on a collect-finishing CC query that declines
    // normally in a fresh session. A GC inside every timing fixes that
    // but adds its own stall noise to short queries, so settle only at
    // PHASE BOUNDARIES and periodically through the retry batch.
    def settle(): Unit = { System.gc(); Thread.sleep(300) }

    /** Wall-clock one action; Left(error) on throw (never a fake time). */
    def timeOnce(label: String)(body: => Unit): Either[String, Double] = {
      Harness.clearCaches(spark)
      val t0 = System.nanoTime()
      val r = try { body; Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Left(Option(e.getMessage).getOrElse(e.getClass.getName)) }
      r match {
        case Right(dt) => System.err.println(f"[bench] $label%-28s $dt%8.2fs")
        case Left(m)   => System.err.println(s"[bench] $label FAILED: ${m.take(200)}")
      }
      r
    }

    // ---- 1. Headline replication throughput, measured before anything else.
    val ev = Tables.events(spark, sfDir)
    val nEvents = ev.count()
    // Debug knob: run ONLY the latency leg (iteration aid — the full
    // suite takes ~20 min and the latency leg is self-contained).
    val latencyOnly = sys.env.get("SPARK_GRAFT_LATENCY_ONLY").contains("1")
    /** TWO declared FULL-WORK warm-up trials, then 5 measured trials
      * (round-16 verdict "what's wrong" #1): the r16 artifact's trial
      * vectors consistently opened with the cold trial (JIT + C2 + page
      * cache — the earlier 5,000-row warm-up slice compiled the pipeline
      * but never touched the full fixture's file pages). One warm-up was
      * measured insufficient on a QUIET host (two r17 runs at loadavg
      * ~0.5: the first post-warm-up trial still ran 1.4-1.5× the rest —
      * C2 re-tiering + fresh-temp-dir write paths make the ramp two
      * trials long; trials 2-5 then sit within 1.16×), so BOTH ramp
      * trials are excluded and recorded (`*_warmup_eps` vector) for
      * diagnosability; the 5-trial vector measures ONLY steady-state
      * noise.
      */
    def replLeg(label: String, events: org.apache.spark.sql.DataFrame)
        : (Seq[Double], Seq[Double]) = {
      def oneTrial(tag: String, tmpTag: String): Double = {
        val base = java.nio.file.Files.createTempDirectory(tmpTag).toString
        val cfg = graft.streaming.ReplicationJob.Config(
          sourceDir = sfDir, targetDir = s"$base/target",
          dlqDir = s"$base/dlq", checkpointDir = s"$base/ckpt")
        timeOnce(tag) {
          graft.streaming.ReplicationJob.processBatch(spark, events, cfg)
        }.fold(_ => -1.0, dt => nEvents / dt)
      }
      val warm = (1 to 2).map(i =>
        oneTrial(s"${label}_warmup_$i", s"bench_${label}_warm"))
      val trials = (1 to 5).map(i => oneTrial(s"${label}_trial_$i", s"bench_$label"))
      noteSpread(trials.map(eps => if (eps > 0) 1.0 / eps else -1.0))
      (warm, trials)
    }
    val (replWarmup, replTrials) =
      if (latencyOnly) (Seq(-1.0, -1.0), Seq(-1.0)) else replLeg("replication", ev)
    val eventsPerSec = medianPos(replTrials)

    // ---- 1b. Reference workload-mix leg. The reference bench drives a
    // 70% INSERT / 20% UPDATE / 10% DELETE client mix
    // (scripts/benchmark.py:293-408); the replay above preserves the
    // fixture log's own op mix instead. Derive a deterministic 70/20/10
    // stream from the same events: event_id % 10 ∈ 0..6 → INSERT (a
    // fresh key, so the upsert creates a row), 7..8 → UPDATE (the
    // existing key space), 9 → DELETE (the deleteType op on an existing
    // key). Same validate → compact → upsert pipeline, same row count.
    val mixed = ev
      .withColumn("event_type",
        org.apache.spark.sql.functions.expr(
          "CASE WHEN event_id % 10 = 9 THEN 'error' ELSE 'view' END"))
      .withColumn("user_id",
        org.apache.spark.sql.functions.expr(
          "CASE WHEN event_id % 10 <= 6 THEN event_id + 10000000 ELSE user_id END"))
    val (mixWarmup, mixTrials) =
      if (latencyOnly) (Seq(-1.0, -1.0), Seq(-1.0)) else replLeg("replication_mix", mixed)
    val eventsPerSecMix = medianPos(mixTrials)
    settle() // replication leaves six micro-batch runs of state behind

    // ---- 1c. End-to-end capture→commit latency percentiles — the last
    // BASELINE.md rows with no measurement anywhere (reference
    // spec.md:212,256: P95 ≤ 2 s, P99 ≤ 5 s capture→commit;
    // scripts/benchmark.py:66-67,109-120 measures them over a live
    // verification queue). Shape of the measurement:
    //   - the events fixture is pre-sliced into F segment files by
    //     event_id range (the commit-log segment shape);
    //   - a feeder thread lands one segment in the stream's source dir
    //     every `gapMs`, stamping each segment's CAPTURE time at the
    //     atomic rename — per-event ingest time IS the segment land time
    //     (events become capturable when the log segment lands, the same
    //     boundary the reference's Kafka produce timestamp marks);
    //   - the ENGINE's own micro-batch pipeline (ReplicationJob
    //     .processBatch: validate → DLQ → one LWW fold of the batch's raw
    //     rows into the state store) consumes them through a real
    //     streaming query; the COMMIT-VISIBLE time of a segment is the
    //     wall clock right after its batch's processBatch returns;
    //   - per-event latency = commit_visible(batch of segment) −
    //     land(segment), expanded to event weight and reduced by the
    //     engine's exact percentile (the A7 machinery), P50/P95/P99.
    // The feed rate is a fixed fraction of fixture size over ~10 s — a
    // sustained-load regime well under the replay throughput, matching
    // the reference bench's steady-rate producer (not a burst drain).
    // Honesty note (same as BASELINE.md's throughput caveat): local[32]
    // has no network/broker hop, so these are optimistic bounds on a
    // cluster deployment's latency; the measured quantity — full
    // pipeline micro-batch latency under sustained load, state store
    // commit included — is the engine-side component of the reference's
    // number.
    def latencyLeg(tag: String, F: Int, gapMs: Long): Map[String, Double] = {
      import org.apache.spark.sql.functions.{broadcast, col, expr}
      val W = math.max(1L, (nEvents + F - 1) / F)
      val base = java.nio.file.Files.createTempDirectory("bench_latency")
      val staging = base.resolve("staging")
      val srcDir = java.nio.file.Files.createDirectory(base.resolve("source"))
      // one file per slice: single-task write, partition dirs carry the
      // id; ts lands as a µs parquet timestamp (Tables.events' normalized
      // form), ts_us is re-derived stream-side like every other source
      ev.drop("ts_us")
        .withColumn("_slice", (col("event_id") / W).cast("long"))
        .coalesce(1).write.partitionBy("_slice").parquet(staging.toString)
      def sliceFile(i: Int): java.nio.file.Path = {
        val dir = staging.resolve(s"_slice=$i")
        val s = java.nio.file.Files.list(dir)
        try s.filter(p => p.getFileName.toString.startsWith("part-")).findFirst.get
        finally s.close()
      }
      // plain state store, same as the throughput legs' processBatch
      // (state at fixture scale is register-sized either way; the
      // bucketed shape has its own gates and audits)
      val cfg = graft.streaming.ReplicationJob.Config(
        sourceDir = srcDir.toString, targetDir = s"$base/target",
        dlqDir = s"$base/dlq", checkpointDir = s"$base/ckpt")
      val lands = new Array[Long](F)
      @volatile var fed = 0
      val feeder = new Thread(() => {
        var i = 0
        while (i < F) {
          val dst = srcDir.resolve(f"slice$i%04d.parquet")
          java.nio.file.Files.move(sliceFile(i), dst)
          lands(i) = System.currentTimeMillis()
          fed = i + 1
          Thread.sleep(gapMs)
          i += 1
        }
      }, "bench-latency-feeder")
      // slice → earliest commit-visible wall clock (a replayed batch must
      // not move a slice's visibility later)
      val visible = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
      val fileSchema = org.apache.spark.sql.types.StructType(
        graft.streaming.ReplicationJob.eventSchema.map(f =>
          if (f.name == "ts")
            f.copy(dataType = org.apache.spark.sql.types.TimestampType)
          else f))
      // started like every stream of the program (ReplicationJob.startStream),
      // so the timed leg does not recompile what the warm-up leg compiled
      val query = graft.streaming.ReplicationJob.startStream(spark, spark.readStream
        .schema(fileSchema)
        .option("maxFilesPerTrigger", 8)
        .parquet(srcDir.toString)
        .withColumn("ts_us", expr("unix_micros(ts)"))
        .writeStream
        .option("checkpointLocation", cfg.checkpointDir)
        .trigger(org.apache.spark.sql.streaming.Trigger
          .ProcessingTime("100 milliseconds"))
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          val b0 = System.currentTimeMillis()
          graft.streaming.ReplicationJob.processBatch(spark, batch, cfg, id)
          val commitMs = System.currentTimeMillis()
          // slice membership from the checkpoint's source-offset log for
          // this batch id (a tiny driver-side file, written at trigger
          // start — zero Spark jobs between batches, so measurement adds
          // nothing to the pipeline's cadence); fall back to a distinct
          // scan if the offset-log layout ever changes
          val slicePat = "slice(\\d+)\\.parquet".r
          val fromOffsets = scala.util.Try {
            java.nio.file.Files.readString(java.nio.file.Paths.get(
              cfg.checkpointDir, "sources", "0", id.toString))
          }.toOption.toSeq
            .flatMap(s => slicePat.findAllMatchIn(s).map(_.group(1).toLong))
          val slices =
            if (fromOffsets.nonEmpty) fromOffsets
            else batch.select((col("event_id") / W).cast("long").as("s"))
              .distinct().collect().toSeq.map(_.getLong(0))
          System.err.println(s"[bench] $tag batch $id " +
            s"process_ms=${commitMs - b0} files=${slices.size}")
          slices.foreach(s =>
            visible.merge(s, commitMs, (a, b) => math.min(a, b)))
        })
      val t0 = System.currentTimeMillis()
      feeder.start()
      try {
        // all slices landed AND commit-visible, or a hard 180 s timeout
        while ((fed < F || visible.size < F) &&
            System.currentTimeMillis() - t0 < 180000L)
          Thread.sleep(100)
      } finally { query.stop(); feeder.join(10000) }
      if (visible.size < F) {
        System.err.println(s"[bench] $tag INCOMPLETE: " +
          s"${visible.size}/$F slices commit-visible — recording -1")
        Map("p50" -> -1.0, "p95" -> -1.0, "p99" -> -1.0,
          "n_batches" -> -1.0, "max_batch_s" -> -1.0,
          "feed_eps" -> -1.0)
      } else {
        import spark.implicits._
        val slLat = (0 until F).map { i =>
          (i.toLong, (visible.get(i.toLong) - lands(i)) / 1000.0)
        }.toDF("s", "lat_s")
        // event-weighted exact percentiles through the engine: broadcast
        // the F-row slice frame onto the fixture and reduce with the
        // same percentile aggregate the A7 operator uses
        val ps = ev
          .withColumn("s", (col("event_id") / W).cast("long"))
          .join(broadcast(slLat), "s")
          .agg(expr("percentile(lat_s, array(0.5, 0.95, 0.99))"))
          .head().getSeq[Double](0)
        val maxLat = slLat.agg(org.apache.spark.sql.functions.max("lat_s"))
          .head().getDouble(0)
        val feedEps = nEvents.toDouble /
          ((lands(F - 1) - lands(0) + gapMs).toDouble / 1000.0)
        System.err.println(f"[bench] $tag p50=${ps(0)}%.3fs " +
          f"p95=${ps(1)}%.3fs p99=${ps(2)}%.3fs max_slice=$maxLat%.3fs " +
          f"feed=${feedEps}%.0f events/s")
        Map("p50" -> ps(0), "p95" -> ps(1), "p99" -> ps(2),
          "n_batches" -> visible.values.stream.distinct.count.toDouble,
          "max_batch_s" -> maxLat, "feed_eps" -> feedEps)
      }
    }
    // Ramp discipline, same as every other leg: the FIRST streaming run
    // pays stream init (checkpoint creation, FileStreamSource state, C2
    // compilation of the whole micro-batch path) — measured p50 13.5 s
    // cold vs sub-second steady-state on the same host — so one full
    // untimed warm leg runs first and is discarded.
    val latF = math.min(40L, math.max(10L, nEvents / 2500L)).toInt
    latencyLeg("latency_warmup", latF, gapMs = 600L)
    settle()
    val latency = latencyLeg("latency", latF, gapMs = 600L)
    settle()
    if (latencyOnly) {
      println(s"""{"metric":"latency_only","latency_p50_s":${latency("p50")},""" +
        s""""latency_p95_s":${latency("p95")},"latency_p99_s":${latency("p99")},""" +
        s""""latency_n_batches":${latency("n_batches").toLong},""" +
        s""""latency_max_slice_s":${latency("max_batch_s")},""" +
        s""""latency_feed_eps":${latency("feed_eps")},"sf":"$sfDir"}""")
      spark.stop()
      return
    }

    // ---- 2. Per-query pass, then min-of-up-to-3 re-measure of slow entries,
    // cheapest first so the budget reaches every candidate.
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val pass1: Map[String, Either[String, Double]] = sorted.map { case (n, fn) =>
      // One untimed full-work warm pass per query before the timed pass
      // (r17 verdict "what's wrong" #2: on loaded hosts the single-timing
      // query leg showed wide TWO-SIDED moves in untouched code — JIT /
      // code-cache / page-cache cold effects charged to whichever query
      // hit them first — so bench_compare cried wolf). The replication
      // legs already ramp; this extends the discipline to the query leg.
      // A warm-pass throw is ignored: the timed pass records the failure.
      try { fn(spark, sfDir).count(): Unit }
      catch { case _: Throwable => () }
      n -> timeOnce(n) { fn(spark, sfDir).count(): Unit }
    }.toMap

    // Retry budget scales with the suite: a fixed 240 s (tuned at ~180
    // queries) exhausted before the expensive entries when a contended
    // pass-1 pushed many queries over the 2 s retry threshold — the
    // un-retried tail then reads as a 7 s "warm" ceiling that a fresh
    // session measures at 2 s.
    var rebudget = math.max(240.0, 1.5 * sorted.size)
    // Per-entry trial spreads for every multi-trial measurement, emitted
    // in the JSON so a contention-contaminated round is diagnosable per
    // query, not just via the global contention_ratio.
    val trialLog = scala.collection.mutable.Map[String, List[Double]](
      "_replication_events_per_sec" -> replTrials.toList,
      "_replication_mix702010_events_per_sec" -> mixTrials.toList)
    val results: Map[String, Either[String, Double]] = {
      val slow = sorted.collect {
        case (n, fn) if pass1(n).exists(_ > 2.0) => (n, fn, pass1(n).getOrElse(0.0))
      }.sortBy(_._3)
      settle() // drain the 200-query pass's garbage before re-measuring
      var sinceSettle = 0
      val retried = slow.map { case (n, fn, t1) =>
        if (sinceSettle >= 8) { settle(); sinceSettle = 0 }
        sinceSettle += 1
        var trials = List(t1)
        var k = 0
        while (k < 2 && rebudget > 0 && trials.min > 2.0) {
          timeOnce(s"$n (retry)") { fn(spark, sfDir).count(): Unit }.foreach { t =>
            rebudget -= t; trials ::= t
          }
          k += 1
        }
        noteSpread(trials)
        trialLog(n) = trials.reverse // chronological order
        n -> Right(trials.min).withLeft[String]
      }.toMap
      pass1 ++ retried
    }

    val loadAtEnd = loadavg()
    def fmt(v: Double): String =
      // Locale.ROOT: the default-locale formatter renders a comma
      // decimal separator on e.g. de_DE JVMs — invalid JSON
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    def qsJson(entries: Seq[(String, Either[String, Double])]): String =
      entries.map {
        case (k, Right(v)) => "\"" + k + "\":" + fmt(v)
        case (k, Left(_))  => "\"" + k + "\":-1"
      }.mkString("{", ",", "}")
    val allQs = results.toSeq.sortBy(_._1)
    val failed = results.toSeq.collect { case (k, Left(_)) => "\"" + k + "\"" }
      .sorted.mkString("[", ",", "]")
    val total = results.values.collect { case Right(v) => v }.sum
    val trialsJson = trialLog.toSeq.sortBy(_._1).map { case (k, ts) =>
      "\"" + k + "\":" + ts.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    def vec(xs: Seq[Double]): String = xs.map(fmt).mkString("[", ",", "]")
    def headline(qs: String, extra: String): String =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec",""" +
        s""""n_queries":${allQs.size},"queries":$qs,""" +
        s""""events_per_sec":${fmt(eventsPerSec)},""" +
        s""""events_per_sec_mix702010":${fmt(eventsPerSecMix)},""" +
        // medians of 5 fixed-work trials; the vectors + host load ride
        // along so one contended window is diagnosable from the
        // driver-kept line alone (round-15 verdict #1)
        s""""repl_trials_eps":${vec(replTrials)},""" +
        s""""mix_trials_eps":${vec(mixTrials)},""" +
        // ramp throughput (excluded from the vectors and the median)
        // + explicit failed-trial counts, so a headline computed from a
        // degraded basis (4 of 5 trials errored) is flaggable by
        // bench_compare without re-deriving it from the vectors
        // (round-16 advice, Bench.scala medianPos finding)
        s""""repl_warmup_eps":${vec(replWarmup)},""" +
        s""""mix_warmup_eps":${vec(mixWarmup)},""" +
        s""""n_failed_repl_trials":${replTrials.count(_ <= 0)},""" +
        s""""n_failed_mix_trials":${mixTrials.count(_ <= 0)},""" +
        // capture→commit latency percentiles (BASELINE.md rows 3-4,
        // spec.md:212,256) — the sustained-load streaming leg above;
        // targets P95 ≤ 2 s / P99 ≤ 5 s, local[32] optimistic-bound
        // caveat as for throughput
        s""""latency_p50_s":${fmt(latency("p50"))},""" +
        s""""latency_p95_s":${fmt(latency("p95"))},""" +
        s""""latency_p99_s":${fmt(latency("p99"))},""" +
        s""""latency_p95_target_met":${latency("p95") > 0 && latency("p95") <= 2.0},""" +
        s""""latency_p99_target_met":${latency("p99") > 0 && latency("p99") <= 5.0},""" +
        s""""latency_n_batches":${latency("n_batches").toLong},""" +
        s""""latency_max_slice_s":${fmt(latency("max_batch_s"))},""" +
        s""""latency_feed_eps":${fmt(latency("feed_eps"))},""" +
        s""""loadavg_at_start":${vec(loadAtStart)},""" +
        s""""loadavg_at_end":${vec(loadAtEnd)},""" +
        s""""failed":$failed,""" +
        s""""contention_ratio":${math.round(contentionRatio * 100) / 100.0}""" +
        s"""$extra,"sf":"$sfDir"}"""
    // Full per-query detail (all queries + trial spreads) goes to a
    // repo file: the driver keeps only the LAST ~2000 chars of stdout,
    // so a 200-query map on stdout is unparseable there by construction
    // (rounds 10-11 recorded "parsed": null for exactly this reason).
    val full = headline(qsJson(allQs), s""","trials":$trialsJson""")
    java.nio.file.Files.write(java.nio.file.Paths.get("bench_full.json"),
      (full + "\n").getBytes("UTF-8"))
    // stdout gets ONE compact line sized to survive that tail window:
    // headline metrics + the slowest queries, biggest first, topped up
    // until the line would exceed the budget.
    val budget = 1500
    val bySlowest = allQs.sortBy {
      case (_, Right(v)) => -v
      case (_, Left(_))  => Double.NegativeInfinity // failures first
    }
    var kept = Vector.empty[(String, Either[String, Double])]
    var line = headline(qsJson(kept), s""","detail":"bench_full.json"""")
    for (e <- bySlowest) {
      val cand = kept :+ e
      val candLine = headline(qsJson(cand.sortBy(_._1)),
        s""","detail":"bench_full.json"""")
      if (candLine.length <= budget) { kept = cand; line = candLine }
    }
    println(line)
    spark.stop()
  }
}
