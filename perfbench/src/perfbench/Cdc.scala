package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.recon.Reconciler
import graft.streaming.ReplicationJob

/** Capture→commit bookkeeping for one replication query: which landed
  * segments the query has committed, and when. A segment is committed by
  * the first progress event whose source `endOffset` covers all its rows.
  */
final class CommitTracker extends StreamingQueryListener {
  final class Seg(val name: String, val rows: Int, val dueNs: Long) {
    @volatile var commitNs: Long = -1L
  }
  final case class Batch(receiptNs: Long, p: StreamingQueryProgress) {
    def startMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli
    def dur(k: String): Double =
      Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)
  }

  private val segs = mutable.ArrayBuffer.empty[Seg]
  private var next = 0
  val batches = mutable.ArrayBuffer.empty[Batch]
  private val Offset = """.*"row":(\d+),"name":"([^"]*)".*""".r

  def landed(s: Seg): Unit = synchronized { segs += s }
  def all: Seq[Seg] = synchronized(segs.toSeq)
  def reset(): Unit = synchronized { segs.clear(); next = 0; batches.clear() }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    synchronized {
      batches += Batch(now, e.progress)
      e.progress.sources.headOption.map(_.endOffset).collect { case Offset(row, name) =>
        (row.toLong, name)
      }.foreach { case (row, name) =>
        while (next < segs.size && (segs(next).name < name ||
            (segs(next).name == name && row >= segs(next).rows))) {
          segs(next).commitNs = now
          next += 1
        }
      }
    }
  }
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

/** The replication workload. It drives the program only through
  * `ReplicationJob.start` over the JSON commit-log source, reads the result
  * through `ReplicationJob.targetState`, and checks it against the
  * generator's own fold.
  */
object Cdc {
  val ExpectedSchema: StructType = StructType(Seq(
    StructField("user_id", LongType), StructField("event_id", LongType),
    StructField("ts_us", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("_cdc_deleted", BooleanType)))
  val HashCols: Seq[String] = ExpectedSchema.fieldNames.toSeq.tail

  def config(dir: Path, log: Path, maxRows: Long): ReplicationJob.Config = {
    Files.createDirectories(dir)
    ReplicationJob.Config(
      sourceDir = dir.resolve("unused").toString,
      targetDir = dir.resolve("target").toString,
      dlqDir = dir.resolve("dlq").toString,
      checkpointDir = dir.resolve("checkpoint").toString,
      eventLog = Some((log.toString, maxRows)))
  }

  /** Outcome of checking one replication run against the expected state. */
  final case class Check(attempted: Long, failed: Long, stateRows: Long, dlqRows: Long,
      reconS: Seq[(String, Double)])

  /** Time the four Reconciler validations of the target against the
    * expected state, then check the target independently, key by key.
    * `inject` appends one wrong row to the target first, which the check
    * must catch.
    */
  def check(spark: SparkSession, cfg: ReplicationJob.Config, exp: ExpectedState,
      inject: Boolean, ledger: Option[Ledger], recon: Boolean = true): Check = {
    if (inject) ReplicationJob.targetState(spark, cfg).limit(1)
      .withColumn("value", col("value") + 1.0).write.mode("append").parquet(cfg.targetDir)
    // the expected state goes through parquet so that the timed validations
    // read files on both sides rather than a driver-side local relation
    def harness[T](name: String)(f: => T): T = ledger.fold(f)(_.within(s"harness.$name")(f))
    val expPath = cfg.targetDir + "-expected"
    val expectedDf = harness("expected") {
      spark.createDataFrame(
        exp.state.iterator.map { case (k, s) =>
          Row(k, s.eventId, s.tsUs, s.eventType, s.value, s.deleted)
        }.toSeq.asJava, ExpectedSchema).write.mode("overwrite").parquet(expPath)
      spark.read.parquet(expPath)
    }
    val target = ReplicationJob.targetState(spark, cfg).select(ExpectedSchema.fieldNames.map(col).toIndexedSeq: _*)
    val (lo, hi) = {
      val ts = exp.state.valuesIterator.map(_.tsUs).toSeq.sorted
      (ts(ts.size / 4), ts(ts.size * 3 / 4))
    }
    def timed(name: String)(f: => Array[Row]): (String, Double, Array[Row]) = {
      val t0 = System.nanoTime()
      val r = ledger.fold(f)(_.within(s"Reconciler.$name")(f))
      (name, (System.nanoTime() - t0) / 1e9, r)
    }
    val validations = if (!recon) Nil else Seq(
      timed("rowCountValidation")(Reconciler.rowCountValidation(expectedDf, target).collect()),
      timed("checksumMismatches")(
        Reconciler.checksumMismatches(expectedDf, target, "user_id", HashCols).collect()),
      timed("timestampRange")(Reconciler.timestampRange(expectedDf, target, "user_id",
        HashCols, "ts_us", lo, hi).collect()),
      timed("sampleValidation")(
        Reconciler.sampleValidation(expectedDf, target, "user_id", HashCols, 7L).collect()))
    val reconClean = validations.forall { case (n, _, rows) =>
      if (n == "rowCountValidation") rows.head.getAs[Long]("mismatch_count") == 0L
      else rows.isEmpty
    }

    val rows = harness("check")(target.collect())
    val seen = mutable.HashMap.empty[Long, Int]
    var wrongEvents = 0L
    rows.foreach { r =>
      val k = r.getLong(0)
      seen.update(k, seen.getOrElse(k, 0) + 1)
    }
    val wrongKeys = mutable.HashSet.empty[Long]
    rows.foreach { r =>
      val k = r.getLong(0)
      val ok = seen(k) == 1 && exp.state.get(k).exists(s => s.eventId == r.getLong(1) &&
        s.tsUs == r.getLong(2) && s.eventType == r.getString(3) && s.value == r.getDouble(4) &&
        s.deleted == r.getBoolean(5))
      if (!ok) wrongKeys += k
    }
    exp.state.keysIterator.filterNot(seen.contains).foreach(wrongKeys += _)
    wrongKeys.foreach(k => wrongEvents += exp.eventsPerKey.getOrElse(k, 1))
    val dlqRows = harness("dlq") {
      if (Files.exists(java.nio.file.Paths.get(cfg.dlqDir))) spark.read.parquet(cfg.dlqDir).count()
      else 0L
    }
    val reconWrong = if (!recon || reconClean == wrongKeys.isEmpty) 0L else 1L
    Check(exp.events, wrongEvents + math.abs(dlqRows - exp.dlq) + reconWrong, rows.length.toLong,
      dlqRows, validations.map { case (n, s, _) => n -> s })
  }

  /** Per-layer figures of a traced drain, from the batches and jobs
    * inside span `window`.
    */
  def layerMetrics(m: Metrics, l: Ledger, window: Int, batches: Seq[CommitTracker#Batch],
      cfg: ReplicationJob.Config, chk: Check, gcS: Double): Unit = {
    val all = l.jobsIn(window)
    // the micro-batches' own jobs; reconciliation and checks are apart
    val jobs = all.filter { j =>
      val p = l.parentName(j)
      p == "ReplicationJob.processBatch" || p.startsWith("batch.")
    }
    val n = math.max(1, batches.size).toDouble
    def p50(k: String) = if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.dur(k)))
    m.put("streaming.addBatch_s_p50", p50("addBatch"), "s")
    m.put("streaming.latestOffset_s_p50", p50("latestOffset"), "s")
    m.put("streaming.queryPlanning_s_p50", p50("queryPlanning"), "s")
    m.put("streaming.commit_s_p50", p50("commitOffsets"), "s")
    m.put("streaming.trigger_s_p50", p50("triggerExecution"), "s")
    m.put("streaming.batches", batches.size.toDouble, "count")
    m.put("streaming.rows_per_batch_p50",
      if (batches.isEmpty) 0.0 else Stats.median(batches.map(_.p.numInputRows.toDouble)), "rows")
    m.put("spark.jobs_per_batch", jobs.size / n, "count")
    m.put("spark.stages_per_batch", jobs.map(_.stages).sum / n, "count")
    m.put("spark.tasks_per_batch", jobs.map(_.tasks).sum / n, "count")
    m.put("spark.executor_run_s_per_batch", jobs.map(_.runMs).sum / 1000.0 / n, "s")
    m.put("spark.shuffle_write_bytes_per_batch", jobs.map(_.shuffleWriteBytes).sum / n, "bytes")
    m.put("spark.gc_s", gcS, "s")
    for (site <- Seq("ReplicationJob", "Materialize", "ParquetStateStore")) {
      val js = jobs.filter(l.site(_).contains(site))
      m.put(s"site.$site.jobs", js.size.toDouble, "count")
      m.put(s"site.$site.wall_s", Ledger.unionSeconds(js.map(j => (j.startMs, j.endMs))), "s")
    }
    val (bytes, files) = Env.dirBytesAndFiles(java.nio.file.Paths.get(cfg.targetDir), ".parquet")
    m.put("sink.state_rows", chk.stateRows.toDouble, "rows")
    m.put("sink.state_bytes", bytes.toDouble, "bytes")
    m.put("sink.state_files", files.toDouble, "count")
    m.put("ops.dlq_rows", chk.dlqRows.toDouble, "rows")
    chk.reconS.foreach { case (k, s) => m.put(s"recon.${k}_s", s, "s") }
    l.coverage(m, all)
  }

  /** Batch spans, each with its `foreachBatch` call (processBatch) as the
    * child that parents the batch's Spark jobs. Progress reports phase
    * durations only, so the call's start is placed after the phases that
    * precede it in a micro-batch.
    */
  def recordBatches(l: Ledger, parent: Int, batches: Seq[CommitTracker#Batch]): Unit =
    batches.foreach { b =>
      val s = b.startMs.toDouble
      val id = l.record(s"batch.${b.p.batchId}", parent, s, s + b.dur("triggerExecution") * 1000)
      val pre = (b.dur("latestOffset") + b.dur("getBatch") + b.dur("walCommit") +
        b.dur("queryPlanning")) * 1000
      l.record("ReplicationJob.processBatch", id, s + pre, s + pre + b.dur("addBatch") * 1000)
    }

  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum / 1000.0

  /** Result of one measured pass: the end-to-end figures plus what the
    * traced pass adds.
    */
  final case class Pass(latencies: Seq[Double], workS: Double, cpuS: Double, check: Check,
      report: Seq[(String, Double, String)], layers: Metrics)

  val BacklogEvents = 30000
  val BacklogSegmentEvents = 1000
  val DrainMaxRows = 10000L
  val NominalDrainSeconds = 7

  private def landBacklog(log: Path, gen: CdcGen, n: Int, exp: ExpectedState): Unit = {
    Files.createDirectories(log)
    (0 until n / BacklogSegmentEvents).foreach { i =>
      val evs = gen.take(BacklogSegmentEvents)
      exp.addAll(evs)
      Segments.land(log, i, evs)
    }
  }

  /** Closed loop: a pre-landed backlog drained by `Trigger.AvailableNow`,
    * then reconciled. Every drain, the warm-up included, starts from an
    * empty target and checkpoint over the same log, so each repeats the
    * same work. Capture time for the backlog is the `start()` call.
    */
  def catchupDrain(spark: SparkSession, a: Args, ledger: Option[Ledger], setup: Setup)
      : (Pass, Option[Pass]) = {
    val log = a.work.resolve("backlog")
    val exp = setup.generate {
      Env.deleteRec(log)
      val e = new ExpectedState
      landBacklog(log, new CdcGen(a.seed), BacklogEvents, e)
      e
    }
    val tracker = new CommitTracker
    spark.streams.addListener(tracker)
    // warm-up: the same drain once, so the measured drains run warm code
    Env.note("warm-up drain")
    ReplicationJob.start(spark, config(a.work.resolve("warmup"), log, DrainMaxRows))
      .awaitTermination()
    Env.settle(spark)
    setup.done()

    var drains = 0
    def drain(l: Option[Ledger], recon: Boolean): Pass = {
      drains += 1
      Env.note(s"drain $drains")
      val cfg = config(a.work.resolve(s"drain-$drains"), log, DrainMaxRows)
      tracker.reset()
      val segNames = Segments.segmentNames(log)
      val window = l.map { x => Ledger.attach(spark.sparkContext, x); x.begin("catchup_drain.drain") }
      val gc0 = gcSeconds()
      val cpu = new CpuMeter
      val t0 = System.nanoTime()
      segNames.foreach(n => tracker.landed(new tracker.Seg(n, BacklogSegmentEvents, t0)))
      val q = l.fold(ReplicationJob.start(spark, cfg))(_.within("ReplicationJob.start")(
        ReplicationJob.start(spark, cfg)))
      q.awaitTermination()
      val drainS = (System.nanoTime() - t0) / 1e9
      val cpuS = cpu.stop()
      ListenerBusDrain(spark.sparkContext)
      val gcS = gcSeconds() - gc0
      val lat = tracker.all.filter(_.commitNs > 0).map(s => (s.commitNs - s.dueNs) / 1e9)
      val chk = check(spark, cfg, exp, a.inject.contains("state"), l, recon)
      val layers = new Metrics
      (l, window) match {
        case (Some(x), Some(w)) =>
          x.end(w)
          Ledger.detach(spark.sparkContext, x)
          recordBatches(x, w, tracker.batches.toSeq.filter(_.p.numInputRows > 0))
          layerMetrics(layers, x, w, tracker.batches.toSeq.filter(_.p.numInputRows > 0), cfg,
            chk, gcS)
        case _ =>
      }
      val missing = segNames.size - lat.size
      val report = Seq(
        ("drain_eps", BacklogEvents / drainS, "events/s"),
        ("drain_s", drainS, "s"),
        ("drain_cpu_s", cpuS, "s")) ++
        (if (recon) Seq(("recon_s", chk.reconS.map(_._2).sum, "s")) else Nil) ++ Seq(
        ("commit_p50_s", Stats.median(lat), "s"),
        ("commit_p95_s", Stats.quantile(lat, 0.95), "s"),
        ("uncommitted_segments", missing.toDouble, "count"))
      Env.settle(spark)
      Pass(lat, drainS, cpuS, chk.copy(failed = chk.failed + missing * BacklogSegmentEvents), report,
        layers)
    }
    // --seconds buys one drain per NominalDrainSeconds (at least one); the
    // last untraced drain is also reconciled. A traced run makes one
    // untraced and one traced drain, both reconciled.
    val n = if (ledger.isDefined) 1 else math.max(1, a.seconds / NominalDrainSeconds)
    val untraced = (1 to n).map(i => drain(None, recon = i == n))
    val tracedPass = ledger.map(l => drain(Some(l), recon = true))
    spark.streams.removeListener(tracker)
    val merged = Pass(untraced.flatMap(_.latencies), Stats.median(untraced.map(_.workS)),
      Stats.median(untraced.map(_.cpuS)),
      Check(untraced.map(_.check.attempted).sum, untraced.map(_.check.failed).sum,
        untraced.last.check.stateRows, untraced.last.check.dlqRows, untraced.last.check.reconS),
      untraced.last.report.map { case (k, _, u) =>
        (k, Stats.median(untraced.flatMap(_.report.find(_._1 == k).map(_._2))), u)
      } :+ (("drains", untraced.size.toDouble, "count")), new Metrics)
    (merged, tracedPass)
  }
}
