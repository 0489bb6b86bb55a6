package graft.streaming

import scala.concurrent.{Await, Future, TimeoutException}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, GraftCodegenBridge, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.ops.{EventOps, Lww}
import graft.sink.ParquetStateStore

/** The always-on replication path (reference lifecycle SURVEY.md §3.1):
  *
  *   readStream → normalize → validate/split →
  *   foreachBatch { DLQ append; LWW fold of the batch into target state }
  *
  * with `checkpointLocation` for resume. Exactly-once delivery is the
  * checkpoint + idempotent-upsert construction (ST4/ST5): foreachBatch is
  * at-least-once, but the LWW merge is a commutative/idempotent fold, so
  * replayed batches converge to the same state — the same argument the
  * reference makes for Kafka-offset replays against its ON CONFLICT sink.
  *
  * Unbounded lateness (ST2): deliberately NO watermark/dropDuplicates —
  * the reference accepts arbitrarily late events and rejects them
  * individually against persisted target state. State lives in the target
  * table, not in Spark's state store, so streaming state stays O(batch).
  *
  * Scale: the only shuffle per micro-batch is the LWW fold, one max_by
  * over state ∪ the batch's raw valid rows (map-side partial max_by
  * first); the control row rides on the tag barrier's own job, and the
  * DLQ write is an append. A steady-state parquet batch runs four Spark
  * jobs: the tag barrier, the fold's map stage, the state write and the
  * DLQ write. Kafka sources swap in for the file source unchanged
  * (`readStream.format("kafka")` + the same transform chain). Each
  * micro-batch is sized from its own input, not by a setting:
  *  - the commit-log source ([[EventLogSource]]) packs a batch into
  *    partitions by its bytes, one per [[EventLogSource.TaskBytes]] up
  *    to one per core, so a small batch runs one task per stage;
  *  - any source's batch is then packed with a narrow coalesce to at most
  *    `defaultParallelism` partitions before it is tagged, so the tag
  *    barrier, the fold's map side and the DLQ write never run more than
  *    one task per core, whatever the source's slice, file or topic
  *    partition count;
  *  - the DLQ write keeps the batch's rows per task: ceil(P × dlq_n /
  *    batch_n) tasks of the batch's P.
  * These follow from the batch's bytes, the core count and the batch's
  * error share, which change per deployment and per batch; a fixed user
  * setting would be wrong for one or the other.
  *
  * Code generation is paid once per JVM, not per query or per batch:
  *  - a steady-state batch compiles no class, as its per-batch values
  *    (the batch id, the DLQ watermark) travel as data, not as literals
  *    in generated code;
  *  - a query started through [[startStream]] (a restart, a drain, each
  *    table of [[MultiTableReplication]]) runs on a stream session without
  *    artifact isolation, so its tasks share one class loader, and with it
  *    the codegen cache, with every earlier query. A session that carries
  *    session-scoped artifacts (`addArtifact`) keeps isolation, since that
  *    is what isolation is for;
  *  - the cache those classes live in holds
  *    `GraftCodegenBridge.CacheMaxEntries` (8192) of them, not Spark's
  *    default 100, so reconciliation, checks or batch queries run between
  *    drains do not evict a drain's classes. This object's initializer
  *    sets that bound before [[start]], [[startStream]] or a direct
  *    [[processBatch]] caller can compile; an explicit
  *    `spark.sql.codegen.cache.maxEntries` is kept.
  */
object ReplicationJob {
  GraftCodegenBridge.sizeCodegenCache()

  /** Dedicated daemon pool for the per-batch concurrent sink write (see
    * processBatch): a cached pool so an idle stream holds no threads,
    * daemon so it never blocks JVM exit.
    */
  private lazy val sinkEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-sink-upsert")
        t.setDaemon(true)
        t
      }))

  /** The control row observed on the tag barrier, or a clear failure when
    * it is not delivered in `timeout` or arrives without its aggregates.
    * The row travels through the asynchronous query-execution listener
    * bus, normally within milliseconds of the barrier returning; a row
    * that never arrives must fail the batch (the stream replays it), not
    * hang the trigger.
    */
  private[graft] def controlRow(row: Future[Row], batchId: Long,
      timeout: FiniteDuration = 30.seconds): Row = {
    val r =
      try Await.result(row, timeout)
      catch { case _: TimeoutException => throw new IllegalStateException(
        s"batch $batchId: control row not delivered within $timeout of the tag " +
          "barrier; failing the batch so the stream replays it") }
    if (r.length == 0) throw new IllegalStateException(
      s"batch $batchId: the tag barrier delivered an empty control row; " +
        "failing the batch so the stream replays it")
    r
  }

  /** Fixture event-stream schema (TESTDATA `events`, ns timestamps read
    * as long per Tables' convention).
    */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  final case class Config(
      sourceDir: String,
      targetDir: String,
      dlqDir: String,
      checkpointDir: String,
      validTypes: Seq[String] = Seq("signup", "purchase", "view", "click", "error"),
      maxValue: Double = 150.0,
      deleteType: String = "error",
      /** Per-table replication identity (the reference runs one pipeline
        * per table, each with its own pk + schema from config —
        * `docker/connectors/cassandra-source.json:12-13` table list,
        * `specs/001-cass-cdc-pg/data-model.md:396-421` replication rules).
        * Defaults reproduce the TESTDATA `events` fixture. The normalized
        * envelope columns `event_id` (long), `event_type` and the derived
        * `ts_us` are engine-wide convention (every reference table's
        * events carry event_id / operation / timestamp_micros too); the
        * per-table part is `schema` (the flat event shape), `pk`, the
        * source ts column/unit, and the optional constrained value column.
        */
      table: String = "events",
      schema: StructType = ReplicationJob.eventSchema,
      pk: Seq[String] = Seq("user_id"),
      /** Source timestamp column and its unit→µs divisor (fixture `ts` is
        * ns → 1000; a reference `timestamp_micros` envelope is µs → 1).
        */
      tsCol: String = "ts",
      tsDivisorToMicros: Long = 1000L,
      /** The range-constrained numeric column ([[graft.ops.EventOps
        * .errorTypeFor]]'s null/range checks); None = table has no such
        * constraint and only pk/operation validity applies.
        */
      valueCol: Option[String] = Some("value"),
      /** When set, ingest from Kafka (`readStream.format("kafka")` +
        * envelope decode) instead of the parquet directory — the S1/S3
        * production boundary; the file source is its offline double.
        */
      kafka: Option[KafkaCdc.KafkaConfig] = None,
      /** When set, ingest from the custom DSv2 commit-log source
        * ([[EventLogSource]]: JSON-envelope segment files, rate-limited
        * micro-batches) — the S1 capture boundary as a first-class
        * source; value = (log dir, maxRowsPerTrigger).
        */
      eventLog: Option[(String, Long)] = None,
      /** When set, the sink executes the LWW upsert against a live JDBC
        * target (per-partition connections, statement batching, retry +
        * breaker — S9/S10) instead of the parquet state store at
        * `targetDir` ([[graft.sink.ParquetStateStore]], a bare local path
        * or a `file:` URI), which rewrites the whole table on every batch.
        */
      jdbcTarget: Option[graft.sink.JdbcLwwExecutor.Target] = None,
      /** Opt-in RED metrics (ST11/heartbeat + /metrics surface): when set,
        * each batch records events/errors/latency into the registry. Off
        * by default — recording adds one conditional count per valid type
        * and error type to the batch's control row (no extra job).
        */
      metrics: Option[graft.ops.Metrics.Registry] = None,
      /** FR-024 dynamic backpressure: when set, the sink reports batch
        * wall time (and shares its registered circuit breaker) through
        * this [[AdmissionControl]] channel, and the event-log source
        * shrinks — or pauses — the NEXT trigger's admission while the
        * sink is degraded. Register the channel (with the breaker) before
        * starting the job; one channel per table.
        */
      backpressureChannel: Option[String] = None,
      /** Event type carrying TRUNCATE semantics (reference
        * `change_event.py:30-36`, op validation `validators.py:76-78`):
        * a table-wide clear at the event's timestamp. Must be listed in
        * `validTypes` to take effect; LWW-ordered — rows whose
        * (ts, event_id) is newer than the truncate survive it.
        */
      truncateType: String = "truncate",
      /** auto.evolve (`postgres-sink.json:13-14`, SC-011/012): when the
        * declared target columns run ahead of the live table (the
        * registry evolved after the table was created), ALTER the missing
        * ones in — additive, nullable — before the batch upsert, inside
        * the same micro-batch: propagation ≤ one trigger, no restart.
        * Opt-in here (the reference connector defaults it on) because it
        * adds a catalog-metadata read per micro-batch.
        */
      autoEvolveTarget: Boolean = false,
      /** Unit-sanity guard for the derived ts_us: the source's physical
        * timestamp type is probed ONCE at stream start, so a producer
        * flipping ns↔µs MID-stream would silently mis-derive every later
        * batch's position by ×1000 with no error. When set, each batch
        * asserts its valid rows' ts_us within [lo, hi] (epoch µs) and
        * fails the stream loudly instead. Off by default — direct batch
        * tests use tiny synthetic positions.
        */
      tsSanityBoundsUs: Option[(Long, Long)] = None,
      /** Opt-in per-table stream monitors ([[TableMonitors]]): each
        * micro-batch folds its VALID rows into the monitor's
        * replay-idempotent registers (privacy / drift panels riding the
        * CDC stream — the path the reference's alerting rides). Off by
        * default: each monitor adds one batch-sized partial agg + a
        * register write per trigger.
        */
      monitors: Seq[TableMonitors.TableMonitor] = Nil)

  /** One micro-batch of the sink side: validation split → DLQ append →
    * idempotent LWW fold into the target. Exposed for batch tests and
    * reused verbatim by the stream.
    *
    * `batchId` keys the DLQ write's batch directory
    * ([[StreamingState.writeBatch]]) — identical ids
    * overwrite (that IS the streaming replay idempotence). Direct batch
    * callers processing multiple batches MUST pass distinct ids or
    * earlier batches' DLQ rows are replaced.
    */
  def processBatch(spark: SparkSession, batch: DataFrame, cfg: Config,
      batchId: Long = 0L): Unit = {
    val batchT0 = System.nanoTime()
    val baseErr = EventOps.errorTypeFor(col("event_type"), cfg.pk.map(col),
      cfg.valueCol.map(col), cfg.validTypes, cfg.maxValue)
    // (ts_us, event_id) is the LWW position — EVERY event needs one
    // (reference validators.py requires timestamp_micros + event_id):
    //  - a data row with a null position would fold divergently across
    //    sinks (the JDBC conditional-update WHERE is NULL for a stored
    //    null-ts row → permanently un-updatable; the parquet max_by
    //    treats null as smallest) — malformed, DLQ;
    //  - a truncate with a null position can't be applied — and a null
    //    event_id reaching the watermark Row would NPE the stream on
    //    every replay (poison pill) — malformed, DLQ.
    val nullPosition = col("ts_us").isNull || col("event_id").isNull
    // A TRUNCATE carries no before/after image (`change_event.py:14,
    // 115-117`): when the truncate type is enabled, its events are exempt
    // from the row-image checks (user_id/value) and validated only on
    // having an LWW position.
    val general = when(baseErr.isNotNull, baseErr)
      .when(nullPosition, lit("SCHEMA_MISMATCH"))
      .otherwise(lit(null).cast("string"))
    val err =
      if (cfg.validTypes.contains(cfg.truncateType))
        when(col("event_type") === cfg.truncateType,
          when(nullPosition, lit("SCHEMA_MISMATCH")).otherwise(lit(null).cast("string")))
          .otherwise(general)
      else general
    val isTruncate = col("event_type") === cfg.truncateType && col("ts_us").isNotNull
    // Batch-level control aggregates: DLQ count + failed_at watermark,
    // TRUNCATE count + (ts, event_id) watermark, the valid ts_us range and,
    // when metrics are on, the per-operation and per-error counts.
    val isErr = col("error_type").isNotNull
    val validTruncate = !isErr && col("_is_truncate")
    val validTypes = cfg.validTypes.distinct
    val ctlAggs = Seq(
      count(lit(1)).as("batch_n"),
      count(when(isErr, 1)).as("dlq_n"),
      // coalesce: a batch whose DLQ rows ALL have null ts_us (fully
      // malformed envelopes — the case the DLQ exists for) must get a
      // deterministic failed_at_us = 0, not a null.
      coalesce(max(when(isErr, col("ts_us"))), lit(0L)).as("dlq_max_ts"),
      count(when(validTruncate, 1)).as("trunc_n"),
      max(when(validTruncate, struct(col("ts_us"), col("event_id")))).as("trunc_max"),
      min(when(!isErr, col("ts_us"))).as("ts_min"),
      max(when(!isErr, col("ts_us"))).as("ts_max")) ++
      (if (cfg.metrics.isEmpty) Nil
       else validTypes.zipWithIndex.map { case (t, i) =>
         count(when(!isErr && col("event_type") === t, 1)).as(s"op_$i")
       } ++ EventOps.ErrorTypes.zipWithIndex.map { case (e, i) =>
         count(when(col("error_type") === e, 1)).as(s"err_$i")
       })
    // Materialize the tagged micro-batch ONCE: the batch feeds up to three
    // consumers (LWW upsert, DLQ write, monitors), and without a barrier
    // each action re-reads the source — for a Kafka micro-batch that is a
    // broker re-fetch per consumer. Batch size is bounded by admission
    // control (maxRowsPerTrigger/maxFilesPerTrigger), so this caches
    // O(batch), never O(stream).
    //
    // The control row is an `observe` on the barrier's OWN action: the
    // eager checkpoint (every mode) runs the CollectMetrics node exactly
    // once over every tagged row, so the row costs no job of its own.
    // That is safe where an observe on the upsert job was not: there the
    // CollectMetrics node fed a union with existing state, and Spark
    // never delivered the metrics from the second micro-batch on. Every
    // later consumer reads the materialized rows, so the node runs nowhere
    // else. Delivery is still asynchronous (a query-execution listener),
    // hence the bounded wait in [[controlRow]].
    //
    // Packed first with a narrow coalesce to at most one partition per
    // core: the Kafka and parquet sources hand over one partition per
    // topic partition / file, and every stage over the tagged batch would
    // otherwise inherit that count. The event-log source already plans at
    // most one per core, so there it changes nothing. coalesce never
    // shuffles and never adds partitions.
    val obs = Observation()
    val tagged = graft.util.Materialize.stable(
      batch.coalesce(spark.sparkContext.defaultParallelism)
        .select(col("*"), err.as("error_type"), isTruncate.as("_is_truncate"))
        .observe(obs, ctlAggs.head, ctlAggs.tail: _*))
    // visible to the finally block: if anything on the main thread throws
    // while the concurrent upsert is still running, the batch must not
    // return (and its replay start) with that upsert still writing the
    // target — drain first
    var pendingUpsert: Future[Unit] = null
    try {
    val ctl = controlRow(obs.future, batchId)
    // The ts-sanity guard runs before any write starts: it exists to stop
    // a mis-derived batch from reaching the target.
    cfg.tsSanityBoundsUs.foreach { case (lo, hi) =>
      if (!ctl.isNullAt(ctl.fieldIndex("ts_min"))) {
        val (mn, mx) = (ctl.getAs[Long]("ts_min"), ctl.getAs[Long]("ts_max"))
        if (mn < lo || mx > hi) throw new IllegalStateException(
          s"batch $batchId ts_us range [$mn, $mx] outside sane [$lo, $hi] — " +
            "source timestamp unit likely flipped mid-stream (re-probe the footer)")
      }
    }
    val valid = tagged.filter(col("error_type").isNull).drop("error_type", "_is_truncate")
    val dlq = tagged.filter(col("error_type").isNotNull).drop("_is_truncate")
    // Truncate events are table-wide control operations, not rows: they
    // carry no key state, so they are excluded from the LWW fold and
    // applied to the target after the upsert (below).
    val enriched = valid.filter(!isTruncate).select(col("*"),
      (col("event_type") === cfg.deleteType).as("_cdc_deleted"),
      col("ts_us").as("_cdc_timestamp_micros"), col("event_id").as("_last_event_id"))
    // The target, chosen once per batch: a JDBC table, or the parquet
    // state store that both the upsert and the truncate below run against.
    val target: Either[graft.sink.JdbcLwwExecutor.Target, ParquetStateStore] =
      cfg.jdbcTarget.toLeft(stateStore(spark, cfg))
    // The parquet store folds the raw rows together with state in one
    // max_by (the fold is associative and idempotent, so compacting the
    // batch first would only add a shuffle). The JDBC executor writes one
    // row per key, so that arm compacts the batch first.
    def runUpsert(): Unit = target match {
      case Left(t) =>
        val compacted = Lww.latestPerKey(enriched, cfg.pk,
          Seq(col("_cdc_timestamp_micros"), col("_last_event_id")))
        if (cfg.autoEvolveTarget) {
          val dialect = graft.types.TypeMapper.dialectOf(t.url)
          val wanted = t.cols.map(c =>
            c -> graft.types.TypeMapper.sqlFor(compacted.schema(c).dataType, dialect))
          val conn = graft.sink.JdbcLwwExecutor.connect(t.url)
          try graft.sink.JdbcLwwExecutor.evolveTable(conn, t.table, wanted)
          finally conn.close()
        }
        // the channel's breaker (when registered) persists across batches,
        // so consecutive sink failures actually trip it — a per-call
        // default breaker would reset every trigger
        cfg.backpressureChannel.flatMap(AdmissionControl.breakerOf) match {
          case Some(b) => graft.sink.JdbcLwwExecutor.writeBatch(
            compacted.select(t.cols.map(col).toIndexedSeq: _*), t, breaker = b)
          case None => graft.sink.JdbcLwwExecutor.writeBatch(
            compacted.select(t.cols.map(col).toIndexedSeq: _*), t)
        }
      case Right(store) => store.upsert(enriched)
    }
    // The two per-batch writes up to the truncate barrier — LWW upsert and
    // DLQ write — are INDEPENDENT jobs over the same materialized batch,
    // so the upsert runs CONCURRENTLY with the DLQ write instead of
    // serializing two scheduler round-trips: per-trigger fixed cost is
    // the floor under the end-to-end latency SLO (spec.md:212's P95 ≤ 2 s
    // — Bench's latency leg measures it). Replay semantics are unchanged:
    // both writes complete (or the batch throws) before the
    // truncate/monitor/metrics tail, and a failed batch replays into the
    // same idempotent writes regardless of which write failed first.
    pendingUpsert = Future(runUpsert())(ReplicationJob.sinkEc)
    // DLQ write must be idempotent under at-least-once foreachBatch: a
    // replayed micro-batch overwrites its own batch directory
    // ([[StreamingState.writeBatch]]) rather than blind-appending (which
    // would duplicate DLQ rows and break the dlqCount == invalidCount
    // invariant). `failed_at_us` is derived from batch content (max event
    // ts), not wall clock, so a replay writes byte-identical rows.
    //
    // The write runs as many tasks as the batch would need for the DLQ
    // rows at the batch's own rows per task: ceil(P × dlq_n / batch_n) of
    // the P tagged partitions, which lies in [1, P] as 0 < dlq_n ≤ batch_n
    // — one task and one file for a few malformed rows, all P for an
    // all-malformed batch.
    var dlqErr: Throwable = null
    val (dlqN, batchN) = (ctl.getAs[Long]("dlq_n"), ctl.getAs[Long]("batch_n"))
    if (dlqN > 0) {
      // the physical RDD's count: `tagged.rdd` would build a deserializing
      // RDD and post a SQL execution of its own
      val parts = tagged.queryExecution.toRdd.getNumPartitions
      val dlqParts = ((parts * dlqN + batchN - 1) / batchN).toInt
      // The batch's watermark `failed_at_us` reaches the rows as data
      // from a one-row frame, never as a literal: whole-stage codegen
      // writes a Long literal into the generated Java source, so each new
      // watermark would compile fresh classes (the batch id lives in the
      // path only). The cross join is a cartesian product against one
      // local row (a broadcast would cost a job of its own).
      val perBatch = spark.createDataFrame(
        java.util.List.of(Row(ctl.getAs[Long]("dlq_max_ts"))),
        StructType(Seq(StructField("failed_at_us", LongType, nullable = false))))
      // a DLQ failure must not leak a still-running upsert job past the
      // batch's end: record it, await the upsert, then throw
      try StreamingState.writeBatch(dlq.coalesce(dlqParts)
          .crossJoin(perBatch.hint("shuffle_replicate_nl"))
          .select(col("*"), lit("PENDING").as("resolution_status"),
            lit(null).cast("long").as("resolved_at_us")),
        cfg.dlqDir, batchId)
      catch { case t: Throwable => dlqErr = t }
    }
    Await.result(pendingUpsert, Duration.Inf)
    if (dlqErr != null) throw dlqErr
    // Apply the batch's TRUNCATE watermark (max (ts, event_id) among its
    // truncate events) AFTER the upsert: only rows that LOSE the LWW
    // ordering against the watermark are cleared, so same-batch or
    // already-stored rows newer than the truncate survive, and a replayed
    // batch re-applies the same filter — idempotent by construction.
    if (ctl.getAs[Long]("trunc_n") > 0) {
      val w = ctl.getAs[Row]("trunc_max")
      val (tTs, tTie) = (w.getLong(0), w.getLong(1))
      target match {
        case Left(t) =>
          val conn = graft.sink.JdbcLwwExecutor.connect(t.url)
          try graft.sink.JdbcLwwExecutor.truncateTable(conn, t, tTs, tTie)
          finally conn.close()
        case Right(store) => store.truncate(tTs, tTie)
      }
    }
    // Per-table monitors fold the batch's valid rows into their register
    // stores — the same [[StreamingState.writeBatch]] layout, so a
    // replayed micro-batch replaces its own counts (same idempotence as
    // the DLQ write above). Alert evaluation is the CALLER's read (panel() /
    // alerts()) — the fold itself must never fail the replication batch
    // on a panel-side bound.
    cfg.monitors.foreach(_.recordBatch(valid, batchId))
    cfg.metrics.foreach { r =>
      def nonZero(names: Seq[String], prefix: String) =
        names.indices.map(i => names(i) -> ctl.getAs[Long](s"$prefix$i")).filter(_._2 > 0)
      graft.ops.Metrics.recordBatch(r, cfg.table, nonZero(validTypes, "op_"),
        nonZero(EventOps.ErrorTypes, "err_"),
        (System.nanoTime() - batchT0) / 1e9, backlog = 0L)
    }
    cfg.backpressureChannel.foreach(
      AdmissionControl.reportLatency(_, (System.nanoTime() - batchT0) / 1e9))
    // The tagged batch is a checkpointed leaf in every mode; its blocks
    // are released by `ContextCleaner` once the trigger drops the frame,
    // so a long-running stream keeps no cached batch per trigger.
    } finally {
      if (pendingUpsert != null && !pendingUpsert.isCompleted)
        scala.util.Try(Await.ready(pendingUpsert, Duration.Inf))
    }
  }

  /** Start the streaming replication job over a parquet directory source
    * (`Trigger.AvailableNow` drains what's there and stops — the
    * snapshot-then-stream S2 shape; pass `continuous = true` for an
    * always-on micro-batch trigger). The query starts through
    * [[startStream]]: its stream session runs without artifact isolation
    * unless `spark` carries session-scoped artifacts, so a restart or a
    * new drain in a warm JVM compiles none of the classes an earlier query
    * compiled.
    */
  def start(spark: SparkSession, cfg: Config, continuous: Boolean = false): StreamingQuery = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // integer division pins truncation semantics for negative/odd ts the
    // same way the fixture's `ts div 1000` always did
    val tsUs = expr(s"${cfg.tsCol} div ${cfg.tsDivisorToMicros}")
    val stream = (cfg.kafka, cfg.eventLog) match {
      case (Some(k), _) =>
        KafkaCdc.readStream(spark, k, cfg.schema, cfg.tsCol, cfg.tsDivisorToMicros)
      case (None, Some((dir, maxRows))) =>
        // commit-log DSv2 source: decode the raw envelope line exactly as
        // the Kafka wire path does (value → from_json → typed columns)
        cfg.backpressureChannel.foldLeft(
            spark.readStream.format(classOf[EventLogSource].getName)
              .option("path", dir).option("maxRowsPerTrigger", maxRows)) {
            (r, ch) => r.option("admissionChannel", ch)
          }.load()
          .select(from_json(col("value"), cfg.schema).as("e"),
            col("segment").as("_segment"), col("offset").as("_offset"))
          .select(col("e.*"), col("_segment"), col("_offset"))
          .withColumn("ts_us", tsUs)
      case (None, None) =>
        // The parquet-dir source declares its schema up front (a streaming
        // requirement) — but the files' PHYSICAL timestamp type is the
        // producer's choice (the fixture generator has shipped both raw-ns
        // int64 and µs parquet timestamps). Probe the directory's footer
        // once at start and adopt the file's type for any column where it
        // differs, deriving ts_us by the matching rule: integer `div` for
        // a raw long (divisor = source unit → µs), `unix_micros` for a
        // timestamp. A declared LongType over a µs-timestamp file would
        // otherwise silently read raw µs int64 and mis-divide by the ns
        // divisor — a unit bug, not a crash. An EMPTY/not-yet-written dir
        // can't be probed (no footer to read) — fall back to the declared
        // schema so the always-on deployment order (start stream, then
        // start producer) keeps working as it always did.
        val probed = scala.util.Try(spark.read.parquet(cfg.sourceDir).schema)
          .getOrElse(cfg.schema)
        val fileSchema = StructType(cfg.schema.map(f =>
          probed.find(_.name == f.name).getOrElse(f)))
        val tsUsFile = fileSchema(cfg.tsCol).dataType match {
          case LongType => tsUs
          case _ => unix_micros(col(cfg.tsCol).cast("timestamp"))
        }
        spark.readStream
          .schema(fileSchema)
          .option("maxFilesPerTrigger", 1) // bounded batches ≈ ST6 backpressure
          .parquet(cfg.sourceDir)
          .withColumn("ts_us", tsUsFile)
    }
    val writer = stream.writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, cfg, batchId)
      }
    startStream(spark,
      if (continuous) writer.trigger(Trigger.ProcessingTime("1 second"))
      else writer.trigger(Trigger.AvailableNow()))
  }

  private val isolationKey = "spark.sql.artifact.isolation.enabled"
  private val startLock = new Object

  /** Start `writer`'s query so that it reuses the classes this JVM has
    * already compiled. Every stream start in the program goes through
    * here.
    *
    * Spark runs each query on a clone of `spark` with a session id of its
    * own. With artifact isolation on (Spark's default), the local executor
    * runs that clone's tasks under a class loader made for that session
    * id, and the codegen cache is keyed by (class loader, source), so each
    * new query would compile again every class its tasks use (26 in the
    * first batch of a second query over the same log). `start()` creates
    * the clone, which copies the conf and reads its isolation from it
    * there, so the conf is off for exactly that call. The caller's value
    * is put back as it was, set or unset, and `spark`'s own isolation,
    * which it reads lazily, is fixed first at the caller's value.
    *
    * Isolation exists for session-scoped artifacts (`addArtifact`), so a
    * session that carries them starts its stream unchanged, isolated.
    * Starts are serialized so that two concurrent starts on one session
    * cannot restore each other's conf.
    */
  def startStream(spark: SparkSession, writer: DataStreamWriter[_]): StreamingQuery =
    if (org.apache.spark.sql.GraftSessionBridge.keepsArtifactIsolation(spark)) writer.start()
    else startLock.synchronized {
      org.apache.spark.sql.GraftSessionBridge.pinArtifactIsolation(spark)
      // getAll holds only what is set; getOption would report the default
      val prior = spark.conf.getAll.get(isolationKey)
      spark.conf.set(isolationKey, "false")
      try writer.start()
      finally prior match {
        case Some(v) => spark.conf.set(isolationKey, v)
        case None => spark.conf.unset(isolationKey)
      }
    }

  /** The parquet state store at `cfg.targetDir`, keyed and ordered as
    * [[processBatch]] folds it.
    */
  private def stateStore(spark: SparkSession, cfg: Config): ParquetStateStore =
    new ParquetStateStore(spark, cfg.targetDir, cfg.pk, "_cdc_timestamp_micros", "_last_event_id")

  /** Read current target state, optionally hiding soft-deleted rows (the
    * reference's `_cdc_deleted` filter views). It reads through the state
    * store: with its stored schema, so no Spark job infers it from the
    * parquet footers, and after the store's swap-crash recovery.
    */
  def targetState(spark: SparkSession, cfg: Config, includeDeleted: Boolean = true): DataFrame = {
    val df = stateStore(spark, cfg).read()
    if (includeDeleted) df else df.filter(!col("_cdc_deleted"))
  }
}
