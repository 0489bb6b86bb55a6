package graft

import org.apache.spark.sql.functions._

/** Measured crash-recovery time (r17 verdict #2 — SC-007, reference
  * `specs/001-cass-cdc-pg/spec.md:261`: resume from an unclean stop in
  * ≤ 30 s with zero loss/dup; `tests/integration/test_crash_recovery
  * .py:343` proves the zero-loss half, the reference never clocks the
  * other). The zero-loss half here is the checkpoint + idempotent-LWW
  * construction already pinned by `ReplicationSpec`; this harness
  * measures the TIME half at fixture scale:
  *
  *   1. stage the events fixture as N commit-log segment files;
  *   2. run the continuous replication stream (1 file per trigger) until
  *      `killAfter` batches have committed, then stop the query
  *      UNCLEANLY — `StreamingQuery.stop()` interrupts the stream
  *      execution thread wherever it is, typically mid-batch (a same-JVM
  *      harness cannot SIGKILL itself; the checkpoint-visible state of an
  *      interrupt equals a crash: an un-committed in-flight batch);
  *   3. restart from the same checkpoint with an AvailableNow drain and
  *      measure wall time start → caught-up. That time covers stream
  *      re-initialization, offset-log recovery, REPLAY of the in-flight
  *      batch, and the remaining backlog — the same composition the
  *      reference's recovery bound describes;
  *   4. verify zero loss / zero dup by comparing the recovered target
  *      state to a direct single-batch fold of the full fixture.
  *
  * One JSON line on stdout (`RECOVERY_r{N}.json`):
  * `{"recovery_s":…,"target_met":…,"loss_rows":0,"dup_rows":0,…}` —
  * exit 1 if the bound is missed or state diverges.
  */
object RecoveryBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nSegments = sys.env.getOrElse("SPARK_GRAFT_RECOVERY_SEGMENTS", "20").toInt
    val killAfter = sys.env.getOrElse("SPARK_GRAFT_RECOVERY_KILL_AFTER", "14").toInt
    val spark = Harness.session(
      sys.env.get("SPARK_GRAFT_SHUFFLE").fold(Harness.cores)(_.toInt))

    val ev = Tables.events(spark, sfDir)
    val nEvents = ev.count()
    val W = math.max(1L, (nEvents + nSegments - 1) / nSegments)
    val base = java.nio.file.Files.createTempDirectory("recovery_bench")
    val staging = base.resolve("staging")
    val srcDir = java.nio.file.Files.createDirectory(base.resolve("source"))
    ev.drop("ts_us")
      .withColumn("_slice", (col("event_id") / W).cast("long"))
      .coalesce(1).write.partitionBy("_slice").parquet(staging.toString)
    (0 until nSegments).foreach { i =>
      val dir = staging.resolve(s"_slice=$i")
      val s = java.nio.file.Files.list(dir)
      val part =
        try s.filter(p => p.getFileName.toString.startsWith("part-")).findFirst.get
        finally s.close()
      java.nio.file.Files.move(part, srcDir.resolve(f"segment$i%04d.parquet"))
    }

    val cfg = graft.streaming.ReplicationJob.Config(
      sourceDir = srcDir.toString, targetDir = s"$base/target",
      dlqDir = s"$base/dlq", checkpointDir = s"$base/ckpt")
    // Phase 1: run live until `killAfter` batches committed, then
    // interrupt. maxFilesPerTrigger=1 inside start() makes batch count ==
    // segment count, so the kill leaves a known backlog.
    val q1 = graft.streaming.ReplicationJob.start(spark, cfg, continuous = true)
    val t0 = System.nanoTime()
    var committed = 0L
    while (committed < killAfter && (System.nanoTime() - t0) < 300e9.toLong) {
      Thread.sleep(50)
      committed = Option(q1.lastProgress)
        .map(_.batchId + 1).getOrElse(0L)
    }
    val batchesBeforeKill = committed
    q1.stop() // interrupts the execution thread — typically mid-batch
    System.err.println(s"[recovery] killed after $batchesBeforeKill/" +
      s"$nSegments batches")

    // Phase 2: the measured recovery — restart from the checkpoint,
    // drain to caught-up.
    val tR0 = System.nanoTime()
    graft.streaming.ReplicationJob.start(spark, cfg).awaitTermination(240000)
    val recoverySec = (System.nanoTime() - tR0) / 1e9

    // Zero loss / zero dup: recovered state must equal a direct
    // single-batch fold of the full fixture into a fresh target.
    val oracleCfg = cfg.copy(targetDir = s"$base/oracle_target",
      dlqDir = s"$base/oracle_dlq", checkpointDir = s"$base/oracle_ckpt")
    graft.streaming.ReplicationJob.processBatch(spark, ev, oracleCfg)
    val keyCols = Seq("user_id", "_cdc_timestamp_micros", "_last_event_id")
    val got = graft.streaming.ReplicationJob.targetState(spark, cfg)
      .select(keyCols.map(col): _*)
    val want = graft.streaming.ReplicationJob.targetState(spark, oracleCfg)
      .select(keyCols.map(col): _*)
    val lossRows = want.exceptAll(got).count()
    val dupRows = got.exceptAll(want).count()
    val stateRows = got.count()
    val targetMet = recoverySec <= 30.0 && lossRows == 0 && dupRows == 0

    println(f"""{"metric":"recovery","recovery_s":$recoverySec%.3f,""" +
      s""""target_met":$targetMet,"bound_s":30,"n_events":$nEvents,""" +
      s""""n_segments":$nSegments,"batches_before_kill":$batchesBeforeKill,""" +
      s""""state_rows":$stateRows,"loss_rows":$lossRows,""" +
      s""""dup_rows":$dupRows,"sf":"$sfDir"}""")
    spark.stop()
    if (!targetMet) sys.exit(1)
  }
}
