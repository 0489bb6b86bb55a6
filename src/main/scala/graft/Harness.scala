package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted,
  SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.{GraftCodegenBridge, SparkSession}

/** The session and measurement harness of the tool entry points (Bench,
  * Verify, PlanLint, RecoveryBench, PerfProbe and the Scale/Skew/Bytes
  * audits): the one place that builds their `SparkSession` and the one
  * place that listens to the scheduler.
  */
object Harness {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core of the machine. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(
    Runtime.getRuntime.availableProcessors)(_.toInt)

  /** A `local[cores]` session on the loopback interface with AQE on, no
    * UI and UTC session time, logging at WARN. `extra` confs are applied
    * last, so a tool can override any of these. The codegen cache is sized
    * right after `getOrCreate`, before anything can compile: the session's
    * conf is then the one an explicit `spark.sql.codegen.cache.maxEntries`
    * (in `extra` or a `-D` property) is read from.
    */
  def session(shufflePartitions: Int = cores,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val spark = extra.foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    GraftCodegenBridge.sizeCodegenCache()
    spark.sparkContext.setLogLevel("WARN")
    graft.util.LogHygiene.muteBoundedWindowWarn()
    spark
  }

  /** What [[measure]] saw of one body: its result and wall seconds, the
    * Spark jobs it started, its completed stages (a skipped stage never
    * runs and is not listed), each finished task's
    * `(stageId, executor run ms)` and the classes codegen compiled (a
    * JVM-wide count: a cache hit compiles nothing, and a concurrent
    * body outside `measure` would be counted too). The cache holds
    * `GraftCodegenBridge.CacheMaxEntries` (8192) classes, set by
    * [[session]], `SparkEntry` and `ReplicationJob` before their first
    * compile, so a warm rerun of a query reads 0 here.
    */
  final case class Measured[A](value: A, seconds: Double, jobs: Int,
      stages: Seq[StageInfo], tasks: Seq[(Int, Long)], compiles: Long)

  /** Run `body` with a listener attached and return what it ran. The
    * listener bus is asynchronous, so the counts must not race late
    * events: a fixed sleep silently under-counts on a loaded host.
    * Instead the bus is drained with `waitUntilEmpty`, and the drain is
    * cross-checked by polling until every submitted stage's completion
    * has arrived (skipped stages never emit a submit, so the counts
    * reconcile exactly). A 15 s timeout only bounds a drain whose
    * completion event the bus genuinely dropped. `seconds` times `body`
    * alone.
    */
  def measure[A](spark: SparkSession)(body: => A): Measured[A] = {
    val settleMs = 15000L
    val jobs = new AtomicInteger
    val submitted = new AtomicLong
    val stages = new ConcurrentLinkedQueue[StageInfo]
    val tasks = new ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
        submitted.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.add(sc.stageInfo)
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          tasks.add((te.stageId, te.taskMetrics.executorRunTime))
    }
    val sc = spark.sparkContext
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sc.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val value = body
      val seconds = (System.nanoTime() - t0) / 1e9
      // LiveListenerBus.waitUntilEmpty is `private[spark]` in Scala but
      // public in bytecode, so reflection; if the API ever moves, fall
      // through to the counter reconciliation
      val busDrained =
        try {
          val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
          bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
            .invoke(bus, java.lang.Long.valueOf(settleMs))
          true
        } catch { case scala.util.control.NonFatal(_) => false }
      // body's actions have returned, so all their events are already
      // posted in order; poll until every observed submit has completed
      val deadline = System.nanoTime() + settleMs * 1000000L
      while (stages.size < submitted.get() && System.nanoTime() < deadline)
        Thread.sleep(20)
      if (stages.size < submitted.get())
        System.err.println(s"[harness] WARN listener drain " +
          s"${if (busDrained) "reconciliation failed after waitUntilEmpty"
              else "timed out (waitUntilEmpty unavailable)"}: " +
          s"${stages.size}/${submitted.get()} stage completions seen")
      // read after the drain: every task of body has ended, and a task
      // compiles before it runs
      Measured(value, seconds, jobs.get(), stages.asScala.toList,
        tasks.asScala.toList,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0)
    } finally sc.removeSparkListener(listener)
  }

  /** Drop every cached and checkpointed block and collect garbage, so
    * one timing does not pay for the previous one. Run it outside the
    * timed window:
    *  - the unpersist is BLOCKING, which costs the measurement nothing
    *    there, while the async form let a heavy query's thousands of
    *    localCheckpoint blocks still be draining when the next trial's
    *    t0 started (measured as the only RISING trial sequence in r12,
    *    dedup_clusters_incremental 3.51 -> 5.71 across retries; and
    *    corpus_curated_v7 9.5 s benched vs 104 s back-to-back);
    *  - one GC per timing: across three controlled runs it produced the
    *    cleanest profile (contention 4.7 vs 34-57 with GC only at phase
    *    boundaries) — dead localCheckpoint blocks from earlier queries
    *    otherwise stall a later query's allocation mid-trial, which
    *    reads as a random 10-60× outlier.
    */
  def clearCaches(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }
}
