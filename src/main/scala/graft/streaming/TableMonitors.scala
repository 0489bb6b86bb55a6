package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.Privacy

/** Opt-in PER-TABLE stream monitors riding the replication micro-batch
  * (the reference's alerting rides this same path — `alert_service.py`
  * consumes the per-table reconciliation stream): the round-14 register
  * folds (t-closeness privacy, value-distribution drift) wired onto the
  * CDC stream as declared table policy instead of standalone jobs.
  *
  * Register discipline (the [[StreamingCalibration]] construction):
  * each batch folds ONE batch-sized partial agg into its own
  * [[StreamingState]] batch directory — an at-least-once replay REPLACES
  * its own counts, so the store is replay-idempotent; the panels read
  * the sum-merged registers through the SAME walks the batch audits run
  * ([[Privacy.tClosenessFromCounts]], [[Privacy.emdBetweenCounts]] —
  * one code path, the live panel cannot drift from the one-pass number).
  *
  * Scale shape: per batch one partial agg into ≤ groups×buckets rows;
  * panels run on register-sized tables only. Alerts carry
  * (monitor, severity, alert_fired) — the [[Monitoring.evaluateAlerts]]
  * row shape, so both alert streams merge downstream.
  */
object TableMonitors {

  /** A monitor folds each micro-batch's VALID rows into a
    * replay-idempotent register store and exposes a live panel plus the
    * panel rows violating its declared bound.
    */
  trait TableMonitor {
    def name: String
    def recordBatch(valid: DataFrame, batchId: Long): Unit
    def panel(): DataFrame
    def alerts(): DataFrame
  }

  /** PRIVACY monitor: live t-closeness over the replicated rows — per
    * QI class, the integer EMD between the class's sensitive-value
    * distribution and the global one; alert when any class exceeds
    * `tX1e6Max` (the release gate `emd > t` — Li et al. 2007, riding
    * the stream instead of a pre-release batch audit).
    */
  final class TCloseness(spark: SparkSession, stateDir: String,
      quasi: Seq[(String, Column)], sensitive: Column,
      lo: Long, hi: Long, buckets: Int, tX1e6Max: Long)
      extends TableMonitor {
    private val qn = quasi.map(_._1)
    val name = "t_closeness"

    def recordBatch(valid: DataFrame, batchId: Long): Unit =
      StreamingState.writeBatch(
        Privacy.tClosenessCounts(valid, quasi, sensitive, lo, hi, buckets),
        stateDir, batchId)

    /** Live per-class EMD panel over every batch folded so far; throws
      * before the first batch is recorded.
      */
    def panel(): DataFrame = {
      require(StreamingState.hasData(spark, stateDir),
        s"$name: no batches recorded yet")
      Privacy.tClosenessFromCounts(
        spark.read.parquet(stateDir)
          .groupBy((qn :+ "_b").map(col): _*).agg(sum("_n").as("_n")),
        qn, buckets)
    }

    def alerts(): DataFrame =
      panel().filter(col("emd_x1e6") > tX1e6Max)
        .withColumn("monitor", lit(name))
        .withColumn("severity", lit("critical"))
        .withColumn("alert_fired", lit(true))
  }

  /** DRIFT monitor: per group (e.g. event type), the integer EMD
    * between the LATEST batch's value distribution and the whole prior
    * history's — "did this table's data move under us mid-stream?".
    * Registers are the same clamp-first bucket counts as the privacy
    * monitor ([[Privacy.tClosenessCounts]] — one fold shape, two
    * panels); the panel is [[Privacy.emdBetweenCounts]] prior-vs-latest.
    * A group with NULL emd (present on one side only) fires too — a
    * newborn or vanished group IS drift. No alert before the second
    * batch: drift needs a baseline.
    */
  final class ValueDrift(spark: SparkSession, stateDir: String,
      groups: Seq[(String, Column)], valueCol: Column,
      lo: Long, hi: Long, buckets: Int, driftX1e6Max: Long)
      extends TableMonitor {
    private val gn = groups.map(_._1)
    val name = "value_drift"

    def recordBatch(valid: DataFrame, batchId: Long): Unit =
      StreamingState.writeBatch(
        Privacy.tClosenessCounts(valid, groups, valueCol, lo, hi, buckets),
        stateDir, batchId)

    /** (groups…, n_a, n_b, emd_x1e6): prior history (a) vs the latest
      * batch (b). Empty until two batches exist.
      */
    def panel(): DataFrame = {
      if (!StreamingState.hasData(spark, stateDir)) return emptyPanel()
      // partition-dir values type-infer (int for small ids) — pin long
      val state = graft.util.Materialize.stable(
        spark.read.parquet(stateDir)
          .withColumn("_batch_id", col("_batch_id").cast("long")))
      val ids = state.agg(min("_batch_id").as("lo"), max("_batch_id").as("hi"))
        .head()
      // only empty batches so far: no rows, so no ids either
      if (ids.isNullAt(0)) return emptyPanel()
      val (loB, hiB) = (ids.getLong(0), ids.getLong(1))
      if (loB == hiB) return emptyPanel() // a single batch has no baseline
      Privacy.emdBetweenCounts(
        state.filter(col("_batch_id") < hiB),
        state.filter(col("_batch_id") === hiB), gn, buckets)
    }

    /** The pre-baseline empty panel. Group columns are typed STRING
      * here (their native type is only known once data exists) — a
      * consumer unioning panels across the baseline boundary should
      * cast; alerts() is unaffected (empty either way).
      */
    private def emptyPanel(): DataFrame = {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(gn.map(StructField(_, StringType)) ++
          Seq(StructField("n_a", LongType), StructField("n_b", LongType),
            StructField("emd_x1e6", LongType))))
    }

    def alerts(): DataFrame =
      panel().filter(col("emd_x1e6").isNull ||
          col("emd_x1e6") > driftX1e6Max)
        .withColumn("monitor", lit(name))
        .withColumn("severity",
          when(col("emd_x1e6").isNull, lit("critical"))
            .otherwise(lit("warning")))
        .withColumn("alert_fired", lit(true))
  }
}
