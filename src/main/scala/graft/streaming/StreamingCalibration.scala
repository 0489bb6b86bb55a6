package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.ops.TableProfile

/** Incremental classifier calibration — the live counterpart of
  * [[TableProfile.rocAuc]]/`operatingPoints`: a continuously-fed corpus
  * scores documents per micro-batch (the classifier seam), and the
  * calibration panel ("is the score still ranking well? where is the
  * operating point?") must stay current WITHOUT rescanning scored
  * history.
  *
  * The register construction (the HLL/CMS/quantile discipline applied
  * to calibration): the sufficient statistic for BOTH walks is the
  * per-score count table `(_s, _np, _nn)` — AUC and every confusion
  * count are functions of it alone — and counts SUM-MERGE, so each
  * batch folds one batch-sized partial agg into state and the panel
  * reads the merged registers through EXACTLY the batch audit's walk
  * ([[TableProfile.rocAucFromCounts]] — one code path, the live panel
  * can never drift from the one-pass number).
  *
  * Replay idempotence: per-batch registers land in the
  * [[StreamingState]] batch layout — an at-least-once replay REPLACES
  * its own counts (counts are duplicate-sensitive, the per-batch
  * isolation is what makes replay safe).
  *
  * Scale shape: per batch, one batch-sized partial agg into ≤
  * |distinct scores| rows; the read merges registers (register-sized
  * groupBy) and pays the walks' score-bounded window. State grows by
  * ≤ |score domain| rows per batch — the bounded-cardinality score
  * contract is ENFORCED on read by the walk's own pre-flight
  * (`maxDistinctScores`), and the NULL-score/label exclusions match
  * the batch audit's.
  */
final class StreamingCalibration(spark: SparkSession, stateDir: String,
    maxDistinctScores: Long = 100000L) {

  /** Fold one micro-batch of (score, label) rows into the per-score
    * registers under this batch's partition.
    */
  def recordBatch(scored: DataFrame, scoreCol: Column, labelCol: Column,
      batchId: Long): Unit =
    StreamingState.writeBatch(scored
      .select(scoreCol.cast("long").as("_s"),
        labelCol.cast("boolean").as("_y"))
      .filter(col("_s").isNotNull && col("_y").isNotNull)
      .groupBy("_s").agg(
        sum(when(col("_y"), 1L).otherwise(0L)).as("_np"),
        sum(when(col("_y"), 0L).otherwise(1L)).as("_nn")), stateDir, batchId)

  /** The folded per-score count table — registers sum-merged to one
    * row per score (the walks require uniqueness per score). Zero
    * state reads as the typed empty table.
    */
  def mergedCounts(): DataFrame =
    StreamingState.readBatches(spark, stateDir, StructType(
        Seq("_s", "_np", "_nn").map(StructField(_, LongType))))
      .groupBy("_s").agg(sum("_np").as("_np"), sum("_nn").as("_nn"))

  /** The live AUC panel over everything scored so far — identical to
    * [[TableProfile.rocAuc]] over the union of all batches. Zero state
    * yields the one-row all-NULL panel (AUC undefined on no data), not
    * an exception.
    */
  def auc(): DataFrame =
    TableProfile.rocAucFromCounts(mergedCounts(),
      maxDistinctScores = maxDistinctScores)

  /** The live operating-point table — identical to
    * [[TableProfile.operatingPoints]] over the union of all batches;
    * empty (no thresholds observed) on zero state.
    */
  def operatingPoints(): DataFrame =
    TableProfile.operatingPointsFromCounts(
      mergedCounts().withColumnRenamed("_s", "threshold"),
      maxDistinctScores = maxDistinctScores)

  /** The live reliability curve — identical to
    * [[TableProfile.reliabilityCurve]] over the union of all batches
    * (shared assembly, declared [lo, hi) bounds); the per-score
    * registers are the sufficient statistic for the bucket rates
    * exactly as for the other two walks. Zero state yields the
    * all-empty-bucket scaffold (n=0, NULL rate per bucket), not an
    * exception — completing the calibration story's third leg live.
    */
  def reliability(lo: Long, hi: Long, buckets: Int): DataFrame =
    TableProfile.reliabilityCurveFromCounts(mergedCounts(), lo, hi, buckets)

  /** The live ECDF rank-normalization table — identical to
    * [[TableProfile.scoreEcdf]] over the union of all batches; the
    * FOURTH walk off the same registers (ranking, decision, magnitude,
    * and now the scale-free rank itself). Empty on zero state.
    */
  def ecdf(): DataFrame =
    TableProfile.scoreEcdfFromCounts(
      mergedCounts().select(col("_s").as("score"),
        expr("_np + _nn").as("n")),
      maxDistinctScores = maxDistinctScores)
}
