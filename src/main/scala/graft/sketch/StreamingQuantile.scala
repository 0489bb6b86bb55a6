package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.streaming.StreamingState

/** Incremental quantile-sketch maintenance across micro-batches — the
  * streaming form of [[Sketches.logHistogram]]: a continuously-fed
  * metric (replication latencies, document token counts) keeps a
  * queryable P50/P95/P99 panel current without re-scanning history.
  *
  * Replay idempotence (the at-least-once foreachBatch contract,
  * [[graft.llm.StreamingDedup]]'s construction): the state is the
  * PER-BATCH register table in the [[StreamingState]] batch layout — a
  * batch's registers overwrite only their own `_batch_id=` directory,
  * so a replayed batch rewrites identical rows and the merged registers
  * are unchanged. Counts are duplicate-SENSITIVE (unlike the HLL
  * max-merge), so this per-batch isolation is what makes replay safe —
  * a naive read-modify-add would double-count the replayed batch.
  *
  * Merging happens AT READ TIME by SUM over all batches
  * (logHistogram registers are sum-mergeable: shard counts added per
  * (group, bin) equal the one-pass counts — spec-pinned). State size
  * is batches × ≤ 65 rows per group; old partitions fold with
  * [[graft.warehouse.Compaction]]-style maintenance — SUM is
  * associative, so any grouping of partitions folds to the same
  * registers.
  */
final class StreamingQuantile(spark: SparkSession, stateDir: String,
    groups: Seq[String]) {

  /** Record one micro-batch: build its log-histogram registers and
    * overwrite this batch's state ([[StreamingState.writeBatch]] — the
    * replay contract).
    */
  def recordBatch(df: DataFrame, valueCol: Column, batchId: Long): Unit =
    StreamingState.writeBatch(Sketches.logHistogram(df, groups, valueCol),
      stateDir, batchId)

  /** The merged register table over every recorded batch — identical
    * to the one-pass [[Sketches.logHistogram]] over the union of all
    * batches' rows. Zero state reads as the empty register table (its
    * group columns typed STRING: their native type is only known once a
    * batch has landed), so the quantile panel is empty.
    */
  def mergedRegisters(): DataFrame =
    StreamingState.readBatches(spark, stateDir, StructType(
        groups.map(StructField(_, StringType)) ++ Seq(
          StructField("_bin", LongType), StructField("_cnt", LongType))))
      .groupBy((groups :+ "_bin").map(col): _*)
      .agg(sum("_cnt").as("_cnt"))

  /** Current quantile estimates (permille ranks) from the merged
    * registers — the live P50/P95/P99 panel.
    */
  def quantiles(qsPermille: Seq[Int]): DataFrame =
    Sketches.quantilesFromLogHistogram(mergedRegisters(), groups, qsPermille)
}
