package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.streaming.StreamingState

/** Incremental Count-Min maintenance across micro-batches — the
  * streaming form of [[Sketches.cmsCells]], completing the streaming
  * sketch symmetry (HLL register max-merge, Bloom word BIT_OR, quantile
  * register SUM — and now frequency cells): a continuously-fed token /
  * key stream keeps a queryable heavy-hitter frequency panel current in
  * d·w int64 cells without re-scanning history.
  *
  * Replay idempotence (the at-least-once foreachBatch contract,
  * [[graft.llm.StreamingDedup]]'s construction): the state is the
  * PER-BATCH cell table in the [[StreamingState]] batch layout — a
  * batch's cells overwrite only their own `_batch_id=` directory, so a
  * replayed batch rewrites identical rows and the merged cells are
  * unchanged. CMS counts are duplicate-SENSITIVE (like the quantile
  * registers, unlike HLL/Bloom), so the per-batch isolation is what
  * makes replay safe.
  *
  * Merging happens AT READ TIME by SUM over all batches (CMS
  * cells are sum-mergeable: shard counts added per (r, b) equal the
  * one-pass cells — spec-pinned). State size is batches × ≤ d·w rows;
  * old partitions fold with [[graft.warehouse.Compaction]]-style
  * maintenance — SUM is associative, so any grouping of partitions
  * folds to the same cells.
  */
final class StreamingCms(spark: SparkSession, stateDir: String,
    d: Int, w: Int) {

  /** Record one micro-batch: build its cell table and overwrite this
    * batch's state ([[StreamingState.writeBatch]] — the replay
    * contract).
    */
  def recordBatch(df: DataFrame, valueCol: Column, batchId: Long): Unit =
    StreamingState.writeBatch(Sketches.cmsCells(df, valueCol, d, w),
      stateDir, batchId)

  /** [[recordBatch]] with grouping columns (per day/source/shard) —
    * the state a ROLLING panel reads: a grouped batch's cells land in
    * the same batch directory (replay contract unchanged), and
    * [[mergedCellsBy]] hands `Sketches.rollingSumRegisters` exactly the
    * (groups…, r, b, c) table it windows. Closes the loop from the
    * continuously-fed stream to the sliding-window heavy-hitter panel
    * without ever re-scanning history.
    */
  def recordBatchBy(df: DataFrame, groups: Seq[String], valueCol: Column,
      batchId: Long): Unit =
    StreamingState.writeBatch(Sketches.cmsCellsBy(df, groups, valueCol, d, w),
      stateDir, batchId)

  /** The merged cell table over every recorded batch — identical to
    * the one-pass [[Sketches.cmsCells]] over the union of all batches'
    * rows. Zero state reads as the empty cell table, so every estimate
    * is 0.
    */
  def mergedCells(): DataFrame = mergedCellsBy(Nil)

  /** Merged per-group cells over every recorded batch — identical to
    * one-pass [[Sketches.cmsCellsBy]] over the union (SUM is
    * associative across any batch grouping). On zero state the group
    * columns of the empty table are typed STRING: their native type is
    * only known once a batch has landed.
    */
  def mergedCellsBy(groups: Seq[String]): DataFrame =
    StreamingState.readBatches(spark, stateDir, StructType(
        groups.map(StructField(_, StringType)) ++ Seq(
          StructField("r", IntegerType), StructField("b", LongType),
          StructField("c", LongType))))
      .groupBy(groups.map(col) ++ Seq(col("r"), col("b")): _*)
      .agg(sum("c").as("c"))

  /** Current frequency estimates for a key set (a string column named
    * `key`) — the live heavy-hitter panel: est ≥ true count always
    * (collisions only add).
    */
  def estimates(keys: DataFrame): DataFrame =
    Sketches.cmsEstimate(mergedCells(), keys, d, w)
}
