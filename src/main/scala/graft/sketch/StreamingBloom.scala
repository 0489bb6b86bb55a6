package graft.sketch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.streaming.StreamingState

/** Incremental Bloom maintenance across micro-batches — the streaming
  * form of [[Bloom]]: a continuously-fed key set (crawled URLs, seen
  * doc hashes, deleted users) keeps a queryable filter current without
  * ever rebuilding over history.
  *
  * Replay idempotence (the at-least-once foreachBatch contract,
  * [[graft.llm.StreamingDedup]]'s construction): the state is the
  * PER-BATCH word table in the [[StreamingState]] batch layout — a
  * batch's words overwrite only their own `_batch_id=` directory, so a
  * replayed batch rewrites identical rows and the merged filter is
  * unchanged. No read-modify-write on shared state, ever.
  *
  * The merged filter is computed AT READ TIME by BIT_OR over all
  * batches ([[Bloom.mergeWords]]'s algebra: OR of indicator words =
  * filter of the union key set, exactly). State size is
  * batches × ≤ m/64 rows; when the batch count grows large, fold old
  * partitions with [[graft.warehouse.Compaction]]-style maintenance —
  * BIT_OR is associative, so any grouping of partitions folds to the
  * same words.
  */
final class StreamingBloom(spark: SparkSession, stateDir: String,
    mBits: Int, k: Int) {

  /** Record one micro-batch of keys: build its word table and overwrite
    * this batch's state ([[StreamingState.writeBatch]] — the replay
    * contract).
    */
  def recordBatch(keys: DataFrame, keyCol: Column, batchId: Long): Unit =
    StreamingState.writeBatch(Bloom.buildWords(keys, keyCol, mBits, k),
      stateDir, batchId)

  /** The merged word table over every recorded batch; empty on zero
    * state.
    */
  def mergedWords(): DataFrame =
    StreamingState.readBatches(spark, stateDir, StructType(Seq(
        StructField("_word", IntegerType), StructField("_bits", LongType))))
      .groupBy("_word").agg(bit_or(col("_bits")).as("_bits"))

  /** The dense filter for [[Bloom.mightContain]] probes; all-zero words
    * (no key is a member) on zero state.
    */
  def collect(): Array[Long] = Bloom.collectWords(mergedWords(), mBits)
}
