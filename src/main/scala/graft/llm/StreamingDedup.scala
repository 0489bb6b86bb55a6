package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.StreamingState

/** Incremental exact dedup across micro-batches / crawl snapshots: emit
  * only documents whose content hash has never been seen in ANY earlier
  * batch — the streaming form of [[Dedup.exactDuplicates]], the first
  * gate of a continuously-fed training corpus.
  *
  * Replay idempotence (the at-least-once foreachBatch contract, same
  * construction as the DLQ writer): the seen-hash state is the
  * [[StreamingState]] batch layout, a batch's hashes overwrite only their
  * own `_batch_id=` directory, and novelty for batch N is judged against
  * batches `_batch_id < N` only. A replayed batch therefore ignores its own
  * hashes from an earlier attempt and re-emits exactly the same novel set —
  * without the exclusion, a replay would anti-join against itself and
  * silently emit nothing.
  *
  * Scale shape: one hash-keyed LEFT ANTI join per batch (batch side is
  * trigger-bounded; the state side scans only the hash column, pruned by
  * the partition filter) + within-batch first-wins compaction (min doc
  * id, the canonical-doc rule). The anti-join shuffles the state side on
  * every batch. Catalog bucketing (`warehouse.Bucketing`) would remove
  * that exchange, but only for a table written through the catalog, and
  * this store is path-based; its cost at very large state is unmeasured.
  */
final class StreamingDedup(spark: SparkSession, stateDir: String,
    idCol: String, textCol: String) {

  /** Filter `batch` to never-before-seen documents and record their
    * hashes under this batch's partition. Within the batch, the minimum
    * doc id per hash wins (deterministic canonical copy). Returns the
    * novel rows.
    */
  def filterNew(batch: DataFrame, batchId: Long): DataFrame = {
    // md5(NULL) is NULL, and NULL never equi-joins against seen-state:
    // a null-text row would re-emit as "novel" every single batch. A null
    // doc is not a document — drop it before hashing (the quality gates
    // upstream discard it anyway).
    val hashed = batch.filter(col(textCol).isNotNull)
      .withColumn("_h", md5(col(textCol)))
    // within-batch compaction: EXACTLY one candidate row per hash, min
    // doc id. A min-id aggregate re-joined against the batch would leak
    // duplicates when the same (id, text) row arrives twice in one batch
    // (at-least-once sources do this) — rank-1 emits one row always, and
    // the rank<=1 filter compiles to WindowGroupLimit (map-side limited).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("_h").orderBy(col(idCol))
    val candidates = hashed
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
    val novel =
      if (!StreamingState.hasData(spark, stateDir)) candidates
      else {
        val prior = spark.read.parquet(stateDir)
          .filter(col("_batch_id") < batchId) // replay: never self-exclude
          .select("_h")
        candidates.join(prior, Seq("_h"), "left_anti")
      }
    // materialize BEFORE the state write: the state append must not race
    // the novelty read of the same directory on lazy re-execution
    val out = graft.util.Materialize.stable(novel)
    StreamingState.writeBatch(out.select("_h"), stateDir, batchId)
    out.drop("_h")
  }
}
