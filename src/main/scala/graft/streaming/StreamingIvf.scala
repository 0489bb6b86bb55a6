package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.llm.Similarity

/** Incremental IVF index maintenance across micro-batches — the
  * streaming twin of [[Similarity.ivfAssign]], extending the streaming
  * maintenance symmetry (HLL register MAX, Bloom BIT_OR, quantile/CMS
  * SUM) to the ANN family, whose merge is the simplest of all: UNION.
  * Cell assignment is per-row against a FIXED broadcast centroid table,
  * so it distributes over any batch decomposition of the corpus — the
  * union of per-batch assignments IS the one-pass assignment
  * (spec-pinned), and a continuously-ingested embedding stream keeps a
  * searchable index current without ever re-assigning history.
  *
  * The centroid table is the index's frozen geometry (the real-world
  * contract: build the coarse quantizer once, assign deltas against it
  * forever; re-training centroids is a REBUILD, not maintenance —
  * callers own that decision). Callers pass the same centroid table to
  * every recordBatch; this class never derives or mutates it.
  *
  * Replay idempotence (the at-least-once foreachBatch contract,
  * [[graft.llm.StreamingDedup]]'s construction): state is the PER-BATCH
  * assignment table in the [[StreamingState]] batch layout — a replayed
  * batch overwrites only its own `_batch_id=` directory with identical
  * rows, so the merged index is unchanged. Assignments are per-vector
  * facts (not counts), but duplicate ROWS would duplicate search
  * candidates, so the per-batch isolation still carries the contract.
  *
  * Scale shape: each batch pays one batch-sized assignment pass
  * (broadcast centroids, WindowGroupLimit top-1); the merged read is a
  * plain parquet scan partition-pruned like any warehouse table; search
  * is cell-bounded exactly as the one-pass path.
  */
final class StreamingIvf(spark: SparkSession, stateDir: String) {

  /** Record one micro-batch of embeddings (vec_id, embedding): assign
    * against the caller's fixed centroids and overwrite this batch's
    * state partition.
    */
  def recordBatch(df: DataFrame, cents: DataFrame, batchId: Long): Unit =
    StreamingState.writeBatch(Similarity.ivfAssign(df, cents), stateDir, batchId)

  /** The merged assignment table over every recorded batch — identical
    * to one-pass [[Similarity.ivfAssign]] over the union of all
    * batches' vectors (union distributes over per-row assignment).
    * Before any batch has been recorded the index's natural zero state
    * is the EMPTY assignment table (searching it returns no rows), not
    * an AnalysisException from reading an absent directory.
    */
  def mergedAssignments(): DataFrame = {
    // the ivfAssign output schema is fixed by construction: cid =
    // vec_id (bigint), cv = quantize(embedding) (array<bigint>),
    // nc = dotQ(cv, cv) (bigint), cell = cent_id (bigint)
    import org.apache.spark.sql.types._
    StreamingState.readBatches(spark, stateDir,
        StructType(Seq(StructField("cid", LongType),
          StructField("cv", ArrayType(LongType)),
          StructField("nc", LongType), StructField("cell", LongType))))
      .select("cid", "cv", "nc", "cell")
  }

  /** Search the live index: top-k per query over the merged
    * assignments, same plan shape as the one-pass
    * [[Similarity.ivfTopKWith]].
    */
  def search(queries: DataFrame, cents: DataFrame, nprobe: Int,
      k: Int): DataFrame =
    Similarity.ivfSearchAssigned(mergedAssignments(), queries, cents,
      nprobe, k)
}
