package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Materialization of a DataFrame that feeds multiple plan branches
  * (self-joins, size lookups) or closes a round of an iterative operator:
  * a LAZY `persist()` races when AQE launches the branches concurrently
  * against a cold cache (measured ~6× recompute of the postings table in
  * the Jaccard join), so every mode here is EAGER.
  */
object Materialize {

  /** Materialize `df` eagerly and return a frame over a checkpointed leaf:
    * in every mode the returned logical plan is one `LogicalRDD` and the
    * RDD lineage stops there. An iterative operator that re-reads the
    * previous round therefore plans, renders and keeps a plan of constant
    * size, not one that doubles per round.
    *
    * Mode is `spark.graft.materialize`:
    *  - `local` (default): `localCheckpoint(eager)` — fastest on local[n];
    *    blocks are not replicated, so on a real cluster an executor loss
    *    fails the job. Test/bench default.
    *  - `persist`: `localCheckpoint(eager, MEMORY_AND_DISK_2)` — the
    *    cluster default: a lost block is read from its replica; losing
    *    every replica fails the job, as in `local` mode.
    *  - `checkpoint`: reliable `checkpoint(eager)` into
    *    `sparkContext.setCheckpointDir` (HDFS/object store) — survives any
    *    executor loss; for very expensive upstreams.
    *
    * Condition every mode must keep: the returned frame must NEVER
    * recompute `df` from its sources. Callers overwrite what they read (a
    * state store rewriting the files its own input scan reads, a
    * compaction swapping its inputs): an executor lost mid-overwrite that
    * recomputed its partitions from those files would read what the
    * committer is replacing — silent corruption. With the lineage cut the
    * same loss FAILS the job, and the caller's replay converges through
    * the idempotent fold — failing is safe, re-reading overwritten files
    * is not.
    *
    * The blocks are released by Spark's `ContextCleaner` once the frame is
    * unreachable: the checkpointed RDD is registered for cleanup like any
    * persisted RDD, so no caller unpersists.
    */
  def stable(df: DataFrame): DataFrame =
    df.sparkSession.conf.get("spark.graft.materialize", "local") match {
      case "persist"    => df.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK_2)
      case "checkpoint" => df.checkpoint(eager = true)
      case _            => df.localCheckpoint(eager = true)
    }

  /** Always 0: [[stable]] keeps no registry to release, since
    * `ContextCleaner` frees every mode's blocks once the frame is
    * unreachable. Kept only for the frozen benchmark harness, which calls
    * it between passes; remove it with that call at the next benchmark
    * change.
    */
  def releaseTracked(spark: org.apache.spark.sql.SparkSession): Int = 0
}
