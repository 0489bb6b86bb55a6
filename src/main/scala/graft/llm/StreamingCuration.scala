package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

import graft.streaming.StreamingState

/** Incremental corpus curation: the batch [[Curation]] recipe applied
  * per micro-batch to a continuously-fed document stream — PII scrub →
  * quality filter → cross-batch novelty dedup ([[StreamingDedup]]'s
  * replay-idempotent seen-state). The stateless stages run entirely
  * inside the batch plan; the only state is the dedup hash store, so the
  * pipeline inherits StreamingDedup's exactly-once-effective contract
  * under foreachBatch's at-least-once replay — including at the sink:
  * [[writeBatch]] lands rows in the [[StreamingState]] batch layout
  * (the DLQ's too), so a replayed batch replaces its own earlier
  * output instead of appending duplicates.
  *
  * Decontamination and budget mixing are deliberately NOT per-batch
  * stages: both are corpus-global decisions (a batch-local rate would
  * drift with arrival order), so the streaming tier feeds a staging
  * table and the global stages run as periodic batch compactions — the
  * same split the reference draws between its always-on replication path
  * and its scheduled reconciliation. The LM-fluency gate is the
  * exception that CAN run per batch: its model is trained once on a
  * STATIC reference ([[TextAnalysis.lmModel]] — pass it pre-built, the
  * count tables are materialized and reused every batch), so per-batch
  * scoring is order-independent by construction.
  */
final class StreamingCuration(dedup: StreamingDedup, idCol: String,
    textCol: String, minTokens: Long, maxTokens: Long,
    minUniqPermille: Long, maxTopTokPermille: Long,
    fluencyModel: Option[TextAnalysis.LmStats] = None,
    minFluencyPermille: Long = 0L, normalizeText: Boolean = false) {

  /** One micro-batch: scrub PII in place, drop quality rejects (and,
    * when a [[fluencyModel]] is configured, docs scoring under the
    * fluency floor), emit only never-seen documents (post-scrub text is
    * what is hashed, so two docs differing only in scrubbed identifiers
    * dedup together). The batch is first compacted on (id, text): an
    * at-least-once source redelivering the same row in ONE batch would
    * otherwise double every token count inside the quality aggregation
    * and flip its verdict. Safe to call from foreachBatch; replays
    * re-emit the same rows.
    */
  def processBatch(batch: DataFrame, batchId: Long): DataFrame =
    stages(batch, batchId, materializeStages = false).novel

  /** The per-batch stage frames, in pipeline order: `raw` (the batch),
    * `compact` (in-batch (id, text) compaction + scrub (+ normalize) —
    * the text that flows onward), `quality`, `fluency` (== quality when
    * no model is configured: a visible zero-loss stage, not a missing
    * row), `novel` (the emitted rows).
    */
  private[llm] final case class BatchStages(raw: DataFrame,
      compact: DataFrame, quality: DataFrame, fluency: DataFrame,
      novel: DataFrame)

  /** ONE recipe for the per-batch chain — consumed by [[processBatch]]
    * (which emits `novel`) and [[writeFunnelBatch]] (which counts every
    * frame), the [[Curation]] `v5Stages` discipline applied to the
    * streaming tier so the funnel can never audit a different pipeline
    * than the one shipping rows. `materializeStages` is the funnel's
    * knob (each frame is double-consumed there: its own count + the
    * next stage); the emit path keeps the chain lazy.
    */
  private def stages(batch: DataFrame, batchId: Long,
      materializeStages: Boolean): BatchStages = {
    def m(df: DataFrame): DataFrame =
      if (materializeStages) graft.util.Materialize.stable(df) else df
    val raw = m(batch)
    val once = raw.dropDuplicates(idCol :: textCol :: Nil)
    // scrub before normalize — the batch pipeline's ordering rationale
    // (normalization strips the structure the PII patterns match on)
    val scrubbed0 = PiiScrub.scrubbed(once, textCol)
    val scrubbed = m(
      if (normalizeText)
        scrubbed0.withColumn(textCol, TextAnalysis.normalize(col(textCol)))
      else scrubbed0)
    val keptIds = TextAnalysis.qualityFilter(scrubbed, idCol, textCol,
      minTokens, maxTokens, minUniqPermille, maxTopTokPermille)
      .filter(col("keep")).select(col("doc_id").as(idCol))
    val kept0 = m(scrubbed.join(keptIds, Seq(idCol)))
    val kept = fluencyModel match {
      case Some(mm) if minFluencyPermille > 0 =>
        m(kept0.join(
          TextAnalysis.scoreFluency(kept0, mm, idCol, textCol)
            .filter(col("score_permille") >= minFluencyPermille)
            .select(col("doc_id").as(idCol)),
          Seq(idCol)))
      case _ => kept0
    }
    // novel is already materialized (filterNew's overwrite-what-you-read
    // barrier), so the funnel's second read never races the state write
    BatchStages(raw, scrubbed, kept0, kept, dedup.filterNew(kept, batchId))
  }

  /** Process one micro-batch AND fold its per-stage survivor counts
    * into the continuous loss-attribution panel: five 1-row aggregates
    * — (stage_idx, stage, n_docs, n_tokens) for raw / compact_scrub /
    * quality / fluency / novel — land in this batch's directory of
    * `funnelDir` ([[StreamingState.writeBatch]]: an at-least-once
    * replay REPLACES its own counts, never double-counts). Counts
    * SUM-MERGE across batches (the register discipline):
    * [[StreamingCuration.funnel]] reads the panel as one groupBy-sum,
    * and because the in-batch stages are batch-local and novelty
    * decomposes over batches (first-seen per hash), the folded panel
    * equals the one-pass funnel over the union — spec-pinned. Returns
    * the novel rows so the caller lands them exactly as [[writeBatch]]
    * does.
    *
    * Scale shape: the batch pipeline's own audited shapes + five 1-row
    * aggs over materialized stage frames; funnel state grows 5 rows per
    * batch.
    */
  def writeFunnelBatch(batch: DataFrame, batchId: Long,
      funnelDir: String): DataFrame = {
    val st = stages(batch, batchId, materializeStages = true)
    val tok = TextAnalysis.tokenCount(col(textCol))
    def leg(idx: Long, name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n_docs"),
          coalesce(sum(tok), lit(0L)).as("n_tokens"))
        .select(lit(idx).as("stage_idx"), lit(name).as("stage"),
          col("n_docs"), col("n_tokens"))
    StreamingState.writeBatch(leg(0L, "raw", st.raw)
      .unionByName(leg(1L, "compact_scrub", st.compact))
      .unionByName(leg(2L, "quality", st.quality))
      .unionByName(leg(3L, "fluency", st.fluency))
      .unionByName(leg(4L, "novel", st.novel)), funnelDir, batchId)
    st.novel
  }

  /** [[processBatch]] + the idempotent sink write: curated rows land in
    * `outDir` in the [[StreamingState]] batch layout, so an
    * at-least-once replay of a batch REPLACES that batch's directory (a
    * plain append would duplicate every replayed row — the very defect
    * the pipeline removes). Readers `spark.read.parquet(outDir)` and
    * drop `_batch_id` if unwanted.
    */
  def writeBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    StreamingState.writeBatch(processBatch(batch, batchId), outDir, batchId)

  /** Wire the pipeline into a streaming writer: curated rows under
    * `outDir`, state + progress under the caller's checkpoint
    * discipline.
    */
  def writer(stream: DataFrame, outDir: String, checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): DataStreamWriter[Row] =
    stream.writeStream
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        writeBatch(batch, batchId, outDir)
      }

  /** Start [[writer]] through [[graft.streaming.ReplicationJob.startStream]],
    * so the query reuses the classes this JVM has already compiled.
    */
  def start(stream: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    graft.streaming.ReplicationJob.startStream(stream.sparkSession,
      writer(stream, outDir, checkpointDir))
}

object StreamingCuration {

  /** The continuous loss-attribution panel: per-batch stage counts
    * recorded by [[StreamingCuration.writeFunnelBatch]] SUM-merged into
    * one row per stage — (stage_idx, stage, n_docs, n_tokens). Zero
    * state (no batch recorded yet) reads as the empty table with the
    * declared schema, the register-store convention. Scale shape: the
    * state is 5 rows per batch; the merge is one tiny partial agg.
    */
  def funnel(spark: SparkSession, funnelDir: String): DataFrame = {
    import org.apache.spark.sql.types._
    StreamingState.readBatches(spark, funnelDir,
        StructType(Seq(StructField("stage_idx", LongType),
          StructField("stage", StringType),
          StructField("n_docs", LongType),
          StructField("n_tokens", LongType))))
      .groupBy("stage_idx", "stage")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"))
  }
}
