package graft
import org.apache.spark.sql.{DataFrame, GraftCodegenBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Lww
import graft.queries.{AdversarialQueries, AuditQueries, Cdc2Queries, CdcQueries, GovernanceQueries, GraphSketchQueries, IngestQueries, LlmQueries, LlmQueries2, LlmQueries3, LlmQueries4, LlmQueries5, LlmQueries6, LlmQueries7, LlmQueries8, LlmQueries9, LlmQueries10, EventQueries, MaintenanceQueries, TpchQueries, TpchQueries2, TpchQueries3, CrossModalQueries, UnicodeQueries, WindowQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory (SURVEY.md §2), one entry per
  * operator, each delegating to the library modules (`graft.ops`,
  * `graft.recon`, `graft.llm`, `graft.queries`). `oracleSql` carries the
  * DuckDB-equivalent SQL the driver uses as correctness oracle.
  *
  * A caller may build its own session and enter here, so this object's
  * initializer sizes the codegen cache (`GraftCodegenBridge`) before the
  * first query is built.
  */
object SparkEntry {
  GraftCodegenBridge.sizeCodegenCache()

  /** Flagship: the replication-path core — LWW-compact the sf0.001 event
    * stream to final per-key state (reference semantics of
    * `timestamp_conflict_resolver.py`). Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    Lww.latestPerKey(
      ev.select("user_id", "event_id", "ts_us", "event_type", "value"),
      Seq("user_id"), Seq(col("ts_us"), col("event_id")))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    CdcQueries.queries ++ Cdc2Queries.queries ++
      TpchQueries.queries ++ TpchQueries2.queries ++ TpchQueries3.queries ++
      LlmQueries.queries ++ LlmQueries2.queries ++
      LlmQueries3.queries ++ LlmQueries4.queries ++ LlmQueries5.queries ++
      LlmQueries6.queries ++ LlmQueries7.queries ++ LlmQueries8.queries ++
      LlmQueries9.queries ++ LlmQueries10.queries ++
      EventQueries.queries ++ WindowQueries.queries ++
      GraphSketchQueries.queries ++ IngestQueries.queries ++
      GovernanceQueries.queries ++ MaintenanceQueries.queries ++
      AuditQueries.queries ++ UnicodeQueries.queries ++
      CrossModalQueries.queries ++ AdversarialQueries.queries

  def oracleSql: Map[String, String] =
    CdcQueries.oracleSql ++ Cdc2Queries.oracleSql ++
      TpchQueries.oracleSql ++ TpchQueries2.oracleSql ++ TpchQueries3.oracleSql ++
      LlmQueries.oracleSql ++ LlmQueries2.oracleSql ++
      LlmQueries3.oracleSql ++ LlmQueries4.oracleSql ++ LlmQueries5.oracleSql ++
      LlmQueries6.oracleSql ++ LlmQueries7.oracleSql ++ LlmQueries8.oracleSql ++
      LlmQueries9.oracleSql ++ LlmQueries10.oracleSql ++
      EventQueries.oracleSql ++ WindowQueries.oracleSql ++
      GraphSketchQueries.oracleSql ++ IngestQueries.oracleSql ++
      GovernanceQueries.oracleSql ++ MaintenanceQueries.oracleSql ++
      AuditQueries.oracleSql ++ UnicodeQueries.oracleSql ++
      CrossModalQueries.oracleSql ++ AdversarialQueries.oracleSql
}
