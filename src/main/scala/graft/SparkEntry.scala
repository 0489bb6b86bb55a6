package graft
import org.apache.spark.sql.{DataFrame, GraftCodegenBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Lww
import graft.queries._

/** Driver contract (SURVEY.md §7).
  *
  * `gates` is the operator inventory (SURVEY.md §2): each query object's
  * [[graft.queries.Gate]]s, one per operator, each naming its build over
  * the library modules (`graft.ops`, `graft.recon`, `graft.llm`) and the
  * DuckDB SQL the driver uses as its correctness oracle. Every object is
  * listed once; a name given twice fails here, at construction.
  * `queries` and `oracleSql` are the two views the tools read, built once.
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

  val gates: Seq[Gate] = Gate.unique(
    CdcQueries.gates ++ TpchQueries.gates ++ EventQueries.gates ++
      WindowQueries.gates ++ IngestQueries.gates ++ MaintenanceQueries.gates ++
      GovernanceQueries.gates ++ GraphSketchQueries.gates ++ AuditQueries.gates ++
      DedupQueries.gates ++ RetrievalQueries.gates ++ TextQueries.gates ++
      UnicodeQueries.gates ++ QualityQueries.gates ++ DecontamQueries.gates ++
      CurationQueries.gates ++ EmbeddingQueries.gates ++ AdversarialQueries.gates)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.map(g => g.name -> g.build).toMap

  val oracleSql: Map[String, String] = gates.map(g => g.name -> g.oracle).toMap
}
