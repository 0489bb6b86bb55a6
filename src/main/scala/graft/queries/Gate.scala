package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One operator of the query registry: its name, its Spark build over a
  * fixture directory, and the DuckDB SQL that is its correctness oracle.
  * No field has a default, so a gate without an oracle does not compile.
  *
  * Each query object lists its gates in a `def gates`, so every helper
  * `val` of the object is initialized before the oracle strings that
  * read it; `graft.SparkEntry.gates` evaluates each list once.
  */
final case class Gate(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)

object Gate {

  /** `gates` unchanged, or an error naming every name given twice. */
  def unique(gates: Seq[Gate]): Seq[Gate] = {
    val dups = gates.groupBy(_.name).collect { case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty, s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates
  }
}
