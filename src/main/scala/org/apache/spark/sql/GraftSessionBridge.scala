package org.apache.spark.sql

import java.util.concurrent.atomic.AtomicBoolean

/** Session-artifact bridge for [[graft.streaming.ReplicationJob.startStream]].
  *
  * A classic session's `ArtifactManager` is `private[sql]`; this forwarder
  * sits in `org.apache.spark.sql` for access, like [[GraftExpressionBridge]].
  */
object GraftSessionBridge {

  /** Whether `spark` must keep per-session artifact isolation: it holds
    * session-scoped classes or jars (`addArtifact`), or this bridge cannot
    * tell. The manager's `sessionArtifactAdded` flag is `protected` in
    * Scala but public in bytecode, so reflection; if it ever moves, the
    * session keeps isolation.
    */
  def keepsArtifactIsolation(spark: SparkSession): Boolean = spark match {
    case s: classic.SparkSession =>
      val am = s.artifactManager
      try am.getClass.getMethod("sessionArtifactAdded").invoke(am)
        .asInstanceOf[AtomicBoolean].get
      catch { case scala.util.control.NonFatal(_) => true }
    case _ => true
  }

  /** Fix `spark`'s own artifact isolation at its current conf. The
    * manager reads `spark.sql.artifact.isolation.enabled` lazily, once, so
    * a session that has run nothing yet would otherwise take whatever the
    * conf holds when its first job runs.
    */
  def pinArtifactIsolation(spark: SparkSession): Unit = spark match {
    case s: classic.SparkSession => s.artifactManager.state
    case _ => ()
  }
}
