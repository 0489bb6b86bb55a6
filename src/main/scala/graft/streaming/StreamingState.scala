package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** The batch-partitioned state layout of the streaming stores (the DLQ,
  * [[StreamingIvf]], [[StreamingRangeJoin]], [[StreamingCalibration]],
  * [[TableMonitors]], the `graft.sketch` and `graft.llm` streaming
  * stores): micro-batch N's rows land in `dir/_batch_id=N` and nowhere
  * else, so an at-least-once replay of N replaces exactly N's rows, once
  * its write has committed, and leaves every other batch's files
  * untouched. Readers scan
  * `dir`, where partition discovery turns the directory names into a
  * `_batch_id` column (typed `int` while every id fits one).
  *
  * "No batch recorded yet" is a NORMAL state every consumer must be able
  * to read as an empty table, but `spark.read.parquet` on an absent or
  * empty directory throws AnalysisException: [[readBatches]] reads that
  * state as the caller's typed empty frame. Every probe goes through the
  * session's Hadoop conf, so it works on any FileSystem (local, HDFS,
  * object store) and on `file:` URIs.
  */
object StreamingState {

  /** True iff `dir` exists and contains at least one data entry — a
    * `col=value` partition directory (which may well start with `_`,
    * e.g. `_batch_id=0`) or a part file. Only Spark's metadata
    * conventions are excluded: dot-hidden names and underscore names
    * WITHOUT a `=` (`_SUCCESS`, `_temporary`, `_metadata`).
    */
  def hasData(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { s =>
      val n = s.getPath.getName
      !n.startsWith(".") && (n.contains("=") || !n.startsWith("_"))
    }
  }

  /** Write `df` as batch `batchId` of the table at `dir`. The id lives
    * in the path only, never in the plan, so a new batch id compiles no
    * new classes. The rows are written to a dot-hidden staging sibling,
    * which readers and [[hasData]] ignore, and moved to
    * `dir/_batch_id=<batchId>` only once the write has committed: a
    * write that fails or is killed leaves batch N's earlier rows (or its
    * absence) in place, and a replay's write clears what a killed attempt
    * left in the staging directory. Between the delete and the move, a
    * reader can briefly miss batch N, as it could at a dynamic partition
    * overwrite's commit. An empty `df` still leaves its batch directory,
    * holding one schema-only part file.
    */
  def writeBatch(df: DataFrame, dir: String, batchId: Long): Unit = {
    val target = new Path(batchDir(dir, batchId))
    val staged = new Path(dir, s".staging-batch-$batchId")
    df.write.mode(SaveMode.Overwrite).parquet(staged.toString)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.delete(target, true)
    if (!fs.rename(staged, target))
      throw new java.io.IOException(s"writeBatch: cannot move $staged to $target")
  }

  /** The directory that holds batch `batchId` of the table at `dir`. */
  def batchDir(dir: String, batchId: Long): String = s"$dir/_batch_id=$batchId"

  /** Every batch written to `dir` so far, with its `_batch_id` column;
    * before the first batch, the empty frame of `emptySchema`.
    */
  def readBatches(spark: SparkSession, dir: String,
      emptySchema: StructType): DataFrame =
    if (hasData(spark, dir)) spark.read.parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], emptySchema)
}
