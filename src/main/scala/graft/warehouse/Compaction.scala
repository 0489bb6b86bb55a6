package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the table-maintenance pass every streaming
  * sink eventually needs: micro-batch writers emit one file per
  * trigger per partition, and a year of 30 s triggers turns a table
  * into millions of KB-sized files whose per-file open/footer cost
  * dominates every scan (the classic 100 TB "small files problem").
  *
  * `plan` is pure analysis (one parallel footer-less file listing via
  * the input_file_name of a zero-column scan — no data read);
  * `compact` rewrites a directory to ~`targetBytes` files by
  * repartitioning on file-size statistics, preserving rows EXACTLY
  * (content equality is the spec's assertion, and the write goes
  * through a temp directory + atomic-ish rename so a crashed
  * compaction never leaves the table half-rewritten — the
  * overwrite-what-you-read discipline of the state store).
  */
object Compaction {

  /** Per-file stats of a parquet directory: (file, bytes). Uses the
    * filesystem listing only — no parquet footer reads, no data scan.
    */
  def plan(spark: SparkSession, dir: String): DataFrame = {
    val fs = new java.io.File(dir)
    val files = Option(fs.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length()))
    import spark.implicits._
    files.toSeq.toDF("file", "bytes")
  }

  /** Rewrite `dir` to ceil(totalBytes / targetBytes) files. Rows are
    * preserved exactly; file count shrinks to the target. The rewrite
    * reads the ENTIRE directory once and writes once — at cluster
    * scale run it per partition directory (shard=K/, dt=…/) so each
    * rewrite is bounded. The temp+swap keeps the read and the overwrite
    * of the same path apart, as `Materialize.stable`'s checkpointed leaf
    * does for an in-memory rewrite (there the blocks, not a directory,
    * hold the rows, and `ContextCleaner` releases them).
    * Returns (filesBefore, filesAfter, rows).
    */
  def compact(spark: SparkSession, dir: String,
      targetBytes: Long): (Int, Int, Long) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val before = plan(spark, dir).collect()
    val totalBytes = before.map(_.getAs[Long]("bytes")).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val tmp = dir.stripSuffix("/") + ".compact_tmp"
    val df = spark.read.parquet(dir)
    df.repartition(nOut).write.mode("overwrite").parquet(tmp)
    // row count from the REWRITTEN files' footers — metadata-only (a
    // count() before the rewrite would scan the data a second time)
    val rows = spark.read.parquet(tmp).count()
    // swap: move the compacted data files IN first (fresh UUID part
    // names — no collision with originals), THEN delete the originals,
    // so a crash mid-swap leaves a readable superset rather than an
    // empty table. Files.move throws on failure where File.renameTo
    // silently returns false (e.g. tmp on a different filesystem).
    // Listing-based — local-fs semantics here; on an object store this
    // is the commit service's job (the point of the temp dir is that
    // the READ above finished before anything is deleted).
    val dirF = new java.io.File(dir)
    val originals = Option(dirF.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile)
    val tmpF = new java.io.File(tmp)
    Option(tmpF.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .foreach { f =>
        java.nio.file.Files.move(f.toPath,
          new java.io.File(dirF, f.getName).toPath)
        ()
      }
    originals.foreach(f => { f.delete(); () })
    Option(tmpF.listFiles()).getOrElse(Array.empty)
      .filter(_.isFile).foreach(f => { f.delete(); () })
    tmpF.delete()
    val after = Option(dirF.listFiles()).getOrElse(Array.empty)
      .count(f => f.isFile && f.getName.endsWith(".parquet"))
    (before.length, after, rows)
  }
}
