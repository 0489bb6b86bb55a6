package graft.sink

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ops.Lww
import graft.util.LocalPaths

/** LWW upsert sinks.
  *
  * Two implementations of the reference's conditional upsert
  * (`src/connectors/transforms/timestamp_conflict_resolver.py:247-285` —
  * `INSERT ... ON CONFLICT (pk) DO UPDATE ... WHERE EXCLUDED.ts > existing.ts
  * OR (= AND EXCLUDED.event_id > existing.event_id)`):
  *
  *  - [[JdbcUpsertSql]] generates exactly that SQL (plus the auto-create
  *    DDL of `postgresql_repository.py:128-177`) for a real JDBC target —
  *    executed inside `foreachBatch` in production; no live Postgres exists
  *    in this container, so it is exercised by unit tests on the SQL text.
  *  - [[ParquetStateStore]] is the runnable local target: a parquet-backed
  *    state table where upsert = LWW-fold of (current state ∪ batch). The
  *    batch is the micro-batch's RAW valid rows, any number per key: the
  *    fold is the same associative, commutative, idempotent max-by, so
  *    one fold over state ∪ raw rows equals folding the batch first, and
  *    replaying a batch (foreachBatch is at-least-once) cannot regress
  *    state — this is the exactly-once construction of SURVEY.md §7.4(1).
  *
  * Scale note: ParquetStateStore rewrites the whole state table on every
  * batch, so a trigger's write cost grows with the table, not the batch.
  * The route to O(batch) writes is a delta log: each batch's winners
  * written beside the base and merged on read, compacted now and then
  * (ROADMAP, Direction 2). Until then a large table replicates through
  * the JDBC target, whose conditional upsert touches only the batch's
  * keys; the LWW fold itself shuffles once on the key either way.
  */
object JdbcUpsertSql {

  /** CDC metadata columns appended to every target table
    * (`postgresql_repository.py:149-153`, `init-db.sql:146-195`).
    */
  val MetaColumns: Seq[(String, String)] = Seq(
    "_cdc_deleted" -> "BOOLEAN NOT NULL DEFAULT FALSE",
    "_cdc_timestamp_micros" -> "BIGINT",
    "_ttl_expiry_timestamp" -> "TIMESTAMPTZ",
    // BIGINT, not VARCHAR: ParquetStateStore/ReplicationJob tie-break on
    // this column as a numeric long; a VARCHAR target would order
    // lexicographically ('9' > '10') and the two sink implementations
    // could resolve equal-timestamp conflicts differently. The reference
    // uses string UUIDs (where lexicographic IS the contract); for the
    // numeric event ids this engine carries, one numeric ordering is
    // pinned across both sinks.
    "_last_event_id" -> "BIGINT")

  def createTableDdl(table: String, cols: Seq[(String, String)], pk: Seq[String]): String = {
    val all = cols ++ MetaColumns
    val colsSql = all.map { case (n, t) => s"  $n $t" }.mkString(",\n")
    s"""CREATE TABLE IF NOT EXISTS $table (
       |$colsSql,
       |  PRIMARY KEY (${pk.mkString(", ")})
       |)""".stripMargin
  }

  /** The conditional LWW upsert: accept iff strictly newer, tie-broken on
    * `_last_event_id` (verbatim semantics of
    * `timestamp_conflict_resolver.py:247-285`).
    */
  def upsertSql(table: String, cols: Seq[String], pk: Seq[String]): String = {
    val nonPk = cols.filterNot(pk.contains)
    val sets = nonPk.map(c => s"$c = EXCLUDED.$c").mkString(", ")
    s"""INSERT INTO $table (${cols.mkString(", ")})
       |VALUES (${cols.map(_ => "?").mkString(", ")})
       |ON CONFLICT (${pk.mkString(", ")}) DO UPDATE SET $sets
       |WHERE EXCLUDED._cdc_timestamp_micros > $table._cdc_timestamp_micros
       |   OR (EXCLUDED._cdc_timestamp_micros = $table._cdc_timestamp_micros
       |       AND EXCLUDED._last_event_id > $table._last_event_id)""".stripMargin
  }

  /** Hard/soft delete statements (`postgresql_repository.py:249-319`). */
  def hardDeleteSql(table: String, pk: Seq[String]): String =
    s"DELETE FROM $table WHERE ${pk.map(c => s"$c = ?").mkString(" AND ")}"

  def softDeleteSql(table: String, pk: Seq[String]): String =
    s"""UPDATE $table SET _cdc_deleted = TRUE, _cdc_timestamp_micros = ?,
       |_last_event_id = ? WHERE ${pk.map(c => s"$c = ?").mkString(" AND ")}""".stripMargin
}

/** Parquet-backed LWW state table. Thread-unsafe by design: one writer
  * (the streaming query's foreachBatch) at a time, like the reference's
  * single sink-connector instance per table.
  *
  * `dir` is a local path, bare or as a `file:` URI; it is resolved once,
  * and Spark and the file moves of [[swapIn]] both go through that one
  * resolved path. Any other scheme is refused at construction.
  */
final class ParquetStateStore(
    spark: SparkSession, dir: String, keys: Seq[String], tsCol: String, tieCol: String) {
  import ParquetStateStore._

  /** Single-key convenience (the common Cassandra partition-key shape). */
  def this(spark: SparkSession, dir: String, key: String, tsCol: String, tieCol: String) =
    this(spark, dir, Seq(key), tsCol, tieCol)

  private val path: Path = LocalPaths.of(dir)(scheme =>
    s"ParquetStateStore keeps its state on the local file system; '$dir' has " +
      s"scheme '$scheme'. Replicate into a remote table through a JDBC target " +
      "(ReplicationJob.Config.jdbcTarget) instead.").toAbsolutePath
  private def sibling(suffix: String): Path = path.resolveSibling(s"${path.getFileName}$suffix")
  private val oldPath: Path = sibling(".old")
  private val tmpPath: Path = sibling(".tmp")
  // the schema JSON [[swapIn]] keeps beside the data; underscore prefix:
  // Spark's file index treats it as metadata (like _SUCCESS), never data
  private val schemaFile = "_graft_schema"

  /** Refuse a directory in the key-bucketed layout of earlier versions,
    * which that store marked with `_graft_buckets` before it wrote its
    * first rows into `_bucket=` partition directories. Read as this
    * store's layout it looks empty (it has no root `_SUCCESS`), and the
    * first [[swapIn]] would replace it, losing every row; its files are
    * left untouched.
    */
  private def refuseBucketedLayout(): Unit =
    if (Files.exists(path.resolve("_graft_buckets"))) throw new IllegalStateException(
      s"state at $dir is in the key-bucketed layout (_graft_buckets, _bucket=N " +
        "directories), which ParquetStateStore neither reads nor writes; the files " +
        "are left as they are. Move the rows to a new directory: upsert " +
        "spark.read.parquet(dir).drop(\"_bucket\") into a ParquetStateStore there.")

  /** Crash recovery for [[swapIn]]'s two-move window: a death between
    * `move(path → old)` and `move(tmp → path)` leaves only the `.old`
    * backup; without restoring it, the next upsert would treat the store
    * as fresh, write the batch alone as the whole state, and delete the
    * backup — silently losing every prior key. Restoring the backup
    * yields the pre-batch state; the checkpoint then replays the batch
    * into the idempotent fold (the ST5 argument, now crash-complete).
    */
  private def recoverIfInterrupted(): Unit = {
    refuseBucketedLayout()
    if (!Files.exists(path.resolve("_SUCCESS")) && Files.exists(oldPath.resolve("_SUCCESS"))) {
      deleteRec(path) // a partial dir without _SUCCESS is swap debris
      Files.move(oldPath, path, StandardCopyOption.ATOMIC_MOVE)
    }
  }

  def exists: Boolean = {
    recoverIfInterrupted()
    Files.exists(path.resolve("_SUCCESS"))
  }

  /** The state table. Read with the schema [[swapIn]] stored next to the
    * data, so no Spark job infers it from the parquet footers; a store
    * written without the schema file is inferred as before.
    */
  def read(): DataFrame = {
    recoverIfInterrupted()
    val stored = path.resolve(schemaFile)
    if (Files.exists(stored))
      spark.read.schema(DataType.fromJson(Files.readString(stored)).asInstanceOf[StructType])
        .parquet(path.toUri.toString)
    else spark.read.parquet(path.toUri.toString)
  }

  /** LWW-merge `batch` into the current state in one fold. `batch` holds
    * raw rows, any number per key; with no state yet the batch is folded
    * alone. Idempotent: merging the same batch twice is a no-op (max-by
    * fold).
    */
  def upsert(batch: DataFrame): Unit = {
    val rows = if (exists) padUnion(read(), batch) else batch
    swapIn(Lww.latestPerKey(rows, keys, Seq(col(tsCol), col(tieCol))))
  }

  /** TTL purge (S15 delete side — the PLpgSQL expiry trigger of
    * `init-db.sql:198-213` as a periodic batch job,
    * `test_ttl_preservation.py` semantics): hard-delete rows whose
    * expiry has passed. Returns rows purged.
    */
  def purgeExpired(expiryCol: String, nowUs: Long): Long = {
    if (!exists) return 0L
    val state = read()
    val deadPred = col(expiryCol).isNotNull && col(expiryCol) < nowUs
    val nDead = state.filter(deadPred).count()
    if (nDead > 0) swapIn(state.filter(!deadPred))
    nDead
  }

  /** TRUNCATE at an LWW watermark (reference `change_event.py:14,115-117`:
    * a TRUNCATE event clears the table at its position in the change
    * stream, carrying no before/after image). Only rows that LOSE the
    * (ts, tie) ordering against the watermark are cleared; strictly newer
    * rows — late-but-newer upserts already folded into state — survive.
    * Re-applying the same watermark is a no-op, so a replayed
    * truncate-bearing micro-batch converges (ST5). Returns rows cleared.
    */
  def truncate(tsUs: Long, tieId: Long): Long = {
    if (!exists) return 0L
    val state = read()
    val survives = survivesTruncate(tsCol, tieCol, tsUs, tieId)
    val nDead = state.filter(!survives).count()
    if (nDead > 0) swapIn(state.filter(survives))
    nDead
  }

  /** Hard-delete rows by the leading key column (S11 / the GDPR erasure
    * path — the erasure identifier is the partition key, i.e. the first
    * key column of a composite). Returns rows removed.
    */
  def deleteKeys(values: Seq[Any]): Long = {
    if (!exists) return 0L
    val state = read()
    // null-safe: isin is NULL (not false) for a null key, and filter(!NULL)
    // drops the row — a null-key row must survive an unrelated delete
    val pred = coalesce(col(keys.head).isin(values.map(_.asInstanceOf[AnyRef]): _*), lit(false))
    val n = state.filter(pred).count()
    if (n > 0) swapIn(state.filter(!pred))
    n
  }

  /** Write `next` to a sibling tmp dir, with its schema beside the data
    * for [[read]], then swap it in: the schema and the data it describes
    * move together.
    */
  private def swapIn(next: DataFrame): Unit = {
    next.write.mode(SaveMode.Overwrite).parquet(tmpPath.toUri.toString)
    Files.writeString(tmpPath.resolve(schemaFile), next.schema.json)
    // atomic-ish swap: state readers see old or new, never partial
    if (Files.exists(path)) {
      deleteRec(oldPath)
      Files.move(path, oldPath, StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(tmpPath, path, StandardCopyOption.ATOMIC_MOVE)
    deleteRec(oldPath)
  }
}

object ParquetStateStore {

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** The LWW truncate-survivor predicate; it must stay in lockstep with
    * `JdbcLwwExecutor.truncateTable`'s SQL: a row survives iff its
    * (ts, tie) strictly out-orders the watermark; a null position carries
    * no ordering info and loses deterministically (coalesce, not a
    * null-dropping filter).
    */
  private def survivesTruncate(tsCol: String, tieCol: String,
      tsUs: Long, tieId: Long): org.apache.spark.sql.Column =
    coalesce(
      col(tsCol) > tsUs || (col(tsCol) === tsUs && col(tieCol) > tieId),
      lit(false))

  /** Union two frames after null-padding each to their combined column
    * set (additive schema evolution: new columns null on old state).
    */
  private def padUnion(a: DataFrame, b: DataFrame): DataFrame = {
    val allCols = (a.columns ++ b.columns.filterNot(a.columns.contains)).toSeq
    def pad(df: DataFrame) = df.select(allCols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    pad(a).unionByName(pad(b))
  }
}
