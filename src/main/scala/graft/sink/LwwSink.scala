package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.ops.Lww

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
  * Scale note: ParquetStateStore rewrites the state table per batch, which
  * is the correct *semantic* model but at 100 TB the target would be a
  * partitioned/bucketed table (or JDBC/Delta) where the merge touches only
  * the partitions present in the batch; the LWW fold itself shuffles once
  * on the key either way.
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

/** Shared mechanics of the two parquet state stores. */
private[sink] object StateLayout {

  def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** The LWW truncate-survivor predicate, SHARED by both parquet stores
    * so the null rule can never diverge between them (it must also stay
    * in lockstep with `JdbcLwwExecutor.truncateTable`'s SQL): a row
    * survives iff its (ts, tie) strictly out-orders the watermark;
    * a null position carries no ordering info and loses deterministically
    * (coalesce, not a null-dropping filter).
    */
  def survivesTruncate(tsCol: String, tieCol: String,
      tsUs: Long, tieId: Long): org.apache.spark.sql.Column =
    coalesce(
      col(tsCol) > tsUs || (col(tsCol) === tsUs && col(tieCol) > tieId),
      lit(false))

  /** Union two frames after null-padding each to their combined column
    * set (additive schema evolution: new columns null on old state).
    */
  def padUnion(a: DataFrame, b: DataFrame): DataFrame = {
    val allCols = (a.columns ++ b.columns.filterNot(a.columns.contains)).toSeq
    def pad(df: DataFrame) = df.select(allCols.map(c =>
      if (df.columns.contains(c)) col(c) else lit(null).as(c)): _*)
    pad(a).unionByName(pad(b))
  }
}

/** A parquet-backed LWW state table, as the replication path drives it:
  * [[ParquetStateStore]] (one table) or [[BucketedParquetStateStore]]
  * (key-bucketed).
  */
trait LwwStateStore {
  /** LWW-merge a batch of raw rows into the state. */
  def upsert(batch: DataFrame): Unit
  /** Clear the rows that lose the (ts, tie) ordering; returns rows cleared. */
  def truncate(tsUs: Long, tieId: Long): Long
}

/** Parquet-backed LWW state table. Thread-unsafe by design: one writer
  * (the streaming query's foreachBatch) at a time, like the reference's
  * single sink-connector instance per table.
  */
final class ParquetStateStore(
    spark: SparkSession, dir: String, keys: Seq[String], tsCol: String, tieCol: String)
    extends LwwStateStore {

  /** Single-key convenience (the common Cassandra partition-key shape). */
  def this(spark: SparkSession, dir: String, key: String, tsCol: String, tieCol: String) =
    this(spark, dir, Seq(key), tsCol, tieCol)

  private val path: Path = Paths.get(dir)
  private val oldPath: Path = Paths.get(dir + ".old")
  // the schema JSON [[swapIn]] keeps beside the data; underscore prefix:
  // Spark's file index treats it as metadata (like _SUCCESS), never data
  private val schemaFile = "_graft_schema"

  /** Crash recovery for [[swapIn]]'s two-move window: a death between
    * `move(path → old)` and `move(tmp → path)` leaves only the `.old`
    * backup; without restoring it, the next upsert would treat the store
    * as fresh, write the batch alone as the whole state, and delete the
    * backup — silently losing every prior key. Restoring the backup
    * yields the pre-batch state; the checkpoint then replays the batch
    * into the idempotent fold (the ST5 argument, now crash-complete).
    */
  private def recoverIfInterrupted(): Unit =
    if (!Files.exists(path.resolve("_SUCCESS")) && Files.exists(oldPath.resolve("_SUCCESS"))) {
      deleteRec(path) // a partial dir without _SUCCESS is swap debris
      Files.move(oldPath, path, StandardCopyOption.ATOMIC_MOVE)
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
        .parquet(dir)
    else spark.read.parquet(dir)
  }

  /** LWW-merge `batch` into the current state in one fold. `batch` holds
    * raw rows, any number per key; with no state yet the batch is folded
    * alone. Idempotent: merging the same batch twice is a no-op (max-by
    * fold).
    */
  def upsert(batch: DataFrame): Unit = {
    val rows = if (exists) StateLayout.padUnion(read(), batch) else batch
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
    val survives = StateLayout.survivesTruncate(tsCol, tieCol, tsUs, tieId)
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
    val tmp = dir + ".tmp"
    next.write.mode(SaveMode.Overwrite).parquet(tmp)
    Files.writeString(Paths.get(tmp, schemaFile), next.schema.json)
    // atomic-ish swap: state readers see old or new, never partial
    val old = dir + ".old"
    if (Files.exists(path)) {
      deleteRec(Paths.get(old))
      Files.move(path, Paths.get(old), StandardCopyOption.ATOMIC_MOVE)
    }
    Files.move(Paths.get(tmp), path, StandardCopyOption.ATOMIC_MOVE)
    deleteRec(Paths.get(old))
  }

  private def deleteRec(p: Path): Unit = StateLayout.deleteRec(p)
}

/** Hash-bucketed parquet LWW state table — the partitioned-target shape
  * [[ParquetStateStore]]'s scale note calls for: state lives under
  * `_bucket = pmod(hash(key), numBuckets)` partitions, and `upsert` reads
  * and rewrites ONLY the buckets present in the batch. Bytes read/written
  * per micro-batch therefore scale with the batch's key spread (≤
  * numBuckets buckets), not with total state size — at 100 TB of state a
  * trigger touching 1% of keys rewrites ~1% of files.
  *
  * The bucket list is collected to the driver, but it is a bounded set of
  * ≤ numBuckets small integers, not data rows. Dynamic partition
  * overwrite leaves untouched buckets' files byte-identical. The write is
  * not atomic ACROSS buckets: a crash mid-batch can persist some buckets
  * only — healed by the checkpoint replaying the batch into the
  * idempotent LWW fold (same argument as ST5); a production target would
  * be JDBC ([[JdbcLwwExecutor]]) or a transactional table format.
  */
object BucketedParquetStateStore {
  // Canonical paths of stores with a LIVE migration in this JVM:
  // recoverIfInterrupted is a no-op for members, so a concurrent
  // read()/exists() cannot mistake the swap-window residue for a crash
  // and roll the in-flight bucket back under the migrator. Guarding is
  // per-JVM only — cross-process access during a migration must be
  // quiesced by the caller.
  private val migrating =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private def canon(p: Path): String = p.toAbsolutePath.normalize.toString
  private[sink] def isMigrating(p: Path): Boolean = migrating.containsKey(canon(p))
  /** Run `body` with `p` marked as migrating. The mark is a per-path
    * REFERENCE COUNT, not a boolean: re-entrant nesting (resumeRebucket →
    * rebucketToIncremental) increments and decrements symmetrically, and —
    * the case a boolean gets wrong — a second thread entering a migration
    * on the same store while one is live holds its own count, so the first
    * migrator's exit cannot release the mark under the second's swap
    * window and expose its residue to recoverIfInterrupted.
    */
  private[sink] def withMigrationGuard[A](p: Path)(body: => A): A = {
    val key = canon(p)
    migrating.merge(key, 1, (a, b) => a + b)
    try body
    finally migrating.computeIfPresent(key,
      (_, n) => if (n <= 1) null else Integer.valueOf(n - 1))
  }
}

final class BucketedParquetStateStore(
    spark: SparkSession, dir: String, keys: Seq[String], tsCol: String, tieCol: String,
    numBuckets: Int) extends LwwStateStore {

  /** Single-key convenience (the common Cassandra partition-key shape). */
  def this(spark: SparkSession, dir: String, key: String, tsCol: String, tieCol: String,
      numBuckets: Int = 64) =
    this(spark, dir, Seq(key), tsCol, tieCol, numBuckets)

  private val path: Path = Paths.get(dir)
  // underscore prefix: Spark's file index treats it as metadata (like
  // _SUCCESS) and never reads it as data
  private val bucketMarker: Path = path.resolve("_graft_buckets")
  private val rebucketTmp: Path = Paths.get(dir + ".rebucket.tmp")
  private val rebucketOld: Path = Paths.get(dir + ".rebucket.old")
  // incremental-rebucket cursor: "newN oldN nextBucket", atomically
  // replaced after every migrated bucket (round-15 verdict #6)
  private val progressFile: Path = path.resolve("_graft_rebucket")

  /** Crash recovery for [[rebucketTo]]'s two-move swap window (the
    * [[ParquetStateStore.recoverIfInterrupted]] discipline): a death
    * between `move(dir → old)` and `move(tmp → dir)` leaves only the
    * backup — restore it (the interrupted rebucket simply re-runs);
    * any other tmp/old residue next to an intact store is debris.
    *
    * NO-OP while a migration is live in this JVM: recovery here is for
    * CRASH-RESTART paths only. A concurrent read()/exists() during an
    * in-flight rebucket would otherwise see the swap-window residue and
    * actively roll the live bucket back, moving dirs out from under the
    * migrator. (Cross-process access during a migration must be
    * quiesced by the caller — see [[rebucketToIncremental]].)
    */
  private def recoverIfInterrupted(): Unit = {
    if (BucketedParquetStateStore.isMigrating(path)) return
    // a partitioned overwrite leaves no root _SUCCESS, so store
    // presence is detected by the layout's own signature: _bucket= dirs
    def looksLikeStore(p: Path): Boolean =
      Files.exists(p) && {
        val s = Files.list(p)
        try s.anyMatch(q => q.getFileName.toString.startsWith("_bucket="))
        finally s.close()
      }
    // --- incremental-rebucket residue first (file moves only, no Spark
    // jobs): roll the in-flight bucket back to its intact .old snapshot
    // — everything the interrupted step wrote under the store for that
    // bucket's residue class {b, b+oldN, …} is partial new content and
    // only ever derives from the .old files, so deleting it loses
    // nothing. A crash between the last cursor bump and the finalize
    // (marker rewrite + progress delete) is completed here too.
    if (Files.exists(progressFile)) {
      val parts = Files.readString(progressFile).trim.split(" ")
      val (newN, oldN, cursor) = (parts(0).toInt, parts(1).toInt, parts(2).toInt)
      val parent = path.getParent
      val base = path.getFileName.toString
      if (parent != null && Files.exists(parent)) {
        val s = Files.list(parent)
        val residue =
          try {
            val it = s.iterator()
            var acc = List.empty[Path]
            while (it.hasNext) {
              val p = it.next()
              if (p.getFileName.toString.startsWith(s"$base.rebucket.b"))
                acc ::= p
            }
            acc
          } finally s.close()
        // `.deleting` = COMMITTED bucket (the atomic `.old → .deleting`
        // rename in migrateBucket happened, so the migrated _bucket=
        // dirs are complete): finish the interrupted deletion, keep the
        // store. Must run BEFORE the `.old` pass conceptually, but the
        // two residue classes are disjoint per bucket — a bucket has
        // either an `.old` (pre-commit, intact snapshot) or a
        // `.deleting` (post-commit debris), never both.
        residue.filter(_.getFileName.toString.endsWith(".deleting"))
          .foreach(StateLayout.deleteRec)
        residue.filter(_.getFileName.toString.endsWith(".old")).foreach { oldB =>
          val b = oldB.getFileName.toString
            .stripPrefix(s"$base.rebucket.b").stripSuffix(".old").toInt
          var nb = b
          while (nb < newN) {
            StateLayout.deleteRec(path.resolve(s"_bucket=$nb")); nb += oldN
          }
          Files.move(oldB, path.resolve(s"_bucket=$b"),
            StandardCopyOption.ATOMIC_MOVE)
        }
        residue.filter(_.getFileName.toString.endsWith(".tmp"))
          .foreach(StateLayout.deleteRec)
      }
      if (cursor >= oldN) {
        Files.writeString(bucketMarker, newN.toString)
        Files.deleteIfExists(progressFile)
        ()
      }
    }
    if (looksLikeStore(path)) {
      StateLayout.deleteRec(rebucketTmp)
      StateLayout.deleteRec(rebucketOld)
    } else if (looksLikeStore(rebucketOld)) {
      StateLayout.deleteRec(path) // marker-only / partial dir is debris
      StateLayout.deleteRec(rebucketTmp)
      Files.move(rebucketOld, path, StandardCopyOption.ATOMIC_MOVE)
    } else {
      StateLayout.deleteRec(rebucketTmp)
    }
  }

  /** Fail fast on a bucket-count change over existing state: key routing
    * is pmod(hash(key), numBuckets), so a different count would prune the
    * state scan to the wrong bucket and silently write duplicate rows per
    * key. The count is persisted on first write; an empty store (fresh or
    * fully truncated) may adopt a new count; a GROWN store re-buckets
    * through [[rebucketTo]], never through this constructor.
    */
  private def ensureBucketCount(): Unit = {
    recoverIfInterrupted()
    if (Files.exists(progressFile))
      throw new IllegalStateException(
        s"state at $dir has an in-flight incremental rebucket " +
          s"(${Files.readString(progressFile).trim}); already-migrated " +
          "buckets route by the NEW count, so bucket-pruned access under " +
          "either count would miss rows — call resumeRebucket() to drive " +
          "the migration to completion first")
    val hasState = exists
    if (hasState && Files.exists(bucketMarker)) {
      val persisted = Files.readString(bucketMarker).trim.toInt
      if (persisted != numBuckets)
        throw new IllegalStateException(
          s"state at $dir was written with numBuckets=$persisted; " +
            s"rebucketing to $numBuckets over existing state would duplicate keys")
    }
    if (!hasState || !Files.exists(bucketMarker)) {
      Files.createDirectories(path)
      Files.writeString(bucketMarker, numBuckets.toString)
    }
  }

  def exists: Boolean = {
    recoverIfInterrupted()
    Files.exists(path) && {
      val s = Files.list(path) // close the directory stream's fd
      try s.anyMatch(p => p.getFileName.toString.startsWith("_bucket="))
      finally s.close()
    }
  }

  def read(): DataFrame = {
    recoverIfInterrupted()
    spark.read.parquet(dir).drop("_bucket")
  }

  /** ONLINE BUCKET-COUNT EVOLUTION — the scale path for a state table
    * that outgrows its bucket count (per-bucket files too large, upsert
    * parallelism capped at numBuckets): split every old bucket into
    * `newNumBuckets / numBuckets` sub-buckets. The multiple-of
    * constraint is what makes this ONE local pass: `hash mod new`
    * preserves `hash mod old`, so every row stays inside its old
    * bucket's residue class — each scan task fans its rows into ≤k new
    * partition dirs with NO exchange, and old buckets re-bucket
    * independently. The rewrite lands in a `.rebucket.tmp` sibling and
    * swaps in with the two-move + backup discipline
    * ([[ParquetStateStore.swapIn]] / the Compaction crash-safe swap, at
    * store scope); a crash at any point is healed by
    * [[recoverIfInterrupted]] rolling back to the intact backup. Call
    * between micro-batches (the upsert path is quiesced, as for any
    * maintenance op). Returns the store handle at the new count; THIS
    * handle's count is stale afterwards and its next use fails the
    * marker check loudly.
    */
  def rebucketTo(newNumBuckets: Int): BucketedParquetStateStore = {
    ensureBucketCount()
    require(newNumBuckets > numBuckets && newNumBuckets % numBuckets == 0,
      s"newNumBuckets must be a multiple of the current $numBuckets and " +
        s"larger, got $newNumBuckets — a non-multiple would scatter keys " +
        "across old-bucket boundaries and force a full shuffle")
    if (exists) BucketedParquetStateStore.withMigrationGuard(path) {
      StateLayout.deleteRec(rebucketTmp)
      spark.read.parquet(dir).drop("_bucket")
        .withColumn("_bucket",
          pmod(hash(keys.map(col): _*), lit(newNumBuckets)))
        .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
        .parquet(rebucketTmp.toString)
      Files.writeString(rebucketTmp.resolve("_graft_buckets"),
        newNumBuckets.toString)
      StateLayout.deleteRec(rebucketOld)
      Files.move(path, rebucketOld, StandardCopyOption.ATOMIC_MOVE)
      Files.move(rebucketTmp, path, StandardCopyOption.ATOMIC_MOVE)
      StateLayout.deleteRec(rebucketOld)
      ()
    } else Files.writeString(bucketMarker, newNumBuckets.toString)
    new BucketedParquetStateStore(spark, dir, keys, tsCol, tieCol, newNumBuckets)
  }

  /** INCREMENTAL bucket-count evolution (round-15 verdict #6) — the
    * [[rebucketTo]] semantics executed ONE OLD BUCKET AT A TIME: since
    * `newN` is a multiple of `numBuckets`, old bucket `b`'s rows land
    * only in the residue class `{b, b+oldN, b+2·oldN, …}`, so each
    * bucket re-splits independently under its own bucket-scoped
    * two-move swap (write the split to a `.b<b>.tmp` sibling → move the
    * live dir to `.b<b>.old` → move the split dirs in → drop the
    * backup → atomically bump the `_graft_rebucket` cursor). The crash
    * window and the peak temp space are therefore ONE BUCKET, not the
    * table — at 100 TB of state the one-shot rewrite needs a full-table
    * scratch copy and re-runs from zero on any failure, while this
    * resumes at the interrupted bucket and [[recoverIfInterrupted]]
    * heals the in-flight bucket with pure file moves (its partial new
    * dirs only ever derive from the intact `.old` snapshot).
    *
    * ACCESS DURING MIGRATION: quiesce ALL access — reads included — for
    * the duration, exactly as for the upsert path. A full-table read is
    * correct at every CURSOR boundary (every row exists exactly once —
    * migrated buckets under the new ids, unmigrated under the old), but
    * NOT inside one bucket's two-move window, where bucket b is absent
    * between its move-out and move-in; bucket-PRUNED access is wrong
    * for the whole migration (`ensureBucketCount` refuses loudly while
    * the cursor file exists, and [[resumeRebucket]] drives an
    * interrupted migration home). In-JVM, [[recoverIfInterrupted]] is
    * guarded against the live migration so a concurrent read cannot
    * roll the in-flight bucket back; cross-process quiescence is the
    * caller's contract. Call between micro-batches, as for any
    * maintenance op.
    */
  def rebucketToIncremental(newNumBuckets: Int): BucketedParquetStateStore = {
    recoverIfInterrupted()
    require(newNumBuckets > numBuckets && newNumBuckets % numBuckets == 0,
      s"newNumBuckets must be a multiple of the current $numBuckets and " +
        s"larger, got $newNumBuckets — a non-multiple would scatter keys " +
        "across old-bucket boundaries and force a full shuffle")
    if (!exists) {
      Files.createDirectories(path)
      Files.writeString(bucketMarker, newNumBuckets.toString)
      return new BucketedParquetStateStore(spark, dir, keys, tsCol, tieCol,
        newNumBuckets)
    }
    // stale-handle guard (this entry point bypasses ensureBucketCount,
    // which refuses whenever the cursor file exists): outside a
    // migration the persisted marker must match this handle's count
    if (!Files.exists(progressFile) && Files.exists(bucketMarker)) {
      val persisted = Files.readString(bucketMarker).trim.toInt
      require(persisted == numBuckets,
        s"state at $dir was written with numBuckets=$persisted but this " +
          s"handle says $numBuckets — rebucketing on the wrong modulus " +
          "would scatter keys")
    }
    val start =
      if (Files.exists(progressFile)) {
        val parts = Files.readString(progressFile).trim.split(" ")
        require(parts(0).toInt == newNumBuckets && parts(1).toInt == numBuckets,
          s"in-flight rebucket is ${parts.mkString(" ")}, asked for " +
            s"$numBuckets -> $newNumBuckets — finish the in-flight one first")
        parts(2).toInt
      } else { writeProgress(newNumBuckets, 0); 0 }
    BucketedParquetStateStore.withMigrationGuard(path) {
      for (b <- start until numBuckets) {
        migrateBucket(b, newNumBuckets)
        writeProgress(newNumBuckets, b + 1)
      }
      Files.writeString(bucketMarker, newNumBuckets.toString)
      Files.deleteIfExists(progressFile)
      ()
    }
    new BucketedParquetStateStore(spark, dir, keys, tsCol, tieCol, newNumBuckets)
  }

  /** Drive an interrupted incremental rebucket to completion (the
    * target count comes from the persisted cursor file). Returns the
    * store handle at the new count.
    */
  def resumeRebucket(): BucketedParquetStateStore = {
    recoverIfInterrupted()
    require(Files.exists(progressFile),
      s"no in-flight incremental rebucket at $dir")
    rebucketToIncremental(
      Files.readString(progressFile).trim.split(" ")(0).toInt)
  }

  /** Re-split ONE old bucket under the bucket-scoped two-move swap. The
    * split job reads only this bucket's files and writes only to the
    * sibling tmp, so no barrier is needed — the live dir is untouched
    * until the atomic move, and every destination id in the residue
    * class is clear by construction (k = 0 was just moved away; k ≥ 1
    * ids are created only by this bucket's own migration, and recovery
    * removed any partial ones).
    *
    * COMMIT DISCIPLINE: the backup is atomically renamed `.old` →
    * `.deleting` after the move-in loop and only THEN deleted. The
    * rename is the commit point — recursive deletion is not atomic, so
    * a crash mid-delete must leave residue recovery can classify:
    * `.old` is always an INTACT pre-split snapshot (roll back),
    * `.deleting` is always a COMMITTED bucket's debris (finish
    * deleting, keep the migrated dirs). Deleting the `.old` name
    * directly would let a crash leave a PARTIAL `.old`, and rollback
    * would then destroy the complete migrated copy while restoring a
    * snapshot missing rows — permanent loss.
    */
  private def migrateBucket(b: Int, newN: Int): Unit = {
    val bucketDir = path.resolve(s"_bucket=$b")
    if (!Files.exists(bucketDir)) return
    val tmpB = Paths.get(dir + s".rebucket.b$b.tmp")
    val oldB = Paths.get(dir + s".rebucket.b$b.old")
    val delB = Paths.get(dir + s".rebucket.b$b.deleting")
    StateLayout.deleteRec(tmpB)
    spark.read.parquet(bucketDir.toString)
      .withColumn("_bucket", pmod(hash(keys.map(col): _*), lit(newN)))
      .write.mode(SaveMode.Overwrite).partitionBy("_bucket")
      .parquet(tmpB.toString)
    Files.move(bucketDir, oldB, StandardCopyOption.ATOMIC_MOVE)
    val s = Files.list(tmpB)
    try {
      val it = s.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (p.getFileName.toString.startsWith("_bucket="))
          Files.move(p, path.resolve(p.getFileName.toString),
            StandardCopyOption.ATOMIC_MOVE)
      }
    } finally s.close()
    Files.move(oldB, delB, StandardCopyOption.ATOMIC_MOVE) // commit point
    StateLayout.deleteRec(delB)
    StateLayout.deleteRec(tmpB)
  }

  /** Atomically replace the migration cursor (tmp write + rename). */
  private def writeProgress(newN: Int, cursor: Int): Unit = {
    val tmp = path.resolve("_graft_rebucket.next")
    Files.writeString(tmp, s"$newN $numBuckets $cursor")
    Files.move(tmp, progressFile, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  /** LWW-merge `batch` (raw rows, any number per key) into the buckets
    * it touches, in one fold with their state; with no state yet the
    * batch is folded alone.
    */
  def upsert(batch: DataFrame): Unit = {
    ensureBucketCount()
    val b = batch.withColumn("_bucket", pmod(hash(keys.map(col): _*), lit(numBuckets)))
    val merged =
      if (!exists) Lww.latestPerKey(b, keys, Seq(col(tsCol), col(tieCol)))
      else {
        val present = b.select("_bucket").distinct().collect().map(_.getInt(0)).toSeq
        val state = spark.read.parquet(dir)
          .filter(col("_bucket").isin(present.map(Int.box): _*)) // partition-pruned scan
        // lineage-truncating barrier before overwriting the files the
        // plan reads from (same discipline as dropWhere /
        // ParquetStateStore's tmp+swap): a lazy — or, in persist mode,
        // lineage-retaining — plan recomputed mid-overwrite (task retry,
        // executor loss) would re-read partially deleted bucket files.
        graft.util.Materialize.barrier(
          Lww.latestPerKey(StateLayout.padUnion(state, b), keys,
            Seq(col(tsCol), col(tieCol))))
      }
    merged.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("_bucket")
      .parquet(dir)
  }

  /** TTL purge over the bucketed layout: rewrites ONLY buckets holding
    * expired rows (purge cost tracks expired volume, not state size); a
    * bucket left empty has its partition directory removed, since dynamic
    * overwrite only replaces partitions present in the output.
    */
  def purgeExpired(expiryCol: String, nowUs: Long): Long =
    dropWhere(col(expiryCol).isNotNull && col(expiryCol) < nowUs)

  /** TRUNCATE at an LWW watermark over the bucketed layout (same
    * semantics as [[ParquetStateStore.truncate]]): clears rows losing the
    * (ts, tie) ordering, rewriting ONLY buckets that hold losing rows —
    * a truncate whose watermark predates most of the state touches few
    * files. Replay-idempotent. Returns rows cleared.
    */
  def truncate(tsUs: Long, tieId: Long): Long =
    dropWhere(!StateLayout.survivesTruncate(tsCol, tieCol, tsUs, tieId))

  /** Drop rows matching `deadPred`, rewriting only buckets that contain
    * such rows; a bucket left empty has its partition directory removed
    * (dynamic overwrite only replaces partitions present in the output).
    * Returns rows dropped.
    */
  private def dropWhere(deadPred: org.apache.spark.sql.Column): Long = {
    if (!exists) return 0L
    ensureBucketCount()
    val state = spark.read.parquet(dir)
    // one aggregation serves both bucket discovery AND the dead count —
    // the old shape re-scanned the touched buckets a third time just to
    // count what it was about to drop
    val deadByBucket = state.filter(deadPred).groupBy("_bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1))
    if (deadByBucket.isEmpty) return 0L
    val buckets = deadByBucket.map(_._1).toSeq
    val nDead = deadByBucket.map(_._2).sum
    val touched = state.filter(col("_bucket").isin(buckets.map(Int.box): _*))
    // lineage-truncating barrier: survivors must be fully materialized
    // before overwriting the files they came from (see upsert)
    val live = graft.util.Materialize.barrier(touched.filter(!deadPred))
    val liveBuckets = live.select("_bucket").distinct().collect().map(_.getInt(0)).toSet
    if (liveBuckets.nonEmpty)
      live.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("_bucket")
        .parquet(dir)
    buckets.filterNot(liveBuckets).foreach { b =>
      StateLayout.deleteRec(path.resolve(s"_bucket=$b"))
    }
    nDead
  }
}
