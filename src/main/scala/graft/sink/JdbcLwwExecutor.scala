package graft.sink

import java.sql.{Connection, DriverManager, SQLException}

import org.apache.spark.sql.{DataFrame, Row}

import graft.util.{CircuitBreaker, Retry}

/** LIVE execution of the LWW sink against a JDBC target — the piece the
  * reference runs through its PostgreSQL repository
  * (`src/repositories/postgresql_repository.py:185-247` batched upserts,
  * sink `batch.size=1000` per `docker/connectors/postgres-sink.json:23`),
  * here as a `foreachBatch` executor.
  *
  * SQL strategy: a PORTABLE two-phase conditional upsert —
  *   1. `UPDATE ... WHERE pk = ? AND (ts < new OR (ts = new AND tie < new))`
  *      (the LWW accept condition, inverted onto the existing row);
  *   2. rows the UPDATE did not touch are either absent (INSERT) or
  *      newer/equal in the target (the INSERT hits the primary key and is
  *      rejected — SQLState 23505 — which IS the LWW reject).
  * This runs on any JDBC engine (tested on embedded Derby; Postgres in
  * production — where [[JdbcUpsertSql.upsertSql]]'s native single-statement
  * `ON CONFLICT` form, the reference's verbatim SQL, is the preferred
  * dialect specialization).
  *
  * Scale/coherence notes:
  *  - One connection per input partition (`df.foreachPartition`), statement
  *    batching inside — the standard distributed JDBC write shape; no
  *    driver-side row loop.
  *  - Rows MUST be pre-compacted to one-per-pk ([[graft.ops.Lww.latestPerKey]])
  *    before the sink, as ReplicationJob does — otherwise two same-pk rows
  *    in one batch race on insert. Single logical writer per table, like
  *    the reference's sink connector instance.
  *  - Idempotent under foreachBatch's at-least-once replay: a replayed row
  *    fails the strict `<` update condition and its insert hits the pk —
  *    both no-ops (the exactly-once construction, SURVEY.md §7.4(1)).
  *  - Driver-side [[Retry]] (exp backoff, `retry.py:15-50` semantics) and
  *    [[CircuitBreaker]] (`circuit_breaker.py:27-111`) wrap the whole
  *    batch write (ST7/ST8): transient target failures back off; repeated
  *    failures fail fast per trigger.
  */
object JdbcLwwExecutor {

  final case class Target(
      url: String,
      table: String,
      cols: Seq[String],
      pk: Seq[String],
      tsCol: String = "_cdc_timestamp_micros",
      tieCol: String = "_last_event_id",
      batchSize: Int = 1000)

  private val DuplicateKeySqlState = "23505"
  /** Bounded row-level re-attempts of the post-duplicate-key conditional
    * UPDATE before escalating to the driver-level full-batch retry.
    */
  private val RetryUpdateAttempts = 3

  /** Open a connection with credential-safe failure text: driver errors
    * ("No suitable driver found for jdbc:...") echo the full URL,
    * userinfo and password properties included, and that message travels
    * into executor logs, the streaming query exception, and API 500
    * bodies. The original exception is NOT chained — its message is the
    * leak (`test_no_secrets_in_logs.py` contract).
    */
  def connect(url: String): Connection =
    try DriverManager.getConnection(url)
    catch {
      case e: SQLException =>
        throw new SQLException(
          graft.util.Redact.secrets(
            s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("connect failed")}"),
          e.getSQLState)
      // several drivers throw RuntimeException/IllegalArgumentException
      // during URL parsing — those messages echo the raw URL too, and
      // nothing downstream of foreachPartition redacts them
      case scala.util.control.NonFatal(e) =>
        throw new SQLException(graft.util.Redact.secrets(
          s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("connect failed")}"))
    }

  /** Column identifiers are double-quoted (SQL-standard delimited
    * identifiers): the CDC metadata columns start with '_', which Derby
    * rejects unquoted; Postgres folds unquoted identifiers to lowercase,
    * so quoting lowercase names is behavior-preserving there.
    */
  private def q(ident: String): String = "\"" + ident + "\""

  /** Phase-1 conditional update: set every non-pk column iff the incoming
    * (ts, tie) is strictly newer — the accept rule of
    * `timestamp_conflict_resolver.py` with the comparison applied to the
    * stored row.
    */
  def updateSql(t: Target): String = {
    val nonPk = t.cols.filterNot(t.pk.contains)
    // IS NULL arms: a stored row with no LWW position (a pre-existing
    // table evolved into the CDC meta columns) must LOSE to any
    // positioned incoming row — without them the NULL comparison voids
    // the update, the insert then hits the pk, and the row is
    // permanently unwritable, diverging from the parquet fold's
    // null-loses ordering (ParquetStateStore.survivesTruncate's rule). Bind
    // order/count is unchanged: (ts, ts, tie).
    s"UPDATE ${t.table} SET ${nonPk.map(c => s"${q(c)} = ?").mkString(", ")}" +
      s" WHERE ${t.pk.map(c => s"${q(c)} = ?").mkString(" AND ")}" +
      s" AND (${q(t.tsCol)} < ? OR ${q(t.tsCol)} IS NULL" +
      s" OR (${q(t.tsCol)} = ? AND (${q(t.tieCol)} < ? OR ${q(t.tieCol)} IS NULL)))"
  }

  def insertSql(t: Target): String =
    s"INSERT INTO ${t.table} (${t.cols.map(q).mkString(", ")})" +
      s" VALUES (${t.cols.map(_ => "?").mkString(", ")})"

  def deleteSql(t: Target): String =
    s"DELETE FROM ${t.table} WHERE ${t.pk.map(c => s"${q(c)} = ?").mkString(" AND ")}"

  /** Run DDL, tolerating an existing table (Derby X0Y32 / generic
    * "already exists") — the auto-create S13 behavior against a live
    * target.
    */
  def ensureTable(url: String, ddl: String): Unit = {
    val conn = connect(url)
    try {
      val st = conn.createStatement()
      try st.execute(ddl)
      catch {
        case e: SQLException
          if e.getSQLState == "X0Y32" ||
            Option(e.getMessage).exists(_.toLowerCase.contains("already exists")) => ()
      } finally st.close()
    } finally conn.close()
  }

  /** auto.evolve against the live target (SC-011/012, the sink-connector
    * flag `docker/connectors/postgres-sink.json:13-14`): ALTER in any of
    * `wanted` (name → SQL type) the table doesn't have yet. Additive only
    * and always nullable — old rows read NULL for a new column, the same
    * rule ParquetStateStore's padUnion applies — so propagation needs no
    * table rewrite and no stream restart. Column presence is compared
    * case-insensitively (unquoted identifiers fold differently per
    * engine). Idempotent: re-running with the same list adds nothing.
    * Returns the columns actually added.
    */
  def evolveTable(conn: Connection, table: String,
      wanted: Seq[(String, String)]): Seq[String] = {
    val md = conn.getMetaData
    // getColumns treats the name as a LIKE pattern — escape '_'/'%' so
    // cdc_users doesn't also match cdcXusers (same rule as the S5 scan).
    val esc = md.getSearchStringEscape
    def pat(t: String) = t.replace(esc, esc + esc)
      .replace("_", esc + "_").replace("%", esc + "%")
    // scope to the connection's CURRENT schema: a null schema pattern
    // unions same-named tables across schemas (public.t + staging.t), and
    // a column present only in the OTHER schema would wrongly be skipped
    // here — then every upsert fails on the still-missing column
    val schemaPat = try Option(conn.getSchema).map(pat).orNull
      catch { case _: Exception => null } // driver may not implement it
    def columnsOf(t: String): Set[String] = {
      val b = Set.newBuilder[String]
      val rs = md.getColumns(null, schemaPat, pat(t), null)
      try while (rs.next()) b += rs.getString("COLUMN_NAME").toLowerCase
      finally rs.close()
      b.result()
    }
    // the catalog stores the UNQUOTED fold of the CREATE's name (Derby/PG
    // upper/lower-case it) and getColumns matches case-SENSITIVELY — try
    // the name as given, then the engine's stated fold
    val have = Iterator(
      table,
      if (md.storesUpperCaseIdentifiers) table.toUpperCase else table,
      if (md.storesLowerCaseIdentifiers) table.toLowerCase else table)
      .map(columnsOf).find(_.nonEmpty).getOrElse(Set.empty)
    // A table with no visible columns doesn't exist yet: creating it is
    // the auto-create path's job (ensureTable/S13), not an ALTER's.
    if (have.isEmpty) return Seq.empty
    val missing = wanted.filterNot { case (n, _) => have(n.toLowerCase) }
    if (missing.nonEmpty) {
      val st = conn.createStatement()
      // quoted like every other statement here — the upsert/delete SQL
      // addresses columns as "name", so the ALTER must store that exact
      // case, not the engine's unquoted fold
      try missing.foreach { case (n, t) =>
        st.executeUpdate(s"ALTER TABLE $table ADD COLUMN ${q(n)} $t")
      } finally st.close()
    }
    missing.map(_._1)
  }

  /** Upsert one partition's rows over one connection with statement
    * batching. Returns (accepted, rejected) — rejected = LWW-stale rows.
    */
  def upsertPartition(conn: Connection, t: Target, rows: Iterator[Row]): (Long, Long) = {
    val nonPk = t.cols.filterNot(t.pk.contains)
    var accepted = 0L
    var rejected = 0L
    conn.setAutoCommit(false)
    val up = conn.prepareStatement(updateSql(t))
    val ins = conn.prepareStatement(insertSql(t))
    try {
      rows.grouped(t.batchSize).foreach { group =>
        group.foreach { r =>
          var i = 1
          nonPk.foreach { c => up.setObject(i, r.getAs[Any](c)); i += 1 }
          t.pk.foreach { c => up.setObject(i, r.getAs[Any](c)); i += 1 }
          val ts = r.getAs[Any](t.tsCol)
          up.setObject(i, ts); up.setObject(i + 1, ts)
          up.setObject(i + 2, r.getAs[Any](t.tieCol))
          up.addBatch()
        }
        val counts = up.executeBatch()
        group.zip(counts.toSeq).foreach { case (r, c) =>
          if (c > 0) accepted += 1
          else {
            // c == 0: row absent or LWW-stale. c == SUCCESS_NO_INFO (-2,
            // drivers that don't report batch counts): the update ran but
            // may have matched 0 rows, so the insert probe is still
            // required — final state stays correct either way (the pk hit
            // is the reject), only the accepted/rejected split becomes
            // approximate on such drivers.
            var i = 1
            t.cols.foreach { cn => ins.setObject(i, r.getAs[Any](cn)); i += 1 }
            // Savepoint so the expected duplicate-key failure can't abort
            // the surrounding transaction: PostgreSQL poisons the tx on
            // ANY statement error (25P02 on every later statement, and
            // commit() would roll back the group's accepted updates);
            // rollback-to-savepoint keeps the batch transaction usable.
            val sp = conn.setSavepoint()
            try { ins.executeUpdate(); conn.releaseSavepoint(sp); accepted += 1 }
            catch {
              // pk hit: the row exists NOW. Under a single writer that
              // means the stored row is newer-or-equal (our own UPDATE
              // just missed it) ⇒ reject — but under a SECOND CONCURRENT
              // writer the row may have been inserted in the window
              // between our missed UPDATE and this INSERT, and may be
              // LWW-OLDER than ours; treating the pk hit as a reject
              // would permanently lose the newer row. The reference's
              // `INSERT .. ON CONFLICT DO UPDATE WHERE newer` is atomic
              // and immune; this update-then-insert decomposition closes
              // the window the classic way — retry the CONDITIONAL
              // update against the now-present row (itself atomic at row
              // level): > 0 ⇒ we were newer after all; 0 ⇒ genuine LWW
              // reject. One retry suffices: the row can never become
              // absent again mid-batch (no concurrent hard deletes
              // inside an upsert batch — delete is a separate phase).
              case e: SQLException if e.getSQLState == DuplicateKeySqlState =>
                conn.rollback(sp)
                var i = 1
                nonPk.foreach { c => up.setObject(i, r.getAs[Any](c)); i += 1 }
                t.pk.foreach { c => up.setObject(i, r.getAs[Any](c)); i += 1 }
                val ts = r.getAs[Any](t.tsCol)
                up.setObject(i, ts); up.setObject(i + 1, ts)
                up.setObject(i + 2, r.getAs[Any](t.tieCol))
                // The retry UPDATE is savepoint-guarded like the INSERT
                // probe (advice r17): a transient row-level failure (lock
                // timeout / deadlock against the very concurrent writer
                // this path exists for) must not poison the transaction
                // and discard the group's accepted-but-uncommitted work.
                // Bounded re-attempts; only exhaustion escalates to the
                // driver-level full-batch retry. The UPDATE matching 0
                // after a re-attempt is still a genuine LWW reject: the
                // row cannot become absent mid-batch (hard delete is a
                // separate phase).
                var attempt = 0
                var done = false
                while (!done) {
                  val sp2 = conn.setSavepoint()
                  try {
                    val n = up.executeUpdate()
                    conn.releaseSavepoint(sp2)
                    if (n > 0) accepted += 1 else rejected += 1
                    done = true
                  } catch {
                    case e2: SQLException
                        if attempt < RetryUpdateAttempts - 1 =>
                      conn.rollback(sp2)
                      attempt += 1
                      Thread.sleep(25L << attempt)
                    case e2: SQLException =>
                      // keep the tx usable for the caller's cleanup path,
                      // then escalate: driver-level retry replays the batch
                      conn.rollback(sp2)
                      throw e2
                  }
                }
            }
          }
        }
        conn.commit()
      }
      (accepted, rejected)
    } finally { up.close(); ins.close() }
  }

  /** Hard-delete tombstone keys (S11), batched. Returns rows deleted. */
  def deletePartition(conn: Connection, t: Target, keys: Iterator[Row]): Long = {
    conn.setAutoCommit(false)
    val del = conn.prepareStatement(deleteSql(t))
    try {
      var n = 0L
      keys.grouped(t.batchSize).foreach { group =>
        group.foreach { r =>
          t.pk.zipWithIndex.foreach { case (c, i) => del.setObject(i + 1, r.getAs[Any](c)) }
          del.addBatch()
        }
        n += del.executeBatch().map(math.max(0, _).toLong).sum
        conn.commit()
      }
      n
    } finally del.close()
  }

  /** Table-wide TRUNCATE at an LWW watermark against a live JDBC target
    * (reference `change_event.py:14,115-117` — a TRUNCATE carries no
    * before/after image and clears the table at its stream position): one
    * DELETE of every row that loses the (ts, tie) ordering; strictly
    * newer rows survive, re-running is a no-op (replay-idempotent, same
    * contract as [[ParquetStateStore.truncate]]). Null (ts, tie) carries
    * no ordering info and is cleared, matching the parquet store.
    * Returns rows deleted.
    */
  def truncateTable(conn: Connection, t: Target, tsUs: Long, tieId: Long): Long = {
    val st = conn.prepareStatement(
      s"DELETE FROM ${t.table} WHERE ${q(t.tsCol)} IS NULL OR ${q(t.tsCol)} < ?" +
        s" OR (${q(t.tsCol)} = ? AND (${q(t.tieCol)} IS NULL OR ${q(t.tieCol)} <= ?))")
    try {
      st.setLong(1, tsUs); st.setLong(2, tsUs); st.setLong(3, tieId)
      st.executeUpdate().toLong
    } finally st.close()
  }

  /** TTL purge against a live JDBC target (S15 — the expiry trigger of
    * `init-db.sql:198-213` run as a periodic job). Returns rows deleted.
    */
  def purgeExpired(conn: Connection, table: String, expiryCol: String, nowUs: Long): Long = {
    val st = conn.prepareStatement(
      s"DELETE FROM $table WHERE ${q(expiryCol)} IS NOT NULL AND ${q(expiryCol)} < ?")
    try { st.setLong(1, nowUs); st.executeUpdate().toLong } finally st.close()
  }

  /** The foreachBatch body: per-partition connections on the executors,
    * driver-side retry + breaker around the whole batch write.
    *
    * CONTRACT: the batch must be per-key COMPACTED (one row per key —
    * what the pipeline's LWW compaction stage emits). Partitions of one
    * job write concurrently, so duplicate keys ACROSS partitions make
    * the job race itself: same-key writes serialize correctly (the
    * conditional update is row-atomic), but overlapping multi-key lock
    * sets in opposite orders can deadlock — recoverable (the DB kills
    * one victim, the built-in retry replays the idempotent batch) but
    * wasteful. Key-disjoint partitions cannot cycle. Two CONCURRENT
    * writeBatch callers (dual writers) converge to the LWW fold of
    * their merged logs whatever the interleaving — spec-pinned in
    * JdbcSinkSpec, resting on the update-retry-on-duplicate-key window
    * closure in [[upsertPartition]].
    */
  def writeBatch(df: DataFrame, t: Target,
      policy: Retry.Policy = Retry.Policy(),
      breaker: CircuitBreaker = new CircuitBreaker(),
      sleep: Long => Unit = Thread.sleep): Unit =
    breaker.call {
      Retry.withRetry(policy, sleep) {
        df.foreachPartition { (rows: Iterator[Row]) =>
          if (rows.hasNext) {
            val conn = connect(t.url)
            try { upsertPartition(conn, t, rows); () } finally conn.close()
          }
        }
      }
    }
}
