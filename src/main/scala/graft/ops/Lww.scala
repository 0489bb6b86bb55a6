package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Last-Write-Wins conflict resolution.
  *
  * Reference semantics (`/root/reference/src/connectors/transforms/
  * timestamp_conflict_resolver.py:40-186`, spec `specs/001-cass-cdc-pg/
  * data-model.md:616-649`): per primary key, the winning event is the one
  * with the greatest `timestamp_micros`; on an exact timestamp tie the
  * lexicographically greater `event_id` wins. The fold is therefore a
  * per-key max over the tuple `(timestamp, event_id)` — commutative,
  * associative, idempotent, so arrival order never matters (the invariant
  * behind the reference's `test_out_of_order_events.py`).
  *
  * Spark mapping: a single `max_by(struct(payload), struct(ts, tie))`
  * aggregation — one shuffle on the key, with map-side partial
  * aggregation (Spark plans partial_max_by before the exchange), so at
  * 100 TB each executor first compacts its own partitions and only
  * per-key winners cross the wire. It is a sort aggregation, not a hash
  * one: max_by's buffer holds a struct, which a hash aggregate's
  * buffer row, updated in place, cannot, so Spark plans a `SortAggregate` with
  * a `Sort` on each side of the exchange. Struct comparison in Spark is
  * lexicographic by field order, exactly the (ts, event_id) tie-break.
  */
object Lww {

  /** Keep, per `keys`, the row that wins by `ordering` (lexicographic on
    * the given columns, greatest wins). Output columns = keys ++ payload
    * (original non-key columns, original order).
    */
  def latestPerKey(df: DataFrame, keys: Seq[String], ordering: Seq[Column]): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val winner = max_by(struct(payload.map(col).toIndexedSeq: _*), struct(ordering.toIndexedSeq: _*))
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(winner.as("_w"))
      .select((keys.map(col) ++ payload.map(c => col(s"_w.$c").as(c))).toIndexedSeq: _*)
  }

  /** Skew-salted two-phase variant of [[latestPerKey]] for pathological
    * key skew (one device/user producing a large share of all events —
    * map-side combine already absorbs most skew, but a single key hot
    * enough to overflow its reducer still bottlenecks the final
    * exchange). Phase 1 aggregates on (keys, salt) — the hot key's rows
    * spread over `saltBuckets` reducers; phase 2 re-aggregates the ≤
    * `saltBuckets` survivors per key. Correct for ANY commutative
    * associative fold, which LWW's max-by-(ts, tie) is; both phases are
    * the same `max_by`, so the result is bit-identical to the unsalted
    * plan. Cost: a second (tiny) shuffle — use only when skew is known.
    */
  def latestPerKeySalted(df: DataFrame, keys: Seq[String], ordering: Seq[Column],
      saltBuckets: Int = 32): DataFrame = {
    val payload = df.columns.filterNot(keys.contains)
    val winner = max_by(struct(payload.map(col).toIndexedSeq: _*), struct(ordering.toIndexedSeq: _*))
    // Salt from ROW CONTENT (hash of the ordering tuple), not
    // spark_partition_id(): with key-sorted/pre-shuffled input the hot
    // key's rows share few partition ids, so a partition-id salt fails to
    // spread exactly when skew mitigation is needed; a content hash
    // spreads regardless of physical layout, and any row→salt assignment
    // is correct for the commutative max_by fold. (Even a degenerate salt
    // — all ordering values equal — is bounded: map-side partial max_by
    // emits at most one row per (key, salt) per partition, so no reducer
    // ever receives more than #partitions rows for a key.)
    val saltCol = "_graft_salt"
    require(!df.columns.contains(saltCol),
      s"input already has a '$saltCol' column — withColumn would clobber its values")
    val salted = df.withColumn(saltCol,
      pmod(hash(ordering.toIndexedSeq: _*), lit(saltBuckets)))
    val phase1 = salted.groupBy((keys.map(col) :+ col(saltCol)).toIndexedSeq: _*)
      .agg(winner.as("_w"))
      .select((keys.map(col) ++ payload.map(c => col(s"_w.$c").as(c))).toIndexedSeq: _*)
    latestPerKey(phase1, keys, ordering)
  }

  /** LWW accept/reject against existing target state: the incoming batch
    * (already compacted per key) joined to the current target; accepted iff
    * no existing row, or (ts, tie) strictly greater (reference
    * `timestamp_conflict_resolver.py:90-163`). Adds the reference's
    * `_conflict_resolution` annotation struct (`:188-222`).
    *
    * Broadcast-ability: the target side is usually the big one, so we keep
    * this as a plain shuffled left join on the key; Catalyst/AQE will
    * broadcast the batch side when it is small.
    */
  def resolveAgainstTarget(
      incoming: DataFrame, target: DataFrame, key: String,
      tsCol: String, tieCol: String): DataFrame = {
    // `_existing` sentinel, not `_existing_ts.isNotNull`: a target row
    // whose ts column is NULL is still an existing row — detecting the
    // match via the ts value would mislabel it had_conflict=false.
    val t = target.select(
      col(key),
      col(tsCol).as("_existing_ts"),
      col(tieCol).as("_existing_tie"),
      lit(true).as("_existing"))
    incoming.join(t, Seq(key), "left_outer")
      .withColumn("_had_conflict", coalesce(col("_existing"), lit(false)))
      // null-safe accept: an existing row with no LWW position loses to
      // any positioned incoming row; every other null comparison resolves
      // to reject (never a NULL was_accepted in the annotation struct)
      .withColumn("_accepted",
        !col("_had_conflict") ||
        coalesce(
          (col(tsCol) > col("_existing_ts")) ||
          (col(tsCol) === col("_existing_ts") && col(tieCol) > col("_existing_tie")),
          // a NULL verdict means a stored position COMPONENT was null:
          // position-less stored rows lose to positioned incoming ones on
          // BOTH components (ts and the equal-ts tie), mirroring the
          // parquet fold and the JDBC updateSql IS NULL arms
          (col("_existing_ts").isNull && col(tsCol).isNotNull) ||
            (col(tsCol) === col("_existing_ts") &&
              col("_existing_tie").isNull && col(tieCol).isNotNull),
          lit(false)))
      .withColumn("_conflict_resolution", struct(
        col("_accepted").as("was_accepted"),
        col("_had_conflict").as("had_conflict"),
        lit("last_write_wins").as("strategy"),
        (col(tsCol) - coalesce(col("_existing_ts"), col(tsCol))).as("timestamp_diff_micros")))
      .drop("_existing_ts", "_existing_tie", "_existing", "_had_conflict", "_accepted")
  }

  /** Materialized CDC state with soft-delete semantics: fold the event log
    * per key, flagging keys whose winning event is a delete
    * (`_cdc_deleted`, reference `docker/postgres/init-db.sql:146-195`
    * metadata columns; soft-delete default per
    * `tests/integration/test_kafka_to_postgres.py:222`).
    */
  def stateWithSoftDelete(
      events: DataFrame, key: String, tsCol: String, tieCol: String,
      isDelete: Column): DataFrame =
    latestPerKey(
      events.withColumn("_is_delete", isDelete),
      Seq(key), Seq(col(tsCol), col(tieCol)))
      .withColumnRenamed("_is_delete", "_cdc_deleted")
}
