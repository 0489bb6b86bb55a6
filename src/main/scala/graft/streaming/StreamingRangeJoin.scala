package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StructField, StructType}

import graft.ops.RangeJoin

/** Incremental interval-join aggregation with BOTH sides streaming —
  * the streaming form of [[RangeJoin.bucketed]] + groupBy: a probe
  * stream (events) and an interval stream (campaign windows,
  * maintenance windows, validity ranges) each fold into state across
  * micro-batches, and the live panel equals the one-pass range-join
  * aggregate over the union of everything seen (spec-pinned over batch
  * decompositions of EITHER side).
  *
  * The construction is the register discipline of the sketch family
  * (HLL register MAX, CMS/quantile SUM) applied to a join: per-interval
  * COUNT/SUM decompose over an exact PER-CELL DIGEST of the probe
  * stream — `(t div tQuantum, n_events, sum_value)` grouped by the
  * probe timestamp's `tQuantum`-grained cell — because an interval's
  * aggregate is Σ over the cells it covers of the digest row. The
  * digest is the probe side's sufficient statistic: it is what lets a
  * late-arriving interval batch join against all probe history without
  * the raw stream ever being re-scanned.
  *
  * `tQuantum` is what makes the state REGISTER-SIZED BY CONSTRUCTION,
  * not by caller convention: the digest holds at most
  * (time span ÷ tQuantum) rows regardless of how fine the probe
  * timestamps are. A caller folding raw-µs events with day-grained
  * campaign windows declares `tQuantum = 86 400 000 000` and the
  * digest is one row per day — without it (the old exact-t digest) the
  * same caller accumulated state the size of the distinct-timestamp
  * domain ≈ probe history, unbounded growth that defeated the design.
  * Exactness is preserved by REQUIRING interval alignment instead of
  * re-filtering (the raw t is gone after quantization, so a misaligned
  * interval is unanswerable-exactly by construction): every recorded
  * interval must satisfy `lo ≡ 0` and `hi ≡ tQuantum−1 (mod tQuantum)`
  * — i.e. `[lo, hi]` is a union of whole cells — enforced in-path with
  * `raise_error` (never a silent approximation). `tQuantum = 1` (the
  * default) is the old exact-t behavior: every value is its own cell
  * and any interval is trivially aligned.
  *
  * Replay idempotence (the at-least-once foreachBatch contract): both
  * sides' state is the [[StreamingState]] batch layout — a replayed
  * batch overwrites only its own `_batch_id=` directory with identical
  * rows. Counts and sums are duplicate-SENSITIVE, so the per-batch
  * isolation is what makes replay safe (the CMS/quantile register
  * contract).
  *
  * Scale shape: per probe batch, one batch-sized partial agg into the
  * cell-grained digest; per interval batch, a map-only normalize+write.
  * The merged read pays one bucket-key equi-join (never a nested loop —
  * [[RangeJoin.bucketed]]'s contract) of digest × intervals — both
  * register-sized — into an intervals-sized partial agg. `bucketWidth`
  * is measured in CELLS (= tQuantum-sized units), matching the digest's
  * key domain.
  *
  * Integer-exact panel discipline: `t` and `valueCol` are cast to
  * BIGINT per row (the gates' cents/permille convention) and interval
  * key columns are REQUIRED integral and stored as BIGINT — the
  * zero-state panel types them LongType, and a non-integral key (e.g. a
  * string campaign id) would otherwise silently change the panel's
  * schema once the first interval batch landed. Key columns must also
  * avoid the panel's output names (`n_events`/`sum_value`), the state
  * names (`_t`/`_n`/`_sum`/`_batch_id`/`_lo`/`_hi`), and
  * [[RangeJoin]]'s `_rj_*` internals.
  */
final class StreamingRangeJoin(spark: SparkSession, stateDir: String,
    bucketWidth: Long, keyCols: Seq[String], tQuantum: Long = 1L) {
  require(keyCols.nonEmpty, "need at least one interval key column")
  require(tQuantum >= 1, s"tQuantum must be >= 1, got $tQuantum")
  private val reserved =
    Set("_t", "_n", "_sum", "_batch_id", "_lo", "_hi", "n_events", "sum_value")
  require(!keyCols.exists(reserved),
    "keyCols must avoid the state/output names " +
      reserved.toSeq.sorted.mkString("/"))
  require(!keyCols.exists(_.startsWith("_rj_")),
    "keyCols must avoid RangeJoin's _rj_* internal names")

  private val probeDir = stateDir + "/probe"
  private val intervalDir = stateDir + "/intervals"

  // floor-division cell index (the RangeJoin.bucketed idiom): exact
  // int64 arithmetic, rounds toward -inf so negative timestamps
  // quantize correctly
  private def cellExpr(c: String): String =
    s"(CAST($c AS BIGINT) - pmod(CAST($c AS BIGINT), ${tQuantum}L))" +
      s" div ${tQuantum}L"

  private def requireIntegralKeys(intervals: DataFrame): Unit =
    keyCols.foreach { k =>
      val f = intervals.schema.fields.find(_.name == k).getOrElse(
        throw new IllegalArgumentException(
          s"interval batch is missing key column '$k'"))
      require(Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(f.dataType),
        s"interval key '$k' must be an integral type (the panel's " +
          s"BIGINT zero-state contract), got ${f.dataType.simpleString}")
    }

  /** Record one probe micro-batch: fold it into the per-cell digest and
    * overwrite this batch's probe-state partition.
    */
  def recordProbeBatch(probe: DataFrame, tCol: String, valueCol: Column,
      batchId: Long): Unit =
    StreamingState.writeBatch(probe
      .select(expr(cellExpr(tCol)).as("_t"), valueCol.cast("long").as("_v"))
      .groupBy("_t")
      .agg(count(lit(1)).as("_n"), sum("_v").as("_sum")), probeDir, batchId)

  /** The normalized interval frame that lands in state: keys cast to
    * BIGINT (after the integral-type require) and bounds as CELL
    * indices, with the alignment guard riding the `_lo` expression so
    * column pruning can never drop it.
    */
  private def normalizedIntervals(intervals: DataFrame, loCol: String,
      hiCol: String): DataFrame = {
    requireIntegralKeys(intervals)
    val aligned =
      s"""CASE
         |  WHEN pmod(CAST($loCol AS BIGINT), ${tQuantum}L) != 0
         |    OR pmod(CAST($hiCol AS BIGINT), ${tQuantum}L) != ${tQuantum - 1}L
         |  THEN raise_error(concat('StreamingRangeJoin: interval [',
         |    CAST($loCol AS STRING), ', ', CAST($hiCol AS STRING),
         |    '] is not a whole-cell union at tQuantum=${tQuantum} ',
         |    '(need lo % q = 0 and hi % q = q-1) - the quantized digest ',
         |    'cannot answer it exactly'))
         |  ELSE ${cellExpr(loCol)}
         |END""".stripMargin.replace("\n", " ")
    intervals.select(keyCols.map(k => col(k).cast("long").as(k)) ++ Seq(
      expr(aligned).as("_lo"), expr(cellExpr(hiCol)).as("_hi")): _*)
  }

  /** Record one interval micro-batch: normalize the window bounds to
    * whole-cell BIGINT `_lo`/`_hi` cell indices and overwrite this
    * batch's interval-state partition. New intervals see all probe
    * history through the digest.
    */
  def recordIntervalBatch(intervals: DataFrame, loCol: String,
      hiCol: String, batchId: Long): Unit =
    StreamingState.writeBatch(normalizedIntervals(intervals, loCol, hiCol),
      intervalDir, batchId)

  /** Order-insensitive fingerprint of a normalized interval frame:
    * (row count, wrapping Σ xxhash64(key…, _lo, _hi)) — register-sized
    * inputs, one tiny action.
    */
  private def fingerprint(norm: DataFrame): (Long, BigDecimal) = {
    val r = norm.agg(count(lit(1)).as("_c"),
      coalesce(sum(xxhash64((keyCols.map(col) :+ col("_lo") :+
        col("_hi")): _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("_h")).collect().head
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** Record a probe batch against a FIXED interval table — the
    * single-side convenience: the interval table lands (idempotently)
    * in interval partition 0, the probe batch in its own partition.
    *
    * The interval geometry is FROZEN by contract, and the contract is
    * ENFORCED: if partition 0 already holds a different interval table
    * (a caller passing per-batch differing windows through this API —
    * they want [[recordIntervalBatch]]), the call raises instead of
    * silently re-joining all probe history against only the last
    * table. An identical table (the normal replay / steady-state case)
    * is accepted and rewritten idempotently.
    */
  def recordBatch(probe: DataFrame, tCol: String, valueCol: Column,
      intervals: DataFrame, loCol: String, hiCol: String,
      batchId: Long): Unit = {
    val norm = normalizedIntervals(intervals, loCol, hiCol)
    val p0 = StreamingState.batchDir(intervalDir, 0L)
    if (StreamingState.hasData(spark, p0)) {
      val stored = spark.read.parquet(p0)
        .select((keyCols.map(col) :+ col("_lo") :+ col("_hi")): _*)
      val (nNew, hNew) = fingerprint(norm)
      val (nOld, hOld) = fingerprint(stored)
      require(nNew == nOld && hNew == hOld,
        "recordBatch: the interval table differs from the one frozen in " +
          s"state (rows $nOld -> $nNew) - the single-side API joins ALL " +
          "probe history against ONE fixed geometry; per-batch interval " +
          "tables need recordIntervalBatch")
    } else StreamingState.writeBatch(norm, intervalDir, 0L)
    recordProbeBatch(probe, tCol, valueCol, batchId)
  }

  // sum-merge the per-batch digests so the join input has one row per
  // cell (keeps the bucket join's fan-out digest-sized)
  private def mergedDigest(): DataFrame =
    StreamingState.readBatches(spark, probeDir, StructType(
        Seq("_t", "_n", "_sum").map(StructField(_, LongType))))
      .groupBy("_t").agg(sum("_n").as("_n"), sum("_sum").as("_sum"))

  /** The live panel: per-interval (n_events, sum_value) over every
    * recorded batch of both sides — identical to the one-pass
    * range-join aggregate over the unions (an interval matched by no
    * probe has no row, same as one-pass inner semantics). Before any
    * interval batch is recorded the panel's natural zero state is the
    * EMPTY table (keys typed BIGINT — now guaranteed by the integral
    * key require, not just documented), not an AnalysisException from
    * an absent state directory.
    */
  def merged(): DataFrame = {
    val iv = StreamingState.readBatches(spark, intervalDir, StructType(
        (keyCols :+ "_lo" :+ "_hi").map(StructField(_, LongType))))
      .select((keyCols :+ "_lo" :+ "_hi").map(col): _*)
    RangeJoin.bucketed(mergedDigest(), "_t", iv, "_lo", "_hi", bucketWidth)
      .groupBy(keyCols.map(col): _*)
      .agg(sum("_n").as("n_events"), sum("_sum").as("sum_value"))
      .select(keyCols.map(col) ++ Seq(col("n_events"), col("sum_value")): _*)
  }
}
