package graft.warehouse

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed warehouse layout — the 100 TB shuffle eliminator for
  * fact⋈fact joins. A join between two fact tables (lineitem⋈orders,
  * events⋈targets, recon source⋈target) shuffles BOTH sides on the join
  * key every time it runs; at 100 TB that exchange (network + spill) IS
  * the query cost. Writing both tables bucketed by the join key pays
  * that shuffle ONCE at ingest: Spark records the hash-bucket layout in
  * the catalog, and every later sort-merge join (and groupBy on the
  * bucket key) reads co-located buckets with ZERO exchange —
  * `BucketedJoinSpec` asserts exactly that on the planned strings.
  *
  * Rules the spec pins down:
  *  - both sides must use the SAME bucket count (or a multiple, with
  *    `spark.sql.bucketing.coalesceBucketsInJoin.enabled`);
  *  - bucket metadata only exists through the catalog — a path-based
  *    `.save(dir)` silently drops `bucketBy` and the join shuffles
  *    again, so the writer here refuses anything but `saveAsTable`;
  *  - `sortBy` on the same key makes each bucket file pre-sorted, so
  *    the sort-merge join skips its per-task sort too.
  *
  * (This module is batch-warehouse only. The streaming LWW state store,
  * `sink.ParquetStateStore`, is one unbucketed table that each
  * micro-batch rewrites whole.)
  */
object Bucketing {

  /** Write `df` as a bucketed, per-bucket-sorted managed parquet table.
    * Overwrites the table if it exists.
    */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
      keys: Seq[String]): Unit = {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    require(keys.nonEmpty, "bucketing needs at least one key column")
    df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .saveAsTable(table)
  }

  /** Co-located equi-join of two tables bucketed on their join keys:
    * plain `join` — the plan property (no exchange under the join) comes
    * from the catalog layout, not from any hint.
    */
  def cocoJoin(spark: SparkSession, leftTable: String, rightTable: String,
      leftKey: String, rightKey: String): DataFrame = {
    val l = spark.table(leftTable)
    val r = spark.table(rightTable)
    l.join(r, l(leftKey) === r(rightKey))
  }
}
