package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus shuffling: a content-keyed global permutation
  * (training-order randomization) and round-robin shard assignment —
  * the "shuffle the corpus once, reproducibly, then write N shard
  * files" step before training.
  *
  * Like the [[Sampling]] family, order comes from a CONTENT hash, never
  * `rand()`: the permutation is identical across runs, clusters, input
  * partitionings, and engines (the DuckDB oracle computes the same md5
  * arithmetic), and a re-run after failure reproduces the same shard
  * assignment — the property that makes shard writes idempotent.
  *
  * Scale shape: a global permutation index needs a total order, but
  * never a single-partition sort. The operator range-partitions on the
  * hash key (each task holds one contiguous hash interval), sorts within
  * partitions, then converts per-partition counts — P numbers, the only
  * driver-side data — into cumulative offsets so each task numbers its
  * own interval independently: `pos = offset(partition) + local index`.
  * Two linear passes, one range exchange, no bottleneck task. (This is
  * the standard distributed row-numbering construction; Spark's own
  * `zipWithIndex` does the same at the RDD level but would lose the
  * columnar plan.)
  */
object Shuffling {

  /** The engine's canonical 8-hex-md5 int64 key hash (the
    * [[Sampling.hashPermille]] idiom without the mod): uniform order key
    * in [0, 2³²).
    */
  def hash64(key: Column): Column =
    graft.llm.Dedup.tokenHash(key.cast("string"))

  /** `idCol` as int64, failing LOUDLY on any value the cast nulls out
    * (non-numeric string, overflow, NULL id). Without the guard such a
    * row's NULL key never matches the permutation join and the row
    * silently vanishes from every shard — the worst failure mode for
    * training data. `raise_error` keeps the check inside codegen: zero
    * extra passes, zero cost on the happy path.
    */
  private def idAsLong(idCol: String): Column =
    coalesce(col(idCol).cast("long"), raise_error(concat(
      lit(s"Shuffling: id column '$idCol' value '"),
      coalesce(col(idCol).cast("string"), lit("NULL")),
      lit("' is not long-castable; row would be dropped from every shard"))))

  /** Global permutation position (0-based, dense, deterministic) and
    * shard in [0, numShards) for every row: order by (hash64(id), id),
    * shard = pos mod numShards — round-robin over hash order, so shard
    * sizes are balanced to ±1 regardless of key skew. Output: (doc_id,
    * pos, shard).
    *
    * `partitions` bounds the range exchange (0 = the session's shuffle
    * parallelism); `idCol` must be long-castable and unique.
    */
  def deterministicShuffle(df: DataFrame, idCol: String, numShards: Int,
      partitions: Int = 0): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val spark = df.sparkSession
    import spark.implicits._
    val p =
      if (partitions > 0) partitions
      else spark.sessionState.conf.numShufflePartitions
    // materialized so the counts pass and the numbering pass see the SAME
    // partitioning (range boundaries are deterministic, but one exchange
    // is cheaper than two — and persist mode reads a lost block from its
    // replica)
    val keyed = graft.util.Materialize.stable(
      df.select(idAsLong(idCol).as("doc_id"), hash64(col(idCol)).as("_h"))
        .repartitionByRange(p, col("_h"), col("doc_id"))
        .sortWithinPartitions("_h", "doc_id")
        .withColumn("_pid", spark_partition_id()))
    // P rows of control data — the only collect
    val counts = keyed.groupBy("_pid").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = (0 until p)
      .scanLeft((0, 0L)) { case ((_, acc), pid) =>
        (pid + 1, acc + counts.getOrElse(pid, 0L))
      }
      .map { case (pid, off) => pid -> off }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    keyed.select(col("_pid"), col("doc_id")).as[(Int, Long)]
      .mapPartitions { it =>
        var i = 0L
        it.map { case (pid, id) =>
          val pos = bc.value(pid) + i
          i += 1L
          (id, pos)
        }
      }
      .toDF("doc_id", "pos")
      .withColumn("shard", pmod(col("pos"), lit(numShards.toLong)))
  }

  /** Per-shard integrity manifest — the verify-after-copy artifact a
    * shard transfer is checked against: for every shard of the
    * deterministic permutation, its row count and an order-independent
    * content checksum (Σ of the per-row [[graft.llm.Dedup.tokenHash]]
    * values — 32-bit hashes carried as int64, so the sum is int64-exact
    * up to ~2³¹ rows per shard; a true 64-bit row hash would need an
    * explicit wrapping sum to survive ANSI overflow). A receiver
    * recomputes the same
    * two numbers from what landed; any dropped, duplicated, or corrupted
    * row moves at least one of them. One id-keyed join onto the
    * permutation + a ≤ numShards-row aggregate.
    * Output: (shard, n_docs, content_sum, min_pos, max_pos).
    */
  def shardManifest(df: DataFrame, idCol: String, content: Column,
      numShards: Int): DataFrame = {
    val perm = deterministicShuffle(df, idCol, numShards)
    df.select(idAsLong(idCol).as("doc_id"),
        graft.llm.Dedup.tokenHash(content).as("_ch"))
      .join(perm, Seq("doc_id"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("_ch").as("content_sum"),
        min("pos").as("min_pos"), max("pos").as("max_pos"))
  }

  /** Materialize the shuffled corpus as `numShards` hive-partitioned
    * parquet shard directories (`shard=K/`), each carrying the full rows
    * plus their permutation `pos` — the "write N training shards" step.
    * Deterministic content-hash order makes the write IDEMPOTENT: a
    * re-run after failure produces byte-identical shard membership, so
    * `overwrite` semantics are safe. One extra id-keyed join attaches the
    * payload columns to the (id, pos, shard) permutation.
    */
  def writeShards(df: DataFrame, idCol: String, numShards: Int,
      outDir: String, partitions: Int = 0): Unit = {
    require(!df.columns.contains("pos") && !df.columns.contains("shard"),
      "writeShards adds 'pos'/'shard' columns — rename the input's first")
    val perm = deterministicShuffle(df, idCol, numShards, partitions)
      .withColumnRenamed("doc_id", idCol)
    df.withColumn(idCol, idAsLong(idCol))
      .join(perm, Seq(idCol))
      .repartition(col("shard"))
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(outDir)
  }
}
