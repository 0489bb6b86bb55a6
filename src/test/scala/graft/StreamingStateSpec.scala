package graft

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.sql.functions.{col, md5, udf}
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

import graft.streaming.{StreamingRangeJoin, StreamingState, TableMonitors}

/** The batch-partitioned state layout that the DLQ and every streaming
  * store write through [[StreamingState]], and its one writer.
  */
class StreamingStateSpec extends SparkSpecBase {
  import spark.implicits._

  /** Every regular file under `root`, by relative path, with the
    * SHA-256 of its bytes.
    */
  private def files(root: String): Map[String, String] = {
    val r = Paths.get(root)
    val s = Files.walk(r)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map(p =>
      r.relativize(p).toString -> java.util.HexFormat.of().formatHex(
        MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p)))).toMap
    finally s.close()
  }

  private def names(dir: String): Set[String] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator.asScala.map(_.getFileName.toString).toSet finally s.close()
  }

  test("writeBatch: a replay replaces only its own batch, the other " +
    "batches' files stay byte-identical, an empty frame leaves a " +
    "schema-only batch, and _batch_id reads back as int") {
    val dir = tmpDir("state-layout")
    StreamingState.writeBatch(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), dir, 3L)
    StreamingState.writeBatch(Seq((3L, "c")).toDF("k", "v"), dir, 4L)
    StreamingState.writeBatch(Seq.empty[(Long, String)].toDF("k", "v"), dir, 5L)
    val before = files(dir)
    StreamingState.writeBatch(Seq((9L, "z")).toDF("k", "v"), dir, 3L)
    val after = files(dir)
    def others(fs: Map[String, String]) =
      fs.filter { case (p, _) => !p.startsWith("_batch_id=3/") }
    assert(others(after) == others(before) && others(before).nonEmpty)
    assert(after.keySet.filter(_.startsWith("_batch_id=3/")) !=
      before.keySet.filter(_.startsWith("_batch_id=3/")),
      "the replay must rewrite batch 3's files")

    val read = spark.read.parquet(dir)
    assert(read.schema("_batch_id").dataType == IntegerType)
    assert(read.select("k", "v", "_batch_id").as[(Long, String, Int)]
      .collect().toSet == Set((9L, "z", 3), (3L, "c", 4)))

    // the layout: one directory per batch, each with its own _SUCCESS
    // and no root marker; the empty batch holds one schema-only part file
    assert(names(dir) == Set("_batch_id=3", "_batch_id=4", "_batch_id=5"))
    (3 to 5).foreach(b => assert(names(s"$dir/_batch_id=$b")("_SUCCESS")))
    val emptyParts = names(s"$dir/_batch_id=5").filter(_.startsWith("part-"))
    assert(emptyParts.size == 1 && emptyParts.head.endsWith(".parquet"))
    val empty = spark.read.parquet(StreamingState.batchDir(dir, 5L))
    assert(empty.schema.fieldNames.toSeq == Seq("k", "v") && empty.count() == 0L)
  }

  /** `k`, with a task that throws on a negative value: a write of it
    * fails inside the job, after the write has started (the repartition
    * keeps the optimizer from evaluating the UDF on the driver).
    */
  private def failing(ks: Long*) = {
    val boom = udf((k: Long) => if (k < 0) throw new IllegalStateException("boom") else k)
    ks.toDF("k").repartition(1).withColumn("k", boom(col("k")))
  }

  test("writeBatch: a failed first write leaves no batch behind: readers " +
    "see zero state and StreamingDedup's replay of batch 0 emits the document") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val dir = tmpDir("state-abort")
    intercept[SparkException](StreamingState.writeBatch(failing(1L, -1L), dir, 0L))
    assert(!names(dir).exists(_.startsWith("_batch_id=")))
    assert(!StreamingState.hasData(spark, dir))
    val zero = StreamingState.readBatches(spark, dir, schema)
    assert(zero.schema == schema && zero.count() == 0L)

    val stateDir = tmpDir("state-abort-dedup")
    intercept[SparkException](StreamingState.writeBatch(
      failing(-1L).withColumn("_h", md5(col("k").cast("string"))).select("_h"),
      stateDir, 0L))
    val dedup = new graft.llm.StreamingDedup(spark, stateDir, "id", "text")
    val doc = Seq((1L, "the same document")).toDF("id", "text")
    assert(dedup.filterNew(doc, 0L).count() == 1L, "the replay must emit it")
    assert(dedup.filterNew(doc, 1L).count() == 0L)
    assert(names(stateDir) == Set("_batch_id=0", "_batch_id=1"),
      "a replay clears what the failed attempt staged")
  }

  test("writeBatch: a failed replay keeps the batch's earlier rows") {
    val dir = tmpDir("state-replay-fail")
    StreamingState.writeBatch(Seq(1L, 2L).toDF("k"), dir, 0L)
    StreamingState.writeBatch(Seq(3L).toDF("k"), dir, 1L)
    val before = files(dir)
    intercept[SparkException](StreamingState.writeBatch(failing(5L, -1L), dir, 0L))
    assert(files(dir).filter(_._1.startsWith("_batch_id=")) == before)
    assert(spark.read.parquet(dir).select("k", "_batch_id").as[(Long, Int)]
      .collect().toSet == Set((1L, 0), (2L, 0), (3L, 1)))
  }

  test("readBatches: zero state is the typed empty frame, on a plain " +
    "path and on a file: URI alike") {
    val schema = StructType(Seq(StructField("k", LongType)))
    val dir = tmpDir("state-read")
    Seq(dir, s"file://$dir").foreach { d =>
      val zero = StreamingState.readBatches(spark, d, schema)
      assert(zero.schema == schema && zero.count() == 0L)
    }
    StreamingState.writeBatch(Seq(7L).toDF("k"), s"file://$dir", 0L)
    assert(StreamingState.readBatches(spark, dir, schema)
      .select("k", "_batch_id").as[(Long, Int)].collect().toSeq == Seq((7L, 0)))
  }

  test("StreamingRangeJoin.recordBatch freezes an empty first interval table") {
    val rj = new StreamingRangeJoin(spark, tmpDir("state-rj"),
      bucketWidth = 4L, keyCols = Seq("win_id"))
    val probe = Seq((1L, 5L)).toDF("t", "v")
    val none = Seq.empty[(Long, Long, Long)].toDF("win_id", "lo", "hi")
    rj.recordBatch(probe, "t", col("v"), none, "lo", "hi", 0L)
    assert(rj.merged().count() == 0L)
    rj.recordBatch(probe, "t", col("v"), none, "lo", "hi", 1L) // same table: fine
    val e = intercept[IllegalArgumentException](rj.recordBatch(probe, "t",
      col("v"), Seq((1L, 0L, 9L)).toDF("win_id", "lo", "hi"), "lo", "hi", 2L))
    assert(e.getMessage.contains("differs from the one frozen in state (rows 0 -> 1)"))
  }

  test("TableMonitors after only empty batches: both panels read empty, " +
    "and t-closeness still refuses zero state") {
    val base = tmpDir("state-mon")
    val tclose = new TableMonitors.TCloseness(spark, s"$base/tclose",
      Seq("status" -> col("status")), col("total"),
      lo = 0L, hi = 512L, buckets = 16, tX1e6Max = 2000000L)
    val drift = new TableMonitors.ValueDrift(spark, s"$base/drift",
      Seq("op" -> col("event_type")), col("total"),
      lo = 0L, hi = 512L, buckets = 16, driftX1e6Max = 200000L)
    intercept[IllegalArgumentException](tclose.panel())
    val none = Seq.empty[(String, String, Double)].toDF("status", "event_type", "total")
    Seq(tclose, drift).foreach { m =>
      m.recordBatch(none, 0L)
      m.recordBatch(none, 1L)
    }
    assert(tclose.panel().count() == 0L && tclose.alerts().count() == 0L)
    assert(drift.panel().count() == 0L && drift.alerts().count() == 0L)
  }

  test("the _batch_id layout is written only by StreamingState") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    val sources: Seq[Path] = {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val offenders = for {
      f <- sources if f.getFileName.toString != "StreamingState.scala"
      pat <- Seq("partitionBy(\"_batch_id\")", "lit(batchId)")
      if Files.readString(f).contains(pat)
    } yield s"$pat in $f"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(sources.exists(_.getFileName.toString == "StreamingState.scala"))
  }
}
