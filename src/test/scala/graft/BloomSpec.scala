package graft

import org.apache.spark.sql.functions._

import graft.sketch.Bloom

/** Bloom filter: word-for-word agreement with a sequential reference,
  * the no-false-negative guarantee, and the BIT_OR merge property
  * (shards OR into exactly the one-pass filter — the HLL-register
  * discipline).
  */
class BloomSpec extends SparkSpecBase {
  import spark.implicits._

  private val M = 1024
  private val K = 3

  /** Sequential twin of [[Bloom.position]]. */
  private def refPos(key: String, i: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$key:$i".getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % M
  }

  private def refWords(keys: Seq[String]): Array[Long] = {
    val dense = new Array[Long](M / 64)
    for (key <- keys.distinct; i <- 0 until K) {
      val p = refPos(key, i)
      dense((p / 64).toInt) |= 1L << (p % 64)
    }
    dense
  }

  private val keys = (1 to 80).map(i => s"k$i")

  test("buildWords + collectWords match the sequential filter word-for-word") {
    val words = Bloom.collectWords(
      Bloom.buildWords(keys.toDF("key"), col("key"), M, K), M)
    assert(words.toSeq === refWords(keys).toSeq)
  }

  test("no false negatives: every member passes mightContain") {
    val words = refWords(keys)
    val hits = keys.toDF("key")
      .filter(Bloom.mightContain(words, M, K, col("key")))
      .count()
    assert(hits === keys.size.toLong)
  }

  test("probe agrees with the sequential bit test on non-members too") {
    val words = refWords(keys)
    val probes = (1 to 400).map(i => s"p$i") // disjoint from keys
    val got = probes.toDF("key")
      .withColumn("hit", Bloom.mightContain(words, M, K, col("key")))
      .as[(String, Boolean)].collect().toMap
    val want = probes.map { p =>
      p -> (0 until K).forall { i =>
        val pos = refPos(p, i)
        (words((pos / 64).toInt) & (1L << (pos % 64))) != 0
      }
    }.toMap
    assert(got === want)
    // the FP rate should be small at this fill (80*3 bits in 1024)
    val fps = want.values.count(identity)
    assert(fps < probes.size / 10, s"implausible FP count $fps")
  }

  test("merge property: shard-built word tables BIT_OR into the one-pass filter") {
    val (a, b) = keys.splitAt(keys.size / 2)
    val merged = Bloom.mergeWords(
      Bloom.buildWords(a.toDF("key"), col("key"), M, K),
      Bloom.buildWords(b.toDF("key"), col("key"), M, K))
    assert(Bloom.collectWords(merged, M).toSeq ===
      Bloom.collectWords(
        Bloom.buildWords(keys.toDF("key"), col("key"), M, K), M).toSeq)
  }

  test("streaming maintenance: batches land on the one-pass filter, replays are no-ops") {
    val dir = java.nio.file.Files.createTempDirectory("bloom_stream").toString
    val sb = new graft.sketch.StreamingBloom(spark, dir, M, K)
    val batches = keys.grouped(30).toSeq
    batches.zipWithIndex.foreach { case (b, i) =>
      sb.recordBatch(b.toDF("key"), col("key"), i.toLong)
    }
    val want = refWords(keys).toSeq
    assert(sb.collect().toSeq === want)
    // at-least-once replay: re-delivering batch 1 rewrites its own
    // partition with identical words — the merged filter is unchanged
    sb.recordBatch(batches(1).toDF("key"), col("key"), 1L)
    assert(sb.collect().toSeq === want)
  }

  test("streaming zero state: no batch yet collects all-zero words") {
    val sb = new graft.sketch.StreamingBloom(spark, tmpDir("bloom_zero"), M, K)
    assert(sb.collect().toSeq === Seq.fill(M / 64)(0L))
  }

  test("probe plan is pure codegen: no UDF, zero shuffle on the corpus side") {
    val words = refWords(keys)
    val df = keys.toDF("key").repartition(2)
      .filter(Bloom.mightContain(words, M, K, col("key")))
    df.collect()
    // AQE prints Final + Initial plans; audit the final one only
    val p = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(!p.contains("ScalaUDF") && !p.toLowerCase.contains("batchevalpython"))
    // one exchange from the repartition itself, none added by the probe
    assert("Exchange".r.findAllIn(p).size <= 1, p.take(1500))
  }
}
