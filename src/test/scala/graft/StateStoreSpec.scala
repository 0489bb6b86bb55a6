package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sink.ParquetStateStore
import graft.streaming.ReplicationJob

/** The parquet LWW state store: swap-crash recovery, the stored read
  * schema, the directory forms it accepts, and the earlier key-bucketed
  * layout it refuses.
  */
class StateStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def df(rows: (Long, Long, Long, String)*) =
    rows.toSeq.toDF("user_id", "ts_us", "event_id", "payload")

  test("plain store recovers state from the .old backup after a swap crash") {
    val dir = tmpDir("swapcrash") + "/state"
    val s = new ParquetStateStore(spark, dir, "user_id", "ts_us", "event_id")
    s.upsert(df((1L, 100L, 1L, "a"), (2L, 200L, 2L, "b")))
    // simulate a death between move(path -> old) and move(tmp -> path)
    Files.move(Paths.get(dir), Paths.get(dir + ".old"))
    assert(!Files.exists(Paths.get(dir)))
    // the next store touching the dir must restore the backup, not treat
    // the store as fresh (which would lose all prior keys on upsert)
    val s2 = new ParquetStateStore(spark, dir, "user_id", "ts_us", "event_id")
    assert(s2.exists, "backup must be restored")
    s2.upsert(df((3L, 300L, 3L, "c"))) // the replayed/next batch
    val state = s2.read().select("user_id").as[Long].collect().toSet
    assert(state == Set(1L, 2L, 3L), s"pre-crash keys must survive: $state")
  }

  test("plain store read() launches no job and matches the footer schema after every rewrite") {
    val dir = tmpDir("schemafile") + "/state"
    val s = new ParquetStateStore(spark, dir, "user_id", "ts_us", "event_id")
    def check(step: String): Unit = {
      val m = Harness.measure(spark)(s.read())
      assert(m.jobs == 0, s"$step: read() launched ${m.jobs} job(s)")
      val footer = spark.read.parquet(dir)
      assert(m.value.schema == footer.schema, step)
      assert(m.value.collect().toSet == footer.collect().toSet, step)
    }
    s.upsert(df((1L, 100L, 1L, "a"), (2L, 200L, 2L, "b"), (3L, 300L, 3L, "c"),
      (4L, 400L, 4L, "d")))
    check("upsert")
    // an additive column: null on the stored rows
    s.upsert(Seq((5L, 500L, 5L, "e", Some(450L)), (1L, 150L, 6L, "a2", None))
      .toDF("user_id", "ts_us", "event_id", "payload", "expiry_us"))
    assert(s.read().columns.last == "expiry_us")
    check("additive column")
    assert(s.truncate(120L, 0L) == 0L)
    assert(s.truncate(160L, 0L) == 1L)
    check("truncate")
    assert(s.purgeExpired("expiry_us", 460L) == 1L)
    check("purgeExpired")
    assert(s.deleteKeys(Seq(3L)) == 1L)
    check("deleteKeys")
    assert(s.read().select("user_id").as[Long].collect().toSet == Set(2L, 4L))
    // a store written without the schema file is read through the footers
    Files.delete(Paths.get(dir, "_graft_schema"))
    assert(s.read().schema == spark.read.parquet(dir).schema)
    s.upsert(df((7L, 700L, 7L, "g")))
    check("upsert after a store without the schema file")
  }

  /** Two replication batches, the second updating a key and adding one. */
  private def twoBatches(cfg: ReplicationJob.Config): Unit = {
    def batch(rows: (Long, Long, Long, String)*) =
      rows.toSeq.toDF("event_id", "ts_us", "user_id", "event_type")
        .select(col("event_id"), (col("ts_us") * 1000).as("ts"), col("user_id"),
          col("event_type"), lit(1.0).as("value"), lit(null).cast("string").as("props"),
          col("ts_us"))
    ReplicationJob.processBatch(spark,
      batch((1L, 100L, 1L, "signup"), (2L, 200L, 2L, "view")), cfg, batchId = 0L)
    ReplicationJob.processBatch(spark,
      batch((3L, 300L, 1L, "click"), (4L, 400L, 3L, "signup")), cfg, batchId = 1L)
  }

  private def replCfg(target: String, base: String) = ReplicationJob.Config(
    sourceDir = base, targetDir = target, dlqDir = s"$base/dlq", checkpointDir = s"$base/ckpt")

  Seq("local", "persist").foreach { mode =>
    test(s"$mode mode: targetState reads through the store: no Spark job, same schema and rows as the footers") {
      withSQLConf("spark.graft.materialize" -> mode) {
        val base = tmpDir("tstate")
        val cfg = replCfg(s"$base/target", base)
        twoBatches(cfg)
        val m = Harness.measure(spark)(ReplicationJob.targetState(spark, cfg))
        assert(m.jobs == 0, s"targetState launched ${m.jobs} job(s)")
        val footer = spark.read.parquet(cfg.targetDir)
        assert(m.value.schema == footer.schema)
        assert(m.value.collect().toSet == footer.collect().toSet)
        assert(m.value.select("user_id", "_last_event_id").as[(Long, Long)].collect().toMap ==
          Map(1L -> 3L, 2L -> 2L, 3L -> 4L))
        assert(ReplicationJob.targetState(spark, cfg, includeDeleted = false).count() == 3L)
      }
    }
  }

  test("a file: URI target dir replicates like the plain path; another scheme is refused") {
    val base = tmpDir("fileuri")
    val plain = replCfg(s"$base/plain", s"$base/p")
    val uri = replCfg(s"file://$base/uri", s"$base/u")
    twoBatches(plain)
    twoBatches(uri)
    assert(Files.exists(Paths.get(s"$base/uri/_SUCCESS")), "the state lives at the URI's path")
    assert(!Files.exists(Paths.get("file:")), "no relative directory named file:")
    def rows(cfg: ReplicationJob.Config) =
      ReplicationJob.targetState(spark, cfg).collect().map(_.toSeq).toSet
    assert(rows(uri) == rows(plain))
    assert(ReplicationJob.targetState(spark, uri).schema ==
      ReplicationJob.targetState(spark, plain).schema)
    val e = intercept[IllegalArgumentException] {
      new ParquetStateStore(spark, "hdfs://nn:8020/state", "user_id", "ts_us", "event_id")
    }
    assert(e.getMessage.contains("hdfs") && e.getMessage.contains("jdbcTarget"), e.getMessage)
  }

  test("a directory in the earlier key-bucketed layout is refused and left byte-identical") {
    val dir = tmpDir("bucketed") + "/state"
    // the layout as that store wrote it: a _graft_buckets marker beside
    // _bucket=N partition directories, no root _SUCCESS
    df((1L, 100L, 1L, "a"), (2L, 200L, 2L, "b")).coalesce(1)
      .write.parquet(s"$dir/_bucket=0")
    Files.delete(Paths.get(dir, "_bucket=0", "_SUCCESS"))
    Files.writeString(Paths.get(dir, "_graft_buckets"), "4")
    def snapshot(): Map[String, Seq[Byte]] =
      Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_))
        .map((f: Path) => Paths.get(dir).relativize(f).toString ->
          Files.readAllBytes(f).toSeq).toMap
    val before = snapshot()
    val s = new ParquetStateStore(spark, dir, "user_id", "ts_us", "event_id")
    val calls = Seq[(String, () => Any)](
      "upsert" -> (() => s.upsert(df((3L, 300L, 3L, "c")))),
      "read" -> (() => s.read()),
      "truncate" -> (() => s.truncate(500L, 0L)))
    calls.foreach { case (name, call) =>
      val e = intercept[IllegalStateException](call())
      assert(e.getMessage.contains("key-bucketed layout"), s"$name: ${e.getMessage}")
    }
    assert(snapshot() == before, "the refused directory must be left as it was")
    assert(!Files.exists(Paths.get(dir + ".old")) && !Files.exists(Paths.get(dir + ".tmp")))
  }
}
