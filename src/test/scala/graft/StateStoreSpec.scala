package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.sink.BucketedParquetStateStore

/** The hash-bucketed state store: LWW correctness under merge + replay,
  * and the scale invariant — a micro-batch rewrites only the buckets it
  * touches, so write volume tracks batch size, not state size.
  */
class StateStoreSpec extends SparkSpecBase {
  import spark.implicits._

  private def store(dir: String, buckets: Int = 16) =
    new BucketedParquetStateStore(spark, dir, "user_id", "ts_us", "event_id", buckets)

  private def df(rows: (Long, Long, Long, String)*) =
    rows.toSeq.toDF("user_id", "ts_us", "event_id", "payload")

  /** Data files per bucket partition dir: name → size (parquet part files
    * get fresh UUID names on rewrite, so an untouched bucket keeps an
    * identical map).
    */
  private def bucketFiles(dir: String): Map[String, Map[String, Long]] = {
    val p = Paths.get(dir)
    Files.list(p).iterator().asScala
      .filter(_.getFileName.toString.startsWith("_bucket="))
      .map { b: Path =>
        b.getFileName.toString ->
          Files.list(b).iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .map(f => f.getFileName.toString -> Files.size(f)).toMap
      }.toMap
  }

  test("bucketed upsert is an LWW merge; replay is idempotent") {
    val dir = tmpDir("bstate")
    val s = store(dir)
    s.upsert(df((1L, 100L, 1L, "a"), (2L, 200L, 2L, "b")))
    s.upsert(df((1L, 150L, 3L, "newer"), (2L, 50L, 4L, "older"), (3L, 300L, 5L, "new")))
    val state1 = s.read().as[(Long, Long, Long, String)].collect().toSet
    assert(state1 == Set(
      (1L, 150L, 3L, "newer"),   // newer ts accepted
      (2L, 200L, 2L, "b"),       // older ts rejected
      (3L, 300L, 5L, "new")))
    // replay the same batch — at-least-once convergence
    s.upsert(df((1L, 150L, 3L, "newer"), (2L, 50L, 4L, "older"), (3L, 300L, 5L, "new")))
    assert(s.read().as[(Long, Long, Long, String)].collect().toSet == state1)
  }

  test("a small batch rewrites only its own buckets, not the whole state") {
    val dir = tmpDir("bstate_incr")
    val s = store(dir, buckets = 16)
    // large initial state spread over all buckets
    val init = (1L to 2000L).map(i => (i, 100L, i, s"v$i"))
    s.upsert(df(init: _*))
    val before = bucketFiles(dir)
    assert(before.size == 16, "initial state should cover every bucket")

    // one-key batch → exactly one bucket's files may change
    s.upsert(df((42L, 500L, 9999L, "updated")))
    val after = bucketFiles(dir)
    val changed = after.keySet.filter(b => before.get(b) != after.get(b))
    assert(changed.size == 1, s"expected 1 rewritten bucket, got ${changed.size}: $changed")

    // and state is still correct
    val row = s.read().filter(col("user_id") === 42L)
      .as[(Long, Long, Long, String)].collect().toSeq
    assert(row == Seq((42L, 500L, 9999L, "updated")))
    assert(s.read().count() == 2000L)
  }

  test("truncate rewrites only buckets holding losing rows") {
    val dir = tmpDir("bstate_trunc")
    val s = store(dir, buckets = 16)
    // every key newer than the watermark except key 42 (ts 100)
    val init = (1L to 2000L).map(i => (i, if (i == 42L) 100L else 900L, i, s"v$i"))
    s.upsert(df(init: _*))
    val before = bucketFiles(dir)
    assert(before.size == 16)

    // watermark (500, 0): only key 42 loses → only its bucket is rewritten
    assert(s.truncate(500L, 0L) == 1L)
    val after = bucketFiles(dir)
    val changed = after.keySet.filter(b => before.get(b) != after.get(b))
    assert(changed.size == 1,
      s"truncate write volume must track losing rows, not state size: $changed")
    assert(s.read().count() == 1999L)
    assert(s.read().filter(col("user_id") === 42L).isEmpty)

    // idempotent: re-applying the same watermark touches nothing
    assert(s.truncate(500L, 0L) == 0L)
    assert(bucketFiles(dir) == after, "no-op truncate must not rewrite any file")
  }

  test("plain store recovers state from the .old backup after a swap crash") {
    import graft.sink.ParquetStateStore
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

  test("bucketed store refuses a numBuckets change over existing state") {
    val dir = tmpDir("bstate_guard")
    store(dir, buckets = 16).upsert(df((1L, 100L, 1L, "a")))
    val e = intercept[IllegalStateException] {
      store(dir, buckets = 8).upsert(df((2L, 200L, 2L, "b")))
    }
    assert(e.getMessage.contains("numBuckets=16"))
    // same count keeps working; an emptied store may adopt a new count
    store(dir, buckets = 16).upsert(df((2L, 200L, 2L, "b")))
    assert(store(dir, buckets = 16).read().count() == 2L)
    assert(store(dir, buckets = 16).truncate(900L, 99L) == 2L)
    store(dir, buckets = 8).upsert(df((5L, 1000L, 5L, "e"))) // rebucket when empty
    assert(store(dir, buckets = 8).read().count() == 1L)
  }

  test("online rebucket 4→16: state preserved bit-exactly, continued " +
    "LWW upserts route correctly, the stale handle refuses loudly, and " +
    "a non-multiple target is rejected") {
    val dir = tmpDir("bstate_grow")
    val s4 = store(dir, buckets = 4)
    val init = (1L to 500L).map(i => (i, 100L, i, s"v$i"))
    s4.upsert(df(init: _*))
    s4.upsert(df((42L, 500L, 9001L, "pre-grow"))) // LWW overlap pre-grow
    val before = s4.read().as[(Long, Long, Long, String)].collect().toSet

    val s16 = s4.rebucketTo(16)
    assert(bucketFiles(dir).size == 16, "state must cover 16 buckets")
    assert(Files.readString(Paths.get(dir, "_graft_buckets")).trim == "16")
    assert(s16.read().as[(Long, Long, Long, String)].collect().toSet
      == before, "rebucket must preserve LWW state bit-exactly")

    // continued upserts find the existing key in its NEW bucket — an
    // off-by-routing would mint a duplicate row for key 42
    s16.upsert(df((42L, 900L, 9002L, "post-grow")))
    assert(s16.read().filter(col("user_id") === 42L)
      .as[(Long, Long, Long, String)].collect().toSeq
      == Seq((42L, 900L, 9002L, "post-grow")))
    assert(s16.read().count() == 500L, "no key may duplicate across buckets")

    // the pre-grow handle's count is stale: refuses, never corrupts
    val e = intercept[IllegalStateException] {
      s4.upsert(df((7L, 999L, 9003L, "stale")))
    }
    assert(e.getMessage.contains("numBuckets=16"))
    // shrink / non-multiple growth are rejected up front
    intercept[IllegalArgumentException] { s16.rebucketTo(8) }
    intercept[IllegalArgumentException] { s16.rebucketTo(24) }
  }

  test("rebucket crash between the two moves rolls back to the intact " +
    "backup; stray tmp debris is cleaned") {
    val dir = tmpDir("bstate_growcrash") + "/state"
    val s4 = store(dir, buckets = 4)
    s4.upsert(df((1L, 100L, 1L, "a"), (2L, 200L, 2L, "b")))
    val before = s4.read().as[(Long, Long, Long, String)].collect().toSet
    // simulate a death between move(dir → old) and move(tmp → dir):
    // the backup holds the whole pre-rebucket state, tmp is half-written
    Files.move(Paths.get(dir), Paths.get(dir + ".rebucket.old"))
    Files.createDirectories(Paths.get(dir + ".rebucket.tmp"))
    Files.writeString(Paths.get(dir + ".rebucket.tmp", "partial"), "x")
    val s = store(dir, buckets = 4)
    assert(s.exists, "backup must be restored")
    assert(!Files.exists(Paths.get(dir + ".rebucket.tmp")),
      "tmp debris must be cleaned")
    assert(s.read().as[(Long, Long, Long, String)].collect().toSet == before)
    // and the re-run rebucket completes normally
    assert(s.rebucketTo(8).read()
      .as[(Long, Long, Long, String)].collect().toSet == before)
  }

  test("incremental rebucket 4→16 lands on the one-shot result: state " +
    "bit-exact, 16 bucket dirs, cursor file gone, continued LWW routes " +
    "correctly") {
    val dirInc = tmpDir("bstate_inc_grow")
    val dirOne = tmpDir("bstate_one_grow")
    val init = (1L to 500L).map(i => (i, 100L, i, s"v$i"))
    val sI = store(dirInc, buckets = 4); sI.upsert(df(init: _*))
    val sO = store(dirOne, buckets = 4); sO.upsert(df(init: _*))
    val before = sI.read().as[(Long, Long, Long, String)].collect().toSet

    val s16 = sI.rebucketToIncremental(16)
    val oneShot = sO.rebucketTo(16)
    assert(s16.read().as[(Long, Long, Long, String)].collect().toSet == before)
    assert(bucketFiles(dirInc).keySet == bucketFiles(dirOne).keySet,
      "per-old-bucket splitting must mint exactly the one-shot layout")
    assert(oneShot.read().as[(Long, Long, Long, String)].collect().toSet == before)
    assert(!Files.exists(Paths.get(dirInc, "_graft_rebucket")),
      "the cursor file must not outlive the migration")
    assert(Files.readString(Paths.get(dirInc, "_graft_buckets")).trim == "16")
    // continued upserts find keys in their NEW buckets
    s16.upsert(df((42L, 900L, 9002L, "post-grow")))
    assert(s16.read().count() == 500L, "no key may duplicate across buckets")
    // shrink / non-multiple still rejected up front
    intercept[IllegalArgumentException] { s16.rebucketToIncremental(8) }
    intercept[IllegalArgumentException] { s16.rebucketToIncremental(24) }
  }

  test("incremental rebucket crash MID-BUCKET: pruned access refuses " +
    "loudly, reads stay consistent via the bucket-scoped rollback, and " +
    "resumeRebucket drives the migration home (verdict r15 #6)") {
    val dir = tmpDir("bstate_inc_crash") + "/state"
    val s4 = store(dir, buckets = 4)
    val init = (1L to 400L).map(i => (i, 100L, i, s"v$i"))
    s4.upsert(df(init: _*))
    val before = s4.read().as[(Long, Long, Long, String)].collect().toSet

    // simulate a death inside migrateBucket(0) AFTER move(bucket → .old)
    // with the split half-moved in: the intact snapshot sits in
    // .rebucket.b0.old, a partial new dir _bucket=4 (4 ≡ 0 mod 4) and
    // tmp debris are live, and the cursor file says bucket 0 in flight
    Files.writeString(Paths.get(dir, "_graft_rebucket"), "16 4 0")
    Files.move(Paths.get(dir, "_bucket=0"), Paths.get(dir + ".rebucket.b0.old"))
    Files.createDirectories(Paths.get(dir, "_bucket=4"))
    Files.writeString(Paths.get(dir, "_bucket=4", "part-junk.parquet"), "x")
    Files.createDirectories(Paths.get(dir + ".rebucket.b0.tmp"))
    Files.writeString(Paths.get(dir + ".rebucket.b0.tmp", "partial"), "x")

    // bucket-PRUNED access under either count would miss rows: refuse
    val s = store(dir, buckets = 4)
    val e = intercept[IllegalStateException] {
      s.upsert(df((7L, 999L, 9003L, "mid-flight")))
    }
    assert(e.getMessage.contains("resumeRebucket"),
      s"the refusal must name the escape hatch, got: ${e.getMessage}")

    // full-table read heals the in-flight bucket by file moves alone
    assert(s.read().as[(Long, Long, Long, String)].collect().toSet == before,
      "rollback must restore the intact pre-split bucket")
    assert(!Files.exists(Paths.get(dir, "_bucket=4")),
      "partial new content must not survive the rollback")
    assert(!Files.exists(Paths.get(dir + ".rebucket.b0.tmp")),
      "tmp debris must be cleaned")

    // and the migration completes from the persisted cursor
    val s16 = s.resumeRebucket()
    assert(s16.read().as[(Long, Long, Long, String)].collect().toSet == before)
    assert(!Files.exists(Paths.get(dir, "_graft_rebucket")))
    assert(Files.readString(Paths.get(dir, "_graft_buckets")).trim == "16")
    s16.upsert(df((42L, 900L, 9002L, "post-resume")))
    assert(s16.read().count() == 400L, "no key may duplicate across buckets")
  }

  test("incremental rebucket crash MID-DELETE (post-commit): recovery " +
    "keeps the complete migrated bucket, finishes deleting the partial " +
    ".deleting debris, and no row is lost (advice r16 high)") {
    val dir = tmpDir("bstate_inc_crash_del") + "/state"
    val s4 = store(dir, buckets = 4)
    val init = (1L to 400L).map(i => (i, 100L, i, s"v$i"))
    s4.upsert(df(init: _*))
    val before = s4.read().as[(Long, Long, Long, String)].collect().toSet

    // Build the exact post-commit crash state of migrateBucket(0): the
    // split of bucket 0 is complete and moved in, the backup was
    // atomically renamed .old → .deleting (the commit point), and the
    // JVM died MID-recursive-delete of the .deleting dir — leaving it
    // PARTIAL — before the cursor bumped to 1. Pre-fix, this residue
    // carried the .old name: recovery destroyed the complete migrated
    // dirs and restored the partial snapshot → permanent row loss.
    val b0 = Paths.get(dir, "_bucket=0")
    val tmpB = Paths.get(dir + ".rebucket.b0.tmp")
    spark.read.parquet(b0.toString)
      .withColumn("_bucket", pmod(hash(col("user_id")), lit(16)))
      .write.partitionBy("_bucket").parquet(tmpB.toString)
    val delB = Paths.get(dir + ".rebucket.b0.deleting")
    Files.move(b0, delB)
    Files.list(tmpB).iterator().asScala.toList
      .filter(_.getFileName.toString.startsWith("_bucket="))
      .foreach(p => Files.move(p, Paths.get(dir, p.getFileName.toString)))
    // make the .deleting snapshot PARTIAL: drop one data file
    val victim = Files.list(delB).iterator().asScala.toList
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.delete(victim)
    Files.writeString(Paths.get(dir, "_graft_rebucket"), "16 4 0")

    // recovery must classify .deleting as committed debris: finish the
    // delete, keep every migrated dir, lose nothing
    val s = store(dir, buckets = 4)
    assert(s.read().as[(Long, Long, Long, String)].collect().toSet == before,
      "post-commit recovery must keep the COMPLETE migrated bucket")
    assert(!Files.exists(delB), ".deleting debris must be finished off")

    // and the migration completes from the persisted cursor (bucket 0
    // re-runs idempotently: its residue class already routes by mod 16)
    val s16 = s.resumeRebucket()
    assert(s16.read().as[(Long, Long, Long, String)].collect().toSet == before)
    assert(!Files.exists(Paths.get(dir, "_graft_rebucket")))
    assert(Files.readString(Paths.get(dir, "_graft_buckets")).trim == "16")
    s16.upsert(df((42L, 900L, 9002L, "post-resume")))
    assert(s16.read().count() == 400L, "no key may duplicate across buckets")
  }

  test("ReplicationJob streams into the bucketed store when configured") {
    import graft.streaming.ReplicationJob
    val srcDir = tmpDir("bsrc")
    Files.copy(Paths.get(s"$sfDir/events.parquet"), Paths.get(s"$srcDir/events.parquet"))
    val base = tmpDir("brepl")
    val cfg = ReplicationJob.Config(
      sourceDir = srcDir, targetDir = s"$base/target",
      dlqDir = s"$base/dlq", checkpointDir = s"$base/ckpt",
      stateBuckets = Some(8))
    ReplicationJob.start(spark, cfg).awaitTermination(120000)
    val target = ReplicationJob.targetState(spark, cfg)
    assert(target.count() > 0)
    assert(!target.columns.contains("_bucket"))
    // per-key LWW invariant: one row per user_id
    assert(target.groupBy("user_id").count().filter(col("count") > 1).isEmpty)
  }

  test("plain store read() launches no job and matches the footer schema after every rewrite") {
    import graft.sink.ParquetStateStore
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
}
