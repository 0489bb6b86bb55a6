package graft

import org.apache.spark.sql.functions._

import graft.streaming.ReplicationJob

/** The cluster materialization mode (`spark.graft.materialize=persist`)
  * must produce identical results to the local[n] default AND leave no
  * cached block behind once its frames are unreachable — a leak here only
  * ever surfaces as an executor OOM on a real cluster, days in.
  */
class MaterializeModeSpec extends SparkSpecBase {
  import spark.implicits._

  private def inMode[A](mode: String)(f: => A): A = {
    val key = "spark.graft.materialize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, mode)
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("persist mode: multi-branch dedup pipelines match the local default") {
    val docs = Tables.documents(spark, sfDir)
    def run() = {
      val jac = graft.llm.Dedup.jaccardPairs(docs, "doc_id", "text", 3, 7, 10, 50)
        .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
      val cc = graft.llm.Dedup.connectedComponents(
        graft.llm.Dedup.lshCandidatePairs(docs, "doc_id", "text"), "doc_a", "doc_b")
        .as[(Long, Long)].collect().toMap
      (jac, cc)
    }
    val local = run()
    val persisted = inMode("persist") { run() }
    assert(persisted == local, "persist mode must not change any result")
    // one-shot query builders cache until session hygiene (the contract
    // the bench's clearCaches mirrors); the hygiene path must fully drain
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "session cache hygiene must be able to drop every query-mode entry")
  }

  test("persist mode: decontam's single-pass plans pin no cache") {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    inMode("persist") {
      val docs = Seq(
        (1L, "a b c d e f", "s1"), (2L, "a b c d e f", "s1"),
        (3L, "q w e r t y", "s2"), (4L, "m n o p q r", "s2"))
        .toDF("doc_id", "text", "source")
      val evalSet = Seq((100L, "a b c")).toDF("doc_id", "text")
      // broadcast eval grams, one corpus aggregate: nothing to materialize
      graft.llm.Decontam.overlapReport(docs, evalSet, "doc_id", "text", n = 3).count()
      graft.llm.Decontam.evalContaminationReport(docs, evalSet, "doc_id", "text", n = 3).count()
      graft.llm.Decontam.decontaminate(docs, evalSet, "doc_id", "text",
        n = 3, minHitPermille = 100).count()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        "decontam must not pin caches — its plan is single-pass")
    }
  }

  test("persist mode: 100 processBatch triggers leave no persisted RDD") {
    // the hygiene path first, so every entry left at the end is this test's
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val base = tmpDir("matmode")
    val triggers = 100
    inMode("persist") {
      val cfg = ReplicationJob.Config(sourceDir = base,
        targetDir = s"$base/target", dlqDir = s"$base/dlq",
        checkpointDir = s"$base/ckpt")
      (0 until triggers).foreach { i =>
        // two new keys per trigger, plus an update of key 0
        val batch = Seq(
          (3L * i, 100L + i, 2L * i + 1, "view", 1.0),
          (3L * i + 1, 100L + i, 2L * i + 2, "click", 2.0),
          (3L * i + 2, 100L + i, 0L, "purchase", 3.0))
          .toDF("event_id", "ts_us", "user_id", "event_type", "value")
          .withColumn("ts", col("ts_us") * 1000)
          .withColumn("props", lit(null).cast("string"))
        ReplicationJob.processBatch(spark, batch, cfg, batchId = i.toLong)
      }
    }
    // no unpersist call anywhere: ContextCleaner drops each trigger's
    // checkpointed batch once it is unreachable
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (spark.sparkContext.getPersistentRDDs.nonEmpty &&
      System.nanoTime() < deadline) { System.gc(); Thread.sleep(200) }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked: ${spark.sparkContext.getPersistentRDDs.keys}")
    assert(spark.read.parquet(s"$base/target").count() == 2L * triggers + 1)
  }

  test("persist mode: bpe_merge_curve's analyzed plan is a leaf-cut plan, as in local mode") {
    def nodes(): Int = SparkEntry.queries("bpe_merge_curve")(spark, sfDir)
      .queryExecution.analyzed.collectWithSubqueries { case n => n }.size
    val local = nodes()
    val persisted = inMode("persist") { nodes() }
    info(s"analyzed-plan nodes: local $local, persist $persisted")
    // a plan that nests each round's plan grows with the round count; a
    // checkpointed leaf per round keeps it to the final query's own nodes
    assert(persisted <= local + 5, s"persist $persisted nodes against local $local")
  }
}
