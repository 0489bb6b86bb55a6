package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.llm.{StreamingCuration, StreamingDedup}

/** Incremental curation: PII scrub + quality gate + cross-batch novelty
  * dedup per micro-batch.
  */
class StreamingCurationSpec extends SparkSpecBase {
  import spark.implicits._

  private def pipeline(stateDir: String) = new StreamingCuration(
    new StreamingDedup(spark, stateDir, "doc_id", "text"),
    "doc_id", "text", minTokens = 3, maxTokens = 50,
    minUniqPermille = 100, maxTopTokPermille = 900)

  test("processBatch: scrub -> quality -> novelty, replay-idempotent") {
    val sc = pipeline(tmpDir("cur-state"))

    val b0 = Seq(
      (1L, "contact me at jane@example.com for details"),
      (2L, "hi"), // 1 token < 3 → quality-dropped
      (3L, "plain clean document body here")
    ).toDF("doc_id", "text")
    val out0 = sc.processBatch(b0, 0L).as[(Long, String)].collect().sortBy(_._1)
    assert(out0.map(_._1).toSeq === Seq(1L, 3L))
    assert(out0.head._2 === "contact me at [EMAIL] for details",
      "emitted text must be the scrubbed form")

    // batch 1: doc 10 differs from doc 1 ONLY in the scrubbed email →
    // post-scrub duplicate, suppressed; doc 11 novel
    val b1 = Seq(
      (10L, "contact me at bob@other.org for details"),
      (11L, "a genuinely new document arrives")
    ).toDF("doc_id", "text")
    val out1 = sc.processBatch(b1, 1L).select("doc_id").as[Long].collect()
    assert(out1.toSeq === Seq(11L),
      "docs equal after PII scrub must dedup together")

    // at-least-once replay of batch 1 re-emits the same set
    val out1b = sc.processBatch(b1, 1L).select("doc_id").as[Long].collect()
    assert(out1b.toSeq === Seq(11L))
  }

  test("writeFunnelBatch: per-batch stage counts SUM-merge into the " +
    "continuous loss panel == the one-pass funnel; replay overwrites, " +
    "never double-counts; zero state reads empty with the schema") {
    val stateDir = tmpDir("cur-funnel-state")
    val funnelDir = tmpDir("cur-funnel")
    val sc = pipeline(stateDir)
    // token counts: "plain clean document body here"=5, "hi"=1 (quality
    // reject at minTokens=3), "a genuinely new document arrives"=5,
    // "third unique text sample words"=5, "x y z w"=4
    val b0 = Seq((1L, "plain clean document body here"), (2L, "hi"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (10L, "plain clean document body here"), // cross-batch dup of 1
      (11L, "a genuinely new document arrives")).toDF("doc_id", "text")
    val b2 = Seq(
      (20L, "a genuinely new document arrives"), // dup of 11
      (21L, "hi"),                               // quality reject
      (22L, "third unique text sample words"),
      (23L, "third unique text sample words"),   // in-batch text dup of 22
      (24L, "x y z w"), (24L, "x y z w")         // exact (id,text) repeat
    ).toDF("doc_id", "text")
    val n0 = sc.writeFunnelBatch(b0, 0L, funnelDir)
    assert(n0.select("doc_id").as[Long].collect().toSeq === Seq(1L))
    sc.writeFunnelBatch(b1, 1L, funnelDir)
    val n2 = sc.writeFunnelBatch(b2, 2L, funnelDir)
    assert(n2.select("doc_id").as[Long].collect().sorted === Seq(22L, 24L),
      "min doc id wins within the batch; cross-batch dups suppressed")
    def panel() = StreamingCuration.funnel(spark, funnelDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val want = Map(
      (0L, "raw") -> ((10L, 40L)),
      (1L, "compact_scrub") -> ((9L, 36L)),
      (2L, "quality") -> ((7L, 34L)),
      (3L, "fluency") -> ((7L, 34L)),
      (4L, "novel") -> ((4L, 19L)))
    assert(panel() === want)
    // an at-least-once replay REPLACES batch 1's counts and re-emits the
    // same novel set — the panel must not move
    val n1b = sc.writeFunnelBatch(b1, 1L, funnelDir)
    assert(n1b.select("doc_id").as[Long].collect().toSeq === Seq(11L))
    assert(panel() === want, "replay must overwrite, never double-count")
    // the one-pass funnel over the union lands on the same panel
    // (batch-local stages partition the corpus; novelty decomposes)
    val oneDir = tmpDir("cur-funnel-one")
    val scOne = pipeline(tmpDir("cur-funnel-one-state"))
    scOne.writeFunnelBatch(
      b0.unionByName(b1).unionByName(b2), 0L, oneDir)
    val onePass = StreamingCuration.funnel(spark, oneDir)
      .collect().map(r => (r.getLong(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(onePass === want, "fold == one-pass is the register identity")
    // zero state: empty panel with the declared schema
    val z = StreamingCuration.funnel(spark, tmpDir("cur-funnel-zero"))
    assert(z.columns.toSeq === Seq("stage_idx", "stage", "n_docs", "n_tokens"))
    assert(z.count() === 0L)
  }

  test("per-batch fluency gate: static reference model drops gibberish across batches") {
    import graft.llm.TextAnalysis
    val ref = Seq(
      (100L, "the cat sat on the mat and the dog sat on the rug"),
      (101L, "a cat slept on the mat and a dog slept well")).toDF("doc_id", "text")
    val sc = new StreamingCuration(
      new StreamingDedup(spark, tmpDir("cur-state-flu"), "doc_id", "text"),
      "doc_id", "text", minTokens = 3, maxTokens = 50,
      minUniqPermille = 100, maxTopTokPermille = 900,
      fluencyModel = Some(TextAnalysis.lmModel(ref, "doc_id", "text")),
      minFluencyPermille = 50L)
    val b0 = Seq(
      (1L, "the cat sat on the rug"),
      (2L, "zq xv pw qqn mlk wrt bnp")).toDF("doc_id", "text")
    assert(sc.processBatch(b0, 0L).select("doc_id").as[Long].collect()
      .toSeq === Seq(1L), "gibberish must fall under the fluency floor")
    // the SAME model gates a later batch identically (order-independent)
    val b1 = Seq(
      (3L, "ojy trf czu nnw pqd lmx"),
      (4L, "a dog slept on the rug")).toDF("doc_id", "text")
    assert(sc.processBatch(b1, 1L).select("doc_id").as[Long].collect()
      .toSeq === Seq(4L))
  }

  test("normalizeText: case/punct variants are cross-batch duplicates") {
    val sc = new StreamingCuration(
      new StreamingDedup(spark, tmpDir("cur-state-norm"), "doc_id", "text"),
      "doc_id", "text", minTokens = 3, maxTokens = 50,
      minUniqPermille = 100, maxTopTokPermille = 900, normalizeText = true)
    val b0 = Seq((1L, "The quick brown Fox!")).toDF("doc_id", "text")
    val out0 = sc.processBatch(b0, 0L).as[(Long, String)].collect()
    assert(out0.toSeq === Seq((1L, "the quick brown fox")),
      "emitted text must be the normalized form")
    // batch 1: same doc up to case/punctuation → suppressed as seen
    val b1 = Seq((2L, "the QUICK brown fox...")).toDF("doc_id", "text")
    assert(sc.processBatch(b1, 1L).count() === 0)
  }

  test("within-batch redelivery of a row must not double its quality counts") {
    val sc = pipeline(tmpDir("cur-state3"))
    // "hi there" is 2 tokens (< minTokens 3); delivered twice in one
    // batch it must STILL be 2 tokens, not 4, and stay dropped
    val b = Seq((1L, "hi there"), (1L, "hi there"),
      (2L, "three token document")).toDF("doc_id", "text")
    val out = sc.processBatch(b, 0L).select("doc_id").as[Long].collect()
    assert(out.toSeq === Seq(2L),
      "a redelivered short doc must not pass the length gate")
  }

  test("writeBatch: replaying a batch replaces its partition, never appends") {
    val (state, out) = (tmpDir("cur-state4"), tmpDir("cur-out4"))
    val sc = pipeline(state)
    val b0 = Seq((1L, "first clean document body")).toDF("doc_id", "text")
    sc.writeBatch(b0, 0L, out)
    // at-least-once replay: crash after the sink write, before the
    // checkpoint commit → the same batch runs again
    sc.writeBatch(b0, 0L, out)
    val got = spark.read.parquet(out).select("doc_id").as[Long].collect()
    assert(got.toSeq === Seq(1L), "replay must overwrite, not duplicate")
  }

  test("a file: URI state dir remembers batch 0: the same document is not novel again") {
    val sc = pipeline("file://" + tmpDir("cur-state-uri"))
    val doc = "the same clean document body"
    val out0 = sc.processBatch(Seq((1L, doc)).toDF("doc_id", "text"), 0L)
    assert(out0.select("doc_id").as[Long].collect().toSeq === Seq(1L))
    val out1 = sc.processBatch(Seq((2L, doc)).toDF("doc_id", "text"), 1L)
    assert(out1.count() === 0L, "batch 0's hash must be found under a file: URI")
  }

  test("writeBatch: a steady-state batch compiles no classes") {
    val (state, out) = (tmpDir("cur-state5"), tmpDir("cur-out5"))
    val sc = pipeline(state)
    // same plan shape every batch, fresh documents each time
    def batch(b: Long) = Seq((b * 10 + 1, s"fresh clean document number $b"),
      (b * 10 + 2, s"another clean body for batch $b"), (b * 10 + 3, "x"))
      .toDF("doc_id", "text")
    // ids no other test records, so no class of an earlier test matches
    (900L to 902L).foreach(b => sc.writeBatch(batch(b), b, out))
    val m = Harness.measure(spark)(sc.writeBatch(batch(903L), 903L, out))
    assert(m.compiles == 0L, s"${m.compiles} classes compiled by a steady-state batch")
    assert(spark.read.parquet(out).filter($"_batch_id" === 903).count() === 2L)
  }

  test("end-to-end over a stream: two triggers, curated parquet appends") {
    val (state, out, ckpt) = (tmpDir("cur-state2"), tmpDir("cur-out"), tmpDir("cur-ckpt"))
    val sc = pipeline(state)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")

    input.addData((1L, "first clean document body"), (2L, "x"))
    val q1 = sc.start(stream, out, ckpt)
    q1.processAllAvailable()
    q1.stop()
    input.addData((3L, "first clean document body"), (4L, "second clean document body"))
    val q2 = sc.start(stream, out, ckpt)
    q2.processAllAvailable()
    q2.stop()

    val got = spark.read.parquet(out).select("doc_id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 4L),
      "quality reject (2) and cross-batch dup (3) must not reach the sink")
  }
}
