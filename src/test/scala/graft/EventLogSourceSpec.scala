package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.{EventLogOffset, EventLogSource}

/** The custom DSv2 commit-log source (S1 capture boundary): batch read,
  * rate-limited micro-batch drain, per-segment ordering, and
  * checkpoint-resume picking up only appended segments.
  */
class EventLogSourceSpec extends SparkSpecBase {
  import spark.implicits._

  private val Fmt = classOf[EventLogSource].getName

  private def writeSeg(dir: String, name: String, n: Int, from: Int = 0): Unit =
    Files.writeString(Paths.get(dir, name),
      (from until from + n).map(i => s"""{"event_id":$i}""").mkString("", "\n", "\n"))

  /** Byte-at-a-time reference for [[EventLogSource.scanLines]]: the same
    * contract read one byte per call, kept only to check the chunked scan.
    */
  private def refScanLines(file: java.nio.file.Path, fromByte: Long, maxLines: Long,
      countUnterminated: Boolean): (Long, Long, Boolean) = {
    val in = new java.io.BufferedInputStream(Files.newInputStream(file))
    try {
      var toSkip = fromByte
      while (toSkip > 0) {
        val skipped = in.skip(toSkip)
        if (skipped <= 0) return (0L, fromByte, true)
        toSkip -= skipped
      }
      var lines = 0L
      var byte = fromByte
      var sinceNewline = 0L
      var eof = false
      while (lines < maxLines && !eof) {
        val b = in.read()
        if (b < 0) {
          eof = true
          if (sinceNewline > 0 && countUnterminated) {
            lines += 1; byte += sinceNewline; sinceNewline = 0
          }
        } else if (b == '\n') {
          lines += 1; byte += sinceNewline + 1; sinceNewline = 0
        } else sinceNewline += 1
      }
      if (!eof && lines == maxLines && in.read() < 0) eof = true
      (lines, byte, eof)
    } finally in.close()
  }

  /** Rows the executor reader returns for the slice [from, until). */
  private def readSlice(dir: String, seg: String, from: Long, until: Long,
      fromByte: Long): Seq[String] = {
    val r = graft.streaming.EventLogReaderFactory.createReader(
      graft.streaming.EventLogSlice(dir, seg, from, until, fromByte))
    try {
      val out = Seq.newBuilder[String]
      while (r.next()) out += r.get().getUTF8String(0).toString
      out.result()
    } finally r.close()
  }

  test("batch read returns every line with segment/offset provenance") {
    val dir = tmpDir("evlog")
    writeSeg(dir, "seg-000.log", 7)
    writeSeg(dir, "seg-001.log", 5, from = 7)
    val df = spark.read.format(Fmt).option("path", dir).load()
    assert(df.count() == 12)
    val r = df.filter(col("segment") === "seg-001.log")
      .orderBy("offset").select("value", "offset").collect()
    assert(r.length == 5)
    assert(r.head.getString(0) == """{"event_id":7}""" && r.head.getLong(1) == 0L)
  }

  test("a file: URI log drains the same rows as its bare path; another scheme is refused") {
    val dir = tmpDir("evuri")
    writeSeg(dir, "seg-000.log", 7)
    writeSeg(dir, "seg-001.log", 5, from = 7)
    def drain(path: String): Set[(String, String, Long)] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
      spark.readStream.format(Fmt).option("path", path).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val rows = b.as[(String, String, Long)].collect()
          seen.synchronized { seen ++= rows }; (): Unit
        }
        .option("checkpointLocation", tmpDir("ck"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
      seen.toSet
    }
    val bare = drain(dir)
    assert(bare.size == 12)
    assert(drain(s"file://$dir") == bare)
    assert(!Files.exists(Paths.get("file:")), "no relative directory named file:")
    val e = intercept[IllegalArgumentException] {
      spark.read.format(Fmt).option("path", "s3a://bucket/log").load()
    }
    assert(e.getMessage.contains("'s3a'"), e.getMessage)
  }

  test("micro-batch drain respects maxRowsPerTrigger and preserves per-segment order") {
    val dir = tmpDir("evlog")
    writeSeg(dir, "seg-000.log", 11)
    writeSeg(dir, "seg-001.log", 6, from = 11)
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    val q = spark.readStream.format(Fmt)
      .option("path", dir).option("maxRowsPerTrigger", 4).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.select("segment", "offset").collect()
        sizes.synchronized {
          sizes += rows.length.toLong
          seen ++= rows.map(r => (r.getString(0), r.getLong(1)))
        }
        (): Unit
      }
      .option("checkpointLocation", tmpDir("ck"))
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    assert(seen.size == 17, s"all rows delivered, got ${seen.size}")
    assert(sizes.forall(_ <= 4), s"admission control violated: $sizes")
    assert(sizes.count(_ > 0) >= 5, s"expected >=5 rate-limited batches, got $sizes")
    // per-segment offsets arrive in order (commit-log ordering unit)
    Seq("seg-000.log", "seg-001.log").foreach { s =>
      val offs = seen.filter(_._1 == s).map(_._2)
      assert(offs == offs.sorted, s"out-of-order delivery in $s")
    }
  }

  test("checkpoint resume delivers only segments appended after the drain") {
    val dir = tmpDir("evlog")
    val ck = tmpDir("ck")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", dir).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized { out ++= b.select("value").collect().map(_.getString(0)) }
          (): Unit
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    writeSeg(dir, "seg-000.log", 3)
    drain()
    assert(out.size == 3)
    out.clear()
    writeSeg(dir, "seg-001.log", 2, from = 3) // appended after first drain
    drain()
    assert(out.toSeq == Seq("""{"event_id":3}""", """{"event_id":4}"""),
      s"resume must deliver only the new segment, got $out")
  }

  test("offset json round-trips (incl. legacy pre-name form)") {
    val o = EventLogOffset(3, 41L, "seg-003.log", 1234L)
    assert(EventLogOffset.parse(o.json()) == o)
    assert(EventLogOffset.parse("""{"seg":3,"row":41}""") == EventLogOffset(3, 41L))
  }

  test("retention of consumed segments is safe; a deleted current segment fails loudly") {
    val dir = tmpDir("evlogret")
    val ck = tmpDir("ck")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", dir).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          out.synchronized { out ++= b.select("value").collect().map(_.getString(0)) }
          (): Unit
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    writeSeg(dir, "seg-000.log", 3)
    writeSeg(dir, "seg-001.log", 2, from = 3)
    drain()
    assert(out.size == 5)
    out.clear()
    // the reference's CDC agent deletes fully-processed segments: indices
    // shift, but name-resolved offsets must keep delivering exactly the
    // new data
    Files.delete(Paths.get(dir, "seg-000.log"))
    writeSeg(dir, "seg-002.log", 2, from = 5)
    drain()
    assert(out.toSeq == Seq("""{"event_id":5}""", """{"event_id":6}"""),
      s"after retention only new rows must arrive, got $out")
    out.clear()
    // deleting the CHECKPOINT-CURRENT segment is unrecoverable data loss:
    // the source must fail loudly, never clamp onto the wrong file
    Files.delete(Paths.get(dir, "seg-002.log"))
    writeSeg(dir, "seg-003.log", 1, from = 7)
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format(Fmt).option("path", dir).load()
        .writeStream.foreachBatch { (_: org.apache.spark.sql.DataFrame, _: Long) => (): Unit }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes(boom).exists(_.getMessage != null) &&
      causes(boom).exists(c => Option(c.getMessage).exists(_.contains("no longer exists"))),
      s"expected a loud retention error, got $boom")
  }

  test("an unterminated tail line is not admitted until its newline arrives") {
    val dir = tmpDir("evpart")
    // write a tail segment whose last line has no newline yet
    Files.writeString(Paths.get(dir, "seg-000.log"),
      "{\"event_id\":0}\n{\"event_id\":1")
    val (nTail, byteTail, _) = EventLogSource.scanLines(
      Paths.get(dir, "seg-000.log"), 0L, Long.MaxValue, countUnterminated = false)
    assert(nTail == 1L, "partial line must not count on the growing tail")
    assert(byteTail == 15L, "byte anchor must stop at the last newline")
    // batch semantics unchanged: the same file counts 2 when closed
    val (nClosed, _, _) = EventLogSource.scanLines(
      Paths.get(dir, "seg-000.log"), 0L, Long.MaxValue)
    assert(nClosed == 2L)
    // once the newline lands, the completed line is admitted from the anchor
    Files.writeString(Paths.get(dir, "seg-000.log"),
      "{\"event_id\":0}\n{\"event_id\":1}\n")
    val (nMore, _, _) = EventLogSource.scanLines(
      Paths.get(dir, "seg-000.log"), byteTail, Long.MaxValue,
      countUnterminated = false)
    assert(nMore == 1L, "the completed line arrives whole, not as a fragment")
  }

  test("a legacy checkpoint clamped onto a different segment restarts it at row 0") {
    // pre-name checkpoint {seg:2,row:3}; retention deleted segments so
    // only 2 remain — the clamped segment was NEVER consumed: keeping
    // row=3 would silently skip its first 3 rows
    val dir = tmpDir("evclamp")
    writeSeg(dir, "seg-000.log", 4)
    writeSeg(dir, "seg-001.log", 5, from = 4)
    val stream = new graft.streaming.EventLogMicroBatchStream(dir, 100L)
    val legacy = EventLogOffset(seg = 2, row = 3L) // name-less, out of range
    val end = stream.latestOffset(legacy,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows(100L))
      .asInstanceOf[EventLogOffset]
    val parts = stream.planInputPartitions(legacy, end)
    val delivered = parts.flatMap(_.asInstanceOf[graft.streaming.EventLogSlices].slices)
      .map(s => (s.seg, s.from, s.until)).toSeq
    assert(delivered == Seq(("seg-001.log", 0L, 5L)),
      s"clamped segment must be read from row 0, got $delivered")
  }

  test("a lone CR inside a payload is data, not a line break") {
    // scanLines counts only '\n'; a reader splitting on '\r' too would
    // emit extra rows, desync the byte accounting, and drop the slice's
    // tail rows
    val dir = tmpDir("evcr")
    Files.writeString(Paths.get(dir, "seg-000.log"),
      "{\"a\":\"x\ry\"}\n{\"b\":1}\n")
    val df = spark.read.format(Fmt).option("path", dir).load()
    val vals = df.orderBy("offset").select("value")
      .collect().map(_.getString(0)).toSeq
    assert(vals == Seq("{\"a\":\"x\ry\"}", "{\"b\":1}"),
      s"CR must survive inside the payload: ${vals.map(_.replace("\r", "<CR>"))}")
  }

  test("AvailableNow quiescent-tail rule is opt-in; default never admits a partial line") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.streaming.EventLogMicroBatchStream
    val dir = tmpDir("evquiesce")
    val f = Paths.get(dir, "seg-000.log")
    Files.writeString(f, "{\"event_id\":0}\n{\"event_id\":1}") // no trailing \n
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 60000))
    // OPT-IN (tailQuiesceMs > 0) + long-dead writer: the snapshot must
    // deliver BOTH lines — the batch path counts 2, and an S2 drain over
    // a finished log must not lose the last event
    val stream = new EventLogMicroBatchStream(dir, 100L, tailQuiesceMs = 2000L)
    stream.prepareForTriggerAvailableNow()
    val end = stream.latestOffset(EventLogOffset(0, 0L), ReadLimit.maxRows(100L))
      .asInstanceOf[EventLogOffset]
    assert(end.row == 2L, s"quiescent unterminated tail line must be admitted: $end")

    // DEFAULT (opt-in off): even a long-quiescent partial line is not
    // admitted — mtime cannot prove the writer is done, only stalled —
    // but the exclusion is NOT silent: the snapshot reports exactly how
    // many tail bytes the drain cap left behind
    val streamDefault = new EventLogMicroBatchStream(dir, 100L)
    streamDefault.prepareForTriggerAvailableNow()
    val endD = streamDefault.latestOffset(EventLogOffset(0, 0L), ReadLimit.maxRows(100L))
      .asInstanceOf[EventLogOffset]
    assert(endD.row == 1L, s"default must stay conservative: $endD")
    assert(streamDefault.excludedTailBytes == "{\"event_id\":1}".length.toLong,
      s"the cap's exclusion must be surfaced: ${streamDefault.excludedTailBytes}")
    // and the quiescent-admitting stream excluded nothing
    assert(stream.excludedTailBytes == 0L)

    // opted in but the tail is FRESH (possibly mid-flush): conservative
    val dir2 = tmpDir("evfresh")
    Files.writeString(Paths.get(dir2, "seg-000.log"),
      "{\"event_id\":0}\n{\"event_id\":1}")
    val stream2 = new EventLogMicroBatchStream(dir2, 100L, tailQuiesceMs = 2000L)
    stream2.prepareForTriggerAvailableNow()
    val end2 = stream2.latestOffset(EventLogOffset(0, 0L), ReadLimit.maxRows(100L))
      .asInstanceOf[EventLogOffset]
    assert(end2.row == 1L, s"a fresh partial line must NOT be admitted: $end2")
  }

  test("FR-024 backpressure: breaker state + sink latency shape the next trigger's admission") {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import graft.streaming.{AdmissionControl, EventLogMicroBatchStream}
    val dir = tmpDir("evbp")
    writeSeg(dir, "seg-000.log", 100)
    var now = 0L
    val breaker = new graft.util.CircuitBreaker(
      failureThreshold = 2, openMs = 1000L, clock = () => now)
    val ch = "bp-test"
    AdmissionControl.register(ch,
      AdmissionControl.SinkHealth(breaker = Some(breaker), probeRows = 3L))
    try {
      val stream = new EventLogMicroBatchStream(dir, 10L, Some(ch))
      val start = EventLogOffset(0, 0L)
      def admitted(from: EventLogOffset): Long =
        stream.latestOffset(from, ReadLimit.maxRows(10L))
          .asInstanceOf[EventLogOffset].row - from.row

      // healthy: full maxRows admitted
      assert(admitted(start) == 10L)

      // two sink failures trip the breaker → OPEN → the next trigger
      // admits NOTHING (consumption pauses, the FR-024 contract)
      (1 to 2).foreach { _ =>
        intercept[RuntimeException](breaker.call(throw new RuntimeException("sink down")))
      }
      assert(admitted(start) == 0L, "open breaker must pause admission")

      // cool-down elapses → HALF_OPEN → one small probe batch
      now += 1000L
      assert(admitted(start) == 3L, "half-open admits only the probe size")

      // the probe batch succeeds at the sink → CLOSED → full admission
      breaker.call(())
      assert(admitted(start) == 10L, "recovery restores full admission")

      // a slow (but not failing) sink shrinks admission proportionally:
      // 4 s against the 2 s target → half of maxRows
      AdmissionControl.reportLatency(ch, 4.0)
      assert(admitted(start) == 5L)
      // …but never below the probe size, so progress can't stall
      AdmissionControl.reportLatency(ch, 80.0)
      assert(admitted(start) == 3L)
      AdmissionControl.reportLatency(ch, 0.5)
      assert(admitted(start) == 10L, "a recovered sink restores full admission")
    } finally AdmissionControl.clear(ch)
  }

  test("10k-event drain through the source + state store matches the batch fold") {
    import graft.streaming.ReplicationJob
    import graft.ops.{EventOps, Lww}
    val sf01 = "/root/testdata/sf0.01"
    // the commit-log envelope carries ts as a raw-ns long (the wire
    // contract) — rebuild it from ts_us so the fixture's parquet physical
    // timestamp type (ns in early generators, µs now) can't leak into the
    // JSON lines
    val ev = Tables.events(spark, sf01)
      .withColumn("ts", org.apache.spark.sql.functions.expr("ts_us * 1000"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    // serialize the fixture stream into 4 commit-log segments
    val dir = tmpDir("evlogbig")
    val lines = ev.toJSON.collect()
    lines.grouped((lines.length + 3) / 4).zipWithIndex.foreach { case (g, i) =>
      Files.writeString(Paths.get(dir, f"seg-$i%03d.log"), g.mkString("", "\n", "\n"))
    }
    val base = tmpDir("evrepl2")
    val cfg = ReplicationJob.Config(
      sourceDir = dir, targetDir = s"$base/target", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", eventLog = Some((dir, 4000L)))
    ReplicationJob.start(spark, cfg).awaitTermination(300000)
    // expected: identical validate -> LWW fold, computed in one batch pass
    val err = EventOps.errorType(col("event_type"), col("value"), col("user_id"),
      cfg.validTypes, cfg.maxValue)
    val (valid, invalid) = EventOps.validationSplit(
      ev.withColumn("ts_us", expr("ts div 1000")), err)
    val expected = Lww.latestPerKey(
        valid.select("user_id", "event_id", "ts_us"),
        Seq("user_id"), Seq(col("ts_us"), col("event_id")))
      .select("user_id", "event_id").as[(Long, Long)].collect().toMap
    val got = ReplicationJob.targetState(spark, cfg)
      .select(col("user_id"), col("_last_event_id"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected,
      s"state diverged on ${got.toSet.diff(expected.toSet).take(3)}")
    assert(spark.read.parquet(cfg.dlqDir).count() == invalid.count(),
      "every invalid event lands in the DLQ exactly once across batches")
  }

  test("replication job end-to-end over the commit-log source") {
    import graft.streaming.ReplicationJob
    val dir = tmpDir("evlog")
    def ev(id: Long, ts: Long, uid: Long, et: String, v: Double) =
      s"""{"event_id":$id,"ts":${ts * 1000},"user_id":$uid,"event_type":"$et","value":$v}"""
    // user 1: out-of-order arrivals, LWW winner = ts 300 (event 3)
    // user 2: single valid event; event 5 is invalid (bad type) → DLQ
    Files.writeString(Paths.get(dir, "seg-000.log"), Seq(
      ev(1, 300, 1, "purchase", 10.0),
      ev(2, 100, 1, "view", 5.0),
      ev(5, 400, 2, "bogus_type", 1.0)).mkString("", "\n", "\n"))
    Files.writeString(Paths.get(dir, "seg-001.log"), Seq(
      ev(3, 200, 1, "click", 7.0),
      ev(4, 250, 2, "signup", 2.0)).mkString("", "\n", "\n"))
    val base = tmpDir("evrepl")
    val cfg = ReplicationJob.Config(
      sourceDir = dir, targetDir = s"$base/target", dlqDir = s"$base/dlq",
      checkpointDir = s"$base/ckpt", eventLog = Some((dir, 2L)))
    ReplicationJob.start(spark, cfg).awaitTermination(120000)
    val state = ReplicationJob.targetState(spark, cfg)
      .select("user_id", "_last_event_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(state == Map(1L -> 1L, 2L -> 4L),
      s"LWW winners wrong: $state") // user 1: ts 300 = event 1; user 2: event 4
    val dlq = spark.read.parquet(s"$base/dlq").select("event_id").collect().map(_.getLong(0))
    assert(dlq.toSeq == Seq(5L), s"invalid event must route to DLQ, got ${dlq.toSeq}")
  }

  test("chunked scanLines agrees with the byte-at-a-time reference over generated logs") {
    val chunk = EventLogSource.ReadChunkBytes
    val rnd = new scala.util.Random(17)
    // ASCII, a lone CR, and 2-, 3- and 4-byte UTF-8 characters
    val alphabet = Seq("a", "b", "{", "\"", "\r", "\u00e9", "\u20ac", "\ud83d\ude00")
    def line(n: Int): String = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length))).mkString
    val dir = tmpDir("evgen")
    val files = (0 until 6).map { i =>
      val lines = Seq.fill(5 + rnd.nextInt(40))(line(rnd.nextInt(200))) ++
        // a line longer than the read buffer
        (if (i % 2 == 0) Seq(line(chunk + rnd.nextInt(chunk))) else Nil) ++
        Seq.fill(rnd.nextInt(10))(line(rnd.nextInt(200)))
      // odd files end in an unterminated tail line
      val body = lines.mkString("\n") + (if (i % 2 == 1) "" else "\n")
      val f = Paths.get(dir, f"seg-$i%03d.log")
      Files.write(f, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      f
    }
    files.foreach { f =>
      val size = Files.size(f)
      // every line start, a few byte positions that are not line starts,
      // EOF itself and two positions past it
      val starts = Iterator.iterate((0L, 0L, false)) { case (_, b, _) =>
        refScanLines(f, b, 1L, countUnterminated = true)
      }.drop(1).takeWhile(_._1 > 0).map(_._2).toSeq
      val froms = (0L +: starts) ++ Seq.fill(4)((rnd.nextDouble() * size).toLong) ++
        Seq(size, size + 1, size + chunk)
      for {
        from <- froms.distinct
        maxLines <- Seq(0L, 1L, 2L, 7L, Long.MaxValue)
        cu <- Seq(true, false)
      } {
        val got = EventLogSource.scanLines(f, from, maxLines, countUnterminated = cu)
        val want = refScanLines(f, from, maxLines, countUnterminated = cu)
        assert(got == want, s"${f.getFileName} from=$from maxLines=$maxLines " +
          s"countUnterminated=$cu: got $got, reference $want")
      }
    }
  }

  test("scanLines edge cases: CR, unterminated tail, long line, EOF positions") {
    val chunk = EventLogSource.ReadChunkBytes
    val dir = tmpDir("evedge")
    def check(name: String, body: Array[Byte], from: Long, maxLines: Long,
        cu: Boolean, want: (Long, Long, Boolean)): Unit = {
      val f = Paths.get(dir, name)
      Files.write(f, body)
      val got = EventLogSource.scanLines(f, from, maxLines, countUnterminated = cu)
      assert(got == want, s"$name from=$from maxLines=$maxLines cu=$cu: $got")
      assert(got == refScanLines(f, from, maxLines, cu), s"$name disagrees with the reference")
    }
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    // a CR inside a payload is data
    check("cr.log", "x\ry\nz\n".getBytes(utf8), 0L, Long.MaxValue, cu = true, (2L, 6L, true))
    // an unterminated tail counts only for a closed segment
    val tail = "ab\ncd".getBytes(utf8)
    check("tail.log", tail, 0L, Long.MaxValue, cu = true, (2L, 5L, true))
    check("tail.log", tail, 0L, Long.MaxValue, cu = false, (1L, 3L, true))
    check("tail.log", tail, 3L, Long.MaxValue, cu = false, (0L, 3L, true))
    // a line longer than the read buffer, then a short one
    val long = ("z" * (2 * chunk + 5) + "\nq\n").getBytes(utf8)
    check("long.log", long, 0L, 1L, cu = true, (1L, 2L * chunk + 6, false))
    check("long.log", long, 0L, Long.MaxValue, cu = true, (2L, 2L * chunk + 8, true))
    // fromByte at EOF and past it
    check("eof.log", "ab\n".getBytes(utf8), 3L, 5L, cu = true, (0L, 3L, true))
    check("eof.log", "ab\n".getBytes(utf8), 9L, 5L, cu = true, (0L, 9L, true))
    check("eof.log", "ab\n".getBytes(utf8), 9L, 0L, cu = true, (0L, 9L, true))
    // maxLines ending exactly at EOF sets the eof flag; one short of it not
    check("exact.log", "a\nb\nc\n".getBytes(utf8), 0L, 3L, cu = true, (3L, 6L, true))
    check("exact.log", "a\nb\nc\n".getBytes(utf8), 0L, 2L, cu = true, (2L, 4L, false))
    // …also when the last line ends exactly on a read-buffer boundary
    val edge = ("y" * (chunk - 1) + "\n").getBytes(utf8)
    check("edge.log", edge, 0L, 1L, cu = true, (1L, chunk.toLong, true))
  }

  test("the reader decodes UTF-8 across read-buffer boundaries and from any slice anchor") {
    val chunk = EventLogSource.ReadChunkBytes
    val dir = tmpDir("evutf")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    // a 3-byte character starting one byte before the first buffer
    // boundary, a 4-byte one straddling the second, a CR, an empty line
    // and an unterminated tail
    val lines = Seq(
      "a" * (chunk - 1) + "\u20ac" + "b",
      "c" * (chunk - 6) + "\ud83d\ude00" + "d\re",
      "",
      "tail \u00e9")
    Files.write(Paths.get(dir, "seg-000.log"), lines.mkString("\n").getBytes(utf8))
    // every slice [from, until) read from its byte anchor
    val f = Paths.get(dir, "seg-000.log")
    for (from <- lines.indices; until <- from to lines.length) {
      val (_, fromByte, _) = EventLogSource.scanLines(f, 0L, from.toLong)
      assert(readSlice(dir, "seg-000.log", from.toLong, until.toLong, fromByte) ==
        lines.slice(from, until), s"slice [$from, $until)")
    }
    // and the batch read returns the same rows through Spark
    val df = spark.read.format(Fmt).option("path", dir).load()
    assert(df.orderBy("offset").select("value").as[String].collect().toSeq == lines)
  }

  test("a batch replayed after a checkpoint resume plans and reads the same rows and offsets") {
    // 4 segments of 5 rows, 12 rows a trigger: the second batch spans the
    // rest of seg-002 and all of seg-003. Deleting that batch's commit
    // makes the restarted query plan it again from the offset log alone,
    // on a fresh source that has not walked it, so closed-segment bounds
    // come from a count instead of the walk.
    val dir = tmpDir("evresume")
    (0 until 4).foreach(i => writeSeg(dir, f"seg-$i%03d.log", 5, from = 5 * i))
    val ck = tmpDir("ck")
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(String, Long, String)])]
    def drain(): Unit = {
      val q = spark.readStream.format(Fmt).option("path", dir)
        .option("maxRowsPerTrigger", 12).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = b.select("segment", "offset", "value").as[(String, Long, String)]
            .collect().toSeq.sorted
          batches.synchronized { batches += id -> rows }
          (): Unit
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(120000)
    }
    drain()
    val first = batches.toList
    assert(first.map(_._2.size) == List(12, 8), s"batch sizes: ${first.map(_._2.size)}")
    assert(first.flatMap(_._2).map(_._3) == (0 until 20).map(i => s"""{"event_id":$i}"""),
      "every row exactly once, in (segment, offset) order")
    val lastId = first.last._1
    val offsetLog = Paths.get(ck, "offsets", lastId.toString)
    val offsetsBefore = Files.readString(offsetLog)
    Files.delete(Paths.get(ck, "commits", lastId.toString))
    Files.deleteIfExists(Paths.get(ck, "commits", s".$lastId.crc"))
    batches.clear()
    drain()
    assert(batches.toList == List(first.last),
      s"the replayed batch must deliver the same rows: ${batches.toList}")
    assert(Files.readString(offsetLog) == offsetsBefore, "the offset log must not change")
  }

  /** The `(segment, offset, value)` rows of one input partition. */
  private def readPartition(p: org.apache.spark.sql.connector.read.InputPartition) = {
    val r = graft.streaming.EventLogReaderFactory.createReader(p)
    try {
      val out = Seq.newBuilder[(String, Long, String)]
      while (r.next()) {
        val row = r.get()
        out += ((row.getUTF8String(1).toString, row.getLong(2), row.getUTF8String(0).toString))
      }
      out.result()
    } finally r.close()
  }

  private def planned(stream: graft.streaming.EventLogMicroBatchStream,
      start: EventLogOffset, end: EventLogOffset): Seq[Seq[graft.streaming.EventLogSlice]] =
    stream.planInputPartitions(start, end).toSeq
      .map(_.asInstanceOf[graft.streaming.EventLogSlices].slices)

  /** P = clamp(ceil(bytes / taskBytes), 1, defaultParallelism), at most
    * one partition per slice.
    */
  private def expectedParts(bytes: Long, taskBytes: Long, slices: Int): Int =
    Seq(math.max(1L, (bytes + taskBytes - 1) / taskBytes),
      spark.sparkContext.defaultParallelism.toLong, slices.toLong).min.toInt

  /** Segments `seg-000.log`.. of `rows` lines each, every line exactly
    * `lineBytes` bytes with its newline.
    */
  private def writeFixedSegs(dir: String, segs: Int, rows: Int, lineBytes: Int): Unit =
    (0 until segs).foreach { i =>
      val lines = (0 until rows).map { j =>
        val head = s"""{"event_id":${i * rows + j},"pad":""""
        head + "x" * (lineBytes - head.length - 3) + "\"}"
      }
      Files.writeString(Paths.get(dir, f"seg-$i%03d.log"), lines.mkString("", "\n", "\n"))
    }

  test("packed partitions deliver the per-slice rows in order and never split a slice") {
    val rnd = new scala.util.Random(29)
    val limit = org.apache.spark.sql.connector.read.streaming.ReadLimit.maxRows _
    for (layout <- 0 until 6) {
      val dir = tmpDir("evpack")
      // segments of uneven row counts and line lengths; odd layouts end in
      // an unterminated tail line the stream must not admit
      val nSegs = 1 + rnd.nextInt(9)
      var id = 0
      (0 until nSegs).foreach { i =>
        val lines = Seq.fill(1 + rnd.nextInt(30)) {
          id += 1; s"""{"event_id":$id,"pad":"${"x" * rnd.nextInt(300)}"}"""
        }
        val tail = if (layout % 2 == 1 && i == nSegs - 1) "{\"event_id\":-1" else ""
        Files.writeString(Paths.get(dir, f"seg-$i%03d.log"), lines.mkString("", "\n", "\n") + tail)
      }
      val log = (0 until nSegs).flatMap { i =>
        val seg = f"seg-$i%03d.log"
        Files.readAllLines(Paths.get(dir, seg)).toArray.toSeq.map(_.toString)
          .zipWithIndex.map { case (v, o) => (seg, o.toLong, v) }
      }.filterNot(_._3 == "{\"event_id\":-1")
      for (taskBytes <- Seq(1L, 500L, 3000L, EventLogSource.TaskBytes)) {
        val stream = new graft.streaming.EventLogMicroBatchStream(dir, 100L, taskBytes = taskBytes)
        // walk the log in random-sized triggers, mid-segment anchors included
        var start = stream.initialOffset().asInstanceOf[EventLogOffset]
        val delivered = Seq.newBuilder[(String, Long, String)]
        var more = true
        while (more) {
          val end = stream.latestOffset(start, limit(1 + rnd.nextInt(60)))
            .asInstanceOf[EventLogOffset]
          more = end != start
          val sized = stream.slices(start, end)
          val parts = planned(stream, start, end)
          assert(parts.flatten == sized.map(_._1),
            s"layout $layout taskBytes $taskBytes: partitions must chain the slices whole, in order")
          assert(parts.size == (if (sized.isEmpty) 0
            else expectedParts(sized.map(_._2).sum, taskBytes, sized.size)),
            s"layout $layout taskBytes $taskBytes: ${parts.size} partitions for $sized")
          val perSlice = sized.map { case (sl, _) =>
            readSlice(sl.dir, sl.seg, sl.from, sl.until, sl.fromByte)
          }
          // a slice's size is the bytes of its lines, newlines included
          assert(sized.map(_._2) == perSlice.map(_.map(_.getBytes("UTF-8").length + 1L).sum),
            s"layout $layout: slice sizes $sized")
          val rows = stream.planInputPartitions(start, end).toSeq.flatMap(readPartition)
          assert(rows == sized.zip(perSlice).flatMap { case ((sl, _), vs) =>
            vs.zipWithIndex.map { case (v, i) => (sl.seg, sl.from + i, v) }
          }, s"layout $layout taskBytes $taskBytes: rows differ from per-slice reading")
          delivered ++= rows
          start = end
        }
        assert(delivered.result() == log, s"layout $layout taskBytes $taskBytes: every row once")
      }
    }
  }

  test("the partition count follows the batch's bytes, TaskBytes and the core count") {
    val dir = tmpDir("evcount")
    (0 until 10).foreach(i => writeSeg(dir, f"seg-$i%03d.log", 50, from = 50 * i))
    val bytes = (0 until 10).map(i => Files.size(Paths.get(dir, f"seg-$i%03d.log"))).sum
    val cores = spark.sparkContext.defaultParallelism
    def parts(taskBytes: Long) = {
      val stream = new graft.streaming.EventLogMicroBatchStream(dir, Long.MaxValue,
        taskBytes = taskBytes)
      val start = stream.initialOffset().asInstanceOf[EventLogOffset]
      val end = stream.latestOffset(start,
        org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
        .asInstanceOf[EventLogOffset]
      assert(stream.slices(start, end).map(_._2).sum == bytes)
      planned(stream, start, end).size
    }
    // the default and anything at least the batch: one partition
    assert(parts(EventLogSource.TaskBytes) == 1)
    assert(parts(bytes) == 1)
    assert(parts((bytes + 1) / 2) == math.min(2, cores))
    // at least taskBytes per core: every core; a smaller taskBytes still
    // never more partitions than cores
    assert(parts(bytes / cores) == cores)
    assert(parts(1L) == cores)
  }

  test("a streamed batch of TaskBytes per core spreads over every core, a small one takes one") {
    val cores = spark.sparkContext.defaultParallelism
    // k × TaskBytes of log in 1 KiB lines over 8 segments: exactly k
    // partitions, k = every core up to 4 (the data stays 8 MiB at most)
    val k = math.min(cores, 4)
    val lineBytes = 1024
    def streamedParts(dir: String): Seq[Int] = {
      val seen = scala.collection.mutable.ArrayBuffer.empty[Int]
      spark.readStream.format(Fmt).option("path", dir)
        .option("maxRowsPerTrigger", Long.MaxValue).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.synchronized { seen += b.rdd.getNumPartitions }; (): Unit
        }
        .option("checkpointLocation", tmpDir("ckcount"))
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
      seen.toList
    }
    val big = tmpDir("evbig")
    writeFixedSegs(big, 8, (k * EventLogSource.TaskBytes / lineBytes / 8).toInt, lineBytes)
    assert((0 until 8).map(i => Files.size(Paths.get(big, f"seg-$i%03d.log"))).sum ==
      k * EventLogSource.TaskBytes)
    assert(streamedParts(big) == Seq(k))
    val small = tmpDir("evsmall")
    (0 until 10).foreach(i => writeSeg(small, f"seg-$i%03d.log", 50, from = 50 * i))
    assert(streamedParts(small) == Seq(1))
  }

  test("a replayed batch plans the same partitions on a fresh source") {
    // 8 segments of 600 1-KiB rows, 2100 rows a trigger: the second batch
    // spans 4 slices and between one and two TaskBytes, so it is planned
    // into 2 partitions
    val dir = tmpDir("evreplan")
    writeFixedSegs(dir, 8, 600, 1024)
    val ck = tmpDir("ck")
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Int, String, Long)])]
    def drain(): Unit =
      spark.readStream.format(Fmt).option("path", dir)
        .option("maxRowsPerTrigger", 2100).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          val rows = b.select(spark_partition_id(), col("segment"), col("offset"))
            .as[(Int, String, Long)].collect().toSeq.sorted
          batches.synchronized { batches += id -> rows }
          (): Unit
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination(120000)
    drain()
    val first = batches.toList
    assert(first.map(_._2.size) == List(2100, 2100, 600))
    val second = first(1)
    assert(second._2.map(_._2).distinct.size == 4, s"segments of the second batch")
    assert(second._2.map(_._1).distinct.size == math.min(2, spark.sparkContext.defaultParallelism),
      s"partitions of the second batch: ${second._2}")
    Seq(2L, 1L).foreach { id =>
      Files.delete(Paths.get(ck, "commits", id.toString))
      Files.deleteIfExists(Paths.get(ck, "commits", s".$id.crc"))
    }
    Files.delete(Paths.get(ck, "offsets", "2"))
    Files.deleteIfExists(Paths.get(ck, "offsets", ".2.crc"))
    batches.clear()
    drain()
    assert(batches.toList.headOption == Some(second),
      s"the replayed batch must plan the same partitions: ${batches.toList}")
  }
}
