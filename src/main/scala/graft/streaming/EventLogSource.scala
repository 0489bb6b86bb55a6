package graft.streaming

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.util.LocalPaths

/** Custom DataSource-v2 streaming source replaying a commit log — the
  * S1 capture boundary as a first-class Spark source rather than a
  * pre-parsed file stream (reference: the Cassandra CDC agent tails
  * commit-log segments and emits change envelopes to the event bus;
  * `specs/001-cass-cdc-pg/contracts/kafka-topics.md:49-66`).
  *
  * Log layout: a directory of append-only segment files, `*.log`,
  * lexicographic name order = commit order (the commit-log segment
  * contract), one serialized envelope per line. A segment is the
  * ordering unit — like a Kafka partition, lines within a segment are
  * delivered in order.
  *
  * Offsets carry the segment NAME and BYTE position alongside (segment
  * index, row):
  *  - the name makes positions survive retention — the reference's CDC
  *    agent DELETES fully-processed segments, which shifts list indices;
  *    a name-resolved offset still lands on the right segment, and a
  *    deleted *current* segment fails loudly instead of silently
  *    replaying or dropping data;
  *  - the byte position lets every trigger and every reader SEEK to its
  *    slice. Without it, draining one large segment rate-limited is
  *    O(segment) per trigger on both driver (re-counting) and executor
  *    (line-skipping) — O(n²) total; with it each trigger does O(admitted
  *    rows) work.
  *
  * Scale/recovery shape:
  *  - a micro-batch's segment slices are packed, in log order and never
  *    split, into partitions sized by their bytes: one per
  *    [[EventLogSource.TaskBytes]] of log, at most one per core, no
  *    shuffle; a batch read keeps one partition per segment;
  *  - offsets are exactly-once replayable (checkpoint stores the JSON
  *    offset; planInputPartitions re-plans the same partitions from it);
  *  - ST6 backpressure via SupportsAdmissionControl: `maxRowsPerTrigger`
  *    (default 2048, the reference source's `max.batch.size`,
  *    `docker/connectors/cassandra-source.json:26`) bounds each
  *    micro-batch across segments.
  *
  * Output schema mirrors a wire frame (like Kafka's): `value` = the raw
  * envelope line, `segment`/`offset` = provenance. Envelope decoding
  * stays downstream (`CdcSchemas.parse` / `KafkaCdc.decode`-shape), as
  * with any transport.
  *
  * Usage: `spark.readStream.format("graft.streaming.EventLogSource")
  * .option("path", dir).option("maxRowsPerTrigger", n).load()`.
  */
class EventLogSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EventLogSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new EventLogTable(properties.get("path"))
}

object EventLogSource {
  val Schema: StructType = new StructType()
    .add("value", StringType, nullable = false)
    .add("segment", StringType, nullable = false)
    .add("offset", LongType, nullable = false)

  /** Sorted segment files under `dir` (lexicographic = commit order). */
  def segments(dir: String): IndexedSeq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) IndexedSeq.empty
    else {
      val s = Files.list(p) // must close: each stream holds a directory fd
      try s.iterator().asScala
        .filter(f => f.getFileName.toString.endsWith(".log"))
        .map(_.getFileName.toString).toIndexedSeq.sorted
      finally s.close()
    }
  }

  /** Bytes per read of a segment file. Every scan and reader reads the log
    * in chunks of this size; a line may span any number of chunks.
    */
  val ReadChunkBytes: Int = 1 << 16

  /** Scan forward from `fromByte`, consuming at most `maxLines` lines.
    * Returns (linesRead, byteAfterLastLine, reachedEof). This is the
    * single byte/row accounting primitive — offsets and readers must
    * agree on it, and both split lines through the same [[LineCursor]].
    * `reachedEof` is also set when the `maxLines`-th line ends exactly at
    * EOF, so a walk that spends its budget on a segment's last line still
    * learns that segment's row count.
    *
    * `countUnterminated`: whether a final line with no trailing newline
    * counts. TRUE for closed segments and batch reads (the writer moved
    * on — that tail line is final). FALSE when the stream scans the
    * GROWING tail segment: a partially-flushed line must not be counted,
    * because the byte anchor would land mid-line in the checkpoint and
    * the next trigger would emit the line's remainder as a garbage row
    * (one event lost + two DLQ phantoms). The uncounted line is consumed
    * on a later trigger, once its newline arrives or the segment closes.
    */
  def scanLines(file: Path, fromByte: Long, maxLines: Long,
      countUnterminated: Boolean = true): (Long, Long, Boolean) = {
    val in = new LineCursor(file, fromByte)
    try {
      var lines = 0L
      var byte = fromByte
      var eof = false
      while (lines < maxLines && !eof) {
        val len = in.skipLine()
        if (len < 0) eof = true
        else if (in.terminated) { lines += 1; byte += len + 1 }
        else if (countUnterminated) { lines += 1; byte += len }
        // an uncounted unterminated tail: the next skipLine reports EOF
      }
      (lines, byte, eof || !in.hasMore)
    } finally in.close()
  }

  def countRows(dir: String, seg: String): Long =
    scanLines(Paths.get(dir, seg), 0L, Long.MaxValue)._1

  /** Log bytes one task of a streamed micro-batch reads before the batch
    * spreads over another core. Each task pays a fixed cost (stored-block
    * size estimation, projection codegen, parser setup), so splitting a
    * small batch over every core buys little but that cost; a batch of a
    * few MB in one task leaves cores idle instead. On perfbench's
    * catchup_drain (4 cores, `BENCH_PAIRS_r25_midsize.jsonl`), against
    * one partition per core: a 1.1 MB batch in one task used 12% less
    * CPU and drained as fast within noise; a 2.2 MB batch in one task
    * drained 17% slower, and in two tasks used 11% less CPU and drained
    * as fast within noise.
    * 1.5 MiB lies between the two sizes. Spark's
    * `spark.sql.files.openCostInBytes` (4 MB) sizes splits for its own
    * file scans, whose bytes cost far less to read than these JSON lines
    * cost to parse and fold; it put the 2.2 MB batch in one task.
    */
  val TaskBytes: Long = 3L << 19

  /** Split `items` (each with its size), in order, into min(`parts`,
    * items) contiguous non-empty groups: each group takes items while its
    * size stays nearest the remaining size over the remaining groups, and
    * always leaves one item for each group still to come.
    */
  private[streaming] def pack[A](items: Seq[(A, Long)], parts: Int): Seq[Seq[A]] = {
    val groups = Seq.newBuilder[Seq[A]]
    var rest = items.toIndexedSeq
    var restBytes = rest.map(_._2).sum
    var left = math.min(parts, rest.length)
    while (left > 0) {
      val target = restBytes.toDouble / left
      var n = 1
      var size = rest(0)._2
      while (n < rest.length - (left - 1) && size + rest(n)._2 / 2.0 <= target) {
        size += rest(n)._2
        n += 1
      }
      groups += rest.take(n).map(_._1)
      rest = rest.drop(n)
      restBytes -= size
      left -= 1
    }
    groups.result()
  }
}

/** Forward, '\n'-ONLY line cursor over one segment file from byte
  * `fromByte`, reading [[EventLogSource.ReadChunkBytes]] at a time. A
  * BufferedReader.readLine would also split on a lone '\r' INSIDE a
  * payload, desyncing a reader's row numbering from the planner's counts —
  * rows silently dropped from the slice and every later offset shifted.
  * A position past EOF reads as EOF.
  */
private[streaming] final class LineCursor(file: Path, fromByte: Long)
    extends java.io.Closeable {
  private val ch = FileChannel.open(file, StandardOpenOption.READ)
  ch.position(fromByte)
  private val buf = new Array[Byte](EventLogSource.ReadChunkBytes)
  private val chunk = ByteBuffer.wrap(buf)
  private var pos = 0
  private var lim = 0
  private val line = new java.io.ByteArrayOutputStream(256)

  /** Whether the line last consumed ended in '\n' (false: an EOF tail). */
  var terminated: Boolean = false

  def size: Long = ch.size()

  private def fill(): Boolean = {
    chunk.clear()
    lim = math.max(ch.read(chunk), 0)
    pos = 0
    lim > 0
  }

  /** Consume the next line through its '\n', or to EOF. Returns its
    * byte length without the '\n', or −1 at EOF; with `keep` its bytes
    * are left in `line`.
    */
  private def nextLine(keep: Boolean): Long = {
    if (keep) line.reset()
    var len = 0L
    var done = false
    terminated = false
    while (!done) {
      if (pos == lim && !fill()) done = true
      else {
        var i = pos
        while (i < lim && buf(i) != '\n') i += 1
        if (keep) line.write(buf, pos, i - pos)
        len += i - pos
        terminated = i < lim
        done = terminated
        pos = if (terminated) i + 1 else i
      }
    }
    if (terminated || len > 0) len else -1L
  }

  def skipLine(): Long = nextLine(keep = false)

  /** The next line decoded as UTF-8, or null at EOF. */
  def readLine(): String =
    if (nextLine(keep = true) < 0) null else line.toString(StandardCharsets.UTF_8)

  def hasMore: Boolean = pos < lim || fill()

  override def close(): Unit = ch.close()
}

/** Stream position: rows [0, `row`) of segment `seg` are consumed, as are
  * all earlier segments. `name` pins the segment identity across
  * retention (index shifts); `byte` is the file position of row `row`
  * (−1 = unknown, resolved by a one-time scan — legacy checkpoints).
  */
case class EventLogOffset(seg: Int, row: Long, name: String = "", byte: Long = -1L)
    extends Offset {
  override def json(): String =
    s"""{"seg":$seg,"row":$row,"name":"$name","byte":$byte}"""
}

object EventLogOffset {
  private val Re = """\{"seg":(\d+),"row":(\d+),"name":"([^"]*)","byte":(-?\d+)\}""".r
  private val LegacyRe = """\{"seg":(\d+),"row":(\d+)\}""".r
  def parse(json: String): EventLogOffset = json match {
    case Re(s, r, n, b)  => EventLogOffset(s.toInt, r.toLong, n, b.toLong)
    case LegacyRe(s, r)  => EventLogOffset(s.toInt, r.toLong) // pre-name checkpoint
    case other           => throw new IllegalArgumentException(s"bad offset: $other")
  }
}

final class EventLogTable(path: String) extends Table with SupportsRead {
  require(path != null, "option 'path' is required")
  // the log's local directory, resolved once for every listing and read:
  // `file:///x` must read /x, not a relative directory named `file:`
  private val dir: String = LocalPaths.of(path)(scheme =>
    s"EventLogSource reads its commit log from the local file system; '$path' has " +
      s"scheme '$scheme'").toString
  override def name(): String = s"eventlog:$path"
  override def schema(): StructType = EventLogSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new EventLogScan(dir,
        Option(options.get("maxRowsPerTrigger")).map(_.toLong).getOrElse(2048L),
        Option(options.get("admissionChannel")),
        Option(options.get("tailQuiesceMs")).map(_.toLong).getOrElse(-1L))
    }
}

final class EventLogScan(path: String, maxRowsPerTrigger: Long,
    admissionChannel: Option[String] = None,
    tailQuiesceMs: Long = -1L) extends Scan {
  override def readSchema(): StructType = EventLogSource.Schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new EventLogMicroBatchStream(path, maxRowsPerTrigger, admissionChannel, tailQuiesceMs)
  /** One-shot batch read of the whole log (testing / bootstrap). */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val segs = EventLogSource.segments(path)
      segs.indices.map { i =>
        EventLogSlice(path, segs(i), 0L, EventLogSource.countRows(path, segs(i)), 0L)
          : InputPartition
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory = EventLogReaderFactory
  }
}

/** Micro-batch planning: `latestOffset(start, limit)` walks forward from
  * `start` by at most the admitted row count — rate control happens here,
  * in the source, not by post-hoc filtering (Spark then checkpoints
  * exactly what was admitted). Each admitted byte is scanned once on the
  * driver, in [[EventLogSource.ReadChunkBytes]] chunks:
  *  - the walk starts at the offset's byte anchor and stops at the
  *    admitted row count, so a trigger is O(admitted), not O(log);
  *  - the walk records the row count of every closed segment it reaches
  *    EOF on, and `planInputPartitions` takes closed-segment bounds from
  *    those counts instead of scanning the segments again;
  *  - the executor reader then reads its slice once more, from the
  *    slice's byte anchor — the only other pass over those bytes.
  */
final class EventLogMicroBatchStream(path: String, maxRows: Long,
    admissionChannel: Option[String] = None,
    tailQuiesceMs: Long = -1L,
    taskBytes: Long = EventLogSource.TaskBytes)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private def segs = EventLogSource.segments(path)

  /** Row counts of CLOSED segments, by name (append-only: only the tail
    * may grow). The `latestOffset` walk records each closed segment it
    * reaches EOF on; a segment planned without that walk (the first batch
    * after a restart) is counted once here.
    */
  private val closedCounts = scala.collection.concurrent.TrieMap.empty[String, Long]

  private def countClosed(ss: IndexedSeq[String], i: Int): Long =
    if (i < ss.length - 1)
      closedCounts.getOrElseUpdate(ss(i), EventLogSource.countRows(path, ss(i)))
    else EventLogSource.countRows(path, ss(i))

  /** Resolve an offset's segment against the CURRENT listing. Name wins
    * over index: retention deleting fully-consumed earlier segments
    * shifts indices but not names. A missing CURRENT segment is
    * unrecoverable — fail loudly, never clamp onto the wrong file.
    */
  private def resolveSeg(o: EventLogOffset, ss: IndexedSeq[String]): Int =
    if (o.name.isEmpty) math.min(o.seg, ss.length - 1) // initial/legacy offset
    else {
      val i = ss.indexOf(o.name)
      if (i < 0) throw new IllegalStateException(
        s"checkpointed segment '${o.name}' no longer exists under $path — " +
          "segment retention deleted an unconsumed segment; restore it or reset " +
          "the checkpoint (consumed earlier segments may be deleted freely)")
      i
    }

  /** Byte anchor for an offset within its (resolved) segment; legacy
    * offsets without one pay a one-time scan of `row` lines.
    */
  private def resolveByte(o: EventLogOffset, seg: String): Long =
    if (o.byte >= 0) o.byte
    else EventLogSource.scanLines(Paths.get(path, seg), 0L, o.row)._2

  /** Trigger.AvailableNow: snapshot the end of log at start; batches then
    * drain rate-limited up to this cap and the query stops (S2's
    * drain-then-stop semantics on this source).
    */
  @volatile private var availableNowCap: Option[EventLogOffset] = None
  @volatile private var capCountsTail: Boolean = false

  /** Bytes of unterminated tail line the AvailableNow snapshot EXCLUDED
    * from its drain cap (0 = none). The exclusion is correct-by-default
    * (a partial flush must not be committed as an event) but must never
    * be silent: a drain that "completed" while this is non-zero left the
    * final event behind, and the operator deciding whether the writer is
    * really done — and whether `tailQuiesceMs` applies — needs to know.
    */
  @volatile var excludedTailBytes: Long = 0L

  override def prepareForTriggerAvailableNow(): Unit = {
    val ss = segs
    excludedTailBytes = 0L
    availableNowCap = Some(
      if (ss.isEmpty) EventLogOffset(0, 0L)
      else {
        // tail rule: a partially-flushed final line is not available — a
        // cap counting it could never be reached. EXCEPT, OPT-IN
        // (`tailQuiesceMs` > 0), on a QUIESCENT tail (no write for that
        // long): an S2 snapshot drain over a FINISHED log whose writer
        // ended without a trailing newline would otherwise silently drop
        // the last event. Opt-in because mtime quiescence cannot prove
        // the writer is DONE — a writer stalled mid-line past the window
        // (GC pause, fsync backlog) would get its half-flushed fragment
        // committed as an event and the resumed remainder as a second
        // garbage row. Enable only where writers are known dead or are
        // contractually line-terminated before handoff.
        val tail = Paths.get(path, ss.last)
        val quiescent = tailQuiesceMs > 0 &&
          (try System.currentTimeMillis() -
            Files.getLastModifiedTime(tail).toMillis >= tailQuiesceMs
          catch { case _: Exception => false })
        capCountsTail = quiescent
        val (rows, bytes, _) = EventLogSource.scanLines(
          tail, 0L, Long.MaxValue, countUnterminated = quiescent)
        // the conservative default silently capping PAST an unterminated
        // final line is a data-honesty hole on a finished log: surface
        // exactly what was left behind and the knob that admits it
        val left = (try Files.size(tail) catch { case _: Exception => bytes }) - bytes
        if (!quiescent && left > 0) {
          excludedTailBytes = left
          System.err.println(s"[graft] AvailableNow drain cap for $path " +
            s"excludes $left byte(s) of unterminated final line in " +
            s"${ss.last}: the writer has not terminated its last event. " +
            "If the log is finished, terminate the line or set " +
            "tailQuiesceMs to admit a quiescent tail.")
        }
        EventLogOffset(ss.length - 1, rows, ss.last, bytes)
      })
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(maxRows)

  override def initialOffset(): Offset = EventLogOffset(0, 0L)

  override def deserializeOffset(json: String): Offset = EventLogOffset.parse(json)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("use latestOffset(start, limit)")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[EventLogOffset]
    var budget = limit match {
      case r: org.apache.spark.sql.connector.read.streaming.ReadMaxRows => r.maxRows()
      case _ => Long.MaxValue
    }
    // FR-024 dynamic backpressure: the sink's health channel shrinks (or
    // zeroes — pause) this trigger's admission BEFORE the walk, so rate
    // control stays in the source and the checkpoint records exactly what
    // was admitted. Zero admission returns `start` unchanged: no batch.
    admissionChannel.foreach { ch => budget = AdmissionControl.admit(ch, budget) }
    if (budget <= 0) return s
    val ss = segs
    if (ss.isEmpty) return s
    var seg = resolveSeg(s, ss)
    // `row`/`byte` carry over ONLY when the resolved segment is the one
    // the offset was taken on. A name-less (legacy/initial) offset whose
    // index was clamped onto a DIFFERENT segment must restart at 0 — the
    // clamped segment was never consumed, and keeping s.row would
    // silently skip its first s.row rows. (Named offsets either resolve
    // to their own segment or resolveSeg has already thrown.)
    val sameSeg = if (s.name.isEmpty) seg == s.seg else true
    var row = if (sameSeg) s.row else 0L
    var byte = if (sameSeg) resolveByte(s, ss(seg)) else 0L
    var walking = true
    while (walking && budget > 0) {
      // the LAST segment may still be growing: never count (or anchor
      // past) a partially-flushed unterminated line there — unless the
      // AvailableNow snapshot already judged this tail quiescent and
      // counted its final line (the cap clamp below still bounds
      // admission at the snapshot)
      val countTail = capCountsTail &&
        availableNowCap.exists(_.name == ss(seg))
      val (taken, newByte, eof) = EventLogSource.scanLines(
        Paths.get(path, ss(seg)), byte, budget,
        countUnterminated = seg < ss.length - 1 || countTail)
      row += taken
      byte = newByte
      budget -= taken
      // a closed segment walked to EOF: `row` is its row count, so
      // planInputPartitions never scans it again
      if (eof && seg < ss.length - 1) closedCounts.putIfAbsent(ss(seg), row)
      if (budget > 0 && eof && seg < ss.length - 1) { seg += 1; row = 0L; byte = 0L }
      else walking = false // budget spent, or at the (possibly growing) tail
    }
    val next = EventLogOffset(seg, row, ss(seg), byte)
    // under Trigger.AvailableNow never admit past the start-time
    // snapshot. The cap's segment is compared by NAME re-resolved in the
    // CURRENT listing — retention of consumed earlier segments shifts
    // indices mid-drain, and a stale index compare would let rows
    // appended to the cap segment after the snapshot keep the "drain and
    // stop" query running forever.
    availableNowCap match {
      case Some(cap) =>
        val capIdx = if (cap.name.isEmpty) -1 else ss.indexOf(cap.name)
        if (capIdx < 0) s // cap segment gone/empty log: nothing admissible
        else if (seg > capIdx || (seg == capIdx && row > cap.row))
          cap.copy(seg = capIdx)
        else next
      case None => next
    }
  }

  /** The batch's segment slices in log order, each with its byte length:
    * from the slice's byte anchor to the end offset's anchor in the end
    * segment, to EOF in a closed one (a legacy end offset without an
    * anchor counts to EOF too; the length only sizes partitions).
    */
  private[graft] def slices(start: Offset, end: Offset): Seq[(EventLogSlice, Long)] = {
    val s = start.asInstanceOf[EventLogOffset]
    val e = end.asInstanceOf[EventLogOffset]
    val ss = segs
    if (ss.isEmpty) return Nil
    val sIdx = resolveSeg(s, ss)
    val eIdx = resolveSeg(e, ss)
    (sIdx to eIdx).flatMap { i =>
      // same rule as latestOffset: a clamped name-less start is NOT the
      // segment the offset was taken on — read it from row 0
      val sameAsStart = i == sIdx &&
        (if (s.name.isEmpty) sIdx == s.seg else ss(i) == s.name)
      val from = if (sameAsStart) s.row else 0L
      val fromByte = if (sameAsStart) resolveByte(s, ss(i)) else 0L
      val until = if (i == eIdx) e.row else countClosed(ss, i)
      val untilByte =
        if (i == eIdx && e.byte >= 0) e.byte else Files.size(Paths.get(path, ss(i)))
      if (until > from) Some(EventLogSlice(path, ss(i), from, until, fromByte) -> (untilByte - fromByte))
      else None
    }
  }

  /** The batch's slices packed, in log order, into
    * P = clamp(ceil(B / taskBytes), 1, defaultParallelism) partitions of
    * about B/P bytes each, B the batch's log bytes: a batch of at most
    * `taskBytes` runs in one task per stage, and one of at least that
    * many bytes per core spreads over every core. A slice is never split;
    * the reader chains a partition's slices.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val sized = slices(start, end)
    val bytes = sized.map(_._2).sum
    val parts = math.max(1L, math.min((bytes + taskBytes - 1) / taskBytes,
      SparkSession.active.sparkContext.defaultParallelism.toLong)).toInt
    EventLogSource.pack(sized, parts).map(EventLogSlices(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = EventLogReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Rows [`from`, `until`) of segment `seg`, read from byte `fromByte`: a
  * partition of a batch read (one per segment), and one link of a
  * micro-batch's [[EventLogSlices]].
  */
final case class EventLogSlice(dir: String, seg: String, from: Long, until: Long,
    fromByte: Long) extends InputPartition

/** Consecutive slices of a micro-batch, read one after another. */
final case class EventLogSlices(slices: Seq[EventLogSlice]) extends InputPartition

object EventLogReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case slice: EventLogSlice => new SliceReader(slice)
      case EventLogSlices(slices) => new PartitionReader[InternalRow] {
        private val rest = slices.iterator
        private var cur: SliceReader = null
        override def next(): Boolean = {
          var has = cur != null && cur.next()
          while (!has && rest.hasNext) {
            if (cur != null) cur.close()
            cur = new SliceReader(rest.next())
            has = cur.next()
          }
          has
        }
        override def get(): InternalRow = cur.get()
        override def close(): Unit = if (cur != null) cur.close()
      }
    }
}

private final class SliceReader(slice: EventLogSlice) extends PartitionReader[InternalRow] {
  // seek straight to the slice: no O(from) line-skip per batch
  private val in = new LineCursor(Paths.get(slice.dir, slice.seg), slice.fromByte)
  require(slice.fromByte <= in.size,
    s"byte offset ${slice.fromByte} past EOF of ${slice.seg}")
  private val segment = UTF8String.fromString(slice.seg)
  private var pos = slice.from
  private var current: String = _
  override def next(): Boolean =
    if (pos < slice.until) {
      current = in.readLine()
      if (current == null) false else { pos += 1; true }
    } else false
  override def get(): InternalRow =
    InternalRow(UTF8String.fromString(current), segment, pos - 1)
  override def close(): Unit = in.close()
}
