package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One change event as the generator emits it. `malformed` is the DLQ
  * class the generator meant (None for a valid event); `line` is the JSON
  * commit-log envelope the replication job reads.
  */
final case class Ev(eventId: Long, tsUs: Long, userId: Long, eventType: String,
    value: String, malformed: Option[String]) {

  def line: String = malformed match {
    // cut mid-record: from_json yields no key, so the job must DLQ it
    case Some("truncated") => s"""{"event_id":$eventId,"ts":${tsUs * 1000L},"user_"""
    case _ =>
      val v = if (value == null) "null" else value
      s"""{"event_id":$eventId,"ts":${tsUs * 1000L},"user_id":$userId,""" +
        s""""event_type":"$eventType","value":$v,"props":"p${eventId % 97}"}"""
  }
}

/** Expected final per-key row: the LWW winner by (ts_us, event_id). */
final case class KeyState(eventId: Long, tsUs: Long, eventType: String, value: Double,
    deleted: Boolean)

/** Seeded CDC event generator.
  *
  * Op mix 70% INSERT / 20% UPDATE / 10% DELETE, mapped onto the
  * replication job's default event types: INSERT is `signup`, UPDATE is
  * one of `purchase`/`view`/`click`, DELETE is `error` (the default
  * `deleteType`). UPDATE and DELETE pick their key with Zipf skew over the
  * keys inserted so far (rank 0 is the first key inserted). Every INSERT
  * takes a fresh key.
  *
  * About 5% of events on a key that already has history are delivered out
  * of order (their ts is older than the key's newest event), 1% tie the
  * newest ts (event_id decides), and 0.5% are malformed in one of four
  * ways the job must send to the DLQ.
  */
final class CdcGen(seed: Long) {
  private val rng = new SplittableRandom(seed)
  private var nextId = 0L
  private var nextTs = 1700000000000000L
  private var keysInserted = 0L
  private val newestTs = mutable.HashMap.empty[Long, Long]

  private val updateTypes = Array("purchase", "view", "click")
  private val badKinds = Array("bad_type", "out_of_range", "null_value", "truncated")

  /** Zipf(s = 1) rank in [0, n) by inverting the continuous law. */
  private def zipfRank(n: Long): Long =
    math.min(n - 1, (math.exp(rng.nextDouble() * math.log(n + 1.0)) - 1.0).toLong)

  private def value(): String = {
    val cents = rng.nextInt(15000)
    val c = cents % 100
    s"${cents / 100}.${if (c < 10) "0" else ""}$c"
  }

  def next(): Ev = {
    val id = nextId
    nextId += 1
    nextTs += 10L
    val op = rng.nextInt(100)
    val isInsert = op < 70 || keysInserted == 0
    val key: Long =
      if (isInsert) {
        keysInserted += 1
        keysInserted - 1
      } else zipfRank(keysInserted)
    val eventType =
      if (isInsert) "signup"
      else if (op < 90) updateTypes(rng.nextInt(3))
      else "error"
    val order = rng.nextInt(1000)
    val ts = newestTs.get(key) match {
      case Some(newest) if order < 50 => newest - 1 - rng.nextInt(5000)
      case Some(newest) if order < 60 => newest
      case _ => nextTs
    }
    if (rng.nextInt(1000) < 5) {
      val kind = badKinds(rng.nextInt(badKinds.length))
      kind match {
        case "bad_type" => Ev(id, ts, key, "bogus", value(), Some(kind))
        case "out_of_range" => Ev(id, ts, key, eventType, "999.5", Some(kind))
        case "null_value" => Ev(id, ts, key, eventType, null, Some(kind))
        case _ => Ev(id, ts, key, eventType, value(), Some(kind))
      }
    } else {
      newestTs.update(key, math.max(ts, newestTs.getOrElse(key, Long.MinValue)))
      Ev(id, ts, key, eventType, value(), None)
    }
  }

  def take(n: Int): Array[Ev] = Array.fill(n)(next())
}

/** The benchmark's own LWW fold over (ts_us, event_id). It deliberately
  * does not call the program's `Lww`: it is the reference the target
  * state is checked against.
  */
final class ExpectedState {
  val state = mutable.HashMap.empty[Long, KeyState]
  val eventsPerKey = mutable.HashMap.empty[Long, Int]
  var events = 0L
  var dlq = 0L

  def add(e: Ev): Unit = {
    events += 1
    e.malformed match {
      case Some(_) => dlq += 1
      case None =>
        eventsPerKey.update(e.userId, eventsPerKey.getOrElse(e.userId, 0) + 1)
        val wins = state.get(e.userId).forall(s =>
          e.tsUs > s.tsUs || (e.tsUs == s.tsUs && e.eventId > s.eventId))
        if (wins) state.update(e.userId,
          KeyState(e.eventId, e.tsUs, e.eventType, e.value.toDouble, e.eventType == "error"))
    }
  }

  def addAll(es: Iterable[Ev]): Unit = es.foreach(add)
}

object Segments {
  /** Land a segment atomically: the source lists only `*.log`, so a
    * segment becomes visible complete or not at all.
    */
  def land(dir: Path, index: Int, events: Array[Ev]): Unit = {
    val sb = new java.lang.StringBuilder(events.length * 110)
    events.foreach(e => sb.append(e.line).append('\n'))
    val name = name0(index)
    val tmp = dir.resolve(name + ".tmp")
    Files.write(tmp, sb.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def segmentNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).filter(_.endsWith(".log")).toSeq.sorted
    finally s.close()
  }

  def name0(index: Int): String = {
    val n = index.toString
    "seg-" + "0" * (8 - n.length) + n + ".log"
  }
}
