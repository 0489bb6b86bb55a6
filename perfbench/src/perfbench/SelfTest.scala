package perfbench

/** Tests of the benchmark's own generator and LWW fold, which the CDC
  * correctness check depends on. Run with `python3 perfbench/run.py
  * --selftest`; exits non-zero on the first failed check.
  */
object SelfTest {
  private var checks = 0

  private def check(what: String)(ok: Boolean): Unit = {
    checks += 1
    if (!ok) {
      System.err.println(s"FAIL $what")
      sys.exit(1)
    }
    println(s"ok   $what")
  }

  private def ev(id: Long, ts: Long, key: Long, t: String, v: String = "1.00",
      bad: Option[String] = None) = Ev(id, ts, key, t, v, bad)

  def main(args: Array[String]): Unit = {
    // ---- the fold, on hand-written cases
    val f = new ExpectedState
    f.addAll(Seq(
      ev(0, 100, 1, "signup"),
      ev(1, 90, 1, "purchase"), // delivered late: older than key 1's newest
      ev(2, 200, 2, "signup"),
      ev(3, 200, 2, "view"), // ties key 2's ts; higher event_id wins
      ev(4, 300, 3, "signup"),
      ev(5, 310, 3, "error"), // delete
      ev(6, 400, 4, "signup", bad = Some("bad_type"))))
    check("late event does not overwrite newer state")(f.state(1).eventId == 0)
    check("ts tie is broken by event_id")(f.state(2).eventId == 3)
    check("delete leaves a soft-deleted row")(f.state(3).deleted && f.state(3).eventId == 5)
    check("malformed event goes to the DLQ count, not the state")(
      f.dlq == 1 && !f.state.contains(4) && f.events == 7)
    check("per-key event counts skip malformed events")(
      f.eventsPerKey(1) == 2 && f.eventsPerKey(3) == 2 && !f.eventsPerKey.contains(4))

    // ---- the generator
    val a = new CdcGen(42).take(100000)
    val b = new CdcGen(42).take(100000)
    val c = new CdcGen(43).take(1000)
    check("same seed gives the same events")(a.map(_.line).sameElements(b.map(_.line)))
    check("another seed gives other events")(!a.take(1000).map(_.line).sameElements(c.map(_.line)))
    check("event ids are unique")(a.map(_.eventId).distinct.length == a.length)

    val valid = a.filter(_.malformed.isEmpty)
    def share(p: Ev => Boolean) = valid.count(p).toDouble / valid.length
    val ins = share(_.eventType == "signup")
    val upd = share(e => Set("purchase", "view", "click")(e.eventType))
    val del = share(_.eventType == "error")
    check(f"op mix 70/20/10 (got $ins%.3f/$upd%.3f/$del%.3f)")(
      math.abs(ins - 0.7) < 0.01 && math.abs(upd - 0.2) < 0.01 && math.abs(del - 0.1) < 0.01)
    val bad = a.count(_.malformed.nonEmpty).toDouble / a.length
    check(f"about 0.5%% malformed (got $bad%.4f)")(bad > 0.003 && bad < 0.007)
    check("every malformed kind occurs")(
      a.flatMap(_.malformed).toSet == Set("bad_type", "out_of_range", "null_value", "truncated"))
    check("a truncated envelope is not a complete JSON object")(
      a.filter(_.malformed.contains("truncated")).forall(!_.line.endsWith("}")))

    // out of order: an event older than an earlier-delivered event of its key
    val newest = scala.collection.mutable.HashMap.empty[Long, Long]
    var withHistory, late = 0
    valid.foreach { e =>
      newest.get(e.userId).foreach { n =>
        withHistory += 1
        if (e.tsUs < n) late += 1
      }
      newest.update(e.userId, math.max(e.tsUs, newest.getOrElse(e.userId, Long.MinValue)))
    }
    val lateShare = late.toDouble / withHistory
    check(f"about 5%% of events with history arrive out of order (got $lateShare%.4f)")(
      lateShare > 0.04 && lateShare < 0.06)

    // Zipf skew: updates and deletes concentrate on few keys
    val touched = valid.filter(_.eventType != "signup").groupBy(_.userId).values.map(_.length)
      .toSeq.sortBy(-_)
    val top = touched.take(math.max(1, touched.size / 100)).sum.toDouble / touched.sum
    check(f"updates and deletes are skewed: top 1%% of keys take $top%.3f")(top > 0.1)

    // the fold against a brute-force max over every valid event of a key
    val fold = new ExpectedState
    fold.addAll(a)
    val brute = valid.groupBy(_.userId).map { case (k, es) =>
      k -> es.maxBy(e => (e.tsUs, e.eventId)).eventId
    }
    check("fold equals the brute-force LWW winner per key")(
      brute.size == fold.state.size && brute.forall { case (k, id) => fold.state(k).eventId == id })

    println(s"$checks checks passed")
  }
}
