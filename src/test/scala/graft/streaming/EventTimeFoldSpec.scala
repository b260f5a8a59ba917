package graft.streaming

import java.sql.Timestamp

import graft.SourceScan.occurrences
import graft.streaming.EventTimeFold.{Buf, Step}
import org.scalatest.funsuite.AnyFunSuite

/** The pure event-time policy, with no Spark session: release rule, fold
  * order, retirement and timers; the transformWithState Holt registry;
  * and a `src/main` scan that keeps the policy in its one owner. */
class EventTimeFoldSpec extends AnyFunSuite {

  case class Ev(ts: Long, id: Int)

  /** Folds ids in (ts, id) order and emits one row per folded id. Key
    * "day" retires at 100 with a close row listing its ids; key "life"
    * never retires. */
  private val f = EventTimeFold[String, Ev, List[Int], String](
    Nil, _.ts, Ordering.by((e: Ev) => (e.ts, e.id)),
    k => if (k == "day") Some(100L) else None,
    (_, s, ready) => (s ++ ready.map(_.id), ready.map(e => s"fold ${e.id}")),
    (k, s) => Some(s"close $k ${s.mkString(",")}"))

  test("out-of-order input folds in sort order, across invocations") {
    val a = f.step("life", None, Iterator(Ev(5, 2), Ev(3, 1), Ev(5, 1), Ev(4, 0)), 10L)
    assert(a.state === Some(Buf(List(1, 0, 1, 2), Nil)))
    assert(a.out === List("fold 1", "fold 0", "fold 1", "fold 2"))
    // a late-but-in-contract row buffered earlier folds before a new one
    val b = f.step("life", None, Iterator(Ev(30, 9), Ev(20, 3)), 25L)
    val c = f.step("life", b.state, Iterator(Ev(26, 1)), 40L)
    assert(b.out === List("fold 3"))
    assert(c.out === List("fold 1", "fold 9"))
    assert(c.state === Some(Buf(List(3, 1, 9), Nil)))
  }

  test("a row at ts == wm stays pending and arms wm + 1") {
    val a = f.step("day", None, Iterator(Ev(10, 0), Ev(9, 1)), 10L)
    assert(a === Step(Some(Buf(List(1), List(Ev(10, 0)))), Some(11L), List("fold 1")))
    val b = f.step("day", a.state, Iterator.empty, 11L)
    assert(b === Step(Some(Buf(List(1, 0), List.empty[Ev])), Some(100L), List("fold 0")))
  }

  test("retirement at exactly wm == retireAt emits the close row once and removes the state") {
    val idle = Some(Buf(List(7), List.empty[Ev]))
    assert(f.step("day", idle, Iterator.empty, 99L) ===
      Step(Some(Buf(List(7), List.empty[Ev])), Some(100L), Nil))
    assert(f.step("day", idle, Iterator.empty, 100L) ===
      Step(None, None, List("close day 7")))
    // a pending row holds retirement back until it folds
    val held = f.step("day", idle, Iterator(Ev(100, 5)), 100L)
    assert(held === Step(Some(Buf(List(7), List(Ev(100, 5)))), Some(101L), Nil))
    assert(f.step("day", held.state, Iterator.empty, 101L) ===
      Step(None, None, List("fold 5", "close day 7,5")))
  }

  test("timers: wm + 1 while pending, max(retireAt, wm + 1) when idle, none without retireAt") {
    assert(f.step("day", None, Iterator(Ev(50, 0)), 10L).timer === Some(11L))
    assert(f.step("day", None, Iterator(Ev(5, 0)), 10L).timer === Some(100L))
    assert(f.step("day", None, Iterator(Ev(50, 0)), 60L).timer === Some(100L))
    assert(f.step("life", None, Iterator(Ev(50, 0)), 10L).timer === Some(11L))
    val life = f.step("life", None, Iterator(Ev(5, 0)), 1000L)
    assert(life.timer === None)
    assert(life.state === Some(Buf(List(0), Nil)), "a key with no retireAt never retires")
  }

  test("day keys are UTC midnights in epoch space") {
    val d = EventTimeFold.day(new Timestamp(86400000L * 3 + 5))
    assert(d.getTime === 86400000L * 3)
    assert(EventTimeFold.dayEnd(d) === 86400000L * 4)
    assert(EventTimeFold.day(new Timestamp(-1L)).getTime === -86400000L)
  }

  private val day0 = new Timestamp(0L)
  private val dayEnd = 86400000L
  private def holt(prev: Option[StreamOps.TwsHoltBuf], wm: Long, fromTimer: Boolean,
      rows: StreamOps.CusumPend*) =
    StreamOps.holtTws(("t", day0), prev, rows.iterator, wm, fromTimer)

  test("Holt retires at dayEnd + 1, not at dayEnd, with one live timer") {
    val (s0, del0, reg0, out0) = holt(None, dayEnd - 10,
      fromTimer = false, StreamOps.CusumPend(1000L, 1L, 50L))
    assert(out0.map(_.level_u) === List(50L))
    assert(s0.map(_.timer_ms) === Some(Some(dayEnd + 1)))
    assert((del0, reg0) === (None, Some(dayEnd + 1)))
    // wm == dayEnd: still live, and its armed timer is kept as is
    val (s1, del1, reg1, _) = holt(s0, dayEnd, fromTimer = false)
    assert(s1 === s0)
    assert((del1, reg1) === (None, None))
    // input at wm == dayEnd + 1 retires and deletes the live timer
    assert(holt(s0, dayEnd + 1, fromTimer = false) ===
      ((None, Some(dayEnd + 1), None, Nil)))
    // the timer firing at dayEnd + 1 retires; the runtime consumed it
    assert(holt(s0, dayEnd + 1, fromTimer = true) === ((None, None, None, Nil)))
  }

  test("transformWithState Holt: a stale timer after retirement returns nothing and does not resurrect state") {
    assert(holt(None, dayEnd + 5000, fromTimer = true) === ((None, None, None, Nil)))
    assert(holt(None, 10L, fromTimer = true) === ((None, None, None, Nil)))
  }

  test("EventTimeFold is the one owner of the buffered detectors' timers, watermark reads and day keys") {
    assert(occurrences("setTimeoutTimestamp(") ===
      Map("EventTimeFold.scala" -> 1, "StreamOps.scala" -> 6),
      "fold buffered detectors with EventTimeFold.run (StreamOps keeps as-of 2, " +
        "silence 1, top-k 1, forward as-of 2)")
    assert(!occurrences("getCurrentWatermarkMs").contains("FlowLogStream.scala"))
    assert(!occurrences("flatMapGroupsWithState").contains("FlowLogStream.scala"))
    assert(occurrences("86400000") ===
      Map("EventTimeFold.scala" -> 1, "StreamOps.scala" -> 1),
      "bucket days with EventTimeFold.day (StreamOps keeps the top-k window width)")
  }
}
