package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder, KeyValueGroupedDataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The event-time policy shared by the buffered, order-sensitive stream
  * detectors (FlowLogStream's port-scan, SYN-scan, beacon and ECS folds;
  * StreamOps' cusum, drawdown, Holt and Bollinger folds):
  *
  *  - new rows join the key's pending buffer, and only the rows STRICTLY
  *    below the watermark fold (`tsMs(p) < wm` — an equal-timestamp row
  *    can still arrive), in the operator's own total `order`, into its
  *    summary;
  *  - a key RETIRES once nothing is pending and the watermark has reached
  *    `retireAt(key)`: it emits its `close` row (if any) and its state is
  *    removed. Day-scoped keys retire at their day end; a key with no
  *    `retireAt` keeps its summary for its whole life (a drift detector's
  *    baseline is its history);
  *  - the timer is `wm + 1` while rows are pending (the fold resumes on the
  *    next watermark advance even if the key goes silent), else
  *    `max(retireAt, wm + 1)` — an idle key must arm its retirement or it
  *    is never re-invoked and never retires — and none for a key with no
  *    `retireAt` and nothing pending.
  *
  * State per key is the summary plus the pending rows, which the
  * watermark delay bounds (never the stream length). [[step]] is the pure
  * policy; [[run]] is the one `flatMapGroupsWithState` adapter that reads
  * the watermark and writes state and timers.
  *
  * @param zero     the summary of a key that has folded nothing
  * @param tsMs     a pending row's event time in ms (the release rule)
  * @param order    the fold order; rows equal under it must be
  *                 interchangeable for the fold, so the output is unique
  * @param retireAt the key's retirement watermark, if it ever retires
  * @param fold     folds the ready rows (already in `order`) into the
  *                 summary, returning the new summary and the rows to emit
  * @param close    the row a retiring key emits, if any
  */
final case class EventTimeFold[K, P, S, O](
    zero: S,
    tsMs: P => Long,
    order: Ordering[P],
    retireAt: K => Option[Long],
    fold: (K, S, List[P]) => (S, List[O]),
    close: (K, S) => Option[O] = (_: K, _: S) => None) {

  /** One invocation of the policy: `prev` is the key's state (None for a
    * new key), `rows` its new rows, `wm` the current watermark. */
  def step(key: K, prev: Option[EventTimeFold.Buf[S, P]], rows: Iterator[P],
      wm: Long): EventTimeFold.Step[S, P, O] = {
    val buf = prev.getOrElse(EventTimeFold.Buf(zero, Nil))
    val (ready, pending) = (buf.pending ++ rows).partition(tsMs(_) < wm)
    val (summary, out) = fold(key, buf.summary, ready.sorted(order))
    val retire = retireAt(key)
    if (pending.isEmpty && retire.exists(wm >= _))
      EventTimeFold.Step(None, None, out ++ close(key, summary))
    else
      EventTimeFold.Step(Some(EventTimeFold.Buf(summary, pending)),
        if (pending.nonEmpty) Some(wm + 1) else retire.map(math.max(_, wm + 1)),
        out)
  }
}

object EventTimeFold {

  /** A key's state: the folded summary beside the not-yet-ready rows. */
  final case class Buf[S, P](summary: S, pending: List[P])

  /** The next state (None = retire: remove it), the next event-time timer
    * (None = arm none) and the rows to emit. */
  final case class Step[S, P, O](state: Option[Buf[S, P]], timer: Option[Long],
      out: List[O])

  private val DayMs = 86400000L

  /** The UTC day key of an event time: midnight of its day, derived in
    * epoch space (fixed 86 400 s days), never through JVM-default-zone
    * calendar conversions — a non-UTC JVM zone or a DST transition would
    * shear the stream's day buckets away from the batch twins', which
    * bucket with the UTC session zone. */
  def day(t: java.sql.Timestamp): java.sql.Timestamp =
    new java.sql.Timestamp(Math.floorDiv(t.getTime, DayMs) * DayMs)

  /** The end (exclusive, in ms) of a [[day]] key's day. */
  def dayEnd(day: java.sql.Timestamp): Long = day.getTime + DayMs

  /** Runs `f` over a keyed stream in Append mode with event-time timers;
    * `pend` projects an input row to its pending form. */
  def run[K, I, P, S, O](grouped: KeyValueGroupedDataset[K, I],
      f: EventTimeFold[K, P, S, O])(pend: I => P)(
      implicit bufEnc: Encoder[Buf[S, P]], outEnc: Encoder[O]): Dataset[O] =
    grouped.flatMapGroupsWithState[Buf[S, P], O](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      (key: K, rows: Iterator[I], state: GroupState[Buf[S, P]]) =>
        val next = f.step(key, state.getOption, rows.map(pend),
          state.getCurrentWatermarkMs())
        next.state match {
          case Some(b) =>
            state.update(b)
            next.timer.foreach(t => state.setTimeoutTimestamp(t))
          case None => state.remove()
        }
        next.out.iterator
    }
}
