package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One-slot-per-(session, call-site) parking for eager localCheckpoints a
  * method cannot release in-method because its RETURNED lazy frame still
  * reads them (a declared query hands the caller an unexecuted plan, so
  * releasing before the caller collects would drop blocks the plan
  * needs). Parking the current invocation's checkpoints retires the
  * PREVIOUS invocation's occupants via [[LlmOps.releaseCheckpoint]], so
  * retained block-store copies are bounded at one invocation per live
  * session per call site — instead of one per invocation, GC-reliant on
  * the ContextCleaner (the round-15 generalization of the ktruss fix;
  * Verify runs 280+ queries in one session and Bench runs 3 repeats per
  * query, so per-invocation retention is a real block-store tax).
  *
  * CONSUMPTION-AWARE retirement (round 16): the "returned frame is
  * consumed before the same call site runs again" contract used to be
  * enforced only by convention — a caller that constructed two frames
  * from one call site before collecting the first would have had the
  * first's blocks unpersisted under it (a localCheckpoint is NOT
  * recomputable; execution would fail on missing blocks). Parking now
  * registers a [[QueryExecutionListener]] per session that watches every
  * executed plan's LogicalRDD leaves: a slot is marked CONSUMED when any
  * execution (success or failure — the blocks were read either way)
  * touches one of its checkpoint RDD ids. Retirement releases a previous
  * occupant immediately only when it is already consumed; otherwise the
  * slot moves to a deferred list and is released the moment the listener
  * observes its first execution. Never-executed abandons are swept with
  * their stopped session. Listener events are asynchronous, so a
  * consumed-but-not-yet-observed slot may briefly defer — the bound
  * remains one live occupant per call site plus the in-flight event lag.
  *
  * Tags are unique per call site (a shared body such as
  * Graph.labelPropagate parks under its caller's tag), so two different
  * operators never retire each other's slots; no single declared query invokes the same parked
  * call site twice within one composite plan (the louvain two-level
  * sweep, which does, keeps its own per-level lifecycle and does not
  * park). Stopped sessions are swept on every park — their blocks died
  * with the context, removing the entry just drops the dead plan
  * reference. */
object CheckpointPark {

  private final class Slot(val frames: Seq[DataFrame], val rddIds: Set[Int]) {
    @volatile var consumed = false
    // single-owner idempotent release: park and the async listener can
    // both decide to retire a slot — compareAndSet makes whoever wins
    // the only unpersister (a double unpersist is harmless, but the
    // single owner keeps the invariant auditable)
    private val released = new java.util.concurrent.atomic.AtomicBoolean(false)
    def release(): Unit =
      if (released.compareAndSet(false, true))
        frames.foreach(LlmOps.releaseCheckpoint)
  }

  private val slots = new ConcurrentHashMap[(SparkSession, String), Slot]()
  // retired occupants not yet observed executing: released on first
  // observed execution (or swept with their stopped session)
  private val deferred = new ConcurrentHashMap[Slot, SparkSession]()
  private val listening =
    java.util.Collections.newSetFromMap(new ConcurrentHashMap[SparkSession, java.lang.Boolean]())

  private def checkpointRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet

  /** Mark every slot whose checkpoint RDDs appear in `qe`'s plan as
    * consumed, and release any DEFERRED slot the execution touched. */
  private def observe(session: SparkSession, qe: QueryExecution): Unit = {
    val ids = qe.analyzed.collectLeaves().collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }.toSet
    if (ids.isEmpty) return
    slots.forEach { (k, slot) =>
      if ((k._1 eq session) && slot.rddIds.exists(ids)) slot.consumed = true
    }
    val it = deferred.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if ((e.getValue eq session) && e.getKey.rddIds.exists(ids)) {
        it.remove()
        e.getKey.release()
      }
    }
  }

  private def ensureListener(s: SparkSession): Unit =
    if (listening.add(s)) {
      s.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
            durationNs: Long): Unit = observe(s, qe)
        override def onFailure(funcName: String, qe: QueryExecution,
            exception: Exception): Unit = observe(s, qe)
      })
    }

  private def sweepStopped(): Unit = {
    val it = slots.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
    val dit = deferred.values().iterator()
    while (dit.hasNext) if (dit.next().sparkContext.isStopped) dit.remove()
    val lit = listening.iterator()
    while (lit.hasNext) if (lit.next().sparkContext.isStopped) lit.remove()
  }

  /** Spec probe: retired-but-unreleased occupants currently deferred. */
  private[ops] def deferredCount: Int = deferred.size()

  // serializes the retire sequence below: two concurrent parks on one tag
  // must not both read the same prev (the loser's slot would be
  // overwritten in `slots` without ever entering `deferred` — leaked
  // until the session sweep). Contention is nil (one park per query
  // invocation), so a plain lock beats weaving the deferred-before-remove
  // ordering through a compute() remapping.
  private val parkLock = new Object

  /** Park this invocation's retained checkpoints under `tag`, retiring
    * the previous occupants of (frames.head.sparkSession, tag). */
  def park(tag: String, frames: DataFrame*): Unit = {
    require(frames.nonEmpty, "park needs at least one frame")
    val s = frames.head.sparkSession
    sweepStopped()
    ensureListener(s)
    val slot = new Slot(frames.toSeq, frames.flatMap(checkpointRddIds).toSet)
    val key = (s, tag)
    // ordering note: the retiring slot enters `deferred` BEFORE it leaves
    // `slots`, so an asynchronous observe() can never land in the window
    // where the slot is in neither map (which would orphan it until the
    // session sweep). Slot.release() is idempotent, so observe() and the
    // consumed-check below can both fire without double-unpersisting.
    parkLock.synchronized {
      val prev = slots.get(key)
      if (prev != null) deferred.put(prev, s)
      slots.put(key, slot)
      if (prev != null && prev.consumed) {
        deferred.remove(prev)
        prev.release()
      }
    }
  }
}
