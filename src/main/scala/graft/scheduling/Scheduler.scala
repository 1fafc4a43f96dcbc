package graft.scheduling

import scala.collection.mutable

import graft.engine.Engine

/** Wall-clock deferred-activation scheduler — the engine-driver analog
  * of the reference's scheduling module (`realtime_scheduler.rs:19-160`):
  * polling sources and periodic domain ticks defer their work onto a
  * priority queue instead of busy-polling, and activations (thunks) and
  * domain-tick events run once their deadline passes. The event loop
  * calls [[step]] each iteration and may sleep [[untilNext]] when idle —
  * the reference's polling-source backoff (`realtime_scheduler.rs:10-17`). */
final class RealtimeScheduler(clock: () => Long = () => System.currentTimeMillis()) {

  private final case class Timed(at: Long, action: Option[() => Unit], tick: Boolean)
  private val queue = mutable.PriorityQueue.empty[Timed](Ordering.by(-_.at))

  /** True when at least one queued activation is ready to run
    * (the reference scheduler's `has_pending`). */
  def hasPending: Boolean = queue.headOption.exists(_.at <= clock())

  /** Millis until the earliest queued activation (None when empty; 0 when
    * overdue) — `until_next`, `realtime_scheduler.rs:41-49`. */
  def untilNext: Option[Long] =
    queue.headOption.map(t => math.max(0L, t.at - clock()))

  /** Schedule a thunk at an absolute wall-clock time (`schedule_at`). */
  def scheduleAt(atMillis: Long)(action: => Unit): Unit =
    queue.enqueue(Timed(atMillis, Some(() => action), tick = false))

  /** Schedule a thunk right away (`schedule_now`). */
  def scheduleNow(action: => Unit): Unit = scheduleAt(clock())(action)

  /** Schedule a thunk after a delay (`schedule_after`). */
  def scheduleAfter(delayMillis: Long)(action: => Unit): Unit =
    scheduleAt(clock() + delayMillis)(action)

  /** Schedule a domain tick at an absolute time (`event_at` with
    * `Event::Tick`, `realtime_scheduler.rs:75-107`). */
  def tickAt(atMillis: Long): Unit =
    queue.enqueue(Timed(atMillis, None, tick = true))

  /** Schedule recurring domain ticks every `periodMillis` (the server's
    * realtime-domain drive loop). */
  def tickEvery(periodMillis: Long): Unit = {
    def arm(at: Long): Unit =
      queue.enqueue(Timed(at, Some(() => arm(at + periodMillis)), tick = true))
    arm(clock() + periodMillis)
  }

  /** Run every due activation against the engine; tick events advance the
    * engine's clock by one epoch (`Request::Tick`). Returns the number of
    * activations run. */
  def step(engine: Engine): Int = {
    var n = 0
    while (hasPending) {
      val t = queue.dequeue()
      if (t.tick) engine.handle(graft.server.Request.Tick)
      t.action.foreach(_.apply())
      n += 1
    }
    n
  }
}
