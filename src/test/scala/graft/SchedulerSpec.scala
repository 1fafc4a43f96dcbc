package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Engine
import graft.scheduling.RealtimeScheduler

/** Scheduler module parity (`src/scheduling/realtime_scheduler.rs`):
  * deadline-gated activations and ticks. */
class SchedulerSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("empty and immediately-due schedules (scheduling_test.rs:1-38)") {
    var now = 0L
    val sched = new RealtimeScheduler(clock = () => now)
    // test_schedule_now: empty queue has nothing pending and no deadline.
    assert(!sched.hasPending)
    assert(sched.untilNext.isEmpty)
    // A zero-delay tick is due immediately.
    sched.tickAt(0L)
    assert(sched.hasPending)
    val engine = new Engine(spark)
    assert(sched.step(engine) == 1)
    assert(engine.currentFrontier == 1L)
    assert(sched.untilNext.isEmpty)
  }

  test("realtime scheduler runs due activations and domain ticks") {
    var now = 1000L
    val sched = new RealtimeScheduler(clock = () => now)
    val engine = new Engine(spark)

    var ran = Vector.empty[String]
    sched.scheduleAfter(50L) { ran :+= "a" }
    sched.scheduleAt(1200L) { ran :+= "b" }
    sched.tickAt(1100L)

    assert(!sched.hasPending)
    assert(sched.untilNext.contains(50L))
    assert(sched.step(engine) == 0)

    now = 1060L // "a" due
    assert(sched.hasPending)
    assert(sched.step(engine) == 1)
    assert(ran == Vector("a") && engine.currentFrontier == 0L)

    now = 1250L // tick (1100) and "b" (1200) both due, in deadline order
    assert(sched.step(engine) == 2)
    assert(ran == Vector("a", "b"))
    assert(engine.currentFrontier == 1L) // the tick advanced one epoch
  }

  test("recurring ticks re-arm themselves") {
    var now = 0L
    val sched = new RealtimeScheduler(clock = () => now)
    val engine = new Engine(spark)
    sched.tickEvery(10L)
    now = 35L // three periods elapsed
    // Each step drains due ticks, each tick re-arms the next one (already
    // due at this clock), so repeated stepping advances three epochs.
    var total = 0
    var n = sched.step(engine)
    while (n > 0) { total += n; n = sched.step(engine) }
    assert(total == 3)
    assert(engine.currentFrontier == 3L)
    assert(sched.untilNext.contains(5L)) // next tick armed at t=40
  }
}
