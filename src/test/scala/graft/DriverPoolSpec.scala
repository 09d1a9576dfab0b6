package graft

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.util.{Failure, Random, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

/** [[DriverPool.runAll]] cannot leak work. Seeded random schedules —
  * task count, pool size, task durations — each inject ONE fault: a
  * task throwing, or an interrupt of the calling thread. Whatever the
  * schedule, the call rethrows the root cause, and once it returns no
  * task is running and none starts. Spark-free. */
class DriverPoolSpec extends AnyFunSuite {

  test("runAll over 200 random schedules with one failure or caller " +
      "interrupt: root cause rethrown, no task runs or starts after return") {
    var interrupted = 0
    var interruptSchedules = 0
    (0 until 200).foreach { seed =>
      val rng = new Random(seed)
      val nTasks = 2 + rng.nextInt(15)
      val threads = 1 + rng.nextInt(8)
      val interrupt = rng.nextBoolean()
      val failAt = rng.nextInt(nTasks)
      val durations = Seq.fill(nTasks)(1 + rng.nextInt(15))
      val interruptAfter = rng.nextInt(5)
      val injected = new IllegalStateException(s"injected, seed $seed")
      val running = new AtomicInteger(0)
      val returned = new AtomicBoolean(false)
      // tasks seen starting or still running after runAll returned
      val late = new AtomicInteger(0)
      val tasks = (0 until nTasks).map { i => () =>
        if (returned.get) late.incrementAndGet()
        running.incrementAndGet()
        try {
          Thread.sleep(durations(i))
          if (!interrupt && i == failAt) throw injected
          i
        } finally {
          if (returned.get) late.incrementAndGet()
          running.decrementAndGet()
        }
      }
      var outcome: Try[Seq[Int]] = null
      val caller = new Thread(() => {
        // not Try(...): it lets InterruptedException through
        outcome =
          try Success(DriverPool.runAll(s"driver-pool-spec-$seed", threads,
            tasks))
          catch { case t: Throwable => Failure(t) }
        returned.set(true)
      })
      caller.start()
      if (interrupt) {
        Thread.sleep(interruptAfter)
        caller.interrupt()
      }
      caller.join()
      // give a leaked task time to show itself
      Thread.sleep(durations.max + 5)
      assert(late.get == 0, s"seed $seed: ${late.get} task(s) ran after return")
      assert(running.get == 0, s"seed $seed: ${running.get} task(s) running")
      if (interrupt) {
        interruptSchedules += 1
        outcome match {
          case Failure(_: InterruptedException) => interrupted += 1
          // the interrupt landed after the last task completed
          case Success(out) => assert(out == (0 until nTasks), s"seed $seed")
          case other => fail(s"seed $seed: interrupt surfaced as $other")
        }
      } else outcome match {
        case Failure(e) => assert(e eq injected, s"seed $seed: rethrew $e")
        case other => fail(s"seed $seed: failure surfaced as $other")
      }
    }
    assert(interrupted * 2 > interruptSchedules,
      s"only $interrupted of $interruptSchedules interrupts landed mid-call")
  }
}
