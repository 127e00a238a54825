package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

/** [[Concurrently.run]]: the fan-out under `Ingest`'s commit phase and
  * `SparkEntry.runAll`. */
class ConcurrentlySpec extends AnyFunSuite {

  test("runs every task, on as many threads as asked") {
    val ran = new ConcurrentLinkedQueue[String]()
    // three tasks that each wait for the other two: only completes if
    // all three really run at once
    val started = new CountDownLatch(3)
    val tasks = Seq("a", "b", "c").map(n => n -> (() => {
      started.countDown()
      assert(started.await(10, TimeUnit.SECONDS), s"$n ran alone")
      ran.add(n)
      ()
    }))
    Concurrently.run(tasks, threads = 3)(n => s"task $n failed")
    assert(ran.toArray.toSet == Set("a", "b", "c"))
    Concurrently.run(Nil, threads = 3)(n => s"task $n failed")
  }

  test("a failure waits for the tasks already running, then is rethrown " +
    "with its task's name and cause") {
    val slowStarted = new CountDownLatch(1)
    val slowFinished = new AtomicBoolean(false)
    val boom = new IllegalStateException("boom")
    val e = intercept[RuntimeException] {
      Concurrently.run(Seq(
        "slow" -> (() => {
          slowStarted.countDown()
          Thread.sleep(500)
          slowFinished.set(true)
        }),
        "bad" -> (() => {
          slowStarted.await(10, TimeUnit.SECONDS)
          throw boom
        })), threads = 2)(n => s"task $n failed")
    }
    assert(e.getMessage == "task bad failed", e.getMessage)
    assert(e.getCause eq boom)
    assert(slowFinished.get(), "returned while a started task was running")
  }

  test("the first failure cancels the tasks that have not started") {
    // one thread: the queued tasks may only start after the failure. The
    // thread can take the next one before the failure is seen, so allow
    // that one; each takes 50 ms, far longer than noticing the failure
    val ran = new java.util.concurrent.atomic.AtomicInteger()
    val e = intercept[RuntimeException] {
      Concurrently.run(("first" -> (() => sys.error("first fails"))) +:
        (1 to 20).map(i => s"later$i" -> (() => {
          ran.incrementAndGet()
          Thread.sleep(50)
        })), threads = 1)(n => s"$n failed")
    }
    assert(e.getMessage == "first failed")
    assert(ran.get() <= 2, s"${ran.get()} of 20 queued tasks ran after the failure")
  }
}
