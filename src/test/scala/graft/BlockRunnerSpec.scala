package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.IndexStore.runBlocks

/** The store's one pool runner ([[ops.IndexStore.runBlocks]]): when
  * block i fails, the blocks declared before i complete, the blocks
  * declared after i are interrupted (or finish, in finish mode), the
  * call returns only once every block has stopped, and the caller sees
  * the earliest-declared failure whatever the clock order. The blocks
  * here are plain threads on latches, so no SparkSession is needed. */
class BlockRunnerSpec extends AnyFunSuite {

  private def await(l: CountDownLatch): Unit =
    assert(l.await(30, TimeUnit.SECONDS), "a latch was never released")

  /** A block that sleeps until it is interrupted, records that, and
    * then takes a moment to stop: a caller that returned before the
    * block stopped would see `stopped` unset. */
  private def sleeper(started: CountDownLatch, interrupted: AtomicBoolean,
      stopped: AtomicInteger): () => Unit = () => {
    started.countDown()
    try Thread.sleep(60000)
    catch { case _: InterruptedException => interrupted.set(true) }
    finally { Thread.sleep(200); stopped.incrementAndGet() }
  }

  test("results come back in declaration order") {
    val out = runBlocks(Seq(() => { Thread.sleep(200); "a" }, () => "b", () => "c"))
    assert(out == Seq("a", "b", "c"))
  }

  test("the earliest-declared failure reaches the caller even when a later block failed first") {
    val laterFailed = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      runBlocks(Seq(
        () => {
          await(laterFailed)
          Thread.sleep(200) // let the later block's failure land first
          throw new IllegalStateException("block 0")
        },
        () => {
          laterFailed.countDown()
          throw new IllegalArgumentException("block 1")
        }))
    }
    assert(e.getMessage == "block 0")
  }

  test("on a failure the earlier blocks complete and the later ones are interrupted and stopped before the call returns") {
    val started = new CountDownLatch(1)
    val failed = new CountDownLatch(1)
    val earlierDone = new AtomicBoolean
    val interrupted = new AtomicBoolean
    val stopped = new AtomicInteger
    val e = intercept[RuntimeException] {
      runBlocks(Seq(
        () => { await(failed); Thread.sleep(200); earlierDone.set(true) },
        () => { await(started); failed.countDown(); throw new RuntimeException("block 1") },
        sleeper(started, interrupted, stopped)))
    }
    assert(e.getMessage == "block 1")
    assert(earlierDone.get, "an earlier-declared block was cut short")
    assert(interrupted.get, "the later-declared block was not interrupted")
    assert(stopped.get == 1, "the call returned before the later block stopped")
  }

  test("finish mode lets the later blocks complete") {
    val started = new CountDownLatch(1)
    val laterDone = new AtomicBoolean
    val e = intercept[RuntimeException] {
      runBlocks(Seq(
        () => { await(started); throw new RuntimeException("block 0") },
        () => { started.countDown(); Thread.sleep(300); laterDone.set(true) }),
        interrupt = false)
    }
    assert(e.getMessage == "block 0")
    assert(laterDone.get, "finish mode interrupted or abandoned a later block")
  }

  test("a nested runner inside an interrupted block stops its own blocks before the outer call returns") {
    val innerStarted = new CountDownLatch(2)
    val interrupted = new AtomicBoolean
    val stopped = new AtomicInteger
    val e = intercept[RuntimeException] {
      runBlocks(Seq(
        () => { await(innerStarted); throw new RuntimeException("outer block 0") },
        () => runBlocks(Seq.fill(2)(sleeper(innerStarted, interrupted, stopped)))))
    }
    assert(e.getMessage == "outer block 0")
    assert(interrupted.get, "the nested blocks were not interrupted")
    assert(stopped.get == 2, s"${stopped.get} of 2 nested blocks had stopped when the outer call returned")
  }
}
