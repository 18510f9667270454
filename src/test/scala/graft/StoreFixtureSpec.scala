package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM store-fixture memo ([[Core.StoreFixtures]]): one build
  * per key, no lock shared between keys, nested builds, the reset
  * contract and a failed build. The first two contracts are also run
  * against the generic per-key memo it is built on ([[Core.Memo]]).
  * Builds here write a marker file, not a store, so no SparkSession is
  * needed. Every test but the first uses its own memo, so a reset
  * never touches the program's fixtures. */
class StoreFixtureSpec extends AnyFunSuite {

  private val dir = "/store-fixture-spec/corpus"

  private def marked(root: String): Unit = {
    Files.createDirectories(Paths.get(root))
    Files.writeString(Paths.get(root, "marker"), "built")
  }

  private def exists(root: String): Boolean = Files.exists(Paths.get(root))

  /** `body` on its own thread, failing the test if it does not finish
    * within `secs` (a deadlock fails instead of hanging the suite). */
  private def within[T](secs: Int)(body: => T): T = {
    val pool = Executors.newSingleThreadExecutor()
    try Await.result(Future(body)(ExecutionContext.fromExecutor(pool)), secs.seconds)
    finally pool.shutdownNow()
  }

  /** A per-key memo under test: `call(key)(build)` is the root that
    * `build` wrote for `key`. */
  private type Call = String => (String => Unit) => String

  /** [[Core.Memo]] holding each key's root, built under a temp dir. */
  private def generic(): Call = {
    val memo = new Core.Memo[String, String]
    val base = Files.createTempDirectory("graft-memo-spec")
    key => build => memo(key) { val root = s"$base/$key"; build(root); root }
  }

  for ((label, call) <- Seq[(String, () => Call)](
      "" -> (() => key => build => Core.storeFixture(key, dir)(build)),
      " (Core.Memo)" -> (() => generic())))
  test("8 concurrent callers of one key run one build and get one root" + label) {
    val memo = call()
    val builds = new AtomicInteger
    val go = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        go.await()
        memo("graft_fxspec_once") { root =>
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build while the other callers arrive
          marked(root)
        }
      })
      go.countDown()
      val roots = Await.result(Future.sequence(calls), 60.seconds)
      assert(builds.get == 1, s"${builds.get} builds for one key")
      assert(roots.distinct.size == 1 && exists(roots.head), roots.distinct.toString)
      ops.IndexStore.deleteRec(new java.io.File(roots.head))
    } finally pool.shutdownNow()
  }

  for ((label, call) <- Seq[(String, () => (Call, () => Unit))](
      "" -> (() => { val m = new Core.StoreFixtures
        (key => build => m(key, dir, "")(build), () => m.reset()) }),
      " (Core.Memo)" -> (() => (generic(), () => ()))))
  test("a build of key A held on a latch does not block a build of key B" + label) {
    val (memo, reset) = call()
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val pool = Executors.newSingleThreadExecutor()
    try {
      val a = Future(memo("graft_fxspec_a") { root =>
        started.countDown()
        assert(release.await(60, TimeUnit.SECONDS))
        marked(root)
      })(ExecutionContext.fromExecutor(pool))
      assert(started.await(30, TimeUnit.SECONDS), "A's build never started")
      val b = within(30)(memo("graft_fxspec_b")(marked))
      assert(exists(b) && !a.isCompleted, "B should finish while A's build is held")
      release.countDown()
      assert(exists(Await.result(a, 60.seconds)))
    } finally {
      release.countDown()
      pool.shutdownNow()
      reset()
    }
  }

  test("a nested build completes") {
    val memo = new Core.StoreFixtures
    try {
      var inner = ""
      val outer = within(30)(memo("graft_fxspec_outer", dir, "") { root =>
        // a serving clone reading its source: one fixture inside another
        inner = memo("graft_fxspec_inner", dir, "")(marked)
        marked(root)
      })
      assert(exists(outer) && exists(inner) && outer != inner)
      assert(memo("graft_fxspec_inner", dir, "")(_ => fail("rebuilt")) == inner)
    } finally memo.reset()
  }

  test("resetStoreFixtures deletes every built root, and the next call rebuilds") {
    val memo = new Core.StoreFixtures
    val builds = new AtomicInteger
    def build(root: String): Unit = { builds.incrementAndGet(); marked(root) }
    try {
      val roots = Seq(memo("graft_fxspec_r", dir, "")(build),
        memo("graft_fxspec_r", dir, "_g1")(build),
        memo("graft_fxspec_s", "/store-fixture-spec/other", "")(build))
      assert(roots.distinct.size == 3 && roots.forall(exists) && builds.get == 3)
      assert(memo("graft_fxspec_r", dir, "")(build) == roots.head && builds.get == 3)
      memo.reset()
      assert(roots.forall(r => !exists(r)), "reset left a built root behind")
      val again = memo("graft_fxspec_r", dir, "")(build)
      assert(again == roots.head && exists(again) && builds.get == 4)
    } finally memo.reset()
  }

  test("a build that throws memoizes nothing; the next call builds again from an empty root") {
    val memo = new Core.StoreFixtures
    val builds = new AtomicInteger
    try {
      val e = intercept[IllegalStateException] {
        memo("graft_fxspec_fail", dir, "") { root =>
          builds.incrementAndGet()
          Files.createDirectories(Paths.get(root))
          Files.writeString(Paths.get(root, "partial"), "half a build")
          throw new IllegalStateException("injected build failure")
        }
      }
      assert(e.getMessage == "injected build failure")
      def build(root: String): Unit = {
        builds.incrementAndGet()
        assert(!exists(root), "the retry found the failed build's leftovers")
        marked(root)
      }
      val root = memo("graft_fxspec_fail", dir, "")(build)
      assert(exists(root) && builds.get == 2)
      assert(memo("graft_fxspec_fail", dir, "")(build) == root && builds.get == 2)
    } finally memo.reset()
  }

  test("a Core.Memo build that throws records nothing; the next caller builds again") {
    val memo = new Core.Memo[String, Int]
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      memo("k") { builds.incrementAndGet(); throw new IllegalStateException("injected build failure") }
    }
    assert(e.getMessage == "injected build failure" && memo.keys == List("k"))
    assert(memo("k") { builds.incrementAndGet(); 7 } == 7 && builds.get == 2)
    assert(memo("k")(fail("rebuilt")) == 7 && memo.remove("k").contains(7) && memo.keys.isEmpty)
  }

  test("a Core.Memo past its key bound drops the least recently used key") {
    val memo = new Core.Memo[String, String](maxKeys = 2)
    memo("a")("a1"); memo("b")("b1")
    assert(memo("a")(fail("rebuilt a")) == "a1") // a is now the most recent
    memo("c")("c1")
    assert(memo.keys.toSet == Set("a", "c"))
    assert(memo("b")("b2") == "b2", "the evicted key built again")
  }
}
