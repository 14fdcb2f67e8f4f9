package graft.run

import org.scalatest.funsuite.AnyFunSuite

/** [[Par]] — the concurrent-action joiner the ingestion-loop
  * operators fork their independent localCheckpoint/count actions
  * through (guide §2.6). Pinned: results come back in slot order,
  * every branch runs exactly once, and a failing branch rethrows its
  * ORIGINAL exception on the caller thread after all branches settle
  * (callers must never see a half-joined fork group). */
class ParSpec extends AnyFunSuite {

  test("join2/join3/join4 return branch results in slot order") {
    assert(Par.join2(() => 1, () => "b") === ((1, "b")))
    assert(Par.join3(() => 1, () => 2L, () => "c") === ((1, 2L, "c")))
    assert(Par.join4(() => 1, () => 2, () => 3, () => 4) === ((1, 2, 3, 4)))
  }

  test("branches run concurrently (forked branch observed mid-flight)") {
    val gate = new java.util.concurrent.CountDownLatch(1)
    // Branch b releases the latch; branch a (caller thread) waits on
    // it — completes only if b genuinely runs on another thread.
    val (a, b) = Par.join2(
      () => { assert(gate.await(10, java.util.concurrent.TimeUnit.SECONDS)); "a" },
      () => { gate.countDown(); "b" })
    assert((a, b) === (("a", "b")))
  }

  test("forked-branch failure rethrows the original exception") {
    val boom = new IllegalStateException("branch failed")
    val e = intercept[IllegalStateException] {
      Par.join3(() => 1, () => throw boom, () => 2)
    }
    assert(e eq boom)
  }

  test("forked-branch failure still awaits the sibling forked branches") {
    val boom = new IllegalStateException("forked branch failed")
    val siblingRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Par.join3(
        () => 1,
        () => throw boom,
        () => { Thread.sleep(200); siblingRan.set(true); 3 })
    }
    assert(e eq boom)
    // join3 must not throw before the still-running sibling settled
    assert(siblingRan.get())
  }

  test("caller-branch failure still awaits the forked branches") {
    val forkedRan = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[IllegalArgumentException] {
      Par.join2(
        () => throw new IllegalArgumentException("caller failed"),
        () => { Thread.sleep(100); forkedRan.set(true); 1 })
    }
    assert(e.getMessage === "caller failed")
    // join2 must not return/throw before the forked branch settled
    assert(forkedRan.get())
  }

  test("mutations made by a forked branch are visible after the join") {
    var flag = false
    Par.join2(() => 1, () => { flag = true; 2 })
    assert(flag) // FutureTask.get() is the happens-before edge
  }
}
