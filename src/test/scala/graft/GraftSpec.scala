package graft

/** The engine's concurrent write legs ([[Graft.inParallel]]): every leg
  * completes before the call returns, on the success and the failure
  * path; the wait is bounded; errors keep leg order; legs inherit the
  * caller's Spark local properties. */
class GraftSpec extends SparkSpec {

  // round-19 step internals: concurrent write legs (guide §2.6) must
  // complete every leg before returning — success and failure paths
  test("inParallel: all legs run; a failing leg rethrows after the " +
      "others complete") {
    val ran = new java.util.concurrent.atomic.AtomicInteger(0)
    Graft.inParallel(
      () => { ran.incrementAndGet(); () },
      () => { ran.incrementAndGet(); () },
      () => { ran.incrementAndGet(); () })
    assert(ran.get === 3)
    val survivor = new java.util.concurrent.atomic.AtomicBoolean(false)
    val e = intercept[RuntimeException] {
      Graft.inParallel(
        () => throw new RuntimeException("leg boom"),
        () => { Thread.sleep(150); survivor.set(true) })
    }
    assert(e.getMessage === "leg boom")
    assert(survivor.get,
      "the surviving leg must complete before the error is rethrown")
  }

  // round-20 hardening (ADVICE r19): the await is bounded — a wedged
  // leg surfaces as a named TimeoutException instead of blocking the
  // enclosing micro-batch forever, and a leg's hung Spark job is
  // cancelled (by its leg's job tag) before that error is thrown
  test("inParallel: a wedged leg times out as a named error; finished " +
      "legs' results stand") {
    val finished = new java.util.concurrent.atomic.AtomicBoolean(false)
    val release = new java.util.concurrent.CountDownLatch(1)
    val jobError = new java.util.concurrent.LinkedBlockingQueue[Throwable]()
    val e = intercept[java.util.concurrent.TimeoutException] {
      Graft.inParallelTimed(5L,
        () => finished.set(true),
        () => release.await(), // wedged until released below
        () => // a Spark job that blocks until its task is killed
          try spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
            val t0 = System.nanoTime()
            while (!org.apache.spark.TaskContext.get().isInterrupted() &&
                System.nanoTime() - t0 < 120000000000L) Thread.sleep(20)
          } catch { case t: Throwable => jobError.put(t) })
    }
    assert(e.getMessage.contains("still running after 5s"))
    assert(finished.get, "the healthy leg completed inside the bound")
    val cancelled = jobError.poll(30, java.util.concurrent.TimeUnit.SECONDS)
    assert(cancelled != null, "the hung leg's Spark job was not cancelled")
    assert(cancelled.getMessage.contains("cancelled"), cancelled.getMessage)
    release.countDown() // unwedge the daemon leg before the suite moves on
  }

  // round-20 hardening (ADVICE r19): multi-leg failures keep their
  // evidence — the first leg's error (leg order) carries the rest as
  // suppressed
  test("inParallel: multi-leg failure rethrows the first leg's error " +
      "with the others suppressed") {
    val e = intercept[RuntimeException] {
      Graft.inParallel(
        () => { Thread.sleep(50); throw new RuntimeException("first") },
        () => throw new IllegalStateException("second"))
    }
    assert(e.getMessage === "first",
      "leg ORDER, not completion order, picks the rethrown error")
    assert(e.getSuppressed.map(_.getMessage).toSeq === Seq("second"))
  }

  // round-20 hardening (ADVICE r19): legs run on FRESH threads, so the
  // caller's Spark local properties (job group & co, an
  // InheritableThreadLocal) are visible to leg jobs — the shared-pool
  // execution this replaces could run legs under a stale or missing
  // group, making query cancellation miss in-flight face writes
  test("inParallel: legs inherit the calling thread's Spark local " +
      "properties") {
    val key = "graft.test.inparallel.prop"
    spark.sparkContext.setLocalProperty(key, "from-caller")
    try {
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      Graft.inParallel(
        () => seen.add(String.valueOf(
          spark.sparkContext.getLocalProperty(key))),
        () => seen.add(String.valueOf(
          spark.sparkContext.getLocalProperty(key))))
      assert(seen.toArray.toSeq === Seq("from-caller", "from-caller"))
    } finally spark.sparkContext.setLocalProperty(key, null)
  }
}
