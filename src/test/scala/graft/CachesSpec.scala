package graft

/** Contract tests for the cross-query pin registry — specifically the r15
  * locking fix: the key is reserved under the monitor but the build (a
  * full persist + count Spark job) runs OUTSIDE it, so concurrent
  * register calls and scope exits never stall behind a multi-second
  * materialization, and N concurrent callers of one key still produce
  * exactly ONE build.
  */
class CachesSpec extends SparkSpec {

  test("concurrent pinned callers share one build; a scope exit never blocks on it") {
    Caches.releasePinned()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val failures = new java.util.concurrent.atomic.AtomicInteger
    val key = "caches_spec_concurrent"
    val threads = (1 to 4).map { _ =>
      new Thread(() => {
        try {
          val df = Caches.pinned(key) {
            builds.incrementAndGet()
            Thread.sleep(300) // make the build window wide enough to observe
            spark.range(10).toDF("id")
          }
          if (df.count() != 10) failures.incrementAndGet()
        } catch { case _: Throwable => failures.incrementAndGet() }
      })
    }
    threads.foreach(_.start())
    val unrelated = spark.range(5).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Thread.sleep(100) // land inside the first caller's build window
    val t0 = System.nanoTime()
    // an unrelated query's scope: its exit must not park on the pin
    Caches.scoped(Caches.register(unrelated))
    val relMs = (System.nanoTime() - t0) / 1e6
    threads.foreach(_.join())
    assert(failures.get() == 0)
    assert(builds.get() == 1, s"expected exactly one build, got ${builds.get()}")
    assert(Caches.pinnedStats(key) == 3, // 4 callers, 1 paid the build
      s"expected 3 hits, got ${Caches.pinnedStats.get(key)}")
    assert(Caches.pinnedBuildSec(key) >= 0.3,
      "build seconds must cover the build body")
    assert(relMs < 200.0,
      f"a scope exit blocked $relMs%.0f ms behind an in-flight pin build")
    Caches.releasePinned()
  }

  test("register() never tracks a pinned frame: a scope exit must not unpersist the pin") {
    Caches.releasePinned()
    val key = "caches_spec_pin_guard"
    val pin = Caches.pinned(key)(spark.range(100).toDF("id"))
    // the shortestHops pattern: an operator persists + registers the
    // frame it was handed — which IS the pin (persist returns this)
    Caches.scoped(Caches.register(pin.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))
    assert(pin.storageLevel !=
      org.apache.spark.storage.StorageLevel.NONE,
      "a scope exit unpersisted the session-lifetime pin")
    // a derived (non-pin) frame still gets tracked and released
    val derived = Caches.scoped {
      val derived = Caches.register(pin.selectExpr("id + 1 AS id2")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      assert(Caches.registeredCount == 1)
      derived
    }
    assert(derived.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE)
    Caches.releasePinned()
  }

  test("a failed build clears the reservation so a retry can rebuild") {
    Caches.releasePinned()
    val key = "caches_spec_failing"
    intercept[RuntimeException] {
      Caches.pinned(key)(throw new RuntimeException("boom"))
    }
    val df = Caches.pinned(key)(spark.range(3).toDF("id"))
    assert(df.count() == 3)
    Caches.releasePinned()
  }
}
