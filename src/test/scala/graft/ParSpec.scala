package graft

/** Contract of the one driver-side concurrency primitive: structured
  * (returns after every task), input-ordered results and failure
  * attribution, no interrupts, nesting-safe, and threads that carry the
  * caller's Spark local properties and cache scope.
  */
class ParSpec extends SparkSpec {

  test("results come back in input order") {
    // later inputs finish first
    val out = Par.map(1 to 40) { i => Thread.sleep((40 - i) % 7L); i * 2 }
    assert(out === (1 to 40).map(_ * 2))
  }

  test("with two failing tasks, the earlier one's exception is thrown") {
    val e = intercept[RuntimeException] {
      Par.map(Seq(0, 1, 2, 3)) { i =>
        if (i == 1) { Thread.sleep(200); throw new RuntimeException("first") }
        if (i == 3) throw new RuntimeException("second")
        i
      }
    }
    assert(e.getMessage == "first")
  }

  test("a slow sibling finishes, uninterrupted, before the failure is rethrown") {
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val interrupted = new java.util.concurrent.atomic.AtomicBoolean(false)
    intercept[IllegalStateException] {
      Par.all(
        () => throw new IllegalStateException("boom"),
        () =>
          try { Thread.sleep(300); done.set(true) }
          catch { case _: InterruptedException => interrupted.set(true) })
    }
    assert(!interrupted.get(), "a running task was interrupted")
    assert(done.get(), "Par returned before the slow sibling finished")
  }

  test("nested Par calls complete (no shared pool to starve)") {
    var inner = Seq.empty[Int]
    Par.all(() => inner = Par.map(1 to 20)(identity), () => ())
    assert(inner === (1 to 20))
    // wider than the 16-task bound at both levels
    val sums = Par.map(1 to 20)(i => Par.map(1 to 20)(j => i * j).sum)
    assert(sums === (1 to 20).map(i => (1 to 20).map(i * _).sum))
  }

  test("jobs launched from Par tasks see the caller's current local property") {
    val key = "graft.par.spec.tag"
    val sc = spark.sparkContext
    def tags(): Seq[String] = Par.map(Seq(1, 2, 3)) { _ =>
      sc.parallelize(Seq(1), 1)
        .map(_ => org.apache.spark.TaskContext.get().getLocalProperty(key))
        .collect().head
    }
    try {
      sc.setLocalProperty(key, "first")
      assert(tags() === Seq("first", "first", "first"))
      sc.setLocalProperty(key, "second") // a later call must not go stale
      assert(tags() === Seq("second", "second", "second"))
    } finally sc.setLocalProperty(key, null)
  }

  test("frames registered on Par threads belong to the caller's scope") {
    import spark.implicits._
    val frames = Caches.scoped {
      val fs = Par.map(Seq(1, 2, 3)) { i =>
        // nested: still the outer caller's scope
        Par.map(Seq(10 * i, 10 * i + 1)) { v =>
          val df = Caches.register(Seq(v).toDF("v").persist())
          df.count()
          df
        }
      }.flatten
      assert(fs.forall(_.storageLevel.useMemory))
      assert(Caches.registeredCount >= fs.size)
      fs
    }
    assert(frames.forall(!_.storageLevel.useMemory),
      "a Par-thread registration outlived the caller's scope")
  }
}
