package graft

import org.apache.spark.sql.DataFrame

/** Lifetimes for DataFrames an operator persists mid-plan (e.g. the
  * shingle stage inside Dedup.nearDupMinhash) and for session-lifetime
  * pinned artifacts.
  *
  * CONTRACT — scope-only: an operator [[register]]s the frames it
  * persists; the innermost [[scoped]] block of the registering thread
  * owns them and unpersists them when it exits. Registrations made on a
  * [[Par]] thread belong to the scope of the thread that called Par.
  * Each query's caller (Verify, Bench, the tool mains, a long-lived
  * service) runs the query inside its own scope, so repeated invocations
  * never accumulate cached blocks, and concurrent queries in one session
  * never release each other's intermediates — which matters most for
  * pid-pinned frames like prefixSumCdf's, whose silent recomputation
  * would be a wrong answer. There is no global release: a frame
  * registered outside any scope is untracked and stays the caller's to
  * unpersist. Only scopes interleaving on ONE thread (hand-rolled async
  * on a shared thread) can see each other's frames.
  */
object Caches {
  private[graft] type Scopes = List[scala.collection.mutable.ListBuffer[DataFrame]]
  private val scopes = ThreadLocal.withInitial[Scopes](() => Nil)
  private var held = 0 // frames tracked by live scopes

  /** Track a persisted frame in the calling thread's innermost [[scoped]]
    * block; returns it for inline use. Outside any scope it is untracked.
    */
  def register(df: DataFrame): DataFrame = synchronized {
    // a PINNED artifact flowing back through an operator's internal
    // register-persist (shortestHops & co. persist their input edges;
    // Dataset.persist returns the same instance, so the pinned frame
    // itself lands here when a query passes it in) must NOT enter a
    // query scope: the scope exit would unpersist the session-lifetime
    // pin out from under every later consumer — the pin would keep
    // reporting hits while each consumer silently recomputed the build
    // (measured: q_graph_degrees steady 2.1 s before this guard, 0.2 s
    // after).
    val isPin = pins.values.exists {
      case r: Ready => r.df eq df
      case _ => false
    }
    if (!isPin) scopes.get() match {
      case innermost :: _ =>
        innermost += df
        held += 1
      case Nil =>
    }
    df
  }

  /** Number of frames held by live scopes (test/diagnostic hook). */
  def registeredCount: Int = synchronized(held)

  /** Query lifetime: frames this thread (or a [[Par]] task it runs)
    * registers while `body` runs are unpersisted (non-blocking) when it
    * exits — normally OR by exception — without touching frames of
    * enclosing scopes or of other threads' scopes. Nesting-safe: an
    * inner scope claims and cleans its own frames first. The body MUST
    * materialize everything it needs (collect/write/count/
    * localCheckpoint) — the returned value may not hold a lazy plan over
    * the scope's intermediates, or re-evaluation recomputes them
    * unpersisted (for prefixSumCdf that also re-samples range bounds,
    * which its pid-stability contract forbids).
    */
  def scoped[T](body: => T): T = {
    val mine = scala.collection.mutable.ListBuffer.empty[DataFrame]
    val outer = scopes.get()
    scopes.set(mine :: outer)
    try body
    finally {
      scopes.set(outer)
      synchronized {
        mine.foreach(_.unpersist(false))
        held -= mine.size
      }
    }
  }

  /** The calling thread's scope stack, for [[withScopes]] on another. */
  private[graft] def currentScopes: Scopes = scopes.get()

  /** Run `body` with registrations landing in `s` (a [[Par]] thread
    * adopting its caller's scopes).
    */
  private[graft] def withScopes[T](s: Scopes)(body: => T): T = {
    val saved = scopes.get()
    scopes.set(s)
    try body finally scopes.set(saved)
  }

  // ---- pinned (cross-query) artifacts -----------------------------------

  private sealed trait Slot
  private final class Ready(val df: DataFrame, var hits: Int,
      val buildSec: Double) extends Slot
  private final class Building(
      val latch: java.util.concurrent.CountDownLatch) extends Slot
  private val pins = scala.collection.mutable.LinkedHashMap.empty[String, Slot]

  /** Session-lifetime materialized artifact, keyed by a caller-chosen
    * string (convention: "what|dataDir") — the cross-QUERY complement to
    * [[register]]'s per-query lifecycle. A scope exit does NOT touch
    * pins: a pinned frame survives every query's scope so N
    * queries over the same derivation (the co-purchase edge list, a
    * near-dup pair table, the curated corpus remnant) share ONE build —
    * which is also the correct production shape: a real pipeline
    * materializes these between stages instead of re-deriving them per
    * consumer.
    *
    * Contract: `build` must be DETERMINISTIC for the key (results are
    * handed to every later caller verbatim) and BOUNDED (edge lists, pair
    * tables, shrunk remnants — never a raw fact table: pinning raw scans
    * would fake away IO cost that a 100 TB deployment actually pays).
    * The frame is persisted MEMORY_AND_DISK (deserialized — the SQL
    * cache's CachedBatch blocks are compact columnar byte arrays either
    * way, and a measured A/B showed the SER level's per-read Java
    * deserialization cost the heaviest pin consumer ~20% steady time
    * (q_llm_pipeline 7.7 vs 6.4 s at sf0.1) for no observed eviction
    * benefit; under memory pressure the DISK tier already bounds loss)
    * and materialized EAGERLY inside a
    * [[scoped]] block, so intermediates the build itself registers (e.g.
    * nearDupMinhash's shingle stage) are unpersisted the moment the pin
    * is materialized instead of leaking for the pin's lifetime. Keys
    * are scoped to the owning SparkContext: an entry whose session has
    * stopped is rebuilt, never served stale.
    *
    * LOCKING: the key is RESERVED under the monitor but the build (a
    * full Spark job — persist + count) runs OUTSIDE it, so concurrent
    * register calls and scope exits never stall behind a multi-second
    * materialization. A second caller of the same in-flight key parks on
    * that key's latch, not on the global monitor, and retries once the
    * build publishes (or fails — a failed build clears the reservation
    * so a retry can rebuild).
    *
    * Build/hit counts and build seconds are exported ([[pinnedStats]],
    * [[pinnedBuildSec]]) so a benchmark can report which queries rode a
    * pin and what the one-time build cost — shared work must be
    * auditable, never silently amortized.
    */
  def pinned(key: String)(build: => DataFrame): DataFrame = {
    val reserved: Either[java.util.concurrent.CountDownLatch, Option[DataFrame]] =
      synchronized {
        pins.get(key) match {
          case Some(r: Ready) if !r.df.sparkSession.sparkContext.isStopped =>
            r.hits += 1
            Right(Some(r.df))
          case Some(b: Building) => Left(b.latch)
          case other =>
            if (other.isDefined) pins.remove(key) // stopped session: rebuild
            pins.put(key,
              new Building(new java.util.concurrent.CountDownLatch(1)))
            Right(None)
        }
      }
    reserved match {
      case Right(Some(df)) => df
      case Left(latch) => // someone else is building: wait, then re-enter
        latch.await()
        pinned(key)(build)
      case Right(None) => // this thread holds the reservation: build outside
        val t0 = System.nanoTime()
        val df =
          try scoped {
            val d = build.persist(
              org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            d.count() // eager: pay the build exactly once, on the first caller
            d
          } catch {
            case e: Throwable =>
              synchronized {
                pins.remove(key) match {
                  case Some(b: Building) => b.latch.countDown()
                  case _ =>
                }
              }
              throw e
          }
        val sec = (System.nanoTime() - t0) / 1e9
        synchronized {
          pins.remove(key) match {
            case Some(b: Building) =>
              pins.put(key, new Ready(df, 0, sec))
              b.latch.countDown()
            case _ => // releasePinned raced the build: publish anyway
              pins.put(key, new Ready(df, 0, sec))
          }
        }
        df
    }
  }

  /** (key -> hit count after the initial build) for every live pin. */
  def pinnedStats: Map[String, Int] =
    synchronized(pins.collect { case (k, r: Ready) => k -> r.hits }.toMap)

  /** (key -> one-time build seconds) for every live pin — the cost the
    * first consumer's cold number absorbed, exported so cross-round
    * per-query comparisons can account for the amortization.
    */
  def pinnedBuildSec: Map[String, Double] =
    synchronized(pins.collect { case (k, r: Ready) => k -> r.buildSec }.toMap)

  /** Unpersist and forget every pinned artifact (test teardown hook).
    * In-flight builds are unblocked (their publish lands in an empty
    * registry and is simply a fresh pin).
    */
  def releasePinned(): Unit = synchronized {
    pins.values.foreach {
      case r: Ready => r.df.unpersist(false)
      case b: Building => b.latch.countDown()
    }
    pins.clear()
  }
}
