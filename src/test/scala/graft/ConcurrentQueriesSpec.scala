package graft

/** Query-scoped caches under concurrency: independent registered queries
  * running on several threads of ONE session, each inside its own
  * [[Caches.scoped]] block, must produce exactly the sequential results.
  * The set includes consumers of one pinned artifact (the lineitem
  * quantile grid, rebuilt while the consumers race on it), operators
  * that pin their exact-CDF partitioning (prefixSumCdf), and the
  * copy-then-insert ANN lifecycle, whose [[Par]] tasks register frames
  * on their own threads.
  */
class ConcurrentQueriesSpec extends SparkSpec {
  private val SfDir = "/root/testdata/sf0.001"
  private val Queries = Seq(
    "q_p3_winsorize", "q_stats_trimmed", "q_c6_describe", // lineitem grid pin
    "q_filter_topdecile", "q_events_daily_quantiles",     // exact CDF per query
    "q_events_repurchase",
    "q_sim_hnsw2_insert")

  private def hashOf(name: String): String = Caches.scoped {
    val rows = SparkEntry.queries(name)(spark, SfDir).collect()
      .map(_.toString).sorted
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  test("concurrent queries in one session hash-equal a sequential run") {
    Caches.releasePinned()
    val sequential = Queries.map(q => q -> hashOf(q)).toMap
    Caches.releasePinned() // the pin consumers race on a fresh build
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val concurrent =
      try {
        val futs = Queries.map { q =>
          q -> pool.submit(new java.util.concurrent.Callable[String] {
            override def call(): String = hashOf(q)
          })
        }
        futs.map { case (q, f) => q -> f.get() }.toMap
      } finally pool.shutdown()
    val diffs = Queries.filter(q => sequential(q) != concurrent(q))
    assert(diffs.isEmpty, s"outputs drifted under concurrency: $diffs")
    // three consumers, one build: the others rode the shared pin
    assert(Caches.pinnedStats.get(s"qgrid_lineitem|$SfDir").exists(_ >= 2),
      s"expected the grid pin to be shared: ${Caches.pinnedStats}")
  }
}
