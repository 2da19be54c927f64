package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed graph scoring over edge lists (north-star extension) —
  * complements [[Dedup.clusterNearDups]] (connected components) with an
  * importance measure: fixed-iteration PageRank. Use case in a training-
  * data pipeline: rank documents inside a near-dup/similarity graph so
  * dedup keeps the most-linked representative instead of min-id.
  *
  * Not oracle-gated: power iteration in SQL needs a recursive CTE over
  * floats — out of the dialect-shared subset — but a FIXED iteration count
  * makes the computation fully deterministic, so ScalaTests pin exact
  * invariants instead.
  */
object Graph {

  /** Guard for the long-cast id projections below: a string (or other
    * non-integral) id column would survive `cast("long")` as NULL — the
    * whole graph silently collapsing to null ids — where the pre-r12
    * `getLong` access at least failed loudly. Fail fast with the column
    * name instead; callers with string ids should dense-encode first
    * (e.g. via a dictionary join), which is also the right 100-TB shape:
    * long ids shuffle and sort far cheaper than strings.
    */
  private def requireIntegralIds(df: DataFrame, cols: String*): Unit = {
    import org.apache.spark.sql.types._
    cols.foreach { c =>
      df.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType => ()
        case dt => throw new IllegalArgumentException(
          s"graph id column '$c' must be an integral type, got " +
            s"${dt.simpleString}; cast('long') would null out non-numeric " +
            "ids silently — dense-encode string ids before calling")
      }
    }
  }

  /** PageRank with `iters` power iterations and damping `d`.
    *
    * Scale shape: per iteration, ONE shuffle — contributions flow along
    * edges via a join keyed on src, then a groupBy on dst (map-side
    * combinable). Out-degrees are computed once. Dangling nodes (no out
    * edges) redistribute their mass uniformly — the standard correction.
    * The dangling id SET is fixed across iterations, so it is derived
    * once up front (anti-join of nodes vs edge sources); when it is
    * empty — common for co-occurrence graphs, whose edges are symmetric —
    * the per-iteration mass aggregate is skipped entirely, saving one
    * driver-blocking job per iteration. Ranks localCheckpoint per
    * iteration so the plan stays flat (the clusterNearDups lesson).
    *
    * @param edges directed (src, dst) pairs
    * @param nodes one row per node id (isolated nodes keep base rank)
    * @param deterministic make every cross-engine/cross-partitioning
    *        nondeterminism-free: per-edge contributions are scaled to
    *        fixed-point longs (`floor(c * 1e9)`) and SUMMED AS LONGS —
    *        integer addition is associative+commutative, so the result is
    *        bit-identical regardless of partitioning or merge order,
    *        with no per-node buffering (unlike the r10 sorted
    *        `collect_list` fold, which built each node's full in-neighbor
    *        list and died on mega-hubs). The 1e-9 quantization is far
    *        below the 1e-6 output rounding, and the long sum stays
    *        overflow-safe until a single node's inflow mass reaches
    *        ~9.2e9 (total rank mass equals the node count, so graphs
    *        under ~9 billion nodes cannot overflow even if every unit of
    *        mass lands on one hub; a 1e12 scale would have wrapped
    *        silently at ~9.2e6 mass). The default keeps plain double
    *        sums (fastest; last-ulp rank wobble possible across
    *        partitionings)
    * @return (id, rank), sum of ranks = number of nodes
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, idCol: String,
      iters: Int = 10, d: Double = 0.85,
      deterministic: Boolean = false): DataFrame = {
    requireIntegralIds(edges, "src", "dst")
    requireIntegralIds(nodes, idCol)
    val ids = nodes.select(col(idCol).cast("long").as("id")).distinct()
      .localCheckpoint(true)
    // The edge table is the big, loop-invariant side: every iteration joins
    // it on src. Persist it REPARTITIONED BY src (sorted within partitions)
    // rather than localCheckpoint'ing raw — the cached InMemoryRelation
    // keeps the hash partitioning and sort order, so the per-iteration
    // contribution join reuses them instead of re-shuffling + re-sorting
    // |E| rows every iteration (2.4M-edge co-purchase graph: ~2 exchanges
    // of the fact side per iteration saved; only the dst-keyed inflow
    // aggregate still shuffles, which is inherent). outDeg below rides the
    // same partitioning for free.
    // r21 (guide §2.2): the cached edge layout's partition COUNT derives
    // from the edge table's size estimate (~8 MB/partition, floor 1) —
    // cached plans are exempt from AQE coalescing, so the former
    // repartition(col) kept the session's full shuffle width and every
    // iteration scheduled that many tasks per edge-cache scan no matter
    // how small the graph. Upstream here is a cache/union, whose stats
    // are additive (real bytes), never a join's multiplicative guess.
    val eBytes = edges.queryExecution.optimizedPlan.stats.sizeInBytes
      .min(BigInt(Long.MaxValue)).toLong
    val ePart = math.max(1L, math.min(eBytes / (8L << 20) + 1L, 1L << 20)).toInt
    val e = graft.Caches.register(
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .repartition(ePart, col("src")).sortWithinPartitions("src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val n = ids.count()
    // nodes with no out-edges; fixed across iterations
    val danglingIds = ids
      .join(e.select(col("src").as("id")), Seq("id"), "left_anti")
      .localCheckpoint(true)
    val hasDangling = !danglingIds.isEmpty
    var ranks = ids.withColumn("rank", lit(1.0)).localCheckpoint(true)
    var i = 0
    while (i < iters) {
      val danglingMass =
        if (!hasDangling) 0.0
        else if (deterministic)
          // same fixed-point trick as inflow: long sum is order-invariant
          ranks.join(danglingIds, Seq("id"), "left_semi")
            .agg(coalesce(sum(floor(col("rank") * lit(1e9))), lit(0L)))
            .head().getLong(0) / 1e9
        else ranks.join(danglingIds, Seq("id"), "left_semi")
          .agg(coalesce(sum(col("rank")), lit(0.0))).head().getDouble(0)
      // deterministic tier: quantize each contribution to a long
      // (floor(c*1e9); floor on DoubleType yields LongType) and sum the
      // longs — exact integer math, codegen'd, no collect_list buffering,
      // hub-safe. Plain double sum otherwise.
      val inflowAgg =
        if (deterministic)
          (sum(floor(col("c") * lit(1e9))).cast("double") / lit(1e9))
            .as("inflow")
        else sum(col("c")).as("inflow")
      val contribs = ranks.join(outDeg, ranks("id") === outDeg("src"))
        .join(e, "src")
        .select(col("dst").as("id"), col("src"),
          (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(inflowAgg)
      ranks = ids.join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - d) + lit(d) *
            (coalesce(col("inflow"), lit(0.0)) + lit(danglingMass / n))).as("rank"))
        .localCheckpoint(true)
      i += 1
    }
    // the loop's last localCheckpoint(true) materialized `ranks`, so the
    // loop-invariant edge cache is no longer needed; release it here so
    // callers that run many invocations inside one Caches.scoped block
    // don't accumulate an |E|-row cache per invocation
    e.unpersist(false)
    ranks
  }

  /** Exact TRIANGLE COUNT over an undirected edge list — the graph-motif
    * census primitive (clustering coefficients, community quality,
    * near-dup-graph density diagnostics).
    *
    * Algorithm: the degree-ordered "forward" method (Schank & Wagner;
    * the standard distributed formulation). Every edge is oriented from
    * its lower to its higher endpoint under the total order
    * (degree, id); each triangle then has exactly ONE apex whose two
    * out-edges form the wedge, closed by one oriented edge — so
    * count(closed wedges) = count(triangles), no multiple counting and
    * no division.
    *
    * Why degree ordering matters at scale: wedges explode as Σ deg²
    * around hubs; orienting edges toward higher-degree nodes caps every
    * node's OUT-degree at ~√|E|, so the wedge join is Σ outdeg² =
    * O(|E|^1.5) worst case instead of a hub-quadratic blow-up — the
    * difference between a star graph being linear and being |V|².
    *
    * @param edges undirected (srcCol, dstCol) pairs; duplicates and
    *              self-loops are cleaned here
    * @return one row: (n_nodes, n_edges, n_triangles)
    */
  /** Shared degree-oriented wedge pipeline: (und unique undirected
    * edges, deg per-node degrees, closed triangles as (src, v, w) rows).
    */
  private def orientedClosedTriangles(edges: DataFrame, srcCol: String,
      dstCol: String): (DataFrame, DataFrame, DataFrame) = {
    requireIntegralIds(edges, srcCol, dstCol)
    val und = edges.select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct()
      .localCheckpoint(true)
    val deg = und.select(explode(array(col("x"), col("y"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("d"))
    val withK = und
      .join(deg.select(col("v").as("x"), col("d").as("dx")), "x")
      .join(deg.select(col("v").as("y"), col("d").as("dy")), "y")
    val xk = struct(col("dx").as("d"), col("x").as("i"))
    val yk = struct(col("dy").as("d"), col("y").as("i"))
    val oriented = withK.select(
        when(xk < yk, col("x")).otherwise(col("y")).as("src"),
        when(xk < yk, col("y")).otherwise(col("x")).as("dst"),
        when(xk < yk, yk).otherwise(xk).as("dstk"))
      .localCheckpoint(true)
    val w1 = oriented.select(col("src"), col("dst").as("v"), col("dstk").as("vk"))
    val w2 = oriented.select(col("src"), col("dst").as("w"), col("dstk").as("wk"))
    val wedges = w1.join(w2, "src").where(col("vk") < col("wk"))
    val closed = wedges
      .join(oriented.select(col("src").as("v"), col("dst").as("w")),
        Seq("v", "w"), "left_semi")
    (und, deg, closed)
  }

  def triangleCount(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (und, deg, closed) = orientedClosedTriangles(edges, srcCol, dstCol)
    val tri = closed.agg(count(lit(1)).as("n_triangles"))
    val counts = und.agg(count(lit(1)).as("n_edges"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    nodes.crossJoin(broadcast(counts)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"))
  }

  /** Per-node LOCAL CLUSTERING COEFFICIENT — c(v) = 2·t(v)/(d(v)(d(v)−1))
    * with t(v) the triangles through v (Watts–Strogatz 1998): the
    * community-density diagnostic the global triangle count averages
    * away (hub with no clustering vs tight clique score identically in
    * the global number). Same degree-oriented wedge pipeline as
    * [[triangleCount]] — each closed triangle fans out to its three
    * nodes (3× the triangle rows, still bounded by the wedge join), one
    * per-node count, one broadcast-joined degree. Nodes with d < 2 get
    * null (coefficient undefined). One double division per node.
    *
    * @return (id, degree, triangles, coeff round-6) ordered by id
    */
  def clusteringCoefficient(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst"): DataFrame = {
    val (_, deg, closed) = orientedClosedTriangles(edges, srcCol, dstCol)
    val triPerNode = closed
      .select(explode(array(col("src"), col("v"), col("w"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.select(col("v").as("id"), col("d").as("degree"))
      .join(triPerNode, Seq("id"), "left")
      .select(col("id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("degree") >= 2,
          round(lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"), 6))
          .as("coeff"))
      .orderBy("id")
  }

  /** Degree histogram of an undirected edge list (src < dst, unique):
    * one row per degree value with the node count — the first diagnostic
    * of any graph (Zipf tail? hubs?). Two map-side-combinable aggregates,
    * output bounded by max degree.
    */
  def degreeHistogram(edges0: DataFrame): DataFrame = {
    // the edge list feeds both union branches — pin it so an expensive
    // upstream (e.g. the co-purchase self-join) evaluates once
    val edges = graft.Caches.register(
      edges0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("__d"))
      .groupBy(col("__d").as("degree"))
      .agg(count(lit(1)).as("n_nodes"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the symmetrized edge list — positive when
    * hubs link to hubs. All power sums are exact integers riding
    * DECIMAL(38,0) (order-invariant at any parallelism, no overflow to
    * ~1e38); only the final correlation is a shared double formula DAG.
    * One row: (n_nodes, n_edges, assortativity).
    */
  def assortativity(edges0: DataFrame): DataFrame = {
    // edges feed deg (2 scans), sym (2 scans) and the edge count — pin
    // once (released via graft.Caches, the operator convention)
    val edges = graft.Caches.register(
      edges0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val deg = edges.select(col("src").as("id"))
      .union(edges.select(col("dst").as("id")))
      .groupBy("id").agg(count(lit(1)).as("d"))
    val sym = edges.select(col("src").as("a"), col("dst").as("b"))
      .union(edges.select(col("dst").as("a"), col("src").as("b")))
    val xy = sym
      .join(deg.select(col("id").as("a"), col("d").as("x")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("d").as("y")), Seq("b"))
    // cast BEFORE multiplying: decimal(19,0)² is exact decimal(38,0)
    // (degree² < 8.5e37 always fits), whereas a BIGINT product would
    // wrap silently past 2^63 on a ~3e9-degree hub
    val xd = col("x").cast("decimal(19,0)")
    val yd = col("y").cast("decimal(19,0)")
    def dsum(c: org.apache.spark.sql.Column) = sum(c).cast("double")
    val agg = xy.agg(count(lit(1)).cast("double").as("n"),
      dsum(xd).as("sx"), dsum(yd).as("sy"),
      dsum(xd * yd).as("sxy"),
      dsum(xd * xd).as("sxx"),
      dsum(yd * yd).as("syy"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
      sqrt(col("n") * col("syy") - col("sy") * col("sy"))
    val counts = edges.agg(count(lit(1)).as("n_edges"))
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    nodes.crossJoin(broadcast(counts)).crossJoin(broadcast(agg))
      .select(col("n_nodes"), col("n_edges"),
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round(num / den, 6)).as("assortativity"))
  }

  /** Single-source shortest hop distances (BFS) from the graph's
    * MAX-DEGREE node (min id on ties — deterministic, and it sits in the
    * giant component rather than some 2-node island), bounded at
    * `maxHops`: (id, hops) for every node reached.
    * Classic iterative frontier expansion — each round joins ONLY the
    * just-reached frontier against the (pinned) symmetric edge list,
    * re-minimizes, and checkpoints; rounds are bounded by `maxHops`, the
    * distance table by the reachable set. The oracle replays it as a
    * depth-bounded recursive CTE.
    */
  def shortestHops(edges0: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 1, s"maxHops must be >= 1: $maxHops")
    requireIntegralIds(edges0, "src", "dst")
    val edges = graft.Caches.register(
      edges0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sym = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .union(edges
        .select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
    // bounded decision point: the deterministic source node; an empty
    // edge list yields an empty result, not a head() crash. Ids are read
    // through a cast-to-long projection so an Int-keyed edge frame works
    // too (getLong on an IntegerType row would ClassCastException, and
    // the Seq[(Long, Long)] seed below must union with a long id column)
    val top = edges.select(col("src").cast("long").as("v"))
      .union(edges.select(col("dst").cast("long").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("v"))
      .limit(1).collect()
    val spark = edges0.sparkSession
    import spark.implicits._
    if (top.isEmpty) return Seq.empty[(Long, Long)].toDF("id", "hops")
    val source = top(0).getLong(0)
    var dist = Seq((source, 0L)).toDF("id", "hops")
    for (h <- 1 to maxHops) {
      val next = dist.where(col("hops") === (h - 1).toLong)
        .join(sym, col("id") === col("src"))
        .select(col("dst").as("id"), lit(h.toLong).as("hops"))
      dist = dist.union(next)
        .groupBy("id").agg(min("hops").as("hops"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Harmonic centrality of the `nSources` highest-degree nodes (ties to
    * the smaller id), hop-bounded: H(s) = Σ_{v≠s, d(s,v)≤maxHops} 1/d(s,v)
    * — the closeness-family score that handles disconnected graphs
    * (unreachable nodes contribute 0, not ∞). Exact within the hop
    * horizon; the source sample and the bound are the standard
    * approximation at graph scale (Boldi & Vigna's centrality-sampling
    * framing), both explicit parameters.
    *
    * Shape: ONE multi-source frontier table keyed (source, node) — each
    * round joins only the just-reached frontier against the (pinned)
    * symmetric edge list and re-minimizes, so the work is `maxHops`
    * rounds regardless of source count; the distance table is bounded
    * by nSources × reachable set. The harmonic sum folds per-distance
    * INTEGER counts in fixed d = 1..maxHops order (count_d / d), so the
    * double arithmetic is order-independent and shared verbatim with
    * the oracle's depth-bounded recursive-CTE replay.
    *
    * @return (source_id, n_reached, harmonic round-6) ordered by source
    */
  def harmonicCentrality(edges0: DataFrame, maxHops: Int = 3,
      nSources: Int = 8): DataFrame = {
    require(maxHops >= 1 && maxHops <= 6, s"maxHops must be in [1,6]: $maxHops")
    require(nSources >= 1, s"nSources must be >= 1: $nSources")
    requireIntegralIds(edges0, "src", "dst")
    val edges = graft.Caches.register(
      edges0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sym = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .union(edges
        .select(col("dst").cast("long").as("src"), col("src").cast("long").as("dst")))
    val sources = edges.select(col("src").cast("long").as("v"))
      .union(edges.select(col("dst").cast("long").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
      .orderBy(col("d").desc, col("v")).limit(nSources)
      .select(col("v").as("sid"))
      .localCheckpoint(true)
    var dist = sources.select(col("sid"), col("sid").as("id"), lit(0L).as("hops"))
    for (h <- 1 to maxHops) {
      val next = dist.where(col("hops") === (h - 1).toLong)
        .join(sym, col("id") === col("src"))
        .select(col("sid"), col("dst").as("id"), lit(h.toLong).as("hops"))
      dist = dist.unionByName(next)
        .groupBy("sid", "id").agg(min("hops").as("hops"))
        .localCheckpoint(true)
    }
    val cAggs = (1 to maxHops).map(d =>
      sum(when(col("hops") === d.toLong, 1L).otherwise(0L)).as(s"__c$d"))
    val counts = dist.where(col("hops") > 0)
      .groupBy("sid").agg(cAggs.head, cAggs.tail: _*)
    val harmonic = (1 to maxHops)
      .map(d => col(s"__c$d").cast("double") / d).reduce(_ + _)
    val reached = (1 to maxHops).map(d => col(s"__c$d")).reduce(_ + _)
    sources.join(counts, Seq("sid"), "left")
      .select(col("sid").as("source_id"),
        coalesce(reached, lit(0L)).as("n_reached"),
        round(coalesce(harmonic, lit(0.0)), 6).as("harmonic"))
      .orderBy("source_id")
  }

  /** k-core peeling: iteratively delete nodes of degree < k (with the
    * edges they carry) — the surviving subgraph is the k-core, the
    * standard density filter before community/influence analysis (a
    * node's core number survives hub noise that raw degree doesn't).
    * Peeling runs a FIXED `rounds` count so both engines execute the
    * identical computation; if the graph hasn't converged by then the
    * result is the documented rounds-bounded peel (a superset of the
    * true k-core — callers needing the fixpoint raise `rounds`).
    *
    * Shape per round: one degree aggregate + two semi-joins filtering
    * the edge list — all keyed on node id, localCheckpoint cuts the
    * per-round lineage. Output is (id, degree) of surviving nodes.
    */
  def kCore(edges0: DataFrame, k: Int, rounds: Int = 4,
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 16, s"rounds must be in [1, 16]: $rounds")
    requireIntegralIds(edges0, srcCol, dstCol)
    var und = edges0.select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct()
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val keep = und.select(col("x").as("v"))
        .union(und.select(col("y").as("v")))
        .groupBy("v").agg(count(lit(1)).as("d"))
        .where(col("d") >= k)
        .select("v")
      und = und
        .join(keep.select(col("v").as("x")), Seq("x"), "left_semi")
        .join(keep.select(col("v").as("y")), Seq("y"), "left_semi")
        .select("x", "y")
        .localCheckpoint(true)
    }
    und.select(col("x").as("v")).union(und.select(col("y").as("v")))
      .groupBy(col("v").as("id")).agg(count(lit(1)).as("degree"))
      .orderBy("id")
  }

  /** Synchronous label-propagation community detection (Raghavan et al.
    * 2007): every node starts labeled with its own id; each round, every
    * node adopts the most frequent label among its neighbors, ties to
    * the SMALLEST label — which makes the synchronous update fully
    * deterministic (the classic async/random-order variant is not), at
    * the cost of possible 2-cycles that a fixed iteration count simply
    * truncates. Communities are denser-than-CC structure: a connected
    * component with two tight cliques joined by one bridge splits, where
    * [[Dedup.clusterNearDups]] would merge it.
    *
    * Shape per round: one join of the symmetrized adjacency with the
    * (node, label) table — shuffles on node id, the layout a 100-TB edge
    * list would already be bucketed by — one (node, label) count, one
    * argmax via `max(struct(count, -label))` (no window, map-side
    * combinable), localCheckpoint to cut lineage. Label tables are
    * node-sized, never edge-sized.
    *
    * @return (id, community) for every node, ordered by id
    */
  def labelPropagation(edges0: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", iters: Int = 3): DataFrame = {
    require(iters >= 1 && iters <= 10, s"iters must be in [1, 10]: $iters")
    requireIntegralIds(edges0, srcCol, dstCol)
    val und = edges0.select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct()
    val sym = graft.Caches.register(
      und.select(col("x").as("z"), col("y").as("n"))
        .union(und.select(col("y").as("z"), col("x").as("n")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var labels = sym.select(col("z").as("id")).distinct()
      .withColumn("lbl", col("id"))
    for (_ <- 1 to iters) {
      labels = sym
        .join(labels.select(col("id").as("n"), col("lbl")), Seq("n"))
        .groupBy(col("z"), col("lbl")).agg(count(lit(1)).as("c"))
        // argmax count, tie -> min label: maximizing -label = minimizing
        // label, valid for any id sign
        .groupBy("z")
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("z").as("id"), (-col("m.nl")).as("lbl"))
        .localCheckpoint(true)
    }
    labels.select(col("id"), col("lbl").as("community")).orderBy("id")
  }

  /** HITS hubs & authorities (Kleinberg 1999) on a bipartite directed
    * edge list (hub side → authority side), e.g. customers → purchased
    * parts: authority score = how much hub mass points at you, hub
    * score = how much authority mass you point at, mutually reinforcing.
    *
    * Determinism tier: the classic algorithm L2-normalizes every
    * iteration (RNG-free but float-order-sensitive); here iterations run
    * UNNORMALIZED from h₀ = 1 so every intermediate is an exact integer
    * (a₁ = indegree, h₁ = Σ a₁, …) riding DECIMAL(38,0) — order- and
    * partitioning-invariant at any parallelism — and only the FINAL
    * scores are scaled, by each side's max, in one shared double DAG.
    * Unnormalized growth is geometric in the mean degree (~d̄^(2k)), so
    * `iters` is capped: even d̄ = 10⁶ at 3 iterations stays under the
    * 38-digit decimal ceiling.
    *
    * Shape: 2·iters keyed aggregates over the edge list (each a
    * wordcount-shaped shuffle on one endpoint), edges persisted across
    * iterations; top-k per side via TakeOrdered, never a global sort.
    *
    * @return 2·topK rows (role ∈ {hub, authority}, id, score_raw,
    *         score round-6 = raw/side-max), ordered by role, score desc, id
    */
  def hitsBipartite(edges0: DataFrame, hubCol: String = "src",
      dstCol: String = "dst", iters: Int = 2, topK: Int = 20): DataFrame = {
    requireIntegralIds(edges0, hubCol, dstCol)
    val edges = graft.Caches.register(edges0
      .select(col(hubCol).cast("long").as("h"), col(dstCol).cast("long").as("a"))
      .where(col("h").isNotNull && col("a").isNotNull)
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    hitsOnEdges(edges, iters, topK)
  }

  /** [[hitsBipartite]] over a PREPARED edge table — (h, a) long columns,
    * already distinct (the caller owns dedup and persistence; a caller
    * holding a pinned/materialized edge list skips the projection +
    * distinct exchange every invocation would otherwise redo).
    */
  def hitsOnEdges(edges: DataFrame, iters: Int = 2, topK: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 3, s"iters must be in [1, 3]: $iters")
    // h₀ = 1 for every hub ⇒ a₁ = indegree; then alternate exact sums
    var auth = edges.groupBy("a")
      .agg(count(lit(1)).cast("decimal(38,0)").as("s"))
    var hub = edges.join(auth, Seq("a"))
      .groupBy("h").agg(sum(col("s")).as("s"))
    for (_ <- 2 to iters) {
      auth = edges.join(hub, Seq("h")).groupBy("a").agg(sum(col("s")).as("s"))
      hub = edges.join(auth, Seq("a")).groupBy("h").agg(sum(col("s")).as("s"))
    }
    // materialize the final score tables once (r20): each side() reads
    // its table twice (max broadcast + ranked projection) and hub's
    // lineage contains auth's whole chain — without the persist the
    // 2-iteration join chain re-evaluated up to four times per query
    // (cache substitution rewrites auth's subtree inside hub's plan too)
    val mad = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    auth = graft.Caches.register(auth.persist(mad))
    hub = graft.Caches.register(hub.persist(mad))
    def side(scores: DataFrame, idCol: String, role: String): DataFrame = {
      val mx = scores.agg(max(col("s")).as("__mx"))
      // score_raw STAYS decimal(38,0): a cast to long past 2^63 goes null
      // in non-ANSI Spark and nulls sort LAST under DESC, silently dropping
      // the biggest hubs from the top-K. The value hash is unaffected
      // (decimal and int64 stringify identically); the oracle's BIGINT cast
      // is exact at oracle scale and errors loudly (never null) beyond it.
      scores.crossJoin(broadcast(mx))
        .select(lit(role).as("role"), col(idCol).as("id"),
          col("s").as("score_raw"),
          round(col("s").cast("double") / col("__mx").cast("double"), 6)
            .as("score"))
        .orderBy(col("score_raw").desc, col("id"))
        .limit(topK)
    }
    side(hub, "h", "hub").unionByName(side(auth, "a", "authority"))
      .orderBy(col("role"), col("score_raw").desc, col("id"))
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): for every
    * non-adjacent node pair (a, b), score = Σ over common neighbors z of
    * 1/ln(deg(z)) — the classic "which edges are missing" ranking over a
    * similarity or co-occurrence graph (in a curation pipeline: which
    * near-dup clusters are about to merge).
    *
    * Shape: one degree aggregate, then each center node emits its
    * neighbor pairs through a self-equi-join on the center — the same
    * wedge generation as [[triangleCount]] but keyed on the CENTER, so a
    * hub with degree d would fan out d²/2 pairs. Centers above
    * `maxCenterDegree` are therefore dropped BEFORE the join (skew guard,
    * observe-logged via the caller's oracle mirroring the same filter —
    * a hub's weight 1/ln(d) is the least informative anyway). Known edges
    * leave via one anti-join; per-pair weights are fixed-point
    * floor(1e9/ln(deg)) longs, so the sum is order-invariant and exact
    * (overflow at ~9e9 common neighbors per pair — unreachable, a pair
    * has at most maxCenterDegree² candidates).
    *
    * @return (id_a, id_b, n_common, score round-6) for the top-k pairs,
    *         ordered by score desc with (id_a, id_b) tie-break
    */
  def adamicAdar(edges: DataFrame, srcCol: String = "src",
      dstCol: String = "dst", maxCenterDegree: Int = 500,
      topK: Int = 100): DataFrame = {
    requireIntegralIds(edges, srcCol, dstCol)
    val und = edges.select(col(srcCol).cast("long").as("x"),
        col(dstCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull && col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"),
        greatest(col("x"), col("y")).as("y"))
      .distinct()
      .localCheckpoint(true)
    val adj = und.select(col("x").as("z"), col("y").as("n"))
      .union(und.select(col("y").as("z"), col("x").as("n")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("d"))
    // centers carry their fixed-point weight into the wedge join; the
    // degree cap bounds the per-center fan-out (d² pairs) before the join
    val centers = adj.join(
        deg.where(col("d") >= 2 && col("d") <= maxCenterDegree), Seq("z"))
      .withColumn("w9", floor(lit(1e9) / log(col("d").cast("double"))))
    val pairs = centers.select(col("z"), col("n").as("a"), col("w9"))
      .join(centers.select(col("z"), col("n").as("b")), Seq("z"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), col("w9"))
    val unknown = pairs.join(und.select(col("x").as("a"), col("y").as("b")),
      Seq("a", "b"), "left_anti")
    unknown.groupBy("a", "b")
      .agg(count(lit(1)).as("n_common"), sum(col("w9")).as("__s9"))
      .select(col("a").as("id_a"), col("b").as("id_b"), col("n_common"),
        round(col("__s9").cast("double") / 1e9, 6).as("score"))
      .orderBy(col("score").desc, col("id_a"), col("id_b"))
      .limit(topK)
  }

}
