package graft

import graft.ext.{Similarity, TextAnalysis}

/** DuckDB oracle SQL for every entry in [[SparkEntry.queries]] (except ML,
  * per SURVEY §5.4 — cross-library RNG cannot hash-match).
  *
  * Determinism rules (BASELINE.md): every statement ends in a total-order
  * ORDER BY (NULLS FIRST to match Spark's ascending default); double
  * aggregates are rounded to 6 decimals on both sides; money sums go
  * through DECIMAL so they are exact regardless of aggregation order; all
  * hash functions are md5 (identical hex output in Spark and DuckDB).
  */
object OracleSql {

  /** q_s1/q_s3 round-trip fixtures live under FixtureRoot/<sf-basename>
    * (written by the Spark side of those queries). `all` is authored
    * against sf0.01; [[forDataDir]] rebinds the fixture path to the actual
    * runtime data dir so Verify's oracle dump never compares against stale
    * fixtures from another scale factor.
    */
  val FixtureRoot = "/tmp/graft_fixtures"

  def forDataDir(dataDir: String): Map[String, String] = {
    val base = new java.io.File(dataDir).getName
    all.map { case (k, v) =>
      k -> v.replace(s"$FixtureRoot/sf0.01", s"$FixtureRoot/$base")
    }
  }

  private val toks =
    "list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** HLL estimate numerator α_64·64²·2^56 — computed with the SAME Scala
    * expression as Sketches.hllEstimate and emitted as a shortest-repr
    * double literal, so both engines divide by the identical double.
    */
  private val hllC: String = {
    val m = 64
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    (alpha * m * m * math.pow(2.0, 56)).toString
  }

  private def sqlList(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  private def cosine(e: String, q: String): String =
    s"CASE WHEN sqrt(list_dot_product($e,$e)) = 0 OR sqrt(list_dot_product($q,$q)) = 0 THEN 0.0 " +
      s"ELSE list_dot_product($e,$q)/(sqrt(list_dot_product($e,$e))*sqrt(list_dot_product($q,$q))) END"

  /** Shared WITH-body for the HNSW beam-search replay (q_sim_hnsw_*):
    * the md5-fixed centroids + IVF assignment + probe-ranking + kNN edge
    * CTEs (verbatim from the green q_sim_knn_graph / q_sim_ivf_recall
    * oracles), then each beam hop unrolled as beam -> unseen-neighbors
    * -> score -> visited-union CTEs. The beam is kept PER (query,
    * cluster) — the routed-search contract of Similarity.beamSearchKnnHier —
    * so visited rows carry the node's cluster id. The visited chain and
    * the edge table are MATERIALIZED: v_t is referenced three times per
    * hop (beam, the NOT EXISTS dedup, and the next union) and kg once
    * per hop, so DuckDB's default inlining would re-expand them
    * exponentially with hop depth (the BENCHNOTES GD-chain cliff).
    */
  private def hnswVisitedCtes(hops: Int, beam: Int, graphK: Int,
      nProbe: Int, routing: Option[Int] = None,
      queryPred: String = "vec_id < 10"): String = {
    // entry probes: flat = rank ALL centroids per query; two-level
    // (routing = Some(nCells), r18) = exact triangle-inequality bound
    // routing over the nCells md5-leading centroids as CELLS — the
    // oracle twin of Similarity.beamSearchKnnHier's entry stage
    val entry = routing match {
      case None =>
        s"""pd AS (SELECT q.qid, c.cid,
           |    list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, c.cv)
           |      + list_dot_product(c.cv, c.cv) AS d2
           |  FROM q CROSS JOIN c),
           |pr AS (SELECT qid, cid FROM (SELECT qid, cid,
           |    row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn FROM pd)
           |  WHERE rn <= $nProbe),""".stripMargin
      case Some(nCells) =>
        // exact bound routing (r18): cells = md5-leading nCells
        // centroids with their max leader->member L2 RADIUS; per query,
        // lb(cell) = max(d(q, leader) - radius, 0); pass 1 ranks the
        // best-lb cell's members for UB = the nProbe-th member
        // distance (+inf when fewer); pass 2 ranks members of exactly
        // the cells with lb <= UB. sqrt is IEEE-exact, so every bound
        // replays bit-identically against the engine
        s"""cl AS (SELECT cid AS cell, cv AS clv FROM c
           |  ORDER BY md5(CAST(cid AS VARCHAR)), cid LIMIT $nCells),
           |ca AS (SELECT cid, cell FROM (SELECT c.cid, cl.cell,
           |    row_number() OVER (PARTITION BY c.cid ORDER BY
           |      list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, cl.clv)
           |        + list_dot_product(cl.clv, cl.clv), cl.cell) AS rn
           |  FROM c CROSS JOIN cl) WHERE rn = 1),
           |cr AS (SELECT cl.cell, max(sqrt(greatest(
           |      list_dot_product(c.cv, c.cv) - 2.0 * list_dot_product(c.cv, cl.clv)
           |        + list_dot_product(cl.clv, cl.clv), CAST(0.0 AS DOUBLE)))) AS r
           |  FROM cl JOIN ca ON ca.cell = cl.cell JOIN c ON c.cid = ca.cid
           |  GROUP BY cl.cell),
           |qlb AS (SELECT q.qid, cl.cell, greatest(sqrt(greatest(
           |      list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, cl.clv)
           |        + list_dot_product(cl.clv, cl.clv), CAST(0.0 AS DOUBLE)))
           |    - cr.r, CAST(0.0 AS DOUBLE)) AS lb
           |  FROM q CROSS JOIN cl JOIN cr ON cr.cell = cl.cell),
           |p1 AS (SELECT qid, cell FROM (SELECT qid, cell,
           |    row_number() OVER (PARTITION BY qid ORDER BY lb, cell) AS rn FROM qlb)
           |  WHERE rn = 1),
           |m1 AS (SELECT p1.qid, c.cid,
           |    list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, c.cv)
           |      + list_dot_product(c.cv, c.cv) AS d2
           |  FROM p1 JOIN q ON q.qid = p1.qid
           |  JOIN ca ON ca.cell = p1.cell JOIN c ON c.cid = ca.cid),
           |ub AS (SELECT qid, coalesce(max(CASE WHEN rn = $nProbe
           |      THEN sqrt(greatest(d2, CAST(0.0 AS DOUBLE))) END),
           |    CAST('infinity' AS DOUBLE)) AS ub
           |  FROM (SELECT qid, d2,
           |      row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn FROM m1)
           |  GROUP BY qid),
           |pd AS (SELECT q.qid, c.cid,
           |    list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, c.cv)
           |      + list_dot_product(c.cv, c.cv) AS d2
           |  FROM qlb JOIN ub ON ub.qid = qlb.qid AND qlb.lb <= ub.ub
           |  JOIN q ON q.qid = qlb.qid
           |  JOIN ca ON ca.cell = qlb.cell JOIN c ON c.cid = ca.cid),
           |pr AS (SELECT qid, cid FROM (SELECT qid, cid,
           |    row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn FROM pd)
           |  WHERE rn <= $nProbe),""".stripMargin
    }
    val head =
      s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE $queryPred),
         |d AS (SELECT e.vec_id, e.v, c.cid,
         |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
         |      + list_dot_product(c.cv, c.cv) AS d2
         |  FROM e CROSS JOIN c),
         |a AS MATERIALIZED (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
         |  WHERE rn = 1),
         |$entry
         |pe AS (SELECT x.vec_id AS src, y.vec_id AS dst,
         |    round(list_dot_product(x.v, y.v)
         |      / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
         |  FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id <> y.vec_id),
         |kg0 AS (SELECT src, dst FROM (SELECT src, dst,
         |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM pe)
         |  WHERE rn <= $graphK),
         |kg AS MATERIALIZED (SELECT src, dst FROM kg0
         |  UNION SELECT dst AS src, src AS dst FROM kg0),
         |v0 AS MATERIALIZED (SELECT pr.qid, a.cid, a.vec_id AS id,
         |    round(${cosine("a.v", "q.qv")}, 6) AS cos
         |  FROM pr JOIN a ON a.vec_id = pr.cid
         |  JOIN q ON q.qid = pr.qid),""".stripMargin
    val hopCtes = (1 to hops).map { t =>
      val pv = s"v${t - 1}"
      s"""b$t AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid, cid ORDER BY cos DESC, id) AS rn FROM $pv)
         |  WHERE rn <= $beam),
         |n$t AS (SELECT DISTINCT b$t.qid, kg.dst AS id
         |  FROM b$t JOIN kg ON kg.src = b$t.id
         |  WHERE NOT EXISTS (SELECT 1 FROM $pv
         |    WHERE $pv.qid = b$t.qid AND $pv.id = kg.dst)),
         |s$t AS (SELECT n$t.qid, a.cid, n$t.id, round(${cosine("a.v", "q.qv")}, 6) AS cos
         |  FROM n$t JOIN a ON a.vec_id = n$t.id JOIN q ON q.qid = n$t.qid),
         |v$t AS MATERIALIZED (SELECT * FROM $pv UNION ALL SELECT * FROM s$t),""".stripMargin
    }.mkString("\n")
    head + "\n" + hopCtes
  }

  // ±1 hyperplane literals shared with Similarity.bucketExpr (same md5 seed)
  private def planeList(j: Int, dims: Int): String =
    Similarity.planeVector(j, dims).map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ", ", "]")

  private def bucketSql(vec: String, planes: Int, dims: Int): String =
    (0 until planes).map { j =>
      s"(CASE WHEN list_dot_product($vec, ${planeList(j, dims)}) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")

  private val describeNumeric: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS column_name, count($c) AS cnt,
         |  round(CAST(sum(CAST($c AS DECIMAL(28,12))) AS DOUBLE) / count($c), 6) AS mean,
         |  round(stddev_samp($c), 6) AS std, round(CAST(min($c) AS DOUBLE), 6) AS min_v,
         |  round(quantile_cont($c, 0.25), 6) AS p25, round(quantile_cont($c, 0.5), 6) AS p50,
         |  round(quantile_cont($c, 0.75), 6) AS p75, round(CAST(max($c) AS DOUBLE), 6) AS max_v
         |FROM lineitem""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
  }

  private val corrMatrix: String = {
    val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    pairs.map { case (a, b) =>
      s"SELECT '$a' AS col_a, '$b' AS col_b, round(corr($a, $b), 6) AS r FROM lineitem"
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_a, col_b")
  }

  /** CTE chain mirroring Dedup.simhash, ending in `sg(id, simhash)`. */
  private val simhashCtes: String = {
    val digits = (0 until 8).map { d =>
      s"strpos('0123456789abcdef', substr(hh, ${d + 1}, 1)) - 1 AS d$d"
    }.mkString(", ")
    val votes = (0 until 32).map { j =>
      val w = math.pow(2, 3 - j % 4)
      s"sum((CAST(floor(d${j / 4} / $w) AS INTEGER) % 2) * 2 - 1) AS v$j"
    }.mkString(", ")
    val sig = (0 until 32).map { j =>
      s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString(" + ")
    s"""tok AS (SELECT doc_id AS id, unnest($toks) AS tok FROM documents),
       |h AS (SELECT id, md5(tok) AS hh FROM tok),
       |d AS (SELECT id, $digits FROM h),
       |v AS (SELECT id, $votes FROM d GROUP BY id),
       |sg AS (SELECT id, CAST($sig AS BIGINT) AS simhash FROM v)""".stripMargin
  }

  private val simhashSql: String =
    s"""WITH $simhashCtes
       |SELECT id, simhash FROM sg ORDER BY id""".stripMargin

  /** Shared CTE chain mirroring Dedup.nearDupMinhash (k=3, 16 hashes,
    * 4 bands): tokens → shingles → base hashes → signatures → bands →
    * candidates → exact Jaccard (`j`). Consumers append their own final
    * SELECT over `j`.
    */
  /** Shingle → signature → LSH band CTE chain (names prefixed with `pre`
    * so two instances can coexist, e.g. batch + corpus sides of the
    * incremental dedup oracle). Ends in `<pre>banded(doc_id, s, bidx,
    * band_key)`.
    */
  private def minhashBandCtes(pre: String, src: String, k: Int = 3): String = {
    val p = graft.ext.Dedup.MinhashP
    val params = graft.ext.Dedup.hashParams(16)
    val aList = params.map(_._1).mkString("[", ", ", "]")
    val bList = params.map(_._2).mkString("[", ", ", "]")
    s"""${pre}toksrc AS (SELECT doc_id, $toks AS tk FROM $src),
       |${pre}tk2 AS (SELECT * FROM ${pre}toksrc WHERE len(tk) >= $k),
       |${pre}sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - ${k - 1}), i -> array_to_string(tk[i:i+${k - 1}], ' '))) AS s
       |       FROM ${pre}tk2),
       |${pre}hs AS (SELECT doc_id, s, list_transform(s, x -> CAST(concat('0x', substr(md5(x), 1, 15)) AS BIGINT) % $p) AS hv FROM ${pre}sh),
       |${pre}sig AS (SELECT doc_id, s,
       |         list_transform(generate_series(1, 16), i -> list_min(list_transform(hv, h -> (h * ($aList)[i] + ($bList)[i]) % $p))) AS g
       |        FROM ${pre}hs),
       |${pre}banded AS (SELECT doc_id, s, bidx, md5(array_to_string(g[bidx*4+1:bidx*4+4], '|')) AS band_key
       |           FROM ${pre}sig, (SELECT unnest(generate_series(0, 3)) AS bidx) ${pre}bt)""".stripMargin
  }

  private def minhashCtes(src: String = "documents", k: Int = 3): String =
    s"""${minhashBandCtes("", src, k)},
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.s AS sa, y.s AS sb
       |         FROM banded x JOIN banded y ON x.bidx = y.bidx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |j AS (SELECT id_a, id_b, CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(list_concat(sa, sb))) AS jac FROM cand)""".stripMargin

  /** [[minhashCtes]] with the capBuckets skew guard mirrored in SQL: band
    * buckets with more than `cap` members are excluded from candidate
    * generation, exactly as Dedup.capBuckets does — the oracle PROVES which
    * pairs the guard drops rather than trusting the Spark side's warning.
    */
  private def minhashCappedCtes(src: String, k: Int, cap: Int): String =
    s"""${minhashBandCtes("", src, k)},
       |bsz AS (SELECT bidx, band_key, count(*) AS c FROM banded GROUP BY bidx, band_key),
       |kept AS (SELECT b.* FROM banded b JOIN bsz USING (bidx, band_key) WHERE bsz.c <= $cap),
       |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.s AS sa, y.s AS sb
       |         FROM kept x JOIN kept y ON x.bidx = y.bidx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
       |j AS (SELECT id_a, id_b, CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(list_concat(sa, sb))) AS jac FROM cand)""".stripMargin

  /** Full SQL replay of ml.QualityModel's deterministic trainer: labels
    * from the heuristic quality rule, hashingTf/len features + bias, then
    * 8 unrolled batch-GD steps with the algebraic sigmoid
    * 0.5·(1 + z/(1+|z|)) and the same fixed-point long sums (floor·1e12
    * dot products, floor·1e9 gradients) the Spark side uses — every
    * arithmetic op is IEEE +,*,/,abs or an exact integer floor, so the
    * two engines agree bit-for-bit through all iterations.
    */
  /** Unrolled-GD training replay CTE block, parameterized by the label
    * rule (a SQL expression over qcn's columns evaluating to 0.0/1.0
    * DOUBLE) — shared by the quality classifier and the C2ST drift test
    * so the two replays cannot desynchronize. Yields CTEs through
    * `sc(doc_id, s)` (unrounded scores) and `qclab(doc_id, y)`.
    */
  private def gdCtes(labelCase: String, iters: Int = 8): String = {
    // MATERIALIZED is load-bearing on the step CTEs: each w$i references
    // w${i-1} twice (once directly, once through z$i→e$i→g$i), so
    // DuckDB's default CTE INLINING duplicates the whole prefix per
    // level — 2^iters plan copies, measured 432 s at iters = 8 vs 0.2 s
    // materialized. Results are identical; only the execution strategy
    // changes.
    val steps = (1 to iters).map { i =>
      s"""z$i AS MATERIALIZED (SELECT f.doc_id, CAST(sum(CAST(floor(w.w * f.x * 1e12) AS BIGINT)) AS DOUBLE)/1e12 AS z
         |  FROM qcfeat f JOIN w${i - 1} w USING (j) GROUP BY f.doc_id),
         |e$i AS MATERIALIZED (SELECT z.doc_id, 0.5*(1.0 + z.z/(1.0 + abs(z.z))) - l.y AS e
         |  FROM z$i z JOIN qclab l USING (doc_id)),
         |g$i AS MATERIALIZED (SELECT f.j, CAST(sum(CAST(floor(e.e * f.x * 1e9) AS BIGINT)) AS DOUBLE)/1e9 AS s
         |  FROM qcfeat f JOIN e$i e USING (doc_id) GROUP BY f.j),
         |w$i AS MATERIALIZED (SELECT w.j, w.w - coalesce(g.s / (SELECT nd FROM qcnd), 0.0) AS w
         |  FROM w${i - 1} w LEFT JOIN g$i g USING (j))""".stripMargin
    }.mkString(",\n")
    s"""qct AS (SELECT doc_id, text, source, $toks AS tk FROM documents),
       |qcn AS MATERIALIZED (SELECT doc_id, text, source, tk, CAST(len(tk) AS BIGINT) AS n FROM qct WHERE len(tk) > 0),
       |qclab AS MATERIALIZED (SELECT doc_id, $labelCase AS y FROM qcn),
       |qctf AS (SELECT doc_id, CAST(CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % 64 AS INTEGER) AS j, count(*) AS cnt
       |  FROM (SELECT doc_id, unnest(tk) AS term FROM qcn) GROUP BY 1, 2),
       |qcfeat AS MATERIALIZED (SELECT f.doc_id, f.j, CAST(f.cnt AS DOUBLE)/CAST(n.n AS DOUBLE) AS x FROM qctf f JOIN qcn n USING (doc_id)
       |  UNION ALL SELECT doc_id, 64, CAST(1.0 AS DOUBLE) FROM qcn),
       |qcnd AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS nd FROM qclab),
       |w0 AS (SELECT CAST(unnest(generate_series(0, 64)) AS INTEGER) AS j, CAST(0.0 AS DOUBLE) AS w),
       |$steps,
       |zf AS (SELECT f.doc_id, CAST(sum(CAST(floor(w.w * f.x * 1e12) AS BIGINT)) AS DOUBLE)/1e12 AS z
       |  FROM qcfeat f JOIN w$iters w USING (j) GROUP BY f.doc_id),
       |sc AS (SELECT doc_id, 0.5*(1.0 + z/(1.0 + abs(z))) AS s FROM zf)""".stripMargin
  }

  private val qualityLabelCase: String =
    """CASE WHEN len(tk) >= 5
      |      AND round(CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / length(text), 6) <= 0.4
      |      AND round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) >= 0.3
      |      AND round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk), 6) >= 2.0
      |    THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END""".stripMargin

  private val qualityClassifierSql: String =
    s"""WITH ${gdCtes(qualityLabelCase)}
       |SELECT sc.doc_id, CAST(l.y AS INTEGER) AS label, round(sc.s, 6) AS score,
       |  CASE WHEN sc.s >= 0.5 THEN 1 ELSE 0 END AS pred
       |FROM sc JOIN qclab l USING (doc_id) ORDER BY doc_id""".stripMargin

  /** C2ST drift replay: the same GD training with a DOMAIN label
    * (sources src10-src19 vs the rest), scores rounded to the engine's
    * 6 decimals, then the Mann–Whitney AUC identity over them.
    */
  private val c2stSql: String = {
    val domainCase =
      "CASE WHEN source IN ('src10','src11','src12','src13','src14'," +
        "'src15','src16','src17','src18','src19') " +
        "THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END"
    // iters = 3: the drift READOUT (AUC of the separator) converges in a
    // few steps, and each unrolled GD step costs the oracle ~55 s of
    // single-threaded DuckDB — the 8-step replay is the quality
    // classifier's budget, not this audit's
    s"""WITH ${gdCtes(domainCase, iters = 3)},
       |b AS (SELECT round(sc.s, 6) + 0.0 AS s,
       |    CASE WHEN l.y = 1.0 THEN 1 ELSE 0 END AS y
       |  FROM sc JOIN qclab l USING (doc_id)),
       |pv AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
       |    CAST(sum(y) AS BIGINT) AS p FROM b GROUP BY 1),
       |cs AS (SELECT s, c, p, sum(c) OVER (ORDER BY s) AS cum FROM pv),
       |f AS (SELECT sum(CAST(p AS HUGEINT) * (2 * cum - c + 1)) AS r2,
       |    CAST(sum(p) AS HUGEINT) AS np, CAST(sum(c - p) AS HUGEINT) AS nn
       |  FROM cs)
       |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       |  round((CAST(r2 - np * (np + 1) AS DOUBLE) / 2.0)
       |    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) + 0.0 AS auc
       |FROM f""".stripMargin
  }

  /** Arithmetic replay of the image dHash chain (mirrors
    * Multimodal.dhash64 over Multimodal.bmpStripes fixtures): stripe
    * values from md5(text) hex pairs, Rec.601 gray per single-pixel
    * block (identical double DAG: 0.299*x + 0.587*x + 0.114*x), bit
    * r*8+c set iff the right neighbor is strictly brighter. Bit 63 is
    * the literal -2^63 (DuckDB refuses 1<<63); bits are disjoint so SUM
    * composes them exactly like OR. Ends in `h(doc_id, dh)`.
    */
  private val dhashCtes: String =
    """v AS (SELECT doc_id, list_transform(generate_series(0, 8),
      |    i -> CAST(('0x' || substr(md5(text), i*2+1, 2)) AS INTEGER)) AS vals FROM documents),
      |g AS (SELECT doc_id, list_transform(vals, x -> 0.299*x + 0.587*x + 0.114*x) AS gr FROM v),
      |dbits AS (SELECT doc_id, rr.r AS r, cc.c AS c,
      |    CASE WHEN gr[cc.c + 2] > gr[cc.c + 1] THEN 1 ELSE 0 END AS bit
      |  FROM g, (SELECT unnest(generate_series(0, 7)) AS r) rr,
      |       (SELECT unnest(generate_series(0, 7)) AS c) cc),
      |h AS (SELECT doc_id, CAST(sum(CASE WHEN bit = 1 THEN
      |    CASE WHEN r*8 + c = 63 THEN (-9223372036854775808)::BIGINT
      |         ELSE 1::BIGINT << (r*8 + c) END
      |  ELSE 0 END) AS BIGINT) AS dh FROM dbits GROUP BY doc_id)""".stripMargin

  /** Gaps-and-islands sessionization — shared by the session_window query
    * and the flatMapGroupsWithState variant (identical semantics). */
  private val sessionizeSql: String =
    """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      |l AS (SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
      |                     THEN 1 ELSE 0 END AS brk FROM e),
      |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l)
      |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
      |       count(*) AS n_events, round(sum(value), 6) AS sum_value
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  private def stopRatioSql(tk: String, words: Seq[String]): String =
    s"CASE WHEN len($tk) = 0 THEN 0.0 ELSE CAST(len(list_filter($tk, t2 -> list_contains(${sqlList(words)}, t2))) AS DOUBLE) / len($tk) END"

  /** CTE chain mirroring TextAnalysis.langId, ending in
    * `lg(doc_id, lang_guess)`.
    */
  private val langGuessCtes: String = {
    val sEn = stopRatioSql("tk", TextAnalysis.stopwordsEn)
    val sDe = stopRatioSql("tk", TextAnalysis.stopwordsDe)
    val sEs = stopRatioSql("tk", TextAnalysis.stopwordsEs)
    val sFr = stopRatioSql("tk", TextAnalysis.stopwordsFr)
    s"""t AS (SELECT doc_id, $toks AS tk FROM documents),
       |sc AS (SELECT doc_id, $sEn AS s_en, $sDe AS s_de, $sEs AS s_es, $sFr AS s_fr FROM t),
       |lg AS (SELECT doc_id,
       |  CASE WHEN s_en = 0.0 AND s_de = 0.0 AND s_es = 0.0 AND s_fr = 0.0 THEN 'und'
       |       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr THEN 'en'
       |       WHEN s_de >= s_es AND s_de >= s_fr THEN 'de'
       |       WHEN s_es >= s_fr THEN 'es'
       |       ELSE 'fr' END AS lang_guess
       |  FROM sc)""".stripMargin
  }

  private val langIdSql: String =
    s"""WITH $langGuessCtes
       |SELECT doc_id, lang_guess FROM lg ORDER BY doc_id""".stripMargin

  /** Confusion matrix of the lang-ID heuristic vs the labeled lang
    * column — same guess CTEs as [[langIdSql]], exact counts.
    */
  private val langIdConfusionSql: String =
    s"""WITH $langGuessCtes
       |SELECT d.lang, lg.lang_guess, CAST(count(*) AS BIGINT) AS n
       |FROM documents d JOIN lg ON d.doc_id = lg.doc_id
       |GROUP BY 1, 2 ORDER BY lang, lang_guess""".stripMargin

  /** JL random projection oracle: regenerates the identical ±1 literals
    * from [[graft.ext.DimReduce.jlSign]]; the per-dim sum is the same
    * left-associated chain the Spark expression builds.
    */
  /** Per-dimension rounded JL projection expressions — ONE builder shared
    * by [[jlOracle]] and [[jlTopkOracle]] so the two queries cannot
    * desynchronize. `+ 0.0` normalizes DuckDB round's -0.0 (Spark's
    * BigDecimal round never emits a signed zero).
    */
  private def jlExprs(inDim: Int, outDim: Int): Seq[String] = {
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    (0 until outDim).map { k =>
      val chain = (0 until inDim).map { i =>
        s"v[${i + 1}] * ${graft.ext.DimReduce.jlSign(k, i)}"
      }.mkString(" + ")
      s"round(($chain) * $scale, 6) + 0.0"
    }
  }

  private def jlOracle(inDim: Int, outDim: Int): String = {
    val cols = jlExprs(inDim, outDim).zipWithIndex
      .map { case (e, k) => s"$e AS p_$k" }.mkString(",\n  ")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)
       |SELECT vec_id AS id,
       |  $cols
       |FROM e ORDER BY id""".stripMargin
  }

  /** Projected-space retrieval oracle: the [[jlOracle]] projection as a
    * list column, then the standard cosine top-k over it (query = row
    * vec_id 0's projection, the q_sim_topk pattern).
    */
  private def jlTopkOracle(inDim: Int, outDim: Int, k: Int): String = {
    val elems = jlExprs(inDim, outDim).mkString("[\n    ", ",\n    ", "]")
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |p AS (SELECT vec_id, $elems AS pe FROM e),
       |q AS (SELECT pe AS qe FROM p WHERE vec_id = 0),
       |s AS (SELECT vec_id AS id, pe AS e FROM p)
       |SELECT id, round(${cosine("e", "qe")}, 6) AS cos
       |FROM s, q ORDER BY cos DESC, id LIMIT $k""".stripMargin
  }

  /** Shared prefix of both PCA oracles: the fixed-point moment sums
    * (per-row trunc to long, exact integer sums) and the covariance
    * entries as the same double formula DAG
    * [[graft.ext.DimReduce.covarianceFromSums]] evaluates.
    */
  private val FpScale = "1000000000000.0" // DimReduce.FixedScale, exactly representable

  private def pcaBase(d: Int): String = {
    val sums = (
      (0 until d).map(i =>
        s"CAST(sum(CAST(trunc(v[${i + 1}] * $FpScale) AS BIGINT)) AS DOUBLE) AS s_$i") ++
      (for { i <- 0 until d; j <- i until d } yield
        s"CAST(sum(CAST(trunc(v[${i + 1}] * v[${j + 1}] * $FpScale) AS BIGINT)) AS DOUBLE) AS q_${i}_$j")
    ).mkString(",\n    ")
    s"""e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |base AS (SELECT CAST(count(*) AS DOUBLE) AS n,
       |    $sums
       |  FROM e)""".stripMargin
  }

  private def covExpr(i: Int, j: Int): String = {
    val (a, b) = (math.min(i, j), math.max(i, j))
    s"q_${a}_$b / $FpScale / n - s_$i / $FpScale / n * (s_$j / $FpScale / n)"
  }

  private def pcaCovOracle(d: Int): String = {
    val entries = (for { i <- 0 until d; j <- i until d } yield
      s"struct_pack(i := $i, j := $j, c := ${covExpr(i, j)})").mkString(",\n    ")
    s"""WITH ${pcaBase(d)}
       |SELECT CAST(u.i AS BIGINT) AS i, CAST(u.j AS BIGINT) AS j, round(u.c, 6) + 0.0 AS cov
       |FROM (SELECT unnest([
       |    $entries]) AS u FROM base)
       |ORDER BY i, j""".stripMargin
  }

  /** Power-iteration oracle: `iters` unrolled steps over the covariance
    * list-of-lists, every fold in ascending index order — the exact DAG
    * of [[graft.ext.DimReduce.powerIteration]]. Non-recursive (aggregates
    * are barred from recursive CTE terms), so the iteration count is
    * baked into the generated text.
    */
  private def pcaPowerOracle(d: Int, iters: Int): String =
    s"""WITH ${pcaChain(d, iters)}
       |SELECT CAST(i - 1 AS BIGINT) AS dim, round(v[i] * s, 6) + 0.0 AS loading, round(lambda, 6) + 0.0 AS eigenvalue
       |FROM sg2, (SELECT unnest(generate_series(1, $d)) AS i) idx ORDER BY dim""".stripMargin

  /** End-to-end projection oracle: recompute the top component via the
    * same unrolled chain, then dot every embedding row against the
    * sign-fixed loadings (same left-associated term order as
    * [[graft.ext.DimReduce.pcaProject]]'s literal chain).
    */
  private def pcaProjectOracle(d: Int, iters: Int): String = {
    val chain = (0 until d).map(i =>
      s"CAST(emb.embedding[${i + 1}] AS DOUBLE) * (sg2.v[${i + 1}] * sg2.s)")
      .mkString(" + ")
    s"""WITH ${pcaChain(d, iters)}
       |SELECT emb.vec_id AS id, round($chain, 6) + 0.0 AS pc_0
       |FROM sg2 CROSS JOIN embeddings emb ORDER BY id""".stripMargin
  }

  /** CTE chain shared by the power / projection oracles: moment sums →
    * covariance list-of-lists → `iters` power steps → eigenvalue + sign.
    */
  private def pcaChain(d: Int, iters: Int): String = {
    val m = (0 until d).map(i =>
      (0 until d).map(j => covExpr(i, j)).mkString("[", ", ", "]"))
      .mkString("[\n    ", ",\n    ", "]")
    val steps = (1 to iters).map { t =>
      val prev = if (t == 1) "it0" else s"it${t - 1}"
      s"""w$t AS (SELECT m, list_transform(generate_series(1, $d), i ->
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, $d), j -> m[i][j] * v[j])), (a, x) -> a + x)) AS w FROM $prev),
         |n$t AS (SELECT m, w, list_reduce(list_prepend(CAST(0.0 AS DOUBLE), w), (a, x) -> a + x * x) AS n2 FROM w$t),
         |it$t AS (SELECT m, CASE WHEN n2 = 0 THEN w ELSE list_transform(w, x -> x / sqrt(n2)) END AS v FROM n$t)""".stripMargin
    }.mkString(",\n")
    s"""${pcaBase(d)},
       |cov AS (SELECT n, $m AS m FROM base),
       |it0 AS (SELECT m, list_transform(generate_series(1, $d),
       |    i -> CASE WHEN i = 1 THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS v FROM cov),
       |$steps,
       |fw AS (SELECT m, v, list_transform(generate_series(1, $d), i ->
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(1, $d), j -> m[i][j] * v[j])), (a, x) -> a + x)) AS w FROM it$iters),
       |ev AS (SELECT v, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(generate_series(1, $d), i -> v[i] * w[i])), (a, x) -> a + x) AS lambda FROM fw),
       |sg AS (SELECT v, lambda, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform(v, x -> abs(x))), (a, x) -> CASE WHEN x > a THEN x ELSE a END) AS mx FROM ev),
       |sg2 AS (SELECT v, lambda,
       |    CASE WHEN list_filter(v, x -> abs(x) = mx)[1] < 0
       |      THEN CAST(-1.0 AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END AS s FROM sg)""".stripMargin
  }

  /** BPE-trainer oracle: `numMerges` unrolled rounds of weighted pair
    * counting + most-frequent merge over the marker-encoded distinct-word
    * table — the DAG of [[graft.ext.Tokenize.learnBpeMerges]], with the
    * same `cnt DESC, p1||'|'||p2 ASC` tie-break.
    */
  private def bpeRounds(numMerges: Int): String =
    (1 to numMerges).map { r =>
      val prev = if (r == 1) "w0" else s"w${r - 1}"
      s"""pc$r AS (SELECT p, CAST(sum(wcnt) AS BIGINT) AS cnt FROM (
         |    SELECT wcnt, unnest(list_transform(generate_series(1, len(pp) - 1),
         |      i -> pp[i] || '|' || pp[i + 1])) AS p
         |    FROM (SELECT wcnt, string_split(substr(s, 2, len(s) - 2), '><') AS pp FROM $prev))
         |  GROUP BY p),
         |b$r AS (SELECT p, cnt, string_split(p, '|')[1] AS p1, string_split(p, '|')[2] AS p2
         |  FROM pc$r ORDER BY cnt DESC, p LIMIT 1),
         |w$r AS (SELECT word, wcnt, replace(s, '<' || b.p1 || '><' || b.p2 || '>', '<' || b.p1 || b.p2 || '>') AS s
         |  FROM $prev, b$r b)""".stripMargin
    }.mkString(",\n")

  /** Viterbi-segmentation oracle: the engine's lattice shortest path
    * replayed by plain UNROLLED relaxation — `maxWordLen` dp rounds
    * (each extends every best path by one lattice edge; shortest-path
    * VALUES are algorithm-independent, so this meets the engine's
    * min-plus doubling on identical integers), then the backpointer
    * table (smallest start j achieving dp[i] — the engine's documented
    * tie rule) walked backward for `maxWordLen` rounds, prepending
    * pieces. Vocabulary, costs and caps mirror
    * [[graft.ext.Tokenize.viterbiSegment]] exactly.
    */
  private def viterbiSegmentOracle(maxPieceLen: Int, topV: Int,
      maxWordLen: Int, minCount: Long, big: Long): String = {
    val dps = (1 to maxWordLen).map { k =>
      s"""dp$k AS MATERIALIZED (SELECT word, pos, min(cost) AS cost FROM (
         |  SELECT word, pos, cost FROM dp${k - 1}
         |  UNION ALL
         |  SELECT e.word, e.i AS pos, d.cost + e.ecost AS cost
         |  FROM dp${k - 1} d JOIN edges e ON d.word = e.word AND d.pos = e.j)
         | GROUP BY word, pos)""".stripMargin
    }.mkString(",\n")
    val wks = (1 to maxWordLen).map { k =>
      s"""wk$k AS MATERIALIZED (SELECT w.word, bp.bj AS pos,
         |    substr(w.word, CAST(bp.bj + 1 AS INTEGER), CAST(w.pos - bp.bj AS INTEGER)) ||
         |      (CASE WHEN w.acc = '' THEN '' ELSE ' ' END) || w.acc AS acc
         |  FROM wk${k - 1} w JOIN bp ON w.word = bp.word AND w.pos = bp.i
         |  WHERE w.pos > 0
         |  UNION ALL
         |  SELECT word, pos, acc FROM wk${k - 1} WHERE pos = 0)""".stripMargin
    }.mkString(",\n")
    s"""WITH wl AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS wcnt
       |  FROM (SELECT unnest($toks) AS word FROM documents)
       |  WHERE length(word) <= $maxWordLen GROUP BY word),
       |c0 AS MATERIALIZED (SELECT word, wcnt,
       |    unnest(generate_series(0, length(word) - 1)) AS j FROM wl),
       |c1 AS MATERIALIZED (SELECT word, wcnt, j,
       |    unnest(generate_series(1, least($maxPieceLen, length(word) - j))) AS len
       |  FROM c0),
       |cand AS MATERIALIZED (SELECT word, wcnt, j, j + len AS i,
       |    substr(word, CAST(j + 1 AS INTEGER), CAST(len AS INTEGER)) AS piece
       |  FROM c1),
       |pf AS MATERIALIZED (SELECT piece, CAST(sum(wcnt) AS BIGINT) AS pfreq
       |  FROM cand GROUP BY piece),
       |v2 AS MATERIALIZED (SELECT piece, pfreq FROM (SELECT piece, pfreq,
       |    row_number() OVER (ORDER BY pfreq DESC, piece) AS rn
       |  FROM pf WHERE length(piece) >= 2) WHERE rn <= $topV),
       |va AS MATERIALIZED (SELECT piece, pfreq FROM v2 UNION ALL
       |  SELECT piece, pfreq FROM pf WHERE length(piece) = 1),
       |edges AS MATERIALIZED (SELECT c.word, c.j, c.i, $big - v.pfreq AS ecost
       |  FROM cand c JOIN va v USING (piece)),
       |dp0 AS MATERIALIZED (SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS cost FROM wl),
       |$dps,
       |bp AS MATERIALIZED (SELECT e.word, e.i, min(e.j) AS bj FROM edges e
       |  JOIN dp$maxWordLen a ON a.word = e.word AND a.pos = e.j
       |  JOIN dp$maxWordLen b ON b.word = e.word AND b.pos = e.i
       |  WHERE a.cost + e.ecost = b.cost GROUP BY e.word, e.i),
       |wk0 AS MATERIALIZED (SELECT word, CAST(length(word) AS BIGINT) AS pos, '' AS acc
       |  FROM wl),
       |$wks
       |SELECT l.word, l.wcnt,
       |  CAST(len(string_split(w.acc, ' ')) AS INTEGER) AS n_pieces,
       |  w.acc AS pieces
       |FROM wk$maxWordLen w JOIN wl l USING (word)
       |WHERE w.pos = 0 AND l.wcnt >= $minCount
       |ORDER BY word""".stripMargin
  }

  private def bpeOracle(numMerges: Int): String = {
    val rounds = bpeRounds(numMerges)
    val out = (1 to numMerges).map(r =>
      s"SELECT CAST($r AS BIGINT) AS merge_rank, p1, p2, cnt AS pair_count FROM b$r")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeChain(rounds)}
       |SELECT * FROM (
       |  $out) ORDER BY merge_rank""".stripMargin
  }

  private def bpeChain(rounds: String): String =
    s"""w0 AS (SELECT word, CAST(count(*) AS BIGINT) AS wcnt,
       |    '<' || array_to_string(list_transform(generate_series(1, len(word)),
       |      i -> substr(word, CAST(i AS INTEGER), 1)), '><') || '>' AS s
       |  FROM (SELECT unnest($toks) AS word FROM documents) GROUP BY word),
       |$rounds""".stripMargin

  /** Train→apply oracle: the same unrolled trainer chain, then the final
    * word segmentations joined back onto per-document token streams —
    * mirrors [[graft.ext.Tokenize.bpeSegment]].
    */
  private def bpeSegmentOracle(numMerges: Int): String = {
    val rounds = bpeRounds(numMerges)
    s"""WITH ${bpeChain(rounds)},
       |tokd AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 1),
       |          j -> struct_pack(pos := j, word := tk[j+1]))) AS u
       |         FROM (SELECT doc_id, $toks AS tk FROM documents)),
       |tokr AS (SELECT doc_id, u.pos AS pos, u.word AS word FROM tokd),
       |wp AS (SELECT word, string_split(substr(s, 2, len(s) - 2), '><') AS pieces FROM w$numMerges),
       |d AS (SELECT doc_id, pos, pieces FROM tokr JOIN wp USING (word)),
       |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |        flatten(list(pieces ORDER BY pos)) AS pl FROM d GROUP BY doc_id)
       |SELECT t0.doc_id, coalesce(a.n_words, 0) AS n_words,
       |  CAST(coalesce(len(a.pl), 0) AS BIGINT) AS n_pieces,
       |  md5(coalesce(array_to_string(a.pl, ' '), '')) AS fp
       |FROM (SELECT doc_id FROM documents) t0 LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin
  }

  private def cmsBucket(rExpr: String): String =
    s"CAST(concat('0x', substr(md5(CAST($rExpr AS VARCHAR) || ':' || term), 1, 15)) AS BIGINT) % 64"

  private def cmsCellsSql: String =
    s"""cells AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt FROM (
       |    SELECT r, ${cmsBucket("r")} AS bucket
       |    FROM t CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)) GROUP BY 1, 2)""".stripMargin

  /** pHash oracle: the per-row md5 BMP fixture grid, the IDENTICAL
    * twiddle doubles from [[graft.ext.Multimodal.DctT]] re-emitted as
    * literals, and every fold in the UDF's index order — the whole
    * frequency transform replayed without a codec.
    */
  private def phashOracle: String = {
    val tl = graft.ext.Multimodal.DctT.map(row =>
      row.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]"))
      .mkString("[\n    ", ",\n    ", "]")
    val px = "CAST(CAST(('0x' || substr(md5(seed || '#' || rr.r), i*2+1, 2)) AS INTEGER) AS DOUBLE)"
    s"""WITH sd AS (SELECT doc_id, md5(text) AS seed FROM documents),
       |g AS (SELECT doc_id, rr.r AS r, list_transform(generate_series(0, 8),
       |    i -> CAST(0.299 AS DOUBLE)*$px + CAST(0.587 AS DOUBLE)*$px + CAST(0.114 AS DOUBLE)*$px) AS gr
       |  FROM sd, (SELECT unnest(generate_series(0, 7)) AS r) rr),
       |gg AS (SELECT doc_id, list(gr ORDER BY r) AS rws FROM g GROUP BY doc_id),
       |tw AS (SELECT $tl AS tl),
       |co AS (SELECT doc_id, list_transform(generate_series(0, 63), k ->
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |      list_transform(generate_series(0, 63), i ->
       |        rws[i // 8 + 1][i % 8 + 1] * tl[k // 8 + 1][i // 8 + 1] * tl[k % 8 + 1][i % 8 + 1])),
       |      (a, x) -> a + x)) AS coef
       |  FROM gg CROSS JOIN tw),
       |mn AS (SELECT doc_id, coef,
       |    (list_reduce(list_prepend(CAST(0.0 AS DOUBLE), coef), (a, x) -> a + x) - coef[1]) / 63.0 AS m
       |  FROM co),
       |hb AS (SELECT doc_id, CAST(sum(CASE WHEN coef[kk.k + 1] > m THEN
       |    CASE WHEN kk.k = 63 THEN (-9223372036854775808)::BIGINT ELSE 1::BIGINT << kk.k END
       |  ELSE 0 END) AS BIGINT) AS ph
       |  FROM mn, (SELECT unnest(generate_series(0, 63)) AS k) kk GROUP BY doc_id)
       |SELECT doc_id, ph AS phash FROM hb ORDER BY doc_id""".stripMargin
  }

  /** Audio band-power oracle: the frame-energy fixture's sample
    * extraction plus fixed-point twiddle sums whose cos/sin literals are
    * re-emitted from [[graft.ext.Multimodal.dftTwiddles]].
    */
  private def audioBandOracle(frameSamples: Int, bins: Seq[Int]): String = {
    // the generated SQL is bound to the 128-sample wav fixture and keeps
    // every j // frameSamples group; Spark's pcmSampleRows DROPS a
    // trailing partial frame, so only exact divisors stay in lockstep
    require(128 % frameSamples == 0,
      s"frameSamples must divide the 128-sample fixture: $frameSamples")
    def lst(xs: Seq[Double]) =
      xs.map(x => s"CAST($x AS DOUBLE)").mkString("[", ", ", "]")
    val aggs = bins.flatMap { b =>
      val (c, s) = graft.ext.Multimodal.dftTwiddles(frameSamples, b)
      Seq(
        s"sum(CAST(trunc(sv * ${lst(c)}[k + 1] * 1000000.0) AS BIGINT)) AS re_$b",
        s"sum(CAST(trunc(sv * ${lst(s)}[k + 1] * 1000000.0) AS BIGINT)) AS im_$b")
    }.mkString(",\n    ")
    val fs = 32768.0 * frameSamples // full-scale norm, matches the Spark side
    val arms = bins.map { b =>
      val re = s"(CAST(re_$b AS DOUBLE) / 1000000.0 / $fs)"
      val im = s"(CAST(im_$b AS DOUBLE) / 1000000.0 / $fs)"
      s"SELECT doc_id, frame, CAST($b AS BIGINT) AS bin, round($re * $re + $im * $im, 6) AS power FROM a"
    }.mkString("\n  UNION ALL ")
    s"""WITH s AS (SELECT doc_id, repeat(md5(text), 16) AS hx FROM documents),
       |e AS (SELECT doc_id, jj.j AS j,
       |    CAST(('0x' || substr(hx, jj.j*4+3, 2) || substr(hx, jj.j*4+1, 2)) AS BIGINT) AS v0
       |  FROM s, (SELECT unnest(generate_series(0, 127)) AS j) jj),
       |v AS (SELECT doc_id, CAST(j // $frameSamples AS BIGINT) AS frame,
       |    CAST(j % $frameSamples AS BIGINT) AS k,
       |    CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END AS sv FROM e),
       |a AS (SELECT doc_id, frame,
       |    $aggs
       |  FROM v GROUP BY doc_id, frame)
       |SELECT * FROM (
       |  $arms) ORDER BY doc_id, frame, bin""".stripMargin
  }

  /** Markov stationary-distribution oracle: dense k×k transition matrix
    * from the lag pairs (uniform fallback for dangling rows), then
    * `iters` unrolled left-multiplications with ascending-index folds —
    * the DAG of [[graft.streaming.EventsStream.stationaryDistribution]].
    */
  private def markovOracle(iters: Int): String = {
    val steps = (1 to iters).map { t =>
      val prev = if (t == 1) "it0" else s"it${t - 1}"
      s"""it$t AS (SELECT m, list_transform(generate_series(1, len(m)), j ->
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |      list_transform(generate_series(1, len(m)), i -> v[i] * m[i][j])), (a, x) -> a + x)) AS v FROM $prev)""".stripMargin
    }.mkString(",\n")
    s"""WITH o AS (SELECT event_type AS cur,
       |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt FROM events),
       |tc AS (SELECT cur, nxt, CAST(count(*) AS BIGINT) AS c FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |ti AS (SELECT t, row_number() OVER (ORDER BY t) AS i
       |       FROM (SELECT DISTINCT event_type AS t FROM events)),
       |kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ti),
       |cells AS (SELECT a.i AS i, b.i AS j, coalesce(tc.c, 0) AS c
       |  FROM ti a CROSS JOIN ti b LEFT JOIN tc ON tc.cur = a.t AND tc.nxt = b.t),
       |rs AS (SELECT i, CAST(sum(c) AS BIGINT) AS s FROM cells GROUP BY i),
       |m0 AS (SELECT cells.i, cells.j,
       |    CASE WHEN rs.s > 0 THEN CAST(cells.c AS DOUBLE) / rs.s
       |         ELSE CAST(1.0 AS DOUBLE) / kk.k END AS p
       |  FROM cells JOIN rs USING (i) CROSS JOIN kk),
       |mm AS (SELECT list(pl ORDER BY i) AS m
       |       FROM (SELECT i, list(p ORDER BY j) AS pl FROM m0 GROUP BY i)),
       |it0 AS (SELECT m, list_transform(generate_series(1, len(m)),
       |    x -> CAST(1.0 AS DOUBLE) / len(m)) AS v FROM mm),
       |$steps
       |SELECT ti.t AS event_type, round(v[ti.i], 6) + 0.0 AS stationary
       |FROM it$iters CROSS JOIN ti ORDER BY event_type""".stripMargin
  }

  val all: Map[String, String] = Map(
    "q_pipeline" ->
      """WITH u AS (
        |  SELECT c_custkey, c_nationkey, c_acctbal,
        |         NULL::BIGINT AS s_suppkey, NULL::INTEGER AS s_nationkey, NULL::DOUBLE AS s_acctbal,
        |         0 AS src, c_custkey AS ord
        |  FROM customer
        |  UNION ALL
        |  SELECT NULL::BIGINT, NULL::INTEGER, NULL::DOUBLE, s_suppkey, s_nationkey, s_acctbal, 1, s_suppkey
        |  FROM supplier),
        |st AS (SELECT
        |  avg(c_custkey) AS mu1, stddev_pop(c_custkey) AS sd1,
        |  avg(c_nationkey) AS mu2, stddev_pop(c_nationkey) AS sd2,
        |  avg(c_acctbal) AS mu3, stddev_pop(c_acctbal) AS sd3,
        |  avg(s_suppkey) AS mu4, stddev_pop(s_suppkey) AS sd4,
        |  avg(s_nationkey) AS mu5, stddev_pop(s_nationkey) AS sd5,
        |  avg(s_acctbal) AS mu6, stddev_pop(s_acctbal) AS sd6 FROM u)
        |SELECT src, ord,
        |  round(CASE WHEN sd1 = 0 OR sd1 IS NULL THEN 0.0 ELSE (c_custkey - mu1) / sd1 END, 6) AS c_custkey,
        |  round(CASE WHEN sd2 = 0 OR sd2 IS NULL THEN 0.0 ELSE (c_nationkey - mu2) / sd2 END, 6) AS c_nationkey,
        |  round(CASE WHEN sd3 = 0 OR sd3 IS NULL THEN 0.0 ELSE (c_acctbal - mu3) / sd3 END, 6) AS c_acctbal,
        |  round(CASE WHEN sd4 = 0 OR sd4 IS NULL THEN 0.0 ELSE (s_suppkey - mu4) / sd4 END, 6) AS s_suppkey,
        |  round(CASE WHEN sd5 = 0 OR sd5 IS NULL THEN 0.0 ELSE (s_nationkey - mu5) / sd5 END, 6) AS s_nationkey,
        |  round(CASE WHEN sd6 = 0 OR sd6 IS NULL THEN 0.0 ELSE (s_acctbal - mu6) / sd6 END, 6) AS s_acctbal
        |FROM u, st ORDER BY src, ord""".stripMargin,

    "q_h2_union" ->
      """SELECT * FROM (
        |  SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |         NULL::BIGINT AS s_suppkey, NULL::VARCHAR AS s_name, NULL::INTEGER AS s_nationkey, NULL::DOUBLE AS s_acctbal
        |  FROM customer
        |  UNION ALL
        |  SELECT NULL::BIGINT, NULL::VARCHAR, NULL::INTEGER, NULL::DOUBLE, NULL::VARCHAR,
        |         s_suppkey, s_name, s_nationkey, s_acctbal
        |  FROM supplier
        |) u ORDER BY coalesce(c_custkey, -1), coalesce(s_suppkey, -1)""".stripMargin,

    "q_c1_coerce" ->
      """SELECT l_orderkey, l_linenumber,
        |  TRY_CAST(CASE WHEN l_linenumber % 3 = 0 THEN 'x' ELSE CAST(l_quantity AS VARCHAR) END AS DOUBLE) AS qty_num,
        |  TRY_CAST(l_returnflag AS DOUBLE) AS flag_num
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, qty_num NULLS FIRST, flag_num NULLS FIRST""".stripMargin,

    "q_c2_scrub_inf" ->
      """WITH b AS (SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber = 2 THEN CAST('Infinity' AS DOUBLE)
        |       WHEN l_linenumber = 3 THEN CAST('-Infinity' AS DOUBLE)
        |       ELSE l_tax END AS x FROM lineitem)
        |SELECT l_orderkey, l_linenumber, CASE WHEN isinf(x) THEN NULL ELSE x END AS v
        |FROM b ORDER BY l_orderkey, l_linenumber, v NULLS FIRST""".stripMargin,

    "q_c3_interpolate" ->
      """WITH base AS (
        |  SELECT event_id, ts, event_type,
        |         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
        |  FROM events),
        |pos AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY ts) AS p FROM base),
        |w AS (SELECT event_id, p, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
        |  FROM pos)
        |SELECT event_id,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |             WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             ELSE pv + (nv - pv) * (p - pp) / (np - pp) END, 6) AS v
        |FROM w ORDER BY event_id""".stripMargin,

    "q_c4_ffill" ->
      """SELECT event_id,
        |  last_value(CASE WHEN event_id % 5 = 0 THEN NULL ELSE value END IGNORE NULLS)
        |    OVER (PARTITION BY event_type ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
        |FROM events ORDER BY event_id""".stripMargin,

    "q_c5_drop_null_cols" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber = 1 THEN l_discount END AS half
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, half NULLS FIRST""".stripMargin,

    "q_c6_describe" -> describeNumeric,

    "q_c6_describe_str" ->
      """WITH lng AS (
        |  SELECT 'l_returnflag' AS column_name, l_returnflag AS value FROM lineitem WHERE l_returnflag IS NOT NULL
        |  UNION ALL
        |  SELECT 'l_linestatus', l_linestatus FROM lineitem WHERE l_linestatus IS NOT NULL),
        |counts AS (SELECT column_name, value, count(*) AS vfreq FROM lng GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY column_name ORDER BY vfreq DESC, value) AS rn FROM counts)
        |SELECT column_name, CAST(sum(vfreq) AS BIGINT) AS cnt, count(*) AS n_unique,
        |       max(CASE WHEN rn = 1 THEN value END) AS top, max(CASE WHEN rn = 1 THEN vfreq END) AS top_freq
        |FROM r GROUP BY column_name ORDER BY column_name""".stripMargin,

    "q_p1_zscore" ->
      """WITH st AS (SELECT round(avg(l_quantity), 6) AS mu_q, round(stddev_pop(l_quantity), 6) AS sd_q,
        |                   round(avg(l_extendedprice), 6) AS mu_e, round(stddev_pop(l_extendedprice), 6) AS sd_e
        |            FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  round(CASE WHEN sd_q = 0 OR sd_q IS NULL THEN 0.0 ELSE (l_quantity - mu_q) / sd_q END, 6) AS l_quantity,
        |  round(CASE WHEN sd_e = 0 OR sd_e IS NULL THEN 0.0 ELSE (l_extendedprice - mu_e) / sd_e END, 6) AS l_extendedprice
        |FROM lineitem, st
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""".stripMargin,

    "q_p2_label_encode" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(dense_rank() OVER (ORDER BY l_returnflag) - 1 AS BIGINT) AS flag_code,
        |  CAST(dense_rank() OVER (ORDER BY l_linestatus) - 1 AS BIGINT) AS status_code
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, flag_code, status_code""".stripMargin,

    "q_e1_histogram" ->
      """WITH mm AS (SELECT CAST(min(l_extendedprice) AS DOUBLE) AS lo, CAST(max(l_extendedprice) AS DOUBLE) AS hi FROM lineitem)
        |SELECT CASE WHEN hi = lo THEN 0 ELSE least(CAST(floor((l_extendedprice - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19) END AS bin,
        |       count(*) AS cnt
        |FROM lineitem, mm WHERE l_extendedprice IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_e2_boxstats" ->
      """WITH st AS (SELECT l_returnflag, round(quantile_cont(l_quantity, 0.25), 6) AS q1,
        |                   round(quantile_cont(l_quantity, 0.5), 6) AS med, round(quantile_cont(l_quantity, 0.75), 6) AS q3
        |            FROM lineitem GROUP BY l_returnflag),
        |f AS (SELECT *, round(q1 - 1.5 * (q3 - q1), 6) AS lo_fence, round(q3 + 1.5 * (q3 - q1), 6) AS hi_fence FROM st)
        |SELECT f.l_returnflag, f.q1, f.med, f.q3, f.lo_fence, f.hi_fence,
        |       count(CASE WHEN l.l_quantity < f.lo_fence OR l.l_quantity > f.hi_fence THEN 1 END) AS n_outliers
        |FROM lineitem l JOIN f ON l.l_returnflag = f.l_returnflag
        |GROUP BY 1, 2, 3, 4, 5, 6 ORDER BY 1""".stripMargin,

    "q_e3_pairs" ->
      """SELECT l_orderkey, l_linenumber, l_quantity AS x, l_extendedprice AS y
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, x, y""".stripMargin,

    "q_e4_histogram2d" ->
      """WITH nn AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        |            WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |mm AS (SELECT CAST(min(x) AS DOUBLE) AS xlo, CAST(max(x) AS DOUBLE) AS xhi,
        |              CAST(min(y) AS DOUBLE) AS ylo, CAST(max(y) AS DOUBLE) AS yhi FROM nn)
        |SELECT CASE WHEN xhi = xlo THEN 0 ELSE least(CAST(floor((x - xlo) / ((xhi - xlo) / 30.0)) AS BIGINT), 29) END AS bx,
        |       CASE WHEN yhi = ylo THEN 0 ELSE least(CAST(floor((y - ylo) / ((yhi - ylo) / 30.0)) AS BIGINT), 29) END AS "by",
        |       count(*) AS cnt
        |FROM nn, mm GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_e5_corr_matrix" -> corrMatrix,

    "q_s1_csv_read" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, CAST(r_name AS VARCHAR) AS r_name
        |FROM read_csv_auto('/tmp/graft_fixtures/sf0.01/region_csv/*.csv', header=true)
        |ORDER BY r_regionkey""".stripMargin,

    // excel round trips START from the parquet region table, so the
    // oracle reads it directly: hash-green proves the xlsx / BIFF8 .xls
    // writer+reader pairs reproduce the source values exactly
    "q_s2_excel_read" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    "q_s2_xls_read" ->
      """SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey""",

    "q_s3_json_read" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, CAST(n_name AS VARCHAR) AS n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM read_json_auto('/tmp/graft_fixtures/sf0.01/nation_json/*.json')
        |ORDER BY n_nationkey""".stripMargin,

    "q_s5_empty_check" ->
      """SELECT * FROM (
        |  SELECT 'empty_filter' AS name, (SELECT count(*) FROM lineitem WHERE 1 = 0) = 0 AS is_empty
        |  UNION ALL
        |  SELECT 'lineitem', (SELECT count(*) FROM lineitem) = 0
        |) ORDER BY name""".stripMargin,

    "q_s6_head" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderpriority
        |FROM orders ORDER BY o_orderkey LIMIT 5""".stripMargin,

    "q_join_star" ->
      """SELECT r_name, n_name, c_mktsegment,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(30,4))) AS DOUBLE) AS sum_disc_price,
        |  round(avg(l_quantity), 6) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_quantity < 45
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_tpch_q6" ->
      """SELECT CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(4,2)) AS DECIMAL(30,4))) AS DOUBLE) AS revenue,
        |       count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,

    "q_tpch_q14" ->
      """SELECT round(CAST(100 AS DOUBLE) *
        |  CAST(sum(CASE WHEN p_type = 'PROMO'
        |    THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |         AS DECIMAL(30,4))
        |    ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE)
        |  / CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1.0 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |         AS DECIMAL(30,4))) AS DOUBLE), 6) AS promo_revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= '1996-03-01' AND l_shipdate < '1996-04-01'""".stripMargin,

    "q_date_parts" ->
      """SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INTEGER) AS y,
        |       CAST(EXTRACT(MONTH FROM o_orderdate) AS INTEGER) AS m,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders GROUP BY y, m ORDER BY y, m""".stripMargin,

    // identical text to the spark.sql the engine runs (dialect-shared SQL)
    "q_sql_surface" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  round(avg(o_totalprice), 6) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_window_lag" ->
      """SELECT event_id,
        |  round(value - lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS delta
        |FROM events ORDER BY event_id""".stripMargin,

    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, round(p.value, 6) AS purchase_value, round(r.value, 6) AS last_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON p.user_id = r.user_id AND p.ts >= r.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_asof_forward" ->
      """WITH r AS (SELECT user_id, ts, max(value) AS value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, round(p.value, 6) AS purchase_value,
        |       round(r.value, 6) AS next_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts <= r.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_asof_fwd_tolerance" ->
      """WITH r AS (SELECT user_id, ts, max(value) AS value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, round(p.value, 6) AS purchase_value,
        |  round(CASE WHEN r.ts <= p.ts + INTERVAL 30 MINUTE THEN r.value END, 6) AS next_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts <= r.ts
        |ORDER BY p.event_id""".stripMargin,

    "q_rollup_revenue" ->
      """SELECT r_name, n_name,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name NULLS FIRST, n_name NULLS FIRST""".stripMargin,

    "q_cube_counts" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    // the UDAF heap-aggregate top-k must equal the window formulation
    "q_topk_agg" ->
      """SELECT o_orderstatus, rn, o_totalprice, o_orderkey FROM (
        |  SELECT o_orderstatus, o_totalprice, o_orderkey,
        |         CAST(row_number() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_orderstatus, rn""".stripMargin,

    "q_set_ops" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_melt" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS variable, CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', CAST(l_tax AS DOUBLE) FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, variable, value""".stripMargin,

    "q_set_except" ->
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY o_custkey""".stripMargin,

    "q_range_join" ->
      """SELECT c.event_id AS click_id, count(*) AS n_purchases, round(sum(p.value), 6) AS sum_value
        |FROM (SELECT * FROM events WHERE event_type = 'click') c
        |JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON c.user_id = p.user_id AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 20 MINUTE
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // interval overlap join: plain predicate join in DuckDB (single
    // node affords it); [lo, hi) overlap iff a_lo < b_hi AND b_lo < a_hi
    "q_join_interval" ->
      """WITH a AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS a_lo,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS a_hi
        |  FROM events WHERE event_type = 'click'),
        |b AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS b_lo,
        |    CAST(ts AS TIMESTAMP) + INTERVAL 45 MINUTE AS b_hi
        |  FROM events WHERE event_type = 'purchase')
        |SELECT a.user_id, count(*) AS n_overlaps,
        |  CAST(sum(epoch_us(least(a_hi, b_hi)) - epoch_us(greatest(a_lo, b_lo)))
        |    AS BIGINT) AS overlap_us
        |FROM a JOIN b ON a.user_id = b.user_id
        |  AND a.a_lo < b.b_hi AND b.b_lo < a.a_hi
        |GROUP BY a.user_id ORDER BY a.user_id""".stripMargin,

    "q_window_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events),
        |w AS (
        |  SELECT epoch(time_bucket(INTERVAL 12 HOUR, ts)) AS ws, event_type, value FROM e
        |  UNION ALL
        |  SELECT epoch(time_bucket(INTERVAL 12 HOUR, ts)) - 43200, event_type, value FROM e)
        |SELECT CAST(ws AS BIGINT) AS window_start, event_type, count(*) AS n_events,
        |       round(avg(value), 6) AS avg_value
        |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_minhash" ->
      s"""WITH ${minhashCtes(k = 5)}
         |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.25 ORDER BY id_a, id_b""".stripMargin,

    // leakage-free split: near-dup cluster labels (recursive closure over
    // the q_dedup_minhash pair graph at k=5) hashed with the same md5
    // mill — membership is per-CLUSTER, so pairs cannot straddle
    "q_split_bycluster" ->
      (s"""WITH RECURSIVE ${minhashCtes(k = 5)},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.25),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs
         |          UNION SELECT doc_id, doc_id FROM documents),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT doc_id, cluster_id,
         |  CAST(CAST(concat('0x', substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |    % 1000 < 800 AS INTEGER) AS in_train
         |FROM labels ORDER BY doc_id""".stripMargin),

    // split leakage: the q_dedup_minhash pair set vs the md5-mill 80/20
    // split (same hash as Sampling.hashMill)
    "q_split_leakage" ->
      (s"""WITH ${minhashCtes(k = 5)},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.25),
         |m AS (SELECT
         |    CAST(concat('0x', substr(md5(CAST(id_a AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 800 AS sa,
         |    CAST(concat('0x', substr(md5(CAST(id_b AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 800 AS sb
         |  FROM pairs)
         |SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS BIGINT) AS leaking_pairs,
         |  CASE WHEN count(*) = 0 THEN NULL
         |       ELSE round(CAST(sum(CASE WHEN sa <> sb THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) END AS leak_rate
         |FROM m""".stripMargin),

    "q_dedup_minhash_capped" ->
      s"""WITH ${minhashCappedCtes("documents", k = 3, cap = 2)}
         |SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.25 ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_cluster" ->
      // connected components of the verified pair graph: transitive closure
      // via a recursive CTE (self-edges make singletons reachable), then
      // label = min reachable id — the same fixpoint the Spark min-label
      // propagation converges to.
      s"""WITH RECURSIVE ${minhashCtes()},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.25),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs
         |          UNION SELECT doc_id, doc_id FROM documents),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a ORDER BY a""".stripMargin,

    "q_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.25),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs
         |          UNION SELECT doc_id, doc_id FROM documents),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |labels AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
         |sizes AS (SELECT cluster_id, count(*) AS csize FROM labels GROUP BY cluster_id)
         |SELECT CAST(csize AS BIGINT) AS csize,
         |  CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sizes GROUP BY csize ORDER BY csize""".stripMargin,

    "q_dedup_simhash" -> simhashSql,

    // brute-force exact all-pairs shingle Jaccard: the prefix-filtered
    // Spark join must reproduce it pair-for-pair (exactness, not
    // approximate recall)
    // token-window chunk replay: same tokenizer, same start grid,
    // inclusive list slice caps at len like Spark's slice
    "q_text_token_chunks" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
        |t2 AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS n FROM t WHERE len(tk) > 0),
        |j AS (SELECT doc_id, tk, n, unnest(generate_series(0, (n - 1) // 48)) AS j FROM t2),
        |c AS (SELECT doc_id, CAST(j AS INTEGER) AS chunk_idx,
        |    CAST(j * 48 + 1 AS INTEGER) AS start_tok,
        |    tk[(j * 48 + 1):(j * 48 + 64)] AS w
        |  FROM j)
        |SELECT doc_id, chunk_idx, start_tok, CAST(len(w) AS INTEGER) AS n_tokens,
        |  md5(array_to_string(w, ' ')) AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    // containment replay: same shingles, same maxDf stop-shingle
    // exclusion from pair generation (sizes keep all shingles)
    "q_dedup_containment" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
        |t2 AS (SELECT * FROM t WHERE len(tk) >= 5),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 4), i -> array_to_string(tk[i:i+4], ' '))) AS s
        |  FROM t2),
        |sz AS (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh),
        |gg AS (SELECT doc_id, unnest(s) AS g FROM sh),
        |dfreq AS (SELECT g, count(*) AS df FROM gg GROUP BY 1),
        |kept AS (SELECT doc_id, gg.g FROM gg JOIN dfreq USING (g) WHERE df <= 100),
        |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS i
        |  FROM kept a JOIN kept b ON a.g = b.g AND a.doc_id < b.doc_id GROUP BY 1, 2),
        |res AS (SELECT id_a, id_b,
        |    round(CAST(i AS DOUBLE) / CAST(na.n AS DOUBLE), 6) + 0.0 AS contain_a,
        |    round(CAST(i AS DOUBLE) / CAST(nb.n AS DOUBLE), 6) + 0.0 AS contain_b
        |  FROM inter JOIN sz na ON id_a = na.doc_id JOIN sz nb ON id_b = nb.doc_id)
        |SELECT id_a, id_b, contain_a, contain_b FROM res
        |WHERE contain_a >= CAST(0.8 AS DOUBLE) OR contain_b >= CAST(0.8 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_jaccard_prefix" ->
      s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
        |t2 AS (SELECT * FROM t WHERE len(tk) >= 5),
        |sh AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(tk) - 4), i -> array_to_string(tk[i:i+4], ' '))) AS s
        |  FROM t2),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
        |      / (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) AS jaccard
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    // LSH recall audit: banded-chain pair count over exact brute-force
    // pair count at the same threshold, half corpus (mirrors the Spark
    // sample and bounds the all-pairs side)
    "q_dedup_lsh_recall" ->
      (s"""WITH dd AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         |${minhashCtes("dd", 5)},
         |lshp AS (SELECT CAST(count(*) AS BIGINT) AS n_lsh_pairs FROM j WHERE jac >= 0.8),
         |bf AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b,
         |    CAST(len(list_intersect(x.s, y.s)) AS DOUBLE)
         |      / len(list_distinct(list_concat(x.s, y.s))) AS jac
         |  FROM sh x JOIN sh y ON x.doc_id < y.doc_id),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS n_exact_pairs FROM bf WHERE jac >= 0.8)
         |SELECT ex.n_exact_pairs, lshp.n_lsh_pairs,
         |  CASE WHEN ex.n_exact_pairs = 0 THEN NULL
         |    ELSE round(CAST(lshp.n_lsh_pairs AS DOUBLE) / ex.n_exact_pairs, 6) END AS recall
         |FROM ex, lshp""".stripMargin),

    "q_sim_topk" ->
      (s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
         |SELECT id, round(${cosine("e", "qe")}, 6) AS cos
         |FROM s, q ORDER BY cos DESC, id LIMIT 10""".stripMargin),

    // exact kNN label-vote classification: brute-force ranked on the
    // 6dp-rounded cosine (the q_sim_topk tie contract), k = 10, vote
    // breaks on (votes DESC, label ASC) — the engine's TopKAgg order
    "q_sim_knn_classify" ->
      (s"""WITH q AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
         |    label AS actual FROM embeddings WHERE vec_id % 25 = 0),
         |s AS (SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         |    label AS nlabel FROM embeddings),
         |sc AS (SELECT q.qid, q.actual, s.nid, s.nlabel,
         |    round(${cosine("e", "qe")}, 6) AS cos
         |  FROM s, q WHERE s.nid <> q.qid),
         |top AS (SELECT qid, actual, nlabel,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rn FROM sc),
         |v AS (SELECT qid, actual, nlabel, count(*) AS votes
         |  FROM top WHERE rn <= 10 GROUP BY 1, 2, 3),
         |w AS (SELECT qid, actual, nlabel, votes,
         |    row_number() OVER (PARTITION BY qid ORDER BY votes DESC, nlabel) AS r FROM v)
         |SELECT qid, actual, nlabel AS predicted, votes
         |FROM w WHERE r = 1 ORDER BY qid""".stripMargin),

    "q_sim_topk_native" ->
      (s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
         |SELECT id, round(${cosine("e", "qe")}, 6) AS cos
         |FROM s, q ORDER BY cos DESC, id LIMIT 10""".stripMargin),

    "q_sim_ann_lsh" ->
      (s"""WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM embeddings WHERE vec_id = 0),
         |s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings)
         |SELECT id, round(${cosine("e", "qe")}, 6) AS cos
         |FROM s, q
         |WHERE (${bucketSql("e", 6, 64)}) = (${bucketSql("qe", 6, 64)})
         |ORDER BY cos DESC, id LIMIT 5""".stripMargin),

    "q_embed_quantize" ->
      """WITH b AS (SELECT vec_id AS id, CAST(list_min(embedding) AS DOUBLE) AS lo0,
        |                  CAST(list_max(embedding) AS DOUBLE) AS hi0, embedding FROM embeddings),
        |q AS (SELECT id, round(lo0, 6) AS lo, round(hi0, 6) AS hi,
        |        CASE WHEN hi0 = lo0 THEN list_transform(embedding, x -> 0)
        |             ELSE list_transform(embedding, x -> least(255, CAST(floor((CAST(x AS DOUBLE) - lo0) * 255.0 / (hi0 - lo0)) AS INTEGER))) END AS codes
        |      FROM b)
        |SELECT id, lo, hi, CAST(generate_subscripts(codes, 1) AS INTEGER) AS pos,
        |       CAST(unnest(codes) AS INTEGER) AS code
        |FROM q ORDER BY id, pos""".stripMargin,

    "q_dedup_apply" ->
      s"""WITH RECURSIVE ${minhashCtes()},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.25),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs
         |          UNION SELECT doc_id, doc_id FROM documents),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT id AS doc_id FROM lab WHERE id = cluster_id ORDER BY doc_id""".stripMargin,

    "q_embed_centroids" ->
      """SELECT label, CAST(pos AS INTEGER) AS pos, round(avg(v), 6) AS mean_v
        |FROM (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
        |      FROM embeddings)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "q_text_termstats" ->
      (s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents)
         |SELECT term, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
         |FROM t GROUP BY term ORDER BY term""".stripMargin),

    "q_text_langid" -> langIdSql,

    "q_text_quality" ->
      (s"""WITH t AS (SELECT doc_id, text, $toks AS tk FROM documents)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_q,
         |  CAST(len(tk) AS BIGINT) AS n_tokens,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk), 6) END AS mean_token_len,
         |  round(${stopRatioSql("tk", TextAnalysis.stopwordsEn)}, 6) AS stopword_ratio,
         |  CASE WHEN length(text) = 0 THEN 0.0 ELSE round(CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / length(text), 6) END AS non_alnum_ratio,
         |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) END AS distinct_token_ratio
         |FROM t ORDER BY doc_id""".stripMargin),

    "q_text_tfidf" ->
      (s"""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf FROM (
         |    SELECT doc_id, unnest($toks) AS term FROM documents) GROUP BY 1, 2),
         |n AS (SELECT count(*) AS nd FROM documents),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |idf AS (SELECT term, df, round(ln((nd + 1.0) / (df + 1.0)), 6) AS idf FROM dfreq, n),
         |x AS (SELECT tf.doc_id, tf.term, tf.tf, round(tf.tf * idf.idf, 6) AS tfidf
         |      FROM tf JOIN idf ON tf.term = idf.term),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INTEGER) AS rank FROM x)
         |SELECT doc_id, rank, term, tf, tfidf FROM r WHERE rank <= 5
         |ORDER BY doc_id, rank""".stripMargin),

    "q_text_fingerprint" ->
      """SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_json_extract" ->
      """SELECT event_type, count(*) AS n,
        |       round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 6) AS avg_k,
        |       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_multimodal_meta" ->
      """WITH b AS (SELECT doc_id, md5(text) AS h, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents),
        |m AS (SELECT doc_id, n_bytes,
        |        CAST(('0x' || substr(h, 1, 2))::INTEGER + 32 AS INTEGER) AS width,
        |        CAST(('0x' || substr(h, 3, 2))::INTEGER + 32 AS INTEGER) AS height,
        |        CAST(('0x' || substr(h, 1, 4))::INTEGER AS DOUBLE) / 65535.0 AS f0raw
        |      FROM b)
        |SELECT doc_id, n_bytes, width, height,
        |  CASE WHEN 128.0 / greatest(CAST(width AS DOUBLE), CAST(height AS DOUBLE)) >= 1.0 THEN width
        |       ELSE CAST(floor(CAST(width AS DOUBLE) * (128.0 / greatest(CAST(width AS DOUBLE), CAST(height AS DOUBLE)))) AS INTEGER) END AS resized_w,
        |  CASE WHEN 128.0 / greatest(CAST(width AS DOUBLE), CAST(height AS DOUBLE)) >= 1.0 THEN height
        |       ELSE CAST(floor(CAST(height AS DOUBLE) * (128.0 / greatest(CAST(width AS DOUBLE), CAST(height AS DOUBLE)))) AS INTEGER) END AS resized_h,
        |  round(f0raw, 6) AS f0
        |FROM m ORDER BY doc_id""".stripMargin,

    // the Spark side recovers these values from synthesized PNG bytes;
    // the oracle recomputes the source geometry directly
    "q_multimodal_decode" ->
      """SELECT doc_id, 'image/png' AS mime,
        |  CAST(('0x' || substr(md5(text), 1, 2))::INTEGER + 32 AS INTEGER) AS width,
        |  CAST(('0x' || substr(md5(text), 3, 2))::INTEGER + 32 AS INTEGER) AS height,
        |  8 AS bit_depth
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the Spark side runs a REAL ImageIO decode over expression-built
    // solid-color BMP bytes; the oracle replays the features
    // arithmetically. The luminance DAG is spelled identically on both
    // sides (::DOUBLE factors, left-assoc sum) so bin-boundary values
    // agree bit-for-bit.
    "q_multimodal_pixels" ->
      """WITH c AS (SELECT doc_id,
        |    ('0x' || substr(md5(text), 1, 2))::INTEGER AS r,
        |    ('0x' || substr(md5(text), 3, 2))::INTEGER AS g,
        |    ('0x' || substr(md5(text), 5, 2))::INTEGER AS b
        |  FROM documents),
        |l AS (SELECT doc_id, r, g, b,
        |    0.299::DOUBLE * r + 0.587::DOUBLE * g + 0.114::DOUBLE * b AS lum,
        |    least(CAST(trunc((0.299::DOUBLE * r + 0.587::DOUBLE * g + 0.114::DOUBLE * b) / 64.0) AS INTEGER), 3) AS bin
        |  FROM c)
        |SELECT doc_id, r AS mean_r, g AS mean_g, b AS mean_b,
        |  round(lum, 6) AS mean_lum,
        |  CASE WHEN bin = 0 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS h0,
        |  CASE WHEN bin = 1 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS h1,
        |  CASE WHEN bin = 2 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS h2,
        |  CASE WHEN bin = 3 THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS h3
        |FROM l ORDER BY doc_id""".stripMargin,

    // expected resized-BMP bytes constructed arithmetically: 3x2 output
    // of the 9x8 striped fixture; out pixel x = floor(mean of 3 stripes),
    // rows identical so bottom-up storage is order-invisible
    "q_image_resize" -> {
      def le32(v: Int) = f"${v & 0xFF}%02x${(v >> 8) & 0xFF}%02x${(v >> 16) & 0xFF}%02x${(v >> 24) & 0xFF}%02x"
      def le16(v: Int) = f"${v & 0xFF}%02x${(v >> 8) & 0xFF}%02x"
      val header = "424d" + le32(54 + 24) + le32(0) + le32(54) +
        le32(40) + le32(3) + le32(2) + le16(1) + le16(24) +
        le32(0) + le32(24) + le32(2835) + le32(2835) + le32(0) + le32(0)
      s"""WITH v AS (SELECT doc_id, list_transform(generate_series(0, 8),
         |    i -> CAST(('0x' || substr(md5(text), i*2+1, 2)) AS INTEGER)) AS vals FROM documents),
         |px AS (SELECT doc_id,
         |    (vals[1]+vals[2]+vals[3]) // 3 AS p0,
         |    (vals[4]+vals[5]+vals[6]) // 3 AS p1,
         |    (vals[7]+vals[8]+vals[9]) // 3 AS p2 FROM v),
         |r0 AS (SELECT doc_id,
         |    printf('%02x%02x%02x', p0, p0, p0) || printf('%02x%02x%02x', p1, p1, p1) ||
         |    printf('%02x%02x%02x', p2, p2, p2) || '000000' AS r FROM px)
         |SELECT doc_id, '$header' || r || r AS bmp_hex FROM r0 ORDER BY doc_id""".stripMargin
    },

    // frame slicing replayed on the hex plane: frame f of the 8-md5
    // payload is md5(text || '#f'), sampled indices 1, 4, 7
    "q_frame_sample" ->
      """SELECT doc_id, CAST(ff.f AS BIGINT) AS frame_idx,
        |  md5(text || '#' || ff.f) AS frame_hex
        |FROM documents, (SELECT unnest([1, 4, 7]) AS f) ff
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // per-sampled-frame dHash replayed arithmetically: frame f row r of
    // the concatenated-BMP payload carries gray bytes md5(seed||'#f#r')
    // with seed = md5(text) (full text hashed once, Spark side persists
    // the payload); sampled frames are 0 and 2 (offset 0, stride 2, 3
    // frames). Gray is identical across channels, so comparing the raw
    // byte values is order-equivalent to the codec path's Rec.601 double.
    "q_frame_decode" ->
      """WITH g AS (SELECT doc_id, ff.f AS f, rr.r AS r,
        |    list_transform(generate_series(0, 8),
        |      i -> CAST(('0x' || substr(md5(md5(text) || '#' || ff.f || '#' || rr.r), i*2+1, 2)) AS INTEGER)) AS gr
        |  FROM documents, (SELECT unnest([0, 2]) AS f) ff,
        |       (SELECT unnest(generate_series(0, 7)) AS r) rr),
        |dbits AS (SELECT doc_id, f, r, cc.c AS c,
        |    CASE WHEN gr[cc.c + 2] > gr[cc.c + 1] THEN 1 ELSE 0 END AS bit
        |  FROM g, (SELECT unnest(generate_series(0, 7)) AS c) cc),
        |h AS (SELECT doc_id, f, CAST(sum(CASE WHEN bit = 1 THEN
        |    CASE WHEN r*8 + c = 63 THEN (-9223372036854775808)::BIGINT
        |         ELSE 1::BIGINT << (r*8 + c) END
        |  ELSE 0 END) AS BIGINT) AS dh FROM dbits GROUP BY doc_id, f)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx, dh AS dhash
        |FROM h ORDER BY doc_id, frame_idx""".stripMargin,

    // scene cuts: the frame-decode dHash replay over 6 frames whose row
    // digests key on f // 3 (two scenes), then a per-clip lag window —
    // dist 0 within scenes, one >10-bit cut at the boundary
    "q_video_scenecut" ->
      """WITH g AS (SELECT doc_id, ff.f AS f, rr.r AS r,
        |    list_transform(generate_series(0, 8),
        |      i -> CAST(('0x' || substr(md5(md5(text) || '#' || (ff.f // 3) || '#' || rr.r), i*2+1, 2)) AS INTEGER)) AS gr
        |  FROM documents, (SELECT unnest(generate_series(0, 5)) AS f) ff,
        |       (SELECT unnest(generate_series(0, 7)) AS r) rr),
        |dbits AS (SELECT doc_id, f, r, cc.c AS c,
        |    CASE WHEN gr[cc.c + 2] > gr[cc.c + 1] THEN 1 ELSE 0 END AS bit
        |  FROM g, (SELECT unnest(generate_series(0, 7)) AS c) cc),
        |h AS (SELECT doc_id, f, CAST(sum(CASE WHEN bit = 1 THEN
        |    CASE WHEN r*8 + c = 63 THEN (-9223372036854775808)::BIGINT
        |         ELSE 1::BIGINT << (r*8 + c) END
        |  ELSE 0 END) AS BIGINT) AS dh FROM dbits GROUP BY doc_id, f),
        |lagd AS (SELECT doc_id, f, dh, lag(dh) OVER (PARTITION BY doc_id ORDER BY f) AS prev FROM h)
        |SELECT doc_id, CAST(f AS BIGINT) AS frame_idx,
        |  CAST(CASE WHEN prev IS NULL THEN NULL ELSE bit_count(xor(dh, prev)) END AS INTEGER) AS dist,
        |  CASE WHEN prev IS NULL THEN NULL ELSE bit_count(xor(dh, prev)) > 10 END AS is_cut
        |FROM lagd ORDER BY doc_id, frame_idx""".stripMargin,

    // spectral band power: DFT bins 1/4/8 per 32-sample frame (generated
    // — see audioBandOracle)
    "q_audio_band_power" -> audioBandOracle(32, Seq(1, 4, 8)),

    // signed-16-bit-LE PCM decode + per-frame RMS, replayed from the same
    // repeated-md5 sample bytes the Spark fixture builds into a real WAV
    "q_audio_frame_energy" ->
      """WITH s AS (SELECT doc_id, repeat(md5(text), 16) AS hx FROM documents),
        |e AS (SELECT doc_id, jj.j AS j,
        |    CAST(('0x' || substr(hx, jj.j*4+3, 2) || substr(hx, jj.j*4+1, 2)) AS BIGINT) AS v0
        |  FROM s, (SELECT unnest(generate_series(0, 127)) AS j) jj),
        |v AS (SELECT doc_id, CAST(j // 32 AS BIGINT) AS frame,
        |    CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END AS sv FROM e)
        |SELECT doc_id, frame, round(sqrt(CAST(sum(sv*sv) AS DOUBLE) / 32), 6) AS rms
        |FROM v GROUP BY doc_id, frame ORDER BY doc_id, frame""".stripMargin,

    // ZCR replay: same PCM extraction, in-frame lag, strict sign-change
    // count (zero samples break no crossing), /(N-1) in double
    "q_audio_zcr" ->
      """WITH s AS (SELECT doc_id, repeat(md5(text), 16) AS hx FROM documents),
        |e AS (SELECT doc_id, jj.j AS j,
        |    CAST(('0x' || substr(hx, jj.j*4+3, 2) || substr(hx, jj.j*4+1, 2)) AS BIGINT) AS v0
        |  FROM s, (SELECT unnest(generate_series(0, 127)) AS j) jj),
        |v AS (SELECT doc_id, CAST(j // 32 AS BIGINT) AS frame, j % 32 AS k,
        |    CASE WHEN v0 >= 32768 THEN v0 - 65536 ELSE v0 END AS sv FROM e),
        |l AS (SELECT doc_id, frame, sv,
        |    lag(sv) OVER (PARTITION BY doc_id, frame ORDER BY k) AS pv FROM v)
        |SELECT doc_id, frame,
        |  CAST(count(CASE WHEN pv * sv < 0 THEN 1 END) AS BIGINT) AS n_cross,
        |  round(CAST(count(CASE WHEN pv * sv < 0 THEN 1 END) AS DOUBLE)
        |    / CAST(31 AS DOUBLE), 6) + 0.0 AS zcr
        |FROM l GROUP BY doc_id, frame ORDER BY doc_id, frame""".stripMargin,

    // frequency-domain perceptual hash (DCT pHash) — see phashOracle
    "q_image_phash" -> phashOracle,

    "q_image_dhash" ->
      s"""WITH $dhashCtes
         |SELECT doc_id, dh AS dhash FROM h ORDER BY doc_id""".stripMargin,

    // per-ROW md5 slices (all 64 dHash bits independent) + planted
    // exact-dup pairs (ids ≡ 0,1 mod 50 share a seed); brute-force
    // all-pairs Hamming — mirrors SparkEntry's bmpRows fixture
    "q_image_neardup" ->
      """WITH sd AS (SELECT doc_id,
        |    CASE WHEN doc_id % 50 < 2
        |         THEN 'seed#' || CAST(doc_id - doc_id % 2 AS VARCHAR)
        |         ELSE md5(text) END AS seed FROM documents),
        |g AS (SELECT doc_id, rr.r AS r, list_transform(generate_series(0, 8),
        |    i -> 0.299*CAST(('0x' || substr(md5(seed || '#' || rr.r), i*2+1, 2)) AS INTEGER)
        |       + 0.587*CAST(('0x' || substr(md5(seed || '#' || rr.r), i*2+1, 2)) AS INTEGER)
        |       + 0.114*CAST(('0x' || substr(md5(seed || '#' || rr.r), i*2+1, 2)) AS INTEGER)) AS gr
        |  FROM sd, (SELECT unnest(generate_series(0, 7)) AS r) rr),
        |dbits AS (SELECT doc_id, r, cc.c AS c,
        |    CASE WHEN gr[cc.c + 2] > gr[cc.c + 1] THEN 1 ELSE 0 END AS bit
        |  FROM g, (SELECT unnest(generate_series(0, 7)) AS c) cc),
        |h AS (SELECT doc_id, CAST(sum(CASE WHEN bit = 1 THEN
        |    CASE WHEN r*8 + c = 63 THEN (-9223372036854775808)::BIGINT
        |         ELSE 1::BIGINT << (r*8 + c) END
        |  ELSE 0 END) AS BIGINT) AS dh FROM dbits GROUP BY doc_id)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  CAST(bit_count(xor(a.dh, b.dh)) AS INTEGER) AS dist
        |FROM h a JOIN h b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3
        |ORDER BY id_a, id_b""".stripMargin,

    "q_sessionize" -> sessionizeSql,

    // the custom-state (flatMapGroupsWithState) sessionizer computes the
    // exact same sessions as the built-in session_window path
    "q_sessionize_stateful" -> sessionizeSql,

    "q_p3_winsorize" ->
      """WITH b AS (SELECT round(quantile_cont(price_w, 0.05), 6) AS lo_e, round(quantile_cont(price_w, 0.95), 6) AS hi_e,
        |                  round(quantile_cont(qty_w, 0.05), 6) AS lo_q, round(quantile_cont(qty_w, 0.95), 6) AS hi_q
        |           FROM (SELECT l_extendedprice AS price_w, l_quantity AS qty_w FROM lineitem))
        |SELECT l_orderkey, l_linenumber,
        |  round(CASE WHEN l_extendedprice < lo_e THEN lo_e WHEN l_extendedprice > hi_e THEN hi_e ELSE l_extendedprice END, 6) AS price_w,
        |  round(CASE WHEN l_quantity < lo_q THEN lo_q WHEN l_quantity > hi_q THEN hi_q ELSE l_quantity END, 6) AS qty_w
        |FROM lineitem, b
        |ORDER BY l_orderkey, l_linenumber, price_w, qty_w""".stripMargin,

    "q_pivot_counts" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS "F",
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS "O",
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_sample_hash" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |WHERE CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 1000 < 100
        |ORDER BY o_orderkey""".stripMargin,

    "q_split_exact" ->
      """WITH r AS (SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) - 1 AS cb,
        |  count(*) OVER () AS n
        |  FROM documents)
        |SELECT doc_id, CASE WHEN cb < n * 800 // 1000 THEN 'train' ELSE 'test' END AS side
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """WITH r AS (SELECT o_orderkey, o_orderstatus,
        |  row_number() OVER (PARTITION BY o_orderstatus ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn,
        |  count(*) OVER (PARTITION BY o_orderstatus) AS n
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus FROM r
        |WHERE rn <= floor(n * 0.1) ORDER BY o_orderkey""".stripMargin,

    // deterministic k-fold: fold = md5-hash(doc_id) mod 5, audited as
    // per-(stratum, fold) counts — the same hash slice as the engine
    "q_split_kfold" ->
      """SELECT lang,
        |  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS INTEGER) AS fold,
        |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2
        |ORDER BY lang NULLS FIRST, fold""".stripMargin,

    "q_sample_temperature" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n FROM documents GROUP BY lang),
        |t AS (SELECT sum(pow(n, 0.5)) AS tw FROM c),
        |caps AS (SELECT lang, CAST(floor(round(300.0 * pow(n, 0.5) / tw, 6)) AS BIGINT) AS cap FROM c, t),
        |r AS (SELECT d.lang, d.doc_id,
        |        row_number() OVER (PARTITION BY d.lang ORDER BY md5(CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rn,
        |        caps.cap
        |      FROM documents d JOIN caps USING (lang))
        |SELECT lang, CAST(count(*) AS BIGINT) AS kept,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM r WHERE rn <= cap GROUP BY lang ORDER BY lang""".stripMargin,

    "q_curate_nucleus" ->
      (s"""WITH s AS (SELECT source, doc_id, CAST(len($toks) AS BIGINT) AS score FROM documents),
         |w AS (SELECT source, doc_id, score,
         |        sum(score) OVER (PARTITION BY source ORDER BY score DESC, doc_id) - score AS cb,
         |        sum(score) OVER (PARTITION BY source) AS tot
         |      FROM s)
         |SELECT source, CAST(count(*) AS BIGINT) AS kept,
         |  CAST(sum(score) AS BIGINT) AS kept_tokens
         |FROM w WHERE CAST(cb AS DOUBLE) < 0.6 * CAST(tot AS DOUBLE)
         |GROUP BY source ORDER BY source""".stripMargin),

    "q_source_overlap" ->
      """WITH f AS (SELECT DISTINCT source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS shared_fps
        |FROM f a JOIN f b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_text_truncation" ->
      (s"""WITH s AS (SELECT CAST(len($toks) AS BIGINT) AS tok FROM documents),
         |a AS (SELECT CAST(sum(tok) AS BIGINT) AS tot,
         |  CAST(sum(least(tok, 128)) AS BIGINT) AS k128, CAST(count(CASE WHEN tok > 128 THEN 1 END) AS BIGINT) AS d128,
         |  CAST(sum(least(tok, 512)) AS BIGINT) AS k512, CAST(count(CASE WHEN tok > 512 THEN 1 END) AS BIGINT) AS d512,
         |  CAST(sum(least(tok, 2048)) AS BIGINT) AS k2048, CAST(count(CASE WHEN tok > 2048 THEN 1 END) AS BIGINT) AS d2048
         |  FROM s)
         |SELECT CAST(128 AS BIGINT) AS ctx_len, tot AS total_tokens, k128 AS kept_tokens, d128 AS docs_truncated,
         |  round(1.0 - CAST(k128 AS DOUBLE) / tot, 6) AS loss_frac FROM a
         |UNION ALL SELECT CAST(512 AS BIGINT), tot, k512, d512, round(1.0 - CAST(k512 AS DOUBLE) / tot, 6) FROM a
         |UNION ALL SELECT CAST(2048 AS BIGINT), tot, k2048, d2048, round(1.0 - CAST(k2048 AS DOUBLE) / tot, 6) FROM a
         |ORDER BY ctx_len""".stripMargin),

    "q_bucketize" ->
      """WITH e AS (SELECT
        |  round(quantile_cont(l_quantity, 0.25), 6) AS q1q, round(quantile_cont(l_quantity, 0.5), 6) AS q2q,
        |  round(quantile_cont(l_quantity, 0.75), 6) AS q3q,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS q1p, round(quantile_cont(l_extendedprice, 0.5), 6) AS q2p,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS q3p
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  CAST(CASE WHEN l_quantity <= q1q THEN 0 WHEN l_quantity <= q2q THEN 1 WHEN l_quantity <= q3q THEN 2 ELSE 3 END AS BIGINT) AS qty_bucket,
        |  CAST(CASE WHEN l_extendedprice <= q1p THEN 0 WHEN l_extendedprice <= q2p THEN 1 WHEN l_extendedprice <= q3p THEN 2 ELSE 3 END AS BIGINT) AS price_bucket
        |FROM lineitem, e
        |ORDER BY l_orderkey, l_linenumber, qty_bucket, price_bucket""".stripMargin,

    // bloom pruning is invisible to the result: false positives are
    // removed by the join, so the oracle is the PLAIN join
    "q_bloom_join" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // AGMS replay: identical md5-parity ±1 streams, integer counter and
    // product sums, median of 8 group means = avg of sorted 4th/5th
    "q_join_sizeest" ->
      """WITH ii AS (SELECT unnest(generate_series(0, 63)) AS i),
        |ha AS (SELECT CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h1,
        |              CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 17, 15)) AS BIGINT) AS h2
        |       FROM orders),
        |hb AS (SELECT CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h1,
        |              CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 17, 15)) AS BIGINT) AS h2
        |       FROM lineitem),
        |sa AS (SELECT i, CAST(sum(1 - 2 * (((CASE WHEN i < 32 THEN h1 ELSE h2 END) >> (i % 32)) & 1)) AS BIGINT) AS sa
        |  FROM ha CROSS JOIN ii GROUP BY 1),
        |sb AS (SELECT i, CAST(sum(1 - 2 * (((CASE WHEN i < 32 THEN h1 ELSE h2 END) >> (i % 32)) & 1)) AS BIGINT) AS sb
        |  FROM hb CROSS JOIN ii GROUP BY 1),
        |gm AS (SELECT i // 8 AS g, CAST(sum(sa.sa * sb.sb) AS DOUBLE) / 8.0 AS m
        |       FROM sa JOIN sb USING (i) GROUP BY 1),
        |e AS (SELECT list(m ORDER BY m) AS ll FROM gm),
        |est AS (SELECT (ll[4] + ll[5]) / 2.0 AS est FROM e),
        |ex AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS exact_join_size FROM
        |    (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS ca FROM orders GROUP BY 1) a
        |    JOIN (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cb FROM lineitem GROUP BY 1) b USING (k))
        |SELECT 64 AS sketches, round(est, 6) AS est_join_size, exact_join_size,
        |  round(abs(est - exact_join_size) / exact_join_size, 6) AS rel_error
        |FROM est, ex""".stripMargin,

    "q_sim_neardup" ->
      (s"""WITH s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |b AS (SELECT id, e, ${bucketSql("e", 4, 64)} AS bk FROM s),
         |p AS (SELECT x.id AS id_a, y.id AS id_b, round(${cosine("x.e", "y.e")}, 6) AS cos
         |      FROM b x JOIN b y ON x.bk = y.bk AND x.id < y.id)
         |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.45 ORDER BY id_a, id_b""".stripMargin),

    "q_events_window" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL 1 DAY, CAST(ts AS TIMESTAMP))) AS BIGINT) AS window_start,
        |       event_type, count(*) AS n_events, round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // same regex text the Spark side applies (RE2-safe, no backrefs)
    "q_pii_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(
         |    substr(text, 1, 40) || ' reach user' || CAST(doc_id AS VARCHAR)
         |      || '@example.com or 555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')
         |      || '-4567 from 10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.77 today',
         |    '${TextAnalysis.EmailRe}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PhoneRe}', '<PHONE>', 'g'),
         |    '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS redacted
         |FROM documents ORDER BY doc_id""".stripMargin,

    "q_text_repetition" ->
      (s"""WITH tok AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |c AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |t AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens FROM c GROUP BY 1),
         |r AS (SELECT doc_id, term, cnt,
         |        row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, term) AS rn FROM c)
         |SELECT r.doc_id, t.n_tokens, r.term AS top_term,
         |       round(CAST(r.cnt AS DOUBLE) / t.n_tokens, 6) AS top_share
         |FROM r JOIN t ON r.doc_id = t.doc_id WHERE r.rn = 1 ORDER BY r.doc_id""".stripMargin),

    "q_text_dupngrams" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(tk) < 3 THEN []
         |             ELSE list_transform(generate_series(1, len(tk) - 2),
         |                                 i -> array_to_string(tk[i:i+2], ' ')) END AS ng
         |      FROM t)
         |SELECT doc_id, CAST(len(ng) AS BIGINT) AS n_ngrams,
         |  CASE WHEN len(ng) = 0 THEN 0.0
         |       ELSE round(1.0 - CAST(len(list_distinct(ng)) AS DOUBLE) / len(ng), 6) END AS dup_ratio
         |FROM g ORDER BY doc_id""".stripMargin),

    // banded blocking has GUARANTEED recall for dist <= 3 with 4 bands
    // (pigeonhole), so the oracle is the brute-force all-pairs scan
    "q_simhash_pairs" ->
      s"""WITH $simhashCtes
         |SELECT a.id AS id_a, b.id AS id_b,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS dist
         |FROM sg a JOIN sg b ON a.id < b.id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "q_resample_gapfill" ->
      """WITH b AS (SELECT event_type,
        |             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT) AS bin,
        |             count(*) AS n_events, round(avg(value), 6) AS avg_value
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bin) AS lo, max(bin) AS hi FROM b GROUP BY 1),
        |g AS (SELECT event_type, CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS bin
        |      FROM s)
        |SELECT g.event_type, g.bin AS bin_start,
        |       coalesce(b.n_events, 0) AS n_events, b.avg_value
        |FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bin = b.bin
        |ORDER BY g.event_type, bin_start""".stripMargin,

    "q_window_rangeframe" ->
      """SELECT event_id,
        |  round(avg(value) OVER (PARTITION BY user_id
        |    ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
        |    RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW), 6) AS trail_avg
        |FROM events ORDER BY event_id""".stripMargin,

    "q_window_ntile" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_full" ->
      """WITH f AS (SELECT DISTINCT o_custkey, 1 AS in_f FROM orders WHERE o_orderstatus = 'F'),
        |o AS (SELECT DISTINCT o_custkey, 1 AS in_o FROM orders WHERE o_orderstatus = 'O')
        |SELECT coalesce(f.o_custkey, o.o_custkey) AS o_custkey,
        |       coalesce(f.in_f, 0) AS in_f, coalesce(o.in_o, 0) AS in_o
        |FROM f FULL JOIN o ON f.o_custkey = o.o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "q_join_nullsafe" ->
      """WITH l AS (SELECT CASE WHEN o_custkey % 37 = 0 THEN NULL ELSE o_custkey % 37 END AS k,
        |                  count(*) AS n_orders FROM orders GROUP BY 1),
        |r AS (SELECT CASE WHEN c_custkey % 37 = 0 THEN NULL ELSE c_custkey % 37 END AS ck,
        |             count(*) AS n_customers FROM customer GROUP BY 1)
        |SELECT l.k, l.n_orders, r.n_customers
        |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.ck
        |ORDER BY k NULLS FIRST""".stripMargin,

    "q_agg_conditional" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(count_if(o_totalprice > 200000.0) AS BIGINT) AS n_big,
        |  CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS sum_f,
        |  round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 6) AS avg_f
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_string_funcs" ->
      """SELECT c_custkey, upper(substr(c_name, 1, 12)) AS up12,
        |  lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
        |  CAST(levenshtein(c_name, 'Customer#000000001') AS INTEGER) AS lev,
        |  concat_ws('-', c_mktsegment, c_name) AS joined
        |FROM customer ORDER BY c_custkey""".stripMargin,

    // C5b: the surviving projection (konst dropped, null_variant kept)
    "q_c5b_drop_const" ->
      """SELECT l_orderkey, l_linenumber,
        |  CASE WHEN l_linenumber = 1 THEN 7.0 END AS null_variant, l_tax
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, null_variant, l_tax""".stripMargin,

    "q_agg_mode" ->
      """WITH c AS (SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
        |           FROM orders GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |                                   ORDER BY cnt DESC, o_orderstatus) AS rn FROM c)
        |SELECT o_orderpriority, o_orderstatus AS mode_status, cnt AS freq
        |FROM r WHERE rn = 1 ORDER BY o_orderpriority""".stripMargin,

    "q_events_retention" ->
      """WITH weeks AS (SELECT DISTINCT user_id,
        |                 CAST(floor(floor(epoch(CAST(ts AS TIMESTAMP))) / 604800) AS BIGINT) AS wk
        |               FROM events),
        |cohort AS (SELECT user_id, min(wk) AS cohort_wk FROM weeks GROUP BY 1)
        |SELECT c.cohort_wk, w.wk - c.cohort_wk AS "offset", count(*) AS n_users
        |FROM weeks w JOIN cohort c ON w.user_id = c.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_agg_weighted" ->
      """SELECT l_returnflag,
        |  round(CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |                       CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) /
        |        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS wavg_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_events_funnel" ->
      """WITH e AS (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |v AS (SELECT user_id, min(ts) AS q_ts FROM e WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS q_ts FROM e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND e.ts >= v.q_ts GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS q_ts FROM e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND e.ts >= c.q_ts GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 1 AS stage, 'view' AS name, count(*) AS n_users FROM v
        |  UNION ALL SELECT 2, 'click', count(*) FROM c
        |  UNION ALL SELECT 3, 'purchase', count(*) FROM p)
        |ORDER BY stage""".stripMargin,

    "q_window_share" ->
      """WITH rev AS (
        |  SELECT r_name, n_name, sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev_dec
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY r_name, n_name)
        |SELECT r_name, n_name, CAST(rev_dec AS DOUBLE) AS revenue,
        |  round(CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS region_share,
        |  round(CAST(rev_dec AS DOUBLE) / CAST(sum(rev_dec) OVER () AS DOUBLE), 6) AS global_share
        |FROM rev ORDER BY r_name, n_name""".stripMargin,

    "q_outlier_flags" ->
      """WITH st AS (SELECT round(avg(l_quantity), 6) AS mu_q, round(stddev_pop(l_quantity), 6) AS sd_q,
        |                   round(avg(l_extendedprice), 6) AS mu_e, round(stddev_pop(l_extendedprice), 6) AS sd_e
        |            FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  (abs(CASE WHEN sd_q = 0 OR sd_q IS NULL THEN 0.0 ELSE (l_quantity - mu_q) / sd_q END) > 2.0) AS qty_out,
        |  (abs(CASE WHEN sd_e = 0 OR sd_e IS NULL THEN 0.0 ELSE (l_extendedprice - mu_e) / sd_e END) > 2.0) AS price_out
        |FROM lineitem, st
        |ORDER BY l_orderkey, l_linenumber, qty_out, price_out""".stripMargin,

    // gap-fill CTEs from q_resample_gapfill + the positional interpolation
    // formula from q_c3 over the dense per-type grid
    "q_resample_interp" ->
      """WITH b AS (SELECT event_type,
        |             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT) AS bin,
        |             count(*) AS n_events, round(avg(value), 6) AS avg_value
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bin) AS lo, max(bin) AS hi FROM b GROUP BY 1),
        |g AS (SELECT event_type, CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS bin
        |      FROM s),
        |gf AS (SELECT g.event_type, g.bin AS bin_start,
        |         coalesce(b.n_events, 0) AS n_events, b.avg_value AS v
        |       FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bin = b.bin),
        |pos AS (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY bin_start) AS p FROM gf),
        |w AS (SELECT event_type, bin_start, n_events, p, v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
        |  last_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pp,
        |  first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        |  first_value(CASE WHEN v IS NOT NULL THEN p END IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY p ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS np
        |  FROM pos)
        |SELECT event_type, bin_start, n_events,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |             WHEN pv IS NULL THEN nv
        |             WHEN nv IS NULL THEN pv
        |             ELSE pv + (nv - pv) * (p - pp) / (np - pp) END, 6) AS avg_value
        |FROM w ORDER BY event_type, bin_start""".stripMargin,

    "q_merge_upsert" ->
      """WITH upd AS (SELECT c_custkey, c_name, c_acctbal + 1000.0 AS c_acctbal
        |             FROM customer WHERE c_custkey % 10 = 0)
        |SELECT c_custkey, c_name, round(c_acctbal, 6) AS c_acctbal FROM (
        |  SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = c.c_custkey)
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal FROM upd)
        |ORDER BY c_custkey""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old AS (SELECT c_custkey, c_acctbal FROM customer),
        |neu AS (SELECT c_custkey,
        |          CASE WHEN c_custkey % 7 = 0 THEN c_acctbal + 5.0 ELSE c_acctbal END AS c_acctbal
        |        FROM customer WHERE c_custkey % 11 <> 0
        |        UNION ALL
        |        SELECT r_regionkey + 5000000, 1.5 FROM region)
        |SELECT coalesce(old.c_custkey, neu.c_custkey) AS c_custkey,
        |  CASE WHEN old.c_custkey IS NULL THEN 'added'
        |       WHEN neu.c_custkey IS NULL THEN 'removed'
        |       WHEN NOT (old.c_acctbal IS NOT DISTINCT FROM neu.c_acctbal) THEN 'changed'
        |       ELSE 'unchanged' END AS change_type,
        |  round(old.c_acctbal, 6) AS old_bal, round(neu.c_acctbal, 6) AS new_bal
        |FROM old FULL JOIN neu ON old.c_custkey = neu.c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q_h2_union_widen" ->
      """SELECT c_custkey, round(c_acctbal, 6) AS c_acctbal FROM (
        |  SELECT CAST(CAST(c_custkey AS INTEGER) AS BIGINT) AS c_custkey,
        |         CAST(c_acctbal AS DOUBLE) AS c_acctbal FROM customer
        |  UNION ALL
        |  -- trunc: Spark's double->int cast truncates toward zero, DuckDB's rounds
        |  SELECT c_custkey + 1000000, CAST(CAST(trunc(c_acctbal) AS INTEGER) AS DOUBLE) FROM customer)
        |ORDER BY c_custkey, c_acctbal""".stripMargin,

    "q_fuzzy_match" ->
      """WITH l AS (SELECT DISTINCT n_name AS l_val FROM nation WHERE n_name IS NOT NULL),
        |r AS (SELECT DISTINCT n_name || 'X' AS r_val FROM nation WHERE n_name IS NOT NULL)
        |SELECT l_val, r_val, CAST(levenshtein(l_val, r_val) AS INTEGER) AS dist
        |FROM l, r WHERE levenshtein(l_val, r_val) <= 2
        |ORDER BY l_val, r_val""".stripMargin,

    // Jaro-Winkler: DuckDB's own implementation is the independent
    // oracle for the native graft_jw kernel (fuzz-pinned bit-exact)
    "q_fuzzy_jw" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer),
        |p AS (SELECT c_custkey, c_name,
        |    substr(c_name, 1, length(c_name) - 2)
        |      || substr(c_name, length(c_name), 1)
        |      || substr(c_name, length(c_name) - 1, 1) AS pert
        |  FROM c),
        |n AS (SELECT p.c_custkey, p.c_name, p.pert, c2.c_name AS next_name
        |      FROM p LEFT JOIN c c2 ON c2.c_custkey = p.c_custkey + 1)
        |SELECT c_custkey,
        |  round(jaro_winkler_similarity(c_name, pert), 6) AS jw_pert,
        |  round(jaro_winkler_similarity(c_name, next_name), 6) AS jw_next
        |FROM n ORDER BY c_custkey""".stripMargin,

    "q_regex_extract" ->
      """SELECT CAST(regexp_extract(o_orderpriority, '^(\d+)', 1) AS INTEGER) AS prio_num,
        |  count(*) AS n, round(avg(o_totalprice), 6) AS avg_price
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_agg_collect" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses,
        |  count(DISTINCT o_custkey) AS n_cust
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_part_brand" ->
      """SELECT p_brand, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  round(avg(l_extendedprice / p_retailprice), 6) AS avg_price_ratio
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_part_promo" ->
      """SELECT CAST(EXTRACT(YEAR FROM l_shipdate) AS INTEGER) AS y,
        |       CAST(EXTRACT(MONTH FROM l_shipdate) AS INTEGER) AS m,
        |  round(CAST(sum(CASE WHEN p_type = 'ECONOMY' THEN
        |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(30,4)) END) AS DOUBLE) * 100.0 /
        |        CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |               (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(30,4))) AS DOUBLE), 6) AS economy_share,
        |  count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY y, m ORDER BY y, m""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date,
        |  CAST(sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY l_orderkey, o_date
        |ORDER BY revenue DESC, o_date, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |  CAST(sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' AND EXTRACT(YEAR FROM o_orderdate) = 1997
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    // identical text object the engine's spark.sql runs (SqlTexts)
    "q_sql_recursive" -> SqlTexts.recursiveChain,
    "q_sql_lateral" -> SqlTexts.lateralTop2,

    // identical text to the spark.sql the engine runs (dialect-shared SQL)
    "q_sql_exists" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,

    "q_text_zipf" ->
      (s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |ts AS (SELECT term, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
         |       FROM t GROUP BY term),
         |r AS (SELECT term, occurrences,
         |        CAST(row_number() OVER (ORDER BY occurrences DESC, term) AS INTEGER) AS rank
         |      FROM ts)
         |SELECT rank, term, occurrences, rank * occurrences AS rank_x_freq
         |FROM r WHERE rank <= 50 ORDER BY rank""".stripMargin),

    "q_events_errors" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, count(*) AS n_events,
        |  CAST(count_if(event_type = 'error') AS BIGINT) AS n_errors,
        |  round(CAST(count_if(event_type = 'error') AS DOUBLE) / count(*), 6) AS error_rate
        |FROM events GROUP BY day ORDER BY day""".stripMargin,

    "q_text_langdist" ->
      s"""WITH $langGuessCtes
         |SELECT d.lang, lg.lang_guess, count(*) AS n
         |FROM documents d JOIN lg ON d.doc_id = lg.doc_id
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_text_chunks" ->
      """WITH c AS (SELECT doc_id, text,
        |             greatest(CAST(ceil(length(text) / 64.0) AS INTEGER), 1) AS n_chunks
        |           FROM documents),
        |u AS (SELECT doc_id, text, n_chunks,
        |        CAST(unnest(generate_series(1, n_chunks)) AS INTEGER) AS chunk_idx FROM c)
        |SELECT doc_id, chunk_idx, n_chunks,
        |       md5(substr(text, (chunk_idx - 1) * 64 + 1, 64)) AS chunk_md5
        |FROM u ORDER BY doc_id, chunk_idx""".stripMargin,

    // per-dimension stats replay: identical 1e-12 fixed-point trunc
    // sums in HUGEINT, identical mean/std double DAG per dim
    "q_embed_dimstats" -> {
      val d = 64
      val sums = (0 until d).map { j =>
        val x = s"v[${j + 1}]"
        s"sum(CAST(CAST(trunc($x * 1e12) AS BIGINT) AS HUGEINT)) AS s_$j, " +
          s"sum(CAST(CAST(trunc($x * $x * 1e12) AS BIGINT) AS HUGEINT)) AS q_$j, " +
          s"min($x) AS mn_$j, max($x) AS mx_$j"
      }.mkString(", ")
      val rows = (0 until d).map { j =>
        val mean = s"CAST(s_$j AS DOUBLE) / 1e12 / n"
        s"SELECT CAST($j AS BIGINT) AS dim, n, round($mean, 6) + 0.0 AS mean, " +
          s"round(sqrt(greatest(CAST(q_$j AS DOUBLE) / 1e12 / n - $mean * ($mean), " +
          s"CAST(0 AS DOUBLE))), 6) AS std, " +
          s"round(mn_$j, 6) + 0.0 AS min_v, round(mx_$j, 6) + 0.0 AS max_v FROM s"
      }.mkString(" UNION ALL ")
      "WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings), " +
        s"s AS (SELECT CAST(count(*) AS BIGINT) AS n, $sums FROM e) " +
        s"SELECT * FROM ($rows) ORDER BY dim"
    },

    "q_embed_normalize" ->
      """WITH s AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
        |nr AS (SELECT id, e, sqrt(list_dot_product(e, e)) AS nrm FROM s),
        |u AS (SELECT id, CASE WHEN nrm = 0 THEN e ELSE list_transform(e, x -> x / nrm) END AS unit FROM nr)
        |SELECT id, CAST(generate_subscripts(unit, 1) AS INTEGER) AS pos, round(unnest(unit), 6) AS u
        |FROM u ORDER BY id, pos""".stripMargin,

    "q_window_firstlast" ->
      """SELECT event_id,
        |  round(first_value(value) OVER w, 6) AS first_v,
        |  round(last_value(value) OVER w, 6) AS last_v,
        |  round(nth_value(value, 2) OVER w, 6) AS second_v
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    // raw power sums in exact DECIMAL (order-independent), final formulas
    // in double with the SAME expression DAG as the Spark side; m2^1.5 is
    // spelled m2 * sqrt(m2) because sqrt is IEEE-exact in both engines
    "q_stats_moments" ->
      """WITH src AS (SELECT CAST(l_discount AS DECIMAL(4,2)) AS d,
        |                    CAST(l_quantity AS DECIMAL(18,2)) AS qx,
        |                    CAST(l_extendedprice AS DECIMAL(18,2)) AS qy,
        |                    l_discount FROM lineitem),
        |x AS (SELECT count(l_discount) AS n,
        |        CAST(sum(d) AS DOUBLE) AS s1, CAST(sum(d * d) AS DOUBLE) AS s2,
        |        CAST(sum(d * d * d) AS DOUBLE) AS s3, CAST(sum((d * d) * (d * d)) AS DOUBLE) AS s4,
        |        CAST(sum(qx) AS DOUBLE) AS sx, CAST(sum(qy) AS DOUBLE) AS sy,
        |        CAST(sum(CAST(qx * qy AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |      FROM src)
        |SELECT n,
        |  round(s1 / n, 6) AS mean_disc,
        |  round(s2 / n - (s1 / n) * (s1 / n), 6) AS var_disc,
        |  round((s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n))
        |    / ((s2 / n - (s1 / n) * (s1 / n)) * sqrt(s2 / n - (s1 / n) * (s1 / n))), 6) AS skew_disc,
        |  round((s4 / n - 4.0 * (s1 / n) * (s3 / n) + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
        |      - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
        |    / ((s2 / n - (s1 / n) * (s1 / n)) * (s2 / n - (s1 / n) * (s1 / n))) - 3.0, 6) AS kurt_disc,
        |  round(sxy / n - (sx / n) * (sy / n), 6) AS covar_qty_price
        |FROM x""".stripMargin,

    "q_tpch_q4" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, n_name,
        |  CAST(sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q18" ->
      """WITH big AS (
        |  SELECT l_orderkey, sum(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty_d
        |  FROM lineitem GROUP BY l_orderkey
        |  HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > 220)
        |SELECT c_custkey, c_name, o_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date,
        |  o_totalprice, CAST(sum_qty_d AS DOUBLE) AS sum_qty
        |FROM big
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_tpch_q19" ->
      """SELECT CAST(sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // DESCRIBE output's column_type, lowercased, matches the engine's
    // Spark-DataType -> SQL-name mapping (Harmonize.schemaDiff)
    "q_schema_diff" ->
      """WITH lc AS (SELECT regexp_replace(column_name, '^[cs]_', '') AS name,
        |                   lower(column_type) AS t
        |            FROM (DESCRIBE SELECT * FROM customer)),
        |     rc AS (SELECT regexp_replace(column_name, '^[cs]_', '') AS name,
        |                   lower(column_type) AS t
        |            FROM (DESCRIBE SELECT * FROM supplier))
        |SELECT coalesce(lc.name, rc.name) AS col_name,
        |  CASE WHEN lc.name IS NULL THEN 'right_only'
        |       WHEN rc.name IS NULL THEN 'left_only' ELSE 'both' END AS status,
        |  lc.t AS type_left, rc.t AS type_right,
        |  CASE WHEN lc.name IS NULL OR rc.name IS NULL THEN NULL
        |       ELSE lc.t = rc.t END AS type_match
        |FROM lc FULL OUTER JOIN rc ON lc.name = rc.name
        |ORDER BY col_name""".stripMargin,

    // instance-based schema matching: bottom-128 md5 sketch Jaccard over
    // every customer×supplier column pair (same hash DAG as the engine)
    "q_schema_match" ->
      """WITH lvals AS (
        |  SELECT 'c_custkey' AS left_col, CAST(c_custkey AS VARCHAR) AS v FROM customer
        |  UNION ALL SELECT 'c_name', c_name FROM customer
        |  UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c_acctbal', CAST(c_acctbal AS VARCHAR) FROM customer
        |  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer),
        |rvals AS (
        |  SELECT 's_suppkey' AS right_col, CAST(s_suppkey AS VARCHAR) AS v FROM supplier
        |  UNION ALL SELECT 's_name', s_name FROM supplier
        |  UNION ALL SELECT 's_nationkey', CAST(s_nationkey AS VARCHAR) FROM supplier
        |  UNION ALL SELECT 's_acctbal', CAST(s_acctbal AS VARCHAR) FROM supplier),
        |lsk AS (SELECT left_col, h FROM (
        |    SELECT left_col, h, row_number() OVER (PARTITION BY left_col ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT left_col,
        |            CAST(concat('0x', substr(md5(v), 1, 15)) AS BIGINT) AS h
        |          FROM lvals WHERE v IS NOT NULL)) WHERE rn <= 128),
        |rsk AS (SELECT right_col, h FROM (
        |    SELECT right_col, h, row_number() OVER (PARTITION BY right_col ORDER BY h) AS rn
        |    FROM (SELECT DISTINCT right_col,
        |            CAST(concat('0x', substr(md5(v), 1, 15)) AS BIGINT) AS h
        |          FROM rvals WHERE v IS NOT NULL)) WHERE rn <= 128),
        |pu AS (SELECT DISTINCT l.left_col, r.right_col
        |       FROM (SELECT DISTINCT left_col FROM lsk) l,
        |            (SELECT DISTINCT right_col FROM rsk) r),
        |merged AS (
        |  SELECT left_col, right_col, h, max(in_l) AS in_l, max(in_r) AS in_r
        |  FROM (
        |    SELECT pu.left_col, pu.right_col, lsk.h, 1 AS in_l, 0 AS in_r
        |    FROM pu JOIN lsk ON pu.left_col = lsk.left_col
        |    UNION ALL
        |    SELECT pu.left_col, pu.right_col, rsk.h, 0, 1
        |    FROM pu JOIN rsk ON pu.right_col = rsk.right_col)
        |  GROUP BY 1, 2, 3),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY left_col, right_col
        |                                        ORDER BY h) AS rn FROM merged)
        |SELECT left_col, right_col,
        |  CAST(sum(in_l * in_r) AS BIGINT) AS n_common,
        |  CAST(count(*) AS BIGINT) AS n_union_k,
        |  round(CAST(CAST(sum(in_l * in_r) AS BIGINT) AS DOUBLE) / count(*), 6) AS est_jaccard
        |FROM ranked WHERE rn <= 128
        |GROUP BY 1, 2 ORDER BY left_col, right_col""".stripMargin,

    // the salted two-level aggregation must equal the plain GROUP BY
    "q_skew_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(count(*) AS BIGINT) AS n_rows,
        |  max(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_window_ignorenulls" ->
      """WITH e AS (SELECT event_id, user_id, ts,
        |  CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events)
        |SELECT event_id, user_id,
        |  lag(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_v,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_v
        |FROM e ORDER BY event_id""".stripMargin,

    // lift = (n_ab/B) / ((n_a/U)*(n_b/U)) — same IEEE division/multiply
    // DAG as TextAnalysis.collocations; totals counted before the cut
    // burstiness: same sufficient-statistics DAG — per-(term, doc)
    // counts, then Σc²/N − mean² over ALL docs via a one-row N
    "q_text_burstiness" ->
      (s"""WITH pd AS (SELECT term, d, CAST(count(*) AS BIGINT) AS c FROM (
         |    SELECT doc_id AS d, unnest($toks) AS term FROM documents)
         |  GROUP BY term, d),
         |bt AS (SELECT term, CAST(sum(c) AS BIGINT) AS total,
         |    CAST(count(*) AS BIGINT) AS doc_freq,
         |    CAST(sum(c * c) AS BIGINT) AS sx2
         |  FROM pd GROUP BY term),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)
         |SELECT term, total, doc_freq,
         |  round((CAST(sx2 AS DOUBLE) / CAST(nd AS DOUBLE)
         |      - (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE)) * (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE)))
         |    / (CAST(total AS DOUBLE) / CAST(nd AS DOUBLE)), 6) + 0.0 AS vmr
         |FROM bt, n WHERE total >= 50 ORDER BY term""".stripMargin),

    // Dunning LLR keyness: identical marginal/expected double DAG, zero
    // cells contribute 0, direction by exact integer cross-multiply
    "q_text_keyness" ->
      (s"""WITH t AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS f,
         |    unnest($toks) AS term FROM documents),
         |c AS (SELECT term, CAST(sum(f) AS BIGINT) AS n_focus,
         |    CAST(sum(1 - f) AS BIGINT) AS n_ref FROM t GROUP BY term),
         |tot AS (SELECT CAST(sum(n_focus) AS BIGINT) AS tf,
         |    CAST(sum(n_ref) AS BIGINT) AS tr FROM c),
         |k AS (SELECT term, n_focus, n_ref, tf, tr,
         |    CAST(n_focus AS DOUBLE) AS af, CAST(n_ref AS DOUBLE) AS bf,
         |    CAST(tf AS DOUBLE) AS ta, CAST(tr AS DOUBLE) AS tb
         |  FROM c, tot WHERE n_focus + n_ref >= 50)
         |SELECT term, n_focus, n_ref,
         |  round(CAST(2.0 AS DOUBLE) * (
         |    (CASE WHEN n_focus = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE af * ln(af / ((af + bf) * ta / (ta + tb))) END)
         |    + (CASE WHEN n_ref = 0 THEN CAST(0.0 AS DOUBLE)
         |      ELSE bf * ln(bf / ((af + bf) * tb / (ta + tb))) END)), 6) + 0.0 AS g2,
         |  CASE WHEN CAST(n_focus AS DECIMAL(18,0)) * CAST(tr AS DECIMAL(18,0))
         |         > CAST(n_ref AS DECIMAL(18,0)) * CAST(tf AS DECIMAL(18,0)) THEN 'focus'
         |       WHEN CAST(n_focus AS DECIMAL(18,0)) * CAST(tr AS DECIMAL(18,0))
         |         < CAST(n_ref AS DECIMAL(18,0)) * CAST(tf AS DECIMAL(18,0)) THEN 'ref'
         |       ELSE 'even' END AS leans
         |FROM k ORDER BY term""".stripMargin),

    "q_text_collocations" ->
      (s"""WITH tk AS (SELECT $toks AS tk FROM documents),
         |u AS (SELECT unnest(tk) AS term FROM tk),
         |uni AS (SELECT term, CAST(count(*) AS BIGINT) AS n_term FROM u GROUP BY term),
         |ut AS (SELECT CAST(count(*) AS DOUBLE) AS u_total FROM u),
         |bg AS (SELECT tk[i] AS term_a, tk[i+1] AS term_b
         |       FROM tk, unnest(generate_series(1, len(tk)-1)) AS g(i)),
         |bc AS (SELECT term_a, term_b, CAST(count(*) AS BIGINT) AS n_ab
         |       FROM bg GROUP BY term_a, term_b),
         |bt AS (SELECT CAST(count(*) AS DOUBLE) AS b_total FROM bg)
         |SELECT bc.term_a, bc.term_b, bc.n_ab,
         |  round((CAST(bc.n_ab AS DOUBLE) / bt.b_total) /
         |        ((CAST(a.n_term AS DOUBLE) / ut.u_total) *
         |         (CAST(b.n_term AS DOUBLE) / ut.u_total)), 6) AS lift
         |FROM bc
         |JOIN uni a ON bc.term_a = a.term
         |JOIN uni b ON bc.term_b = b.term, ut, bt
         |WHERE bc.n_ab >= 5
         |ORDER BY term_a, term_b""".stripMargin),

    "q_quality_fk" ->
      """WITH dirty AS (SELECT CASE WHEN o_orderkey % 11 = 0
        |    THEN o_custkey + 1000000 ELSE o_custkey END AS o_custkey FROM orders)
        |SELECT * FROM (
        |  SELECT 'customer.c_nationkey->nation' AS edge, CAST(count(*) AS BIGINT) AS n_orphans
        |  FROM customer WHERE c_nationkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM nation WHERE n_nationkey = c_nationkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_orderkey->orders', CAST(count(*) AS BIGINT) FROM lineitem
        |  WHERE l_orderkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM orders WHERE o_orderkey = l_orderkey)
        |  UNION ALL
        |  SELECT 'lineitem.l_partkey->part', CAST(count(*) AS BIGINT) FROM lineitem
        |  WHERE l_partkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM part WHERE p_partkey = l_partkey)
        |  UNION ALL
        |  SELECT 'orders.o_custkey->customer', CAST(count(*) AS BIGINT) FROM orders
        |  WHERE o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey)
        |  UNION ALL
        |  SELECT 'orders_dirty.o_custkey->customer', CAST(count(*) AS BIGINT) FROM dirty d
        |  WHERE d.o_custkey IS NOT NULL
        |    AND NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = d.o_custkey)
        |) ORDER BY edge""".stripMargin,

    // per-column CTE triplet: value counts -> (n_distinct, total, sum n²)
    // + deterministic mode (count desc, value desc = Spark's struct max)
    "q_profile_categorical" -> {
      def block(tbl: String, c: String): String =
        s"""SELECT '$c' AS column_name,
           |  (SELECT CAST(count(*) AS BIGINT) FROM (SELECT $c FROM $tbl WHERE $c IS NOT NULL GROUP BY $c)) AS n_distinct,
           |  (SELECT round(1.0 - CAST(sum(n * n) AS DOUBLE) / (CAST(sum(n) AS DOUBLE) * CAST(sum(n) AS DOUBLE)), 6)
           |   FROM (SELECT CAST(count(*) AS BIGINT) AS n FROM $tbl WHERE $c IS NOT NULL GROUP BY $c)) AS gini,
           |  (SELECT CAST($c AS VARCHAR) FROM $tbl WHERE $c IS NOT NULL GROUP BY $c
           |   ORDER BY count(*) DESC, CAST($c AS VARCHAR) DESC LIMIT 1) AS top_value,
           |  (SELECT round(CAST(max_n AS DOUBLE) / CAST(tot AS DOUBLE), 6) FROM
           |    (SELECT max(n) AS max_n, sum(n) AS tot FROM
           |      (SELECT count(*) AS n FROM $tbl WHERE $c IS NOT NULL GROUP BY $c))) AS top_share""".stripMargin
      Seq(block("lineitem", "l_returnflag"), block("lineitem", "l_linestatus"),
        block("orders", "o_orderpriority"), block("orders", "o_orderstatus"))
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY column_name")
    },

    // same power-of-ten CASE ladder as Quality.benfordProfile — identical
    // IEEE comparisons/divisions, no log10 (libm last-ulp divergence)
    "q_profile_benford" -> {
      val ladder = Seq("1e15", "1e14", "1e13", "1e12", "1e11", "1e10", "1e9",
        "1e8", "1e7", "1e6", "1e5", "1e4", "1e3", "1e2", "1e1", "1e0")
      val cases = ladder.map(p =>
        s"WHEN v >= $p THEN CAST(floor(v / $p) AS INTEGER)").mkString(" ")
      s"""WITH vals AS (SELECT abs(CAST(l_extendedprice AS DOUBLE)) AS v
         |              FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |d AS (SELECT CASE $cases END AS digit FROM vals WHERE v >= 1.0 AND v < 1e16),
         |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
         |t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
         |SELECT digit, n, round(CAST(n AS DOUBLE) / total, 6) AS share
         |FROM c, t ORDER BY digit""".stripMargin
    },

    // FD replay: per-pair distinct-count rollups, same null-determinant
    // exclusion
    "q_profile_fd" -> {
      def one(a: String, b: String): String =
        s"SELECT '$a' AS determinant, '$b' AS dependent, " +
          s"CAST(count(*) AS BIGINT) AS n_groups, " +
          s"CAST(count(CASE WHEN d > 1 THEN 1 END) AS BIGINT) AS n_violating, " +
          s"count(CASE WHEN d > 1 THEN 1 END) = 0 AS holds " +
          s"FROM (SELECT $a, count(DISTINCT $b) AS d FROM orders " +
          s"WHERE $a IS NOT NULL GROUP BY 1)"
      Seq(("o_orderkey", "o_custkey"), ("o_custkey", "o_orderstatus"),
        ("o_orderstatus", "o_orderpriority"))
        .map { case (a, b) => one(a, b) }
        .mkString("", " UNION ALL ", " ORDER BY determinant, dependent")
    },

    "q_profile_cols" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS column_name,
        |    CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
        |    CAST(count(*) - count(l_orderkey) AS BIGINT) AS n_null FROM lineitem
        |  UNION ALL
        |  SELECT 'l_partkey', CAST(count(DISTINCT l_partkey) AS BIGINT),
        |    CAST(count(*) - count(l_partkey) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_suppkey', CAST(count(DISTINCT l_suppkey) AS BIGINT),
        |    CAST(count(*) - count(l_suppkey) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', CAST(count(DISTINCT l_quantity) AS BIGINT),
        |    CAST(count(*) - count(l_quantity) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', CAST(count(DISTINCT l_returnflag) AS BIGINT),
        |    CAST(count(*) - count(l_returnflag) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', CAST(count(DISTINCT l_shipdate) AS BIGINT),
        |    CAST(count(*) - count(l_shipdate) AS BIGINT) FROM lineitem
        |  UNION ALL
        |  SELECT 'tax_masked',
        |    CAST(count(DISTINCT CASE WHEN l_linenumber = 1 THEN NULL ELSE l_tax END) AS BIGINT),
        |    CAST(count(*) - count(CASE WHEN l_linenumber = 1 THEN NULL ELSE l_tax END) AS BIGINT)
        |  FROM lineitem
        |) ORDER BY column_name""".stripMargin,

    // expected/chi2_term spell the identical double DAG as Eda.crosstabChi2
    "q_e7_crosstab" ->
      """WITH cells AS (SELECT l_returnflag AS a, l_linestatus AS b,
        |    CAST(count(*) AS BIGINT) AS n FROM lineitem GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(n) AS BIGINT) AS row_total FROM cells GROUP BY a),
        |ct AS (SELECT b, CAST(sum(n) AS BIGINT) AS col_total FROM cells GROUP BY b),
        |g AS (SELECT CAST(sum(n) AS DOUBLE) AS grand FROM cells)
        |SELECT a, b, n,
        |  round(CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / grand, 6) AS expected,
        |  round((CAST(n AS DOUBLE) - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / grand)
        |      * (CAST(n AS DOUBLE) - CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / grand)
        |      / (CAST(row_total AS DOUBLE) * CAST(col_total AS DOUBLE) / grand), 6) AS chi2_term
        |FROM cells JOIN rt USING (a) JOIN ct USING (b), g
        |ORDER BY a, b""".stripMargin,

    "q_events_transitions" ->
      """WITH l AS (SELECT user_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type,
        |    event_type AS next_type
        |  FROM events),
        |trans AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n
        |          FROM l WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS row_total FROM trans GROUP BY 1)
        |SELECT prev_type, next_type, n,
        |  round(CAST(n AS DOUBLE) / CAST(row_total AS DOUBLE), 6) AS share
        |FROM trans JOIN rt USING (prev_type)
        |ORDER BY prev_type, next_type""".stripMargin,

    "q_tpch_q7" ->
      """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
        |  CAST(sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
        |  AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
        |    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_tpch_q8" ->
      """SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
        |  round(
        |    CAST(sum(CASE WHEN ns.n_name = 'NATION_5'
        |      THEN CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))
        |      ELSE CAST(0 AS DECIMAL(30,4)) END) AS DOUBLE) /
        |    CAST(sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))) AS DOUBLE),
        |    6) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation nc ON c_nationkey = nc.n_nationkey
        |JOIN region ON nc.n_regionkey = r_regionkey
        |JOIN nation ns ON s_nationkey = ns.n_nationkey
        |WHERE p_type = 'PROMO' AND r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_tpch_q13" ->
      """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist FROM (
        |  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q_tpch_q15" ->
      """WITH rev AS (
        |  SELECT l_suppkey, sum(CAST((CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DECIMAL(30,4))) AS total_rev
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    // quality predicates filter on the ROUNDED metrics (same as
    // TextAnalysis.qualityFilter -> qualityMetrics), then the fingerprint
    // keep-min-id dedup, then the shared minhash CTE chain over `curated`
    "q_curation_pipeline" ->
      (s"""WITH RECURSIVE
         |qm AS (SELECT doc_id, text, $toks AS tk FROM documents),
         |q AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk), 6) END AS mean_token_len,
         |    CASE WHEN length(text) = 0 THEN 0.0 ELSE round(CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / length(text), 6) END AS non_alnum_ratio,
         |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) END AS distinct_token_ratio
         |  FROM qm)
         |  WHERE n_tokens >= 5 AND non_alnum_ratio <= 0.4
         |    AND distinct_token_ratio >= 0.3 AND mean_token_len >= 2.0),
         |fpt AS (SELECT doc_id, text, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM q),
         |keepfp AS (SELECT min(doc_id) AS doc_id FROM fpt GROUP BY f),
         |curated AS (SELECT fpt.doc_id, fpt.text FROM fpt JOIN keepfp USING (doc_id)),
         |${minhashCtes("curated")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.25),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs
         |          UNION SELECT doc_id, doc_id FROM curated),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT id AS doc_id FROM lab WHERE id = cluster_id ORDER BY doc_id""".stripMargin),

    // learned quality classifier: the training loop (8 fixed GD steps,
    // algebraic sigmoid, fixed-point sums — ml.QualityModel) is replayed
    // UNROLLED in SQL; weights never leave the query on either engine
    "q_quality_classifier" -> qualityClassifierSql,
    "q_quality_c2st" -> c2stSql,

    // full LLM curation flagship: quality -> exact canonical -> duplicated-
    // span removal -> near-dup cluster dedup -> benchmark decontamination
    // -> 512-token sequence packing, each stage the same SQL as its
    // standalone oracle, CTE-chained. The packed slice table is the output.
    "q_llm_pipeline" ->
      (s"""WITH RECURSIVE
         |qm AS (SELECT doc_id, text, $toks AS tk FROM documents),
         |q AS MATERIALIZED (SELECT doc_id, text FROM (
         |  SELECT doc_id, text,
         |    CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE round(CAST(list_sum(list_transform(tk, x -> length(x))) AS DOUBLE) / len(tk), 6) END AS mean_token_len,
         |    CASE WHEN length(text) = 0 THEN 0.0 ELSE round(CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS DOUBLE) / length(text), 6) END AS non_alnum_ratio,
         |    CASE WHEN len(tk) = 0 THEN 0.0 ELSE round(CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk), 6) END AS distinct_token_ratio
         |  FROM qm)
         |  WHERE n_tokens >= 5 AND non_alnum_ratio <= 0.4
         |    AND distinct_token_ratio >= 0.3 AND mean_token_len >= 2.0),
         |fpt AS MATERIALIZED (SELECT doc_id, text, md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f FROM q),
         |keepfp AS (SELECT min(doc_id) AS doc_id FROM fpt GROUP BY f),
         |curated AS (SELECT fpt.doc_id, fpt.text FROM fpt JOIN keepfp USING (doc_id)),
         |st AS MATERIALIZED (SELECT doc_id, $toks AS tk FROM curated),
         |sf AS (SELECT doc_id, tk FROM st WHERE len(tk) >= 10),
         |sg0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 10),
         |        i -> struct_pack(pos := i, gr := array_to_string(tk[i+1 : i+10], ' ')))) AS u FROM sf),
         |sgm AS MATERIALIZED (SELECT doc_id, u.pos AS pos, u.gr AS gram FROM sg0),
         |sv AS (SELECT gram FROM sgm GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |sd AS (SELECT sgm.doc_id, sgm.pos FROM sgm JOIN sv USING (gram)),
         |si AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM sd),
         |ssp AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e FROM si GROUP BY doc_id, grp),
         |scov AS MATERIALIZED (SELECT DISTINCT * FROM (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM ssp)),
         |stok0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 1),
         |          j -> struct_pack(pos := j, tok := tk[j+1]))) AS u FROM st),
         |stokr AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM stok0),
         |skept AS (SELECT k.doc_id, k.pos, k.tok FROM stokr k
         |         WHERE NOT EXISTS (SELECT 1 FROM scov c WHERE c.doc_id = k.doc_id AND c.pos = k.pos)),
         |ska AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS body FROM skept GROUP BY doc_id),
         |cleaned AS MATERIALIZED (SELECT st.doc_id, coalesce(ska.body, '') AS text FROM st LEFT JOIN ska USING (doc_id)),
         |${minhashCtes("cleaned")},
         |pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.25),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs
         |          UNION SELECT doc_id, doc_id FROM cleaned),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a),
         |survivors AS MATERIALIZED (SELECT c.doc_id, c.text FROM cleaned c
         |              JOIN lab ON c.doc_id = lab.id AND lab.id = lab.cluster_id),
         |btok AS (SELECT doc_id, $toks AS tk FROM documents WHERE doc_id % 50 = 0),
         |bg AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 4), i -> md5(array_to_string(tk[i:i+4], ' '))))) AS g
         |  FROM btok WHERE len(tk) >= 5),
         |svtok AS (SELECT doc_id, $toks AS tk FROM survivors),
         |svgr AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 4), i -> md5(array_to_string(tk[i:i+4], ' '))))) AS g
         |  FROM svtok WHERE len(tk) >= 5),
         |contam AS (SELECT DISTINCT doc_id FROM svgr JOIN bg USING (g)),
         |fin AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS w FROM survivors
         |        WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |pc AS (SELECT doc_id, w,
         |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |  FROM fin WHERE w > 0),
         |pe AS (SELECT doc_id, w, o, o + w AS e2 FROM pc),
         |px AS (SELECT doc_id, w, o, e2,
         |    unnest(generate_series(o // 512, (e2 - 1) // 512)) AS sq FROM pe)
         |SELECT CAST(sq AS BIGINT) AS seq_idx, doc_id,
         |  CAST(greatest(sq * 512 - o, 0) AS BIGINT) AS tok_start,
         |  CAST(least(e2, (sq + 1) * 512) - greatest(o, sq * 512) AS BIGINT) AS tok_len
         |FROM px ORDER BY seq_idx, doc_id""".stripMargin),

    "q_c6_describe_group" ->
      """SELECT l_returnflag, l_linestatus,
        |  count(l_extendedprice) AS cnt,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,12))) AS DOUBLE)
        |    / count(l_extendedprice), 6) AS mean,
        |  round(stddev_samp(l_extendedprice), 6) AS std,
        |  round(CAST(min(l_extendedprice) AS DOUBLE), 6) AS min_v,
        |  round(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        |  round(CAST(max(l_extendedprice) AS DOUBLE), 6) AS max_v
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // midrank = cum - (freq-1)/2 over the distinct-value CDF, then plain
    // Pearson corr of the rank columns — identical DAG to Eda.spearmanMatrix
    "q_e8_spearman" ->
      """WITH base AS (SELECT CAST(l_quantity AS DOUBLE) AS q,
        |    CAST(l_discount AS DOUBLE) AS d, CAST(l_tax AS DOUBLE) AS t FROM lineitem),
        |rq AS (SELECT v, CAST(sum(fc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - (fc - 1) / 2.0 AS r
        |       FROM (SELECT q AS v, CAST(count(*) AS BIGINT) AS fc FROM base GROUP BY q)),
        |rd AS (SELECT v, CAST(sum(fc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - (fc - 1) / 2.0 AS r
        |       FROM (SELECT d AS v, CAST(count(*) AS BIGINT) AS fc FROM base GROUP BY d)),
        |rt AS (SELECT v, CAST(sum(fc) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - (fc - 1) / 2.0 AS r
        |       FROM (SELECT t AS v, CAST(count(*) AS BIGINT) AS fc FROM base GROUP BY t)),
        |ranked AS (SELECT rq.r AS l_quantity, rd.r AS l_discount, rt.r AS l_tax
        |           FROM base JOIN rq ON base.q = rq.v
        |           JOIN rd ON base.d = rd.v JOIN rt ON base.t = rt.v)
        |SELECT * FROM (
        |  SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b,
        |    round(corr(l_quantity, l_discount), 6) AS r FROM ranked
        |  UNION ALL
        |  SELECT 'l_quantity', 'l_tax', round(corr(l_quantity, l_tax), 6) FROM ranked
        |  UNION ALL
        |  SELECT 'l_discount', 'l_tax', round(corr(l_discount, l_tax), 6) FROM ranked
        |) ORDER BY col_a, col_b""".stripMargin,

    "q_dedup_keepfirst" ->
      """SELECT o_custkey, o_orderpriority, o_orderkey,
        |  CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey, o_orderpriority
        |        ORDER BY o_orderdate, o_orderkey) AS rn FROM orders)
        |WHERE rn = 1
        |ORDER BY o_custkey, o_orderpriority""".stripMargin,

    "q_recode_dict" ->
      """SELECT CASE c_mktsegment WHEN 'AUTOMOBILE' THEN 'AUTO'
        |  WHEN 'HOUSEHOLD' THEN 'HOME' WHEN 'MACHINERY' THEN 'MACH'
        |  ELSE c_mktsegment END AS c_mktsegment,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM customer GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // CDF over distinct values joined back — same count-ratio DAG as
    // Preprocess.quantileRank (cume_dist would sort the fact table)
    "q_p4_quantile_rank" ->
      """WITH f AS (SELECT CAST(l_quantity AS DOUBLE) AS v,
        |    CAST(count(*) AS BIGINT) AS fc FROM lineitem GROUP BY v),
        |c AS (SELECT v, CAST(sum(fc) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM f),
        |t AS (SELECT CAST(max(cum) AS DOUBLE) AS n FROM c)
        |SELECT l_orderkey, l_linenumber, l_quantity,
        |  round(CAST(cum AS DOUBLE) / n, 6) AS l_quantity_qrank
        |FROM lineitem JOIN c ON CAST(l_quantity AS DOUBLE) = c.v, t
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    // C7 imputation: per-user rounded mean fill + global exact-median fill
    // over the same deterministically-injected nulls as q_c3/q_c4
    "q_c7_impute" ->
      """WITH base AS (SELECT event_id, user_id,
        |    CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v FROM events),
        |mu AS (SELECT user_id, round(avg(v), 6) AS m FROM base GROUP BY user_id),
        |med AS (SELECT round(quantile_cont(v, 0.5), 6) AS md FROM base)
        |SELECT event_id, round(coalesce(v, m), 6) AS v_mean_fill,
        |  round(coalesce(v, md), 6) AS v_med_fill
        |FROM base JOIN mu USING (user_id) CROSS JOIN med
        |ORDER BY event_id""".stripMargin,

    // P5 one-hot: indicator column per distinct value, get_dummies order
    "q_p5_onehot" ->
      """SELECT o_orderkey,
        |  CAST(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS BIGINT) AS o_orderpriority_1_URGENT,
        |  CAST(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS BIGINT) AS o_orderpriority_2_HIGH,
        |  CAST(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS BIGINT) AS o_orderpriority_3_MEDIUM,
        |  CAST(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS BIGINT) AS o_orderpriority_4_NOT_SPECIFIED,
        |  CAST(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS BIGINT) AS o_orderpriority_5_LOW
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_p6_minmax" ->
      """WITH st AS (SELECT min(l_quantity) AS lo_q, max(l_quantity) AS hi_q,
        |    min(l_extendedprice) AS lo_e, max(l_extendedprice) AS hi_e FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  round((l_quantity - lo_q) / (hi_q - lo_q), 6) AS qty_mm,
        |  round((l_extendedprice - lo_e) / (hi_e - lo_e), 6) AS price_mm
        |FROM lineitem, st ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // P7 robust scale: quartiles rounded to 6 BEFORE the per-row
    // arithmetic, mirroring Preprocess.robustScale's driver-side rounding
    // target-encoding replay: exact-decimal category sums, the identical
    // (double(Sc - y) + prior*g) / (nc - 1 + prior) DAG per row
    "q_p8_target_encode" ->
      """WITH pc AS (SELECT o_orderpriority AS cat,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(24,8))) AS DECIMAL(30,8)) AS sc,
        |    CAST(count(*) AS BIGINT) AS nc FROM orders GROUP BY 1),
        |g AS (SELECT
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(24,8))) AS DECIMAL(30,8)) AS sg,
        |    CAST(count(*) AS BIGINT) AS ng FROM orders)
        |SELECT o_orderkey, o_orderpriority, o_totalprice,
        |  round((CAST(sc - CAST(o_totalprice AS DECIMAL(24,8)) AS DOUBLE)
        |      + CAST(10 AS DOUBLE) * (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)))
        |    / (CAST(nc - 1 AS DOUBLE) + CAST(10 AS DOUBLE)), 6) + 0.0 AS target_enc
        |FROM orders JOIN pc ON o_orderpriority = cat CROSS JOIN g
        |WHERE o_orderkey % 100 = 0 ORDER BY o_orderkey""".stripMargin,

    "q_p7_robust" ->
      """WITH st AS (SELECT
        |    round(quantile_cont(l_quantity, 0.25), 6) AS q1_q,
        |    round(quantile_cont(l_quantity, 0.5), 6) AS m_q,
        |    round(quantile_cont(l_quantity, 0.75), 6) AS q3_q,
        |    round(quantile_cont(l_extendedprice, 0.25), 6) AS q1_e,
        |    round(quantile_cont(l_extendedprice, 0.5), 6) AS m_e,
        |    round(quantile_cont(l_extendedprice, 0.75), 6) AS q3_e
        |  FROM lineitem)
        |SELECT l_orderkey, l_linenumber,
        |  round((l_quantity - m_q) / (q3_q - q1_q), 6) AS qty_rb,
        |  round((l_extendedprice - m_e) / (q3_e - q1_e), 6) AS price_rb
        |FROM lineitem, st ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // MAD modified z-score flags: both medians rounded to 6 before the
    // per-row test (Preprocess.outlierFlagsMad's driver-side rounding)
    // flagged rows only + scanned count on each, over events.value (r12
    // contract — see the registration comment)
    // Mahalanobis replay: identical exact-decimal sums, identical
    // mean/cov/adjugate-inverse/score double DAG (products commute
    // bitwise; association mirrored term for term)
    // HBOS replay: identical bin DAG (shared double arithmetic, floor,
    // least-clamp, constant-feature collapse to bin 0), per-feature bin
    // counts, left-to-right DOUBLE count product (IEEE-deterministic,
    // shared with the engine)
    "q_outlier_hbos" -> {
      val feats = Seq("l_quantity" -> "q", "l_extendedprice" -> "e",
        "l_discount" -> "d", "l_tax" -> "t")
      val mmSel = feats.map { case (c, a) =>
        s"min(CAST($c AS DOUBLE)) AS mn_$a, max(CAST($c AS DOUBLE)) AS mx_$a"
      }.mkString(",\n    ")
      val binSel = feats.map { case (c, a) =>
        s"""CASE WHEN mx_$a = mn_$a THEN 0 ELSE
           |    least(CAST(floor((CAST($c AS DOUBLE) - mn_$a) / (mx_$a - mn_$a) * 16)
           |      AS BIGINT), 15) END AS bin_$a""".stripMargin
      }.mkString(",\n  ")
      val cnts = feats.map { case (_, a) =>
        s"c$a AS (SELECT bin_$a AS b, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY 1)"
      }.mkString(",\n")
      val joins = feats.map { case (_, a) =>
        s"JOIN c$a ON bi.bin_$a = c$a.b"
      }.mkString(" ")
      val prod = feats.map { case (_, a) => s"CAST(c$a.c AS DOUBLE)" }
        .mkString(" * ")
      s"""WITH b AS (SELECT l_orderkey, l_linenumber, l_quantity,
         |    l_extendedprice, l_discount, l_tax FROM lineitem
         |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
         |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
         |mm AS (SELECT $mmSel FROM b),
         |bi AS (SELECT b.*,
         |  $binSel
         |  FROM b, mm),
         |$cnts
         |SELECT bi.l_orderkey, bi.l_linenumber, bi.l_quantity,
         |  bi.l_extendedprice, bi.l_discount, bi.l_tax,
         |  $prod AS rarity
         |FROM bi $joins
         |ORDER BY rarity, l_orderkey, l_linenumber, l_quantity,
         |  l_extendedprice, l_discount, l_tax
         |LIMIT 20""".stripMargin
    },

    "q_outlier_mahalanobis" ->
      """WITH s AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(l_quantity AS DECIMAL(18,4))) AS s1,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS s2,
        |    sum(CAST(l_discount AS DECIMAL(18,4))) AS s3,
        |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_quantity AS DECIMAL(18,4))) AS s11,
        |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS s12,
        |    sum(CAST(l_quantity AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(18,4))) AS s13,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_extendedprice AS DECIMAL(18,4))) AS s22,
        |    sum(CAST(l_extendedprice AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(18,4))) AS s23,
        |    sum(CAST(l_discount AS DECIMAL(19,4)) * CAST(l_discount AS DECIMAL(18,4))) AS s33
        |  FROM lineitem),
        |m AS (SELECT CAST(n AS DOUBLE) AS nd,
        |    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu1,
        |    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS mu2,
        |    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS mu3,
        |    CAST(s11 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS c11,
        |    CAST(s12 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS c12,
        |    CAST(s13 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) AS c13,
        |    CAST(s22 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)) AS c22,
        |    CAST(s23 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) AS c23,
        |    CAST(s33 AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)) AS c33
        |  FROM s),
        |dd AS (SELECT m.*, c11 * (c22 * c33 - c23 * c23)
        |    - c12 * (c12 * c33 - c23 * c13)
        |    + c13 * (c12 * c23 - c22 * c13) AS det FROM m),
        |i AS (SELECT mu1, mu2, mu3,
        |    (c22 * c33 - c23 * c23) / det AS a11,
        |    (c11 * c33 - c13 * c13) / det AS a22,
        |    (c11 * c22 - c12 * c12) / det AS a33,
        |    (c13 * c23 - c12 * c33) / det AS a12,
        |    (c12 * c23 - c13 * c22) / det AS a13,
        |    (c12 * c13 - c11 * c23) / det AS a23
        |  FROM dd),
        |r AS (SELECT l_orderkey, l_linenumber,
        |    a11 * (l_quantity - mu1) * (l_quantity - mu1)
        |      + a22 * (l_extendedprice - mu2) * (l_extendedprice - mu2)
        |      + a33 * (l_discount - mu3) * (l_discount - mu3)
        |      + CAST(2 AS DOUBLE) * (a12 * (l_quantity - mu1) * (l_extendedprice - mu2)
        |        + a13 * (l_quantity - mu1) * (l_discount - mu3)
        |        + a23 * (l_extendedprice - mu2) * (l_discount - mu3)) AS md2u
        |  FROM lineitem CROSS JOIN i WHERE l_orderkey % 100 = 0)
        |SELECT l_orderkey, l_linenumber, round(md2u, 6) + 0.0 AS md2,
        |  md2u > CAST(7.814728 AS DOUBLE) AS is_outlier
        |FROM r ORDER BY l_orderkey, l_linenumber, md2, is_outlier""".stripMargin,

    "q_outlier_mad" ->
      """WITH m AS (SELECT round(quantile_cont(value, 0.5), 6) AS mv FROM events),
        |a AS (SELECT round(quantile_cont(abs(value - mv), 0.5), 6) AS madv
        |  FROM events, m),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_scanned FROM events),
        |f AS (SELECT event_id,
        |    (abs(0.6745 * (value - mv) / madv) > 3.5) AS value_mad_out
        |  FROM events, m, a)
        |SELECT f.event_id, f.value_mad_out, n.n_scanned
        |FROM f, n WHERE f.value_mad_out
        |ORDER BY event_id""".stripMargin,

    // rolling 7-row median/mean; median = quantile_cont's lo + 0.5*(hi-lo)
    "q_window_rollmed" ->
      """SELECT event_id, event_type,
        |  round(median(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_med,
        |  round(avg(value) OVER (PARTITION BY event_type ORDER BY ts, event_id
        |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 6) AS roll_avg
        |FROM events ORDER BY event_id""".stripMargin,

    "q_events_islands" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |g AS (SELECT user_id, day,
        |    datediff('day', DATE '1970-01-01', day) -
        |      row_number() OVER (PARTITION BY user_id ORDER BY day) AS grp FROM d),
        |i AS (SELECT user_id, grp, CAST(count(*) AS BIGINT) AS len FROM g GROUP BY 1, 2)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands, max(len) AS longest,
        |  CAST(sum(len) AS BIGINT) AS active_days
        |FROM i GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_events_heatmap" ->
      """SELECT CAST(dayofweek(CAST(ts AS TIMESTAMP)) AS INT) AS dow,
        |  CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS hod,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS users,
        |  round(avg(value), 6) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,

    // SCD2: collapse consecutive repeats per user, emit validity intervals
    "q_scd2_history" ->
      """WITH w AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |t AS (SELECT user_id, event_type, ts, event_id FROM w
        |  WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS vf,
        |  epoch_us(CAST(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS TIMESTAMP)) AS vt,
        |  (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
        |FROM t ORDER BY user_id, vf, vt NULLS FIRST, event_type""".stripMargin,

    "q_tpch_q9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE), 6) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |WHERE p_name LIKE '%red%'
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // per-part mean from a DECIMAL-exact sum; threshold rounded identically
    "q_tpch_q17" ->
      """WITH f AS (SELECT l_partkey, l_quantity, l_extendedprice FROM lineitem
        |    JOIN part ON l_partkey = p_partkey WHERE p_brand = 'Brand#23'),
        |a AS (SELECT l_partkey, CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    / count(*) AS avg_qty FROM f GROUP BY l_partkey)
        |SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 6) AS avg_yearly
        |FROM f JOIN a USING (l_partkey)
        |WHERE l_quantity < round(0.2 * avg_qty, 6)""".stripMargin,

    "q_tpch_q22" ->
      """WITH ab AS (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS ab FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS numcust,
        |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 6) AS totacctbal
        |FROM customer, ab
        |WHERE c_acctbal > ab AND NOT EXISTS
        |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |     AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY seg""".stripMargin,

    // trimmed mean: quantile bounds rounded to 6 (Eda.trimmedMean's
    // driver-side rounding), DECIMAL-exact conditional sum
    "q_stats_trimmed" ->
      """WITH b AS (SELECT
        |    round(quantile_cont(l_quantity, 0.05), 6) AS lo_q,
        |    round(quantile_cont(l_quantity, 0.95), 6) AS hi_q,
        |    round(quantile_cont(l_extendedprice, 0.05), 6) AS lo_e,
        |    round(quantile_cont(l_extendedprice, 0.95), 6) AS hi_e
        |  FROM lineitem)
        |SELECT * FROM (
        |  SELECT 'l_extendedprice' AS column_name,
        |    round(CAST(sum(CASE WHEN l_extendedprice BETWEEN lo_e AND hi_e
        |        THEN CAST(l_extendedprice AS DECIMAL(24,8)) END) AS DOUBLE)
        |      / count(CASE WHEN l_extendedprice BETWEEN lo_e AND hi_e THEN 1 END), 6) AS trimmed_mean,
        |    CAST(count(CASE WHEN l_extendedprice BETWEEN lo_e AND hi_e THEN 1 END) AS BIGINT) AS n_kept
        |  FROM lineitem, b
        |  UNION ALL
        |  SELECT 'l_quantity',
        |    round(CAST(sum(CASE WHEN l_quantity BETWEEN lo_q AND hi_q
        |        THEN CAST(l_quantity AS DECIMAL(24,8)) END) AS DOUBLE)
        |      / count(CASE WHEN l_quantity BETWEEN lo_q AND hi_q THEN 1 END), 6),
        |    CAST(count(CASE WHEN l_quantity BETWEEN lo_q AND hi_q THEN 1 END) AS BIGINT)
        |  FROM lineitem, b
        |) ORDER BY column_name""".stripMargin,

    "q_text_sentences" ->
      s"""SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(text, '[.!?]+'), s -> trim(s) <> '')) AS BIGINT) AS n_sentences,
        |  CASE WHEN len(list_filter(string_split_regex(text, '[.!?]+'), s -> trim(s) <> '')) = 0 THEN 0.0
        |       ELSE round(CAST(len($toks) AS DOUBLE)
        |         / len(list_filter(string_split_regex(text, '[.!?]+'), s -> trim(s) <> '')), 6) END AS mean_sent_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    // first-seen-flag cumulative distinct (count(DISTINCT) OVER surrogate)
    "q_window_cumdistinct" ->
      """WITH f AS (SELECT event_id, user_id, ts,
        |    CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
        |      ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END AS fi
        |  FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(fi) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types_seen
        |FROM f ORDER BY event_id""".stripMargin,

    "q_join_right" ->
      """SELECT c_mktsegment AS seg, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_cust
        |FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY seg""".stripMargin,

    // grouped z-score: per-flag mean/stddev_pop rounded to 6 before the
    // per-row arithmetic (Preprocess.zscoreBy roundStats=6)
    "q_p1b_zscore_group" ->
      """WITH st AS (SELECT l_returnflag, round(avg(l_extendedprice), 6) AS mu,
        |    round(stddev_pop(l_extendedprice), 6) AS sd
        |  FROM lineitem GROUP BY 1)
        |SELECT l_orderkey, l_linenumber,
        |  round(CASE WHEN sd = 0 OR sd IS NULL THEN 0.0
        |             ELSE (l_extendedprice - mu) / sd END, 6) AS price_z
        |FROM lineitem JOIN st USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber, price_z""".stripMargin,

    // OLS closed form: DECIMAL power sums, double formula DAG shared
    // verbatim with the Spark side
    // Kendall tau-b replay: same daily points, exact concordant /
    // discordant / y-tie counts, the sqrt denominator DAG shared with
    // the engine (sqrt is IEEE-correctly-rounded, unlike pow/ln)
    "q_stats_kendall" ->
      """WITH d AS (SELECT strftime(l_shipdate, '%Y-%m') AS mon,
        |    CAST(date_part('day', l_shipdate) AS INTEGER) AS x,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |cd AS (SELECT a.mon,
        |    CAST(count_if(b.y > a.y) AS BIGINT) AS nc,
        |    CAST(count_if(b.y < a.y) AS BIGINT) AS nd
        |  FROM d a JOIN d b ON a.mon = b.mon AND a.x < b.x GROUP BY a.mon),
        |np AS (SELECT mon, CAST(count(*) AS BIGINT) AS n_points
        |  FROM d GROUP BY mon),
        |yt AS (SELECT mon, CAST(sum(c * (c - 1)) AS BIGINT) AS t2 FROM (
        |    SELECT mon, y, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY mon, y)
        |  GROUP BY mon)
        |SELECT np.mon, np.n_points, cd.nc AS n_concordant,
        |  cd.nd AS n_discordant,
        |  round(CASE WHEN sqrt((CAST(np.n_points * (np.n_points - 1) AS DOUBLE) / 2)
        |      * (CAST(np.n_points * (np.n_points - 1) - yt.t2 AS DOUBLE) / 2)) > 0
        |    THEN CAST(cd.nc - cd.nd AS DOUBLE)
        |      / sqrt((CAST(np.n_points * (np.n_points - 1) AS DOUBLE) / 2)
        |        * (CAST(np.n_points * (np.n_points - 1) - yt.t2 AS DOUBLE) / 2))
        |    ELSE NULL END, 6) + 0.0 AS tau_b
        |FROM np JOIN cd USING (mon) JOIN yt USING (mon) ORDER BY mon""".stripMargin,

    // chi-square replay: same integer cells/marginals, the expected-count
    // double DAG spelled out at each use exactly as the engine's plan
    // re-expands it, per-cell terms floored at 1e9 before the integer sum
    "q_stats_chi2" -> {
      val e = "(CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE))"
      s"""WITH cells AS (SELECT o_orderstatus AS a, o_orderpriority AS b,
         |    CAST(count(*) AS BIGINT) AS o FROM orders
         |  WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL
         |  GROUP BY 1, 2),
         |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY a),
         |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY b),
         |nn AS (SELECT CAST(sum(o) AS BIGINT) AS n,
         |    CAST(count(DISTINCT a) AS BIGINT) AS r,
         |    CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
         |t AS (SELECT nn.n, nn.r, nn.c,
         |    CAST(floor(((CAST(o AS DOUBLE) - $e) * (CAST(o AS DOUBLE) - $e)
         |      / $e) * 1e9) AS BIGINT) AS t9
         |  FROM cells JOIN rt USING (a) JOIN ct USING (b), nn),
         |s AS (SELECT n, r, c, CAST(sum(t9) AS BIGINT) AS t9
         |  FROM t GROUP BY 1, 2, 3)
         |SELECT n, r, c, (r - 1) * (c - 1) AS dof,
         |  round(CAST(t9 AS DOUBLE) / 1e9, 6) + 0.0 AS chi2,
         |  round(sqrt(CAST(t9 AS DOUBLE) / 1e9 / (CAST(n AS DOUBLE)
         |    * CAST(least(r - 1, c - 1) AS DOUBLE))), 6) + 0.0 AS cramers_v
         |FROM s""".stripMargin
    },

    // Theil-Sen replay: daily decimal-exact revenue points, within-month
    // pair slopes, medians as exact order statistics — value at rank
    // (n+1)//2 averaged with rank n//2+1 (conditional min over the
    // cumulative count, same rank arithmetic as the engine)
    "q_stats_theilsen" ->
      """WITH d AS (SELECT strftime(l_shipdate, '%Y-%m') AS mon,
        |    CAST(date_part('day', l_shipdate) AS INTEGER) AS x,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS y
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT a.mon, (b.y - a.y) / (b.x - a.x) AS s
        |  FROM d a JOIN d b ON a.mon = b.mon AND a.x < b.x),
        |ps AS (SELECT mon, s, row_number() OVER (PARTITION BY mon ORDER BY s) AS rn,
        |    count(*) OVER (PARTITION BY mon) AS n FROM p),
        |m AS (SELECT mon, CAST(max(n) AS BIGINT) AS n_pairs,
        |    (min(CASE WHEN rn >= (n + 1) // 2 THEN s END)
        |      + min(CASE WHEN rn >= n // 2 + 1 THEN s END)) / 2 AS m
        |  FROM ps GROUP BY mon),
        |r AS (SELECT d.mon, d.y - m.m * d.x AS r FROM d JOIN m ON d.mon = m.mon),
        |rs AS (SELECT mon, r, row_number() OVER (PARTITION BY mon ORDER BY r) AS rn,
        |    count(*) OVER (PARTITION BY mon) AS n FROM r),
        |b AS (SELECT mon, CAST(max(n) AS BIGINT) AS n_points,
        |    (min(CASE WHEN rn >= (n + 1) // 2 THEN r END)
        |      + min(CASE WHEN rn >= n // 2 + 1 THEN r END)) / 2 AS b
        |  FROM rs GROUP BY mon)
        |SELECT m.mon, b.n_points, m.n_pairs,
        |  round(m.m, 6) + 0.0 AS slope, round(b.b, 6) + 0.0 AS intercept
        |FROM m JOIN b ON m.mon = b.mon ORDER BY m.mon""".stripMargin,

    "q_stats_linreg" ->
      """WITH s AS (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, n,
        |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
        |  round((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 6) AS intercept,
        |  round((n * sxy - sx * sy) * (n * sxy - sx * sy)
        |    / ((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS r2
        |FROM s ORDER BY l_returnflag""".stripMargin,

    // k-fold cross-validated linear regression: md5-hash folds, DECIMAL
    // per-fold power sums, train = totals minus fold, held-out MSE from
    // the same sums (sum-of-squares expansion) — the identical DAG
    "q_ml_cv_linreg" ->
      """WITH f AS (SELECT
        |    CAST(CAST(concat('0x', substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) % 5 AS INTEGER) AS fold,
        |    CAST(l_quantity AS DECIMAL(18,2)) AS x,
        |    CAST(l_extendedprice AS DECIMAL(18,2)) AS y
        |  FROM lineitem),
        |g AS (SELECT fold, count(*) AS n_f,
        |    sum(x) AS sx_f, sum(y) AS sy_f,
        |    sum(CAST(x * x AS DECIMAL(38,4))) AS sxx_f,
        |    sum(CAST(x * y AS DECIMAL(38,4))) AS sxy_f,
        |    sum(CAST(y * y AS DECIMAL(38,4))) AS syy_f
        |  FROM f GROUP BY 1),
        |t AS (SELECT CAST(sum(n_f) AS BIGINT) AS n, sum(sx_f) AS sx, sum(sy_f) AS sy,
        |    sum(sxx_f) AS sxx, sum(sxy_f) AS sxy FROM g),
        |e AS (SELECT fold, n_f, n - n_f AS n_train,
        |    CAST(n - n_f AS DOUBLE) AS nt,
        |    CAST(sx - sx_f AS DOUBLE) AS tsx, CAST(sy - sy_f AS DOUBLE) AS tsy,
        |    CAST(sxx - sxx_f AS DOUBLE) AS tsxx, CAST(sxy - sxy_f AS DOUBLE) AS tsxy,
        |    CAST(n_f AS DOUBLE) AS nf,
        |    CAST(sx_f AS DOUBLE) AS fsx, CAST(sy_f AS DOUBLE) AS fsy,
        |    CAST(sxx_f AS DOUBLE) AS fsxx, CAST(sxy_f AS DOUBLE) AS fsxy,
        |    CAST(syy_f AS DOUBLE) AS fsyy
        |  FROM g, t),
        |m AS (SELECT fold, n_f, n_train,
        |    (nt * tsxy - tsx * tsy) / (nt * tsxx - tsx * tsx) AS b,
        |    (tsy - ((nt * tsxy - tsx * tsy) / (nt * tsxx - tsx * tsx)) * tsx) / nt AS a,
        |    nf, fsx, fsy, fsxx, fsxy, fsyy
        |  FROM e)
        |SELECT fold, CAST(n_f AS BIGINT) AS n_test, CAST(n_train AS BIGINT) AS n_train,
        |  round(b, 6) + 0.0 AS slope, round(a, 6) + 0.0 AS intercept,
        |  round((fsyy + nf * a * a + b * b * fsxx
        |    - CAST(2.0 AS DOUBLE) * a * fsy - CAST(2.0 AS DOUBLE) * b * fsxy
        |    + CAST(2.0 AS DOUBLE) * a * b * fsx) / nf, 6) + 0.0 AS mse_test
        |FROM m ORDER BY fold""".stripMargin,

    // leave-one-group-out slope influence: per-group DECIMAL power sums,
    // totals by exact decimal addition, subtraction BEFORE the double
    // cast — the identical sufficient-statistics DAG as the engine
    "q_stats_logo" ->
      """WITH g AS (SELECT l_returnflag, count(*) AS n_g,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS sx_g,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS sy_g,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx_g,
        |    sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy_g
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(sx_g) AS sx, sum(sy_g) AS sy,
        |    sum(sxx_g) AS sxx, sum(sxy_g) AS sxy FROM g),
        |f AS (SELECT l_returnflag, n_g,
        |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS full_m,
        |    (CAST(n - n_g AS DOUBLE) * CAST(sxy - sxy_g AS DOUBLE) - CAST(sx - sx_g AS DOUBLE) * CAST(sy - sy_g AS DOUBLE))
        |      / (CAST(n - n_g AS DOUBLE) * CAST(sxx - sxx_g AS DOUBLE) - CAST(sx - sx_g AS DOUBLE) * CAST(sx - sx_g AS DOUBLE)) AS wo_m
        |  FROM g, t)
        |SELECT l_returnflag, n_g,
        |  round(full_m, 6) + 0.0 AS slope_full,
        |  round(wo_m, 6) + 0.0 AS slope_without,
        |  round(wo_m - full_m, 6) + 0.0 AS influence
        |FROM f ORDER BY l_returnflag""".stripMargin,

    // incremental dedup: fingerprint anti-join vs corpus, within-batch
    // canonical exact, batch-bands × corpus-bands near-dup (Jaccard ≥
    // 0.25), then the within-batch minhash chain + recursive closure —
    // mirrors Dedup.incrementalDedup stage by stage
    "q_dedup_incremental" ->
      s"""WITH RECURSIVE
         |batch AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         |corpus AS (SELECT * FROM documents WHERE doc_id % 5 <> 0),
         |cfp AS (SELECT DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp FROM corpus),
         |b1 AS (SELECT b.*, md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g'))) AS fp
         |       FROM batch b WHERE md5(trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g'))) NOT IN (SELECT fp FROM cfp)),
         |bwin AS (SELECT fp, min(doc_id) AS keep_id FROM b1 GROUP BY fp),
         |b2 AS (SELECT b1.* FROM b1 JOIN bwin ON b1.fp = bwin.fp AND b1.doc_id = bwin.keep_id),
         |${minhashBandCtes("b", "b2", 5)},
         |${minhashBandCtes("c", "corpus", 5)},
         |xcand AS (SELECT DISTINCT x.doc_id AS bid, x.s AS sa, y.s AS sb
         |          FROM bbanded x JOIN cbanded y ON x.bidx = y.bidx AND x.band_key = y.band_key),
         |xmatch AS (SELECT DISTINCT bid FROM xcand
         |           WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(list_concat(sa, sb))) >= 0.25),
         |b3 AS (SELECT * FROM b2 WHERE doc_id NOT IN (SELECT bid FROM xmatch)),
         |${minhashBandCtes("w", "b3", 5)},
         |wcand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b, x.s AS sa, y.s AS sb
         |          FROM wbanded x JOIN wbanded y ON x.bidx = y.bidx AND x.band_key = y.band_key AND x.doc_id < y.doc_id),
         |wpairs AS (SELECT id_a, id_b FROM wcand
         |           WHERE CAST(len(list_intersect(sa, sb)) AS DOUBLE) / len(list_distinct(list_concat(sa, sb))) >= 0.25),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM wpairs
         |          UNION SELECT id_b, id_a FROM wpairs
         |          UNION SELECT doc_id, doc_id FROM b3),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
         |lab AS (SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a)
         |SELECT id AS doc_id FROM lab WHERE id = cluster_id ORDER BY doc_id""".stripMargin,

    // choose-then-filter (pandas merge_asof tolerance): the ASOF match is
    // made first, then nulled when older than the 30-minute tolerance
    "q_asof_tolerance" ->
      """SELECT p.event_id, p.user_id, round(p.value, 6) AS purchase_value,
        |  round(CASE WHEN r.ts >= p.ts - INTERVAL 30 MINUTE THEN r.value END, 6) AS recent_click_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
        |  ON p.user_id = r.user_id AND p.ts >= r.ts
        |ORDER BY p.event_id""".stripMargin,

    // nearest as-of: backward + forward ASOF passes, closest wins, exact
    // ties go BACKWARD (the convention pinned in Joins.asofNearest)
    "q_asof_nearest" ->
      """WITH r AS (SELECT user_id, ts, max(value) AS value
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2),
        |p AS (SELECT event_id, user_id, ts, value
        |      FROM events WHERE event_type = 'purchase'),
        |b AS (SELECT p.event_id, r.ts AS bt, r.value AS bv
        |      FROM p ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts >= r.ts),
        |f AS (SELECT p.event_id, r.ts AS ft, r.value AS fv
        |      FROM p ASOF LEFT JOIN r ON p.user_id = r.user_id AND p.ts <= r.ts)
        |SELECT p.event_id, p.user_id, round(p.value, 6) AS purchase_value,
        |  round(CASE WHEN bt IS NOT NULL AND (ft IS NULL OR
        |               epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(bt AS TIMESTAMP))
        |                 <= epoch_us(CAST(ft AS TIMESTAMP)) - epoch_us(CAST(p.ts AS TIMESTAMP)))
        |             THEN bv ELSE fv END, 6) AS nearest_click_value
        |FROM p JOIN b USING (event_id) JOIN f USING (event_id)
        |ORDER BY p.event_id""".stripMargin,

    // gap-fill CTEs from q_resample_gapfill, then trailing-24-bin rolling
    // mean/std and the sigma test over the SAME rounded per-bin averages
    // running-anomaly replay: identical exact-cents prefix window sums,
    // identical mean/std/z double DAG, flags from the UNROUNDED values
    "q_events_running_anomaly" ->
      """WITH e AS (SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
        |    CAST(round(value * 100) AS BIGINT) AS v2 FROM events),
        |w AS (SELECT user_id, event_id, value,
        |    count(*) OVER pw AS n,
        |    CAST(sum(v2) OVER pw AS BIGINT) AS s2,
        |    CAST(sum(v2 * v2) OVER pw AS BIGINT) AS ss4
        |  FROM e WINDOW pw AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |z AS (SELECT user_id, event_id, value,
        |    CAST(s2 AS DOUBLE) / n / CAST(100 AS DOUBLE) AS mean,
        |    sqrt(greatest(CAST(ss4 AS DOUBLE) / n / CAST(10000 AS DOUBLE)
        |      - CAST(s2 AS DOUBLE) / n / CAST(100 AS DOUBLE)
        |        * (CAST(s2 AS DOUBLE) / n / CAST(100 AS DOUBLE)),
        |      CAST(0 AS DOUBLE))) AS std
        |  FROM w WHERE n >= 10)
        |SELECT user_id, event_id, value, round((value - mean) / std, 6) + 0.0 AS z
        |FROM z WHERE std > 0 AND abs(value - mean) > CAST(3 AS DOUBLE) * std
        |ORDER BY user_id, event_id""".stripMargin,

    "q_events_anomaly" ->
      """WITH b AS (SELECT event_type,
        |             CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 3600) * 3600 AS BIGINT) AS bin,
        |             count(*) AS n_events, round(avg(value), 6) AS avg_value
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT event_type, min(bin) AS lo, max(bin) AS hi FROM b GROUP BY 1),
        |g AS (SELECT event_type, CAST(unnest(generate_series(lo, hi, 3600)) AS BIGINT) AS bin
        |      FROM s),
        |gf AS (SELECT g.event_type, g.bin AS bin_start, b.avg_value AS v
        |       FROM g LEFT JOIN b ON g.event_type = b.event_type AND g.bin = b.bin),
        |w AS (SELECT event_type, bin_start, v,
        |        count(v) OVER win AS n,
        |        CAST(sum(CAST(v AS DECIMAL(18,6))) OVER win AS DOUBLE) AS sx,
        |        CAST(sum(CAST(CAST(v AS DECIMAL(18,6)) * CAST(v AS DECIMAL(18,6)) AS DECIMAL(38,12))) OVER win AS DOUBLE) AS sxx
        |      FROM gf
        |      WINDOW win AS (PARTITION BY event_type ORDER BY bin_start
        |                     ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
        |SELECT event_type, bin_start, v AS avg_value, n AS n_bins,
        |  round(sx, 6) AS roll_sum,
        |  CASE WHEN n >= 2 THEN
        |    round(sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1.0))), 6)
        |  END AS sd,
        |  CASE WHEN v IS NULL OR n < 2
        |         OR sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1.0))) = 0
        |       THEN false
        |       ELSE abs(v - sx / n)
        |         > 2.0 * sqrt(greatest(n * sxx - sx * sx, 0.0) / (n * (n - 1.0)))
        |  END AS is_anomaly
        |FROM w ORDER BY event_type, bin_start""".stripMargin,

    "q_events_daily_quantiles" ->
      """SELECT CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // seasonal-naive backtest: lag-7 vs lag-1 forecasts over the daily
    // count series per event type, fixed-point (trunc-mirrored) error
    // sums, the shared-DAG MAE divisions and MASE ratio
    "q_events_backtest" ->
      """WITH d AS (SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
        |    CAST(count(*) AS DOUBLE) AS cnt
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, cnt,
        |    lag(cnt, 7) OVER (PARTITION BY event_type ORDER BY day) AS f7,
        |    lag(cnt, 1) OVER (PARTITION BY event_type ORDER BY day) AS f1
        |  FROM d),
        |e AS (SELECT event_type,
        |    CAST(trunc(abs(cnt - f7) * 1000000.0) AS BIGINT) AS es,
        |    CAST(trunc(abs(cnt - f1) * 1000000.0) AS BIGINT) AS e1
        |  FROM l WHERE f7 IS NOT NULL)
        |SELECT event_type, count(*) AS n_eval,
        |  round(CAST(sum(es) AS DOUBLE) / (count(*) * 1000000.0), 6) + 0.0 AS mae_seasonal,
        |  round(CAST(sum(e1) AS DOUBLE) / (count(*) * 1000000.0), 6) + 0.0 AS mae_naive,
        |  CASE WHEN CAST(sum(e1) AS BIGINT) = 0 THEN NULL
        |    ELSE round(CAST(sum(es) AS DOUBLE) / CAST(sum(e1) AS DOUBLE), 6) + 0.0 END AS mase
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,

    "q_events_wow" ->
      """WITH weekly AS (SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS rev,
        |    CAST(count(*) AS BIGINT) AS n_purchases
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1)
        |SELECT CAST(CAST(wk AS DATE) AS VARCHAR) AS week, n_purchases,
        |  round(rev, 6) AS revenue,
        |  round((rev - lag(rev) OVER (ORDER BY wk)) / lag(rev) OVER (ORDER BY wk), 6) AS wow_pct
        |FROM weekly ORDER BY week""".stripMargin,

    // Mann–Kendall / Theil–Sen replay: integer S and tie-corrected
    // variance, one sqrt, median slope by rank over (slope, t1, t2)
    // seasonal-decompose replay: identical range-frame window sum, exact
    // period-scaled detrended integers, the same double DAG per column
    "q_events_decompose" ->
      """WITH d AS (SELECT CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      - DATE '2024-01-01' AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
        |    FROM events GROUP BY 1),
        |w AS (SELECT t, v,
        |    sum(v) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s0,
        |    count(*) OVER (ORDER BY t RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c0
        |  FROM d),
        |w2 AS (SELECT t, v, CASE WHEN c0 = 7 THEN CAST(s0 AS BIGINT) END AS sp FROM w),
        |ph AS (SELECT t % 7 AS p, CAST(sum(7 * v - sp) AS BIGINT) AS num,
        |    CAST(count(*) AS BIGINT) AS pcnt
        |  FROM w2 WHERE sp IS NOT NULL GROUP BY 1)
        |SELECT t, v,
        |  round(CAST(sp AS DOUBLE) / CAST(7 AS DOUBLE), 6) + 0.0 AS trend,
        |  round(CAST(num AS DOUBLE) / (CAST(7 AS DOUBLE) * pcnt), 6) + 0.0 AS seasonal,
        |  CASE WHEN sp IS NOT NULL AND num IS NOT NULL THEN
        |    round(CAST(7 * v - sp AS DOUBLE) / CAST(7 AS DOUBLE)
        |      - CAST(num AS DOUBLE) / (CAST(7 AS DOUBLE) * pcnt), 6) + 0.0 END AS resid
        |FROM w2 LEFT JOIN ph ON w2.t % 7 = ph.p ORDER BY t""".stripMargin,

    // ACF replay: identical n-scaled deviations in HUGEINT, identical
    // lag equi-join over the bounded daily table, one division per lag
    "q_events_acf" ->
      """WITH d AS (SELECT CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      - DATE '2024-01-01' AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
        |    FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS sv FROM d),
        |dev AS (SELECT t, CAST(n * v - sv AS HUGEINT) AS dev FROM d, s),
        |den AS (SELECT sum(dev * dev) AS den FROM dev),
        |l AS (SELECT unnest(generate_series(1, 10)) AS lag),
        |num AS (SELECT CAST(l.lag AS BIGINT) AS lag, sum(a.dev * b.dev) AS num,
        |        CAST(count(*) AS BIGINT) AS n_pairs
        |      FROM l CROSS JOIN dev a JOIN dev b ON b.t = a.t + l.lag
        |      GROUP BY 1)
        |SELECT lag, n_pairs,
        |  CASE WHEN den = 0 THEN NULL
        |    ELSE round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) + 0.0 END AS acf
        |FROM num, den ORDER BY lag""".stripMargin,

    "q_events_trend" ->
      """WITH d AS (SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      - DATE '2024-01-01' AS t, CAST(count(*) AS BIGINT) AS v
        |    FROM events GROUP BY 1),
        |b AS (SELECT CAST(t AS BIGINT) AS t1, CAST(v AS DOUBLE) AS v1 FROM d),
        |p AS (SELECT x.t1, y.t1 AS t2, x.v1, y.v1 AS v2,
        |        (y.v1 - x.v1) / CAST(y.t1 - x.t1 AS DOUBLE) AS slope
        |      FROM b x JOIN b y ON y.t1 > x.t1),
        |s AS (SELECT CAST(sum(sign(v2 - v1)) AS BIGINT) AS s_stat,
        |        CAST(count(*) AS BIGINT) AS n_pairs FROM p),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_points FROM b),
        |ties AS (SELECT CAST(coalesce(sum(tg * (tg - 1) * (2 * tg + 5)), 0) AS BIGINT) AS tiesum
        |         FROM (SELECT CAST(count(*) AS BIGINT) AS tg FROM b GROUP BY v1)),
        |r AS (SELECT slope, row_number() OVER (ORDER BY slope, t1, t2) AS rr FROM p),
        |med AS (SELECT sum(slope) / CAST(count(DISTINCT rr) AS DOUBLE) AS med
        |        FROM r, s WHERE rr = (n_pairs + 1) // 2 OR rr = (n_pairs + 2) // 2),
        |vv AS (SELECT CAST(n_points * (n_points - 1) * (2 * n_points + 5) - tiesum AS DOUBLE)
        |        / 18.0 AS var_s FROM n, ties)
        |SELECT n.n_points, s.n_pairs, s.s_stat, round(vv.var_s, 6) AS var_s,
        |  round(CASE WHEN s.s_stat > 0 THEN CAST(s.s_stat - 1 AS DOUBLE) / sqrt(vv.var_s)
        |             WHEN s.s_stat < 0 THEN CAST(s.s_stat + 1 AS DOUBLE) / sqrt(vv.var_s)
        |             ELSE CAST(0.0 AS DOUBLE) END, 6) AS z,
        |  round(med.med, 6) AS slope
        |FROM n, s, vv, med""".stripMargin,

    // Holt replay: identical ordered fold with [level, trend] list
    // state; init rides as the prepended first element
    "q_events_holt" ->
      """WITH d AS (SELECT CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      - DATE '2024-01-01' AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
        |    FROM events GROUP BY 1),
        |a AS (SELECT list(CAST(v AS DOUBLE) ORDER BY t) AS vv,
        |        CAST(count(*) AS BIGINT) AS n FROM d),
        |f AS (SELECT n, list_reduce(
        |    list_prepend([vv[1], vv[2] - vv[1]],
        |      list_transform(list_slice(vv, 2, n), x -> [x])),
        |    (acc, x) -> [0.5 * x[1] + 0.5 * (acc[1] + acc[2]),
        |      0.5 * ((0.5 * x[1] + 0.5 * (acc[1] + acc[2])) - acc[1]) + 0.5 * acc[2]]
        |  ) AS st FROM a)
        |SELECT n AS n_points, round(st[1], 6) AS level, round(st[2], 6) AS trend,
        |  round(st[1] + st[2], 6) AS forecast_1,
        |  round(st[1] + 7.0 * st[2], 6) AS forecast_7
        |FROM f""".stripMargin,

    // Holt-Winters replay: same init window means, the (2+m)-state fold
    // with identical element order and dyadic constants (0.5/0.25/0.75
    // exact in binary), seasonal queue rotated by slice+concat
    "q_events_holtwinters" ->
      """WITH d AS (SELECT CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      - DATE '2024-01-01' AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
        |    FROM events GROUP BY 1),
        |a AS (SELECT list(CAST(v AS DOUBLE) ORDER BY t) AS vv,
        |        CAST(count(*) AS BIGINT) AS n FROM d),
        |i AS (SELECT n, vv,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_slice(vv, 1, 7)),
        |      (a2, x) -> a2 + x) / 7 AS m1,
        |    list_reduce(list_prepend(CAST(0 AS DOUBLE), list_slice(vv, 8, 14)),
        |      (a2, x) -> a2 + x) / 7 AS m2
        |  FROM a WHERE n >= 14),
        |f AS (SELECT n, list_reduce(
        |    list_prepend(
        |      list_concat([m1, (m2 - m1) / 7],
        |        list_transform(list_slice(vv, 1, 7), x -> x - m1)),
        |      list_transform(list_slice(vv, 8, n), x -> [x])),
        |    (acc, x) -> list_concat(list_concat(
        |      [0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2]),
        |       0.25 * ((0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2])) - acc[1])
        |         + 0.75 * acc[2]],
        |      list_slice(acc, 4, 9)),
        |      [0.25 * (x[1] - (0.5 * (x[1] - acc[3]) + 0.5 * (acc[1] + acc[2])))
        |        + 0.75 * acc[3]])
        |  ) AS st FROM i)
        |SELECT n AS n_points, round(st[1], 6) + 0.0 AS level,
        |  round(st[2], 6) + 0.0 AS trend,
        |  round(st[1] + 1.0 * st[2] + st[3], 6) + 0.0 AS forecast_1,
        |  round(st[1] + 7.0 * st[2] + st[9], 6) + 0.0 AS forecast_p
        |FROM f""".stripMargin,

    // CUSUM changepoint replay: n-scaled integer cusum, argmax by
    // (|S'| desc, t asc), segment means from the same prefix sums
    "q_events_changepoint" ->
      """WITH d AS (SELECT CAST(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
        |      - DATE '2024-01-01' AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS v
        |    FROM events GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS tv FROM d),
        |pre AS (SELECT t, v,
        |    CAST(sum(v) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p,
        |    CAST(row_number() OVER (ORDER BY t) AS BIGINT) AS r
        |  FROM d),
        |sc AS (SELECT pre.*, tot.n, tot.tv, tot.n * p - r * tv AS s
        |       FROM pre, tot WHERE r < tot.n),
        |cp AS (SELECT * FROM sc ORDER BY abs(s) DESC, t ASC LIMIT 1)
        |SELECT n AS n_points, t AS cp_ord, s AS cusum_scaled,
        |  round(CAST(p AS DOUBLE) / r, 6) AS mean_before,
        |  round(CAST(tv - p AS DOUBLE) / (n - r), 6) AS mean_after
        |FROM cp""".stripMargin,

    "q_events_rolling_dau" ->
      """WITH du AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS uday, user_id FROM events),
        |d AS (SELECT DISTINCT uday AS day FROM du)
        |SELECT CAST(d.day AS VARCHAR) AS day,
        |  CAST(count(DISTINCT du.user_id) AS BIGINT) AS dau7
        |FROM d JOIN du ON datediff('day', du.uday, d.day) BETWEEN 0 AND 6
        |GROUP BY d.day ORDER BY day""".stripMargin,

    "q_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS total,
        |  CAST(max(cnt) AS BIGINT) AS max_cnt,
        |  round(CAST(max(cnt) AS DOUBLE) * count(*) / sum(cnt), 6) AS skew_factor,
        |  round(CAST(max(cnt) AS DOUBLE) / sum(cnt), 6) AS top_share
        |FROM c""".stripMargin,

    "q_basket_pairs" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |p AS (SELECT a.pk AS pk_a, b.pk AS pk_b, CAST(count(*) AS BIGINT) AS pair_cnt
        |      FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |      GROUP BY 1, 2 HAVING count(*) >= 3),
        |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS cnt FROM oi GROUP BY 1),
        |t AS (SELECT CAST(count(DISTINCT ok) AS BIGINT) AS n_orders FROM oi)
        |SELECT pk_a, pk_b, pair_cnt,
        |  round(CAST(pair_cnt AS DOUBLE) * n_orders / (ia.cnt * ib.cnt), 6) AS lift
        |FROM p JOIN ic ia ON p.pk_a = ia.pk JOIN ic ib ON p.pk_b = ib.pk, t
        |ORDER BY pk_a, pk_b""".stripMargin,

    "q_docs_composition" ->
      """WITH a AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM a)
        |SELECT source, lang, n_docs, chars,
        |  round(CAST(n_docs AS DOUBLE) / tot, 6) AS doc_share
        |FROM a, t ORDER BY source, lang""".stripMargin,

    "q_window_reset_cumsum" ->
      """WITH s AS (SELECT event_id, user_id, ts, value,
        |    sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM events)
        |SELECT event_id, user_id,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2)))
        |    OVER (PARTITION BY user_id, seg ORDER BY ts, event_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS running_value
        |FROM s ORDER BY event_id""".stripMargin,

    "q_filter_topdecile" ->
      """WITH q AS (SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.9), 6) AS p90
        |  FROM lineitem GROUP BY 1)
        |SELECT lineitem.l_returnflag, CAST(count(*) AS BIGINT) AS n_top,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 6) AS top_revenue
        |FROM lineitem JOIN q ON lineitem.l_returnflag = q.l_returnflag
        |WHERE l_extendedprice > p90
        |GROUP BY 1 ORDER BY lineitem.l_returnflag""".stripMargin,

    // winnowing: 8-char-gram 60-bit md5 hashes, min per 4-hash window
    // indexed substring search: the oracle is the SEMANTIC result (plain
    // strpos containment scan) — hash-matching it proves the Spark-side
    // gram-index pre-filter is lossless
    "q_text_substr_search" ->
      """WITH q AS (SELECT substr(lower(text), 11, 24) AS s FROM documents WHERE doc_id = 0)
        |SELECT d.doc_id, CAST(strpos(lower(d.text), q.s) AS INTEGER) AS pos
        |FROM documents d CROSS JOIN q
        |WHERE strpos(lower(d.text), q.s) > 0
        |ORDER BY d.doc_id""".stripMargin,

    "q_text_winnow" ->
      s"""WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
         |g AS (SELECT doc_id, list_transform(generate_series(1, greatest(length(t) - 7, 0)),
         |    i -> CAST(concat('0x', substr(md5(substr(t, i, 8)), 1, 15)) AS BIGINT)) AS grams
         |  FROM t),
         |m AS (SELECT doc_id, list_distinct(list_transform(
         |    generate_series(1, greatest(len(grams) - 3, 0)),
         |    j -> list_min(grams[j:j+3]))) AS fps FROM g)
         |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps
         |FROM m ORDER BY doc_id""".stripMargin,

    "q_window_drawdown" ->
      """SELECT event_id, user_id,
        |  round(max(value) OVER w, 6) AS run_max,
        |  round(round(max(value) OVER w, 6) - value, 6) AS drawdown
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    "q_events_ttfp" ->
      """SELECT user_id,
        |  epoch_us(CAST(min(CASE WHEN event_type = 'purchase' THEN ts END) AS TIMESTAMP))
        |    - epoch_us(CAST(min(CASE WHEN event_type = 'signup' THEN ts END) AS TIMESTAMP)) AS ttfp_us
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    // sessionize CTEs (30-min gap) -> per-day share of 1-event sessions
    "q_events_bounce" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |l AS (SELECT *, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 30 MINUTE
        |                     THEN 1 ELSE 0 END AS brk FROM e),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM l),
        |s AS (SELECT user_id, sid, CAST(min(ts) AS DATE) AS day, count(*) AS n FROM g GROUP BY 1, 2)
        |SELECT CAST(day AS VARCHAR) AS day, CAST(count(*) AS BIGINT) AS n_sessions,
        |  CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS bounces,
        |  round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS bounce_rate
        |FROM s GROUP BY day ORDER BY day""".stripMargin,

    "q_pivot_multi" ->
      """SELECT l_returnflag,
        |  round(CAST(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 6) AS f_qty,
        |  CAST(count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS BIGINT) AS f_n,
        |  round(CAST(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE), 6) AS o_qty,
        |  CAST(count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS BIGINT) AS o_n
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin,

    "q_cut_bins" ->
      """WITH b AS (SELECT CASE
        |    WHEN l_extendedprice >= 0 AND l_extendedprice < 10000 THEN '[0,10000)'
        |    WHEN l_extendedprice >= 10000 AND l_extendedprice < 30000 THEN '[10000,30000)'
        |    WHEN l_extendedprice >= 30000 AND l_extendedprice < 60000 THEN '[30000,60000)'
        |    WHEN l_extendedprice >= 60000 AND l_extendedprice < 100000 THEN '[60000,100000)'
        |  END AS bin FROM lineitem)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n
        |FROM b GROUP BY bin ORDER BY coalesce(bin, '~')""".stripMargin,

    "q_text_readability" ->
      s"""WITH m AS (SELECT doc_id,
         |    len(list_filter(string_split_regex(text, '[.!?]+'), s -> trim(s) <> '')) AS ns,
         |    len($toks) AS nt,
         |    len(regexp_extract_all(lower(text), '[aeiou]+')) AS sy
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN ns = 0 OR nt = 0 THEN NULL
         |       ELSE round(206.835 - 1.015 * (CAST(nt AS DOUBLE) / ns)
         |              - 84.6 * (CAST(sy AS DOUBLE) / nt), 6) END AS flesch
         |FROM m ORDER BY doc_id""".stripMargin,

    // decontamination: distinct 5-gram md5s; benchmark = every 50th doc
    "q_decontaminate" ->
      s"""WITH tok AS (SELECT doc_id, $toks AS tk FROM documents),
         |gr AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |    generate_series(1, len(tk) - 4), i -> md5(array_to_string(tk[i:i+4], ' '))))) AS g
         |  FROM tok WHERE len(tk) >= 5),
         |bg AS (SELECT DISTINCT g FROM gr WHERE doc_id % 50 = 0)
         |SELECT DISTINCT gr.doc_id FROM gr JOIN bg USING (g)
         |ORDER BY doc_id""".stripMargin,

    "q_sample_rebalance" ->
      """WITH r AS (SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents),
        |s AS (SELECT lang, doc_id FROM r
        |  WHERE rn <= CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 30
        |    WHEN 'fr' THEN 20 WHEN 'es' THEN 20 ELSE 0 END)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM s GROUP BY lang ORDER BY lang""".stripMargin,

    "q_sample_pergroup" ->
      """WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey) AS rn
        |  FROM orders)
        |SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM r WHERE rn <= 20
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    // the ewma7 double DAG (power-of-two weights, left-assoc sums) is
    // spelled identically to the Spark side, so the values are
    // bit-reproducible with no rounding
    "q_window_ewma" ->
      """WITH daily AS (SELECT event_type,
        |    CAST(CAST(CAST(ts AS TIMESTAMP) AS DATE) AS VARCHAR) AS day,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS rev
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, day, rev,
        |    lag(rev, 1) OVER w AS x1, lag(rev, 2) OVER w AS x2,
        |    lag(rev, 3) OVER w AS x3, lag(rev, 4) OVER w AS x4,
        |    lag(rev, 5) OVER w AS x5, lag(rev, 6) OVER w AS x6
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day))
        |SELECT event_type, day, rev,
        |  ((CASE WHEN rev IS NOT NULL THEN rev * 1.0 ELSE 0.0 END)
        |   + (CASE WHEN x1 IS NOT NULL THEN x1 * 0.5 ELSE 0.0 END)
        |   + (CASE WHEN x2 IS NOT NULL THEN x2 * 0.25 ELSE 0.0 END)
        |   + (CASE WHEN x3 IS NOT NULL THEN x3 * 0.125 ELSE 0.0 END)
        |   + (CASE WHEN x4 IS NOT NULL THEN x4 * 0.0625 ELSE 0.0 END)
        |   + (CASE WHEN x5 IS NOT NULL THEN x5 * 0.03125 ELSE 0.0 END)
        |   + (CASE WHEN x6 IS NOT NULL THEN x6 * 0.015625 ELSE 0.0 END))
        |  /
        |  ((CASE WHEN rev IS NOT NULL THEN 1.0 ELSE 0.0 END)
        |   + (CASE WHEN x1 IS NOT NULL THEN 0.5 ELSE 0.0 END)
        |   + (CASE WHEN x2 IS NOT NULL THEN 0.25 ELSE 0.0 END)
        |   + (CASE WHEN x3 IS NOT NULL THEN 0.125 ELSE 0.0 END)
        |   + (CASE WHEN x4 IS NOT NULL THEN 0.0625 ELSE 0.0 END)
        |   + (CASE WHEN x5 IS NOT NULL THEN 0.03125 ELSE 0.0 END)
        |   + (CASE WHEN x6 IS NOT NULL THEN 0.015625 ELSE 0.0 END)) AS ewma7
        |FROM l ORDER BY event_type, day""".stripMargin,

    // mirrors Joins.asof's union + running last_value(IGNORE NULLS)
    // construction, tie-order included (ts, is_probe, channel)
    // Kaplan-Meier replay: same per-user durations and day rollup,
    // risk set as a descending window sum, same integer product-limit
    // recursion over ranked days
    "q_events_survival" ->
      """WITH RECURSIVE per AS (SELECT user_id AS u,
        |    min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS st,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) END) AS conv
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS fin FROM events),
        |dur AS (SELECT u,
        |    CAST(CASE WHEN conv IS NOT NULL THEN conv - st ELSE fin - st END AS BIGINT) AS t,
        |    conv IS NOT NULL AS converted
        |  FROM per CROSS JOIN h),
        |byday AS (SELECT t, CAST(count(CASE WHEN converted THEN 1 END) AS BIGINT) AS d,
        |    CAST(count(CASE WHEN NOT converted THEN 1 END) AS BIGINT) AS c
        |  FROM dur GROUP BY 1),
        |rk AS (SELECT t, d, c, row_number() OVER (ORDER BY t) AS rn,
        |    CAST(sum(d + c) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_risk
        |  FROM byday),
        |it AS (
        |  SELECT rn, t, n_risk, d, c,
        |    CASE WHEN n_risk > 0 AND d > 0
        |      THEN 1000000000 * (n_risk - d) // n_risk ELSE 1000000000 END AS s9
        |  FROM rk WHERE rn = 1
        |  UNION ALL
        |  SELECT rk.rn, rk.t, rk.n_risk, rk.d, rk.c,
        |    CASE WHEN rk.n_risk > 0 AND rk.d > 0
        |      THEN it.s9 * (rk.n_risk - rk.d) // rk.n_risk ELSE it.s9 END
        |  FROM it JOIN rk ON rk.rn = it.rn + 1)
        |SELECT t, n_risk, d AS n_events, c AS n_censored, s9 AS survival_e9
        |FROM it ORDER BY t""".stripMargin,

    // Markov removal-effect replay: identical journey windows and
    // transition counts, counts pivoted to one row, then the SAME
    // integer fixed-point absorption iterations as a recursive CTE
    "q_events_attribution_markov" -> {
      val chans = Seq("click", "error", "signup", "view")
      val states = "START" +: chans
      val mCols = states.flatMap { s =>
        (s"CAST(coalesce(sum(CASE WHEN src = '$s' THEN c END), 0) AS BIGINT) AS tot_$s") +:
          (chans :+ "CONV").map(d =>
            s"CAST(coalesce(max(CASE WHEN src = '$s' AND dst = '$d' THEN c END), 0) AS BIGINT) AS c_${s}_$d")
      }.mkString(", ")
      val pCols = states.map(s => s"p_$s").mkString(", ")
      val pInit = states.map(_ => "CAST(0 AS BIGINT)").mkString(", ")
      def nextP(s: String): String = {
        val flow = chans.map(d =>
          s"CASE WHEN scen = '$d' THEN 0 ELSE m.c_${s}_$d * p_$d END")
          .mkString(" + ")
        s"CASE WHEN m.tot_$s = 0 THEN CAST(0 AS BIGINT) ELSE " +
          s"($flow + m.c_${s}_CONV * 1000000000) // m.tot_$s END"
      }
      val scenVals = ("FULL" +: chans).map(c => s"('$c')").mkString(", ")
      val chanVals = chans.map(c => s"('$c')").mkString(", ")
      s"""WITH RECURSIVE ev AS (SELECT user_id AS u, CAST(ts AS TIMESTAMP) AS t,
        |    event_id AS i, event_type AS et FROM events),
        |j AS (SELECT u, t, i, et,
        |    coalesce(sum(CASE WHEN et = 'purchase' THEN 1 END)
        |      OVER (PARTITION BY u ORDER BY t, i
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS jidx
        |  FROM ev),
        |conv AS (SELECT DISTINCT u, jidx FROM j WHERE et = 'purchase'),
        |tch AS (SELECT u, jidx, et,
        |    row_number() OVER (PARTITION BY u, jidx ORDER BY t, i) AS rn,
        |    lead(et) OVER (PARTITION BY u, jidx ORDER BY t, i) AS nxt
        |  FROM j WHERE et <> 'purchase'),
        |tr AS (
        |  SELECT 'START' AS src, et AS dst FROM tch WHERE rn = 1
        |  UNION ALL SELECT et, nxt FROM tch WHERE nxt IS NOT NULL
        |  UNION ALL SELECT t.et,
        |      CASE WHEN c.u IS NOT NULL THEN 'CONV' ELSE 'NULL' END
        |    FROM tch t LEFT JOIN conv c ON t.u = c.u AND t.jidx = c.jidx
        |    WHERE t.nxt IS NULL
        |  UNION ALL SELECT 'START', 'CONV' FROM conv c
        |    WHERE NOT EXISTS (SELECT 1 FROM tch t
        |      WHERE t.u = c.u AND t.jidx = c.jidx)),
        |tc AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS c FROM tr GROUP BY 1, 2),
        |m AS MATERIALIZED (SELECT $mCols FROM tc),
        |it(step, scen, $pCols) AS (
        |  SELECT 0, scen, $pInit FROM (VALUES $scenVals) s(scen)
        |  UNION ALL
        |  SELECT step + 1, scen, ${states.map(nextP).mkString(", ")}
        |  FROM it, m WHERE step < 60),
        |f AS (SELECT scen, p_START FROM it WHERE step = 60)
        |SELECT ch.channel,
        |  f0.p_START AS p_conv_full_e9,
        |  fr.p_START AS p_conv_removed_e9,
        |  CASE WHEN f0.p_START = 0 THEN NULL
        |    ELSE round(CAST(1 AS DOUBLE)
        |      - CAST(fr.p_START AS DOUBLE) / CAST(f0.p_START AS DOUBLE), 6) END
        |    AS removal_effect
        |FROM (VALUES $chanVals) ch(channel)
        |JOIN f fr ON fr.scen = ch.channel
        |CROSS JOIN (SELECT p_START FROM f WHERE scen = 'FULL') f0
        |ORDER BY ch.channel""".stripMargin
    },

    "q_events_attribution" ->
      """WITH u AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, NULL::BIGINT AS event_id,
        |         NULL::DOUBLE AS value, event_type AS ch, 0 AS isp
        |  FROM events WHERE event_type <> 'purchase' AND ts IS NOT NULL
        |  UNION ALL
        |  SELECT user_id, CAST(ts AS TIMESTAMP), event_id, value, NULL, 1
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (SELECT *, last_value(ch IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY ts NULLS FIRST, isp, ch NULLS FIRST
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS channel
        |  FROM u)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_purchases,
        |  round(CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE), 6)
        |    AS attributed_revenue
        |FROM f WHERE isp = 1
        |GROUP BY channel ORDER BY channel NULLS FIRST""".stripMargin,

    // DSIR: hashed unigram+bigram log-likelihood ratio, λ per bucket
    // rounded to 6 and scaled to exact integer micro-units (the cast
    // rounds to nearest, absorbing the float-multiply ulp — the Spark
    // side scales in BigDecimal), then pure integer scoring.
    "q_dsir_weights" ->
      (s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
         |uni AS (SELECT doc_id, source, unnest(tk) AS g FROM t),
         |bi AS (SELECT doc_id, source, unnest(list_transform(
         |    generate_series(1, len(tk) - 1), i -> concat(tk[i], ' ', tk[i+1]))) AS g
         |  FROM t WHERE len(tk) >= 2),
         |gb AS (SELECT doc_id, source,
         |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 256 AS bucket
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |rawc AS (SELECT bucket, count(*) AS c FROM gb GROUP BY bucket),
         |tgtc AS (SELECT bucket, count(*) AS c FROM gb
         |  WHERE source IN ('src1','src2','src3','src4','src5') GROUP BY bucket),
         |tot AS (SELECT (SELECT sum(c) FROM rawc) AS nr,
         |               (SELECT COALESCE(sum(c), 0) FROM tgtc) AS nt),
         |lam AS (SELECT r.bucket,
         |    CAST(round((ln(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE)) - ln(CAST(tot.nt + 256 AS DOUBLE)))
         |             - (ln(CAST(r.c + 1 AS DOUBLE)) - ln(CAST(tot.nr + 256 AS DOUBLE))), 6)
         |         * 1000000 AS BIGINT) AS lam6
         |  FROM rawc r CROSS JOIN tot LEFT JOIN tgtc tc ON r.bucket = tc.bucket),
         |db AS (SELECT doc_id, bucket, count(*) AS n FROM gb GROUP BY 1, 2),
         |sc AS (SELECT db.doc_id, sum(db.n) AS n_grams, sum(db.n * l.lam6) AS s6
         |  FROM db JOIN lam l ON db.bucket = l.bucket GROUP BY db.doc_id)
         |SELECT d.doc_id, CAST(COALESCE(sc.n_grams, 0) AS BIGINT) AS n_grams,
         |  COALESCE(round(CAST(sc.s6 AS DOUBLE) / 1000000.0, 6), 0.0) + 0.0 AS log_w
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin),

    "q_dsir_select" ->
      (s"""WITH t AS (SELECT doc_id, source, $toks AS tk FROM documents),
         |uni AS (SELECT doc_id, source, unnest(tk) AS g FROM t),
         |bi AS (SELECT doc_id, source, unnest(list_transform(
         |    generate_series(1, len(tk) - 1), i -> concat(tk[i], ' ', tk[i+1]))) AS g
         |  FROM t WHERE len(tk) >= 2),
         |gb AS (SELECT doc_id, source,
         |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % 256 AS bucket
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
         |rawc AS (SELECT bucket, count(*) AS c FROM gb GROUP BY bucket),
         |tgtc AS (SELECT bucket, count(*) AS c FROM gb
         |  WHERE source IN ('src1','src2','src3','src4','src5') GROUP BY bucket),
         |tot AS (SELECT (SELECT sum(c) FROM rawc) AS nr,
         |               (SELECT COALESCE(sum(c), 0) FROM tgtc) AS nt),
         |lam AS (SELECT r.bucket,
         |    CAST(round((ln(CAST(COALESCE(tc.c, 0) + 1 AS DOUBLE)) - ln(CAST(tot.nt + 256 AS DOUBLE)))
         |             - (ln(CAST(r.c + 1 AS DOUBLE)) - ln(CAST(tot.nr + 256 AS DOUBLE))), 6)
         |         * 1000000 AS BIGINT) AS lam6
         |  FROM rawc r CROSS JOIN tot LEFT JOIN tgtc tc ON r.bucket = tc.bucket),
         |db AS (SELECT doc_id, bucket, count(*) AS n FROM gb GROUP BY 1, 2),
         |sc AS (SELECT db.doc_id, sum(db.n * l.lam6) AS s6
         |  FROM db JOIN lam l ON db.bucket = l.bucket GROUP BY db.doc_id),
         |w AS (SELECT d.doc_id,
         |    COALESCE(round(CAST(sc.s6 AS DOUBLE) / 1000000.0, 6), 0.0) + 0.0 AS log_w
         |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id),
         |sel AS (SELECT doc_id, log_w FROM w ORDER BY log_w DESC, doc_id LIMIT 50)
         |SELECT doc_id, log_w FROM sel ORDER BY doc_id""".stripMargin),

    // DoReMi-lite mixture: identical surprisal/cross-entropy/exp DAG —
    // micro6 fixed-point at every bounded decision cell, integer softmax
    "q_mix_doremi" ->
      (s"""WITH t AS (SELECT lang AS domain, unnest($toks) AS term FROM documents),
         |b AS (SELECT domain,
         |    CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % 64 AS bucket FROM t),
         |g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1),
         |nn AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM g),
         |s6 AS (SELECT bucket,
         |    CAST(round(-ln(CAST(c AS DOUBLE) / nn.n), 6) * 1000000 AS BIGINT) AS s6
         |  FROM g, nn),
         |db AS (SELECT domain, bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |h AS (SELECT domain, CAST(sum(c * s6) AS BIGINT) AS h6,
         |             CAST(sum(c) AS BIGINT) AS n_tok
         |      FROM db JOIN s6 USING (bucket) GROUP BY 1),
         |hd AS (SELECT domain, CAST(h6 AS DOUBLE) / (CAST(n_tok AS DOUBLE) * 1e6) AS hval FROM h),
         |mn AS (SELECT min(hval) AS hmin FROM hd),
         |ex AS (SELECT domain, hval - hmin AS excess FROM hd, mn),
         |st AS (SELECT CAST(v AS BIGINT) AS step FROM unnest(generate_series(0, 8)) AS u(v)),
         |w AS (SELECT step, domain, excess,
         |    CAST(round(exp(CAST(step AS DOUBLE) * CAST(0.5 AS DOUBLE) * excess), 6)
         |         * 1000000 AS BIGINT) AS w6
         |  FROM st, ex),
         |z AS (SELECT step, CAST(sum(w6) AS BIGINT) AS z6 FROM w GROUP BY 1)
         |SELECT w.step, w.domain, round(w.excess, 6) AS excess_loss,
         |  round(CAST(w.w6 AS DOUBLE) / CAST(z.z6 AS DOUBLE), 6) AS alpha
         |FROM w JOIN z USING (step) ORDER BY w.step, w.domain""".stripMargin),

    // SemDeDup: same fixed-centroid assignment as q_sim_ivf_assign, then
    // within-cluster cosine pairs and min-label transitive closure (the
    // q_dedup_cluster recursive-CTE device). Cosine is the same
    // dot/(sqrt*sqrt) DAG the fused graft_cos kernel computes.
    "q_sim_semdedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, c.cid, e.v,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |      + list_dot_product(c.cv, c.cv) AS d2
        |  FROM e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, v,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
        |w AS (SELECT vec_id, cid, v FROM r WHERE rn = 1),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM w a JOIN w b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |  WHERE list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4),
        |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM p
        |          UNION SELECT id_b, id_a FROM p
        |          UNION SELECT vec_id, vec_id FROM embeddings),
        |reach(a, b) AS (SELECT a, b FROM edges
        |                UNION SELECT rr.a, ee.b FROM reach rr JOIN edges ee ON rr.b = ee.a)
        |SELECT a AS vec_id, min(b) AS group_id,
        |  CASE WHEN a = min(b) THEN 1 ELSE 0 END AS keep
        |FROM reach GROUP BY a ORDER BY vec_id""".stripMargin,

    // fixed hash-selected centroids; d2 spelled through list_dot_product
    // exactly like the Spark side's graft_dot kernel; ties (d2, cid)
    // kNN graph: same fixed-centroid assignment, within-cluster pairs,
    // per-src rank on the ROUNDED cosine (ties to smaller dst)
    "q_sim_knn_graph" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, c.cid, e.v,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |      + list_dot_product(c.cv, c.cv) AS d2
        |  FROM e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, v,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn0 FROM d),
        |w AS (SELECT vec_id, cid, v FROM r WHERE rn0 = 1),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |    round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cos
        |  FROM w a JOIN w b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
        |k AS (SELECT src, dst, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM p)
        |SELECT src, CAST(rn AS INTEGER) AS rn, dst, cos
        |FROM k WHERE rn <= 5 ORDER BY src, rn""".stripMargin,

    // mutual-kNN pairs: the SAME k=5 graph CTEs as q_sim_knn_graph, then
    // the reciprocity self-join — (a, b) survives only when each lists
    // the other in its top-5; cosine taken from the forward (a < b) edge
    "q_sim_knn_mutual" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, c.cid, e.v,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |      + list_dot_product(c.cv, c.cv) AS d2
        |  FROM e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, v,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn0 FROM d),
        |w AS (SELECT vec_id, cid, v FROM r WHERE rn0 = 1),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |    round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cos
        |  FROM w a JOIN w b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
        |k AS (SELECT src, dst, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM p),
        |g AS (SELECT src, dst, cos FROM k WHERE rn <= 5)
        |SELECT a.src AS id_a, a.dst AS id_b, a.cos
        |FROM g a JOIN g b ON a.src = b.dst AND a.dst = b.src AND a.src < a.dst
        |ORDER BY id_a, id_b""".stripMargin,

    // incremental kNN insert: the oracle is the full-graph REBUILD over
    // base ∪ batch (= the whole embeddings table, same centroids/k as
    // q_sim_knn_graph) — the engine's batch×cluster incremental merge
    // must reproduce it row for row, or the hash flags the divergence
    "q_sim_knn_insert" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, c.cid, e.v,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |      + list_dot_product(c.cv, c.cv) AS d2
        |  FROM e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, v,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn0 FROM d),
        |w AS (SELECT vec_id, cid, v FROM r WHERE rn0 = 1),
        |p AS (SELECT a.vec_id AS src, b.vec_id AS dst,
        |    round(list_dot_product(a.v, b.v)
        |      / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) + 0.0 AS cos
        |  FROM w a JOIN w b ON a.cid = b.cid AND a.vec_id <> b.vec_id),
        |k AS (SELECT src, dst, cos,
        |    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM p)
        |SELECT src, CAST(rn AS INTEGER) AS rn, dst, cos
        |FROM k WHERE rn <= 5 ORDER BY src, rn""".stripMargin,

    "q_sim_ivf_assign" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, c.cid,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |      + list_dot_product(c.cv, c.cv) AS d2
        |  FROM e CROSS JOIN c),
        |r AS (SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
        |SELECT vec_id, cid AS cluster_id, round(d2, 6) + 0.0 AS dist2
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // the IVF query: per-row argmin assignment (same kernel/ties as
    // q_sim_ivf_assign), probe the 4 centroids nearest the query
    // (rank by d2 with cid tiebreak), cosine top-k inside probed clusters
    "q_sim_ivf_topk" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |q AS (SELECT v AS qe FROM e WHERE vec_id = 1),
         |d AS (SELECT e.vec_id, e.v, c.cid,
         |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
         |      + list_dot_product(c.cv, c.cv) AS d2
         |  FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d),
         |pd AS (SELECT c.cid,
         |    list_dot_product(q.qe, q.qe) - 2.0 * list_dot_product(q.qe, c.cv)
         |      + list_dot_product(c.cv, c.cv) AS d2 FROM c, q),
         |p AS (SELECT cid FROM pd ORDER BY d2, cid LIMIT 4)
         |SELECT a.vec_id AS id, round(${cosine("a.v", "q.qe")}, 6) AS cos
         |FROM a, q WHERE a.rn = 1 AND a.cid IN (SELECT cid FROM p)
         |ORDER BY cos DESC, id LIMIT 10""".stripMargin),

    // MMR diversity selection: the bounded greedy replayed as a recursive
    // CTE — ids/scores accumulate as lists, each step's argmax is a
    // correlated LIMIT-1 pick over the not-yet-selected pool, pool-pool
    // similarities precomputed unrounded (the engine's exact loop)
    // contrastive pair mining replay: same anchors, roles, rounded-cos
    // ranking with cand_id ties
    "q_sim_pairs" ->
      (s"""WITH v AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e, label FROM embeddings),
         |an AS (SELECT vec_id AS anchor_id, e AS ae, label AS albl FROM v WHERE vec_id % 53 = 0),
         |cand AS (SELECT an.anchor_id, v.vec_id AS cand_id,
         |    CASE WHEN v.label = an.albl THEN 'pos' ELSE 'neg' END AS role,
         |    round(${cosine("v.e", "an.ae")}, 6) AS cos
         |  FROM v JOIN an ON v.vec_id <> an.anchor_id),
         |r AS (SELECT *, row_number() OVER (
         |    PARTITION BY anchor_id, role ORDER BY cos DESC, cand_id ASC) AS rank
         |  FROM cand)
         |SELECT anchor_id, role, CAST(rank AS BIGINT) AS rank, cand_id, cos
         |FROM r WHERE (role = 'pos' AND rank <= 2) OR (role = 'neg' AND rank <= 3)
         |ORDER BY anchor_id, role, rank""".stripMargin),

    "q_sim_mmr" ->
      (s"""WITH RECURSIVE
         |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |pool AS (SELECT vec_id AS id, v, round(${cosine("v", "qv")}, 6) AS rel
         |         FROM e, q ORDER BY rel DESC, id LIMIT 20),
         |sims AS (SELECT a.id AS ca, b.id AS cb, ${cosine("a.v", "b.v")} AS s
         |         FROM pool a, pool b),
         |sel(n, ids, scores) AS (
         |  SELECT 0, CAST([] AS BIGINT[]), CAST([] AS DOUBLE[])
         |  UNION ALL
         |  SELECT n + 1, list_append(ids, pick.pid), list_append(scores, pick.psc)
         |  FROM (
         |    SELECT n, ids, scores,
         |      (SELECT struct_pack(pid := cid2, psc := score) FROM (
         |         SELECT pp.id AS cid2,
         |           CAST(0.5 AS DOUBLE) * pp.rel - CAST(0.5 AS DOUBLE) *
         |             COALESCE((SELECT max(s) FROM sims
         |                       WHERE sims.ca = pp.id
         |                         AND list_contains(sel.ids, sims.cb)),
         |                      CAST(0.0 AS DOUBLE)) AS score
         |         FROM pool pp WHERE NOT list_contains(sel.ids, pp.id))
         |       ORDER BY score DESC, cid2 LIMIT 1) AS pick
         |    FROM sel WHERE n < 5)),
         |last AS (SELECT ids, scores FROM sel WHERE n = 5),
         |ex AS (SELECT unnest(generate_series(1, 5)) AS rank,
         |              unnest(ids) AS id, unnest(scores) AS sc FROM last)
         |SELECT CAST(ex.rank AS INTEGER) AS rank, ex.id, p.rel AS relevance,
         |  round(ex.sc, 6) + 0.0 AS mmr_score
         |FROM ex JOIN pool p ON p.id = ex.id ORDER BY rank""".stripMargin),

    // IVF recall audit: same assignment/probe/cosine DAGs as ivf_topk,
    // per-query exact baseline, recall = |IVF ∩ exact| / 10
    // truncation audit: same one scored pass, full and sliced cosine on
    // the same candidate row; both rankings (cos desc, id) on round-6
    "q_sim_trunc_audit" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |et AS (SELECT vec_id, v, v[1:16] AS vt FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, v[1:16] AS qt FROM et WHERE vec_id < 10),
         |sc AS (SELECT q.qid, et.vec_id AS id,
         |    round(${cosine("et.v", "q.qv")}, 6) AS cos_full,
         |    round(${cosine("et.vt", "q.qt")}, 6) AS cos_trunc
         |  FROM et CROSS JOIN q),
         |f AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_full DESC, id) AS rn FROM sc)
         |  WHERE rn <= 10),
         |t AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos_trunc DESC, id) AS rn FROM sc)
         |  WHERE rn <= 10)
         |SELECT f.qid AS query_id, 16 AS dims,
         |  CAST(sum(CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN t.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |    / CAST(10 AS DOUBLE), 6) AS overlap
         |FROM f LEFT JOIN t ON f.qid = t.qid AND f.id = t.id
         |GROUP BY 1 ORDER BY query_id""".stripMargin),

    "q_sim_ivf_recall" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |d AS (SELECT e.vec_id, e.v, c.cid,
         |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
         |      + list_dot_product(c.cv, c.cv) AS d2
         |  FROM e CROSS JOIN c),
         |a AS (SELECT vec_id, v, cid FROM (SELECT vec_id, v, cid,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d)
         |  WHERE rn = 1),
         |pd AS (SELECT q.qid, c.cid,
         |    list_dot_product(q.qv, q.qv) - 2.0 * list_dot_product(q.qv, c.cv)
         |      + list_dot_product(c.cv, c.cv) AS d2
         |  FROM q CROSS JOIN c),
         |p AS (SELECT qid, cid FROM (SELECT qid, cid,
         |    row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rn FROM pd)
         |  WHERE rn <= 4),
         |cand AS (SELECT q.qid, a.vec_id AS id, round(${cosine("a.v", "q.qv")}, 6) AS cos
         |  FROM a JOIN p ON a.cid = p.cid JOIN q ON q.qid = p.qid),
         |ivf AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM cand)
         |  WHERE rn <= 10),
         |ex AS (SELECT q.qid, e.vec_id AS id, round(${cosine("e.v", "q.qv")}, 6) AS cos
         |  FROM e CROSS JOIN q),
         |ext AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM ex)
         |  WHERE rn <= 10)
         |SELECT ext.qid AS query_id,
         |  CAST(sum(CASE WHEN ivf.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN ivf.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(10 AS DOUBLE), 6) AS recall
         |FROM ext LEFT JOIN ivf ON ext.qid = ivf.qid AND ext.id = ivf.id
         |GROUP BY 1 ORDER BY query_id""".stripMargin),

    // HNSW beam-search replay: nProbe=4 entry clusters (of 8 centroid
    // nodes), 6 unrolled beam-8 hops over the symmetrized top-8 kNN
    // edges, final top-10 of the visited set — shared hop CTEs via
    // hnswVisitedCtes (parameters mirror the engine call in SparkEntry)
    "q_sim_hnsw_search" ->
      (s"""WITH ${hnswVisitedCtes(hops = 6, beam = 8, graphK = 8, nProbe = 4)}
         |f AS (SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM v6)
         |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rn, id AS vec_id,
         |  cos + 0.0 AS cos
         |FROM f WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin),

    // ANN index persistence: the search runs from the sink-persisted,
    // reloaded centroids + adjacency — the oracle is the SAME unrolled
    // replay as q_sim_hnsw_search, so any round-trip drift (a lost
    // edge, a perturbed centroid double) diverges the visited set and
    // hash-mismatches
    "q_sim_index_persist" ->
      (s"""WITH ${hnswVisitedCtes(hops = 6, beam = 8, graphK = 8, nProbe = 4)}
         |f AS (SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM v6)
         |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rn, id AS vec_id,
         |  cos + 0.0 AS cos
         |FROM f WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin),

    // serve-only ANN search: reload + search over the fixture-built
    // index — the oracle is the SAME replay as q_sim_hnsw_search, so a
    // stale or drifted fixture hash-mismatches
    "q_sim_index_serve" ->
      (s"""WITH ${hnswVisitedCtes(hops = 6, beam = 8, graphK = 8, nProbe = 4)}
         |f AS (SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM v6)
         |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rn, id AS vec_id,
         |  cos + 0.0 AS cos
         |FROM f WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin),

    // two-level routed search: the routing layer replays as two extra
    // CTEs (cells = md5-leading 4 centroids, centroid->cell assignment,
    // query->top-3 cells), then the same member ranking, entries, and
    // unrolled beam hops — any divergence in the persisted cells,
    // assignment table, or member ranking hash-mismatches
    "q_sim_hnsw2_search" ->
      (s"""WITH ${hnswVisitedCtes(hops = 6, beam = 8, graphK = 8, nProbe = 4,
              routing = Some(4))}
         |f AS (SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM v6)
         |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rn, id AS vec_id,
         |  cos + 0.0 AS cos
         |FROM f WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin),

    // two-level incremental insert (r19): the insert path is EXACTLY a
    // full rebuild over base ∪ batch (spec-pinned), so the search over
    // the updated artifact replays against the full-corpus routed-
    // search oracle — only the query set differs
    "q_sim_hnsw2_insert" ->
      (s"""WITH ${hnswVisitedCtes(hops = 6, beam = 8, graphK = 8, nProbe = 4,
              routing = Some(4),
              queryPred = "vec_id >= 10 AND vec_id < 20")}
         |f AS (SELECT qid, id, cos,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM v6)
         |SELECT qid AS query_id, CAST(rn AS INTEGER) AS rn, id AS vec_id,
         |  cos + 0.0 AS cos
         |FROM f WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin),

    // two-level recall audit: the routed visited set vs exact brute
    // force, same comparison shape as q_sim_hnsw_recall
    "q_sim_hnsw2_recall" ->
      (s"""WITH ${hnswVisitedCtes(hops = 6, beam = 8, graphK = 8, nProbe = 4,
              routing = Some(4))}
         |bt AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM v6)
         |  WHERE rn <= 10),
         |ex AS (SELECT q.qid, e.vec_id AS id, round(${cosine("e.v", "q.qv")}, 6) AS cos
         |  FROM e CROSS JOIN q),
         |ext AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM ex)
         |  WHERE rn <= 10)
         |SELECT ext.qid AS query_id,
         |  CAST(sum(CASE WHEN bt.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN bt.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(10 AS DOUBLE), 6) AS recall
         |FROM ext LEFT JOIN bt ON ext.qid = bt.qid AND ext.id = bt.id
         |GROUP BY 1 ORDER BY query_id""".stripMargin),

    // beam-search recall audit: the same unrolled visited set vs exact
    // brute force (the q_sim_ivf_recall comparison shape)
    "q_sim_hnsw_recall" ->
      (s"""WITH ${hnswVisitedCtes(hops = 6, beam = 8, graphK = 8, nProbe = 4)}
         |bt AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM v6)
         |  WHERE rn <= 10),
         |ex AS (SELECT q.qid, e.vec_id AS id, round(${cosine("e.v", "q.qv")}, 6) AS cos
         |  FROM e CROSS JOIN q),
         |ext AS (SELECT qid, id FROM (SELECT qid, id,
         |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rn FROM ex)
         |  WHERE rn <= 10)
         |SELECT ext.qid AS query_id,
         |  CAST(sum(CASE WHEN bt.id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
         |  round(CAST(sum(CASE WHEN bt.id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         |        / CAST(10 AS DOUBLE), 6) AS recall
         |FROM ext LEFT JOIN bt ON ext.qid = bt.qid AND ext.id = bt.id
         |GROUP BY 1 ORDER BY query_id""".stripMargin),

    "q_set_ops_all" ->
      """WITH d AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        |SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
        |FROM d GROUP BY 1 ORDER BY o_custkey""".stripMargin,

    "q_events_window_dau" ->
      """SELECT CAST(floor(epoch(date_trunc('day', CAST(ts AS TIMESTAMP)))) AS BIGINT) AS window_start,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events WHERE user_id IS NOT NULL
        |GROUP BY 1 ORDER BY window_start""".stripMargin,

    // both inputs are FLOAT lists: DuckDB's list_dot_product would then
    // accumulate in FLOAT, while graft_cos widens per-element to double —
    // cast to DOUBLE[] so both engines run the same double accumulation
    "q_decontaminate_semantic" ->
      (s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS ev FROM embeddings WHERE label = 9),
         |c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE label <> 9),
         |m AS (SELECT c.vec_id, c.label, max(${cosine("c.embedding", "ev")}) AS mc
         |      FROM c CROSS JOIN e GROUP BY 1, 2)
         |SELECT vec_id, label, round(mc, 6) AS max_cos
         |FROM m WHERE mc >= 0.35 ORDER BY vec_id""".stripMargin),

    "q_decontaminate_semantic_lsh" ->
      (s"""WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS ev FROM embeddings WHERE label = 9),
         |eb AS (SELECT ev, (${bucketSql("ev", 6, 64)}) AS b0 FROM e),
         |ep AS (SELECT ev, unnest([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8), xor(b0, 16), xor(b0, 32)]) AS bkt FROM eb),
         |c0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings WHERE label <> 9),
         |c AS (SELECT vec_id, label, embedding, (${bucketSql("embedding", 6, 64)}) AS bkt FROM c0),
         |m AS (SELECT c.vec_id, c.label, max(${cosine("c.embedding", "ep.ev")}) AS mc
         |      FROM c JOIN ep ON c.bkt = ep.bkt GROUP BY 1, 2)
         |SELECT vec_id, label, round(mc, 6) AS max_cos
         |FROM m WHERE mc >= 0.35 ORDER BY vec_id""".stripMargin),

    "q_text_normalize" ->
      """SELECT doc_id, md5(nfc_normalize(text)) AS nfc_md5,
        |  length(nfc_normalize(text)) = length(text) AS same_len
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_events_repurchase" ->
      """WITH p AS (SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        |  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL),
        |g AS (SELECT sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec) AS gap FROM p)
        |SELECT CAST(count(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap, 0.5), 6) AS median_gap_sec,
        |  round(quantile_cont(gap, 0.9), 6) AS p90_gap_sec
        |FROM g WHERE gap IS NOT NULL""".stripMargin,

    "q_text_diversity" ->
      s"""WITH tok AS (SELECT source, t.t FROM documents, unnest($toks) AS t(t)),
        |st AS (SELECT source, count(*) AS n_tokens, count(DISTINCT t) AS n_types
        |  FROM tok GROUP BY source),
        |h AS (SELECT source,
        |    round(CAST(sum(c * c) AS DOUBLE) / CAST(sum(c) * sum(c) AS DOUBLE), 6) AS lang_hhi
        |  FROM (SELECT source, lang, count(*) AS c FROM documents GROUP BY 1, 2)
        |  GROUP BY source)
        |SELECT st.source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  CAST(n_types AS BIGINT) AS n_types,
        |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
        |  lang_hhi
        |FROM st JOIN h USING (source) ORDER BY source""".stripMargin,

    "q_text_topterms_by_lang" ->
      s"""WITH tf AS (SELECT lang, t.term, count(*) AS n
        |  FROM documents, unnest($toks) AS t(term)
        |  GROUP BY lang, t.term),
        |r AS (SELECT lang, term, n, row_number() OVER (
        |    PARTITION BY lang ORDER BY n DESC, term) AS rn FROM tf)
        |SELECT lang, CAST(rn AS INTEGER) AS rn, term, CAST(n AS BIGINT) AS n
        |FROM r WHERE rn <= 5 ORDER BY lang, rn""".stripMargin,

    "q_quality_null_matrix" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(count(CASE WHEN user_id IS NULL THEN 1 END) AS DOUBLE) / count(*), 6) AS null_rate_user_id,
        |  round(CAST(count(CASE WHEN value IS NULL THEN 1 END) AS DOUBLE) / count(*), 6) AS null_rate_value,
        |  round(CAST(count(CASE WHEN props IS NULL THEN 1 END) AS DOUBLE) / count(*), 6) AS null_rate_props,
        |  round(CAST(count(CASE WHEN ts IS NULL THEN 1 END) AS DOUBLE) / count(*), 6) AS null_rate_ts
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // exact two-sample KS per source vs rest: both CDFs evaluated at
    // every distinct corpus value (the sup of step functions is attained
    // at a jump point); pure count-ratio arithmetic
    "q_quality_ksdrift" ->
      """WITH base AS (SELECT source AS k, CAST(n_chars AS DOUBLE) AS v
        |  FROM documents WHERE n_chars IS NOT NULL AND source IS NOT NULL),
        |perkv AS (SELECT k, v, count(*) AS c FROM base GROUP BY k, v),
        |keys AS (SELECT k, count(*) AS nk FROM base GROUP BY k),
        |vals AS (SELECT DISTINCT v FROM base),
        |grid AS (SELECT keys.k, keys.nk, vals.v, coalesce(perkv.c, 0) AS c
        |  FROM vals CROSS JOIN keys
        |  LEFT JOIN perkv ON perkv.k = keys.k AND perkv.v = vals.v),
        |cums AS (SELECT k, nk, v,
        |    sum(c) OVER (PARTITION BY k ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumk
        |  FROM grid),
        |both_ AS (SELECT k, nk, v, cumk,
        |    sum(cumk) OVER (PARTITION BY v) AS cumg,
        |    (SELECT count(*) FROM base) AS ng
        |  FROM cums)
        |SELECT k AS source, CAST(max(nk) AS BIGINT) AS n,
        |  round(max(abs(CAST(cumk AS DOUBLE) / CAST(nk AS DOUBLE)
        |    - CAST(cumg - cumk AS DOUBLE) / CAST(ng - nk AS DOUBLE))), 6) AS ks
        |FROM both_ WHERE ng > nk
        |GROUP BY k ORDER BY source""".stripMargin,

    // brute-force x<y<z three-way join over the (small at sf0.01) edge
    // set — orientation scheme doesn't change the count, so the
    // degree-ordered Spark plan must agree exactly
    // MI replay: same three count aggregates, same micro-cell floor at
    // 1e-9, same final division
    "q_e9_mutual_info" ->
      """WITH cells AS (SELECT l_returnflag AS x, l_linestatus AS y,
        |    CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1, 2),
        |rx AS (SELECT l_returnflag AS x, CAST(count(*) AS BIGINT) AS r FROM lineitem GROUP BY 1),
        |cy AS (SELECT l_linestatus AS y, CAST(count(*) AS BIGINT) AS k FROM lineitem GROUP BY 1),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM lineitem),
        |t AS (SELECT CAST(floor(CAST(c AS DOUBLE)
        |      * ln(CAST(c * n AS DOUBLE) / CAST(r * k AS DOUBLE)) * 1e9) AS BIGINT) AS t9, n
        |  FROM cells JOIN rx USING (x) JOIN cy USING (y) CROSS JOIN nn)
        |SELECT n, CAST(count(*) AS BIGINT) AS n_cells,
        |  round(CAST(sum(t9) AS DOUBLE) / 1e9 / n, 6) + 0.0 AS mi_nats
        |FROM t GROUP BY n""".stripMargin,

    // clustering-coefficient replay: brute triangle enumeration on the
    // bounded co-purchase graph, per-node fan-out, same coeff DAG
    "q_graph_clustering" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS x, b.pk AS y
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT v AS id, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT x AS v FROM e UNION ALL SELECT y FROM e) GROUP BY 1),
        |tri AS (SELECT e1.x AS a, e1.y AS b, e2.y AS c
        |  FROM e e1 JOIN e e2 ON e1.y = e2.x JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |tpn AS (SELECT v AS id, CAST(count(*) AS BIGINT) AS t FROM (
        |  SELECT a AS v FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |  GROUP BY 1)
        |SELECT deg.id, degree, CAST(coalesce(t, 0) AS BIGINT) AS triangles,
        |  CASE WHEN degree >= 2 THEN
        |    round(CAST(2 AS DOUBLE) * CAST(coalesce(t, 0) AS DOUBLE)
        |      / CAST(degree * (degree - 1) AS DOUBLE), 6) END AS coeff
        |FROM deg LEFT JOIN tpn ON deg.id = tpn.id
        |ORDER BY deg.id""".stripMargin,

    "q_graph_triangles" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS x, b.pk AS y
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |tri AS (SELECT count(*) AS t
        |  FROM e e1 JOIN e e2 ON e1.y = e2.x JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
        |nn AS (SELECT count(DISTINCT v) AS n FROM (
        |  SELECT x AS v FROM e UNION ALL SELECT y FROM e)),
        |ne AS (SELECT count(*) AS m FROM e)
        |SELECT CAST(nn.n AS BIGINT) AS n_nodes, CAST(ne.m AS BIGINT) AS n_edges,
        |  CAST(tri.t AS BIGINT) AS n_triangles
        |FROM nn, ne, tri""".stripMargin,

    // degree histogram + Newman assortativity over the same co-purchase
    // edge set; power sums are exact integers, Pearson is the shared DAG
    "q_graph_degrees" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT id, count(*) AS d FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e) GROUP BY id)
        |SELECT CAST(d AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS n_nodes
        |FROM deg GROUP BY d ORDER BY degree""".stripMargin,
    "q_graph_assortativity" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |deg AS (SELECT id, count(*) AS d FROM (
        |  SELECT src AS id FROM e UNION ALL SELECT dst FROM e) GROUP BY id),
        |sym AS (SELECT src AS a, dst AS b FROM e UNION ALL SELECT dst, src FROM e),
        |xy AS (SELECT dg1.d AS x, dg2.d AS y
        |  FROM sym JOIN deg dg1 ON sym.a = dg1.id JOIN deg dg2 ON sym.b = dg2.id),
        |g AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |    CAST(sum(x) AS DOUBLE) AS sx, CAST(sum(y) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy FROM xy)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
        |  CASE WHEN sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) = 0 THEN NULL
        |       ELSE round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) + 0.0 END AS assortativity
        |FROM g""".stripMargin,

    // Markov steady state over the transition chain (see markovOracle)
    "q_events_stationary" -> markovOracle(30),

    // single-source BFS: depth-bounded recursive CTE (UNION dedup keeps
    // (id, d) rows finite), min hop distance per reached node
    "q_graph_bfs" ->
      """WITH RECURSIVE oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |sv AS (SELECT v AS s FROM (SELECT v, count(*) AS dg FROM
        |    (SELECT src AS v FROM e UNION ALL SELECT dst FROM e) GROUP BY v)
        |  ORDER BY dg DESC, v LIMIT 1),
        |walk(id, d) AS (
        |  SELECT s, CAST(0 AS BIGINT) FROM sv
        |  UNION
        |  SELECT sym.dst, w.d + 1 FROM walk w JOIN sym ON w.id = sym.src WHERE w.d < 3)
        |SELECT id, CAST(min(d) AS BIGINT) AS hops FROM walk GROUP BY id ORDER BY id""".stripMargin,

    // harmonic centrality replay: same top-8-by-(degree desc, id)
    // sources, depth-bounded multi-source recursive walk, min distance
    // per (source, node), fixed-order count_d/d harmonic fold
    "q_graph_harmonic" ->
      """WITH RECURSIVE oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS src, b.pk AS dst
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
        |sv AS (SELECT v AS s FROM (SELECT v, count(*) AS dg FROM
        |    (SELECT src AS v FROM e UNION ALL SELECT dst FROM e) GROUP BY v)
        |  ORDER BY dg DESC, v LIMIT 8),
        |walk(sid, id, d) AS (
        |  SELECT s, s, CAST(0 AS BIGINT) FROM sv
        |  UNION
        |  SELECT w.sid, sym.dst, w.d + 1 FROM walk w
        |  JOIN sym ON w.id = sym.src WHERE w.d < 3),
        |md AS (SELECT sid, id, min(d) AS d FROM walk GROUP BY sid, id),
        |c AS (SELECT sid,
        |    CAST(count_if(d = 1) AS BIGINT) AS c1,
        |    CAST(count_if(d = 2) AS BIGINT) AS c2,
        |    CAST(count_if(d = 3) AS BIGINT) AS c3
        |  FROM md WHERE d > 0 GROUP BY sid)
        |SELECT sv.s AS source_id,
        |  coalesce(c.c1 + c.c2 + c.c3, 0) AS n_reached,
        |  round(coalesce(CAST(c.c1 AS DOUBLE) / 1 + CAST(c.c2 AS DOUBLE) / 2
        |    + CAST(c.c3 AS DOUBLE) / 3, CAST(0 AS DOUBLE)), 6) + 0.0 AS harmonic
        |FROM sv LEFT JOIN c ON sv.s = c.sid ORDER BY source_id""".stripMargin,

    "q_events_twap" ->
      """WITH e AS (SELECT event_type, value,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |d AS (SELECT event_type, value,
        |    lead(sec) OVER (PARTITION BY event_type ORDER BY sec, value) - sec AS dt
        |  FROM e)
        |SELECT event_type,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,6)) * CAST(dt AS DECIMAL(12,0))) AS DOUBLE)
        |    / CAST(sum(dt) AS DOUBLE), 6) AS twap,
        |  CAST(sum(dt) AS BIGINT) AS span_sec,
        |  CAST(count(*) AS BIGINT) AS n_intervals
        |FROM d WHERE dt IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // mid-CDF rank within source -> interpolated global inverse CDF on a
    // 21-point exact-quantile grid; every formula is the same double DAG
    // as the Spark side (edges rounded to 6 on both)
    "q_harmonize_qnorm" ->
      (s"""WITH g AS (SELECT list_transform(
        |    quantile_cont(n_chars, [${(0 to 20).map(j => if (j == 0) "0.0" else if (j == 20) "1.0" else s"0.${"%02d".format(j * 5)}").mkString(", ")}]),
        |    x -> round(x, 6)) AS e FROM documents),
        |w AS (SELECT doc_id, source, n_chars,
        |    CAST(count(*) OVER (PARTITION BY source ORDER BY n_chars
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum,
        |    CAST(count(*) OVER (PARTITION BY source, n_chars) AS DOUBLE) AS c,
        |    CAST(count(*) OVER (PARTITION BY source) AS DOUBLE) AS n
        |  FROM documents WHERE n_chars IS NOT NULL),
        |p AS (SELECT doc_id, source, n_chars, (cum - c / 2) / n AS pr FROM w),
        |j AS (SELECT *, least(CAST(floor(pr * 20) AS INTEGER), 19) AS jj FROM p)
        |SELECT doc_id, source, n_chars,
        |  round(g.e[jj + 1] + (pr * 20 - jj) * (g.e[jj + 2] - g.e[jj + 1]), 6)
        |    AS n_chars_qnorm
        |FROM j, g ORDER BY doc_id""".stripMargin),

    "q_rollup_share" ->
      """WITH rev AS (SELECT r_name, n_name,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name,
        |  round(CAST(rev AS DOUBLE), 6) AS revenue,
        |  round(CAST(rev AS DOUBLE)
        |    / CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE), 6) AS share_of_region,
        |  round(CAST(sum(rev) OVER (PARTITION BY r_name) AS DOUBLE)
        |    / CAST(sum(rev) OVER () AS DOUBLE), 6) AS region_share_of_total
        |FROM rev ORDER BY r_name, n_name""".stripMargin,

    "q_events_rfm" ->
      """WITH p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events WHERE event_type = 'purchase'
        |    AND ts IS NOT NULL AND value IS NOT NULL),
        |mx AS (SELECT CAST(max(ts) AS DATE) AS mxd FROM p),
        |rfm AS (SELECT user_id,
        |    CAST(date_diff('day', CAST(max(ts) AS DATE), (SELECT mxd FROM mx)) AS DOUBLE) AS recency_days,
        |    CAST(count(*) AS DOUBLE) AS freq_d,
        |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS mon_d,
        |    sum(CAST(value AS DECIMAL(28,6))) AS mon
        |  FROM p GROUP BY user_id),
        |e AS (SELECT
        |    round(quantile_cont(recency_days, CAST(1.0 AS DOUBLE)/3), 6) AS r1,
        |    round(quantile_cont(recency_days, CAST(2.0 AS DOUBLE)/3), 6) AS r2,
        |    round(quantile_cont(freq_d, CAST(1.0 AS DOUBLE)/3), 6) AS f1,
        |    round(quantile_cont(freq_d, CAST(2.0 AS DOUBLE)/3), 6) AS f2,
        |    round(quantile_cont(mon_d, CAST(1.0 AS DOUBLE)/3), 6) AS m1,
        |    round(quantile_cont(mon_d, CAST(2.0 AS DOUBLE)/3), 6) AS m2
        |  FROM rfm),
        |b AS (SELECT user_id, mon,
        |    concat('R', CASE WHEN recency_days <= r1 THEN 0 WHEN recency_days <= r2 THEN 1 ELSE 2 END,
        |           'F', CASE WHEN freq_d <= f1 THEN 0 WHEN freq_d <= f2 THEN 1 ELSE 2 END,
        |           'M', CASE WHEN mon_d <= m1 THEN 0 WHEN mon_d <= m2 THEN 1 ELSE 2 END) AS segment
        |  FROM rfm, e)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n_users,
        |  round(CAST(sum(mon) AS DOUBLE), 6) AS total_monetary
        |FROM b GROUP BY segment ORDER BY segment""".stripMargin,

    "q_events_concurrency" ->
      """WITH pts AS (
        |  SELECT event_type, CAST(ts AS TIMESTAMP) AS t, 1 AS d
        |  FROM events WHERE ts IS NOT NULL
        |  UNION ALL
        |  SELECT event_type, CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE, -1
        |  FROM events WHERE ts IS NOT NULL),
        |r AS (SELECT event_type, sum(d) OVER (
        |    PARTITION BY event_type ORDER BY t, d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM pts)
        |SELECT event_type, CAST(max(c) AS BIGINT) AS max_concurrent
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_events_churn" ->
      """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk FROM events),
        |f AS (SELECT user_id, wk,
        |    (lead(wk) OVER (PARTITION BY user_id ORDER BY wk) IS NULL
        |     OR lead(wk) OVER (PARTITION BY user_id ORDER BY wk) <> wk + INTERVAL 7 DAY) AS churned
        |  FROM uw)
        |SELECT CAST(CAST(wk AS DATE) AS VARCHAR) AS week,
        |  CAST(count(*) AS BIGINT) AS active_users,
        |  CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT) AS churned_next_week
        |FROM f GROUP BY 1 ORDER BY week""".stripMargin,

    "q_part_hhi" ->
      """WITH rev AS (SELECT p_type, p_brand,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2))) AS DECIMAL(30,4))) AS rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |t AS (SELECT p_type, sum(rev) AS tot FROM rev GROUP BY 1)
        |SELECT rev.p_type, CAST(count(*) AS BIGINT) AS n_brands,
        |  round(sum((CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE))
        |          * (CAST(rev AS DOUBLE) / CAST(tot AS DOUBLE))), 6) AS hhi
        |FROM rev JOIN t ON rev.p_type = t.p_type
        |GROUP BY rev.p_type ORDER BY rev.p_type""".stripMargin,

    // Gini from the distinct-value CDF: tied ranks via c*(2*cum - c + 1),
    // DECIMAL-exact sums, shared double formula
    "q_stats_gini" ->
      """WITH xs AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS x
        |  FROM orders GROUP BY 1),
        |vc AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS c FROM xs GROUP BY 1),
        |cdf AS (SELECT v, c, CAST(sum(c) OVER (ORDER BY v
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM vc),
        |s AS (SELECT
        |    CAST(sum(CAST(v AS DECIMAL(28,2)) * (c * (2 * cum - c + 1))) AS DOUBLE) AS sxn,
        |    CAST(sum(CAST(v AS DECIMAL(28,2)) * c) AS DOUBLE) AS sx,
        |    CAST(sum(c) AS DOUBLE) AS n
        |  FROM cdf)
        |SELECT round(sxn / (n * sx) - (n + 1.0) / n, 6) AS gini FROM s""".stripMargin,

    // weighted lower quantiles: cumulative DECIMAL weight per distinct
    // value, threshold compare p * total in double (exact casts)
    "q_stats_weighted_quantiles" ->
      """WITH vw AS (SELECT l_returnflag, l_quantity AS v,
        |    sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS w
        |  FROM lineitem WHERE l_quantity IS NOT NULL GROUP BY 1, 2),
        |c AS (SELECT l_returnflag, v,
        |    sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM vw),
        |t AS (SELECT l_returnflag, CAST(sum(w) AS DOUBLE) AS tw FROM vw GROUP BY 1)
        |SELECT c.l_returnflag,
        |  round(min(CASE WHEN CAST(cum AS DOUBLE) >= 0.5 * tw THEN v END), 6) AS wq50,
        |  round(min(CASE WHEN CAST(cum AS DOUBLE) >= 0.9 * tw THEN v END), 6) AS wq90
        |FROM c JOIN t ON c.l_returnflag = t.l_returnflag
        |GROUP BY c.l_returnflag ORDER BY c.l_returnflag""".stripMargin,

    "q_embed_label_sim" ->
      (s"""WITH c AS (SELECT label, CAST(pos AS INTEGER) AS pos,
         |    round(avg(v), 6) AS mean_v
         |  FROM (SELECT label, generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS v
         |        FROM embeddings)
         |  GROUP BY label, pos),
         |vecs AS (SELECT label, list(mean_v ORDER BY pos) AS cv FROM c GROUP BY label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  round(${cosine("a.cv", "b.cv")}, 6) AS cos
         |FROM vecs a JOIN vecs b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin),

    "q_quality_duprate" ->
      """WITH f AS (SELECT source, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct,
        |  round(1.0 - CAST(count(DISTINCT fp) AS DOUBLE) / count(*), 6) AS dup_rate
        |FROM f GROUP BY source ORDER BY source""".stripMargin,

    "q_tpch_q12" ->
      """SELECT CASE WHEN datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) < 30 THEN 'lt30'
        |            WHEN datediff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) <= 90 THEN '30to90'
        |            ELSE 'gt90' END AS latency_bucket,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY latency_bucket""".stripMargin,

    "q_tpch_q21" ->
      """WITH po AS (SELECT l_orderkey AS ok, count(DISTINCT l_suppkey) AS n_supp,
        |    max(l_shipdate) AS maxd FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2),
        |ll AS (SELECT l.l_orderkey, l.l_suppkey FROM lineitem l
        |       JOIN po ON l.l_orderkey = po.ok AND l.l_shipdate = po.maxd),
        |ul AS (SELECT l_orderkey, count(*) AS n_last, min(l_suppkey) AS sk
        |       FROM ll GROUP BY 1 HAVING count(*) = 1)
        |SELECT s_suppkey, s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM ul JOIN supplier ON sk = s_suppkey
        |GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20""".stripMargin,

    "q_events_paths" ->
      """WITH r AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
        |      FROM r WHERE rn <= 3 GROUP BY user_id)
        |SELECT path, CAST(count(*) AS BIGINT) AS n_users
        |FROM p GROUP BY path ORDER BY path""".stripMargin,

    // Q2: the correlated scalar subquery evaluates over the SAME
    // region+part-filtered pair relation the Spark side decorrelates
    "q_tpch_q2" ->
      """WITH eps AS (
        |  SELECT l_partkey AS partkey, min(l_extendedprice) AS supplycost,
        |    s_acctbal, s_name, n_name, p_partkey, p_type
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  JOIN part ON l_partkey = p_partkey
        |  WHERE r_name = 'EUROPE' AND p_size <= 15 AND p_type = 'LARGE'
        |  GROUP BY l_partkey, l_suppkey, s_acctbal, s_name, n_name, p_partkey, p_type)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_type, supplycost
        |FROM eps e1
        |WHERE supplycost = (SELECT min(supplycost) FROM eps e2
        |                    WHERE e2.partkey = e1.partkey)
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""".stripMargin,

    // Q11: threshold from the DECIMAL-exact grand total (order-independent)
    "q_tpch_q11" ->
      """WITH v AS (
        |  SELECT l_partkey AS partkey,
        |    sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(4,2)))
        |      AS DECIMAL(30,4))) AS dv
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA' GROUP BY 1),
        |t AS (SELECT CAST(sum(dv) AS DOUBLE) * 0.001 AS thr FROM v)
        |SELECT partkey, round(CAST(dv AS DOUBLE), 6) AS value
        |FROM v, t WHERE CAST(dv AS DOUBLE) > thr
        |ORDER BY value DESC, partkey""".stripMargin,

    "q_tpch_q16" ->
      """SELECT p_brand, p_type, p_size,
        |  CAST(count(DISTINCT suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey AS partkey, l_suppkey AS suppkey
        |      FROM lineitem) ps
        |JOIN part ON partkey = p_partkey
        |WHERE p_brand <> 'Brand#1' AND p_type <> 'MEDIUM'
        |  AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
        |  AND suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    "q_tpch_q20" ->
      """SELECT s_name, s_acctbal
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'EUROPE' AND s_suppkey IN (
        |  SELECT l_suppkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |                      WHERE p_name LIKE '%red%')
        |    AND l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 30.0)
        |ORDER BY s_name""".stripMargin,

    // fixed-length sequence packing: global doc_id-ordered token stream
    // cut at 512-token boundaries, each doc exploded over the sequences
    // it touches with the doc-local slice arithmetic mirrored exactly
    "q_pack_sequences" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS w FROM documents),
         |c AS (SELECT doc_id, w,
         |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |  FROM t WHERE w > 0),
         |e AS (SELECT doc_id, w, o, o + w AS e2 FROM c),
         |x AS (SELECT doc_id, w, o, e2,
         |    unnest(generate_series(o // 512, (e2 - 1) // 512)) AS sq FROM e)
         |SELECT CAST(sq AS BIGINT) AS seq_idx, doc_id,
         |  CAST(greatest(sq * 512 - o, 0) AS BIGINT) AS tok_start,
         |  CAST(least(e2, (sq + 1) * 512) - greatest(o, sq * 512) AS BIGINT) AS tok_len
         |FROM x ORDER BY seq_idx, doc_id""".stripMargin),

    // sequence assembly fingerprint: pieces concatenated in stream order
    // per sequence; md5 of the space-joined tokens proves the exact
    // token-level assembly, not just the slice arithmetic
    "q_pack_gather" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |ww AS (SELECT doc_id, tk, CAST(len(tk) AS BIGINT) AS w FROM t),
         |c AS (SELECT doc_id, tk, w,
         |    CAST(coalesce(sum(w) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS o
         |  FROM ww WHERE w > 0),
         |e AS (SELECT doc_id, tk, w, o, o + w AS e2 FROM c),
         |x AS (SELECT doc_id, tk, o, e2,
         |    unnest(generate_series(o // 512, (e2 - 1) // 512)) AS sq FROM e),
         |sl AS (SELECT sq, o,
         |    CAST(greatest(sq * 512 - o, 0) AS BIGINT) AS ts,
         |    CAST(least(e2, (sq + 1) * 512) - greatest(o, sq * 512) AS BIGINT) AS tl,
         |    tk FROM x),
         |p AS (SELECT sq, o, tl,
         |    array_to_string(tk[CAST(ts + 1 AS INT):CAST(ts + tl AS INT)], ' ') AS piece
         |  FROM sl)
         |SELECT CAST(sq AS BIGINT) AS seq_idx,
         |  CAST(sum(tl) AS BIGINT) AS n_toks,
         |  md5(string_agg(piece, ' ' ORDER BY o)) AS tok_md5
         |FROM p GROUP BY sq ORDER BY seq_idx""".stripMargin),

    // exclusive running token sum cut into 20k-token shards
    "q_pack_token_shards" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT doc_id, n_tokens, cum_before,
         |  CAST(cum_before // 20000 AS BIGINT) AS shard_id
         |FROM c ORDER BY doc_id""".stripMargin),

    // systematic PPS draw: keep rows whose [cum, cum+w) interval crosses
    // a multiple of step = max(W div 50, 1) — pure function of the data
    "q_sample_systematic" ->
      (s"""WITH t AS (SELECT doc_id, CAST(len($toks) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t),
         |s AS (SELECT greatest(CAST(sum(n_tokens) AS BIGINT) // 50, 1) AS step FROM t)
         |SELECT doc_id, n_tokens, cum_before
         |FROM c, s
         |WHERE (cum_before + n_tokens) // step > cum_before // step
         |ORDER BY doc_id""".stripMargin),

    // sequential Poisson PPS: identical 40-bit hash + integer quotient
    "q_sample_seqpoisson" ->
      """WITH w AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CAST(round(CAST(o_totalprice AS DECIMAL(28,10)), 6) * 1000000 AS BIGINT) AS w6,
        |    CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 10)) AS BIGINT) AS u
        |  FROM orders
        |  WHERE o_totalprice IS NOT NULL AND o_totalprice > 0),
        |p AS (SELECT o_orderkey, o_totalprice, (u * 1000000) // w6 AS pri
        |      FROM w WHERE w6 > 0),
        |sel AS (SELECT o_orderkey, o_totalprice FROM p
        |        ORDER BY pri, o_orderkey LIMIT 300)
        |SELECT o_orderkey, o_totalprice FROM sel ORDER BY o_orderkey""".stripMargin,

    // per-lang TTR-ranked selection under a 30k-token exclusive budget
    "q_curate_budget" ->
      (s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
         |s AS (SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
         |  FROM t WHERE len(tk) > 0),
         |c AS (SELECT doc_id, lang, n_tokens, ttr,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY ttr DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM s)
         |SELECT lang, doc_id, n_tokens, round(ttr, 6) AS ttr, cum_before
         |FROM c WHERE cum_before < 30000 ORDER BY lang, doc_id""".stripMargin),

    // disjoint 8-token chunks; a chunk in >1 doc is boilerplate
    "q_text_boilerplate" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 8),
         |ch AS (SELECT doc_id, unnest(list_transform(
         |    generate_series(0, CAST(len(tk) // 8 AS INTEGER) - 1),
         |    i -> md5(array_to_string(tk[i*8+1 : i*8+8], ' ')))) AS ch FROM f),
         |d AS (SELECT ch, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1)
         |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
         |  round(CAST(sum(CASE WHEN d.ndocs > 1 THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS dup_frac
         |FROM ch c JOIN d USING (ch) GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin),

    // the APPLY step: same chunking, viral chunks (df > 1) removed, doc
    // reassembled from surviving chunks in order plus the unhashed tail
    "q_text_boilerplate_clean" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |b AS (SELECT doc_id, tk, CAST(len(tk) // 8 AS INTEGER) AS nc,
         |        coalesce(array_to_string(tk[CAST(len(tk) // 8 AS INTEGER)*8+1 :], ' '), '') AS tl FROM t),
         |ch0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, nc - 1),
         |          i -> struct_pack(idx := i, ct := array_to_string(tk[i*8+1 : i*8+8], ' ')))) AS u
         |        FROM b WHERE nc > 0),
         |ch AS (SELECT doc_id, u.idx AS idx, u.ct AS chtext FROM ch0),
         |d AS (SELECT md5(chtext) AS h, count(DISTINCT doc_id) AS ndocs FROM ch GROUP BY 1),
         |kept AS (SELECT c.doc_id, c.idx, c.chtext FROM ch c JOIN d ON md5(c.chtext) = d.h
         |         WHERE d.ndocs <= 1),
         |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nkept,
         |         string_agg(chtext, ' ' ORDER BY idx) AS body FROM kept GROUP BY doc_id)
         |SELECT b.doc_id, CAST(b.nc AS BIGINT) AS n_chunks,
         |  CAST(b.nc - coalesce(ka.nkept, 0) AS BIGINT) AS removed_chunks,
         |  coalesce(array_to_string(list_filter([coalesce(ka.body, ''), b.tl], x -> x <> ''), ' '), '') AS text_clean
         |FROM b LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin),

    // exact substring dedup (Lee-et-al-style): a span is duplicated iff
    // every sliding 10-token gram inside it occurs in >= 2 docs; maximal
    // spans = islands of consecutive duplicated gram start positions.
    // DuckDB groups by the gram STRING where Spark groups by xxhash64 of
    // it — same duplicated-position set, hash-free on this side
    "q_substr_spans" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 10),
         |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 10),
         |        i -> struct_pack(pos := i, gr := array_to_string(tk[i+1 : i+10], ' ')))) AS u FROM f),
         |g AS (SELECT doc_id, u.pos AS pos, u.gr AS gram FROM g0),
         |v AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |d AS (SELECT g.doc_id, g.pos FROM g JOIN v USING (gram)),
         |i AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM d)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS start_tok,
         |  CAST(max(pos) + 9 AS BIGINT) AS end_tok,
         |  CAST(max(pos) - min(pos) + 10 AS BIGINT) AS span_tokens,
         |  CAST(count(*) AS BIGINT) AS n_grams
         |FROM i GROUP BY doc_id, grp ORDER BY doc_id, start_tok""".stripMargin),

    // the APPLY step: every token covered by a duplicated span dropped,
    // doc reassembled from surviving tokens in order (island coverage
    // windows may overlap -> DISTINCT before the anti-join)
    "q_substr_clean" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 10),
         |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 10),
         |        i -> struct_pack(pos := i, gr := array_to_string(tk[i+1 : i+10], ' ')))) AS u FROM f),
         |g AS (SELECT doc_id, u.pos AS pos, u.gr AS gram FROM g0),
         |v AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
         |d AS (SELECT g.doc_id, g.pos FROM g JOIN v USING (gram)),
         |i AS (SELECT doc_id, pos, pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp FROM d),
         |sp AS (SELECT doc_id, min(pos) AS s, max(pos) + 9 AS e FROM i GROUP BY doc_id, grp),
         |cov AS (SELECT DISTINCT * FROM (SELECT doc_id, unnest(generate_series(s, e)) AS pos FROM sp)),
         |tok0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 1),
         |          j -> struct_pack(pos := j, tok := tk[j+1]))) AS u FROM t),
         |tokr AS (SELECT doc_id, u.pos AS pos, u.tok AS tok FROM tok0),
         |kept AS (SELECT k.doc_id, k.pos, k.tok FROM tokr k
         |         WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = k.doc_id AND c.pos = k.pos)),
         |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS nkept,
         |        string_agg(tok, ' ' ORDER BY pos) AS body FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
         |  CAST(len(t.tk) - coalesce(ka.nkept, 0) AS BIGINT) AS removed_tokens,
         |  coalesce(ka.body, '') AS text_clean
         |FROM t LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin),

    // content-defined chunking: identical gram-hash boundary rule,
    // running boundary count, ordered chunk fingerprints
    "q_text_cdc_chunks" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |g0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 1),
         |    j -> struct_pack(pos := j, tok := tk[j+1],
         |      gram := array_to_string(tk[greatest(j - 3, 0) + 1 : j + 1], ' ')))) AS u
         |  FROM t WHERE len(tk) >= 1),
         |g AS (SELECT doc_id, u.pos AS pos, u.tok AS tok, u.gram AS gram FROM g0),
         |b AS (SELECT doc_id, pos, tok,
         |    CASE WHEN pos >= 3
         |      AND CAST(concat('0x', substr(md5(gram), 1, 15)) AS BIGINT) % 8 = 0
         |    THEN 1 ELSE 0 END AS bnd FROM g),
         |c AS (SELECT doc_id, pos, tok,
         |    COALESCE(sum(bnd) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_idx
         |  FROM b)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(min(pos) AS BIGINT) AS start_pos,
         |  CAST(count(*) AS BIGINT) AS n_tokens,
         |  md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp
         |FROM c GROUP BY doc_id, chunk_idx
         |ORDER BY doc_id, chunk_idx""".stripMargin),

    // inverted-index postings: doc-frequency + occurrences over ALL rows,
    // posting list capped to the first 20 doc ids via the rank filter;
    // the list is serialized to a comma-joined string (driver comparison
    // handles only atomic cells)
    "q_text_inverted_index" ->
      (s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |c AS (SELECT term, doc_id, count(*) AS cnt FROM t GROUP BY 1, 2),
         |r AS (SELECT term, doc_id, cnt, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn FROM c)
         |SELECT term, CAST(count(*) AS BIGINT) AS doc_freq,
         |  CAST(sum(cnt) AS BIGINT) AS occurrences,
         |  array_to_string(list(CAST(doc_id AS VARCHAR) ORDER BY doc_id) FILTER (WHERE rn <= 20), ',') AS postings
         |FROM r GROUP BY term HAVING count(*) >= 2 ORDER BY term""".stripMargin),

    // BM25 top-k (Lucene idf variant; k1=1.2, b=0.75). Constants are
    // spelled as the SAME double expressions the Spark side folds
    // ((1.2 + 1.0), (1.0 - 0.75)) — literal 2.2 is a DIFFERENT double
    // than 1.2 + 1.0. Per-doc score folds over the term-sorted list
    "q_text_bm25" ->
      (s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents),
         |l AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM d0),
         |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM l),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(list_filter(tk, x -> x IN ('spark', 'window', 'merge'))) AS term FROM d0)
         |       GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
         |s AS (SELECT tf.doc_id, tf.term,
         |        ln(1.0 + (corp.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         |          * tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (corp.sum_dl / corp.n_docs))) AS sc
         |      FROM tf JOIN dfq USING (term) JOIN l USING (doc_id) CROSS JOIN corp),
         |a AS (SELECT doc_id, list(sc ORDER BY term) AS ll, CAST(count(*) AS BIGINT) AS matched_terms FROM s GROUP BY 1)
         |SELECT doc_id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ll), (acc, x) -> acc + x), 6) AS score,
         |  matched_terms
         |FROM a ORDER BY score DESC, doc_id LIMIT 15""".stripMargin),

    // hybrid retrieval: the SAME bm25 and cosine top-15 replays, ranked
    // by row_number with identical keys, fused as 1/(60+rank) summed in
    // list order
    "q_retrieval_hybrid" ->
      (s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents),
         |l AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM d0),
         |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM l),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(list_filter(tk, x -> x IN ('spark', 'window', 'merge'))) AS term FROM d0)
         |       GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.term,
         |        ln(1.0 + (corp.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         |          * tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (corp.sum_dl / corp.n_docs))) AS sc
         |      FROM tf JOIN dfq USING (term) JOIN l USING (doc_id) CROSS JOIN corp),
         |ag AS (SELECT doc_id, list(sc ORDER BY term) AS ll FROM sc GROUP BY 1),
         |bm0 AS (SELECT doc_id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ll), (acc, x) -> acc + x), 6) AS score
         |        FROM ag ORDER BY score DESC, doc_id LIMIT 15),
         |bm AS (SELECT doc_id AS id,
         |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |       FROM bm0),
         |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe FROM embeddings WHERE vec_id = 0),
         |sv AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings),
         |cos0 AS (SELECT id, round(${cosine("e", "qe")}, 6) AS cos
         |         FROM sv, q ORDER BY cos DESC, id LIMIT 15),
         |cr AS (SELECT id, row_number() OVER (ORDER BY cos DESC, id ASC) AS rank
         |       FROM cos0),
         |u AS (SELECT 0 AS lst, id, rank FROM bm
         |      UNION ALL SELECT 1 AS lst, id, rank FROM cr),
         |a AS (SELECT id,
         |        list(CAST(1.0 AS DOUBLE) / (CAST(60.0 AS DOUBLE) + rank) ORDER BY lst) AS ll,
         |        CAST(count(*) AS BIGINT) AS n_lists
         |      FROM u GROUP BY 1)
         |SELECT id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ll), (acc, x) -> acc + x), 6) AS rrf_score,
         |  n_lists
         |FROM a ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin),

    // batched BM25 replay: the proven ranking CTEs with a qid dimension —
    // per-term df/corpus stats shared across the batch, per-(qid, doc)
    // term-sorted fold, per-qid rank window
    "q_retrieval_bm25_batch" ->
      (s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents),
         |l AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM d0),
         |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM l),
         |qt AS (SELECT * FROM (VALUES (CAST(1 AS BIGINT), 'spark'), (1, 'merge'),
         |    (2, 'window'), (2, 'shuffle'),
         |    (3, 'data'), (3, 'query'), (3, 'fast')) AS t(qid, term)),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(list_filter(tk,
         |         x -> x IN ('spark', 'merge', 'window', 'shuffle',
         |                    'data', 'query', 'fast'))) AS term FROM d0)
         |       GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT qt.qid, tf.doc_id, tf.term,
         |        ln(1.0 + (corp.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         |          * tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (corp.sum_dl / corp.n_docs))) AS sc
         |      FROM tf JOIN qt USING (term) JOIN dfq USING (term)
         |      JOIN l USING (doc_id) CROSS JOIN corp),
         |ag AS (SELECT qid, doc_id, list(sc ORDER BY term) AS ll,
         |        CAST(count(*) AS BIGINT) AS matched_terms
         |      FROM sc GROUP BY 1, 2),
         |sc2 AS (SELECT qid, doc_id,
         |        round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ll), (acc, x) -> acc + x), 6) AS score,
         |        matched_terms FROM ag),
         |r AS (SELECT qid, doc_id, score, matched_terms,
         |        row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
         |      FROM sc2)
         |SELECT qid, CAST(rank AS INTEGER) AS rank, doc_id,
         |  score + 0.0 AS score, matched_terms
         |FROM r WHERE rank <= 5 ORDER BY qid, rank""".stripMargin),

    // NDCG/MRR replay: the proven BM25 ranking CTEs, qrels from the same
    // token rule, the SAME driver-computed ⌊1e9/log2(i+1)⌋ discount
    // literals (graft.ext.Retrieval.ndcgDiscount — log never executes in
    // either engine), exact integer DCG/IDCG sums
    "q_retrieval_ndcg" -> {
      val discList = (1 to 15).map(graft.ext.Retrieval.ndcgDiscount)
        .mkString("[", ", ", "]")
      s"""WITH d0 AS (SELECT doc_id, $toks AS tk FROM documents),
         |l AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM d0),
         |corp AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS DOUBLE) AS sum_dl FROM l),
         |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
         |       FROM (SELECT doc_id, unnest(list_filter(tk, x -> x IN ('spark', 'window', 'merge'))) AS term FROM d0)
         |       GROUP BY 1, 2),
         |dfq AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.term,
         |        ln(1.0 + (corp.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
         |          * tf.tf * (1.2 + 1.0) / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * l.dl / (corp.sum_dl / corp.n_docs))) AS sc
         |      FROM tf JOIN dfq USING (term) JOIN l USING (doc_id) CROSS JOIN corp),
         |ag AS (SELECT doc_id, list(sc ORDER BY term) AS ll FROM sc GROUP BY 1),
         |bm0 AS (SELECT doc_id, round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ll), (acc, x) -> acc + x), 6) AS score
         |        FROM ag ORDER BY score DESC, doc_id LIMIT 15),
         |bm AS (SELECT doc_id,
         |         row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rank
         |       FROM bm0),
         |rels AS (SELECT doc_id, rel FROM (SELECT doc_id,
         |    CASE WHEN doc_id % 17 = 0 THEN CAST(2 AS BIGINT)
         |      WHEN doc_id % 5 = 0 THEN CAST(1 AS BIGINT)
         |      ELSE CAST(0 AS BIGINT) END AS rel FROM d0) WHERE rel > 0),
         |jo AS (SELECT bm.rank, coalesce(rels.rel, 0) AS rel
         |  FROM bm LEFT JOIN rels ON rels.doc_id = bm.doc_id),
         |ideal AS (SELECT rel, row_number() OVER (ORDER BY rel DESC, doc_id ASC) AS rank FROM rels),
         |mets AS (SELECT 5 AS k UNION ALL SELECT 10 UNION ALL SELECT 15),
         |dc AS (SELECT m.k,
         |    coalesce(sum(CASE WHEN jo.rank <= m.k
         |      THEN ((CAST(1 AS BIGINT) << rel) - 1) * list_extract($discList, jo.rank) END), 0) AS dcg9,
         |    CAST(coalesce(sum(CASE WHEN jo.rank <= m.k AND rel > 0 THEN 1 END), 0) AS BIGINT) AS n_rel_topk,
         |    min(CASE WHEN jo.rank <= m.k AND rel > 0 THEN jo.rank END) AS first
         |  FROM mets m CROSS JOIN jo GROUP BY 1),
         |ic AS (SELECT m.k,
         |    coalesce(sum(CASE WHEN ideal.rank <= m.k
         |      THEN ((CAST(1 AS BIGINT) << rel) - 1) * list_extract($discList, ideal.rank) END), 0) AS idcg9
         |  FROM mets m CROSS JOIN ideal GROUP BY 1)
         |SELECT dc.k, dc.n_rel_topk,
         |  round(CAST(dcg9 AS DOUBLE) / 1e9, 6) + 0.0 AS dcg,
         |  round(CAST(idcg9 AS DOUBLE) / 1e9, 6) + 0.0 AS idcg,
         |  round(CASE WHEN idcg9 > 0 THEN CAST(dcg9 AS DOUBLE) / CAST(idcg9 AS DOUBLE) END, 6) + 0.0 AS ndcg,
         |  round(CASE WHEN first IS NOT NULL THEN CAST(1.0 AS DOUBLE) / first END, 6) + 0.0 AS mrr
         |FROM dc JOIN ic USING (k) ORDER BY k""".stripMargin
    },

    // ORC round trip: the Spark side writes nation to ORC and reads it
    // back; the oracle is the table itself
    // Avro round trip: the oracle is the table itself
    "q_s9_avro_read" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // DSv2 split-read round trip: the oracle is the source table — the
    // sync-marker split protocol must neither drop nor duplicate rows
    "q_s11_avro_dsv2" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // DSv2 Avro streaming tail: two container files drained through the
    // watermark offset protocol must reassemble the table exactly
    "q_s14_avro_stream" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // seen-files-log streaming tail: a LATE container (name below the
    // processed watermark) written between two drains of one checkpoint
    // must still land exactly once — the oracle is the WHOLE table, so
    // a tail that ignores the late file (the watermark protocol) or
    // double-admits it hash-mismatches
    "q_s15_avro_seenlog" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // DSv2 Avro filter pushdown: same container round trip, filtered —
    // the oracle sees the table, so a scan that wrongly skips (or keeps)
    // a record under the pushed predicate hash-mismatches
    "q_s11_avro_pushdown" ->
      ("SELECT * FROM nation WHERE n_regionkey >= 1 AND n_regionkey <= 3 " +
        "AND n_name <> 'CHINA' ORDER BY n_nationkey"),

    // parallel Avro sink round trip: one container per partition, read
    // through the split scan — the oracle is the table itself
    "q_s12_avro_sink" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // DSv2 streaming sink: avro tail -> exactly-once avro append; the
    // oracle is the source table, so a dropped or duplicated epoch
    // hash-mismatches
    "q_s25_avro_stream_sink" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // zone-map file skipping: range-banded sink files, pushed range
    // filter — the oracle is the filtered table, so a wrongly-skipped
    // band loses rows and hash-mismatches
    "q_s13_avro_skipping" ->
      ("SELECT * FROM nation WHERE n_nationkey >= 5 AND n_nationkey <= 11 " +
        "ORDER BY n_nationkey"),

    // metadata-only aggregate pushdown: the engine answers from the
    // sidecars alone; the oracle aggregates the SOURCE table, so any
    // drift between accumulated stats and the true data hash-mismatches
    "q_s16_avro_agg" ->
      ("SELECT count(*) AS n_rows, count(s_acctbal) AS n_bal, " +
        "min(s_suppkey) AS min_key, max(s_suppkey) AS max_key, " +
        "min(s_nationkey) AS min_nat, max(s_nationkey) AS max_nat, " +
        "min(s_acctbal) AS min_bal, max(s_acctbal) AS max_bal, " +
        "min(s_name) AS min_name, max(s_name) AS max_name FROM supplier"),

    // bloom-sidecar point-lookup skipping: the oracle is the filtered
    // table — a bloom that wrongly proves a value absent loses the row
    "q_s17_avro_bloom" ->
      "SELECT * FROM nation WHERE n_name = 'CHINA' ORDER BY n_nationkey",

    // hive-style partitioned layout: partition column stored in the
    // path, restored typed on read; directory pruning must be exact —
    // a wrongly-pruned lang directory loses rows and hash-mismatches
    "q_s18_avro_partition" ->
      ("SELECT doc_id, lang, n_chars FROM documents WHERE lang = 'en' " +
        "ORDER BY doc_id"),

    // stats-driven auto-broadcast join: the avro dimension round-trips
    // through the sink, so the oracle is the same join over the tables —
    // a stats bug that changed the JOIN RESULT would hash-mismatch
    "q_s20_avro_stats_join" ->
      """SELECT s_name, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name ORDER BY s_name""".stripMargin,

    // grouped aggregate pushdown over the partitioned layout: the engine
    // answers GROUP BY lang from sidecars + directory names; the oracle
    // aggregates the source table, so any stats/grouping drift
    // hash-mismatches
    "q_s19_avro_group_agg" ->
      """SELECT lang, count(*) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // schema-evolution read: batch 1 wrote (doc_id, lang), batch 2
    // appended n_chars; the merged read must null-fill n_chars for
    // batch-1 rows exactly
    "q_s23_avro_merge_schema" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 2 = 1 THEN n_chars ELSE NULL END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    // partition-predicate delete: the engine unlinks whole lang=de
    // files/directories; the oracle aggregates the rows a correct
    // delete leaves behind (null langs survive — DELETE removes only
    // definitely-TRUE rows), so any over- or under-deletion
    // hash-mismatches
    "q_s24_avro_delete" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE lang IS NULL OR lang <> 'de'
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // row-level copy-on-write delete: the engine rewrites only the
    // may-match containers and drops exactly the definitely-TRUE rows;
    // the oracle aggregates the survivors of the same predicate
    // ((p) IS NOT TRUE = SQL DELETE null semantics), so an over- or
    // under-deletion — or a stale sidecar answering the post-delete
    // aggregate — hash-mismatches
    "q_s29_avro_row_delete" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE (n_chars < 200 OR lang = 'de') IS NOT TRUE
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // SQL catalog round trip: CREATE/INSERT/DELETE/SELECT through the
    // graft TableCatalog; the DELETE mixes partition-grain and
    // row-grain (COW) tiers. The oracle aggregates the survivors, so a
    // mis-resolved table, a lost INSERT row, or an over/under-delete
    // hash-mismatches
    "q_sql_avro_catalog" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE (lang = 'de' OR n_chars < 100) IS NOT TRUE
        |GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // row-level copy-on-write update: the engine applied literal
    // assignments to exactly the definitely-TRUE rows; the oracle
    // replays the CASE rewrite over the source table, so an over- or
    // under-update — or a stale sidecar answering the post-update
    // aggregate — hash-mismatches
    "q_s31_avro_row_update" ->
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN lang = 'de' AND n_chars >= 300
        |      THEN 'redacted' ELSE lang END AS lang,
        |    CASE WHEN lang = 'de' AND n_chars >= 300
        |      THEN NULL ELSE n_chars END AS n_chars
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM u GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // sorted SPJ join (r19): the engine merge-joins the co-partitioned
    // avro tables with zero exchanges and zero sorts (scan-reported
    // ordering); the oracle replays the join over the source table, so
    // a mis-zipped group or a wrongly-elided sort hash-mismatches
    "q_s34_avro_sorted_join" ->
      """WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS lang_chars
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, d.doc_id, d.n_chars, st.lang_docs, st.lang_chars
        |FROM documents d JOIN st ON d.lang = st.lang
        |ORDER BY d.lang NULLS FIRST, d.doc_id""".stripMargin,

    // versioned snapshot reads (r19): v1 = the full table at enable
    // time, v2 = after the COW delete; the oracle reconstructs both
    // aggregates from the source, so a torn snapshot, a lost retained
    // file, or a wrong manifest swap hash-mismatches
    "q_s32_avro_snapshot" ->
      """SELECT 1 AS version, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents
        |UNION ALL
        |SELECT 2 AS version, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE (n_chars < 200) IS NOT TRUE
        |ORDER BY version""".stripMargin,

    // versioned change feed (r19): the SIGNED per-lang deltas of the
    // feed equal the snapshot delta v3 - v1 regardless of file layout
    // (a COW-rewritten container's untouched rows cancel additively)
    "q_s33_avro_changes" ->
      """WITH v1 AS (SELECT lang, n_chars, doc_id FROM documents
        |    WHERE doc_id % 2 = 0),
        |  v3 AS (SELECT lang, n_chars, doc_id FROM documents
        |    WHERE (n_chars < 150) IS NOT TRUE),
        |  d AS (
        |    SELECT lang, CAST(1 AS BIGINT) AS sgn,
        |      COALESCE(n_chars, 0) AS nc, doc_id FROM v3
        |    UNION ALL
        |    SELECT lang, CAST(-1 AS BIGINT), COALESCE(n_chars, 0), doc_id
        |    FROM v1)
        |SELECT lang, CAST(sum(sgn) AS BIGINT) AS d_docs,
        |  CAST(sum(sgn * nc) AS BIGINT) AS d_chars,
        |  CAST(sum(sgn * doc_id) AS BIGINT) AS d_ids
        |FROM d GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // SQL UPDATE (row-level COW, r19): expression assignments including
    // a partition-column rewrite; the oracle replays the CASE rewrite
    // over the source table — an over-/under-update, a lost row, or a
    // mis-routed partition move hash-mismatches. NULL semantics match
    // by construction: UPDATE touches definitely-TRUE rows only; CASE
    // WHEN treats UNKNOWN as not-matched the same way
    "q_sql_avro_update" ->
      """WITH u AS (SELECT doc_id,
        |    CASE WHEN n_chars >= 400 THEN n_chars * 2 + doc_id
        |      ELSE n_chars END AS n_chars,
        |    CASE WHEN n_chars >= 400 THEN lang || '_u'
        |      ELSE lang END AS lang
        |  FROM documents)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM u GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // SQL MERGE INTO (row-level COW, r19): matched-update + unmatched-
    // insert replayed as left-join + anti-join union; doc_id is unique
    // so the merge is cardinality-safe on both engines
    "q_sql_avro_merge" ->
      """WITH t AS (SELECT doc_id, n_chars FROM documents
        |    WHERE lang = 'en'),
        |  s AS (SELECT doc_id, n_chars + 5 AS nc FROM documents
        |    WHERE doc_id % 3 = 0),
        |  merged AS (
        |    SELECT t.doc_id,
        |      CASE WHEN s.doc_id IS NOT NULL THEN s.nc
        |        ELSE t.n_chars END AS n_chars
        |    FROM t LEFT JOIN s ON t.doc_id = s.doc_id
        |    UNION ALL
        |    SELECT s.doc_id, s.nc FROM s
        |    WHERE NOT EXISTS (SELECT 1 FROM t WHERE t.doc_id = s.doc_id))
        |SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM merged""".stripMargin,

    // clustered write: graft.sortby/range lay the table out range-
    // disjoint; the probe reads one file's few blocks. The oracle is the
    // filtered source table, so a layout that loses or duplicates rows
    // (a bad range boundary, a dropped shuffle row) hash-mismatches
    "q_s30_avro_clustered_write" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey >= 400 AND o_orderkey <= 800 " +
        "ORDER BY o_orderkey"),

    // storage-partitioned join: the engine joins the two partitioned
    // avro tables group-by-group with zero exchanges; the oracle
    // replays the same join over the source table, so a mis-zipped or
    // dropped partition group hash-mismatches
    "q_s21_avro_spj" ->
      """WITH st AS (SELECT lang, CAST(count(*) AS BIGINT) AS lang_docs,
        |    max(n_chars) AS lang_max_chars
        |  FROM documents GROUP BY lang)
        |SELECT d.lang, d.doc_id, d.n_chars, st.lang_docs
        |FROM documents d JOIN st ON d.lang = st.lang
        |WHERE d.n_chars >= st.lang_max_chars
        |ORDER BY d.lang, d.doc_id""".stripMargin,

    // prefix zone-map skipping: files/blocks outside [p, succ(p)) are
    // skipped; the oracle is the LIKE-filtered table, so a
    // wrongly-skipped range loses rows and hash-mismatches
    "q_s28_avro_prefix_skip" ->
      ("SELECT s_suppkey, s_name, s_nationkey FROM supplier " +
        "WHERE s_name LIKE 'Supplier#00000000%' ORDER BY s_suppkey"),

    // intra-file block zone-map skipping: the engine plans split ranges
    // over only the blocks whose recorded min/max can satisfy the
    // range; the oracle is the filtered table, so a wrongly-skipped
    // block loses rows and hash-mismatches
    "q_s27_avro_block_skip" ->
      ("SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
        "WHERE o_orderkey >= 400 AND o_orderkey <= 800 " +
        "ORDER BY o_orderkey"),

    // shuffle-free grouped aggregation over the spj layout: the engine
    // aggregates inside per-directory groups with zero exchanges; the
    // oracle replays the aggregates over the source table, so a
    // mis-grouped directory hash-mismatches
    "q_s26_avro_spj_agg" ->
      """SELECT lang, CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // SUM/AVG metadata pushdown: the engine answers grouped sums from
    // exact sidecar longs (avg via Spark's sum/count rewrite); the
    // oracle aggregates the source table, so any drift hash-mismatches.
    // avg_chars: the same exact-long division DAG on both sides
    "q_s22_avro_sum_agg" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  max(n_chars) AS max_chars,
        |  round(CAST(sum(n_chars) AS DOUBLE) / count(*), 6) + 0.0 AS avg_chars
        |FROM documents GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin,

    // trigram fuzzy-join replay: same lowercased distinct values, same
    // 3-gram blocking with the df-cap exclusion, DuckDB's own
    // jaro_winkler_similarity (fuzz-pinned bit-exact to graft_jw) as the
    // verifier
    // bounded edit-distance join: the oracle is the BRUTE-FORCE all-pairs
    // ground truth over the distinct (bounded) name set — DuckDB's own
    // levenshtein as the independent verifier — so the engine's
    // deletion-neighborhood blocking is recall-gated, not replayed
    "q_link_editdist" ->
      """WITH w AS (SELECT DISTINCT lower(s_name) AS w FROM supplier
        |  WHERE s_name IS NOT NULL AND length(s_name) >= 2),
        |p AS (SELECT a.w AS w_a, b.w AS w_b, levenshtein(a.w, b.w) AS dist
        |  FROM w a JOIN w b ON a.w < b.w)
        |SELECT w_a, w_b, CAST(dist AS INTEGER) AS dist
        |FROM p WHERE dist <= 1 ORDER BY w_a, w_b""".stripMargin,

    "q_link_fuzzy_trigram" ->
      """WITH l0 AS (SELECT DISTINCT lower(substr(md5(text), 1, 12)) AS l_val
        |  FROM documents),
        |r0 AS (SELECT DISTINCT lower(substr(md5(text), 1, 10)
        |    || substr(md5(text), 12, 1) || substr(md5(text), 11, 1)) AS r_val
        |  FROM documents WHERE doc_id % 5 = 0),
        |lg AS (SELECT DISTINCT l_val, g FROM (SELECT l_val,
        |    unnest(CASE WHEN len(l_val) >= 3
        |      THEN list_distinct(list_transform(
        |        generate_series(1, len(l_val) - 2), i -> substr(l_val, i, 3)))
        |      ELSE [l_val] END) AS g FROM l0)),
        |rg AS (SELECT DISTINCT r_val, g FROM (SELECT r_val,
        |    unnest(CASE WHEN len(r_val) >= 3
        |      THEN list_distinct(list_transform(
        |        generate_series(1, len(r_val) - 2), i -> substr(r_val, i, 3)))
        |      ELSE [r_val] END) AS g FROM r0)),
        |hot AS (SELECT g FROM (SELECT g, count(*) AS df FROM (
        |      SELECT l_val AS v, g FROM lg UNION ALL SELECT r_val, g FROM rg)
        |    GROUP BY 1) WHERE df > 100),
        |cand AS (SELECT DISTINCT l_val, r_val
        |  FROM (SELECT * FROM lg WHERE g NOT IN (SELECT g FROM hot)) a
        |  JOIN (SELECT * FROM rg WHERE g NOT IN (SELECT g FROM hot)) b
        |  USING (g))
        |SELECT l_val, r_val,
        |  round(jaro_winkler_similarity(l_val, r_val), 6) + 0.0 AS jw
        |FROM cand WHERE jaro_winkler_similarity(l_val, r_val) >= 0.9
        |ORDER BY l_val, r_val""".stripMargin,

    // compaction execution: the engine rewrote 8 containers into one;
    // the oracle is the source table itself — any row the rewrite
    // dropped, duplicated, or corrupted hash-mismatches
    "q_layout_compact_exec" ->
      ("SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id"),

    // zone-map audit replay: same zone assignments (modulo / equal-width
    // over the broadcast min-max grid), same parquet min/max prune rule
    "q_layout_zonemap" ->
      """WITH ev AS (SELECT event_id,
        |    CAST(value AS DOUBLE) AS v FROM events WHERE value IS NOT NULL),
        |mm AS (SELECT min(v) AS vmin, max(v) AS vmax FROM ev),
        |hz AS (SELECT event_id % 32 AS zone, v FROM ev),
        |rz AS (SELECT CAST(least(floor((v - vmin)
        |      / ((vmax - vmin) / CAST(32 AS DOUBLE))), CAST(31 AS DOUBLE))
        |    AS BIGINT) AS zone, v
        |  FROM ev CROSS JOIN mm),
        |audit AS (
        |  SELECT 'hash' AS layout, zone, min(v) AS zmin, max(v) AS zmax,
        |      CAST(count(*) AS BIGINT) AS n FROM hz GROUP BY 2
        |  UNION ALL
        |  SELECT 'range_cluster', zone, min(v), max(v),
        |      CAST(count(*) AS BIGINT) FROM rz GROUP BY 2)
        |SELECT layout, CAST(count(*) AS BIGINT) AS zones_total,
        |  CAST(sum(CASE WHEN zmax < 30.0 OR zmin > 60.0 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS zones_pruned,
        |  CAST(sum(n) AS BIGINT) AS rows_total,
        |  CAST(sum(CASE WHEN zmax < 30.0 OR zmin > 60.0 THEN n ELSE 0 END)
        |    AS BIGINT) AS rows_skipped,
        |  round(CAST(sum(CASE WHEN zmax < 30.0 OR zmin > 60.0 THEN n ELSE 0 END)
        |      AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) + 0.0 AS skip_rate
        |FROM audit GROUP BY 1 ORDER BY layout""".stripMargin,

    // time-travel replay: same CDC log, per-key latest-version-wins via
    // row_number (the window replay of the engine's struct-max), base
    // keys via NOT EXISTS on the version-filtered log
    "q_merge_timetravel" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |lg AS (
        |  SELECT k, CAST(1 AS BIGINT) AS v, 'u' AS op,
        |      CAST(price + CAST(10.00 AS DECIMAL(4,2)) AS DECIMAL(18,2)) AS price
        |    FROM o WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT k, 2, 'd', NULL FROM o WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, 3, 'u',
        |      CAST(price + CAST(1.00 AS DECIMAL(3,2)) AS DECIMAL(18,2))
        |    FROM o WHERE k % 3 = 0),
        |s2 AS (
        |  SELECT 2 AS snap_version, k, price FROM (
        |    SELECT k, op, price,
        |        row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |      FROM lg WHERE v <= 2) w WHERE rn = 1 AND op = 'u'
        |  UNION ALL
        |  SELECT 2, k, price FROM o
        |    WHERE NOT EXISTS (SELECT 1 FROM lg WHERE lg.k = o.k AND lg.v <= 2)),
        |s3 AS (
        |  SELECT 3 AS snap_version, k, price FROM (
        |    SELECT k, op, price,
        |        row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |      FROM lg WHERE v <= 3) w WHERE rn = 1 AND op = 'u'
        |  UNION ALL
        |  SELECT 3, k, price FROM o
        |    WHERE NOT EXISTS (SELECT 1 FROM lg WHERE lg.k = o.k AND lg.v <= 3))
        |SELECT CAST(snap_version AS BIGINT) AS snap_version, k AS o_orderkey,
        |  CAST(price AS DOUBLE) + 0.0 AS price
        |FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |WHERE k % 50 = 0
        |ORDER BY snap_version, o_orderkey""".stripMargin,

    // log compaction (multi-boundary, r16): the oracle replays AS-OF-2
    // and AS-OF-3 from the ORIGINAL base + FULL log (the same lg/s2/s3
    // DAG as q_merge_timetravel) — the engine answers BOTH from the
    // boundary-{1,2}-compacted pair, so any history the band winners or
    // the tail lose or duplicate at a retained boundary hash-mismatches
    "q_merge_log_compact" ->
      """WITH o AS (SELECT o_orderkey AS k,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS price FROM orders),
        |lg AS (
        |  SELECT k, CAST(1 AS BIGINT) AS v, 'u' AS op,
        |      CAST(price + CAST(10.00 AS DECIMAL(4,2)) AS DECIMAL(18,2)) AS price
        |    FROM o WHERE k % 5 = 0
        |  UNION ALL
        |  SELECT k, 2, 'd', NULL FROM o WHERE k % 7 = 0
        |  UNION ALL
        |  SELECT k, 3, 'u',
        |      CAST(price + CAST(1.00 AS DECIMAL(3,2)) AS DECIMAL(18,2))
        |    FROM o WHERE k % 3 = 0),
        |s2 AS (
        |  SELECT 2 AS snap_version, k, price FROM (
        |    SELECT k, op, price,
        |        row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |      FROM lg WHERE v <= 2) w WHERE rn = 1 AND op = 'u'
        |  UNION ALL
        |  SELECT 2, k, price FROM o
        |    WHERE NOT EXISTS (SELECT 1 FROM lg WHERE lg.k = o.k AND lg.v <= 2)),
        |s3 AS (
        |  SELECT 3 AS snap_version, k, price FROM (
        |    SELECT k, op, price,
        |        row_number() OVER (PARTITION BY k ORDER BY v DESC) AS rn
        |      FROM lg WHERE v <= 3) w WHERE rn = 1 AND op = 'u'
        |  UNION ALL
        |  SELECT 3, k, price FROM o
        |    WHERE NOT EXISTS (SELECT 1 FROM lg WHERE lg.k = o.k AND lg.v <= 3))
        |SELECT CAST(snap_version AS BIGINT) AS snap_version, k AS o_orderkey,
        |  CAST(price AS DOUBLE) + 0.0 AS price
        |FROM (SELECT * FROM s2 UNION ALL SELECT * FROM s3)
        |WHERE k % 50 = 0
        |ORDER BY snap_version, o_orderkey""".stripMargin,

    // fixed-width round trip: the oracle is the source table — the
    // padded serialize + substring parse must be lossless
    "q_s8_fixedwidth" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_s4_orc_read" ->
      "SELECT * FROM nation ORDER BY n_nationkey",

    // XML round trip: inference types integers as LONG; the query casts
    // back to the source's INT so the oracle is simply the source table
    "q_s10_xml_read" ->
      """SELECT n_nationkey, n_name, n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // robust CSV: the two injected malformed lines quarantine with
    // Spark's partial-parse semantics (parseable fields kept, corrupt_raw
    // carries the raw line)
    "q_s1_csv_corrupt" ->
      """SELECT * FROM (
        |  SELECT r_regionkey, r_name, FALSE AS is_corrupt, CAST(NULL AS VARCHAR) AS corrupt_raw FROM region
        |  UNION ALL SELECT 7, 'EXTRA', TRUE, '7,EXTRA,COLUMNS,HERE'
        |  UNION ALL SELECT NULL, 'MALFORMED', TRUE, 'notanumber,MALFORMED')
        |ORDER BY coalesce(r_regionkey, 9999), corrupt_raw NULLS FIRST""".stripMargin,

    // parquet schema evolution: rows < 13 predate the n_name_len column
    // and surface it as null under the merged schema
    "q_s4_merge_schema" ->
      """SELECT n_nationkey, n_name, n_regionkey,
        |  CASE WHEN n_nationkey >= 13 THEN CAST(length(n_name) AS INTEGER) END AS n_name_len
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    // OHLC candles per (event_type, day): open/close by (ts, event_id)
    // rank, high/low plain extremes
    "q_resample_ohlc" ->
      """WITH e AS (SELECT event_type, date_trunc('day', ts) AS day, value, ts, event_id FROM events WHERE value IS NOT NULL),
        |w AS (SELECT *,
        |    row_number() OVER (PARTITION BY event_type, day ORDER BY ts, event_id) AS ra,
        |    row_number() OVER (PARTITION BY event_type, day ORDER BY ts DESC, event_id DESC) AS rd FROM e)
        |SELECT event_type, day,
        |  round(max(CASE WHEN ra = 1 THEN value END), 6) AS open,
        |  round(max(value), 6) AS high,
        |  round(min(value), 6) AS low,
        |  round(max(CASE WHEN rd = 1 THEN value END), 6) AS close,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM w GROUP BY event_type, day
        |ORDER BY event_type, day""".stripMargin,

    // dimensionality reduction: generated oracles (see jlOracle /
    // pcaCovOracle / pcaPowerOracle above) replaying the identical sign
    // literals / fixed-point sums / unrolled power-iteration DAG
    "q_sim_rproject" -> jlOracle(64, 16),
    "q_sim_rproject_topk" -> jlTopkOracle(64, 16, 10),
    "q_pca_cov" -> pcaCovOracle(16),
    "q_pca_power" -> pcaPowerOracle(16, 30),
    "q_pca_project" -> pcaProjectOracle(16, 30),

    // BPE merge learning: 8 unrolled trainer rounds (see bpeOracle)
    "q_text_bpe_learn" -> bpeOracle(8),
    "q_text_bpe_segment" -> bpeSegmentOracle(8),
    "q_text_viterbi_segment" ->
      viterbiSegmentOracle(maxPieceLen = 4, topV = 200, maxWordLen = 16,
        minCount = 5L, big = 1000000000000L),

    // RAKE keywords: stopword-run segmentation via cumulative window,
    // degree/freq word scores, per-instance ordered score fold
    "q_text_rake" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |tok0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 1),
         |         j -> struct_pack(pos := j, word := tk[j+1]))) AS u FROM t),
         |tokr AS (SELECT doc_id, u.pos AS pos, u.word AS word,
         |         u.word IN (${TextAnalysis.stopwordsEn.map(s => s"'$s'").mkString(", ")}) AS st FROM tok0),
         |g AS (SELECT *, sum(CASE WHEN st THEN 1 ELSE 0 END)
         |        OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS grp FROM tokr),
         |ph AS (SELECT doc_id, grp, list(word ORDER BY pos) AS terms
         |       FROM g WHERE NOT st GROUP BY doc_id, grp),
         |ws AS (SELECT word, CAST(sum(L) AS BIGINT) AS degree, CAST(count(*) AS BIGINT) AS freq
         |       FROM (SELECT unnest(terms) AS word, len(terms) AS L FROM ph) GROUP BY word),
         |ex AS (SELECT doc_id, grp, array_to_string(terms, ' ') AS phrase,
         |         CAST(len(terms) AS BIGINT) AS n_words, u.p AS p, u.w AS w
         |       FROM (SELECT doc_id, grp, terms,
         |               unnest(list_transform(generate_series(1, len(terms)),
         |                 i -> struct_pack(p := i, w := terms[i]))) AS u FROM ph) q),
         |sc AS (SELECT e.doc_id, e.grp, e.phrase, e.n_words,
         |         list(CAST(ws.degree AS DOUBLE) / ws.freq ORDER BY e.p) AS ss
         |       FROM ex e JOIN ws ON e.w = ws.word GROUP BY 1, 2, 3, 4),
         |fi AS (SELECT phrase, CAST(max(n_words) AS BIGINT) AS n_words,
         |         CAST(count(*) AS BIGINT) AS occurrences,
         |         round(max(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ss), (a, x) -> a + x)), 6) AS score
         |       FROM sc GROUP BY phrase)
         |SELECT phrase, n_words, occurrences, score FROM fi
         |ORDER BY score DESC, phrase LIMIT 15""".stripMargin),

    // S-stemmer over the suffix-augmented corpus: the same ordered CASE
    // with length-guarded suffix slices (neither engine evaluates substr
    // at pos <= 0)
    "q_text_stemmed_stats" -> {
      def tl(k: Int) =
        s"CASE WHEN length(w) >= $k THEN substr(w, length(w) - ${k - 1}, $k) ELSE '' END"
      s"""WITH t0 AS (SELECT doc_id, $toks AS tk FROM documents),
         |t1 AS (SELECT doc_id, unnest(list_transform(tk,
         |    (x, i) -> x || (['', 's', 'es', 'ies'])[(i - 1) % 4 + 1])) AS w FROM t0),
         |st AS (SELECT doc_id, CASE
         |    WHEN ${tl(3)} = 'ies' THEN
         |      CASE WHEN ${tl(4)} <> 'aies' AND ${tl(4)} <> 'eies'
         |        THEN substr(w, 1, length(w) - 3) || 'y' ELSE w END
         |    WHEN ${tl(2)} = 'es' THEN
         |      CASE WHEN ${tl(3)} <> 'aes' AND ${tl(3)} <> 'ees' AND ${tl(3)} <> 'oes'
         |        THEN substr(w, 1, length(w) - 1) ELSE w END
         |    WHEN ${tl(1)} = 's' THEN
         |      CASE WHEN ${tl(2)} <> 'us' AND ${tl(2)} <> 'ss'
         |        THEN substr(w, 1, length(w) - 1) ELSE w END
         |    ELSE w END AS term FROM t1)
         |SELECT term, CAST(count(*) AS BIGINT) AS occurrences,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
         |FROM st GROUP BY term ORDER BY term""".stripMargin
    },

    // Fellegi-Sunter linkage: same perturbation/blocking, same plan-time
    // ln(m/u) literal weights (computed below by the SAME math.log calls)
    // blocking audit replay: same perturbed copy, same block join, same
    // one-row statistics and divisions
    "q_link_blocking_audit" ->
      """WITH l AS (SELECT c_custkey AS lid, c_nationkey AS lnat, c_mktsegment AS lseg FROM customer),
        |r AS (SELECT c_custkey AS rid,
        |    CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS rnat,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'PERTURBED' ELSE c_mktsegment END AS rseg
        |  FROM customer),
        |cand AS (SELECT DISTINCT lid, rid FROM l JOIN r ON lnat = rnat AND lseg = rseg),
        |t AS (SELECT DISTINCT c_custkey AS lid, c_custkey AS rid FROM customer),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_left FROM l),
        |nr AS (SELECT CAST(count(*) AS BIGINT) AS n_right FROM r),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cand FROM cand),
        |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM t),
        |nf AS (SELECT CAST(count(*) AS BIGINT) AS n_found FROM t JOIN cand USING (lid, rid))
        |SELECT n_left, n_right, n_cand, n_true, n_found,
        |  round(CAST(1 AS DOUBLE) - CAST(n_cand AS DOUBLE)
        |    / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)), 6) AS reduction_ratio,
        |  CASE WHEN n_true = 0 THEN NULL
        |    ELSE round(CAST(n_found AS DOUBLE) / CAST(n_true AS DOUBLE), 6) END AS pairs_completeness
        |FROM nl, nr, nc, nt, nf""".stripMargin,

    "q_link_fs_score" -> {
      def w(m: Double, u: Double) = (math.log(m / u), math.log((1 - m) / (1 - u)))
      val (na, nd) = w(0.95, 0.001)
      val (ta, td) = w(0.9, 0.04)
      val (sa, sd) = w(0.9, 0.2)
      s"""WITH l AS (SELECT c_custkey AS lid, c_name AS lname, c_nationkey AS lnat, c_mktsegment AS lseg FROM customer),
         |r AS (SELECT c_custkey AS rid,
         |    CASE WHEN c_custkey % 3 = 0 THEN c_name || 'x' ELSE c_name END AS rname,
         |    CASE WHEN c_custkey % 7 = 0 THEN (c_nationkey + 1) % 25 ELSE c_nationkey END AS rnat,
         |    CASE WHEN c_custkey % 5 = 0 THEN 'PERTURBED' ELSE c_mktsegment END AS rseg FROM customer),
         |p AS (SELECT * FROM l JOIN r ON lid % 100 = rid % 100),
         |sc AS (SELECT lid, rid,
         |    concat(CASE WHEN lname = rname THEN '1' ELSE '0' END,
         |           CASE WHEN lnat = rnat THEN '1' ELSE '0' END,
         |           CASE WHEN lseg = rseg THEN '1' ELSE '0' END) AS pattern,
         |    round((CASE WHEN lname = rname THEN CAST($na AS DOUBLE) ELSE CAST($nd AS DOUBLE) END
         |         + CASE WHEN lnat = rnat THEN CAST($ta AS DOUBLE) ELSE CAST($td AS DOUBLE) END)
         |         + CASE WHEN lseg = rseg THEN CAST($sa AS DOUBLE) ELSE CAST($sd AS DOUBLE) END, 6) AS score
         |  FROM p)
         |SELECT lid, rid, pattern, score FROM sc WHERE score >= 5.0 ORDER BY lid, rid""".stripMargin
    },

    // FS linkage -> connected-component entity clusters (recursive-CTE
    // transitive closure, the q_dedup_cluster idiom; same plan-time
    // literal weights as the Spark side)
    "q_link_fs_cluster" -> {
      def w(m: Double, u: Double) = (math.log(m / u), math.log((1 - m) / (1 - u)))
      val (ga, gd) = w(0.95, 0.01)
      val (ta, td) = w(0.9, 0.04)
      val (sa, sd) = w(0.9, 0.2)
      s"""WITH RECURSIVE
         |l AS (SELECT c_custkey AS lid, c_custkey // 3 AS lg, c_nationkey AS lnat, c_mktsegment AS lseg FROM customer),
         |r AS (SELECT c_custkey AS rid, c_custkey // 3 AS rg, c_nationkey AS rnat, c_mktsegment AS rseg FROM customer),
         |p AS (SELECT * FROM l JOIN r ON lid // 100 = rid // 100 AND lid < rid),
         |sc AS (SELECT lid, rid,
         |    round((CASE WHEN lg = rg THEN CAST($ga AS DOUBLE) ELSE CAST($gd AS DOUBLE) END
         |         + CASE WHEN lnat = rnat THEN CAST($ta AS DOUBLE) ELSE CAST($td AS DOUBLE) END)
         |         + CASE WHEN lseg = rseg THEN CAST($sa AS DOUBLE) ELSE CAST($sd AS DOUBLE) END, 6) AS score
         |  FROM p),
         |pairs AS (SELECT lid AS id_a, rid AS id_b FROM sc WHERE score >= 2.0),
         |edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs
         |          UNION SELECT id_b, id_a FROM pairs
         |          UNION SELECT c_custkey, c_custkey FROM customer),
         |reach(a, b) AS (SELECT a, b FROM edges
         |                UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
         |SELECT a AS id, min(b) AS cluster_id FROM reach GROUP BY a ORDER BY a""".stripMargin
    },

    // golden-record survivorship over the 3-version perturbed customer:
    // mode name / longest address / latest acctbal / min segment
    "q_link_golden" ->
      """WITH recs AS (
        |  SELECT c_custkey AS cluster_id, c_custkey*3 + v AS rec_id, v AS version,
        |    CASE WHEN v = 2 AND c_custkey % 4 = 0 THEN c_name || '_alt' ELSE c_name END AS name,
        |    CASE WHEN v = 0 AND c_custkey % 5 = 0 THEN NULL
        |         WHEN v = 1 THEN c_name || ' BLVD STE ' || CAST(c_custkey % 90 AS VARCHAR)
        |         ELSE c_name || ' BLVD' END AS address,
        |    c_acctbal + v*10 AS acctbal,
        |    c_mktsegment AS segment
        |  FROM customer, unnest(generate_series(0, 2)) AS t(v)),
        |base AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_versions,
        |                min(segment) AS segment
        |         FROM recs GROUP BY 1),
        |modec AS (SELECT cluster_id, name, count(*) AS cnt
        |          FROM recs WHERE name IS NOT NULL GROUP BY 1, 2),
        |moder AS (SELECT cluster_id, name FROM (
        |    SELECT cluster_id, name, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY cnt DESC, name) AS rn FROM modec) WHERE rn = 1),
        |lng AS (SELECT cluster_id, address FROM (
        |    SELECT cluster_id, address, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY length(address) DESC, address DESC) AS rn
        |    FROM recs WHERE address IS NOT NULL) WHERE rn = 1),
        |lat AS (SELECT cluster_id, acctbal FROM (
        |    SELECT cluster_id, acctbal, row_number() OVER (PARTITION BY cluster_id
        |      ORDER BY version DESC, rec_id DESC) AS rn
        |    FROM recs WHERE acctbal IS NOT NULL) WHERE rn = 1)
        |SELECT b.cluster_id, b.n_versions, m.name, l.address, a.acctbal, b.segment
        |FROM base b
        |LEFT JOIN moder m USING (cluster_id)
        |LEFT JOIN lng l USING (cluster_id)
        |LEFT JOIN lat a USING (cluster_id)
        |ORDER BY b.cluster_id""".stripMargin,

    // GDPR cascade blast radius: chained IN-subquery semi-joins
    "q_privacy_cascade" ->
      """WITH k0 AS (SELECT DISTINCT c_custkey AS key FROM customer WHERE c_custkey % 97 = 0),
        |a0 AS (SELECT c_custkey FROM customer WHERE c_custkey IN (SELECT key FROM k0)),
        |k1 AS (SELECT DISTINCT c_custkey AS key FROM a0),
        |a1 AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT key FROM k1)),
        |k2 AS (SELECT DISTINCT o_orderkey AS key FROM a1),
        |a2 AS (SELECT l_orderkey FROM lineitem WHERE l_orderkey IN (SELECT key FROM k2))
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS level, 'customer' AS table_name,
        |    CAST((SELECT count(*) FROM customer) AS BIGINT) AS rows_total,
        |    CAST((SELECT count(*) FROM a0) AS BIGINT) AS rows_affected,
        |    round(CAST((SELECT count(*) FROM a0) AS DOUBLE) / (SELECT count(*) FROM customer), 6) AS pct
        |  UNION ALL
        |  SELECT CAST(1 AS BIGINT), 'orders',
        |    CAST((SELECT count(*) FROM orders) AS BIGINT),
        |    CAST((SELECT count(*) FROM a1) AS BIGINT),
        |    round(CAST((SELECT count(*) FROM a1) AS DOUBLE) / (SELECT count(*) FROM orders), 6)
        |  UNION ALL
        |  SELECT CAST(2 AS BIGINT), 'lineitem',
        |    CAST((SELECT count(*) FROM lineitem) AS BIGINT),
        |    CAST((SELECT count(*) FROM a2) AS BIGINT),
        |    round(CAST((SELECT count(*) FROM a2) AS DOUBLE) / (SELECT count(*) FROM lineitem), 6)
        |) ORDER BY level""".stripMargin,

    // count-min sketch: deterministic md5-row cells + point estimates
    "q_text_cms_cells" ->
      (s"""WITH t AS (SELECT unnest($toks) AS term FROM documents),
         |$cmsCellsSql
         |SELECT r, bucket, cnt FROM cells ORDER BY r, bucket""".stripMargin),
    "q_text_cms_est" ->
      (s"""WITH t AS (SELECT unnest($toks) AS term FROM documents),
         |$cmsCellsSql,
         |e AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_count FROM t GROUP BY 1),
         |p AS (SELECT term, exact_count, r, ${cmsBucket("r")} AS bucket
         |      FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS r)),
         |j AS (SELECT term, min(exact_count) AS exact_count, min(cnt) AS estimate
         |      FROM p JOIN cells USING (r, bucket) GROUP BY term)
         |SELECT term, exact_count, estimate, estimate - exact_count AS overcount
         |FROM j ORDER BY term""".stripMargin),

    // TPUT bounded top-k replay: same md5 doc-shards, per-shard top-8,
    // silent-shard bound t_b (0 when the shard reports fewer than k)
    "q_text_heavyhitters" ->
      (s"""WITH w AS (SELECT
         |    CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) % 16 AS bucket,
         |    unnest($toks) AS word
         |  FROM documents),
         |cnt AS (SELECT bucket, word, CAST(count(*) AS BIGINT) AS c
         |        FROM w GROUP BY 1, 2),
         |rep AS (SELECT bucket, word, c FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY bucket ORDER BY c DESC, word ASC) AS rn FROM cnt)
         |  WHERE rn <= 8),
         |tb AS (SELECT bucket,
         |         CASE WHEN count(*) = 8 THEN min(c) ELSE 0 END AS t
         |       FROM rep GROUP BY 1),
         |grid AS (SELECT cand.word, tb.bucket, tb.t
         |         FROM (SELECT DISTINCT word FROM rep) cand CROSS JOIN tb),
         |agg AS (SELECT g.word,
         |          CAST(sum(coalesce(rep.c, 0)) AS BIGINT) AS lb,
         |          CAST(sum(coalesce(rep.c, g.t)) AS BIGINT) AS ub
         |        FROM grid g LEFT JOIN rep
         |          ON rep.bucket = g.bucket AND rep.word = g.word
         |        GROUP BY 1)
         |SELECT word, lb, ub, lb = ub AS is_exact FROM agg
         |ORDER BY lb DESC, word ASC LIMIT 20""".stripMargin),

    // PII redaction: patterns and replacement order come from the SAME
    // Scala constants as the Spark side (TextAnalysis.PiiPatterns);
    // counts on the original text, replacements chained with 'g'
    "q_text_pii" -> {
      val ps = graft.ext.TextAnalysis.PiiPatterns
      val countCols = ps.map { case (n, p, _) =>
        s"CAST(len(regexp_extract_all(text, '$p')) AS BIGINT) AS n_$n"
      }.mkString(",\n         |  ")
      val redacted = ps.foldLeft("text") { case (acc, (_, p, r)) =>
        s"regexp_replace($acc, '$p', '$r', 'g')"
      }
      s"""WITH e AS (SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0
         |      THEN text || ' contact user' || doc_id || '@example.com call 555-123-4567 from 10.0.0.' || (doc_id % 256)
         |      ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  $countCols,
         |  $redacted AS text_redacted
         |FROM e ORDER BY doc_id""".stripMargin
    },

    // HyperLogLog registers: bucket = h mod 64, rho = leading zeros of
    // the 54-bit suffix + 1 via LENGTH(BIN(q)) — integer-exact, engine-
    // portable (mirrors Sketches.hllRegisters)
    "q_text_hll_registers" ->
      (s"""WITH t AS (SELECT unnest($toks) AS term FROM documents),
         |h AS (SELECT CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM t),
         |r AS (SELECT h % 64 AS bucket, h // 64 AS q FROM h),
         |x AS (SELECT bucket, CASE WHEN q = 0 THEN 55 ELSE 55 - length(bin(q)) END AS rho FROM r)
         |SELECT bucket, CAST(max(rho) AS BIGINT) AS register
         |FROM x GROUP BY bucket ORDER BY bucket""".stripMargin),

    // HLL raw estimate: the harmonic sum is EXACT (sum of 2^(56-M_j)
    // longs, empty buckets contributing 2^56), then ONE IEEE division by
    // the plan-time constant alpha*m^2*2^56 — bit-identical to Spark
    "q_text_hll" ->
      (s"""WITH t AS (SELECT unnest($toks) AS term FROM documents),
         |h AS (SELECT CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM t),
         |r AS (SELECT h % 64 AS bucket, h // 64 AS q FROM h),
         |x AS (SELECT bucket, CASE WHEN q = 0 THEN 55 ELSE 55 - length(bin(q)) END AS rho FROM r),
         |reg AS (SELECT bucket, max(rho) AS register FROM x GROUP BY bucket),
         |s1 AS (SELECT CAST(sum(72057594037927936 // (1::BIGINT << CAST(register AS INTEGER))) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS nb FROM reg),
         |s2 AS (SELECT s + (64 - nb) * 72057594037927936 AS s FROM s1),
         |ex AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS n_exact FROM t)
         |SELECT 64 AS m, ex.n_exact,
         |  round($hllC / s2.s, 6) AS hll_estimate,
         |  round(abs($hllC / s2.s - ex.n_exact) / ex.n_exact, 6) AS rel_error
         |FROM s2, ex""".stripMargin),

    // per-lang HLL: the same register/harmonic DAG grouped by lang
    "q_text_hll_by_lang" ->
      (s"""WITH t AS (SELECT lang, unnest($toks) AS term FROM documents),
         |h AS (SELECT lang, CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM t),
         |r AS (SELECT lang, h % 64 AS bucket, h // 64 AS q FROM h),
         |x AS (SELECT lang, bucket, CASE WHEN q = 0 THEN 55 ELSE 55 - length(bin(q)) END AS rho FROM r),
         |reg AS (SELECT lang, bucket, max(rho) AS register FROM x GROUP BY 1, 2),
         |s1 AS (SELECT lang, CAST(sum(72057594037927936 // (1::BIGINT << CAST(register AS INTEGER))) AS BIGINT) AS s,
         |         CAST(count(*) AS BIGINT) AS nb FROM reg GROUP BY 1),
         |s2 AS (SELECT lang, s + (64 - nb) * 72057594037927936 AS s FROM s1),
         |ex AS (SELECT lang, CAST(count(DISTINCT term) AS BIGINT) AS n_exact FROM t GROUP BY 1)
         |SELECT s2.lang, ex.n_exact,
         |  round($hllC / s2.s, 6) AS hll_estimate,
         |  round(abs($hllC / s2.s - ex.n_exact) / ex.n_exact, 6) AS rel_error
         |FROM s2 JOIN ex ON s2.lang = ex.lang ORDER BY s2.lang""".stripMargin),

    // HLL set algebra: en/de register sets, union by per-bucket max,
    // intersection via the SAME double DAG C/sa + C/sb - C/su
    "q_text_hll_ops" ->
      (s"""WITH t AS (SELECT lang, unnest($toks) AS term FROM documents
         |  WHERE lang IN ('en', 'de')),
         |h AS (SELECT lang, CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) AS h FROM t),
         |r AS (SELECT lang, h % 64 AS bucket, h // 64 AS q FROM h),
         |x AS (SELECT lang, bucket, CASE WHEN q = 0 THEN 55 ELSE 55 - length(bin(q)) END AS rho FROM r),
         |reg AS (SELECT lang, bucket, max(rho) AS register FROM x GROUP BY 1, 2),
         |sa1 AS (SELECT CAST(sum(72057594037927936 // (1::BIGINT << CAST(register AS INTEGER))) AS BIGINT) AS s,
         |          CAST(count(*) AS BIGINT) AS nb FROM reg WHERE lang = 'en'),
         |sa AS (SELECT s + (64 - nb) * 72057594037927936 AS sa FROM sa1),
         |sb1 AS (SELECT CAST(sum(72057594037927936 // (1::BIGINT << CAST(register AS INTEGER))) AS BIGINT) AS s,
         |          CAST(count(*) AS BIGINT) AS nb FROM reg WHERE lang = 'de'),
         |sb AS (SELECT s + (64 - nb) * 72057594037927936 AS sb FROM sb1),
         |u AS (SELECT bucket, max(register) AS register FROM reg GROUP BY 1),
         |su1 AS (SELECT CAST(sum(72057594037927936 // (1::BIGINT << CAST(register AS INTEGER))) AS BIGINT) AS s,
         |          CAST(count(*) AS BIGINT) AS nb FROM u),
         |su AS (SELECT s + (64 - nb) * 72057594037927936 AS su FROM su1),
         |flags AS (SELECT term,
         |    max(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS ina,
         |    max(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS inb
         |  FROM (SELECT DISTINCT lang, term FROM t) GROUP BY 1),
         |ex AS (SELECT CAST(sum(ina) AS BIGINT) AS exact_a,
         |         CAST(sum(inb) AS BIGINT) AS exact_b,
         |         CAST(count(*) AS BIGINT) AS exact_union,
         |         CAST(sum(CASE WHEN ina = 1 AND inb = 1 THEN 1 ELSE 0 END) AS BIGINT)
         |           AS exact_intersect
         |       FROM flags)
         |SELECT 64 AS m, exact_a, exact_b, exact_union, exact_intersect,
         |  round($hllC / sa.sa, 6) AS est_a,
         |  round($hllC / sb.sb, 6) AS est_b,
         |  round($hllC / su.su, 6) AS est_union,
         |  round($hllC / sa.sa + $hllC / sb.sb - $hllC / su.su, 6) AS est_intersect
         |FROM sa, sb, su, ex""".stripMargin),

    // bottom-k quantile sketch: identical hash-order sample + rank pick
    "q_sketch_quantiles" ->
      """WITH s AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v, CAST(o_orderkey AS VARCHAR) AS i,
        |    CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  ORDER BY h, i LIMIT 500),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, i) AS rnk FROM s),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS sample_n FROM s),
        |t AS (SELECT sample_n, q, CAST(floor(q * (sample_n - 1)) + 1 AS INTEGER) AS target
        |      FROM n, unnest([CAST(0.1 AS DOUBLE), CAST(0.25 AS DOUBLE),
        |                      CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE),
        |                      CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS u(q))
        |SELECT t.q, r.v AS estimate, t.sample_n
        |FROM t JOIN r ON t.target = r.rnk ORDER BY t.q""".stripMargin,

    // sketch shard-merge: the engine merges four per-shard bottom-k
    // summaries; the oracle is the GLOBAL build (same DAG as
    // q_sketch_quantiles) — closure under union must hold exactly
    "q_sketch_merge_shards" ->
      """WITH s AS (
        |  SELECT CAST(o_totalprice AS DOUBLE) AS v, CAST(o_orderkey AS VARCHAR) AS i,
        |    CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  ORDER BY h, i LIMIT 500),
        |r AS (SELECT v, row_number() OVER (ORDER BY v, i) AS rnk FROM s),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS sample_n FROM s),
        |t AS (SELECT sample_n, q, CAST(floor(q * (sample_n - 1)) + 1 AS INTEGER) AS target
        |      FROM n, unnest([CAST(0.1 AS DOUBLE), CAST(0.25 AS DOUBLE),
        |                      CAST(0.5 AS DOUBLE), CAST(0.75 AS DOUBLE),
        |                      CAST(0.9 AS DOUBLE), CAST(0.99 AS DOUBLE)]) AS u(q))
        |SELECT t.q, r.v AS estimate, t.sample_n
        |FROM t JOIN r ON t.target = r.rnk ORDER BY t.q""".stripMargin,

    // greedy longest-match subword segmentation, replayed with a
    // recursive CTE over DISTINCT words (pos advances >= 1 char per step,
    // so it terminates in max-word-length iterations); per-doc piece
    // stream fingerprinted in order
    "q_text_subwords" ->
      (s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $toks AS tk FROM documents),
         |tok0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 1),
         |         j -> struct_pack(pos := j, word := tk[j+1]))) AS u FROM t),
         |tokr AS (SELECT doc_id, u.pos AS pos, u.word AS word FROM tok0),
         |w AS (SELECT DISTINCT word FROM tokr),
         |seg(word, pos, pieces) AS (
         |  SELECT word, CAST(1 AS BIGINT), CAST([] AS VARCHAR[]) FROM w
         |  UNION ALL
         |  SELECT word, pos + len(piece), list_append(pieces, piece) FROM (
         |    SELECT word, pos, pieces,
         |      coalesce((SELECT p FROM (SELECT unnest(${sqlList(graft.ext.Tokenize.DemoVocab)}) AS p)
         |                WHERE substr(word, CAST(pos AS INTEGER), len(p)) = p
         |                ORDER BY len(p) DESC, p LIMIT 1),
         |               substr(word, CAST(pos AS INTEGER), 1)) AS piece
         |    FROM seg WHERE pos <= len(word)) q
         |),
         |segf AS (SELECT word, pieces FROM seg WHERE pos > len(word)),
         |d AS (SELECT doc_id, pos, pieces FROM tokr JOIN segf USING (word)),
         |a AS (SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS pl FROM d GROUP BY doc_id)
         |SELECT t.doc_id,
         |  CAST(coalesce(len(a.pl), 0) AS BIGINT) AS n_pieces,
         |  CAST(coalesce(len(list_filter(a.pl, p -> NOT list_contains(${sqlList(graft.ext.Tokenize.DemoVocab)}, p))), 0) AS BIGINT) AS n_fallback,
         |  md5(coalesce(array_to_string(a.pl, ' '), '')) AS fp
         |FROM t LEFT JOIN a USING (doc_id) ORDER BY doc_id""".stripMargin),

    // vocabulary coverage per language: the subwords seg chain rolled up
    "q_text_subword_coverage" ->
      (s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $toks AS tk FROM documents),
         |tok0 AS (SELECT doc_id, unnest(list_transform(generate_series(0, len(tk) - 1),
         |         j -> struct_pack(pos := j, word := tk[j+1]))) AS u FROM t),
         |tokr AS (SELECT doc_id, u.pos AS pos, u.word AS word FROM tok0),
         |w AS (SELECT DISTINCT word FROM tokr),
         |seg(word, pos, pieces) AS (
         |  SELECT word, CAST(1 AS BIGINT), CAST([] AS VARCHAR[]) FROM w
         |  UNION ALL
         |  SELECT word, pos + len(piece), list_append(pieces, piece) FROM (
         |    SELECT word, pos, pieces,
         |      coalesce((SELECT p FROM (SELECT unnest(${sqlList(graft.ext.Tokenize.DemoVocab)}) AS p)
         |                WHERE substr(word, CAST(pos AS INTEGER), len(p)) = p
         |                ORDER BY len(p) DESC, p LIMIT 1),
         |               substr(word, CAST(pos AS INTEGER), 1)) AS piece
         |    FROM seg WHERE pos <= len(word)) q
         |),
         |segf AS (SELECT word, pieces FROM seg WHERE pos > len(word)),
         |d AS (SELECT doc_id, pos, pieces FROM tokr JOIN segf USING (word)),
         |a AS (SELECT doc_id, flatten(list(pieces ORDER BY pos)) AS pl FROM d GROUP BY doc_id),
         |j AS (SELECT dd.lang, CAST(coalesce(len(a.pl), 0) AS BIGINT) AS np,
         |        CAST(coalesce(len(list_filter(a.pl, p -> NOT list_contains(${sqlList(graft.ext.Tokenize.DemoVocab)}, p))), 0) AS BIGINT) AS nf
         |      FROM documents dd LEFT JOIN a ON dd.doc_id = a.doc_id)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(np) AS BIGINT) AS n_pieces, CAST(sum(nf) AS BIGINT) AS n_fallback,
         |  CASE WHEN sum(np) = 0 THEN NULL
         |       ELSE round(CAST(sum(nf) AS DOUBLE) / sum(np), 6) END AS fallback_rate
         |FROM j GROUP BY lang ORDER BY lang""".stripMargin),

    // n-gram novelty: first-occurrence owner via min(doc_id) per gram
    "q_text_novelty" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 8),
         |g0 AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(0, len(tk) - 8),
         |        i -> array_to_string(tk[i+1 : i+8], ' ')))) AS gram FROM f),
         |fst AS (SELECT gram, min(doc_id) AS first_doc FROM g0 GROUP BY gram)
         |SELECT g0.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |  CAST(sum(CASE WHEN fst.first_doc = g0.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
         |  round(CAST(sum(CASE WHEN fst.first_doc = g0.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
         |    / count(*), 6) AS novelty
         |FROM g0 JOIN fst USING (gram) GROUP BY g0.doc_id ORDER BY g0.doc_id""".stripMargin),

    // corpus piece frequencies under the same segmentation, weighted by
    // word occurrences
    "q_text_subword_pieces" ->
      (s"""WITH RECURSIVE
         |wc AS (SELECT word, count(*) AS wcnt FROM
         |         (SELECT unnest($toks) AS word FROM documents) GROUP BY 1),
         |w AS (SELECT word FROM wc),
         |seg(word, pos, pieces) AS (
         |  SELECT word, CAST(1 AS BIGINT), CAST([] AS VARCHAR[]) FROM w
         |  UNION ALL
         |  SELECT word, pos + len(piece), list_append(pieces, piece) FROM (
         |    SELECT word, pos, pieces,
         |      coalesce((SELECT p FROM (SELECT unnest(${sqlList(graft.ext.Tokenize.DemoVocab)}) AS p)
         |                WHERE substr(word, CAST(pos AS INTEGER), len(p)) = p
         |                ORDER BY len(p) DESC, p LIMIT 1),
         |               substr(word, CAST(pos AS INTEGER), 1)) AS piece
         |    FROM seg WHERE pos <= len(word)) q
         |),
         |segf AS (SELECT word, pieces FROM seg WHERE pos > len(word)),
         |p AS (SELECT wc.word, wc.wcnt, unnest(segf.pieces) AS piece
         |      FROM wc JOIN segf USING (word))
         |SELECT piece, CAST(sum(wcnt) AS BIGINT) AS occurrences,
         |  CAST(count(DISTINCT word) AS BIGINT) AS n_words,
         |  list_contains(${sqlList(graft.ext.Tokenize.DemoVocab)}, piece) AS in_vocab
         |FROM p GROUP BY piece ORDER BY piece""".stripMargin),

    // token Shannon entropy; plogp folds left-to-right over the
    // term-sorted count list — same fold DAG as the Spark side
    "q_text_entropy" ->
      (s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |c AS (SELECT doc_id, term, count(*) AS cnt FROM t GROUP BY 1, 2),
         |a AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS n_terms,
         |    list(CAST(cnt AS DOUBLE) * log2(CAST(cnt AS DOUBLE)) ORDER BY term) AS l
         |  FROM c GROUP BY 1)
         |SELECT doc_id, n_tokens, n_terms,
         |  round(log2(CAST(n_tokens AS DOUBLE)) -
         |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), l), (acc, x) -> acc + x)
         |      / n_tokens, 6) AS entropy
         |FROM a ORDER BY doc_id""".stripMargin),

    // feature hashing: md5 -> 64 buckets (same 60-bit hex-slice idiom as
    // the winnow oracle), sparse TF rows
    "q_text_hashtf" ->
      (s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents)
         |SELECT doc_id,
         |  CAST(concat('0x', substr(md5(term), 1, 15)) AS BIGINT) % 64 AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM t GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin),

    // product quantization: the IVF query's 8 md5-selected vectors sliced
    // into 4 x 16-dim subspace codebooks; nearest codeword per slice
    "q_sim_pq" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d AS (SELECT e.vec_id, m.m, c.cid,
        |    list_dot_product(e.v[m.m*16+1 : m.m*16+16], e.v[m.m*16+1 : m.m*16+16])
        |      - 2.0 * list_dot_product(e.v[m.m*16+1 : m.m*16+16], c.cv[m.m*16+1 : m.m*16+16])
        |      + list_dot_product(c.cv[m.m*16+1 : m.m*16+16], c.cv[m.m*16+1 : m.m*16+16]) AS d2
        |  FROM e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS m) m CROSS JOIN c),
        |r AS (SELECT vec_id, m, cid,
        |    row_number() OVER (PARTITION BY vec_id, m ORDER BY d2, cid) AS rn FROM d)
        |SELECT vec_id,
        |  max(CASE WHEN m = 0 THEN cid END) AS code_0,
        |  max(CASE WHEN m = 1 THEN cid END) AS code_1,
        |  max(CASE WHEN m = 2 THEN cid END) AS code_2,
        |  max(CASE WHEN m = 3 THEN cid END) AS code_3
        |FROM r WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    // incremental agg maintenance: the oracle is the DIRECT full-table
    // aggregate — matching it proves base+delta state merge == recompute
    "q_agg_incremental" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(count(l_extendedprice) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE), 6) AS sum_v,
        |  round(min(l_extendedprice), 6) AS min_v,
        |  round(max(l_extendedprice), 6) AS max_v,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)
        |    / count(l_extendedprice), 6) AS avg_v
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // checksum reconciliation replay: same md5-prefix bucket/row hash and
    // XOR fold, full-outer on bucket (DuckDB bit_xor ≡ Spark bit_xor)
    "q_merge_checksum" ->
      """WITH l AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders),
        |r AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 997 = 29 THEN 'X' ELSE o_orderstatus END
        |      AS o_orderstatus,
        |    o_orderpriority
        |  FROM orders WHERE o_orderkey % 997 <> 13),
        |ls AS (
        |  SELECT CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
        |           AS BIGINT) % 64 AS bucket,
        |    CAST(concat('0x', substr(md5(concat_ws('|',
        |      coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'graft_null'),
        |      coalesce(o_orderstatus, chr(0) || 'graft_null'),
        |      coalesce(o_orderpriority, chr(0) || 'graft_null'))), 1, 15))
        |      AS BIGINT) AS h
        |  FROM l),
        |rs AS (
        |  SELECT CAST(concat('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15))
        |           AS BIGINT) % 64 AS bucket,
        |    CAST(concat('0x', substr(md5(concat_ws('|',
        |      coalesce(CAST(o_orderkey AS VARCHAR), chr(0) || 'graft_null'),
        |      coalesce(o_orderstatus, chr(0) || 'graft_null'),
        |      coalesce(o_orderpriority, chr(0) || 'graft_null'))), 1, 15))
        |      AS BIGINT) AS h
        |  FROM r),
        |la AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_left,
        |         bit_xor(h) AS sum_left FROM ls GROUP BY 1),
        |ra AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_right,
        |         bit_xor(h) AS sum_right FROM rs GROUP BY 1)
        |SELECT coalesce(la.bucket, ra.bucket) AS bucket,
        |  coalesce(n_left, 0) AS n_left,
        |  coalesce(n_right, 0) AS n_right,
        |  coalesce(sum_left, 0) AS sum_left,
        |  coalesce(sum_right, 0) AS sum_right,
        |  (coalesce(n_left, 0) = coalesce(n_right, 0)
        |    AND coalesce(sum_left, 0) = coalesce(sum_right, 0)) AS is_match
        |FROM la FULL OUTER JOIN ra ON la.bucket = ra.bucket
        |ORDER BY bucket""".stripMargin,

    // delta-join oracle takes the INDEPENDENT path: full new-snapshot
    // join minus full old-snapshot join (the engine computes the same
    // numbers from the three delta terms without joining the bases)
    "q_join_incremental" ->
      """WITH spine AS (SELECT DISTINCT l_returnflag FROM lineitem),
        |o_old AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 211 <> 11),
        |o_new AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 211 <> 3),
        |l_old AS (SELECT l_orderkey, l_returnflag, l_quantity
        |          FROM lineitem WHERE l_orderkey % 199 <> 7),
        |l_new AS (SELECT l_orderkey, l_returnflag, l_quantity
        |          FROM lineitem WHERE l_orderkey % 199 <> 5),
        |a_old AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |            sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
        |          FROM o_old JOIN l_old ON o_orderkey = l_orderkey GROUP BY 1),
        |a_new AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        |            sum(CAST(l_quantity AS DECIMAL(18,2))) AS q
        |          FROM o_new JOIN l_new ON o_orderkey = l_orderkey GROUP BY 1)
        |SELECT s.l_returnflag,
        |  coalesce(a_new.n, 0) - coalesce(a_old.n, 0) AS delta_rows,
        |  CAST(coalesce(a_new.q, 0) - coalesce(a_old.q, 0) AS DOUBLE)
        |    AS delta_qty
        |FROM spine s
        |LEFT JOIN a_new ON s.l_returnflag = a_new.l_returnflag
        |LEFT JOIN a_old ON s.l_returnflag = a_old.l_returnflag
        |ORDER BY s.l_returnflag""".stripMargin,

    // compaction-plan replay: size-desc exclusive prefix sum, bin =
    // cum_before div target (next-fit-decreasing windows)
    "q_layout_compaction" ->
      """WITH inv AS (
        |  SELECT CAST(year(l_shipdate) * 100 + month(l_shipdate) AS BIGINT) AS ym,
        |    l_returnflag, CAST(count(*) AS BIGINT) AS size
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (SELECT *,
        |    CAST(coalesce(sum(size) OVER (
        |      ORDER BY size DESC, ym ASC, l_returnflag ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |      AS cum_before
        |  FROM inv),
        |b AS (SELECT *, cum_before // 4000 AS bin FROM p)
        |SELECT bin, CAST(count(*) AS BIGINT) AS n_files,
        |  CAST(sum(size) AS BIGINT) AS total_size,
        |  min(size) AS min_file, max(size) AS max_file
        |FROM b GROUP BY 1 ORDER BY bin""".stripMargin,

    // Morton interleave in pure integer arithmetic
    "q_layout_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(list_sum(list_transform(generate_series(0, 15), i ->
        |    (((l_partkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2*i)) +
        |    (((l_suppkey % 65536) >> i) & 1) * (CAST(1 AS BIGINT) << (2*i + 1))
        |  )) AS BIGINT) AS zval
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey, zval""".stripMargin,

    // bucketed co-located join: the bucket layout changes the PLAN, not
    // the answer — the oracle is the plain join + aggregate
    "q_layout_bucketed" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_total
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,

    // PSI: reference-decile bins via quantile_cont (same interpolation
    // as the exact CDF), bin counts by strict-above differences, each
    // term row-local with the 1e-4 clamp
    // freshness replay: per-type max epoch-micros vs the global max,
    // integer-div to seconds, same one-day staleness threshold
    "q_quality_freshness" ->
      """WITH p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
        |    max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx
        |  FROM events WHERE ts IS NOT NULL GROUP BY event_type),
        |g AS (SELECT max(mx) AS gmx FROM p)
        |SELECT p.event_type, p.n_rows,
        |  CAST((g.gmx - p.mx) // 1000000 AS BIGINT) AS lag_sec,
        |  ((g.gmx - p.mx) // 1000000) > 86400 AS is_stale
        |FROM p, g ORDER BY p.event_type""".stripMargin,

    "q_quality_psi" ->
      """WITH ref AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE event_id % 2 = 0 AND value IS NOT NULL),
        |cur AS (SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE event_id % 2 = 1 AND value IS NOT NULL),
        |q AS (SELECT quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS qs FROM ref),
        |edges AS MATERIALIZED (SELECT i.i AS i, qs[i.i] AS e
        |  FROM q CROSS JOIN (SELECT unnest(generate_series(1, 9)) AS i) i),
        |above AS (SELECT CAST(0 AS BIGINT) AS i,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ref) AS arf,
        |    (SELECT CAST(count(*) AS BIGINT) FROM cur) AS acu
        |  UNION ALL
        |  SELECT e.i,
        |    (SELECT CAST(count(*) AS BIGINT) FROM ref r WHERE r.v > e.e),
        |    (SELECT CAST(count(*) AS BIGINT) FROM cur c WHERE c.v > e.e)
        |  FROM edges e
        |  UNION ALL SELECT 10, 0, 0),
        |b AS (SELECT i AS bin, arf - lead(arf) OVER (ORDER BY i) AS n_ref,
        |    acu - lead(acu) OVER (ORDER BY i) AS n_cur FROM above),
        |t AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM ref) AS tr,
        |    (SELECT CAST(count(*) AS BIGINT) FROM cur) AS tc),
        |f AS (SELECT bin, n_ref, n_cur,
        |    CAST(n_ref AS DOUBLE) / tr AS p_ref,
        |    CAST(n_cur AS DOUBLE) / tc AS p_cur
        |  FROM b, t WHERE bin < 10)
        |SELECT bin, n_ref, n_cur,
        |  round(p_ref, 6) AS p_ref, round(p_cur, 6) AS p_cur,
        |  round((greatest(p_ref, 0.0001) - greatest(p_cur, 0.0001)) *
        |    ln(greatest(p_ref, 0.0001) / greatest(p_cur, 0.0001)), 6) AS psi_term
        |FROM f ORDER BY bin""".stripMargin,

    // group-mode fill: counts -> per-group argmax (ties to smallest
    // value), replayed with the same row_number pick
    "q_c7b_impute_mode" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 13 = 0 THEN NULL ELSE o_orderpriority END AS pr
        |  FROM orders),
        |c AS (SELECT o_orderstatus, pr, count(*) AS vf FROM base
        |  WHERE pr IS NOT NULL GROUP BY 1, 2),
        |m AS (SELECT o_orderstatus, pr AS mode_v,
        |    row_number() OVER (PARTITION BY o_orderstatus
        |      ORDER BY vf DESC, pr) AS rn FROM c)
        |SELECT b.o_orderkey, coalesce(b.pr, mm.mode_v) AS pr
        |FROM base b LEFT JOIN (SELECT o_orderstatus, mode_v FROM m WHERE rn = 1) mm
        |  USING (o_orderstatus)
        |ORDER BY o_orderkey""".stripMargin,

    // CDC apply: union base (src 0) with the log (src 1), last op per
    // key wins under (src, ts, orderkey-string) DESC, winners keep 'U'
    "q_cdc_apply" ->
      """WITH base AS (SELECT c_custkey, c_name, c_acctbal, 'U' AS op,
        |    0 AS src, CAST(NULL AS DATE) AS ts, CAST(NULL AS VARCHAR) AS tie
        |  FROM customer),
        |log AS (SELECT o_custkey AS c_custkey,
        |    'upd_' || CAST(o_orderkey AS VARCHAR) AS c_name,
        |    o_totalprice AS c_acctbal,
        |    CASE WHEN o_orderkey % 17 = 0 THEN 'D' ELSE 'U' END AS op,
        |    1 AS src, o_orderdate AS ts, CAST(o_orderkey AS VARCHAR) AS tie
        |  FROM orders),
        |u AS (SELECT * FROM base UNION ALL BY NAME SELECT * FROM log),
        |r AS (SELECT *, row_number() OVER (PARTITION BY c_custkey
        |    ORDER BY src DESC, ts DESC NULLS LAST, tie DESC NULLS LAST) AS rn
        |  FROM u)
        |SELECT c_custkey, c_name, round(c_acctbal, 6) AS c_acctbal
        |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY c_custkey""".stripMargin,

    // proportional-share curation: per-lang budget = exact integer
    // floor(B * w_g / sum w) (HUGEINT multiply, // divide), then the
    // same exclusive-cumsum keep rule as q_curate_budget
    "q_curate_proportional" ->
      (s"""WITH t AS (SELECT doc_id, lang, $toks AS tk FROM documents),
         |s AS (SELECT doc_id, lang, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr
         |  FROM t WHERE len(tk) > 0),
         |g AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS gw FROM s GROUP BY 1),
         |tot AS (SELECT CAST(sum(gw) AS BIGINT) AS sw FROM g),
         |b AS (SELECT lang,
         |    CAST((CAST(gw AS HUGEINT) * 50000) // CAST(sw AS HUGEINT) AS BIGINT) AS bud
         |  FROM g, tot),
         |c AS (SELECT doc_id, lang, n_tokens, ttr,
         |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
         |      ORDER BY ttr DESC, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM s)
         |SELECT c.lang, c.doc_id, c.n_tokens, round(c.ttr, 6) AS ttr, c.cum_before
         |FROM c JOIN b ON c.lang = b.lang WHERE c.cum_before < b.bud
         |ORDER BY c.lang, c.doc_id""".stripMargin),

    // expectation suite: one conditional-count pass, five stacked rows
    // k-anonymity: equivalence classes under the quasi-identifier pair
    // with size < k, plus the one-row audit summary
    "q_quality_kanon" ->
      """SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS class_size,
        |  round(CAST(1.0 AS DOUBLE) / count(*), 6) AS reid_risk
        |FROM customer GROUP BY 1, 2 HAVING count(*) < 10
        |ORDER BY c_nationkey NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,

    // ε-DP Laplace count release: inverse-CDF noise from the same md5
    // uniform slice, the identical double DAG (sign · ln(1−2|u−½|))
    "q_privacy_dpcount" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_true FROM documents GROUP BY 1),
        |n AS (SELECT lang, n_true,
        |    (CAST(CAST(concat('0x', substr(md5(lang), 1, 15)) AS BIGINT) AS DOUBLE) + CAST(0.5 AS DOUBLE))
        |      / CAST(1152921504606846976.0 AS DOUBLE) AS u
        |  FROM c)
        |SELECT lang, n_true,
        |  round(n_true + CAST(-1.0 AS DOUBLE)
        |      * (CASE WHEN u - CAST(0.5 AS DOUBLE) > 0 THEN CAST(1.0 AS DOUBLE)
        |              WHEN u - CAST(0.5 AS DOUBLE) < 0 THEN CAST(-1.0 AS DOUBLE)
        |              ELSE CAST(0.0 AS DOUBLE) END)
        |      * ln(CAST(1.0 AS DOUBLE) - CAST(2.0 AS DOUBLE) * abs(u - CAST(0.5 AS DOUBLE))), 6)
        |    + 0.0 AS n_noisy,
        |  CAST(1.0 AS DOUBLE) AS epsilon
        |FROM n ORDER BY lang NULLS FIRST""".stripMargin,
    "q_quality_kanon_summary" ->
      """WITH g AS (SELECT count(*) AS sz FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT CAST(min(sz) AS BIGINT) AS achieved_k, CAST(count(*) AS BIGINT) AS n_classes,
        |  CAST(sum(CASE WHEN sz < 10 THEN 1 ELSE 0 END) AS BIGINT) AS violating_classes,
        |  CAST(sum(CASE WHEN sz < 10 THEN sz ELSE 0 END) AS BIGINT) AS rows_at_risk
        |FROM g""".stripMargin,

    // l-diversity: classes with < 3 distinct sensitive values
    "q_quality_ldiv" ->
      """SELECT c_nationkey, c_custkey // 200 AS key_bucket,
        |  CAST(count(*) AS BIGINT) AS class_size,
        |  CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_sensitive
        |FROM customer GROUP BY 1, 2 HAVING count(DISTINCT c_mktsegment) < 3
        |ORDER BY c_nationkey, key_bucket""".stripMargin,

    // salted skew join: the salt changes the PLAN, not the answer —
    // the oracle is the plain hot-key join + aggregate
    "q_skew_salted_join" ->
      """WITH l AS (SELECT CASE WHEN l_orderkey % 3 = 0 THEN CAST(1 AS BIGINT)
        |                       ELSE l_orderkey END AS fk, l_quantity FROM lineitem)
        |SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM l JOIN orders ON fk = o_orderkey
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    "q_quality_expect" ->
      """WITH a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count_if(l_quantity BETWEEN 1 AND 50) AS BIGINT) AS p0,
        |  CAST(count_if(l_extendedprice > 0) AS BIGINT) AS p1,
        |  CAST(count_if(l_discount BETWEEN 0.0 AND 0.10) AS BIGINT) AS p2,
        |  CAST(count_if(l_tax BETWEEN 0.0 AND 0.08) AS BIGINT) AS p3,
        |  CAST(count_if(l_linestatus IN ('O', 'F')) AS BIGINT) AS p4
        |  FROM lineitem)
        |SELECT CAST(0 AS BIGINT) AS rule_ord, 'qty_in_range' AS rule, n AS n_rows,
        |  p0 AS n_pass, n - p0 AS n_fail, round(CAST(p0 AS DOUBLE) / n, 6) AS pass_rate FROM a
        |UNION ALL SELECT 1, 'price_positive', n, p1, n - p1,
        |  round(CAST(p1 AS DOUBLE) / n, 6) FROM a
        |UNION ALL SELECT 2, 'discount_in_range', n, p2, n - p2,
        |  round(CAST(p2 AS DOUBLE) / n, 6) FROM a
        |UNION ALL SELECT 3, 'tax_in_range', n, p3, n - p3,
        |  round(CAST(p3 AS DOUBLE) / n, 6) FROM a
        |UNION ALL SELECT 4, 'status_valid', n, p4, n - p4,
        |  round(CAST(p4 AS DOUBLE) / n, 6) FROM a
        |ORDER BY rule_ord""".stripMargin,

    // PageRank, 2 iterations: inflow sums FIXED-POINT LONGS
    // (floor(contrib * 1e9)) exactly like the Spark deterministic tier —
    // integer addition is order-invariant, so no ordered fold is needed;
    // (1.0 - 0.85) spelled as the SAME double subtraction, never a 0.15
    // literal (they differ in the last ulp)
    "q_graph_pagerank" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS src, b.p AS dst
        |  FROM li a JOIN li b ON a.o = b.o AND a.p <> b.p),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |i1 AS (SELECT e.dst AS id,
        |    CAST(CAST(sum(CAST(floor(1.0 / deg.deg * 1e9) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9 AS inflow
        |  FROM e JOIN deg ON e.src = deg.src GROUP BY e.dst),
        |r1 AS (SELECT nodes.id, (1.0 - 0.85) + 0.85 * (coalesce(i1.inflow, 0.0) + 0.0) AS rank
        |  FROM nodes LEFT JOIN i1 USING (id)),
        |i2 AS (SELECT e.dst AS id,
        |    CAST(CAST(sum(CAST(floor(r1.rank / deg.deg * 1e9) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e9 AS inflow
        |  FROM e JOIN deg ON e.src = deg.src JOIN r1 ON e.src = r1.id GROUP BY e.dst),
        |r2 AS (SELECT nodes.id, (1.0 - 0.85) + 0.85 * (coalesce(i2.inflow, 0.0) + 0.0) AS rank
        |  FROM nodes LEFT JOIN i2 USING (id))
        |SELECT id AS part_id, floor(rank * 1e6) / 1e6 AS rank FROM r2 ORDER BY part_id""".stripMargin,

    // self-trained bigram LM score: add-one-smoothed corpus bigram probs,
    // per-doc -mean log2 p folded in bigram-position order
    "q_text_lm_score" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |f AS (SELECT doc_id, tk FROM t WHERE len(tk) >= 2),
         |b0 AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
         |    i -> struct_pack(pos := i, bg := tk[i] || ' ' || tk[i+1]))) AS u FROM f),
         |b2 AS (SELECT doc_id, u.pos AS pos, u.bg AS bg FROM b0),
         |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS c12 FROM b2 GROUP BY 1),
         |cx AS (SELECT string_split(bg, ' ')[1] AS w1,
         |    CAST(sum(c12) AS BIGINT) AS c1 FROM c GROUP BY 1),
         |v AS (SELECT count(DISTINCT tt) AS v
         |  FROM (SELECT unnest($toks) AS tt FROM documents)),
         |l AS (SELECT b2.doc_id, b2.pos,
         |    log2(CAST(c.c12 + 1 AS DOUBLE) / CAST(cx.c1 + v.v AS DOUBLE)) AS lv
         |  FROM b2 JOIN c USING (bg)
         |  JOIN cx ON string_split(b2.bg, ' ')[1] = cx.w1, v),
         |a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    list(lv ORDER BY pos) AS ll FROM l GROUP BY 1)
         |SELECT doc_id, n_bigrams,
         |  round(-list_reduce(list_prepend(CAST(0.0 AS DOUBLE), ll),
         |    (acc, x) -> acc + x) / n_bigrams, 6) AS lm_score
         |FROM a ORDER BY doc_id""".stripMargin),

    // rolling corr: integer cents × epoch seconds, every power sum exact
    // (BIGINT products, HUGEINT window sums), shared double formula DAG
    "q_window_rollcorr" ->
      """WITH b AS (SELECT event_id, event_type, ts,
        |    CAST(round(value * 100) AS BIGINT) AS x,
        |    CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS y
        |  FROM events),
        |s AS (SELECT event_id, event_type,
        |    count(*) OVER w AS n,
        |    sum(x) OVER w AS sx,
        |    sum(y) OVER w AS sy,
        |    sum(x*x) OVER w AS sxx,
        |    sum(y*y) OVER w AS syy,
        |    sum(x*y) OVER w AS sxy
        |  FROM b
        |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
        |               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |f AS (SELECT event_id, event_type,
        |    CAST(CAST(n AS HUGEINT)*sxy - sx*sy AS DOUBLE) AS cov,
        |    CAST(CAST(n AS HUGEINT)*sxx - sx*sx AS DOUBLE) AS varx,
        |    CAST(CAST(n AS HUGEINT)*syy - sy*sy AS DOUBLE) AS vary
        |  FROM s)
        |SELECT event_id, event_type,
        |  CASE WHEN varx > 0.0 AND vary > 0.0
        |       THEN round(cov / sqrt(varx * vary), 6) END AS roll_corr
        |FROM f ORDER BY event_id""".stripMargin,

    // silhouette replay: same md5-fixed centroids, same expanded-dot d2,
    // same (d2, cid) argmin, nearest-other min, clamped sqrt and
    // fixed-point per-cluster means
    "q_sim_silhouette" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d0 AS (SELECT e.vec_id, c0.cid,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c0.cv)
        |      + list_dot_product(c0.cv, c0.cv) AS d2
        |  FROM e CROSS JOIN c0),
        |own AS (SELECT vec_id, cid, d2 FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        |  FROM d0) WHERE rn = 1),
        |oth AS (SELECT d0.vec_id, min(d0.d2) AS d2o
        |  FROM d0 JOIN own ON d0.vec_id = own.vec_id AND d0.cid <> own.cid
        |  GROUP BY 1),
        |s AS (SELECT own.vec_id, own.cid,
        |    sqrt(greatest(own.d2, CAST(0.0 AS DOUBLE))) AS a,
        |    sqrt(greatest(oth.d2o, CAST(0.0 AS DOUBLE))) AS b
        |  FROM own JOIN oth ON own.vec_id = oth.vec_id),
        |t AS (SELECT cid, CASE WHEN greatest(a, b) > 0.0
        |    THEN (b - a) / greatest(a, b) ELSE CAST(0.0 AS DOUBLE) END AS sil
        |  FROM s)
        |SELECT cid AS cluster_id, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(CAST(floor(sil * 1e9) AS BIGINT) AS HUGEINT)) AS DOUBLE)
        |    / 1e9 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_sil
        |FROM t GROUP BY 1 ORDER BY cluster_id""".stripMargin,

    // one Lloyd round: assign to the 8 md5-selected seeds, recompute
    // per-dimension double means (same determinism contract as
    // q_embed_centroids), keep empty clusters' old centroids, reassign
    "q_sim_kmeans" ->
      """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, v AS cv FROM e
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |d0 AS (SELECT e.vec_id, e.v, c0.cid,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c0.cv)
        |      + list_dot_product(c0.cv, c0.cv) AS d2
        |  FROM e CROSS JOIN c0),
        |a0 AS (SELECT vec_id, v, cid FROM
        |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d0)
        |  WHERE rn = 1),
        |s AS (SELECT cid, p.p, avg(v[p.p]) AS m
        |  FROM a0 CROSS JOIN (SELECT unnest(generate_series(1, 64)) AS p) p
        |  GROUP BY cid, p.p),
        |c1 AS (SELECT cid, list(m ORDER BY p) AS cv FROM s GROUP BY cid),
        |c1f AS (SELECT c0.cid, coalesce(c1.cv, c0.cv) AS cv
        |  FROM c0 LEFT JOIN c1 USING (cid)),
        |d1 AS (SELECT e.vec_id, c.cid,
        |    list_dot_product(e.v, e.v) - 2.0 * list_dot_product(e.v, c.cv)
        |      + list_dot_product(c.cv, c.cv) AS d2
        |  FROM e CROSS JOIN c1f c),
        |r AS (SELECT vec_id, cid, d2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM d1)
        |SELECT vec_id, cid AS cluster_id, round(d2, 6) + 0.0 AS dist2
        |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,

    // t-closeness replay: same numpy bin rule, dense class×bin grid via
    // cross join + left join, same cumulative-fraction |diff| terms in
    // fixed-point 1e9, same /(bins-1) normalization
    "q_quality_tcloseness" ->
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |    CAST(c_acctbal AS DOUBLE) AS s FROM customer WHERE c_acctbal IS NOT NULL),
        |mm AS (SELECT min(s) AS lo, max(s) AS hi FROM b),
        |bn AS (SELECT c_nationkey, c_mktsegment,
        |    CASE WHEN hi = lo THEN 0
        |      ELSE least(CAST(floor((s - lo) / ((hi - lo) / 10.0)) AS BIGINT), 9)
        |    END AS bin FROM b CROSS JOIN mm),
        |pcb AS (SELECT c_nationkey, c_mktsegment, bin,
        |    CAST(count(*) AS BIGINT) AS c FROM bn GROUP BY 1, 2, 3),
        |pc AS (SELECT c_nationkey, c_mktsegment, CAST(sum(c) AS BIGINT) AS n
        |  FROM pcb GROUP BY 1, 2),
        |gb AS (SELECT bin, CAST(sum(c) AS BIGINT) AS gc FROM pcb GROUP BY 1),
        |tot AS (SELECT CAST(sum(gc) AS BIGINT) AS gn FROM gb),
        |grid AS (SELECT pc.c_nationkey, pc.c_mktsegment, pc.n, g.bin
        |  FROM pc CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bin) g),
        |dense AS (SELECT grid.c_nationkey, grid.c_mktsegment, grid.n, grid.bin,
        |    coalesce(pcb.c, 0) AS c, gb.gc
        |  FROM grid LEFT JOIN pcb ON grid.c_nationkey = pcb.c_nationkey
        |    AND grid.c_mktsegment = pcb.c_mktsegment AND grid.bin = pcb.bin
        |  JOIN gb ON grid.bin = gb.bin),
        |cum AS (SELECT c_nationkey, c_mktsegment, n, bin,
        |    sum(c) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cm,
        |    sum(gc) OVER (PARTITION BY c_nationkey, c_mktsegment
        |      ORDER BY bin ROWS UNBOUNDED PRECEDING) AS gcm
        |  FROM dense CROSS JOIN tot),
        |t AS (SELECT c_nationkey, c_mktsegment, n,
        |    CAST(floor(abs(CAST(cm AS DOUBLE) / CAST(n AS DOUBLE)
        |      - CAST(gcm AS DOUBLE) / CAST((SELECT gn FROM tot) AS DOUBLE)) * 1e9)
        |      AS BIGINT) AS t9
        |  FROM cum WHERE bin < 9)
        |SELECT c_nationkey, c_mktsegment, n,
        |  round(CAST(sum(t9) AS DOUBLE) / 1e9 / 9, 6) + 0.0 AS emd
        |FROM t GROUP BY 1, 2, 3
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    // Adamic-Adar replay: same co-purchase edge set, same center-degree
    // cap (<= 500) BEFORE wedge generation, same fixed-point
    // floor(1e9/ln(deg)) weights summed exactly, same top-100 tie-break
    "q_graph_linkpred" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS x, b.pk AS y
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |adj AS (SELECT x AS z, y AS n FROM e UNION ALL SELECT y, x FROM e),
        |deg AS (SELECT z, CAST(count(*) AS BIGINT) AS d FROM adj GROUP BY 1),
        |cent AS (SELECT adj.z, adj.n,
        |    CAST(floor(1e9 / ln(CAST(d AS DOUBLE))) AS BIGINT) AS w9
        |  FROM adj JOIN deg USING (z) WHERE d >= 2 AND d <= 500),
        |pr AS (SELECT c1.n AS a, c2.n AS b, c1.w9
        |  FROM cent c1 JOIN cent c2 ON c1.z = c2.z AND c1.n < c2.n),
        |unk AS (SELECT a, b, w9 FROM pr
        |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.x = pr.a AND e.y = pr.b)),
        |g AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
        |    sum(w9) AS s9 FROM unk GROUP BY 1, 2)
        |SELECT a AS id_a, b AS id_b, n_common,
        |  round(CAST(s9 AS DOUBLE) / 1e9, 6) + 0.0 AS score
        |FROM g ORDER BY score DESC, id_a, id_b LIMIT 100""".stripMargin,

    // k-core replay: the same 4 peel rounds unrolled — per round a
    // degree count and a both-endpoints filter
    "q_graph_kcore" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (SELECT a.pk AS x, b.pk AS y
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |d1 AS MATERIALIZED (SELECT v, count(*) AS d FROM (
        |    SELECT x AS v FROM e0 UNION ALL SELECT y FROM e0) GROUP BY 1
        |  HAVING count(*) >= 3),
        |e1 AS MATERIALIZED (SELECT x, y FROM e0
        |  WHERE x IN (SELECT v FROM d1) AND y IN (SELECT v FROM d1)),
        |d2 AS MATERIALIZED (SELECT v, count(*) AS d FROM (
        |    SELECT x AS v FROM e1 UNION ALL SELECT y FROM e1) GROUP BY 1
        |  HAVING count(*) >= 3),
        |e2 AS MATERIALIZED (SELECT x, y FROM e1
        |  WHERE x IN (SELECT v FROM d2) AND y IN (SELECT v FROM d2)),
        |d3 AS MATERIALIZED (SELECT v, count(*) AS d FROM (
        |    SELECT x AS v FROM e2 UNION ALL SELECT y FROM e2) GROUP BY 1
        |  HAVING count(*) >= 3),
        |e3 AS MATERIALIZED (SELECT x, y FROM e2
        |  WHERE x IN (SELECT v FROM d3) AND y IN (SELECT v FROM d3)),
        |d4 AS MATERIALIZED (SELECT v, count(*) AS d FROM (
        |    SELECT x AS v FROM e3 UNION ALL SELECT y FROM e3) GROUP BY 1
        |  HAVING count(*) >= 3),
        |e4 AS MATERIALIZED (SELECT x, y FROM e3
        |  WHERE x IN (SELECT v FROM d4) AND y IN (SELECT v FROM d4))
        |SELECT v AS id, CAST(count(*) AS BIGINT) AS degree FROM (
        |  SELECT x AS v FROM e4 UNION ALL SELECT y FROM e4)
        |GROUP BY 1 ORDER BY id""".stripMargin,

    // LPA replay: the same 3 synchronous rounds unrolled — per round, a
    // (node, neighbor-label) count and the argmax with count DESC, label
    // ASC tie-break via row_number
    "q_graph_lpa" ->
      """WITH oi AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e AS (SELECT a.pk AS x, b.pk AS y
        |  FROM oi a JOIN oi b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT x AS z, y AS n FROM e UNION ALL SELECT y, x FROM e),
        |l0 AS (SELECT DISTINCT z AS id, z AS lbl FROM sym),
        |f1 AS (SELECT sym.z, l0.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM sym JOIN l0 ON sym.n = l0.id GROUP BY 1, 2),
        |l1 AS (SELECT z AS id, lbl FROM (SELECT z, lbl,
        |    row_number() OVER (PARTITION BY z ORDER BY c DESC, lbl) AS rn
        |  FROM f1) WHERE rn = 1),
        |f2 AS (SELECT sym.z, l1.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM sym JOIN l1 ON sym.n = l1.id GROUP BY 1, 2),
        |l2 AS (SELECT z AS id, lbl FROM (SELECT z, lbl,
        |    row_number() OVER (PARTITION BY z ORDER BY c DESC, lbl) AS rn
        |  FROM f2) WHERE rn = 1),
        |f3 AS (SELECT sym.z, l2.lbl, CAST(count(*) AS BIGINT) AS c
        |  FROM sym JOIN l2 ON sym.n = l2.id GROUP BY 1, 2),
        |l3 AS (SELECT z AS id, lbl FROM (SELECT z, lbl,
        |    row_number() OVER (PARTITION BY z ORDER BY c DESC, lbl) AS rn
        |  FROM f3) WHERE rn = 1)
        |SELECT id, lbl AS community FROM l3 ORDER BY id""".stripMargin,

    // HITS replay: the same 2 unnormalized integer iterations unrolled as
    // CTEs (a1 = indegree, h1 = sum a1, a2 = sum h1, h2 = sum a2) in
    // HUGEINT, same per-side max scaling, same top-20 tie-break
    "q_graph_hits" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS h, l_partkey AS a
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |a1 AS (SELECT a, CAST(count(*) AS HUGEINT) AS s FROM e GROUP BY 1),
        |h1 AS (SELECT h, sum(a1.s) AS s FROM e JOIN a1 USING (a) GROUP BY 1),
        |a2 AS (SELECT a, sum(h1.s) AS s FROM e JOIN h1 USING (h) GROUP BY 1),
        |h2 AS (SELECT h, sum(a2.s) AS s FROM e JOIN a2 USING (a) GROUP BY 1),
        |ht AS (SELECT 'hub' AS role, h AS id, CAST(s AS BIGINT) AS score_raw,
        |    round(CAST(s AS DOUBLE) / CAST((SELECT max(s) FROM h2) AS DOUBLE), 6)
        |      + 0.0 AS score
        |  FROM h2 ORDER BY score_raw DESC, id LIMIT 20),
        |at AS (SELECT 'authority' AS role, a AS id, CAST(s AS BIGINT) AS score_raw,
        |    round(CAST(s AS DOUBLE) / CAST((SELECT max(s) FROM a2) AS DOUBLE), 6)
        |      + 0.0 AS score
        |  FROM a2 ORDER BY score_raw DESC, id LIMIT 20)
        |SELECT * FROM (SELECT * FROM ht UNION ALL SELECT * FROM at)
        |ORDER BY role, score_raw DESC, id""".stripMargin,

    // pair-cosine histogram replay: same deterministic (even, +1) pairing,
    // the established graft_cos-equivalent double formula, same fixed
    // [-1,1] bin rule and fixed-point means
    "q_embed_pairhist" ->
      (s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |p AS (SELECT a.v AS va, b.v AS vb FROM e a
         |  JOIN e b ON b.vec_id = a.vec_id + 1 WHERE a.vec_id % 2 = 0),
         |c AS (SELECT ${cosine("va", "vb")} AS cs FROM p),
         |g AS (SELECT greatest(least(CAST(floor((cs + CAST(1 AS DOUBLE))
         |    / (CAST(2 AS DOUBLE) / 10)) AS BIGINT), 9), 0) AS bin, cs FROM c)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(CAST(sum(CAST(CAST(floor(cs * 1e9) AS BIGINT) AS HUGEINT)) AS DOUBLE)
         |    / 1e9 / CAST(count(*) AS DOUBLE), 6) + 0.0 AS mean_cos
         |FROM g GROUP BY 1 ORDER BY bin""".stripMargin),

    // ROUGE-2 replay: same tokenizer + bigram build (the lm_score
    // pattern), clipped-min overlap join, same ratio DAG
    "q_text_rouge" ->
      (s"""WITH t AS (SELECT doc_id, $toks AS tk FROM documents),
         |b0 AS (SELECT doc_id, unnest(CASE WHEN len(tk) < 2 THEN []
         |    ELSE list_transform(generate_series(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i+1]) END) AS g FROM t),
         |gc AS (SELECT doc_id AS id, g, CAST(count(*) AS BIGINT) AS c
         |  FROM b0 GROUP BY 1, 2),
         |tot AS (SELECT id, CAST(sum(c) AS BIGINT) AS tot FROM gc GROUP BY 1),
         |ov AS (SELECT r.id AS ref_id,
         |    CAST(sum(least(r.c, cd.c)) AS BIGINT) AS overlap
         |  FROM gc r JOIN gc cd ON cd.id = r.id + 1 AND cd.g = r.g
         |  WHERE r.id % 2 = 0 GROUP BY 1),
         |p AS (SELECT tr.id AS ref_id, tr.tot AS trt, tc.tot AS tct,
         |    coalesce(ov.overlap, 0) AS overlap
         |  FROM tot tr JOIN tot tc ON tc.id = tr.id + 1
         |  LEFT JOIN ov ON ov.ref_id = tr.id
         |  WHERE tr.id % 2 = 0)
         |SELECT ref_id, ref_id + 1 AS cand_id, overlap,
         |  round(CAST(overlap AS DOUBLE) / CAST(trt AS DOUBLE), 6) + 0.0 AS rouge_r,
         |  round(CAST(overlap AS DOUBLE) / CAST(tct AS DOUBLE), 6) + 0.0 AS rouge_p,
         |  round(CASE WHEN overlap > 0 THEN
         |      CAST(2.0 AS DOUBLE) * (CAST(overlap AS DOUBLE) / CAST(trt AS DOUBLE))
         |        * (CAST(overlap AS DOUBLE) / CAST(tct AS DOUBLE))
         |        / (CAST(overlap AS DOUBLE) / CAST(trt AS DOUBLE)
         |          + CAST(overlap AS DOUBLE) / CAST(tct AS DOUBLE))
         |    ELSE CAST(0.0 AS DOUBLE) END, 6) + 0.0 AS rouge_f
         |FROM p ORDER BY ref_id""".stripMargin),

    // blocklist replay: same tokenizer, IN-list filter, per-doc count +
    // sorted-distinct matched list
    "q_text_blocklist" ->
      (s"""WITH t AS (SELECT doc_id, unnest($toks) AS term FROM documents),
         |m AS (SELECT doc_id, term FROM t
         |  WHERE term IN ('slow', 'merge', 'window'))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
         |  array_to_string(list_sort(list(DISTINCT term)), ',') AS matched
         |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // CCF replay: same integer day index (floor(epoch/86400) — DuckDB's
    // fractional epoch and Spark's truncated unix_timestamp agree after
    // the day floor), same per-lag HUGEINT moments, same Pearson DAG
    "q_events_ccf" ->
      """WITH d AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
        |    CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS a,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS b
        |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
        |l AS (SELECT unnest(generate_series(-3, 3)) AS lag),
        |p AS (SELECT l.lag, d1.a, d2.b
        |  FROM d d1 CROSS JOIN l JOIN d d2 ON d2.day = d1.day + l.lag),
        |m AS (SELECT lag, CAST(count(*) AS BIGINT) AS n_pairs,
        |    sum(CAST(a AS HUGEINT)) AS sa, sum(CAST(b AS HUGEINT)) AS sb,
        |    sum(CAST(a AS HUGEINT) * CAST(a AS HUGEINT)) AS saa,
        |    sum(CAST(b AS HUGEINT) * CAST(b AS HUGEINT)) AS sbb,
        |    sum(CAST(a AS HUGEINT) * CAST(b AS HUGEINT)) AS sab
        |  FROM p GROUP BY 1)
        |SELECT lag, n_pairs,
        |  round((CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
        |    / sqrt(CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
        |      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
        |    / sqrt(CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
        |      - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)), 6) + 0.0 AS ccf
        |FROM m ORDER BY lag""".stripMargin,

    // skyline oracle: the brute quadratic NOT EXISTS dominance test over
    // distinct (price, size) pairs — the engine's prefix-max plan must
    // reproduce it exactly
    "q_skyline" ->
      """WITH t AS (SELECT DISTINCT CAST(p_retailprice AS DOUBLE) AS p_retailprice,
        |    CAST(p_size AS DOUBLE) AS p_size FROM part
        |  WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)
        |SELECT p_retailprice, p_size FROM t
        |WHERE NOT EXISTS (SELECT 1 FROM t u
        |  WHERE u.p_retailprice <= t.p_retailprice AND u.p_size >= t.p_size
        |    AND (u.p_retailprice < t.p_retailprice OR u.p_size > t.p_size))
        |ORDER BY p_retailprice""".stripMargin,

    // A/B replay: same per-user any-conversion reduction, same pooled
    // z double DAG from exact integer counts
    // Welch's t: identical conditional DECIMAL sums and double DAG —
    // variance, standard errors, t, and the Welch–Satterthwaite df
    "q_stats_welch" ->
      """WITH s AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS b,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    sum(CASE WHEN b = 0 THEN x END) AS sx_a,
        |    sum(CASE WHEN b = 0 THEN CAST(x * x AS DECIMAL(38,4)) END) AS sxx_a,
        |    CAST(sum(CASE WHEN b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    sum(CASE WHEN b = 1 THEN x END) AS sx_b,
        |    sum(CASE WHEN b = 1 THEN CAST(x * x AS DECIMAL(38,4)) END) AS sxx_b
        |  FROM s),
        |m AS (SELECT n_a, n_b,
        |    CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
        |    CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
        |    CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
        |    (CAST(sxx_a AS DOUBLE) - CAST(sx_a AS DOUBLE) * CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE))
        |      / (CAST(n_a AS DOUBLE) - CAST(1.0 AS DOUBLE)) AS va,
        |    (CAST(sxx_b AS DOUBLE) - CAST(sx_b AS DOUBLE) * CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / (CAST(n_b AS DOUBLE) - CAST(1.0 AS DOUBLE)) AS vb
        |  FROM g),
        |e AS (SELECT n_a, n_b, na, nb, ma, mb, va / na AS sea, vb / nb AS seb FROM m)
        |SELECT n_a, n_b, round(ma, 6) + 0.0 AS mean_a, round(mb, 6) + 0.0 AS mean_b,
        |  round((ma - mb) / sqrt(sea + seb), 6) + 0.0 AS t_stat,
        |  round((sea + seb) * (sea + seb)
        |    / (sea * sea / (na - CAST(1.0 AS DOUBLE))
        |       + seb * seb / (nb - CAST(1.0 AS DOUBLE))), 6) + 0.0 AS df_welch
        |FROM e""".stripMargin,

    "q_stats_abtest" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS v,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150
        |      THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |    CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) + 0.0 AS rate_a,
        |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) + 0.0 AS rate_b,
        |  round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |      - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
        |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
        |      * (CAST(1.0 AS DOUBLE) - (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
        |        / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
        |      * (CAST(1.0 AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        + CAST(1.0 AS DOUBLE) / CAST(n_b AS DOUBLE))), 6) + 0.0 AS z
        |FROM g""".stripMargin,

    // OLS-2 replay: identical exact-decimal moment sums and the SAME
    // first-column cofactor expansion text, so the double DAG matches
    // term for term; R2 from the same sums
    "q_stats_ols2" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS s2,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s11,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s12,
        |    CAST(sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s22,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s1y,
        |    CAST(sum(CAST(CAST(l_discount AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS s2y,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS syy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_discount IS NOT NULL
        |    AND l_extendedprice IS NOT NULL),
        |d AS (SELECT n, CAST(n AS DOUBLE) AS nd, s1, s2, sy, s11, s12, s22,
        |    s1y, s2y, syy,
        |    CAST(n AS DOUBLE) * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s12 - s11 * s2) AS det,
        |    sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
        |      + s2 * (s1y * s12 - s11 * s2y) AS det0,
        |    CAST(n AS DOUBLE) * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
        |      + s2 * (s1 * s2y - s1y * s2) AS det1,
        |    CAST(n AS DOUBLE) * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
        |      + sy * (s1 * s12 - s11 * s2) AS det2
        |  FROM m),
        |b AS (SELECT n, nd, sy, s1y, s2y, syy,
        |    CASE WHEN det <> 0 THEN det0 / det END AS b0,
        |    CASE WHEN det <> 0 THEN det1 / det END AS b1,
        |    CASE WHEN det <> 0 THEN det2 / det END AS b2,
        |    det FROM d)
        |SELECT n, round(b0, 6) + 0.0 AS b0, round(b1, 6) + 0.0 AS b1,
        |  round(b2, 6) + 0.0 AS b2,
        |  round(CASE WHEN det <> 0 AND (syy - sy * sy / nd) > 0
        |    THEN CAST(1.0 AS DOUBLE) - (syy - b0 * sy - b1 * s1y - b2 * s2y)
        |      / (syy - sy * sy / nd) END, 6) + 0.0 AS r2
        |FROM b""".stripMargin,

    // split-conformal replay: train-split OLS sums in exact DECIMAL with
    // the q_stats_linreg formula DAG, conformity scores on the calib
    // split, the k-th order statistic at exact-integer rank
    // ((n+1)*9+9)//10, realized coverage on the test split
    "q_ml_conformal" ->
      """WITH tr AS (SELECT CAST(count(*) AS BIGINT) AS n_train,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS DOUBLE) AS sxy
        |  FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_orderkey % 10 < 6),
        |p AS (SELECT n_train,
        |    (CAST(n_train AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n_train AS DOUBLE) * sxx - sx * sx) AS m,
        |    (sy - ((CAST(n_train AS DOUBLE) * sxy - sx * sy)
        |      / (CAST(n_train AS DOUBLE) * sxx - sx * sx)) * sx)
        |      / CAST(n_train AS DOUBLE) AS b
        |  FROM tr),
        |cal AS (SELECT abs(CAST(l_extendedprice AS DOUBLE)
        |      - (p.b + p.m * CAST(l_quantity AS DOUBLE))) AS r
        |  FROM lineitem, p
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_orderkey % 10 IN (6, 7)),
        |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_calib FROM cal),
        |rk AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal),
        |qv AS (SELECT min(r) AS q FROM rk, nc
        |  WHERE rn >= ((n_calib + 1) * 9 + 9) // 10),
        |tst AS (SELECT abs(CAST(l_extendedprice AS DOUBLE)
        |      - (p.b + p.m * CAST(l_quantity AS DOUBLE))) AS r
        |  FROM lineitem, p
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |    AND l_orderkey % 10 >= 8)
        |SELECT p.n_train, nc.n_calib, CAST(count(*) AS BIGINT) AS n_test,
        |  round(p.m, 6) + 0.0 AS slope, round(p.b, 6) + 0.0 AS intercept,
        |  round(qv.q, 6) + 0.0 AS q,
        |  CAST(count_if(qv.q IS NULL OR tst.r <= qv.q) AS BIGINT) AS covered,
        |  round(CAST(count_if(qv.q IS NULL OR tst.r <= qv.q) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 6) AS coverage
        |FROM tst, p, nc, qv
        |GROUP BY p.n_train, nc.n_calib, p.m, p.b, qv.q""".stripMargin,

    // AUC replay: the same Mann–Whitney identity — per-distinct-score
    // (count, positives), cumulative counts in score order, exact-integer
    // 2·rank-sum in HUGEINT, same final double division DAG
    "q_ml_auc" ->
      """WITH b AS (SELECT CAST(embedding[1] AS DOUBLE) AS s,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |pv AS (SELECT s, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(y) AS BIGINT) AS p FROM b GROUP BY 1),
        |cs AS (SELECT s, c, p, sum(c) OVER (ORDER BY s) AS cum FROM pv),
        |f AS (SELECT sum(CAST(p AS HUGEINT) * (2 * cum - c + 1)) AS r2,
        |    CAST(sum(p) AS HUGEINT) AS np, CAST(sum(c - p) AS HUGEINT) AS nn
        |  FROM cs)
        |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
        |  round((CAST(r2 - np * (np + 1) AS DOUBLE) / 2.0)
        |    / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)), 6) + 0.0 AS auc
        |FROM f""".stripMargin,

    // log-rank replay: same per-subject durations, same bounded day
    // table with suffix at-risk sums, same fixed-point 1e9 E/V terms
    "q_events_logrank" ->
      """WITH per AS (SELECT user_id AS u,
        |    min(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS st,
        |    min(CASE WHEN event_type = 'purchase'
        |      THEN CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) END) AS conv
        |  FROM events GROUP BY 1),
        |h AS (SELECT max(CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)) AS fin FROM events),
        |dur AS (SELECT u, u % 2 = 1 AS g,
        |    CAST(CASE WHEN conv IS NOT NULL THEN conv - st ELSE fin - st END AS BIGINT) AS t,
        |    conv IS NOT NULL AS converted
        |  FROM per CROSS JOIN h),
        |byday AS (SELECT t,
        |    CAST(sum(CASE WHEN NOT g AND converted THEN 1 ELSE 0 END) AS BIGINT) AS d1,
        |    CAST(sum(CASE WHEN g AND converted THEN 1 ELSE 0 END) AS BIGINT) AS d2,
        |    CAST(sum(CASE WHEN NOT g AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN g AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS c2
        |  FROM dur GROUP BY 1),
        |ar AS (SELECT t, d1, d2,
        |    CAST(sum(d1 + c1) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n1,
        |    CAST(sum(d2 + c2) OVER (ORDER BY t DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n2
        |  FROM byday),
        |ev AS (SELECT d1, d2, n1, n2, n1 + n2 AS n, d1 + d2 AS d FROM ar
        |  WHERE d1 + d2 > 0),
        |terms AS (SELECT d1,
        |    CAST(floor(CAST(d AS DOUBLE) * CAST(n1 AS DOUBLE)
        |      / CAST(n AS DOUBLE) * 1e9) AS BIGINT) AS e9,
        |    CAST(floor(CASE WHEN n > 1 THEN CAST(d AS DOUBLE)
        |        * (CAST(n1 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(n2 AS DOUBLE) / CAST(n AS DOUBLE))
        |        * CAST(n - d AS DOUBLE) / CAST(n - 1 AS DOUBLE)
        |      ELSE CAST(0.0 AS DOUBLE) END * 1e9) AS BIGINT) AS v9
        |  FROM ev),
        |agg AS (SELECT CAST(sum(d1) AS BIGINT) AS o1,
        |    sum(CAST(e9 AS HUGEINT)) AS e9s,
        |    sum(CAST(v9 AS HUGEINT)) AS v9s FROM terms),
        |tot AS (SELECT CAST(sum(CASE WHEN NOT g THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |    CAST(sum(CASE WHEN g THEN 1 ELSE 0 END) AS BIGINT) AS n_b FROM dur)
        |SELECT n_a, n_b, o1,
        |  round(CAST(e9s AS DOUBLE) / 1e9, 6) + 0.0 AS e1,
        |  round(CASE WHEN v9s > 0 THEN
        |    (CAST(o1 AS DOUBLE) - CAST(e9s AS DOUBLE) / 1e9)
        |      * (CAST(o1 AS DOUBLE) - CAST(e9s AS DOUBLE) / 1e9)
        |      / (CAST(v9s AS DOUBLE) / 1e9) END, 6) + 0.0 AS chi2
        |FROM tot CROSS JOIN agg""".stripMargin,

    // langid confusion replay: the guess CTEs joined back to the labeled
    // lang column, exact counts
    "q_text_langid_confusion" -> langIdConfusionSql,

    // DiD replay: same integer day split, same four fixed-point cells,
    // same subtraction DAG
    "q_stats_did" ->
      """WITH e AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT)
        |    AS day, user_id, value
        |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
        |mm AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |b AS (SELECT user_id % 2 = 1 AS t, day >= (lo + hi) // 2 AS p,
        |    CAST(CAST(floor(CAST(value AS DOUBLE) * 1e6) AS BIGINT) AS HUGEINT)
        |      AS v6
        |  FROM e CROSS JOIN mm),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_pre,
        |    CAST(sum(CASE WHEN t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_treat_post,
        |    CAST(sum(CASE WHEN NOT t AND NOT p THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_pre,
        |    CAST(sum(CASE WHEN NOT t AND p THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl_post,
        |    sum(CASE WHEN t AND NOT p THEN v6 ELSE 0 END) AS s_tp0,
        |    sum(CASE WHEN t AND p THEN v6 ELSE 0 END) AS s_tp1,
        |    sum(CASE WHEN NOT t AND NOT p THEN v6 ELSE 0 END) AS s_cp0,
        |    sum(CASE WHEN NOT t AND p THEN v6 ELSE 0 END) AS s_cp1
        |  FROM b)
        |SELECT n_treat_pre, n_treat_post, n_ctrl_pre, n_ctrl_post,
        |  round(CAST(s_tp0 AS DOUBLE) / 1e6 / CAST(n_treat_pre AS DOUBLE), 6)
        |    + 0.0 AS mean_treat_pre,
        |  round(CAST(s_tp1 AS DOUBLE) / 1e6 / CAST(n_treat_post AS DOUBLE), 6)
        |    + 0.0 AS mean_treat_post,
        |  round(CAST(s_cp0 AS DOUBLE) / 1e6 / CAST(n_ctrl_pre AS DOUBLE), 6)
        |    + 0.0 AS mean_ctrl_pre,
        |  round(CAST(s_cp1 AS DOUBLE) / 1e6 / CAST(n_ctrl_post AS DOUBLE), 6)
        |    + 0.0 AS mean_ctrl_post,
        |  round((CAST(s_tp1 AS DOUBLE) / 1e6 / CAST(n_treat_post AS DOUBLE)
        |      - CAST(s_tp0 AS DOUBLE) / 1e6 / CAST(n_treat_pre AS DOUBLE))
        |    - (CAST(s_cp1 AS DOUBLE) / 1e6 / CAST(n_ctrl_post AS DOUBLE)
        |      - CAST(s_cp0 AS DOUBLE) / 1e6 / CAST(n_ctrl_pre AS DOUBLE)), 6)
        |    + 0.0 AS did
        |FROM g""".stripMargin,

    // ABC replay: descending cumulative with ties-inclusive RANGE frame
    // (≡ the engine's value-collapsed weighted CDF), same share DAG and
    // unrounded thresholds
    "q_part_abc" ->
      """WITH pp AS (SELECT l_partkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS rev
        |  FROM lineitem GROUP BY 1),
        |c AS (SELECT l_partkey, rev,
        |    sum(rev) OVER (ORDER BY rev DESC
        |      RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(rev) OVER () AS tot
        |  FROM pp)
        |SELECT l_partkey, round(CAST(rev AS DOUBLE), 6) + 0.0 AS revenue,
        |  round(CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0.0 AS cum_share,
        |  CASE WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.8 THEN 'A'
        |       WHEN CAST(cum AS DOUBLE) / CAST(tot AS DOUBLE) <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c ORDER BY l_partkey""".stripMargin,

    // retract replay: (base − deletes + inserts) = the direct WHERE —
    // exact DECIMAL sums so maintained state ≡ recompute bit-for-bit
    "q_agg_retract" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(24,2))) AS DOUBLE) AS sum_v
        |FROM orders
        |WHERE o_orderkey % 7 = 0 OR o_orderkey % 5 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // bootstrap replay: same one-md5-per-row bit-slice membership
    // (replicate b keeps rows whose hash bit b is 0), same fixed-point
    // replicate means, same rank-2/59 percentile interval with the
    // replicate-id tie-break
    "q_stats_bootstrap" ->
      """WITH base AS (SELECT CAST(l_extendedprice AS DOUBLE) AS v,
        |    CAST(('0x' || substr(md5(concat_ws('_', CAST(l_orderkey AS VARCHAR),
        |      CAST(l_linenumber AS VARCHAR), CAST(l_partkey AS VARCHAR))),
        |      1, 15)) AS BIGINT) AS h
        |  FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |reps AS (SELECT unnest(generate_series(0, 59)) AS b),
        |picked AS (SELECT b, v FROM base CROSS JOIN reps
        |  WHERE (h // CAST(power(2, b) AS BIGINT)) % 2 = 0),
        |means AS (SELECT b,
        |    CAST(sum(CAST(CAST(floor(v * 1e6) AS BIGINT) AS HUGEINT)) AS DOUBLE)
        |      / 1e6 / CAST(count(*) AS DOUBLE) AS m
        |  FROM picked GROUP BY 1),
        |ranked AS (SELECT m, row_number() OVER (ORDER BY m, b) AS r FROM means),
        |ci AS (SELECT max(CASE WHEN r = 2 THEN m END) AS lo,
        |    max(CASE WHEN r = 59 THEN m END) AS hi FROM ranked),
        |o AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CAST(CAST(floor(v * 1e6) AS BIGINT) AS HUGEINT)) AS DOUBLE)
        |      / 1e6 / CAST(count(*) AS DOUBLE) AS mean FROM base)
        |SELECT n, round(mean, 6) + 0.0 AS mean, round(lo, 6) + 0.0 AS lo95,
        |  round(hi, 6) + 0.0 AS hi95
        |FROM o CROSS JOIN ci""".stripMargin,

    // Wilson replay: same exact counts, same z = 1.96 literal DAG
    "q_stats_wilson" ->
      """WITH per AS (SELECT source AS "group", CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN n_chars > 300 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_pos
        |  FROM documents GROUP BY 1),
        |f AS (SELECT "group", n, n_pos,
        |    CAST(n AS DOUBLE) AS nd, CAST(n_pos AS DOUBLE) AS x,
        |    CAST(1.96 AS DOUBLE) AS z FROM per),
        |g AS (SELECT "group", n, n_pos, nd, x, z, x / nd AS p,
        |    (x / nd + z * z / (CAST(2.0 AS DOUBLE) * nd))
        |      / (CAST(1.0 AS DOUBLE) + z * z / nd) AS center,
        |    (z * sqrt(x / nd * (CAST(1.0 AS DOUBLE) - x / nd) / nd
        |        + z * z / (CAST(4.0 AS DOUBLE) * nd * nd)))
        |      / (CAST(1.0 AS DOUBLE) + z * z / nd) AS half
        |  FROM f)
        |SELECT "group", n, n_pos, round(p, 6) + 0.0 AS p,
        |  round(center - half, 6) + 0.0 AS lo95,
        |  round(center + half, 6) + 0.0 AS hi95
        |FROM g ORDER BY "group"""".stripMargin,

    // kappa replay: same four exact counts, same marginal-product pe DAG
    "q_ml_kappa" ->
      """WITH b AS (SELECT CAST(embedding[1] AS DOUBLE) >= 0.0 AS a,
        |    label >= 5 AS bb FROM embeddings),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN a AND bb THEN 1 ELSE 0 END) AS BIGINT) AS pp,
        |    CAST(sum(CASE WHEN a AND NOT bb THEN 1 ELSE 0 END) AS BIGINT) AS pn,
        |    CAST(sum(CASE WHEN NOT a AND bb THEN 1 ELSE 0 END) AS BIGINT) AS np,
        |    CAST(sum(CASE WHEN NOT a AND NOT bb THEN 1 ELSE 0 END) AS BIGINT) AS nn
        |  FROM b),
        |d AS (SELECT pp, pn, np, nn,
        |    CAST(pp AS DOUBLE) + CAST(pn AS DOUBLE) + CAST(np AS DOUBLE)
        |      + CAST(nn AS DOUBLE) AS n FROM g),
        |f AS (SELECT pp + nn AS n_agree, pp + pn + np + nn AS n_total,
        |    (CAST(pp AS DOUBLE) + CAST(nn AS DOUBLE)) / n AS po,
        |    ((CAST(pp AS DOUBLE) + CAST(pn AS DOUBLE))
        |        * (CAST(pp AS DOUBLE) + CAST(np AS DOUBLE))
        |      + (CAST(np AS DOUBLE) + CAST(nn AS DOUBLE))
        |        * (CAST(pn AS DOUBLE) + CAST(nn AS DOUBLE))) / (n * n) AS pe
        |  FROM d)
        |SELECT n_agree, n_total, round(po, 6) + 0.0 AS po,
        |  round(pe, 6) + 0.0 AS pe,
        |  round(CASE WHEN pe < 1.0 THEN (po - pe)
        |    / (CAST(1.0 AS DOUBLE) - pe) END, 6) + 0.0 AS kappa
        |FROM f""".stripMargin,

    // collision-audit replay: same md5-slice bucket, distinct vocabulary,
    // histogram + the computed 0-terms row (Σ n_buckets = dim)
    "q_text_hashtf_collisions" ->
      (s"""WITH v AS (SELECT DISTINCT unnest($toks) AS term FROM documents),
         |pb AS (SELECT CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 64
         |    AS bucket, CAST(count(*) AS BIGINT) AS t
         |  FROM v GROUP BY 1),
         |h AS (SELECT t AS terms_in_bucket, CAST(count(*) AS BIGINT) AS n_buckets
         |  FROM pb GROUP BY 1),
         |z AS (SELECT CAST(0 AS BIGINT) AS terms_in_bucket,
         |    64 - CAST(count(*) AS BIGINT) AS n_buckets FROM pb
         |  HAVING 64 - count(*) > 0)
         |SELECT * FROM (SELECT * FROM h UNION ALL SELECT * FROM z)
         |ORDER BY terms_in_bucket""".stripMargin),

    // confusion replay: same four conditional counts and guarded rates
    "q_ml_confusion" ->
      """WITH b AS (SELECT CAST(embedding[1] AS DOUBLE) >= 0.0 AS p,
        |    label >= 5 AS y FROM embeddings),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN p AND y THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        |    CAST(sum(CASE WHEN p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        |    CAST(sum(CASE WHEN NOT p AND NOT y THEN 1 ELSE 0 END) AS BIGINT) AS tn,
        |    CAST(sum(CASE WHEN NOT p AND y THEN 1 ELSE 0 END) AS BIGINT) AS fn
        |  FROM b)
        |SELECT tp, fp, tn, fn,
        |  round(CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)
        |    / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)) END, 6) + 0.0 AS precision,
        |  round(CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)
        |    / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)) END, 6) + 0.0 AS recall,
        |  round(CASE WHEN tp > 0 THEN
        |    CAST(2 AS DOUBLE) * (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)))
        |      * (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE)))
        |      / (CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE))
        |        + CAST(tp AS DOUBLE) / (CAST(tp AS DOUBLE) + CAST(fn AS DOUBLE))) END, 6)
        |    + 0.0 AS f1,
        |  round((CAST(tp AS DOUBLE) + CAST(tn AS DOUBLE))
        |    / (CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)
        |      + CAST(tn AS DOUBLE) + CAST(fn AS DOUBLE)), 6) + 0.0 AS accuracy
        |FROM g""".stripMargin,

    // coverage-curve replay: same token mass ranking + running share
    "q_docs_source_coverage" ->
      (s"""WITH t AS (SELECT source,
         |    CAST(sum(len($toks)) AS BIGINT) AS tokens
         |  FROM documents GROUP BY 1),
         |tot AS (SELECT CAST(sum(tokens) AS BIGINT) AS tt FROM t),
         |r AS (SELECT source, tokens,
         |    CAST(row_number() OVER (ORDER BY tokens DESC, source) AS INTEGER) AS rank,
         |    sum(tokens) OVER (ORDER BY tokens DESC, source
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM t)
         |SELECT rank, source, tokens,
         |  round(CAST(tokens AS DOUBLE) / CAST(tt AS DOUBLE), 6) + 0.0 AS share,
         |  round(CAST(cum AS DOUBLE) / CAST(tt AS DOUBLE), 6) + 0.0 AS cum_share
         |FROM r CROSS JOIN tot ORDER BY rank""".stripMargin),

    // calibration replay: same numpy bin-edge rule (max clamps into the
    // last bin, degenerate range -> bin 0), integer positive counts,
    // fixed-point 1e9 score sums, same final divisions
    "q_ml_calibration" ->
      """WITH b AS (SELECT CAST(embedding[1] AS DOUBLE) AS s,
        |    CASE WHEN label >= 5 THEN 1 ELSE 0 END AS y FROM embeddings),
        |mm AS (SELECT min(s) AS lo, max(s) AS hi FROM b),
        |bb AS (SELECT CASE WHEN hi = lo THEN 0
        |    ELSE least(CAST(floor((s - lo) / ((hi - lo) / 10.0)) AS BIGINT), 9)
        |  END AS bin, s, y FROM b CROSS JOIN mm),
        |g AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    sum(CAST(CAST(floor(s * 1e9) AS BIGINT) AS HUGEINT)) AS s9
        |  FROM bb GROUP BY 1)
        |SELECT bin, n, n_pos,
        |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) + 0.0 AS frac_pos,
        |  round(CAST(s9 AS DOUBLE) / 1e9 / CAST(n AS DOUBLE), 6) + 0.0 AS mean_score
        |FROM g ORDER BY bin""".stripMargin,

    // WOE replay: identical +0.5-smoothed ln-odds-ratio and IV-term double
    // DAG from the same exact integer counts
    "q_p9_woe" ->
      """WITH b AS (SELECT o_orderpriority AS category,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y FROM orders),
        |per AS (SELECT category, CAST(sum(y) AS BIGINT) AS n_pos,
        |    CAST(sum(1 - y) AS BIGINT) AS n_neg FROM b GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tp,
        |    CAST(sum(n_neg) AS BIGINT) AS tn FROM per)
        |SELECT category, n_pos, n_neg,
        |  round(ln(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(tp AS DOUBLE))
        |    / ((CAST(n_neg AS DOUBLE) + 0.5) / CAST(tn AS DOUBLE))), 6) + 0.0 AS woe,
        |  round(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(tp AS DOUBLE)
        |      - (CAST(n_neg AS DOUBLE) + 0.5) / CAST(tn AS DOUBLE))
        |    * ln(((CAST(n_pos AS DOUBLE) + 0.5) / CAST(tp AS DOUBLE))
        |      / ((CAST(n_neg AS DOUBLE) + 0.5) / CAST(tn AS DOUBLE))), 6) + 0.0
        |    AS iv_term
        |FROM per CROSS JOIN tot ORDER BY category""".stripMargin
  )
}
