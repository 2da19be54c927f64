package graft

import java.nio.file.{Files, Paths}

/** Golden plan-shape snapshots for the most expensive registered queries.
  *
  * The r13 postmortem: two structural regressions (hash aggregates
  * dropping out of whole-stage codegen above ~100 fields; a fan-out
  * exchange silently not firing) were only caught as bench surprises.
  * This spec freezes the STRUCTURE of each expensive query's physical
  * plan — shuffle-exchange count, broadcast-exchange count, codegen-span
  * count — against a checked-in snapshot, so the next
  * repartition(1)-class or codegen-cliff regression is a red test with a
  * named query instead of a slow number three rounds later.
  *
  * Counts come from a TREE walk of the executedPlan (the AQE wrapper
  * unwrapped to its current — initial, nothing executed — plan). A tree
  * walk, not the plan STRING: the string renders the full cached child
  * plan under every InMemoryTableScan, so a query consuming a pinned
  * artifact (graft.Caches.pinned) would count the shared build subtree
  * — whose printed form depends on whether an earlier suite in the same
  * JVM already materialized it — while in the TREE a cached scan is a
  * leaf, making the counts a property of the query's OWN plan only.
  * Same session config (local[4], shuffle.partitions=4), same data dir
  * (sf0.001) ⇒ deterministic. Value changes are not forbidden — a plan
  * IMPROVEMENT legitimately changes counts; regenerate with
  * GRAFT_REGEN_PLAN_SHAPES=1 sbt "testOnly graft.PlanShapeSpec" and
  * review the diff like any other golden-file change.
  */
class PlanShapeSpec extends SparkSpec {

  private val SfDir = "/root/testdata/sf0.001"
  private val SnapshotPath = Paths.get("src/test/resources/plan_shapes.tsv")

  /** Top-50 of the r13 driver bench by steady seconds, minus the two
    * driver-side ML fits (model training at plan-build time — minutes of
    * work for a structure check), plus every r14 operator — the queries
    * where a silent plan-shape regression costs the most.
    */
  private val Tracked: Seq[String] = Seq(
    "q_dedup_minhash_capped", "q_dedup_minhash", "q_llm_pipeline",
    "q_graph_hits", "q_filter_topdecile", "q_pipeline",
    "q_graph_assortativity", "q_dedup_incremental", "q_graph_pagerank",
    "q_curation_pipeline", "q_dsir_select", "q_p7_robust", "q_c1_coerce",
    "q_quality_classifier", "q_dedup_containment", "q_window_rollcorr",
    "q_c6_describe", "q_c6_describe_group", "q_p3_winsorize", "q_bucketize",
    "q_stats_bootstrap", "q_split_bycluster", "q_graph_degrees",
    "q_quality_c2st", "q_window_rollmed", "q_graph_lpa", "q_harmonize_qnorm",
    "q_stats_trimmed", "q_basket_pairs", "q_graph_bfs", "q_dsir_weights",
    "q_dedup_jaccard_prefix", "q_dedup_lsh_recall", "q_c3_interpolate",
    "q_p1_zscore", "q_audio_band_power", "q_dedup_apply",
    "q_graph_clustering", "q_link_fs_score", "q_outlier_mad", "q_p6_minmax",
    "q_text_bpe_segment", "q_join_sizeest", "q_audio_frame_energy",
    "q_graph_kcore", "q_c5b_drop_const", "q_graph_triangles", "q_part_abc",
    "q_link_blocking_audit", "q_tpch_q21",
    // r14 additions — cover the round's new operators from day one
    "q_sim_hnsw_search", "q_sim_hnsw_recall", "q_s11_avro_dsv2",
    "q_merge_timetravel", "q_layout_zonemap", "q_link_fuzzy_trigram",
    "q_retrieval_ndcg", "q_retrieval_bm25_batch",
    // r15 additions: the new operators, the TPC-H plan-test family (their
    // pushed-filter counts now live in THIS golden file — the single
    // audit surface, per the r14 verdict), and the bucketed join (whose
    // golden shuffle count embeds exchange-ZERO for the join itself:
    // only the post-join aggregate + order may exchange — 2 — so a
    // join-side shuffle regression bumps the count and goes red)
    "q_s11_avro_pushdown", "q_sim_knn_insert",
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q6", "q_tpch_q19",
    "q_layout_bucketed",
    // r15 late additions: the round's second operator wave
    "q_sim_knn_mutual", "q_ml_conformal", "q_stats_theilsen",
    "q_text_viterbi_segment", "q_join_interval",
    "q_outlier_hbos", "q_stats_chi2", "q_stats_kendall",
    "q_events_holtwinters", "q_graph_harmonic",
    // r16 additions: the straggler the r15 verdict flagged as missing,
    // plus the multi-boundary compaction whose shape changed this round
    "q_quality_freshness", "q_merge_log_compact",
    // r16 second wave: the new source features and analytics operators
    "q_s16_avro_agg", "q_s17_avro_bloom", "q_split_kfold",
    "q_privacy_dpcount", "q_events_backtest", "q_stats_logo",
    "q_sim_knn_classify", "q_s18_avro_partition", "q_s19_avro_group_agg",
    "q_ml_cv_linreg", "q_s20_avro_stats_join", "q_text_keyness",
    "q_stats_welch", "q_text_burstiness",
    // r17 additions: the storage-partitioned join (golden embeds the
    // exchange-ZERO join — only the final orderBy may exchange) and the
    // SUM metadata pushdown (golden embeds zero scans/shuffles)
    "q_s21_avro_spj", "q_s22_avro_sum_agg", "q_s26_avro_spj_agg",
    "q_s27_avro_block_skip", "q_s28_avro_prefix_skip",
    // r18 additions: the COW row delete (golden pins the post-delete
    // aggregate still reading through pushed filters), the clustered
    // write probe, compaction execution, the SQL-catalog round trip,
    // and the two-level ANN serve tier
    "q_s29_avro_row_delete", "q_s30_avro_clustered_write",
    "q_s31_avro_row_update",
    "q_layout_compact_exec", "q_sql_avro_catalog",
    "q_sim_index_serve", "q_sim_hnsw2_search", "q_sim_hnsw2_recall",
    // r19 additions: SQL UPDATE / MERGE through the group-based COW
    // (goldens pin the post-mutation aggregate's shape), the versioned
    // snapshot read and the signed change feed
    "q_sql_avro_update", "q_sql_avro_merge",
    "q_s32_avro_snapshot", "q_s33_avro_changes", "q_s34_avro_sorted_join",
    "q_sim_hnsw2_insert",
    // every other caller of the fused fill kernel (Clean.interpolate/ffill),
    // next to q_pipeline and q_c3_interpolate above
    "q_c4_ffill", "q_resample_interp",
    // the label encoder's checkpointed code table
    "q_p2_label_encode")

  private case class Shape(shuffles: Int, broadcasts: Int, codegenSpans: Int,
      pushedFilters: Int) {
    def tsv: String = s"$shuffles\t$broadcasts\t$codegenSpans\t$pushedFilters"
  }

  private def shapeOf(root: org.apache.spark.sql.execution.SparkPlan): Shape = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.execution.{FileSourceScanExec, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    var shuffles = 0; var broadcasts = 0; var codegen = 0; var pushed = 0
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan); return
        case q: QueryStageExec => walk(q.plan); return
        case _: ShuffleExchangeExec => shuffles += 1
        case _: BroadcastExchangeExec => broadcasts += 1
        case _: WholeStageCodegenExec => codegen += 1
        // pushed-down data filters at the scans: a filter that silently
        // stops reaching the scan drops the count and goes red.
        // (pushedDownFilters itself is protected; the public metadata
        // renders it as "[f1, f2, …]" — counted bracket-aware so commas
        // inside In(...) value lists don't inflate the count)
        case f: FileSourceScanExec =>
          val s = f.metadata.getOrElse("PushedFilters", "[]").trim
            .stripPrefix("[").stripSuffix("]").trim
          if (s.nonEmpty) {
            var depth = 0; var n = 1
            s.foreach {
              case '(' | '[' => depth += 1
              case ')' | ']' => depth -= 1
              case ',' if depth == 0 => n += 1
              case _ =>
            }
            pushed += n
          }
        case b: BatchScanExec => b.scan match {
          case a: graft.sources.AvroScan => pushed += a.pushed.length
          case _ =>
        }
        case _ =>
      }
      // children only: InMemoryTableScan keeps its cached plan out of
      // `children`, so pinned-artifact subtrees never enter the counts
      p.children.foreach(walk)
    }
    walk(root)
    Shape(shuffles, broadcasts, codegen, pushed)
  }

  private def currentShapes(): Seq[(String, Shape)] =
    Tracked.map { name =>
      // the scope drops per-query registered intermediates
      val s = Caches.scoped {
        val qe = SparkEntry.queries(name)(spark, SfDir).queryExecution
        // EXECUTE (sf0.001 — cheap) and count the FINAL adaptive plan:
        // whole-stage codegen is only inserted per stage at materialization,
        // so the unexecuted AQE plan reports 0 codegen spans and the r13
        // >100-agg-fields codegen cliff would be invisible to the snapshot
        qe.toRdd.foreach(_ => ())
        shapeOf(qe.executedPlan)
      }
      name -> s
    }

  test("plan shapes match the checked-in snapshot") {
    val current = currentShapes()
    if (sys.env.get("GRAFT_REGEN_PLAN_SHAPES").contains("1")) {
      val body = current
        .map { case (n, s) => s"$n\t${s.tsv}" }.mkString("", "\n", "\n")
      Files.createDirectories(SnapshotPath.getParent)
      Files.writeString(SnapshotPath, body)
      info(s"regenerated ${SnapshotPath} (${current.size} queries)")
    } else {
      assert(Files.exists(SnapshotPath),
        s"missing $SnapshotPath — run with GRAFT_REGEN_PLAN_SHAPES=1 once")
      val golden = Files.readString(SnapshotPath).split('\n')
        .filter(_.nonEmpty).map { line =>
          val Array(n, sh, br, cg, pf) = line.split('\t')
          n -> Shape(sh.toInt, br.toInt, cg.toInt, pf.toInt)
        }.toMap
      val diffs = current.flatMap { case (n, s) =>
        golden.get(n) match {
          case None => Some(s"$n: not in snapshot (regenerate)")
          case Some(g) if g != s =>
            Some(s"$n: golden shuffles=${g.shuffles} broadcasts=${g.broadcasts} " +
              s"codegen=${g.codegenSpans} pushed=${g.pushedFilters} vs " +
              s"current shuffles=${s.shuffles} broadcasts=${s.broadcasts} " +
              s"codegen=${s.codegenSpans} pushed=${s.pushedFilters}")
          case _ => None
        }
      }
      assert(diffs.isEmpty,
        "plan-shape drift (improvement? regenerate the snapshot; " +
          "regression? fix the plan):\n" + diffs.mkString("\n"))
    }
  }

  test("the pushed-filter counter is live on both scan kinds") {
    // the column must count real pushdown (v1 parquet scan and the DSv2
    // Avro scan) — a zero here would mean the audit surface went blind
    Seq("q_tpch_q6", "q_s11_avro_pushdown").foreach { n =>
      val s = Caches.scoped {
        val qe = SparkEntry.queries(n)(spark, SfDir).queryExecution
        qe.toRdd.foreach(_ => ())
        shapeOf(qe.executedPlan)
      }
      assert(s.pushedFilters > 0, s"$n: no pushed filters counted")
    }
  }

  test("the counter flags an injected single-partition exchange") {
    val (good, bad) = Caches.scoped {
      val base = SparkEntry.queries("q_c1_coerce")(spark, SfDir)
      (shapeOf(base.queryExecution.executedPlan),
        shapeOf(base.repartition(1).queryExecution.executedPlan))
    }
    assert(bad.shuffles > good.shuffles,
      s"repartition(1) must surface as an extra exchange: $good vs $bad")
  }
}
