package graft

/** Generates OPERATORS.md — the user-facing operator index — from the
  * [[SparkEntry]] registry itself, so the document cannot drift from the
  * code: OperatorIndexSpec fails the build whenever the committed file
  * differs from what the current registry renders. Regenerate with
  * `sbt 'runMain graft.OperatorIndex'`.
  */
object OperatorIndex {

  /** Streaming dual ("Object.method") -> its registered batch twin.
    * Single source of truth: DualTwinInvariantSpec enforces that every
    * public streaming transform appears here (or in [[streamingInfra]])
    * and that the twin exists; the index renders the inverse mapping as
    * each query's "streaming dual" column. */
  val streamingTwinOf: Map[String, String] = Map(
    "StreamingPipelines.parseCsvLines" -> "p1_parse_props",
    "StreamingPipelines.parseCsvQuarantine" -> "p1_parse_props",
    "StreamingPipelines.windowCount" -> "a1_window_count_5m",
    "StreamingPipelines.slidingCount" -> "w2_sliding_count",
    "StreamingPipelines.ddQuantilesStream" -> "q_dd_quantiles",
    "StreamingPipelines.hllDistinctStream" -> "q_hll_distinct",
    "StreamingPipelines.sessionCount" -> "w3_session_window",
    "StreamingPipelines.runningSum" -> "a2_running_sum",
    "StreamingPipelines.multiAgg" -> "a3_multi_agg",
    "StreamingPipelines.userActionWindowCount" -> "a4_user_action_window",
    "StreamingPipelines.dedupWithinWatermark" -> "d_exact_dedup",
    "StreamingPipelines.curateDocs" -> "d_curate_corpus",
    "StreamingPipelines.gopherRules" -> "t_gopher_rules",
    "StreamingPipelines.codeDetect" -> "t_code_detect",
    "StreamingPipelines.dsirScore" -> "t_dsir_score",
    "StreamingPipelines.abttApply" -> "e_abtt_project",
    "StreamingPipelines.sourceKl" -> "t_source_kl",
    "StreamingPipelines.dupSpanCalibrate" -> "d_dup_span_coverage",
    "StreamingPipelines.dupSpanStream" -> "d_dup_span_coverage",
    "StreamingPipelines.mediaNeardupCalibrate" -> "m_media_neardup",
    "StreamingPipelines.mediaNeardupStream" -> "m_media_neardup",
    "StreamingPipelines.mediaKeeperCalibrate" -> "m_media_dedup_groups",
    "StreamingPipelines.mediaKeeperStream" -> "m_media_dedup_groups",
    "StreamingPipelines.dupSpanRewriteCalibrate" -> "d_dup_span_rewrite",
    "StreamingPipelines.dupSpanRewriteStream" -> "d_dup_span_rewrite",
    "StreamingPipelines.rollingActives" -> "a14_rolling_dau",
    "StreamingPipelines.streamingKnn" -> "e_knn_brute",
    "StreamingPipelines.decontaminate" -> "d_decontaminate",
    "StreamingPipelines.embedDecontaminate" -> "d_embed_decontaminate",
    "StreamingPipelines.perplexityBand" -> "d_perplexity_band",
    "StreamingPipelines.bpeTokenizeStream" -> "t_bpe_tokenize",
    "StreamingPipelines.splitMain" -> "m1_split_main",
    "StreamingPipelines.splitSide" -> "m1_split_side",
    "StreamingPipelines.tagAndMerge" -> "m2_merge_union",
    "StreamingPipelines.staticEnrich" -> "q_broadcast_star",
    "StreamingPipelines.windowJoin" -> "j1_window_join",
    "StreamingPipelines.intervalJoin" -> "j3_interval_join",
    "StreamingPipelines.windowJoinOuter" -> "q_outer_join",
    "StreamingPipelines.slidingDdQuantilesPaneStream" -> "w2b_sliding_dd_pane",
    "StreamingPipelines.slidingTopkPaneStream" -> "w2d_sliding_topk_pane",
    "StreamingPipelines.slidingTopkCmsPaneStream" -> "w2e_sliding_cms_topk",
    "StreamingPipelines.ivfIngestAssign" -> "e_assign_confusion",
    "StreamingPipelines.ivfIngestDrift" -> "e_centroid_drift",
    "StatefulProcessors.funnelAdvances" -> "a9_funnel",
    "StatefulProcessors.sessionSummaries" -> "w3_session_window",
    "StatefulProcessors.heavyHitters" -> "q_cms_topk",
    "StatefulProcessors.topKPerKey" -> "q_topk_per_brand",
    "StatefulProcessors.packStream" -> "d_pack_sequences",
    "StatefulProcessors.quotaRouteStream" -> "d_source_quota",
    "StatefulProcessors.reservoirStream" -> "d_reservoir_sample",
    "StatefulProcessors.staircaseWindows" -> "w4_hour_window",
    "StatefulProcessors.staircaseWindowsByPartition" -> "w4_hour_window",
    "StatefulProcessors.nearestJoin" -> "j4_nearest_join",
    "StatefulProcessors.cepSequence" -> "x3_cep_sequence",
    "StatefulProcessors.cepNegation" -> "x4_cep_negation",
    "StatefulProcessors.cepTimes" -> "x5_cep_times",
    "StatefulProcessors.cepTimesRange" -> "x6_cep_times_range",
    "StatefulProcessors.cepOneOrMore" -> "x7_cep_one_or_more",
    "StatefulProcessors.cepSkipPast" -> "x8_cep_skip_past",
    "StatefulProcessors.cepSkipToNext" -> "x9_cep_skip_to_next",
    "StatefulProcessors.cepSkipToLast" -> "x10_cep_skip_to_last",
    "StatefulProcessors.cdcSnapshot" -> "q_cdc_apply",
    "StatefulProcessors.lastTouchCredits" -> "a21_last_touch",
    "StatefulOps.doubleEventAlerts" -> "x1_double_event_alert",
    "StatefulOps.sessionizeActions" -> "x2_sessionize")

  /** Streaming-side plumbing with no query semantics of its own (see
    * DualTwinInvariantSpec). */
  val streamingInfra: Set[String] = Set(
    "StreamingPipelines.csvFileSource",
    "StreamingPipelines.textFileSource",
    "StreamingPipelines.kafkaSource",
    "StreamingPipelines.withObservedMetrics",
    "StreamingPipelines.watermarked")

  /** One-line semantics for queries whose GQuery literal predates the
    * doc field. Spec-guarded both ways: every registry query must end up
    * with a nonempty doc, and an override for a query that now carries
    * its own doc — or no longer exists — fails the build (stale entry). */
  val docOverride: Map[String, String] = Map(
    "p3_filter" -> "Predicate filter over the event stream, pushed to the parquet scan.",
    "p5_format" -> "Date/string formatting projection (render-side map).",
    "m1_split_main" -> "Stream split, main branch: one predicate over the shared source.",
    "m1_split_side" -> "Stream split, side-output branch: the complementary predicate.",
    "m2_merge_union" -> "Heterogeneous connect/CoMap merge: project to a common schema + unionByName.",
    "a1_window_count_5m" -> "Global 5-minute tumbling window count.",
    "a2_running_sum" -> "Keyed running sum per user (prefix-sum window; one shuffle + in-partition sort).",
    "a2b_running_sum_salted" -> "a2 with daily salting: hot users spread across day buckets, offsets added back from a broadcast aggregate.",
    "a3_multi_agg" -> "Multi-aggregate reduce per event type: count, min(ts), max(ts).",
    "a4_user_action_window" -> "Composite-key (user, action) tumbling window count.",
    "w2_sliding_count" -> "Sliding window count (10 min window, 5 min slide); each row lands in size/slide windows.",
    "w3_session_window" -> "Keyed session window, 30-minute inactivity gap (gaps-and-islands in the oracle).",
    "w4_hour_window" -> "Event-time 1-hour tumbling window with count + sum payload.",
    "j1_window_join" -> "Windowed stream-stream join: clicks x purchases by user inside the same 10-minute window; the join key carries the window.",
    "j2_asof_join" -> "AS-OF join: each click to the latest prior purchase — tag + union + running last_value, one shuffle, no range join.",
    "x1_double_event_alert" -> "ValueState double-event detector: two errors per user within 6 h (lag window).",
    "x2_sessionize" -> "Two-slot sessionizer: previous action + elapsed time, state cleared by the logout class.",
    "q1_pricing_summary" -> "TPC-H Q1: lineitem pricing summary — flag/status aggregates in one scan.",
    "q2_min_cost_supplier" -> "TPC-H Q2: minimum-cost supplier per part via a min-join on the correlated cost.",
    "q3_top_orders" -> "TPC-H Q3: top unshipped orders by revenue (join + agg + TakeOrdered).",
    "q4_priority_count" -> "TPC-H Q4: order-priority counts for late-line orders (semi-join).",
    "q5_region_revenue" -> "TPC-H Q5: revenue per nation in a region — the 6-way broadcast-dim star join.",
    "q6_forecast_revenue" -> "TPC-H Q6: forecast revenue delta — pure scan-side filters + one aggregate.",
    "q7_volume_shipping" -> "TPC-H Q7: shipping volume between two nations by year.",
    "q8_market_share" -> "TPC-H Q8: national market share within a region by year (conditional ratio).",
    "q9_product_profit" -> "TPC-H Q9: product-line profit by nation and year (part-filtered multi-join).",
    "q10_returned_revenue" -> "TPC-H Q10: top customers by returned-item revenue.",
    "q11_important_parts" -> "TPC-H Q11: partsupp value concentration above a national share threshold (two-pass aggregate).",
    "q12_priority_lines" -> "TPC-H Q12: shipmode vs priority line counts for late commits.",
    "q13_cust_order_dist" -> "TPC-H Q13: customer-count distribution by order count (outer join + double aggregate).",
    "q14_promo_share" -> "TPC-H Q14: promo revenue share for one month (conditional aggregate ratio).",
    "q15_top_supplier" -> "TPC-H Q15: top supplier(s) by quarterly revenue (aggregate + max-match).",
    "q16_supplier_variety" -> "TPC-H Q16: supplier variety per part attribute set with anti-joined complaints.",
    "q17_small_qty_revenue" -> "TPC-H Q17: revenue from small-quantity lines vs each part's average (decorrelated per-part avg).",
    "q18_large_volume" -> "TPC-H Q18: large-volume orders above a summed-quantity threshold.",
    "q19_disjunctive_revenue" -> "TPC-H Q19: disjunctive bracket predicates folded into one join + aggregate.",
    "q20_excess_shippers" -> "TPC-H Q20: suppliers with excess stock of shipped parts (nested semi-joins).",
    "q21_waiting_supplier" -> "TPC-H Q21: suppliers whose lines alone were late on multi-supplier orders (exists + not-exists).",
    "q22_idle_balance" -> "TPC-H Q22: idle customers above the average positive balance, by phone prefix.",
    "q_anti_join" -> "Left-anti join (NOT EXISTS): customers with no orders.",
    "q_broadcast_star" -> "Broadcast star join over tiny dims: suppliers per region.",
    "q_count_distinct" -> "Exact distinct count per group — the oracle-checkable side of cardinality estimation.",
    "q_cube_orders" -> "CUBE over two dims: the full grouping-set lattice in one pass.",
    "q_distinct_pairs" -> "DISTINCT over a projected pair (set semantics beyond the reference's union).",
    "q_except_users" -> "EXCEPT: users with clicks but no purchases.",
    "q_intersect_users" -> "INTERSECT: users with both clicks and purchases.",
    "q_outer_join" -> "Left outer join with aggregation over the nullable side.",
    "q_percentiles" -> "Exact interpolated percentiles via distributed two-phase rank selection (no single reducer).",
    "q_pivot_status" -> "PIVOT on order status: one column per status, counts per priority (conditional aggregates).",
    "q_rollup_orders" -> "ROLLUP aggregation: per-group, per-prefix, and grand totals in one pass.",
    "q_semi_join" -> "Left-semi join (EXISTS): customers holding at least one big order.",
    "q_topk_per_brand" -> "Top-k per group via one window function — distributed, no global sort.",
    "q_window_suite" -> "Analytic-function suite: rank/dense_rank/lead/first_value over one window spec (one shuffle + one sort).")

  private val families: Seq[(String, String => Boolean)] = Seq(
    "Sources & projection" -> (n => n.startsWith("s")),
    "Parse / filter / format" -> (n => n.startsWith("p")),
    "Split & merge" -> (n => n.startsWith("m1") || n.startsWith("m2")),
    "Aggregations & analytics" -> (n => n.startsWith("a")),
    "Windows" -> (n => n.startsWith("w")),
    "Joins" -> (n => n.startsWith("j")),
    "CEP / stateful" -> (n => n.startsWith("x")),
    "Relational / TPC-H / sketches" -> (n => n.startsWith("q")),
    "Dedup / curation / sampling" -> (n => n.startsWith("d_")),
    "Embeddings / ANN / clustering" -> (n => n.startsWith("e_")),
    "Text analysis" -> (n => n.startsWith("t_")),
    "Multimodal" -> (n => n.startsWith("m_")))

  private def familyOf(name: String): String =
    families.collectFirst { case (f, p) if p(name) => f }
      .getOrElse(sys.error(s"no family matches query name $name"))

  def render: String = {
    val qs = SparkEntry.registryAll
    val dualsOf: Map[String, Seq[String]] = streamingTwinOf.toSeq
      .groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    val gate = ScaleSmoke.organicSubset.toSet
    val sb = new StringBuilder
    sb ++= "# Operator index\n\n"
    sb ++= "GENERATED — do not edit by hand. `sbt 'runMain graft.OperatorIndex'`\n"
    sb ++= "regenerates this file from the `SparkEntry` registry;\n"
    sb ++= "OperatorIndexSpec fails the build if the two diverge.\n\n"
    sb ++= s"${qs.size} registered queries. Columns:\n\n"
    sb ++= "- **oracle** — `sql`: the driver's DuckDB oracle re-runs the query as\n"
    sb ++= "  independent SQL and hash-compares rows (the strong gate);\n"
    sb ++= "  `rows`: rows-only check (non-SQL-expressible semantics).\n"
    sb ++= "- **scale** — `gate`: in the pinned organic-fixture subset the standing\n"
    sb ++= "  scale gate (`ScaleSmoke gate`, SCALE_r{N}.json) re-times every round\n"
    sb ++= "  at x4 vs x100 with a hard sub-linearity threshold. Other receipts\n"
    sb ++= "  (skew, salt A/B, pane A/B, 10^6-key soak) live in BASELINE.md.\n"
    sb ++= "- **streaming dual** — the method(s) running the same semantics over\n"
    sb ++= "  Structured Streaming; equivalence is spec-asserted (`sbt test`).\n\n"
    families.foreach { case (fam, _) =>
      val rows = qs.filter(q => familyOf(q.name) == fam).sortBy(_.name)
      if (rows.nonEmpty) {
        sb ++= s"## $fam\n\n"
        sb ++= "| query | oracle | scale | streaming dual | semantics |\n"
        sb ++= "|---|---|---|---|---|\n"
        rows.foreach { q =>
          val oracle = if (q.oracle.isDefined) "sql" else "rows"
          val scale = if (gate(q.name)) "gate" else ""
          val duals = dualsOf.getOrElse(q.name, Seq.empty).map(d => s"`$d`").mkString("<br>")
          val doc = (if (q.doc.nonEmpty) q.doc
            else docOverride.getOrElse(q.name, "")).replace("|", "\\|")
          sb ++= s"| `${q.name}` | $oracle | $scale | $duals | $doc |\n"
        }
        sb ++= "\n"
      }
    }
    sb.result()
  }

  def main(args: Array[String]): Unit = {
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("OPERATORS.md"), render)
    println(s"[index] wrote OPERATORS.md (${SparkEntry.registryAll.size} queries)")
  }
}
