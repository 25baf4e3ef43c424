package graft

import org.apache.spark.sql.functions.col

/** Plan-shape assertions (SURVEY §5.2(5)): cheap checks that Catalyst is
  * actually doing the scale-critical work — pushdown, broadcast, top-k
  * physical operators, rank-limit pushdown, whole-stage codegen.
  */
class PlanShapeSpec extends SparkTestBase {

  private def plan(key: String): String =
    SparkEntry.queries(key)(spark, sfDir).queryExecution.executedPlan.toString

  test("filter reaches the parquet scan (PushedFilters)") {
    assert(plan("a_scan_filter_pushdown").contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("ORC source: filter pushed to the ORC scan, projection prunes the reader") {
    val p = plan("a_scan_orc")
    // the executed plan holds the ORC read-back stage: the status filter
    // must reach the ORC scan's pushed filters (stripe/row-group stats
    // skipping at scale) and the reader schema must carry only the
    // projected columns + the filter column, never the full file schema
    assert(p.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]"),
      s"expected the status filter pushed into the ORC scan:\n$p")
    val read = p.linesIterator.filter(_.contains("Format: ORC"))
      .mkString("\n")
    assert(read.nonEmpty, s"expected an ORC-format scan node:\n$p")
  }

  test("column pruning: pruned scan reads only 2 columns") {
    val p = plan("a_scan_pruned")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))
  }

  test("aggregate pushdown: the DSv2 scan answers COUNT/MIN/MAX itself, no agg exec") {
    val p = plan("a_scan_agg_pushdown")
    assert(p.contains("PushedAggregates"),
      s"expected the completely-pushed aggregate scan:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("SortAggregate"),
      s"complete pushdown must leave no aggregate exec:\n$p")
    // the proof it never iterates: the same aggregate over a 2-BILLION-row
    // instance returns instantly with identical plan shape
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val big = spark.read.format("graft.sources.SeqSource")
      .option("n", "2000000000").option("slices", "8").load()
      .filter(col("id") >= 5 && col("id") < 1999999999L)
      .agg(count(lit(1)).as("n"), min("id").as("min_id"), max("id").as("max_id"))
    val row = big.collect()(0)
    assert(row.getLong(0) == 1999999994L && row.getLong(1) == 5L &&
      row.getLong(2) == 1999999998L)
  }

  test("filter pushdown into the DSv2 connector folds the range into generation") {
    // the connector-side analog of row-group skipping: an id range filter
    // narrows the generated range itself, so excluded rows never exist
    val df = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000000").option("slices", "8").load()
      .filter(col("id") >= 999990).select("id")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("range=[999990,1000000)"),
      s"expected the pushed range in the scan description:\n$p")
    assert(df.count() == 10)
  }

  test("small dimension join is a BroadcastHashJoin") {
    assert(plan("c_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("hinted joins pick the hinted physical strategy") {
    assert(plan("c_join_shuffle_hash").contains("ShuffledHashJoin"))
    assert(plan("c_join_sort_merge").contains("SortMergeJoin"))
  }

  test("global top-k is TakeOrderedAndProject, not a full sort") {
    assert(plan("f_limit_topk").contains("TakeOrderedAndProject"))
  }

  test("round-7 analytics wave joins are keyed — never cartesian") {
    // every candidate/stage restriction must ride a join KEY (the IVF cell,
    // the gram, the user) — a nested-loop anywhere here would be corpus².
    // Exception: the documented bounded broadcast cross joins (the one-row
    // stats scalar in p_skew_report, the sources×sources matrix assembly in
    // i_source_overlap) legitimately plan as BroadcastNestedLoopJoin.
    val boundedCross = Set("p_skew_report", "i_source_overlap")
    for (k <- Seq("i_gopher_rules", "i_ngram_novelty", "i_doc_shard",
        "e_funnel", "e_cohort_retention", "i_ann_ivfpq", "d_agg_weighted",
        "d_agg_mad", "p_skew_report", "e_gap_stats", "e_ohlc",
        "p_backfill_plan", "i_source_overlap")) {
      val p = plan(k)
      assert(!p.contains("CartesianProduct") &&
        (boundedCross(k) || !p.contains("BroadcastNestedLoopJoin")),
        s"$k plans a pair-at-a-time join:\n" +
          p.linesIterator.filter(_.contains("Join")).mkString("\n"))
    }
  }

  test("round-8 inference/dedup wave plan shapes") {
    // the batch inference seam is a narrow mapPartitions pass: NO shuffle
    // anywhere in the compute (the only exchange is the presentation sort)
    val pb = plan("i_embed_infer_batch")
    assert(pb.contains("MapPartitions"), pb)
    assert(!pb.contains("Exchange hashpartitioning"),
      "inference seam must be shuffle-free:\n" +
        pb.linesIterator.filter(_.contains("Exchange")).mkString("\n"))
    // the relational twin keeps map-side partial aggregation
    assert(plan("i_embed_infer").contains("partial_"))
    // substring dedup rides shingle-hash equi-joins only — a nested loop
    // here would be corpus-token²
    assert(!plan("i_substring_dedup").contains("NestedLoop"))
    // the inference→similarity bridge is the declared bounded pair-join
    // baseline: bounded graft_topk aggregate, never a full window sort
    val ps = plan("i_embed_infer_sim")
    assert(ps.contains("graft_topk") && !ps.contains("Window ["), ps)
  }

  test("cached dimension reads the in-memory columnar cache") {
    assert(plan("p_cached_dim").contains("InMemoryTableScan"))
  }

  test("winsorize attaches percentile bounds via broadcast, never a shuffle join") {
    val p = plan("d_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.linesIterator
      .filter(_.contains("Join")).mkString("\n"))
  }

  test("dense-id assignment has no single-partition global window") {
    // the big side ranks inside Window.partitionBy(pid); the only
    // partitionBy-less window runs over the 8-row offset table
    val df = SparkEntry.queries("p_dense_ids")(spark, sfDir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    val global = windows.filter(_.partitionSpec.isEmpty)
    assert(global.forall(_.collectLeaves().nonEmpty), "sanity")
    // every global window must sit above an aggregate (the per-partition
    // count rollup), never above the raw scan
    assert(global.forall(w => w.collect {
      case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a
    }.nonEmpty), "global window over raw rows — the bottleneck this key exists to avoid")
    assert(df.count() > 0)
  }

  test("rank-limit is pushed below the window (WindowGroupLimit)") {
    assert(plan("e_win_topk_group").contains("WindowGroupLimit"))
  }

  test("vector top-k is a bounded aggregate, not a window sort") {
    val p = plan("i_cosine_topk")
    assert(p.contains("graft_topk") && p.contains("ObjectHashAggregate"),
      s"expected bounded TopKPairs aggregate:\n$p")
    assert(!p.contains("Window ["), "no full window sort over the pair join")
  }

  test("aggregation pipeline is whole-stage codegen'd") {
    // AQE wraps the plan pre-execution; the codegen explain mode forces
    // code generation and reports the fused subtrees
    val s = SparkEntry.queries("d_agg_basic")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
    assert(s.contains("WholeStageCodegen"))
  }

  test("LSH candidate generation is an equi-join, not a nested loop") {
    val p = plan("i_lsh_buckets")
    assert(!p.contains("NestedLoop"), "band join must be hash-based")
  }

  test("LSH pair dedup is a join residual, not a post-join aggregation") {
    // first-colliding-band trick: each candidate pair leaves the join
    // exactly once, so nothing downstream of the join may aggregate.
    // Tree strings print consumers ABOVE the join node.
    val p = plan("i_lsh_buckets")
    val join = p.indexOf("HashJoin")
    assert(join >= 0, s"expected a hash band join:\n$p")
    assert(!p.substring(0, join).contains("Aggregate"),
      s"no aggregate may run on the joined pairs:\n$p")
  }

  test("IVF centroid assignment broadcasts the centroids") {
    val p = plan("i_ann_ivf")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"centroid side must broadcast, never shuffle the vectors:\n$p")
  }

  test("bucketed join is co-located: no hash exchange, bucketed scans") {
    val p = plan("p_join_bucketed")
    assert(p.contains("SortMergeJoin"), p)
    assert(p.contains("Bucketed: true"), "scans must read bucket metadata")
    // join AND the same-key groupBy reuse the bucketing; only the final
    // orderBy may range-partition
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$p")
  }

  test("deterministic sampling filter is pushed into the scan stage") {
    val p = plan("i_sample_hash")
    // the md5 predicate can't prune parquet row groups, but it must run
    // inside the scan's filter (no shuffle, no join) — the whole query is
    // scan→filter→project
    assert(!p.contains("Exchange hashpartitioning"), p)
  }

  test("decontamination eval side is broadcast") {
    assert(plan("i_decontaminate").contains("BroadcastHashJoin"))
  }

  test("native as-of join plans the custom merge operator, not a pair join") {
    val p = plan("c_join_asof_native")
    assert(p.contains("AsOfJoin"), s"expected AsOfJoinExec:\n$p")
    // the whole point: no pair materialization — no join+aggregate shape
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin")
      && !p.contains("HashAggregate"),
      s"as-of must be a single merge pass, not join+agg:\n$p")
  }

  test("native as-of join agrees with the declarative join+max_by baseline") {
    val native = SparkEntry.queries("c_join_asof_native")(spark, sfDir)
      .filter(col("prior_click").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val declar = SparkEntry.queries("c_join_asof")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == declar)
  }

  test("native interval join plans the sweep operator, not a pair join") {
    val p = plan("c_join_interval_native")
    assert(p.contains("IntervalJoin"), s"expected IntervalJoinExec:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"the window must be enforced inside the merge, not post-join:\n$p")
  }

  test("partitioned fact join gets a dynamic partition pruning subquery") {
    // the fact-side day filter exists only at RUNTIME (it is the dim's
    // post-filter key set) — the scan must carry a dynamicpruning
    // subquery, not read every partition
    val p = plan("p_join_dpp")
    assert(p.contains("dynamicpruning"),
      s"expected a dynamic partition pruning subquery on the fact scan:\n" +
        p.linesIterator.filter(_.contains("FileScan")).mkString("\n"))
  }

  test("p_join_dpp busy-day threshold rides the dim scan, not a driver action") {
    // the scale-relative cut must be a window-max COLUMN inside the plan —
    // a separate max().head() action would replace the window with a
    // driver-side literal, so the windowspecdefinition check IS the
    // regression gate. (An earlier version also counted jobs fired during
    // the build phase via wall-clock listener-bus quiescence; that was
    // brittle under CI load and a Spark upgrade, and the plan property
    // already fails if the threshold action comes back.)
    val df = SparkEntry.queries("p_join_dpp")(spark, sfDir)
    assert(df.queryExecution.optimizedPlan.toString
        .contains("windowspecdefinition"),
      "threshold must be computed in-plan via a window max over the dim")
    assert(df.count() > 0)
  }

  test("multi-aggregate window ops run as a single Window pass") {
    // the 16 ewma lags, the 3 z-score aggregates, and scd2's lead +
    // row_number each share one window spec — Catalyst must collapse
    // them into ONE WindowExec (one shuffle + one sort), not a stack
    // count nodes in the optimized logical plan — the giant 16-lag
    // projection truncates the physical plan STRING, so grepping it
    // undercounts
    for (key <- Seq("e_ewma", "e_rolling_zscore", "p_scd2",
        "e_win_ignore_nulls")) {
      val n = SparkEntry.queries(key)(spark, sfDir)
        .queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
        }.size
      assert(n == 1, s"$key: expected exactly 1 Window node, got $n")
    }
    // interp's two leads (the next observed value and its hour) share one
    // partition/order, so Spark evaluates both in ONE Window node
    val n = SparkEntry.queries("e_interp_linear")(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size
    assert(n == 1, s"e_interp_linear: expected exactly 1 Window node, got $n")
  }

  test("no window key re-aggregates a [bounded, UNBOUNDED FOLLOWING] frame") {
    // Spark runs an aggregate over ROWS/RANGE BETWEEN <bounded> AND
    // UNBOUNDED FOLLOWING as an UnboundedFollowingWindowFunctionFrame,
    // which re-aggregates the rest of the partition for every row:
    // quadratic per partition. A frame unbounded on both sides is one pass
    // (e_win_first_last, e_win_nth_value) and stays allowed.
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import graft.queries.{DAggregates, EWindows, RAnalytics}
    val keys = EWindows.m.keys ++ DAggregates.m.keys ++ RAnalytics.m.keys
    val offenders = keys.filter { k =>
      SparkEntry.queries(k)(spark, sfDir).queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect {
          case WindowExpression(_: AggregateExpression, WindowSpecDefinition(
              _, _, SpecifiedWindowFrame(_, lower, UnboundedFollowing)))
              if lower != UnboundedPreceding => ()
        })).nonEmpty
    }
    assert(offenders.isEmpty, "quadratic following frame in: " +
      offenders.toSeq.sorted.mkString(", "))
  }

  test("graft_minhash is evaluated once per row, not once per slot") {
    // CollapseProject must NOT inline the signature alias into the 8
    // element_at projections (it only inlines cheap/single-use aliases) —
    // if a future refactor makes it inline, the signature would be
    // recomputed 8x per row
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
    val p = graft.queries.ILlmOps.minhashSig(docs)
      .queryExecution.optimizedPlan.toString
    val n = "graft_minhash".r.findAllIn(p).length
    assert(n == 1, s"expected 1 graft_minhash call in the plan, got $n")
  }

  test("fuzzy join broadcasts the collapsed name table") {
    val p = plan("i_fuzzy_join")
    assert(p.contains("BroadcastHashJoin"),
      s"the distinct-name self-join must broadcast:\n$p")
  }

  test("star join is 3 hinted broadcasts + exactly one shuffle join") {
    // the 100×-scale shape: the three hinted dims broadcast, the
    // lineitem⋈orders spine is the ONE shuffle join. At fixture scale
    // orders auto-broadcasts too, which would hide a lost hint — so pin
    // the shape with auto-broadcast off, leaving ONLY the hints standing
    // (exactly what a 100 TB run sees, where no dim fits the threshold).
    val conf = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(conf)
    try {
      spark.conf.set(conf, "-1")
      val p = plan("c_join_star_5way")
      def n(pat: String) = pat.r.findAllIn(p).length
      assert(n("BroadcastHashJoin") == 3,
        s"expected exactly the 3 hinted dim broadcasts:\n$p")
      assert(n("SortMergeJoin") + n("ShuffledHashJoin") == 1,
        s"lineitem⋈orders must be the single shuffle join:\n$p")
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), p)
    } finally spark.conf.set(conf, saved)
  }

  test("no key plans an undeclared cartesian / nested-loop join") {
    // Global gate over EVERY query key: pair-at-a-time joins
    // (CartesianProduct, BroadcastNestedLoopJoin) are corpus² at 100 TB
    // and may appear ONLY where one side is provably bounded. The
    // allowlist below was derived with graft.PlanAudit and every entry is
    // one of:
    //  (a) a declared bounded calibration baseline (brute-force pair
    //      scans over capped inputs: cosine/knn/jaccard/minhash_est/
    //      levenshtein/embed_neardup/theta-range/cross, and the *_recall
    //      keys that embed those baselines), or
    //  (b) a broadcast of a ONE-ROW aggregate scalar (corpus stats,
    //      thresholds, card totals) or a bounded centroid/dim table —
    //      a crossJoin(broadcast(one-rower)) plans as BNLJ by definition.
    // A NEW key that plans either node fails here until it is justified.
    val bounded = Set(
      // (a) declared bounded baselines + their recall bridges
      "c_join_cross", "c_join_theta_range", "g_string_levenshtein",
      "i_cosine_topk", "i_knn_l2", "i_jaccard_pairs", "i_minhash_est",
      "i_embed_neardup", "i_simhash_hamming", "i_ann_recall",
      "i_lsh_recall", "i_ann_ivf", "i_ann_ivf_recall", "i_ann_pq_recall",
      "i_ann_ivfpq_recall", "i_embed_infer_sim", "i_embed_infer_ann_recall",
      // multi-probe IVF: same bounded shapes as i_ann_ivf — the n×nlist
      // assignment is a broadcast of the √n centroid table plus a one-row
      // corpus-count scalar; the recall key additionally embeds the
      // declared exact baseline (stride-sampled)
      "i_ann_ivf_probe", "i_ann_ivf_probe_recall",
      // multi-probe IVF+PQ: bounded like i_ann_ivfpq (vec_id < 300
      // calibration tier), recall keys cross-join one-row count scalars
      "i_ann_ivfpq_probe", "i_ann_ivfpq_probe_recall",
      // (b) one-row scalar / bounded-table broadcasts
      "d_agg_hll_union", "d_sketch_theta", "i_tfidf", "i_dsir",
      "i_dataset_card", "i_triangles", "i_domain_mix", "i_mix_temperature",
      "i_cooccur_pmi", "i_zipf", "i_source_overlap", "p_skew_report",
      "j_late_data", "k_custom_expression",
      "i_lsh_tune") // 5-literal-row curve × its own one-row min scalar
    val offenders = SparkEntry.queries.keys.filterNot(bounded).flatMap { k =>
      val p = SparkEntry.queries(k)(spark, sfDir)
        .queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"))
        Some(k)
      else None
    }
    assert(offenders.isEmpty,
      s"undeclared pair-at-a-time join in: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("no key plans an unbounded single-partition window") {
    // Global gate over EVERY query key: an empty-partitionSpec Window
    // funnels its whole input through ONE task — the classic silent
    // bottleneck at 100 TB. It is allowed only when the window's input is
    // provably bounded: a limit / WindowGroupLimit beneath (global top-k
    // rides TakeOrderedAndProject first, then ranks the survivors), a
    // one-row scalar aggregate, or an input bounded by construction
    // (allowlisted below with the bound).
    import org.apache.spark.sql.catalyst.plans.logical._
    val boundedByConstruction = Set(
      "p_dense_ids", // offset table: one row per range partition (8 rows)
      "p_join_dpp")  // busy-day cut rides the days-sized day dimension
    val offenders = SparkEntry.queries.keys.filterNot(boundedByConstruction)
      .flatMap { k =>
        val lp = SparkEntry.queries(k)(spark, sfDir).queryExecution.optimizedPlan
        val bad = lp.collect {
          case w: Window if w.partitionSpec.isEmpty && w.child.collect {
            case _: GlobalLimit => ()
            case _: LocalLimit => ()
            case _: WindowGroupLimit => ()
            case a: Aggregate if a.groupingExpressions.isEmpty => ()
          }.isEmpty => w
        }
        if (bad.nonEmpty) Some(k) else None
      }
    assert(offenders.isEmpty,
      s"unbounded global window in: ${offenders.toSeq.sorted.mkString(", ")}")
  }

  test("partition-pruned scan reads one directory (PartitionFilters)") {
    val p = plan("a_scan_partition_prune")
    val scan = p.linesIterator.find(_.contains("PartitionFilters"))
    assert(scan.isDefined && scan.get.contains("o_orderstatus"),
      s"status filter must prune partitions at the scan:\n$p")
  }

  test("b-group parquet filters all reach the scan (PushedFilters)") {
    // b_filter_null_bool is excluded by design: its predicate references
    // the computed CASE column (st IS NULL), which no source can push
    for (k <- Seq("b_filter_compare", "b_filter_in_like_between")) {
      val p = plan(k)
      val pushed = p.linesIterator.find(_.contains("PushedFilters"))
      assert(pushed.isDefined && !pushed.get.contains("PushedFilters: []"),
        s"$k: filter must push to the parquet scan:\n$p")
    }
  }

  test("bloom probe is the native might_contain expression, not a UDF") {
    // the pre-shuffle prune must stay inside whole-stage codegen: Spark's
    // BloomFilterMightContain over xxhash64(key), never a black-box Scala
    // UDF that breaks pushdown through the filter
    val p = plan("p_join_bloom")
    assert(p.contains("might_contain"),
      s"expected the native bloom probe in the fact filter:\n$p")
    assert(!p.contains("ScalaUDF") && !p.contains("UDF("),
      s"no UDF may appear in the bloom path:\n$p")
  }

  test("DSv2 source prunes columns and plans parallel partitions") {
    val p = plan("a_scan_custom_source")
    // the query selects (id, tag) — `val` must not survive into the scan
    val scanLine = p.linesIterator.find(_.contains("BatchScan"))
    assert(scanLine.isDefined, s"expected a BatchScan node:\n$p")
    assert(scanLine.get.contains("id#") && scanLine.get.contains("tag#")
      && !scanLine.get.contains("val#"),
      s"scan must be pruned to (id, tag): ${scanLine.get}")
    // 8 slices → 8 input partitions on the raw read (before the orderBy)
    val raw = spark.read.format("graft.sources.SeqSource")
      .option("n", "2000").option("slices", "8").load().select("id", "tag")
    assert(raw.rdd.getNumPartitions == 8)
  }
}
