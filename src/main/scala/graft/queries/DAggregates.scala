package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.r4

/** Groups D (aggregations) and F (sorts/limits/set ops) of SURVEY.md §2.
  *
  * Every `d_*` key executes as partial aggregation → shuffle → final
  * aggregation (`HashAggregateExec`) — map-side combine is automatic, so at
  * 100 TB the shuffle carries one row per (partition × group), not per input
  * row. All double aggregates are rounded to 4 decimals (Det.r4) for
  * cross-engine stability.
  */
object DAggregates {

  /** A group's non-null values as doubles, ascending: the one sorted
    * array that `exactPercentile` reads any number of quantiles from.
    * `sort_array` sorts with the type's native ordering, the order of
    * `array_sort`'s default comparator without evaluating a lambda. */
  def sortedValues(x: Column): Column = sort_array(collect_list(x.cast("double")))

  /** Spark's exact `percentile(x, p)` (`Percentile.getPercentile`) over
    * `sortedValues(x)`: position `(n-1)·p`, its floor and ceil neighbours,
    * and linear interpolation unless the two coincide (position or value),
    * with the same operations in the same order, so results are
    * bit-equal. An empty group yields null: `get` is null out of range.
    * `percentile` instead builds, shuffles and sorts one value→count map
    * per call. */
  def exactPercentile(sorted: Column, p: Double): Column = {
    val pos = (size(sorted) - 1) * lit(p)
    val (lo, hi) = (floor(pos), ceil(pos))
    val (vlo, vhi) = (get(sorted, lo.cast("int")), get(sorted, hi.cast("int")))
    when(lo === hi || vlo === vhi, vlo)
      .otherwise((hi - pos) * vlo + (pos - lo) * vhi)
  }

  val m: ListMap[String, Q] = ListMap(
    // ------------------------------------------------------- D. aggregations
    "d_agg_basic" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag", "l_linestatus").agg(
        count(lit(1)).as("cnt"),
        r4(sum("l_quantity")).as("sum_qty"),
        r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r4(avg("l_extendedprice")).as("avg_price"),
        r4(min("l_discount")).as("min_disc"),
        r4(max("l_discount")).as("max_disc"))
        .orderBy("l_returnflag", "l_linestatus")),

    "d_agg_count_distinct" -> ((s, d) =>
      Tables.orders(s, d).groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_cust"), count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")),

    // sketch internals differ per engine → no hash-match possible; the
    // scalatest suite asserts ≤5% relative error vs the exact count.
    "d_agg_approx_hll" -> ((s, d) =>
      Tables.orders(s, d).groupBy("o_orderstatus")
        .agg(approx_count_distinct(col("o_custkey"), 0.02).as("approx_cust"))
        .orderBy("o_orderstatus")),

    "d_agg_hll_union" -> ((s, d) =>
      // RE-AGGREGATABLE distinct sketches (Apache DataSketches HLL): build
      // one sketch per order-month, then MERGE the binary sketches into
      // the yearly estimate without re-touching raw rows — the pattern
      // that makes daily-rollup tables answer ad-hoc distinct questions
      // at 100 TB (a plain count_distinct is not re-aggregatable; the
      // union costs bytes-per-sketch, not a rescan). The RAW estimate
      // varies a few counts with partitioning (HLL register state depends
      // on insertion order), so the key's OUTPUT is the deterministic
      // audit — exact distinct + a within-5% verdict on the merged
      // estimate; the raw estimate's accuracy is scalatest-checked.
      {
        val merged = Tables.orders(s, d)
          .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
          .agg(hll_sketch_agg(col("o_custkey")).as("sk"),
            count(lit(1)).as("n_orders"))
          .groupBy(lit("all").as("scope"))
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"),
            sum("n_orders").as("n_orders"), count(lit(1)).as("n_months"))
        val exact = Tables.orders(s, d)
          .agg(countDistinct(col("o_custkey")).as("exact_distinct_cust"))
        merged.crossJoin(exact).select(col("scope"), col("n_months"),
          col("n_orders"), col("exact_distinct_cust"),
          (abs(col("est") - col("exact_distinct_cust")) /
            col("exact_distinct_cust") <= 0.05).as("est_within_5pct"))
      }),

    "d_sketch_theta" -> ((s, d) => {
      // Theta sketches (DataSketches, native in Spark 4.1): the
      // re-aggregatable distinct structure that, unlike HLL, supports set
      // INTERSECTION and DIFFERENCE — the audience-overlap question
      // ("distinct clickers who also viewed") answered from two per-slice
      // sketches instead of a raw-row re-join. At 100 TB the sketches are
      // built once per slice (linear, map-side partial agg), and every
      // overlap/exclusion query after that costs bytes-per-sketch. Theta
      // retains the k smallest value hashes, so estimates depend only on
      // the value SET — partitioning/order-stable, hence a deterministic
      // audit output. Accuracy bounds are scalatest territory (the 4
      // *_ok flags assert ≤5% err vs the exact flags-table counts here).
      // identity = (user, day): every fixture user produces every event
      // type at least once, so plain user overlap is degenerate (all 150
      // in both); daily-active identities genuinely differ per type
      val ev = Tables.events(s, d).withColumn("ident",
        concat(col("user_id"), lit("|"), to_date(col("ts"))))
      val sk = ev.filter(col("event_type").isin("click", "view"))
        .groupBy("event_type").agg(expr("theta_sketch_agg(ident)").as("sk"))
      val c = sk.filter(col("event_type") === "click")
        .select(col("sk").as("sk_c"))
      val v = sk.filter(col("event_type") === "view")
        .select(col("sk").as("sk_v"))
      val est = c.crossJoin(v).select(
        expr("theta_sketch_estimate(sk_c)").as("est_click"),
        expr("theta_sketch_estimate(sk_v)").as("est_view"),
        expr("theta_sketch_estimate(theta_union(sk_c, sk_v))").as("est_union"),
        expr("theta_sketch_estimate(theta_intersection(sk_c, sk_v))")
          .as("est_inter"),
        expr("theta_sketch_estimate(theta_difference(sk_c, sk_v))")
          .as("est_diff"))
      // exact side: one per-identity flags pass (linear), then a 1-row sum
      val flags = ev.groupBy("ident").agg(
        max((col("event_type") === "click").cast("long")).as("c"),
        max((col("event_type") === "view").cast("long")).as("v"))
      val exact = flags.agg(
        sum("c").as("exact_click"), sum("v").as("exact_view"),
        sum(greatest(col("c"), col("v"))).as("exact_union"),
        sum(col("c") * col("v")).as("exact_inter"))
      // guarded relative error: on a degenerate input where an exact count
      // is 0 (absent event type, empty fixture) the flag must stay a
      // well-defined boolean, not NULL from a 0/0 division
      def ok(e: Column, x: Column) = abs(e - x) <= greatest(x, lit(1)) * 0.05
      est.crossJoin(exact).select(
        col("exact_click"), col("exact_view"), col("exact_union"),
        col("exact_inter"),
        ok(col("est_click"), col("exact_click")).as("click_ok"),
        ok(col("est_view"), col("exact_view")).as("view_ok"),
        ok(col("est_union"), col("exact_union")).as("union_ok"),
        ok(col("est_inter"), col("exact_inter")).as("inter_ok"),
        ok(col("est_diff"), col("exact_union") - col("exact_view"))
          .as("diff_ok"))
    }),

    "d_agg_regr" -> ((s, d) =>
      // SQL:2016 linear-regression aggregates (Spark 4 surface): slope /
      // intercept / R² of price vs quantity per return flag — one
      // partial+final aggregate pass, no windowing. round(4) absorbs the
      // partitioning-order ulps of the double sums (SURVEY §7.3 rule 1).
      Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(expr("regr_count(l_extendedprice, l_quantity)").as("n"),
          r4(expr("regr_slope(l_extendedprice, l_quantity)")).as("slope"),
          r4(expr("regr_intercept(l_extendedprice, l_quantity)"))
            .as("intercept"),
          r4(expr("regr_r2(l_extendedprice, l_quantity)")).as("r2"),
          r4(expr("regr_avgx(l_extendedprice, l_quantity)")).as("avg_x"),
          r4(expr("regr_avgy(l_extendedprice, l_quantity)")).as("avg_y"))
        .orderBy("l_returnflag")),

    "d_agg_listagg" -> ((s, d) => {
      // ordered string aggregation (LISTAGG ... WITHIN GROUP, SQL:2016;
      // Spark 4 surface): the report-facing cousin of collect_list —
      // DISTINCT + explicit ORDER BY make the concatenation deterministic
      Tables.customer(s, d).createOrReplaceTempView("customer_la")
      Tables.nation(s, d).createOrReplaceTempView("nation_la")
      s.sql(
        """SELECT c_mktsegment,
          |  count(*) AS n_customers,
          |  listagg(DISTINCT n_name, '|') WITHIN GROUP (ORDER BY n_name)
          |    AS nations
          |FROM customer_la JOIN nation_la ON c_nationkey = n_nationkey
          |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
    }),

    "d_agg_grouping_sets" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
          |round(sum(l_quantity),4) AS sum_qty
          |FROM lineitem_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
    }),

    "d_agg_rollup" -> ((s, d) =>
      Tables.lineitem(s, d).rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), r4(sum("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "d_agg_cube" -> ((s, d) =>
      Tables.lineitem(s, d).cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), r4(sum("l_quantity")).as("sum_qty"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    "d_agg_pivot" -> ((s, d) =>
      // pivot values pinned explicitly — never let Spark scan for them
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(r4(sum(col("l_quantity"))))
        .withColumnRenamed("F", "qty_f").withColumnRenamed("O", "qty_o")
        .orderBy("l_returnflag")),

    "d_agg_collect_sorted" -> ((s, d) =>
      // collected list serialized to CSV: the driver's pandas differ cannot
      // sort/hash array cells, so oracle-compared output must be scalar
      Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(array_join(sort_array(collect_list(col("l_linenumber")))
          .cast("array<string>"), ",").as("lines"))
        .orderBy("l_orderkey")),

    "d_agg_stats" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        r4(stddev_samp(col("l_quantity"))).as("sd_qty"),
        r4(var_samp(col("l_quantity"))).as("var_qty"),
        r4(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qp"),
        r4(covar_samp(col("l_quantity"), col("l_extendedprice"))).as("cov_qp"))
        .orderBy("l_returnflag")),

    "d_agg_percentile" -> ((s, d) =>
      // exact percentiles read off one sorted array per group (see
      // exactPercentile): one collect + sort serves both quantiles
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(sortedValues(col("l_extendedprice")).as("xs"))
        .select(col("l_returnflag"),
          r4(exactPercentile(col("xs"), 0.5)).as("p50"),
          r4(exactPercentile(col("xs"), 0.9)).as("p90"))
        .orderBy("l_returnflag")),

    "d_agg_skewkurt" -> ((s, d) =>
      // higher-moment distribution profile (population skewness, excess
      // kurtosis — convention verified identical to the oracle engine at
      // 4dp, where a sample-correction mismatch would already show)
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        r4(skewness(col("l_quantity"))).as("skew"),
        r4(kurtosis(col("l_quantity"))).as("kurt"),
        r4(stddev_pop(col("l_quantity"))).as("sd_pop"))
        .orderBy("l_returnflag")),

    "d_winsorize" -> ((s, d) => {
      // winsorization (percentile clipping), the standard numeric-column
      // cleaner: per-group p05/p95 read off one sorted array per group
      // (exactPercentile) into the tiny group table, broadcast back,
      // values clipped in a codegen projection. Clipped sums are carried
      // in exact integer cents — double sums of ~15k cent-valued terms sit
      // within rounding noise of the 4-decimal boundary, the one place
      // SURVEY §7.3 bans.
      val li = Tables.lineitem(s, d)
      val bounds = li.groupBy("l_returnflag")
        .agg(sortedValues(col("l_extendedprice")).as("xs"))
        .select(col("l_returnflag"),
          exactPercentile(col("xs"), 0.05).as("lo"),
          exactPercentile(col("xs"), 0.95).as("hi"))
      li.join(broadcast(bounds), "l_returnflag")
        .withColumn("clip", least(greatest(col("l_extendedprice"), col("lo")), col("hi")))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(floor(clip * 100 + 0.5) AS BIGINT)")).as("sum_cents"),
          count(when(col("l_extendedprice") < col("lo"), 1)).as("n_lo"),
          count(when(col("l_extendedprice") > col("hi"), 1)).as("n_hi"),
          r4(min("lo")).as("p05"), r4(max("hi")).as("p95"))
        .orderBy("l_returnflag")
    }),

    "d_agg_minmax_by" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        max_by(col("l_orderkey"), col("l_extendedprice")).as("max_price_order"),
        min_by(col("l_orderkey"), col("l_extendedprice")).as("min_price_order"))
        .orderBy("l_returnflag")),

    "d_agg_first_last_ordered" -> ((s, d) =>
      // first/last in explicit ts order via min_by/max_by — never bare first()
      Tables.events(s, d).groupBy("user_id").agg(
        min_by(col("event_type"), col("ts")).as("first_event"),
        max_by(col("event_type"), col("ts")).as("last_event"),
        count(lit(1)).as("cnt"))
        .orderBy("user_id")),

    "d_agg_histogram" -> ((s, d) =>
      // fixed-width histogram via width_bucket — one shuffle carrying one
      // row per bucket (the profiling shape at 100 TB)
      Tables.lineitem(s, d)
        .select(expr("width_bucket(l_extendedprice, 0, 100000, 20)").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")),

    "d_agg_mode" -> ((s, d) => {
      // deterministic mode: most frequent quantity per return flag, ties
      // broken toward the smaller value — built-in mode() breaks ties
      // arbitrarily across engines, so the portable form is a grouped
      // count + rank-1 window over (count DESC, value ASC). The window
      // runs over the tiny count table (flags x 50 quantities), not the
      // fact table.
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("c").desc, col("l_quantity").asc)
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_quantity")
        .agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("c").as("mode_n"))
        .orderBy("l_returnflag")
    }),

    "d_agg_filter_clause" -> ((s, d) => {
      // the SQL FILTER clause: per-aggregate predicates inside ONE grouped
      // pass (vs the sum(CASE WHEN) rewrite) — every filtered aggregate
      // still rides the same partial/final HashAggregate, so N conditional
      // metrics cost one scan, not N
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_fc")
      s.sql(
        """SELECT l_returnflag,
          |  count(*) AS cnt,
          |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
          |  round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 4)
          |    AS disc_rev,
          |  max(l_shipdate) FILTER (WHERE l_returnflag = 'R') AS last_return
          |FROM lineitem_fc GROUP BY l_returnflag ORDER BY l_returnflag"""
          .stripMargin)
    }),

    "d_agg_countmin" -> ((s, d) => {
      // count-min sketch, oracle-checked end to end: d=4 rows × w=64
      // buckets over the document word stream (portable md5 bucket hashes,
      // not engine hashes), then point queries for the 10 most frequent
      // words answered from the SKETCH (min over the 4 row counters) next
      // to their exact counts. The sketch build is one groupBy carrying at
      // most d×w = 256 rows out of the shuffle regardless of corpus size —
      // the bounded-memory profiling shape at 100 TB; CMS guarantees
      // est ≥ true, asserted per-row in scalatest and visible in the
      // output columns.
      val words = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("w"))
      // ONE md5 per instance, sliced into the 4 row-hashes (the sigSql
      // hash-family trick) — 4 independent md5 calls measured ~4x the
      // per-instance hash cost for identical guarantees
      def buckets(wc: Column): Column = {
        val h = md5(concat(lit("cm"), wc))
        array((0 until 4).map(r =>
          conv(substring(h, 1 + 4 * r, 4), 16, 10).cast("long") % 64): _*)
      }
      val sketch = words
        .select(posexplode(buckets(col("w"))).as(Seq("r", "bucket")))
        .groupBy("r", "bucket").agg(count(lit(1)).as("c"))
      val probes = words.groupBy("w").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("w")).limit(10)
        .select(col("w"), col("true_cnt"),
          posexplode(buckets(col("w"))).as(Seq("r", "bucket")))
      probes.join(sketch, Seq("r", "bucket"))
        .groupBy("w", "true_cnt").agg(min("c").as("est_cnt"))
        .orderBy("w")
    }),

    // sketch aggregate (pairs with d_agg_approx_hll): bounded-memory
    // quantiles; accuracy vs the exact percentile asserted in scalatest
    "d_agg_approx_quantile" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        r4(expr("approx_percentile(l_extendedprice, 0.5, 10000)")).as("ap50"),
        r4(expr("approx_percentile(l_extendedprice, 0.9, 10000)")).as("ap90"))
        .orderBy("l_returnflag")),

    "d_agg_median" -> ((s, d) =>
      // median = percentile(x, 0.5), read off one sorted array per column
      // and group (exactPercentile)
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(sortedValues(col("l_extendedprice")).as("xp"),
          sortedValues(col("l_quantity")).as("xq"))
        .select(col("l_returnflag"),
          r4(exactPercentile(col("xp"), 0.5)).as("med_price"),
          r4(exactPercentile(col("xq"), 0.5)).as("med_qty"))
        .orderBy("l_returnflag")),

    "d_agg_bool" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag").agg(
        bool_and(col("l_discount") < 0.2).as("all_small_disc"),
        bool_or(col("l_quantity") > 49).as("any_max_qty"),
        count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")),

    "b_unpivot" -> ((s, d) =>
      // wide → long (melt): one row per (line, measure) — the inverse of
      // d_agg_pivot. The oracle uses the portable UNION ALL formulation.
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"), col("l_tax"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
            col("l_tax")),
          "metric", "val")
        .orderBy("l_orderkey", "l_linenumber", "metric", "val")),

    // ------------------------------------------------- F. sort/limit/set ops
    "f_sort_multi_nulls" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), expr("nullif(o_orderstatus,'P')").as("st"),
          col("o_totalprice"))
        .orderBy(col("st").asc_nulls_first, col("o_totalprice").desc,
          col("o_orderkey"))),

    "f_limit_topk" -> ((s, d) =>
      // physical plan: TakeOrderedAndProject — no global sort at scale
      Tables.orders(s, d)
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_totalprice")),

    "f_limit_offset" -> ((s, d) =>
      // deterministic pagination: page 3 at page-size 10 of the keyed
      // ordering (CollectLimit with a skip — rows 21..30, engine-stable
      // because the sort has a unique key)
      Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .orderBy("o_orderkey")
        .offset(20).limit(10)),

    "f_union_all" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select("o_orderkey", "o_orderpriority")
      val b = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 250000)
        .select("o_orderkey", "o_orderpriority")
      a.unionByName(b).orderBy("o_orderkey", "o_orderpriority")
    }),

    "f_union_distinct" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
        .select("o_orderkey", "o_orderpriority")
      val b = Tables.orders(s, d)
        .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 250000)
        .select("o_orderkey", "o_orderpriority")
      a.unionByName(b).distinct().orderBy("o_orderkey", "o_orderpriority")
    }),

    "f_intersect" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_totalprice") > 200000)
        .select("o_orderstatus", "o_orderpriority")
      val b = Tables.orders(s, d).filter(col("o_orderstatus") =!= "P")
        .select("o_orderstatus", "o_orderpriority")
      a.intersect(b).orderBy("o_orderstatus", "o_orderpriority")
    }),

    "f_intersect_all" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_totalprice") > 200000)
        .select("o_orderstatus", "o_orderpriority")
      val b = Tables.orders(s, d).filter(col("o_orderstatus") =!= "P")
        .select("o_orderstatus", "o_orderpriority")
      a.intersectAll(b).orderBy("o_orderstatus", "o_orderpriority")
    }),

    "f_except" -> ((s, d) => {
      val a = Tables.orders(s, d).select("o_orderstatus", "o_orderpriority")
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select("o_orderstatus", "o_orderpriority")
      a.except(b).orderBy("o_orderstatus", "o_orderpriority")
    }),

    "f_except_all" -> ((s, d) => {
      val a = Tables.orders(s, d).filter(col("o_totalprice") > 200000)
        .select("o_orderstatus", "o_orderpriority")
      val b = Tables.orders(s, d).filter(col("o_orderstatus") === "P")
        .select("o_orderstatus", "o_orderpriority")
      a.exceptAll(b).orderBy("o_orderstatus", "o_orderpriority")
    }),
  )

  val oracle: ListMap[String, String] = ListMap(
    "d_agg_basic" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "round(sum(l_quantity),4) AS sum_qty, " +
        "round(sum(l_extendedprice * (1 - l_discount)),4) AS sum_disc_price, " +
        "round(avg(l_extendedprice),4) AS avg_price, " +
        "round(min(l_discount),4) AS min_disc, round(max(l_discount),4) AS max_disc " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus " +
        "ORDER BY l_returnflag, l_linestatus"),
    "d_agg_count_distinct" ->
      ("SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust, count(*) AS cnt " +
        "FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"),
    "d_agg_regr" ->
      ("SELECT l_returnflag, " +
        "CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n, " +
        "round(regr_slope(l_extendedprice, l_quantity), 4) AS slope, " +
        "round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept, " +
        "round(regr_r2(l_extendedprice, l_quantity), 4) AS r2, " +
        "round(regr_avgx(l_extendedprice, l_quantity), 4) AS avg_x, " +
        "round(regr_avgy(l_extendedprice, l_quantity), 4) AS avg_y " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_agg_listagg" ->
      ("SELECT c_mktsegment, count(*) AS n_customers, " +
        "string_agg(DISTINCT n_name, '|' ORDER BY n_name) AS nations " +
        "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    "d_agg_grouping_sets" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "round(sum(l_quantity),4) AS sum_qty FROM lineitem " +
        "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "d_agg_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "round(sum(l_quantity),4) AS sum_qty FROM lineitem " +
        "GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "d_agg_cube" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS cnt, " +
        "round(sum(l_quantity),4) AS sum_qty FROM lineitem " +
        "GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),
    "d_agg_pivot" ->
      ("SELECT l_returnflag, " +
        "round(sum(l_quantity) FILTER (WHERE l_linestatus = 'F'),4) AS qty_f, " +
        "round(sum(l_quantity) FILTER (WHERE l_linestatus = 'O'),4) AS qty_o " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_agg_collect_sorted" ->
      ("SELECT l_orderkey, string_agg(l_linenumber, ',' ORDER BY l_linenumber) " +
        "AS lines FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey"),
    "d_agg_stats" ->
      ("SELECT l_returnflag, round(stddev_samp(l_quantity),4) AS sd_qty, " +
        "round(var_samp(l_quantity),4) AS var_qty, " +
        "(round(corr(l_quantity, l_extendedprice),4) + 0.0) AS corr_qp, " +
        "(round(covar_samp(l_quantity, l_extendedprice),4) + 0.0) AS cov_qp " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_agg_percentile" ->
      ("SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.5),4) AS p50, " +
        "round(quantile_cont(l_extendedprice, 0.9),4) AS p90 " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_agg_skewkurt" ->
      ("SELECT l_returnflag, (round(skewness(l_quantity), 4) + 0.0) AS skew, " +
        "(round(kurtosis(l_quantity), 4) + 0.0) AS kurt, " +
        "(round(stddev_pop(l_quantity), 4) + 0.0) AS sd_pop " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_winsorize" ->
      ("WITH b AS (SELECT l_returnflag, quantile_cont(l_extendedprice, 0.05) AS lo, " +
        "quantile_cont(l_extendedprice, 0.95) AS hi FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l.l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(floor(least(greatest(l_extendedprice, lo), hi) * 100 + 0.5) " +
        "AS BIGINT)) AS BIGINT) AS sum_cents, " +
        "count(CASE WHEN l_extendedprice < lo THEN 1 END) AS n_lo, " +
        "count(CASE WHEN l_extendedprice > hi THEN 1 END) AS n_hi, " +
        "round(min(lo), 4) AS p05, round(max(hi), 4) AS p95 " +
        "FROM lineitem l JOIN b ON l.l_returnflag = b.l_returnflag " +
        "GROUP BY l.l_returnflag ORDER BY l.l_returnflag"),
    "d_agg_minmax_by" ->
      ("SELECT l_returnflag, arg_max(l_orderkey, l_extendedprice) AS max_price_order, " +
        "arg_min(l_orderkey, l_extendedprice) AS min_price_order " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_agg_first_last_ordered" ->
      ("SELECT user_id, arg_min(event_type, ts) AS first_event, " +
        "arg_max(event_type, ts) AS last_event, count(*) AS cnt " +
        "FROM events GROUP BY user_id ORDER BY user_id"),
    // width_bucket(x, 0, 100000, 20) ≡ floor(x/5000)+1 on this non-negative
    // domain (values past the top edge land in bucket 21 both ways)
    "d_agg_mode" ->
      ("WITH c AS (SELECT l_returnflag, l_quantity, count(*) c FROM lineitem " +
        "GROUP BY l_returnflag, l_quantity) " +
        "SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_n FROM (" +
        "SELECT *, row_number() OVER (PARTITION BY l_returnflag " +
        "ORDER BY c DESC, l_quantity ASC) rn FROM c) WHERE rn = 1 " +
        "ORDER BY l_returnflag"),
    "d_agg_filter_clause" ->
      ("SELECT l_returnflag, count(*) AS cnt, " +
        "count(*) FILTER (WHERE l_quantity > 25) AS n_big, " +
        "round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 4) AS disc_rev, " +
        "max(l_shipdate) FILTER (WHERE l_returnflag = 'R') AS last_return " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_agg_countmin" -> {
      // row-hash r = hex→int of md5 chars 4r+1..4r+4 (no conv() in DuckDB
      // — per-digit strpos arithmetic, the i_simhash_port recipe; one md5
      // sliced into 4 row-hashes, mirroring the Spark side)
      def bucket(r: String, w: String): String =
        (1 to 4).map { i =>
          val shift = math.pow(16, 4 - i).toLong
          s"(strpos('0123456789abcdef', " +
            s"substring(md5('cm' || $w), 4 * $r + $i, 1)) - 1) * $shift"
        }.mkString("(", " + ", ")") + " % 64"
      "WITH words AS (SELECT unnest(string_split(text, ' ')) w FROM documents), " +
        "rs AS (SELECT unnest([0, 1, 2, 3]) r), " +
        "sk AS (SELECT r, " + bucket("r", "w") + " bucket, count(*) c " +
        "FROM words CROSS JOIN rs GROUP BY 1, 2), " +
        "tr AS (SELECT w, count(*) true_cnt FROM words GROUP BY w " +
        "ORDER BY true_cnt DESC, w LIMIT 10), " +
        "pb AS (SELECT w, true_cnt, r, " + bucket("r", "w") + " bucket " +
        "FROM tr CROSS JOIN rs) " +
        "SELECT pb.w, pb.true_cnt, min(sk.c) est_cnt FROM pb " +
        "JOIN sk ON pb.r = sk.r AND pb.bucket = sk.bucket " +
        "GROUP BY pb.w, pb.true_cnt ORDER BY pb.w"
    },
    "d_agg_histogram" ->
      ("SELECT CAST(floor(l_extendedprice / 5000) + 1 AS BIGINT) AS bucket, " +
        "count(*) AS cnt FROM lineitem GROUP BY bucket ORDER BY bucket"),
    "d_agg_median" ->
      ("SELECT l_returnflag, round(median(l_extendedprice), 4) AS med_price, " +
        "round(median(l_quantity), 4) AS med_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "d_agg_bool" ->
      ("SELECT l_returnflag, bool_and(l_discount < 0.2) AS all_small_disc, " +
        "bool_or(l_quantity > 49) AS any_max_qty, count(*) AS cnt " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "b_unpivot" ->
      ("SELECT l_orderkey, l_linenumber, metric, val FROM (" +
        "SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem " +
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem) " +
        "ORDER BY l_orderkey, l_linenumber, metric, val"),
    "f_sort_multi_nulls" ->
      ("SELECT o_orderkey, nullif(o_orderstatus,'P') AS st, o_totalprice FROM orders " +
        "ORDER BY st ASC NULLS FIRST, o_totalprice DESC, o_orderkey"),
    "f_limit_topk" ->
      ("SELECT o_orderkey, o_totalprice FROM orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"),
    "f_limit_offset" ->
      ("SELECT o_orderkey, o_custkey, o_orderpriority FROM orders " +
        "ORDER BY o_orderkey LIMIT 10 OFFSET 20"),
    "f_union_all" ->
      ("SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 300000 " +
        "UNION ALL " +
        "SELECT o_orderkey, o_orderpriority FROM orders " +
        "WHERE o_orderstatus = 'F' AND o_totalprice > 250000 " +
        "ORDER BY o_orderkey, o_orderpriority"),
    "f_union_distinct" ->
      ("SELECT o_orderkey, o_orderpriority FROM orders WHERE o_totalprice > 300000 " +
        "UNION " +
        "SELECT o_orderkey, o_orderpriority FROM orders " +
        "WHERE o_orderstatus = 'F' AND o_totalprice > 250000 " +
        "ORDER BY o_orderkey, o_orderpriority"),
    "f_intersect" ->
      ("SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 200000 " +
        "INTERSECT " +
        "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus <> 'P' " +
        "ORDER BY o_orderstatus, o_orderpriority"),
    "f_intersect_all" ->
      ("SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 200000 " +
        "INTERSECT ALL " +
        "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus <> 'P' " +
        "ORDER BY o_orderstatus, o_orderpriority"),
    "f_except" ->
      ("SELECT o_orderstatus, o_orderpriority FROM orders " +
        "EXCEPT " +
        "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus = 'P' " +
        "ORDER BY o_orderstatus, o_orderpriority"),
    "f_except_all" ->
      ("SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_totalprice > 200000 " +
        "EXCEPT ALL " +
        "SELECT o_orderstatus, o_orderpriority FROM orders WHERE o_orderstatus = 'P' " +
        "ORDER BY o_orderstatus, o_orderpriority"),
  )
}
