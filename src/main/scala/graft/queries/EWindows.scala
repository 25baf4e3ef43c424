package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.r4

/** Group E (window functions) of SURVEY.md §2.
  *
  * Determinism rule: every window ORDER BY includes a unique tiebreaker
  * (o_orderkey / event ts-unique-per-user), so ranking functions are pure
  * functions of the data on both engines.
  *
  * Scale posture: all windows are PARTITION BY'd (never a global window), so
  * WindowExec parallelizes across partition keys; rank-filter queries benefit
  * from WindowGroupLimitExec pushing the k-limit below the full sort.
  */
object EWindows {

  val m: ListMap[String, Q] = ListMap(
    "e_win_ranking" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        row_number().over(w).cast("long").as("rn"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
        .orderBy("o_custkey", "rn")
    }),

    "e_win_ntile_pct" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        r4(percent_rank().over(w)).as("pct_rank"),
        r4(cume_dist().over(w)).as("cume"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "e_win_lag_lead" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
      Tables.events(s, d).select(
        col("user_id"), col("event_id"), col("value"),
        lag(col("value"), 1, -1.0).over(w).as("prev_val"),
        lead(col("value"), 1).over(w).as("next_val"))
        .orderBy("user_id", "event_id")
    }),

    "e_win_first_last" -> ((s, d) => {
      // frame written explicitly — DuckDB's default frame for last_value
      // differs from Spark's (§2 E note)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        first(col("value")).over(w).as("first_val"),
        last(col("value")).over(w).as("last_val"))
        .orderBy("user_id", "event_id")
    }),

    "e_win_running_sum" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        r4(sum(col("value")).over(w)).as("run_sum"))
        .orderBy("user_id", "event_id")
    }),

    "e_win_sliding_rows" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(-3, 0)
      Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        r4(avg(col("value")).over(w)).as("mavg"),
        count(lit(1)).over(w).as("n_in_win"))
        .orderBy("user_id", "event_id")
    }),

    "e_win_range_frame" -> ((s, d) => {
      // SQL form: RANGE frames over a double ORDER BY key are cleanly
      // expressible (and identically scoped) in both dialects
      Tables.orders(s, d).createOrReplaceTempView("orders_rf")
      s.sql(
        """SELECT o_orderkey, count(*) OVER w AS cnt_band,
          |round(sum(o_totalprice) OVER w, 4) AS sum_band
          |FROM orders_rf
          |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice
          |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    "e_win_nth_value" -> ((s, d) => {
      // explicit full frame: nth_value needs to see the whole partition on
      // both engines
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.events(s, d).select(
        col("user_id"), col("event_id"),
        nth_value(col("value"), 2).over(w).as("second_val"))
        .orderBy("user_id", "event_id")
    }),

    "e_win_topk_group" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .orderBy("o_custkey", "rn")
    }),

    "e_resample_locf" -> ((s, d) => {
      // time-series resampling: per-user 1-hour grid from the user's first
      // to last event, hourly averages where data exists, gaps filled by
      // last observation carried forward — each observed hour's average
      // spans the hours up to the next observation (hourSpans). Bounded to
      // user_id < 500 like the other demonstration keys.
      hourSpans(Tables.events(s, d).filter(col("user_id") < 500),
        r4(avg("value")))
        .select(col("user_id"), col("slot"), col("v").as("v_filled"))
        .orderBy("user_id", "slot")
    }),

    "e_win_time_range" -> ((s, d) => {
      // TIME-based RANGE frame: trailing-1-hour activity per event without
      // resampling to a grid — the frame is defined by the ORDER BY value
      // (ts minus 1 hour), not a row count, so bursts and gaps are handled
      // exactly. Range frames include peers, so ties don't break
      // determinism. SQL form: the DataFrame rangeBetween API takes only
      // numeric offsets; INTERVAL frames are the SQL surface.
      Tables.events(s, d).createOrReplaceTempView("events_tr")
      s.sql(
        """SELECT user_id, event_id, ts,
          |  count(*) OVER w AS n_1h,
          |  round(sum(value) OVER w, 4) AS sum_1h
          |FROM events_tr
          |WINDOW w AS (PARTITION BY user_id ORDER BY ts
          |  RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
          |ORDER BY user_id, event_id""".stripMargin)
    }),

    "e_win_ignore_nulls" -> ((s, d) => {
      // IGNORE NULLS navigation over a sparse signal: "big order" price is
      // defined only where o_totalprice > 300000; lag(..., ignoreNulls)
      // fetches the customer's previous big order skipping the gaps, and
      // last(..., ignoreNulls) over the running frame is the LOCF carry.
      // One window sort serves both frames.
      val w = Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .withColumn("big",
          when(col("o_totalprice") > 300000, r4(col("o_totalprice"))))
        .select(col("o_custkey"), col("o_orderkey"), col("big"),
          lag(col("big"), 1, null, ignoreNulls = true).over(w).as("prev_big"),
          last(col("big"), ignoreNulls = true).over(run).as("last_big"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    "e_interp_linear" -> ((s, d) =>
      interpLinear(Tables.events(s, d).filter(col("user_id") < 500))),

    "e_sessionize" -> ((s, d) => {
      // batch sessionization (gaps-and-islands): a new session starts when
      // the per-user gap exceeds 30 min; session index = running sum of
      // boundary flags. One shuffle on user_id feeds both window passes and
      // the final session aggregate (same partitioning) — at 100 TB this is
      // the classic one-exchange clickstream rollup. The fixture's mean
      // per-user gap is ~29 min, so the 30-min threshold genuinely splits.
      val wo = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = 1800L * 1000000L
      val ev = Tables.events(s, d)
        .withColumn("prev_ts", lag(col("ts"), 1).over(wo))
        .withColumn("brk", when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapUs, 1L)
          .otherwise(0L))
        .withColumn("sess", sum("brk").over(
          wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      ev.groupBy("user_id", "sess")
        .agg(count(lit(1)).as("n_events"), min("ts").as("t_start"),
          max("ts").as("t_end"), r4(sum("value")).as("sum_value"))
        .orderBy("user_id", "sess")
    }),

    "e_rolling_zscore" -> ((s, d) => {
      // rolling anomaly score: per-user trailing-20-row mean/stddev and the
      // z-score of the current value against them — the streaming-adjacent
      // outlier detector, computed in ONE WindowExec pass (all four
      // aggregates share the frame). Stats are emitted only for FULL
      // frames (count = 20): partial-frame means of 2-decimal data land at
      // 5-decimal granularity, exactly on round(,4) half-boundaries, where
      // the engines' rounding paths legitimately disagree (§7.3); full
      // frames have 0.0005 granularity, exact at 4 decimals. The flag
      // thresholds the ROUNDED score so the cut is engine-stable.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-19, 0)
      val full = count(lit(1)).over(w) === 20
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          when(full, avg("value").over(w)).as("m"),
          when(full, stddev_samp("value").over(w)).as("sd"))
        .withColumn("z", when(col("sd") > 1e-9,
          r4((col("value") - col("m")) / col("sd"))))
        .select(col("user_id"), col("event_id"), col("value"),
          r4(col("m")).as("roll_mean"), r4(col("sd")).as("roll_std"),
          col("z"), (col("z") >= 2.5 || col("z") <= -2.5).as("is_outlier"))
        .orderBy("user_id", "event_id")
    }),

    "e_ewma" -> ((s, d) => {
      // exponentially weighted moving average, 16-lag truncated, weights
      // normalized over the lags actually present (the pandas adjust=True
      // form; the dropped tail weight at j=16, 0.7^16 ≈ 3e-3 of mass, is
      // part of the operator contract so both engines compute the identical
      // finite sum — the closed-form recurrence needs pow(1/(1-a), rn),
      // which overflows/denormalizes for long partitions). All 16 lag()
      // calls share one window spec => a single WindowExec pass, no join.
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val terms = (0 until 16).map { j =>
        val lj = if (j == 0) col("value") else lag(col("value"), j).over(w)
        (coalesce(lj, lit(0.0)) * math.pow(0.7, j),
          when(lj.isNotNull, math.pow(0.7, j)).otherwise(0.0))
      }
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("value"),
          (terms.map(_._1).reduce(_ + _) / terms.map(_._2).reduce(_ + _))
            .as("ew"))
        .select(col("user_id"), col("event_id"), col("value"),
          r4(col("ew")).as("ewma"))
        .orderBy("user_id", "event_id")
    }),
  )

  /** Gap-fill by LINEAR interpolation (the complement of e_resample_locf)
    * of events `ev` (user_id, ts, value): per-user hourly grid from the
    * first to the last observed hour, observed hours carry the hour's
    * value sum, missing hours get the line between the nearest observed
    * neighbors. All arithmetic is integer (value sums in cents, output in
    * 1/100 cent, half-up via the exact (2a+b) DIV 2b form) — interpolated
    * fractions like v + (nv-v)/2 land exactly on round(,4)
    * half-boundaries where engine FP paths disagree, so the integer form
    * is the only bit-stable contract (same discipline as
    * i_pagerank/i_kmeans). Every missing slot lies inside a span, so it
    * has both neighbors. */
  def interpLinear(ev: DataFrame): DataFrame =
    hourSpans(ev, floor(sum("value") * 100 + 0.5).cast("long"))
      .withColumn("h", col("ph") + col("i"))
      .select(col("user_id"), col("slot"), (col("i") === 0).as("observed"),
        when(col("i") === 0, col("v") * 100).otherwise(expr(
          "(2 * 100 * (v * (nh - h) + nv * (h - ph)) + (nh - ph)) " +
            "DIV (2 * (nh - ph))")).as("v_c100"))
      .orderBy("user_id", "slot")

  /** Aggregates events `ev` (user_id, ts, value) per user and hour `slot`
    * into the hour's observation `v = hourly`, and expands the observations
    * into each user's hourly grid from the first to the last observed
    * hour. An observed hour spans the hours up to the next observed one and
    * emits a row for each, `i` hours on (0 = the observed hour itself),
    * carrying its value and epoch hour `(v, ph)` and the next
    * observation's `(nv, nh)` (null after a user's last observed hour).
    * Hours whose `v` is null are not observations: they fall inside a span
    * like any other missing hour. One `lead` pass over the observed rows
    * and a generator, so the work is linear in the grid: a frame that
    * scans ahead to the next observation (ROWS BETWEEN CURRENT ROW AND
    * UNBOUNDED FOLLOWING) re-aggregates the rest of the partition per row. */
  private def hourSpans(ev: DataFrame, hourly: Column): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("slot")
    // one shuffle on user_id serves both the hourly aggregate and the
    // window; an hour holds about one event, so a map-side partial
    // aggregate ahead of a (user_id, slot) shuffle would save nothing
    ev.repartition(col("user_id"))
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("slot"))
      .agg(hourly.as("v"))
      .filter(col("v").isNotNull)
      .withColumn("ph", expr("unix_timestamp(slot) DIV 3600"))
      .select(col("user_id"), col("slot"), col("v"), col("ph"),
        lead("v", 1).over(w).as("nv"), lead("ph", 1).over(w).as("nh"))
      .withColumn("i", explode(sequence(lit(0L),
        coalesce(col("nh") - col("ph") - 1, lit(0L)))))
      .withColumn("slot", expr("slot + i * INTERVAL 1 HOUR"))
  }

  val oracle: ListMap[String, String] = ListMap(
    "e_win_ranking" ->
      ("SELECT o_custkey, o_orderkey, row_number() OVER w AS rn, rank() OVER w AS rnk, " +
        "dense_rank() OVER w AS drnk FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
        "ORDER BY o_custkey, rn"),
    "e_win_ntile_pct" ->
      ("SELECT o_custkey, o_orderkey, ntile(4) OVER w AS quartile, " +
        "round(percent_rank() OVER w, 4) AS pct_rank, " +
        "round(cume_dist() OVER w, 4) AS cume FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) " +
        "ORDER BY o_custkey, o_orderkey"),
    "e_win_lag_lead" ->
      ("SELECT user_id, event_id, value, " +
        "lag(value, 1, -1.0) OVER w AS prev_val, lead(value, 1) OVER w AS next_val " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts) " +
        "ORDER BY user_id, event_id"),
    "e_win_first_last" ->
      ("SELECT user_id, event_id, first_value(value) OVER w AS first_val, " +
        "last_value(value) OVER w AS last_val FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY user_id, event_id"),
    "e_win_running_sum" ->
      ("SELECT user_id, event_id, round(sum(value) OVER w, 4) AS run_sum FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY user_id, event_id"),
    "e_win_sliding_rows" ->
      ("SELECT user_id, event_id, round(avg(value) OVER w, 4) AS mavg, " +
        "count(*) OVER w AS n_in_win FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) " +
        "ORDER BY user_id, event_id"),
    "e_win_range_frame" ->
      ("SELECT o_orderkey, count(*) OVER w AS cnt_band, " +
        "round(sum(o_totalprice) OVER w, 4) AS sum_band FROM orders " +
        "WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice " +
        "RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) " +
        "ORDER BY o_orderkey"),
    "e_win_nth_value" ->
      ("SELECT user_id, event_id, nth_value(value, 2) OVER w AS second_val " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) " +
        "ORDER BY user_id, event_id"),
    "e_win_topk_group" ->
      ("SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (" +
        "SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER " +
        "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn " +
        "FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"),
    "e_resample_locf" ->
      ("WITH ev AS (SELECT user_id, ts::TIMESTAMP ts, value FROM events " +
        "WHERE user_id < 500), " +
        "b AS (SELECT user_id, date_trunc('hour', min(ts)) t0, max(ts) t1 " +
        "FROM ev GROUP BY user_id), " +
        "grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) slot " +
        "FROM b), " +
        "h AS (SELECT user_id, date_trunc('hour', ts) slot, round(avg(value), 4) v " +
        "FROM ev GROUP BY user_id, slot) " +
        "SELECT g.user_id, g.slot, last_value(h.v IGNORE NULLS) OVER (" +
        "PARTITION BY g.user_id ORDER BY g.slot " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled " +
        "FROM grid g LEFT JOIN h ON g.user_id = h.user_id AND g.slot = h.slot " +
        "ORDER BY g.user_id, g.slot"),
    "e_win_time_range" ->
      ("SELECT user_id, event_id, ts::TIMESTAMP ts, count(*) OVER w AS n_1h, " +
        "round(sum(value) OVER w, 4) AS sum_1h FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP " +
        "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) " +
        "ORDER BY user_id, event_id"),
    // Spark's lag(x, 1, ignoreNulls) ≡ last_value IGNORE NULLS over the
    // frame ending 1 PRECEDING — DuckDB's lag takes no IGNORE NULLS
    "e_win_ignore_nulls" ->
      ("WITH o AS (SELECT o_custkey, o_orderkey, o_orderdate, " +
        "CASE WHEN o_totalprice > 300000 THEN round(o_totalprice, 4) END big " +
        "FROM orders) " +
        "SELECT o_custkey, o_orderkey, big, " +
        "last_value(big IGNORE NULLS) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev_big, " +
        "last_value(big IGNORE NULLS) OVER " +
        "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) last_big " +
        "FROM o ORDER BY o_custkey, o_orderkey"),
    "e_interp_linear" ->
      ("WITH ev AS (SELECT user_id, ts::TIMESTAMP ts, value FROM events " +
        "WHERE user_id < 500), " +
        "b AS (SELECT user_id, date_trunc('hour', min(ts)) t0, max(ts) t1 " +
        "FROM ev GROUP BY user_id), " +
        "grid AS (SELECT user_id, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) slot " +
        "FROM b), " +
        "h AS (SELECT user_id, date_trunc('hour', ts) slot, " +
        "CAST(floor(sum(value) * 100 + 0.5) AS BIGINT) hv " +
        "FROM ev GROUP BY user_id, slot), " +
        "g AS (SELECT g.user_id, g.slot, h.hv, " +
        "epoch(g.slot)::BIGINT // 3600 h " +
        "FROM grid g LEFT JOIN h ON g.user_id = h.user_id AND g.slot = h.slot), " +
        "n AS (SELECT user_id, slot, hv, h, " +
        "last_value(hv IGNORE NULLS) OVER wp pv, " +
        "last_value(CASE WHEN hv IS NOT NULL THEN h END IGNORE NULLS) OVER wp ph, " +
        "first_value(hv IGNORE NULLS) OVER wn nv, " +
        "first_value(CASE WHEN hv IS NOT NULL THEN h END IGNORE NULLS) OVER wn nh " +
        "FROM g WINDOW wp AS (PARTITION BY user_id ORDER BY slot " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), " +
        "wn AS (PARTITION BY user_id ORDER BY slot " +
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) " +
        "SELECT user_id, slot, hv IS NOT NULL observed, " +
        "CASE WHEN hv IS NOT NULL THEN hv * 100 ELSE " +
        "CAST((2 * 100 * (pv * (nh - h) + nv * (h - ph)) + (nh - ph)) " +
        "// (2 * (nh - ph)) AS BIGINT) END v_c100 " +
        "FROM n ORDER BY user_id, slot"),
    "e_sessionize" ->
      ("WITH x AS (SELECT user_id, event_id, ts, value, " +
        "CASE WHEN lag(ts) OVER w IS NULL OR " +
        "epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 THEN 1 ELSE 0 END brk " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sx AS (SELECT user_id, ts, value, " +
        "CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS BIGINT) sess FROM x) " +
        "SELECT user_id, sess, count(*) n_events, min(ts) t_start, max(ts) t_end, " +
        "round(sum(value), 4) sum_value FROM sx GROUP BY user_id, sess " +
        "ORDER BY user_id, sess"),
    "e_rolling_zscore" ->
      ("WITH x AS (SELECT user_id, event_id, value, " +
        "CASE WHEN count(*) OVER w = 20 THEN avg(value) OVER w END m, " +
        "CASE WHEN count(*) OVER w = 20 THEN stddev_samp(value) OVER w END sd " +
        "FROM events " +
        "WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)), " +
        "z AS (SELECT user_id, event_id, value, m, sd, " +
        "CASE WHEN sd > 1e-9 THEN round((value - m) / sd, 4) END z FROM x) " +
        "SELECT user_id, event_id, value, round(m, 4) roll_mean, " +
        "round(sd, 4) roll_std, z, (z >= 2.5 OR z <= -2.5) is_outlier " +
        "FROM z ORDER BY user_id, event_id"),
    "e_ewma" -> {
      val num = (0 until 16).map { j =>
        val w = math.pow(0.7, j)
        if (j == 0) s"coalesce(value, 0) * $w"
        else s"coalesce(lag(value, $j) OVER w, 0) * $w"
      }.mkString(" + ")
      val den = (0 until 16).map { j =>
        val w = math.pow(0.7, j)
        if (j == 0) s"CASE WHEN value IS NOT NULL THEN $w ELSE 0 END"
        else s"CASE WHEN lag(value, $j) OVER w IS NOT NULL THEN $w ELSE 0 END"
      }.mkString(" + ")
      s"SELECT user_id, event_id, value, round(($num) / ($den), 4) ewma " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id) " +
        "ORDER BY user_id, event_id"
    },
  )
}
