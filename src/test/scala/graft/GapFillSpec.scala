package graft

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det.r4
import graft.queries.EWindows

/** The hourly gap-fill keys (e_interp_linear, e_resample_locf) against the
  * grid formulation they replaced: build every hour from the user's first
  * to last event, left-join the hourly observations onto it, and find each
  * slot's neighbors with a preceding and a following frame. That form is
  * quadratic per user; it is kept here only as the reference. Equality is
  * exact on the collected, sorted rows. */
class GapFillSpec extends SparkTestBase {

  private def grid(ev: DataFrame): DataFrame =
    ev.groupBy("user_id").agg(min("ts").as("t0"), max("ts").as("t1"))
      .select(col("user_id"),
        explode(expr("sequence(date_trunc('hour', t0), t1, interval 1 hour)"))
          .as("slot"))

  private def refInterp(ev: DataFrame): DataFrame = {
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("slot"))
      .agg(floor(sum("value") * 100 + 0.5).cast("long").as("hv"))
    val wp = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, 0)
    val wn = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(0, Window.unboundedFollowing)
    grid(ev).join(hourly, Seq("user_id", "slot"), "left")
      .withColumn("h", expr("unix_timestamp(slot) DIV 3600"))
      .select(col("user_id"), col("slot"), col("hv"), col("h"),
        last("hv", ignoreNulls = true).over(wp).as("pv"),
        last(when(col("hv").isNotNull, col("h")), ignoreNulls = true)
          .over(wp).as("ph"),
        first("hv", ignoreNulls = true).over(wn).as("nv"),
        first(when(col("hv").isNotNull, col("h")), ignoreNulls = true)
          .over(wn).as("nh"))
      .select(col("user_id"), col("slot"), col("hv").isNotNull.as("observed"),
        when(col("hv").isNotNull, col("hv") * 100).otherwise(expr(
          "(2 * 100 * (pv * (nh - h) + nv * (h - ph)) + (nh - ph)) " +
            "DIV (2 * (nh - ph))")).as("v_c100"))
      .orderBy("user_id", "slot")
  }

  private def refLocf(ev: DataFrame): DataFrame = {
    val hourly = ev
      .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("slot"))
      .agg(r4(avg("value")).as("v"))
    val w = Window.partitionBy("user_id").orderBy("slot")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid(ev).join(hourly, Seq("user_id", "slot"), "left")
      .select(col("user_id"), col("slot"),
        last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
      .orderBy("user_id", "slot")
  }

  /** The collected rows of `got`, after asserting they equal `want`'s. */
  private def assertSame(what: String, got: DataFrame, want: DataFrame): Seq[Row] = {
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    assert(g.nonEmpty, s"$what: empty result")
    val firstDiff = g.zip(w).indexWhere { case (a, b) => a != b }
    assert(g == w, s"$what: ${g.size} rows vs reference ${w.size}; " +
      s"first difference at row $firstDiff: " +
      s"${g.lift(firstDiff)} vs ${w.lift(firstDiff)}")
    g
  }

  private def events(dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("user_id") < 500)

  private def sf01Dir: String =
    new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  test("interpLinear equals the grid + two-frame reference on hand-built gaps") {
    val t0 = Instant.parse("2024-01-01T10:00:00Z")
    def at(min: Long) = Timestamp.from(t0.plusSeconds(min * 60))
    // (user, minutes after t0, value): user 1 one event; user 2 adjacent
    // hours; user 3 a 1-hour gap; user 4 a 29-hour gap, then an adjacent
    // hour; user 5 two events in one hour, then a gap; user 6 a null-valued
    // hour inside a gap, interpolated like a missing one
    val rows = Seq[(Long, Long, java.lang.Double)](
      (1, 7, 3.25),
      (2, 5, 1.10), (2, 70, 2.20), (2, 175, 0.05),
      (3, 0, 10.00), (3, 150, 11.01),
      (4, 59, 0.01), (4, 1859, 489.99), (4, 1860, 0.02),
      (5, 10, 1.01), (5, 50, 2.02), (5, 250, 7.77),
      (6, 0, 4.00), (6, 75, null), (6, 185, 5.00))
    val schema = "user_id BIGINT, ts TIMESTAMP, value DOUBLE"
    val ev = spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (u, m, v) => Row(u, at(m), v) }, 3),
      org.apache.spark.sql.types.StructType.fromDDL(schema))
    val out = assertSame("hand-built", EWindows.interpLinear(ev), refInterp(ev))
    assert(out.count(_.getLong(0) == 1) == 1, "single-hour user is one row")
    assert(out.count(_.getLong(0) == 4) == 32, "long gap spans hours 10..41")
    assert(out.count(r => !r.getBoolean(2)) == 1 + 29 + 3 + 2)
  }

  test("e_interp_linear and e_resample_locf equal the reference at sf0.001") {
    assertSame("interp sf0.001",
      SparkEntry.queries("e_interp_linear")(spark, sfDir),
      refInterp(events(sfDir)))
    assertSame("locf sf0.001",
      SparkEntry.queries("e_resample_locf")(spark, sfDir),
      refLocf(events(sfDir)))
  }

  test("e_interp_linear and e_resample_locf equal the reference at sf0.01") {
    assume(new java.io.File(sf01Dir).isDirectory, s"no sf0.01 tier at $sf01Dir")
    assertSame("interp sf0.01",
      SparkEntry.queries("e_interp_linear")(spark, sf01Dir),
      refInterp(events(sf01Dir)))
    assertSame("locf sf0.01",
      SparkEntry.queries("e_resample_locf")(spark, sf01Dir),
      refLocf(events(sf01Dir)))
  }
}
