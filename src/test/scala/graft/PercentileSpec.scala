package graft

import java.io.File
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.DAggregates.{exactPercentile, sortedValues}

/** `DAggregates.exactPercentile` over `sortedValues` must reproduce
  * Spark's exact `percentile` (and `median`, its 0.5 case) bit for bit:
  * Spark stays the reference. */
class PercentileSpec extends SparkTestBase {
  private val sf01Dir =
    new File(new File(sfDir).getParentFile, "sf0.01").getPath

  private def bits(df: DataFrame): Map[String, Seq[Option[Long]]] =
    df.collect().map { r =>
      r.get(0).toString -> (1 until r.length).map(i =>
        if (r.isNullAt(i)) None
        else Some(java.lang.Double.doubleToLongBits(r.getDouble(i))))
    }.toMap

  private def assertSame(df: DataFrame, g: String, x: String, ps: Seq[Double]): Unit = {
    val refs = ps.map(p => expr(s"percentile($x, $p)"))
    val ref = df.groupBy(g).agg(refs.head, refs.tail: _*)
    val got = df.groupBy(g).agg(sortedValues(col(x)).as("xs"))
      .select(col(g) +: ps.map(exactPercentile(col("xs"), _)): _*)
    val (r, o) = (bits(ref), bits(got))
    assert(r.nonEmpty && r.keySet == o.keySet)
    for (k <- r.keys) assert(o(k) == r(k), s"$x group $k at ${ps.mkString(",")}")
  }

  private val ps = Seq(0.0, 0.05, 0.25, 0.5, 0.9, 0.95, 1.0)

  test("exact percentile equals percentile() on hand-built groups") {
    import spark.implicits._
    val df = Seq[(String, Option[Double])](
      ("all_null", None), ("all_null", None), // an empty group after nulls
      ("one", Some(3.5)),
      ("two", Some(4.0)), ("two", Some(1.0)),
      ("dups", Some(2.0)), ("dups", Some(5.0)), ("dups", Some(2.0)),
      ("dups", Some(7.25)), ("dups", Some(5.0)), ("dups", Some(2.0)),
      // p = 0.9 falls between two equal neighbours, where interpolating
      // would give 7.699999999999999: percentile() returns the value
      ("tie", Some(1.0)), ("tie", Some(7.7)), ("tie", Some(7.7)),
      ("mixed", None), ("mixed", Some(-1.5)), ("mixed", Some(0.1)),
      ("mixed", Some(10.0)), ("mixed", Some(3.3)), ("mixed", None),
      ("mixed", Some(3.3)), ("mixed", Some(1e-9))
    ).toDF("g", "x")
    assertSame(df, "g", "x", ps)
    val nulls = bits(df.filter(col("g") === "all_null").groupBy("g")
      .agg(sortedValues(col("x")).as("xs"))
      .select(col("g") +: ps.map(exactPercentile(col("xs"), _)): _*))
    assert(nulls("all_null").forall(_.isEmpty))
  }

  private def tier(d: String): Unit = {
    val li = Tables.lineitem(spark, d)
      .withColumn("sk", (col("l_suppkey") % 97).cast("string"))
    val qs = Seq(0.05, 0.5, 0.9, 0.95)
    assertSame(li, "l_returnflag", "l_extendedprice", qs)
    assertSame(li, "sk", "l_extendedprice", qs)
    assertSame(li, "sk", "l_discount", ps)
    // d_agg_median's columns: exactPercentile at 0.5 against median()
    for (x <- Seq("l_extendedprice", "l_quantity")) {
      val ref = bits(li.groupBy("l_returnflag").agg(median(col(x))))
      val got = bits(li.groupBy("l_returnflag")
        .agg(sortedValues(col(x)).as("xs"))
        .select(col("l_returnflag"), exactPercentile(col("xs"), 0.5)))
      assert(ref.nonEmpty && got == ref, s"median($x)")
    }
  }

  test("exact percentile equals percentile() at sf0.001") {
    tier(sfDir)
  }

  test("exact percentile equals percentile() at sf0.01") {
    assume(new File(sf01Dir).isDirectory, s"no sf0.01 tier at $sf01Dir")
    tier(sf01Dir)
  }
}
