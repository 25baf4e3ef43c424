package graft

import org.apache.spark.sql.functions._
import graft.sources.{MergeClause, TxnTable}

/** Spark jobs each row-level DML call launches on a small clustered
  * table. The counts are a ceiling, not a target: a change that folds
  * phases together may lower them, none may raise them. */
class DmlJobsSpec extends SparkTestBase {
  import spark.implicits._

  /** Jobs per call, measured on this spec's tables at commit 636adea
    * (Spark 4.1, local[2], 4 shuffle partitions). */
  private val Ceiling = Map(
    "merge" -> 10, "mergeWhen" -> 13,
    "delete" -> 4, "delete dv" -> 1,
    "update" -> 3, "update dv" -> 2)

  /** A 4-file table over keys 0..399, clustered on `k` (one key range per
    * file, and `k` declared as the write-time clustering). */
  private def table(name: String): TxnTable = {
    val t = TxnTable.fresh(spark, queries.scratch(s"dmljobs_$name"))
    t.append((0L until 400L).map(k => (k, k * 3)).toDF("k", "v").repartition(4))
    t.compact(target = 4, clusterBy = Seq("k"))
    t.setProperties(Map("graft.clusterBy" -> "k"))
    assert(t.filesDF().count() == 4)
    t
  }

  private def upserts = ((10L until 20L) ++ (1000L until 1005L))
    .map(k => (k, k * 7)).toDF("k", "v")

  test("row-level DML launches no more Spark jobs than the measured ceiling") {
    val calls: Seq[(String, TxnTable => Any)] = Seq(
      "merge" -> (_.merge(upserts, Seq("k"))),
      "mergeWhen" -> (_.mergeWhen(upserts, Seq("k"), Seq(
        MergeClause.Update(None, None), MergeClause.Insert(None, None)))),
      "delete" -> (_.deleteWhere(col("k") < 5)),
      "delete dv" -> (_.deleteWhere(col("k") < 5, dv = true)),
      "update" -> (_.update(Map("v" -> lit(0L)), col("k") === 150L)),
      "update dv" -> (_.update(Map("v" -> lit(0L)), col("k") === 150L,
        dv = true)))
    val counts = calls.map { case (name, call) =>
      val t = table(name.replace(' ', '_'))
      val v0 = t.currentVersion
      val n = jobsIn(call(t))
      assert(t.currentVersion == v0 + 1, s"$name committed nothing")
      name -> n
    }.toMap
    info(s"jobs per call: $counts")
    counts.foreach { case (name, n) =>
      assert(n <= Ceiling(name), s"$name launched $n jobs, ceiling ${Ceiling(name)}")
    }
  }
}
