package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.TxnTable

/** Manifested snapshots within `TxnTable.checkpointDriverFileLimit` file
  * rows fold on the driver; wider ones resolve through the distributed
  * `liveDF` plan. Both folds, and the inline log, must agree on every
  * read surface at every version. */
class ManifestFoldSpec extends SparkTestBase {
  import spark.implicits._

  private def dir(name: String) = queries.scratch(s"manifestfold_$name")

  private def withLimit[A](limit: Long)(body: => A): A = {
    val prev = TxnTable.checkpointDriverFileLimit
    TxnTable.checkpointDriverFileLimit = limit
    try body finally TxnTable.checkpointDriverFileLimit = prev
  }

  private def rows(df: DataFrame): Seq[(Long, String)] =
    df.as[(Long, String)].collect().toSeq.sorted

  private def kv(lo: Long, hi: Long): DataFrame =
    (lo until hi).map(k => (k, s"v$k")).toDF("k", "v")

  /** An append whose publish lands but is reported lost: the retry
    * commits the same staged files again at the next version. */
  private def appendTwice(t: TxnTable, df: DataFrame): Unit = {
    val lied = new java.util.concurrent.atomic.AtomicBoolean
    t.publishStore = new TxnTable.PublishStore {
      def createIfAbsent(dst: java.nio.file.Path,
          src: java.nio.file.Path): Boolean =
        TxnTable.LocalLinkStore.createIfAbsent(dst, src) && lied.getAndSet(true)
    }
    try t.append(df) finally t.publishStore = TxnTable.LocalLinkStore
    assert(lied.get())
  }

  /** Everything one snapshot shows: its rows, its file inventory and the
    * files (with their rows) each predicate read plans. Files are named by
    * content — (rows, stats) — so two tables written alike compare equal
    * though their file names differ. */
  private def surfaces(t: TxnTable, v: Long): Seq[Any] = {
    val inv = t.filesDF(v).as[(String, Long, String)].collect()
    val byPath = inv.map { case (p, n, st) => p -> (n, st) }.toMap
    def planned(df: DataFrame) =
      (rows(df), df.inputFiles.toSeq.filter(_.contains("/d-"))
        .map(f => byPath(f.substring(f.lastIndexOf("/d-") + 1))).sorted)
    Seq(rows(t.read(v)), inv.map(r => (r._2, r._3)).toSeq.sorted,
      planned(t.readWhereEq("k", 12L, v)),
      planned(t.readRange("k", 30, 44, v)),
      planned(t.readWhereIn("k", Seq(3L, 47L, 105L, 201L), v)))
  }

  test("inline, driver-folded and distributed manifest snapshots agree at every version") {
    val ti = TxnTable.fresh(spark, dir("eq_inline"),
      manifestThreshold = Int.MaxValue, checkpointInterval = 4)
    val tm = TxnTable.fresh(spark, dir("eq_manifest"),
      manifestThreshold = 0, checkpointInterval = 4)
    for (t <- Seq(ti, tm)) {
      t.append(kv(0, 40).repartitionByRange(4, col("k")))          // v0
      t.append(kv(40, 60).repartitionByRange(2, col("k")))         // v1
      t.deleteWhere(col("k") >= 10L && col("k") < 15L)             // v2
      t.compact(target = 3, clusterBy = Seq("k"))                  // v3
      t.overwrite(kv(100, 130).repartitionByRange(3, col("k")))    // v4 +ckpt
      t.restore(3)                                                 // v5: re-adds
      appendTwice(t, kv(200, 210).repartitionByRange(2, col("k"))) // v6, v7
      t.append(kv(300, 305))                                       // v8 +ckpt
    }
    assert(tm.currentVersion == 8 && ti.currentVersion == 8)
    assert(tm.history().filter(col("action") === "restore").count() == 1)
    for (v <- 0L to 8L) {
      val inline = surfaces(ti, v)
      val driver = surfaces(tm, v)
      assert(tm.lastPlanningCollect == -1, s"v$v: driver fold collected")
      val distributed = withLimit(0L)(surfaces(tm, v))
      assert(tm.lastPlanningCollect >= 0, s"v$v: distributed fold not taken")
      assert(driver == inline, s"v$v: driver fold diverged from inline")
      assert(distributed == inline, s"v$v: distributed fold diverged from inline")
    }
    // the duplicate add stays live once and the restore's re-adds survive
    val live = (0L until 10L) ++ (15L until 60L) ++ (200L until 210L) ++
      (300L until 305L)
    assert(rows(tm.read()) == live.map(k => (k, s"v$k")))
  }

  /** One 80-file manifested commit, as a wide clustered table is. */
  private def wide(name: String): TxnTable = {
    val t = TxnTable.fresh(spark, dir(name))
    t.append(kv(0, 800).repartitionByRange(80, col("k")))
    assert(t.history().select("n_added_files").as[Long].head() == 80)
    t
  }

  private def frames(t: TxnTable): Seq[DataFrame] = Seq(
    t.read(), t.filesDF(), t.readWhereEq("k", 123L),
    t.readRange("k", 200, 215), t.readWhereIn("k", Seq(5L, 405L)))

  test("an 80-file manifest snapshot resolves with zero Spark jobs") {
    val t = wide("zero_jobs")
    // read() hands the scan all 80 paths, and past this threshold (32)
    // Spark lists them with a job of its own: the scan's cost, not
    // resolution's, so it is lifted here
    val listing = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    spark.conf.set(listing, "100")
    try {
      assert(jobsIn(frames(t)) == 0, "driver-fold resolution launched a job")
      assert(t.lastPlanningCollect == -1)
      assert(jobsIn(frames(t)) == 0)
      assert(t.parsedManifests.get() == 1,
        "the manifest memo must serve every fold after the first decode")
      // control: the same frames through the distributed fold launch jobs
      assert(withLimit(0L)(jobsIn(frames(t))) >= 1)
    } finally spark.conf.unset(listing)
    assert(rows(t.readWhereEq("k", 123L)) == Seq((123L, "v123")))
  }

  test("a manifest snapshot wider than the limit still resolves distributed") {
    // a fresh handle: nothing memoized before the limit is lowered
    val t = TxnTable.at(spark, wide("gate").root)
    for (limit <- Seq(50L, 79L)) withLimit(limit) {
      assert(jobsIn(t.readWhereEq("k", 123L)) >= 1, s"limit $limit")
      assert(t.lastPlanningCollect == 1, s"limit $limit")
      // an 80-row manifest is not admitted to a memo bounded below it
      val before = t.parsedManifests.get()
      t.filesDF(); t.filesDF()
      assert(t.parsedManifests.get() - before == 2, s"limit $limit")
    }
    withLimit(80L) {
      assert(rows(t.readWhereEq("k", 123L)) == Seq((123L, "v123")))
      assert(t.lastPlanningCollect == -1, "80 rows fit a limit of 80")
    }
  }
}
