package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 hardening (VERDICT r1 items 5/6/8): partition pruning on
  * written-back sinks, sliding-window alignment invariants at two scales,
  * and the two registration paths for the native function surface.
  */
class RobustnessSpec extends SparkTestBase {

  test("partitioned sink read-back prunes partitions on the partition key") {
    // write lineitem partitioned by l_returnflag, then filter on the key:
    // the scan must carry the predicate as a PartitionFilter (directory
    // pruning), NOT a post-scan data filter
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_scratch/prune_check"
    Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_returnflag")
      .write.mode("overwrite").partitionBy("l_returnflag").parquet(tmp)
    val q = spark.read.parquet(tmp).filter(col("l_returnflag") === "R")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").matches("(?s).*PartitionFilters:\\[[^\\]]*l_returnflag[^\\]]*\\].*"),
      s"expected l_returnflag in PartitionFilters:\n$plan")
    // and the pruned read returns exactly the partition's rows
    val expected = Tables.lineitem(spark, sfDir)
      .filter(col("l_returnflag") === "R").count()
    assert(q.count() == expected)
  }

  test("sliding windows align to the slide and cover each event 4x at two scales") {
    // derive the scale tiers from the configured fixture root instead of
    // hardcoding machine-specific paths; tiers not present are skipped
    val root = new java.io.File(sfDir).getParentFile
    val dirs = Seq("sf0.001", "sf0.01")
      .map(new java.io.File(root, _)).filter(_.isDirectory).map(_.getPath)
    assert(dirs.nonEmpty, s"no scale fixtures under $root")
    for (dir <- dirs) {
      val out = SparkEntry.queries("j_sliding")(spark, dir).collect()
      // every window start sits on a 15-minute boundary
      assert(out.forall { r =>
        val ws = r.getTimestamp(0).toInstant.getEpochSecond
        ws % (15 * 60) == 0
      }, s"window starts must align to the 15-min slide ($dir)")
      // 1h window / 15min slide => every event is counted in exactly 4 windows
      val totalWindowed = out.map(_.getLong(1)).sum
      val nEvents = Tables.events(spark, dir).count()
      assert(totalWindowed == 4 * nEvents,
        s"$dir: sum(cnt)=$totalWindowed, expected ${4 * nEvents}")
    }
  }

  test("sliding window result is invariant to input partitioning") {
    val base = SparkEntry.queries("j_sliding")(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val repart = graft.streaming.StreamOps
      .sliding(Tables.events(spark, sfDir).repartition(7, col("event_id")))
      .orderBy("ws").collect().map(_.toString).sorted.toSeq
    assert(base == repart)
  }

  test("GeoMean yields NULL on an empty relation, like built-in aggregates") {
    val gm = org.apache.spark.sql.functions.udaf(graft.functions.GeoMean)
    val r = spark.range(0).selectExpr("CAST(id AS DOUBLE) AS x")
      .agg(gm(col("x"))).collect().head
    assert(r.isNullAt(0), s"expected NULL, got $r")
  }

  test("graft_topk over an empty relation produces no groups") {
    graft.functions.VectorExprs.register(spark)
    Tables.events(spark, sfDir).filter(lit(false))
      .createOrReplaceTempView("ev_empty")
    val out = spark.sql(
      "SELECT user_id, graft_topk(value, event_id, 3, false) FROM ev_empty GROUP BY user_id")
    assert(out.count() == 0)
  }

  test("duplicate clusters are a fixpoint: every edge joins equal labels") {
    val labels = SparkEntry.queries("i_dup_clusters")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // cluster id is the component minimum, so never above the member id
    assert(labels.forall { case (id, c) => c <= id })
    // rebuild the shingle edges and check both endpoints share a label
    val docs = Tables.documents(spark, sfDir).filter(col("doc_id") < 40)
    val tok = docs.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val sh = tok.withColumn("sh", concat(col("w"), lit(" "),
        lead("w", 1).over(win), lit(" "), lead("w", 2).over(win)))
      .filter(col("sh").isNotNull).select("doc_id", "sh").distinct()
    val edges = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty && edges.forall { case (a, b) => labels(a) == labels(b) },
      "connected docs must land in the same cluster")
  }

  test("ConnectedComponents with a reliable checkpoint dir matches localCheckpoint mode") {
    // cluster mode requires reliable checkpoint() (executor loss destroys
    // localCheckpoint lineage); both modes must give the identical fixpoint
    import org.apache.spark.sql.functions.col
    val nodes = spark.range(0, 10).select(col("id"))
    val edges = spark.createDataFrame(Seq(
      (0L, 1L), (1L, 2L), (3L, 4L), (5L, 6L), (6L, 7L), (7L, 8L)
    )).toDF("src", "dst")
    val local = graft.algo.ConnectedComponents.run(nodes, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_scratch/cc_ckpt"
    val reliable = graft.algo.ConnectedComponents.run(nodes, edges, Some(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == reliable)
    assert(local == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 3L, 4L -> 3L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L, 9L -> 9L))
    // the reliable run must actually have written checkpoint data
    val wrote = new java.io.File(dir).exists()
    assert(wrote, s"expected checkpoint files under $dir")
  }

  test("extension-installed and lazily-registered functions give identical results") {
    // path A: the driver-shaped session (no spark.sql.extensions) where the
    // query layer registers the functions itself (what Verify/Bench exercise)
    val viaRegister = SparkEntry.queries("i_cosine_topk")(spark, sfDir)
      .collect().map(_.toString).toSeq

    // path B: a second session on the SAME SparkContext built through
    // GraftExtensions — the supported installation for library users
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val extSession = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      // the extension owns the registration: graft_dot resolves without any
      // VectorExprs.register call on this session
      val n = extSession.sql(
        "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .collect().head.getDouble(0)
      assert(n == 11.0)
      // and the optimizer rule is installed end-to-end: the HOF fold form
      // is rewritten to the native expression in the optimized plan
      val fused = Tables.embeddings(extSession, sfDir)
        .withColumn("v", col("embedding").cast("array<double>"))
        .selectExpr("vec_id",
          "aggregate(zip_with(v, v, (x, y) -> x * y), 0.0D, (acc, e) -> acc + e) AS n2")
      assert(fused.queryExecution.optimizedPlan.toString.contains("graft_dot"))

      val viaExtension = SparkEntry.queries("i_cosine_topk")(extSession, sfDir)
        .collect().map(_.toString).toSeq
      assert(viaRegister == viaExtension)
    } finally {
      prevActive.foreach(SparkSession.setActiveSession)
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("corrupt-record ingest quarantines exactly the planted lines; FAILFAST throws") {
    // the a_scan_corrupt key (which plants 3 bad JSONL lines) must leave
    // exactly those 3 in the _corrupt_record column, and the same file
    // must kill a FAILFAST read — the semantics a quarantine pipeline
    // relies on
    SparkEntry.queries("a_scan_corrupt")(spark, sfDir).count() // writes the file
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_scratch/scan_corrupt"
    val sch = "n_nationkey INT, n_name STRING, n_regionkey INT, _corrupt_record STRING"
    val df = spark.read.schema(sch)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(tmp)
    // Spark refuses plans that reference only the internal corrupt column
    // (including bare counts) — collect the full projection once and
    // derive both counts on the driver (28 rows: fine for a test)
    val rows = df.collect()
    assert(rows.length == Tables.nation(spark, sfDir).count() + 3)
    val corrupt = rows.count(!_.isNullAt(3))
    assert(corrupt == 3, s"expected 3 quarantined lines, got $corrupt")
    // FAILFAST semantics: same file, plain schema (no quarantine column
    // — FAILFAST rejects schemas that include it), must throw on line 1
    intercept[org.apache.spark.SparkException] {
      spark.read.schema("n_nationkey INT, n_name STRING, n_regionkey INT")
        .option("mode", "FAILFAST").json(tmp).collect()
    }
  }

  test("z-order layout: disjoint per-file ranges, MSB-dimension filter skips files") {
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_scratch/zorder_check"
    SparkEntry.queries("p_zorder")(spark, sfDir)
      .repartitionByRange(4, col("morton")).sortWithinPartitions("morton")
      .write.mode("overwrite").parquet(tmp)
    val back = spark.read.parquet(tmp)
      .withColumn("file", expr("_metadata.file_name"))
    // range partition + in-partition sort => per-file morton ranges are
    // DISJOINT — the property file-skipping statistics rely on
    val ranges = back.groupBy("file")
      .agg(min("morton").as("lo"), max("morton").as("hi"))
      .orderBy("lo").collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(ranges.length == 4)
    for (Array((_, hi), (lo2, _)) <- ranges.sliding(2).map(_.toArray))
      assert(hi < lo2, s"file ranges overlap: $ranges")
    // the higher-interleaved dimension's top bit is the global morton MSB:
    // filtering its top half confines matches to a suffix of the files
    val topHalf = back.filter(col("l_orderkey") % 1024 >= 512)
    assert(topHalf.count() > 0)
    val touched = topHalf.select("file").distinct().count()
    assert(touched <= 3, s"orderkey top-half filter touched $touched of 4 files")
  }

  test("every query key survives fully-empty input tables") {
    // a 100 TB pipeline routinely sees empty partitions, empty deltas,
    // and empty filter survivors — no operator may throw on them. Write
    // schema-preserving empty copies of all ten tables, run EVERY
    // declared key, and require zero exceptions (zero rows is fine).
    // a test-owned root (not the shared graft_scratch) so the empty copies
    // can never shadow another suite's fixture dirs
    val dst = java.nio.file.Files
      .createTempDirectory("graft_sf_empty").toString
    // raw reads (not Tables.load): the events copy must keep its
    // long-nanos ts so the loader's ns→µs conversion still applies.
    // Set the legacy conf once, restore after the copies are written.
    val prevNanos =
      spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
    try {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      for (t <- Tables.names)
        spark.read.parquet(s"$sfDir/$t.parquet").limit(0)
          .coalesce(1).write.mode("overwrite").parquet(s"$dst/$t.parquet")
    } finally prevNanos match {
      case Some(v) => spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
      case None    => spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    }
    val failures = SparkEntry.queries.flatMap { case (k, fn) =>
      try { fn(spark, dst).count(); None }
      catch { case e: Throwable => Some(s"$k: ${e.getClass.getSimpleName}") }
    }
    assert(failures.isEmpty,
      s"${failures.size} keys fail on empty input:\n${failures.mkString("\n")}")
  }

  test("per-dir fixtures never serve one tier's data to another") {
    // the fixture-backed keys run at sf0.001, then sf0.01, then sf0.001
    // in one session: the third run must read sf0.001's own fixtures
    // again, not the layouts, catalog tables or rollup sf0.01 left behind
    val root = new java.io.File(sfDir).getParentFile
    val other = new java.io.File(root, "sf0.01")
    assume(other.isDirectory, s"no sf0.01 tier under $root")
    val keys = Seq("p_join_dpp", "p_incremental_agg", "p_join_bucketed")
    def run(dir: String): Map[String, Seq[Row]] = keys.map(k =>
      k -> SparkEntry.queries(k)(spark, dir).collect().toSeq).toMap
    val first = run(sfDir)
    val second = run(other.getPath)
    val third = run(sfDir)
    for (k <- keys) {
      val (differ, same) = (second(k) != first(k), third(k) == first(k))
      assert(differ, s"$k: the two tiers must differ")
      assert(same, s"$k: sf0.001 after sf0.01 returned ${third(k).size} " +
        s"rows, expected ${first(k).size}")
    }
  }
}
