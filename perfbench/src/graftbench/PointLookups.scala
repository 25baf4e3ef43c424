package graftbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.Tables
import graft.sources.{GraftSql, TxnTable}

/** Selective reads on two clustered tables built from `lineitem`:
  *  - `narrow`: one small commit per orderkey slice, a long log with
  *    several checkpoints, every commit below the 64-file manifest
  *    threshold, so snapshot resolution folds on the driver;
  *  - `wide`: one commit of more than 64 range-clustered files (a
  *    manifest, so resolution runs the distributed `liveFilesDF` plan)
  *    and a small second commit.
  * Each op is a seeded `readWhereEq`, `readRange`, `readWhereIn`,
  * time-travel `read(v)` + filter, or the same predicate as SQL through
  * `GraftSql.session`, on one of the two tables, collected.
  *
  * Version v of `narrow` holds exactly the rows with l_orderkey below
  * `bounds(v)`; `wide` v0 the rows below `cut`, v1 all rows. So every
  * lookup's expected result is `lineitem.filter(pred && key < bound)`,
  * which the check evaluates on a driver-side copy of the source. */
final class PointLookups extends Workload {
  import PointLookups._

  private final class LookupTables(val narrow: TxnTable, val wide: TxnTable,
      val bounds: Seq[Long], val cut: Long, val maxKey: Long,
      val sql: org.apache.spark.sql.SparkSession)
  private var tabs: LookupTables = _
  private var warmTabs: LookupTables = _

  /** (l_orderkey, row hash) of the tier's lineitem, sorted by key. */
  private var index: Array[(Long, Long)] = _

  private def build(ctx: Ctx, tier: String, prefix: String): LookupTables = {
    val spark = ctx.spark
    val root = ctx.dir(s"${prefix}catalog")
    val li = Tables.lineitem(spark, tier)
    val maxKey = li.agg(org.apache.spark.sql.functions.max("l_orderkey"))
      .head().getLong(0)
    val warm = prefix.nonEmpty
    val commits = if (warm) WarmNarrowCommits else NarrowCommits
    val step = maxKey / commits + 1
    val bounds = (1 to commits).map(i => i * step)
    val narrow = ctx.build(s"${prefix}narrow") {
      val t = TxnTable.fresh(spark, s"$root/main/narrow",
        checkpointInterval = CheckpointInterval)
      for ((hi, i) <- bounds.zipWithIndex) {
        val lo = if (i == 0) Long.MinValue else bounds(i - 1)
        t.append(li.filter(col("l_orderkey") >= lo && col("l_orderkey") < hi)
          .repartitionByRange(2, col("l_orderkey"))
          .sortWithinPartitions("l_orderkey"))
      }
      t
    }
    val cut = maxKey - maxKey / 20
    val wide = ctx.build(s"${prefix}wide") {
      val t = TxnTable.fresh(spark, s"$root/main/wide")
      t.append(li.filter(col("l_orderkey") < cut)
        .repartitionByRange(if (warm) WarmWideFiles else WideFiles,
          col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"))
      t.append(li.filter(col("l_orderkey") >= cut)
        .repartitionByRange(2, col("l_orderkey"))
        .sortWithinPartitions("l_orderkey"))
      t
    }
    new LookupTables(narrow, wide, bounds, cut, maxKey,
      GraftSql.session(spark, root))
  }

  def setup(ctx: Ctx): Unit = {
    tabs = build(ctx, ctx.data, "")
    warmTabs = build(ctx, ctx.golden, "warm_")
    ctx.warm {
      val rng = new scala.util.Random(ctx.seed)
      for (kind <- Kinds; wideTable <- Seq(false, true))
        lookup(ctx, warmTabs, kind, wideTable, rng).run()
    }
  }

  /** One block of lookups in seeded order: every kind, two on `narrow`
    * for each one on `wide`. (At half and half the median would fall in
    * the gap between the fast narrow and the slow wide lookups.) */
  def ops(ctx: Ctx): Seq[Op] = {
    val rng = new scala.util.Random(ctx.seed * 7919L)
    rng.shuffle(for (_ <- 0 until Repeats; k <- Kinds;
        w <- Seq(false, false, true)) yield (k, w))
      .map { case (k, w) => lookup(ctx, tabs, k, w, rng) }
  }

  /** 60 samples: p75 has fifteen above it, p90 only six. */
  val tailPct = 75.0

  /** A predicate on l_orderkey, at a version: `keys` for IN/eq lookups,
    * `lo..hi` for ranges. */
  private final case class Pred(keys: Seq[Long], lo: Long, hi: Long,
      version: Long) {
    def admits(k: Long): Boolean =
      if (keys.nonEmpty) keys.contains(k) else k >= lo && k <= hi
  }

  private def lookup(ctx: Ctx, tb: LookupTables, kind: String, wideTable: Boolean,
      rng: scala.util.Random): Op = {
    val tr = ctx.tracer
    val t = if (wideTable) tb.wide else tb.narrow
    val name = if (wideTable) "wide" else "narrow"
    def key() = (rng.nextDouble() * tb.maxKey).toLong
    val tip = if (wideTable) 1L else tb.bounds.size - 1L
    val pred = kind match {
      case "eq" | "sql" => Pred(Seq(key()), 0, 0, -1)
      case "range" => val lo = key(); Pred(Nil, lo, lo + RangeWidth, -1)
      case "in" => Pred(Seq.fill(InKeys)(key()).distinct, 0, 0, -1)
      case "travel" => Pred(Seq(key()), 0, 0, rng.nextInt(tip.toInt))
    }
    // the rows version v holds: below this key
    val bound = pred.version match {
      case -1 => Long.MaxValue
      case v if wideTable => if (v == 0) tb.cut else Long.MaxValue
      case v => tb.bounds(v.toInt)
    }
    val k0 = pred.keys.headOption.getOrElse(0L)
    Op(s"$kind.$name", () => {
      val rows: Array[Row] = kind match {
        case "sql" =>
          val df = tr.span("sources.sql", "sql") {
            tb.sql.sql(s"SELECT * FROM graft.main.$name WHERE l_orderkey = $k0") }
          tr.span("action", "collect") { df.collect() }
        case _ =>
          val df: DataFrame = tr.span("sources.txn", "resolve") {
            kind match {
              case "eq" => t.readWhereEq("l_orderkey", k0)
              case "range" => t.readRange("l_orderkey", pred.lo.toDouble,
                pred.hi.toDouble)
              case "in" => t.readWhereIn("l_orderkey", pred.keys)
              case "travel" => t.read(pred.version)
                .filter(col("l_orderkey") === k0)
            }
          }
          tr.span("action", "collect") { df.collect() }
      }
      () => {
        loadIndex(ctx)
        val v = if (pred.version >= 0) pred.version else tip
        if (tr.on) tr.add("txn.files_live", live.getOrElseUpdate((name, v),
          t.filesDF(v).count()).toDouble)
        // the self-test's perturbation: the first lookup gains a row
        val extra = if (ctx.perturb && performed.isEmpty) 1 else 0
        performed += ((wideTable, pred, bound))
        val got = (rows.length.toLong + extra, rows.map(rowHash).sum)
        val want = expected(pred, bound)
        if (got == want) None
        else Some(s"$pred returned ${got._1} rows, expected ${want._1}")
      }
    })
  }

  private val live = scala.collection.mutable.HashMap.empty[(String, Long), Long]
  private val performed =
    scala.collection.mutable.ArrayBuffer.empty[(Boolean, Pred, Long)]

  /** (count, hash sum) of the source rows a lookup must return. */
  private def expected(p: Pred, bound: Long): (Long, Long) = {
    val (lo, hi) = if (p.keys.nonEmpty) (p.keys.min, p.keys.max) else (p.lo, p.hi)
    var i = java.util.Arrays.binarySearch(keys, lo) match {
      case n if n < 0 => -n - 1
      case n => n
    }
    while (i > 0 && keys(i - 1) >= lo) i -= 1
    var n = 0L; var h = 0L
    while (i < keys.length && keys(i) <= hi) {
      if (keys(i) < bound && p.admits(keys(i))) { n += 1; h += index(i)._2 }
      i += 1
    }
    (n, h)
  }
  private var keys: Array[Long] = _

  /** The driver-side copy of the source, loaded by the first check. */
  private def loadIndex(ctx: Ctx): Unit = if (index == null) {
    val rows = Tables.lineitem(ctx.spark, ctx.data).collect()
    index = rows.map(r => r.getLong(0) -> rowHash(r)).sortBy(_._1)
    keys = index.map(_._1)
  }

  /** Every op was checked against the source copy; here a seeded sample
    * of the lookups made is re-run as `read(v).filter(pred)` through the
    * table, which must give the same rows as the source copy. */
  def gate(ctx: Ctx): Seq[(String, String)] = {
    val rng = new scala.util.Random(ctx.seed)
    rng.shuffle(performed.toSeq).take(GateSample).flatMap {
      case (wideTable, p, bound) =>
        val t = if (wideTable) tabs.wide else tabs.narrow
        val base = t.read(p.version)
        val rows = (if (p.keys.nonEmpty) base.filter(col("l_orderkey").isin(p.keys: _*))
          else base.filter(col("l_orderkey").between(p.lo, p.hi))).collect()
        val got = (rows.length.toLong, rows.map(rowHash).sum)
        if (got == expected(p, bound)) None
        else Some("gate" -> (s"read(${p.version}).filter($p) disagrees " +
          "with the source rows"))
    }
  }

  override def layerMetrics(ctx: Ctx, ops: Int): Map[String, Double] = {
    val tr = ctx.tracer
    val resolveMs = tr.spans.filter(_.name == "resolve")
      .map(s => (s.end - s.start) / 1e6).sum / ops
    val scanned = tr.spans.filter(_.name == "collect")
      .map(tr.filesScannedIn).sum.toDouble / ops
    val liveFiles = tr.counters.getOrElse("txn.files_live", 0.0) / ops
    Map("txn.resolve_ms" -> resolveMs, "txn.files_scanned" -> scanned,
      "txn.scan_ratio" -> (if (liveFiles > 0) scanned / liveFiles else 0.0))
  }

  /** Order-insensitive row hash, stable across the parquet source and the
    * table read (timestamps compared as epoch micros). */
  private def rowHash(r: Row): Long = {
    val s = (0 until r.length).map(i => r.get(i) match {
      case ts: java.sql.Timestamp => (ts.getTime * 1000L).toString
      case ldt: java.time.LocalDateTime =>
        (ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L).toString
      case other => String.valueOf(other)
    }).mkString("|")
    scala.util.hashing.MurmurHash3.stringHash(s).toLong
  }
}

object PointLookups {
  val Kinds = Seq("eq", "range", "in", "travel", "sql")
  /** `narrow`: 5 commits checkpointed every 2 (v2, v4). */
  val NarrowCommits = 5
  val CheckpointInterval = 2
  /** `wide`: one commit above the 64-file manifest threshold. */
  val WideFiles = 80
  val WarmNarrowCommits = 3
  val WarmWideFiles = 65
  val RangeWidth = 40L
  val InKeys = 5
  val Repeats = 4
  val GateSample = 12
}
