package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.sources.TxnTable

/** The nightly pipeline writer. A ticket is a lineitem-shaped row keyed
  * on (l_orderkey, l_linenumber). One op is one day's batch: idempotent
  * append of the day's new tickets, a clustered merge of ~5%
  * corrections to the last three days' tickets, a delete of voided
  * orders, a status update of the tickets of two days ago, and a
  * freshness read of the new day; every third timed day also compacts
  * (`optimize`) and vacuums, the last timed day among them. Every input is a function of
  * (seed, day, batch size), made before the op's clock starts. The
  * expected table is an in-memory model that applies the same batches,
  * updated after the clock stops. */
final class IngestBatches extends Workload {
  import IngestBatches._

  private final class Ledger(val t: TxnTable, val batch: Int, val seed: Long) {
    var model: Map[(Long, Int), Ticket] = Map.empty
    /** The model at every committed version. */
    val at = scala.collection.mutable.HashMap.empty[Long, Map[(Long, Int), Ticket]]
    var day = 0
    var lastVacuumTip = -1L
    /** Bytes under the table dir right after the last vacuum (traced). */
    var vacuumedBytes = 0L
    var lastAppended = -1
    var files: Map[String, Long] = Map.empty
    var version = -1L
    def record(v: Long): Unit = if (v >= 0) at(v) = model
  }
  private var ledger: Ledger = _

  private def df(ctx: Ctx, ts: Seq[Ticket]): DataFrame =
    ctx.spark.createDataFrame(ts.map(_.row).asJava, Schema)

  /** Fresh table holding `BaseDays` days of tickets in one append,
    * cluster-compacted on the key. */
  private def open(ctx: Ctx, name: String, tierDir: String): Ledger = {
    val batch = math.max(40, (TicketsPerSf * sfOf(tierDir)).toInt)
    val l = new Ledger(TxnTable.fresh(ctx.spark, ctx.dir(name)), batch,
      ctx.seed)
    val base = (0 until BaseDays).flatMap(d => newTickets(l.seed, d, batch))
    l.model = base.map(x => x.key -> x).toMap
    l.record(l.t.append(df(ctx, base)))
    l.record(l.t.compact(4, clusterBy = KeyCols))
    l.day = BaseDays
    l
  }

  def setup(ctx: Ctx): Unit = {
    ledger = ctx.build("ledger")(open(ctx, "ledger", ctx.data))
    val small = ctx.build("warm_ledger")(open(ctx, "warm_ledger", ctx.golden))
    // one plain day and one compaction day
    ctx.warm {
      for (compact <- Seq(false, true)) {
        val check = day(ctx, small, compact)()
        check().foreach(r => sys.error(s"warm batch wrong: $r"))
      }
    }
  }

  /** Two compaction periods of `CompactEvery` days, each ending on its
    * compaction day, so the run ends right after a vacuum. */
  def ops(ctx: Ctx): Seq[Op] =
    (0 until 2 * CompactEvery).map(i => Op("day", day(ctx, ledger,
      i % CompactEvery == CompactEvery - 1)))

  /** Six samples: the maximum. */
  val tailPct = 100.0

  override def beforeTrace(ctx: Ctx): Unit = {
    ledger.files = dataFiles(ledger.t.root)
    ledger.version = ledger.t.currentVersion
  }

  /** Day `l.day`'s batch against `l`: inputs are made now, untimed; the
    * returned closure is the timed op. */
  private def day(ctx: Ctx, l: Ledger, compactDay: Boolean)
      : () => (() => Option[String]) = {
    val tr = ctx.tracer
    val t = l.t
    val d = l.day
    l.day += 1
    val rng = new scala.util.Random(l.seed * 1000003L + d)
    val fresh = newTickets(l.seed, d, l.batch)
    // corrections: ~5% of the last three days' tickets, carrying the
    // status those tickets have by now (two days back ships on `update`)
    val fixes = rng.shuffle(((d - 3) until d).filter(_ >= 0)
        .flatMap(dd => newTickets(l.seed, dd, l.batch)))
      .take(l.batch / 20)
      .map { x =>
        val dd = (x.orderkey / 1000000L).toInt
        x.copy(quantity = x.quantity + 1,
          price = math.round(x.price * 101) / 100.0,
          status = if (dd <= d - 3) "F" else "O")
      }
    val voided = rng.shuffle(((d - 5) until d).filter(_ >= 0)
        .flatMap(dd => (0 until l.batch / LinesPerOrder).map(orderKey(dd, _))))
      .take(math.max(1, l.batch / 200))
    val (slo, shi) = dayRange(d - 2, l.batch)
    val (flo, fhi) = dayRange(d, l.batch)
    val freshDf = df(ctx, fresh)
    val fixDf = df(ctx, fixes)

    () => {
      val vAppend = tr.span("sources.txn", "append") {
        t.appendIdempotent(freshDf, AppId, d) }
      val vMerge = tr.span("sources.txn", "merge") {
        t.merge(fixDf, KeyCols, clusterBy = KeyCols) }
      val vDelete = tr.span("sources.txn", "delete") {
        t.deleteWhere(col("l_orderkey").isin(voided: _*)) }
      val vUpdate = tr.span("sources.txn", "update") {
        t.update(Map("l_linestatus" -> lit("F")),
          col("l_orderkey").between(slo, shi)) }
      var vCompact = -1L; var vacuumed = 0
      if (compactDay) {
        vCompact = tr.span("sources.txn", "compact") {
          t.optimize(l.batch.toLong * CompactEvery, clusterBy = KeyCols) }
        vacuumed = tr.span("sources.txn", "vacuum") {
          t.vacuum(retainVersions = Retain) }
      }
      val read = tr.span("sources.txn", "resolve") {
        t.readRange("l_orderkey", flo.toDouble, fhi.toDouble) }
      val got = tr.span("action", "collect") { read.collect() }

      () => {
        l.model ++= fresh.map(x => x.key -> x); l.record(vAppend)
        l.lastAppended = d
        l.model ++= fixes.map(x => x.key -> x); l.record(vMerge)
        val vset = voided.toSet
        l.model = l.model.filter { case ((o, _), _) => !vset(o) }
        l.record(vDelete)
        for (x <- newTickets(l.seed, d - 2, l.batch); y <- l.model.get(x.key))
          l.model += x.key -> y.copy(status = "F")
        l.record(vUpdate)
        if (compactDay) {
          l.record(vCompact); l.lastVacuumTip = vCompact
          if (tr.attached) l.vacuumedBytes = dataFiles(t.root).values.sum
        }
        if (tr.attached) account(ctx, l, vacuumed, fresh.size + fixes.size,
          Seq(freshDf, fixDf))
        val rows = got.map(canon).toSeq.sorted
        val expected = l.model.valuesIterator
          .filter(x => x.orderkey >= flo && x.orderkey <= fhi).map(_.canon)
          .toSeq.sorted
        if (rows == expected) None
        else Some(s"day $d freshness read: ${rows.size} rows, " +
          s"expected ${expected.size}")
      }
    }
  }

  // ---------------------------------------------------- traced accounting

  private var plainBytes = 0L
  private var createdBytes = 0L
  private var committedRows = 0L

  /** Counters of one op of a traced run, taken after its clock stopped;
    * recorded when the op itself was traced. */
  private def account(ctx: Ctx, l: Ledger, vacuumed: Int, userRows: Int,
      batches: Seq[DataFrame]): Unit = {
    val tr = ctx.tracer
    val files = dataFiles(l.t.root)
    val v = l.t.currentVersion
    if (tr.on) {
      val created = files.filter { case (f, _) => !l.files.contains(f) }
      tr.add("txn.commits", (v - l.version).toDouble)
      tr.add("txn.checkpoints",
        created.keys.count(_.endsWith(".ckpt.parquet")))
      val data = created.filter { case (f, _) => !f.contains("_txn_log") }
      tr.add("txn.files_written", data.size)
      tr.add("txn.data_bytes_written", data.values.sum.toDouble)
      tr.add("txn.files_vacuumed", vacuumed)
      tr.add("txn.files_live", l.t.filesDF(v).count().toDouble)
      createdBytes += created.values.sum
      committedRows += userRows
      plainBytes += batches.map(b => plainParquetBytes(ctx, b)).sum
    }
    l.files = files
    l.version = v
  }

  override def layerMetrics(ctx: Ctx, ops: Int): Map[String, Double] = {
    val tr = ctx.tracer
    val t = ledger.t
    def ms(name: String) = tr.spans.filter(s => s.layer == "sources.txn" &&
      s.name == name).map(s => (s.end - s.start) / 1e6).sum / ops
    val scanned = tr.spans.filter(_.name == "collect")
      .map(tr.filesScannedIn).sum.toDouble / ops
    val live = tr.counters.getOrElse("txn.files_live", 0.0) / ops
    val opMs = tr.spans.filter(_.parent == -1L)
      .map(s => s.end - s.start).sum / 1e6
    val files = dataFiles(t.root)
    Map(
      "txn.append_ms" -> ms("append"), "txn.merge_ms" -> ms("merge"),
      "txn.delete_ms" -> ms("delete"), "txn.update_ms" -> ms("update"),
      "txn.compact_ms" -> ms("compact"), "txn.vacuum_ms" -> ms("vacuum"),
      "txn.resolve_ms" -> ms("resolve"),
      "txn.files_scanned" -> scanned,
      "txn.scan_ratio" -> (if (live > 0) scanned / live else 0.0),
      "txn.log_bytes" ->
        files.filter(_._1.contains("_txn_log")).values.sum.toDouble,
      "ingest_rows_per_s" -> committedRows / (opMs / 1e3),
      "write_amp" -> createdBytes.toDouble / math.max(1L, plainBytes),
      "space_amp" -> (if (ledger.lastVacuumTip < 0) 0.0
        else ledger.vacuumedBytes.toDouble /
          plainParquetBytes(ctx, t.read(ledger.lastVacuumTip))))
  }

  private def plainParquetBytes(ctx: Ctx, d: DataFrame): Long = {
    val p = ctx.work.resolve(s"plain-${System.nanoTime()}")
    d.coalesce(1).write.parquet(p.toString)
    val n = dataFiles(p.toString).filter(_._1.endsWith(".parquet")).values.sum
    deleteTree(p)
    n
  }

  // ------------------------------------------------------------------ gate

  /** The final snapshot and three seeded `read(v)` versions against the
    * model, and an `appendIdempotent` replay that must add nothing. */
  def gate(ctx: Ctx): Seq[(String, String)] = {
    val l = ledger
    val t = l.t
    val tip = t.currentVersion
    def diff(what: String, got: Seq[String], want: Map[(Long, Int), Ticket]) = {
      val g = got.sorted
      val w = want.valuesIterator.map(_.canon).toSeq.sorted
      if (g == w) None
      else Some("day" -> (s"$what: ${g.size} rows vs model ${w.size}, " +
        s"${g.diff(w).size} unexpected, ${w.diff(g).size} missing"))
    }
    val snap = t.read().collect().map(canon).toSeq
    val snapshot = diff(s"snapshot v$tip",
      if (ctx.perturb) snap.drop(1) else snap, l.model)
    val floor = math.max(0L, l.lastVacuumTip - Retain + 1)
    val versions = new scala.util.Random(ctx.seed)
      .shuffle((floor until tip).filter(l.at.contains).toList).take(3)
    val travel = versions.flatMap(v =>
      diff(s"read($v)", t.read(v).collect().map(canon).toSeq, l.at(v)))
    val last = l.lastAppended
    val before = t.read().count()
    val replayV = t.appendIdempotent(
      df(ctx, newTickets(l.seed, last, l.batch)), AppId, last)
    val added = t.read().count() - before
    val replay = if (replayV == -1L && added == 0) None
      else Some("day" -> s"replayed batch $last added $added rows")
    snapshot.toSeq ++ travel ++ replay.toSeq
  }
}

object IngestBatches {
  val KeyCols = Seq("l_orderkey", "l_linenumber")
  val AppId = "nightly"
  /** New tickets per day at scale factor 1. */
  val TicketsPerSf = 100000.0
  val BaseDays = 5
  val CompactEvery = 3
  val Retain = 10
  val LinesPerOrder = 4
  val DayMicros = 86400L * 1000000L
  val Day0Micros = 9131L * DayMicros // 1995-01-01

  val Schema = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampType)))

  final case class Ticket(orderkey: Long, partkey: Long, suppkey: Long,
      line: Int, quantity: Double, price: Double, discount: Double,
      tax: Double, flag: String, status: String, shipMicros: Long) {
    def key: (Long, Int) = (orderkey, line)
    def row: Row = Row(orderkey, partkey, suppkey, line, quantity, price,
      discount, tax, flag, status, new java.sql.Timestamp(shipMicros / 1000))
    def canon: String =
      Seq(orderkey, partkey, suppkey, line, quantity, price, discount, tax,
        flag, status, shipMicros).mkString("|")
  }

  def orderKey(day: Int, i: Int): Long = day * 1000000L + i
  def dayRange(day: Int, batch: Int): (Long, Long) =
    (orderKey(day, 0), orderKey(day, batch / LinesPerOrder - 1))

  /** Day `day`'s new tickets: the same for the same (seed, day, batch). */
  def newTickets(seed: Long, day: Int, batch: Int): Seq[Ticket] =
    if (day < 0) Nil
    else {
      val r = new scala.util.Random(seed * 31L + day * 1000003L)
      (0 until batch / LinesPerOrder * LinesPerOrder).map { i =>
        val q = 1 + r.nextInt(50)
        Ticket(orderKey(day, i / LinesPerOrder), r.nextInt(200000).toLong,
          r.nextInt(10000).toLong, i % LinesPerOrder + 1, q.toDouble,
          math.round(q * (9000 + r.nextInt(1000))) / 10.0,
          r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), "O",
          Day0Micros + day * DayMicros)
      }
    }

  def canon(r: Row): String = (0 until 10).map(r.get).mkString("|") + "|" +
    (r.get(10) match {
      case ts: java.sql.Timestamp => ts.getTime * 1000L
      case ldt: java.time.LocalDateTime =>
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
      case other => other
    })

  /** The scale factor a data dir was generated at, from its name. */
  def sfOf(dir: String): Double =
    Paths.get(dir).getFileName.toString.stripPrefix("sf").toDouble

  /** Every regular file under `root` with its size. */
  def dataFiles(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) Map.empty
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally w.close()
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
    finally w.close()
  }
}
