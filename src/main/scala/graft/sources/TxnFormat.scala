package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** ONE format name — `"graft-txn"` — for every access mode of the
  * transactional table, the way a user of a log-structured format
  * expects to reach it:
  *
  *  - batch read: `spark.read.format("graft-txn").load(root)`, with
  *    `versionAsOf` / `timestampAsOf` time-travel options (the latter
  *    takes epoch millis or a session-TZ `yyyy-MM-dd HH:mm:ss[.SSS]`);
  *  - batch write: `df.write.format("graft-txn").mode(...)` — Append and
  *    Overwrite map onto the table's commits, ErrorIfExists refuses an
  *    existing table, Ignore no-ops on one;
  *  - stream read / stream write: delegated to `TxnStreamSource` and
  *    `TxnSink` (the commit-version tail and the ledger-idempotent sink).
  *
  * The batch read is the V1 relation BRIDGE, not a re-implemented
  * reader: `buildScan` builds the ordinary snapshot plan (`table.read`),
  * pushes the translatable filters and the column prune INTO that inner
  * plan — so the parquet scan underneath prunes columns and row groups
  * exactly as the native API does — and hands Spark the resulting RDD.
  * All filters are also re-evaluated by Spark above the bridge (the V1
  * contract when `unhandledFilters` is left conservative), so a filter
  * the translation skips costs pruning, never rows. The native
  * `TxnTable` API remains the no-conversion fast path; the format exists
  * so `format(...)`-level tooling can mount the table unchanged.
  */
class TxnFormat extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "graft-txn"

  private def opt(parameters: Map[String, String], key: String): Option[String] =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(key) => v }

  private def rootOf(parameters: Map[String, String]): String =
    opt(parameters, "path").getOrElse(throw new IllegalArgumentException(
      "graft-txn needs a table root: .load(root) / .save(root) / .option(\"path\", root)"))

  // ------------------------------------------------------------ batch read

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val table = TxnTable.at(ctx.sparkSession, rootOf(parameters))
    // batch CHANGE-FEED read (readChangeFeed=true): the row-level CDC
    // range [startingVersion, endingVersion] (inclusive, Delta's
    // convention; endingVersion defaults to the tip) through the same
    // bridge — the incremental consumer's batch entry point
    if (opt(parameters, "readChangeFeed").exists(_.toBoolean)) {
      val from = opt(parameters, "startingVersion").map(_.toLong)
        .getOrElse(throw new IllegalArgumentException(
          "readChangeFeed needs startingVersion (inclusive)"))
      // pin the defaulted end to the tip NOW: the relation resolves its
      // plan once per scan, and a concurrent commit mid-query must not
      // let schema and scan bind different ranges (snapshot isolation)
      val to = opt(parameters, "endingVersion").map(_.toLong)
        .getOrElse(table.currentVersion)
      return new TxnRelation(ctx, () => table.readChanges(from - 1, to))
    }
    val version = (opt(parameters, "versionAsOf"),
        opt(parameters, "timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "set versionAsOf or timestampAsOf, not both")
      case (Some(v), None) => v.toLong
      case (None, Some(ts)) =>
        table.versionAtTime(
          if (ts.forall(_.isDigit)) ts.toLong
          else {
            val zone = java.time.ZoneId
              .of(ctx.sparkSession.sessionState.conf.sessionLocalTimeZone)
            java.time.LocalDateTime.parse(ts.replace(' ', 'T'))
              .atZone(zone).toInstant.toEpochMilli
          })
      case (None, None) => -1L
    }
    // resolve the tip ONCE at relation creation: `inner()` runs again on
    // every buildScan, so an unpinned -1 would let a concurrent commit
    // land between the schema read and the scan (or between two scans of
    // a self-join) and bind two different versions — the snapshot a
    // loaded DataFrame documents is the one at load time
    val pinned = if (version < 0) table.currentVersion else version
    // pushed filters prune FILES through the same extractor every DML
    // and SQL WHERE uses: their conjunction, analyzed against the table
    new TxnRelation(ctx, () => table.read(pinned),
      fs => Some(table.readPruned(fs.flatMap(TxnFilters.one)
        .reduceOption(_ && _).fold(Seq.empty[TxnTable.SkipPred])(
          table.skipPredsFor(_, pinned)), pinned)))
  }

  // ----------------------------------------------------------- batch write

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val root = rootOf(parameters)
    val table = TxnTable.at(ctx.sparkSession, root)
    val exists = table.currentVersion >= 0
    mode match {
      case SaveMode.Append => table.append(data)
      case SaveMode.Overwrite => table.overwrite(data)
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft-txn table already exists at $root (mode ErrorIfExists)")
        table.append(data)
      case SaveMode.Ignore => if (!exists) table.append(data)
    }
    // same pinning as the read path: the returned relation is the
    // post-write snapshot, not a floating tip
    val tip = table.currentVersion
    new TxnRelation(ctx, () => table.read(tip))
  }

  // -------------------------------------------------------- streaming modes

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String])
      : (String, StructType) =
    new TxnStreamSource().sourceSchema(ctx, schema, providerName, parameters)

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new TxnStreamSource()
      .createSource(ctx, metadataPath, schema, providerName, parameters)

  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink =
    new TxnSink().createSink(ctx, parameters, partitionColumns, outputMode)
}

/** source.Filter → Column translation shared by the V1 scan bridge
  * (best-effort: untranslatable filters are left for Spark's
  * re-evaluation above) and the connector-level DELETE (exact: any
  * untranslatable filter refuses the whole set — there is nothing above
  * a delete to re-check). */
private[graft] object TxnFilters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}

  def one(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(s"`$a`") === v)
    case EqualNullSafe(a, v) => Some(col(s"`$a`") <=> v)
    case GreaterThan(a, v) => Some(col(s"`$a`") > v)
    case GreaterThanOrEqual(a, v) => Some(col(s"`$a`") >= v)
    case LessThan(a, v) => Some(col(s"`$a`") < v)
    case LessThanOrEqual(a, v) => Some(col(s"`$a`") <= v)
    case In(a, vs) => Some(col(s"`$a`").isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(s"`$a`").isNull)
    case IsNotNull(a) => Some(col(s"`$a`").isNotNull)
    case StringStartsWith(a, v) => Some(col(s"`$a`").startsWith(v))
    case StringEndsWith(a, v) => Some(col(s"`$a`").endsWith(v))
    case StringContains(a, v) => Some(col(s"`$a`").contains(v))
    case AlwaysTrue() => Some(lit(true))
    case AlwaysFalse() => Some(lit(false))
    case And(l, r) => for (lc <- one(l); rc <- one(r)) yield lc && rc
    case Or(l, r) => for (lc <- one(l); rc <- one(r)) yield lc || rc
    case Not(c) => one(c).map(not)
    case _ => None
  }

  /** Exact conjunction of the whole set, or None if ANY member fails. */
  def toCondition(filters: Array[Filter]): Option[Column] =
    filters.foldLeft(Option(lit(true))) { (acc, f) =>
      for (a <- acc; c <- one(f)) yield a && c
    }
}

/** The V1 bridge relation: schema and scans delegate to the inner plan
  * (a snapshot read or a change-feed read), so pruning/pushdown happen
  * in the inner (parquet) scan. Snapshot reads additionally hand the
  * scan's filters to `pruned` — the commit-log FILE skipping
  * (stats/bloom/null prune), so `spark.read.format("graft-txn")...
  * .filter(...)` plans only the surviving files like the native APIs;
  * the change-feed path has no per-file stats context and passes None. */
private[sources] class TxnRelation(ctx: SQLContext,
    inner: () => DataFrame,
    pruned: Array[Filter] => Option[DataFrame] = _ => None)
    extends BaseRelation with PrunedFilteredScan {
  import org.apache.spark.sql.functions.col

  override def sqlContext: SQLContext = ctx
  override val schema: StructType = inner().schema

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    var df = if (filters.nonEmpty) pruned(filters).getOrElse(inner())
             else inner()
    // best-effort: each translatable filter pushes into the inner plan;
    // the rest cost pruning, never rows (Spark re-evaluates above — the
    // V1 contract with conservative unhandledFilters — which is also
    // what makes the FILE prune above safe: the exact predicate always
    // re-applies on whatever survives)
    filters.flatMap(TxnFilters.one).foreach(c => df = df.filter(c))
    df.select(requiredColumns.toIndexedSeq.map(c => col(s"`$c`")): _*).rdd
  }
}
