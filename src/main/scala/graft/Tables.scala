package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Loaders for the driver-generated test tables (TESTDATA.md, FIXTURES.md).
  *
  * Schema from the footer: each table is one parquet file, so its schema
  * is read from that file's footer in the calling JVM, without a Spark
  * job (KBs of metadata, row groups skipped), and converted exactly as
  * Spark's own inference converts it (`ParquetToSparkSchemaConverter` over
  * the session conf); the frame is then
  * `spark.read.schema(sc).parquet(path)`. A bare
  * `spark.read.parquet(path)` would infer the same schema through a
  * schema-merge Spark job on every call, even for one file. Every call
  * still builds a fresh relation with fresh attribute ids: nothing is
  * memoized, so self-joins and replaced files behave as before. Spark's
  * inference (and its error messages) still handles what the footer path
  * does not: a directory, a file written by Spark (its footer carries
  * Spark's own row-metadata schema, which inference prefers) and a path
  * that does not exist.
  *
  * Events timestamp shim (SURVEY.md §7.3.2): `events.parquet` has
  * shipped with `ts` as either `INT64 (TIMESTAMP(NANOS,false))`
  * (which Spark 4.1.2 refuses to read as a timestamp — we flip
  * `spark.sql.legacy.parquet.nanosAsLong` *before* the footer is
  * converted, read Long nanoseconds, and truncate with integer division
  * `ts DIV 1000` to match DuckDB's ns→µs truncation exactly) or, since the
  * 2026-08-13 regeneration, a native `timestamp[us]` (read as
  * TIMESTAMP_NTZ, cast to session-TZ timestamp — session TZ is pinned UTC,
  * so wall values are unchanged). The loader dispatches on the *observed*
  * schema so both vintages work.
  *
  * Scale posture: these are plain parquet scans — column pruning and filter
  * pushdown are applied by Catalyst against the vectorized parquet reader, so
  * a query that needs 2 columns of the 100 TB fact table reads 2 columns.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val df = read(spark, s"$sfDir/events.parquet")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
        case org.apache.spark.sql.types.TimestampType => df
        case _ => // TIMESTAMP_NTZ micros: session TZ is UTC, cast is value-preserving
          df.withColumn("ts", col("ts").cast("timestamp"))
      }
    } else {
      read(spark, s"$sfDir/$name.parquet")
    }

  /** The one parquet reader: footer schema for a single non-Spark file,
    * Spark's inference for everything else. */
  private[graft] def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path) match {
      case Some(sc) => spark.read.schema(sc).parquet(path)
      case None => spark.read.parquet(path)
    }

  /** `None` sends the path to Spark's inference: not a single file, a
    * Spark-written file, or a footer that cannot be read or converted (so
    * the error raised is Spark's own). */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      val st = p.getFileSystem(conf).getFileStatus(p)
      if (!st.isFile) None
      else {
        val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf),
          HadoopReadOptions.builder(conf).withMetadataFilter(SKIP_ROW_GROUPS).build())
        val meta = try r.getFooter.getFileMetaData finally r.close()
        if (meta.getKeyValueMetaData.containsKey(ParquetReadSupport.SPARK_METADATA_KEY)) None
        else Some(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema))
      }
    } catch { case NonFatal(_) => None }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
