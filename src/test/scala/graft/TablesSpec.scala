package graft

import java.io.File

/** `Tables` resolves each input from its parquet footer: the schema Spark
  * would infer, without the schema-inference Spark job. Directories,
  * Spark-written files and missing paths still go through Spark's own
  * inference. */
class TablesSpec extends SparkTestBase {
  private val sf01Dir =
    new File(new File(sfDir).getParentFile, "sf0.01").getPath

  private def tiers: Seq[String] =
    Seq(sfDir, sf01Dir).filter(new File(_).isDirectory)

  test("every table's schema equals Spark's inferred schema, events included") {
    for (d <- tiers; name <- Tables.names) {
      val p = s"$d/$name.parquet"
      Tables.load(spark, d, name) // sets the events conf, as any query does
      assert(Tables.read(spark, p).schema == spark.read.parquet(p).schema, p)
      if (name != "events")
        assert(Tables.load(spark, d, name).schema == spark.read.parquet(p).schema, p)
    }
  }

  test("building any table's frame launches no Spark job") {
    val p = s"$sfDir/lineitem.parquet"
    assert(jobsIn(spark.read.parquet(p)) >= 1,
      "control: schema inference should launch a job")
    for (d <- tiers; name <- Tables.names) {
      val n = jobsIn(Tables.load(spark, d, name).schema)
      assert(n == 0, s"$d/$name: $n Spark job(s)")
    }
  }

  test("a Spark-written directory or file loads with the inferred schema") {
    val root = new File(graft.queries.scratch("tables_spec"))
    val dir = new File(root, "dir")
    Tables.region(spark, sfDir).write.mode("overwrite")
      .parquet(new File(dir, "region.parquet").getPath)
    val inferred = spark.read.parquet(new File(dir, "region.parquet").getPath)
    assert(Tables.region(spark, dir.getPath).schema == inferred.schema)
    assert(Tables.region(spark, dir.getPath).count() == inferred.count())
    // one part file on its own: its footer carries Spark's row metadata
    val file = new File(root, "file")
    file.mkdirs()
    val part = new File(dir, "region.parquet").listFiles()
      .filter(_.getName.startsWith("part-")).maxBy(_.length)
    java.nio.file.Files.copy(part.toPath, new File(file, "region.parquet").toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(Tables.region(spark, file.getPath).schema ==
      spark.read.parquet(new File(file, "region.parquet").getPath).schema)
  }

  test("a missing table raises Spark's own exception") {
    val missing = new File(graft.queries.scratch("tables_spec"), "absent").getPath
    val expected = intercept[Exception](spark.read.parquet(s"$missing/region.parquet"))
    val got = intercept[Exception](Tables.region(spark, missing))
    assert(got.getClass == expected.getClass, got.toString)
  }
}
