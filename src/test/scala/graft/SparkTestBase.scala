package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. sf0.001 is the golden fixture tier. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkTestBase.session

  /** Spark jobs started by `body` on this thread (its own job group, so
    * work elsewhere in the shared session is not counted). */
  def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-in-${System.nanoTime}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, getClass.getSimpleName)
      try body finally sc.clearJobGroup()
      org.apache.spark.graft.ListenerBus.drain(sc)
      n.get
    } finally sc.removeSparkListener(l)
  }

  override def afterAll(): Unit = super.afterAll() // session shared; never stop
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        s"${System.getProperty("java.io.tmpdir")}/graft_scratch/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
