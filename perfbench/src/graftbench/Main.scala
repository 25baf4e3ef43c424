package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** A timed op: `run` does the work the client waits for and returns a
  * check, which the harness calls after the op's clock has stopped.
  * The check returns None when the result is right, else the reason. */
final case class Op(kind: String, run: () => (() => Option[String]))

/** One workload of the benchmark. */
trait Workload {
  /** Build every table and fixture (each inside `ctx.build`) and warm
    * (inside `ctx.warm`). Called once, before the timed phase. */
  def setup(ctx: Ctx): Unit
  /** The timed phase's ops, a fixed list for a given seed: two passes
    * over the key list, two compaction periods of nightly batches, or
    * one block of lookups. */
  def ops(ctx: Ctx): Seq[Op]
  /** The percentile `op_tail_ms` reports: the highest with at least ten
    * of `ops`' samples above it (100 is the maximum). */
  def tailPct: Double
  /** Untimed correctness checks after the timed phase: (op kind, reason)
    * for every mismatch. */
  def gate(ctx: Ctx): Seq[(String, String)]
  /** Called once, untimed, before the traced phase starts. */
  def beforeTrace(ctx: Ctx): Unit = ()
  /** Workload-specific per-layer metrics of the traced phase. */
  def layerMetrics(ctx: Ctx, ops: Int): Map[String, Double] = Map.empty
}

final class Ctx(val spark: SparkSession, val seed: Long, val data: String,
    val golden: String, val work: Path, val perturb: Boolean) {
  var tracer = new Tracer(spark, attached = false)
  /** Build and warm times of the set-up, ms. */
  val builds = mutable.LinkedHashMap.empty[String, Double]
  var warmMs = 0.0

  def build[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally builds(name) = builds.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e6
  }
  def warm(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally warmMs += (System.nanoTime() - t0) / 1e6
  }
  /** A fresh directory under the run's work dir. */
  def dir(name: String): String = {
    val p = work.resolve(name)
    Files.createDirectories(p)
    p.toString
  }
}

/** Closed loop, one client thread: each op starts when the previous one
  * returns. See perfbench/README.md for the workloads and metrics. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val traced = a.getOrElse("trace", "0") == "1"
    val maxOps = a.getOrElse("max-ops", "1000000").toInt
    val cpus = a.getOrElse("cpus", "4").toInt
    val work = Paths.get(a("work")).toAbsolutePath
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionMs = (System.currentTimeMillis() - jvmStart).toDouble

    val ctx = new Ctx(spark, seed, a("data"), a("golden"), work,
      a.getOrElse("perturb", "0") == "1")
    val w: Workload = workload match {
      case "read_mix" => new ReadMix
      case "ingest_batches" => new IngestBatches
      case "point_lookups" => new PointLookups
      case other => sys.error(s"unknown workload $other")
    }

    w.setup(ctx)
    val heap = new HeapProbe
    heap.sample()

    // a traced run traces every other op, so the traced and untraced ops
    // share one phase and the overhead compares like with like
    if (traced) {
      ctx.tracer = new Tracer(spark, attached = true)
      w.beforeTrace(ctx)
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    }
    // the ops take the tracer they are made with
    val ops = w.ops(ctx).take(maxOps)
    // JVM launch to the first timed op: one cold set-up, all of it
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
    System.err.println(f"perfbench: session ${sessionMs / 1e3}%.1f s, " +
      f"first timed op at $setupS%.1f s")
    val all = timed(ctx, ops, traced)
    heap.sample()
    ctx.tracer.drain()
    System.err.println(f"perfbench: timed ${all.map(_.ms).sum / 1e3}%.1f s")

    val tGate = System.nanoTime()
    val gateFails = try w.gate(ctx)
      catch { case e: Throwable => Seq("gate" -> s"gate threw: $e") }
    System.err.println(f"perfbench: gate ${(System.nanoTime() - tGate) / 1e9}%.1f s")
    val failedOps = all.count(_.failure.nonEmpty)
    // end-to-end figures come from the untraced ops only
    val plain = all.filterNot(_.traced)
    val lat = plain.map(_.ms).sorted
    def rate(rs: Seq[Rec]) = rs.size / (rs.map(_.ms).sum / 1e3)

    val m = mutable.LinkedHashMap.empty[String, Double]
    m("setup_s") = setupS
    m("ops_per_s") = rate(plain)
    m("op_p50_ms") = quantile(lat, 0.5)
    m("op_tail_ms") =
      if (w.tailPct >= 100) lat.lastOption.getOrElse(0.0)
      else quantile(lat, w.tailPct / 100)
    m("op_tail_pct") = w.tailPct
    m("op_samples") = lat.size
    m("peak_heap_mb") = heap.peakMb
    if (traced) {
      val tracedOps = all.filter(_.traced)
      // per op kind, traced against untraced, then the geometric mean
      // over kinds: the two sets hold different mixes of kinds
      def overhead(stat: Seq[Double] => Double): Double = {
        val ratios = all.groupBy(_.kind).values.flatMap { rs =>
          val (t, u) = rs.partition(_.traced)
          if (t.isEmpty || u.isEmpty) None
          else Some(math.log(stat(t.map(_.ms).sorted) / stat(u.map(_.ms).sorted)))
        }
        if (ratios.isEmpty) Double.NaN else math.exp(ratios.sum / ratios.size)
      }
      m("trace.overhead_ops_per_s") = 1.0 / overhead(xs => xs.sum / xs.size) - 1.0
      m("trace.overhead_p50_ms") = overhead(quantile(_, 0.5)) - 1.0
      val t = ctx.tracer
      val n = tracedOps.size
      m ++= t.layerMetrics(n)
      val tree = t.tree()
      for ((layer, ms) <- t.selfMs(tree)) m(s"self_ms.$layer") = ms / n
      for ((k, v) <- t.counters) m(k) = v / n
      m ++= w.layerMetrics(ctx, n)
      m("jvm.gc_ms") = tracedOps.map(_.gcMs).sum / n
      m("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      Files.writeString(work.resolve("trace.json"), t.toJson(tree))
      t.close()
    }
    m("setup.session_ms") = sessionMs
    m("setup.warm_ms") = ctx.warmMs
    m("setup.build_ms") = ctx.builds.values.sum
    for ((k, v) <- ctx.builds) m(s"setup.build_ms.$k") = v

    val kinds = all.groupBy(_.kind).map { case (k, rs) =>
      k -> (rs.size, rs.count(_.failure.nonEmpty),
        quantile(rs.filterNot(_.traced).map(_.ms).sorted, 0.5)) }
    val failures = all.flatMap(r => r.failure.map(r.kind -> _))
    def list(fs: Seq[(String, String)]) = fs.take(50).map { case (k, r) =>
      s"""{"kind":${str(k)},"reason":${str(r)}}""" }.mkString("[", ",", "]")
    val prov = Map(
      "workload" -> workload, "seed" -> seed.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "master" -> s"local[$cpus]",
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_version" -> spark.version,
      "jdk_version" -> System.getProperty("java.version"))
    val json = new StringBuilder("{")
    json ++= s""""attempted":${all.size},"failed_ops":$failedOps,"""
    json ++= s""""metrics":${obj(m.map { case (k, v) => k -> num(v) })},"""
    json ++= s""""kinds":${obj(kinds.map { case (k, (n, f, p50)) =>
      k -> s"""{"attempted":$n,"failed":$f,"p50_ms":${num(p50)}}""" })},"""
    json ++= s""""failures":${list(failures)},"gate":${list(gateFails)},"""
    json ++= s""""provenance":${obj(prov.map { case (k, v) => k -> str(v) })}}"""
    Files.writeString(Paths.get(a("out")), json.toString)
    spark.stop()
  }

  final case class Rec(kind: String, ms: Double, failure: Option[String],
      traced: Boolean, gcMs: Double)

  /** Run every op once, in order. The list is fixed, never cut short by
    * a clock, so every run of every version does the same ops and the
    * tail is always the same percentile. With `traced`, every other op
    * of each kind is traced, starting with the first or the second by
    * the kind's name, so each kind has traced and untraced ops and
    * neither set always runs first. */
  def timed(ctx: Ctx, ops: Seq[Op], traced: Boolean): Seq[Rec] = {
    val seen = mutable.HashMap.empty[String, Int]
    ops.map { op =>
      val occurrence = seen.getOrElse(op.kind, 0)
      seen(op.kind) = occurrence + 1
      ctx.tracer.on = traced && (occurrence + (op.kind.## & 1)) % 2 == 0
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val checked = try Right(ctx.tracer.op(op.kind)(op.run()))
        catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val gc = gcMs() - gc0
      val failure = checked match {
        case Left(e) => Some(s"threw: $e")
        case Right(check) =>
          try check() catch { case e: Throwable => Some(s"check threw: $e") }
      }
      val rec = Rec(op.kind, ms, failure, ctx.tracer.on, gc)
      ctx.tracer.on = false
      rec
    }
  }

  /** Harrell-Davis estimate of quantile `q`: a Beta-weighted average of
    * every order statistic. A mix of op kinds makes latency a mixture of
    * clusters; a single order statistic jumps from one cluster to the
    * next when one kind shifts slightly, this estimate moves smoothly. */
  def quantile(sorted: Seq[Double], q: Double): Double = sorted.size match {
    case 0 => 0.0
    case 1 => sorted.head
    case n =>
      val beta = new org.apache.commons.math3.distribution.BetaDistribution(
        null, q * (n + 1), (1 - q) * (n + 1))
      var prev = 0.0; var acc = 0.0
      for (i <- 1 to n) {
        val c = beta.cumulativeProbability(i.toDouble / n)
        acc += (c - prev) * sorted(i - 1); prev = c
      }
      acc
  }

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum.toDouble

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Heap in use after a full collection, sampled after set-up and after
  * the timed phase (never inside an op); `peakMb` is the larger. */
final class HeapProbe {
  var peakMb = 0.0
  def sample(): Unit = {
    // twice: the first collection queues Spark's weakly-held state
    // (broadcasts, shuffles, cached plans) for its cleaner thread
    System.gc()
    Thread.sleep(100)
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakMb = math.max(peakMb, used / 1048576.0)
  }
}
