package graft.queries

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The per-JVM registry of on-disk query fixtures: inputs a key reads
  * but does not measure (multi-commit txn histories, staged merge
  * sources, bucketed and partitioned layouts, ANN truth tables, PQ
  * training), built once and then served from disk.
  *
  * A fixture is named by `(name, canonical sf dir)`. Its root is
  * `graft_scratch/fixtures/<tag(dir)>/<name>`, where `tag` is an
  * injective encoding of the canonical path, so two dirs never share a
  * root and `d`, `d + "/"` and a relative spelling of `d` share one. The
  * root is emptied before its build runs; a build that throws is not
  * remembered, so the next call retries it. A build may call `dir` for
  * the fixtures it depends on. */
object Fixtures {

  /** Roots built in this JVM. A root names its (name, canonical dir)
    * pair injectively, so it is the registry's key. */
  private val built = java.util.concurrent.ConcurrentHashMap
    .newKeySet[String]()

  /** Identifier-safe, injective encoding of `d`'s canonical path: ASCII
    * letters and digits stay, every other UTF-8 byte becomes `_xx` (so
    * `_` itself is escaped and decoding is unambiguous). Usable as a
    * file name and as a catalog table-name suffix. */
  def tag(d: String): String =
    Paths.get(d).toAbsolutePath.normalize.toString.getBytes(UTF_8).map { b =>
      val c = (b & 0xff).toChar
      if (c < 128 && c.isLetterOrDigit) c.toString else f"_${b & 0xff}%02x"
    }.mkString

  /** Root of fixture `name` for dir `d`, running `build(root)` first
    * unless it already ran to completion in this JVM. */
  def dir(name: String, d: String)(build: String => Unit): String = {
    require(name.matches("\\w+"), s"fixture name must be a word: $name")
    val root = scratch(s"fixtures/${tag(d)}/$name")
    // one monitor for every build: a build's nested call re-enters it,
    // and a fixture already built never takes it
    if (!built.contains(root)) synchronized {
      if (!built.contains(root)) {
        wipe(root)
        Files.createDirectories(Paths.get(root))
        build(root)
        built.add(root)
      }
    }
    root
  }

  /** Delete the tree at `dir`, if any. */
  private[graft] def wipe(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
  }

  /** Run each build, untimed, so no timed key pays for it. Each runs
    * under its own catch: one failure must not disable the rest, and the
    * failing key rebuilds (and surfaces the error) when it runs. */
  def warm(family: String)(builds: (() => Any)*): Unit =
    builds.foreach { b =>
      try { b(); () }
      catch { case e: Throwable =>
        System.err.println(s"$family fixture warm failed (key will " +
          s"rebuild timed): ${e.getMessage}")
      }
    }
}
