package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Fixtures

/** The fixture registry's contract, without Spark: roots are keyed by
  * (name, canonical dir), builds run once, nest, and are retried when
  * they throw. */
class FixturesSpec extends AnyFunSuite {
  private val base = s"${System.getProperty("java.io.tmpdir")}/graft_fixtures_spec"

  test("a build may call dir for its dependencies") {
    val d = s"$base/nested"
    var inner = ""
    val outer = Fixtures.dir("spec_outer", d) { root =>
      inner = Fixtures.dir("spec_inner", d) { r =>
        Files.writeString(Paths.get(r, "dep"), "x"); ()
      }
      Files.writeString(Paths.get(root, "own"),
        Files.readString(Paths.get(inner, "dep")))
      ()
    }
    assert(inner.nonEmpty && inner != outer)
    assert(Files.readString(Paths.get(outer, "own")) == "x")
  }

  test("a build runs once per JVM; a throwing build is retried next call") {
    val d = s"$base/retry"
    var runs = 0
    def call(): String = Fixtures.dir("spec_retry", d) { root =>
      runs += 1
      if (runs == 1) sys.error("first build fails")
      Files.writeString(Paths.get(root, "ok"), "y"); ()
    }
    assert(intercept[RuntimeException](call()).getMessage == "first build fails")
    val root = call()
    assert(runs == 2 && Files.exists(Paths.get(root, "ok")))
    assert(call() == root && runs == 2)
  }

  test("spellings of one dir share a root; different dirs never do") {
    val d = Paths.get(s"$base/same").toAbsolutePath.normalize
    val rel = Paths.get("").toAbsolutePath.relativize(d).toString
    var builds = 0
    val roots = Seq(d.toString, d.toString + "/", rel, s"$base/./x/../same")
      .map(Fixtures.dir("spec_same", _) { _ => builds += 1 })
    assert(roots.distinct.size == 1 && builds == 1, roots)
    // pairs a lossy encoding (separators flattened to `_`, a hash)
    // would merge
    val dirs = Seq(s"$base/a_b", s"$base/a/b", s"$base/a_2fb", s"$base/a.b",
      s"$base/a-b", s"$base/ab")
    val distinct = dirs.map(Fixtures.dir("spec_distinct", _) { _ => () })
    assert(distinct.distinct.size == dirs.size, distinct)
    assert(dirs.map(Fixtures.tag).distinct.size == dirs.size)
  }
}
