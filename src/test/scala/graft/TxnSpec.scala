package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import graft.sources.TxnTable

/** The transactional table format's concurrency and isolation guarantees —
  * the properties the deterministic DuckDB oracle cannot race-test
  * (the t_txn_* keys pin the content semantics; this suite pins the
  * protocol under contention).
  */
class TxnSpec extends SparkTestBase {
  import spark.implicits._
  import TxnSpecOps._

  private def dir(name: String) = queries.scratch(s"txnspec_$name")

  test("commit publish is exclusive: exactly one writer wins a version slot") {
    val t = TxnTable.fresh(spark, dir("slot"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    // race 8 threads for version 1's slot via the public append path on
    // pre-staged single-row batches; versions must come out dense & unique
    val results = (1 to 8).par_unsafe { i =>
      t.append(Seq((i.toLong, s"w$i")).toDF("k", "v"))
    }
    assert(results.sorted == (1L to 8L).toList, s"versions not dense: $results")
    assert(t.read().count() == 9)
  }

  test("publish fault: storage throws AFTER creating — the commit won, the log stays consistent and winnable") {
    // the ambiguous-outcome fault every object store can produce: the
    // conditional PUT landed but the response was lost. The caller sees
    // a failure; the LOG must not care — the entry was fully staged
    // before publish, so the won slot is a complete, readable commit.
    val t = TxnTable.fresh(spark, dir("pub_throw"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.publishStore = new TxnTable.PublishStore {
      def createIfAbsent(dst: java.nio.file.Path,
          src: java.nio.file.Path): Boolean = {
        TxnTable.LocalLinkStore.createIfAbsent(dst, src)
        throw new java.io.IOException("response lost after create")
      }
    }
    intercept[java.io.IOException](t.append(Seq((2L, "b")).toDF("k", "v")))
    t.publishStore = TxnTable.LocalLinkStore
    // a fresh handle sees the ambiguous commit as a normal version...
    val t2 = TxnTable.at(spark, t.root)
    assert(t2.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // ...and the next writer builds on top of it without ceremony
    t2.append(Seq((3L, "c")).toDF("k", "v"))
    assert(t2.read().count() == 3)
    assert(t.read().count() == 3, "the faulted handle recovers too")
  }

  test("publish fault: storage creates but reports loss — the retry re-adds the same staged files, rows stay exactly-once") {
    // a LYING create-if-absent (created, said false) makes the writer
    // believe it lost the slot and re-publish at the next one. Because
    // an unchanged staging fingerprint reuses the SAME staged files and
    // the snapshot fold is path-keyed last-action-wins, the double add
    // is idempotent on the live set — at-least-once publish, exactly-
    // once data.
    val t = TxnTable.fresh(spark, dir("pub_lie"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val lies = new java.util.concurrent.atomic.AtomicInteger
    t.publishStore = new TxnTable.PublishStore {
      def createIfAbsent(dst: java.nio.file.Path,
          src: java.nio.file.Path): Boolean = {
        val won = TxnTable.LocalLinkStore.createIfAbsent(dst, src)
        if (won && lies.getAndIncrement() == 0) false else won
      }
    }
    t.append(Seq((2L, "b")).toDF("k", "v"))
    t.publishStore = TxnTable.LocalLinkStore
    assert(lies.get() >= 1, "the injected lie never fired")
    // two slots hold the append (the believed-lost one and the retry)...
    assert(t.currentVersion == 2)
    // ...but every row is live exactly once, from any handle
    val t2 = TxnTable.at(spark, t.root)
    assert(t2.read().as[(Long, String)].collect().toSeq.sortBy(_._1) ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("publish fault: crash between stage and publish — orphans shielded fresh, reclaimed past the horizon") {
    // a writer that dies after staging (data dir + manifest written,
    // entry never created): invisible to every read, shielded from
    // vacuum while young (it could still win its slot), swept once aged.
    val t = TxnTable.fresh(spark, dir("pub_crash"), manifestThreshold = 0)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.publishStore = new TxnTable.PublishStore {
      def createIfAbsent(dst: java.nio.file.Path,
          src: java.nio.file.Path): Boolean =
        throw new java.io.IOException("writer died before create")
    }
    intercept[java.io.IOException](t.append(Seq((2L, "b")).toDF("k", "v")))
    t.publishStore = TxnTable.LocalLinkStore
    assert(t.read().count() == 1, "unpublished staging must stay invisible")
    val rootP = Paths.get(t.root)
    def dataParquets = Files.walk(rootP).iterator().asScala
      .filter(p => p.toString.contains("/d-") &&
        p.getFileName.toString.endsWith(".parquet")).size
    def manifests = Files.list(rootP.resolve("_txn_log")).iterator().asScala
      .count(p => p.getFileName.toString.startsWith("m-") &&
        p.getFileName.toString.endsWith(".parquet"))
    val (dBefore, mBefore) = (dataParquets, manifests)
    assert(dBefore >= 2 && mBefore >= 2,
      s"expected live + orphaned staging on disk, got d=$dBefore m=$mBefore")
    // fresh: the in-flight shield keeps everything
    t.vacuum()
    assert(dataParquets == dBefore && manifests == mBefore,
      "vacuum swept a fresh in-flight staging")
    // aged past the horizon: data orphan AND manifest orphan go
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    Files.walk(rootP).iterator().asScala.filter(Files.isRegularFile(_))
      .foreach(p => Files.setLastModifiedTime(p, old))
    assert(t.vacuum() >= 2)
    assert(dataParquets == dBefore - 1 && manifests == mBefore - 1,
      "aged crash orphans (staged data + manifest) must sweep")
    // the table is unharmed and writable
    assert(t.read().count() == 1)
    t.append(Seq((3L, "c")).toDF("k", "v"))
    assert(t.read().count() == 2)
  }

  test("publish race across separate table handles: dense versions, no lost update") {
    // two "processes" = two independent handles on the same root, racing
    // real appends through the same atomic create-if-absent
    val root = dir("pub_handles")
    val a = TxnTable.fresh(spark, root)
    a.append(Seq((0L, 0L)).toDF("w", "b"))
    val b = TxnTable.at(spark, root)
    (1 to 2).par_unsafe { w =>
      val h = if (w == 1) a else b
      (1 to 5).foreach(i => h.append(Seq((w.toLong, i.toLong)).toDF("w", "b")))
      0L
    }
    val rows = a.read().as[(Long, Long)].collect().toSet
    val expect = Set((0L, 0L)) ++
      (for (w <- 1 to 2; i <- 1 to 5) yield (w.toLong, i.toLong)).toSet
    assert(rows == expect, s"lost updates: ${expect -- rows}")
    assert(a.currentVersion == 10, "versions must come out dense")
    assert(TxnTable.at(spark, root).read().count() == 11)
  }

  test("concurrent appenders lose no batch (optimistic retry converges)") {
    val t = TxnTable.fresh(spark, dir("appenders"))
    val perThread = 6
    (1 to 4).par_unsafe { w =>
      (1 to perThread).foreach { b =>
        t.append(Seq((w.toLong, b.toLong)).toDF("writer", "batch"))
      }
      0L
    }
    val rows = t.read().as[(Long, Long)].collect().toSet
    val expect = (for (w <- 1 to 4; b <- 1 to perThread) yield (w.toLong, b.toLong)).toSet
    assert(rows == expect, s"lost updates: ${expect -- rows}")
    assert(t.currentVersion == 4L * perThread - 1)
  }

  test("overwrite racing appends never orphans a concurrent append's rows") {
    // an overwrite that loses the slot must RECOMPUTE its remove-set, so
    // any append that won in between is removed too — otherwise its rows
    // silently survive the overwrite as phantom extras
    val t = TxnTable.fresh(spark, dir("ow_race"))
    t.append(Seq((0L, 0L)).toDF("writer", "batch"))
    (1 to 4).par_unsafe { w =>
      if (w % 2 == 0) (1 to 3).foreach(b =>
        t.append(Seq((w.toLong, b.toLong)).toDF("writer", "batch")))
      else (1 to 3).foreach(_ =>
        t.overwrite(Seq((w.toLong, -1L)).toDF("writer", "batch")))
      0L
    }
    // whatever the interleaving, the final state must equal the fold of
    // the log — i.e. the last overwrite's batch plus appends committed
    // AFTER it. Verify against an independent replay of the history.
    val hist = t.history().orderBy("version")
      .select("version", "action", "rows").as[(Long, String, Long)].collect()
    val lastOw = hist.filter(_._2 == "overwrite").map(_._1).max
    val expectRows = hist.filter(e => e._1 >= lastOw).map(_._3).sum
    assert(t.read().count() == expectRows,
      s"snapshot disagrees with log replay: ${t.read().count()} vs $expectRows")
  }

  test("snapshot isolation: a reader pinned at v stays stable across overwrite+vacuum of later data") {
    val t = TxnTable.fresh(spark, dir("isolation"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val v0 = t.read(0)
    t.overwrite(Seq((3L, "c")).toDF("k", "v"))
    // overwrite alone: old files still on disk, v0 remains readable
    assert(v0.count() == 2 && t.read().count() == 1)
    assert(t.read(0).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    // vacuum prices the retention trade: v0's files go away physically
    assert(t.vacuum() >= 1)
    intercept[Exception] { t.read(0).count() }
    assert(t.read().as[(Long, String)].collect().toSet == Set((3L, "c")))
  }

  test("compact halves the file count, keeps content, and aborts on a stale tip") {
    val t = TxnTable.fresh(spark, dir("compact"))
    (1 to 5).foreach(i => t.append(Seq((i.toLong, i * 10L)).toDF("k", "v")))
    val before = t.read().inputFiles.length
    t.compact(target = 1)
    assert(t.read().inputFiles.length == 1 && before >= 5)
    assert(t.read().as[(Long, Long)].collect().toSet ==
      (1 to 5).map(i => (i.toLong, i * 10L)).toSet)
    // stale compact: another commit lands between reading the tip and
    // publishing — the compactor must ABORT (pin the stale tip via atTip
    // to make the race deterministic), not clobber the newer commit
    val staleTip = t.currentVersion
    val racer = TxnTable.at(spark, t.root) // a second writer handle
    racer.append(Seq((99L, 990L)).toDF("k", "v"))
    intercept[IllegalStateException] { t.compact(target = 1, atTip = staleTip) }
    // the 99-row append survives the abort and the retried compact
    t.compact(target = 1)
    assert(t.read().as[(Long, Long)].collect().toSet ==
      ((1 to 5).map(i => (i.toLong, i * 10L)).toSet + ((99L, 990L))))
  }

  test("commit entries are invisible until fully published (no torn reads)") {
    val t = TxnTable.fresh(spark, dir("torn"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    // staged-but-uncommitted data must not appear in any read: stage by
    // writing a parquet dir into the table root directly (what a crashed
    // writer leaves behind) — the log never references it
    Seq((666L, "ghost")).toDF("k", "v").write
      .parquet(Paths.get(t.root).resolve("d-orphan").toString)
    assert(t.read().count() == 1)
    def orphanParquets = Files.list(Paths.get(t.root).resolve("d-orphan"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toList
    // a FRESH unreferenced staging dir may belong to an IN-FLIGHT commit
    // (stage→publish window) — vacuum must NOT touch it (r19: deleting
    // it would fail the commit that is about to win its slot)
    t.vacuum()
    assert(orphanParquets.nonEmpty,
      "vacuum deleted a fresh staged dir an in-flight commit could own")
    assert(t.read().count() == 1)
    // past the age horizon it is a crash orphan: swept like untracked GC
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    Files.list(Paths.get(t.root).resolve("d-orphan")).iterator().asScala
      .foreach(p => Files.setLastModifiedTime(p, old))
    assert(t.vacuum() >= 1)
    assert(orphanParquets.isEmpty, "aged crash orphan must be swept")
    assert(t.read().count() == 1)
  }

  test("vacuum age horizon is a table property: younger-than-horizon survives, older sweeps") {
    val t = TxnTable.fresh(spark, dir("horizon"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    // an unreferenced staging dir aged TWO hours: past the default
    // one-hour horizon, but inside a table-configured four-hour one —
    // the slow-writer shield an object-store multipart stage needs
    Seq((666L, "ghost")).toDF("k", "v").write
      .parquet(Paths.get(t.root).resolve("d-orphan").toString)
    val twoHoursOld = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2L * 60 * 60 * 1000)
    Files.list(Paths.get(t.root).resolve("d-orphan")).iterator().asScala
      .foreach(p => Files.setLastModifiedTime(p, twoHoursOld))
    def orphanParquets = Files.list(Paths.get(t.root).resolve("d-orphan"))
      .iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toList
    t.setProperties(Map(TxnTable.VacuumHorizonProp -> "4.0"))
    t.vacuum()
    assert(orphanParquets.nonEmpty,
      "a 2h-old artifact must survive a 4h configured horizon")
    // back to the default boundary: 2h > 1h → crash orphan, swept
    t.setProperties(Map(TxnTable.VacuumHorizonProp -> "1.0"))
    assert(t.vacuum() >= 1)
    assert(orphanParquets.isEmpty,
      "a 2h-old artifact must sweep under a 1h horizon")
    assert(t.read().count() == 1)
  }

  test("change feed: delivers appends once, excludes rewrites, rejects overwrites") {
    val t = TxnTable.fresh(spark, dir("feed"))
    t.append(Seq((1L, "a")).toDF("k", "v"))            // v0
    t.append(Seq((2L, "b")).toDF("k", "v"))            // v1
    t.compact(target = 1)                              // v2: rewrite only
    t.append(Seq((3L, "c")).toDF("k", "v"))            // v3
    // from the beginning: every append exactly once, compact not re-delivered
    assert(t.changesSince(-1).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a consumer at v1 sees only v3's rows (v2 carries no new data)
    assert(t.changesSince(1).as[(Long, String)].collect().toSet == Set((3L, "c")))
    // a fully-caught-up consumer gets an empty (but well-typed) feed
    assert(t.changesSince(t.currentVersion).count() == 0)
    // an overwrite breaks incremental consumption — must throw, not
    // silently deliver replaced content as if it were an extension
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))         // v4
    intercept[IllegalArgumentException](t.changesSince(1).count())
    // after re-syncing at the overwrite, tailing works again
    assert(t.changesSince(4).count() == 0)
  }

  test("schema evolution: additive only, log-driven reads, overwrite resets") {
    val t = TxnTable.fresh(spark, dir("schema"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    // additive append: new column joins the log schema; old file reads NULL
    t.append(Seq((2L, "b", 9.5)).toDF("k", "v", "w"))
    val rows = t.read().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(rows.toSeq == Seq((1L, "a", None), (2L, "b", Some(9.5))),
      s"old rows must surface NULL for the evolved column: ${rows.toSeq}")
    // dropping a column on APPEND is silently widening (the appended file
    // just lacks it) — but retyping is rejected
    intercept[IllegalArgumentException](
      t.append(Seq(("oops", "c")).toDF("k", "v")))
    // the rejected append staged files but committed nothing
    assert(t.currentVersion == 1L)
    // evolution survives compaction (rewrite carries the merged schema)
    t.compact(target = 1)
    assert(t.read().columns.toSeq == Seq("k", "v", "w"))
    // overwrite REPLACES content and resets the schema to its own
    t.overwrite(Seq((7L, 1L)).toDF("k", "n"))
    assert(t.read().columns.toSeq == Seq("k", "n"))
    // time travel still reads the pre-overwrite world under ITS schema
    assert(t.schemaAt(2L).get.fieldNames.toSeq == Seq("k", "v", "w"))
  }

  test("merge rewrites ONLY files containing matched keys; untouched files stay live") {
    val t = TxnTable.fresh(spark, dir("merge"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))   // file(s) A
    t.append(Seq((3L, "c"), (4L, "d")).toDF("k", "v"))   // file(s) B
    val filesBefore = t.history().count() // 2 commits
    val liveBefore = t.read().inputFiles.toSet
    // update k=1, insert k=9 — B's keys (3, 4) are untouched
    t.merge(Seq((1L, "A!"), (9L, "z")).toDF("k", "v"), Seq("k"))
    val liveAfter = t.read().inputFiles.toSet
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "A!"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "z")))
    // at least one pre-merge file survived verbatim (B), and at least one
    // was replaced (A) — file-granular rewrite, not a table rewrite
    assert((liveBefore & liveAfter).nonEmpty, "merge rewrote every file")
    assert((liveBefore -- liveAfter).nonEmpty, "merge rewrote nothing")
    assert(filesBefore == 2 && t.currentVersion == 2)
    // merge breaks incremental tailing across it, like overwrite
    intercept[IllegalArgumentException](t.changesSince(0).count())
    // updates-only merge with NO matched key appends without removing
    t.merge(Seq((7L, "q")).toDF("k", "v"), Seq("k"))
    assert(t.read().count() == 6)
  }

  test("mergeWhen: first-true clause wins; no-clause rows kept; untouched files live; CDC per clause") {
    import graft.sources.MergeClause._
    val t = TxnTable.fresh(spark, dir("mergewhen"))
    t.append(Seq((1L, 10L), (2L, 50L), (3L, 20L)).toDF("k", "v")) // file A
    t.append(Seq((10L, 7L)).toDF("k", "v"))                       // file B
    val liveBefore = t.read().inputFiles.toSet
    val src = Seq((1L, 100L), (2L, 100L), (3L, 1L), (9L, 5L), (8L, 99L))
      .toDF("k", "v")
    t.mergeWhen(src, Seq("k"), Seq(
      Delete(Some("t.v > 40")),                 // k=2 (stored 50) → deleted
      Update(Some("s.v >= 100"),                // k=1 → 100 + 10 = 110
        Some(Seq("v" -> "s.v + t.v"))),         //   (k=2 consumed above)
      Insert(Some("s.v < 50"),                  // k=9 → v = 10; k=8 dropped
        Some(Seq("k" -> "s.k", "v" -> "s.v * 2")))
    ), cdc = true)
    // k=3 matched but NO clause true (t.v=20 ≤ 40, s.v=1 < 100) → kept
    assert(t.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 110L), (3L, 20L), (10L, 7L), (9L, 10L)))
    // the match-free file B survived the rewrite verbatim
    assert((liveBefore & t.read().inputFiles.toSet).nonEmpty,
      "mergeWhen rewrote the untouched file")
    // per-clause change images: exactly one update pre/post pair (k=1),
    // one delete victim (k=2), one insert (k=9) — the kept row (k=3)
    // and the dropped source row (k=8) leave no image at all
    val ch = t.readChanges(t.currentVersion - 1)
      .select("_change_type", "k", "v").as[(String, Long, Long)]
      .collect().toSet
    assert(ch == Set(("update_preimage", 1L, 10L),
      ("update_postimage", 1L, 110L), ("delete", 2L, 50L),
      ("insert", 9L, 10L)), s"wrong CDC classes: $ch")
  }

  test("mergeWhen: SET * / INSERT * twin the upsert fast path; matched multi-match refuses") {
    import graft.sources.MergeClause._
    val a = TxnTable.fresh(spark, dir("mergewhen_star_a"))
    val b = TxnTable.fresh(spark, dir("mergewhen_star_b"))
    Seq(a, b).foreach { t =>
      t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
      t.append(Seq((3L, "c")).toDF("k", "v"))
    }
    val src = Seq((1L, "A!"), (9L, "z")).toDF("k", "v")
    a.merge(src, Seq("k"))
    b.mergeWhen(src, Seq("k"),
      Seq(Update(None, None), Insert(None, None)))
    assert(a.read().as[(Long, String)].collect().toSet ==
      b.read().as[(Long, String)].collect().toSet)
    // two source rows hitting one MATCHED key: refused loudly with the
    // offending key named (the Delta multi-match error class) — while
    // duplicate UNMATCHED keys stay legal and insert per-row
    val dup = Seq((1L, "x"), (1L, "y"), (7L, "n1"), (7L, "n2")).toDF("k", "v")
    val e = intercept[IllegalStateException] {
      b.mergeWhen(dup, Seq("k"), Seq(Update(None, None), Insert(None, None)))
    }
    assert(e.getMessage.contains("multiple source rows match") &&
      e.getMessage.contains("k=1"), e.getMessage)
    val okDup = Seq((70L, "n1"), (70L, "n2")).toDF("k", "v")
    b.mergeWhen(okDup, Seq("k"), Seq(Update(None, None), Insert(None, None)))
    assert(b.read().filter(col("k") === 70L).count() == 2)
  }

  test("mergeWhen: star clauses auto-evolve an additive source column; explicit lists do not") {
    import graft.sources.MergeClause._
    val t = TxnTable.fresh(spark, dir("mergewhen_evolve"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    // source carries a NEW column w: the conditional SET * / INSERT *
    // carry it, the schema evolves, untouched rows read NULL
    val src = Seq((1L, 11L, "a"), (9L, 90L, "z")).toDF("k", "v", "w")
    t.mergeWhen(src, Seq("k"), Seq(
      Update(Some("s.v > 10"), None), // SET *
      Insert(None, None)))            // INSERT *
    assert(t.read().columns.toSeq == Seq("k", "v", "w"))
    val rows = t.read().select("k", "v", "w")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows == Set((1L, 11L, Some("a")), (2L, 20L, None),
      (9L, 90L, Some("z"))), s"got $rows")
    // an EXPLICIT assignment list still binds to declared columns: a
    // second new column x is ignored by the explicit SET, no evolution
    t.mergeWhen(Seq((1L, 12L, "b", 7L)).toDF("k", "v", "w", "x"),
      Seq("k"), Seq(Update(None, Some(Seq("v" -> "s.v")))))
    assert(t.read().columns.toSeq == Seq("k", "v", "w"))
    assert(t.read().filter(col("k") === 1L)
      .select("v").as[Long].head() == 12L)
  }

  test("mergeWhen: NOT MATCHED BY SOURCE updates/deletes unmatched target rows, skips clean files") {
    import graft.sources.MergeClause._
    val t = TxnTable.fresh(spark, dir("mergewhen_bysource"))
    t.append(Seq((1L, 10L), (2L, 60L), (3L, 5L)).toDF("k", "v")) // A
    t.append(Seq((10L, 20L), (11L, 30L)).toDF("k", "v"))         // B: no
    val liveBefore = t.read().inputFiles.toSet                   // clause fires
    // source matches only k=1; k=2 (unmatched, v>45) → DELETE,
    // k=3 (unmatched, v<10) → target-scope UPDATE, file B's rows
    // (20, 30 — neither clause fires) stay AND file B never rewrites
    t.mergeWhen(Seq((1L, 11L)).toDF("k", "v"), Seq("k"), Seq(
      Update(None, Some(Seq("v" -> "s.v"))),
      DeleteBySource(Some("t.v > 45")),
      UpdateBySource(Some("t.v < 10"), Seq("v" -> "t.v + 100"))),
      cdc = true)
    assert(t.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 11L), (3L, 105L), (10L, 20L), (11L, 30L)))
    assert((liveBefore & t.read().inputFiles.toSet).nonEmpty,
      "BY SOURCE rewrote a file where no clause fires")
    // per-clause CDC: matched update pre/post (k=1), BY SOURCE update
    // pre/post (k=3), BY SOURCE delete (k=2); nothing for file B
    val ch = t.readChanges(t.currentVersion - 1)
      .select("_change_type", "k", "v").as[(String, Long, Long)]
      .collect().toSet
    assert(ch == Set(("update_preimage", 1L, 10L),
      ("update_postimage", 1L, 11L), ("update_preimage", 3L, 5L),
      ("update_postimage", 3L, 105L), ("delete", 2L, 60L)),
      s"wrong CDC classes: $ch")
    // assigning an engine-owned column in a BY SOURCE SET is refused
    t.addIdentityColumn("rid")
    intercept[IllegalArgumentException] {
      t.mergeWhen(Seq((1L, 1L)).toDF("k", "v"), Seq("k"),
        Seq(UpdateBySource(None, Seq("rid" -> "7"))))
    }
  }

  test("mergeWhen: BY SOURCE discovery is stats-pruned by the clause conditions (missing-file proof)") {
    import graft.sources.MergeClause._
    val t = TxnTable.fresh(spark, dir("bysource_prune"))
    val rng = new scala.util.Random(13)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 2)).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    // delete from disk a file OUTSIDE both the source-key range (k=10)
    // and the conditional clause's range (t.k < 50): the merge succeeds
    // only if discovery provably never opened it
    val victim = t.readRange("k", 350.0, 350.0).inputFiles.head
    Files.delete(Paths.get(new java.net.URI(victim)))
    t.mergeWhen(Seq((10L, 1L)).toDF("k", "v"), Seq("k"), Seq(
      Update(None, Some(Seq("v" -> "s.v"))),
      DeleteBySource(Some("t.k < 50"))))
    // k < 50 (minus the matched k=10) deleted; k=10 updated to v=1;
    // 50..99 kept — the surviving clustered range reads back exactly
    val low = t.readRange("k", 0.0, 99.0).as[(Long, Long)].collect().toSet
    assert(low == ((50L until 100L).map(k => (k, k * 2)).toSet + ((10L, 1L))),
      s"wrong survivors: ${low.size} rows")
    // an untouched in-range file is still live and readable
    assert(t.readRange("k", 100.0, 150.0).count() == 51)
  }

  test("mergeWhen: insert-only clause list removes NO files (pure append commit)") {
    import graft.sources.MergeClause._
    val t = TxnTable.fresh(spark, dir("mergewhen_insonly"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    val liveBefore = t.read().inputFiles.toSet
    // k=1 matches (excluded from insert), k=5 inserts — and the matched
    // file must NOT rewrite: an insert-only merge is an append
    t.mergeWhen(Seq((1L, 99L), (5L, 50L)).toDF("k", "v"), Seq("k"),
      Seq(Insert(None, None)))
    val liveAfter = t.read().inputFiles.toSet
    assert(liveBefore.subsetOf(liveAfter),
      "insert-only merge rewrote a file")
    assert(t.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (5L, 50L)))
  }

  test("mergeWhen: identity kept on matched rows (even NULL pre-declaration ids), allocated on inserts") {
    import graft.sources.MergeClause._
    val t = TxnTable.fresh(spark, dir("mergewhen_id"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v")) // pre-declaration
    t.addIdentityColumn("rid")
    t.append(Seq((3L, 30L)).toDF("k", "v"))            // rid = 1
    // update k=1 (pre-declaration row: rid stays NULL — never
    // reclassified as an insert), insert k=9 (allocates rid = 2)
    t.mergeWhen(Seq((1L, 11L), (9L, 90L)).toDF("k", "v"), Seq("k"), Seq(
      Update(None, Some(Seq("v" -> "s.v"))),
      Insert(None, None)))
    val rows = t.read().select("k", "v", "rid")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(rows == Set((1L, 11L, None), (2L, 20L, None),
      (3L, 30L, Some(1L)), (9L, 90L, Some(2L))), s"got $rows")
    // explicit assignment of the identity column is refused
    intercept[IllegalArgumentException] {
      t.mergeWhen(Seq((1L, 1L)).toDF("k", "v"), Seq("k"),
        Seq(Update(None, Some(Seq("rid" -> "7")))))
    }
  }

  test("upsert merge: matched pre-declaration row keeps NULL ids — split is by key, not id nullability") {
    val t = TxnTable.fresh(spark, dir("merge_id_split"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v")) // pre-declaration
    t.addIdentityColumn("rid")
    // upsert k=1 (matched: keeps NULL rid, must NOT allocate) + k=9 (new)
    t.merge(Seq((1L, 11L), (9L, 90L)).toDF("k", "v"), Seq("k"))
    val rows = t.read().select("k", "v", "rid")
      .as[(Long, Long, Option[Long])].collect().toSet
    assert(rows == Set((1L, 11L, None), (2L, 20L, None),
      (9L, 90L, Some(1L))), s"got $rows")
    // duplicate MATCHED source keys on an identity table would share one
    // stored id — refused loudly (key-replace tolerates dups elsewhere)
    val e = intercept[IllegalStateException] {
      t.merge(Seq((1L, 1L), (1L, 2L)).toDF("k", "v"), Seq("k"))
    }
    assert(e.getMessage.contains("IDENTITY") &&
      e.getMessage.contains("k=1"), e.getMessage)
    // duplicate UNMATCHED keys stay legal: both insert, distinct ids
    t.merge(Seq((70L, 1L), (70L, 2L)).toDF("k", "v"), Seq("k"))
    val ids70 = t.read().filter(col("k") === 70L)
      .select("rid").as[Long].collect().toSet
    assert(ids70.size == 2, s"dup inserts must get distinct ids: $ids70")
  }

  test("restore carries table metadata: identity declared after the target version does not resurrect") {
    val t = TxnTable.fresh(spark, dir("restore_props"))
    t.append(Seq((1L, 10L)).toDF("k", "v"))   // v0
    t.addIdentityColumn("rid")                // v1 (schema + props)
    t.append(Seq((2L, 20L)).toDF("k", "v"))   // v2 (allocates rid=1)
    t.restore(0)                              // v3: back to the bare table
    assert(t.read().columns.toSeq == Seq("k", "v"))
    assert(!t.properties.keys.exists(_.startsWith("graft.identity")),
      s"orphaned identity props after restore: ${t.properties.keys}")
    // the next append must NOT resurrect the dropped column
    t.append(Seq((3L, 30L)).toDF("k", "v"))
    assert(t.read().columns.toSeq == Seq("k", "v"))
    assert(t.read().count() == 2)
  }

  test("delete rewrites only matching files, keeps NULL-condition rows, no-ops cleanly") {
    val t = TxnTable.fresh(spark, dir("delete"))
    t.append(Seq((1L, Some(5L)), (2L, None)).toDF("k", "n"))      // A: has a match
    t.append(Seq((3L, Some(50L)), (4L, Some(60L))).toDF("k", "n")) // B: untouched
    val liveBefore = t.read().inputFiles.toSet
    t.deleteWhere(col("n") < 10)
    // k=1 deleted; k=2 (NULL condition) KEPT — SQL DELETE semantics
    assert(t.read().select("k").as[Long].collect().toSet == Set(2L, 3L, 4L))
    val liveAfter = t.read().inputFiles.toSet
    assert((liveBefore & liveAfter).nonEmpty, "delete rewrote every file")
    assert((liveBefore -- liveAfter).nonEmpty, "delete rewrote nothing")
    // tailing across a delete is unsound, like overwrite/merge
    intercept[IllegalArgumentException](t.changesSince(0).count())
    // a no-match delete commits NOTHING (metadata no-op)
    val v = t.currentVersion
    assert(t.deleteWhere(col("n") > 1000) == v && t.currentVersion == v)
  }

  test("concurrent idempotent appenders race a compactor without losing rows") {
    val t = TxnTable.fresh(spark, dir("stream_race"))
    t.append(Seq((0L, 0L)).toDF("w", "b"))
    // two "streams" each committing 5 idempotent batches while a
    // compactor repeatedly rewrites whatever tip it sees — appends must
    // all land exactly once; a raced compact must abort, never clobber
    val compacts = (1 to 3).par_unsafe { w =>
      if (w < 3) {
        (0 until 5).foreach(b => t.appendIdempotent(
          Seq((w.toLong, b.toLong)).toDF("w", "b"), s"app$w", b))
        0L
      } else {
        var ok = 0L
        (0 until 5).foreach { _ =>
          try { t.compact(target = 1); ok += 1 }
          catch { case _: IllegalStateException => () } // stale tip: correct
          Thread.sleep(20)
        }
        ok
      }
    }
    val rows = t.read().as[(Long, Long)].collect().toSeq.sorted
    val expect = (Seq((0L, 0L)) ++
      (for (w <- 1 to 2; b <- 0 until 5) yield (w.toLong, b.toLong))).sorted
    assert(rows == expect, s"content diverged (compacts won: ${compacts.last}): $rows")
    assert(t.lastCommitted("app1") == 4L && t.lastCommitted("app2") == 4L)
  }

  test("vacuum after delete reclaims the removed file; pre-delete time travel dies, snapshot survives") {
    val t = TxnTable.fresh(spark, dir("vac_del"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.deleteWhere(col("k") === 1L)
    assert(t.vacuum() >= 1, "delete's removed file should be reclaimable")
    // the latest snapshot is untouched by physical deletion
    assert(t.read().as[(Long, String)].collect().toSet == Set((2L, "b")))
    // the version before the delete referenced the reclaimed file — the
    // retention trade: time travel past vacuum is gone, loudly
    intercept[Exception](t.read(0L).count())
  }

  test("clustered compaction yields disjoint per-file key ranges, content invariant") {
    val t = TxnTable.fresh(spark, dir("cluster"))
    // interleaved appends so every input file spans the whole key range
    val rng = new scala.util.Random(3)
    val keys = rng.shuffle((0L until 40L).toList)
    keys.grouped(10).foreach(g => t.append(g.map(k => (k, s"v$k")).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    assert(t.read().as[(Long, String)].collect().toSet ==
      (0L until 40L).map(k => (k, s"v$k")).toSet, "compaction changed content")
    val ranges = t.read().inputFiles.toSeq.map { f =>
      val ks = spark.read.parquet(f).select("k").as[Long].collect()
      (ks.min, ks.max)
    }.sortBy(_._1)
    assert(ranges.size > 1)
    // disjoint, ordered ranges: min/max stats now prune point reads to
    // ONE file — the property an unclustered compact does not have
    ranges.sliding(2).foreach { case Seq((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges after clustering: $ranges")
    case _ => ()
    }
  }

  test("clustered merge: a point update rewrites one file and keeps ranges disjoint") {
    val t = TxnTable.fresh(spark, dir("cluster_merge"))
    val rng = new scala.util.Random(5)
    rng.shuffle((0L until 40L).toList).grouped(10)
      .foreach(g => t.append(g.map(k => (k, s"v$k")).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    val liveBefore = t.read().inputFiles.toSet
    assert(liveBefore.size == 4)
    // two point updates inside ONE clustered file's key range: with
    // disjoint per-file ranges the touched set is exactly that file —
    // the other three survive in place (merge cost ∝ touched, not table)
    t.merge(Seq((7L, "V7"), (8L, "V8")).toDF("k", "v"), Seq("k"),
      clusterBy = Seq("k"))
    val liveAfter = t.read().inputFiles.toSet
    assert((liveBefore & liveAfter).size == 3,
      s"narrow merge should leave 3 of 4 clustered files untouched")
    assert(t.read().as[(Long, String)].collect().toSet ==
      (0L until 40L).map(k => (k, if (k == 7 || k == 8) s"V$k" else s"v$k")).toSet)
    // clusterBy re-sorts the rewrite, so file ranges STAY disjoint and the
    // NEXT point update is again a one-file rewrite — without it,
    // clustering erodes merge by merge (the t_txn_merge 10x ratio ~2)
    val ranges = t.read().inputFiles.toSeq.map { f =>
      val ks = spark.read.parquet(f).select("k").as[Long].collect()
      (ks.min, ks.max)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo, _)) =>
        assert(hi < lo, s"overlapping file ranges after clustered merge: $ranges")
      case _ => ()
    }
    val live2 = t.read().inputFiles.toSet
    t.merge(Seq((33L, "V33")).toDF("k", "v"), Seq("k"), clusterBy = Seq("k"))
    assert((live2 & t.read().inputFiles.toSet).size == 3,
      "second point merge should again touch exactly one file")
  }

  test("snapshot resolution binds the log's file list, never a directory walk") {
    // the driver-memory ceiling documented on TxnTable: resolution cost is
    // O(log entries + live paths) — pinned here by showing (a) the log is
    // the only metadata consulted and (b) unreferenced files are invisible
    val t = TxnTable.fresh(spark, dir("bound"))
    (0 until 6).foreach(i => t.append(Seq((i.toLong, i.toLong)).toDF("k", "v")))
    t.compact(target = 1)
    assert(t.history().count() == 7)           // 6 appends + 1 compact
    assert(t.read().inputFiles.length == 1)    // live set after compaction
    // a parquet file in the table dir that no log entry references must be
    // INVISIBLE to reads — a reader that walked the directory would see it
    Seq((99L, 99L)).toDF("k", "v").write
      .parquet(dir("bound") + "/d-orphan-not-in-log")
    assert(t.read().as[(Long, Long)].collect().toSet ==
      (0 until 6).map(i => (i.toLong, i.toLong)).toSet,
      "read picked up a file the log never committed")
  }

  test("manifest mode: wide commits reference a parquet manifest, entries stay O(1)") {
    val t = TxnTable.fresh(spark, dir("manifest"), manifestThreshold = 0)
    t.append((0 until 32).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(8))                            // v0: 8-file commit
    t.append(Seq((100L, "x")).toDF("k", "v"))     // v1: 1-file commit
    val logDir = Paths.get(t.root).resolve("_txn_log")
    val e0 = Files.size(logDir.resolve("v00000.txn"))
    val e1 = Files.size(logDir.resolve("v00001.txn"))
    // the log entry carries a manifest reference + counts, never paths —
    // so an 8-file commit's entry is no bigger than a 1-file commit's
    assert(math.abs(e0 - e1) < 64, s"entry size grew with commit width: $e0 vs $e1")
    val body0 = new String(Files.readAllBytes(logDir.resolve("v00000.txn")), "UTF-8")
    assert(body0.linesIterator.exists(_.startsWith("manifest=_txn_log/m-")))
    assert(body0.linesIterator.forall(l =>
      !l.startsWith("add=") && !l.startsWith("remove=")), s"paths inlined:\n$body0")
    assert(body0.contains("nadd=8"), s"manifest counts missing:\n$body0")
    assert(t.history().orderBy("version")
      .select("n_added_files").as[Long].collect().toSeq == Seq(8L, 1L))
    // snapshot resolution is a distributed last-action-wins aggregate,
    // and its live set matches what the scan actually binds
    val planned = t.liveFilesDF(1L)
    assert(planned.queryExecution.analyzed.toString.contains("Aggregate"),
      "manifest resolution should be a per-path last-action aggregate plan")
    val live = planned.as[String].collect().map(p => s"${t.root}/$p").toSet
    assert(t.read().inputFiles.map(_.stripPrefix("file://")).toSet == live)
    assert(t.read().count() == 33)
  }

  test("manifest-mode restore re-adds survive the fold and the vacuum keep-set") {
    // regression (ADVICE r11, high): a metadata-only restore RE-adds paths
    // an overwrite removed — 2 add rows vs 1 remove row per path. The old
    // order-free anti-join resolution dropped them (empty read), and
    // vacuum, whose keep-set uses the same fold, then deleted the live
    // files permanently. Resolution must be last-action-wins by version.
    val t = TxnTable.fresh(spark, dir("mani_restore"), manifestThreshold = 0)
    val a = Seq((1L, 10L), (2L, 20L))
    t.append(a.toDF("k", "v").coalesce(1))              // v0
    t.overwrite(Seq((9L, 90L)).toDF("k", "v"))          // v1: removes v0's file
    t.restore(0)                                        // v2: re-adds it
    assert(t.read().as[(Long, Long)].collect().toSeq.sorted == a.sorted,
      "restore-after-overwrite read back wrong content in manifest mode")
    // the undone middle state stays time-travel-able pre-vacuum
    assert(t.read(1).as[(Long, Long)].collect().toSeq == Seq((9L, 90L)))
    // vacuum to the tip: the re-added files are LIVE and must survive
    t.vacuum(retainVersions = 1)
    assert(t.read().as[(Long, Long)].collect().toSeq.sorted == a.sorted,
      "vacuum deleted files the restored tip still references")
  }

  test("manifest mode matches inline mode across the full DML history") {
    val tm = TxnTable.fresh(spark, dir("mani_eq"), manifestThreshold = 0)
    val ti = TxnTable.fresh(spark, dir("mani_eq_inline"),
      manifestThreshold = Int.MaxValue)
    def content(t: TxnTable, v: Long = -1L) =
      t.read(v).as[(Long, String)].collect().toSet
    def step(f: TxnTable => Unit): Unit = {
      f(tm); f(ti)
      assert(tm.currentVersion == ti.currentVersion)
      assert(content(tm) == content(ti),
        s"modes diverged at v${tm.currentVersion}")
    }
    step(_.append((0L until 20L).map(k => (k, s"v$k")).toDF("k", "v").repartition(4)))
    step(_.append(Seq((20L, "v20")).toDF("k", "v")))
    step(_.compact(target = 2, clusterBy = Seq("k")))
    step(_.merge(Seq((3L, "V3"), (99L, "V99")).toDF("k", "v"), Seq("k"),
      clusterBy = Seq("k")))
    step(_.deleteWhere(col("k") >= 15L && col("k") < 20L))
    val preOw = tm.currentVersion
    step(_.overwrite(Seq((1L, "one"), (2L, "two")).toDF("k", "v")))
    step(_.append(Seq((3L, "three")).toDF("k", "v")))
    // time travel folds manifested history identically
    (0L to preOw).foreach(v => assert(content(tm, v) == content(ti, v),
      s"time travel diverged at v$v"))
    assert(tm.history().select("version", "action", "rows")
      .as[(Long, String, Long)].collect().toSeq ==
      ti.history().select("version", "action", "rows")
        .as[(Long, String, Long)].collect().toSeq)
    // change feed over the post-overwrite segment delivers identically
    assert(tm.changesSince(preOw + 1).as[(Long, String)].collect().toSet ==
      ti.changesSince(preOw + 1).as[(Long, String)].collect().toSet)
    // idempotent ledger rides the manifested log too
    assert(tm.appendIdempotent(Seq((9L, "b0")).toDF("k", "v"), "app", 0L) >= 0)
    assert(tm.appendIdempotent(Seq((9L, "XX")).toDF("k", "v"), "app", 0L) == -1L)
    // vacuum reclaims replaced data AND race-orphaned manifests; the
    // latest snapshot and every referenced manifest survive
    assert(tm.vacuum() >= 1)
    assert(content(tm) == Set((1L, "one"), (2L, "two"), (3L, "three"), (9L, "b0")))
  }

  test("deletion-vector delete: no file rewrite, reads apply the DV, equal to copy-on-write") {
    // two tables, identical history; one deletes copy-on-write, the other
    // merge-on-read — every logical surface must agree
    val tc = TxnTable.fresh(spark, dir("dv_cow"))
    val tm = TxnTable.fresh(spark, dir("dv_mor"))
    Seq(tc, tm).foreach { t =>
      t.append(Seq((1L, Some(5L)), (2L, None)).toDF("k", "n"))
      t.append(Seq((3L, Some(50L)), (4L, Some(60L))).toDF("k", "n"))
    }
    def dataFiles(t: TxnTable) =
      t.read().inputFiles.filter(_.contains("/d-")).toSet
    val morBefore = dataFiles(tm)
    tc.deleteWhere(col("n") < 10)
    tm.deleteWhere(col("n") < 10, dv = true)
    // k=1 gone, k=2 (NULL cond) kept — identical content both modes
    def content(t: TxnTable) =
      t.read().as[(Long, Option[Long])].collect().toSet
    assert(content(tc) == content(tm))
    assert(content(tm) == Set((2L, None), (3L, Some(50L)), (4L, Some(60L))))
    // merge-on-read moved NO data file (copy-on-write file granularity is
    // pinned in its own test above)
    assert(dataFiles(tm) == morBefore, "DV delete must not rewrite data files")
    // time travel: the pre-delete snapshot still shows the deleted row
    assert(tm.read(1).count() == 4)
    // a second DV delete stacks on the first
    tm.deleteWhere(col("k") === 4L, dv = true)
    assert(content(tm) == Set((2L, None), (3L, Some(50L))))
    // history records the DELETED count for DV commits
    assert(tm.history().filter(col("action") === "delete")
      .select("rows").as[Long].collect().toSeq == Seq(1L, 1L))
    // tailing across a DV delete is unsound, like the rewrite mode
    intercept[IllegalArgumentException](tm.changesSince(0).count())
    // no-match DV delete: no commit, version unchanged
    val v = tm.currentVersion
    assert(tm.deleteWhere(col("k") > 1000L, dv = true) == v)
    assert(tm.currentVersion == v)
    // merge THROUGH a DV: deleted rows neither match nor resurface
    tm.merge(Seq((3L, Some(99L)), (7L, Some(70L))).toDF("k", "n"), Seq("k"))
    assert(content(tm) == Set((2L, None), (3L, Some(99L)), (7L, Some(70L))))
    // compact materializes the deletions; content invariant, DVs spent
    tm.compact(target = 1)
    assert(content(tm) == Set((2L, None), (3L, Some(99L)), (7L, Some(70L))))
    // vacuum keeps referenced DV sidecars (time travel) but reclaims the
    // no-match orphan dir and the pre-compact data files
    assert(tm.vacuum() >= 1)
    assert(content(tm) == Set((2L, None), (3L, Some(99L)), (7L, Some(70L))))
  }

  test("readRange prunes files by commit-time stats: a clustered point read plans one file") {
    for ((name, thresh) <- Seq(("stats_prune", TxnTable.DefaultManifestThreshold),
        ("stats_prune_m", 0))) {
      val t = TxnTable.fresh(spark, dir(name), manifestThreshold = thresh)
      val rng = new scala.util.Random(11)
      rng.shuffle((0L until 400L).toList).grouped(100)
        .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
      t.compact(target = 4, clusterBy = Seq("k"))
      // same rows as the unpruned filtered read — by construction
      val want = t.read().filter(col("k") >= 110 && col("k") <= 130)
        .as[(Long, Long)].collect().toSet
      val ranged = t.readRange("k", 110, 130)
      assert(ranged.as[(Long, Long)].collect().toSet == want && want.size == 21)
      // PLANNING-level skip: the ranged scan binds one of the 4 clustered
      // files (stats came from the log entry or the manifest, not footers)
      assert(ranged.inputFiles.count(_.contains("/d-")) == 1,
        s"[$name] point range should plan exactly 1 file")
      assert(t.read().inputFiles.count(_.contains("/d-")) == 4)
      // a range spanning a file boundary plans exactly the two files
      assert(t.readRange("k", 95, 105).inputFiles.count(_.contains("/d-")) == 2)
      // stats-pruned reads still apply deletion vectors
      t.deleteWhere(col("k") === 120L, dv = true)
      assert(t.readRange("k", 110, 130).as[(Long, Long)].collect().toSet ==
        want - ((120L, 360L)))
    }
  }

  test("idempotent append: a replayed (app, batch) is a no-op") {
    val t = TxnTable.fresh(spark, dir("idem"))
    assert(t.lastCommitted("app") == -1L)
    assert(t.appendIdempotent(Seq((1L, "a")).toDF("k", "v"), "app", 0L) == 0L)
    assert(t.appendIdempotent(Seq((2L, "b")).toDF("k", "v"), "app", 1L) == 1L)
    // foreachBatch replay after a crash: same batch id, even with
    // different payload — must not commit
    assert(t.appendIdempotent(Seq((9L, "X")).toDF("k", "v"), "app", 1L) == -1L)
    assert(t.appendIdempotent(Seq((9L, "X")).toDF("k", "v"), "app", 0L) == -1L)
    assert(t.currentVersion == 1L && t.lastCommitted("app") == 1L)
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
  }

  test("idempotent append: apps are independent ledgers") {
    val t = TxnTable.fresh(spark, dir("idem_apps"))
    assert(t.appendIdempotent(Seq((1L, "a")).toDF("k", "v"), "appA", 5L) == 0L)
    // a different app's batch 0 must commit even though appA is at 5
    assert(t.appendIdempotent(Seq((2L, "b")).toDF("k", "v"), "appB", 0L) == 1L)
    // plain appends never interfere with either ledger
    t.append(Seq((3L, "c")).toDF("k", "v"))
    assert(t.lastCommitted("appA") == 5L && t.lastCommitted("appB") == 0L)
    assert(t.read().count() == 3)
  }

  test("idempotent append: concurrent twins of one batch commit exactly once") {
    val t = TxnTable.fresh(spark, dir("idem_race"))
    // 6 twins racing the same (app, batch) — e.g. a speculative retry of
    // the same foreachBatch — exactly one version may appear
    val results = (1 to 6).par_unsafe { i =>
      t.appendIdempotent(Seq((i.toLong, s"w$i")).toDF("k", "v"), "app", 0L)
    }
    assert(results.count(_ >= 0L) == 1, s"multiple commits: $results")
    assert(t.currentVersion == 0L && t.read().count() == 1)
  }
  test("checkpoints: resolution parses only the tail, every snapshot matches the uncheckpointed twin") {
    val tc = TxnTable.fresh(spark, dir("ckpt"), checkpointInterval = 5)
    val tn = TxnTable.fresh(spark, dir("ckpt_none"), checkpointInterval = 0)
    def content(t: TxnTable, v: Long = -1L) =
      t.read(v).as[(Long, Long)].collect().toSet
    def step(f: TxnTable => Unit): Unit = { f(tc); f(tn) }
    // a 13-commit multi-DML history crossing two checkpoint boundaries
    step(_.append(Seq((1L, 1L), (2L, 2L)).toDF("k", "v").coalesce(1)))  // v0
    step(_.append(Seq((3L, 3L)).toDF("k", "v")))                        // v1
    step(_.overwrite(Seq((1L, 10L), (4L, 40L)).toDF("k", "v").coalesce(1))) // v2
    step(_.appendIdempotent(Seq((5L, 50L)).toDF("k", "v"), "app", 7L))  // v3
    step(_.merge(Seq((4L, 41L), (6L, 60L)).toDF("k", "v").coalesce(1), Seq("k"))) // v4
    step(_.deleteWhere(col("k") === 5L))                                // v5 → ckpt
    step(_.append(Seq((7L, 70L)).toDF("k", "v")))                       // v6
    step(_.restore(2))                                                  // v7 (re-adds!)
    step(_.append(Seq((8L, 80L)).toDF("k", "v")))                       // v8
    step(_.compact(target = 1))                                         // v9
    step(_.deleteWhere(col("k") === 8L, dv = true))                     // v10 → ckpt
    step(_.append(Seq((9L, 90L)).toDF("k", "v")))                       // v11
    step(_.merge(Seq((9L, 91L)).toDF("k", "v"), Seq("k")))              // v12
    assert(tc.currentVersion == 12L && tn.currentVersion == 12L)
    val logDir = Paths.get(tc.root).resolve("_txn_log")
    assert(Files.exists(logDir.resolve("c00005.ckpt.parquet")) &&
      Files.exists(logDir.resolve("c00010.ckpt.parquet")),
      "interval-5 history must have published checkpoints at v5 and v10")
    assert(new String(Files.readAllBytes(logDir.resolve("_last_checkpoint")),
      "UTF-8") == """{"version":10}""")
    assert(!Files.exists(Paths.get(tn.root).resolve("_txn_log")
      .resolve("c00005.ckpt.parquet")), "interval 0 must disable checkpoints")
    // every snapshot — including PRE-checkpoint time travel — matches the
    // uncheckpointed twin
    for (v <- 0L to 12L)
      assert(content(tc, v) == content(tn, v), s"snapshots diverged at v$v")
    // a FRESH reader resolves the tip from checkpoint + tail: the 13-entry
    // history costs at most the v11..v12 tail per resolver pass (live set,
    // schema, DVs — ≤ 3 passes of 2 entries each within one read)
    val t2 = TxnTable.at(spark, dir("ckpt"), checkpointInterval = 5)
    val before = t2.parsedEntries.get()
    assert(content(t2) == content(tn))
    val parsed = t2.parsedEntries.get() - before
    assert(parsed <= 8, s"tip read parsed $parsed entries — checkpoint unused?")
    // the idempotency ledger survives checkpointing: the (app, 7) tag is
    // PRE-checkpoint, and a fresh reader must still refuse the replay
    assert(t2.lastCommitted("app") == 7L)
    assert(t2.appendIdempotent(Seq((99L, 99L)).toDF("k", "v"), "app", 7L) == -1L)
    // restore to a PRE-checkpoint version still works (entries remain)
    val vRestored = t2.restore(1)
    assert(content(t2) == content(tn, 1L))
    assert(vRestored == 13L)
  }

  // matrix: the plain table AND the torture config (every commit
  // manifested + checkpointed) — the mapping must survive both folds
  for ((label, mk) <- Seq(
    "inline" -> (() => TxnTable.fresh(spark, dir("colmap"))),
    "manifest+ckpt" -> (() => TxnTable.fresh(spark, dir("colmap_mc"),
      manifestThreshold = 0, checkpointInterval = 1))))
  test(s"column mapping [$label]: rename/drop are metadata-only; dropped bytes never resurface") {
    val t = mk()
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v").coalesce(1))   // v0
    def stagedDirs: Long = {
      val s = Files.list(Paths.get(t.root))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("d-")).toLong
      finally s.close()
    }
    val nStaged = stagedDirs
    t.renameColumn("v", "val2")                                      // v1
    assert(stagedDirs == nStaged, "rename must stage no data")
    assert(t.read().columns.toSeq == Seq("k", "val2"))
    // pre-rename files resolve through the pinned physical name
    assert(t.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
    t.append(Seq((3L, 30L)).toDF("k", "val2"))                       // v2
    assert(t.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // retype under the LOGICAL name still rejected
    intercept[IllegalArgumentException](
      t.append(Seq((4L, "x")).toDF("k", "val2")))
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](t.renameColumn("k", "val2"))
    // a NEW column under the OLD logical name gets a fresh physical: the
    // renamed column's bytes (physical "v") must NOT leak into it
    t.append(Seq((5L, 50L, 99L)).toDF("k", "val2", "v"))             // v3
    val m = t.read().select("k", "v").as[(Long, Option[Long])].collect().toMap
    assert(m(1L).isEmpty && m(5L).contains(99L),
      s"pre-evolution rows must be NULL for the re-used name, got $m")
    // drop + re-add: the dropped column's bytes are gone for good
    t.dropColumn("v")                                                // v4
    assert(t.read().columns.toSeq == Seq("k", "val2"))
    t.append(Seq((6L, 60L, 7L)).toDF("k", "val2", "v"))              // v5
    val m2 = t.read().select("k", "v").as[(Long, Option[Long])].collect().toMap
    assert(m2(5L).isEmpty && m2(6L).contains(7L), "dropped bytes resurfaced")
    // time travel BEFORE the rename still binds the old logical schema
    assert(t.read(0).columns.toSeq == Seq("k", "v"))
    // stats pruning translates the logical name to the physical one
    assert(t.readRange("val2", 30, 60).select("val2").as[Long]
      .collect().toSet == Set(30L, 50L, 60L))
    // compact rewrites under physicals and PRESERVES the mapping
    t.compact(target = 1)
    assert(t.read().columns.toSeq == Seq("k", "val2", "v"))
    val m3 = t.read().select("k", "val2").as[(Long, Long)].collect().toMap
    assert(m3 == Map(1L -> 10L, 2L -> 20L, 3L -> 30L, 5L -> 50L, 6L -> 60L))
    intercept[IllegalArgumentException](t.dropColumn("nope"))
  }

  test("z-order cluster-compact: a 2-D point read plans a strict file subset from commit-time stats") {
    val t = TxnTable.fresh(spark, dir("zorder"))
    // 32×32 grid, appended in shuffled arrival order — the Z-layout must
    // come from the cluster-compact, not from luck
    def mortonL(x: Long, y: Long): Long =
      (0 until 10).map(b => (((x >> b) % 2) << (2 * b)) +
        (((y >> b) % 2) << (2 * b + 1))).sum
    val rng = new scala.util.Random(11)
    val rows = rng.shuffle(
      (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toList)
    rows.grouped(256).foreach(g =>
      t.append(g.map { case (x, y) => (x, y, mortonL(x, y)) }
        .toDF("x", "y", "morton").coalesce(1)))
    t.compact(target = 4, clusterBy = Seq("morton"))
    assert(t.read().inputFiles.length == 4)
    // point read in BOTH dimensions = a single Z value: commit-time
    // min/max on the Morton key must prune 4 files to exactly 1
    val z = mortonL(3, 5)
    val point = t.readRange("morton", z.toDouble, z.toDouble)
    assert(point.inputFiles.length == 1,
      s"Z point read planned ${point.inputFiles.length} files")
    assert(point.select("x", "y").as[(Long, Long)].collect().toSeq ==
      Seq((3L, 5L)))
    // a QUADRANT (x<16, y<16 ⇔ morton < 2^8... for 5-bit values: bits 0..9)
    // — morton of (x<16, y<16) spans [0, 2^8): still a strict subset
    val quad = t.readRange("morton", 0, 255)
    assert(quad.inputFiles.length < 4,
      "quadrant read must not plan the whole table")
    assert(quad.select("x", "y").as[(Long, Long)].collect().toSet ==
      (for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)).toSet)
  }

  test("multi-writer stress: concurrent append/merge/compact — dense versions, no lost update, serial-replay equivalence") {
    val t = TxnTable.fresh(spark, dir("stress"))
    t.append((0L until 8L).map(k => (k, 0L)).toDF("k", "v").coalesce(1)) // v0
    // committed ops by version, recorded by whichever thread WON the slot;
    // merge/compact abort on a lost race (by contract) and are retried by
    // the caller — exactly the documented re-run-against-the-new-tip loop
    val ledger = new java.util.concurrent.ConcurrentHashMap[Long, (String, Seq[(Long, Long)])]()
    def retrying(op: String, content: Seq[(Long, Long)])(f: => Long): Unit = {
      var done = false
      var attempts = 0
      while (!done && attempts < 40) {
        attempts += 1
        try { val v = f; ledger.put(v, (op, content)); done = true }
        catch { case _: IllegalStateException => () } // lost the race; re-run
      }
      assert(done, s"$op never won a slot in 40 attempts")
    }
    (1 to 3).par_unsafe { w =>
      val rng = new scala.util.Random(w)
      for (i <- 1 to 5) {
        rng.nextInt(3) match {
          case 0 =>
            val b = Seq((100L * w + i, rng.nextInt(50).toLong))
            val v = t.append(b.toDF("k", "v").coalesce(1)) // appends self-retry
            ledger.put(v, ("append", b))
          case 1 =>
            val u = Seq((rng.nextInt(8).toLong, 1000L * w + i))
            retrying("merge", u)(t.merge(u.toDF("k", "v").coalesce(1), Seq("k")))
          case 2 =>
            retrying("compact", Nil)(t.compact(target = 1 + rng.nextInt(2)))
        }
      }
      0L
    }
    val tip = t.currentVersion
    // dense versions: every slot 0..tip has exactly one committed entry
    assert(t.history().count() == tip + 1, "version gap in the log")
    assert(ledger.size == tip, s"ledger ${ledger.size} vs tip $tip") // v0 not in ledger
    // serial replay of the WINNING commit order must reproduce the table
    var model = (0L until 8L).map(k => (k, 0L)).toMap
    (1L to tip).foreach { v =>
      val (op, content) = ledger.get(v)
      op match {
        case "append" => model = model ++ content
        case "merge" => model = model ++ content // key-replace on single-key updates
        case "compact" => ()
      }
    }
    assert(t.read().as[(Long, Long)].collect().toMap == model,
      "final content diverged from the serial replay of the commit order")
  }

  test("optimize bin-packs only small files; large files never move, content invariant") {
    val t = TxnTable.fresh(spark, dir("optimize"))
    t.append((0L until 100L).map(k => (k, k)).toDF("k", "v").coalesce(1)) // v0: one 100-row file
    (0 until 4).foreach(i =>
      t.append(Seq((200L + i, 0L)).toDF("k", "v").coalesce(1)))          // v1..v4: 1-row files
    def dataFiles = t.read().inputFiles.filter(_.contains("/d-")).toSet
    val before = dataFiles
    assert(before.size == 5)
    val big = before.filter(f => spark.read.parquet(f).count() == 100)
    assert(big.size == 1)
    t.deleteWhere(col("k") === 5L, dv = true)                            // v5: DV on the big file
    assert(t.optimize(targetRows = 50) == 6L)                            // v6
    val after = dataFiles
    assert(after.contains(big.head), "optimize must never rewrite a large file")
    assert(after.size == 2, s"4 small files must pack into 1, got $after")
    assert(before.intersect(after) == big, "every small file must be replaced")
    // content invariant: 100 − 1 DV-deleted + 4 appended
    assert(t.read().count() == 103)
    assert(t.read().filter(col("k") === 5L).count() == 0,
      "the untouched file's DV must still apply after optimize")
    // converged: one packed small file left → nothing to do, no commit
    assert(t.optimize(targetRows = 50) == 6L)
    // the packed rows are exactly the small files' rows
    assert(t.read().as[(Long, Long)].collect().toSet ==
      ((0L until 100L).filter(_ != 5L).map(k => (k, k)) ++
        (0 until 4).map(i => (200L + i, 0L))).toSet)
    // clusterBy variant: the packed files carry disjoint key ranges, so a
    // point read plans 1 of the 2 bins from commit-time stats
    val t2 = TxnTable.fresh(spark, dir("optimize_cl"))
    new scala.util.Random(3).shuffle((0L until 32L).toList).grouped(8)
      .foreach(g => t2.append(g.map(k => (k, k)).toDF("k", "v").coalesce(1)))
    t2.optimize(targetRows = 16, clusterBy = Seq("k"))
    assert(t2.read().inputFiles.count(_.contains("/d-")) == 2)
    val pt = t2.readRange("k", 3, 3)
    assert(pt.inputFiles.count(_.contains("/d-")) == 1,
      "clustered optimize must make point reads plan one bin")
    assert(pt.select("v").as[Long].collect().toSeq == Seq(3L))
  }

  test("timestamp time travel: versionAtTime resolves against the running-max effective clock") {
    val t = TxnTable.fresh(spark, dir("ts_travel"))
    t.append(Seq((1L, "a")).toDF("k", "v"))       // v0
    Thread.sleep(15)
    t.append(Seq((2L, "b")).toDF("k", "v"))       // v1
    Thread.sleep(15)
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))    // v2
    val h = t.history().orderBy("version").select("ts_millis").as[Long].collect()
    assert(h.length == 3 && h(0) < h(1) && h(1) < h(2),
      s"commit times must increase, got ${h.toSeq}")
    assert(t.versionAtTime(h(0)) == 0 && t.versionAtTime(h(1)) == 1)
    assert(t.versionAtTime(h(1) - 1) == 0, "strictly-before T resolves the prior version")
    assert(t.versionAtTime(System.currentTimeMillis() + 1000) == 2)
    intercept[IllegalArgumentException](t.versionAtTime(h(0) - 1))
    assert(t.readAtMillis(h(1)).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    assert(t.readAtMillis(h(2)).as[(Long, String)].collect().toSet ==
      Set((9L, "z")))
  }

  test("graft-txn batch format: DataSource read/write with save modes and time-travel options") {
    val root = dir("format")
    TxnTable.fresh(spark, root) // wipe
    Seq((1L, "a")).toDF("k", "v").write.format("graft-txn").mode("append").save(root)
    Seq((2L, "b")).toDF("k", "v").write.format("graft-txn").mode("append").save(root)
    assert(spark.read.format("graft-txn").load(root).count() == 2)
    assert(spark.read.format("graft-txn").option("versionAsOf", "0")
      .load(root).as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    // overwrite replaces; ErrorIfExists refuses; Ignore no-ops
    Seq((9L, "z")).toDF("k", "v").write.format("graft-txn").mode("overwrite").save(root)
    assert(spark.read.format("graft-txn").load(root)
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    intercept[IllegalStateException](Seq((0L, "x")).toDF("k", "v")
      .write.format("graft-txn").mode("error").save(root))
    Seq((0L, "x")).toDF("k", "v").write.format("graft-txn").mode("ignore").save(root)
    assert(spark.read.format("graft-txn").load(root).count() == 1)
    // timestampAsOf: v1's recorded commit time resolves the v1 snapshot
    val ts1 = TxnTable.at(spark, root).history()
      .filter(col("version") === 1).select("ts_millis").as[Long].head()
    assert(spark.read.format("graft-txn").option("timestampAsOf", ts1.toString)
      .load(root).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    intercept[IllegalArgumentException](spark.read.format("graft-txn")
      .option("versionAsOf", "0").option("timestampAsOf", ts1.toString)
      .load(root).count())
    // the bridge pushes prune+filter into the INNER plan: a one-column
    // projection with an equality filter still answers correctly
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.format("graft-txn").mode("append").save(root)
    val narrow = spark.read.format("graft-txn").load(root)
      .filter(col("k") < 5L).select("v")
    assert(narrow.as[String].collect().sorted.toSeq == Seq("a", "b"))
    // timestampAsOf also takes the session-TZ datetime form
    val tsStr = java.time.Instant.ofEpochMilli(ts1)
      .atZone(java.time.ZoneId.of("UTC")).toLocalDateTime
      .toString.replace('T', ' ')
    assert(spark.read.format("graft-txn").option("timestampAsOf", tsStr)
      .load(root).count() == 2)
    // batch CHANGE-FEED through the format ≡ the native readChanges
    val cdfRoot = dir("format_cdf")
    val tc = TxnTable.fresh(spark, cdfRoot)
    tc.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))     // v0
    tc.merge(Seq((2L, "B"), (3L, "c")).toDF("k", "v").coalesce(1),
      Seq("k"), cdc = true)                                             // v1
    val viaFormat = spark.read.format("graft-txn")
      .option("readChangeFeed", "true").option("startingVersion", "1")
      .load(cdfRoot)
    val native = tc.readChanges(0)
    assert(viaFormat.schema == native.schema)
    assert(viaFormat.collect().toSet == native.collect().toSet,
      "format-level batch CDF must equal the native feed")
    intercept[IllegalArgumentException](spark.read.format("graft-txn")
      .option("readChangeFeed", "true").load(cdfRoot).count())
  }

  test("vacuum sweeps aged crash-orphaned publish temporaries, never fresh ones") {
    val t = TxnTable.fresh(spark, dir("tmpsweep"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val logDir = Paths.get(t.root).resolve("_txn_log")
    val aged = logDir.resolve(".tmp-crashed-long-ago")
    val freshTmp = logDir.resolve(".ckpt-tmp-inflight")
    Files.write(aged, "partial".getBytes("UTF-8"))
    Files.write(freshTmp, "partial".getBytes("UTF-8"))
    Files.setLastModifiedTime(aged, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    t.vacuum()
    assert(!Files.exists(aged), "aged orphan tmp must be swept")
    assert(Files.exists(freshTmp),
      "a fresh tmp may belong to an in-flight commit and must survive")
    assert(t.read().count() == 1)
  }

  test("vacuum concurrent with an in-flight commit: staged data, manifest and DV survive the sweep") {
    // the race the age horizon exists for: a writer has STAGED its
    // payload (data dir / DV sidecar — invisible to the snapshot fold)
    // and not yet published. A concurrent vacuum on another handle fires
    // inside exactly that window (onBeforePublish seam); if it swept any
    // unreferenced-but-fresh artifact, the publish would land a commit
    // whose files are gone. manifestThreshold = 0 forces every commit
    // through a manifest so the manifested log shape is under test too.
    val t = TxnTable.fresh(spark, dir("vacrace"), manifestThreshold = 0)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))   // v0
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v1: v0 sweepable
    val other = TxnTable.at(spark, t.root, manifestThreshold = 0)
    var swept = -1
    t.onBeforePublish = () => if (swept < 0) swept = other.vacuum()
    try {
      t.append(Seq((3L, "c")).toDF("k", "v"))            // v2 — racing vacuum
    } finally t.onBeforePublish = () => ()
    assert(swept >= 1, "the racing vacuum still reclaims v0's replaced data")
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")),
      "append racing vacuum lost staged data")
    // same window, DV delete (sidecar staged before publish): the
    // sidecar must survive the sweep
    var swept2 = -1
    t.onBeforePublish = () => if (swept2 < 0) swept2 = other.vacuum()
    try t.deleteWhere(org.apache.spark.sql.functions.col("k") === 2L,
      dv = true)
    finally t.onBeforePublish = () => ()
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (3L, "c")),
      "DV delete racing vacuum lost its sidecar")
    // an UNREFERENCED manifest: fresh = maybe in-flight (the window
    // between writeManifest and the link publish) — survives; aged =
    // crash orphan — swept. Entry-referenced manifests always stay.
    val logDir = Paths.get(t.root).resolve("_txn_log")
    val freshM = logDir.resolve("m-fresh-orphan.parquet")
    val agedM = logDir.resolve("m-aged-orphan.parquet")
    Files.write(freshM, Array[Byte](1))
    Files.write(agedM, Array[Byte](1))
    Files.setLastModifiedTime(agedM, java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 2L * 60 * 60 * 1000))
    t.vacuum()
    assert(Files.exists(freshM),
      "a fresh unreferenced manifest may belong to an in-flight commit")
    assert(!Files.exists(agedM), "aged orphan manifest must be swept")
    Files.delete(freshM)
  }

  test("model fuzz: random DML sequences match an in-memory reference, inline and manifest modes") {
    // model-based protocol check: a seeded random sequence of
    // append / overwrite / merge / delete (COW and DV, with and without
    // CDC) / compact / restore / vacuum runs against BOTH the table and
    // a trivial in-memory multiset model; after every op the tip read
    // must equal the model, and a random RETAINED version must equal its
    // recorded snapshot. Seed 3 forces manifest mode (threshold 0), so
    // the distributed log fold is fuzzed under the same sequences.
    // seed 3: every commit manifested; seed 5: every commit manifested AND
    // checkpointed (interval 1) — the torture combo where the ckpt fold,
    // the manifest fold, restore re-adds and vacuum all interact per-commit
    for (seed <- Seq(1, 2, 3, 5)) {
      var horizon = 0L // oldest version vacuum still retains
      val rng2 = new scala.util.Random(seed + 100)
      val t2 = TxnTable.fresh(spark, dir(s"fuzz_$seed"),
        manifestThreshold = if (seed >= 3) 0 else TxnTable.DefaultManifestThreshold,
        checkpointInterval = if (seed == 5) 1 else TxnTable.DefaultCheckpointInterval)
      def batch2(n: Int): Seq[(Long, Long)] =
        Seq.fill(n)((rng2.nextInt(20).toLong, rng2.nextInt(1000).toLong))
      var m: Seq[(Long, Long)] = batch2(5)
      t2.append(m.toDF("k", "v").coalesce(1))
      var hist = Map(t2.currentVersion -> m)
      if (seed >= 3) {
        // scripted prelude so the manifest-mode seeds are GUARANTEED to hit
        // a re-adding restore (the order-aware-fold regression the random
        // walk can miss): overwrite, then restore to the pre-overwrite tip
        val v0 = t2.currentVersion
        val saved = m
        val b = batch2(3)
        t2.overwrite(b.toDF("k", "v").coalesce(1)); m = b
        hist += (t2.currentVersion -> m)
        t2.restore(v0); m = saved
        hist += (t2.currentVersion -> m)
      }
      def check(): Unit = {
        val got = t2.read().as[(Long, Long)].collect().toSeq.sorted
        assert(got == m.sorted, s"[seed $seed] tip mismatch after v${t2.currentVersion}")
        val checkable = hist.keys.filter(_ >= horizon)
        if (checkable.nonEmpty) {
          val v = checkable.toSeq(rng2.nextInt(checkable.size))
          val tv = t2.read(v).as[(Long, Long)].collect().toSeq.sorted
          assert(tv == hist(v).sorted, s"[seed $seed] time travel to v$v mismatch")
        }
      }
      for (_ <- 0 until 12) {
        rng2.nextInt(8) match {
          case 0 | 1 =>
            val b = batch2(1 + rng2.nextInt(4))
            t2.append(b.toDF("k", "v").coalesce(1)); m = m ++ b
          case 2 =>
            val b = batch2(1 + rng2.nextInt(4))
            t2.overwrite(b.toDF("k", "v").coalesce(1)); m = b
          case 3 =>
            val b = batch2(1 + rng2.nextInt(3))
            val keys = b.map(_._1).toSet
            t2.merge(b.toDF("k", "v").coalesce(1), Seq("k"),
              cdc = rng2.nextBoolean())
            m = m.filterNot(r => keys(r._1)) ++ b
          case 4 =>
            val cut = rng2.nextInt(1000).toLong
            t2.deleteWhere(col("v") > cut, dv = rng2.nextBoolean(),
              cdc = rng2.nextBoolean())
            m = m.filterNot(_._2 > cut)
          case 5 =>
            t2.compact(target = 1 + rng2.nextInt(3))
          case 6 =>
            val candidates = hist.keys.filter(_ >= horizon).toSeq
            if (candidates.nonEmpty) {
              val v = candidates(rng2.nextInt(candidates.size))
              t2.restore(v); m = hist(v)
            }
          case 7 =>
            // half the vacuums use a generous age window: every version
            // is recent, so retention must KEEP them all (the union law)
            // and the horizon does not advance
            if (rng2.nextBoolean()) {
              val retain = 1 + rng2.nextInt(3)
              t2.vacuum(retainVersions = retain)
              horizon = math.max(horizon, t2.currentVersion - retain + 1)
            } else t2.vacuum(retainVersions = 1, retainHours = 24.0)
        }
        // r13: the UPDATE DML joins the walk via a 9th branch — rolled
        // separately so the earlier seeds' op sequences stay identical
        if (rng2.nextInt(4) == 0) {
          val cut = rng2.nextInt(1000).toLong
          t2.update(Map("v" -> (col("v") + 7L)), col("v") <= cut,
            cdc = rng2.nextBoolean())
          m = m.map { case (k, v) => if (v <= cut) (k, v + 7L) else (k, v) }
        }
        hist += (t2.currentVersion -> m)
        check()
      }
    }
  }

  test("merge discovers touched files from stats — provably never scans non-candidates") {
    val t = TxnTable.fresh(spark, dir("merge_prune"))
    val rng = new scala.util.Random(13)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    // delete the TOP-range clustered file from disk: if touched-file
    // discovery scanned the whole table, this merge would die on the
    // missing file — stats pruning means it is never opened
    val top = t.readRange("k", 399, 399).inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(top.size == 1)
    Files.delete(Paths.get(top.head.stripPrefix("file:")))
    // matched key 110 (file 2) + a brand-new key below the table's range
    // → the update-key envelope [-5, 110] provably excludes the deleted
    // top file (envelope pruning is min/max-based, like every stats
    // scheme: an outlier key above 399 would re-admit it)
    t.merge(Seq((110L, -1L), (-5L, -2L)).toDF("k", "v"), Seq("k"))
    // only file 2 was rewritten…
    val h = t.history().orderBy(col("version").desc).limit(1)
      .select("n_removed_files").as[Long].head()
    assert(h == 1, s"point merge must remove exactly 1 file, removed $h")
    // …the update applied, the out-of-range insert landed, neighbors intact
    val got = t.readRange("k", -10, 299)
      .as[(Long, Long)].collect().toMap
    assert(got(110L) == -1L && got(-5L) == -2L && got(109L) == 327L)
  }

  test("composite-key merge discovery prunes through a NON-head key column (missing-file proof)") {
    val t = TxnTable.fresh(spark, dir("merge_prune2"))
    // `a` is a permutation of 0..399 DECORRELATED from `b` (the cluster
    // column), so every clustered file's a-range spans ~the whole domain
    // and head-column pruning alone can exclude nothing — only the
    // b-envelope can prove the top file unmatched (r17 verdict: a merge
    // keyed (a, b) against a table clustered by b scanned every file)
    val rng = new scala.util.Random(41)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(
        g.map(k => ((k * 7919L) % 400L, k, k * 3)).toDF("a", "b", "v")))
    t.compact(target = 4, clusterBy = Seq("b"))
    val top = t.readRange("b", 399, 399).inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(top.size == 1)
    Files.delete(Paths.get(java.net.URI.create(top.head)))
    // update-key envelopes: a ∈ [0, 290] admits every file; b ∈ [-5, 110]
    // provably excludes the deleted top file — if discovery pruned on the
    // head key only, this merge would die opening it
    val aOf110 = (110L * 7919L) % 400L
    t.merge(Seq((aOf110, 110L, -1L), (0L, -5L, -2L)).toDF("a", "b", "v"),
      Seq("a", "b"))
    val h = t.history().orderBy(col("version").desc).limit(1)
      .select("n_removed_files").as[Long].head()
    assert(h == 1, s"composite point merge must remove exactly 1 file, removed $h")
    val got = t.readRange("b", -10, 299)
      .select("b", "v").as[(Long, Long)].collect().toMap
    assert(got(110L) == -1L && got(-5L) == -2L && got(109L) == 327L)
    // the conditional entry point rides the same discovery: a point
    // mergeWhen keyed (a, b) must also never open the missing file
    t.mergeWhen(Seq((aOf110, 110L, -7L)).toDF("a", "b", "v"),
      Seq("a", "b"), Seq(
        graft.sources.MergeClause.Update(None, Some(Seq("v" -> "s.v")))))
    assert(t.readRange("b", 110, 110).select("v").as[Long].head() == -7L)
  }

  test("DELETE drops provably fully-matched files as pure metadata — never reads them") {
    val t = TxnTable.fresh(spark, dir("delete_filedrop"))
    val rng = new scala.util.Random(7)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k")) // 4 k-disjoint files
    // bottom file: fully covered by `k <= botMax` — delete it from DISK;
    // if the statement read it, it would die. The prover must drop it
    // from the log on commit stats alone (pure remove-only commit).
    val bottom = t.readRange("k", 0, 0).inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(bottom.size == 1)
    val botMax = spark.read.parquet(bottom.head)
      .agg(max("k")).as[Long].head()
    Files.delete(Paths.get(java.net.URI.create(bottom.head)))
    val v1 = t.deleteWhere(col("k") <= botMax)
    val h1 = t.history().filter(col("version") === v1)
      .select("n_removed_files", "n_added_files")
      .as[(Long, Long)].head()
    assert(h1 == ((1L, 0L)),
      s"pure metadata drop must remove 1 file and add none, got $h1")
    // MIXED statement: the next file is fully covered (delete it from
    // disk too — same no-read proof), the one after only partially —
    // one metadata drop + one boundary rewrite in a single commit
    val f2 = t.readRange("k", botMax + 1, botMax + 1).inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(f2.size == 1)
    val f2Max = spark.read.parquet(f2.head).agg(max("k")).as[Long].head()
    Files.delete(Paths.get(java.net.URI.create(f2.head)))
    val v2 = t.deleteWhere(col("k") <= f2Max + 10L)
    val h2 = t.history().filter(col("version") === v2)
      .select("n_removed_files").as[Long].head()
    assert(h2 == 2, s"metadata drop + boundary rewrite, removed $h2")
    val got = t.read().as[(Long, Long)].collect().toMap
    assert(got.keySet == ((f2Max + 11L) until 400L).toSet, s"wrong survivors")
    assert(got(f2Max + 11L) == (f2Max + 11L) * 3)
  }

  test("metadata-only delete refuses NULL-bearing and strict-boundary files") {
    // SQL DELETE keeps rows whose condition is NULL — a file with nulls
    // in the compared column can never be whole-file-dropped. Proof by
    // refusal: with the file gone from disk, the statement MUST fail
    // trying to scan it rather than silently dropping the NULL row.
    val tn = TxnTable.fresh(spark, dir("filedrop_nulls"))
    tn.append(Seq[(java.lang.Long, Long)]((1L, 10L), (2L, 20L), (null, 30L))
      .toDF("k", "v").coalesce(1))
    val fn = tn.read().inputFiles.filter(_.contains("/d-")).toSeq
    assert(fn.size == 1)
    Files.delete(Paths.get(java.net.URI.create(fn.head)))
    intercept[Throwable] { tn.deleteWhere(col("k") < 100L) }
    // content check on an intact twin: the NULL-k row survives
    val tn2 = TxnTable.fresh(spark, dir("filedrop_nulls2"))
    tn2.append(Seq[(java.lang.Long, Long)]((1L, 10L), (2L, 20L), (null, 30L))
      .toDF("k", "v"))
    tn2.deleteWhere(col("k") < 100L)
    assert(tn2.read().select("v").as[Long].collect().toSet == Set(30L))
    // strictness: max == bound proves under <= but NOT under < (the
    // max-valued row survives a strict bound — skip preds widen here,
    // the all-match prover must not)
    val ta = TxnTable.fresh(spark, dir("filedrop_le"))
    ta.append((0L until 100L).map(k => (k, k)).toDF("k", "v").coalesce(1))
    val fa = ta.read().inputFiles.filter(_.contains("/d-")).toSeq
    Files.delete(Paths.get(java.net.URI.create(fa.head)))
    ta.deleteWhere(col("k") <= 99L) // provable: metadata-only, no read
    assert(ta.read().count() == 0L)
    val tb = TxnTable.fresh(spark, dir("filedrop_lt"))
    tb.append((0L until 100L).map(k => (k, k)).toDF("k", "v").coalesce(1))
    val fb = tb.read().inputFiles.filter(_.contains("/d-")).toSeq
    Files.delete(Paths.get(java.net.URI.create(fb.head)))
    intercept[Throwable] { tb.deleteWhere(col("k") < 99L) } // must scan
    // a provably-TRUE condition needs no stats at all: bare
    // `DELETE FROM '<path>'` (→ deleteWhere(lit(true))) truncates as
    // one remove-only commit — proven the same way, all files gone
    // from disk first
    val tt = TxnTable.fresh(spark, dir("filedrop_truncate"))
    tt.append((0L until 50L).map(k => (k, k)).toDF("k", "v"))
    tt.append((50L until 100L).map(k => (k, k)).toDF("k", "v"))
    tt.read().inputFiles.filter(_.contains("/d-"))
      .foreach(f => Files.delete(Paths.get(java.net.URI.create(f))))
    val ss = graft.sources.GraftSql.session(spark, dir("filedrop_cat"))
    ss.sql(s"DELETE FROM '${tt.root}'")
    assert(tt.read().count() == 0L)
    val ht = tt.history().orderBy(col("version").desc).limit(1)
      .select("n_removed_files", "n_added_files").as[(Long, Long)].head()
    assert(ht._1 >= 2L && ht._2 == 0L, s"truncate must be remove-only: $ht")
  }

  test("mergeWhen interplay: auto-evolving star merge into an IDENTITY table with BY SOURCE clauses") {
    import graft.sources.MergeClause._
    val t = TxnTable.fresh(spark, dir("mergewhen_interplay"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "v")) // pre-declaration
    t.addIdentityColumn("rid")
    t.append(Seq((3L, 30L), (4L, 40L)).toDF("k", "v")) // rid = 1, 2
    // one statement drives all three features: the source carries an
    // ADDITIVE column `w` (auto-evolves through the star clauses) and
    // covers keys {2, 3, 9}; keys 1 and 4 are "not matched by source"
    // and walk the BY SOURCE ladder (tombstone / target-scope update)
    val src = Seq((2L, 21L, 200L), (3L, 31L, 300L), (9L, 90L, 900L))
      .toDF("k", "v", "w")
    t.mergeWhen(src, Seq("k"), Seq(
      Update(None, None),                // SET *    — evolves w in
      Insert(None, None),                // INSERT * — allocates rid
      DeleteBySource(Some("t.v > 35")),  // k=4 tombstoned
      UpdateBySource(Some("t.v < 15"), Seq("v" -> "t.v + 100")))) // k=1
    val rows = t.read().select("k", "v", "rid", "w")
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(rows == Set(
      // BY SOURCE update, pre-declaration row: rid stays NULL, no w
      (1L, 110L, None, None),
      // matched pre-declaration row: rid NULL kept, evolved w landed
      (2L, 21L, None, Some(200L)),
      // matched allocated row: rid kept, evolved w landed
      (3L, 31L, Some(1L), Some(300L)),
      // k=4 tombstoned by the BY SOURCE delete; the insert allocates
      // the next id above the append's high water
      (9L, 90L, Some(3L), Some(900L))), s"got $rows")
    // the identity high water advanced exactly once past the insert
    assert(t.properties.get("graft.identityHw.rid").contains("3"),
      s"high water: ${t.properties.get("graft.identityHw.rid")}")
  }

  test("delete/update discover touched files from stats — provably never scan non-candidates") {
    val t = TxnTable.fresh(spark, dir("dml_prune"))
    val rng = new scala.util.Random(29)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    // delete the TOP-range clustered file from disk: if the DML's
    // matched-row discovery scanned the whole table, both statements
    // below would die on the missing file — the condition's extracted
    // conjuncts prune it from commit metadata instead
    val top = t.readRange("k", 399, 399).inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(top.size == 1)
    Files.delete(Paths.get(java.net.URI.create(top.head)))
    t.update(Map("v" -> (col("v") + 1L)), col("k") === 110L)
    t.deleteWhere(col("k") >= 20L && col("k") <= 25L)
    val got = t.readRange("k", 0, 299).as[(Long, Long)].collect().toMap
    assert(got(110L) == 331L, s"update applied: ${got.get(110L)}")
    assert(!(20L to 25L).exists(got.contains), "delete applied")
    assert(got(109L) == 327L && got(26L) == 78L, "neighbors intact")
    // each DML rewrote exactly the one file its condition admits
    val removed = t.history().orderBy(col("version").desc).limit(2)
      .select("n_removed_files").as[Long].collect().toSeq
    assert(removed == Seq(1L, 1L), s"per-DML removes: $removed")
  }

  test("DML discovery composes with time-function inversion — a calendar DELETE never scans other days") {
    import java.sql.Timestamp
    // one file per day (single-partition appends), then a DELETE typed
    // with the CALENDAR predicate (cast-to-date), not a raw ts range:
    // discovery must invert it onto the micros stats and admit only the
    // day's file — proven by deleting ANOTHER day's file from disk first
    val t = TxnTable.fresh(spark, dir("dml_time_prune"))
    val days = Seq("2024-03-01", "2024-03-02", "2024-03-03")
    days.zipWithIndex.foreach { case (day, di) =>
      val rows = (0 until 24).map(h =>
        (Timestamp.valueOf(f"$day $h%02d:00:00"), di * 100L + h))
      t.append(rows.toDF("ts", "v").repartition(1))
    }
    val day3 = t.readRange("v", 200, 223).inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(day3.size == 1)
    Files.delete(Paths.get(java.net.URI.create(day3.head)))
    t.deleteWhere(expr("CAST(ts AS DATE) = DATE '2024-03-02'"))
    assert(t.readRange("v", 0, 123).as[(java.sql.Timestamp, Long)]
      .collect().map(_._2).toSet == (0 until 24).map(_.toLong).toSet,
      "day 1 intact, day 2 gone")
    val removed = t.history().orderBy(col("version").desc).limit(1)
      .select("n_removed_files").as[Long].head()
    assert(removed == 1L, s"calendar DELETE rewrote $removed files")
  }

  test("readRangeTime prunes by timestamp stats: a day's query plans the day's file") {
    import java.sql.Timestamp
    val t = TxnTable.fresh(spark, dir("stats_time"))
    // 4 days of events, appended shuffled so clustering is the compact's
    // doing, not arrival order; stage() writes TIMESTAMP_MICROS so the
    // footers carry orderable int64 stats (INT96 would have none)
    val rng = new scala.util.Random(7)
    rng.shuffle((0 until 96).toList).grouped(24).foreach { g =>
      t.append(g.map(h => (h.toLong,
        Timestamp.valueOf(f"2024-03-${1 + h / 24}%02d ${h % 24}%02d:30:00")))
        .toDF("id", "ts"))
    }
    t.compact(target = 4, clusterBy = Seq("ts"))
    // window strictly interior to day 2's quartile (range-partition
    // boundaries are sampled, so don't bet on exact midnight splits)
    val want = t.read()
      .filter(col("ts") >= lit("2024-03-02 06:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-03-02 18:00:00").cast("timestamp"))
      .as[(Long, Timestamp)].collect().toSet
    val day = t.readRangeTime("ts", "2024-03-02 06:00:00", "2024-03-02 18:00:00")
    assert(day.as[(Long, Timestamp)].collect().toSet == want && want.size == 12)
    assert(day.inputFiles.count(_.contains("/d-")) == 1,
      "an interior day window must plan exactly 1 of the 4 files")
    assert(t.read().inputFiles.count(_.contains("/d-")) == 4)
  }

  test("vacuum retention: the last N snapshots stay readable, older ones die") {
    val t = TxnTable.fresh(spark, dir("vac_ret"))
    t.append(Seq((1L, "a")).toDF("k", "v"))    // v0
    t.overwrite(Seq((2L, "b")).toDF("k", "v")) // v1
    t.overwrite(Seq((3L, "c")).toDF("k", "v")) // v2
    t.overwrite(Seq((4L, "d")).toDF("k", "v")) // v3
    assert(t.vacuum(retainVersions = 2) >= 2, "v0/v1's files must go")
    // inside the horizon: both snapshots fully readable
    assert(t.read(2).as[(Long, String)].collect().toSeq == Seq((3L, "c")))
    assert(t.read(3).as[(Long, String)].collect().toSeq == Seq((4L, "d")))
    // past it: time travel AND restore fail loudly, tip unharmed
    intercept[Exception](t.read(0).count())
    intercept[IllegalArgumentException](t.restore(1))
    assert(t.restore(2) == 4) // inside the horizon restore still works
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((3L, "c")))
  }

  test("change feed plans only changed files + sidecars, never the table") {
    // the 100-TB property stated in readChanges' doc, asserted on the
    // actual plan: feed input files are the version range's changed
    // files (or KB sidecars), not the live set
    val t = TxnTable.fresh(spark, dir("cdf_cost"))
    (1 to 4).foreach(i => t.append(Seq((i.toLong, i * 10L)).toDF("k", "n"))) // v0..v3
    t.append(Seq((5L, 50L)).toDF("k", "n"))                                  // v4
    val tail = t.readChanges(3) // just v4's append
    assert(tail.inputFiles.length == 1,
      s"append tail must plan 1 new file, planned ${tail.inputFiles.length}")
    // a one-key merge with CDC: the feed over it reads ONLY the sidecar
    t.merge(Seq((5L, 51L)).toDF("k", "n"), Seq("k"), cdc = true)             // v5
    val feed = t.readChanges(4)
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/_cdc/")),
      s"merge feed must plan only its sidecar: ${feed.inputFiles.toSeq}")
  }

  test("change feed across schema evolution binds ONE schema (the tip's)") {
    val t = TxnTable.fresh(spark, dir("cdf_evo"))
    t.append(Seq((1L, 10L)).toDF("k", "n"))                    // v0: (k, n)
    t.append(Seq((2L, 20L, "x")).toDF("k", "n", "tag"))        // v1: + tag
    t.merge(Seq((1L, 11L, "y")).toDF("k", "n", "tag"), Seq("k"),
      cdc = true)                                              // v2
    val feed = t.readChanges(-1)
    // every piece — v0's pre-evolution insert, v1's, v2's images — comes
    // back under the tip schema; pre-evolution rows surface NULL tag
    assert(feed.columns.toSeq ==
      Seq("k", "n", "tag", "_change_type", "_commit_version"))
    val ins0 = feed.filter(col("_commit_version") === 0)
      .select("k", "n", "tag").collect()
    assert(ins0.length == 1 && ins0(0).isNullAt(2),
      "pre-evolution insert must surface NULL for the evolved column")
    // the merge pre-image row was WRITTEN pre-evolution but captured at
    // v2 through the evolved log schema — also NULL tag, value intact
    val pre = feed.filter(col("_change_type") === "update_preimage").collect()
    assert(pre.length == 1 && pre(0).getLong(1) == 10L && pre(0).isNullAt(2))
    val post = feed.filter(col("_change_type") === "update_postimage")
      .select("k", "n", "tag").as[(Long, Long, String)].collect().toSeq
    assert(post == Seq((1L, 11L, "y")))
  }

  test("restore rolls back metadata-only, keeps history auditable, refuses vacuumed targets") {
    val t = TxnTable.fresh(spark, dir("restore"))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v0
    t.append(Seq((3L, "c")).toDF("k", "v"))            // v1
    t.overwrite(Seq((9L, "z")).toDF("k", "v"))         // v2: the bad deploy
    def nStaged = {
      val s = Files.list(Paths.get(dir("restore")))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("d-"))
      finally s.close()
    }
    val stagedBefore = nStaged
    assert(t.restore(1) == 3)
    // tip content is v1's again…
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // …via metadata alone: not one new staged directory
    assert(nStaged == stagedBefore, "metadata restore must not stage data")
    // history is append-only: the undone overwrite stays readable
    assert(t.read(2).as[(Long, String)].collect().toSet == Set((9L, "z")))
    assert(t.history().select("action").as[String].collect().toSeq ==
      Seq("append", "append", "overwrite", "restore"))
    // restoring to the tip is a no-op
    assert(t.restore(3) == 3)
    // once retention reclaims the old files, restore fails LOUDLY
    t.overwrite(Seq((8L, "y")).toDF("k", "v")) // v4
    t.vacuum()
    intercept[IllegalArgumentException](t.restore(1))
  }

  test("restore across a deletion vector materializes the old snapshot") {
    val t = TxnTable.fresh(spark, dir("restore_dv"))
    t.append(Seq((1L, 5L), (2L, 50L)).toDF("k", "n")) // v0
    t.append(Seq((3L, 60L)).toDF("k", "n"))           // v1
    t.deleteWhere(col("n") > 40, dv = true)           // v2: DV in the undo range
    assert(t.read().count() == 1)
    // a file-list diff can't un-apply a DV (it hits every version ≥ its
    // own), so this path must rewrite — and the content must still be
    // exactly v1's
    assert(t.restore(1) == 3)
    assert(t.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 5L), (2L, 50L), (3L, 60L)))
  }

  test("change feed: replaying it onto the old snapshot rebuilds the new; compact silent; no sidecar = loud") {
    val t = TxnTable.fresh(spark, dir("cdf"))
    t.append(Seq((1L, 10L), (2L, 20L)).toDF("k", "n"))                       // v0
    t.append(Seq((3L, 30L)).toDF("k", "n"))                                  // v1
    t.merge(Seq((2L, 99L), (4L, 40L)).toDF("k", "n"), Seq("k"), cdc = true) // v2
    t.compact(target = 1)                                                    // v3
    t.deleteWhere(col("n") > 50, dv = true, cdc = true)                      // v4 (DV + sidecar)
    t.overwrite(Seq((7L, 70L)).toDF("k", "n"))                               // v5
    t.restore(4)                                                             // v6: rollback past the overwrite
    val feed = t.readChanges(1)
    // the consumer-replay law: snapshot(since) ⊎ (inserts+postimages)
    // ∖ (deletes+preimages) == snapshot(tip), as MULTISETS
    val plus = feed.filter(col("_change_type").isin("insert", "update_postimage"))
      .select("k", "n")
    val minus = feed.filter(col("_change_type").isin("delete", "update_preimage"))
      .select("k", "n")
    val replayed = t.read(1).unionByName(plus).exceptAll(minus)
    val tip = t.read()
    assert(replayed.exceptAll(tip).isEmpty && tip.exceptAll(replayed).isEmpty,
      "feed replay must reproduce the tip snapshot")
    // spot-pin the classes: merge images at v2, sidecar delete content at
    // v4, the rollback's file-diff delete+insert at v6 — and v3 SILENT
    def rows(v: Int, ct: String) =
      feed.filter(col("_commit_version") === v && col("_change_type") === ct)
        .select("k", "n").as[(Long, Long)].collect().toSet
    assert(rows(2, "update_preimage") == Set((2L, 20L)))
    assert(rows(2, "update_postimage") == Set((2L, 99L)))
    assert(rows(2, "insert") == Set((4L, 40L)))
    assert(rows(4, "delete") == Set((2L, 99L)))
    assert(rows(5, "delete") == Set((1L, 10L), (3L, 30L), (4L, 40L)))
    assert(rows(5, "insert") == Set((7L, 70L)))
    assert(rows(6, "delete") == Set((7L, 70L)))
    // the restore's re-added file still carries (2,99) physically — the
    // v4 DV must keep it OUT of the feed's insert side too
    assert(rows(6, "insert") == Set((1L, 10L), (3L, 30L), (4L, 40L)))
    assert(feed.filter(col("_commit_version") === 3).isEmpty,
      "compact is dataChange=false: it must emit nothing")
    // a DML commit written WITHOUT cdc=true cannot be fed past afterwards
    val t2 = TxnTable.fresh(spark, dir("cdf_nosidecar"))
    t2.append(Seq((1L, 10L)).toDF("k", "n"))
    t2.merge(Seq((1L, 11L)).toDF("k", "n"), Seq("k"))
    intercept[IllegalStateException](t2.readChanges(0).count())
  }

  // ------------------------------------------------------ SQL surface (r13)

  /** One extension-carrying session per suite run, catalog rooted in a
    * wiped scratch dir. */
  private lazy val sqlS: org.apache.spark.sql.SparkSession = {
    val root = dir("sqlcat")
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    graft.sources.GraftSql.session(spark, root)
  }

  test("SQL DDL round-trip: create, describe, list, rename, drop") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl")
    sqlS.sql("CREATE TABLE graft.ddl.t (k BIGINT, v STRING) USING `graft-txn`")
    assert(sqlS.table("graft.ddl.t").schema.map(f => (f.name, f.dataType.simpleString))
      == Seq(("k", "bigint"), ("v", "string")))
    assert(sqlS.sql("SHOW TABLES IN graft.ddl").select("tableName")
      .as[String].collect().toSet == Set("t"))
    intercept[Exception](
      sqlS.sql("CREATE TABLE graft.ddl.t (k BIGINT) USING `graft-txn`"))
    sqlS.sql("ALTER TABLE graft.ddl.t ADD COLUMNS (extra DOUBLE)")
    sqlS.sql("ALTER TABLE graft.ddl.t RENAME COLUMN extra TO score")
    assert(sqlS.table("graft.ddl.t").columns.toSeq == Seq("k", "v", "score"))
    sqlS.sql("ALTER TABLE graft.ddl.t DROP COLUMN score")
    assert(sqlS.table("graft.ddl.t").columns.toSeq == Seq("k", "v"))
    // the rename target is CATALOG-RELATIVE (Spark resolves it inside the
    // source table's catalog) — spelling the catalog again would nest it
    sqlS.sql("ALTER TABLE graft.ddl.t RENAME TO ddl.t9")
    assert(sqlS.sql("SHOW TABLES IN graft.ddl").select("tableName")
      .as[String].collect().toSet == Set("t9"))
    sqlS.sql("DROP TABLE graft.ddl.t9")
    assert(sqlS.sql("SHOW TABLES IN graft.ddl").isEmpty)
  }

  test("SQL DML lowers onto the transactional core: one commit per statement") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    sqlS.sql("CREATE TABLE graft.dml.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.dml.t VALUES (1, 10.0), (2, 20.0)")
    sqlS.sql("SELECT * FROM VALUES (2, CAST(99.0 AS DOUBLE)), (3, CAST(30.0 AS DOUBLE)) " +
      "AS s(k, q)").createOrReplaceTempView("dml_src")
    sqlS.sql("MERGE INTO graft.dml.t t USING dml_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    sqlS.sql("UPDATE graft.dml.t SET q = q * 2 WHERE k = 1")
    sqlS.sql("DELETE FROM graft.dml.t WHERE q > 50")
    // read back through the NATIVE api: the SQL and native surfaces must
    // be two views of one log
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "dml", "t").toString)
    assert(nt.history().select("action").as[String].collect().toSeq
      == Seq("create", "append", "merge", "update", "delete"))
    assert(nt.read().as[(Long, Double)].collect().toSet
      == Set((1L, 20.0), (3L, 30.0)))
    // INSERT OVERWRITE resets content as ONE overwrite commit
    sqlS.sql("INSERT OVERWRITE graft.dml.t VALUES (9, 90.0)")
    assert(nt.read().as[(Long, Double)].collect().toSet == Set((9L, 90.0)))
    assert(nt.history().count() == 6)
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF bind exact snapshots") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.tt")
    sqlS.sql("CREATE TABLE graft.tt.t (k BIGINT) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.tt.t VALUES (1)")
    sqlS.sql("INSERT INTO graft.tt.t VALUES (2)")
    assert(sqlS.sql("SELECT * FROM graft.tt.t VERSION AS OF 1")
      .as[Long].collect().toSet == Set(1L))
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "tt", "t").toString)
    val ts1 = nt.history().filter(col("version") === 1)
      .select("ts_millis").as[Long].head()
    val str = java.time.Instant.ofEpochMilli(ts1).atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(sqlS.sql(s"SELECT * FROM graft.tt.t TIMESTAMP AS OF '$str'")
      .as[Long].collect().toSet == Set(1L))
    // a time-travel snapshot refuses writes
    intercept[Exception](
      sqlS.sql("INSERT INTO graft.tt.t VERSION AS OF 1 VALUES (9)"))
  }

  test("CTAS and saveAsTable ride the V1 write fallback") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    sqlS.sql("CREATE TABLE graft.ctas.src (k BIGINT) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.ctas.src VALUES (1), (2), (3)")
    sqlS.sql("CREATE TABLE graft.ctas.copy USING `graft-txn` " +
      "AS SELECT k * 10 AS k FROM graft.ctas.src")
    assert(sqlS.table("graft.ctas.copy").as[Long].collect().toSet
      == Set(10L, 20L, 30L))
    sqlS.range(2).selectExpr("id AS k").write.format("graft-txn")
      .saveAsTable("graft.ctas.saved")
    assert(sqlS.table("graft.ctas.saved").as[Long].collect().toSet
      == Set(0L, 1L))
    // append mode saveAsTable accumulates through the ledger-free path
    sqlS.range(2).selectExpr("id + 5 AS k").write.format("graft-txn")
      .mode("append").saveAsTable("graft.ctas.saved")
    assert(sqlS.table("graft.ctas.saved").as[Long].collect().toSet
      == Set(0L, 1L, 5L, 6L))
  }

  test("catalog MERGE: conditional clauses lower onto mergeWhen; non-equi ON still rejected") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.mrej")
    sqlS.sql("CREATE TABLE graft.mrej.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.mrej.t VALUES (1, 10.0), (2, 60.0), (3, 5.0)")
    sqlS.sql("SELECT * FROM VALUES (CAST(1 AS BIGINT), CAST(100.0 AS DOUBLE)), " +
      "(3, 1.0), (9, 5.0) AS s(k, q)")
      .createOrReplaceTempView("mrej_src")
    // non-equi ON: genuinely unliftable, rejected loudly, table untouched
    val e1 = intercept[Exception](sqlS.sql(
      "MERGE INTO graft.mrej.t t USING mrej_src s ON t.k < s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(e1.getMessage.contains("equi-key") ||
      e1.getMessage.contains("ON conjunct") || e1.getCause != null)
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "mrej", "t").toString)
    assert(nt.currentVersion == 1L)
    // the FULL clause surface through the catalog route (r17): resolved
    // expressions rewritten into mergeWhen's t/s scopes, first-true
    // clause per row, BY SOURCE included
    sqlS.sql("MERGE INTO graft.mrej.t t USING mrej_src s ON t.k = s.k " +
      "WHEN MATCHED AND s.q >= 100 THEN UPDATE SET q = s.q + t.q " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED AND s.q < 50 THEN INSERT (k, q) VALUES (s.k, s.q * 2) " +
      "WHEN NOT MATCHED BY SOURCE AND t.q > 45 THEN DELETE")
    // k=1 matched, s.q=100 → q = 110; k=3 matched, s.q=1 (< 100) →
    // second clause deletes; k=9 unmatched source, q=5 < 50 → insert 10;
    // k=2 not matched by source, q=60 > 45 → deleted
    assert(sqlS.table("graft.mrej.t").as[(Long, Double)].collect().toSet ==
      Set((1L, 110.0), (9L, 10.0)))
  }

  test("bare-catalog DELETE pushes through connector SupportsDelete") {
    // no extension rule involved: translate V1 filters directly on the
    // table object, the path a foreign engine without GraftExtensions uses
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.del")
    sqlS.sql("CREATE TABLE graft.del.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.del.t VALUES (1, 10.0), (2, 20.0), (3, 30.0)")
    val cat = sqlS.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    val ident = org.apache.spark.sql.connector.catalog.Identifier
      .of(Array("del"), "t")
    val tbl = cat.loadTable(ident)
      .asInstanceOf[org.apache.spark.sql.connector.catalog.SupportsDelete]
    import org.apache.spark.sql.sources.{Filter, GreaterThan}
    assert(tbl.canDeleteWhere(Array[Filter](GreaterThan("q", 15.0))))
    // an untranslatable filter must REFUSE the whole set (exact semantics:
    // nothing above a delete re-evaluates what the translation dropped) —
    // collation-carrying filters are outside the translation on purpose
    val opaque: Filter = org.apache.spark.sql.sources.CollatedEqualTo(
      "q", 1.0, org.apache.spark.sql.types.StringType)
    assert(!tbl.canDeleteWhere(Array[Filter](GreaterThan("q", 15.0), opaque)))
    tbl.deleteWhere(Array[Filter](GreaterThan("q", 15.0)))
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "del", "t").toString)
    assert(nt.read().select("k").as[Long].collect().toSet == Set(1L))
  }

  test("constraints: violating batches reject with the named error, nothing commits") {
    val t = TxnTable.fresh(spark, dir("cons_reject"))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "q"))          // v0
    t.addConstraint("q_pos", "q >= 0")                            // v1
    t.setNotNull("k")                                             // v2
    assert(t.constraintsAt(t.currentVersion).map(_._1) == Seq("q_pos", "nn_k"))
    // conforming append commits
    t.append(Seq((3L, 30.0)).toDF("k", "q"))                      // v3
    // violating append: in-task reject, no new version, message names it
    val e = intercept[Exception](t.append(Seq((4L, -1.0)).toDF("k", "q")))
    def msg(x: Throwable): String =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
    assert(msg(e).contains("q_pos"), s"unnamed reject: ${msg(e)}")
    assert(t.currentVersion == 3L)
    // NOT NULL enforced the same way
    val e2 = intercept[Exception](t.append(
      Seq((Option.empty[java.lang.Long], 5.0)).toDF("k", "q")))
    assert(msg(e2).contains("nn_k"))
    // merge and update are gated too
    intercept[Exception](t.merge(Seq((1L, -9.0)).toDF("k", "q"), Seq("k")))
    intercept[Exception](t.update(Map("q" -> lit(-5.0)), col("k") === 1L))
    assert(t.read().count() == 3)
    // adding a constraint EXISTING data violates is refused
    intercept[TxnTable.ConstraintViolation](t.addConstraint("q_small", "q < 25"))
    // drop lifts the gate
    t.dropConstraint("q_pos")
    t.append(Seq((5L, -2.0)).toDF("k", "q"))
    assert(t.read().count() == 4)
  }

  test("constraints survive schema evolution and checkpointing; rename/drop refuse") {
    val t = TxnTable.fresh(spark, dir("cons_evo"), checkpointInterval = 3)
    t.append(Seq((1L, 10.0)).toDF("k", "q"))
    t.addConstraint("q_pos", "q >= 0")
    // additive evolution does not shed the constraint
    t.append(Seq((2L, 20.0, "x")).toDF("k", "q", "tag"))
    (0 until 4).foreach(i => t.append(Seq((10L + i, 1.0, "y")).toDF("k", "q", "tag")))
    // a FRESH handle resolves the constraint through the checkpoint
    val t2 = TxnTable.at(spark, dir("cons_evo"), checkpointInterval = 3)
    assert(t2.constraintsAt(t2.currentVersion).map(_._1) == Seq("q_pos"))
    intercept[Exception](t2.append(Seq((9L, -1.0, "z")).toDF("k", "q", "tag")))
    // a constrained column can be neither renamed nor dropped
    intercept[IllegalArgumentException](t2.renameColumn("q", "qty"))
    intercept[IllegalArgumentException](t2.dropColumn("q"))
    // unconstrained columns still evolve freely
    t2.renameColumn("tag", "label")
    assert(t2.read().columns.toSeq == Seq("k", "q", "label"))
  }

  test("protocol gates: higher minReader/minWriter and unknown actions fail loudly") {
    val t = TxnTable.fresh(spark, dir("proto"))
    t.append(Seq((1L, 10.0)).toDF("k", "q"))
    assert(t.protocol == ((1, 1)))
    t.upgradeProtocol(2, 2)
    assert(t.protocol == ((2, 2)))
    // downgrade and beyond-supported refuse
    intercept[IllegalArgumentException](t.upgradeProtocol(1, 1))
    intercept[IllegalArgumentException](
      t.upgradeProtocol(TxnTable.SupportedReader + 1, 2))
    // forge a future entry requiring a newer reader: a fresh handle must
    // refuse with the NAMED protocol error, not a parse surprise
    val v = t.currentVersion + 1
    Files.write(Paths.get(dir("proto"), "_txn_log", f"v$v%05d.txn"),
      "action=append\nrows=0\nts=9999999999999\nadd=\nremove=\nprotocol=99:99\n"
        .getBytes("UTF-8"))
    val cold = TxnTable.at(spark, dir("proto"))
    intercept[TxnTable.ProtocolException](cold.read().count())
    intercept[TxnTable.ProtocolException](cold.append(Seq((2L, 1.0)).toDF("k", "q")))
    // unknown ACTION from a future feature: same named refusal
    val t3 = TxnTable.fresh(spark, dir("proto_action"))
    t3.append(Seq((1L, 10.0)).toDF("k", "q"))
    Files.write(Paths.get(dir("proto_action"), "_txn_log", "v00001.txn"),
      "action=teleport\nrows=0\nts=9999999999999\nadd=\nremove=\n".getBytes("UTF-8"))
    val cold3 = TxnTable.at(spark, dir("proto_action"))
    intercept[TxnTable.ProtocolException](cold3.read().count())
  }

  test("age-based vacuum: old versions reclaimed, in-window kept, union with retainVersions") {
    val t = TxnTable.fresh(spark, dir("vac_age"))
    t.append(Seq((1L, 10.0)).toDF("k", "q").repartition(1))   // v0
    t.append(Seq((2L, 20.0)).toDF("k", "q").repartition(1))   // v1
    t.overwrite(Seq((3L, 30.0)).toDF("k", "q"))               // v2
    // shift v0/v1 commit times 10 days into the past (the recorded ts
    // line is the age authority), leaving v2 recent
    for (v <- 0L to 1L) {
      val p = Paths.get(dir("vac_age"), "_txn_log", f"v$v%05d.txn")
      val old = (System.currentTimeMillis() - 10L * 24 * 3600 * 1000) + v
      val body = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?m)^ts=\\d+$", s"ts=$old")
      Files.write(p, body.getBytes("UTF-8"))
    }
    // published entries are immutable in production, so handles cache
    // parsed entries — the fake-clock rewrite above violates that, and a
    // FRESH handle is the honest reader of the mutated log
    val tf = TxnTable.at(spark, dir("vac_age"))
    // a 24h age window + version floor 1: v0/v1 fall outside both keeps
    val n = tf.vacuum(retainVersions = 1, retainHours = 24.0)
    assert(n > 0, "aged versions must reclaim")
    assert(tf.read().as[(Long, Double)].collect().toSet == Set((3L, 30.0)))
    intercept[Exception](tf.read(0).count()) // v0's files are gone
    // union law: a large version floor keeps everything regardless of age
    val t2 = TxnTable.fresh(spark, dir("vac_age2"))
    t2.append(Seq((1L, 10.0)).toDF("k", "q").repartition(1))
    t2.overwrite(Seq((2L, 20.0)).toDF("k", "q"))
    for (v <- 0L to 0L) {
      val p = Paths.get(dir("vac_age2"), "_txn_log", "v00000.txn")
      val body = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("(?m)^ts=\\d+$", s"ts=${System.currentTimeMillis() - 10L * 24 * 3600 * 1000}")
      Files.write(p, body.getBytes("UTF-8"))
    }
    val t2f = TxnTable.at(spark, dir("vac_age2")) // fresh post-mutation handle
    // first sweep may reclaim non-data droppings (_SUCCESS, crc shadows);
    // the DATA of every version survives the large version floor
    t2f.vacuum(retainVersions = 10, retainHours = 0.001)
    assert(t2f.read(0).as[(Long, Double)].collect().toSet == Set((1L, 10.0)))
    assert(t2f.read().as[(Long, Double)].collect().toSet == Set((2L, 20.0)))
    // and the sweep converges: nothing left to delete
    assert(t2f.vacuum(retainVersions = 10, retainHours = 0.001) == 0)
  }

  test("readWhereNull plans only the files its null counts admit") {
    val t = TxnTable.fresh(spark, dir("null_prune"))
    t.append(Seq((1L, Option.empty[java.lang.Double]),
      (2L, Option.empty[java.lang.Double])).toDF("k", "opt").repartition(1)) // all-null
    t.append(Seq((3L, Option(java.lang.Double.valueOf(3.5))),
      (4L, Option(java.lang.Double.valueOf(4.5)))).toDF("k", "opt").repartition(1)) // no-null
    t.append(Seq((5L, Option(java.lang.Double.valueOf(5.5))),
      (6L, Option.empty[java.lang.Double])).toDF("k", "opt").repartition(1)) // mixed
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(_.contains("/d-"))
    val notNull = t.readWhereNull("opt", isNull = false)
    assert(planned(notNull) == 2, "IS NOT NULL must skip the all-null file")
    assert(notNull.select("k").as[Long].collect().toSet == Set(3L, 4L, 5L))
    val isNull = t.readWhereNull("opt", isNull = true)
    assert(planned(isNull) == 2, "IS NULL must skip the zero-null file")
    assert(isNull.select("k").as[Long].collect().toSet == Set(1L, 2L, 6L))
    // equivalence with the unpruned filter, both directions
    assert(notNull.exceptAll(t.read().filter(col("opt").isNotNull)).isEmpty)
    assert(isNull.exceptAll(t.read().filter(col("opt").isNull)).isEmpty)
  }

  test("constraint DDL through SQL: ADD/DROP CONSTRAINT, NOT NULL columns") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.cons")
    sqlS.sql("CREATE TABLE graft.cons.t (k BIGINT NOT NULL, q DOUBLE) " +
      "USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.cons.t VALUES (1, 10.0)")
    sqlS.sql("ALTER TABLE graft.cons.t ADD CONSTRAINT q_pos CHECK (q >= 0)")
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "cons", "t").toString)
    assert(nt.constraintsAt(nt.currentVersion).map(_._1).toSet
      == Set("nn_k", "q_pos"))
    // both the SQL-added CHECK and the DDL NOT NULL enforce on writes
    intercept[Exception](
      sqlS.sql("INSERT INTO graft.cons.t VALUES (2, -1.0)"))
    assert(nt.read().count() == 1)
    sqlS.sql("ALTER TABLE graft.cons.t DROP CONSTRAINT q_pos")
    sqlS.sql("INSERT INTO graft.cons.t VALUES (2, -1.0)")
    assert(nt.read().count() == 2)
    intercept[Exception](
      sqlS.sql("ALTER TABLE graft.cons.t DROP CONSTRAINT nope"))
    sqlS.sql("ALTER TABLE graft.cons.t DROP CONSTRAINT IF EXISTS nope")
  }

  test("operational table functions: graft_history and graft_files in SQL") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.ops")
    sqlS.sql("CREATE TABLE graft.ops.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.ops.t VALUES (1, 10.0), (2, 20.0)")
    sqlS.sql("DELETE FROM graft.ops.t WHERE k = 2")
    // catalog-qualified target
    assert(sqlS.sql("SELECT action FROM graft_history('graft.ops.t') ORDER BY version")
      .as[String].collect().toSeq == Seq("create", "append", "delete"))
    // filesystem-path target, versioned file inventory from metadata
    val root = Paths.get(dir("sqlcat"), "ops", "t").toString
    val nowFiles = sqlS.sql(s"SELECT path, n_rows FROM graft_files('$root')")
      .as[(String, Long)].collect()
    assert(nowFiles.map(_._2).sum == 1L, s"tip rows: ${nowFiles.toSeq}")
    val v1Files = sqlS.sql(s"SELECT n_rows FROM graft_files('$root', 1)")
      .as[Long].collect()
    assert(v1Files.sum == 2L, s"v1 rows: ${v1Files.toSeq}")
  }

  test("maintenance SQL: DESCRIBE HISTORY, VACUUM, OPTIMIZE; plain SQL delegates") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.mnt")
    sqlS.sql("CREATE TABLE graft.mnt.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.mnt.t VALUES (1, 10.0)")
    sqlS.sql("INSERT INTO graft.mnt.t VALUES (2, 20.0)")
    sqlS.sql("INSERT OVERWRITE graft.mnt.t VALUES (3, 30.0)")
    assert(sqlS.sql("DESCRIBE HISTORY graft.mnt.t")
      .select("action").as[String].collect().toSeq
      == Seq("create", "append", "append", "overwrite"))
    // age-window vacuum keeps everything young; version-floor vacuum
    // reclaims the overwritten files
    sqlS.sql("VACUUM graft.mnt.t RETAIN 24.0 HOURS")
    assert(sqlS.sql("SELECT * FROM graft.mnt.t VERSION AS OF 2")
      .count() == 2) // pre-overwrite snapshot survived the age window
    val n = sqlS.sql("VACUUM graft.mnt.t KEEP 1 VERSIONS")
      .as[Int].head()
    assert(n > 0, "version-floor vacuum must reclaim the overwritten files")
    // OPTIMIZE bin-packs the small files into one
    sqlS.sql("INSERT INTO graft.mnt.t VALUES (4, 40.0)")
    sqlS.sql("INSERT INTO graft.mnt.t VALUES (5, 50.0)")
    sqlS.sql("OPTIMIZE graft.mnt.t TARGET 1000 ROWS")
    // TARGET is optional (defaults to ~1M-row packing): parses and runs
    sqlS.sql("OPTIMIZE graft.mnt.t").collect()
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "mnt", "t").toString)
    assert(nt.read().inputFiles.count(_.contains("/d-")) == 1)
    assert(nt.read().count() == 3)
    // the parser extension must not touch standard SQL
    assert(sqlS.sql("DESCRIBE TABLE graft.mnt.t").count() > 0)
    assert(sqlS.sql("SELECT 1 + 1").as[Int].head() == 2)
  }

  test("QUALIFY: window-predicate filter lowers; refusal shapes delegate loudly; aliases never misfire") {
    import graft.plans.GraftSqlParser.rewriteQualify
    // top-k per group straight through sql(): helper column invisible
    val rows = sqlS.sql(
      "SELECT k, v FROM (SELECT 1 AS k, 10 AS v UNION ALL " +
        "SELECT 1, 20 UNION ALL SELECT 2, 30) " +
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 " +
        "ORDER BY k")
    assert(rows.columns.toSeq == Seq("k", "v"),
      "the helper column must not leak into the output")
    assert(rows.as[(Int, Int)].collect().toSeq == Seq((1, 20), (2, 30)))
    // the predicate may reference NON-PROJECTED source columns (it is
    // computed inside the original select's scope)
    assert(sqlS.sql(
      "SELECT k FROM (SELECT 1 AS k, 5 AS h UNION ALL SELECT 2, 9) " +
        "QUALIFY max(h) OVER (PARTITION BY k) > 7").as[Int].collect()
      .toSeq == Seq(2))
    // trailing LIMIT moves to the outer block
    assert(sqlS.sql(
      "SELECT k, v FROM (SELECT 1 AS k, 10 AS v UNION ALL SELECT 2, 30) " +
        "QUALIFY row_number() OVER (ORDER BY v DESC) <= 2 " +
        "ORDER BY v DESC LIMIT 1").as[(Int, Int)].collect()
      .toSeq == Seq((2, 30)))
    // a bare `qualify` column alias is NOT the clause — no misfire,
    // Spark parses it as the non-reserved word it is
    assert(sqlS.sql("SELECT 1 AS qualify").columns.toSeq == Seq("qualify"))
    assert(rewriteQualify("SELECT a qualify FROM t").isEmpty)
    // documented refusals: DISTINCT / set ops return None (the parser
    // then delegates and Spark refuses the clause loudly) — DISTINCT
    // detected even behind a leading hint or comment
    assert(rewriteQualify(
      "SELECT DISTINCT k FROM t QUALIFY rank() OVER (ORDER BY k) = 1").isEmpty)
    assert(rewriteQualify(
      "SELECT /*+ REPARTITION(2) */ DISTINCT k FROM t " +
        "QUALIFY rank() OVER (ORDER BY k) = 1").isEmpty)
    assert(rewriteQualify(
      "SELECT k FROM a UNION SELECT k FROM b " +
        "QUALIFY rank() OVER (ORDER BY k) = 1").isEmpty)
    intercept[Exception](sqlS.sql(
      "SELECT DISTINCT k FROM (SELECT 1 AS k) " +
        "QUALIFY rank() OVER (ORDER BY k) = 1").collect())
    // WITH-led: the CTE prefix is carried and the final SELECT rewritten
    assert(sqlS.sql(
      "WITH x AS (SELECT 1 AS k, 10 AS v UNION ALL SELECT 1, 20 " +
        "UNION ALL SELECT 2, 30) SELECT k, v FROM x " +
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1 " +
        "ORDER BY k").as[(Int, Int)].collect().toSeq
      == Seq((1, 20), (2, 30)))
    // a QUALIFY inside a string literal never triggers the rewrite
    assert(sqlS.sql("SELECT 'QUALIFY x' AS s").as[String].head()
      == "QUALIFY x")
    // ... nor inside a comment or a backtick identifier: previously-valid
    // statements mentioning the word stay untouched (and parse)
    assert(rewriteQualify(
      "SELECT a FROM t -- qualify: keep top rows\nWHERE a > 1").isEmpty)
    assert(rewriteQualify(
      "SELECT a /* qualify later */ FROM t WHERE a > 1").isEmpty)
    assert(rewriteQualify("SELECT `qualify` FROM t").isEmpty)
    assert(sqlS.sql(
      "SELECT k FROM (SELECT 2 AS k) -- qualify: keep top rows\n" +
        "WHERE k > 1").as[Int].head() == 2)
  }

  test("OPTIMIZE ZORDER BY: derived-key relayout prunes BOTH dimensions, key never stored") {
    val t = TxnTable.fresh(spark, dir("zorder_native"))
    val rng = new scala.util.Random(7)
    val rows = Seq.fill(2000)((rng.nextInt(1024).toLong, rng.nextInt(1024).toLong))
    t.append(rows.toDF("a", "b").repartition(4))
    t.compact(target = 4, zorderBy = Seq("a", "b"))
    // content invariant, schema unchanged (the Morton key is dropped)
    assert(t.read().columns.toSeq == Seq("a", "b"))
    assert(t.read().as[(Long, Long)].collect().toSeq.sorted == rows.sorted)
    // a low-quadrant read prunes files in EACH dimension independently —
    // the Z property one-column clustering cannot give
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(_.contains("/d-"))
    assert(planned(t.readRange("a", 0, 255)) < 4, "a-range must prune")
    assert(planned(t.readRange("b", 0, 255)) < 4, "b-range must prune")
    assert(t.readRange("a", 0, 255).count() == rows.count(_._1 <= 255))
    assert(t.readRange("b", 0, 255).count() == rows.count(_._2 <= 255))
    // the SQL form drives the same relayout
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.zo")
    sqlS.sql("CREATE TABLE graft.zo.t (a BIGINT, b BIGINT) USING `graft-txn`")
    rows.toDF("a", "b").repartition(4).write.format("graft-txn")
      .mode("append").save(Paths.get(dir("sqlcat"), "zo", "t").toString)
    val v = sqlS.sql("OPTIMIZE graft.zo.t ZORDER BY (a, b) INTO 4 FILES")
      .as[Long].head()
    assert(v == 2L) // v0 create, v1 append, v2 the relayout
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "zo", "t").toString)
    assert(planned(nt.readRange("a", 0, 255)) < 4)
    assert(nt.read().count() == 2000)
  }

  test("constraints gate the streaming sink: a violating micro-batch fails, table stays clean") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = TxnTable.fresh(spark, dir("cons_stream"))
    t.append(Seq((1L, 10.0)).toDF("k", "q"))
    t.addConstraint("q_pos", "q >= 0")
    val in = MemoryStream[(Long, Double)]
    val ckpt = dir("cons_stream_ckpt")
    val p = Paths.get(ckpt)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    val q = in.toDF().toDF("k", "q")
      .writeStream.format("graft-txn")
      .option("path", t.root).option("txnAppId", "cons_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    in.addData((2L, 20.0))
    q.processAllAvailable()
    assert(t.read().count() == 2)
    // the violating batch fails the QUERY (the sink's append enforces in
    // task), and no partial content commits
    in.addData((3L, -5.0))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable(); q.awaitTermination(10000)
    }
    def msg(x: Throwable): String =
      Iterator.iterate(x: Throwable)(_.getCause).takeWhile(_ != null)
        .map(m => Option(m.getMessage).getOrElse("")).mkString(" | ")
    assert(msg(e).contains("q_pos"), s"unnamed reject: ${msg(e)}")
    assert(t.read().as[(Long, Double)].collect().toSet
      == Set((1L, 10.0), (2L, 20.0)))
  }

  test("catalog SQL reads push filters and prune columns into the parquet scan") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.push")
    sqlS.sql("CREATE TABLE graft.push.t (k BIGINT, a STRING, b DOUBLE) " +
      "USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.push.t VALUES (1, 'x', 1.0), (2, 'y', 2.0)")
    val plan = sqlS.sql("SELECT k FROM graft.push.t WHERE k = 2")
      .queryExecution.executedPlan.toString
    // the lowered read IS the native parquet scan: the filter reaches it
    // as a pushed filter and the scan reads only the referenced column —
    // the property that makes the SQL surface scale like the native API
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(k,2)"),
      s"filter not pushed into the lowered scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<k:bigint>"),
      s"column prune did not reach the scan:\n$plan")
  }

  test("native update(): file granularity, null-cond keep, CDC images") {
    val t = TxnTable.fresh(spark, dir("native_update"))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "q").repartition(1))   // v0
    t.append(Seq((3L, 30.0), (4L, Double.NaN)).toDF("k", "q")
      .withColumn("q", when(col("k") === 4L, lit(null)).otherwise(col("q")))
      .repartition(1))                                                    // v1
    val before = t.read().inputFiles.filter(_.contains("/d-")).toSet
    // cond is NULL for k=4 (null q): that row must be KEPT unchanged;
    // only the file containing k=3 is touched
    t.update(Map("q" -> (col("q") * 10)), col("q") > 25, cdc = true)      // v2
    assert(t.read().select("k", "q").collect().map(r =>
      (r.getLong(0), Option(r.get(1)))).toSet ==
      Set((1L, Some(10.0)), (2L, Some(20.0)), (3L, Some(300.0)), (4L, None)))
    val after = t.read().inputFiles.filter(_.contains("/d-")).toSet
    assert((before intersect after).nonEmpty,
      "update must leave fully-unmatched files in place")
    val feed = t.readChanges(1)
    assert(feed.filter(col("_change_type") === "update_preimage")
      .select("k").as[Long].collect().toSet == Set(3L))
    assert(feed.filter(col("_change_type") === "update_postimage")
      .select("q").as[Double].collect().toSet == Set(300.0))
    // no-match update commits nothing
    assert(t.update(Map("q" -> lit(0.0)), col("q") > 1e9) == 2L)
    assert(t.currentVersion == 2L)
    // changesSince refuses to span an update (content-replacing)
    intercept[IllegalArgumentException](t.changesSince(0).count())
  }

  test("addConstraint auto-bumps the writer protocol: pre-constraint writers are refused") {
    val t = TxnTable.fresh(spark, dir("cons_protocol"))
    t.append(Seq((1L, 10.0)).toDF("k", "q"))
    assert(t.protocol == (1, 1))
    // the constraint commit itself carries the protocol bump — one commit,
    // so no window where a protocol-1 writer could append unvalidated rows
    val v = t.addConstraint("q_pos", "q >= 0")
    assert(t.protocol == (1, 2), "constraint must raise minWriter to 2")
    assert(t.currentVersion == v, "bump rides the constraint commit itself")
    // already at (1,2): a second constraint does not re-bump or churn
    t.setNotNull("k")
    assert(t.protocol == (1, 2))
  }

  test("z-order buckets are range-ids: wide-range and negative columns still prune") {
    // the r13 interleave used raw low bits (col % 1024): values past 1024
    // collided cyclically and negatives produced meaningless keys. The
    // range-bucket construction must bound hyper-rectangles at ANY range.
    val t = TxnTable.fresh(spark, dir("zorder_wide"))
    val rng = new scala.util.Random(11)
    val rows = Seq.fill(2000)(
      (rng.nextInt(100000).toLong - 50000L, rng.nextInt(8000000).toLong))
    t.append(rows.toDF("a", "b").repartition(4))
    t.compact(target = 4, zorderBy = Seq("a", "b"))
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(_.contains("/d-"))
    // content invariant, key dropped
    assert(t.read().columns.toSeq == Seq("a", "b"))
    assert(t.read().as[(Long, Long)].collect().toSeq.sorted == rows.sorted)
    // each dimension prunes on a quarter-range read — impossible under the
    // old low-bits key, where 5 and 1029 shared bucket bits
    assert(planned(t.readRange("a", -50000, -25000)) < 4, "a-range must prune")
    assert(planned(t.readRange("b", 0, 2000000)) < 4, "b-range must prune")
    assert(t.readRange("a", -50000, -25000).count() ==
      rows.count(r => r._1 >= -50000 && r._1 <= -25000))
    assert(t.readRange("b", 0, 2000000).count() ==
      rows.count(r => r._2 >= 0 && r._2 <= 2000000))
  }

  test("SQL RESTORE: parser-lowered rollback, EXPLAIN-inert, vacuumed target refuses, non-graft delegates") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.rst")
    sqlS.sql("CREATE TABLE graft.rst.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.rst.t VALUES (1, 10.0), (2, 20.0)") // v1
    sqlS.sql("INSERT OVERWRITE graft.rst.t VALUES (9, 90.0)")       // v2
    val nt = TxnTable.at(spark, Paths.get(dir("sqlcat"), "rst", "t").toString)
    // a command fires at RUN time only: parsing the statement (what
    // EXPLAIN and analysis do) must not execute the rollback. Parse under
    // the session, as session.sql's withActive does.
    org.apache.spark.sql.SparkSession.setActiveSession(sqlS)
    try sqlS.sessionState.sqlParser
      .parsePlan("RESTORE TABLE graft.rst.t TO VERSION AS OF 1")
    finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(nt.currentVersion == 2L, "parsing RESTORE must be inert")
    val v = sqlS.sql("RESTORE TABLE graft.rst.t TO VERSION AS OF 1")
      .as[Long].head()
    assert(v == 3L)
    assert(sqlS.table("graft.rst.t").as[(Long, Double)].collect().toSet ==
      Set((1L, 10.0), (2L, 20.0)))
    // TIMESTAMP AS OF: resolve v2's commit time and restore to it
    val ts2 = nt.history().filter(col("version") === 2)
      .select("ts_millis").as[Long].head()
    val zone = java.time.ZoneId.of(
      sqlS.sessionState.conf.sessionLocalTimeZone)
    val tsStr = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(ts2), zone)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    sqlS.sql(s"RESTORE TABLE graft.rst.t TO TIMESTAMP AS OF '$tsStr'")
    assert(sqlS.table("graft.rst.t").as[(Long, Double)].collect().toSet ==
      Set((9L, 90.0)))
    // a restore whose files were vacuumed refuses with the named message
    sqlS.sql("VACUUM graft.rst.t KEEP 1 VERSIONS")
    val e = intercept[Exception](
      sqlS.sql("RESTORE TABLE graft.rst.t TO VERSION AS OF 3"))
    assert(e.getMessage.contains("vacuum"), e.getMessage)
    // a non-graft target falls through to Spark's parser (which has no
    // RESTORE grammar) — the extension never captures another catalog
    val pe = intercept[Exception](
      sqlS.sql("RESTORE TABLE some_other.tbl TO VERSION AS OF 1"))
    assert(!pe.getMessage.toLowerCase.contains("graft"), pe.getMessage)
  }

  test("graft_changes TVF: the feed in SQL; cdc-less commits in range refuse") {
    val t = TxnTable.fresh(spark, dir("sql_cdf"))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "q"))     // v0
    t.merge(Seq((2L, 40.0), (3L, 30.0)).toDF("k", "q"),
      Seq("k"), cdc = true)                                   // v1
    t.deleteWhere(col("q") > 35, cdc = true)                  // v2
    val feed = sqlS.sql(
      s"SELECT _change_type, _commit_version, k FROM graft_changes('${t.root}', 0) " +
        "ORDER BY _commit_version, _change_type, k")
    assert(feed.as[(String, Long, Long)].collect().toSeq == Seq(
      ("insert", 1L, 3L), ("update_postimage", 1L, 2L),
      ("update_preimage", 1L, 2L), ("delete", 2L, 2L)))
    // the 2-arg and 3-arg forms agree on a closed range
    assert(sqlS.sql(s"SELECT count(*) FROM graft_changes('${t.root}', 0, 1)")
      .as[Long].head() == 3L)
    // a cdc=false merge inside the range is unrecoverable — loud refusal
    t.merge(Seq((1L, 99.0)).toDF("k", "q"), Seq("k"))         // v3, no sidecar
    val e = intercept[Exception](
      sqlS.sql(s"SELECT * FROM graft_changes('${t.root}', 2)").collect())
    assert(e.getMessage.contains("cdc"), e.getMessage)
  }

  test("unsupported V2 write shapes refuse loudly instead of corrupting the plan") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.rw")
    sqlS.sql("CREATE TABLE graft.rw.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.rw.t VALUES (1, 10.0), (2, 20.0)")
    val e = intercept[UnsupportedOperationException](
      sqlS.sql("INSERT INTO graft.rw.t REPLACE WHERE k = 1 VALUES (1, 11.0)"))
    assert(e.getMessage.contains("REPLACE WHERE"), e.getMessage)
    // the refusal must not have half-applied anything
    assert(sqlS.table("graft.rw.t").count() == 2)
  }

  test("table functions bind the session that registered them, not the active one") {
    val rootA = dir("tvf_a"); val rootB = dir("tvf_b")
    for (r <- Seq(rootA, rootB)) {
      val p = Paths.get(r)
      if (Files.exists(p)) {
        val w = Files.walk(p)
        try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
        finally w.close()
      }
    }
    val ssA = graft.sources.GraftSql.session(spark, rootA)
    val ssB = graft.sources.GraftSql.session(spark, rootB)
    ssA.sql("CREATE NAMESPACE IF NOT EXISTS graft.tvf")
    ssA.sql("CREATE TABLE graft.tvf.t (k BIGINT) USING `graft-txn`")
    ssA.sql("INSERT INTO graft.tvf.t VALUES (1), (2)")
    // only catalog A holds the table; a builder captured by session A must
    // resolve through A even while B is the thread's active session
    val builder = graft.plans.GraftTableFunctions.historyFn(() => ssA)._3
    org.apache.spark.sql.SparkSession.setActiveSession(ssB)
    try {
      val plan = builder(Seq(
        org.apache.spark.sql.catalyst.expressions.Literal("graft.tvf.t")))
      assert(plan != null) // resolution through A's catalog succeeded
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    // and through SQL, each session sees its own catalog root
    assert(ssA.sql("SELECT count(*) FROM graft_history('graft.tvf.t')")
      .as[Long].head() == 2L) // create + append
    intercept[Exception](
      ssB.sql("SELECT * FROM graft_history('graft.tvf.t')").collect())
  }

  test("declared CLUSTER BY range-sorts every staged write (point reads prune)") {
    val t = TxnTable.fresh(spark, dir("clusterw"))
    t.append(Seq((0L, 0.0)).toDF("k", "q"))                  // v0: seed
    t.setProperties(Map("graft.clusterBy" -> "k"))           // v1
    t.append((1L to 400L).map(k => (k, k * 1.0)).toDF("k", "q")
      .repartition(4))                                       // v2: 4 files, range-sorted
    val total = t.read().inputFiles.length
    assert(total >= 5, s"fixture needs multiple files, got $total")
    // a fresh-append point read must plan a strict subset (the seed file
    // and three of the four clustered files prune on min/max)
    val planned = t.readRange("k", 390.0, 400.0).inputFiles.length
    assert(planned <= 2,
      s"point read planned $planned of $total files — write clustering not applied")
    assert(t.read().count() == 401) // layout only, content intact
    // merge defaults to the declared clustering too: post-merge point
    // reads still prune
    t.merge((50L to 60L).map(k => (k, -1.0)).toDF("k", "q"), Seq("k"))
    assert(t.readRange("k", 390.0, 400.0).inputFiles.length <= 2)
  }

  test("declared bloomBy prunes point lookups to a file subset at planning time") {
    val t = TxnTable.fresh(spark, dir("bloom"))
    t.append((1L to 50L).map(k => (k, s"u$k")).toDF("k", "tag")
      .repartition(1))                                   // v0: pre-bloom file
    t.setProperties(Map("graft.bloomBy" -> "tag"))       // v1
    t.append((51L to 450L).map(k => (k, s"u$k")).toDF("k", "tag")
      .repartition(4))                                   // v2: 4 bloomed files
    assert(t.read().inputFiles.length == 5)
    // a hit plans the pre-bloom file (no bloom = keep) + the one bloomed
    // file that holds the key (modulo ~1% deterministic false positives)
    val hit = t.readWhereEq("tag", "u400")
    assert(hit.inputFiles.length <= 3,
      s"hit planned ${hit.inputFiles.length} of 5 files")
    assert(hit.as[(Long, String)].collect().toSeq == Seq((400L, "u400")))
    // an absent key is PROVEN absent from every bloomed file
    val miss = t.readWhereEq("tag", "nope")
    assert(miss.inputFiles.length <= 2,
      s"miss planned ${miss.inputFiles.length} — blooms unused?")
    assert(miss.count() == 0)
    // equivalence law: bloom skipping never changes content
    assert(t.readWhereEq("tag", "u10").collect().toSeq ==
      t.read().filter(col("tag") === "u10").collect().toSeq)
    // numeric keys compose the min/max prune with the bloom probe
    t.setProperties(Map("graft.bloomBy" -> "tag,k"))
    t.append((451L to 460L).map(k => (k, s"u$k")).toDF("k", "tag"))
    val num = t.readWhereEq("k", 455L)
    assert(num.as[(Long, String)].collect().toSeq == Seq((455L, "u455")))
  }

  test("table properties survive checkpoints; SET/UNSET through SQL TBLPROPERTIES") {
    val root = dir("props_ckpt")
    val t = TxnTable.fresh(spark, root, checkpointInterval = 2)
    t.append(Seq((1L, 1.0)).toDF("k", "q"))                  // v0
    t.setProperties(Map("graft.clusterBy" -> "k"))           // v1
    t.append(Seq((2L, 2.0)).toDF("k", "q"))                  // v2 → checkpoint
    t.append(Seq((3L, 3.0)).toDF("k", "q"))                  // v3
    // a FRESH handle resolves props THROUGH the checkpoint (the props
    // commit at v1 sits before it — a fold that skips checkpoint props
    // would lose the declaration)
    val t2 = TxnTable.at(spark, root, checkpointInterval = 2)
    assert(t2.properties == Map("graft.clusterBy" -> "k"))
    t2.setProperties(Map.empty, unset = Seq("graft.clusterBy"))
    assert(t2.properties.isEmpty)
    // the SQL surface: CREATE ... TBLPROPERTIES declares it, ALTER
    // SET/UNSET moves it, SHOW TBLPROPERTIES reads it back
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.cl")
    sqlS.sql("CREATE TABLE graft.cl.t (k BIGINT, q DOUBLE) USING `graft-txn` " +
      "TBLPROPERTIES ('graft.clusterBy'='k')")
    def prop(): Map[String, String] =
      sqlS.sql("SHOW TBLPROPERTIES graft.cl.t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(prop().get("graft.clusterBy").contains("k"))
    sqlS.sql("ALTER TABLE graft.cl.t SET TBLPROPERTIES ('graft.clusterBy'='q')")
    assert(prop().get("graft.clusterBy").contains("q"))
    sqlS.sql("ALTER TABLE graft.cl.t UNSET TBLPROPERTIES ('graft.clusterBy')")
    assert(!prop().contains("graft.clusterBy"))
    // the first-class DDL clause lowers onto the same property
    sqlS.sql("CREATE TABLE graft.cl.t2 (k BIGINT, q DOUBLE) USING `graft-txn` " +
      "CLUSTER BY (k, q)")
    def prop2(): Map[String, String] =
      sqlS.sql("SHOW TBLPROPERTIES graft.cl.t2").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(prop2().get("graft.clusterBy").contains("k,q"), prop2().toString)
    sqlS.sql("ALTER TABLE graft.cl.t2 CLUSTER BY (q)")
    assert(prop2().get("graft.clusterBy").contains("q"))
    sqlS.sql("ALTER TABLE graft.cl.t2 CLUSTER BY NONE")
    assert(!prop2().contains("graft.clusterBy"))
    // hive-style partitioning stays rejected
    val e = intercept[Exception](sqlS.sql(
      "CREATE TABLE graft.cl.t3 (k BIGINT) USING `graft-txn` PARTITIONED BY (k)"))
    assert(e.getMessage.contains("unpartitioned"), e.getMessage)
  }

  test("merge auto-evolves an additive source column; retype still rejected") {
    val t = TxnTable.fresh(spark, dir("mergevo"))
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "q"))
    // additive column in the update batch: schema evolves in the SAME
    // merge commit; the untouched pre-evolution file reads tag as NULL
    t.merge(Seq((2L, 25.0, "x"), (3L, 30.0, "y")).toDF("k", "q", "tag"),
      Seq("k"))
    val rows = t.read().orderBy("k")
      .collect().map(r => (r.getLong(0), r.getDouble(1),
        if (r.isNullAt(2)) null else r.getString(2)))
    // k=1 shares its staged file with matched k=2, so the merge rewrites
    // it — its tag must be NULL through the rewrite (unionByName
    // backfill), pinned above alongside the genuinely-new column values
    assert(rows.toSeq == Seq((1L, 10.0, null), (2L, 25.0, "x"),
      (3L, 30.0, "y")), rows.toSeq.toString)
    val e = intercept[Exception](
      t.merge(Seq((4L, "not-a-double")).toDF("k", "q"), Seq("k")))
    assert(e.getMessage.contains("retype"), e.getMessage)
  }

  test("merge-on-read UPDATE equals copy-on-write: no file moves, one atomic commit") {
    import org.apache.spark.sql.functions.lit
    def build(name: String): TxnTable = {
      val t = TxnTable.fresh(spark, dir(name))
      t.append((1L to 300L).map(k => (k, k * 1.0)).toDF("k", "q")
        .repartition(3))
      t
    }
    val cow = build("upd_cow"); val mor = build("upd_mor")
    cow.update(Map("q" -> (col("q") * 10)), col("k") % 100 === 7)
    val before = mor.read().inputFiles.toSet
    mor.update(Map("q" -> (col("q") * 10)), col("k") % 100 === 7, dv = true)
    val after = mor.read().inputFiles.toSet
    // snapshot equivalence between the two physical modes
    assert(mor.read().as[(Long, Double)].collect().toSet ==
      cow.read().as[(Long, Double)].collect().toSet)
    // MOR moved no live file: the original files all survive, plus the
    // staged post-image files
    assert(before.subsetOf(after), "merge-on-read update must not rewrite files")
    assert((after -- before).nonEmpty, "post-image files must be staged")
    // exactly one commit — no read can see old+new images together — and
    // the updated rows appear exactly once
    assert(mor.currentVersion == 1L)
    assert(mor.read().filter(col("k") === 7L).as[(Long, Double)]
      .collect().toSeq == Seq((7L, 70.0)))
    assert(mor.read().count() == 300)
    // tableStats stays DV-exact through the update
    assert(mor.tableStats().rowCount == 300)
    // compact materializes: the DV's files drop out, content unchanged
    mor.compact(target = 1)
    assert(mor.read().as[(Long, Double)].collect().toSet ==
      cow.read().as[(Long, Double)].collect().toSet)
    // a no-match MOR update commits nothing
    assert(mor.update(Map("q" -> lit(0.0)), col("k") > 99999L, dv = true) ==
      mor.currentVersion)
  }

  test("zero-copy clone: independent divergence, no data bytes moved, DVs apply") {
    val src = TxnTable.fresh(spark, dir("clone_src"))
    src.append((1L to 200L).map(k => (k, k * 2.0)).toDF("k", "q")
      .repartition(3))                                         // v0
    src.setProperties(Map("graft.clusterBy" -> "k"))           // v1
    src.addConstraint("k_pos", "k > 0")                        // v2
    src.deleteWhere(col("k") > 190, dv = true)                 // v3: MOR debt
    val preClone = src.read().as[(Long, Double)].collect().toSet
    // wipe any prior run's clone dir (fresh() semantics, by hand)
    val dstRoot = dir("clone_dst")
    val p = Paths.get(dstRoot)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    val dst = src.cloneTo(dstRoot)
    // content identical, including the DV anti-join
    assert(dst.read().as[(Long, Double)].collect().toSet == preClone)
    // zero data bytes moved: every cloned data file is a HARD LINK of the
    // source's (same inode ⇒ link count 2)
    val linked = dst.read().inputFiles.map(f =>
      Files.getAttribute(Paths.get(f.stripPrefix("file:")), "unix:nlink")
        .asInstanceOf[Number].intValue())
    assert(linked.nonEmpty && linked.forall(_ >= 2),
      s"expected hard links, got link counts ${linked.toSeq}")
    // metadata carried over: properties, constraints (enforced!), stats
    assert(dst.properties.get("graft.clusterBy").contains("k"))
    // write-time enforcement travels with the clone (in-task reject)
    val ce = intercept[Exception](dst.append(Seq((-1L, 0.0)).toDF("k", "q")))
    assert(Iterator.iterate(ce: Throwable)(_.getCause).takeWhile(_ != null)
      .map(_.getMessage).mkString(" | ").contains("k_pos"))
    assert(dst.tableStats().rowCount == preClone.size)
    // divergence is independent in BOTH directions
    dst.append(Seq((1000L, 1.0)).toDF("k", "q"))
    src.deleteWhere(col("k") <= 100)
    assert(src.read().count() == 90) // 101..190
    assert(dst.read().count() == preClone.size + 1)
    // source vacuum cannot break the clone (links, not path references)
    src.overwrite(Seq((5L, 0.0)).toDF("k", "q"))
    src.vacuum(retainVersions = 1)
    assert(dst.read().as[(Long, Double)].collect().toSet ==
      preClone + ((1000L, 1.0)))
    // refuses to clobber an existing table
    intercept[IllegalArgumentException](src.cloneTo(dstRoot))
  }

  test("tableStats is metadata-exact across append/merge/DV-delete history") {
    val t = TxnTable.fresh(spark, dir("tstats"))
    t.append((1L to 400L).map(k => (k, k * 2.0)).toDF("k", "q")
      .repartition(3))                                        // v0
    t.append((401L to 500L).map(k => (k, k * 2.0)).toDF("k", "q")) // v1
    t.merge((450L to 520L).map(k => (k, -1.0)).toDF("k", "q"), Seq("k")) // v2
    t.deleteWhere(col("k") <= 10, dv = true)                  // v3: MOR
    val st = t.tableStats()
    assert(st.rowCount == t.read().count(),
      s"stats rowCount ${st.rowCount} != actual ${t.read().count()}")
    assert(st.sizeInBytes > 0 && st.nFiles > 0)
    // min/max are BOUNDS (exact modulo DV deletes, which can only narrow)
    val (lo, hi) = st.colMinMax("k")
    assert(lo <= BigDecimal(1) && hi >= BigDecimal(520),
      s"k bounds [$lo, $hi] do not cover the data")
    // no DVs: stats are exact again after the next rewrite materializes them
    t.compact(target = 2)
    val st2 = t.tableStats()
    assert(st2.rowCount == t.read().count())
    assert(st2.colMinMax("k") == ((BigDecimal(11), BigDecimal(520))),
      s"post-compact bounds ${st2.colMinMax("k")}")
  }

  test("snapshot reads carry log statistics to the optimizer (CBO rowCount)") {
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val t = TxnTable.fresh(spark, dir("cbostats"))
    t.append((1L to 300L).map(k => (k, s"v$k")).toDF("k", "v"))
    t.deleteWhere(col("k") > 250) // copy-on-write: post-DML truth is 250
    val df = t.read()
    val leafStats = df.queryExecution.optimizedPlan.collectFirst {
      case lr: LogicalRelation => lr.catalogTable.flatMap(_.stats)
    }.flatten.getOrElse(fail("no CatalogTable stats on the scan leaf"))
    assert(leafStats.rowCount.contains(BigInt(250)), s"leaf $leafStats")
    assert(leafStats.colStats.nonEmpty, "no column stats on the leaf")
    // with plan-stats enabled, the OPTIMIZER's estimate is the log truth
    val ps = "spark.sql.cbo.planStats.enabled"
    val prev = spark.conf.getOption(ps)
    spark.conf.set(ps, "true")
    try {
      val est = t.read().queryExecution.optimizedPlan.stats
      assert(est.rowCount.contains(BigInt(250)),
        s"optimizer estimate $est does not carry the log rowCount")
    } finally prev.fold(spark.conf.unset(ps))(spark.conf.set(ps, _))
  }

  test("ANALYZE TABLE on a graft table is metadata-only and EXPLAIN-inert") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.an")
    sqlS.sql("CREATE TABLE graft.an.t (k BIGINT, q DOUBLE) USING `graft-txn`")
    sqlS.sql("INSERT INTO graft.an.t SELECT id, id * 1.5 FROM range(100)")
    sqlS.sql("DELETE FROM graft.an.t WHERE k >= 80")
    val r = sqlS.sql("ANALYZE TABLE graft.an.t COMPUTE STATISTICS").head()
    assert(r.getLong(0) == 80L, s"row_count ${r.getLong(0)}")
    assert(r.getLong(1) > 0L && r.getInt(2) > 0)
    // DESCRIBE DETAIL: the one-row operational summary off the same stats
    sqlS.sql("ALTER TABLE graft.an.t SET TBLPROPERTIES ('graft.clusterBy'='k')")
    val dd = sqlS.sql("DESCRIBE DETAIL graft.an.t").head()
    assert(dd.getString(0) == "graft-txn")
    assert(dd.getLong(3) == 80L, s"detail row_count ${dd.getLong(3)}")
    assert(dd.getString(6) == "k", s"cluster_by ${dd.getString(6)}")
    assert(dd.getInt(9) >= 1 && dd.getInt(10) >= 1)
    // EXPLAIN must not run the command (commands are execution-time)
    sqlS.sql("EXPLAIN ANALYZE TABLE graft.an.t COMPUTE STATISTICS").collect()
    // a non-graft ANALYZE still delegates to Spark's parser
    spark.sql("CREATE TABLE IF NOT EXISTS an_plain USING parquet AS SELECT 1 AS x")
    try spark.sql("ANALYZE TABLE an_plain COMPUTE STATISTICS").collect()
    finally spark.sql("DROP TABLE IF EXISTS an_plain")
  }

  test("plain SQL WHERE plans only the stats-surviving files (file skipping through the rule)") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.sp")
    sqlS.sql("CREATE TABLE graft.sp.t (k BIGINT, v BIGINT) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.sp.t", sqlS)
    val t = TxnTable.at(sqlS, root)
    val rng = new scala.util.Random(13)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    // content law first: pruning is invisible in rows
    val q = sqlS.sql("SELECT k, v FROM graft.sp.t WHERE k BETWEEN 110 AND 130")
    assert(q.as[(Long, Long)].collect().toSet ==
      t.read().filter(col("k") >= 110 && col("k") <= 130)
        .as[(Long, Long)].collect().toSet)
    // the planned-file pins: the typed WHERE plans the SAME 1-of-4 subset
    // as the native readRange; the unfiltered read still plans all 4
    assert(q.inputFiles.count(_.contains("/d-")) == 1,
      s"SQL range planned ${q.inputFiles.count(_.contains("/d-"))} of 4")
    assert(t.readRange("k", 110, 130).inputFiles.count(_.contains("/d-")) == 1)
    assert(sqlS.sql("SELECT k FROM graft.sp.t")
      .inputFiles.count(_.contains("/d-")) == 4)
    // point EQ and a 2-value IN across two files
    assert(sqlS.sql("SELECT v FROM graft.sp.t WHERE k = 17")
      .inputFiles.count(_.contains("/d-")) == 1)
    assert(sqlS.sql("SELECT v FROM graft.sp.t WHERE k IN (17, 315)")
      .inputFiles.count(_.contains("/d-")) == 2)
    // one-sided ranges prune too (open bound keeps the edge files only)
    assert(sqlS.sql("SELECT v FROM graft.sp.t WHERE k >= 350")
      .inputFiles.count(_.contains("/d-")) == 1)
    // a conjunct the extractor can't read (expression over the column)
    // costs pruning, never rows — and the extractable conjunct still bites
    val mix = sqlS.sql(
      "SELECT v FROM graft.sp.t WHERE k BETWEEN 110 AND 130 AND k % 2 = 0")
    assert(mix.inputFiles.count(_.contains("/d-")) == 1)
    assert(mix.as[Long].collect().toSet ==
      (110L to 130L by 2).map(_ * 3).toSet)
    // time travel composes with the skipping: the pinned snapshot's WHERE
    // prunes by the SAME stats (4 clustered files live at the tip too)
    val tip = t.currentVersion
    assert(sqlS.sql(
        s"SELECT v FROM graft.sp.t VERSION AS OF $tip WHERE k = 17")
      .inputFiles.count(_.contains("/d-")) == 1)
  }

  test("plain SQL time-range WHERE plans the day's file (timestamp stats through the rule)") {
    // the dominant 100-TB scan shape: a day's query over a time-clustered
    // table must plan the day's files from a TYPED SQL statement, not
    // only from the native readRangeTime API
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.tsp")
    sqlS.sql("CREATE TABLE graft.tsp.t (ts TIMESTAMP, v BIGINT) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.tsp.t", sqlS)
    val t = TxnTable.at(sqlS, root)
    val rng = new scala.util.Random(31)
    val rows = for (day <- 1 to 4; m <- 0 until 100) yield
      (java.sql.Timestamp.valueOf(f"2024-01-0$day ${m / 60}%02d:${m % 60}%02d:00"),
        day * 1000L + m)
    rng.shuffle(rows.toList).grouped(100)
      .foreach(g => t.append(g.toDF("ts", "v")))
    t.compact(target = 4, clusterBy = Seq("ts"))
    // window strictly interior to day 2's quartile (range-partition
    // boundaries are sampled — same caution as the readRangeTime pin)
    val day2 = sqlS.sql("SELECT v FROM graft.tsp.t WHERE ts BETWEEN " +
      "TIMESTAMP '2024-01-02 00:25:00' AND TIMESTAMP '2024-01-02 01:14:00'")
    assert(day2.as[Long].collect().toSet ==
      (25 until 75).map(m => 2000L + m).toSet)
    assert(day2.inputFiles.count(_.contains("/d-")) == 1,
      s"day query planned ${day2.inputFiles.count(_.contains("/d-"))} of 4")
    assert(sqlS.sql("SELECT v FROM graft.tsp.t")
      .inputFiles.count(_.contains("/d-")) == 4)
  }

  test("time-function WHERE prunes files: year / CAST-to-date / date_trunc invert onto raw stats") {
    import java.sql.Timestamp
    // four SINGLE-FILE appends, one calendar day each across three years —
    // every planned-file pin below is exact, no range-partition sampling
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.tfn")
    sqlS.sql("CREATE TABLE graft.tfn.t (ts TIMESTAMP, v BIGINT) USING `graft-txn`")
    val t = TxnTable.at(sqlS, graft.plans.GraftTableFunctions.rootOf("graft.tfn.t", sqlS))
    val days = Seq("2023-12-31", "2024-01-02", "2024-06-15", "2025-01-01")
    days.zipWithIndex.foreach { case (day, di) =>
      val rows = (0 until 48).map(i => (
        Timestamp.valueOf(f"$day ${i / 2}%02d:${(i % 2) * 30}%02d:00"),
        di * 1000L + i))
      t.append(rows.toDF("ts", "v").repartition(1))
    }
    def q(where: String) = sqlS.sql(s"SELECT v FROM graft.tfn.t WHERE $where")
    def files(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.count(_.contains("/d-"))
    assert(files(sqlS.sql("SELECT v FROM graft.tfn.t")) == 4)
    def dayVals(di: Int) = (0 until 48).map(i => di * 1000L + i).toSet
    // CAST-to-date point: the day's file, exactly
    val castDay = q("CAST(ts AS DATE) = DATE '2024-01-02'")
    assert(files(castDay) == 1, s"cast-date planned ${files(castDay)} of 4")
    assert(castDay.as[Long].collect().toSet == dayVals(1))
    // year() equality spans the year's files only
    val y24 = q("year(ts) = 2024")
    assert(files(y24) == 2, s"year planned ${files(y24)} of 4")
    assert(y24.as[Long].collect().toSet == (dayVals(1) ++ dayVals(2)))
    // year comparison keeps the sound single bound
    assert(files(q("year(ts) <= 2023")) == 1)
    // to_date() analyzes to the same cast chain
    assert(files(q("to_date(ts) = DATE '2025-01-01'")) == 1)
    // date_trunc month point and day lower bound
    val mon = q("date_trunc('MONTH', ts) = TIMESTAMP '2024-06-01 00:00:00'")
    assert(files(mon) == 1, s"trunc-month planned ${files(mon)} of 4")
    assert(mon.as[Long].collect().toSet == dayVals(2))
    assert(files(q("date_trunc('DAY', ts) >= TIMESTAMP '2024-06-15 00:00:00'")) == 2)
    // a calendar IN-list prunes by the SPAN of its day intervals: the
    // two adjacent early days cover 2 files; a same-day pair covers 1
    val inn = q("CAST(ts AS DATE) IN (DATE '2023-12-31', DATE '2024-01-02')")
    assert(files(inn) == 2, s"calendar IN planned ${files(inn)} of 4")
    assert(inn.as[Long].collect().toSet == (dayVals(0) ++ dayVals(1)))
    // a DATE column takes the days-space inversions (year, trunc)
    sqlS.sql("CREATE TABLE graft.tfn.d (d DATE, v BIGINT) USING `graft-txn`")
    val td = TxnTable.at(sqlS, graft.plans.GraftTableFunctions.rootOf("graft.tfn.d", sqlS))
    Seq("2023", "2024").zipWithIndex.foreach { case (y, yi) =>
      val rows = (1 to 12).map(m =>
        (java.sql.Date.valueOf(f"$y-$m%02d-15"), yi * 100L + m))
      td.append(rows.toDF("d", "v").repartition(1))
    }
    val yd = sqlS.sql("SELECT v FROM graft.tfn.d WHERE year(d) = 2024")
    assert(yd.inputFiles.count(_.contains("/d-")) == 1)
    assert(yd.as[Long].collect().toSet == (1 to 12).map(100L + _).toSet)
    val md = sqlS.sql(
      "SELECT v FROM graft.tfn.d WHERE trunc(d, 'MONTH') = DATE '2024-03-01'")
    assert(md.inputFiles.count(_.contains("/d-")) == 1)
    assert(md.as[Long].collect().toSet == Set(103L))
  }

  test("time-function inversion is zone-correct: non-UTC session over a DST gap never loses rows") {
    // every other suite runs UTC; a session in America/New_York casting
    // across the 2024-03-10 spring-forward is where a zone bug in the
    // inversion (wrong offset, naive day arithmetic) would silently
    // UNDER-prune-bound and lose rows. Rows are built from INSTANTS
    // (zone-independent); the expected set is derived with java.time's
    // own rules — the same rules Spark and the inversion use.
    val saved = sqlS.conf.get("spark.sql.session.timeZone")
    try {
      sqlS.conf.set("spark.sql.session.timeZone", "America/New_York")
      sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.tz")
      sqlS.sql("CREATE TABLE graft.tz.t (ts TIMESTAMP, v BIGINT) USING `graft-txn`")
      val t = TxnTable.at(sqlS, graft.plans.GraftTableFunctions.rootOf("graft.tz.t", sqlS))
      val base = java.time.Instant.parse("2024-03-09T00:00:00Z")
      // one file per UTC day, hourly instants — the NY calendar day
      // 2024-03-10 straddles the UTC 03-10/03-11 file boundary
      (0 until 3).foreach { day =>
        val rows = (0 until 24).map { h =>
          val i = base.plusSeconds((day * 24 + h) * 3600L)
          (java.sql.Timestamp.from(i), day * 24L + h)
        }
        t.append(rows.toDF("ts", "v").repartition(1))
      }
      val ny = java.time.ZoneId.of("America/New_York")
      val expected = (0 until 72).filter { k =>
        base.plusSeconds(k * 3600L).atZone(ny).toLocalDate.toString ==
          "2024-03-10"
      }.map(_.toLong).toSet
      assert(expected.size == 23, s"DST day has 23 hours, got ${expected.size}")
      val day = sqlS.sql(
        "SELECT v FROM graft.tz.t WHERE CAST(ts AS DATE) = DATE '2024-03-10'")
      assert(day.as[Long].collect().toSet == expected,
        "zone-correct rows across the spring-forward gap")
      assert(day.inputFiles.count(_.contains("/d-")) == 2,
        s"NY day straddles two UTC files: planned ${day.inputFiles.count(_.contains("/d-"))} of 3")
    } finally sqlS.conf.set("spark.sql.session.timeZone", saved)
  }

  test("string file skipping: UTF8_BINARY stats bounds prune eq/range/IN/prefix on every surface") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.str")
    sqlS.sql("CREATE TABLE graft.str.t (s STRING, v BIGINT) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.str.t", sqlS)
    val t = TxnTable.at(sqlS, root)
    // four single-file appends with disjoint string ranges (a*, b*, c*,
    // d*) plus a fifth of MULTIBYTE keys (é sorts after ASCII in UTF-8
    // byte order — the collation the bounds are recorded in)
    (0 until 4).foreach { gi =>
      val rows = (0 until 26).map(j => (f"${('a' + gi).toChar}$j%02d", gi * 100L + j))
      t.append(rows.toDF("s", "v").repartition(1))
    }
    t.append((0 until 26).map(j => (f"é$j%02d", 400L + j))
      .toDF("s", "v").repartition(1))
    def files(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.count(_.contains("/d-"))
    def q(where: String) = sqlS.sql(s"SELECT v FROM graft.str.t WHERE $where")
    assert(files(sqlS.sql("SELECT v FROM graft.str.t")) == 5)
    // SQL point/range/IN — no bloom declared anywhere: stats alone prune
    val eq = q("s = 'c10'")
    assert(files(eq) == 1, s"eq planned ${files(eq)} of 5")
    assert(eq.as[Long].collect().toSeq == Seq(210L))
    assert(files(q("s BETWEEN 'b' AND 'b99'")) == 1)
    assert(files(q("s >= 'd' AND s < 'e'")) == 1)
    assert(files(q("s IN ('a05', 'd20')")) == 2)
    // multibyte point + lower bound (byte order, not char order, decides)
    val mb = q("s >= 'é'")
    assert(files(mb) == 1, s"é range planned ${files(mb)} of 5")
    assert(mb.as[Long].collect().toSet == (400L until 426L).toSet)
    // LIKE: pure prefix → the [prefix, prefix+1) range; no wildcards →
    // a point lookup; an interior wildcard extracts nothing (5 planned)
    assert(files(q("s LIKE 'b%'")) == 1)
    assert(files(q("s LIKE 'c10'")) == 1)
    assert(files(q("s LIKE '%10'")) == 5)
    val lk = q("s LIKE 'd1%'")
    assert(files(lk) == 1)
    assert(lk.as[Long].collect().toSet ==
      (310L until 320L).toSet, "LIKE rows exact")
    // native APIs ride the same bounds
    assert(t.readRangeStr("s", "b", "b99").inputFiles.count(_.contains("/d-")) == 1)
    assert(t.readRangeStr("s", "b", "b99").as[(String, Long)].collect()
      .map(_._2).toSet == (100L until 126L).toSet)
    assert(t.readWhereEq("s", "c10").inputFiles.count(_.contains("/d-")) == 1)
    // bridge (V1 pushed filters): prefix scan plans exactly the b file,
    // proven BEHAVIORALLY — bind the plans, delete the d file from
    // disk, and any execution that didn't prune it dies (the full scan
    // does); the filtered ones answer
    val bridge = sqlS.read.format("graft-txn").load(root)
    val prefix = bridge.filter(col("s").startsWith("b"))
    val below = bridge.filter(col("s") <= "a99")
    val dFile = t.readRangeStr("s", "d", "d99").inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(dFile.size == 1)
    Files.delete(Paths.get(java.net.URI.create(dFile.head)))
    assert(prefix.count() == 26L)
    assert(below.count() == 26L)
    intercept[Exception] { bridge.count() }
    // DML discovery composes: a string point DELETE never scans the
    // missing d file either
    t.deleteWhere(col("s") === "c10")
    assert(q("s >= 'c' AND s < 'd'").as[Long].collect().toSet ==
      ((200L until 226L).toSet - 210L))
  }

  test("OR predicates prune files: both-sides-extractable trees plan the union of their windows") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.orp")
    sqlS.sql("CREATE TABLE graft.orp.t (k BIGINT, v BIGINT) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.orp.t", sqlS)
    val t = TxnTable.at(sqlS, root)
    val rng = new scala.util.Random(43)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    def q(where: String) = sqlS.sql(s"SELECT k FROM graft.orp.t WHERE $where")
    def files(df: org.apache.spark.sql.DataFrame) =
      df.inputFiles.count(_.contains("/d-"))
    // two windows at opposite ends plan 2 of the 4 range-disjoint files
    // (interior windows so range-partition boundary sampling can't leak)
    val two = q("k BETWEEN 10 AND 30 OR k BETWEEN 310 AND 330")
    assert(files(two) == 2, s"two-window OR planned ${files(two)} of 4")
    assert(two.as[Long].collect().toSet ==
      ((10L to 30L) ++ (310L to 330L)).toSet)
    // a conjunction inside one arm still extracts; points compose too
    assert(files(q("(k > 310 AND k < 330) OR k = 15")) == 2)
    // one OPAQUE arm poisons the whole OR — everything planned, sound
    assert(files(q("k = 15 OR v % 7 = 0")) == 4)
    // NOT pushes through the tree: the complement of an interior
    // BETWEEN is the two-end OR
    val nb = q("NOT (k BETWEEN 30 AND 370)")
    assert(files(nb) == 2, s"NOT BETWEEN planned ${files(nb)} of 4")
    assert(nb.as[Long].collect().toSet ==
      ((0L to 29L) ++ (371L to 399L)).toSet)
    // null-safe equality skips like equality
    assert(files(q("k <=> 17")) == 1)
    // bind the bridge BEFORE the disk surgery (relation construction
    // resolves every live file) — the load pins its snapshot, so the
    // disjunction below counts the PRE-delete content
    val bridge = sqlS.read.format("graft-txn").load(root)
    val disj = bridge.filter(col("k") < 20L || col("k") > 380L)
    // DML discovery rides the same tree: a two-point OR delete never
    // scans the file deleted from disk below
    val mid = t.readRange("k", 150, 250).inputFiles
      .filter(_.contains("/d-")).toSeq
    assert(mid.size >= 1)
    Files.delete(Paths.get(java.net.URI.create(mid.head)))
    t.deleteWhere(col("k") === 15L || col("k") === 315L)
    assert(q("k BETWEEN 10 AND 30 OR k BETWEEN 310 AND 330")
      .as[Long].collect().toSet ==
      ((10L to 30L) ++ (310L to 330L)).toSet -- Set(15L, 315L))
    // V1 bridge: the pushed disjunction prunes at file level — the
    // pinned pre-delete snapshot still lists the missing middle file as
    // live, so any plan that didn't prune it dies; 20 + 19 rows answer
    assert(disj.count() == 20L + 19L)
  }

  test("OPTIMIZE ... WHERE scopes compaction to the predicate's files") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.ow")
    sqlS.sql("CREATE TABLE graft.ow.t (k BIGINT, v BIGINT) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.ow.t", sqlS)
    val t = TxnTable.at(sqlS, root)
    // eight small single-file appends: four in a LOW key range, four in
    // a HIGH one — the "compact today's ingest, not the table" shape
    (0 until 4).foreach(g => t.append(
      ((g * 100L) until (g * 100L + 50L)).map(k => (k, k)).toDF("k", "v")
        .repartition(1)))
    (0 until 4).foreach(g => t.append(
      ((1000L + g * 100L) until (1000L + g * 100L + 50L))
        .map(k => (k, k)).toDF("k", "v").repartition(1)))
    val before = t.read().as[(Long, Long)].collect().toSet
    assert(t.read().inputFiles.count(_.contains("/d-")) == 8)
    sqlS.sql("OPTIMIZE graft.ow.t TARGET 1000 ROWS WHERE k >= 1000")
    // only the four high-range files compacted into one; low untouched
    assert(t.read().inputFiles.count(_.contains("/d-")) == 5,
      s"live files: ${t.read().inputFiles.count(_.contains("/d-"))}")
    val h = t.history().orderBy(col("version").desc).limit(1)
      .select("n_removed_files").as[Long].head()
    assert(h == 4L, s"scoped OPTIMIZE removed $h files")
    assert(t.read().as[(Long, Long)].collect().toSet == before,
      "compaction is content-invisible")
    // a predicate admitting <2 candidates is a metadata no-op
    val vTip = t.currentVersion
    sqlS.sql("OPTIMIZE graft.ow.t TARGET 1000 ROWS WHERE k > 99999")
    assert(t.currentVersion == vTip)
  }

  test("COUNT(*) answers from the commit log — survives every data file deleted from disk") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.cnm")
    sqlS.sql("CREATE TABLE graft.cnm.t (k BIGINT, v DOUBLE) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.cnm.t", sqlS)
    val t = TxnTable.at(sqlS, root)
    t.append((0L until 100L).map(k => (k, k.toDouble)).toDF("k", "v"))
    t.append(Seq((100L, Option.empty[Double]), (101L, Some(1.0d)))
      .toDF("k", "v"))                                  // one NULL v
    // MOR update (DVs + staged post-images, net zero) and a DV delete
    t.update(Map("v" -> (col("v") + 1.0d)), col("k") < 10L, dv = true)
    t.deleteWhere(col("k") >= 90L && col("k") <= 99L, dv = true)
    val vAfter = t.currentVersion
    def cnt(sql: String) = sqlS.sql(sql).head().getLong(0)
    assert(cnt("SELECT count(*) FROM graft.cnm.t") == 92L)
    // null-sensitive and filtered counts must NOT be metadata-answered
    assert(cnt("SELECT count(v) FROM graft.cnm.t") == 91L)
    assert(cnt("SELECT count(*) FROM graft.cnm.t WHERE k >= 0") == 92L)
    // wipe every DATA file (DV sidecars and the log stay): the global
    // count(*) must keep answering — the proof it never opens data
    import scala.jdk.CollectionConverters._
    val w = Files.walk(Paths.get(root))
    val dataFiles =
      try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getParent.getFileName.toString.startsWith("d-")).toList
      finally w.close()
    assert(dataFiles.nonEmpty)
    dataFiles.foreach(Files.delete)
    assert(cnt("SELECT count(*) FROM graft.cnm.t") == 92L)
    assert(cnt(s"SELECT count(*) FROM graft.cnm.t VERSION AS OF $vAfter") == 92L)
    assert(cnt("SELECT count(*) AS a FROM graft.cnm.t") +
      cnt("SELECT count(1) FROM graft.cnm.t") == 184L)
  }

  test("MIN/MAX answer from commit-log stats — DV-free, complete-stats, exact-type columns only") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.mmx")
    sqlS.sql("CREATE TABLE graft.mmx.t (k BIGINT, d DATE, s STRING) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.mmx.t", sqlS)
    val t = TxnTable.at(sqlS, root)
    val rng = new scala.util.Random(41)
    rng.shuffle((0L until 100L).toList).grouped(50).foreach { g =>
      t.append(g.map(k => (k,
        java.sql.Date.valueOf(f"2024-01-${k % 28 + 1}%02d"), s"x$k"))
        .toDF("k", "d", "s"))
    }
    val mmSql = "SELECT min(k) AS a, max(k) AS b, min(d) AS c, " +
      "max(d) AS e, count(*) AS n FROM graft.mmx.t"
    def mm() = {
      val r = sqlS.sql(mmSql).head()
      (r.getLong(0), r.getLong(1), r.getDate(2).toString,
        r.getDate(3).toString, r.getLong(4))
    }
    val expected = (0L, 99L, "2024-01-01", "2024-01-28", 100L)
    assert(mm() == expected)
    // a STRING extreme is excluded from the fast path (truncated stats)
    // — it scans, and answers correctly while the files exist
    assert(sqlS.sql("SELECT min(s) FROM graft.mmx.t").head().getString(0) == "x0")
    // wipe the data files: the typed extremes and the count keep
    // answering (pure metadata), the string extreme now HAS to fail —
    // proof the fast path answered the former and refused the latter
    import scala.jdk.CollectionConverters._
    val w = Files.walk(Paths.get(root))
    try w.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getParent.getFileName.toString.startsWith("d-")).toList.foreach(Files.delete)
    finally w.close()
    assert(mm() == expected)
    intercept[Exception] {
      sqlS.sql("SELECT min(s) FROM graft.mmx.t").collect()
    }
    // DV gate: one deletion vector and extremes refuse the metadata
    // answer (a DV can delete the extreme row) while count stays exact
    sqlS.sql("CREATE TABLE graft.mmx.dv (k BIGINT) USING `graft-txn`")
    val rootDv = graft.plans.GraftTableFunctions.rootOf("graft.mmx.dv", sqlS)
    val tdv = TxnTable.at(sqlS, rootDv)
    tdv.append((0L until 10L).toDF("k"))
    tdv.deleteWhere(col("k") === 9L, dv = true)
    assert(sqlS.sql("SELECT max(k) FROM graft.mmx.dv").head().getLong(0) == 8L)
    val w2 = Files.walk(Paths.get(rootDv))
    try w2.iterator().asScala.filter(p => Files.isRegularFile(p) &&
      p.getParent.getFileName.toString.startsWith("d-")).toList.foreach(Files.delete)
    finally w2.close()
    assert(sqlS.sql("SELECT count(*) FROM graft.mmx.dv").head().getLong(0) == 9L)
    intercept[Exception] { // max must SCAN under a DV — and so it fails
      sqlS.sql("SELECT max(k) FROM graft.mmx.dv").collect()
    }
  }

  test("graft-txn format bridge prunes files from pushed filters (proof by deleting a pruned file)") {
    val t = TxnTable.fresh(spark, dir("bridge_prune"))
    (0L until 4L).foreach(i =>
      t.append(((i * 100L) until (i * 100L + 100L)).map(k => (k, k * 3))
        .toDF("k", "v")))
    // each append is one key-disjoint file; range filter must plan 1
    val full = spark.read.format("graft-txn").load(t.root)
    val want = (110L to 130L).map(k => (k, k * 3)).toSet
    val ranged = full.filter(col("k") >= 110 && col("k") <= 130)
    assert(ranged.as[(Long, Long)].collect().toSet == want)
    // behavioral proof the V1 bridge prunes at FILE level: delete a file
    // the range excludes from DISK (after both plans are bound) — the
    // pruned execution still answers, the full scan fails at execution
    // (it genuinely needs the file)
    // an IN list and a string prefix prune the same way
    val inList = full.filter(col("k").isin(110L, 250L))
    val wantIn = Set((110L, 330L), (250L, 750L))
    assert(inList.as[(Long, Long)].collect().toSet == wantIn)
    val s = TxnTable.fresh(spark, dir("bridge_prune_str"))
    Seq("a", "b", "c", "d").foreach(p =>
      s.append((0 until 50).map(i => (f"$p$i%02d", i)).toDF("s", "n")))
    val fullS = spark.read.format("graft-txn").load(s.root)
    val prefixed = fullS.filter(col("s").startsWith("b1"))
    val wantS = (10 until 20).map(i => (s"b$i", i)).toSet
    assert(prefixed.as[(String, Int)].collect().toSet == wantS)
    val victim = Paths.get(java.net.URI.create(
      t.readRange("k", 300, 399).inputFiles.filter(_.contains("/d-")).head))
    Files.delete(victim)
    assert(ranged.as[(Long, Long)].collect().toSet == want)
    assert(inList.as[(Long, Long)].collect().toSet == wantIn)
    intercept[Exception] { full.count() }
    Files.delete(Paths.get(java.net.URI.create(
      s.readRangeStr("s", "d", "d~").inputFiles.filter(_.contains("/d-")).head)))
    assert(prefixed.as[(String, Int)].collect().toSet == wantS)
    intercept[Exception] { fullS.count() }
  }

  test("readWhereIn composes stats + bloom skipping per value") {
    val t = TxnTable.fresh(spark, dir("where_in"))
    val rng = new scala.util.Random(17)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
    t.compact(target = 4, clusterBy = Seq("k"))
    // two values in two different clustered files → 2 of 4 planned
    val in2 = t.readWhereIn("k", Seq(17L, 315L))
    assert(in2.as[(Long, Long)].collect().toSet == Set((17L, 51L), (315L, 945L)))
    assert(in2.inputFiles.count(_.contains("/d-")) == 2,
      s"planned ${in2.inputFiles.count(_.contains("/d-"))} of 4")
    // both values in ONE file → 1 of 4
    assert(t.readWhereIn("k", Seq(110L, 130L))
      .inputFiles.count(_.contains("/d-")) == 1)
    // empty list: zero files planned, empty result
    assert(t.readWhereIn("k", Nil).inputFiles.isEmpty)
    assert(t.readWhereIn("k", Nil).count() == 0)
    // bloom composition on an unclustered string key
    val b = TxnTable.fresh(spark, dir("where_in_bloom"))
    b.append((0L until 200L).map(k => (k, s"u$k")).toDF("k", "tag")
      .repartition(1))
    b.setProperties(Map("graft.bloomBy" -> "tag"))
    b.append((200L until 600L).map(k => (k, s"u$k")).toDF("k", "tag")
      .repartition(4))
    val hit = b.readWhereIn("tag", Seq("u250", "u455"))
    assert(hit.as[(Long, String)].collect().toSet ==
      Set((250L, "u250"), (455L, "u455")))
    // pre-bloom file always kept; the 4 bloomed files prune to the ≤2
    // that may hold the probes (plus rare false positives)
    assert(hit.inputFiles.length <= 4,
      s"IN probe planned ${hit.inputFiles.length} of 5 files")
    val miss = b.readWhereIn("tag", Seq("nope1", "nope2"))
    assert(miss.count() == 0)
    assert(miss.inputFiles.length <= 2,
      s"miss planned ${miss.inputFiles.length} — blooms unused?")
  }

  test("disjoint concurrent merges reconcile: both commit, exactly one staging each") {
    val t = TxnTable.fresh(spark, dir("reconcile"))
    t.append((0L until 100L).map(k => (k, k)).toDF("k", "v"))   // v0
    t.compact(target = 2, clusterBy = Seq("k"))                 // v1: [0..49], [50..99]
    def stagedDirs(): Int = {
      val s = Files.list(Paths.get(t.root))
      try s.iterator().asScala.count(_.getFileName.toString.startsWith("d-"))
      finally s.close()
    }
    val before = stagedDirs()
    val updatesB = Seq((60L, -60L), (80L, -80L)).toDF("k", "v")
    var fired = false
    t.onBeforePublish = () => if (!fired) {
      fired = true
      t.merge(updatesB, Seq("k"))  // lands FIRST, in A's stage→publish window
    }
    try {
      val vA = t.merge(Seq((5L, -5L), (20L, -20L)).toDF("k", "v"), Seq("k"))
      // A staged before B committed, lost the v2 slot, re-validated
      // (disjoint files AND key ranges) and re-published at v3
      assert(vA == 3L, s"merge A landed at v$vA")
    } finally t.onBeforePublish = () => ()
    // exactly ONE staging per merge — a re-run would have left a third dir
    assert(stagedDirs() - before == 2,
      s"stagings: ${stagedDirs() - before} (re-stage on reconcile?)")
    // content ≡ serial replay of both merges
    val want = (0L until 100L).map(k => (k, k)).toMap ++
      Map(5L -> -5L, 20L -> -20L, 60L -> -60L, 80L -> -80L)
    assert(t.read().as[(Long, Long)].collect().toMap == want)
    // a genuinely OVERLAPPING pair (same touched file) still serializes
    var fired2 = false
    t.onBeforePublish = () => if (!fired2) {
      fired2 = true
      t.merge(Seq((62L, 1L)).toDF("k", "v"), Seq("k"))
    }
    try {
      val e = intercept[IllegalStateException] {
        t.merge(Seq((63L, 2L)).toDF("k", "v"), Seq("k"))
      }
      assert(e.getMessage.contains("re-run"), e.getMessage)
    } finally t.onBeforePublish = () => ()
  }

  test("GENERATED ALWAYS AS: computed on write, rejected on direct write, recomputed on DML") {
    val t = TxnTable.fresh(spark, dir("generated"))
    t.append(Seq((1L, 10L)).toDF("k", "v"))                        // v0
    t.addGeneratedColumn("v2", org.apache.spark.sql.types.LongType,
      "v * 2")                                                     // v1
    t.append(Seq((2L, 20L)).toDF("k", "v"))                        // v2
    def rows(): Set[(Long, Long, Option[Long])] =
      t.read().as[(Long, Long, Option[Long])].collect().toSet
    // pre-declaration row reads NULL; post-declaration row computed
    assert(rows() == Set((1L, 10L, None), (2L, 20L, Some(40L))))
    // the direct-write gate, on every DML surface
    intercept[IllegalArgumentException] {
      t.append(Seq((3L, 30L, 0L)).toDF("k", "v", "v2"))
    }
    intercept[IllegalArgumentException] {
      t.merge(Seq((3L, 30L, 0L)).toDF("k", "v", "v2"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      t.update(Map("v2" -> lit(0L)), col("k") === 1L)
    }
    intercept[IllegalArgumentException] {
      t.overwrite(Seq((3L, 30L, 0L)).toDF("k", "v", "v2"))
    }
    // UPDATE recomputes from the post-assignment row
    t.update(Map("v" -> (col("v") + 1)), col("k") === 2L)
    assert(rows() == Set((1L, 10L, None), (2L, 21L, Some(42L))))
    // MERGE computes on its update/insert side
    t.merge(Seq((1L, 100L), (9L, 900L)).toDF("k", "v"), Seq("k"))
    assert(rows() == Set((1L, 100L, Some(200L)), (2L, 21L, Some(42L)),
      (9L, 900L, Some(1800L))))
    // the declaration survives a checkpointed reopen and a clone
    val cloneDst = dir("generated_clone") + "_c"
    val cdp = Paths.get(cloneDst)
    if (Files.exists(cdp)) {
      val w = Files.walk(cdp)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    val c = t.cloneTo(cloneDst)
    c.append(Seq((4L, 40L)).toDF("k", "v"))
    assert(c.read().as[(Long, Long, Option[Long])].collect().toSet
      .contains((4L, 40L, Some(80L))))
  }

  test("COPY INTO reports loaded/skipped and resumes after partial ingest") {
    val srcDir = dir("copy_src_spec")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(srcDir)
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val t = TxnTable.fresh(spark, dir("copy_into_spec"))
    t.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))))
    val r1 = sqlS.sql(s"COPY INTO '${t.root}' FROM '$srcDir'").head()
    assert((r1.getInt(0), r1.getInt(1), r1.getLong(2)) == ((2, 0, 2L)))
    // the replay: all files skipped as log-metadata no-ops
    val r2 = sqlS.sql(s"COPY INTO '${t.root}' FROM '$srcDir'").head()
    assert((r2.getInt(0), r2.getInt(1), r2.getLong(2)) == ((0, 2, 0L)))
    // a NEW file arriving later ingests alone (the resume shape)
    Seq((3L, "c")).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(srcDir)
    val r3 = sqlS.sql(s"COPY INTO '${t.root}' FROM '$srcDir'").head()
    assert((r3.getInt(0), r3.getInt(1)) == ((1, 2)))
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("COPY INTO: modified path never re-ingests implicitly, FORCE does, walk recurses") {
    import java.nio.file.StandardCopyOption
    val srcDir = dir("copy_force_src")
    Seq((1L, "a")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(srcDir)
    // nested partition-style layout — must be picked up by the walk
    Seq((2L, "b")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(s"$srcDir/dt=d1")
    val t = TxnTable.fresh(spark, dir("copy_force"))
    t.create(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType))))
    val r1 = sqlS.sql(s"COPY INTO '${t.root}' FROM '$srcDir'").head()
    assert((r1.getInt(0), r1.getInt(1), r1.getLong(2)) == ((2, 0, 2L)))
    // rewrite the TOP-LEVEL part file in place (different rows, newer
    // mtime) — the in-place-appended-log-file hazard
    def partIn(d: java.nio.file.Path, recurse: Boolean): java.nio.file.Path = {
      val s = if (recurse) Files.walk(d) else Files.list(d)
      try s.iterator().asScala
        .find(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet")).get
      finally s.close()
    }
    val tmp = dir("copy_force_tmp")
    Seq((9L, "z")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val target = partIn(Paths.get(srcDir), recurse = false)
    Files.copy(partIn(Paths.get(tmp), recurse = true), target,
      StandardCopyOption.REPLACE_EXISTING)
    // drop the local-FS checksum sidecar — the replaced bytes no longer
    // match it and ChecksumFileSystem would fail the re-read
    Files.deleteIfExists(
      target.resolveSibling("." + target.getFileName.toString + ".crc"))
    Files.setLastModifiedTime(target,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 60000L))
    // Delta semantics: an already-loaded PATH is skipped even when its
    // content/mtime changed — no silent duplication of its earlier rows
    val r2 = sqlS.sql(s"COPY INTO '${t.root}' FROM '$srcDir'").head()
    assert((r2.getInt(0), r2.getInt(1), r2.getLong(2)) == ((0, 2, 0L)))
    // FORCE re-loads every matched file as a fresh batch
    val r3 = sqlS.sql(s"COPY INTO '${t.root}' FROM '$srcDir' FORCE").head()
    assert((r3.getInt(0), r3.getInt(1), r3.getLong(2)) == ((2, 0, 2L)))
    val got = t.read().as[(Long, String)].collect().toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(got == Map((1L, "a") -> 1, (2L, "b") -> 2, (9L, "z") -> 1), got)
  }

  test("float-column skipping: probes use the footer's float rendering, never toDouble") {
    // 0.3f's footer bounds render as "0.3" (Float.toString); a probe
    // built via toDouble (0.30000001192092896) lands OUTSIDE [0.3, 0.3]
    // and wrongly prunes the exact-match file — the r15 regression this
    // test pins: reads, IN-lists, and DML discovery on a float column.
    val t = TxnTable.fresh(spark, dir("float_prune"))
    t.append(Seq((1L, 0.1f), (2L, 0.2f)).toDF("k", "f").repartition(1))
    t.append(Seq((3L, 0.3f), (4L, 0.3f)).toDF("k", "f").repartition(1))
    t.append(Seq((5L, 0.7f), (6L, 0.9f)).toDF("k", "f").repartition(1))
    def planned(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(_.contains("/d-"))
    val eq = t.readWhereEq("f", 0.3f)
    assert(eq.select("k").as[Long].collect().toSet == Set(3L, 4L))
    assert(planned(eq) == 1, "exact-match file must survive AND others prune")
    val in = t.readWhereIn("f", Seq(0.3f, 0.9f))
    assert(in.select("k").as[Long].collect().toSet == Set(3L, 4L, 6L))
    assert(planned(in) == 2)
    // float-vs-double SQL comparison coerces through a lossy cast — it
    // must extract NOTHING (all files planned) rather than mis-prune
    val sqlCmp = t.read().filter("f > 0.29")
    assert(sqlCmp.select("k").as[Long].collect().toSet == Set(3L, 4L, 5L, 6L))
    // DML discovery on the float key: the delete must actually land
    t.deleteWhere(col("f") === 0.3f)
    assert(t.read().select("k").as[Long].collect().toSet ==
      Set(1L, 2L, 5L, 6L), "delete silently skipped the matched file")
  }

  test("VACUUM DRY RUN reports the reclaim count without deleting anything") {
    val t = TxnTable.fresh(spark, dir("vacuum_dry"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((2L, "b")).toDF("k", "v")) // v1: v0's file reclaimable
    def files(): Int = {
      val w = Files.walk(Paths.get(t.root))
      try w.iterator().asScala.count(p =>
        p.getFileName.toString.endsWith(".parquet") &&
          p.getParent.getFileName.toString.startsWith("d-"))
      finally w.close()
    }
    val before = files()
    val dry = sqlS.sql(s"VACUUM '${t.root}' KEEP 1 VERSIONS DRY RUN")
      .head().getInt(0)
    assert(dry >= 1, "dry run must report the reclaimable files")
    assert(files() == before, "DRY RUN must not delete anything")
    assert(t.read(version = 0).count() == 1, "time travel intact after dry run")
    val real = sqlS.sql(s"VACUUM '${t.root}' KEEP 1 VERSIONS").head().getInt(0)
    assert(real == dry, "the real vacuum must reclaim exactly what the dry run priced")
    assert(files() == before - 1)
  }

  test("manifest-pruned planning: the driver collect lands only surviving files") {
    // past the driver-fold limit the skip predicates must ride INSIDE the
    // live-set resolution scan: a point read on a clustered table collects
    // ~1 path on the driver, not the live set — the planner cost that
    // matters at millions of files. This fixture's few manifest rows fold
    // on the driver at the default limit, so the distributed pass lowers
    // the limit to 0 through the test seam.
    val t = TxnTable.fresh(spark, dir("manifest_prune"), manifestThreshold = 0)
    val prevLimit = TxnTable.checkpointDriverFileLimit
    try {
      TxnTable.checkpointDriverFileLimit = 0L // every manifest distributed
      val rng = new scala.util.Random(13)
      rng.shuffle((0L until 400L).toList).grouped(100)
        .foreach(g => t.append(g.map(k => (k, k * 3)).toDF("k", "v")))
      t.compact(target = 4, clusterBy = Seq("k"))
      assert(t.read().inputFiles.count(_.contains("/d-")) == 4)
      val pt = t.readRange("k", 120, 120)
      assert(pt.as[(Long, Long)].collect().toSeq == Seq((120L, 360L)))
      assert(t.lastPlanningCollect == 1,
        s"planning collected ${t.lastPlanningCollect} paths; must land only " +
          "the surviving file, not the live set")
      // a two-file range collects exactly the two candidates
      assert(t.readRange("k", 95, 105).as[(Long, Long)].collect().length == 11)
      assert(t.lastPlanningCollect == 2, s"got ${t.lastPlanningCollect}")
      // content equivalence against the unpruned filtered read, both ways
      assert(t.readRange("k", 0, 399).count() == 400)
      assert(t.lastPlanningCollect == 4)
    } finally TxnTable.checkpointDriverFileLimit = prevLimit
    // default limit: the same reads fold on the driver — same rows, the
    // same pruning, and no planning collect at all
    val pt = t.readRange("k", 120, 120)
    assert(pt.as[(Long, Long)].collect().toSeq == Seq((120L, 360L)))
    assert(pt.inputFiles.count(_.contains("/d-")) == 1)
    assert(t.lastPlanningCollect == -1, s"got ${t.lastPlanningCollect}")
    val two = t.readRange("k", 95, 105)
    assert(two.as[(Long, Long)].collect().length == 11)
    assert(two.inputFiles.count(_.contains("/d-")) == 2)
    assert(t.lastPlanningCollect == -1, s"got ${t.lastPlanningCollect}")
    assert(t.readRange("k", 0, 399).count() == 400)
    assert(t.lastPlanningCollect == -1, s"got ${t.lastPlanningCollect}")
  }

  test("path-target SQL DML: DELETE/UPDATE/MERGE on a quoted path, point delete rewrites 1-of-N") {
    val t = TxnTable.fresh(spark, dir("sql_dml_path"))
    val rng = new scala.util.Random(7)
    rng.shuffle((0L until 400L).toList).grouped(100)
      .foreach(g => t.append(g.map(k => (k, k * 2)).toDF("k", "q")))
    t.compact(target = 4, clusterBy = Seq("k"))
    assert(t.read().inputFiles.count(_.contains("/d-")) == 4)
    // point DELETE through SQL: candidate discovery must prune to the one
    // clustered file (the t_txn_sql_prune pin, applied to DML discovery)
    val vDel = sqlS.sql(s"DELETE FROM '${t.root}' WHERE k = 120")
      .head().getLong(0)
    val h = t.history().collect().find(_.getLong(0) == vDel).get
    assert(h.getLong(4) == 1,
      s"point delete must rewrite exactly 1 of 4 files, removed ${h.getLong(4)}")
    assert(t.read().filter(col("k") === 120L).count() == 0)
    assert(t.read().count() == 399)
    // UPDATE through SQL (assignment over the row's own columns)
    sqlS.sql(s"UPDATE '${t.root}' SET q = q + 1000 WHERE k = 7")
    assert(t.read().filter(col("k") === 7L).select("q").as[Long].head() == 1014L)
    // MERGE through SQL, subquery source: matched key replaces, new key inserts
    sqlS.sql(s"MERGE INTO '${t.root}' t USING (SELECT cast(5 AS bigint) AS k, " +
      "cast(999 AS bigint) AS q UNION ALL SELECT 1000, 1) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(t.read().filter(col("k") === 5L).select("q").as[Long].head() == 999L)
    assert(t.read().filter(col("k") === 1000L).count() == 1)
    assert(t.read().count() == 400)
  }

  test("DECIMAL stats-space skipping: reads plan a strict subset, DML discovery prunes, widening sound") {
    val t = TxnTable.fresh(spark, dir("dec_prune"))
    val rng = new scala.util.Random(3)
    rng.shuffle((0L until 400L).toList).grouped(100).foreach(g =>
      t.append(g.toDF("k")
        .withColumn("fine", expr("CAST(k + 0.25 AS DECIMAL(12, 2))"))))
    t.compact(target = 4, clusterBy = Seq("fine"))
    def files(df: org.apache.spark.sql.DataFrame): Int =
      df.inputFiles.count(_.contains("/d-"))
    assert(files(t.read()) == 4)
    // native range read in the decimal stats space: 1-of-4
    val r = t.readRange("fine", 100.0, 150.0)
    assert(files(r) == 1, s"decimal range planned ${files(r)} of 4")
    assert(r.count() == 50) // 100.25 ≤ fine ≤ 150.0 → k in 100..149
    // a rescaling comparison the analyzer wraps as
    // cast(fine as decimal(13,3)) — the widening must stay SOUND (no
    // row matches .256; a wrong widening would fabricate or lose rows)
    val w = spark.read.format("graft-txn").load(t.root)
      .filter(expr("fine = 120.256"))
    assert(w.count() == 0)
    // DML discovery through the SQL front door: a point DELETE on the
    // decimal column rewrites exactly 1 of 4 files
    val vDel = sqlS.sql(s"DELETE FROM '${t.root}' WHERE fine = 120.25")
      .head().getLong(0)
    val h = t.history().collect().find(_.getLong(0) == vDel).get
    assert(h.getLong(4) == 1,
      s"decimal point delete removed ${h.getLong(4)} of 4 files")
    assert(t.read().count() == 399)
    // V1 bridge content equivalence under the decimal filter (its RDD
    // scan hides planned files from inputFiles; the prune itself shares
    // filesSurviving with the native pin above, and the bridge's
    // decimal Filter translation must at least never lose rows)
    val br = spark.read.format("graft-txn").load(t.root)
      .filter("fine BETWEEN 100.25 AND 150.25")
    assert(br.count() == 50) // k 100..150 minus the deleted k=120
    // bloom probe on an UNCLUSTERED decimal point lookup: shuffled keys
    // make every file's [min, max] overlap (stats keep all), the
    // declared bloom decides — probing the stored UNSCALED int
    // (physical-type checked, so a non-int-backed file is kept)
    val tb = TxnTable.fresh(spark, dir("dec_bloom"))
    tb.append(Seq(0L).toDF("k")
      .withColumn("fine", expr("CAST(k + 0.25 AS DECIMAL(12, 2))")))
    tb.setProperties(Map("graft.bloomBy" -> "fine"))
    val rng2 = new scala.util.Random(5)
    rng2.shuffle((1L until 401L).toList).grouped(100).foreach(g =>
      tb.append(g.toDF("k").repartition(1)
        .withColumn("fine", expr("CAST(k + 0.25 AS DECIMAL(12, 2))"))))
    assert(tb.read().inputFiles.length == 5)
    val hit = tb.readWhereEq("fine", new java.math.BigDecimal("120.25"))
    assert(hit.inputFiles.length <= 3,
      s"decimal bloom hit planned ${hit.inputFiles.length} of 5")
    assert(hit.count() == 1)
    // an absent value is PROVEN absent from every bloomed file; a value
    // inexpressible at scale 2 stays a safe keep-all (count still 0)
    val miss = tb.readWhereEq("fine", new java.math.BigDecimal("120.30"))
    assert(miss.inputFiles.length <= 2,
      s"decimal bloom miss planned ${miss.inputFiles.length} of 5")
    assert(miss.count() == 0)
    assert(tb.readWhereEq("fine",
      new java.math.BigDecimal("120.255")).count() == 0)
  }

  test("path-target conditional MERGE: clause grammar, WHERE-in-literal safety, CTAS, path source") {
    val t = TxnTable.fresh(spark, dir("sql_merge_cond"))
    t.append(Seq((1L, 10L, "keep"), (2L, 50L, "del"), (3L, 20L, "keep"))
      .toDF("k", "v", "tag"))
    // conditional clauses through the path front door, first-true wins
    sqlS.sql(s"MERGE INTO '${t.root}' t USING (SELECT CAST(1 AS BIGINT) AS k, " +
      "CAST(100 AS BIGINT) AS v UNION ALL SELECT 2, 100 " +
      "UNION ALL SELECT 3, 1 UNION ALL SELECT 9, 5) s ON t.k = s.k " +
      "WHEN MATCHED AND t.v > 40 THEN DELETE " +
      "WHEN MATCHED AND s.v >= 100 THEN UPDATE SET v = s.v + t.v " +
      "WHEN NOT MATCHED AND s.v < 50 THEN INSERT (k, v) VALUES (s.k, s.v * 2)")
    assert(t.read().select("k", "v").as[(Long, Long)].collect().toSet ==
      Set((1L, 110L), (3L, 20L), (9L, 10L)))
    // the explicit-column INSERT NULL-pads unassigned columns
    assert(t.read().filter(col("k") === 9L).select("tag")
      .as[Option[String]].head().isEmpty)
    // a SET string literal containing ' WHERE ' must not split there —
    // the real top-level WHERE still applies
    sqlS.sql(s"UPDATE '${t.root}' SET tag = 'a WHERE b' WHERE k = 3")
    assert(t.read().filter(col("k") === 3L).select("tag").as[String]
      .head() == "a WHERE b")
    assert(t.read().filter(col("tag") === "a WHERE b").count() == 1)
    // an ON condition referencing a third relation's alias is refused
    intercept[Exception](
      sqlS.sql(s"MERGE INTO '${t.root}' t USING (SELECT CAST(1 AS BIGINT) " +
        "AS k, CAST(1 AS BIGINT) AS v) s ON t.k = x.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    // CTAS on a path: schema from the query, data at v1, IF NOT EXISTS
    // re-run is a version-preserving no-op
    val root2 = dir("sql_ctas_path")
    val p2 = Paths.get(root2)
    if (Files.exists(p2)) {
      val w = Files.walk(p2)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    TxnTable.at(sqlS, t.root).read().select("k", "v")
      .createOrReplaceTempView("ctas_src_v")
    sqlS.sql(s"CREATE TABLE '$root2' USING `graft-txn` AS " +
      "SELECT k, v FROM ctas_src_v")
    val t2 = TxnTable.at(spark, root2)
    val rowsOnce = t2.read().as[(Long, Long)].collect().toSet
    assert(rowsOnce == Set((1L, 110L), (3L, 20L), (9L, 10L)))
    val vBefore = t2.currentVersion
    sqlS.sql(s"CREATE TABLE IF NOT EXISTS '$root2' AS SELECT 1 AS nope")
    assert(t2.currentVersion == vBefore, "IF NOT EXISTS CTAS must no-op")
    intercept[IllegalStateException](
      sqlS.sql(s"CREATE TABLE '$root2' AS SELECT 1 AS nope"))
    // MERGE whose source is a PATH: a graft root reads through the log
    sqlS.sql(s"MERGE INTO '$root2' t USING '${t.root}' s ON t.k = s.k " +
      "WHEN MATCHED AND s.v > 100 THEN UPDATE SET v = s.v * 10")
    assert(t2.read().as[(Long, Long)].collect().toSet ==
      Set((1L, 1100L), (3L, 20L), (9L, 10L)))
  }

  test("CLUSTER BY in path CREATE/CTAS: clustering declared at birth, first appends prune") {
    val root = dir("sql_create_cluster")
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    sqlS.sql(s"CREATE TABLE '$root' (k BIGINT, v BIGINT) " +
      "USING `graft-txn` CLUSTER BY (k)")
    val t = TxnTable.at(spark, root)
    assert(t.properties.get("graft.clusterBy").contains("k"))
    // a CLUSTER BY column outside the schema is refused at run time
    intercept[Exception](sqlS.sql(
      s"CREATE TABLE '${root}_x' (k BIGINT) CLUSTER BY (nope)"))
    // the very first INSERT stages range-sorted: a point read prunes
    // without any OPTIMIZE/ALTER having run (REPARTITION hint keeps the
    // staged batch multi-partition so clustering has files to separate)
    val rng = new scala.util.Random(9)
    val srcDir = dir("cluster_src")
    rng.shuffle((0L until 400L).toList).map(k => (k, k * 2))
      .toDF("k", "v").repartition(4)
      .write.mode("overwrite").parquet(srcDir)
    sqlS.sql(s"INSERT INTO '$root' SELECT /*+ REPARTITION(4) */ k, v " +
      s"FROM parquet.`$srcDir`")
    val planned = t.readRange("k", 10, 20).inputFiles.count(_.contains("/d-"))
    val total = t.read().inputFiles.count(_.contains("/d-"))
    assert(total > 1 && planned < total,
      s"birth clustering must prune: $planned of $total")
    // CTAS with CLUSTER BY: the declaration lands BEFORE the data
    // commit, so the CTAS rows themselves stage range-sorted
    val root2 = dir("sql_ctas_cluster")
    val p2 = Paths.get(root2)
    if (Files.exists(p2)) {
      val w = Files.walk(p2)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    sqlS.sql(s"CREATE TABLE '$root2' USING `graft-txn` CLUSTER BY (k) AS " +
      s"SELECT /*+ REPARTITION(4) */ k, v FROM parquet.`$srcDir`")
    val t2 = TxnTable.at(spark, root2)
    assert(t2.properties.get("graft.clusterBy").contains("k"))
    val planned2 = t2.readRange("k", 10, 20).inputFiles
      .count(_.contains("/d-"))
    val total2 = t2.read().inputFiles.count(_.contains("/d-"))
    assert(total2 > 1 && planned2 < total2,
      s"CTAS birth clustering must prune: $planned2 of $total2")
  }

  test("path-target CREATE/INSERT: schema-only v0, IF NOT EXISTS no-op, re-CREATE refused") {
    val root = dir("sql_create_path")
    val p = Paths.get(root)
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    sqlS.sql(s"CREATE TABLE '$root' (k BIGINT, v STRING)")
    val t = TxnTable.at(spark, root)
    assert(t.currentVersion == 0L && t.read().isEmpty,
      "CREATE must publish a schema-only empty v0")
    // bootstrap-script re-run: IF NOT EXISTS is a no-op, bare CREATE fails
    sqlS.sql(s"CREATE TABLE IF NOT EXISTS '$root' (k BIGINT, v STRING)")
    assert(t.currentVersion == 0L)
    intercept[IllegalArgumentException](
      sqlS.sql(s"CREATE TABLE '$root' (k BIGINT)"))
    sqlS.sql(s"INSERT INTO '$root' " +
      "SELECT CAST(1 AS BIGINT), 'a' UNION ALL SELECT 2, 'b'")
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b")))
    sqlS.sql(s"INSERT OVERWRITE '$root' SELECT CAST(3 AS BIGINT), 'c'")
    assert(t.read().as[(Long, String)].collect().toSet == Set((3L, "c")),
      "INSERT OVERWRITE must replace, not extend")
    sqlS.sql(s"INSERT INTO '$root' VALUES (CAST(4 AS BIGINT), 'd')")
    assert(t.read().count() == 2)
    // NOT NULL in the path-CREATE column list becomes an enforced check
    val root2 = dir("sql_create_nn")
    val p2 = Paths.get(root2)
    if (Files.exists(p2)) {
      val w = Files.walk(p2)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    sqlS.sql(s"CREATE TABLE '$root2' (k BIGINT NOT NULL, v STRING)")
    val t2 = TxnTable.at(spark, root2)
    assert(t2.constraintsAt(t2.currentVersion).exists(_._1 == "nn_k"))
    intercept[Exception](
      t2.append(Seq((Option.empty[java.lang.Long], "x")).toDF("k", "v")))
    // parenthesized MERGE ON condition parses (outer-paren shedding)
    sqlS.sql(s"INSERT INTO '$root2' SELECT CAST(1 AS BIGINT), 'a'")
    sqlS.sql(s"MERGE INTO '$root2' t USING (SELECT CAST(1 AS BIGINT) AS k, " +
      "'z' AS v) s ON (t.k = s.k) " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(t2.read().as[(Long, String)].collect().toSeq == Seq((1L, "z")))
  }

  test("path-target ALTER TABLE DDL: columns, props, constraints through SQL") {
    val t = TxnTable.fresh(spark, dir("sql_ddl_path"))
    t.append(Seq((1L, 10.0)).toDF("k", "q"))
    sqlS.sql(s"ALTER TABLE '${t.root}' ADD COLUMNS (tag STRING, n INT)")
    assert(t.read().columns.toSeq == Seq("k", "q", "tag", "n"))
    sqlS.sql(s"ALTER TABLE '${t.root}' RENAME COLUMN tag TO label")
    assert(t.read().columns.toSeq == Seq("k", "q", "label", "n"))
    sqlS.sql(s"ALTER TABLE '${t.root}' DROP COLUMN n")
    assert(t.read().columns.toSeq == Seq("k", "q", "label"))
    sqlS.sql(s"ALTER TABLE '${t.root}' SET TBLPROPERTIES " +
      "('graft.clusterBy' = 'k', 'owner' = 'ops')")
    assert(t.properties.get("owner").contains("ops"))
    assert(t.properties.get("graft.clusterBy").contains("k"))
    sqlS.sql(s"ALTER TABLE '${t.root}' UNSET TBLPROPERTIES ('owner')")
    assert(!t.properties.contains("owner"))
    // ADD CONSTRAINT through SQL: validates existing data AND raises the
    // writer protocol in the same commit — the old-protocol gate every
    // pre-constraint writer build must now trip on
    assert(t.protocol == ((1, 1)))
    sqlS.sql(s"ALTER TABLE '${t.root}' ADD CONSTRAINT q_pos CHECK (q >= 0)")
    assert(t.protocol == ((1, 2)),
      "SQL ADD CONSTRAINT must bump minWriter so old writers are gated")
    sqlS.sql(s"ALTER TABLE '${t.root}' DROP CONSTRAINT q_pos")
    assert(t.constraintsAt(t.currentVersion).isEmpty)
    // generated column declared through SQL computes on the next append
    sqlS.sql(s"ALTER TABLE '${t.root}' ADD COLUMN k2 BIGINT " +
      "GENERATED ALWAYS AS (k * 2)")
    t.append(Seq((3L, 1.0, "y")).toDF("k", "q", "label"))
    assert(t.read().filter(col("k") === 3L).select("k2").as[Long].head() == 6L)
  }

  test("identity under OCC: a merge racing an allocating append must re-derive, never re-claim") {
    // the reconcile fast path re-claims a staged commit only when every
    // intervening commit is provably disjoint — an identity ALLOCATION is
    // never disjoint (the high-water property moved), so a merge whose
    // staged ids raced an allocating append must throw the re-run error
    // rather than publish a colliding range. The re-run then allocates
    // past the winner: all ids stay unique.
    val t = TxnTable.fresh(spark, dir("identity_race"))
    t.append(Seq(("a", 1L)).toDF("name", "v"))
    t.addIdentityColumn("id")
    t.append(Seq(("b", 2L)).toDF("name", "v")) // id 1
    var fired = false
    t.onBeforePublish = () => if (!fired) {
      fired = true
      t.append(Seq(("mid", 9L)).toDF("name", "v")) // allocates id 2 mid-race
    }
    try {
      val e = intercept[IllegalStateException] {
        t.merge(Seq(("c", 3L)).toDF("name", "v"), Seq("name")) // staged id 2 too
      }
      assert(e.getMessage.contains("re-run"), e.getMessage)
    } finally t.onBeforePublish = () => ()
    // the caller's re-run derives its range from the new tip
    t.merge(Seq(("c", 3L)).toDF("name", "v"), Seq("name"))
    val ids = t.read().filter(col("id").isNotNull)
      .select("id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"ids must be unique and dense: $ids")
  }

  test("catalog CREATE TABLE declares IDENTITY and GENERATED columns in the DDL") {
    sqlS.sql("CREATE NAMESPACE IF NOT EXISTS graft.idn")
    sqlS.sql("CREATE TABLE graft.idn.t (" +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 10 INCREMENT BY 5), " +
      "k BIGINT, k2 BIGINT GENERATED ALWAYS AS (k * 2)) USING `graft-txn`")
    val root = graft.plans.GraftTableFunctions.rootOf("graft.idn.t", sqlS)
    val t = TxnTable.at(spark, root)
    // declared order preserved, specs stripped into properties
    assert(t.read().columns.toSeq == Seq("id", "k", "k2"))
    assert(t.properties.get("graft.identity.id").contains("10,5"))
    assert(t.properties.get("graft.generated.k2").contains("k * 2"))
    // engine computes both on a plain append of the writable column
    t.append(Seq(Tuple1(3L), Tuple1(4L)).toDF("k"))
    val rows = t.read().select("id", "k", "k2")
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(rows.map(_._1).toSet == Set(10L, 15L), s"ids: ${rows.toSeq}")
    assert(rows.map(r => r._2 * 2).toSeq == rows.map(_._3).toSeq)
    // SQL INSERT with a column list: Spark pads the engine-owned columns
    // with NULL literals, which the insert lowering DROPS so the engine
    // computes them — the everyday write statement against an identity
    // table works through plain catalog SQL
    sqlS.sql("INSERT INTO graft.idn.t (k) VALUES (CAST(7 AS BIGINT))")
    val r7 = t.read().filter(col("k") === 7L)
      .select("id", "k2").as[(Long, Long)].head()
    assert(r7 == ((20L, 14L)), s"got $r7")
    // but a REAL user-supplied value for an owned column is refused
    val e1 = intercept[Exception](sqlS.sql(
      "INSERT INTO graft.idn.t (id, k) VALUES (999, CAST(8 AS BIGINT))"))
    assert(e1.getMessage.contains("GENERATED ALWAYS"), e1.getMessage)
    // GENERATED BY DEFAULT is refused loudly at create
    val e = intercept[Exception](sqlS.sql("CREATE TABLE graft.idn.bad (" +
      "id BIGINT GENERATED BY DEFAULT AS IDENTITY, k BIGINT) USING `graft-txn`"))
    assert(e.getMessage.contains("GENERATED ALWAYS AS IDENTITY"), e.getMessage)
  }

  test("identity columns: dense monotone allocation, merge preserves matched ids, races re-derive") {
    val t = TxnTable.fresh(spark, dir("identity"))
    t.append(Seq(("a", 1L), ("b", 2L)).toDF("name", "v"))
    t.addIdentityColumn("id", start = 100L, step = 10L)
    // pre-declaration rows read NULL (evolution semantics, no rewrite)
    assert(t.read().filter(col("id").isNull).count() == 2)
    // appends allocate densely above the high water, atomically committed
    t.append(Seq(("c", 3L), ("d", 4L)).toDF("name", "v"))
    assert(t.read().filter(col("id").isNotNull)
      .select("id").as[Long].collect().toSet == Set(100L, 110L))
    // GENERATED ALWAYS: explicit writes refused
    intercept[IllegalArgumentException](
      t.append(Seq(("x", 9L, 1L)).toDF("name", "v", "id")))
    // merge: a matched key KEEPS its id, only the new key allocates
    val before = t.read().filter(col("id").isNotNull)
      .select("name", "id").as[(String, Long)].collect().toMap
    t.merge(Seq(("c", 30L), ("e", 5L)).toDF("name", "v"), Seq("name"))
    val after = t.read().filter(col("id").isNotNull)
      .select("name", "id").as[(String, Long)].collect().toMap
    assert(after("c") == before("c"), "matched key must keep its identity")
    assert(after("e") == 120L, s"insert allocates the next id, got ${after("e")}")
    assert(t.read().filter(col("name") === "c")
      .select("v").as[Long].head() == 30L)
    // racing appends: every loser re-derives its range at the new tip
    // (the high-water rides the property map, which reconciliation
    // refuses to span) — ids stay dense, unique, monotone
    (1 to 4).par_unsafe { w =>
      t.append(Seq((s"w$w-1", w.toLong), (s"w$w-2", w.toLong)).toDF("name", "v"))
    }
    val all = t.read().filter(col("id").isNotNull).select("id").as[Long].collect()
    assert(all.length == 11 && all.distinct.length == 11,
      s"identity ids must never collide: ${all.sorted.toSeq}")
    assert(all.toSet == (100L to 200L by 10L).toSet,
      s"allocation must stay dense across racing writers: ${all.sorted.toSeq}")
    // identity survives overwrite: the mark keeps rising (never recycles)
    t.overwrite(Seq(("z", 0L)).toDF("name", "v"))
    assert(t.read().select("id").as[Long].head() == 210L)
  }

  test("cloneTo names a stale partial clone instead of a confusing copy failure") {
    val t = TxnTable.fresh(spark, dir("clone_stale_src"))
    t.append(Seq((1L, "a")).toDF("k", "v"))
    val destRoot = dir("clone_stale_dst")
    val destP = Paths.get(destRoot)
    if (Files.exists(destP)) {
      val w = Files.walk(destP)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }
    // simulate a prior clone that crashed after linking a file but
    // before the log commit: the file exists, _txn_log does not
    val srcFile = Paths.get(java.net.URI.create(t.read().inputFiles.head))
    val rel = Paths.get(t.root).toAbsolutePath.relativize(srcFile).toString
    Files.createDirectories(destP.resolve(rel).getParent)
    Files.createFile(destP.resolve(rel))
    val e = intercept[IllegalStateException] { t.cloneTo(destRoot) }
    assert(e.getMessage.contains("stale partial clone"), e.getMessage)
  }
}

/** Tiny parallel helper: run f on its own thread per element, propagate the
  * first failure, return results in element order. */
object TxnSpecOps {
  implicit class Par(private val r: Range) extends AnyVal {
    def par_unsafe(f: Int => Long): List[Long] = {
      val out = new Array[Either[Throwable, Long]](r.size)
      val ts = r.zipWithIndex.map { case (i, idx) =>
        new Thread(() => out(idx) =
          try Right(f(i)) catch { case e: Throwable => Left(e) })
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      out.toList.map {
        case Left(e) => throw e
        case Right(v) => v
      }
    }
  }
}
