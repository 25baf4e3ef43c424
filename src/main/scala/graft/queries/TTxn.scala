package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.functions._
import graft.Det.r4
import graft.Tables
import graft.sources.TxnTable

/** Group T of SURVEY.md §2: the transactional table format
  * (graft.sources.TxnTable — commit log over parquet: atomic multi-file
  * commits, snapshot isolation, time travel, optimistic concurrency).
  *
  * Each key replays a fixed commit history into a fresh table under the
  * scratch dir, then reads back THROUGH the log. The oracle recomputes the
  * expected table state straight from the source slices, so a broken
  * protocol (lost update, half-applied overwrite, wrong snapshot fold)
  * hash-mismatches — the log machinery itself is what's under test, not
  * the arithmetic. Concurrency (writer races, conflict-loser retry,
  * compact-vs-append aborts) is TxnSpec's job: a deterministic oracle
  * can't race threads.
  *
  * Scale posture: a commit is one KB-sized metadata publish regardless of
  * data volume; snapshot reads hand the live file list straight to the
  * parquet reader, so pruning/pushdown apply unchanged, and nothing here
  * rescans history to answer "current state".
  */
object TTxn {

  /** The shared fixture slices: lineitem by line number, projected to the
    * columns the checks aggregate. */
  private def slice(s: org.apache.spark.sql.SparkSession, d: String,
      lns: Int*): org.apache.spark.sql.DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_linenumber").isin(lns.map(Integer.valueOf): _*))
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")

  // -------------------------------------------------- shared warmed fixtures
  //
  // Re-running a multi-commit replay per key was pure fixture
  // orchestration (~2.5-5 s apiece in the driver bench): what each key
  // MEASURES is the read/DML path through the log, and a real user's
  // table already exists when they query it. So per JVM and sf dir the
  // common histories are built ONCE through the full commit machinery
  // (the `Fixtures` registry), and keys either read the shared table
  // (read-only keys) or apply their mutation to a file-level CLONE of
  // it — the clone is a straight directory copy, so the mutation still
  // runs against a genuine log with real staged files, just without
  // paying the base commits again. Content is deterministic either way;
  // the oracle hashes are blind to which JVM built the fixture.

  /** Root of the shared append·append·overwrite·append history (lines
    * 1,2 / 3,4 / 5) — the read-only keys' fixture. */
  private def fullHistory(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_hist", d) { root =>
      val t = TxnTable.fresh(s, root)
      t.append(slice(s, d, 1))
      t.append(slice(s, d, 2))
      t.overwrite(slice(s, d, 3, 4))
      t.append(slice(s, d, 5))
    }

  /** Root of the shared two-append base (line 1 at v0, line 2 at v1) —
    * the mutating keys clone this and diverge. */
  private def base12(s: org.apache.spark.sql.SparkSession, d: String): String =
    Fixtures.dir("txn_b12", d) { root =>
      val t = TxnTable.fresh(s, root)
      t.append(slice(s, d, 1))
      t.append(slice(s, d, 2))
    }

  /** Root of the shared base12 + CDC-merge history (v2 = line 1 verbatim,
    * line 2 doubled, line 6 inserted, with the commit-time CDC sidecar) —
    * the change-feed keys (t_txn_cdc / t_txn_incr_mv / t_txn_stream_cdc)
    * all replay this exact merge, so it is built ONCE per JVM and sf dir
    * and each key clones it and diverges (pre-merge state stays readable
    * through time travel). Content is deterministic; oracle hashes are
    * blind to which key built it. */
  private def mergedCdc(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_mcdc", d) { root =>
      val t = cloneInto(s, base12(s, d), root)
      t.merge(s.read.parquet(upsertSrc(s, d)),
        Seq("l_orderkey", "l_linenumber"), cdc = true)               // v2
    }

  /** Root of the FULL change-feed history (mergedCdc + the v3 compact +
    * the v4 cdc delete) — what `t_txn_cdc` reads. The key's measured
    * surface is the CDF read (readChanges), not the fixture DML, and a
    * real consumer tails a table whose commits already happened — so the
    * whole history is built once per JVM and sf dir and the key opens it
    * read-only (r18 verdict carried item 2). */
  private def cdcFull(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_cdcfull", d) { root =>
      val t = cloneInto(s, mergedCdc(s, d), root)
      t.compact(target = 4)                                          // v3
      t.deleteWhere(col("l_quantity") > 25, cdc = true)              // v4
    }

  /** Catalog root holding the PRE-MERGE base of the catalog-route
    * conditional merge (graft.main.condm with lines 1+2 inserted) —
    * built once per JVM and sf dir through the same SQL front door the
    * key exercises; the key hard-link-clones the table directory into
    * its own catalog root per run, so the timed work is the MERGE, not
    * the CREATE+INSERT rebuild (r18 verdict carried item 3). */
  private def catmBase(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_sqlcat_catmbase", d) { root =>
      val ss = graft.sources.GraftSql.session(s, root)
      ss.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
      ss.sql("CREATE TABLE graft.main.condm " +
        s"(${slice(ss, d, 1).schema.toDDL}) USING `graft-txn`")
      slice(ss, d, 1).unionByName(slice(ss, d, 2))
        .createOrReplaceTempView("condm_base")
      ss.sql("INSERT INTO graft.main.condm SELECT * FROM condm_base")
    }

  /** Build every shared fixture this key family amortizes per JVM —
    * called from Bench's UNTIMED warm block so no timed key pays fixture
    * orchestration (the measured surfaces are the reads/DML, and a real
    * user's table already exists when they query it). */
  private[graft] def warmFixtures(s: org.apache.spark.sql.SparkSession,
      d: String): Unit =
    Fixtures.warm("txn")(
      () => fullHistory(s, d), () => base12(s, d), () => mergedCdc(s, d),
      () => condSrc(s, d), () => line6Src(s, d), () => upsertSrc(s, d),
      () => sqlHistory(s, d), () => cdcFull(s, d), () => catmBase(s, d),
      () => sqlPruneHistory(s, d), () => decimalHistory(s, d),
      () => timeFnHistory(s, d), () => strPruneHistory(s, d),
      () => optWhereHistory(s, d), () => cntMetaHistory(s, d))

  /** Staged parquet of the deduped-and-doubled line-2 merge source (max
    * flag, 2x max qty per key — the testdata's key is not unique and the
    * conditional merge refuses matched multi-match). The MATCHED side of
    * every conditional/BY SOURCE merge key; built ONCE per JVM and sf
    * dir so each key re-reads a plain parquet scan instead of re-running
    * the dedup aggregate (fixture orchestration, not the measured merge
    * — r17 verdict hygiene #3). */
  private def condSrc(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_condsrc", d) { root =>
      slice(s, d, 2)
        .groupBy("l_orderkey", "l_linenumber")
        .agg(max("l_returnflag").as("l_returnflag"),
          (max("l_quantity") * 2).as("l_quantity"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .write.mode("overwrite").parquet(root)
    }

  /** Staged parquet of the line-6 slice — the INSERT side of the merge
    * sources (kept un-deduped: line-6 dups prove per-row inserts). */
  private def line6Src(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_l6src", d) { root =>
      slice(s, d, 6).write.mode("overwrite").parquet(root)
    }

  /** Staged parquet of the upsert-all merge source (line 2 doubled, NOT
    * deduped — key-replace tolerates dups — plus line 6), shared by the
    * SQL upsert merges (view and path-source front doors). */
  private def upsertSrc(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_usrc", d) { root =>
      slice(s, d, 2).withColumn("l_quantity", col("l_quantity") * 2)
        .unionByName(slice(s, d, 6))
        .write.mode("overwrite").parquet(root)
    }

  /** Clone the whole table tree (data + log) at `srcP` into `dstP`,
    * wiping any previous occupant. Regular files HARD-LINK (the format
    * never mutates a published file in place — commits add new files and
    * the `_last_checkpoint` pointer is replaced by an atomic move that
    * only swaps the directory entry — so a link-shared clone diverges
    * exactly like a copy, at file-count cost instead of data-byte cost:
    * the fixture orchestration the bench should not be timing). Falls
    * back to a copy on a no-hardlink filesystem. */
  private def cloneTree(srcP: java.nio.file.Path,
      dstP: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    Fixtures.wipe(dstP.toString)
    val w = Files.walk(srcP)
    try w.iterator().asScala.foreach { p =>
      val dst = dstP.resolve(srcP.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else
        try { Files.createLink(dst, p); () }
        catch {
          case _: UnsupportedOperationException |
               _: java.nio.file.FileSystemException =>
            Files.copy(p, dst,
              java.nio.file.StandardCopyOption.REPLACE_EXISTING)
            ()
        }
    } finally w.close()
  }

  /** Fresh mutable clone of the table at `src` at `dst` (see `cloneTree`
    * for the link semantics). */
  private def cloneInto(s: org.apache.spark.sql.SparkSession, src: String,
      dst: String): TxnTable = {
    cloneTree(java.nio.file.Paths.get(src), java.nio.file.Paths.get(dst))
    TxnTable.at(s, dst)
  }

  /** Fresh mutable clone of the table at `src` under `name`'s scratch
    * dir. */
  private def cloneOf(s: org.apache.spark.sql.SparkSession, src: String,
      name: String): TxnTable =
    cloneInto(s, src, scratch(name))

  /** Shared SQL-surface fixture: the `graft` catalog mounted on a
    * derived session (GraftSql.session — analyzer extensions + catalog
    * conf), with a six-commit history built ENTIRELY through SQL:
    * CREATE TABLE (v0), two INSERT INTOs (v1, v2), MERGE INTO (v3),
    * UPDATE (v4), DELETE (v5). Built once per JVM and sf dir; the keys
    * read the result back through SQL too, so the whole path under test
    * is the one a SQL user holds. */
  private def sqlHistory(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.SparkSession =
    graft.sources.GraftSql.session(s, Fixtures.dir("txn_sqlcat", d) { root =>
      val ss = graft.sources.GraftSql.session(s, root)
      ss.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
      ss.sql("CREATE TABLE graft.main.demo " +
        s"(${slice(ss, d, 1).schema.toDDL}) USING `graft-txn`")    // v0
      slice(ss, d, 1).createOrReplaceTempView("sql_line1")
      slice(ss, d, 2).createOrReplaceTempView("sql_line2")
      slice(ss, d, 2).withColumn("l_quantity", col("l_quantity") * 2)
        .unionByName(slice(ss, d, 6)).createOrReplaceTempView("sql_upd")
      ss.sql("INSERT INTO graft.main.demo SELECT * FROM sql_line1") // v1
      ss.sql("INSERT INTO graft.main.demo SELECT * FROM sql_line2") // v2
      ss.sql("MERGE INTO graft.main.demo t USING sql_upd s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *")                           // v3
      ss.sql("UPDATE graft.main.demo SET l_quantity = l_quantity + 100 " +
        "WHERE l_returnflag = 'R'")                                 // v4
      ss.sql("DELETE FROM graft.main.demo WHERE l_quantity > 120")  // v5
    })

  /** A catalog-mounted table `graft.main.<table>` holding `src`,
    * cluster-compacted on `by` into 4 range-disjoint files, in fixture
    * `name`'s root — the skipping fixtures' shared layout. Returns the
    * session the catalog is mounted on. */
  private def clusteredHistory(s: org.apache.spark.sql.SparkSession,
      d: String, name: String, table: String, by: String)(
      src: org.apache.spark.sql.SparkSession => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.SparkSession =
    graft.sources.GraftSql.session(s, Fixtures.dir(name, d) { root =>
      val ss = graft.sources.GraftSql.session(s, root)
      ss.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
      val df = src(ss)
      ss.sql(s"CREATE TABLE graft.main.$table " +
        s"(${df.schema.toDDL}) USING `graft-txn`")
      df.createOrReplaceTempView(s"${table}_src")
      ss.sql(s"INSERT INTO graft.main.$table SELECT * FROM ${table}_src")
      TxnTable.at(ss,
          graft.plans.GraftTableFunctions.rootOf(s"graft.main.$table", ss))
        .compact(target = 4, clusterBy = Seq(by))
    })

  /** Shared SQL file-skipping fixture: a catalog-mounted table holding
    * lines 1, 2, 6 cluster-compacted into 4 range-disjoint files on
    * l_orderkey — the layout where a WHERE range typed in plain SQL must
    * plan a strict file subset (t_txn_sql_prune reads it; TxnSpec pins
    * the planned count against the native readRange). */
  private def sqlPruneHistory(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.SparkSession =
    clusteredHistory(s, d, "txn_sqlprune", "pruned", "l_orderkey")(ss =>
      slice(ss, d, 1).unionByName(slice(ss, d, 2))
        .unionByName(slice(ss, d, 6)))

  /** Shared DECIMAL-skipping fixture: lines 1, 2 carrying a money-typed
    * column `l_fine DECIMAL(12,2)` (exactly l_orderkey + 0.25 — integer
    * construction, bit-exact in both engines), catalog-mounted and
    * cluster-compacted on l_fine into 4 range-disjoint files — the
    * layout where a money-range WHERE must plan a strict file subset
    * through the DECIMAL stats space (t_txn_decimal_prune reads it;
    * TxnSpec pins planned-file counts and DML discovery on its own
    * decimal fixture). */
  private def decimalHistory(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.SparkSession =
    clusteredHistory(s, d, "txn_decprune", "money", "l_fine")(ss =>
      slice(ss, d, 1).unionByName(slice(ss, d, 2))
        .withColumn("l_fine",
          expr("CAST(l_orderkey + 0.25 AS DECIMAL(12, 2))")))

  /** Shared time-skipping fixture: the events projection catalog-mounted
    * and cluster-compacted by `ts` into 4 range-disjoint files — the
    * layout where a time-function WHERE (`year(ts)`, `CAST(ts AS DATE)`)
    * typed in plain SQL must plan a strict file subset
    * (t_txn_time_fn_prune reads it; TxnSpec pins planned-file counts on
    * its own per-day fixture). */
  private def timeFnHistory(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.SparkSession =
    clusteredHistory(s, d, "txn_timefn", "timefn", "ts")(ss =>
      Tables.events(ss, d).select("event_id", "ts", "event_type", "value"))

  /** Shared STRING-skipping fixture: lines 1/2/6 tagged with a
    * zero-padded string key and cluster-compacted by it into 4
    * range-disjoint files — the layout where a string WHERE range typed
    * in plain SQL must plan a strict file subset via the "#str" footer
    * bounds (t_txn_str_prune reads it; TxnSpec pins planned-file counts
    * on its own per-file fixture). */
  private def strPruneHistory(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.SparkSession =
    clusteredHistory(s, d, "txn_strprune", "strpruned", "tag")(ss =>
      slice(ss, d, 1).unionByName(slice(ss, d, 2))
        .unionByName(slice(ss, d, 6))
        .withColumn("tag",
          concat(lit("t"), lpad(col("l_orderkey").cast("string"), 8, "0"))))

  /** Root of the scoped-OPTIMIZE fixture (8+8 small files, then
    * `OPTIMIZE ... WHERE l_linenumber = 1` compacts only the line-1
    * candidates) — t_txn_optimize_where reads it. Built once per JVM
    * and sf dir; the measured surface is the post-maintenance read
    * (content invariance is the oracle's pin), and the selectivity of
    * the maintenance itself is TxnSpec's. */
  private def optWhereHistory(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_optwhere", d) { root =>
      val ss = graft.sources.GraftSql.session(s, root)
      ss.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
      ss.sql("CREATE TABLE graft.main.optw " +
        s"(${slice(ss, d, 1).schema.toDDL}) USING `graft-txn`")
      val t = TxnTable.at(ss,
        graft.plans.GraftTableFunctions.rootOf("graft.main.optw", ss))
      t.append(slice(ss, d, 1).repartition(8))
      t.append(slice(ss, d, 2).repartition(8))
      ss.sql("OPTIMIZE graft.main.optw WHERE l_linenumber = 1")
    }

  /** Root of the metadata-count fixture (plain appends, a merge-on-read
    * UPDATE whose DVs + post-images net zero, a DV DELETE netting
    * negative) — t_txn_count_meta answers `SELECT count(*)` over it from
    * the commit log alone. Built once per JVM and sf dir: the measured
    * surface is the metadata fold, not the CREATE+DML orchestration. */
  private def cntMetaHistory(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("txn_cntmeta", d) { root =>
      val ss = graft.sources.GraftSql.session(s, root)
      ss.sql("CREATE NAMESPACE IF NOT EXISTS graft.main")
      ss.sql("CREATE TABLE graft.main.cnt " +
        s"(${slice(ss, d, 1).schema.toDDL}) USING `graft-txn`")
      slice(ss, d, 1).createOrReplaceTempView("cnt_line1")
      slice(ss, d, 2).createOrReplaceTempView("cnt_line2")
      ss.sql("INSERT INTO graft.main.cnt SELECT * FROM cnt_line1")
      ss.sql("INSERT INTO graft.main.cnt SELECT * FROM cnt_line2")
      val t = TxnTable.at(ss,
        graft.plans.GraftTableFunctions.rootOf("graft.main.cnt", ss))
      t.update(Map("l_quantity" -> (col("l_quantity") + lit(1.0d))),
        col("l_linenumber") === 2, dv = true) // MOR: DVs + post-images
      t.deleteWhere(col("l_quantity") > 30.0d, dv = true) // DV delete
    }

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")

  private def oracleAgg(where: String): String =
    "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
      s"FROM lineitem WHERE $where GROUP BY l_returnflag ORDER BY l_returnflag"

  val m: ListMap[String, Q] = ListMap(
    "t_txn_snapshot" -> ((s, d) => {
      // append, append, overwrite, append — the latest snapshot must be
      // exactly (overwrite content + later append): an un-applied remove
      // (append semantics leaking into overwrite) or a lost append both
      // change the aggregate
      agg(TxnTable.at(s, fullHistory(s, d)).read())
    }),

    "t_txn_manifest" -> ((s, d) => {
      // same history as t_txn_snapshot, but EVERY commit is forced through
      // the manifest path (threshold 0): add/remove sets live in parquet
      // manifests and log entries are O(1). These few manifest rows fit
      // the driver-fold limit, so the snapshot folds on the driver from
      // the decoded manifests; the distributed fold (liveFilesDF) takes
      // over only past TxnTable.checkpointDriverFileLimit file rows,
      // which TxnSpec forces through that seam. The oracle hash pins
      // that the manifested fold is byte-identical to the inline one.
      val t = TxnTable.fresh(s, scratch("txn_manifest"), manifestThreshold = 0)
      t.append(slice(s, d, 1))
      t.append(slice(s, d, 2))
      t.overwrite(slice(s, d, 3, 4))
      t.append(slice(s, d, 5))
      agg(t.read())
    }),

    "t_txn_time_travel" -> ((s, d) => {
      // same history; read pinned at v1 — the pre-overwrite world. The
      // overwrite at v2 must NOT leak into the v1 snapshot even though
      // its files sit in the same table directory.
      agg(TxnTable.at(s, fullHistory(s, d)).read(version = 1))
    }),

    "t_txn_time_travel_ts" -> ((s, d) => {
      // timestamp time travel ("AS OF TIMESTAMP"): resolve the table at
      // v1's commit time, with T read back from history() — the wall-
      // clock value never surfaces in the output, so the key stays
      // deterministic while exercising the running-max effective-clock
      // resolution (versionAtTime) end to end. Content must equal the
      // v1 snapshot: the two base appends, no overwrite leak.
      val t = TxnTable.at(s, fullHistory(s, d))
      val ts1 = t.history().filter(col("version") === 1)
        .select("ts_millis").head().getLong(0)
      agg(t.readAtMillis(ts1))
    }),

    "t_txn_log_audit" -> ((s, d) => {
      // the commit log surfaced as a table: version/action/rows must match
      // the slice row counts the oracle computes from the source — a
      // mis-recorded commit (wrong action, wrong row metadata) mismatches
      TxnTable.at(s, fullHistory(s, d)).history()
        .select(col("version"), col("action"), col("rows").as("n_rows"))
        .orderBy("version")
    }),

    "t_txn_compact" -> ((s, d) => {
      // small-file compaction as ONE transaction: content before == after
      // (the oracle pins the content; TxnSpec pins the file-count drop and
      // the stale-compact abort)
      val t = cloneOf(s, base12(s, d), "txn_compact")
      t.compact(target = 1)
      agg(t.read())
    }),

    "t_txn_vacuum" -> ((s, d) => {
      // vacuum drops files only the PRE-overwrite versions referenced; the
      // latest snapshot must read identically after physical deletion
      val t = cloneOf(s, base12(s, d), "txn_vacuum")
      t.overwrite(slice(s, d, 6))
      t.vacuum()
      agg(t.read())
    }),

    "t_txn_schema_evolution" -> ((s, d) => {
      // additive schema evolution: v1 appends a column v0's files never
      // had. The schema lives in the COMMIT LOG (not inferred from
      // footers), so the read binds one schema and v0's rows surface
      // NULL for the new column — n_disc counts only v1's rows, sum_disc
      // sums only v1's values, both hash-pinned by the oracle. No file
      // was rewritten to make that happen.
      val t = TxnTable.fresh(s, scratch("txn_schema_evo"))
      t.append(slice(s, d, 1))
      t.append(Tables.lineitem(s, d).filter(col("l_linenumber") === 2)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity",
          "l_discount"))
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"),
          count(col("l_discount")).as("n_disc"),
          r4(sum(coalesce(col("l_discount"), lit(0.0)))).as("sum_disc"))
        .orderBy("l_returnflag")
    }),

    "t_txn_merge" -> ((s, d) => {
      // MERGE through the log: base = line numbers 1–2; updates double
      // line 2's quantity (matched rewrite) and insert line 6 (new keys).
      // Only the files holding line-2 rows are rewritten (file
      // granularity pinned in TxnSpec); the hash pins the content:
      // un-applied updates, doubled rows, or lost inserts all break it.
      val t = cloneOf(s, base12(s, d), "txn_merge")
      t.merge(s.read.parquet(upsertSrc(s, d)),
        Seq("l_orderkey", "l_linenumber"))
      agg(t.read())
    }),

    "t_txn_delete" -> ((s, d) => {
      // DELETE WHERE through the log: drop high-quantity rows from the
      // line-1/2 base. Only files containing a match are rewritten; the
      // hash pins exact survivor content (an over- or under-delete, or a
      // NULL-condition row wrongly dropped, breaks it).
      val t = cloneOf(s, base12(s, d), "txn_delete")
      t.deleteWhere(col("l_quantity") > 25)
      agg(t.read())
    }),

    "t_txn_delete_filedrop" -> ((s, d) => {
      // the retention sweep: DELETE on the CLUSTER column of a
      // key-clustered table. Files the commit stats PROVE fully matched
      // drop from the log as pure metadata (never read — TxnSpec pins
      // the no-read claim by deleting such a file from disk first);
      // only the boundary file rewrites. At 100 TB this is the
      // difference between a KB commit and scanning the table for a
      // `ts < cutoff` sweep. The hash pins the survivor content — a
      // prover that over-claims (strict bound, NULL row, stale stats)
      // deletes rows the oracle keeps.
      val t = cloneOf(s, base12(s, d), "txn_delete_filedrop")
      t.compact(target = 4, clusterBy = Seq("l_orderkey"))
      // the cutoff comes from TABLE METADATA (tableStats reads the log,
      // never data) at half the key range, so the sweep provably drops
      // interior files at EVERY scale factor — a fixed literal would
      // stop exercising the metadata path the moment the tier grows.
      // An EMPTY table records no bounds → cutoff 0, delete is a no-op
      // (RobustnessSpec's empty-input sweep).
      val cut = t.tableStats().colMinMax.get("l_orderkey")
        .map(_._2.toLong / 2).getOrElse(0L)
      t.deleteWhere(col("l_orderkey") < cut)
      agg(t.read())
    }),

    "t_txn_delete_dv" -> ((s, d) => {
      // merge-on-read DELETE in the shape deletion vectors exist for: a
      // NARROW predicate (~2% of rows) that matches in EVERY file — the
      // GDPR/point-delete case where copy-on-write would rewrite the
      // whole table (all files touched) but the DV path writes a KB-scale
      // (file, position) sidecar and moves no data file. The read then
      // prices the MOR side: the snapshot anti-joins the DVs out, which
      // the oracle hash pins exactly. Compact-materialization and
      // rewrite-path equivalence are TxnSpec's (this key deliberately
      // does NOT compact — that would re-add the rewrite the mode
      // avoids).
      val t = cloneOf(s, base12(s, d), "txn_delete_dv")
      t.deleteWhere(col("l_quantity") > 49, dv = true)
      agg(t.read())
    }),

    "t_txn_stats_prune" -> ((s, d) => {
      // file-level data skipping from COMMIT-TIME stats: the footers the
      // commit already opens for row counts also yield per-file numeric
      // min/max, stored in the log entry (or manifest); after a clustered
      // compact each file covers a disjoint l_orderkey range, and
      // readRange plans ONLY the files whose range intersects the
      // predicate — no footer is opened to decide. The oracle recomputes
      // the range filter from source, so a wrongly-pruned file (lost
      // rows) or a leaked one (extra rows) breaks the hash; TxnSpec pins
      // the planned-file count itself.
      val t = cloneOf(s, base12(s, d), "txn_stats_prune")
      t.compact(target = 4, clusterBy = Seq("l_orderkey"))
      agg(t.readRange("l_orderkey", 0, 4000))
    }),

    "t_txn_restore" -> ((s, d) => {
      // rollback-as-a-new-commit: a bad overwrite at v2 is undone by
      // restore(1). The restore is METADATA-ONLY — it re-adds v1's
      // files and removes v2's, data never moves (TxnSpec pins that no
      // new staged dir appears) — and v2 stays in history for audit
      // while the tip reads exactly like v1 again. The hash pins the
      // post-rollback tip content; a restore that missed a file or
      // leaked the bad overwrite's rows breaks it.
      val t = cloneOf(s, base12(s, d), "txn_restore")
      t.overwrite(slice(s, d, 6)) // v2: the bad deploy
      t.restore(1)                // v3: the rollback
      agg(t.read())
    }),

    "t_txn_checkpoint" -> ((s, d) => {
      // commit-log CHECKPOINTING (interval 3): a 7-commit multi-DML
      // history — appends, an overwrite, a PRE-checkpoint restore whose
      // re-adds a naive fold would drop, a post-restore append — with
      // state checkpoints published at v3 and v6. The tip read resolves
      // from checkpoint + tail (TxnSpec counts the parsed entries), and
      // the oracle hash pins that the checkpointed fold equals the
      // plain-log content: restore(1) makes the live set lines 1+2, the
      // final append adds line 6.
      val t = TxnTable.fresh(s, scratch("txn_ckpt"), checkpointInterval = 3)
      t.append(slice(s, d, 1))        // v0
      t.append(slice(s, d, 2))        // v1
      t.overwrite(slice(s, d, 3, 4))  // v2
      t.append(slice(s, d, 5))        // v3 → checkpoint
      t.append(slice(s, d, 7))        // v4
      t.restore(1)                    // v5: rollback PAST the checkpoint
      t.append(slice(s, d, 6))        // v6 → checkpoint
      // a FRESH handle (cold cache) must resolve through the v6 checkpoint
      agg(TxnTable.at(s, scratch("txn_ckpt"), checkpointInterval = 3).read())
    }),

    "t_txn_rename" -> ((s, d) => {
      // COLUMN MAPPING: rename is a metadata-only commit — the logical
      // name changes, the physical name stays pinned to what existing
      // files contain. Line-1 data lands under l_quantity, the column is
      // renamed to qty, line-2 data appends under the NEW name; the read
      // merges both eras under the logical schema, so a broken mapping
      // (old files unresolved, or bytes bound to the wrong column)
      // hash-mismatches the oracle computed over plain l_quantity.
      val t = TxnTable.fresh(s, scratch("txn_rename"))
      t.append(slice(s, d, 1))                  // v0: physical l_quantity
      t.renameColumn("l_quantity", "qty")       // v1: metadata-only
      t.append(slice(s, d, 2)
        .withColumnRenamed("l_quantity", "qty")) // v2: appended as qty
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("qty")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "t_txn_format_rw" -> ((s, d) => {
      // the table reached through the DataSource FORMAT surface: writes
      // via df.write.format("graft-txn") (append, append, overwrite),
      // read back via spark.read.format("graft-txn") with versionAsOf
      // time travel. Mounting the table at format level must be
      // byte-equivalent to the native API — same oracle as the native
      // time-travel key. The V1 bridge pushes prune/filter into the
      // inner snapshot plan (TxnSpec pins modes + option handling).
      val root = scratch("txn_format_rw")
      TxnTable.fresh(s, root)
      slice(s, d, 1).write.format("graft-txn").mode("append").save(root)
      slice(s, d, 2).write.format("graft-txn").mode("append").save(root)
      slice(s, d, 3, 4).write.format("graft-txn").mode("overwrite").save(root)
      agg(s.read.format("graft-txn").option("versionAsOf", "1").load(root))
    }),

    "t_txn_optimize" -> ((s, d) => {
      // incremental OPTIMIZE: slice 1 lands as ONE at-target file, slice
      // 2 as 8 small ones; optimize(targetRows = |slice 1|) discovers the
      // small set from the "#rows" commit stats (no footer pass) and
      // bin-packs ONLY those — TxnSpec pins that the large file never
      // moves. Content must be invariant (dataChange = false), which is
      // exactly what the plain lines-1+2 oracle hash proves.
      val t = TxnTable.fresh(s, scratch("txn_optimize"))
      val s1 = slice(s, d, 1)
      t.append(s1.coalesce(1))                 // v0: one large file
      t.append(slice(s, d, 2).repartition(8))  // v1: 8 small files
      t.optimize(targetRows = math.max(1L, s1.count())) // v2: packs only the 8
      agg(t.read())
    }),

    "t_txn_optimize_where" -> ((s, d) => {
      // OPTIMIZE ... WHERE through the parser: the predicate SCOPES
      // which files are compaction candidates via the same commit-log
      // skipping every read uses — here the line-1 files (per-file
      // l_linenumber stats are the point [1, 1]) compact while the
      // line-2 files never move. "Compact today's ingest, not the
      // table" — the maintenance statement a 100 TB table needs nightly.
      // Content must be INVARIANT under any scoping (the oracle hash
      // proves it); the selectivity itself (untouched non-candidates,
      // no-op on <2 candidates) is TxnSpec's pin.
      val root = optWhereHistory(s, d)
      agg(TxnTable.at(graft.sources.GraftSql.session(s, root),
        graft.plans.GraftTableFunctions.rootOf("graft.main.optw",
          graft.sources.GraftSql.session(s, root))).read())
    }),

    "t_txn_zorder" -> ((s, d) => {
      // OPTIMIZE ZORDER through the table format: lineitem's join columns
      // plus the 20-bit Morton key (p_zorder's interleave of the low 10
      // bits of l_partkey / l_orderkey), cluster-compacted on it. Each
      // output file then covers a disjoint Z-range — a rectangle in
      // (part, order) space — so the commit-time min/max stats prune a
      // 2-D range read to a file subset at PLANNING time (TxnSpec pins
      // strictness); the oracle pins the Z-quadrant read's exact content.
      val morton = (0 until 10).map { b =>
        (shiftright(col("l_partkey") % 1024, b) % 2) * (1L << (2 * b)) +
          (shiftright(col("l_orderkey") % 1024, b) % 2) * (1L << (2 * b + 1))
      }.reduce(_ + _)
      val t = TxnTable.fresh(s, scratch("txn_zorder"))
      t.append(Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .withColumn("morton", morton.cast("long")))
      t.compact(target = 4, clusterBy = Seq("morton"))
      // the (part < 512, order < 512) quadrant = Z-range [0, 2^18)
      t.readRange("morton", 0, 262143)
        .orderBy("morton", "l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")
    }),

    "t_txn_zorder_native" -> ((s, d) => {
      // the NATIVE Z-order relayout (compact(zorderBy)): unlike
      // t_txn_zorder, the user names plain columns and never computes or
      // stores a Morton key — the layout derives it, range-sorts, and
      // drops it before staging. The oracle recomputes a one-dimension
      // range read's exact content from source, so a row lost or
      // duplicated by the relayout (or a mis-pruned file — readRange
      // plans from the per-column stats the Z layout bounds) breaks the
      // hash; TxnSpec pins that BOTH dimensions prune strictly.
      val t = TxnTable.fresh(s, scratch("txn_zorder_native"))
      t.append(Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"))
      t.compact(target = 4, zorderBy = Seq("l_partkey", "l_orderkey"))
      t.readRange("l_partkey", 0, 511)
        .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    "t_txn_cdc" -> ((s, d) => {
      // row-level CHANGE DATA FEED across the DML set: merge with
      // commit-time CDC sidecar (update pre/post images + inserts),
      // then a compact (dataChange=false — must emit NOTHING), then a
      // delete. A downstream incremental consumer applies exactly these
      // rows instead of re-diffing snapshots; grouping by
      // (_change_type, _commit_version) makes the oracle pin every
      // change class to its commit — a lost pre-image, a
      // double-delivered insert, or compact rows leaking into the feed
      // all break the hash. The whole DML history is a warmed per-JVM
      // fixture (cdcFull) — the key times what a feed consumer pays,
      // the readChanges scan, not the producer's commits.
      val t = TxnTable.at(s, cdcFull(s, d))
      t.readChanges(1)
        .groupBy("_change_type", "_commit_version", "l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .orderBy("_change_type", "_commit_version", "l_returnflag")
    }),

    "t_txn_stats_prune_time" -> ((s, d) => {
      // TIME-RANGE data skipping — the dominant 100-TB scan shape: the
      // events table lands in the txn format (stage always writes
      // int64-micros timestamps, so footers carry orderable stats),
      // a time-clustered compact gives each file a disjoint ts range,
      // and readRangeTime plans only the files overlapping the window —
      // a 5-day query on a 30-day table opens a fraction of the files
      // and zero extra footers (TxnSpec pins the planned-file count).
      // The oracle recomputes the window from source: a mis-pruned file
      // loses rows, a leaked one adds them — either breaks the hash.
      val t = TxnTable.fresh(s, scratch("txn_stats_time"))
      t.append(Tables.events(s, d)
        .select("event_id", "ts", "event_type", "value"))
      t.compact(target = 6, clusterBy = Seq("ts"))
      t.readRangeTime("ts", "2024-01-10 00:00:00", "2024-01-15 00:00:00")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 10000 + 0.5).cast("long")).as("sum_bp"))
        .orderBy("event_type")
    }),

    "t_txn_incr_mv" -> ((s, d) => {
      // INCREMENTAL MATERIALIZED VIEW maintenance from the change feed —
      // what readChanges exists FOR: the grouped aggregate is
      // materialized once at v1, then two DML commits (merge, delete)
      // land, and the view is brought current by applying the feed's
      // row deltas with a sign column (+1 insert/postimage, −1
      // delete/preimage) — the TABLE IS NEVER RESCANNED. The oracle
      // recomputes the final aggregate directly from source, so any
      // wrong delta sign, missed change class, or double-applied image
      // breaks the hash. (l_quantity is integral, so the incremental
      // sum is exact — no float-association hazard vs the direct sum.)
      val t = cloneOf(s, mergedCdc(s, d), "txn_incr_mv") // v2 merge warmed
      // the view as materialized BEFORE the DML: the pre-merge snapshot,
      // read through time travel (identical content to reading the clone
      // before merging — the log IS the history)
      val mv0 = t.read(version = 1).groupBy("l_returnflag")
        .agg(count(lit(1)).as("n0"), sum("l_quantity").as("q0"))
      t.deleteWhere(col("l_quantity") > 25, cdc = true)               // v3
      val sgn = when(col("_change_type")
        .isin("insert", "update_postimage"), 1L).otherwise(-1L)
      val delta = t.readChanges(1)
        .groupBy("l_returnflag")
        .agg(sum(sgn).as("dn"), sum(sgn * col("l_quantity")).as("dq"))
      mv0.join(delta, Seq("l_returnflag"), "full_outer")
        .select(col("l_returnflag"),
          (coalesce(col("n0"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
          r4(coalesce(col("q0"), lit(0.0)) + coalesce(col("dq"), lit(0.0)))
            .as("sum_qty"))
        .filter(col("n") > 0)
        .orderBy("l_returnflag")
    }),

    "t_txn_incremental" -> ((s, d) => {
      // the change-data-feed read: a consumer that saw the table at v0
      // tails ONLY data added after it — the v1 and v3 appends. The v2
      // compact rewrote v0+v1's content into one file; a naive file-diff
      // consumer would re-deliver all of it, so the hash proves compact
      // rewrites are excluded (dataChange=false semantics).
      val t = cloneOf(s, base12(s, d), "txn_incremental")
      // v0: line 1 (already consumed), v1: line 2 (new data) — the clone
      t.compact(target = 1)       // v2 — rewrite, NOT new data
      t.append(slice(s, d, 5))    // v3 — new data
      agg(t.changesSince(0))
    }),

    "t_txn_stream_read" -> ((s, d) => {
      // the txn table as a STREAMING SOURCE (graft.sources.TxnStreamSource,
      // a v1 Source tailing the commit log — the "table as a topic" mode):
      // batch 1 delivers the two base appends, a mid-stream append arrives
      // as batch 2, and a compact in between must deliver NOTHING
      // (dataChange=false holds in streaming form too — rewritten rows
      // re-delivered would double the aggregate and break the hash). The
      // complete-mode memory sink holds the final grouped state. The
      // pre-subscription base (v0/v1 = lines 1, 2) hard-link-clones the
      // warmed base12 fixture — a real consumer tails a table whose
      // history already exists; the timed work is the tail, the
      // mid-stream commits, and the silent compact.
      val t = cloneOf(s, base12(s, d), "txn_stream_read")
      val root = t.root
      val name = "txn_stream_read_sink"
      if (s.catalog.tableExists(name)) s.catalog.dropTempView(name)
      val q = s.readStream.format("graft.sources.TxnStreamSource")
        .option("path", root).load()
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      q.processAllAvailable()                                   // batch 1
      t.compact(target = 1)                                     // v2: silent
      t.append(slice(s, d, 5))                                  // v3
      q.processAllAvailable()                                   // batch 2
      q.stop()
      s.table(name).orderBy("l_returnflag")
    }),

    "t_txn_stream_paced" -> ((s, d) => {
      // ADMISSION-CONTROLLED tail: the same feed shape as
      // t_txn_stream_read, drained under maxVersionsPerTrigger=1 +
      // Trigger.AvailableNow — the 3-version backlog arrives as
      // one-version batches (the engine supplies the position to
      // latestOffset, so the cap needs no anchor heuristics), and pacing
      // must not change WHAT arrives: the hash equals the unpaced
      // aggregate. Batch-boundary structure is StreamingSpec's pin; the
      // oracle pins content invariance under pacing.
      // v0/v1 (lines 1, 2) clone the warmed base12 fixture — the
      // backlog being drained already exists when a paced consumer
      // subscribes; only the final backlog commit is cut here
      val t = cloneOf(s, base12(s, d), "txn_stream_paced")
      val root = t.root
      t.append(slice(s, d, 5))                                  // v2
      val name = "txn_stream_paced_sink"
      if (s.catalog.tableExists(name)) s.catalog.dropTempView(name)
      val q = s.readStream.format("graft.sources.TxnStreamSource")
        .option("path", root).option("maxVersionsPerTrigger", "1").load()
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table(name).orderBy("l_returnflag")
    }),

    "t_txn_stream_drain" -> ((s, d) => {
      // Trigger.AvailableNow WITHOUT pacing — the nightly-catchup run
      // shape: one bounded drain of the whole commit backlog up to the
      // tip snapshotted at query start (prepareForTriggerAvailableNow),
      // then the query STOPS ITSELF. Content must equal the interactive
      // tail exactly (same oracle as t_txn_stream_read — lines 1, 2, 5
      // with the compact delivering nothing); the start-time cap and the
      // self-stop under a mid-drain append are StreamingSpec's pins.
      // v0/v1 (lines 1, 2) clone the warmed base12 fixture — the
      // backlog a catchup run drains already exists at subscription;
      // the compact and the final append stay in the timed region
      val t = cloneOf(s, base12(s, d), "txn_stream_drain")
      val root = t.root
      t.compact(target = 1)                                     // v2: silent
      t.append(slice(s, d, 5))                                  // v3
      val name = "txn_stream_drain_sink"
      if (s.catalog.tableExists(name)) s.catalog.dropTempView(name)
      val q = s.readStream.format("graft.sources.TxnStreamSource")
        .option("path", root).load()
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      s.table(name).orderBy("l_returnflag")
    }),

    "t_txn_stream_cdc" -> ((s, d) => {
      // STREAMING the row-level change feed (readChangeFeed=true): a
      // consumer that subscribed at version 1 receives the merge's
      // pre/post images + inserts and the delete's victims as they
      // commit, each row tagged with its commit version — the
      // incremental-materialized-view feed in streaming form. Two
      // processAllAvailable waves prove multi-batch delivery; the hash
      // pins every change class to its commit.
      val t = cloneOf(s, mergedCdc(s, d), "txn_stream_cdc") // v2 warmed
      val name = "txn_stream_cdc_sink"
      if (s.catalog.tableExists(name)) s.catalog.dropTempView(name)
      val q = s.readStream.format("graft.sources.TxnStreamSource")
        .option("path", t.root).option("readChangeFeed", "true")
        .option("startingVersion", "1").load()
        .groupBy("_change_type", "_commit_version", "l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .writeStream.format("memory").queryName(name)
        .outputMode("complete").start()
      q.processAllAvailable()                                   // feed of v2
      t.deleteWhere(col("l_quantity") > 25, cdc = true)         // v3
      q.processAllAvailable()                                   // feed of v3
      q.stop()
      s.table(name)
        .orderBy("_change_type", "_commit_version", "l_returnflag")
    }),

    "t_txn_pipeline" -> ((s, d) => {
      // the TABLE-TO-TABLE incremental pipeline, composed end to end from
      // this group's parts: source txn table → TxnStreamSource (commit-
      // version offsets) → a transformation hop → the NATIVE graft-txn
      // sink, whose (app, batch) ledger lives INSIDE the commit protocol
      // — exactly-once is the sink's property, not a user foreachBatch's.
      // The streaming checkpoint dedups source versions, the commit-log
      // tag dedups sink commits — and the crash-window replay below
      // (same app, same batch, the whole sink table as payload) must be
      // a no-op, which the oracle hash itself proves. A mid-stream
      // source append arrives as its own batch, so the hop is shown
      // INCREMENTAL, not a one-shot copy.
      val src = TxnTable.fresh(s, scratch("txn_pipe_src"))
      val dst = TxnTable.fresh(s, scratch("txn_pipe_dst"))
      // stale checkpoints pin offsets a rebuilt fixture can't serve —
      // wipe alongside the fresh tables
      val ckpt = scratch("txn_pipe_ckpt")
      Fixtures.wipe(ckpt)
      src.append(slice(s, d, 1))                                // v0
      src.append(slice(s, d, 2))                                // v1
      val appId = "txn_pipeline"
      val q = s.readStream.format("graft.sources.TxnStreamSource")
        .option("path", src.root).load()
        .filter(col("l_quantity") > 10)
        .writeStream.format("graft-txn")
        .option("path", dst.root).option("txnAppId", appId)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      q.processAllAvailable()                                   // batch 0
      src.append(slice(s, d, 5))                                // v2
      q.processAllAvailable()                                   // batch 1
      q.stop()
      // post-crash sink replay of the last batch: the ledger no-ops it
      dst.appendIdempotent(dst.read(), appId, dst.lastCommitted(appId))
      agg(dst.read())
    }),

    "t_txn_constraints" -> ((s, d) => {
      // write-time invariants: CHECK + NOT NULL constraints recorded in
      // the log after the first append (validating existing data), then
      // a second append and a merge commit THROUGH the enforcement wrap
      // — a conforming pipeline must be byte-identical to one without
      // constraints (the oracle is the plain lines-1,2,6-with-doubling
      // recomputation), proving enforcement is a pure gate, not a
      // transform. Rejection of violating batches is TxnSpec's pin (an
      // oracle can't hash a refused commit).
      val t = cloneOf(s, base12(s, d), "txn_constraints")
      t.addConstraint("qty_range", "l_quantity >= 0 AND l_quantity <= 1000")
      t.setNotNull("l_returnflag")
      t.merge(s.read.parquet(upsertSrc(s, d)),
        Seq("l_orderkey", "l_linenumber"))
      agg(t.read())
    }),

    "t_txn_null_prune" -> ((s, d) => {
      // IS NOT NULL data skipping from commit-time NULL COUNTS: an
      // optional enrichment column (non-null only on line-2 rows) lands
      // in two commits — line 1's file records all-null, line 2's
      // records zero-null — and readWhereNull plans ONLY the populated
      // file (TxnSpec pins the planned count; the oracle recomputes the
      // filter from source, so a wrongly-skipped file loses rows and a
      // leaked one adds them).
      val t = TxnTable.fresh(s, scratch("txn_null_prune"))
      val enrich = (ln: Int) => slice(s, d, ln).withColumn("disc_bp",
        when(col("l_linenumber") === 2,
          floor(col("l_quantity") * 100).cast("long")))
      t.append(enrich(1))  // v0: disc_bp all NULL
      t.append(enrich(2))  // v1: disc_bp fully populated
      t.readWhereNull("disc_bp", isNull = false)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum("disc_bp").as("sum_bp"))
        .orderBy("l_returnflag")
    }),

    "t_txn_vacuum_age" -> ((s, d) => {
      // AGE-BASED retention: vacuum with a generous retainHours keeps
      // every version inside the window even though retainVersions=1
      // would have reclaimed them — so the v1 time travel read after the
      // overwrite + vacuum still resolves (the version-only twin
      // t_txn_vacuum proves those same files DO die without the age
      // window). Age-reclaim of genuinely old versions needs a fake
      // clock and is TxnSpec's pin.
      val t = cloneOf(s, base12(s, d), "txn_vacuum_age")
      t.overwrite(slice(s, d, 6))
      t.vacuum(retainVersions = 1, retainHours = 24.0)
      agg(t.read(version = 1))
    }),

    "t_txn_sql" -> ((s, d) => {
      // the SQL/catalog surface end to end: a DSv2 TableCatalog
      // (GraftCatalog) resolves graft.main.demo, the extension rule
      // (GraftSqlRule) lowers reads onto the native snapshot plan and
      // INSERT/MERGE INTO/UPDATE/DELETE onto the transactional DML — the
      // whole six-commit history is driven by SQL text alone, and the
      // final aggregate (read back through the catalog) must equal the
      // oracle's recomputation: a mis-lowered DML, a lost commit, or a
      // wrong snapshot bind all break the hash.
      agg(sqlHistory(s, d).table("graft.main.demo"))
    }),

    "t_txn_sql_time_travel" -> ((s, d) => {
      // `SELECT ... VERSION AS OF` through the catalog: the analyzer
      // resolves the pinned version via TableCatalog.loadTable(ident,
      // version) and the read rule binds THAT snapshot — v2 is the
      // pre-merge world (the two INSERTs), which the later MERGE,
      // UPDATE and DELETE must not leak into.
      agg(sqlHistory(s, d)
        .sql("SELECT * FROM graft.main.demo VERSION AS OF 2"))
    }),

    "t_txn_sql_restore" -> ((s, d) => {
      // RESTORE as the SQL statement an operator actually types in an
      // incident: the bad overwrite at v2 is rolled back by `RESTORE
      // TABLE ... TO VERSION AS OF 1` through the delegating parser — a
      // side-effecting COMMAND (runs at execution, inert under EXPLAIN),
      // lowered onto the native metadata-only restore. The hash pins the
      // post-rollback tip content — identical to the native-API twin
      // t_txn_restore, so a mis-lowered statement cannot hide.
      val t = cloneOf(s, base12(s, d), "txn_sql_restore")
      t.overwrite(slice(s, d, 6)) // v2: the bad deploy
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(s"RESTORE TABLE '${t.root}' TO VERSION AS OF 1") // v3
      agg(t.read())
    }),

    "t_txn_sql_cdf" -> ((s, d) => {
      // the row-level change feed from SQL: `graft_changes('t', since)`
      // beside graft_history/graft_files — the incremental-view
      // consumer's SQL entry point, wrapping readChanges (the merge's
      // pre/post images + inserts at v2, the delete's victims at v3,
      // each row tagged with its commit version). Side-effect-free, so a
      // table function is the right surface; a cdc-less commit inside
      // the range throws at resolution (TxnSpec's pin).
      val t = cloneOf(s, mergedCdc(s, d), "txn_sql_cdf") // v2 merge warmed
      t.deleteWhere(col("l_quantity") > 25, cdc = true)               // v3
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(
        "SELECT _change_type, _commit_version, l_returnflag, " +
          "count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
          s"FROM graft_changes('${t.root}', 1) " +
          "GROUP BY _change_type, _commit_version, l_returnflag " +
          "ORDER BY _change_type, _commit_version, l_returnflag")
    }),

    "t_txn_sql_qualify" -> ((s, d) => {
      // QUALIFY — the rank-filter clause Spark's grammar lacks
      // (Snowflake/DuckDB dialect): the delegating parser lowers
      // `QUALIFY <pred>` onto window + filter (the predicate computed as
      // a helper column inside the original select, so it sees the same
      // scope — including the non-projected ordering column — then
      // star-excepted away after the filter). Top-2 rows per flag by
      // quantity over the SQL-driven demo table, through the WITH-led
      // shape (the CTE prefix is carried verbatim and the final SELECT
      // rewritten); the oracle runs DuckDB's NATIVE QUALIFY over the
      // recomputed final state, so a mis-lowered predicate, a leaked
      // helper column, a wrong window scope, or a mangled CTE prefix
      // breaks schema or hash.
      sqlHistory(s, d).sql(
        "WITH demo AS (SELECT * FROM graft.main.demo) " +
          "SELECT l_returnflag, l_orderkey, l_linenumber, " +
          "round(l_quantity, 4) AS qty FROM demo " +
          "QUALIFY row_number() OVER (PARTITION BY l_returnflag " +
          "ORDER BY l_quantity DESC, l_orderkey, l_linenumber) <= 2 " +
          "ORDER BY l_returnflag, qty DESC, l_orderkey, l_linenumber")
    }),

    "t_txn_sql_delete" -> ((s, d) => {
      // DELETE FROM through the PATH front door — the statement Spark's
      // grammar cannot express (`DELETE FROM '/path'`), intercepted by
      // the delegating parser and lowered onto the native deleteWhere
      // (whose discovery routes the WHERE through SkipExtract skipping;
      // TxnSpec pins the 1-of-N rewrite). Hash must equal the API twin
      // t_txn_delete exactly — a mis-lowered condition cannot hide.
      val t = cloneOf(s, base12(s, d), "txn_sql_delete")
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(s"DELETE FROM '${t.root}' WHERE l_quantity > 25")
      agg(t.read())
    }),

    "t_txn_sql_update" -> ((s, d) => {
      // UPDATE ... SET through the path front door: assignment
      // expressions over the row's own columns, lowered onto the native
      // copy-on-write update (file-granular rewrite, SkipExtract
      // discovery). Content pinned against the CASE-recomputing oracle.
      val t = cloneOf(s, base12(s, d), "txn_sql_update")
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(s"UPDATE '${t.root}' SET l_quantity = l_quantity * 2 " +
        "WHERE l_quantity > 25")
      agg(t.read())
    }),

    "t_txn_sql_merge" -> ((s, d) => {
      // MERGE INTO through the path front door (upsert-all shape): the
      // equi-key ON conjunction becomes the native merge's key list, the
      // source resolves as a view in the issuing session. Same content
      // as the API twin t_txn_merge — matched keys replaced (doubled
      // line 2), new keys inserted (line 6), untouched line 1 verbatim.
      val t = cloneOf(s, base12(s, d), "txn_sql_merge")
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.read.parquet(upsertSrc(s, d))
        .createOrReplaceTempView("sql_path_upd")
      ss.sql(s"MERGE INTO '${t.root}' t USING sql_path_upd s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      agg(t.read())
    }),

    "t_txn_sql_insert" -> ((s, d) => {
      // the path-SQL WRITE lifecycle end to end, no catalog mount:
      // CREATE TABLE '<path>' (schema-only v0), INSERT INTO (append),
      // INSERT OVERWRITE (replace), INSERT INTO again — all four
      // statements the delegating parser lowers onto create/append/
      // overwrite, read back through the log. The overwrite must erase
      // the first insert exactly (lines 2, 6 survive).
      val root = scratch("txn_sql_insert")
      Fixtures.wipe(root)
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      slice(ss, d, 1).createOrReplaceTempView("sql_ins_1")
      slice(ss, d, 2).createOrReplaceTempView("sql_ins_2")
      slice(ss, d, 6).createOrReplaceTempView("sql_ins_6")
      ss.sql(s"CREATE TABLE '$root' (${slice(ss, d, 1).schema.toDDL})")
      ss.sql(s"INSERT INTO '$root' SELECT * FROM sql_ins_1")      // v1
      ss.sql(s"INSERT OVERWRITE '$root' SELECT * FROM sql_ins_2") // v2
      ss.sql(s"INSERT INTO '$root' SELECT * FROM sql_ins_6")      // v3
      agg(TxnTable.at(s, root).read())
    }),

    "t_txn_merge_cond" -> ((s, d) => {
      // CONDITIONAL MERGE through the API (`mergeWhen` — the full
      // WHEN-clause surface): clause order is semantic, first-true
      // applies. Matched line-2 rows: qty > 40 → DELETE; else source
      // qty (= 2x) > 30 → explicit SET from a source expression; else
      // KEPT UNCHANGED (no unconditional fallback — the silent class a
      // broken clause dispatcher folds into update or delete, which the
      // hash would catch). Unmatched line-6 rows insert only under the
      // insert clause's own condition, through an explicit column/value
      // list; the rest of the source is dropped. Untouched line-1 files
      // survive verbatim (file granularity pinned in TxnSpec). The
      // MATCHED side of the source is key-deduped first (max per key,
      // doubled) — the testdata's (l_orderkey, l_linenumber) is not
      // unique and mergeWhen REFUSES matched multi-match by design;
      // unmatched line-6 dups stay, proving they insert per-row.
      val t = cloneOf(s, base12(s, d), "txn_merge_cond")
      val updates = s.read.parquet(condSrc(s, d))
        .unionByName(s.read.parquet(line6Src(s, d)))
      t.mergeWhen(updates, Seq("l_orderkey", "l_linenumber"), Seq(
        graft.sources.MergeClause.Delete(Some("t.l_quantity > 40")),
        graft.sources.MergeClause.Update(Some("s.l_quantity > 30"),
          Some(Seq("l_quantity" -> "s.l_quantity + 1"))),
        graft.sources.MergeClause.Insert(Some("s.l_quantity <= 20"),
          Some(Seq("l_orderkey" -> "s.l_orderkey",
            "l_linenumber" -> "s.l_linenumber",
            "l_returnflag" -> "s.l_returnflag",
            "l_quantity" -> "s.l_quantity + 0.5")))))
      agg(t.read())
    }),

    "t_txn_sql_merge_cond" -> ((s, d) => {
      // the SAME conditional merge through the path-SQL front door —
      // `WHEN MATCHED [AND cond] THEN DELETE | UPDATE SET c = expr`,
      // `WHEN NOT MATCHED [AND cond] THEN INSERT (cols) VALUES (exprs)`
      // — parsed by the delegating parser's clause grammar and lowered
      // onto the native mergeWhen with the statement's own aliases.
      // Hash must equal the API twin t_txn_merge_cond exactly: a
      // mis-parsed condition, a clause applied out of order, or a
      // mis-bound alias cannot hide.
      val t = cloneOf(s, base12(s, d), "txn_sql_merge_cond")
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.read.parquet(condSrc(s, d))
        .unionByName(ss.read.parquet(line6Src(s, d)))
        .createOrReplaceTempView("sql_cond_upd")
      ss.sql(s"MERGE INTO '${t.root}' t USING sql_cond_upd s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED AND t.l_quantity > 40 THEN DELETE " +
        "WHEN MATCHED AND s.l_quantity > 30 THEN UPDATE SET " +
        "l_quantity = s.l_quantity + 1 " +
        "WHEN NOT MATCHED AND s.l_quantity <= 20 THEN INSERT " +
        "(l_orderkey, l_linenumber, l_returnflag, l_quantity) VALUES " +
        "(s.l_orderkey, s.l_linenumber, s.l_returnflag, s.l_quantity + 0.5)")
      agg(t.read())
    }),

    "t_txn_sql_merge_catalog" -> ((s, d) => {
      // the same conditional clause surface through the CATALOG front
      // door: Spark's own MERGE grammar resolves the statement
      // (MergeIntoTable), GraftSqlRule rewrites the resolved clause
      // expressions into mergeWhen's t/s struct scopes. Hash must equal
      // the API twin t_txn_merge_cond — the analyzer's resolution and
      // the path parser's grammar cannot disagree on clause semantics.
      // the pre-merge base (CREATE + INSERT of lines 1+2) is the warmed
      // catmBase fixture; the run hard-link-clones its table directory
      // into this key's own catalog root, so the timed statement is the
      // MERGE itself (the measured surface), not the base rebuild
      import java.nio.file.Paths
      val base = Paths.get(catmBase(s, d)).resolve("main").resolve("condm")
      val root = scratch("txn_sqlcat_condm")
      cloneTree(base, Paths.get(root).resolve("main").resolve("condm"))
      val ss = graft.sources.GraftSql.session(s, root)
      ss.read.parquet(condSrc(s, d))
        .unionByName(ss.read.parquet(line6Src(s, d)))
        .createOrReplaceTempView("condm_upd")
      ss.sql("MERGE INTO graft.main.condm t USING condm_upd s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED AND t.l_quantity > 40 THEN DELETE " +
        "WHEN MATCHED AND s.l_quantity > 30 THEN UPDATE SET " +
        "l_quantity = s.l_quantity + 1 " +
        "WHEN NOT MATCHED AND s.l_quantity <= 20 THEN INSERT " +
        "(l_orderkey, l_linenumber, l_returnflag, l_quantity) VALUES " +
        "(s.l_orderkey, s.l_linenumber, s.l_returnflag, s.l_quantity + 0.5)")
      agg(ss.table("graft.main.condm"))
    }),

    "t_txn_merge_bysource" -> ((s, d) => {
      // WHEN NOT MATCHED BY SOURCE — the retention/tombstone side of a
      // CDC sync: the source carries ONLY the line-2 keys (deduped,
      // doubled), so every line-1 row is "not matched by source" and
      // walks the BY SOURCE clause ladder: qty > 45 → DELETE
      // (tombstone), qty < 10 → UPDATE in the target-only scope
      // (+100 flag value), else kept verbatim. Matched line-2 rows take
      // the unconditional explicit SET from the source. A dispatcher
      // that fed matched rows to the BY SOURCE ladder (or vice versa)
      // breaks the hash.
      val t = cloneOf(s, base12(s, d), "txn_merge_bysource")
      val updates = s.read.parquet(condSrc(s, d))
      t.mergeWhen(updates, Seq("l_orderkey", "l_linenumber"), Seq(
        graft.sources.MergeClause.Update(None,
          Some(Seq("l_quantity" -> "s.l_quantity"))),
        graft.sources.MergeClause.DeleteBySource(Some("t.l_quantity > 45")),
        graft.sources.MergeClause.UpdateBySource(Some("t.l_quantity < 10"),
          Seq("l_quantity" -> "t.l_quantity + 100"))))
      agg(t.read())
    }),

    "t_txn_sql_merge_bysource" -> ((s, d) => {
      // the same BY SOURCE merge through the path-SQL front door —
      // `WHEN NOT MATCHED BY SOURCE [AND cond] THEN DELETE | UPDATE SET`
      // — hash-equal to the API twin: a clause routed to the wrong row
      // class or a mis-bound target-only scope cannot hide.
      val t = cloneOf(s, base12(s, d), "txn_sql_merge_bysource")
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.read.parquet(condSrc(s, d))
        .createOrReplaceTempView("sql_bysource_upd")
      ss.sql(s"MERGE INTO '${t.root}' t USING sql_bysource_upd s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED THEN UPDATE SET l_quantity = s.l_quantity " +
        "WHEN NOT MATCHED BY SOURCE AND t.l_quantity > 45 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE AND t.l_quantity < 10 THEN UPDATE SET " +
        "l_quantity = t.l_quantity + 100")
      agg(t.read())
    }),

    "t_txn_sql_merge_path" -> ((s, d) => {
      // MERGE whose source is a quoted PATH (`USING '<dir>'`) — the
      // landing-zone shape: the staged batch sits in a parquet directory,
      // no view registration, no catalog. Same upsert-all content as
      // t_txn_sql_merge, so the hash pins that the path source reads
      // byte-identically to the view source.
      val t = cloneOf(s, base12(s, d), "txn_sql_merge_path")
      val srcDir = upsertSrc(s, d)
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(s"MERGE INTO '${t.root}' t USING '$srcDir' s " +
        "ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
      agg(t.read())
    }),

    "t_txn_sql_ctas" -> ((s, d) => {
      // path CTAS: `CREATE TABLE '<path>' AS SELECT` bootstraps schema
      // AND data in one statement (v0 create from the query's schema,
      // v1 append), then the created table behaves like any other —
      // the follow-up INSERT INTO proves it. The IF NOT EXISTS re-run
      // in between must be a pure no-op: a CTAS that re-appended on
      // re-run would double lines 1-2 and break the hash.
      val root = scratch("txn_sql_ctas")
      Fixtures.wipe(root)
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      slice(ss, d, 1).unionByName(slice(ss, d, 2))
        .createOrReplaceTempView("sql_ctas_src")
      slice(ss, d, 6).createOrReplaceTempView("sql_ctas_6")
      ss.sql(s"CREATE TABLE '$root' USING `graft-txn` AS " +
        "SELECT * FROM sql_ctas_src")
      ss.sql(s"CREATE TABLE IF NOT EXISTS '$root' AS " +
        "SELECT * FROM sql_ctas_src") // idempotent re-run: no-op
      ss.sql(s"INSERT INTO '$root' SELECT * FROM sql_ctas_6")
      agg(TxnTable.at(s, root).read())
    }),

    "t_txn_sql_ddl" -> ((s, d) => {
      // ALTER TABLE DDL through the path front door, composed the way a
      // schema migration actually runs: declare a generated column, add
      // a CHECK constraint (which validates existing data and bumps the
      // writer protocol — TxnSpec pins the gate), declare write-time
      // clustering, rename a column — all metadata-only commits — then
      // append through the evolved rules. The read back must show NULL
      // generated values on pre-declaration rows, computed ones on the
      // new append, and the renamed column everywhere.
      val t = cloneOf(s, base12(s, d), "txn_sql_ddl")
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(s"ALTER TABLE '${t.root}' ADD COLUMN qty_bp BIGINT " +
        "GENERATED ALWAYS AS (CAST(floor(l_quantity * 100) AS BIGINT))")
      ss.sql(s"ALTER TABLE '${t.root}' ADD CONSTRAINT qty_pos " +
        "CHECK (l_quantity >= 0)")
      ss.sql(s"ALTER TABLE '${t.root}' SET TBLPROPERTIES " +
        "('graft.clusterBy' = 'l_orderkey')")
      ss.sql(s"ALTER TABLE '${t.root}' RENAME COLUMN l_returnflag TO flag")
      t.append(slice(s, d, 6).withColumnRenamed("l_returnflag", "flag"))
      t.read().groupBy("flag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"),
          count("qty_bp").as("n_bp"),
          sum("qty_bp").cast("bigint").as("sum_bp"))
        .orderBy("flag")
    }),

    "t_txn_identity" -> ((s, d) => {
      // GENERATED ALWAYS AS IDENTITY: ids allocate DENSELY above the
      // log-recorded high water, atomically with each data commit, and
      // keep rising across appends. WHICH row got which id is
      // partition-order dependent (and must be — a global sort per
      // append would be a scale bug), so the key pins the allocation's
      // set invariants instead: pre-declaration rows read NULL, the
      // allocated ids are exactly {1..n} (min/max/sum over a dense range
      // determine it uniquely), and the count matches the rows appended
      // after the declaration. Disjointness under racing writers is
      // TxnSpec's pin.
      val t = cloneOf(s, base12(s, d), "txn_identity")
      t.addIdentityColumn("row_id") // start 1, step 1
      t.append(slice(s, d, 6))
      t.append(slice(s, d, 5))
      t.read().agg(count(lit(1)).as("n_rows"), count("row_id").as("n_ids"),
        min("row_id").as("id_min"), max("row_id").as("id_max"),
        sum("row_id").cast("bigint").as("id_sum"))
    }),

    "t_txn_cluster_write" -> ((s, d) => {
      // WRITE-TIME clustering: the declared `graft.clusterBy` property
      // range-sorts EVERY staged append (and defaults merge/optimize),
      // so the streaming tail stays point-read-prunable between
      // OPTIMIZE runs instead of eroding commit by commit. Layout must
      // be content-neutral: the oracle recomputes the range filter from
      // source, so a row lost or duplicated by the re-sort breaks the
      // hash (the planned-file subset itself is TxnSpec's pin).
      val t = TxnTable.fresh(s, scratch("txn_cluster_write"))
      t.append(slice(s, d, 1))                                  // v0
      t.setProperties(Map("graft.clusterBy" -> "l_orderkey"))   // v1
      t.append(slice(s, d, 2).repartition(4))                   // v2
      t.append(slice(s, d, 6).repartition(2))                   // v3
      agg(t.readRange("l_orderkey", 0, 3000))
    }),

    "t_txn_update_dv" -> ((s, d) => {
      // merge-on-read UPDATE in the shape DVs exist for: a NARROW
      // assignment (~quarter of rows) whose matches spread across every
      // file — copy-on-write would rewrite all touched files, the DV
      // path writes a KB sidecar + just the post-image rows, in ONE
      // commit (no read sees old and new images together). The read
      // prices the MOR side: DV anti-join + the appended post-images,
      // which the oracle hash pins exactly; CoW equivalence, file
      // immobility and compact materialization are TxnSpec's pins.
      val t = cloneOf(s, base12(s, d), "txn_update_dv")
      t.update(Map("l_quantity" -> (col("l_quantity") * 2)),
        col("l_quantity") > 25, dv = true)
      agg(t.read())
    }),

    "t_txn_clone" -> ((s, d) => {
      // ZERO-COPY CLONE through the SQL statement: live files hard-link
      // into the destination (no data bytes move), the fresh log re-adds
      // them with recovered stats/schema — and the CLONE's read must
      // equal the source snapshot exactly (the oracle recomputes it from
      // source slices). Link independence, constraint/property carriage
      // and divergence are TxnSpec's pins.
      val src = cloneOf(s, base12(s, d), "txn_clone_src")
      val dstRoot = scratch("txn_clone_dst")
      Fixtures.wipe(dstRoot)
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(s"CREATE TABLE '$dstRoot' CLONE '${src.root}'")
      agg(TxnTable.at(s, dstRoot).read())
    }),

    "t_txn_bloom_prune" -> ((s, d) => {
      // BLOOM-FILTER file skipping for point lookups on an UNCLUSTERED
      // high-cardinality string key (`tag` = 't' + orderkey): the
      // declared `graft.bloomBy` column gets a parquet bloom per staged
      // file, and readWhereEq drops files the bloom proves key-free at
      // PLANNING time — the skipping min/max cannot give (every file's
      // [min, max] string range covers everything). The oracle recomputes
      // the point lookup from source, so a false-NEGATIVE prune (lost
      // rows — the only unsound failure) breaks the hash; the
      // planned-file subset itself is TxnSpec's pin.
      val tagged = (ln: Int) => slice(s, d, ln)
        .withColumn("tag", concat(lit("t"), col("l_orderkey")))
      val t = TxnTable.fresh(s, scratch("txn_bloom"))
      t.append(tagged(1))                                 // v0: pre-bloom
      t.setProperties(Map("graft.bloomBy" -> "tag"))      // v1
      t.append(tagged(2).repartition(4))                  // v2: bloomed
      val kRow = Tables.lineitem(s, d).filter(col("l_linenumber") === 2)
        .agg(min("l_orderkey")).head()
      // empty input: no line-2 rows — probe any key, result is 0 rows
      val k = if (kRow.isNullAt(0)) 0L else kRow.getLong(0)
      t.readWhereEq("tag", s"t$k")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "t_txn_merge_evolve" -> ((s, d) => {
      // MERGE schema auto-evolution (the autoMerge semantics): an update
      // batch carrying an ADDITIVE column evolves the log schema in the
      // SAME merge commit — untouched pre-evolution files read the new
      // column as NULL through the column mapping (no rewrite), matched
      // rows replace, new keys insert. The aggregate carries the evolved
      // column's non-null count and sum, so a lost evolution (merge
      // refusing / dropping the column) or a wrong NULL backfill breaks
      // the hash; retype rejection is TxnSpec's pin.
      val t = cloneOf(s, base12(s, d), "txn_merge_evolve")
      val updates = s.read.parquet(upsertSrc(s, d))
        .withColumn("disc_bp", floor(col("l_quantity") * 100).cast("long"))
      t.merge(updates, Seq("l_orderkey", "l_linenumber"))
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"),
          count(col("disc_bp")).as("n_disc"), sum("disc_bp").as("sum_disc"))
        .orderBy("l_returnflag")
    }),

    "t_txn_analyze" -> ((s, d) => {
      // METADATA-ONLY statistics after a DML history: ANALYZE TABLE
      // surfaces the commit log's exact row count + the stats fold's
      // per-column bounds with NO scan (the log is the statistics
      // store), and the key pins them against the data itself — the
      // stats row count rides next to a real count(*), and the
      // l_orderkey bounds next to the oracle's min/max recomputation,
      // so stale or DV-blind statistics break the hash. This is what
      // feeds the CBO on every snapshot read (TxnSpec pins the
      // optimizer-visible rowCount); here the oracle pins the numbers.
      val t = cloneOf(s, base12(s, d), "txn_analyze")
      t.deleteWhere(col("l_quantity") > 25) // v2: copy-on-write rewrite
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      val analyzed = ss.sql(s"ANALYZE TABLE '${t.root}' COMPUTE STATISTICS")
        .head()
      val st = t.tableStats()
      // an EMPTY table has no column bounds — surface SQL-style NULLs,
      // exactly what the oracle's min()/max() return on zero rows
      val mm = st.colMinMax.get("l_orderkey")
      import s.implicits._
      Seq((analyzed.getLong(0), t.read().count(),
        mm.map(_._1.toLong), mm.map(_._2.toLong)))
        .toDF("row_count", "n_rows", "min_okey", "max_okey")
    }),

    "t_txn_stream_ingest" -> ((s, d) => {
      // the 100 TB streaming-ingest operating mode, composed end to end:
      // bus topic → DSv2 micro-batch reader → foreachBatch
      // appendIdempotent into the transactional table. Exactly-once
      // without a distributed lock: the streaming checkpoint dedups
      // SOURCE offsets, the txn=app:batch tag in the commit log dedups
      // SINK commits, so a crash in the classic at-least-once window
      // (sink committed, checkpoint not yet advanced) replays the batch
      // into a no-op. The replay is exercised EXPLICITLY below with the
      // whole table as its payload, so the oracle hash itself proves the
      // skip — a double-applied batch would double the aggregate.
      val topic = s"graft_txn_bus_${java.util.UUID.randomUUID().toString.take(8)}"
      graft.sources.BusBroker.create(topic, 4)
      val t = TxnTable.fresh(s, scratch("txn_stream_ingest"))
      val appId = "txn_stream_ingest"
      def publish(parity: Int): Unit =
        Tables.events(s, d).filter(col("user_id") % 2 === parity)
          .select(col("user_id").cast("string").as("k"),
            concat_ws(",", col("event_type"),
              floor(col("value") * 10000 + 0.5).cast("long").cast("string")).as("v"))
          .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
            it.foreach { r =>
              graft.sources.BusBroker.publish(topic, r.getString(0), r.getString(1))
              ()
            }
          }
      val q = s.readStream.format("graft.sources.BusSource")
        .option("topic", topic).load()
        .select(split(col("value"), ",").as("p"))
        .select(col("p").getItem(0).as("event_type"),
          col("p").getItem(1).cast("long").as("bp"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          t.appendIdempotent(df, appId, id)
          ()
        }.start()
      publish(0); q.processAllAvailable() // wave A → batch 0
      publish(1); q.processAllAvailable() // wave B → batch 1
      q.stop()
      graft.sources.BusBroker.delete(topic)
      // post-crash foreachBatch replay of the last batch: same (app,
      // batch) → no-op, even with the full table offered as payload
      t.appendIdempotent(t.read(), appId, t.lastCommitted(appId))
      t.read().groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("bp").as("sum_bp"))
        .orderBy("event_type")
    }),

    "t_txn_sql_prune" -> ((s, d) => {
      // the PLAIN SQL read path rides the commit-log FILE skipping: the
      // analysis rule (GraftSqlRule) extracts the WHERE clause's
      // prunable conjuncts and plans only the files whose commit-time
      // [min, max] stats can intersect — on this cluster-compacted
      // table the BETWEEN plans a strict subset of the 4 range-disjoint
      // files (TxnSpec pins the planned count equals the native
      // readRange's), while the untouched Filter above re-applies the
      // exact predicate. The oracle recomputes from source, so a
      // wrongly-skipped file loses rows and hash-fails — pruning must
      // be invisible in content, visible only in planned files.
      val ss = sqlPruneHistory(s, d)
      ss.sql("SELECT l_returnflag, count(*) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty FROM graft.main.pruned " +
        "WHERE l_orderkey BETWEEN 0 AND 3000 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
    }),

    "t_txn_decimal_prune" -> ((s, d) => {
      // MONEY-TYPED file skipping: the commit-time stats record
      // int64-backed DECIMAL bounds as exact logical values
      // (BigDecimal(unscaled, scale)), SkipExtract lowers the BETWEEN
      // on the DECIMAL(12,2) column into that same space, and the
      // cluster-compacted layout plans a strict subset of the 4 files
      // (TxnSpec pins the count; the oracle recomputes from source so a
      // wrongly-skipped file loses rows and hash-fails). This is the
      // fine/fee column every billing table has — before this key, a
      // decimal-clustered column got NO min/max pruning at all.
      val ss = decimalHistory(s, d)
      ss.sql("SELECT l_returnflag, count(*) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty, " +
        "round(sum(CAST(l_fine AS DOUBLE)), 4) AS sum_fine " +
        "FROM graft.main.money " +
        "WHERE l_fine BETWEEN 100.25 AND 3000.25 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
    }),

    "t_txn_where_in" -> ((s, d) => {
      // IN-LIST point skipping, stats and blooms COMPOSED PER VALUE: a
      // file survives if ANY listed key admits it — the GDPR/debug
      // `WHERE key IN (...)` shape readWhereEq could not serve. The
      // probe keys are the smallest and largest line-2 orderkey tags on
      // a bloomed unclustered string column; the oracle recomputes the
      // two point lookups from source, so a false-negative prune (the
      // only unsound failure) loses rows and breaks the hash. The
      // planned-file subset is TxnSpec's pin.
      val tagged = (ln: Int) => slice(s, d, ln)
        .withColumn("tag", concat(lit("t"), col("l_orderkey")))
      val t = TxnTable.fresh(s, scratch("txn_where_in"))
      t.append(tagged(1))                             // v0: pre-bloom
      t.setProperties(Map("graft.bloomBy" -> "tag"))  // v1
      t.append(tagged(2).repartition(4))              // v2: bloomed
      val ks = Tables.lineitem(s, d).filter(col("l_linenumber") === 2)
        .agg(min("l_orderkey"), max("l_orderkey")).head()
      // empty input: no line-2 rows — probe any two keys, result empty
      val (kmin, kmax) =
        if (ks.isNullAt(0)) (0L, 0L) else (ks.getLong(0), ks.getLong(1))
      t.readWhereIn("tag", Seq(s"t$kmin", s"t$kmax"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    "t_txn_copy_into" -> ((s, d) => {
      // COPY INTO — idempotent batch ingest as ONE SQL statement: each
      // source file appends under its own ledger tag (copy:<path> +
      // mtime fingerprint), so the REPLAYED statement below skips every
      // file as a log-metadata no-op. The oracle hash itself proves the
      // idempotency: a double-applied COPY would double every aggregate.
      val srcDir = scratch("txn_copy_src")
      slice(s, d, 1).coalesce(1).write.mode("overwrite").parquet(srcDir)
      slice(s, d, 2).coalesce(1).write.mode("append").parquet(srcDir)
      val t = TxnTable.fresh(s, scratch("txn_copy_into"))
      t.create(slice(s, d, 1).schema)
      val ss = graft.sources.GraftSql.session(s, scratch("txn_sqlaux"))
      ss.sql(s"COPY INTO '${t.root}' FROM '$srcDir'")
      ss.sql(s"COPY INTO '${t.root}' FROM '$srcDir' FILEFORMAT = PARQUET")
      agg(t.read())
    }),

    "t_txn_generated" -> ((s, d) => {
      // GENERATED ALWAYS AS column, declared on a table that already
      // holds rows: pre-declaration rows read NULL through the column
      // mapping (no rewrite), the append computes the column at stage
      // time, and the merge computes it on its update/insert side — the
      // aggregate carries the generated column's non-null count and sum
      // per group, so a missed computation, a stale stored value, or a
      // wrong NULL backfill all break the hash. Rejection of a batch
      // that writes the column EXPLICITLY is TxnSpec's pin (an oracle
      // cannot hash a refused commit).
      val t = cloneOf(s, base12(s, d), "txn_generated")
      t.addGeneratedColumn("qty_bp", org.apache.spark.sql.types.LongType,
        "CAST(floor(l_quantity * 100) AS BIGINT)")        // v2: metadata
      t.append(slice(s, d, 6))                            // v3: computed
      val updates = slice(s, d, 2)
        .withColumn("l_quantity", col("l_quantity") * 2)
      t.merge(updates, Seq("l_orderkey", "l_linenumber")) // v4: computed
      t.read().groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), r4(sum("l_quantity")).as("sum_qty"),
          count(col("qty_bp")).as("n_bp"), sum("qty_bp").as("sum_bp"))
        .orderBy("l_returnflag")
    }),

    "t_txn_time_fn_prune" -> ((s, d) => {
      // TIME-FUNCTION file skipping through plain SQL: `year(ts) = Y` and
      // `CAST(ts AS DATE) BETWEEN d1 AND d2` — the predicates users type
      // for "this week's data" — invert (SkipExtract.TimeInvert) onto the
      // ts column's raw micros stats, so the week's query plans the
      // week's files on a time-clustered table. The oracle recomputes the
      // same predicates from source: a wrong inversion (an unsound
      // boundary, a dropped DST/UTC instant) loses or gains rows and
      // breaks the hash. The planned-file pin is TxnSpec's.
      val ss = timeFnHistory(s, d)
      ss.sql("SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_v " +
        "FROM graft.main.timefn WHERE year(ts) = 2024 " +
        "AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14' " +
        "GROUP BY event_type ORDER BY event_type")
    }),

    "t_txn_count_meta" -> ((s, d) => {
      // metadata-only COUNT(*): the analysis rule answers an unfiltered
      // `SELECT count(*)` over a graft table straight from the commit
      // log — live files' #rows stats minus deletion-vector rows — so a
      // 100 TB row count costs a KB metadata fold, not a scan. The
      // fixture stacks every term of that arithmetic: plain appends
      // (#rows), a merge-on-read UPDATE (DV old images + staged
      // post-image adds, net zero), and a DV DELETE (net negative);
      // the oracle recomputes the surviving-row count from source, so a
      // wrong stats sum, a missed DV subtraction, or a double-counted
      // post-image all break the one-row hash. The no-scan proof (count
      // survives data files deleted from disk) is TxnSpec's pin.
      graft.sources.GraftSql.session(s, cntMetaHistory(s, d))
        .sql("SELECT count(*) AS n FROM graft.main.cnt")
    }),

    "t_txn_or_prune" -> ((s, d) => {
      // OR-tree file skipping through plain SQL: a disjunction whose
      // every arm extracts (two BETWEEN windows here) plans the UNION
      // of the arms' file sets — the multi-window scan shape (compare
      // two months, audit two key ranges) that conjunct-only skipping
      // scans the whole table for. Reuses the warmed clustered fixture;
      // the oracle recomputes both windows from source, so an arm
      // dropped or a window boundary misread loses rows and breaks the
      // hash. Planned-file pins (2-of-4, opaque-arm poisoning, DML
      // discovery, bridge disjunction) are TxnSpec's.
      val ss = sqlPruneHistory(s, d)
      ss.sql("SELECT l_returnflag, count(*) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty FROM graft.main.pruned " +
        "WHERE l_orderkey BETWEEN 0 AND 1500 " +
        "OR l_orderkey BETWEEN 4000 AND 6000 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
    }),

    "t_txn_str_prune" -> ((s, d) => {
      // STRING file skipping through plain SQL: the commit log records
      // per-file UTF8_BINARY [min, max] bounds for string columns
      // ("#str" footer stats — valid under parquet's truncation
      // contract), so a WHERE range on a string-clustered key plans a
      // strict file subset exactly like the numeric paths. The oracle
      // recomputes the tagged range from source: a wrong byte-order
      // comparison, a truncation-unsafe bound, or a dropped multibyte
      // edge loses rows and breaks the hash. Planned-file counts (eq /
      // range / IN / prefix, SQL + native + bridge) are TxnSpec's pins.
      val ss = strPruneHistory(s, d)
      ss.sql("SELECT l_returnflag, count(*) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty FROM graft.main.strpruned " +
        "WHERE tag >= 't00000000' AND tag <= 't00003000' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag")
    }),

    "t_txn_minmax_meta" -> ((s, d) => {
      // metadata-only MIN/MAX beside the count: on a DV-free table whose
      // live files all carry complete stats, integral/timestamp extremes
      // answer from the commit-log fold (footer min/max are EXACT
      // attained values for these types) — the freshness-watermark
      // statement (`SELECT max(ts) FROM t`) at KB metadata cost. The
      // oracle recomputes the extremes from source, so a stats fold that
      // widened, clipped, or grabbed a neighboring file's bound breaks
      // the hash. The no-scan proof and the refusals (DV active, string
      // column, incomplete stats) are TxnSpec's pins.
      val ss = timeFnHistory(s, d)
      ss.sql("SELECT min(ts) AS ts_min, max(ts) AS ts_max, " +
        "min(event_id) AS id_min, max(event_id) AS id_max, count(*) AS n " +
        "FROM graft.main.timefn")
    }))

  val oracle: Map[String, String] = Map(
    "t_txn_snapshot" -> oracleAgg("l_linenumber IN (3, 4, 5)"),
    "t_txn_manifest" -> oracleAgg("l_linenumber IN (3, 4, 5)"),
    "t_txn_time_travel" -> oracleAgg("l_linenumber IN (1, 2)"),
    "t_txn_time_travel_ts" -> oracleAgg("l_linenumber IN (1, 2)"),
    "t_txn_log_audit" ->
      ("SELECT CAST(0 AS BIGINT) AS version, 'append' AS action, " +
        "(SELECT count(*) FROM lineitem WHERE l_linenumber = 1) AS n_rows " +
        "UNION ALL SELECT 1, 'append', " +
        "(SELECT count(*) FROM lineitem WHERE l_linenumber = 2) " +
        "UNION ALL SELECT 2, 'overwrite', " +
        "(SELECT count(*) FROM lineitem WHERE l_linenumber IN (3, 4)) " +
        "UNION ALL SELECT 3, 'append', " +
        "(SELECT count(*) FROM lineitem WHERE l_linenumber = 5) " +
        "ORDER BY version"),
    "t_txn_compact" -> oracleAgg("l_linenumber IN (1, 2)"),
    "t_txn_vacuum" -> oracleAgg("l_linenumber = 6"),
    "t_txn_incremental" -> oracleAgg("l_linenumber IN (2, 5)"),
    "t_txn_restore" -> oracleAgg("l_linenumber IN (1, 2)"),
    "t_txn_checkpoint" -> oracleAgg("l_linenumber IN (1, 2, 6)"),
    "t_txn_rename" -> oracleAgg("l_linenumber IN (1, 2)"),
    "t_txn_optimize" -> oracleAgg("l_linenumber IN (1, 2)"),
    // scoped compaction must be content-invisible: same plain union
    "t_txn_optimize_where" -> oracleAgg("l_linenumber IN (1, 2)"),
    "t_txn_format_rw" -> oracleAgg("l_linenumber IN (1, 2)"),
    "t_txn_zorder" -> {
      val morton = (0 until 10).map { b =>
        s"(((l_partkey % 1024) >> $b) % 2) * ${1L << (2 * b)} + " +
          s"(((l_orderkey % 1024) >> $b) % 2) * ${1L << (2 * b + 1)}"
      }.mkString("(", " + ", ")")
      "SELECT * FROM (SELECT l_orderkey, l_linenumber, l_partkey, " +
        s"l_suppkey, CAST($morton AS BIGINT) AS morton FROM lineitem) " +
        "WHERE morton BETWEEN 0 AND 262143 " +
        "ORDER BY morton, l_orderkey, l_linenumber, l_partkey, l_suppkey"
    },
    "t_txn_zorder_native" ->
      ("SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey FROM lineitem " +
        "WHERE l_partkey BETWEEN 0 AND 511 " +
        "ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"),
    "t_txn_stream_read" -> oracleAgg("l_linenumber IN (1, 2, 5)"),
    "t_txn_stream_paced" -> oracleAgg("l_linenumber IN (1, 2, 5)"),
    // the unpaced AvailableNow drain delivers exactly the tail's content
    "t_txn_stream_drain" -> oracleAgg("l_linenumber IN (1, 2, 5)"),
    "t_txn_pipeline" ->
      oracleAgg("l_linenumber IN (1, 2, 5) AND l_quantity > 10"),
    // the view brought current by deltas must equal the direct aggregate
    // over the final table content (post-merge values, deletes applied)
    "t_txn_incr_mv" ->
      ("WITH merged AS (" +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2 FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 6) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM merged WHERE NOT l_quantity > 25 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // same change classes as t_txn_cdc, but streamed: the delete commits
    // at v3 here (no compact in this fixture)
    "t_txn_stream_cdc" ->
      ("WITH merged AS (" +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2 FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 6) " +
        "SELECT * FROM (" +
        "SELECT 'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version, " +
        "l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM lineitem WHERE l_linenumber = 2 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'update_postimage', 2, l_returnflag, count(*), " +
        "round(sum(l_quantity * 2), 4) FROM lineitem WHERE l_linenumber = 2 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'insert', 2, l_returnflag, count(*), " +
        "round(sum(l_quantity), 4) FROM lineitem WHERE l_linenumber = 6 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'delete', 3, l_returnflag, count(*), " +
        "round(sum(l_quantity), 4) FROM merged WHERE l_quantity > 25 GROUP BY l_returnflag" +
        ") ORDER BY _change_type, _commit_version, l_returnflag"),
    // the feed, change class by change class: the merge's images at v2,
    // the delete's victims at v4 (computed over the post-merge content),
    // and NOTHING from the v3 compact
    "t_txn_cdc" ->
      ("WITH merged AS (" +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2 FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 6) " +
        "SELECT * FROM (" +
        "SELECT 'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version, " +
        "l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM lineitem WHERE l_linenumber = 2 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'update_postimage', 2, l_returnflag, count(*), " +
        "round(sum(l_quantity * 2), 4) FROM lineitem WHERE l_linenumber = 2 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'insert', 2, l_returnflag, count(*), " +
        "round(sum(l_quantity), 4) FROM lineitem WHERE l_linenumber = 6 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'delete', 4, l_returnflag, count(*), " +
        "round(sum(l_quantity), 4) FROM merged WHERE l_quantity > 25 GROUP BY l_returnflag" +
        ") ORDER BY _change_type, _commit_version, l_returnflag"),
    "t_txn_delete" ->
      oracleAgg("l_linenumber IN (1, 2) AND NOT (l_quantity > 25)"),
    // retention sweep on the cluster column: survivors are exactly the
    // rows at-or-above the half-range cutoff (metadata-only file drops
    // are a physical detail the content hash must be blind to); `//` is
    // DuckDB integer division, matching the Spark side's Long / 2
    "t_txn_delete_filedrop" ->
      oracleAgg("l_linenumber IN (1, 2) AND l_orderkey >= " +
        "(SELECT max(l_orderkey) // 2 FROM lineitem " +
        "WHERE l_linenumber IN (1, 2))"),
    // the path-SQL front door must land exactly where the API twins land
    "t_txn_sql_delete" ->
      oracleAgg("l_linenumber IN (1, 2) AND NOT (l_quantity > 25)"),
    "t_txn_sql_update" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(" +
        "CASE WHEN l_quantity > 25 THEN l_quantity * 2 ELSE l_quantity END" +
        "), 4) AS sum_qty FROM lineitem WHERE l_linenumber IN (1, 2) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "t_txn_sql_merge" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(" +
        "CASE WHEN l_linenumber = 2 THEN l_quantity * 2 ELSE l_quantity END" +
        "), 4) AS sum_qty FROM lineitem WHERE l_linenumber IN (1, 2, 6) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // INSERT OVERWRITE erased the line-1 insert; lines 2, 6 survive
    "t_txn_sql_insert" -> oracleAgg("l_linenumber IN (2, 6)"),
    // conditional clauses, first-true per row: matched line-2 rows with
    // qty > 40 deleted; else source qty (2x) > 30 → set to 2x+1; else
    // kept; line-6 rows insert (qty + 0.5) only when qty <= 20; line-1
    // untouched
    "t_txn_merge_cond" ->
      ("WITH sm AS (SELECT l_orderkey, l_linenumber, " +
        "max(l_quantity) * 2 AS sq FROM lineitem WHERE l_linenumber = 2 " +
        "GROUP BY l_orderkey, l_linenumber), " +
        "r AS (" +
        "SELECT l_returnflag, l_quantity AS q FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l.l_returnflag, CASE WHEN sm.sq > 30 " +
        "THEN sm.sq + 1 ELSE l.l_quantity END " +
        "FROM lineitem l JOIN sm ON l.l_orderkey = sm.l_orderkey " +
        "AND l.l_linenumber = sm.l_linenumber " +
        "WHERE l.l_linenumber = 2 AND NOT (l.l_quantity > 40) " +
        "UNION ALL SELECT l_returnflag, l_quantity + 0.5 " +
        "FROM lineitem WHERE l_linenumber = 6 AND l_quantity <= 20) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(q), 4) AS sum_qty " +
        "FROM r GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the SQL twin must land exactly where the API twin lands
    "t_txn_sql_merge_cond" ->
      ("WITH sm AS (SELECT l_orderkey, l_linenumber, " +
        "max(l_quantity) * 2 AS sq FROM lineitem WHERE l_linenumber = 2 " +
        "GROUP BY l_orderkey, l_linenumber), " +
        "r AS (" +
        "SELECT l_returnflag, l_quantity AS q FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l.l_returnflag, CASE WHEN sm.sq > 30 " +
        "THEN sm.sq + 1 ELSE l.l_quantity END " +
        "FROM lineitem l JOIN sm ON l.l_orderkey = sm.l_orderkey " +
        "AND l.l_linenumber = sm.l_linenumber " +
        "WHERE l.l_linenumber = 2 AND NOT (l.l_quantity > 40) " +
        "UNION ALL SELECT l_returnflag, l_quantity + 0.5 " +
        "FROM lineitem WHERE l_linenumber = 6 AND l_quantity <= 20) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(q), 4) AS sum_qty " +
        "FROM r GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the catalog route lands exactly where the API twin lands
    "t_txn_sql_merge_catalog" ->
      ("WITH sm AS (SELECT l_orderkey, l_linenumber, " +
        "max(l_quantity) * 2 AS sq FROM lineitem WHERE l_linenumber = 2 " +
        "GROUP BY l_orderkey, l_linenumber), " +
        "r AS (" +
        "SELECT l_returnflag, l_quantity AS q FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l.l_returnflag, CASE WHEN sm.sq > 30 " +
        "THEN sm.sq + 1 ELSE l.l_quantity END " +
        "FROM lineitem l JOIN sm ON l.l_orderkey = sm.l_orderkey " +
        "AND l.l_linenumber = sm.l_linenumber " +
        "WHERE l.l_linenumber = 2 AND NOT (l.l_quantity > 40) " +
        "UNION ALL SELECT l_returnflag, l_quantity + 0.5 " +
        "FROM lineitem WHERE l_linenumber = 6 AND l_quantity <= 20) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(q), 4) AS sum_qty " +
        "FROM r GROUP BY l_returnflag ORDER BY l_returnflag"),
    // matched line-2 rows take the source value (2 x max per key);
    // line-1 rows are NOT MATCHED BY SOURCE: qty > 45 deleted,
    // qty < 10 gets +100, the rest unchanged
    "t_txn_merge_bysource" ->
      ("WITH sm AS (SELECT l_orderkey, l_linenumber, " +
        "max(l_quantity) * 2 AS sq FROM lineitem WHERE l_linenumber = 2 " +
        "GROUP BY l_orderkey, l_linenumber), " +
        "r AS (" +
        "SELECT l.l_returnflag, sm.sq AS q " +
        "FROM lineitem l JOIN sm ON l.l_orderkey = sm.l_orderkey " +
        "AND l.l_linenumber = sm.l_linenumber WHERE l.l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, " +
        "CASE WHEN l_quantity < 10 THEN l_quantity + 100 " +
        "ELSE l_quantity END " +
        "FROM lineitem WHERE l_linenumber = 1 AND NOT (l_quantity > 45)) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(q), 4) AS sum_qty " +
        "FROM r GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the SQL twin must land exactly where the API twin lands
    "t_txn_sql_merge_bysource" ->
      ("WITH sm AS (SELECT l_orderkey, l_linenumber, " +
        "max(l_quantity) * 2 AS sq FROM lineitem WHERE l_linenumber = 2 " +
        "GROUP BY l_orderkey, l_linenumber), " +
        "r AS (" +
        "SELECT l.l_returnflag, sm.sq AS q " +
        "FROM lineitem l JOIN sm ON l.l_orderkey = sm.l_orderkey " +
        "AND l.l_linenumber = sm.l_linenumber WHERE l.l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, " +
        "CASE WHEN l_quantity < 10 THEN l_quantity + 100 " +
        "ELSE l_quantity END " +
        "FROM lineitem WHERE l_linenumber = 1 AND NOT (l_quantity > 45)) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(q), 4) AS sum_qty " +
        "FROM r GROUP BY l_returnflag ORDER BY l_returnflag"),
    // path-sourced MERGE reads byte-identically to the view source
    "t_txn_sql_merge_path" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(" +
        "CASE WHEN l_linenumber = 2 THEN l_quantity * 2 ELSE l_quantity END" +
        "), 4) AS sum_qty FROM lineitem WHERE l_linenumber IN (1, 2, 6) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // CTAS lands lines 1-2 exactly once (IF NOT EXISTS re-run no-op),
    // the follow-up insert adds line 6
    "t_txn_sql_ctas" -> oracleAgg("l_linenumber IN (1, 2, 6)"),
    // lines 1, 2 predate the generated-column declaration (NULL qty_bp),
    // line 6 appends through it; l_returnflag reads back as `flag`
    "t_txn_sql_ddl" ->
      ("WITH m AS (" +
        "SELECT l_returnflag AS flag, l_quantity, CAST(NULL AS BIGINT) AS qty_bp " +
        "FROM lineitem WHERE l_linenumber IN (1, 2) " +
        "UNION ALL SELECT l_returnflag, l_quantity, " +
        "CAST(floor(l_quantity * 100) AS BIGINT) " +
        "FROM lineitem WHERE l_linenumber = 6) " +
        "SELECT flag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty, " +
        "count(qty_bp) AS n_bp, CAST(sum(qty_bp) AS BIGINT) AS sum_bp " +
        "FROM m GROUP BY flag ORDER BY flag"),
    // dense allocation invariants: ids of the post-declaration appends
    // are exactly {1..n} (count/min/max/sum pin the set), pre-declaration
    // rows read NULL
    "t_txn_identity" ->
      ("WITH k AS (SELECT count(*) AS c FROM lineitem " +
        "WHERE l_linenumber IN (5, 6)), " +
        "a AS (SELECT count(*) AS t FROM lineitem " +
        "WHERE l_linenumber IN (1, 2, 5, 6)) " +
        "SELECT a.t AS n_rows, k.c AS n_ids, CAST(1 AS BIGINT) AS id_min, " +
        "CAST(k.c AS BIGINT) AS id_max, " +
        "CAST(k.c * (k.c + 1) / 2 AS BIGINT) AS id_sum FROM a, k"),
    "t_txn_delete_dv" ->
      oracleAgg("l_linenumber IN (1, 2) AND NOT (l_quantity > 49)"),
    "t_txn_stats_prune" ->
      oracleAgg("l_linenumber IN (1, 2) AND l_orderkey BETWEEN 0 AND 4000"),
    "t_txn_stats_prune_time" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sum_bp " +
        "FROM events WHERE ts::TIMESTAMP >= TIMESTAMP '2024-01-10 00:00:00' " +
        "AND ts::TIMESTAMP <= TIMESTAMP '2024-01-15 00:00:00' " +
        "GROUP BY event_type ORDER BY event_type"),
    // line 1 as-is, line 2 with doubled quantity, line 6 inserted
    "t_txn_merge" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(" +
        "CASE WHEN l_linenumber = 2 THEN l_quantity * 2 ELSE l_quantity END" +
        "), 4) AS sum_qty FROM lineitem WHERE l_linenumber IN (1, 2, 6) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    "t_txn_schema_evolution" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty, " +
        "count(CASE WHEN l_linenumber = 2 THEN 1 END) AS n_disc, " +
        "round(sum(CASE WHEN l_linenumber = 2 THEN l_discount ELSE 0 END), 4) " +
        "AS sum_disc FROM lineitem WHERE l_linenumber IN (1, 2) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // everything published must land exactly once: the replayed batch
    // appending anything at all would break n AND sum_bp
    // conforming pipeline unchanged under constraints: same content as
    // the unconstrained merge history
    "t_txn_constraints" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(" +
        "CASE WHEN l_linenumber = 2 THEN l_quantity * 2 ELSE l_quantity END" +
        "), 4) AS sum_qty FROM lineitem WHERE l_linenumber IN (1, 2, 6) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // only line-2 rows carry a non-null disc_bp
    "t_txn_null_prune" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "CAST(sum(CAST(floor(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_bp " +
        "FROM lineitem WHERE l_linenumber = 2 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the v1 snapshot (lines 1, 2) survives an overwrite + age-windowed vacuum
    "t_txn_vacuum_age" -> oracleAgg("l_linenumber IN (1, 2)"),
    // DuckDB's native QUALIFY over the demo table's recomputed final
    // state (line 1 as-is, line 2 doubled, line 6 inserted, +100 where
    // flag R, rows over 120 deleted) — the lowering must agree with the
    // dialect that has the clause natively
    "t_txn_sql_qualify" ->
      ("WITH merged AS (" +
        "SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity " +
        "FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_orderkey, l_linenumber, l_returnflag, " +
        "l_quantity * 2 FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_orderkey, l_linenumber, l_returnflag, " +
        "l_quantity FROM lineitem WHERE l_linenumber = 6), " +
        "updated AS (SELECT l_orderkey, l_linenumber, l_returnflag, " +
        "CASE WHEN l_returnflag = 'R' THEN l_quantity + 100 " +
        "ELSE l_quantity END AS l_quantity FROM merged), " +
        "final AS (SELECT * FROM updated WHERE NOT l_quantity > 120) " +
        "SELECT l_returnflag, l_orderkey, l_linenumber, " +
        "round(l_quantity, 4) AS qty FROM final " +
        "QUALIFY row_number() OVER (PARTITION BY l_returnflag " +
        "ORDER BY l_quantity DESC, l_orderkey, l_linenumber) <= 2 " +
        "ORDER BY l_returnflag, qty DESC, l_orderkey, l_linenumber"),
    // the SQL-driven history: line 1 as-is, line 2 doubled by the MERGE,
    // line 6 inserted; +100 where flag R (UPDATE); rows over 120 deleted
    "t_txn_sql" ->
      ("WITH merged AS (" +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2 FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 6), " +
        "updated AS (SELECT l_returnflag, CASE WHEN l_returnflag = 'R' " +
        "THEN l_quantity + 100 ELSE l_quantity END AS l_quantity FROM merged) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM updated WHERE NOT l_quantity > 120 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // VERSION AS OF 2 = after the two INSERTs, before merge/update/delete
    "t_txn_sql_time_travel" -> oracleAgg("l_linenumber IN (1, 2)"),
    // SQL RESTORE must land exactly where the native restore lands
    "t_txn_sql_restore" -> oracleAgg("l_linenumber IN (1, 2)"),
    // same change classes as the streaming CDF twin: merge images at v2,
    // delete victims at v3 (over the post-merge content)
    "t_txn_sql_cdf" ->
      ("WITH merged AS (" +
        "SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2 FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, l_quantity FROM lineitem WHERE l_linenumber = 6) " +
        "SELECT * FROM (" +
        "SELECT 'update_preimage' AS _change_type, CAST(2 AS BIGINT) AS _commit_version, " +
        "l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM lineitem WHERE l_linenumber = 2 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'update_postimage', 2, l_returnflag, count(*), " +
        "round(sum(l_quantity * 2), 4) FROM lineitem WHERE l_linenumber = 2 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'insert', 2, l_returnflag, count(*), " +
        "round(sum(l_quantity), 4) FROM lineitem WHERE l_linenumber = 6 GROUP BY l_returnflag " +
        "UNION ALL SELECT 'delete', 3, l_returnflag, count(*), " +
        "round(sum(l_quantity), 4) FROM merged WHERE l_quantity > 25 GROUP BY l_returnflag" +
        ") ORDER BY _change_type, _commit_version, l_returnflag"),
    // write-time clustering is layout-only: content equals the plain
    // range filter over the three appended slices
    "t_txn_cluster_write" -> oracleAgg(
      "l_linenumber IN (1, 2, 6) AND l_orderkey BETWEEN 0 AND 3000"),
    // doubled where qty > 25, untouched otherwise, over lines 1, 2
    "t_txn_update_dv" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(" +
        "CASE WHEN l_quantity > 25 THEN l_quantity * 2 ELSE l_quantity END" +
        "), 4) AS sum_qty FROM lineitem WHERE l_linenumber IN (1, 2) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the clone reads exactly the source snapshot (lines 1, 2)
    "t_txn_clone" -> oracleAgg("l_linenumber IN (1, 2)"),
    // the point lookup over both appended slices: every row whose
    // 't<orderkey>' tag equals the smallest line-2 orderkey's tag
    "t_txn_bloom_prune" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM lineitem WHERE l_linenumber IN (1, 2) AND l_orderkey = " +
        "(SELECT min(l_orderkey) FROM lineitem WHERE l_linenumber = 2) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // line 1 pre-evolution (NULL disc_bp), line 2 replaced with doubled
    // quantity + evolved column, line 6 inserted with it
    "t_txn_merge_evolve" ->
      ("WITH merged AS (" +
        "SELECT l_returnflag, l_quantity, CAST(NULL AS BIGINT) AS disc_bp " +
        "FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2, " +
        "CAST(floor(l_quantity * 2 * 100) AS BIGINT) " +
        "FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, l_quantity, " +
        "CAST(floor(l_quantity * 100) AS BIGINT) " +
        "FROM lineitem WHERE l_linenumber = 6) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty, " +
        "count(disc_bp) AS n_disc, CAST(sum(disc_bp) AS BIGINT) AS sum_disc " +
        "FROM merged GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the log's statistics must equal the data's truth: same count twice
    // (once through ANALYZE, once through a real count), bounds from the
    // surviving rows
    "t_txn_analyze" ->
      ("SELECT count(*) AS row_count, count(*) AS n_rows, " +
        "min(l_orderkey) AS min_okey, max(l_orderkey) AS max_okey " +
        "FROM lineitem WHERE l_linenumber IN (1, 2) AND l_quantity <= 25"),
    "t_txn_stream_ingest" ->
      ("SELECT event_type, count(*) AS n, " +
        "CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS sum_bp FROM events GROUP BY event_type ORDER BY event_type"),
    // plain-SQL WHERE over the clustered catalog table: pruning must be
    // content-invisible — the range filter recomputed from source
    "t_txn_sql_prune" -> oracleAgg(
      "l_linenumber IN (1, 2, 6) AND l_orderkey BETWEEN 0 AND 3000"),
    // the decimal range recomputed from source: l_fine is exactly
    // l_orderkey + 0.25 (integer construction — x.25 is binary-exact,
    // so the double sum is order-independent)
    "t_txn_decimal_prune" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty, " +
        "round(sum(CAST(CAST(l_orderkey + 0.25 AS DECIMAL(12, 2)) " +
        "AS DOUBLE)), 4) AS sum_fine " +
        "FROM lineitem WHERE l_linenumber IN (1, 2) " +
        "AND CAST(l_orderkey + 0.25 AS DECIMAL(12, 2)) " +
        "BETWEEN 100.25 AND 3000.25 " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the two point lookups (smallest + largest line-2 orderkey tag)
    // over both appended slices; coalesce mirrors the probe-anyway-on-
    // empty default the Spark side uses
    "t_txn_where_in" ->
      ("SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM lineitem WHERE l_linenumber IN (1, 2) AND (" +
        "l_orderkey = (SELECT coalesce(min(l_orderkey), 0) FROM lineitem " +
        "WHERE l_linenumber = 2) OR l_orderkey = (SELECT " +
        "coalesce(max(l_orderkey), 0) FROM lineitem WHERE l_linenumber = 2)) " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // a double-applied COPY INTO is a no-op: content equals ONE ingest
    // of the two source files (lines 1, 2)
    "t_txn_copy_into" -> oracleAgg("l_linenumber IN (1, 2)"),
    // line 1 pre-declaration (NULL generated value), line 2 replaced by
    // the merge with doubled quantity + computed column, line 6 appended
    // with it computed
    "t_txn_generated" ->
      ("WITH merged AS (" +
        "SELECT l_returnflag, l_quantity, CAST(NULL AS BIGINT) AS qty_bp " +
        "FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_returnflag, l_quantity * 2, " +
        "CAST(floor(l_quantity * 2 * 100) AS BIGINT) " +
        "FROM lineitem WHERE l_linenumber = 2 " +
        "UNION ALL SELECT l_returnflag, l_quantity, " +
        "CAST(floor(l_quantity * 100) AS BIGINT) " +
        "FROM lineitem WHERE l_linenumber = 6) " +
        "SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 4) AS sum_qty, " +
        "count(qty_bp) AS n_bp, CAST(sum(qty_bp) AS BIGINT) AS sum_bp " +
        "FROM merged GROUP BY l_returnflag ORDER BY l_returnflag"),
    // same time predicates recomputed straight from source — a wrong
    // monotone inversion in the skipping loses rows and breaks the hash
    "t_txn_time_fn_prune" ->
      ("SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_v " +
        "FROM events WHERE year(ts) = 2024 " +
        "AND CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14' " +
        "GROUP BY event_type ORDER BY event_type"),
    // surviving-row count after append + MOR update (+1.0 on line 2) +
    // DV delete of quantity > 30 — recomputed rowwise from source
    "t_txn_count_meta" ->
      ("SELECT count(*) AS n FROM (" +
        "SELECT l_quantity AS q FROM lineitem WHERE l_linenumber = 1 " +
        "UNION ALL SELECT l_quantity + 1 FROM lineitem WHERE l_linenumber = 2) " +
        "WHERE NOT q > 30"),
    // both OR windows recomputed from source — a dropped arm or a
    // misread window boundary loses rows
    "t_txn_or_prune" -> oracleAgg(
      "l_linenumber IN (1, 2, 6) AND (l_orderkey BETWEEN 0 AND 1500 " +
        "OR l_orderkey BETWEEN 4000 AND 6000)"),
    // the same string range recomputed from source through the same
    // zero-padded tag — byte-order or truncation mistakes lose rows
    "t_txn_str_prune" ->
      ("SELECT l_returnflag, count(*) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty FROM (" +
        "SELECT l_returnflag, l_quantity, " +
        "'t' || lpad(CAST(l_orderkey AS VARCHAR), 8, '0') AS tag " +
        "FROM lineitem WHERE l_linenumber IN (1, 2, 6)) " +
        "WHERE tag >= 't00000000' AND tag <= 't00003000' " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // extremes recomputed rowwise from source — a widened/clipped stats
    // fold or a bound from the wrong file breaks the one-row hash
    "t_txn_minmax_meta" ->
      ("SELECT min(ts) AS ts_min, max(ts) AS ts_max, " +
        "min(event_id) AS id_min, max(event_id) AS id_max, count(*) AS n " +
        "FROM events"))
}
