package graft.queries

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Det.r4

/** Group P — composed pipelines and scale techniques.
  *
  * `p_etl_pipeline` is the reference's entire batch job as ONE declarative
  * plan — extract → clean/filter → anonymize → code-decode (dim join) →
  * aggregate/publish. A user of the reference pipeline switches to this and
  * runs the same job; Catalyst fuses the whole per-row transform chain into
  * one codegen stage over the scan, so at 100 TB this is a single pass plus
  * one shuffle for the final aggregate.
  *
  * `p_join_salted` demonstrates hot-key salting: the skewed side's key is
  * split into N sub-keys, the dimension side is exploded N ways, and the
  * post-aggregation merges the salt back out — identical results to the
  * plain join (the oracle checks against the UNSALTED formulation).
  */
object PPipeline {

  /** The bucketed-join fixture: orders and lineitem projections written
    * bucketBy(8) + sortBy on the join key, registered as catalog tables.
    * Built once per JVM and sf dir — at 100 TB the bucketed layout is
    * the PRE-EXISTING table property the join exploits (bucketing pays
    * its one-time shuffle at ingest, not per query), so the measured
    * surface of p_join_bucketed is the exchange-free SortMergeJoin +
    * bucketing-reusing aggregate, not the table rewrite. Warmed untimed
    * by Bench via `warmFixtures`; content is deterministic, so the
    * oracle hash is blind to which invocation built it. Returns the
    * (lineitem, orders) table names, which carry the dir's tag so two
    * dirs never read each other's tables. */
  private def bucketedTables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val tag = Fixtures.tag(d)
    val (li, ord) = (s"graft_b_lineitem_$tag", s"graft_b_orders_$tag")
    Fixtures.dir("bucketed", d) { root =>
      s.sql(s"DROP TABLE IF EXISTS $ord")
      s.sql(s"DROP TABLE IF EXISTS $li")
      Tables.orders(s, d).select("o_orderkey", "o_totalprice")
        .write.mode("overwrite").option("path", s"$root/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ord)
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount")
        .write.mode("overwrite").option("path", s"$root/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(li)
    }
    (li, ord)
  }

  /** The DPP fixture: the fact table laid out (partitioned) by day and
    * the per-day dimension — the PRE-EXISTING layout dynamic partition
    * pruning exploits at scale (a table is partitioned once at ingest,
    * not per query). Written once per JVM and sf dir; p_join_dpp times
    * the runtime-pruned join, not two table rewrites. Content is
    * deterministic, so the oracle hash is blind to which invocation
    * built it. Returns (factPath, dimPath). */
  private def dppTables(s: org.apache.spark.sql.SparkSession,
      d: String): (String, String) = {
    val root = Fixtures.dir("join_dpp", d) { root =>
      val ev = Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      ev.select("event_id", "day", "value")
        .write.mode("overwrite").partitionBy("day").parquet(s"$root/fact")
      ev.groupBy("day").agg(count(lit(1)).as("n_day"))
        .write.mode("overwrite").parquet(s"$root/dim")
    }
    (s"$root/fact", s"$root/dim")
  }

  /** The prior-rollup fixture for p_incremental_agg: the history rollup
    * (every day but the last) a nightly incremental job finds already
    * materialized from yesterday's run. Content is deterministic. */
  private def incrAggRollup(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    Fixtures.dir("incr_agg_rollup", d) { root =>
      val ev = Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val maxDay = ev.agg(max("day").as("max_day"))
      ev.join(broadcast(maxDay), col("day") < col("max_day"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
        .write.mode("overwrite").parquet(root)
    }

  /** Build the fixtures this family amortizes per JVM — called from
    * Bench's untimed warm block (mirrors TTxn.warmFixtures). */
  private[graft] def warmFixtures(s: org.apache.spark.sql.SparkSession,
      d: String): Unit =
    Fixtures.warm("pipeline")(() => bucketedTables(s, d),
      () => dppTables(s, d), () => incrAggRollup(s, d))

  val m: ListMap[String, Q] = ListMap(
    "p_etl_pipeline" -> ((s, d) => {
      // the reference job, Spark-first (ticket≈lineitem, violation-code≈part,
      // agency≈supplier): clean rows, anonymize identifiers, decode codes
      // via broadcast dims, publish a per-(brand, month) summary
      val tickets = Tables.lineitem(s, d)
        // 1. filter malformed/out-of-domain rows (the reference drops them)
        .filter(col("l_quantity").between(1, 50) && col("l_discount") >= 0)
        // 2. normalize: timestamps → month bucket, money → rounded
        .withColumn("month", date_format(col("l_shipdate"), "yyyy-MM"))
        .withColumn("charge", col("l_extendedprice") * (lit(1) - col("l_discount")))
        // 3. anonymize: deterministic surrogate ticket id (SURVEY §1.1)
        .withColumn("anon_ticket", sha2(concat_ws("|",
          col("l_orderkey"), col("l_linenumber"), col("l_partkey")), 256))
      tickets
        // 4. decode codes via broadcast dimension joins
        .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
        .join(broadcast(Tables.supplier(s, d)), col("l_suppkey") === col("s_suppkey"))
        // 5. publish: per (brand, month) summary with a sample anon id
        .groupBy("p_brand", "month")
        .agg(count(lit(1)).as("n_tickets"),
          r4(sum("charge")).as("total_charge"),
          min("anon_ticket").as("sample_ticket"))
        .orderBy("p_brand", "month")
    }),

    "p_sql_q3" -> ((s, d) => {
      // the spark.sql(...) entry point on a classic shipping-priority query:
      // parser → analyzer → same Catalyst pipeline as the DataFrame API
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql(
        """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
          |o_orderdate, o_orderpriority
          |FROM customer_v JOIN orders_v ON c_custkey = o_custkey
          |JOIN lineitem_v ON l_orderkey = o_orderkey
          |WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
          |GROUP BY l_orderkey, o_orderdate, o_orderpriority
          |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin)
    }),

    "p_sql_pipe" -> ((s, d) => {
      // Spark 4 SQL pipe syntax (|>): the same Catalyst pipeline behind a
      // linear, stage-at-a-time surface — each |> stage is sugar for the
      // equivalent nested relational op, so the optimized plan is
      // identical to the classic formulation (the ANSI-SQL oracle IS that
      // formulation, which is exactly the equivalence worth pinning).
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_pipe_v")
      s.sql(
        """FROM lineitem_pipe_v
          ||> WHERE l_shipdate <= TIMESTAMP '2000-12-01'
          ||> AGGREGATE count(*) AS n, round(sum(l_quantity), 4) AS sum_qty,
          |            round(avg(l_extendedprice), 4) AS avg_price
          |   GROUP BY l_returnflag, l_linestatus
          ||> ORDER BY l_returnflag, l_linestatus""".stripMargin)
    }),

    "p_gdpr_delete" -> ((s, d) => {
      // right-to-be-forgotten propagation: a deletion list of subject keys
      // cascades through the subject dimension and every fact table that
      // references it (orders directly, lineitem through the deleted
      // orders). Each erasure is a broadcast anti-join — the delete list
      // is tiny relative to the corpus, so every table takes one linear
      // pass with NO shuffle of the facts; at 100 TB only the delete list
      // and the derived deleted-order keys move. Output is the per-table
      // audit a compliance job must produce (before/deleted/after) —
      // FUSED (round 9): each table's before/after counts come from a
      // single scan via broadcast LEFT join + conditional aggregation
      // (count-all and count-unmatched in one pass), instead of scanning
      // the table twice for separate before/anti-join-after counts.
      val del = Tables.customer(s, d).filter(col("c_custkey") % 97 === 0)
        .select(col("c_custkey").as("k"))
      def audit(name: String, df: DataFrame, key: org.apache.spark.sql.Column,
          delList: DataFrame, delKey: String) =
        // delList carries distinct keys (primary keys of their tables),
        // so the left join never duplicates fact rows
        df.join(broadcast(delList), key === col(delKey), "left")
          .agg(count(lit(1)).as("rows_before"),
            count(when(col(delKey).isNull, 1)).as("rows_after"))
          .select(lit(name).as("table_name"),
            col("rows_before"), col("rows_after"),
            (col("rows_before") - col("rows_after")).as("rows_deleted"))
      val ord = Tables.orders(s, d)
      val delOrders = ord.join(broadcast(del), col("o_custkey") === col("k"))
        .select(col("o_orderkey").as("dok"))
      audit("customer", Tables.customer(s, d), col("c_custkey"), del, "k")
        .union(audit("orders", ord, col("o_custkey"), del, "k"))
        .union(audit("lineitem", Tables.lineitem(s, d), col("l_orderkey"),
          delOrders, "dok"))
        .orderBy("table_name")
    }),

    "p_scd2" -> ((s, d) => {
      // slowly-changing-dimension type-2 build: each customer's order
      // stream becomes versioned validity intervals [valid_from, valid_to)
      // with the newest row open-ended (is_current) — the standard
      // dimension-history table. ONE window pass (lead + row_number share
      // the frame) = one shuffle on the key; no self-join, no collect; at
      // 100 TB this is linear and partition-parallel per key. Pairs with
      // p_upsert (SCD1 overwrite) as the two canonical merge disciplines.
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"))
        .withColumn("valid_from", col("o_orderdate"))
        .withColumn("valid_to", lead("o_orderdate", 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .withColumn("version", row_number().over(w).cast("long"))
        .select(col("o_custkey"), col("o_orderkey"), col("valid_from"),
          col("valid_to"), col("is_current"), col("version"),
          r4(col("o_totalprice")).as("price"))
        .orderBy("o_custkey", "version")
    }),

    "p_sql_script" -> ((s, d) => {
      // SQL scripting (Spark 4's BEGIN…END procedural blocks): an
      // iterative threshold search — raise the price band until at least
      // half the orders fall below it. Control flow runs on the driver;
      // every iteration's query is a full distributed plan, which is the
      // point of the surface (stored-proc-style orchestration without
      // leaving SQL). The oracle is the closed form over a generated
      // threshold grid — the loop must land on the same first crossing.
      //
      // The search is SEEDED: one approx_percentile pass starts thr two
      // grid steps below the median's band, so the WHILE runs a bounded
      // handful of iterations (<=4: two by construction plus one band of
      // approx-error slack each way) instead of ~40. The first crossing T
      // satisfies F(T-25k) < 0.5 <= F(T) and the exact median lies in
      // (T-25k, T], so floor-to-grid minus two steps is strictly below T
      // even if approx_percentile drifts a band — the loop still
      // terminates at exactly T. Same answer, bounded driver-side job
      // count (the 100 TB discipline: each driver iteration costs a full
      // job's latency, so iterative scripts must be seeded).
      Tables.orders(s, d).createOrReplaceTempView("orders_scr")
      s.conf.set("spark.sql.scripting.enabled", "true")
      s.sql(
        """BEGIN
          |  DECLARE thr DOUBLE DEFAULT 0;
          |  DECLARE frac DOUBLE DEFAULT 0;
          |  DECLARE n BIGINT;
          |  SET n = (SELECT count(*) FROM orders_scr);
          |  -- empty table => null percentile => seed 0 (legacy start)
          |  SET thr = greatest(coalesce(
          |              (SELECT floor(approx_percentile(o_totalprice, 0.5)
          |                            / 25000) * 25000.0 - 50000
          |               FROM orders_scr), 0), 0);
          |  WHILE frac < 0.5 DO
          |    SET thr = thr + 25000;
          |    -- try_divide: an empty table must end the loop (frac → 1),
          |    -- not throw DIVIDE_BY_ZERO under ANSI
          |    SET frac = coalesce(try_divide(
          |                  (SELECT count(*) FROM orders_scr
          |                   WHERE o_totalprice < thr),
          |                  CAST(n AS DOUBLE)), 1.0);
          |  END WHILE;
          |  SELECT CAST(thr AS BIGINT) AS median_band_upper,
          |         round(frac, 4) AS frac_below;
          |END""".stripMargin)
    }),

    "p_sql_recursive" -> ((s, d) => {
      // recursive CTE (Spark 4's WITH RECURSIVE): parts form an implicit
      // binary heap (children of n are 2n+1, 2n+2); the recursion walks
      // every (root, descendant) pair and rolls up subtree size and retail
      // value per root. The recursive step is an EQUI-join — child joins
      // parent on (c_key - 1) DIV 2 = node — so each of the ~log2(n)
      // iterations is a hash join on the shrinking frontier, never an
      // OR-condition nested loop; total intermediate volume is O(n log n).
      Tables.part(s, d).createOrReplaceTempView("part_rec")
      s.sql(
        """WITH RECURSIVE sub AS (
          |  SELECT p_partkey AS root, p_partkey AS node, p_retailprice AS v
          |  FROM part_rec
          |  UNION ALL
          |  SELECT s.root, c.p_partkey, c.p_retailprice
          |  FROM sub s JOIN part_rec c
          |    ON c.p_partkey >= 1 AND (c.p_partkey - 1) DIV 2 = s.node
          |)
          |SELECT root, count(*) AS subtree_n, round(sum(v), 4) AS subtree_value
          |FROM sub GROUP BY root ORDER BY root""".stripMargin)
    }),

    "p_join_bucketed" -> ((s, d) => {
      // bucketed co-located join: both sides written bucketBy(8) on the
      // join key, so the SortMergeJoin reads aligned buckets with NO
      // shuffle exchange — and the post-join groupBy on the same key reuses
      // the bucketing too (the oracle checks against the plain-parquet
      // formulation; bucketing must not change results, only the plan).
      // The bucketed tables are the warmed per-JVM fixture: bucketing's
      // one-time ingest shuffle is the table property, the exchange-free
      // join is the measured operator.
      val (li, ord) = bucketedTables(s, d)
      s.table(li)
        .join(s.table(ord).hint("merge"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_lines"),
          r4(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
          r4(max("o_totalprice")).as("total_price"))
        .orderBy("l_orderkey")
    }),

    "p_upsert" -> ((s, d) => {
      // batch upsert (MERGE) over plain files: snapshot FULL OUTER JOIN the
      // delta on the key; matched rows take the delta's values, unmatched
      // delta rows insert, unmatched snapshot rows carry over — the
      // standard incremental-pipeline shape when the table format has no
      // native MERGE. One shuffle on the merge key; at 100 TB both sides
      // would be bucketed on it (see p_join_bucketed) to eliminate that too
      val snap = Tables.orders(s, d).filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val delta = Tables.orders(s, d).filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("dk"),
          (col("o_totalprice") * 1.1).as("dprice"))
      snap.join(delta, col("k") === col("dk"), "full_outer")
        .select(
          coalesce(col("k"), col("dk")).as("o_orderkey"),
          r4(coalesce(col("dprice"), col("price"))).as("price"),
          when(col("dk").isNotNull && col("k").isNotNull, lit("updated"))
            .when(col("dk").isNotNull, lit("inserted"))
            .otherwise(lit("kept")).as("action"))
        .orderBy("o_orderkey")
    }),

    "p_profile" -> ((s, d) => {
      // data profiling (ANALYZE-style): per-column null count, exact
      // distinct count, min/max — in TWO passes over the table, never one
      // per column (at 100 TB a per-column loop is N full jobs). Pass 1
      // computes nulls/min/max as a plain partial→final aggregate (no
      // distinct → no Expand). Pass 2 melts the columns to (col_name,
      // value) rows and counts distincts per column — a SINGLE distinct
      // aggregate, which Spark plans as an efficient two-phase group-by,
      // unlike N countDistincts in one agg (N-way Expand over every row:
      // measured 10 s vs ~3 s at sf0.1). Doubles profile as integer basis
      // points and timestamps as formatted days, per the determinism
      // rules; min/max run on the NATIVE type (lexicographic min of a
      // stringified number would be wrong) and only the result is cast.
      val proj = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity") * 10000 + 0.5).cast("long").as("l_quantity_bp"),
        col("l_returnflag"),
        date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipday"))
      val names = proj.columns.toSeq
      val aggs = names.zipWithIndex.flatMap { case (n, i) => Seq(
        (count(lit(1)) - count(col(n))).as(s"nn$i"),
        min(col(n)).cast("string").as(s"mn$i"),
        max(col(n)).cast("string").as(s"mx$i"))
      }
      val stackArgs = names.zipWithIndex
        .map { case (n, i) => s"'$n', nn$i, mn$i, mx$i" }
        .mkString(", ")
      val base = proj.agg(aggs.head, aggs.tail: _*)
        .select(expr(s"stack(${names.size}, $stackArgs) AS " +
          "(col_name, n_nulls, vmin, vmax)"))
      val meltArgs = names
        .map(n => s"'$n', CAST($n AS STRING)").mkString(", ")
      val nd = proj
        .select(expr(s"stack(${names.size}, $meltArgs) AS (col_name, v)"))
        .groupBy("col_name").agg(countDistinct("v").as("n_distinct"))
      base.join(broadcast(nd), "col_name")
        .select("col_name", "n_nulls", "n_distinct", "vmin", "vmax")
        .orderBy("col_name")
    }),

    "p_compact" -> ((s, d) => {
      // the small-files problem: an ingest left 64 tiny files; compact to
      // 4 right-sized ones via repartition-on-write (at 100 TB this is the
      // nightly job that keeps scan planning and NameNode/listing costs
      // sane). The oracle checks value preservation through the rewrite;
      // the scalatest asserts the 64 → 4 file-count change.
      val tmp = scratch("compact")
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_quantity")
      li.repartition(64).write.mode("overwrite").parquet(s"$tmp/small")
      s.read.parquet(s"$tmp/small").repartition(4)
        .write.mode("overwrite").parquet(s"$tmp/compacted")
      s.read.parquet(s"$tmp/compacted")
        .agg(count(lit(1)).as("rows"), r4(sum("l_quantity")).as("sum_qty"))
    }),

    "p_expectations" -> ((s, d) => {
      // data-quality gate (the Deequ/dbt-tests shape): one declarative
      // pass computing violation counts for the constraint classes a
      // nightly pipeline asserts before publishing — null keys, domain
      // ranges, key uniqueness, referential integrity. The null/range
      // checks fuse into ONE scan aggregate; uniqueness is one grouped
      // count; the FK check is an anti-join probing the parent keys.
      // At 100 TB each check stays linear and none collects raw rows —
      // the gate reports counts, quarantining is a filter reusing the
      // same predicates.
      val li = Tables.lineitem(s, d)
      val scanChecks = li.agg(
        sum(col("l_orderkey").isNull.cast("long")).as("null_key"),
        sum((!col("l_quantity").between(1, 50)).cast("long")).as("range_qty"),
        sum((col("l_discount") < 0 || col("l_discount") > 1).cast("long"))
          .as("range_disc"))
      val dupKeys = li.groupBy("l_orderkey", "l_linenumber")
        .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        .agg(coalesce(sum(col("c") - 1), lit(0L)).as("n"))
      val orphans = li.join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("n"))
      scanChecks.select(expr(
          "stack(3, 'null_key', null_key, 'range_disc', range_disc, " +
            "'range_qty', range_qty) AS (check_name, n_violations)"))
        .union(dupKeys.select(lit("uniq_line"), col("n")))
        .union(orphans.select(lit("fk_orders"), col("n")))
        .orderBy("check_name")
    }),

    "p_zorder" -> ((s, d) => {
      // multi-dimensional data layout: a 20-bit Morton (Z-order) key
      // interleaving the low 10 bits of l_partkey and l_orderkey (both
      // span the full 10-bit range in the fixtures), then a
      // range-repartition + in-partition sort on it — the standard
      // co-clustering move so scans filtering on either dimension touch
      // a bounded subset of files (each file covers a compact Z-range =
      // a small rectangle in (part, order) space; the higher-interleaved
      // dimension's top bits dominate file boundaries). Pure integer bit
      // arithmetic, portable to the oracle; the write/layout half is
      // asserted in scalatest, the key itself value-checks the ordering.
      val morton = (0 until 10).map { b =>
        (shiftright(col("l_partkey") % 1024, b) % 2) * (1L << (2 * b)) +
          (shiftright(col("l_orderkey") % 1024, b) % 2) * (1L << (2 * b + 1))
      }.reduce(_ + _)
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"))
        .withColumn("morton", morton.cast("long"))
        .repartitionByRange(4, col("morton"))
        .sortWithinPartitions("morton")
        .orderBy("morton", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    "p_join_bloom" -> ((s, d) => {
      // runtime-filter pruning, made explicit: build a Bloom filter over
      // the small (filtered-dimension) side's join keys, broadcast it, and
      // prune the fact side BEFORE the join shuffle — at 100 TB the prune
      // happens at the scan, so rows that cannot match never enter the
      // exchange. Bloom filters have no false negatives, so the exact
      // equi-join on the survivors returns exactly the plain semi-join
      // (the oracle), with false positives removed by the join itself.
      // (This is the hand-rolled form of Spark's own runtime row-level
      // bloom pruning; making it explicit keeps it testable and portable.)
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_orderdate") < lit("1996-01-01").cast("timestamp"))
        .select("o_orderkey")
      val nDim = dim.count()
      // an empty build side admits nothing — a bloom aggregate over zero
      // rows yields null (no usable sketch), so the prune degenerates to
      // a constant-false filter instead
      val pruned =
        if (nDim == 0) Tables.lineitem(s, d).filter(lit(false))
        else {
          import org.apache.spark.sql.catalyst.expressions.{
            BloomFilterMightContain, Literal, XxHash64}
          import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
          import org.apache.spark.sql.graftbridge.Bridge
          import org.apache.spark.sql.types.BinaryType
          // build with Spark's native BloomFilterAggregate over
          // xxhash64(key) — the exact expression pair the optimizer's own
          // runtime row-level filtering injects — and probe with native
          // BloomFilterMightContain, which codegens to a bitmap test
          // inside the scan stage (the old Scala-UDF probe was a black
          // box that broke whole-stage codegen at the filter).
          // numBits sized for fpp≈0.01: n·ln(0.01)/ln(2)² ≈ 9.585·n.
          val numBits = math.max(64L, (nDim * 9.585).toLong)
          val bfAgg = Bridge.column(new BloomFilterAggregate(
            new XxHash64(Seq(Bridge.expression(col("o_orderkey")))),
            Literal(nDim), Literal(numBits)).toAggregateExpression())
          // one driver-side scalar: the serialized filter (KBs), same
          // footprint as the old DataFrameStatFunctions.bloomFilter path
          val bytes = dim.agg(bfAgg.as("bf")).head().getAs[Array[Byte]]("bf")
          val probe = Bridge.column(BloomFilterMightContain(
            Literal(bytes, BinaryType),
            new XxHash64(Seq(Bridge.expression(col("l_orderkey"))))))
          Tables.lineitem(s, d).filter(probe) // pre-shuffle prune
        }
      pruned
        .join(dim, col("l_orderkey") === col("o_orderkey")) // exact verify
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_lines"),
          r4(sum("l_extendedprice")).as("revenue"))
        .orderBy("l_returnflag")
    }),

    "p_join_salted" -> ((s, d) => {
      // skew-resistant aggregate join: salt the (potentially hot) fact key,
      // explode the dim side across the salt space, aggregate, merge
      val nSalt = 8
      val fact = Tables.lineitem(s, d)
        .withColumn("salt", pmod(col("l_orderkey") * 31 + col("l_linenumber"), lit(nSalt)))
      val dim = Tables.part(s, d)
        .withColumn("salt", explode(sequence(lit(0), lit(nSalt - 1))))
      fact.join(dim,
          fact("l_partkey") === dim("p_partkey") && fact("salt") === dim("salt"))
        .groupBy("p_type")
        .agg(count(lit(1)).as("cnt"), r4(sum("l_extendedprice")).as("revenue"))
        .orderBy("p_type")
    }),

    "p_observe_metrics" -> ((s, d) => {
      // pipeline observability with ZERO extra passes: observe() rides
      // row-count / checksum / violation metrics on the main pass's plan
      // (an AggregatingAccumulator over the stream of rows), so the
      // numbers a 100 TB job publishes for monitoring cost nothing —
      // no second scan, no sampled guesswork. The key executes the
      // instrumented pass, then returns the observed metrics row.
      import s.implicits._
      val ob = new org.apache.spark.sql.Observation()
      val instrumented = Tables.lineitem(s, d)
        .observe(ob,
          count(lit(1)).as("n_rows"),
          sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
            .as("price_cents"),
          sum(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
            .otherwise(0L)).as("bad_qty"))
      // any real action fires the metrics event; noop keeps it distributed
      instrumented.write.format("noop").mode("overwrite").save()
      val m = ob.get
      // sum() over zero rows observes null — make the 0 default explicit
      // instead of leaning on unboxToLong(null)
      def metric(k: String): Long =
        Option(m(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
      Seq((metric("n_rows"), metric("price_cents"), metric("bad_qty")))
        .toDF("n_rows", "price_cents", "bad_qty")
    }),

    "p_join_range_bucket" -> ((s, d) => {
      // the scalable form of an inequality (band) join: bucket the range
      // key, equi-join on (user, bucket ± 1), THEN apply the exact band
      // predicate. The BroadcastNestedLoop/cross baseline touches every
      // pair; this touches only same-bucket-neighborhood pairs — at
      // 100 TB the difference between O(n²) and O(n × density). Here:
      // pairs of events by the same user within 5 minutes of each other.
      val bucketSec = 300L
      val ev = Tables.events(s, d).filter(col("user_id") < 100)
        .select(col("user_id"), col("event_id"), col("ts"),
          expr(s"unix_timestamp(ts) DIV $bucketSec").as("bk"))
      val a = ev.select(col("user_id"), col("event_id").as("a_id"),
        col("ts").as("a_ts"), col("bk"))
      // each left row probes its own bucket and both neighbors, so any
      // pair within one bucket width is found by an EQUI-join
      val probes = a.withColumn("bk",
        explode(array(col("bk") - 1, col("bk"), col("bk") + 1)))
      val b = ev.select(col("user_id"), col("event_id").as("b_id"),
        col("ts").as("b_ts"), col("bk"))
      // exactly one probe bucket matches each candidate, so no dedup pass
      probes.join(b, Seq("user_id", "bk"))
        .filter(col("a_id") < col("b_id") &&
          abs(unix_timestamp(col("b_ts")) - unix_timestamp(col("a_ts")))
            <= bucketSec)
        .select("user_id", "a_id", "b_id")
        .orderBy("user_id", "a_id", "b_id")
    }),

    "p_join_dpp" -> ((s, d) => {
      // dynamic partition pruning: the fact table is laid out by day; the
      // dimension's filter selects a handful of days, and at runtime the
      // join key's value set prunes the fact SCAN to those partitions —
      // the fact-side predicate does not exist at plan time, only the
      // dim filter does. PlanShapeSpec asserts the dynamicpruning
      // subquery reaches the fact scan; this key checks values.
      // fact/dim layouts are the warmed per-JVM fixture (dppTables):
      // the day-partitioned layout is the table property DPP needs, paid
      // once at ingest — the measured surface is the runtime-pruned join
      val (tmp, dimTmp) = dppTables(s, d)
      val fact = Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
        .select("event_id", "day", "value")
      val dimSchema = "day STRING, n_day BIGINT"
      val dim0 = s.read.schema(dimSchema).parquet(dimTmp)
      // scale-relative busy-day cut (above half the peak), folded INTO the
      // dim scan: a global window-max rides the days-sized dimension, so
      // the key is one Spark job — no separate max().head() action / job
      // barrier. The single-partition window is fine because the dim is
      // one row per day by construction.
      val dim = dim0
        .withColumn("peak",
          max("n_day").over(org.apache.spark.sql.expressions.Window
            .partitionBy()))
        .filter(col("n_day") >= expr("peak DIV 2") + 1)
        .drop("peak")
      s.read.schema(fact.schema).parquet(tmp)
        .join(dim, "day")
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
        .orderBy("day")
    }),

    "p_incremental_agg" -> ((s, d) => {
      // incremental aggregate maintenance: the nightly rollup is updated
      // by RE-AGGREGATING (prior rollup ∪ new day's partial) — count and
      // sum are re-aggregatable, so history is never rescanned. At
      // 100 TB this is the difference between touching one day and
      // touching three years. The key materializes the prior rollup the
      // way a real pipeline would (a parquet table), merges the latest
      // day's delta, and the oracle is the FULL recompute — the merged
      // rollup must equal it exactly.
      // the prior rollup is PRE-EXISTING state at run time (yesterday's
      // output) — written once per JVM as the warmed fixture (the
      // p_join_dpp rule); the measured surface is tonight's delta
      // aggregate + the re-aggregating merge, which is the operator
      val tmp = incrAggRollup(s, d)
      val ev = Tables.events(s, d)
        .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
      val maxDay = ev.agg(max("day").as("max_day"))
      val delta = ev.join(broadcast(maxDay), col("day") === col("max_day"))
        .groupBy("day", "event_type")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"))
      s.read.schema(delta.schema).parquet(tmp)
        .unionByName(delta)
        .groupBy("day", "event_type")
        .agg(sum("n").as("n"), sum("sum_cents").as("sum_cents"))
        .orderBy("day", "event_type")
    }),

    "p_cbo_stats" -> ((s, d) => {
      // statistics-driven planning: ANALYZE TABLE records rowCount + per-
      // column stats (ndv, min/max, nulls) in the catalog; with
      // spark.sql.cbo.enabled the optimizer plans joins from those stats
      // (build-side choice, join reordering) instead of raw file sizes.
      // At 100 TB this is the difference between broadcasting a 10-row
      // post-filter dimension (stats know the selectivity) and shuffling
      // 100 TB because the FILE is big. The stats write + CBO plan shape
      // are asserted in scalatest; the query output is oracle-checked.
      for (n <- Seq("graft_cbo_orders", "graft_cbo_cust")) {
        s.sql(s"DROP TABLE IF EXISTS $n")
        // fresh-catalog stale-warehouse cleanup (the a_sink_table recipe)
        val wh = new java.net.URI(s.conf.get("spark.sql.warehouse.dir"))
        val loc = new java.io.File(
          if (wh.getScheme == "file") wh.getPath
          else s.conf.get("spark.sql.warehouse.dir"), n)
        if (loc.isDirectory) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete(); ()
          }
          rm(loc)
        }
      }
      Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").saveAsTable("graft_cbo_orders")
      Tables.customer(s, d).select("c_custkey", "c_mktsegment")
        .write.mode("overwrite").saveAsTable("graft_cbo_cust")
      // stats only for the columns the planner needs (join key + agg
      // targets) — FOR ALL COLUMNS at 100 TB is a much wider scan
      s.sql("ANALYZE TABLE graft_cbo_orders COMPUTE STATISTICS " +
        "FOR COLUMNS o_custkey, o_totalprice")
      s.sql("ANALYZE TABLE graft_cbo_cust COMPUTE STATISTICS " +
        "FOR COLUMNS c_custkey, c_mktsegment")
      // scope the CBO confs to this key: plan under CBO (forcing the
      // physical plan caches it on the returned Dataset), then restore
      // the session values so later keys/tests plan under their own conf
      val saved = Seq("spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled").map(k => k -> s.conf.getOption(k))
      try {
        s.conf.set("spark.sql.cbo.enabled", "true")
        s.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
        val out = s.sql(
          """SELECT c_mktsegment, count(*) AS n_orders,
            |round(sum(o_totalprice), 4) AS total
            |FROM graft_cbo_orders o JOIN graft_cbo_cust c
            |ON o.o_custkey = c.c_custkey
            |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)
        out.queryExecution.executedPlan // plan while CBO is on
        out
      } finally saved.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None)    => s.conf.unset(k)
      }
    }),

    "p_dense_ids" -> ((s, d) => {
      // dense surrogate ids at 100 TB: a global row_number() window
      // funnels EVERY row through one partition — the classic silent
      // bottleneck. The scale shape is zipWithIndex's, relationally:
      // range-partition on the key, rank locally per partition, and add
      // per-partition offsets from a cumulative count — the only global
      // structure is that broadcast #partitions-row offset table (its
      // single-partition window is 8 rows, which is the point). Range
      // boundaries come from sampling and may vary run to run; the
      // assigned id is the GLOBAL RANK, boundary-independent — exactly
      // what the oracle pins.
      //
      // The lineage cut below is CORRECTNESS, not tuning: the partitioned
      // frame feeds two branches (offset table, local ranks), and without
      // it each branch re-executes repartitionByRange with its own
      // boundary sampling — exchange reuse usually dedups them, but ids
      // must not depend on an optimizer fusing the subtrees. One
      // materialization pins one partitioning for both consumers (the
      // same reason RDD zipWithIndex runs its count job on a pinned
      // parent).
      val df = Tables.orders(s, d).select("o_orderkey")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .withColumn("pid", spark_partition_id())
        .cutLineage()
      val offs = df.groupBy("pid").agg(count(lit(1)).as("cnt"))
        .withColumn("off", coalesce(
          sum("cnt").over(Window.orderBy("pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("pid", "off")
      df.withColumn("rn",
          row_number().over(Window.partitionBy("pid").orderBy("o_orderkey")))
        .join(broadcast(offs), "pid")
        .select(col("o_orderkey"), (col("off") + col("rn")).as("sk"))
        .orderBy("o_orderkey")
    }),

    "p_cached_dim" -> ((s, d) => {
      // hot-dimension caching: the dim scans ONCE into the in-memory
      // columnar cache and both join passes read the cached copy
      // (InMemoryTableScan pinned in PlanShapeSpec). At 100 TB you cache
      // the small hot dims, never the fact. No unpersist here: queries
      // return lazy plans, and cache() of the same plan is idempotent —
      // the entry is a few KB of the shared session's memory.
      val dim = Tables.customer(s, d).select("c_custkey", "c_mktsegment").cache()
      val o = Tables.orders(s, d)
      val byseg = o.join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"), r4(sum("o_totalprice")).as("rev"))
      val hi = o.filter(col("o_totalprice") > 150000)
        .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_hi"))
      byseg.join(hi, Seq("c_mktsegment"), "left")
        .select(col("c_mktsegment"), col("n_orders"), col("rev"),
          coalesce(col("n_hi"), lit(0L)).as("n_hi"))
        .orderBy("c_mktsegment")
    }),
  )

  val oracle: ListMap[String, String] = ListMap(
    "p_profile" -> {
      def row(name: String, ex: String): String =
        s"SELECT '$name' AS col_name, count(*) - count($ex) AS n_nulls, " +
          s"count(DISTINCT $ex) AS n_distinct, CAST(min($ex) AS VARCHAR) AS vmin, " +
          s"CAST(max($ex) AS VARCHAR) AS vmax FROM lineitem"
      Seq(
        row("l_orderkey", "l_orderkey"),
        row("l_linenumber", "l_linenumber"),
        row("l_quantity_bp", "CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)"),
        row("l_returnflag", "l_returnflag"),
        row("l_shipday", "strftime(l_shipdate, '%Y-%m-%d')")
      ).mkString("", " UNION ALL ", " ORDER BY col_name")
    },
    "p_compact" ->
      ("SELECT count(*) AS rows, round(sum(l_quantity), 4) AS sum_qty " +
        "FROM lineitem"),
    "p_etl_pipeline" ->
      ("SELECT p_brand, month, count(*) AS n_tickets, " +
        "round(sum(charge), 4) AS total_charge, min(anon_ticket) AS sample_ticket " +
        "FROM (SELECT l_partkey, l_suppkey, strftime(l_shipdate, '%Y-%m') AS month, " +
        "l_extendedprice * (1 - l_discount) AS charge, " +
        "sha256(concat_ws('|', l_orderkey, l_linenumber, l_partkey)) AS anon_ticket " +
        "FROM lineitem WHERE l_quantity BETWEEN 1 AND 50 AND l_discount >= 0) t " +
        "JOIN part ON t.l_partkey = p_partkey " +
        "JOIN supplier ON t.l_suppkey = s_suppkey " +
        "GROUP BY p_brand, month ORDER BY p_brand, month"),
    // the pipe-syntax stages, re-expressed as the classic formulation —
    // pinning that |> is pure sugar over the same relational algebra
    "p_sql_pipe" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, " +
        "round(sum(l_quantity), 4) AS sum_qty, " +
        "round(avg(l_extendedprice), 4) AS avg_price " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-12-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),
    "p_sql_q3" ->
      ("SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, " +
        "o_orderdate, o_orderpriority " +
        "FROM customer JOIN orders ON c_custkey = o_custkey " +
        "JOIN lineitem ON l_orderkey = o_orderkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, l_orderkey LIMIT 20"),
    "p_gdpr_delete" ->
      ("WITH del AS (SELECT c_custkey k FROM customer WHERE c_custkey % 97 = 0), " +
        "dok AS (SELECT o_orderkey FROM orders JOIN del ON o_custkey = k) " +
        "SELECT * FROM (" +
        "SELECT 'customer' table_name, (SELECT count(*) FROM customer) rows_before, " +
        "(SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM del)) rows_after, " +
        "(SELECT count(*) FROM customer) - " +
        "(SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM del)) rows_deleted " +
        "UNION ALL " +
        "SELECT 'lineitem', (SELECT count(*) FROM lineitem), " +
        "(SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dok)), " +
        "(SELECT count(*) FROM lineitem) - " +
        "(SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM dok)) " +
        "UNION ALL " +
        "SELECT 'orders', (SELECT count(*) FROM orders), " +
        "(SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM del)), " +
        "(SELECT count(*) FROM orders) - " +
        "(SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM del))" +
        ") ORDER BY table_name"),
    "p_scd2" ->
      ("SELECT o_custkey, o_orderkey, o_orderdate AS valid_from, " +
        "lead(o_orderdate, 1) OVER w AS valid_to, " +
        "lead(o_orderdate, 1) OVER w IS NULL AS is_current, " +
        "CAST(row_number() OVER w AS BIGINT) AS version, " +
        "round(o_totalprice, 4) AS price FROM orders " +
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) " +
        "ORDER BY o_custkey, version"),
    "p_sql_script" ->
      ("WITH n AS (SELECT count(*) c FROM orders), " +
        "grid AS (SELECT 25000 * g t FROM generate_series(1, 40) s(g)), " +
        "f AS (SELECT t, (SELECT count(*) FROM orders WHERE o_totalprice < t)" +
        "::DOUBLE / (SELECT c FROM n) frac FROM grid) " +
        "SELECT CAST(t AS BIGINT) median_band_upper, round(frac, 4) frac_below " +
        "FROM f WHERE frac >= 0.5 ORDER BY t LIMIT 1"),
    "p_sql_recursive" ->
      ("WITH RECURSIVE sub AS (" +
        "SELECT p_partkey AS root, p_partkey AS node, p_retailprice AS v FROM part " +
        "UNION ALL " +
        "SELECT s.root, c.p_partkey, c.p_retailprice FROM sub s JOIN part c " +
        "ON c.p_partkey >= 1 AND (c.p_partkey - 1) // 2 = s.node) " +
        "SELECT root, count(*) AS subtree_n, round(sum(v), 4) AS subtree_value " +
        "FROM sub GROUP BY root ORDER BY root"),
    // the oracle is the plain-parquet join — bucketing must not change results
    "p_join_bucketed" ->
      ("SELECT l_orderkey, count(*) AS n_lines, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue, " +
        "round(max(o_totalprice), 4) AS total_price " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY l_orderkey ORDER BY l_orderkey"),
    "p_upsert" ->
      ("WITH snap AS (SELECT o_orderkey k, o_totalprice price FROM orders " +
        "WHERE o_orderkey % 10 <> 0), " +
        "delta AS (SELECT o_orderkey dk, o_totalprice * 1.1::DOUBLE dprice " +
        "FROM orders WHERE o_orderkey % 3 = 0) " +
        "SELECT coalesce(k, dk) AS o_orderkey, " +
        "round(coalesce(dprice, price), 4) AS price, " +
        "CASE WHEN dk IS NOT NULL AND k IS NOT NULL THEN 'updated' " +
        "WHEN dk IS NOT NULL THEN 'inserted' ELSE 'kept' END AS action " +
        "FROM snap FULL OUTER JOIN delta ON k = dk ORDER BY o_orderkey"),
    "p_expectations" ->
      ("WITH sc AS (SELECT " +
        "CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) null_key, " +
        "CAST(sum(CASE WHEN l_quantity NOT BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS BIGINT) range_qty, " +
        "CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) range_disc " +
        "FROM lineitem), " +
        "du AS (SELECT CAST(coalesce(sum(c - 1), 0) AS BIGINT) n FROM (" +
        "SELECT count(*) c FROM lineitem GROUP BY l_orderkey, l_linenumber " +
        "HAVING count(*) > 1)), " +
        "orph AS (SELECT count(*) n FROM lineitem " +
        "WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)) " +
        "SELECT check_name, n_violations FROM (" +
        "SELECT 'null_key' check_name, null_key n_violations FROM sc " +
        "UNION ALL SELECT 'range_disc', range_disc FROM sc " +
        "UNION ALL SELECT 'range_qty', range_qty FROM sc " +
        "UNION ALL SELECT 'uniq_line', n FROM du " +
        "UNION ALL SELECT 'fk_orders', n FROM orph) ORDER BY check_name"),
    "p_zorder" -> {
      val morton = (0 until 10).map { b =>
        s"(((l_partkey % 1024) >> $b) % 2) * ${1L << (2 * b)} + " +
          s"(((l_orderkey % 1024) >> $b) % 2) * ${1L << (2 * b + 1)}"
      }.mkString("(", " + ", ")")
      "SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, " +
        s"CAST($morton AS BIGINT) AS morton FROM lineitem " +
        "ORDER BY morton, l_orderkey, l_linenumber, l_partkey, l_suppkey"
    },
    // the oracle is the plain semi-join — bloom pruning must not change
    // results (no false negatives; FPs die in the exact join)
    "p_join_bloom" ->
      ("SELECT l_returnflag, count(*) AS n_lines, " +
        "round(sum(l_extendedprice), 4) AS revenue " +
        "FROM lineitem WHERE l_orderkey IN (" +
        "SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT' " +
        "AND o_orderdate < TIMESTAMP '1996-01-01') " +
        "GROUP BY l_returnflag ORDER BY l_returnflag"),
    // the oracle is the UNSALTED join — salting must not change results
    "p_join_salted" ->
      ("SELECT p_type, count(*) AS cnt, round(sum(l_extendedprice), 4) AS revenue " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "GROUP BY p_type ORDER BY p_type"),
    // the observed metrics must equal the direct aggregate
    "p_observe_metrics" ->
      ("SELECT count(*) AS n_rows, " +
        "CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) " +
        "AS BIGINT) AS price_cents, " +
        "CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty FROM lineitem"),
    // the oracle is the plain band self-join — bucketing must not
    // change the pair set
    "p_join_range_bucket" ->
      ("WITH ev AS (SELECT user_id, event_id, " +
        "CAST(floor(epoch(ts::TIMESTAMP)) AS BIGINT) sec " +
        "FROM events WHERE user_id < 100) " +
        "SELECT a.user_id, a.event_id a_id, b.event_id b_id " +
        "FROM ev a JOIN ev b ON a.user_id = b.user_id " +
        "AND a.event_id < b.event_id AND abs(b.sec - a.sec) <= 300 " +
        "ORDER BY 1, 2, 3"),
    // the oracle is the unpartitioned join — runtime pruning must not
    // change the aggregate
    "p_join_dpp" ->
      ("WITH e AS (SELECT event_id, strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day, " +
        "value FROM events), " +
        "d0 AS (SELECT day, count(*) AS n_day FROM e GROUP BY day), " +
        "dim AS (SELECT day FROM d0 " +
        "WHERE n_day >= (SELECT max(n_day) FROM d0) // 2 + 1) " +
        "SELECT e.day, count(*) AS n, " +
        "CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS sum_cents " +
        "FROM e JOIN dim ON e.day = dim.day " +
        "GROUP BY e.day ORDER BY e.day"),
    // the oracle is the FULL recompute — incremental maintenance must
    // not change the rollup
    "p_incremental_agg" ->
      ("SELECT strftime(ts::TIMESTAMP, '%Y-%m-%d') AS day, event_type, " +
        "count(*) AS n, " +
        "CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) " +
        "AS sum_cents " +
        "FROM events GROUP BY day, event_type ORDER BY day, event_type"),
    // stats-driven planning must not change results — the oracle is the
    // same join straight off the base parquet
    "p_cbo_stats" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "round(sum(o_totalprice), 4) AS total " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment"),
    // the partition-offset ids must equal the global rank
    "p_dense_ids" ->
      ("SELECT o_orderkey, CAST(row_number() OVER (ORDER BY o_orderkey) " +
        "AS BIGINT) AS sk FROM orders ORDER BY o_orderkey"),
    "p_cached_dim" ->
      ("WITH b AS (SELECT c_mktsegment, count(*) AS n_orders, " +
        "round(sum(o_totalprice), 4) AS rev FROM orders " +
        "JOIN customer ON o_custkey = c_custkey GROUP BY c_mktsegment), " +
        "h AS (SELECT c_mktsegment, count(*) AS n_hi FROM orders " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE o_totalprice > 150000 GROUP BY c_mktsegment) " +
        "SELECT b.c_mktsegment, n_orders, rev, " +
        "CAST(coalesce(n_hi, 0) AS BIGINT) AS n_hi " +
        "FROM b LEFT JOIN h USING (c_mktsegment) ORDER BY c_mktsegment"),
  )
}
