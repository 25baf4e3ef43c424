package graftbench

import java.nio.file.{Files, Paths}
import graft.SparkEntry

/** The analyst: read-only, timer-free query keys, each materialized in
  * full through the `noop` sink (nothing is pruned away the way a
  * `count()` would let it be). One pass runs every key once, in an order
  * the seed permutes per pass; a run is two passes. */
final class ReadMix extends Workload {
  import ReadMix._

  private def run(ctx: Ctx, key: String, dir: String): Unit = {
    val df = ctx.tracer.span("queries", key) {
      SparkEntry.queries(key)(ctx.spark, dir)
    }
    ctx.tracer.span("action", "noop") {
      df.write.format("noop").mode("overwrite").save()
    }
  }

  def setup(ctx: Ctx): Unit = ctx.warm {
    for (k <- Keys) run(ctx, k, ctx.golden)
  }

  /** Two passes, each in its own seeded order: 40 samples, enough for a
    * tail percentile with ten samples above it. */
  def ops(ctx: Ctx): Seq[Op] = (0 until Passes).flatMap { p =>
    new scala.util.Random(ctx.seed * 7919L + p)
      .shuffle(Keys).map { k =>
        Op(k, () => { run(ctx, k, ctx.data); () => None })
      }
  }

  /** 40 samples: p75 has ten above it. */
  val tailPct = 75.0

  /** Each key's result at the timed tier, written for the DuckDB oracle
    * compare (perfbench/oracle.py) together with the key's oracle SQL. */
  def gate(ctx: Ctx): Seq[(String, String)] = {
    val out = Paths.get(ctx.dir("gate"))
    val bad = Keys.flatMap { k =>
      try {
        val df = SparkEntry.queries(k)(ctx.spark, ctx.data)
        // the self-test's perturbation: one key gains a duplicate row
        val res = if (ctx.perturb && k == Keys.head) df.union(df.limit(1))
          else df
        // one file per partition: part files in name order keep row order
        res.write.mode("overwrite").option("compression", "none")
          .parquet(out.resolve(k).toString)
        None
      } catch { case e: Throwable => Some(k -> s"gate run threw: $e") }
    }
    val sql = SparkEntry.oracleSql
    val missing = Keys.filterNot(sql.contains)
    Files.writeString(out.resolve("oracle_sql.json"),
      Main.obj(Keys.filter(sql.contains).map(k => k -> Main.str(sql(k)))))
    bad ++ missing.map(_ -> "no oracle SQL for this key")
  }
}

object ReadMix {
  val Passes = 2

  /** Scan, joins, aggregates, windows, set ops, scalar and nested
    * functions, and the LLM/vector curation keys. Includes the keys whose
    * materialized cost the `count()` bench hides: i_lsh_buckets,
    * e_interp_linear, g_try_errors, d_agg_percentile, d_agg_median,
    * d_winsorize and p_incremental_dedup. Every key here has oracle SQL. */
  val Keys: Seq[String] = Seq(
    "a_scan_parquet", "c_join_star_5way", "c_join_full_outer",
    "d_agg_basic", "d_agg_grouping_sets", "d_agg_percentile",
    "d_agg_median", "d_winsorize", "e_win_topk_group", "e_sessionize",
    "e_interp_linear", "f_intersect_all", "g_try_errors", "g_string_regex",
    "h_from_json", "i_lsh_buckets", "i_cosine_topk", "i_minhash",
    "i_embed_infer", "p_incremental_dedup")
}
