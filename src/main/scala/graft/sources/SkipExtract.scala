package graft.sources

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.types._

/** The ONE place a row predicate is lowered into planning-time skip
  * predicates (`TxnTable.SkipPred`) — shared by every surface that wants
  * file-level skipping from a user-written condition:
  *
  *  - the SQL analysis rule (`GraftSqlRule`): a WHERE directly above a
  *    graft relation, with RESOLVED attributes;
  *  - the native DML entry points (`deleteWhere` / `update` / `merge` /
  *    OPTIMIZE WHERE): the API `Column` is ANALYZED against an empty
  *    frame of the table's schema (`TxnTable.skipPredsFor`), then lands
  *    here with resolved attributes via `resolvedAttr` — candidate
  *    DISCOVERY then reads commit metadata instead of scanning the
  *    table for its touched files;
  *  - the `graft-txn` format bridge: its pushed V1 `sources.Filter`s
  *    become one `Column` conjunction (`TxnFilters.one`) and take the
  *    native DML path above.
  *
  * Soundness contract, same as everywhere in the skipping core: an
  * extracted predicate must be implied by the condition (conjuncts
  * only; strict bounds widen to inclusive; unknown shapes extract
  * NOTHING), because the caller prunes files by it and re-applies the
  * exact condition above — so a missed extraction costs pruning, never
  * rows, and a wrong extraction is the only unsound failure. */
private[graft] object SkipExtract {

  /** Resolver for RESOLVED plans: a bare attribute of `outs`, or an
    * EXACT order-preserving widening cast of one (what type coercion
    * wraps the column side in, e.g. `cast(k as bigint) IN (...)` on an
    * INT column — deciding in the wider space is identical to deciding
    * in the stats space). Lossy casts (long → double) stay opaque.
    * float → double is value-exact but NOT stats-space-exact: float
    * bounds are recorded in Float.toString rendering (0.3), which does
    * not bound the exact double-cast values (0.30000001192...), so a
    * double-space comparison against them could wrongly prune — that
    * cast stays opaque too (pruning loss only, sound). */
  def resolvedAttr(outs: AttributeSet): Expression => Option[String] = {
    def widens(from: DataType, to: DataType): Boolean = {
      def rank(dt: DataType): Option[Int] = dt match {
        case ByteType => Some(0); case ShortType => Some(1)
        case IntegerType => Some(2); case LongType => Some(3)
        case _ => None
      }
      // integral digits an integral type can need (sign aside)
      def digits(dt: DataType): Option[Int] = dt match {
        case ByteType => Some(3); case ShortType => Some(5)
        case IntegerType => Some(10); case LongType => Some(19)
        case _ => None
      }
      from == to ||
        rank(from).zip(rank(to)).exists { case (a, b) => a <= b } ||
        // decimal→decimal rescale that provably loses nothing (scale
        // and integral headroom both non-shrinking) is value-exact and
        // order-preserving, and the stats space compares exact decimal
        // values — so `fine = 123.456` on a DECIMAL(12,2) column, which
        // the analyzer wraps as cast(fine as decimal(13,3)), still
        // prunes. Same for an exact integral→decimal coercion.
        ((from, to) match {
          case (d1: DecimalType, d2: DecimalType) =>
            d2.scale >= d1.scale &&
              d2.precision - d2.scale >= d1.precision - d1.scale
          case (f, d2: DecimalType) =>
            digits(f).exists(d => d2.precision - d2.scale >= d)
          case _ => false
        })
    }
    e => e match {
      case a: AttributeReference if outs.contains(a) => Some(a.name)
      case c: Cast => c.child match {
        case a: AttributeReference
            if outs.contains(a) && widens(a.dataType, c.dataType) =>
          Some(a.name)
        case _ => None
      }
      case _ => None
    }
  }

  /** Extract the skip predicates implied by `cond`, with `attrOf`
    * deciding what counts as a bare column reference. */
  def preds(cond: Expression,
      attrOf: Expression => Option[String]): Seq[TxnTable.SkipPred] = {
    // RuntimeReplaceables (BETWEEN et al.) survive analysis unexpanded —
    // their replacement is the expanded form (`between` → `>= AND <=`),
    // so recursing into it extracts the bounds the optimizer would see
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case rr: RuntimeReplaceable => conjuncts(rr.replacement)
      // common-expression factoring (With/ref/def — what BETWEEN's
      // replacement arrives wrapped in): inline the defs back
      case w: With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        conjuncts(w.child.transform {
          case ref: CommonExpressionRef => byId.getOrElse(ref.id, ref)
        })
      case other => Seq(other)
    }
    // constant side of a comparison: a Literal, or any FOLDABLE
    // deterministic resolved expression (analyzed plans still carry the
    // coercion Casts the optimizer folds later — `k > 110` on a BIGINT
    // column is `k > cast(110 as bigint)` there), evaluated now
    def constOf(e: Expression): Option[(Any, DataType)] = e match {
      case Literal(v, dt) => Option(v).map((_, dt))
      case _ if e.resolved && e.foldable && e.deterministic =>
        scala.util.Try(e.eval(null)).toOption
          .flatMap(Option(_)).map((_, e.dataType))
      case _ => None
    }
    // a literal in the STATS comparison space (prune bound)
    def bdLit(e: Expression): Option[BigDecimal] = constOf(e).flatMap {
      case (v, IntegerType) => Some(BigDecimal(v.asInstanceOf[Int]))
      case (v, LongType) => Some(BigDecimal(v.asInstanceOf[Long]))
      case (v, ShortType) => Some(BigDecimal(v.asInstanceOf[Short].toInt))
      case (v, ByteType) => Some(BigDecimal(v.asInstanceOf[Byte].toInt))
      case (v, DoubleType) => Some(BigDecimal(v.asInstanceOf[Double]))
      // Float.toString matches the footer's float rendering; toDouble
      // would shift the value off the recorded bounds (e.g. 0.3f →
      // 0.30000001192092896) and wrongly prune an exact-match file
      case (v, FloatType) =>
        Some(BigDecimal(v.asInstanceOf[Float].toString))
      case (v, DateType) => Some(BigDecimal(v.asInstanceOf[Int]))
      case (v, TimestampType) => Some(BigDecimal(v.asInstanceOf[Long]))
      case (v, TimestampNTZType) => Some(BigDecimal(v.asInstanceOf[Long]))
      // decimal bounds compare as the exact logical value — the space
      // footerStats records int32/int64-backed decimal stats in
      case (v, _: DecimalType) =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal)
      case _ => None
    }
    // a literal as a POINT value (stats range via the numeric space,
    // bloom via the schema-typed probe). Date/timestamp literals pass
    // their raw days/micros — the stats space — and the bloom probe
    // ignores them (schema type mismatch keeps the file): sound.
    def pointVal(e: Expression): Option[Any] = constOf(e).flatMap {
      case (v, StringType) => Some(v.toString)
      case (v, IntegerType | LongType | DoubleType | FloatType |
               ShortType | ByteType | DateType | TimestampType |
               TimestampNTZType) => Some(v)
      // decimal point: stats range via the exact-value space (statsSpace
      // handles Decimal); the bloom probe has no decimal hash and keeps
      // the file — sound
      case (v, _: DecimalType) => Some(v)
      case _ => None
    }
    // string literal for the UTF8_BINARY range pred (Spark's default
    // collation — matching the "#str" footer bounds' byte order)
    def strLit(e: Expression): Option[String] = constOf(e).collect {
      case (v, StringType) => v.toString
    }
    // `attr OP lit` keeps the bound as written; `lit OP attr` flips it
    def range(x: Expression, y: Expression, loSide: Boolean)
        : Option[TxnTable.SkipPred] =
      (for (n <- attrOf(x); b <- bdLit(y)) yield
        if (loSide) TxnTable.SkipRange(n, Some(b), None)
        else TxnTable.SkipRange(n, None, Some(b)))
      .orElse(for (n <- attrOf(y); b <- bdLit(x)) yield
        if (loSide) TxnTable.SkipRange(n, None, Some(b))
        else TxnTable.SkipRange(n, Some(b), None))
      .orElse(for (n <- attrOf(x); s <- strLit(y)) yield
        if (loSide) TxnTable.SkipStrRange(n, Some(s), None)
        else TxnTable.SkipStrRange(n, None, Some(s)))
      .orElse(for (n <- attrOf(y); s <- strLit(x)) yield
        if (loSide) TxnTable.SkipStrRange(n, None, Some(s))
        else TxnTable.SkipStrRange(n, Some(s), None))
    def basic(e: Expression): Option[TxnTable.SkipPred] = e match {
      case GreaterThanOrEqual(x, y) => range(x, y, loSide = true)
      case GreaterThan(x, y) => range(x, y, loSide = true)
      case LessThanOrEqual(x, y) => range(x, y, loSide = false)
      case LessThan(x, y) => range(x, y, loSide = false)
      case EqualTo(x, y) =>
        (for (n <- attrOf(x); v <- pointVal(y))
          yield TxnTable.SkipEq(n, v))
        .orElse(for (n <- attrOf(y); v <- pointVal(x))
          yield TxnTable.SkipEq(n, v))
      // <=> with a non-null literal skips like =; <=> NULL is IS NULL
      case EqualNullSafe(x, y) =>
        def nullLit(e: Expression): Boolean = e match {
          case Literal(null, _) => true
          case _ if e.resolved && e.foldable && e.deterministic =>
            scala.util.Try(e.eval(null)).toOption.contains(null)
          case _ => false
        }
        def side(a: Expression, l: Expression) = attrOf(a).flatMap { n =>
          if (nullLit(l)) Some(TxnTable.SkipNull(n, isNull = true))
          else pointVal(l).map(TxnTable.SkipEq(n, _))
        }
        side(x, y).orElse(side(y, x))
      case In(a, list) if list.nonEmpty =>
        for (n <- attrOf(a);
             xs <- Some(list.flatMap(pointVal(_))) if xs.size == list.size)
          yield TxnTable.SkipIn(n, xs)
      case IsNull(a) => attrOf(a).map(TxnTable.SkipNull(_, isNull = true))
      case IsNotNull(a) => attrOf(a).map(TxnTable.SkipNull(_, isNull = false))
      // LIKE with a literal pattern: no wildcards → a point lookup
      // (stats + bloom); a pure 'prefix%' → the shared prefix range.
      // Anything else (interior %, _, an escape char in play) extracts
      // nothing — the exact LIKE always re-applies above.
      case l: Like =>
        for {
          n <- attrOf(l.left); c <- constOf(l.right)
          if c._2 == StringType
          p <- likePred(n, c._1.toString, l.escapeChar)
        } yield p
      case sw: StartsWith =>
        for { n <- attrOf(sw.left); c <- constOf(sw.right)
              if c._2 == StringType }
          yield TxnTable.prefixRange(n, c._1.toString)
      case _ => None
    }
    def likePred(n: String, pat: String, esc: Char)
        : Option[TxnTable.SkipPred] =
      if (pat.indexOf(esc) >= 0) None
      else if (!pat.exists(ch => ch == '%' || ch == '_'))
        Some(TxnTable.SkipEq(n, pat))
      else if (pat.endsWith("%") &&
          !pat.dropRight(1).exists(ch => ch == '%' || ch == '_'))
        Some(TxnTable.prefixRange(n, pat.dropRight(1)))
      else None
    // monotone TIME-function inversion: `year(ts) = 2024`,
    // `cast(ts as date) = DATE '…'`, `date_trunc('day', ts) >= …` — the
    // predicates users actually type for "the day's data" — become a
    // SkipRange on the UNDERLYING column's raw stats space (micros/days),
    // so the day's query plans the day's files without rewriting the SQL.
    // Tried only when the plain extraction yields nothing, so a bare
    // point equality keeps its bloom-probing SkipEq.
    def timeFn(e: Expression): Option[TxnTable.SkipPred] = {
      def inverted(fn: Expression, lit: Expression)
          : Option[(String, (BigDecimal, BigDecimal))] =
        for { (n, m) <- TimeInvert.inv(fn, attrOf)
              c <- constOf(lit); r <- m(c._1, c._2) } yield (n, r)
      e match {
        case EqualTo(x, y) =>
          inverted(x, y).orElse(inverted(y, x)).map { case (n, (lo, hi)) =>
            TxnTable.SkipRange(n, Some(lo), Some(hi)) }
        case GreaterThanOrEqual(x, y) => invCmp(inverted, x, y)
        case GreaterThan(x, y) => invCmp(inverted, x, y)
        case LessThanOrEqual(x, y) => invCmp(inverted, y, x)
        case LessThan(x, y) => invCmp(inverted, y, x)
        case In(a, list) if list.nonEmpty =>
          // span of the per-value intervals — sound (a superset of the
          // disjunction), and the common `day IN (d1, d2)` lists are
          // near-contiguous so the span still prunes
          val rs = list.map(l => inverted(a, l))
          if (rs.forall(_.isDefined)) {
            val got = rs.flatten
            Some(TxnTable.SkipRange(got.head._1,
              Some(got.map(_._2._1).min), Some(got.map(_._2._2).max)))
          } else None
        case _ => None
      }
    }
    // OR trees prune too, when EVERY side yields a predicate: a side is
    // itself a conjunction (subset extraction sound — drop what doesn't
    // extract), an OR branch requires both arms (one opaque arm makes
    // the whole OR extract nothing — keeping such a file is the only
    // sound call). `(ts in window A) OR (ts in window B)` — the
    // multi-window scan / multi-key GDPR shape — plans both windows'
    // files and nothing else.
    def leafPred(e: Expression): Option[TxnTable.SkipPred] = e match {
      // NOT pushes through the tree instead of extracting nothing:
      // De Morgan on And/Or, operator flips on comparisons, null-test
      // inversion. Each rewrite is an implication as a FILTER (a row
      // passing `NOT (k > 5)` has k <= 5 — a null k passes neither), so
      // soundness is inherited. `NOT BETWEEN` lands here via the
      // RuntimeReplaceable expansion as Not(And(ge, le)).
      case Not(inner) => negate(inner).flatMap(leafPred)
      case Or(l, r) =>
        for (a <- sidePred(l); b <- sidePred(r)) yield (a, b) match {
          // OR of points on ONE column is an IN list — keeps the bloom
          // probe a generic SkipOr would lose
          case (TxnTable.SkipEq(c1, v1), TxnTable.SkipEq(c2, v2))
              if c1 == c2 => TxnTable.SkipIn(c1, Seq(v1, v2))
          case (TxnTable.SkipIn(c1, vs), TxnTable.SkipEq(c2, v))
              if c1 == c2 => TxnTable.SkipIn(c1, vs :+ v)
          case (TxnTable.SkipEq(c1, v), TxnTable.SkipIn(c2, vs))
              if c1 == c2 => TxnTable.SkipIn(c1, v +: vs)
          case (TxnTable.SkipIn(c1, v1), TxnTable.SkipIn(c2, v2))
              if c1 == c2 => TxnTable.SkipIn(c1, v1 ++ v2)
          case _ => TxnTable.SkipOr(Seq(a, b))
        }
      case other => basic(other).orElse(timeFn(other))
    }
    def sidePred(e: Expression): Option[TxnTable.SkipPred] =
      conjuncts(e).flatMap(leafPred) match {
        case Seq() => None
        case Seq(one) => Some(one)
        case many => Some(TxnTable.SkipAnd(many))
      }
    // the NEGATION of `e`, as an expression the extractors above
    // understand — None when no sound flip exists (e.g. a negated
    // equality, whose complement prunes nothing useful). A negated OR
    // may keep just its negatable side: the result is a conjunct subset
    // of the true complement, which only weakens the prune.
    def negate(e: Expression): Option[Expression] = e match {
      case Not(x) => Some(x)
      case And(l, r) => for (a <- negate(l); b <- negate(r)) yield Or(a, b)
      case Or(l, r) => (negate(l), negate(r)) match {
        case (Some(a), Some(b)) => Some(And(a, b))
        case (one, other) => one.orElse(other)
      }
      case GreaterThan(x, y) => Some(LessThanOrEqual(x, y))
      case GreaterThanOrEqual(x, y) => Some(LessThan(x, y))
      case LessThan(x, y) => Some(GreaterThanOrEqual(x, y))
      case LessThanOrEqual(x, y) => Some(GreaterThan(x, y))
      case IsNull(x) => Some(IsNotNull(x))
      case IsNotNull(x) => Some(IsNull(x))
      case rr: RuntimeReplaceable => negate(rr.replacement)
      case w: With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        negate(w.child.transform {
          case ref: CommonExpressionRef => byId.getOrElse(ref.id, ref)
        })
      case _ => None
    }
    conjuncts(cond).flatMap(leafPred)
  }

  /** EXACT lowering for the metadata-only delete prover — the INVERSE
    * soundness contract of `preds` above. `preds` extracts predicates
    * IMPLIED by the condition (drop what doesn't translate, widen strict
    * bounds) because its caller re-applies the exact condition; this
    * path's caller does NOT — it drops whole files on the strength of
    * the translation — so it returns Some only when the ENTIRE condition
    * is a conjunction of leaves translated as EQUIVALENCES (strictness
    * preserved, nothing dropped; a `TRUE` literal conjunct is identity
    * and vanishes). Deliberately not shared with the skip extractor's
    * leaf code: unifying the two would invite widening into this path.
    * Columns of FLOAT/DOUBLE type never translate — parquet min/max
    * ignore NaN, so bounds cannot prove a NaN-free all-match. */
  def exactPreds(cond: Expression, attrOf: Expression => Option[String],
      typeOf: String => Option[DataType])
      : Option[Seq[TxnTable.AllPred]] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case rr: RuntimeReplaceable => conjuncts(rr.replacement)
      case w: With =>
        val byId = w.defs.map(d => d.id -> d.child).toMap
        conjuncts(w.child.transform {
          case ref: CommonExpressionRef => byId.getOrElse(ref.id, ref)
        })
      case other => Seq(other)
    }
    def constOf(e: Expression): Option[(Any, DataType)] = e match {
      case Literal(v, dt) => Option(v).map((_, dt))
      case _ if e.resolved && e.foldable && e.deterministic =>
        scala.util.Try(e.eval(null)).toOption
          .flatMap(Option(_)).map((_, e.dataType))
      case _ => None
    }
    def bdLit(e: Expression): Option[BigDecimal] = constOf(e).flatMap {
      case (v, IntegerType) => Some(BigDecimal(v.asInstanceOf[Int]))
      case (v, LongType) => Some(BigDecimal(v.asInstanceOf[Long]))
      case (v, ShortType) => Some(BigDecimal(v.asInstanceOf[Short].toInt))
      case (v, ByteType) => Some(BigDecimal(v.asInstanceOf[Byte].toInt))
      case (v, DateType) => Some(BigDecimal(v.asInstanceOf[Int]))
      case (v, TimestampType) => Some(BigDecimal(v.asInstanceOf[Long]))
      case (v, TimestampNTZType) => Some(BigDecimal(v.asInstanceOf[Long]))
      case (v, _: DecimalType) =>
        Some(v.asInstanceOf[org.apache.spark.sql.types.Decimal].toBigDecimal)
      case _ => None
    }
    def strLit(e: Expression): Option[String] = constOf(e).collect {
      case (v, StringType) => v.toString
    }
    def pointVal(e: Expression): Option[Any] = constOf(e).flatMap {
      case (v, StringType) => Some(v.toString)
      case (v, IntegerType | LongType | ShortType | ByteType |
               DateType | TimestampType | TimestampNTZType) => Some(v)
      case (v, _: DecimalType) => Some(v)
      case _ => None
    }
    // a column reference whose TYPE admits an exact all-match proof
    // (no float/double — NaN; everything else proves through the same
    // stats space the skip side uses)
    def attr(e: Expression): Option[String] = attrOf(e).filter { n =>
      typeOf(n) match {
        case Some(FloatType) | Some(DoubleType) | None => false
        case Some(_) => true
      }
    }
    def range(x: Expression, y: Expression, loSide: Boolean,
        incl: Boolean): Option[TxnTable.AllPred] =
      (for (n <- attr(x); b <- bdLit(y)) yield
        if (loSide) TxnTable.AllRange(n, Some((b, incl)), None)
        else TxnTable.AllRange(n, None, Some((b, incl))))
      .orElse(for (n <- attr(y); b <- bdLit(x)) yield
        if (loSide) TxnTable.AllRange(n, None, Some((b, incl)))
        else TxnTable.AllRange(n, Some((b, incl)), None))
      .orElse(for (n <- attr(x); s <- strLit(y)) yield
        if (loSide) TxnTable.AllStrRange(n, Some((s, incl)), None)
        else TxnTable.AllStrRange(n, None, Some((s, incl))))
      .orElse(for (n <- attr(y); s <- strLit(x)) yield
        if (loSide) TxnTable.AllStrRange(n, None, Some((s, incl)))
        else TxnTable.AllStrRange(n, Some((s, incl)), None))
    def one(e: Expression): Option[TxnTable.AllPred] = e match {
      case GreaterThanOrEqual(x, y) => range(x, y, loSide = true, incl = true)
      case GreaterThan(x, y) => range(x, y, loSide = true, incl = false)
      case LessThanOrEqual(x, y) => range(x, y, loSide = false, incl = true)
      case LessThan(x, y) => range(x, y, loSide = false, incl = false)
      case EqualTo(x, y) =>
        (for (n <- attr(x); v <- pointVal(y)) yield TxnTable.AllEq(n, v))
          .orElse(for (n <- attr(y); v <- pointVal(x))
            yield TxnTable.AllEq(n, v))
      // a <=> v is (a = v AND a IS NOT NULL); the AllEq prover already
      // requires zero nulls, so the translations coincide. a <=> NULL
      // is IS NULL exactly.
      case EqualNullSafe(x, y) =>
        def nullLit(e: Expression): Boolean = e match {
          case Literal(null, _) => true
          case _ if e.resolved && e.foldable && e.deterministic =>
            scala.util.Try(e.eval(null)).toOption.contains(null)
          case _ => false
        }
        def side(a: Expression, l: Expression) = attr(a).flatMap { n =>
          if (nullLit(l)) Some(TxnTable.AllNull(n, isNull = true))
          else pointVal(l).map(TxnTable.AllEq(n, _))
        }
        side(x, y).orElse(side(y, x))
      case In(a, list) if list.nonEmpty =>
        for (n <- attr(a);
             xs <- Some(list.flatMap(pointVal(_))) if xs.size == list.size)
          yield TxnTable.AllIn(n, xs)
      case IsNull(a) => attr(a).map(TxnTable.AllNull(_, isNull = true))
      case IsNotNull(a) => attr(a).map(TxnTable.AllNull(_, isNull = false))
      case _ => None
    }
    val leaves = conjuncts(cond).filter {
      case Literal(true, BooleanType) => false // identity conjunct
      case _ => true
    }
    val out = leaves.map(one)
    if (out.forall(_.isDefined)) Some(out.flatten) else None
  }

  /** `f(attr) >= lit` (either argument order — callers pass (ge-side,
    * le-side)): keep only the bound the monotone inversion makes sound. */
  private def invCmp(
      inverted: (Expression, Expression) => Option[(String, (BigDecimal, BigDecimal))],
      geSide: Expression, leSide: Expression): Option[TxnTable.SkipPred] =
    // fn on the >= side: x >= lo(c). fn on the <= side: x <= hi(c).
    inverted(geSide, leSide)
      .map { case (n, (lo, _)) => TxnTable.SkipRange(n, Some(lo), None) }
      .orElse(inverted(leSide, geSide)
        .map { case (n, (_, hi)) => TxnTable.SkipRange(n, None, Some(hi)) })

  /** Inversion of a MONOTONE (non-decreasing) time-function chain applied
    * to a date/timestamp column, into bounds in the column's raw stats
    * space (epoch days for DATE, epoch micros for TIMESTAMP[_NTZ]).
    *
    * Contract (what makes the pruning sound): for chain `f` and constant
    * `c`, the returned interval [lo, hi] satisfies
    *   f(x) >= c  ⇒  x >= lo      and      f(x) <= c  ⇒  x <= hi
    * so equality implies x ∈ [lo, hi], `>=`/`>` keep only lo, `<=`/`<`
    * keep only hi (strict widened to inclusive — file granularity).
    * Composition maps interval ENDPOINTS through the child's inversion,
    * which preserves the contract because every step is non-decreasing.
    * Anything uninvertible (lossy cast, non-monotone field like month(),
    * unknown unit, arithmetic overflow) returns None — no pruning beats
    * wrong pruning. Timezone arithmetic uses the Cast/TruncTimestamp
    * node's OWN zone (what the analyzer resolved) via java.time rules —
    * the same rules Spark evaluates with — with earlier/later offset at
    * DST overlaps chosen per endpoint so the interval can only widen. */
  private object TimeInvert {
    import java.time._
    import java.time.temporal.{ChronoUnit, TemporalAdjusters}
    private val Micros = 1000000L

    /** Point constant in the chain's value space → raw [lo, hi]. */
    type Mapper = (Any, DataType) => Option[(BigDecimal, BigDecimal)]

    def inv(e: Expression, attrOf: Expression => Option[String])
        : Option[(String, Mapper)] =
      recur(e, attrOf).collect {
        // a bare column (or widening cast of one) is the basic
        // extraction's job — only a genuine function chain lands here
        case (n, space, m) if !isBare(e) =>
          (n, (v: Any, dt: DataType) => toNum(v, dt, space)
            .flatMap(c => scala.util.Try(m(c)).toOption.flatten))
      }

    private def isBare(e: Expression): Boolean = e match {
      case _: AttributeReference => true
      case c: Cast => c.child.isInstanceOf[AttributeReference] &&
        c.child.dataType == c.dataType
      case _ => false
    }

    /** The constant, converted to the chain's numeric space iff its
      * resolved type matches the space family exactly (the analyzer
      * coerces the literal to the function's return type, so a family
      * mismatch means "don't prune", not "convert"). */
    private def toNum(v: Any, dt: DataType, space: DataType)
        : Option[BigDecimal] = (dt, space) match {
      case (DateType, DateType) => Some(BigDecimal(v.asInstanceOf[Int]))
      case (TimestampType, TimestampType | TimestampNTZType) |
           (TimestampNTZType, TimestampType | TimestampNTZType) =>
        Some(BigDecimal(v.asInstanceOf[Long]))
      case (IntegerType, IntegerType) => Some(BigDecimal(v.asInstanceOf[Int]))
      case (LongType, IntegerType) => Some(BigDecimal(v.asInstanceOf[Long]))
      case (ShortType, IntegerType) =>
        Some(BigDecimal(v.asInstanceOf[Short].toInt))
      case _ => None
    }

    /** (column, value-space type, point-inversion in numeric space). */
    private def recur(e: Expression, attrOf: Expression => Option[String])
        : Option[(String, DataType, BigDecimal => Option[(BigDecimal, BigDecimal)])] = {
      def compose(childM: BigDecimal => Option[(BigDecimal, BigDecimal)],
          lo: BigDecimal, hi: BigDecimal): Option[(BigDecimal, BigDecimal)] =
        for ((l, _) <- childM(lo); (_, h) <- childM(hi)) yield (l, h)
      e match {
        // base: a raw date/timestamp column — identity inversion
        case a: AttributeReference if attrOf(a).isDefined &&
            (a.dataType == DateType || a.dataType == TimestampType ||
             a.dataType == TimestampNTZType) =>
          Some((attrOf(a).get, a.dataType, c => Some((c, c))))
        // to_date(ts) and friends analyze to a RuntimeReplaceable whose
        // replacement is the Cast chain below
        case rr: RuntimeReplaceable => recur(rr.replacement, attrOf)
        case c: Cast =>
          recur(c.child, attrOf).flatMap { case (n, space, m) =>
            (space, c.dataType) match {
              // micros → days: day d's preimage is [startOfDay(d),
              // startOfDay(d+1)) in the cast's zone (NTZ: wall clock)
              case (TimestampType | TimestampNTZType, DateType) =>
                val zone = zoneFor(space, c.timeZoneId)
                Some((n, DateType, (d: BigDecimal) => {
                  val ld = LocalDate.ofEpochDay(d.toLongExact)
                  compose(m, BigDecimal(dayStartMicros(ld, zone, later = false)),
                    BigDecimal(dayStartMicros(ld.plusDays(1), zone, later = true) - 1L))
                }))
              // days → micros: instant c's preimage in days is
              // [ceil-day(c), floor-day(c)] (lo > hi when c is interior
              // to a day and only equality could match — still sound)
              case (DateType, TimestampType | TimestampNTZType) =>
                val zone = zoneFor(c.dataType, c.timeZoneId)
                Some((n, c.dataType, (mic: BigDecimal) => {
                  val micL = mic.toLongExact
                  val ld = Instant.ofEpochSecond(Math.floorDiv(micL, Micros),
                    Math.floorMod(micL, Micros) * 1000L).atZone(zone).toLocalDate
                  val loDay =
                    if (dayStartMicros(ld, zone, later = false) >= micL) ld
                    else ld.plusDays(1)
                  compose(m, BigDecimal(loDay.toEpochDay),
                    BigDecimal(ld.toEpochDay))
                }))
              // exact integral widening around an integer-space chain
              // (`year(ts) = 2024L` coerces the YEAR side up)
              case (IntegerType, LongType) => Some((n, space, m))
              case _ => None
            }
          }
        case y: org.apache.spark.sql.catalyst.expressions.Year =>
          recur(y.child, attrOf).flatMap { case (n, space, m) =>
            if (space != DateType) None
            else Some((n, IntegerType, (y: BigDecimal) => {
              val yi = y.toIntExact
              if (yi < 1 || yi > 9998) None
              else compose(m, BigDecimal(LocalDate.of(yi, 1, 1).toEpochDay),
                BigDecimal(LocalDate.of(yi + 1, 1, 1).toEpochDay - 1L))
            }))
          }
        // date_trunc(unit, ts): f(x) >= c ⇒ x >= c (trunc never exceeds
        // its input), f(x) <= c ⇒ x < nextBoundary(floorBoundary(c))
        case TruncTimestamp(fmt, child, tz) if fmt.foldable =>
          for {
            unit <- scala.util.Try(fmt.eval(null)).toOption.flatMap(Option(_))
              .map(_.toString.toUpperCase(java.util.Locale.ROOT))
            (n, space, m) <- recur(child, attrOf)
            if space == TimestampType || space == TimestampNTZType
          } yield {
            val zone = zoneFor(space, tz)
            (n, TimestampType, (c: BigDecimal) => {
              val cL = c.toLongExact
              nextBoundaryMicros(cL, unit, zone)
                .flatMap(nb => compose(m, c, BigDecimal(nb - 1L)))
            })
          }
        // trunc(date, unit): same shape in the days space
        case TruncDate(child, fmt) if fmt.foldable =>
          for {
            unit <- scala.util.Try(fmt.eval(null)).toOption.flatMap(Option(_))
              .map(_.toString.toUpperCase(java.util.Locale.ROOT))
            (n, space, m) <- recur(child, attrOf) if space == DateType
          } yield (n, DateType, (c: BigDecimal) => {
            val ld = LocalDate.ofEpochDay(c.toLongExact)
            floorNextDate(ld, unit).flatMap { case (_, nx) =>
              compose(m, c, BigDecimal(nx.toEpochDay - 1L)) }
          })
        case _ => None
      }
    }

    /** NTZ chains do wall-clock arithmetic (UTC stands in for "no zone");
      * instant chains use the node's analyzer-resolved zone. */
    private def zoneFor(space: DataType, tz: Option[String]): ZoneId =
      if (space == TimestampNTZType) ZoneOffset.UTC
      else ZoneId.of(tz.getOrElse(
        org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone))

    private def microsOf(i: Instant): Long =
      Math.addExact(Math.multiplyExact(i.getEpochSecond, Micros),
        i.getNano / 1000L)

    /** First instant of `ld` in `zone` as micros; at a DST overlap the
      * `later` flag picks the offset that can only WIDEN the interval. */
    private def dayStartMicros(ld: LocalDate, zone: ZoneId,
        later: Boolean): Long = {
      val z = ld.atStartOfDay(zone)
      microsOf((if (later) z.withLaterOffsetAtOverlap() else z).toInstant)
    }

    /** The first truncation boundary STRICTLY ABOVE floor(c) for `unit`
      * in `zone`, as micros (later offset at overlap — widening-safe). */
    private def nextBoundaryMicros(c: Long, unit: String,
        zone: ZoneId): Option[Long] = {
      val l = Instant.ofEpochSecond(Math.floorDiv(c, Micros),
        Math.floorMod(c, Micros) * 1000L).atZone(zone).toLocalDateTime
      val nx: Option[LocalDateTime] = unit match {
        case "YEAR" | "YYYY" | "YY" | "QUARTER" | "MONTH" | "MON" | "MM" |
             "WEEK" | "DAY" | "DD" =>
          floorNextDate(l.toLocalDate, unit).map(_._2.atStartOfDay)
        case "HOUR" => Some(l.truncatedTo(ChronoUnit.HOURS).plusHours(1))
        case "MINUTE" => Some(l.truncatedTo(ChronoUnit.MINUTES).plusMinutes(1))
        case "SECOND" => Some(l.truncatedTo(ChronoUnit.SECONDS).plusSeconds(1))
        case _ => None
      }
      nx.map(n =>
        microsOf(n.atZone(zone).withLaterOffsetAtOverlap().toInstant))
    }

    /** (floor boundary, next boundary) of `ld` for a date-granular unit
      * (week starts Monday, matching Spark's trunc/date_trunc). */
    private def floorNextDate(ld: LocalDate, unit: String)
        : Option[(LocalDate, LocalDate)] = unit match {
      case "YEAR" | "YYYY" | "YY" =>
        val s = ld.withDayOfYear(1); Some((s, s.plusYears(1)))
      case "QUARTER" =>
        val s = LocalDate.of(ld.getYear, ((ld.getMonthValue - 1) / 3) * 3 + 1, 1)
        Some((s, s.plusMonths(3)))
      case "MONTH" | "MON" | "MM" =>
        val s = ld.withDayOfMonth(1); Some((s, s.plusMonths(1)))
      case "WEEK" =>
        val s = ld.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
        Some((s, s.plusDays(7)))
      case "DAY" | "DD" =>
        Some((ld, ld.plusDays(1)))
      case _ => None
    }
  }
}
