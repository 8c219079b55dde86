package graft.sharing

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

/** Spark data-source `Filter` → Delta Sharing `jsonPredicateHints`.
  *
  * The wire grammar (reference src/datasource/expr.rs:8-23,122-158):
  * nodes `column, literal, isNull, equal, lessThan, lessThanOrEqual,
  * greaterThan, greaterThanOrEqual, and, or, not`; value types
  * `bool,int,long,string,date,float,double,timestamp`; serialized as
  * `{"op":…,"children":[…]}` with date literals rendered `YYYY-MM-DD`
  * (expr.rs:106-115). JSON is hand-built to pin the exact field order of
  * the reference's golden strings (expr.rs:276,318,333).
  *
  * Hints are best-effort (Inexact): the server may prune files with them,
  * but every filter is ALSO kept as a Spark residual — see
  * GraftScanBuilder.pushFilters, which returns all filters back.
  */
object PredicateHints {

  sealed trait Op { def json: String }

  final case class ColumnOp(name: String, valueType: String) extends Op {
    def json = s"""{"op":"column","name":${Actions.jstr(name)},"valueType":"$valueType"}"""
  }
  final case class LiteralOp(value: String, valueType: String) extends Op {
    def json = s"""{"op":"literal","value":${Actions.jstr(value)},"valueType":"$valueType"}"""
  }
  final case class NodeOp(op: String, children: Seq[Op]) extends Op {
    def json = s"""{"op":"$op","children":[${children.map(_.json).mkString(",")}]}"""
  }

  /** IN-lists longer than this aren't hinted (wire-size guard). */
  val maxInList: Int = 16

  def equal(l: Op, r: Op): Op = NodeOp("equal", Seq(l, r))
  def lessThan(l: Op, r: Op): Op = NodeOp("lessThan", Seq(l, r))
  def lessThanOrEqual(l: Op, r: Op): Op = NodeOp("lessThanOrEqual", Seq(l, r))
  def greaterThan(l: Op, r: Op): Op = NodeOp("greaterThan", Seq(l, r))
  def greaterThanOrEqual(l: Op, r: Op): Op = NodeOp("greaterThanOrEqual", Seq(l, r))
  def isNull(c: Op): Op = NodeOp("isNull", Seq(c))
  def not(c: Op): Op = NodeOp("not", Seq(c))
  def and(cs: Seq[Op]): Op = NodeOp("and", cs)
  def or(cs: Seq[Op]): Op = NodeOp("or", cs)

  /** Map a Spark type to a hint value type (expr.rs:165-191); None ⇒ the
    * column can't participate in a hint. */
  def valueType(dt: DataType): Option[String] = dt match {
    case BooleanType => Some("bool")
    case IntegerType => Some("int")
    case LongType => Some("long")
    case FloatType => Some("float")
    case DoubleType => Some("double")
    case StringType => Some("string")
    case DateType => Some("date")
    case _: TimestampType => Some("timestamp")
    case _ => None
  }

  private def literal(value: Any, vt: String): String = (value, vt) match {
    // Date literals render as YYYY-MM-DD (expr.rs:106-115).
    case (d: java.sql.Date, "date") => d.toString
    case (d: java.time.LocalDate, "date") => d.toString
    // Timestamp literals render as the UTC INSTANT (ISO-8601), matching
    // the Catalyst path — java.sql.Timestamp.toString is JVM-default-
    // zone wall-clock time, which a server or stats pruner comparing
    // against UTC stats would evaluate hours off.
    case (t: java.sql.Timestamp, "timestamp") => t.toInstant.toString
    case (t: java.time.Instant, "timestamp") => t.toString
    case (v, _) => v.toString
  }

  /** Translate one Spark Filter to an Op; None when not expressible in
    * the hint grammar (those filters simply aren't hinted — mirror of
    * `Op::from_expr` returning Err, expr.rs:92-154). */
  def fromFilter(f: Filter, schema: StructType): Option[Op] =
    translateFilter(f, schema, lenient = true)

  /** `lenient` permits collapsing And(a, untranslatable) to `a` — sound
    * only in a POSITIVE context (matching rows of the conjunction also
    * match `a`). Under Not the approximation inverts: not(a) is weaker
    * than not(And(a, b)) is FALSE — not(a) can exclude rows the original
    * predicate keeps, and a server or stats pruner acting on it would
    * drop live files. So Not descends in strict mode: translate exactly
    * or not at all. */
  private def translateFilter(f: Filter, schema: StructType,
      lenient: Boolean): Option[Op] = {
    def colOp(name: String): Option[(ColumnOp, String)] =
      schema.fields.find(_.name == name)
        .flatMap(fd => valueType(fd.dataType).map(vt => (ColumnOp(name, vt), vt)))
    def binary(name: String, value: Any,
        mk: (Op, Op) => Op): Option[Op] =
      colOp(name).map { case (c, vt) => mk(c, LiteralOp(literal(value, vt), vt)) }

    f match {
      case EqualTo(a, v) => binary(a, v, equal)
      case LessThan(a, v) => binary(a, v, lessThan)
      case LessThanOrEqual(a, v) => binary(a, v, lessThanOrEqual)
      case GreaterThan(a, v) => binary(a, v, greaterThan)
      case GreaterThanOrEqual(a, v) => binary(a, v, greaterThanOrEqual)
      case IsNull(a) => colOp(a).map { case (c, _) => isNull(c) }
      case IsNotNull(a) => colOp(a).map { case (c, _) => not(isNull(c)) }
      // IN-list → or-of-equals (the grammar has no IN node). Bounded so
      // a giant list doesn't balloon the wire hint; a NULL element makes
      // the pruning semantics three-valued — skip translating those.
      case In(a, vs) if vs.nonEmpty && vs.length <= maxInList &&
          !vs.contains(null) =>
        colOp(a).map { case (c, vt) =>
          val eqs = vs.toSeq.map(v => equal(c, LiteralOp(literal(v, vt), vt)))
          if (eqs.length == 1) eqs.head else or(eqs)
        }
      case And(l, r) =>
        (translateFilter(l, schema, lenient),
          translateFilter(r, schema, lenient)) match {
          case (Some(a), Some(b)) => Some(and(Seq(a, b)))
          // one conjunct still prunes correctly on its own (positive ctx)
          case (Some(a), None) if lenient => Some(a)
          case (None, Some(b)) if lenient => Some(b)
          case _ => None
        }
      case Or(l, r) =>
        // OR must have BOTH sides or the hint would over-prune.
        for (a <- translateFilter(l, schema, lenient);
             b <- translateFilter(r, schema, lenient))
          yield or(Seq(a, b))
      case Not(c) => translateFilter(c, schema, lenient = false).map(not)
      case _ => None
    }
  }

  /** Translate a Catalyst expression tree to an Op (the DSv2
    * catalyst-filter pushdown path). Same envelope as `fromFilter`. */
  def fromCatalyst(e: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: StructType): Option[Op] =
    translateCatalyst(e, schema, lenient = true)

  /** Same strict-under-Not rule as [[translateFilter]]. */
  private def translateCatalyst(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      schema: StructType, lenient: Boolean): Option[Op] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}

    def colOf(x: ce.Expression): Option[ColumnOp] = x match {
      case a: ce.Attribute =>
        schema.fields.find(_.name == a.name)
          .flatMap(f => valueType(f.dataType).map(vt => ColumnOp(a.name, vt)))
      case _ => None
    }
    def litOf(x: ce.Expression): Option[LiteralOp] = x match {
      case ce.Literal(v, dt) if v != null =>
        valueType(dt).map { vt =>
          val rendered = dt match {
            case DateType =>
              java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong).toString
            case _: TimestampType =>
              java.time.Instant.EPOCH.plus(v.asInstanceOf[Long],
                java.time.temporal.ChronoUnit.MICROS).toString
            case _ => v.toString
          }
          LiteralOp(rendered, vt)
        }
      case _ => None
    }
    def binary(l: ce.Expression, r: ce.Expression,
        mk: (Op, Op) => Op, flip: (Op, Op) => Op): Option[Op] =
      (for (c <- colOf(l); v <- litOf(r)) yield mk(c, v))
        .orElse(for (c <- colOf(r); v <- litOf(l)) yield flip(c, v))

    e match {
      case ce.EqualTo(l, r) => binary(l, r, equal, equal)
      case ce.LessThan(l, r) => binary(l, r, lessThan, greaterThan)
      case ce.LessThanOrEqual(l, r) =>
        binary(l, r, lessThanOrEqual, greaterThanOrEqual)
      case ce.GreaterThan(l, r) => binary(l, r, greaterThan, lessThan)
      case ce.GreaterThanOrEqual(l, r) =>
        binary(l, r, greaterThanOrEqual, lessThanOrEqual)
      case ce.IsNull(c) => colOf(c).map(isNull)
      case ce.IsNotNull(c) => colOf(c).map(x => not(isNull(x)))
      // IN-list → or-of-equals; every element must be a non-null literal
      case ce.In(a, list) if list.nonEmpty && list.length <= maxInList =>
        val lits = list.map(litOf)
        if (lits.exists(_.isEmpty)) None
        else colOf(a).map { c =>
          val eqs = lits.flatten.map(equal(c, _))
          if (eqs.length == 1) eqs.head else or(eqs)
        }
      // OptimizeIn rewrites In → InSet above inSetConversionThreshold
      // (default 10), which is below maxInList — handle it too, or
      // 11..16-element lists silently lose their hint on this path.
      // hset holds Catalyst-internal values; re-wrap as Literal so the
      // date/timestamp rendering above applies. Sorted for determinism.
      case ce.InSet(a, hset) if hset.nonEmpty && hset.size <= maxInList &&
          !hset.contains(null) =>
        val lits = hset.toSeq.map(v => litOf(ce.Literal(v, a.dataType)))
        if (lits.exists(_.isEmpty)) None
        else colOf(a).map { c =>
          val eqs = lits.flatten.sortBy(_.value).map(equal(c, _))
          if (eqs.length == 1) eqs.head else or(eqs)
        }
      case ce.And(l, r) =>
        (translateCatalyst(l, schema, lenient),
          translateCatalyst(r, schema, lenient)) match {
          case (Some(a), Some(b)) => Some(and(Seq(a, b)))
          case (Some(a), None) if lenient => Some(a)
          case (None, Some(b)) if lenient => Some(b)
          case _ => None
        }
      case ce.Or(l, r) =>
        for (a <- translateCatalyst(l, schema, lenient);
             b <- translateCatalyst(r, schema, lenient))
          yield or(Seq(a, b))
      case ce.Not(c) => translateCatalyst(c, schema, lenient = false).map(not)
      case _ => None
    }
  }

  /** Conjoin translated ops into one hint JSON — the single place the
    * Seq()/one/many → JSON shape lives; every hint producer goes
    * through here so wire format and pruning can't drift. */
  def toHintJson(ops: Seq[Op]): Option[String] = ops match {
    case Seq() => None
    case Seq(one) => Some(one.json)
    case many => Some(and(many).json)
  }

  /** Conjoin all expressible filters into one hint JSON (reference scan
    * conjoins with `conjunction`, table.rs:182). */
  def toHintJson(filters: Seq[Filter], schema: StructType): Option[String] =
    toHintJson(filters.flatMap(fromFilter(_, schema)))
}
