package graft.join

import org.apache.spark.sql.{Column, Row, functions => F}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualNullSafe, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.types.StructType

/**
 * Generalized extra join condition: an arbitrary Spark SQL boolean
 * expression over `left.<col>` / `right.<col>`, where `left` is the
 * iterated side and `right` the broadcast side.
 *
 * The reference hardcodes exactly two condition strings and throws on
 * anything else (reference: src/main/scala/me/valik/spark/transformer/
 * BroadcastSpatialJoin.scala:493-533, TODO at :509 asks for exactly this
 * generalization). Here the string is rewritten (`left.x` → `__l_x`),
 * analyzed by Catalyst against the two schemas (so implicit casts, e.g.
 * Int vs Long in `between`, resolve exactly as Spark SQL would) and
 * returned over the join's own column attributes, as Catalyst's `Join`
 * holds its condition (graft.plans.SpatialJoinPlan). [[split]] factors
 * it for the join kernels, which run it per candidate pair, before
 * `nearest` selection, matching the reference's semantics (its test
 * :460-504 pins that the condition can divert a nearest match).
 */
object PairCondition {

  private val SideRef = raw"(?i)\b(left|right)\s*\.\s*([A-Za-z_][A-Za-z0-9_]*)".r

  /** Copy of `s` with every character inside quoted regions ('...'
    * strings with backslash escapes, "..." and `...` quoted identifiers)
    * replaced by a space — so side-reference matching can never fire
    * inside a literal like `'left.handed'`. Quote characters themselves
    * are preserved, so match positions in the masked string map 1:1 onto
    * the original. */
  private def maskQuoted(s: String): String = {
    val arr = s.toCharArray
    var i = 0
    var quote: Char = 0
    while (i < arr.length) {
      val c = arr(i)
      if (quote == 0) {
        if (c == '\'' || c == '"' || c == '`') quote = c
      } else if (c == '\\' && quote != '`' && i + 1 < arr.length) {
        arr(i) = ' '; arr(i + 1) = ' '; i += 1 // skip the escaped char too
      } else if (c == quote) quote = 0
      else arr(i) = ' '
      i += 1
    }
    new String(arr)
  }

  private def replaceSideRefs(s: String)(repl: scala.util.matching.Regex.Match => String): String = {
    val sb = new StringBuilder
    var last = 0
    for (m <- SideRef.findAllMatchIn(maskQuoted(s))) {
      sb.append(s.substring(last, m.start)).append(repl(m))
      last = m.end
    }
    sb.append(s.substring(last)).toString
  }

  /** Column names referenced per side: (left columns, right columns). */
  def referencedColumns(condition: String): (Seq[String], Seq[String]) = {
    val refs = SideRef.findAllMatchIn(maskQuoted(condition))
      .map(m => (m.group(1).toLowerCase, m.group(2))).toSeq
    (refs.collect { case ("left", c) => c }.distinct,
      refs.collect { case ("right", c) => c }.distinct)
  }

  /** Compile a transformer condition string on the driver: the
    * condition over `left` ++ `right`, the two sides' columns in their
    * frames' order (see [[resolve]]). None for an empty condition
    * string. */
  def compile(
      spark: SparkSession,
      condition: String,
      left: Seq[Attribute],
      right: Seq[Attribute]): Option[Expression] = {
    val trimmed = condition.trim
    if (trimmed.isEmpty) None
    else {
      val rewritten = replaceSideRefs(trimmed)(m =>
        (if (m.group(1).equalsIgnoreCase("left")) "`__l_" else "`__r_") + m.group(2) + "`")
      try Some(resolveOver(spark, F.expr(rewritten), left, right, "__l_", "__r_"))
      catch {
        case e: IllegalArgumentException => throw e
        case e: Exception =>
          throw new IllegalArgumentException(
            s"Spatial join transformer error: unknown extra condition `$trimmed`: ${e.getMessage}", e)
      }
    }
  }

  /** The Column `cond` over two sides with disjoint column names,
    * resolved as [[compile]] resolves a string: an expression over
    * `left` ++ `right`. */
  def resolve(spark: org.apache.spark.sql.SparkSession, cond: Column,
      left: Seq[Attribute], right: Seq[Attribute]): Expression =
    try resolveOver(spark, cond, left, right, "", "")
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"unknown extra condition `$cond`: ${e.getMessage}", e)
    }

  /**
   * The Spark 4 Column API carries a lazy column-node tree whose catalyst
   * shape only exists post-analysis, so `cond` is analyzed ONCE over an
   * empty frame with the two sides' columns (names prefixed), implicit
   * casts included; the frame's attributes are then replaced by
   * `left` ++ `right`, position by position.
   */
  private def resolveOver(spark: org.apache.spark.sql.SparkSession, cond: Column,
      left: Seq[Attribute], right: Seq[Attribute], leftPrefix: String, rightPrefix: String): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeMap, CommonExpressionRef, RuntimeReplaceable, With}
    import org.apache.spark.sql.types.StructField
    def fields(attrs: Seq[Attribute], p: String) = attrs.map(a => StructField(p + a.name, a.dataType, a.nullable))
    val frame = StructType(fields(left, leftPrefix) ++ fields(right, rightPrefix))
    val empty = spark.asInstanceOf[SparkSession].createDataFrame(java.util.Collections.emptyList[Row](), frame)
    val (analyzed, frameOutput) = empty.filter(cond).queryExecution.analyzed.collectFirst {
      case f: logical.Filter => (f.condition, f.child.output)
    }.getOrElse(throw new IllegalStateException("no Filter in analyzed plan"))
    // RuntimeReplaceable nodes (between, ilike, ...) only run through their
    // replacement, and the replacement may use With/CommonExpressionRef
    // (subexpression sharing) — normally optimizer rules substitute both;
    // the kernels interpret the expression directly, so inline
    // them here
    val byPosition = AttributeMap(frameOutput.zip(left ++ right))
    analyzed.transformDown {
      case r: RuntimeReplaceable => r.replacement
    }.transformUp {
      case w: With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp {
          case ref: CommonExpressionRef if defs.contains(ref.id) => defs(ref.id)
        }
    }.transform {
      case a: Attribute if byPosition.contains(a) => byPosition(a)
    }
  }

  /**
   * The one factoring of an extra join condition over `left` ++ `right`
   * attributes, shared by both kernels: the planner strategy
   * (graft.plans.SpatialJoinStrategy) runs it once per join against the
   * outputs of its two children.
   *
   * Conjunct sides are detected by referenced attribute; a conjunct
   * straddling sides or referencing neither is never moved. Every moved
   * part is evaluated EAGERLY over whole frames (every broadcast row,
   * every probe row), where the condition itself only runs on spatial
   * candidate pairs, so a conjunct moves only when it is deterministic
   * and its expressions statically [[neverThrows]]: an eager key
   * throwing on a row that never pairs would fail the query.
   */
  def split(condExpr: Expression, left: Seq[Attribute], right: Seq[Attribute]): Split = {
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeSet}
    val (leftIds, rightIds) = (AttributeSet(left), AttributeSet(right))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(a, b) => conjuncts(a) ++ conjuncts(b)
      case x => Seq(x)
    }
    // (references left?, references right?) — an attribute from
    // neither side counts as both, so it is never moved
    def sides(e: Expression): (Boolean, Boolean) = {
      var hasL = false; var hasR = false
      e.foreach {
        case a: Attribute =>
          if (leftIds.contains(a)) hasL = true
          else if (rightIds.contains(a)) hasR = true
          else { hasL = true; hasR = true }
        case _ =>
      }
      (hasL, hasR)
    }
    def movable(e: Expression): Boolean = e.deterministic && neverThrows(e)
    // both kernels compare key values of one type per key (boxed
    // equality in the index, graft.plans.IndexedCondition)
    def key(a: Expression, b: Expression, nullSafe: Boolean): Option[EquiKey] =
      if (!movable(a) || !movable(b) || a.dataType != b.dataType) None
      else (sides(a), sides(b)) match {
        case ((true, false), (false, true)) => Some(EquiKey(a, b, nullSafe))
        case ((false, true), (true, false)) => Some(EquiKey(b, a, nullSafe))
        case _ => None
      }
    val cs = conjuncts(condExpr)
    val keyed = cs.map {
      case EqualTo(a, b) => key(a, b, nullSafe = false)
      case EqualNullSafe(a, b) => key(a, b, nullSafe = true)
      case _ => None
    }
    val rest = cs.zip(keyed).collect { case (c, None) => c }
    def sideOnly(side: (Boolean, Boolean)): Seq[Expression] =
      rest.filter(e => movable(e) && sides(e) == side)
    val (lOnly, rOnly) = (sideOnly((true, false)), sideOnly((false, true)))
    Split(
      condition = condExpr,
      equiKeys = keyed.flatten,
      leftOnly = lOnly.reduceOption(And),
      rightOnly = rOnly.reduceOption(And),
      residual = rest.filterNot(e => lOnly.contains(e) || rOnly.contains(e)).reduceOption(And))
  }

  /** One equality conjunct moved into a join key: `left = right`, or
    * `left <=> right` when `nullSafe`, with `left` over the left side
    * only and `right` over the right side only, of one data type. */
  final case class EquiKey(left: Expression, right: Expression, nullSafe: Boolean) {
    def conjunct: Expression = if (nullSafe) EqualNullSafe(left, right) else EqualTo(left, right)
  }

  /**
   * An extra join condition split by [[split]]: its conjuncts are the
   * equi keys, the left-only and the right-only conjuncts, and the
   * residual (everything that moved nowhere).
   *
   * The parts are pure SUPERSET restrictions: a pair passes `condition`
   * exactly when it is key-equal under SQL semantics, passes both side
   * filters and passes the residual.
   */
  final case class Split(
      condition: Expression,
      equiKeys: Seq[EquiKey],
      leftOnly: Option[Expression],
      rightOnly: Option[Expression],
      residual: Option[Expression])

  /**
   * Conservative static throw-safety: true only when evaluating `e`
   * can never throw on ANY input row, whatever the ANSI setting, so
   * callers may evaluate it EAGERLY frame-wide (the factoring regression
   * class: an eager key throwing on a row the unfactored path never
   * pairs). Whitelist, not blacklist — attribute refs, literals,
   * always-safe casts (Cast.canUpCast), struct build/field access,
   * null predicates, boolean connectives, comparisons, IN-lists,
   * coalesce/least/greatest, simple string functions, float-typed
   * arithmetic (IEEE semantics — no ANSI error even at /0), and
   * integral `%`/`pmod` by a non-zero constant — a foldable, throw-free
   * divisor, e.g. the analyzer's `cast(4 as bigint)` for `% 4` on a
   * bigint (the one arithmetic shape with no ANSI failure case:
   * Long.MinValue % -1 is 0 in two's complement, unlike division).
   * Integral/decimal add, subtract, multiply, divide (overflow /
   * divide-by-zero), down-casts, string parsing, UDFs and everything
   * unrecognized are assumed throwing.
   */
  def neverThrows(e: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}
    def floatLike(dt: DataType): Boolean = dt == DoubleType || dt == FloatType
    def nonZeroConstant(x: Expression): Boolean =
      x.foldable && neverThrows(x) && (x.eval() match {
        case n: java.lang.Number => n.doubleValue != 0.0
        case _ => false
      })
    e match {
      case _: AttributeReference | _: BoundReference | _: Literal => true
      case a: Alias => neverThrows(a.child)
      case c: Cast => Cast.canUpCast(c.child.dataType, c.dataType) && neverThrows(c.child)
      case s: CreateNamedStruct => s.valExprs.forall(neverThrows)
      case g: GetStructField => neverThrows(g.child)
      case _: IsNull | _: IsNotNull | _: Not | _: And | _: Or |
           _: EqualTo | _: EqualNullSafe | _: LessThan | _: LessThanOrEqual |
           _: GreaterThan | _: GreaterThanOrEqual | _: In | _: InSet |
           _: Coalesce | _: Least | _: Greatest |
           _: Upper | _: Lower | _: Length =>
        e.children.forall(neverThrows)
      case r: Remainder if nonZeroConstant(r.right) => neverThrows(r.left)
      case p: Pmod if nonZeroConstant(p.right) => neverThrows(p.left)
      case b @ (_: Add | _: Subtract | _: Multiply | _: Divide | _: UnaryMinus)
          if floatLike(b.dataType) =>
        e.children.forall(neverThrows)
      case _ => false
    }
  }
}
