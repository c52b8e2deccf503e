package graft.join

import org.apache.spark.sql.{Column, Row, functions => F}
import org.apache.spark.sql.catalyst.expressions.{AttributeSeq, BindReferences, Expression}
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.types.StructType

import scala.util.Try

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
 * Int vs Long in `between`, resolve exactly as Spark SQL would), and bound
 * to a row-pair evaluator that runs inside the join kernel — per candidate
 * pair, before `nearest` selection, matching the reference's semantics
 * (its test :460-504 pins that the condition can divert a nearest match).
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

  /** Rewrite `left.x` / `right.y` references with the given renamers —
    * used by the grid path, where the condition becomes a plain Catalyst
    * filter over the joined row instead of a pair evaluator. */
  def rewriteSides(condition: String, leftRef: String => String,
      rightRef: String => String): String =
    replaceSideRefs(condition)(m =>
      if (m.group(1).equalsIgnoreCase("left")) leftRef(m.group(2)) else rightRef(m.group(2)))

  /** Compile on the driver; None for an empty condition string. */
  def compile(
      spark: SparkSession,
      condition: String,
      leftSchema: StructType,
      rightSchema: StructType): Option[CompiledCondition] = {
    val trimmed = condition.trim
    if (trimmed.isEmpty) None
    else {
      val rewritten = replaceSideRefs(trimmed)(m =>
        (if (m.group(1).equalsIgnoreCase("left")) "`__l_" else "`__r_") + m.group(2) + "`")
      val merged = StructType(
        leftSchema.fields.map(f => f.copy(name = "__l_" + f.name)) ++
          rightSchema.fields.map(f => f.copy(name = "__r_" + f.name)))
      try {
        val empty = spark.createDataFrame(java.util.Collections.emptyList[Row](), merged)
        val analyzed = empty.filter(F.expr(rewritten)).queryExecution.analyzed
        val (cond, childOutput) = analyzed.collectFirst {
          case f: logical.Filter => (f.condition, f.child.output)
        }.getOrElse(throw new IllegalStateException("no Filter in analyzed plan"))
        // RuntimeReplaceable nodes (between, ilike, …) only run through their
        // replacement, and the replacement may use With/CommonExpressionRef
        // (subexpression sharing) — normally optimizer rules substitute both;
        // we interpret the expression directly, so inline them here.
        val executable = cond.transformDown {
          case r: org.apache.spark.sql.catalyst.expressions.RuntimeReplaceable => r.replacement
        }.transformUp {
          case w: org.apache.spark.sql.catalyst.expressions.With =>
            val defs = w.defs.map(d => d.id -> d.child).toMap
            w.child.transformUp {
              case ref: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef
                  if defs.contains(ref.id) => defs(ref.id)
            }
        }
        val bound = BindReferences.bindReference(executable, AttributeSeq(childOutput))
        Some(CompiledCondition(bound, leftSchema, rightSchema))
      } catch {
        case e: IllegalArgumentException => throw e
        case e: Exception =>
          throw new IllegalArgumentException(
            s"Spatial join transformer error: unknown extra condition `$trimmed`: ${e.getMessage}", e)
      }
    }
  }

  /**
   * The grid kernels' factoring of an extra join condition (the
   * DataFrame-level twin of BroadcastSpatialJoinExec.equiSplit), from
   * ONE analysis of `cond`: the Spark 4 Column API carries a lazy
   * column-node tree whose catalyst shape only exists post-analysis, so
   * the condition is analyzed over an empty frame with the concatenated
   * (disjoint-name) schema, as in [[compile]], implicit casts included.
   * Conjunct sides are detected by referenced column against the two
   * schemas; a conjunct straddling sides, referencing neither, or a
   * condition that fails to resolve is never factored.
   *
   * Every part is a pure SUPERSET restriction: the caller must still
   * evaluate the FULL condition per candidate pair. Equi keys compose
   * into one struct join key, and struct equality treats null fields as
   * equal (struct(null) = struct(null) is TRUE) where SQL `=` never
   * holds on null, so `=` keys over-match on nulls; `<=>` keys match
   * struct-equality semantics exactly. Never add a pure-equi fast path
   * that skips the recheck.
   *
   * Callers evaluate the keys and side filters EAGERLY over every row of
   * their frames, where the unfactored path only evaluates the
   * condition on spatial-candidate pairs, so under ANSI mode
   * (`spark.sql.ansi.enabled`, read here) only conjuncts whose moved
   * expressions statically [[neverThrows]] are factored: a throwing key
   * on a row the unfactored path never pairs cannot fail the query.
   * Nondeterministic conjuncts never move.
   */
  def factor(spark: org.apache.spark.sql.SparkSession, cond: Column,
      leftSchema: StructType, rightSchema: StructType): Factored = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualNullSafe, EqualTo}
    import org.apache.spark.sql.graft.ColumnBridge
    val session = spark.asInstanceOf[SparkSession]
    val ansiOn = Try(session.conf.get("spark.sql.ansi.enabled").toBoolean).getOrElse(true)
    val analyzed =
      try {
        val merged = StructType(leftSchema.fields ++ rightSchema.fields)
        val empty = session.createDataFrame(java.util.Collections.emptyList[Row](), merged)
        empty.filter(cond).queryExecution.analyzed.collectFirst {
          case f: logical.Filter => (f.condition, f.child.output)
        }
      } catch { case _: Exception => None }
    analyzed.fold(Unfactored) { case (condExpr, childOutput) =>
      val leftIds = childOutput.take(leftSchema.length).map(_.exprId).toSet
      val rightIds = childOutput.drop(leftSchema.length).map(_.exprId).toSet
      def conjuncts(e: Expression): Seq[Expression] = e match {
        case And(a, b) => conjuncts(a) ++ conjuncts(b)
        case x => Seq(x)
      }
      // (references left?, references right?) — an attribute from
      // neither side counts as both, so it is never factored
      def sides(e: Expression): (Boolean, Boolean) = {
        var hasL = false; var hasR = false
        e.foreach {
          case a: AttributeReference =>
            if (leftIds(a.exprId)) hasL = true
            else if (rightIds(a.exprId)) hasR = true
            else { hasL = true; hasR = true }
          case _ =>
        }
        (hasL, hasR)
      }
      // resolved attrs → by-name columns (names are plain and disjoint by
      // the grid kernels' contract), keeping the analyzer's casts. Quoted:
      // UnresolvedAttribute(name) would parse dots as path separators, so
      // a column named "u.k" could re-resolve to a struct FIELD u.k
      def toColumn(e: Expression): Column =
        ColumnBridge.column(e.transformUp {
          case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
        })
      def movable(e: Expression): Boolean =
        e.deterministic && (!ansiOn || neverThrows(e))
      def pick(a: Expression, b: Expression): Option[(Expression, Expression)] =
        if (!movable(a) || !movable(b)) None
        else (sides(a), sides(b)) match {
          case ((true, false), (false, true)) => Some((a, b))
          case ((false, true), (true, false)) => Some((b, a))
          case _ => None
        }
      val cs = conjuncts(condExpr)
      val keys = cs.flatMap {
        case EqualTo(a, b) => pick(a, b)
        case EqualNullSafe(a, b) => pick(a, b)
        case _ => None
      }
      // the kernels join on struct(left keys) = struct(right keys), which
      // needs identical field types on both sides
      val keysJoinable = keys.forall { case (l, r) => l.dataType == r.dataType }
      def sideOnly(side: (Boolean, Boolean)): Option[Column] =
        cs.filter(e => movable(e) && sides(e) == side).map(toColumn).reduceOption(_ && _)
      Factored(
        equiKeys = if (keysJoinable) keys.map { case (l, r) => (toColumn(l), toColumn(r)) } else Nil,
        leftOnly = sideOnly((true, false)),
        rightOnly = sideOnly((false, true)),
        fusable = cs.forall(movable))
    }
  }

  /**
   * An extra join condition factored by [[factor]].
   *
   * @param equiKeys  (left key, right key) pairs from `leftExpr = rightExpr`
   *                  and `<=>` conjuncts; empty unless every pair's key
   *                  types agree
   * @param leftOnly  AND of the left-only conjuncts: pre-filters probes on
   *                  an INNER join
   * @param rightOnly AND of the right-only conjuncts (e.g. a literal
   *                  IN-list): pre-filters the candidate side
   * @param fusable   whether the condition may gate an expensive refine
   *                  as a [[graft.functions.GatedAnd]]: fusing runs it on
   *                  every candidate pair, so every conjunct must be
   *                  deterministic and, under ANSI mode, throw-free
   */
  final case class Factored(
      equiKeys: Seq[(Column, Column)],
      leftOnly: Option[Column],
      rightOnly: Option[Column],
      fusable: Boolean)

  /** No condition, or one that does not resolve: nothing to factor. */
  val Unfactored: Factored = Factored(Nil, None, None, fusable = false)

  /**
   * Conservative static throw-safety: true only when evaluating `e`
   * can never throw on ANY input row, so callers may evaluate it
   * EAGERLY frame-wide under ANSI mode (the factoring regression
   * class: an eager key throwing on a row the unfactored path never
   * pairs). Whitelist, not blacklist — attribute refs, literals,
   * always-safe casts (Cast.canUpCast), struct build/field access,
   * null predicates, boolean connectives, comparisons, IN-lists,
   * coalesce/least/greatest, simple string functions, float-typed
   * arithmetic (IEEE semantics — no ANSI error even at /0), and
   * integral `%`/`pmod` by a non-zero literal (the one arithmetic
   * shape with no ANSI failure case: Long.MinValue % -1 is 0 in
   * two's complement, unlike division). Integral/decimal add, subtract,
   * multiply, divide (overflow / divide-by-zero), down-casts, string
   * parsing, UDFs and everything unrecognized are assumed throwing.
   */
  def neverThrows(e: Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.{DataType, DoubleType, FloatType}
    def floatLike(dt: DataType): Boolean = dt == DoubleType || dt == FloatType
    def nonZeroLiteral(x: Expression): Boolean = x match {
      case Literal(n: java.lang.Number, _) => n.doubleValue != 0.0
      case _ => false
    }
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
      case r: Remainder if nonZeroLiteral(r.right) => neverThrows(r.left)
      case p: Pmod if nonZeroLiteral(p.right) => neverThrows(p.left)
      case b @ (_: Add | _: Subtract | _: Multiply | _: Divide | _: UnaryMinus)
          if floatLike(b.dataType) =>
        e.children.forall(neverThrows)
      case _ => false
    }
  }
}

/**
 * A bound pair predicate over the concatenated (left ++ right) row —
 * `bound` contains only BoundReferences/literals/functions, evaluated
 * natively on InternalRows inside graft.plans.BroadcastSpatialJoinExec.
 */
final case class CompiledCondition(
    bound: Expression,
    leftSchema: StructType,
    rightSchema: StructType)
