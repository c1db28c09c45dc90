package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression,
  GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `ScrubFold(text, rules)` — an ordered list of regex redaction rules
  * (pattern, replacement) folded over one document in one pass:
  * STRUCT<n0 INT, …, n{r-1} INT, scrubbed STRING>, where `n<i>` counts
  * rule i's matches on the text AS IT STANDS when rule i runs and
  * `scrubbed` is the text after every rule. NULL on NULL text.
  *
  * Replaces the Column fold `regexp_count(cur, p)` then
  * `regexp_replace(cur, p, r)` per rule, which scans every rule twice
  * and which the optimizer copies into every node that reads a count
  * or the scrubbed text. Each rule here runs ONE `Matcher.find` loop
  * that counts and calls `appendReplacement` — the loop Spark's
  * `RegExpExtractAll` (behind `regexp_count`) and `RegExpReplace` each
  * run, over the same matches — and the text crosses from rule to rule
  * through UTF-8 as it does between two Spark expressions, so counts
  * and text are byte-identical to the Column fold.
  *
  * Literal skip: a rule whose pattern requires a character (see
  * [[ScrubFold.requiredLiterals]]) that the text as it stands lacks
  * cannot match, so it counts 0 and leaves the text unchanged without
  * running the matcher. The email rule needs `@`, which most documents
  * lack.
  */
case class ScrubFold(child: Expression, rules: Seq[(String, String)])
    extends UnaryExpression {

  // Spark hands literal patterns and replacements to the regex through
  // UTF8String, which turns a lone surrogate into '?'; so do we
  @transient private lazy val patterns: Array[Pattern] =
    rules.map(r => Pattern.compile(ScrubFold.viaUtf8(r._1))).toArray
  @transient private lazy val replacements: Array[String] =
    rules.map(r => ScrubFold.viaUtf8(r._2)).toArray
  @transient private lazy val required: Array[Array[Char]] =
    rules.map(r => ScrubFold.requiredLiterals(r._1).toArray).toArray

  override def dataType: DataType = StructType(
    rules.indices.map(i => StructField(s"n$i", IntegerType,
      nullable = false)) :+
      StructField("scrubbed", StringType, nullable = false))

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(s: Any): Any = fold(s.asInstanceOf[UTF8String])

  override protected def withNewChildInternal(newChild: Expression)
      : Expression = copy(child = newChild)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("scrubFold", this)
    nullSafeCodeGen(ctx, ev, s => s"${ev.value} = $self.fold($s);")
  }

  /** shared by interpreted and codegen paths. */
  def fold(text: UTF8String): InternalRow = {
    val n = patterns.length
    val out = new Array[Any](n + 1)
    var cur = text.toString
    var i = 0
    while (i < n) {
      var count = 0
      if (ScrubFold.containsAll(cur, required(i))) {
        val m = patterns(i).matcher(cur)
        var sb: java.lang.StringBuilder = null
        while (m.find()) {
          if (sb == null) sb = new java.lang.StringBuilder(cur.length + 16)
          m.appendReplacement(sb, replacements(i))
          count += 1
        }
        if (sb != null) {
          m.appendTail(sb)
          cur = ScrubFold.viaUtf8(sb.toString)
        }
      }
      out(i) = count
      i += 1
    }
    out(n) = UTF8String.fromString(cur)
    new GenericInternalRow(out)
  }
}

object ScrubFold {

  private def viaUtf8(s: String): String = UTF8String.fromString(s).toString

  private def containsAll(s: String, chars: Array[Char]): Boolean =
    chars.forall(s.indexOf(_) >= 0)

  /** Characters every match of `pattern` must contain — conservative:
    * the empty set for any pattern it does not fully understand.
    *
    * Understood: a top-level concatenation of ASCII literals, escaped
    * punctuation (`\.`), `.`, the classes `\d \D \w \W \s \S`, the
    * anchors `^ $ \b \B`, and bracket classes without nesting,
    * intersection or escapes beyond those; each atom optionally
    * quantified by `? * + {n} {n,} {n,m}` with a lazy or possessive
    * suffix. A literal is required when its quantifier's minimum is at
    * least 1. Anything else — alternation, groups and inline flags,
    * backreferences, `\x` `\u` `\0` `\p` `\Q` escapes, non-ASCII
    * characters — refuses the whole pattern.
    */
  def requiredLiterals(pattern: String): Set[Char] = {
    val out = Set.newBuilder[Char]
    val len = pattern.length
    var i = 0
    // parses one atom at i; Some(literal) / None for a non-literal
    // atom; throws Refuse on anything not understood
    def atom(): Option[Char] = {
      val c = pattern.charAt(i)
      c match {
        case '\\' =>
          if (i + 1 >= len) throw Refuse
          val e = pattern.charAt(i + 1)
          i += 2
          if ("dDwWsSbB".indexOf(e) >= 0) None
          else if (e < 128 && !e.isLetterOrDigit) Some(e)
          else throw Refuse
        case '[' =>
          i += 1
          if (i < len && pattern.charAt(i) == '^') i += 1
          if (i >= len || pattern.charAt(i) == ']') throw Refuse
          while (i < len && pattern.charAt(i) != ']') {
            val d = pattern.charAt(i)
            if (d == '[' || d == '&' || d >= 128) throw Refuse
            if (d == '\\') {
              if (i + 1 >= len) throw Refuse
              val e = pattern.charAt(i + 1)
              if (e >= 128 || (e.isLetterOrDigit &&
                  "dDwWsS".indexOf(e) < 0)) throw Refuse
              i += 1
            }
            i += 1
          }
          if (i >= len) throw Refuse
          i += 1
          None
        case '.' | '^' | '$' => i += 1; None
        case _ if c >= 128 || "|()]{}?*+".indexOf(c) >= 0 => throw Refuse
        case _ => i += 1; Some(c)
      }
    }
    // parses an optional quantifier at i; 0 when it allows zero
    // repetitions, else 1
    def minReps(): Int = {
      if (i >= len) return 1
      val min = pattern.charAt(i) match {
        case '?' | '*' => i += 1; 0
        case '+' => i += 1; 1
        case '{' =>
          val close = pattern.indexOf('}', i)
          if (close < 0) throw Refuse
          val body = pattern.substring(i + 1, close)
          if (!body.matches("""\d+(,\d*)?""")) throw Refuse
          i = close + 1
          if (body.takeWhile(_ != ',').forall(_ == '0')) 0 else 1
        case _ => return 1
      }
      if (i < len && (pattern.charAt(i) == '?' || pattern.charAt(i) == '+'))
        i += 1
      if (i < len && "?*+{".indexOf(pattern.charAt(i)) >= 0) throw Refuse
      min
    }
    try {
      while (i < len) {
        val lit = atom()
        if (minReps() >= 1) lit.foreach(out += _)
      }
      out.result()
    } catch { case Refuse => Set.empty }
  }

  private object Refuse extends Exception(null, null, false, false)

  /** Column-level API: `rules` are (pattern, replacement) in order. */
  def apply(text: Column, rules: Seq[(String, String)]): Column =
    org.apache.spark.sql.GraftBridge.column(
      ScrubFold(org.apache.spark.sql.GraftBridge.expression(text), rules))
}
