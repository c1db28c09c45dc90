package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions._

/** SQL-surface registration of graft's codegen'd expressions, so a
  * plain `spark.sql` user gets the same compiled kernels the
  * DataFrame operators use:
  *
  * {{{
  * SELECT word_stats(text).top_count, cosine_sim(a.e, b.e, 64),
  *        regex_extract(line, '(?P<op>\\w+) (?P<n>\\d+)').n
  * }}}
  *
  * Two registration paths share one builder table:
  *  - [[GraftFunctions.register]] on a live session (library use);
  *  - `spark.sql.extensions=graft.GraftExtensions` at session build
  *    (cluster-wide deployment — the standard
  *    [[SparkSessionExtensions]] injection, so a 1000-executor cluster
  *    configures the functions without any driver-side code).
  *
  * Static parameters (dims, gram sizes, RE2 patterns, Go layouts) must
  * be literals: they parameterize generated code and plan-time state
  * (compiled patterns, layout objects), exactly like the DataFrame
  * API's non-Column arguments.
  */
object GraftFunctions {

  private def toIntExact(l: Long, what: String): Int = {
    if (l < Int.MinValue || l > Int.MaxValue)
      throw new IllegalArgumentException(
        s"$what must fit in a 32-bit integer, got $l")
    l.toInt
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case Literal(v: Long, LongType) => toIntExact(v, what)
    case other if other.foldable => other.eval(null) match {
      case i: Int => i
      case l: Long => toIntExact(l, what)
      case x => throw new IllegalArgumentException(
        s"$what must be an integer literal, got $x")
    }
    case _ => throw new IllegalArgumentException(
      s"$what must be an integer literal")
  }

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(v: UTF8String, StringType) => v.toString
    case other if other.foldable && other.dataType == StringType =>
      other.eval(null) match {
        case u: UTF8String => u.toString
        case x => throw new IllegalArgumentException(
          s"$what must be a string literal, got $x")
      }
    case _ => throw new IllegalArgumentException(
      s"$what must be a string literal")
  }

  private def arity(name: String, exprs: Seq[Expression],
      ns: Int*): Unit =
    if (!ns.contains(exprs.length))
      throw new IllegalArgumentException(
        s"$name takes ${ns.mkString(" or ")} argument(s), " +
          s"got ${exprs.length}")

  /** (name, usage, builder) — one row per SQL-exposed expression. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("word_stats",
      "word_stats(text) - struct<words, distinct_words, top_count, " +
        "char_sum> token statistics in one compiled scan",
      exprs => { arity("word_stats", exprs, 1)
        WordStats(exprs.head) }),
    ("cosine_sim",
      "cosine_sim(a, b, dim) - cosine similarity over the first dim " +
        "elements of two float/double arrays",
      exprs => { arity("cosine_sim", exprs, 3)
        CosineSim(exprs(0), exprs(1), litInt(exprs(2), "dim")) }),
    ("gram_hashes",
      "gram_hashes(text, n) - distinct xxhash64 word n-gram hashes",
      exprs => { arity("gram_hashes", exprs, 2)
        GramHashes(exprs(0), litInt(exprs(1), "n")) }),
    ("minhash_sigs",
      "minhash_sigs(text, n, k) - k minhash signatures over word " +
        "n-grams in one pass",
      exprs => { arity("minhash_sigs", exprs, 3)
        MinHashSigs(GramHashes(exprs(0), litInt(exprs(1), "n")),
          litInt(exprs(2), "k")) }),
    ("simhash_bands",
      "simhash_bands(text) - 4 x 16-bit simhash bands of the token " +
        "multiset",
      exprs => { arity("simhash_bands", exprs, 1)
        SimHashBands(exprs.head) }),
    ("go_strptime",
      "go_strptime(s, layout[, default_year[, zone]]) - Go " +
        "time.Parse semantics; NULL on parse failure",
      exprs => { arity("go_strptime", exprs, 2, 3, 4)
        GoStrptime(exprs.head, litStr(exprs(1), "layout"),
          if (exprs.length >= 3) litInt(exprs(2), "default_year")
          else java.time.Year.now.getValue,
          if (exprs.length >= 4) litStr(exprs(3), "zone") else "UTC") }),
    ("go_float_string",
      "go_float_string(x) - Go %g shortest-round-trip float rendering",
      exprs => { arity("go_float_string", exprs, 1)
        GoFloatString(exprs.head) }),
    ("nfc_normalize",
      "nfc_normalize(text) - Unicode NFC canonical composition " +
        "(returns the input object unchanged when already normalized)",
      exprs => { arity("nfc_normalize", exprs, 1)
        NfcNormalize(exprs.head) }),
    ("regex_extract",
      "regex_extract(line, re2_pattern) - struct<matched, g1, ...> " +
        "typed capture groups; one compiled match per row",
      exprs => { arity("regex_extract", exprs, 2)
        org.apache.spark.sql.GraftBridge.expression(
          RegexExtractStruct(
            org.apache.spark.sql.GraftBridge.column(exprs.head),
            litStr(exprs(1), "re2_pattern"))) }))

  /** Register every function on a live session (idempotent). */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, usage, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftFunctions", null, name, usage,
          ""),
        exprs => builder(exprs))
    }
}

/** `spark.sql.extensions=graft.GraftExtensions` — config-time
  * injection of the same function table.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.GraftFunctions", null, name, usage,
          ""),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
}
