package graft.operators

import graft.SparkSpec
import graft.functions.ScrubFold
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ScrubSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def one(text: String): Row =
    Scrub.scrub(Seq((1L, text)).toDF("id", "text"), "text")
      .select("n_email", "n_ipv4", "n_hex_secret", "scrubbed")
      .head()

  test("counts and replaces each rule's matches") {
    val r = one("mail a@b.co and c.d@e-f.org from 10.0.0.1, " +
      "key 0123456789abcdef0123456789abcdef done")
    assert(r == Row(2, 1, 1,
      "mail <EMAIL> and <EMAIL> from <IP>, key <SECRET> done"))
  }

  test("text without PII passes through untouched") {
    val r = one("just ordinary words 42 and a.b")
    assert(r == Row(0, 0, 0, "just ordinary words 42 and a.b"))
  }

  test("over-redaction is deliberate: invalid dotted quads redact") {
    val r = one("v 999.999.999.999 w")
    assert(r == Row(0, 1, 0, "v <IP> w"))
  }

  test("earlier rules shadow later ones: a hex local part is gone " +
      "before the secret rule runs") {
    val r = one("0123456789abcdef0123456789abcdef@example.com")
    assert(r == Row(1, 0, 0, "<EMAIL>"))
  }

  test("31 hex chars is not a secret; 32 is") {
    assert(one("x " + "a" * 31 + " y").getInt(2) == 0)
    assert(one("x " + "a" * 32 + " y").getInt(2) == 1)
  }

  test("report aggregates per group with chars_removed") {
    val docs = Seq(
      ("s0", "a@b.co"), // 6 chars -> 7: removes -1
      ("s0", "no pii here"),
      ("s1", "ip 10.1.2.3 twice 10.1.2.4")).toDF("source", "text")
    val rows = Scrub.report(docs, "text", "source")
      .orderBy("source").collect()
    assert(rows(0) == Row("s0", 2L, 1L, 0L, 0L, -1L))
    assert(rows(1) == Row("s1", 1L, 0L, 2L, 0L,
      ("ip 10.1.2.3 twice 10.1.2.4".length
        - "ip <IP> twice <IP>".length).toLong))
  }

  test("the scrub projection is map-side codegen: no exchange before " +
      "the report aggregation, no UDFs") {
    val docs = graft.Tables(spark, sf("sf0.001"), "documents")
    val p = Scrub.report(docs, "text", "source")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(p).length == 1, p) // only the agg
    assert(p.contains("partial_sum") || p.contains("partial_count"), p)
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"), p)
  }

  test("required-literal analyzer: the default rules, and refusal of " +
      "every construct it does not model") {
    assert(ScrubFold.requiredLiterals(Scrub.EmailRe) == Set('@', '.'))
    assert(ScrubFold.requiredLiterals(Scrub.Ipv4Re) == Set('.'))
    assert(ScrubFold.requiredLiterals(Scrub.HexSecretRe) == Set.empty)
    assert(ScrubFold.requiredLiterals("""a\.b+c?d*e{0,2}f{2}g{1,}""") ==
      Set('a', '.', 'b', 'f', 'g'))
    assert(ScrubFold.requiredLiterals("""^x+?@++\b[^@]\$$""") ==
      Set('x', '@', '$'))
    // each construct next to a literal the analyzer would otherwise
    // require: the whole pattern is refused, not just the construct
    val refused = Seq("""a|b""", """(x)""", """(?:x)""", """(?i)x""",
      """\x40""", "\\u0040", """\0100""", """\p{Punct}""",
      """\Q@\E""", """[a-z&&[^@]]""", """(a)\1""", """\k<g>""",
      """[]x]""", """\n""", "\u00e9", """x{,2}""")
    refused.foreach { c =>
      assert(ScrubFold.requiredLiterals("@" + c) == Set.empty, c)
      assert(ScrubFold.requiredLiterals(c + "@") == Set.empty, c)
    }
  }

  /** the Column fold `scrub` used to build: regexp_count on the text as
    * it stands, then regexp_replace, per rule
    */
  private def columnFold(docs: DataFrame, rules: Seq[Scrub.Rule])
      : DataFrame = {
    val (scrubbed, counts) =
      rules.foldLeft((col("text"), Seq.empty[Column])) {
        case ((cur, cs), r) =>
          (regexp_replace(cur, r.pattern, r.replacement),
            cs :+ regexp_count(cur, lit(r.pattern)).as(s"n_${r.name}"))
      }
    docs.select(col("*") +: counts :+ scrubbed.as("scrubbed"): _*)
  }

  test("ScrubFold equals the regexp_count + regexp_replace fold on " +
      "random rules and texts, interpreted and compiled") {
    val rnd = new scala.util.Random(20261017)
    def pick[T](xs: Seq[T]): T = xs(rnd.nextInt(xs.length))
    // (atom, takes a quantifier)
    val atoms = Seq("a" -> true, "@" -> true, """\.""" -> true,
      "." -> true, "[a-f0-9]" -> true, "[^@ ]" -> true, """\d""" -> true,
      """\w""" -> true, "x" -> true, "-" -> true, """\$""" -> true,
      """\\""" -> true, "[A-Za-z0-9._%+-]" -> true,
      """\b""" -> false, "^" -> false, "$" -> false,
      // constructs the analyzer refuses
      """(@|\.)""" -> true, """(?:a@)""" -> true, """\x40""" -> true,
      "\\u0040" -> true, """\0100""" -> true, """\p{Punct}""" -> true,
      """\Q@\E""" -> true, """[a-z&&[^@]]""" -> true, "|" -> false,
      "(?i)A" -> false, """(a)\1""" -> false)
    val quants = Seq("", "", "", "+", "*", "?", "{1,3}", "{0,2}", "{2}",
      "+?")
    def pattern(): String =
      (0 until 1 + rnd.nextInt(4)).map { _ =>
        val (a, q) = pick(atoms)
        if (q) a + pick(quants) else a
      }.mkString
    val replacements = Seq("<R>", "", "[$0]", """\$""", """x\\y""")
    val alphabet = "ab@.x0f9 -_A$\\"
    val tokens = Seq("a@b.cc", "1.2.3.4", "0123456789abcdef" * 2,
      "a@b.cc1@x.yy", "$1", "\\")
    def text(): String = {
      val sb = new StringBuilder
      val len = rnd.nextInt(30)
      while (sb.length < len) {
        if (rnd.nextInt(5) == 0) sb ++= pick(tokens)
        else sb += alphabet.charAt(rnd.nextInt(alphabet.length))
      }
      sb.toString
    }
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    var skipped = 0
    (0 until 40).foreach { _ =>
      val rules = (0 until 1 + rnd.nextInt(3)).map(i =>
        Scrub.Rule(s"r$i", pattern(), pick(replacements)))
      val texts = (1 to 30).map(_ => text())
      // (rule, input text) pairs where the text lacks a literal the
      // rule requires
      skipped += rules.map(r => ScrubFold.requiredLiterals(r.pattern))
        .map(req => texts.count(t => !req.forall(t.contains(_)))).sum
      val rows = Row(0L, null) +:
        texts.zipWithIndex.map { case (t, i) => Row(i + 1L, t) }
      val local = spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
      val distributed = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), schema)
      val expected = columnFold(local, rules).orderBy("id").collect()
      Seq(local, distributed).foreach { docs =>
        val got = Scrub.scrub(docs, "text", rules).orderBy("id").collect()
        assert(got.toSeq == expected.toSeq, rules)
      }
    }
    assert(skipped > 100, s"only $skipped skips exercised")
  }

  test("scrub's fold is one node per consumer") {
    val dir = java.nio.file.Files.createTempDirectory("scrub").toString
    Seq((1L, "mail a@b.co from 10.0.0.1")).toDF("id", "text")
      .write.mode("overwrite").json(dir)
    val docs = spark.read.schema("id long, text string").json(dir)
    val p = Scrub.report(docs, "text", "id").queryExecution.executedPlan
    val nodes = collect(p) { case n if n.expressions.exists(
      _.find(_.isInstanceOf[ScrubFold]).isDefined) => n }
    assert(nodes.length == 1, p)
  }
}
