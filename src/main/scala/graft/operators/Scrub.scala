package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PII / secret scrubbing — the redaction stage every production
  * training-data pipeline runs before text reaches a tokenizer (C4,
  * Dolma and RefinedWeb all ship an equivalent pass).
  *
  * A scrub is an ordered list of [[Rule]]s; each rule counts its
  * matches on the text AS IT STANDS when the rule runs and then
  * replaces them, so the composition is a well-defined sequential
  * fold (an email's hex-looking local part is gone by the time the
  * secret rule runs — earlier rules shadow later ones, never
  * double-count). The default rules deliberately over-match
  * (`999.999.999.999` redacts like a real address): in a redaction
  * pass a false positive costs a token, a false negative leaks PII
  * into a model.
  *
  * 100 TB shape: one map-side expression per document —
  * [[graft.functions.ScrubFold]] runs every rule's count and replace in
  * a single matcher pass, skips a rule whose required literal the text
  * lacks, and is evaluated once per consuming plan node; no shuffle, no
  * UDF, no driver state. The per-source report aggregates
  * group-count-sized output through a map-side partial agg. Patterns
  * stay in the RE2-compatible subset (no backrefs, no lookaround), so
  * external oracles (DuckDB) reproduce the byte-identical fold.
  */
object Scrub {

  /** one redaction rule: matches of `pattern` become `replacement`,
    * counted into column `n_<name>`.
    */
  final case class Rule(name: String, pattern: String,
      replacement: String)

  val EmailRe = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val Ipv4Re = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""
  /** 32+ contiguous lowercase-hex chars — API keys, md5/sha hex dumps,
    * session tokens.
    */
  val HexSecretRe = """\b[0-9a-f]{32,}\b"""

  /** email → ipv4 → hex-secret, in that order (the email rule shadows
    * hex-looking local parts; the ipv4 rule shadows dotted runs inside
    * nothing — order only matters where patterns can overlap).
    */
  val defaultRules: Seq[Rule] = Seq(
    Rule("email", EmailRe, "<EMAIL>"),
    Rule("ipv4", Ipv4Re, "<IP>"),
    Rule("hex_secret", HexSecretRe, "<SECRET>"))

  /** Adds one `n_<rule>` count per rule (INT) and `scrubbed` (text
    * after all rules, applied in order); both NULL on NULL text. The
    * fold is one struct-valued projection that the field reads below
    * share: Catalyst does not inline an expression read more than once,
    * so the kernel runs once per row.
    */
  def scrub(docs: DataFrame, textCol: String,
      rules: Seq[Rule] = defaultRules): DataFrame = {
    val fold = graft.functions.ScrubFold(col(textCol),
      rules.map(r => (r.pattern, r.replacement)))
    val counts = rules.zipWithIndex.map { case (r, i) =>
      col(s"__scrub.n$i").as(s"n_${r.name}") }
    docs.select(col("*"), fold.as("__scrub"))
      .select(col("*") +: counts :+ col("__scrub.scrubbed").as("scrubbed"): _*)
      .drop("__scrub")
  }

  /** Per-group redaction report: documents touched, matches per rule,
    * characters removed — the audit artifact a scrubbing run ships
    * with. Output is group-cardinality-sized; the only exchange is the
    * final two-phase aggregation.
    */
  def report(docs: DataFrame, textCol: String, groupCol: String,
      rules: Seq[Rule] = defaultRules): DataFrame = {
    val s = scrub(docs, textCol, rules)
    val aggs = rules.map(r =>
      sum(col(s"n_${r.name}")).as(s"${r.name}s_redacted")) :+
      sum(length(col(textCol)) - length(col("scrubbed")))
        .as("chars_removed")
    s.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"), aggs: _*)
  }
}
