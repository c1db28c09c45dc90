package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.WordStats
import graft.operators.{Ann, Dedup, Pipeline}

/** Round-13 training-data operators: Gopher-style quality rules, the
  * repetition signal behind them, sequence-length planning, and
  * SemDeDup semantic deduplication. All per-document statistics come
  * from ONE compiled [[WordStats]] scan (no interpreted higher-order
  * functions, no shuffle before the final small aggregation), so at
  * corpus scale each query is a map-side pass plus a tiny exchange.
  *
  * Thresholds are tuned so every funnel stage is populated at the test
  * SFs — the oracle then verifies both sides of every cut, not just
  * the survivors.
  */
object TrainExtras {

  private def docs(s: SparkSession, dir: String) =
    Tables(s, dir, "documents")
  private def embs(s: SparkSession, dir: String) =
    Tables(s, dir, "embeddings")

  /** stopwords whose presence (≥ 2 distinct hits) a quality doc needs;
    * word-boundary match shared literally with the oracle regex. End
    * anchored with `\z` (absolute end of text in BOTH java.util.regex
    * and RE2), not `$` — Java's `$` also matches before a final
    * newline while RE2's does not, so `$` would silently diverge on a
    * newline-terminated document.
    */
  private val stopwords = Seq("the", "a", "of", "to", "and")

  private def stopwordHits = stopwords.map(w =>
    when(col("text").rlike(s"(^| )$w( |\\z)"), 1).otherwise(0))
    .reduce(_ + _)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // per-source repetition survey: integer-exact token statistics
    // (total / distinct / modal-token hits) — the signal the gopher
    // repetition rule thresholds on, reported corpus-wide
    "text_repetition_stats" -> ((s, dir) => {
      val st = WordStats(col("text"))
      docs(s, dir)
        .select(col("source"), st.getField("words").as("w"),
          st.getField("distinct_words").as("dw"),
          st.getField("top_count").as("top"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"), sum("w").as("words"),
          sum("dw").as("distinct_words"),
          sum("top").as("topword_hits"))
        .orderBy("source")
    }),

    // Gopher-style quality rules as a first-fail funnel: word-count
    // bounds, mean word length, modal-token repetition, stopword
    // presence (Rae et al., arXiv:2112.11446 §A1.1) — each rule a
    // per-row comparison over the same WordStats struct
    "pipeline_gopher_rules" -> ((s, dir) => {
      val st = WordStats(col("text"))
      val words = st.getField("words")
      val meanLen = st.getField("char_sum").cast("double") / words
      val topFrac = st.getField("top_count").cast("double") / words
      Pipeline.qualityFunnel(docs(s, dir), Seq(
        "word_count" -> (words < 20 || words > 1000),
        "word_length" -> (meanLen < 4.35),
        "repetition" -> (topFrac > 0.18),
        "stopword" -> (stopwordHits < 2)))
    }),

    // longest consecutive identical-token run per document — the
    // stutter signal repetition filters cut on (distinct from the
    // modal-token share: "buy buy buy buy" fires here even when the
    // token is rare corpus-wide); one compiled scan, no arrays
    "text_max_token_run" -> ((s, dir) =>
      docs(s, dir)
        .select(col("source"),
          graft.functions.MaxTokenRun(col("text")).as("mr"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          max(col("mr")).as("longest_run"),
          sum(col("mr")).as("sum_max_run"),
          sum((col("mr") >= 3).cast("long")).as("stutter_docs"))
        .orderBy("source")),

    // sequence-length histogram (16-token buckets): the planning input
    // for packing budgets — what fraction of the corpus fits a context
    // window without splitting
    "pipeline_length_histogram" -> ((s, dir) => {
      val words = WordStats(col("text")).getField("words")
      docs(s, dir)
        .select((floor(words / lit(16.0)) * 16).as("bucket"),
          col("n_chars"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
        .orderBy("bucket")
    }),

    // SemDeDup over the embeddings' label clusters: per-cluster
    // duplicate pairs + vectors removed at cosine ≥ 0.25
    "dedup_semantic" -> ((s, dir) =>
      Ann.semanticDedupReport(embs(s, dir), "embedding", "vec_id",
          "label", 0.25)
        .orderBy("cluster")),

    // ANN evaluation: recall@10 of the IVF path against exact brute
    // force — the acceptance metric every approximate index ships
    // with. Both legs are the ALREADY-ORACLED queries, so the oracle
    // verifies the recall arithmetic on top of two verified paths.
    "ann_ivf_recall" -> ((s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      val ivf = Ann.ivfTopK(e, "embedding", "vec_id", q,
        k = 8, nProbe = 3, topK = 10).select("vec_id")
      val exact = Ann.cosineTopK(e, "embedding", "vec_id", q, 10)
        .select("vec_id")
      ivf.join(exact, "vec_id")
        .agg(count(lit(1)).as("hits"))
        .select(lit(10L).as("k"), col("hits"),
          round(col("hits") / lit(10.0), 4).as("recall"))
    }),

    // cross-source duplicate-overlap matrix over the EXACT pair leg —
    // the oracle twin of Dedup.sourceOverlap (quadratic per gram,
    // test-SF only)
    "dedup_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), "doc_id", "source",
        Dedup.exactJaccardPairs(Tables.spread(docs(s, dir)),
          "doc_id", "text", 3, 1, 2))),

    // the same report over the BANDED pair leg — the 100 TB route:
    // map-side minhash signatures, candidate pairs built inside each
    // band bucket, exact verification on candidates only. Identical
    // rollup; the oracle (same SQL as the exact twin) doubles as a
    // recall check — a hash match means LSH surfaced every qualifying
    // pair at this scale factor.
    "dedup_source_overlap_banded" -> ((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), "doc_id", "source",
        Dedup.minhashLshPairs(Tables.spread(docs(s, dir)),
          "doc_id", "text",
          n = 3, bands = 16, rowsPerBand = 4, num = 1, den = 2))))

  /** the oracle's mirror of [[WordStats]]' tokenization contract */
  private val wSql =
    "list_filter(string_split(text, ' '), x -> x <> '')"

  private def stopwordHitsSql = stopwords.map(w =>
    s"(CASE WHEN regexp_matches(text, '(^| )$w( |\\z)') " +
      "THEN 1 ELSE 0 END)").mkString(" + ")

  private val cosineSql = {
    val dim = 64
    def l2(c: String) =
      s"""sqrt(list_sum(list_transform(range(1, ${dim + 1}),
         i -> CAST($c[i] AS DOUBLE) * CAST($c[i] AS DOUBLE))))"""
    s"""list_sum(list_transform(range(1, ${dim + 1}),
         i -> CAST(a.embedding[i] AS DOUBLE)
              * CAST(b.embedding[i] AS DOUBLE)))
       / (${l2("a.embedding")} * ${l2("b.embedding")})"""
  }

  val oracle: Map[String, String] = Map(

    // gaps-and-islands over per-doc token positions: break on token
    // change, cumulative-sum the breaks into run groups, count runs,
    // take each doc's max (left join back to the doc spine so a
    // token-less doc scores 0 like the expression)
    "text_max_token_run" ->
      """WITH w AS (SELECT doc_id, source,
             list_filter(string_split(text, ' '), x -> x <> '') AS ws
           FROM documents),
         t AS (SELECT doc_id, unnest(ws) AS tok,
             unnest(range(len(ws))) AS i FROM w),
         m AS (SELECT doc_id, i,
             CASE WHEN lag(tok) OVER (PARTITION BY doc_id ORDER BY i)
               = tok THEN 0 ELSE 1 END AS brk
           FROM t),
         g AS (SELECT doc_id,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY i) AS grp
           FROM m),
         r AS (SELECT doc_id, grp, count(*) AS run
           FROM g GROUP BY doc_id, grp),
         mr AS (SELECT doc_id, max(run) AS max_run
           FROM r GROUP BY doc_id),
         d AS (SELECT w.source, coalesce(mr.max_run, 0) AS max_run
           FROM w LEFT JOIN mr USING (doc_id))
         SELECT source, count(*) AS docs,
           CAST(max(max_run) AS BIGINT) AS longest_run,
           CAST(sum(max_run) AS BIGINT) AS sum_max_run,
           CAST(sum(CASE WHEN max_run >= 3 THEN 1 ELSE 0 END)
             AS BIGINT) AS stutter_docs
         FROM d GROUP BY source ORDER BY source""",

    "text_repetition_stats" ->
      s"""WITH w AS (SELECT source, $wSql AS w FROM documents),
         s AS (SELECT source, len(w) AS words,
             len(list_distinct(w)) AS dw,
             coalesce(list_max(list_transform(list_distinct(w),
               x -> len(list_filter(w, y -> y = x)))), 0) AS top
           FROM w)
         SELECT source, count(*) AS docs,
           CAST(sum(words) AS BIGINT) AS words,
           CAST(sum(dw) AS BIGINT) AS distinct_words,
           CAST(sum(top) AS BIGINT) AS topword_hits
         FROM s GROUP BY source ORDER BY source""",

    "pipeline_gopher_rules" ->
      s"""WITH w AS (SELECT n_chars, text, $wSql AS w FROM documents),
         s AS (SELECT n_chars, len(w) AS words,
             CAST(list_sum(list_transform(w, x -> length(x)))
               AS DOUBLE) AS cs,
             CAST(coalesce(list_max(list_transform(list_distinct(w),
               x -> len(list_filter(w, y -> y = x)))), 0)
               AS DOUBLE) AS top,
             ($stopwordHitsSql) AS hits
           FROM w)
         SELECT stage, count(*) AS docs,
           CAST(sum(n_chars) AS BIGINT) AS chars
         FROM (SELECT n_chars, CASE
             WHEN words < 20 OR words > 1000 THEN 'word_count'
             WHEN cs / words < 4.35 THEN 'word_length'
             WHEN top / words > 0.18 THEN 'repetition'
             WHEN hits < 2 THEN 'stopword'
             ELSE 'kept' END AS stage FROM s)
         GROUP BY stage ORDER BY stage""",

    "pipeline_length_histogram" ->
      s"""WITH w AS (SELECT n_chars, $wSql AS w FROM documents)
         SELECT CAST(floor(len(w) / 16.0) * 16 AS BIGINT) AS bucket,
           count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM w GROUP BY bucket ORDER BY bucket""",

    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, label, embedding FROM embeddings),
         p AS (SELECT a.label AS cluster, b.vec_id AS id_b,
             $cosineSql AS cos
           FROM e a JOIN e b
           ON a.label = b.label AND a.vec_id < b.vec_id),
         d AS (SELECT cluster, count(*) AS dup_pairs,
             count(DISTINCT id_b) AS removed
           FROM p WHERE cos >= 0.25 GROUP BY cluster),
         s AS (SELECT label AS cluster, count(*) AS n_vectors
           FROM e GROUP BY label)
         SELECT s.cluster, s.n_vectors,
           CAST(coalesce(d.dup_pairs, 0) AS BIGINT) AS dup_pairs,
           CAST(coalesce(d.removed, 0) AS BIGINT) AS removed
         FROM s LEFT JOIN d USING (cluster) ORDER BY cluster""",

    // both legs are the verified ann_ivf_topk / ann_cosine_topk
    // oracles, nested as derived tables
    "ann_ivf_recall" ->
      s"""SELECT CAST(10 AS BIGINT) AS k,
           count(*) AS hits,
           round(count(*) / 10.0, 4) AS recall
         FROM (${LlmExtras.oracle("ann_ivf_topk")}) i
         JOIN (${LlmExtras.oracle("ann_cosine_topk")}) b
         USING (vec_id)""",

    // the pair leg is the verified dedup_ngram_jaccard oracle
    "dedup_source_overlap" -> sourceOverlapSql,
    // the banded variant must produce the SAME matrix here: LSH
    // candidates are exact-verified, so a hash match additionally
    // witnesses 100% recall at this scale factor
    "dedup_source_overlap_banded" -> sourceOverlapSql)

  private lazy val sourceOverlapSql =
    s"""WITH pr AS (SELECT doc_a, doc_b
           FROM (${LlmExtras.oracle("dedup_ngram_jaccard")})),
       m AS (SELECT least(da.source, db.source) AS src_lo,
               greatest(da.source, db.source) AS src_hi
             FROM pr
             JOIN documents da ON da.doc_id = pr.doc_a
             JOIN documents db ON db.doc_id = pr.doc_b)
       SELECT src_lo, src_hi, count(*) AS dup_pairs
       FROM m GROUP BY src_lo, src_hi ORDER BY src_lo, src_hi"""
}
