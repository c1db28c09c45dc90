package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.mtail.{Frontend, LogLines}
import graft.plan.PlanBuilder

/** The mtail ENGINE itself under the driver's DuckDB gate: synthesize
  * log lines from the `events` table, run real `.mtail` programs through
  * Frontend → PlanBuilder → snapshot, and check the exported store
  * against plain SQL over the same rows. This is the end-to-end proof
  * that parse→typed-IR→DataFrame-plan produces the semantics the golden
  * files prove against the reference's own fixtures.
  */
object EngineQueries {

  private def lines(s: SparkSession, dir: String, lineExpr:
      org.apache.spark.sql.Column): DataFrame = {
    // arrival order := event_id, EXPLICITLY, as the ord key — no sort,
    // no shuffle, no layout assumption. fromLines' default derives
    // `ord` from partition enumeration, which equals row order only
    // for a single-file scan (the driver's events.parquet); a
    // multi-file/scaled layout enumerates splits in size order and
    // would scramble last-write-wins vs the oracle's max_by(event_id).
    // NOTE (r19 optimization round): spreading the single-row-group
    // scan across cores (repartition to defaultParallelism) was
    // measured and REJECTED — per-task cost in the as-of/probe stages
    // is ~120 ms fixed regardless of rows, so 32× tasks made the
    // battery query 0.6 s SLOWER and 10× the CPU. The engine queries
    // are bounded by per-stage fixed overhead, not by data volume, at
    // bench scale; at real scale the multi-file layout parallelizes
    // the scan by itself.
    LogLines.fromLines(
      Tables(s, dir, "events")
        .select(lineExpr.as("line"), col("event_id")), "line",
      ordCol = Some(col("event_id")))
  }

  private def run(s: SparkSession, dir: String, src: String,
      lineExpr: org.apache.spark.sql.Column): DataFrame = {
    val program = Frontend.parse(src, "engine_query.mtail")
    val pb = new PlanBuilder(program, lines(s, dir, lineExpr), 0)
    // product-grade lifecycle (same as Graft.oneShot / the streaming
    // runner): one cached extraction shared by every metric branch
    // and as-of leg, eagerly consumed, cache freed — not persisted
    // across bench passes, so pass timings stay honest
    pb.materializeExtraction()
    try pb.snapshot().localCheckpoint(true)
    finally pb.unpersistExtraction()
  }

  /** (program source, line expression) per engine query. */
  val specs: Map[String, (String, org.apache.spark.sql.Column)] = Map(
    "mtail_engine_counters" -> (
      """counter events_total
        |counter by_type by t
        |gauge last_value by t
        |/^(?P<ts>\S+) type=(?P<t>\w+) value=(?P<v>\d+\.\d+)$/ {
        |  strptime($ts, "2006-01-02T15:04:05")
        |  events_total++
        |  by_type[$t]++
        |  last_value[$t] = $v
        |}
        |""".stripMargin,
      concat_ws(" ",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
        concat(lit("type="), col("event_type")),
        concat(lit("value="), col("value").cast("string")))),
    "mtail_engine_sessions" -> (
      """hidden gauge signup_at by u
        |counter pairs
        |counter delay_total
        |/^(?P<ts>\d+) (?P<t>\w+) (?P<u>\d+)$/ {
        |  settime($ts)
        |  $t == "signup" { signup_at[$u] = timestamp() }
        |  $t == "purchase" && signup_at[$u] > 0 {
        |    delay_total += timestamp() - signup_at[$u]
        |    pairs++
        |  }
        |}
        |""".stripMargin,
      concat_ws(" ",
        unix_timestamp(date_trunc("second", col("ts"))).cast("string"),
        col("event_type"), col("user_id").cast("string"))),
    "mtail_engine_opfolds" -> (
      """counter lastv
        |gauge nlines
        |hidden counter seen
        |gauge snap
        |/^id=(?P<i>\d+)$/ {
        |  lastv = $i
        |  nlines++
        |  seen++
        |  snap = seen
        |}
        |""".stripMargin,
      concat(lit("id="), col("event_id").cast("string"))),
    "mtail_engine_readmix" -> (
      """hidden counter seen by u
        |counter resets
        |gauge snap by u
        |hidden text trail by u
        |gauge errlen by u
        |text mix by u
        |/^(?P<t>\w+) (?P<u>\d+)$/ {
        |  $t == "purchase" {
        |    del seen[$u]
        |    resets++
        |    mix[$u] += "p"
        |  }
        |  otherwise {
        |    seen[$u]++
        |  }
        |  $t == "signup" { mix[$u] = $t }
        |  $t == "error" { trail[$u] += $t }
        |  snap[$u] = seen[$u]
        |  errlen[$u] = len(trail[$u])
        |}
        |""".stripMargin,
      concat_ws(" ",
        col("event_type"), col("user_id").cast("string"))),
    "mtail_engine_condgate" -> (
      """gauge out
        |gauge uout by u
        |hidden gauge m
        |hidden counter k
        |hidden gauge um by u
        |hidden counter uk by u
        |/^(?P<t>\w+) (?P<u>\d+)$/ {
        |  k > 3 { m = k }
        |  out = m
        |  k++
        |  uk[$u] > 1 { um[$u] = uk[$u] }
        |  uout[$u] = um[$u]
        |  uk[$u]++
        |}
        |""".stripMargin,
      concat_ws(" ",
        col("event_type"), col("user_id").cast("string"))),
    "mtail_engine_seqcycle" -> (
      """counter cap
        |counter resets
        |counter ucap by u
        |counter uresets by u
        |hidden gauge armed
        |hidden gauge uarmed by u
        |/^(?P<t>\w+) (?P<u>\d+)$/ {
        |  cap < 100 { cap++ }
        |  ucap[$u] < 3 { ucap[$u]++ }
        |  $t == "signup" {
        |    armed = 1
        |    uarmed[$u] = 1
        |  }
        |  $t == "purchase" && armed == 1 {
        |    armed = 0
        |    resets++
        |  }
        |  $t == "purchase" && uarmed[$u] == 1 {
        |    uarmed[$u] = 0
        |    uresets[$u]++
        |  }
        |}
        |""".stripMargin,
      concat_ws(" ",
        col("event_type"), col("user_id").cast("string"))),
    "mtail_engine_histogram" -> (
      """histogram lat by t buckets 10, 50, 100, 200
        |/^type=(?P<t>\w+) value=(?P<v>\d+\.\d+)$/ {
        |  lat[$t] = $v
        |}
        |""".stripMargin,
      concat_ws(" ",
        concat(lit("type="), col("event_type")),
        concat(lit("value="), col("value").cast("string")))))

  private def runSpec(s: SparkSession, dir: String,
      name: String): DataFrame = {
    val (src, lineExpr) = specs(name)
    run(s, dir, src, lineExpr)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // counters + dimensioned counters + gauge last-write through the
    // full engine
    "mtail_engine_counters" -> ((s, dir) =>
      runSpec(s, dir, "mtail_engine_counters")
        .select(col("name"),
          coalesce(element_at(col("labels"), "t"), lit("")).as("label"),
          coalesce(col("ival").cast("double"), col("fval")).as("val"))
        .orderBy("name", "label")),

    // hidden-metric cross-line session pairing through the engine
    // (rsyncd.mtail's shape over the events stream)
    "mtail_engine_sessions" -> ((s, dir) =>
      runSpec(s, dir, "mtail_engine_sessions")
        .select(col("name"), col("ival").as("val"))
        .orderBy("name")),

    // op-aware per-datum folds through the engine: `=` on a counter is
    // last-write (Iset replaces), `++` on a gauge accumulates (Inc
    // adds), and a read of an increment-built hidden counter sees the
    // running total (Iget)
    "mtail_engine_opfolds" -> ((s, dir) =>
      runSpec(s, dir, "mtail_engine_opfolds")
        .select(col("name"), col("ival").as("val"))
        .orderBy("name")),

    // round-13 lifted read rejections, end-to-end: a del-mixed counter
    // read (del barriers the running total), a `+=`-built text read
    // (running concat length), and a text metric mixing `=` and `+=`
    // (Iset replaces, ADD_ASSIGN appends) — all against plain SQL
    "mtail_engine_readmix" -> ((s, dir) =>
      runSpec(s, dir, "mtail_engine_readmix")
        .select(col("name"),
          coalesce(element_at(col("labels"), "u"), lit("")).as("label"),
          coalesce(col("sval"), col("ival").cast("string")).as("val"))
        .orderBy("name", "label")),

    // text-order state gating through the engine: exported values READ
    // hidden metrics whose write conds read OTHER hidden metrics whose
    // only write sites appear LATER in the block — the two-level shape
    // the deferred cross-pass read binding (round 15) makes exact.
    // VM semantics per line (statement order): the cond sees the
    // PRIOR-line count, the export reads the same-line write.
    "mtail_engine_condgate" -> ((s, dir) =>
      runSpec(s, dir, "mtail_engine_condgate")
        .select(col("name"),
          coalesce(element_at(col("labels"), "u"), lit("")).as("label"),
          col("ival").as("val"))
        .orderBy("name", "label")),

    // genuinely CYCLIC reads through the engine: writes whose own
    // conditions read the written metric — the sequential-automaton
    // shape SeqCycleEval replays exactly (round 16). Four arms:
    // keyless/keyed non-absorbing saturation (`cap < N { cap++ }`)
    // and keyless/keyed absorbing arm/reset alternation (the mysql
    // `partial` idiom generalized). The reset count is SQL-expressible
    // without recursion because the automaton is absorbing: a
    // purchase fires iff the latest signup-or-purchase before it
    // (within its scope) is a signup.
    "mtail_engine_seqcycle" -> ((s, dir) =>
      runSpec(s, dir, "mtail_engine_seqcycle")
        .select(col("name"),
          coalesce(element_at(col("labels"), "u"), lit("")).as("label"),
          col("ival").as("val"))
        .orderBy("name", "label")),

    // histogram observation through the engine: per-label bucket counts
    "mtail_engine_histogram" -> ((s, dir) =>
      runSpec(s, dir, "mtail_engine_histogram")
        .select(element_at(col("labels"), "t").as("label"),
          explode(col("buckets")).as(Seq("le", "cnt")))
        .filter(col("cnt") > 0)
        .orderBy("label", "le"))
  )

  val oracle: Map[String, String] = Map(
    "mtail_engine_readmix" ->
      """WITH e AS (
           SELECT event_id, event_type, CAST(user_id AS VARCHAR) AS u
           FROM events
         ),
         lastp AS (
           SELECT u, max(event_id) AS lp FROM e
           WHERE event_type = 'purchase' GROUP BY u
         ),
         lasts AS (
           SELECT u, max(event_id) AS ls FROM e
           WHERE event_type = 'signup' GROUP BY u
         ),
         snap AS (
           SELECT e.u, count(*) FILTER (WHERE e.event_type <> 'purchase'
               AND e.event_id > coalesce(lp.lp, -1)) AS v
           FROM e LEFT JOIN lastp lp ON e.u = lp.u
           GROUP BY e.u, lp.lp
         ),
         errlen AS (
           SELECT u,
             5 * count(*) FILTER (WHERE event_type = 'error') AS v
           FROM e GROUP BY u
         ),
         mix AS (
           SELECT e.u,
             CASE WHEN ls.ls IS NULL
               THEN repeat('p', CAST(count(*) FILTER (
                 WHERE event_type = 'purchase') AS INT))
               ELSE 'signup' || repeat('p', CAST(count(*) FILTER (
                 WHERE event_type = 'purchase'
                   AND event_id > ls.ls) AS INT))
             END AS v,
             count(*) FILTER (
               WHERE event_type IN ('purchase', 'signup')) AS writes
           FROM e LEFT JOIN lasts ls ON e.u = ls.u
           GROUP BY e.u, ls.ls
         )
         SELECT name, label, val FROM (
           SELECT 'snap' AS name, u AS label, CAST(v AS VARCHAR) AS val
           FROM snap
           UNION ALL
           SELECT 'errlen', u, CAST(v AS VARCHAR) FROM errlen
           UNION ALL
           SELECT 'mix', u, v FROM mix WHERE writes > 0
           UNION ALL
           SELECT 'resets', '', CAST(count(*) AS VARCHAR) FROM e
           WHERE event_type = 'purchase'
         ) t ORDER BY name, label""",
    "mtail_engine_opfolds" ->
      """SELECT name, val FROM (
           SELECT 'lastv' AS name, CAST(max(event_id) AS BIGINT) AS val
           FROM events
           UNION ALL
           SELECT 'nlines', CAST(count(*) AS BIGINT) FROM events
           UNION ALL
           SELECT 'snap', CAST(count(*) AS BIGINT) FROM events) t
         ORDER BY name""",
    // out: m is set once k (prior-line count) exceeds 3, i.e. from the
    // 5th line on, to the prior count; the last line's prior count is
    // N-1. uout likewise per user with threshold 1 (set from each
    // user's 3rd line). Untouched-threshold cells read 0.
    "mtail_engine_condgate" ->
      """WITH e AS (SELECT event_id,
               CAST(user_id AS VARCHAR) AS u FROM events),
         n AS (SELECT count(*) AS total FROM e),
         pu AS (SELECT u, count(*) AS nu FROM e GROUP BY u)
         SELECT name, label, CAST(val AS BIGINT) AS val FROM (
           SELECT 'out' AS name, '' AS label,
                CASE WHEN total > 4 THEN total - 1 ELSE 0 END AS val
           FROM n
           UNION ALL
           SELECT 'uout', u,
                CASE WHEN nu > 2 THEN nu - 1 ELSE 0 END
           FROM pu) t
         ORDER BY name, label""",
    "mtail_engine_counters" ->
      """SELECT name, label, val FROM (
           SELECT 'by_type' AS name, event_type AS label,
                CAST(count(*) AS DOUBLE) AS val
           FROM events GROUP BY event_type
           UNION ALL
           SELECT 'events_total', '', CAST(count(*) AS DOUBLE)
           FROM events
           UNION ALL
           SELECT 'last_value', event_type, max_by(value, event_id)
           FROM events GROUP BY event_type) t
         ORDER BY name, label""",
    "mtail_engine_sessions" ->
      """WITH t AS (SELECT user_id, event_type, event_id,
             CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS es
           FROM events),
         x AS (SELECT user_id, event_type, es,
             max(CASE WHEN event_type = 'signup' THEN es END)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS sg
           FROM t)
         SELECT name, val FROM (
           SELECT 'delay_total' AS name, CAST(sum(es - sg) AS BIGINT)
                AS val
           FROM x WHERE event_type = 'purchase' AND sg IS NOT NULL
           UNION ALL
           SELECT 'pairs', count(*)
           FROM x WHERE event_type = 'purchase' AND sg IS NOT NULL) t
         ORDER BY name""",
    // cap = min(100, lines); resets = purchases whose immediately
    // preceding signup/purchase (by event_id) is a signup — the
    // absorbing automaton's closed form (see the query comment);
    // keyed arms likewise per user. Keyed cells exist only when
    // written (no zero-init for dimensioned metrics), keyless
    // counters zero-init.
    "mtail_engine_seqcycle" ->
      """WITH e AS (SELECT event_id, event_type,
               CAST(user_id AS VARCHAR) AS u FROM events),
         sp AS (SELECT event_id, event_type, u,
               lag(event_type) OVER (ORDER BY event_id) AS prev
               FROM e WHERE event_type IN ('signup', 'purchase')),
         usp AS (SELECT event_id, event_type, u,
               lag(event_type)
                 OVER (PARTITION BY u ORDER BY event_id) AS prev
               FROM e WHERE event_type IN ('signup', 'purchase')),
         n AS (SELECT count(*) AS total FROM e),
         pu AS (SELECT u, count(*) AS nu FROM e GROUP BY u)
         SELECT name, label, CAST(val AS BIGINT) AS val FROM (
           SELECT 'cap' AS name, '' AS label,
                least(100, total) AS val FROM n
           UNION ALL
           SELECT 'resets', '', count(*) FROM sp
           WHERE event_type = 'purchase' AND prev = 'signup'
           UNION ALL
           SELECT 'ucap', u, least(3, nu) FROM pu
           UNION ALL
           SELECT 'uresets', u, count(*) FROM usp
           WHERE event_type = 'purchase' AND prev = 'signup'
           GROUP BY u
         ) t ORDER BY name, label""",
    "mtail_engine_histogram" ->
      """SELECT label, le, cnt FROM (
           SELECT event_type AS label,
             CASE WHEN value <= 10 THEN '10'
                  WHEN value <= 50 THEN '50'
                  WHEN value <= 100 THEN '100'
                  WHEN value <= 200 THEN '200'
                  ELSE '+Inf' END AS le,
             count(*) AS cnt
           FROM events GROUP BY 1, 2
           UNION ALL
           SELECT event_type, 'count', count(*)
           FROM events GROUP BY 1) t
         ORDER BY label, le"""
  )
}
