package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-round benchmark: times every SparkEntry query at the given SF and
  * replays an mtail program over ~1M synthesized log lines to produce a
  * klines/sec figure directly comparable to the reference's
  * benchmark_results.csv anchor (BASELINE.md: 6–37 klines/s on 4 cores,
  * regex-bound).
  *
  * Output protocol (round-9 survivability rework — round 8's artifact
  * was rc=124 with ZERO output because everything printed at the very
  * end):
  *   - one small JSON line per battery query / replay run AS IT
  *     COMPLETES, so a wall-time overrun still leaves per-query
  *     evidence in the captured tail;
  *   - a full headline-format line after each stage boundary (battery,
  *     replay) marked `"partial":…` in extra, so the last complete
  *     line at any kill point is parseable as a headline;
  *   - the bulky detail line (per-pass timings, raw warm samples, data
  *     fingerprint) second-to-last;
  *   - the compact FINAL headline {"metric","value","unit","queries",
  *     "sf","failed","extra"} last — small (≤2200 bytes, precision
  *     degrades adaptively) so a tail-truncating capture always keeps
  *     it.
  */
object Bench {
  /** The driver's capture window is ~240 s of wall; a bench that
    * overruns it historically produced a SILENT artifact loss (round
    * 8: rc=124, zero output). The final headline self-reports the
    * overrun as a failure marker so a slow round is visible in the
    * artifact instead of only in a missing one.
    */
  val WallLimitSecs: Double = 240.0
  def wallOverrun(wallSecs: Double,
      limit: Double = WallLimitSecs): Boolean = wallSecs > limit

  /** Hard cap for the FINAL headline line. The driver's tail capture
    * keeps ~2 000 bytes and sbt's "[success] Total time: …" trailer
    * eats ~60 of them; the previous 2 200-byte threshold fit the
    * ladder's first rung yet lost the leading {"metric":"total",…} to
    * the capture window two rounds running (BENCH_r11, BENCH_r12).
    * 1 850 leaves ~90 bytes of slack under the worst observed capture.
    */
  val HeadlineMaxBytes: Int = 1850

  /** Render the final JSON headline, degrading until it fits
    * HeadlineMaxBytes. The ladder first drops value precision
    * (ms → cs → ds), then — still at ds — drops redundant extras in
    * three steps via `lean`: level 1 removes kvs duplicated verbatim
    * on the detail line / per-run incremental lines (warm min/max/
    * runs, cold replay, battery steal, the wall-limit constant);
    * level 2 additionally removes the warm median (also on the detail
    * line); level 3 removes the constant replay line count and keeps
    * only throughput kvs from the evidence stages (battery totals
    * stay in SCALE.json / the scale_detail line).
    *
    * Per-query precision NEVER degrades below one decimal (a ±0.5 s
    * rounding made cross-round per-query comparison meaningless in
    * BENCH_r13). When no single-line rung fits, the per-query map
    * moves to its OWN `{"metric":"per_query",…}` line emitted
    * immediately before the headline — both inside the driver's tail
    * window, so the COMBINED two-line budget is checked against
    * HeadlineMaxBytes. The headline (always the LAST line) then
    * carries an empty queries map and degrades lean 3→4→5 (4 sheds
    * the driver-clocked duplicate throughput, 5 sheds scale_* kvs —
    * all duplicated in the committed SCALE.json / scale_detail line);
    * replay, streaming, wall, and the warm-replay steal audit survive
    * every rung. Whole-second per-query values are the very last
    * resort, on the per_query line only.
    * Scale/streaming evidence kvs are the caller's business —
    * extraKv(p, lean) decides what to emit.
    */
  def renderHeadline(
      all: Seq[(String, Double)],
      sfDir: String,
      failed: Seq[String],
      wallSecs: Double,
      extraKv: (Double => String, Int) => Seq[String],
      partial: Option[String]): String = {
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = all.collect { case (_, v) if v >= 0 => v }.sum
    def fmt(prec: Int)(v: Double): String =
      if (v < 0) "-1"
      else s"%.${prec}f".formatLocal(java.util.Locale.ROOT, v)
    def qs(prec: Int): String =
      all.map { case (k, v) => "\"" + k + "\":" + fmt(prec)(v) }
        .mkString("{", ",", "}")
    def headline(prec: Int, lean: Int, withQueries: Boolean): String = {
      val p = fmt(prec) _
      val qsP = if (withQueries) qs(prec) else "{}"
      val limitKv =
        if (lean >= 1) Seq.empty
        else Seq(s""""bench_wall_limit_secs":${WallLimitSecs.toInt}""")
      val extra = (extraKv(p, lean) ++
        partial.map(s => s"""\"partial\":\"$s\"""").toSeq ++
        (s"""\"bench_wall_secs\":${p(wallSecs)}""" +: limitKv))
        .mkString(",")
      s"""{\"metric\":\"total\",\"value\":${p(total)},\"unit\":\"sec\",\"queries\":$qsP,\"sf\":\"$sfDir\",\"failed\":$failedJson,\"extra\":{$extra}}"""
    }
    // minimal wrapper: every byte here competes with per-query
    // decimals for the tail budget
    def perQueryLine(prec: Int): String =
      s"""{\"per_query\":${qs(prec)}}"""
    val single = Seq((3, 0), (2, 0), (1, 0), (1, 1), (1, 2), (1, 3))
      .map { case (pr, ln) => headline(pr, ln, withQueries = true) }
      .find(_.length <= HeadlineMaxBytes)
    single.getOrElse {
      // two-line: full map first (lean 3→5), then the SLOWEST top-K
      // that fit — the expensive queries are the ones cross-round
      // comparison needs at decimal precision; per_query_n says
      // explicitly how many were kept
      val full = (for (ln <- Seq(3, 4, 5))
        yield perQueryLine(1) + "\n" +
          headline(prec = 1, ln, withQueries = false))
        .find(_.length <= HeadlineMaxBytes)
      full.getOrElse {
        val h = headline(prec = 1, lean = 5, withQueries = false)
        val bySlow = all.sortBy { case (k, v) => (-v, k) }
        val budget = HeadlineMaxBytes - h.length - 1
        val base = s"""{"per_query_n":${all.size},"per_query":{}}"""
        var used = base.length
        val kept = bySlow.takeWhile { case (k, v) =>
          val kv = "\"" + k + "\":" + fmt(1)(v)
          val fits = used + kv.length + 1 <= budget
          if (fits) used += kv.length + 1
          fits
        }
        val pq = kept.map { case (k, v) =>
          "\"" + k + "\":" + fmt(1)(v) }.mkString(
          s"""{"per_query_n":${all.size},"per_query":{""", ",", "}}")
        if (kept.nonEmpty && pq.length + 1 + h.length <=
          HeadlineMaxBytes) pq + "\n" + h
        else headline(0, 5, withQueries = true)
      }
    }
  }

  /** Optional scale-run evidence measured out-of-band (SCALE.json at
    * the cwd, or $SPARK_GRAFT_SCALE_JSON): a compact subset is
    * attached to the final headline's extra block so the per-round
    * artifact carries the scale measurement without the driver having
    * to run the (multi-minute) scaled battery inside its window.
    * Returns (headlineKvs, rawJson).
    */
  /** The scale/streaming-evidence arm of the lean ladder, shared with
    * BenchSpec so the tripwire exercises the PRODUCTION filter (a
    * spec-side mirror could silently drift). Level semantics are
    * documented on [[renderHeadline]].
    */
  def evidenceLeanFilter(kvs: Seq[String], lean: Int): Seq[String] =
    if (lean < 1) kvs
    // level 5 (the 59-query battery outgrew level 4): shed the
    // scale_* kvs entirely — they are duplicated in the COMMITTED
    // SCALE.json and on this run's scale_detail/incremental lines —
    // keeping the per-run streaming figure (fresh evidence with no
    // other durable home)
    else if (lean >= 5) kvs.filter(kv =>
      kv.contains("klines_per_sec") && !kv.contains("_driver") &&
        !kv.contains("scale_"))
    // level 4: also shed the driver-clocked duplicate (it has its
    // own incremental line and the detail record)
    else if (lean >= 4) kvs.filter(_.contains("klines_per_sec"))
      .filterNot(_.contains("_driver"))
    // level 3 (battery growth outgrew level 2): throughputs only —
    // the battery total remains in SCALE.json / scale_detail
    else if (lean >= 3) kvs.filter(_.contains("klines_per_sec"))
    else kvs.filter(kv => kv.contains("klines_per_sec") ||
      kv.contains("battery_total_secs"))

  def scaleEvidence(pathOverride: Option[String] = None)
      : (Seq[String], Option[String]) = {
    val path = pathOverride.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_JSON", "SCALE.json"))
    try {
      val raw = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8).trim
      // pull the few headline numbers with a dumb scan (no JSON dep):
      // "key":number — enough for flat keys
      def num(key: String): Option[String] = {
        // tolerate pretty-printed JSON ("key": 1.2 with spaces) — the
        // no-space form silently dropped every scale kv when the file
        // was rewritten by an indenting serializer
        val m = java.util.regex.Pattern
          .compile("\"" + key + "\"\\s*:\\s*([0-9.eE+-]+)").matcher(raw)
        if (m.find()) Some(m.group(1)) else None
      }
      val kvs = Seq(
        num("factor").map(v => s""""scale_factor":$v"""),
        num("battery_total_secs").map(v =>
          s""""scale_battery_total_secs":$v"""),
        num("replay_lines").map(v => s""""scale_replay_lines":$v"""),
        num("replay_klines_per_sec").map(v =>
          s""""scale_replay_klines_per_sec":$v""")).flatten
      (kvs, Some(raw))
    } catch { case _: Exception => (Seq.empty, None) }
  }

  def main(args: Array[String]): Unit = {
    val wall0 = System.nanoTime()
    def wallSecs: Double = (System.nanoTime() - wall0) / 1e9
    // SPARK_GRAFT_BENCH_SF: opt-in override to bench a different
    // scale directory (e.g. the ScaleGen sf1 set) without touching
    // the driver-owned SPARK_GRAFT_SF_DIR contract
    val sfDir = sys.env.get("SPARK_GRAFT_BENCH_SF")
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle/spill scratch on tmpfs when available: this box's virtual
    // disk intermittently burns hundreds of CPU-seconds of guest system
    // time on shuffle-file mmap/write syscalls under host I/O
    // contention (round-8 diagnosis; thread dumps in FileChannel.map0 /
    // write0 with sys≫user). A single-node bench box keeping scratch in
    // RAM is the same condition the reference's benchmarks run under
    // (page-cache-resident logs). Cluster deployments size real
    // local-dir disks instead — this is bench-box hygiene, not an
    // engine requirement.
    val localDir = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse(
      Some("/dev/shm/graft-bench").filter(d =>
        try { java.nio.file.Files.createDirectories(
          java.nio.file.Paths.get(d)); true }
        catch { case _: Exception => false }))
    val builder = SparkEntry.sessionBuilder(cpus)
      .config(SparkEntry.replanConfs)
    // streaming checkpoint logs (offsets/commits/state deltas) default
    // to java.io.tmpdir — the SAME contended virtual disk the shuffle
    // scratch was moved off above, and the streaming stages pay it per
    // MICROBATCH (32 state-store delta writes + 2 log writes per
    // trigger; measured 2× on the scrub stage: 4.55 → 2.26 s/batch).
    // Same bench-box-hygiene rationale as spark.local.dir: a real
    // deployment checkpoints to provisioned storage.
    val ckptDir = localDir.map(d =>
      s"$d/ckpt-${ProcessHandle.current().pid()}")
    val spark = localDir.fold(builder)(d =>
      ckptDir.fold(builder.config("spark.local.dir", d))(c =>
        builder.config("spark.local.dir", d)
          .config("spark.sql.streaming.checkpointLocation", c)))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warm up the JVM + codegen + parquet footers outside the clock.
    // The lower()/upper() pair forces Spark 4.1's one-time ICU
    // collation-table build (~10-70 s of CPU observed on a loaded box
    // in round 8) before any measured window.
    Tables(spark, sfDir, "lineitem").agg(count(lit(1))).collect()
    spark.sql("SELECT lower('Warm'), upper('warm')").collect()
    // Spark 4.1's CollationAwareUTF8String builds a one-to-many
    // titlecase lookup table over ALL 1 114 111 Unicode codepoints in
    // its static init (~2-3 s of CPU, JFR-confirmed) — force the class
    // load here so it lands in warmup, not inside whichever measured
    // query first touches a collation-aware string op.
    try Class.forName(
      "org.apache.spark.sql.catalyst.util.CollationAwareUTF8String")
    catch { case _: Throwable => () }
    SparkEntry.queries("mt_line_count")(spark, sfDir).count()

    def time[A](f: => A): Double = {
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e9
    }
    // Hypervisor CPU steal (aggregate cpu-seconds across all vCPUs,
    // /proc/stat field 8 @ USER_HZ=100), sampled around every
    // measurement so residual host noise is auditable in the artifact
    // itself. Round 8's investigation of the 10–50× warm-run swings
    // (r7's 18 s mtail_engine_counters / 80 s replay median) found the
    // DOMINANT causes were guest-side and are now fixed — un-pinned
    // JVM heap (commit/uncommit churn → page-fault + TLB-shootdown
    // storms billed as system time; -Xms=-Xmx + AlwaysPreTouch in
    // build.sbt, bench forks only) and shuffle scratch on the
    // contended virtual disk (tmpfs local.dir above) — but the box
    // remains a shared microVM, so the steal column stays as the tell
    // for what's left.
    def stealCpuSecs: Double = try {
      val line = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().trim.split("\\s+")
      if (line.length > 8) line(8).toDouble / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }
    // (wall secs, steal cpu-secs during the measurement)
    def timeWithSteal[A](f: => A): (Double, Double) = {
      val s0 = stealCpuSecs
      val secs = time(f)
      (secs, stealCpuSecs - s0)
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    def ms(v: Double): String =
      if (v < 0) "-1"
      else "%.3f".formatLocal(java.util.Locale.ROOT, v)

    // The bench box is shared and demonstrably noisy (r4/r5 both showed
    // warm-slower-than-cold inversions and 3-6x swings on unchanged
    // queries), so single samples can't separate regressions from load
    // spikes. Queries whose pass-1 time is ≥1 s get a second pass and
    // report the per-query MIN — the least-load-contaminated sample;
    // sub-second queries keep their single sample (a load spike there
    // costs at most ~1 s of misreport, while re-running all 50 nearly
    // doubled the battery wall that blew round 8's capture window).
    // The reference's own harness repeats for the same reason
    // (Makefile:199-208, `go test -count=N` piped through benchstat).
    // (name, secs, ok, steal): a pass that THROWS is recorded with
    // ok=false so its fast failure time can never masquerade as a
    // min-of-N speedup; steal is the hypervisor-stolen cpu-seconds
    // during that query's measurement window.
    def runPass(pass: Int, qs: Seq[(String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame)])
        : Seq[(String, Double, Boolean, Double)] =
      qs.map { case (name, fn) =>
        var ok = true
        val (secs, steal) = timeWithSteal {
          try fn(spark, sfDir).count()
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            ok = false
          }
        }
        // incremental evidence: one line per query as it completes
        println(s"""{"q":"$name","pass":$pass,"secs":${ms(secs)},"ok":$ok,"steal":${ms(steal)}}""")
        (name, secs, ok, steal)
      }
    // headline emission, shared by the stage-boundary partials and the
    // final line — rendering and the fits-the-capture degradation
    // ladder live in renderHeadline (object-level so BenchSpec pins
    // the byte budget against a full-size fixture); failed carries
    // query failures plus non-query markers (wall overrun, skips)
    def emitHeadline(all: Seq[(String, Double)],
        failed: Seq[String],
        extraKv: (Double => String, Int) => Seq[String],
        partial: Option[String]): Unit =
      println(renderHeadline(all, sfDir, failed,
        wallSecs, extraKv, partial))

    // mtail replay: the engine_counters program over replicated event
    // lines — the reference's per-line-engine benchmark shape
    val programSrc =
      """counter events_total
        |counter by_type by t
        |gauge last_value by t
        |/^(?P<ts>\S+) type=(?P<t>\w+) value=(?P<v>\d+\.\d+)$/ {
        |  strptime($ts, "2006-01-02T15:04:05")
        |  events_total++
        |  by_type[$t]++
        |  last_value[$t] = $v
        |}
        |""".stripMargin
    val program = mtail.Frontend.parse(programSrc, "bench_replay.mtail")
    val replicate = 10
    // events.parquet is one row group = one scan partition; spread the
    // small table BEFORE the 10× multiply so the 1M generated lines are
    // born across all cores and never funnel through a single
    // shuffle-write task (a real deployment's file source arrives
    // byte-range-split the same way)
    val lineDf = Tables(spark, sfDir, "events")
      .repartition(cpus.toInt)
      .crossJoin(spark.range(replicate.toLong))
      .select(concat_ws(" ",
        date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
        concat(lit("type="), col("event_type")),
        concat(lit("value="), col("value").cast("string"))).as("line"))
    val nLines = lineDf.count()
    def runReplay(df: org.apache.spark.sql.DataFrame): Unit = {
      val pb = new plan.PlanBuilder(program,
        mtail.LogLines.fromLines(df, "line"), 0)
      // the engine's own execution recipe (StreamRunner does the
      // same): one scan feeds every metric branch
      pb.materializeExtraction()
      try pb.snapshot().collect()
      finally pb.unpersistExtraction()
    }
    // The cold first run pays janino compilation + JIT of the
    // extraction/aggregation stages; a long-running tailer is always
    // warm and the reference's Go engine has no JIT cliff to amortize,
    // so steady-state is the apples-to-apples figure. The cold run is
    // timed and reported under its own key (r1/r2
    // "mtail_replay_1m_lines" was a cold run; r3-r5 a single warm run).
    // From r6 the headline is the MEDIAN of N warm runs with min/max
    // alongside, so a load spike on the shared box shows up as spread
    // instead of silently becoming the headline.
    val replayColdSecs = time { runReplay(lineDf) }
    println(s"""{"replay_run":"cold","secs":${ms(replayColdSecs)}}""")
    val replayWarmRuns = 5
    val warmRuns = (1 to replayWarmRuns).map { i =>
      val r = timeWithSteal { runReplay(lineDf) }
      println(s"""{"replay_run":$i,"secs":${ms(r._1)},"steal":${ms(r._2)}}""")
      r
    }
    val warmSecs = warmRuns.map(_._1)
    val replaySecs = median(warmSecs)
    val klinesPerSec = nLines / 1000.0 / replaySecs

    // lean level 1 drops kvs that are duplicated on the detail line /
    // per-run incremental lines; level 2 keeps only the two headline
    // throughput numbers — renderHeadline only reaches the lean rungs
    // when the full form outgrows the capture window
    def replayKv(p: Double => String, lean: Int): Seq[String] =
      ((if (lean >= 3) Seq.empty else Seq(
        s""""replay_lines":$nLines""")) ++
      Seq(
        s""""replay_klines_per_sec":${p(klinesPerSec)}""",
        // the steal audit survives EVERY rung — it is what lets a
        // reader separate a thrashed box from a code regression
        // (r12's 2× slowdown was indicted by exactly this kv)
        s""""replay_warm_steal_cpu_secs_sum":${p(warmRuns.map(_._2).sum)}""") ++
      (if (lean >= 2) Seq.empty else Seq(
        s""""replay_warm_secs_median":${p(replaySecs)}""")) ++
      (if (lean >= 1) Seq.empty else Seq(
        s""""replay_warm_secs_min":${p(warmSecs.min)}""",
        s""""replay_warm_secs_max":${p(warmSecs.max)}""",
        s""""replay_warm_runs":$replayWarmRuns""",
        s""""replay_cold_secs":${p(replayColdSecs)}""",
        s""""replay_cold_klines_per_sec":${p(nLines / 1000.0 / replayColdSecs)}""")))
    // stage boundary: replay complete. r17 REORDER: replay and the
    // ×10 driver stage run BEFORE the battery, so battery growth can
    // never wall-gate the scale-replay evidence again (BENCH_r16 lost
    // its ×10 stage to exactly that — failed:
    // scale_replay_driver_skipped_wall at a 75-query battery).
    emitHeadline(Seq("mtail_replay_1m_lines" -> replaySecs), Nil,
      replayKv, Some("replay"))

    // ---- driver-clocked ×10 replay (in-memory) ----
    // The same generator at 10× the replicate factor: 10 M lines born
    // across all cores, zero parquet dependency, so the per-round
    // artifact carries a DRIVER-measured scale point instead of only
    // the out-of-band SCALE.json attachment. Running pre-battery the
    // wall here is warmup + replay only (~40 s loaded); the gate
    // survives purely as an extreme-load safety, and skipping stays
    // visible, never silent.
    var scaleDriverKvs: Seq[String] = Seq.empty
    var scaleDriverFailed: Seq[String] = Seq.empty
    if (wallSecs < 120.0) {
      val lineDf10 = Tables(spark, sfDir, "events")
        .repartition(cpus.toInt)
        .crossJoin(spark.range(10L * replicate))
        .select(concat_ws(" ",
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
          concat(lit("type="), col("event_type")),
          concat(lit("value="), col("value").cast("string"))).as("line"))
      val n10 = nLines * 10
      val (secs10, steal10) = timeWithSteal { runReplay(lineDf10) }
      val k10 = n10 / 1000.0 / secs10
      println(s"""{"replay_run":"scale_x10_driver","lines":$n10,"secs":${ms(secs10)},"klines_per_sec":${ms(k10)},"steal":${ms(steal10)}}""")
      scaleDriverKvs = Seq(
        s""""scale_replay_lines_driver":$n10""",
        s""""scale_replay_secs_driver":${ms(secs10)}""",
        s""""scale_replay_klines_per_sec_driver":${ms(k10)}""")
    } else scaleDriverFailed = Seq("scale_replay_driver_skipped_wall")

    // ---- streaming-path throughput (Graft.tail) ----
    // Every klines/s number above is batch replay through PlanBuilder
    // directly; this stage measures the DAEMON path: a real file
    // tailed by the TailSource under a micro-batch trigger, lines
    // appended while the query runs so arrival spans many batches.
    // Steady-state = lines / (first-ingest → last-ingest wall).
    var streamKvs: Seq[String] = Seq.empty
    var streamFailed: Seq[String] = Seq.empty
    val streamTriggerMs = 250
    // r19 REORDER (verdict order #2): BOTH streaming stages moved
    // AHEAD of the battery, the same invariant the r17 reorder gave
    // the scale stages — BENCH_r18 lost its streaming evidence to a
    // stolen-window battery overrun exactly because they ran last.
    // Wall at entry is warmup + replay + ×10 only (~60-70 s loaded);
    // the 150 s gate survives purely as an extreme-load safety.
    if (wallSecs < 150.0) {
      try {
        val dir = java.nio.file.Files.createTempDirectory(
          localDir.map(java.nio.file.Paths.get(_)).filter(
            java.nio.file.Files.isDirectory(_)).getOrElse(
            java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))),
          "graft-stream")
        val logPath = dir.resolve("bench_stream.log")
        java.nio.file.Files.createFile(logPath)
        // pre-render the 1M lines once (driver RAM ~40 MB) so append
        // speed is pure I/O and never the bottleneck being measured
        val lines = lineDf.collect().map(_.getString(0))
        val handle = graft.Graft.tail(spark, programSrc, "bench_stream",
          logPath.toString,
          trigger = org.apache.spark.sql.streaming.Trigger
            .ProcessingTime(s"$streamTriggerMs milliseconds"))
        def totalCell: Long =
          handle.runner.store.snapshot()
            .find(c => c.name == "events_total" && c.labels.isEmpty)
            .map(_.value match {
              case graft.mtail.Snapshot.VInt(v) => v
              case _ => 0L
            }).getOrElse(0L)
        try {
          def append(ls: Seq[String]): Unit = {
            val w = java.nio.file.Files.newBufferedWriter(logPath,
              java.nio.charset.StandardCharsets.UTF_8,
              java.nio.file.StandardOpenOption.APPEND)
            try ls.foreach { l => w.write(l); w.write('\n') }
            finally w.close()
          }
          def awaitTotal(target: Long, timeoutSecs: Int): Boolean = {
            val deadline = System.nanoTime() + timeoutSecs * 1000000000L
            while (totalCell < target && System.nanoTime() < deadline)
              Thread.sleep(50)
            totalCell >= target
          }
          // warm-up batch outside the clock: the stream's first batch
          // pays plan analysis + janino codegen (the same cliff the
          // replay reports separately as its cold run); a long-running
          // tailer is past it, so steady-state excludes it
          val warm = 50000
          append(lines.take(warm))
          val warmed = awaitTotal(warm, 60)
          // MEDIAN OF 3 measured ingest cycles (r14's single sample
          // dropped 34% against r13 on an otherwise-clean box and was
          // unexplainable from one number; the per-batch fixed cost
          // measured identical across those code points, so spread
          // must be visible in the artifact). Each cycle appends the
          // full 1M lines and waits for the counter to absorb them.
          var expected = warm.toLong
          val runSecs = (1 to 3).flatMap { r =>
            val t0 = System.nanoTime()
            append(lines)
            expected += lines.length
            val done = warmed && awaitTotal(expected, 120)
            val secs = (System.nanoTime() - t0) / 1e9
            val k = lines.length / 1000.0 / secs
            println(s"""{"replay_run":"streaming_tail","run":$r,"lines":${lines.length},"warmup_lines":$warm,"ingested":${totalCell},"secs":${ms(secs)},"klines_per_sec":${ms(k)},"trigger_ms":$streamTriggerMs}""")
            if (done) Some(secs) else None
          }
          if (runSecs.size == 3) {
            val k = lines.length / 1000.0 / median(runSecs)
            streamKvs = Seq(
              s""""streaming_klines_per_sec":${ms(k)}""",
              s""""streaming_trigger_ms":$streamTriggerMs""")
          } else streamFailed = Seq("streaming_tail_incomplete")
        } finally {
          handle.stop()
          // the replay file lives on tmpfs (RAM) — leaking ~45 MB per
          // bench run would accumulate across rounds
          java.nio.file.Files.deleteIfExists(logPath)
          java.nio.file.Files.deleteIfExists(dir)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] streaming stage failed: ${e.getMessage}")
        streamFailed = Seq("streaming_tail_failed")
      }
    } else streamFailed = Seq("streaming_tail_skipped_wall")

    // ---- streaming-pipeline throughput (all 3 stages, 2 batch sizes) ----
    // r17 published one scrub-monitor number (8.6 klines/s at ~25 k
    // rows/microbatch) with no decomposition — ambiguous between fixed
    // per-microbatch cost (state-store commit + watermark bookkeeping
    // + memory-sink append per 250 ms trigger cycle; fine at
    // production batch sizes) and real per-row cost in the windowed
    // aggregate (a product problem). This stage resolves it: the SAME
    // 90 k measured rows through streamingScrubMonitor at 9×10 k-row
    // microbatches (processAllAvailable per chunk — r17 let the
    // trigger pick ambient batching) and at 1×90 k, then
    // fixed = (T_small − T_big)/8 and row cost from the big run.
    // Plus first numbers for the other two stages (exact dedup,
    // quality counts) at the big batch size.
    var streamPipeKvs: Seq[String] = Seq.empty
    var streamPipeFailed: Seq[String] = Seq.empty
    if (wallSecs < 175.0) {
      try {
        import spark.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext =
          spark.sqlContext
        // r19: rows cut 250 k → 100 k (verdict order #2 — the
        // fixed-vs-marginal split needs two batch sizes, not 200 k
        // measured rows; the r18 decomposition at 225 k cost ~55 s
        // and priced the whole artifact out of its wall)
        val nPipe = 100000
        val warmPipe = 10000
        val measured = nPipe - warmPipe
        val srcs = Array("web", "books", "code", "wiki")
        val rows = (0 until nPipe).map { i =>
          // ~1% of lines carry a plantable address so the scrub rules
          // do real redaction work, not just scan-and-miss
          val pii = if (i % 97 == 0) s" contact user$i@example.com" else ""
          (new java.sql.Timestamp(1700000000000L + (i / 1000) * 1000L),
            srcs(i % srcs.length),
            s"line $i type=ev${i % 7} value=${i % 1000}.${i % 97}$pii")
        }
        /** feed `rows` through one StreamingPipeline stage: warm batch
          * outside the clock (plan analysis + janino codegen cliff),
          * then the measured rows in `batchRows`-sized microbatches,
          * each forced to its own batch by processAllAvailable.
          * Returns wall secs over the measured rows.
          */
        def runStage(name: String, batchRows: Int,
            mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
            // the fixed-vs-marginal split compares a 9-batch and a
            // 1-batch run of the SAME rows; r19 let each derive its
            // own stateParts (1 vs 3), conflating per-batch overhead
            // with partition-count effects (ADVICE r19) — the split
            // callers now pin both runs to one value
            statePartsPin: Option[Int] = None): Double = {
          val msrc = org.apache.spark.sql.execution.streaming.runtime
            .MemoryStream[(java.sql.Timestamp, String, String)]
          // state-store partitioning sized to BATCH VOLUME, not core
          // count: each state partition costs a fixed per-microbatch
          // commit (delta write + per-task codegen), so partitions
          // beyond rows/25k are pure overhead — at 10 k-row batches,
          // 32 state partitions cost 4.5 s/batch vs 0.9 s at the
          // sized value (measured A/B, OPTIMIZATION_r19.md). The
          // derivation is scale-adaptive: a production-size microbatch
          // (millions of rows) gets every core, exactly as before.
          // Read at query START (state partitioning is fixed in the
          // offset log), restored right after so the battery keeps the
          // session default. Production surfaces get the same sizing
          // via graft.streaming.Streaming.sessionDefaults.
          val stateParts = statePartsPin.getOrElse(math.max(1,
            math.min(cpus.toInt, batchRows / 25000)))
          spark.conf.set("spark.sql.shuffle.partitions",
            stateParts.toString)
          try {
            val w0 = mk(msrc.toDF().toDF("ts", "source", "text"))
              .writeStream.format("memory").queryName(s"bench_$name")
              .outputMode("append")
              .trigger(org.apache.spark.sql.streaming.Trigger
                .ProcessingTime(s"$streamTriggerMs milliseconds"))
            // per-start unique checkpoint path: with a session-level
            // checkpointLocation a repeated queryName would RESUME the
            // previous start's persistent checkpoint against a fresh
            // MemoryStream (ADVICE r19 latent footgun). Without the
            // session conf, Spark's own temp checkpoint (deleted on
            // stop) is already fresh per start.
            val q = ckptDir.fold(w0)(c => w0.option(
              "checkpointLocation",
              s"$c/bench_${name}_${System.nanoTime()}")).start()
            try {
              msrc.addData(rows.take(warmPipe))
              q.processAllAvailable()
              val t0 = System.nanoTime()
              rows.drop(warmPipe).grouped(batchRows).foreach { ch =>
                msrc.addData(ch)
                q.processAllAvailable()
              }
              val secs = (System.nanoTime() - t0) / 1e9
              val k = measured / 1000.0 / secs
              println(s"""{"replay_run":"streaming_$name","lines":$measured,"batch_rows":$batchRows,"batches":${(measured + batchRows - 1) / batchRows},"secs":${ms(secs)},"klines_per_sec":${ms(k)},"trigger_ms":$streamTriggerMs,"state_parts":$stateParts}""")
              secs
            } finally {
              q.stop()
              spark.catalog.dropTempView(s"bench_$name")
            }
          } finally {
            spark.conf.set("spark.sql.shuffle.partitions", cpus)
          }
        }
        def scrub(df: org.apache.spark.sql.DataFrame) =
          operators.StreamingPipeline.streamingScrubMonitor(
            df, "ts", "source", "text", "10 seconds", "30 seconds")
        // The fixed-vs-marginal SPLIT compares runs at one pinned
        // state-partition count (the small-batch derivation, 1): r19
        // derived each leg independently (1 vs 3), so the subtraction
        // conflated per-batch overhead with a partition-count
        // difference (ADVICE r19). The HEADLINE small/bigbatch
        // throughputs keep their rows-derived sizing (unchanged
        // methodology, comparable to r19) — the split gets its own
        // pinned big-batch leg, reported on an incremental line only.
        val splitParts = math.max(1,
          math.min(cpus.toInt, warmPipe / 25000))
        val tSmall = runStage("pipeline", warmPipe, scrub,
          statePartsPin = Some(splitParts)) // == rows-derived for 10k
        val tBig = runStage("pipeline_bigbatch", measured, scrub)
        val tBigSplit = runStage("pipeline_bigbatch_splitleg", measured,
          scrub, statePartsPin = Some(splitParts))
        val batches = measured / warmPipe // 9
        val fixedPerBatch =
          math.max(0.0, (tSmall - tBigSplit) / (batches - 1))
        val rowUs = math.max(0.0,
          (tBigSplit - fixedPerBatch) / measured * 1e6)
        val tDedup = runStage("dedup", measured, df =>
          operators.StreamingPipeline.streamingExactDedup(
            df, "ts", "text", "30 seconds"))
        val tQual = runStage("quality", measured, df =>
          operators.StreamingPipeline.streamingQualityCounts(
            df, "ts", "source",
            length(col("text")).between(20, 100000), "10 seconds",
            "30 seconds"))
        println(s"""{"streaming_pipeline_split":{"rows":$measured,"small_batch_rows":$warmPipe,"small_secs":${ms(tSmall)},"big_secs":${ms(tBig)},"fixed_secs_per_microbatch":${ms(fixedPerBatch)},"row_us_marginal":${ms(rowUs)},"note":"fixed = (T_9x10k - T_1x90k splitleg)/8, both split legs at the same pinned state-partition count; marginal from the pinned 1-batch leg net of one fixed cost; headline small/bigbatch keep rows-derived sizing"}}""")
        streamPipeKvs = Seq(
          s""""streaming_pipeline_klines_per_sec":${ms(measured / 1000.0 / tSmall)}""",
          s""""streaming_pipeline_bigbatch_klines_per_sec":${ms(measured / 1000.0 / tBig)}""",
          s""""streaming_dedup_klines_per_sec":${ms(measured / 1000.0 / tDedup)}""",
          s""""streaming_quality_klines_per_sec":${ms(measured / 1000.0 / tQual)}""",
          s""""streaming_pipeline_fixed_secs_per_microbatch":${ms(fixedPerBatch)}""",
          s""""streaming_pipeline_row_us_marginal":${ms(rowUs)}""")
      } catch { case e: Throwable =>
        System.err.println(
          s"[bench] streaming pipeline stage failed: ${e.getMessage}")
        streamPipeFailed = Seq("streaming_pipeline_failed")
      }
    } else streamPipeFailed = Seq("streaming_pipeline_skipped_wall")

    // stage boundary: streaming evidence banked BEFORE the battery —
    // a battery overrun can no longer erase it (BENCH_r18's loss)
    emitHeadline(Seq("mtail_replay_1m_lines" -> replaySecs),
      scaleDriverFailed ++ streamFailed ++ streamPipeFailed,
      (p, lean) => replayKv(p, lean) ++ evidenceLeanFilter(
        scaleDriverKvs ++ streamKvs ++ streamPipeKvs, lean),
      Some("streaming"))

    // ---- battery ----
    val allQueries = SparkEntry.queries.toSeq.sortBy(_._1)
    val pass1 = runPass(1, allQueries)
    val slowNames = pass1.collect {
      case (n, secs, true, _) if secs >= 1.0 => n
    }.toSet
    val pass2 = runPass(2, allQueries.filter(q => slowNames(q._1)))
    val rawPasses = Seq(pass1, pass2)
    val failed = rawPasses.flatten.collect { case (n, _, false, _) => n }
      .distinct.sorted
    val results = pass1.map(_._1).map { name =>
      val samples = rawPasses.flatten.filter(_._1 == name)
      name -> (if (samples.exists(!_._3)) -1.0 else samples.map(_._2).min)
    }
    val all = results :+ ("mtail_replay_1m_lines" -> replaySecs)
    // battery steal survives EVERY lean rung (r19 verdict: the r19
    // 32-core run was flagged bench_wall_overrun and its lean headline
    // had shed exactly the number that would have settled noise-vs-
    // regression — the ~30 bytes are worth more than any kv they
    // displace)
    def coreKv(p: Double => String, lean: Int): Seq[String] =
      replayKv(p, lean) :+
        s""""battery_steal_cpu_secs_sum":${p(rawPasses.flatten.map(_._4).sum)}"""
    // stage boundary: battery + replay + streaming complete; only the
    // fingerprint and detail line remain at risk past this point
    emitHeadline(all, failed ++ scaleDriverFailed ++ streamFailed ++
      streamPipeFailed, coreKv, Some("battery"))

    // data fingerprint: per-table (rows, order-insensitive content hash
    // = 32-bit murmur3 row hashes summed into a long, overflow-free
    // below 2³² rows) so a regenerated-but-row-count-identical testdata
    // set is visible in the round artifact without diffing CORRECTNESS
    val fingerprint = Seq("region", "nation", "customer", "supplier",
        "part", "orders", "lineitem", "events", "documents",
        "embeddings").map { t =>
      val df = Tables(spark, sfDir, t)
      val r = df.agg(count(lit(1)).as("n"),
        sum(hash(df.columns.map(col): _*).cast("long")).as("h")).head()
      t -> (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    def qjson(pass: Seq[(String, Double, Boolean, Double)]): String =
      pass.map { case (k, v, ok, _) =>
        "\"" + k + "\":" + (if (ok) v.toString else s"""{"secs":$v,"failed":true}""")
      }.mkString("{", ",", "}")
    def sjson(pass: Seq[(String, Double, Boolean, Double)]): String =
      pass.map { case (k, _, _, st) => "\"" + k + "\":" + ms(st) }
        .mkString("{", ",", "}")
    val fpJson = fingerprint.map { case (t, (n, h)) =>
      "\"" + t + "\":{\"rows\":" + n + ",\"hash\":" + h + "}"
    }.mkString("{", ",", "}")
    // bulky detail SECOND-TO-LAST on its own line; the compact headline
    // is the LAST line so a tail-truncating capture always retains it
    println(s"""{"detail":{"battery_passes":${rawPasses.map(qjson).mkString("[", ",", "]")},"battery_steal_cpu_secs":${rawPasses.map(sjson).mkString("[", ",", "]")},"replay_warm_secs_all":${warmSecs.mkString("[", ",", "]")},"replay_warm_steal_cpu_secs":${warmRuns.map(r => ms(r._2)).mkString("[", ",", "]")},"data_fingerprint":$fpJson,"queries_are":"per-query min of observed passes (pass 2 only for queries ≥1s in pass 1), -1 = a pass threw (see failed); replay is median of $replayWarmRuns warm runs; *_steal_cpu_secs = hypervisor-stolen cpu-secs (/proc/stat) during that window — high steal means the wall time is host noise, not engine time","baseline_klines_per_sec_4core":"6-37 (benchmark_results.csv)"}}""")
    // final headline: attach any out-of-band scale evidence and the
    // wall self-check marker (round-8 failure mode: a silent overrun
    // of the driver's capture window)
    val (scaleKvs, scaleRaw) = scaleEvidence()
    scaleRaw.foreach(raw => println(s"""{"scale_detail":$raw}"""))
    // scale/streaming evidence: full set normally; every lean rung
    // keeps the throughput/battery headline numbers and sheds the
    // companions first (line counts, factor, trigger, secs — constants
    // or derivable, and all on their incremental lines), so the steal
    // sums and warm median survive one rung longer
    def evidenceKvs(lean: Int): Seq[String] =
      evidenceLeanFilter(
        scaleKvs ++ scaleDriverKvs ++ streamKvs ++ streamPipeKvs, lean)
    emitHeadline(all,
      failed ++ scaleDriverFailed ++ streamFailed ++ streamPipeFailed ++
        (if (wallOverrun(wallSecs)) Seq("bench_wall_overrun") else Nil),
      (p, lean) => coreKv(p, lean) ++ evidenceKvs(lean),
      None)
    // the checkpoint scratch lives on tmpfs — reclaim it rather than
    // accumulating offset/state logs across rounds
    ckptDir.foreach { c =>
      def rm(p: java.nio.file.Path): Unit = {
        if (java.nio.file.Files.isDirectory(p)) {
          val s = java.nio.file.Files.list(p)
          try s.forEach(rm(_)) finally s.close()
        }
        java.nio.file.Files.deleteIfExists(p)
      }
      try rm(java.nio.file.Paths.get(c))
      catch { case _: Exception => () }
    }
    spark.stop()
  }
}
