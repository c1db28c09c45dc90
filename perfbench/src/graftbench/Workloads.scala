package graftbench

import java.io.FileOutputStream
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Graft
import graft.mtail.{LogLines, Snapshot}
import graft.operators.{Dedup, Scrub}
import graft.plan.{CheckpointUtil, PlanBuilder}
import graft.streaming.Exporters

/** Shared pass-loop shape of the two batch workloads: repeated set-ups,
  * warm-up until pass times settle, then passes for the measured window.
  */
object Passes {
  /** warm-up floor: about four passes of `corpus_dedup`, which with the
    * three set-up passes and the settle rule reach its level */
  val WarmMinS = 10.0

  /** time each pass; `check` runs outside the pass time and its thread
    * CPU is booked as harness CPU */
  def measure[A](conf: Main.Conf, tracer: Tracer, rec: mutable.Map[String, Any],
      items: Long)(pass: Int => A)(check: (A, String) => Unit): Unit = {
    var i = 0
    val harness = new java.util.concurrent.atomic.AtomicLong(0L)
    def timed(): Double = {
      i += 1
      val t0 = System.nanoTime()
      val out = tracer.span("pass", s"pass$i")(pass(i))
      val wall = (System.nanoTime() - t0) / 1e9
      val c0 = Probe.threadCpuNs(Thread.currentThread())
      check(out, s"pass $i")
      harness.addAndGet(Probe.threadCpuNs(Thread.currentThread()) - c0)
      wall
    }
    tracer.run = "warmup"
    val (warm, settled) = Main.warmUp(Passes.WarmMinS)(timed())
    rec("warmup_s") = warm
    rec("warm_settled") = settled
    tracer.run = "measure"
    harness.set(0L)
    val win = new Probe.Window
    val end = System.nanoTime() + conf.seconds * 1000000000L
    val passes = mutable.ArrayBuffer[Double]()
    while (passes.isEmpty || System.nanoTime() < end) passes += timed()
    rec("window") = win.close() + ("harness_cpu_s" -> harness.get / 1e9)
    rec("passes_s") = passes.toSeq
    rec("items_per_pass") = items
    rec("items") = items * passes.length
  }
}

/** oneshot_weblog: `Graft.oneShotExport` over an access-log corpus. */
object OneShot {
  val FilesN = 4
  val LinesPerFile = 25000

  def run(conf: Main.Conf, tracer: Tracer, checks: Checks,
      rec: mutable.Map[String, Any]): Unit = {
    val g0 = System.nanoTime()
    val gc0 = Probe.threadCpuNs(Thread.currentThread())
    val gen = new WeblogGen(conf.seed)
    val dir = Files.createDirectories(conf.dir.resolve("logs"))
    val paths = (0 until FilesN).map { f =>
      val p = dir.resolve(s"access-$f.log")
      Main.write(p, Iterator.fill(LinesPerFile)(gen.next()))
      p.toString
    }
    val genS = (System.nanoTime() - g0) / 1e9
    val genCpuS = (Probe.threadCpuNs(Thread.currentThread()) - gc0) / 1e9
    val expected = gen.expected
    val name = "weblog"
    val year = java.time.Year.now.getValue
    def check(out: String, ctx: String): Unit =
      checks.samples(expected, Prom.parse(out), ctx)

    var spark: SparkSession = null
    var reference = ""
    val setups = (0 until Main.Setups).map { k =>
      if (spark != null) Main.stop(spark, tracer)
      val t0 = System.nanoTime()
      spark = Main.session(conf, k, tracer)
      reference = tracer.span("setup")(Graft.oneShotExport(spark,
        WeblogGen.Program, name, paths, "prometheus", year))
      val s = if (k == 0) Main.sinceJvmStart - genS
        else (System.nanoTime() - t0) / 1e9
      if (k == 0) rec("setup_cold_cpu_s") = Probe.procCpuNs / 1e9 - genCpuS
      check(reference, s"setup $k")
      s
    }
    rec("setups_s") = setups
    rec("gen_s") = genS
    val s = spark

    // traced mode: the same public steps Graft.oneShot composes, each a
    // span; its output must equal the untraced oneShotExport output
    def tracedPass(): String = {
      val prog = tracer.span("mtail.compile")(
        Graft.compile(WeblogGen.Program, name))
      val lines = tracer.span("sources.batch")(LogLines.batch(s, paths: _*))
      val pb = tracer.span("plan.build")(
        new PlanBuilder(prog, lines, year, overrideZone = "UTC"))
      tracer.span("plan.materialize")(pb.materializeExtraction())
      val df =
        try tracer.span("plan.snapshot")(pb.snapshot().localCheckpoint(true))
        finally pb.unpersistExtraction()
      val cells = tracer.span("plan.collect")(Snapshot.collect(df))
      tracer.span("export.render")(Exporters.prometheus(cells, name))
    }
    Passes.measure(conf, tracer, rec, gen.lines) { _ =>
      if (conf.trace) tracedPass()
      else Graft.oneShotExport(s, WeblogGen.Program, name, paths,
        "prometheus", year)
    } { (out, ctx) =>
      check(out, ctx)
      if (conf.trace) checks.op(out == reference,
        s"$ctx: traced steps differ from oneShotExport output")
    }
    rec("heap_live_mb") = Probe.heapLiveMb
    if (conf.trace) {
      tracer.run = "layers"
      (1 to 5).foreach(_ => tracer.span("mtail.compile")(
        Graft.compile(WeblogGen.Program, name)))
      (1 to 3).foreach(_ => tracer.span("sources.scan")(
        LogLines.batch(s, paths: _*).count()))
    }
  }
}

/** corpus_dedup: Scrub.scrub → Dedup.minhashLshPairs → Dedup.canonicalIds
  * over a corpus with planted duplicate clusters. */
object CorpusDedup {
  val Bases = 1500

  def run(conf: Main.Conf, tracer: Tracer, checks: Checks,
      rec: mutable.Map[String, Any]): Unit = {
    val g0 = System.nanoTime()
    val gc0 = Probe.threadCpuNs(Thread.currentThread())
    val gen = new DocsGen(conf.seed, Bases)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("text", StringType)))
    // the corpus lives in a JSON-lines file, as a real corpus would
    val corpus = conf.dir.resolve("docs.jsonl")
    Main.write(corpus, gen.docs.iterator.map { case (i, t) =>
      Js(Map("id" -> i, "text" -> t)) })
    val genS = (System.nanoTime() - g0) / 1e9
    val genCpuS = (Probe.threadCpuNs(Thread.currentThread()) - gc0) / 1e9
    def load(spark: SparkSession) =
      spark.read.schema(schema).json(corpus.toString)

    final case class Out(pii: (Long, Long, Long), canon: Map[Long, Long])
    def pass(spark: SparkSession): Out = {
      val docs = load(spark)
      val (scrubbed, pii) = tracer.span("dedup.scrub") {
        val sc = Scrub.scrub(docs, "text")
        val r = sc.agg(sum("n_email"), sum("n_ipv4"), sum("n_hex_secret"))
          .head()
        (sc, (r.getLong(0), r.getLong(1), r.getLong(2)))
      }
      val pairs = tracer.span("dedup.pairs")(
        Dedup.minhashLshPairs(scrubbed, "id", "scrubbed").localCheckpoint())
      val canon = tracer.span("dedup.canon")(
        Dedup.canonicalIds(docs, "id", pairs).collect())
      CheckpointUtil.freeCheckpoint(pairs)
      Out(pii, canon.map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    def check(o: Out, ctx: String): Unit = {
      checks.op(o.pii == ((gen.emails, gen.ips, gen.secrets)),
        s"$ctx: scrub counts ${o.pii} expected " +
          s"${(gen.emails, gen.ips, gen.secrets)}")
      val wrong = gen.canonical.count { case (id, c) =>
        !o.canon.get(id).contains(c) }
      checks.op(wrong == 0 && o.canon.size == gen.canonical.size,
        s"$ctx: $wrong of ${gen.canonical.size} documents mapped to the " +
          "wrong canonical id")
    }

    var spark: SparkSession = null
    val setups = (0 until Main.Setups).map { k =>
      if (spark != null) Main.stop(spark, tracer)
      val t0 = System.nanoTime()
      spark = Main.session(conf, k, tracer)
      val o = tracer.span("setup")(pass(spark))
      val s = if (k == 0) Main.sinceJvmStart - genS
        else (System.nanoTime() - t0) / 1e9
      if (k == 0) rec("setup_cold_cpu_s") = Probe.procCpuNs / 1e9 - genCpuS
      check(o, s"setup $k")
      s
    }
    rec("setups_s") = setups
    rec("gen_s") = genS
    val s = spark
    Passes.measure(conf, tracer, rec, gen.docs.length.toLong)(_ => pass(s))(
      check)
    rec("heap_live_mb") = Probe.heapLiveMb
    if (conf.trace) {
      tracer.run = "layers"
      val sc = Scrub.scrub(load(s), "text")
      (1 to 3).foreach(_ => tracer.span("dedup.sigs")(
        Dedup.minhashSignatures(sc, "id", "scrubbed", 3, 64)
          .agg(count(lit(1)), sum("sig_0")).head()))
      rec("dedup_pairs") = Dedup.minhashLshPairs(sc, "id", "scrubbed").count()
    }
  }
}

/** tail_weblog / tail_sessions: `Graft.tail` on one file fed by an
  * open-loop writer thread, scraped over HTTP by one scraper thread. */
object Tail {
  val TriggerMs = 200
  /** steady-phase scrape interval: batches take 2–4 s here, so 100 ms
    * resolves freshness and drain time to a few percent */
  val ScrapeEveryMs = 100
  /** poll interval while waiting for a set-up's first lines */
  val SetupPollMs = 10
  val SetupLines = 200

  /** offered rate (lines/s) and drain backlog (lines per round) per
    * workload. Each rate is about a quarter of the drain rate measured at
    * the seed commit (tail_sessions 29 klines/s, tail_weblog 128 klines/s);
    * at half, host noise is doubled in freshness (README, "Offered rate"). */
  def load(sessions: Boolean): (Double, Int) =
    if (sessions) (7500.0, 100000) else (32000.0, 200000)

  /** drain rounds per run; the reported drain rate is their median (with
    * two, their mean) */
  val DrainRounds = 2

  /** warm-up floor: batch intervals of `tail_sessions` level off 14–16 s
    * after the open-loop writer starts (README, "Validity") */
  val WarmMinS = 14.0

  final case class Scrape(t0: Long, t1: Long, count: Long, bytes: Int)

  def run(conf: Main.Conf, tracer: Tracer, checks: Checks,
      rec: mutable.Map[String, Any], sessions: Boolean): Unit = {
    val program = if (sessions) SessionGen.Program else WeblogGen.Program
    val name = if (sessions) "sessions" else "weblog"
    val (rate, backlog) = load(sessions)
    /** the tailed file and the generator that fills it */
    final class Feed(val log: Path) {
      private val out = new FileOutputStream(log.toFile, true)
      val weblog = if (sessions) None else Some(new WeblogGen(conf.seed))
      val session = if (sessions) Some(new SessionGen(conf.seed)) else None
      var bytes = 0L
      def lines: Long = weblog.fold(session.get.lines)(_.lines)
      def expected: Map[String, Double] =
        weblog.fold(session.get.expected)(_.expected)
      def render(n: Long): Array[Byte] = {
        val sb = new java.lang.StringBuilder()
        var k = 0L
        while (k < n) {
          sb.append(weblog.fold(session.get.next())(_.next())).append('\n')
          k += 1
        }
        sb.toString.getBytes(StandardCharsets.UTF_8)
      }
      def write(b: Array[Byte]): Unit = { out.write(b); bytes += b.length }
      def close(): Unit = out.close()
    }

    // HttpURLConnection reads the body on the calling thread, so the
    // scraper's client-side cost is in its thread CPU (harness CPU); the
    // fully read stream returns the connection to the keep-alive cache
    def get(port: Int): Option[String] =
      try {
        val c = URI.create(s"http://127.0.0.1:$port/metrics").toURL
          .openConnection().asInstanceOf[HttpURLConnection]
        val ok = c.getResponseCode == 200
        val in = if (ok) c.getInputStream else c.getErrorStream
        val body =
          if (in == null) ""
          else try new String(in.readAllBytes(), StandardCharsets.UTF_8)
          finally in.close()
        if (ok) Some(body) else None
      } catch { case _: java.io.IOException => None }
    def awaitLines(port: Int, n: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      var seen = -1L
      while (seen < n && System.nanoTime() < deadline) {
        seen = get(port).map(Prom.linesTotal).getOrElse(-1L)
        if (seen < n) Thread.sleep(SetupPollMs)
      }
      seen >= n
    }

    var spark: SparkSession = null
    var handle: Graft.Tail = null
    var feed: Feed = null
    val setups = (0 until Main.Setups).map { k =>
      if (handle != null) {
        handle.stop(); feed.close(); Main.stop(spark, tracer)
      }
      val t0 = System.nanoTime()
      spark = Main.session(conf, k, tracer)
      val log = Files.createDirectories(conf.dir.resolve(s"tail-$k"))
        .resolve("app.log")
      Files.createFile(log)
      feed = new Feed(log)
      handle = tracer.span("setup")(Graft.tail(spark, program, name,
        log.toString, trigger = Trigger.ProcessingTime(s"$TriggerMs milliseconds")))
      feed.write(feed.render(SetupLines))
      val ok = awaitLines(handle.port, SetupLines, 120)
      val s = if (k == 0) Main.sinceJvmStart
        else (System.nanoTime() - t0) / 1e9
      if (k == 0) rec("setup_cold_cpu_s") = Probe.procCpuNs / 1e9
      checks.op(ok, s"setup $k: first lines never visible")
      s
    }
    rec("setups_s") = setups
    val port = handle.port
    val f = feed
    tracer.fileBytes = () => Files.size(f.log)

    // ---- open loop: writer + scraper threads ----
    val base = f.lines
    val tStart = System.nanoTime() + 50000000L
    @volatile var writeLimit = Long.MaxValue
    @volatile var stopScraper = false
    val writes = mutable.ArrayBuffer[(Long, Long, Long)]()
    val scrapes = mutable.ArrayBuffer[Scrape]()
    val writer = new Probe.Worker("graftbench-writer")({
      var j = 0L
      var done = false
      while (!done) {
        val now = System.nanoTime()
        if (now >= tStart) {
          val due = math.min(((now - tStart) * rate / 1e9).toLong + 1,
            writeLimit)
          if (due > j) {
            f.write(f.render(due - j))
            j = due
            writes.synchronized(writes += ((System.nanoTime(), base + j,
              f.bytes)))
          }
          done = j >= writeLimit
        }
        if (!done) LockSupport.parkNanos(2000000L)
      }
    })
    val scraper = new Probe.Worker("graftbench-scraper")({
      val every = ScrapeEveryMs * 1000000L
      var k = 0L
      while (!stopScraper) {
        val due = tStart + k * every
        val now = System.nanoTime()
        if (due > now) LockSupport.parkNanos(due - now)
        val t0 = System.nanoTime()
        val body = get(port)
        val t1 = System.nanoTime()
        scrapes.synchronized(scrapes += Scrape(t0, t1,
          body.map(Prom.linesTotal).getOrElse(-1L),
          body.map(_.length).getOrElse(-1)))
        k = math.max(k + 1, (System.nanoTime() - tStart) / every + 1)
      }
    })
    def harnessCpuNs = writer.cpuNs + scraper.cpuNs
    def lastScrape: Option[Scrape] =
      scrapes.synchronized(scrapes.lastOption)
    def awaitLinesIn(n: Long, timeoutS: Int): Boolean = {
      val deadline = System.nanoTime() + timeoutS * 1000000000L
      while (!lastScrape.exists(_.count >= n) &&
          System.nanoTime() < deadline) Thread.sleep(5)
      lastScrape.exists(_.count >= n)
    }
    tracer.run = "warmup"
    writer.start()
    scraper.start()

    // warm-up for at least WarmMinS and until batch cadence settles: the
    // last three intervals between counter advances within 20% of their
    // median; give up at Main.warmCapS
    def advanceIntervals: Seq[Double] = scrapes.synchronized {
      val adv = scrapes.toSeq.sliding(2).collect {
        case Seq(a: Scrape, b: Scrape) if b.count > a.count && a.count >= 0 =>
          b.t1 }.toSeq
      adv.sliding(2).collect { case Seq(a: Long, b: Long) =>
        (b - a) / 1e9 }.toSeq
    }
    def sinceStart = (System.nanoTime() - tStart) / 1e9
    var iv = advanceIntervals
    while ((sinceStart < WarmMinS || !Main.settled(iv, 0.2)) &&
        sinceStart < Main.warmCapS(WarmMinS, iv)) {
      Thread.sleep(50)
      iv = advanceIntervals
    }
    rec("warmup_s") = iv
    rec("warm_settled") = Main.settled(iv, 0.2)
    tracer.run = "measure"
    val tw0 = System.nanoTime()
    val h0 = harnessCpuNs
    val win = new Probe.Window
    val tw1 = tw0 + conf.seconds * 1000000000L
    // the writer stops at the last line due before the window ends
    writeLimit = math.ceil((tw1 - tStart) * rate / 1e9).toLong
    LockSupport.parkNanos(tw1 - System.nanoTime())
    val window = win.close() + ("harness_cpu_s" -> (harnessCpuNs - h0) / 1e9)
    writer.join()
    val steadyEnd = base + writeLimit
    val allSeen = awaitLinesIn(steadyEnd, 90)
    checks.op(allSeen, s"steady lines never all visible (want $steadyEnd)")

    // ---- drain: a fixed backlog appended at once, once per round; each
    // round starts when the previous one is visible ----
    tracer.run = "drain"
    val drainS = (1 to DrainRounds).map { r =>
      val blob = f.render(backlog)
      val tApp = System.nanoTime()
      f.write(blob)
      val want = base + writeLimit + r.toLong * backlog
      checks.op(awaitLinesIn(want, 60),
        s"backlog $r never visible (want $want)")
      scrapes.synchronized(scrapes.find(s => s.t0 >= tApp && s.count >= want))
        .map(s => (s.t1 - tApp) / 1e9)
    }
    val total = base + writeLimit + DrainRounds.toLong * backlog
    stopScraper = true
    scraper.join()

    // ---- correctness of the final exposition ----
    val body = get(port).getOrElse("")
    val got = Prom.parse(body)
    checks.op(got.get("lines_total").contains(total.toDouble),
      s"lines_total ${got.get("lines_total")} expected $total")
    checks.samples(f.expected, got, "final /metrics")
    f.session.foreach { sg =>
      val users = got.collect { case (k, v)
        if k.startsWith("user_sessions{") =>
          k.stripPrefix("user_sessions{uid=\"").stripSuffix("\"}") -> v }
      val want = sg.survivors
      checks.op(users.keySet == want.keySet,
        s"limit survivors differ: ${(users.keySet diff want.keySet).size} " +
          s"unexpected, ${(want.keySet diff users.keySet).size} missing")
      checks.op(users.forall { case (u, v) =>
        v >= 1 && want.get(u).exists(v <= _) },
        "a surviving user's session count is out of range")
    }
    val failedScrapes = scrapes.count(_.count < 0)
    checks.attempted += scrapes.length
    checks.failed += failedScrapes
    if (failedScrapes > 0) checks.messages += s"$failedScrapes scrapes failed"

    rec("heap_live_mb") = Probe.heapLiveMb
    rec("window") = window
    rec("tail") = Map(
      "rate" -> rate, "t_start" -> tStart, "base" -> base,
      "window_start" -> tw0, "window_end" -> tw1,
      "steady_lines" -> writeLimit, "backlog" -> backlog,
      "drain_s" -> drainS, "trigger_ms" -> TriggerMs,
      "scrape_every_ms" -> ScrapeEveryMs,
      "writes" -> writes.toSeq,
      "scrapes" -> scrapes.map(s => Seq(s.t0, s.t1, s.count, s.bytes)))

    if (conf.trace) {
      tracer.run = "layers"
      val runner = handle.runner
      // the per-batch state rebuild runs inside StreamRunner, where its
      // jobs carry the query's call site; time the same localCheckpoint
      // of the current carried state from outside instead
      def checkpointState(): Double = {
        val t = System.nanoTime()
        runner.carriedStateForTest.values.map(_.localCheckpoint(true))
          .foreach(CheckpointUtil.freeCheckpoint)
        (System.nanoTime() - t) / 1e6
      }
      rec("layers_raw") = Map(
        "state_rows" -> runner.carriedStateForTest.values
          .map(_.count()).sum,
        "state_checkpoint_ms" -> Main.median((1 to 3).map(_ =>
          checkpointState())),
        "store_cells" -> runner.store.snapshot().size,
        "store_snapshot_ms" -> Main.median((1 to 20).map { _ =>
          val t = System.nanoTime(); runner.store.snapshot()
          (System.nanoTime() - t) / 1e6 }),
        "export_render_ms" -> Main.median((1 to 20).map { _ =>
          val cs = runner.store.snapshot()
          val t = System.nanoTime(); Exporters.prometheus(cs, name)
          (System.nanoTime() - t) / 1e6 }),
        "export_body_kb" -> body.length / 1024.0)
      (1 to 5).foreach(_ => tracer.span("mtail.compile")(
        Graft.compile(program, name)))
      val prog = Graft.compile(program, name)
      (1 to 3).foreach(_ => tracer.span("plan.build")(new PlanBuilder(prog,
        LogLines.batch(spark, f.log.toString), java.time.Year.now.getValue)))
      (1 to 3).foreach(_ => tracer.span("sources.scan")(
        LogLines.batch(spark, f.log.toString).count()))
    }
  }
}
