package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

import graft.mtail.{Frontend, Ir, LogLines, Re2, Snapshot}
import graft.plan.PlanBuilder

/** CLI entry point — the reference binary's user-facing flag surface
  * (`cmd/mtail/main.go:40-83`) over the [[Graft]] library API, so a
  * reference user can run the daemon / one-shot modes without writing
  * Scala: `spark-submit --class graft.Main graft.jar --progs dir
  * --logs 'glob'` or `sbt "runMain graft.Main ..."`.
  *
  * Flag syntax follows Go's flag package (what the reference parses):
  * single or double dash, `-flag value` or `-flag=value`, bare bool
  * flags mean true (`-one_shot`), and `-logs` may be repeated and/or
  * comma-separated (main.go:30-36).
  *
  * Spark-side knobs deliberately stay OUT of the flag set: under
  * spark-submit the session master/conf come from the submit command;
  * standalone the master falls back to `local[*]`.
  */
object Main {

  final case class Config(
      progs: String = "",
      logs: Seq[String] = Nil,
      port: Int = 3903,
      /** -address (main.go:41): host/IP to bind the HTTP listener. */
      address: String = "",
      /** -unix_socket (main.go:43): bind the pull endpoints to this
        * unix domain socket instead of the TCP port. */
      unixSocket: Option[String] = None,
      oneShot: Boolean = false,
      oneShotFormat: String = "json",
      compileOnly: Boolean = false,
      ignoreRegex: Option[String] = None,
      overrideTimezone: String = "UTC",
      syslogUseCurrentYear: Boolean = true,
      emitProgLabel: Boolean = true,
      emitMetricTimestamp: Boolean = false,
      /** -poll_interval: log-data poll cadence. The streaming trigger
        * is its Spark analogue — each tick is one microbatch.
        */
      pollIntervalMs: Long = 250,
      /** -poll_log_interval (main.go:66): cadence of the glob rescan
        * that discovers NEW matched files, decoupled from the data
        * poll; 0 = only files present at startup are tailed.
        */
      pollLogIntervalMs: Long = 250,
      /** -expired_metrics_gc_interval (main.go:67): cadence of the
        * store GC (TTL expiry + limit trim). */
      expiredMetricsGcIntervalMs: Long = 3600000,
      /** -vm_logs_runtime_errors (main.go:62): log runtime error
        * counts to the standard log. */
      vmLogsRuntimeErrors: Boolean = true,
      /** -http_debugging_endpoint / -http_info_endpoint
        * (main.go:75-76). */
      httpDebugEndpoints: Boolean = true,
      httpInfoEndpoints: Boolean = true,
      /** graft extension: re-scan the progs path every N ms (the
        * filesystem analogue of the reference's HUP-only reload, for
        * deployments that cannot signal the JVM). 0 = HUP only.
        */
      progsPollIntervalMs: Long = 0,
      metricPushIntervalMs: Long = 60000,
      graphiteHostPort: Option[String] = None,
      graphitePrefix: String = "",
      statsdHostPort: Option[String] = None,
      statsdPrefix: String = "",
      collectdSocketPath: Option[String] = None,
      collectdPrefix: String = "",
      /** -max_regexp_length (main.go:69): compile-time cap on a folded
        * regex pattern's byte length. */
      maxRegexpLength: Int = 1024,
      /** -max_recursion_depth (main.go:70): compile-time cap on IR
        * nesting depth. */
      maxRecursionDepth: Int = 100,
      /** -dump_ast / -dump_ast_types / -dump_bytecode
        * (main.go:53-55): emit compile-stage artifacts to stderr —
        * the parsed IR, the IR with inferred capture-group types, and
        * the optimized Catalyst plan (this engine's "bytecode"). */
      dumpAst: Boolean = false,
      dumpAstTypes: Boolean = false,
      dumpBytecode: Boolean = false,
      showVersion: Boolean = false,
      showHelp: Boolean = false)

  /** Go duration syntax (`250ms`, `1m`, `1h30m`) → milliseconds; the
    * reference's duration flags use time.ParseDuration. Throws on a
    * bare nonzero number — Go requires units — but accepts the
    * special-cased `"0"` (ParseDuration does too; `-poll_interval 0`
    * means "use the default").
    */
  def parseDurationMs(s: String): Long = {
    val sign = if (s.startsWith("-")) -1L else 1L
    val unsigned = s.stripPrefix("+").stripPrefix("-")
    if (unsigned == "0") return 0L
    val re = """(\d+(?:\.\d+)?)(ns|us|µs|ms|s|m|h)""".r
    val parts = re.findAllMatchIn(unsigned).toSeq
    val consumed = parts.map(_.matched).mkString
    require(parts.nonEmpty && consumed == unsigned,
      s"invalid duration: '$s' (Go syntax, e.g. 250ms, 1h30m)")
    sign *
    parts.map { m =>
      val v = m.group(1).toDouble
      v * (m.group(2) match {
        case "ns" => 1e-6
        case "us" | "µs" => 1e-3
        case "ms" => 1.0
        case "s" => 1e3
        case "m" => 60e3
        case "h" => 3600e3
      })
    }.sum.round
  }

  /** Parse the Go-style flag vector; Left = usage error message.
    * Bool flags accept an optional =value but never consume the next
    * token, like Go's flag package.
    */
  def parseArgs(args: Seq[String]): Either[String, Config] = {
    var cfg = Config()
    var i = 0
    def boolVal(v: String): Either[String, Boolean] = v match {
      case "true" | "1" => Right(true)
      case "false" | "0" => Right(false)
      case other => Left(s"invalid boolean: '$other'")
    }
    while (i < args.length) {
      val raw = args(i)
      if (!raw.startsWith("-"))
        return Left(s"unexpected argument: '$raw' (flags only; the " +
          "logs flag can be repeated, or the filenames separated by " +
          "commas)")
      val stripped = raw.dropWhile(_ == '-')
      val (name, inline) = stripped.split("=", 2) match {
        case Array(n, v) => (n, Some(v))
        case Array(n) => (n, None)
      }
      def value(): Either[String, String] = inline match {
        case Some(v) => Right(v)
        case None =>
          if (i + 1 >= args.length)
            Left(s"flag -$name needs a value")
          else { i += 1; Right(args(i)) }
      }
      def setBool(f: (Config, Boolean) => Config): Either[String, Unit] =
        inline.map(boolVal).getOrElse(Right(true))
          .map(b => { cfg = f(cfg, b); () })
      val res: Either[String, Unit] = name match {
        case "progs" => value().map(v => cfg = cfg.copy(progs = v))
        case "logs" => value().map(v => cfg = cfg.copy(
          // brace-aware split: "*.{err,out}" is ONE pattern, not two
          logs = cfg.logs ++ sources.LogSources.splitList(v)
            .filter(_.exists(_ != ','))))
        case "port" => value().flatMap(v => v.toIntOption
          .toRight(s"invalid port: '$v'")
          .map(p => cfg = cfg.copy(port = p)))
        case "address" => value().map(v =>
          cfg = cfg.copy(address = v))
        case "unix_socket" => value().map(v =>
          cfg = cfg.copy(unixSocket = Some(v).filter(_.nonEmpty)))
        case "one_shot" => setBool((c, b) => c.copy(oneShot = b))
        case "one_shot_format" => value().flatMap {
          case f @ ("json" | "prometheus") =>
            Right { cfg = cfg.copy(oneShotFormat = f) }
          case other => Left(s"unsupported format: '$other' " +
            "(json|prometheus)")
        }
        case "compile_only" =>
          setBool((c, b) => c.copy(compileOnly = b))
        case "ignore_filename_regex_pattern" => value().map(v =>
          cfg = cfg.copy(ignoreRegex = Some(v).filter(_.nonEmpty)))
        case "override_timezone" => value().map(v =>
          cfg = cfg.copy(overrideTimezone = if (v.isEmpty) "UTC" else v))
        case "syslog_use_current_year" =>
          setBool((c, b) => c.copy(syslogUseCurrentYear = b))
        case "emit_prog_label" =>
          setBool((c, b) => c.copy(emitProgLabel = b))
        case "emit_metric_timestamp" =>
          setBool((c, b) => c.copy(emitMetricTimestamp = b))
        case "poll_log_interval" => value().flatMap(v =>
          try Right { cfg = cfg.copy(pollLogIntervalMs =
            parseDurationMs(v)) }
          catch { case e: IllegalArgumentException =>
            Left(e.getMessage) })
        case "expired_metrics_gc_interval" => value().flatMap(v =>
          try Right { cfg = cfg.copy(expiredMetricsGcIntervalMs =
            parseDurationMs(v)) }
          catch { case e: IllegalArgumentException =>
            Left(e.getMessage) })
        case "vm_logs_runtime_errors" =>
          setBool((c, b) => c.copy(vmLogsRuntimeErrors = b))
        case "http_debugging_endpoint" =>
          setBool((c, b) => c.copy(httpDebugEndpoints = b))
        case "http_info_endpoint" =>
          setBool((c, b) => c.copy(httpInfoEndpoints = b))
        case "poll_interval" => value().flatMap(v =>
          try Right { cfg = cfg.copy(pollIntervalMs = parseDurationMs(v)) }
          catch { case e: IllegalArgumentException =>
            Left(e.getMessage) })
        case "progs_poll_interval" => value().flatMap(v =>
          try Right {
            cfg = cfg.copy(progsPollIntervalMs = parseDurationMs(v)) }
          catch { case e: IllegalArgumentException =>
            Left(e.getMessage) })
        case "metric_push_interval" => value().flatMap(v =>
          try Right {
            cfg = cfg.copy(metricPushIntervalMs = parseDurationMs(v)) }
          catch { case e: IllegalArgumentException =>
            Left(e.getMessage) })
        case "graphite_host_port" => value().flatMap(v =>
          validHostPort("graphite_host_port", v).map(hp =>
            cfg = cfg.copy(graphiteHostPort = hp)))
        case "graphite_prefix" => value().map(v =>
          cfg = cfg.copy(graphitePrefix = v))
        case "statsd_hostport" => value().flatMap(v =>
          validHostPort("statsd_hostport", v).map(hp =>
            cfg = cfg.copy(statsdHostPort = hp)))
        case "statsd_prefix" => value().map(v =>
          cfg = cfg.copy(statsdPrefix = v))
        case "collectd_socketpath" => value().map(v =>
          cfg = cfg.copy(collectdSocketPath =
            Some(v).filter(_.nonEmpty)))
        case "collectd_prefix" => value().map(v =>
          cfg = cfg.copy(collectdPrefix = v))
        case "max_regexp_length" => value().flatMap(v =>
          v.toIntOption.toRight(s"invalid -max_regexp_length: '$v'")
            .map(n => cfg = cfg.copy(maxRegexpLength = n)))
        case "max_recursion_depth" => value().flatMap(v =>
          v.toIntOption.toRight(s"invalid -max_recursion_depth: '$v'")
            .map(n => cfg = cfg.copy(maxRecursionDepth = n)))
        case "dump_ast" => setBool((c, b) => c.copy(dumpAst = b))
        case "dump_ast_types" =>
          setBool((c, b) => c.copy(dumpAstTypes = b))
        case "dump_bytecode" =>
          setBool((c, b) => c.copy(dumpBytecode = b))
        case "version" => setBool((c, b) => c.copy(showVersion = b))
        case "help" | "h" => setBool((c, b) => c.copy(showHelp = b))
        // deprecated no-ops kept for flag-surface parity with the
        // reference (cmd/mtail/main.go:83-85): a legacy invocation
        // carrying them must still start. Value-taking flags consume
        // their value exactly like the reference's int/duration flags.
        case "disable_fsnotify" =>
          System.err.println(s"graft: flag -$name is deprecated and " +
            "has no effect")
          setBool((c, _) => c)
        case "metric_push_interval_seconds" | "stale_log_gc_interval" =>
          System.err.println(s"graft: flag -$name is deprecated and " +
            "has no effect")
          value().map(_ => ())
        case other => Left(s"unknown flag: -$other")
      }
      res match {
        case Left(e) => return Left(e)
        case Right(_) =>
      }
      i += 1
    }
    if (cfg.showVersion || cfg.showHelp) Right(cfg)
    else if (cfg.progs.isEmpty)
      Left("graft requires programs that instruct it how to extract " +
        "metrics from logs; please use the flag -progs to specify the " +
        "directory containing the programs.")
    else if (!cfg.compileOnly && cfg.logs.isEmpty)
      Left("graft requires the names of logs to follow in order to " +
        "extract metrics from them; please use the flag -logs one or " +
        "more times to specify glob patterns describing these logs.")
    else Right(cfg)
  }

  /** `host:port` validation at parse time — a malformed push target
    * must be a usage error, not a NumberFormatException after the
    * daemon is already up. Empty = unset.
    */
  private def validHostPort(flag: String,
      v: String): Either[String, Option[String]] =
    if (v.isEmpty) Right(None)
    else splitHostPort(v) match {
      case Some((h, p)) if h.nonEmpty && p > 0 && p <= 65535 =>
        Right(Some(v))
      case _ => Left(s"invalid -$flag: '$v' (expected host:port)")
    }

  /** Go net.SplitHostPort shape: bracketed IPv6 `[::1]:2003` splits at
    * the `]:` boundary; otherwise split on the LAST ':' and reject a
    * host that still contains ':' (unbracketed IPv6 — "too many
    * colons" in Go).
    */
  private[graft] def splitHostPort(s: String): Option[(String, Int)] =
    if (s.startsWith("[")) {
      val i = s.indexOf("]:")
      if (i < 0) None
      else s.substring(i + 2).toIntOption.map(p =>
        (s.substring(1, i), p))
    } else {
      val i = s.lastIndexOf(':')
      if (i < 0 || s.substring(0, i).contains(':')) None
      else s.substring(i + 1).toIntOption.map(p =>
        (s.substring(0, i), p))
    }

  /** one line per flag — printed for -help. */
  def usage: String =
    """Usage: graft.Main -progs <path> -logs <pattern>[,...] [flags]
      |       graft.Main fmt [-write] [-prog] <file>...   format programs (mfmt)
      |       graft.Main dot [-http_port n] [-prog] <file> AST -> graphviz (mdot)
      |  -progs path                 directory of *.mtail programs (or one file)
      |  -logs pattern               log glob / socket URL; repeatable or comma-separated
      |  -port n                     HTTP pull port (default 3903)
      |  -address host               bind host for the HTTP listener
      |  -unix_socket path           serve pulls on a unix socket instead of TCP
      |  -one_shot                   read logs to EOF, print the store, exit
      |  -one_shot_format f          json | prometheus (default json)
      |  -compile_only               compile programs and exit
      |  -ignore_filename_regex_pattern re   skip matching filenames
      |  -override_timezone tz       zone for naive strptime timestamps
      |  -syslog_use_current_year[=b] patch yearless timestamps (default true)
      |  -emit_prog_label[=b]        prog label on /metrics,/varz (default true)
      |  -emit_metric_timestamp[=b]  per-sample timestamps on /metrics
      |  -poll_interval d            log poll cadence, Go duration (default 250ms)
      |  -poll_log_interval d        new-file glob rescan cadence (0 = startup set only)
      |  -expired_metrics_gc_interval d  store GC cadence (default 1h)
      |  -vm_logs_runtime_errors[=b] log runtime errors (default true)
      |  -http_debugging_endpoint[=b] serve /debug/* endpoints (default true)
      |  -http_info_endpoint[=b]     serve /progz,/varz (default true)
      |  -progs_poll_interval d      progs-dir rescan cadence (0 = HUP only)
      |  -metric_push_interval d     push-sink cadence (default 1m)
      |  -graphite_host_port h:p / -graphite_prefix s
      |  -statsd_hostport h:p / -statsd_prefix s
      |  -collectd_socketpath path / -collectd_prefix s
      |  -max_regexp_length n        compile-time regex length cap (default 1024)
      |  -max_recursion_depth n      compile-time expression depth cap (default 100)
      |  -dump_ast                   dump the parsed IR to stderr
      |  -dump_ast_types             dump the IR with inferred capref types
      |  -dump_bytecode              dump the optimized Catalyst plan
      |  -version / -help
      |""".stripMargin

  /** progs-path scan with the reference's hidden/extension gate
    * (`runtime.go:104-112`): a directory yields its non-hidden
    * `*.mtail` files sorted by name, a plain file just itself.
    */
  def programFiles(progs: String): Seq[Path] = {
    val p = Paths.get(progs)
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq
        .filter(f => !Files.isDirectory(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && n.endsWith(".mtail")
        })
        .sortBy(_.getFileName.toString)
      finally s.close()
    } else Seq(p)
  }

  /** -compile_only: parse every program, return name → error for the
    * failures. The reference fails server start with "compile failed
    * for <name>:\n<errs>" (`runtime.go:161`).
    */
  def compileAll(progs: String, maxRegexpLength: Int = 1024,
      maxRecursionDepth: Int = 100): Seq[(String, Option[String])] =
    programFiles(progs).map { f =>
      val name = f.getFileName.toString
      try {
        Frontend.parse(new String(Files.readAllBytes(f),
          StandardCharsets.UTF_8), name,
          maxRegexpLength, maxRecursionDepth)
        name -> None
      } catch {
        case e: Exception => name -> Some(e.getMessage)
      }
    }

  /** Every regex pattern reachable from the program, in source order
    * (conds, line matches, `=~` / `subst` pattern args). */
  private def programPatterns(p: Ir.Program): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    def expr(e: Ir.Expr): Unit = e match {
      case Ir.Binop(_, l, r) => expr(l); expr(r)
      case Ir.Unop(_, x) => expr(x)
      case Ir.Call(_, args) => args.foreach(expr)
      case Ir.MetricRead(_, ks) => ks.foreach(expr)
      case Ir.PatternLit(re) => out += re
      case Ir.LineMatch(re, _) => out += re
      case _ => ()
    }
    def stmt(s: Ir.Stmt): Unit = s match {
      case Ir.CondBlock(c, b, eb) =>
        c match {
          case Ir.CondPattern(re, _) => out += re
          case Ir.CondExpr(e) => expr(e)
          case _ => ()
        }
        (b ++ eb).foreach(stmt)
      case Ir.IncStmt(_, ks, d, _) => (ks :+ d).foreach(expr)
      case Ir.SetStmt(_, ks, v) => (ks :+ v).foreach(expr)
      case Ir.DelStmt(_, ks, _) => ks.foreach(expr)
      case Ir.ExprStmt(e) => expr(e)
      case _ => ()
    }
    p.stmts.foreach(stmt)
    out.toSeq
  }

  /** -dump_ast_types: the IR dump plus each pattern's capture groups
    * with their inferred types (the reference's post-check typed AST,
    * main.go:54; inference per `checker.go` capref typing). */
  private[graft] def typedDump(p: Ir.Program): String = {
    val types = programPatterns(p).flatMap { re =>
      scala.util.Try(Re2.parse(re)).toOption.map { parsed =>
        val groups = parsed.groups.map { g =>
          val ty = Re2.inferCaprefType(parsed, g.index) match {
            case Re2.CapInt => "Int"
            case Re2.CapFloat => "Float"
            case Re2.CapString => "String"
          }
          val label = g.name.fold(s"$$${g.index}")(n =>
            s"$$$n (${g.index})")
          s"  $label: $ty"
        }
        (s"pattern /$re/:" +: groups).mkString("\n")
      }
    }
    (Graft.irDump(p) +: types).mkString("\n")
  }

  /** -dump_bytecode: what this engine compiles a program TO is a
    * Catalyst plan, not a VM opcode list — dump the optimized logical
    * plan of the snapshot query over an empty probe frame
    * (main.go:55's closest analogue). */
  private[graft] def bytecodeDump(spark: SparkSession,
      p: Ir.Program, cfg: Config): String = {
    val probe = LogLines.fromLines(
      spark.range(0).selectExpr("CAST('' AS STRING) AS line"), "line")
    val defaultYear = if (cfg.syslogUseCurrentYear)
      java.time.Year.now.getValue else 0
    val df = new PlanBuilder(p, probe, defaultYear,
      overrideZone = cfg.overrideTimezone).snapshot()
    // Dump the *analyzed* plan: the probe frame is empty, and the
    // optimizer's PropagateEmptyRelation would fold the whole tree to
    // `LocalRelation <empty>`, hiding the program's operator structure.
    df.queryExecution.analyzed.treeString
  }

  /** Emit the -dump_* artifacts for every program to stderr (the
    * reference logs them at INFO, `compiler.go:98-121`); returns the
    * rendered chunks for the spec. Dump failures are per-program and
    * non-fatal — the mode run that follows reports compile errors
    * itself.
    */
  def dumpPrograms(cfg: Config,
      sparkForPlan: () => SparkSession): Seq[String] = {
    if (!(cfg.dumpAst || cfg.dumpAstTypes || cfg.dumpBytecode)) Nil
    else programFiles(cfg.progs).flatMap { f =>
      val name = f.getFileName.toString
      try {
        val prog = Frontend.parse(new String(Files.readAllBytes(f),
          StandardCharsets.UTF_8), name,
          cfg.maxRegexpLength, cfg.maxRecursionDepth)
        (if (cfg.dumpAst)
           Seq(s"$name AST:\n${Graft.irDump(prog)}") else Nil) ++
        (if (cfg.dumpAstTypes)
           Seq(s"$name AST with Type Annotation:\n" +
             typedDump(prog)) else Nil) ++
        (if (cfg.dumpBytecode)
           Seq(s"$name plan:\n" +
             bytecodeDump(sparkForPlan(), prog, cfg)) else Nil)
      } catch {
        // StackOverflowError included: a pathologically nested program
        // can blow the JVM stack inside the parser before the depth
        // guard fires; a dump must not kill the caller's thread.
        case e @ (_: Exception | _: StackOverflowError) =>
          Console.err.println(
            s"graft: dump of $name failed: ${e.getClass.getSimpleName}:" +
              s" ${Option(e.getMessage).getOrElse("")}")
          Nil
      }
    }
  }

  /** -one_shot: run every program over the logs read start-to-EOF,
    * render the final store in `format` (main.go:244-276). Compile
    * errors abort, like OneShot ⇒ ErrorsAbort (options.go:148-153).
    */
  def oneShot(spark: SparkSession, cfg: Config): String = {
    val defaultYear =
      if (cfg.syslogUseCurrentYear) java.time.Year.now.getValue else 0
    val lines = graft.mtail.LogLines.batch(spark, cfg.logs: _*)
    val results = programFiles(cfg.progs).map { f =>
      val name = f.getFileName.toString
      val prog =
        try Frontend.parse(new String(Files.readAllBytes(f),
          StandardCharsets.UTF_8), name,
          cfg.maxRegexpLength, cfg.maxRecursionDepth)
        catch { case e: Exception => throw new RuntimeException(
          s"compile failed for $name:\n${e.getMessage}", e) }
      val cells = Snapshot.collect(
        new PlanBuilder(prog, lines, defaultYear,
          overrideZone = cfg.overrideTimezone).snapshot())
      (name, cells, prog.decls.map(d => d.exportName -> d.keys).toMap)
    }
    if (cfg.oneShotFormat == "json")
      graft.streaming.Exporters.jsonMulti(results)
    else
      graft.streaming.Exporters.prometheusMulti(
        results.map { case (n, cs, _) => n -> cs },
        omitProgLabel = !cfg.emitProgLabel,
        emitTimestamp = cfg.emitMetricTimestamp)
  }

  private def session(): SparkSession = {
    // under spark-submit the master (and parallelism) come from the
    // submit command; standalone falls back to every local core
    val spark = SparkEntry.sessionBuilder(
      Runtime.getRuntime.availableProcessors().toString)
      .appName("graft")
      .config(SparkEntry.replanConfs)
      .getOrCreate()
    // the tailing daemon's offset/commit logs go to the provisioned
    // scratch disk, not silently to java.io.tmpdir
    graft.streaming.Streaming.checkpointFallback(spark)
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The -compile_only mode body, exit code returned instead of
    * exited so the spec can drive the full argv→stderr path
    * (`mtail.go:41-52` CompileOnly). Dumps go to stderr first (like
    * the reference's INFO log), then per-program compile errors.
    */
  private[graft] def compileOnlyRun(cfg: Config,
      sparkForPlan: () => SparkSession): Int = {
    dumpPrograms(cfg, sparkForPlan).foreach(System.err.println)
    val errs = compileAll(cfg.progs, cfg.maxRegexpLength,
      cfg.maxRecursionDepth).collect {
      case (n, Some(e)) => s"compile failed for $n:\n$e"
    }
    errs.foreach(System.err.println)
    if (errs.isEmpty) 0 else 1
  }

  /** `graft fmt` — the reference's mfmt (cmd/mfmt/main.go:1-59):
    * parse + check (Frontend.parse runs both, like mfmt's
    * parser.Parse → checker.Check), pretty-print via [[mtail.Fmt]].
    * `-write` rewrites each file in place (mfmt's -write), otherwise
    * the formatted text prints to stdout. Files arrive as `-prog
    * <file>` (the reference flag) or bare operands; exit 2 on usage
    * errors, 1 if any file fails to parse, 0 on success.
    */
  private[graft] def fmtRun(args: Seq[String],
      out: String => Unit = print): Int = {
    var write = false
    var files = Vector.empty[String]
    var i = 0
    var usageErr: Option[String] = None
    while (i < args.length && usageErr.isEmpty) {
      args(i) match {
        case "-write" | "--write" => write = true
        case "-prog" | "--prog" =>
          if (i + 1 >= args.length)
            usageErr = Some("graft fmt: -prog needs a value")
          else { files :+= args(i + 1); i += 1 }
        case f if !f.startsWith("-") => files :+= f
        case other => usageErr = Some(s"graft fmt: unknown flag $other")
      }
      i += 1
    }
    usageErr.orElse(
      if (files.isEmpty) Some("graft fmt: no program file given " +
        "(use -prog <file> or a bare operand)") else None) match {
      case Some(msg) => System.err.println(msg); 2
      case None =>
        var rc = 0
        files.foreach { f =>
          try {
            val p = Paths.get(f)
            val src = new String(Files.readAllBytes(p),
              StandardCharsets.UTF_8)
            val formatted = mtail.Fmt.formatSource(src,
              p.getFileName.toString)
            if (write) {
              val _ = Files.write(p,
                formatted.getBytes(StandardCharsets.UTF_8))
            } else out(formatted)
          } catch { case e: Exception =>
            System.err.println(s"graft fmt: $f: ${e.getMessage}")
            rc = 1
          }
        }
        rc
    }
  }

  /** `graft dot` — the reference's mdot (cmd/mdot/main.go:1-206):
    * parse + check, emit the AST as a graphviz digraph. Stdout by
    * default; `-http_port n` serves it instead — through the system
    * `dot -Tsvg` when graphviz is installed (the reference's
    * behavior), falling back to the raw DOT text
    * (text/vnd.graphviz) when it is not, so the endpoint works in
    * containers without graphviz.
    */
  private[graft] def dotRun(args: Seq[String],
      out: String => Unit = print): Int = {
    var prog: Option[String] = None
    var httpPort: Option[Int] = None
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-prog" | "--prog" if i + 1 < args.length =>
          prog = Some(args(i + 1)); i += 1
        case "-http_port" | "--http_port" if i + 1 < args.length =>
          httpPort = args(i + 1).toIntOption
          if (httpPort.isEmpty) {
            System.err.println(
              s"graft dot: -http_port: not a number: ${args(i + 1)}")
            return 2
          }
          i += 1
        case f if !f.startsWith("-") && prog.isEmpty => prog = Some(f)
        case other =>
          System.err.println(s"graft dot: unknown flag $other")
          return 2
      }
      i += 1
    }
    prog match {
      case None =>
        System.err.println("graft dot: no -prog given"); 2
      case Some(f) =>
        val dotText =
          try {
            val p = Paths.get(f)
            val src = new String(Files.readAllBytes(p),
              StandardCharsets.UTF_8)
            mtail.Dot.dot(Frontend.parse(src, p.getFileName.toString))
          } catch { case e: Exception =>
            System.err.println(s"graft dot: $f: ${e.getMessage}")
            return 1
          }
        httpPort match {
          case None => out(dotText); 0
          case Some(port) =>
            val server = com.sun.net.httpserver.HttpServer.create(
              new java.net.InetSocketAddress(port), 0)
            server.createContext("/", exchange => {
              val (body, ctype) =
                try { // reference behavior when graphviz is present
                  val pr = new ProcessBuilder("dot", "-Tsvg").start()
                  pr.getOutputStream.write(
                    dotText.getBytes(StandardCharsets.UTF_8))
                  pr.getOutputStream.close()
                  val svg = pr.getInputStream.readAllBytes()
                  if (pr.waitFor() == 0 && svg.nonEmpty)
                    (svg, "image/svg+xml")
                  else (dotText.getBytes(StandardCharsets.UTF_8),
                    "text/vnd.graphviz")
                } catch { case _: Exception =>
                  (dotText.getBytes(StandardCharsets.UTF_8),
                    "text/vnd.graphviz")
                }
              exchange.getResponseHeaders.add("Content-Type", ctype)
              exchange.sendResponseHeaders(200, body.length.toLong)
              exchange.getResponseBody.write(body)
              exchange.close()
            })
            server.start()
            System.err.println(s"graft dot: serving on :$port")
            Thread.currentThread().join() // until killed, like mdot
            0
        }
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("fmt")) sys.exit(fmtRun(args.toSeq.tail))
    if (args.headOption.contains("dot")) sys.exit(dotRun(args.toSeq.tail))
    parseArgs(args.toSeq) match {
      case Left(err) =>
        System.err.println(err)
        sys.exit(2)
      case Right(cfg) =>
        if (cfg.showHelp) {
          println(usage)
          sys.exit(0)
        } else if (cfg.showVersion) {
          println("graft (Spark-native mtail engine)")
          sys.exit(0)
        } else if (cfg.compileOnly) {
          sys.exit(compileOnlyRun(cfg, () => session()))
        } else if (cfg.oneShot) {
          val spark = session()
          dumpPrograms(cfg, () => spark).foreach(System.err.println)
          try println(oneShot(spark, cfg))
          catch { case e: Exception =>
            System.err.println(e.getMessage); sys.exit(1) }
          finally spark.stop()
        } else {
          val spark = session()
          dumpPrograms(cfg, () => spark).foreach(System.err.println)
          // the reference daemon: progs dir + HUP reload, one pull
          // port for every program, push sinks on a ticker
          val t = Graft.tailProgs(spark, cfg.progs,
            cfg.logs.mkString(","), cfg.port,
            // 0 falls back to the 250ms default like the reference
            // (main.go:149-152 "no poll log data interval specified")
            trigger = Trigger.ProcessingTime(
              s"${if (cfg.pollIntervalMs <= 0) 250L
                else cfg.pollIntervalMs} milliseconds"),
            defaultYear = if (cfg.syslogUseCurrentYear)
              java.time.Year.now.getValue else 0,
            ignoreRegex = cfg.ignoreRegex,
            overrideZone = cfg.overrideTimezone,
            sighup = true,
            pollMillis =
              Some(cfg.progsPollIntervalMs).filter(_ > 0),
            emitProgLabel = cfg.emitProgLabel,
            emitMetricTimestamp = cfg.emitMetricTimestamp,
            unixSocket = cfg.unixSocket,
            bindAddress = cfg.address,
            maxRegexpLength = cfg.maxRegexpLength,
            maxRecursionDepth = cfg.maxRecursionDepth,
            pollLogMs = Some(cfg.pollLogIntervalMs),
            gcIntervalMs = cfg.expiredMetricsGcIntervalMs,
            logRuntimeErrors = cfg.vmLogsRuntimeErrors,
            httpDebugEndpoints = cfg.httpDebugEndpoints,
            httpInfoEndpoints = cfg.httpInfoEndpoints)
          t.reloader.programErrors.foreach { case (n, e) =>
            e.foreach(msg =>
              System.err.println(s"compile failed for $n:\n$msg"))
          }
          // push sinks (exporter/graphite.go:20, statsd.go:16,
          // collectd.go:22): ONE ticker at -metric_push_interval that
          // re-reads the LIVE program set each tick, so programs
          // added by a progs-dir reload push too and removed
          // programs' exporters are dropped (a startup snapshot of
          // runners would freeze the push surface forever)
          val pushTargets = cfg.graphiteHostPort.toSeq ++
            cfg.statsdHostPort.toSeq ++ cfg.collectdSocketPath.toSeq
          val pushTicker = if (pushTargets.isEmpty) None else Some {
            def hostPort(s: String): (String, Int) =
              // shape validated at flag-parse time
              splitHostPort(s).getOrElse(
                sys.error(s"unreachable: unvalidated host:port '$s'"))
            def exporterFor(n: String, r: graft.streaming.StreamRunner)
                : graft.streaming.PushExporter = {
              val p = new graft.streaming.PushExporter(r.store, n,
                internal = Some(r.internalStore))
              cfg.graphiteHostPort.foreach { hp =>
                val (h, pt) = hostPort(hp)
                p.registerGraphite(h, pt, cfg.graphitePrefix)
              }
              cfg.statsdHostPort.foreach { hp =>
                val (h, pt) = hostPort(hp)
                p.registerStatsd(h, pt, cfg.statsdPrefix)
              }
              cfg.collectdSocketPath.foreach(path =>
                p.registerCollectd(path, cfg.collectdPrefix))
              p
            }
            val cache = scala.collection.mutable
              .Map[String, graft.streaming.PushExporter]()
            val ex = java.util.concurrent.Executors
              .newSingleThreadScheduledExecutor { r =>
                val th = new Thread(r, "graft-push-ticker")
                th.setDaemon(true)
                th
              }
            ex.scheduleAtFixedRate(() => {
              // an escaping exception would permanently cancel
              // scheduleAtFixedRate and silently stop all pushes —
              // log and keep ticking instead
              try {
                val live = t.multi.runners
                (cache.keySet -- live.keySet).toSeq
                  .foreach(cache.remove)
                live.toSeq.sortBy(_._1).foreach { case (n, r) =>
                  cache.getOrElseUpdate(n, exporterFor(n, r))
                    .pushOnce()
                }
              } catch {
                case e: Exception =>
                  System.err.println(s"push tick failed: $e")
              }
            }, cfg.metricPushIntervalMs, cfg.metricPushIntervalMs,
              java.util.concurrent.TimeUnit.MILLISECONDS)
            ex
          }
          System.err.println(cfg.unixSocket match {
            case Some(p) => s"graft listening on unix socket $p"
            case None => s"graft listening on port ${t.port}"
          })
          sys.addShutdownHook {
            pushTicker.foreach(_.shutdownNow())
            t.stop()
            spark.stop()
          }
          t.query.awaitTermination()
        }
    }
  }
}
