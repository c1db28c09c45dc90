package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.mtail.{Ir, Snapshot}
import graft.plan.PlanBuilder

/** Streaming ("tail") mode: a Structured Streaming source of lines →
  * per-microbatch mtail plan → cumulative [[MetricsStore]] merge — the
  * Spark shape of the reference's tailer→VM→store loop
  * (`internal/tailer/tail.go`, `internal/runtime/runtime.go:284-304`).
  *
  * Each microbatch runs the full batch PlanBuilder (so within-batch
  * semantics — conds, time register, same-line ordering, windows — are
  * identical to one-shot mode), then merges kind-aware into the store:
  * counters add, gauges last-write-wins.
  *
  * Cross-BATCH hidden-metric state (a session opened in batch N,
  * closed in batch N+k) lives in a DISTRIBUTED carried-state relation
  * per read metric — (key, last value) partitioned across executors,
  * localCheckpoint'ed between batches and LEFT-JOINed into the next
  * batch's plan by [[PlanBuilder]]. Nothing state-sized ever reaches
  * the driver or the plan tree (no collect, no typedLit), so in-flight
  * cardinality is bounded by cluster memory, not driver heap: the
  * foreachBatch analogue of `internal/runtime/vm/vm.go:736-776`'s
  * Dload/Iget against the shared store. AQE broadcasts the state side
  * while it is small and falls back to a shuffle join when it grows.
  *
  * Scale: the per-batch plan is the same narrow extraction + small-key
  * shuffles as batch mode; only aggregated cells reach the driver store.
  */
object StreamRunner {
  /** one daemon thread for the concurrent per-batch instrumentation
    * action ([[StreamRunner.processWithPlan]]); a single thread
    * suffices — at most one batch is in flight per runner and the
    * action itself runs on Spark's scheduler.
    */
  private[streaming] val auxEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-batch-aux")
        t.setDaemon(true)
        t
      }))
}

final class StreamRunner(program: Ir.Program, spark: SparkSession,
    defaultYear: Int,
    /** the reference's -override_timezone: naive strptime timestamps
      * are interpreted in this zone (options.go:98-109). */
    overrideZone: String = "UTC",
    /** `-expired_metrics_gc_interval` (main.go:67): min ms between
      * store-level GC runs (TTL expiry + limit trim), the analogue of
      * the reference's GC ticker (`metrics/store.go` StartGcLoop).
      * `<= 0` = every batch (the tightest cadence; tests use this).
      * The in-flight hidden-state TTL filter is NOT on this tick — it
      * is part of `del … after` semantics and applies per batch.
      */
    gcIntervalMs: Long = 0L,
    /** `-vm_logs_runtime_errors` (main.go:62): log per-batch runtime
      * error counts to the standard log; false = errors are only
      * visible on the HTTP console (prog_runtime_errors_total).
      */
    logRuntimeErrors: Boolean = true) {

  /** wall-clock of the last store GC run (gcIntervalMs pacing). */
  private var lastGcMs: Long = Long.MinValue

  /** current program; swapped atomically by [[reload]] between
    * microbatches (the reference's SIGHUP reload,
    * `internal/runtime/runtime.go:311-332`).
    */
  @volatile private var prog: Ir.Program = program

  /** the live program (post-reload) — /progz introspection. */
  def currentProgram: Ir.Program = prog

  val store = new MetricsStore

  /** runtime self-instrumentation (lines_total, log_lines_total,
    * prog_runtime_errors_total) — a separate store because the
    * reference keeps these in the expvar namespace, distinct from
    * program metrics (a program may legitimately declare its own
    * `lines_total`).
    */
  val internalStore = new MetricsStore

  /** cross-batch state relations of cross-line-read metrics (sessions
    * in flight): metric → materialized (k, v) DataFrame.
    */
  @volatile private var carriedState: Map[String, DataFrame] = Map.empty
  /** the raw localCheckpoint'ed state relations behind [[carriedState]]
    * (which may wrap them in a TTL filter), kept so the previous
    * batch's checkpoint blocks can be freed eagerly once the next
    * batch's state is materialized
    */
  @volatile private var carriedCheckpoints: Seq[DataFrame] = Nil

  /** visible for tests: the current carried-state relations. */
  def carriedStateForTest: Map[String, DataFrame] = carriedState

  /** `del m[..] after d` TTLs by metric DECL name (min over sites),
    * from a statement walk — the per-cell Expiry of `ExpireDatum`
    * (`internal/metrics/metric.go:223-234`) keyed per metric. A def so
    * [[reload]]ed programs are reflected; the walk is trivial.
    */
  private def ttlByDecl: Map[String, Long] = {
    val buf = scala.collection.mutable.Map[String, Long]()
    def walk(ss: Seq[Ir.Stmt]): Unit = ss.foreach {
      case Ir.CondBlock(_, body, els) => walk(body); walk(els)
      case Ir.DelStmt(m, _, Some(d)) =>
        buf(m) = buf.get(m).fold(d)(math.min(_, d))
      case _ =>
    }
    walk(prog.stmts)
    buf.toMap
  }
  private def ttlByExport: Map[String, Long] =
    ttlByDecl.map { case (m, d) => prog.decl(m).exportName -> d }
  private def limitByExport: Map[String, Int] =
    prog.decls.filter(_.limit > 0)
      .map(d => d.exportName -> d.limit).toMap

  /** export-name → label keys of the LIVE program, for the /json
    * exporter — a def so a [[reload]] that re-keys a metric is
    * reflected in the next scrape rather than frozen at server
    * construction.
    */
  def exportKeys: Map[String, Seq[String]] =
    prog.decls.map(d => d.exportName -> d.keys).toMap

  /** Live program reload between microbatches — the Spark shape of the
    * reference's SIGHUP/filesystem reload (`runtime.go:311-332` +
    * store migration `store.go:33-98`): the new program is compiled
    * against an empty probe frame FIRST, so a broken program is
    * rejected (exception) and the old one keeps running. Store cells
    * persist across the swap (same-name metrics continue cumulating —
    * the reference's label-value migration); carried hidden state is
    * kept only for metrics still declared with the same value type,
    * and dropped otherwise.
    */
  def reload(newProgram: Ir.Program): Unit = synchronized {
    try {
      // the probe plan doubles as the load-time zero-init snapshot:
      // merging its empty-input cells publishes any NEW scalar counters
      // as 0 @ epoch-0 immediately, a no-op for cells already live
      val pb = publishZeroInit(newProgram)
      carriedState = carriedState.filter { case (m, sdf) =>
        newProgram.decls.exists(_.name == m) &&
          sdf.schema("v").dataType == pb.metricType(m)
      }
      prog = newProgram
      internalStore.merge(Seq(Snapshot.Cell("counter",
        "prog_loads_total", Map("prog" -> newProgram.name),
        Snapshot.VInt(1), None)))
    } catch {
      case e: Exception =>
        internalStore.merge(Seq(Snapshot.Cell("counter",
          "prog_load_errors_total", Map("prog" -> newProgram.name),
          Snapshot.VInt(1), None)))
        throw e
    }
  }

  /** stream time: max event timestamp observed across batches. */
  @volatile private var maxEventSec: Long = Long.MinValue

  /** Load-time zero-init: run the plan once against an empty frame and
    * merge the resulting cells — declared-but-never-matched scalar
    * counters as 0 @ epoch-0 — so a just-loaded program exports
    * immediately, before any data arrives. The reference registers
    * every metric in the store at LOAD time (`runtime.go:173-184`);
    * waiting for the first non-empty batch instead (pre-round-9
    * behaviour) left a freshly dropped program invisible to scrapes
    * until new lines happened to arrive. Re-merging is a no-op for
    * live cells (counters add 0, last-write ts wins), and the empty
    * probe keeps the cells type-exact with real batch plan semantics.
    * Returns the probe plan, which [[reload]] also types against.
    */
  private def publishZeroInit(p: Ir.Program): PlanBuilder = {
    val probe = graft.mtail.LogLines.fromLines(
      spark.range(0).selectExpr("CAST('' AS STRING) AS line"), "line")
    val pb = new PlanBuilder(p, probe, defaultYear,
      overrideZone = overrideZone)
    store.merge(Snapshot.collect(pb.snapshot()), p.concatTextMetrics)
    pb
  }
  publishZeroInit(prog)

  /** Start over a streaming Dataset with a `line` STRING column (e.g.
    * `spark.readStream.format("text"|"socket")`).
    */
  def start(lines: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime("1 second"),
      queryName: String = "graft-stream"): StreamingQuery = {
    lines.writeStream
      .queryName(queryName)
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId)
      }
      .start()
  }

  /** Run one microbatch through the plan + merge (visible for tests).
    * Synchronized with [[reload]] so a program swap really is atomic
    * between batches — otherwise an in-flight batch could overwrite
    * the reload-filtered carried state with relations typed for the
    * old program. foreachBatch already serializes calls per query, so
    * the lock is uncontended in normal operation.
    */
  def processBatch(batch: DataFrame, batchId: Long): Unit =
    synchronized {
      // mtail dialect: conversion errors null out (vm.go:97-129).
      // Saved and restored around the batch: every action in the batch
      // completes inside this call, and an embedding app sharing the
      // session for ANSI SQL must not silently lose ANSI semantics
      // because a stream runner ran a microbatch.
      val conf = batch.sparkSession.conf
      // constraint propagation: see LogLines — super-linear optimizer
      // cost on the engine's generated predicates, no benefit
      val scoped = Seq("spark.sql.ansi.enabled" -> "false",
        "spark.sql.constraintPropagation.enabled" -> "false")
      val prev = scoped.map { case (k, _) => k -> conf.getOption(k) }
      scoped.foreach { case (k, v) => conf.set(k, v) }
      try processBatchInner(batch)
      finally prev.foreach {
        case (k, Some(v)) => conf.set(k, v)
        case (k, None) => conf.unset(k)
      }
    }

  private def processBatchInner(batch: DataFrame): Unit = {
    if (!batch.isEmpty) {
      val withCols = batch
        .withColumn("filename",
          if (batch.columns.contains("filename")) col("filename")
          else lit(""))
        // graft-tail batches carry byte offsets → total per-file order;
        // other sources (socket, memory) fall back to split order
        .withColumn("ord",
          if (batch.columns.contains("off"))
            struct(col("filename").as("f"), col("off").as("o"))
          else monotonically_increasing_id())
      val pb = new PlanBuilder(prog, withCols, defaultYear,
        carriedState, overrideZone)
      // one scan of the batch feeds every metric branch, the state
      // relations, and instrumentation (the reference reads each line
      // once too); released at the end of the batch
      val t0 = System.nanoTime()
      // +1 for instrumentation(), plus one state relation per
      // cross-line-read metric and one delete-key frame per metric
      // with del sites — all scan the same extraction
      pb.materializeExtraction(extraReaders = 1 + prog.decls.count(d =>
        pb.readMetrics.contains(d.name)) + pb.deleteMetricCount)
      val nLines =
        try processWithPlan(pb)
        finally pb.unpersistExtraction()
      observeBatchDuration((System.nanoTime() - t0) / 1e9, nLines)
    }
  }

  /** the reference's per-line latency bucket bounds
    * (`vm.go:35-41`: ExponentialBuckets(0.00002, 2.0, 10)), keys in
    * Go's own rendering so dashboards see identical `le` values.
    */
  private val durationBuckets: Seq[(String, Double)] = Seq(
    "2e-05" -> 2e-05, "4e-05" -> 4e-05, "8e-05" -> 8e-05,
    "0.00016" -> 0.00016, "0.00032" -> 0.00032, "0.00064" -> 0.00064,
    "0.00128" -> 0.00128, "0.00256" -> 0.00256, "0.00512" -> 0.00512,
    "0.01024" -> 0.01024)

  /** Batch-granular stand-in for the reference's per-line latency
    * histogram `mtail_vm_line_processing_duration_seconds`
    * (`vm.go:35-41`): per-line timing is meaningless under vectorized
    * execution, so each batch observes its MEAN per-line duration with
    * weight = lines into the reference's own bucket scheme. `sum`
    * accumulates true batch seconds and `count` accumulates lines, so
    * rate(sum)/rate(count) — the mean-latency expression dashboards
    * alarm on — stays exact; only the quantile spread WITHIN one batch
    * is collapsed to its mean.
    */
  private def observeBatchDuration(batchSecs: Double,
      lines: Long): Unit = if (lines > 0) {
    val mean = batchSecs / lines
    val bucketKey = durationBuckets.find(mean <= _._2)
      .map(_._1).getOrElse("+Inf")
    val buckets = (durationBuckets.map(_._1) :+ "+Inf")
      .map(k => k -> (if (k == bucketKey) lines else 0L))
      .toMap + ("count" -> lines)
    internalStore.merge(Seq(Snapshot.Cell("histogram",
      "mtail_vm_line_processing_duration_seconds",
      Map("prog" -> prog.name), Snapshot.VFloat(batchSecs), None,
      Some(buckets))))
  }

  private def processWithPlan(pb: PlanBuilder): Long = {
      // the instrumentation aggregate is independent of the snapshot
      // and reads the same cached extraction — submit it concurrently
      // so its job back-fills executors while the snapshot branches
      // run (optimization guide §2.6: actions are only sequential
      // because the driver calls them sequentially); awaited below,
      // BEFORE the previous batch's state checkpoints are freed
      val instrF = scala.concurrent.Future(pb.instrumentation().collect())(
        StreamRunner.auxEc)
      val cells = Snapshot.collect(pb.snapshot())
      // runtime `del` reaching the cumulative store: label tuples
      // whose delete fired THIS batch lose their pre-batch cell before
      // the merge, so the snapshot's post-del state (restarted cell,
      // or absence) fully replaces it — exactly the one-shot plan's
      // delete-last/restart semantics composed across batches. Without
      // this a del in batch N+1 could never erase a cell merged in
      // batch ≤ N (the store had no delete path at all).
      pb.batchDeleteDfs().foreach { case (decl, keys) =>
        keys.collect().foreach { row =>
          store.remove(decl.exportName, decl.keys.zipWithIndex.map {
            case (k, i) => k -> row.getString(i) }.toMap)
        }
      }
      // zero-init counter cells (0 @ epoch-0) merge too: creating the
      // key means a declared-but-never-matched counter is exported as
      // 0 from the first batch, like the reference's zero-init
      // (golden/reader.go:107-119) and graft's own one-shot mode.
      // Re-merging per batch is a no-op for a live key: counters add
      // 0 and maxTs keeps the newer timestamp.
      store.merge(cells, prog.concatTextMetrics)
      // materialize the new state relations eagerly: the batch
      // DataFrame is only valid inside this call, and checkpointing
      // truncates lineage so batch N's plan never re-derives batches
      // 0..N-1 (old checkpoint RDDs are dropped by the ContextCleaner
      // once unreferenced)
      val newState = pb.finalReadStateDfs().map { case (m, sdf) =>
        m -> sdf.localCheckpoint(true)
      }
      // batch N's checkpoints are materialized, so batch N−1's blocks
      // are dead once every read of this batch completes — they are
      // freed at the END of this method (after the instrumentation
      // collect, whose plan can still lean on the old state and,
      // lineage being checkpoint-truncated, could NOT recompute a
      // freed block) instead of waiting for the ContextCleaner's GC
      // cycle, which on a low-allocation driver lets a long-running
      // stream stack every batch's state in executor block managers
      // (carriedState itself may be a TTL-filter view, hence the raw
      // checkpoints are tracked separately)
      val prevCheckpoints = carriedCheckpoints
      carriedCheckpoints = newState.values.toSeq
      // stream time: max event timestamp across exported cells AND
      // hidden-state last writes (hidden metrics never reach the store).
      // One union aggregate = ONE Spark job per batch regardless of how
      // many state metrics the program carries (a per-metric
      // agg().head() loop would serialize N driver actions per batch)
      val stateMax = newState.values.map(_.select(col("ts")))
        .reduceOption(_ unionAll _)
        .flatMap(u => Option(u.agg(max(col("ts"))).head().get(0)))
        .map(_.asInstanceOf[Long])
      maxEventSec = (cells.flatMap(_.tsSec) ++ stateMax)
        .foldLeft(maxEventSec)(_ max _)
      // `del … after d` metrics drop state keys whose last write is
      // older than d in stream time — the store's GC analogue for
      // in-flight hidden state, so a long stream's state volume is
      // bounded by its TTL window. Applied as a lazy filter over the
      // checkpointed relation; expired rows vanish physically at the
      // next batch's checkpoint.
      carriedState = newState.map { case (m, sdf) =>
        // synthetic existence relations ($ex$m — `del … after`
        // missing-cell abort support) expire in lockstep with their
        // base metric's state, like the store GC removes the cell
        val declName =
          if (m.startsWith("$ex$")) m.stripPrefix("$ex$") else m
        m -> ttlByDecl.get(declName)
          .filter(_ => maxEventSec > Long.MinValue)
          .map(ttl => sdf.filter(col("ts").isNull ||
            col("ts") > maxEventSec - ttl))
          .getOrElse(sdf)
      }
      // store-level GC: TTL expiry + limit trim (store.go:156-203).
      // Only the TTL part needs stream time; the `limit N` trim is
      // time-independent (newest-N by datum ts), so it must run even
      // for programs that never set a timestamp — otherwise their
      // stores grow past the declared limit forever.
      val ttls =
        if (maxEventSec > Long.MinValue) ttlByExport
        else Map.empty[String, Long]
      val nowMs = System.currentTimeMillis()
      if ((ttls.nonEmpty || limitByExport.nonEmpty) &&
          (gcIntervalMs <= 0 || lastGcMs == Long.MinValue ||
            nowMs - lastGcMs >= gcIntervalMs)) {
        store.gc(maxEventSec, ttls, limitByExport)
        lastGcMs = nowMs
      }
      // self-instrumentation: per-file line/error counts this batch
      // (submitted concurrently above; join here)
      val instr = scala.concurrent.Await.result(instrF,
        scala.concurrent.duration.Duration.Inf)
      val totalLines = instr.map(_.getAs[Long]("lines")).sum
      val totalErrs = instr.map(_.getAs[Long]("errors")).sum
      internalStore.merge(
        Seq(Snapshot.Cell("counter", "lines_total", Map.empty,
          Snapshot.VInt(totalLines), None)) ++
        instr.toSeq.map(r => Snapshot.Cell("counter", "log_lines_total",
          Map("logfile" -> r.getAs[String]("filename")),
          Snapshot.VInt(r.getAs[Long]("lines")), None)) ++
        (if (totalErrs > 0)
          Seq(Snapshot.Cell("counter", "prog_runtime_errors_total",
            Map("prog" -> prog.name), Snapshot.VInt(totalErrs), None))
        else Nil))
      // -vm_logs_runtime_errors: the reference logs each runtime error
      // to the standard log (vm.go errorf → glog); the distributed
      // analogue logs the per-batch count (individual messages stay on
      // the executors — shipping every bad line to the driver would be
      // a collect on the error path)
      if (logRuntimeErrors && totalErrs > 0)
        System.err.println(s"prog ${prog.name}: $totalErrs runtime " +
          "error(s) this batch; lines dropped")
      // all of this batch's jobs have run; the previous batch's state
      // checkpoints are unreachable from any future plan — free them.
      // Trade-off (same as Dedup's star-contraction loop): the new
      // checkpoints' lineage is truncated at the freed predecessor, so
      // a state block lost to executor death after this point fails
      // the stream instead of recomputing — localCheckpoint is
      // non-fault-tolerant by contract, this just narrows when. A
      // cluster deployment that wants the slower ContextCleaner pacing
      // (blocks from ALL in-flight batches retained until driver GC)
      // can remove this call; state durability proper would need
      // reliable `checkpoint()` on a shared filesystem.
      prevCheckpoints.foreach(graft.plan.CheckpointUtil.freeCheckpoint)
      totalLines
  }
}
