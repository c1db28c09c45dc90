package graft.plan

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GoFloatString, GoStrptime, GoStrptimeDyn,
  RegexExtractStruct}
import graft.mtail.{Ir, Re2}

/** Compiles an [[Ir.Program]] into DataFrame aggregation plans — the
  * replacement for the reference's codegen+VM
  * (`internal/runtime/compiler/codegen/codegen.go`,
  * `internal/runtime/vm/vm.go`): a shared extraction/projection prefix
  * over the line Dataset, then one declarative aggregation branch per
  * exported metric. Catalyst's whole-stage codegen replaces the bytecode
  * interpreter; shuffles on the label tuple replace the shared-memory
  * store.
  *
  * Key semantic mappings (SURVEY.md §2):
  *  - pattern conds → RegexExtractStruct.matched; nested blocks conjoin;
  *    `expr =~ /re/` matches an arbitrary subject and binds caprefs
  *    (vm.go:364-373);
  *  - `otherwise` → static ¬(sibling conds) rewrite (vs the VM's runtime
  *    matched-flag, vm.go:897-902);
  *  - `stop` → later statements conjoin ¬(stop cond);
  *  - time register → a threaded nullable timestamp Column updated by
  *    strptime/settime in statement order; settime may read a metric
  *    written earlier on the same line (mysql_slowqueries.mtail);
  *  - cross-line metric reads (hidden metrics) → running last-write value
  *    via a window partitioned by the metric key; same-line statement
  *    order is resolved statically by site index;
  *  - counter → sum, gauge/timer/text → max_by(arrival), datum timestamp
  *    = time register at last update (metric.go:151-181);
  *  - `del` → cells whose last op is a delete are dropped, counters
  *    restart after it (vm.go:778-794); `del … after d` is state TTL —
  *    a batch no-op for final-snapshot semantics;
  *  - histogram → bucket CASE + per-bucket counts, sum, count
  *    (datum/buckets.go:42-57).
  *
  * Pattern structs are emitted inline wherever referenced; duplicates
  * inside one projection are unified by whole-stage codegen's
  * subexpression elimination, mirroring the VM's one-Match-per-cond.
  *
  * Scale: the extraction prefix is a narrow codegen'd projection; each
  * metric branch shuffles only its label tuple + value. Windows for
  * keyed hidden-state reads shuffle by the metric key; key-less scalar
  * state (mysql_slowqueries' `user`) degenerates to a single-partition
  * window — inherently sequential in the reference too, which replays a
  * log single-threaded (runtime.go:199-202).
  */
final class PlanBuilder(program: Ir.Program, lines: DataFrame,
    defaultYear: Int,
    /** carried cross-batch state for streaming mode: metric name → a
      * DISTRIBUTED relation (k STRING, v <metric type>) of last-written
      * values keyed by the joined label tuple. Reads fall back to it
      * between the in-batch window and the zero default via a LEFT JOIN
      * planned per read site — never a driver-side map literal, so plan
      * size and driver memory are O(1) in state cardinality (millions
      * of in-flight sessions stay partitioned across executors; AQE
      * picks broadcast vs shuffle join from the state's actual size).
      */
    initialState: Map[String, DataFrame] = Map.empty,
    /** the reference's -override_timezone (options.go:98-109): naive
      * strptime timestamps are interpreted in this zone. "UTC" =
      * Go's plain time.Parse, the default.
      */
    overrideZone: String = "UTC") {

  import Ir._

  // A single small file or a driver-side line table arrives as one or
  // two input partitions, which would run the whole extraction regex on
  // as many cores. Spread lines across the session's parallelism BELOW
  // the extraction projection — `ord` is projected inside `lines`,
  // before the exchange, so arrival semantics are identical to the
  // unrepartitioned plan; the shuffle moves each raw line once and the
  // regex then runs fully parallel. Byte-range-split file scans already
  // arrive well-partitioned and skip this. repartition(N) with an
  // explicit N is exempt from AQE coalescing, so the parallelism
  // survives tiny inputs too.
  /** estimated input bytes (Catalyst stats of the optimized line
    * plan) under the spread floor — shared by the narrow-input spread
    * below and the direct-keyless-window gate
    * ([[keylessPrefix]]): both decisions derive from DATA VOLUME, so
    * they are scale-adaptive rather than core-count constants.
    */
  private var inputUnderSpreadFloor: Boolean = false

  private val baseLines: DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      Deduplicate, Join, RepartitionOperation, Window => LWindow}
    val target = lines.sparkSession.sparkContext.defaultParallelism
    // Only NARROW line frames (scans, driver tables, streaming
    // microbatches — chains of project/filter over leaves) are probed
    // and spread: their initial sparkPlan has no exchanges, so
    // .execute() builds the RDD lazily and reads the true partition
    // count without running anything. df.rdd would instead materialize
    // AQE shuffle stages eagerly (running the source once per
    // PlanBuilder), and the unprepared sparkPlan of a JOINED frame
    // throws on missing exchanges. A frame that already contains a
    // join/aggregate/repartition runs at shuffle parallelism by
    // construction — its partitioning is the caller's.
    val hasWideOp = lines.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: RepartitionOperation |
           _: LWindow | _: Deduplicate => true
      case _ => false
    }
    val n =
      if (hasWideOp) target
      else scala.util.Try(
        lines.queryExecution.sparkPlan.execute().getNumPartitions)
        .getOrElse(target)
    // The exchange only pays above a size floor: the codegen'd
    // extraction runs ~3µs/line single-core, so below ~1M lines the
    // shuffle's fixed cost (2 stages × N tasks + row serialization)
    // exceeds the parallelism win — measured 1.24 s vs 1.44 s for the
    // 100k-line engine battery queries at sf0.1. Catalyst's estimated
    // sizeInBytes gates it: tiny scans/driver tables keep their
    // partitioning; large inputs (and streaming microbatches, whose
    // LogicalRDD estimate is conservatively huge) spread.
    val bigEnough =
      lines.queryExecution.optimizedPlan.stats.sizeInBytes >=
        BigInt(16L << 20)
    inputUnderSpreadFloor = !bigEnough
    if (bigEnough && n * 2 <= target)
      lines.repartition(target)
    else lines
  }

  // Pattern structs and strptime results are MATERIALIZED as named
  // columns: composing them as raw Column trees makes each later site
  // embed full copies of every earlier struct tree — quadratic plan
  // size. Materialization is LAZY: pending columns are flushed into a
  // few dependency-ordered select layers, because a withColumn per
  // column would trigger a full analyzer pass each time (O(n²) on
  // 100-site programs like postfix.mtail).
  private var curDf: DataFrame = baseLines
  private var colSeq = 0
  private val pending = mutable.LinkedHashMap[String, Column]()
  /** pending carried-state joins: output column name → (line-side key
    * column, state relation with columns (k, v)). Applied lazily like
    * pending selects — the key column may reference materialized regex
    * structs that must be flushed first.
    */
  private val pendingJoins =
    mutable.LinkedHashMap[String, (Column, DataFrame)]()
  /** machinery names whose VALUES are baked into something already
    * materialized in [[curDf]] (a flushed select/join/probe relation
    * referenced them while building). A read column nothing consumed
    * yet can still be REPLACED wholesale — the cycle replay uses this
    * to reclaim a group read that materialized through the
    * distributed machinery before the cycle was observable; a
    * consumed one makes [[lastResortSeqResolve]] refuse the group.
    * Still-pending entries are NOT consumers: they resolve by name at
    * their own materialization and pick up the replacement.
    */
  private val consumedRefs = mutable.Set[String]()
  private def noteConsumed(refs: Iterable[String]): Unit =
    consumedRefs ++= refs.filter(_.startsWith("__"))
  def df: DataFrame = { flushPending(); curDf }

  private def materialize(c: Column, prefix: String): Column = {
    val name = s"__${prefix}_$colSeq"
    colSeq += 1
    pending(name) = c
    col(name)
  }

  /** CONTENT-DERIVED registration names for read-triggered
    * materializations (__carry state joins, __asof probe relations).
    * These registrations happen during METRIC-READ compilation, whose
    * branch choice depends on the set of VISIBLE write sites — which
    * differs between the two walk passes by design (pass 1 sees only
    * earlier sites, pass 2 the full list). A shared sequence counter
    * therefore drifts between passes the moment one pass registers a
    * read the other skipped, and every later walk-deterministic
    * `__m_N` name shifts — a frozen pass-1 cond then references a
    * name pass 2 bound to a DIFFERENT column (the fuzz-found
    * "circular materialization: __asof_1 -> __m_1" crash on a write
    * cond reading a mixed `=`/`++` metric). Deriving the name from
    * the read's memo key instead makes it pass-independent: pass 2
    * recompiles every site cond (same memo keys), so each frozen
    * pass-1 reference resolves to pass 2's registration — built
    * against the full site list, i.e. the MORE exact spec.
    */
  private def stableName(prefix: String, key: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    prefix + "_" + md.digest(key.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
  }

  /** left-join `state` (k, v) against the line frame on `key`,
    * yielding the carried value as a named column (null = no state).
    * `nameKey` is the owning read's memo key (see [[stableName]]).
    */
  private def materializeStateJoin(key: Column, state: DataFrame,
      nameKey: String): Column = {
    val name = stableName("__carry", nameKey)
    pendingJoins(name) = (key, state)
    col(name)
  }

  /** like [[materializeStateJoin]], but the state relation derives
    * from the line frame itself and so cannot be built until the
    * columns it reads are materialized: `build` runs at flush time
    * against the earliest curDf snapshot containing `needs`. Own name
    * space (__koff): registered in pass 2 only, so it must not shift
    * the shared __m/__carry counter between the two walk passes.
    */
  private val pendingLazyJoins =
    mutable.Map[String, (Column, Set[String], DataFrame => DataFrame)]()
  private var koffSeq = 0

  /** memoized per (metric, key exprs, site, guard set): a read is
    * compiled once by materializeExtraction's precompile pass and
    * again when the aggregation branch builds — the second
    * compilation must resolve to the SAME materialized columns/probe
    * relations, not register duplicates. (Declared before the
    * constructor-body walk() calls, which read metrics via it.)
    */
  private val metricReadMemo =
    mutable.Map[(String, String, Int, String), Column]()

  /** registry for the EXACT sequential bottom of genuine
    * self/mutual-reference cycles (see [[SeqCycleEval]] and the
    * flushPending fallback): per read name, the (metric, site,
    * uncompiled key inputs) it observes. Filled in pass 2 only; the
    * flush consumes it when, and only when, a SEMANTIC cycle stalls
    * resolution. Registration stores raw inputs and compiles NOTHING —
    * an eager compile here measurably perturbed acyclic programs by
    * shifting registration order (a lazy offsets join then built
    * against a pre-persist snapshot and re-scanned the source; 2.3×
    * on the condgate shape at ×100). (Declared before the
    * constructor-body walk() calls, like [[metricReadMemo]].)
    */
  private case class SeqReadInfo(metric: String, siteIdx: Int,
      keys: Seq[Expr], frames: List[Frame], tReg: Column,
      reading: Set[String])
  private val seqReadInfo = mutable.Map[String, SeqReadInfo]()
  private val seqSitesByMetric =
    mutable.Map[String, Seq[SeqCycleEval.SiteSpec]]()
  private def materializeLazyJoin(key: Column, needs: Set[String],
      build: DataFrame => DataFrame): Column = {
    val name = s"__koff_$koffSeq"
    koffSeq += 1
    pendingLazyJoins(name) = (key, needs, build)
    col(name)
  }

  /** Order-contiguous bucket of the batch's total order, derived
    * purely from the row ordinal's high bits — the partition unit of
    * the keyless-read two-phase prefix scan (no sampling pass, no
    * checkpoint; any two consumers agree by construction). A right
    * shift is monotone, so buckets are contiguous ranges of the order
    * for ANY long ordinal:
    *  - long ordinal: >>18 = ≤256 Ki rows per bucket. Works for both
    *    dense ids (event_id) and monotonically_increasing_id
    *    (pid<<33 | row — the partition boundary stays a bucket
    *    boundary). ~380 k buckets at 10^11 rows: the offsets relation
    *    stays one small single-task window + a broadcastable join;
    *  - (filename, byte-offset) ordinal: 128 MiB file blocks,
    *    matching the tail source's default split size so bucket
    *    parallelism tracks scan parallelism;
    *  - anything else: one bucket (exact, sequential).
    */
  private def bucketOf(ordType: DataType, o: Column): Column =
    ordType match {
      case LongType => shiftright(o, 18)
      case st: StructType
          if st.fieldNames.sameElements(Array("f", "o")) =>
        struct(o.getField("f").as("f"),
          shiftright(o.getField("o"), 27).as("b"))
      case _ => lit(0L)
    }

  /** injective string form of a bucket, for the offsets join key. */
  private def bucketKey(ordType: DataType, b: Column): Column =
    ordType match {
      case _: StructType => PlanBuilder.joinKeys(Seq(
        b.getField("f"), b.getField("b").cast(StringType)))
      case _ => b.cast(StringType)
    }

  /** Keyless running-read prefix via a two-phase parallel scan.
    *
    * `Window.partitionBy()` with no key serializes the whole relation
    * through ONE task — at cluster scale a keyless cross-line read
    * (`snap = seen`, mysql_slowqueries' scalar state) would cap the
    * batch path at single-core throughput. Both fold modes are
    * associative monoids (sum; last = rightmost non-null), so the
    * global exclusive prefix decomposes:
    *   within-bucket window (parallel) ⊕ per-bucket exclusive offset
    * where the offsets relation is a tiny aggregate (one row per
    * 128 MiB of input) cumulated in bucket order and joined back by
    * bucket — broadcastable by construction.
    *
    * Pass 2 returns the CONTENT-NAMED column (stableName over the
    * (metric, mode) memo key — the same cross-pass contract as
    * __asof/__carry): a frozen pass-1 cond that captures the read
    * resolves to the registration built against the FULL site list
    * and the distributed two-phase scan, so it sees writes that appear
    * LATER in program text (KeylessPrefixSpec pins the text-order
    * case).
    *
    * Self/mutual reference — a write cond reading the metric being
    * folded — leaves this registration waiting on itself. The flush
    * loop resolves that group exactly through [[SeqCycleEval]] (see
    * [[seqCyclicMetrics]]) or fails the plan build; there is no
    * approximate bottom. Memoized per (metric, mode): every read site
    * of a metric shares one offsets join and one materialized column.
    */
  private val readMemo = mutable.Map[(String, String), Column]()
  private var kpfxSeq = 0

  /** read column name (`__mrd_*`) → metric it reads — lets the
    * last-resort cycle detection map COMPILED cond refs (which include
    * the conservative line-abort guard terms) back to metric-level
    * edges (see [[lastResortSeqResolve]]).
    */
  private val readNameMetric = mutable.Map[String, String]()

  /** pass-2 cross-line reads materialize as COLUMNS of the (cached)
    * line relation — each window computes once, and the per-metric
    * aggregation branches read data instead of re-running a shuffle
    * per read per branch. Pass 1 returns the raw expression: its read
    * impls are discarded at the pass-2 reset.
    */
  private def readMaterialized(metric: String, mode: String,
      keyId: String, expr: => Column): Column =
    if (resolvedSites.isEmpty) expr
    else readMemo.getOrElseUpdate((metric, mode + "|" + keyId), {
      val name = s"__kpfx_$kpfxSeq"
      kpfxSeq += 1
      pending(name) = expr
      col(name)
    })

  private def keylessPrefix(metric: String, mode: String,
      value: Column, vt: DataType): Column =
    readMemo.getOrElseUpdate((metric, mode), {
      val ordT = curDf.schema("ord").dataType
      val name = stableName("__kpfx", metric + "|" + mode)
      // the exclusive prefix of `value` over one window: the whole
      // order (exact global) or one order bucket (two-phase scan)
      def prefix(w: WindowSpec): Column = mode match {
        case "sum" => coalesce(sum(value).over(w), zeroOf(vt))
        case _ => last(value, ignoreNulls = true).over(w)
      }
      def priorRows(part: Column*): WindowSpec =
        Window.partitionBy(part: _*).orderBy(col("ord"))
          .rowsBetween(Window.unboundedPreceding, -1)
      if (resolvedSites.isEmpty) {
        // pass 1: the raw exact global window, INLINE, registering
        // nothing. This branch only runs inside a pass-1 read impl,
        // which the pass-2 reset discards (the __mrd wrapper defers
        // the read itself), so no machinery is built for it.
        prefix(priorRows())
      } else if (inputUnderSpreadFloor) {
        // Input below the spread floor (the SAME size gate that keeps
        // tiny inputs unspread): the two-phase bucket decomposition
        // would pay an extra full offsets pass + join to parallelize a
        // window whose single-partition sort costs ~tens of ms — and
        // the input arrives in ≤2 partitions anyway, so there is no
        // parallelism to protect. Use the exact global window
        // directly; big inputs keep the distributed two-phase scan.
        // Semantics identical (the decomposition exists to PARALLELIZE
        // this exact expression — see the scaladoc above).
        pending(name) = prefix(priorRows())
        col(name)
      } else {
        val within = prefix(priorRows(bucketOf(ordT, col("ord"))))
        val key = bucketKey(ordT, bucketOf(ordT, col("ord")))
        val off = materializeLazyJoin(key, refsOf(value) + "ord",
          snap => {
            val b = bucketOf(ordT, col("ord"))
            val woff = Window.partitionBy(lit(0)).orderBy(col("__b"))
              .rowsBetween(Window.unboundedPreceding, -1)
            val agg = mode match {
              case "sum" =>
                snap.select(b.as("__b"), value.as("__d"))
                  .groupBy(col("__b"))
                  .agg(sum(col("__d")).as("__p"))
                  .withColumn("v", sum(col("__p")).over(woff))
              case _ =>
                snap.select(b.as("__b"), col("ord").as("__o"),
                  value.as("__d"))
                  .groupBy(col("__b"))
                  .agg(max(when(col("__d").isNotNull,
                    struct(col("__o"), col("__d")))).as("__m"))
                  .withColumn("v", last(col("__m").getField("__d"),
                    ignoreNulls = true).over(woff))
            }
            agg.select(bucketKey(ordT, col("__b")).as("k"), col("v"))
          })
        // materialize the combined read as a COLUMN of the cached
        // line relation, under the cross-pass content name
        pending(name) = mode match {
          case "sum" => within + coalesce(off, zeroOf(vt))
          case _ => coalesce(within, off)
        }
        col(name)
      }
    })

  /** one write site feeding an as-of read: true keys, site order,
    * firing cond, value, and whether it SETS (vs increments).
    */
  private case class AsofWrite(keys: Seq[Column], idx: Int,
      cond: Column, value: Column, isSet: Boolean)

  /** An as-of read: a cross-line read the cheap same-window read
    * cannot answer — a read key EXPRESSION that differs from the write
    * sites' (`m[$x/2]` read vs `m[$x]` write; the same-window read would
    * attribute each row's write to the READ key evaluated on that
    * row — the wrong cell), or a fold over mixed `=`/`++`/`+=`/del
    * writes. Write rows (true write key, ord, value) and probe rows
    * (read key, ord) explode into one relation; one fold
    * ([[foldInWindow]]) takes the mode's value strictly before each
    * probe — per cell key ([[keyedAsofProbes]]) or, for keyless state,
    * per order bucket plus bucket offsets ([[keylessAsofProbes]]) —
    * and the probe results join back by the unique row ord. Deferred
    * like the other materializations so the key/value columns' regex
    * structs exist.
    *
    * mode: "last" = last-set value, "sum" = running increment total,
    * "fold" = last set plus increments after it (mixed metrics),
    * "concat" = its text analogue (last set plus `+=` suffixes) —
    * fold/concat probes come back as a struct<set, inc> so the caller
    * can splice the carried cross-batch base in when no set preceded.
    */
  private case class AsofSpec(probeKeys: Seq[Column], probeIdx: Int,
      writes: Seq[AsofWrite], mode: String, vt: DataType)

  private val pendingAsofs = mutable.Map[String, AsofSpec]()

  /** snapshots of curDf as columns accrue, oldest first. Each asof's
    * probe leg builds from the EARLIEST snapshot containing the
    * columns it references: building it from the up-to-date curDf
    * would embed the whole join chain again under each probe — the
    * tree doubles per spec, and a program with ~8 chained keyless
    * reads (mysql_slowqueries) makes the analyzer walk 2^8 copies.
    * Snapshots make growth linear. They are cleared at the cache
    * point (below): a pre-persist snapshot would not canonically
    * match the cached plan, and its probes would re-scan the source.
    */
  private val snaps = mutable.ArrayBuffer[DataFrame]()
  private def snapCur(): Unit =
    if (snaps.isEmpty ||
      snaps.last.columns.toSet != curDf.columns.toSet) snaps += curDf

  /** extraction-persist request state: when the runner asks for a
    * shared extraction cache, it must be registered BEFORE the first
    * probe/state-join materialization so every probe leg's scan of
    * the extraction hits the cache instead of re-deriving it from
    * the source once per spec.
    */
  private var wantPersist = false
  private var persistedDf: Option[DataFrame] = None
  private var checkpointed: Option[DataFrame] = None
  private def persistNow(): Unit = {
    curDf = curDf.persist()
    curDf.count() // populate before branches race the cache
    persistedDf = Some(curDf)
    snaps.clear()
    snapCur()
  }

  /** `nameKey` is the owning read's memo key — the name must be
    * identical across the two walk passes (see [[stableName]]).
    */
  private def materializeAsofRead(spec: AsofSpec,
      nameKey: String): Column = {
    val name = stableName("__asof", nameKey)
    pendingAsofs(name) = spec
    col(name)
  }

  // eagerExpression, not expression: the lazy form is a childless
  // wrapper for composite columns, which made this return ∅ and the
  // readiness checks below vacuously true (harmless while asof specs
  // only referenced extraction columns; wrong once a spec's write
  // conds can reference OTHER pending asof reads)
  private def refsOf(c: Column): Set[String] =
    org.apache.spark.sql.GraftBridge.eagerExpression(c).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.nameParts.head
    }.toSet

  private def flushPending(): Unit = {
    while (pending.nonEmpty || pendingJoins.nonEmpty ||
      pendingLazyJoins.nonEmpty || pendingAsofs.nonEmpty) {
      snapCur()
      val avail = curDf.columns.toSet
      // machinery names are content-addressed (stableName over the
      // memo key), so a registration whose name ALREADY materialized
      // into the relation is the same column re-registered — the
      // post-replay path: trySeqCycleResolve purges the kpfx/koff
      // memo for resolved metrics, and a read compiled on a later
      // flush iteration re-registers machinery the relation already
      // carries. Materializing it again would select a second column
      // under the same name and poison every downstream reference
      // with AMBIGUOUS_REFERENCE — drop the registration instead.
      pending.keys.filter(avail).toSeq.foreach(pending.remove)
      pendingJoins.keys.filter(avail).toSeq.foreach(pendingJoins.remove)
      pendingLazyJoins.keys.filter(avail).toSeq
        .foreach(pendingLazyJoins.remove)
      pendingAsofs.keys.filter(avail).toSeq.foreach(pendingAsofs.remove)
      val (ready, _) = pending.partition { case (_, c) =>
        refsOf(c).filter(_.startsWith("__")).forall(avail)
      }
      if (ready.nonEmpty) {
        curDf = curDf.select(col("*") +:
          ready.map { case (n, c) => c.as(n) }.toSeq: _*)
        ready.values.foreach(c => noteConsumed(refsOf(c)))
        ready.keys.foreach(pending.remove)
        snapCur()
      } else {
        val (readyJoins, _) = pendingJoins.partition { case (_, (k, _)) =>
          refsOf(k).filter(_.startsWith("__")).forall(avail)
        }
        val (readyLazy, _) = pendingLazyJoins.partition {
          case (_, (k, needs, _)) =>
            (refsOf(k) ++ needs).filter(_.startsWith("__")).forall(avail)
        }
        val (readyAsofs, _) = pendingAsofs.partition { case (_, sp) =>
          (sp.probeKeys ++ sp.writes.flatMap(w =>
            w.keys ++ Seq(w.cond, w.value)))
            .flatMap(refsOf).filter(_.startsWith("__")).forall(avail)
        }
        // nothing is ready: the remaining registrations wait on each
        // other. A SEMANTICALLY cyclic metric group (a write whose
        // cond/value/key reads a metric of the group) is a sequential
        // automaton — resolve its reads exactly with the one-task state
        // machine ([[SeqCycleEval]]) and let downstream machinery
        // consume the materialized columns. A cycle only the compiled
        // read graph shows (abort guard terms) gets the same exact
        // replay through [[lastResortSeqResolve]]. Anything else is a
        // plan this builder cannot make VM-exact: fail the build.
        if (readyJoins.isEmpty && readyLazy.isEmpty &&
          readyAsofs.isEmpty) {
          val cycMetrics = seqCyclicMetrics
          val resolved = (cycMetrics.nonEmpty &&
            trySeqCycleResolve(cycMetrics, avail)) ||
            lastResortSeqResolve(avail)
          if (!resolved) throw new IllegalStateException(
            "circular materialization: unresolved refs " +
              (pendingAsofs.map { case (pn, sp) =>
                pn -> ((sp.probeKeys ++ sp.writes.flatMap(w =>
                  w.keys ++ Seq(w.cond, w.value)))
                  .flatMap(refsOf).filter(_.startsWith("__")).toSet --
                  avail)
              } ++ pending.map { case (pn, c) =>
                pn -> (refsOf(c).filter(_.startsWith("__")) -- avail)
              }))
        }
        if (wantPersist && persistedDf.isEmpty) persistNow()
        readyJoins.foreach { case (n, (key, state)) =>
          val st = state.select(col("k").as(s"${n}_k"),
            col("v").as(n))
          curDf = curDf.join(st, key === col(s"${n}_k"), "left")
            .drop(s"${n}_k")
          noteConsumed(refsOf(key))
          pendingJoins.remove(n)
          snapCur()
        }
        readyLazy.foreach { case (n, (key, needs, build)) =>
          val src = snaps.find(s =>
            (needs + "ord").subsetOf(s.columns.toSet)).getOrElse(curDf)
          val st = build(src).select(col("k").as(s"${n}_k"),
            col("v").as(n))
          curDf = curDf.join(st, key === col(s"${n}_k"), "left")
            .drop(s"${n}_k")
          noteConsumed(refsOf(key) ++ needs)
          pendingLazyJoins.remove(n)
          snapCur()
        }
        readyAsofs.toSeq.sortBy(_._1).foreach { case (n, sp) =>
          // the probe leg builds from the EARLIEST snapshot holding
          // every column it references (see `snaps`), not from the
          // up-to-date curDf
          val need = (sp.probeKeys ++ sp.writes.flatMap(w =>
            w.keys ++ Seq(w.cond, w.value)))
            .flatMap(refsOf).toSet + "ord"
          val src = snaps.find(s => need.subsetOf(s.columns.toSet))
            .getOrElse(curDf)
          noteConsumed(need)
          // materialize each leg's key/value on the base FIRST, as a
          // plain projection: a leg's key or value can carry window
          // expressions, which the analyzer extracts from a
          // Project but NOT from inside a generator (explode) — and
          // the legs go through one
          val base = src.select(col("*") +:
            (sp.writes.zipWithIndex.flatMap { case (wr, i) =>
              Seq(PlanBuilder.joinKeys(wr.keys).as(s"${n}_wk$i"),
                when(wr.cond, wr.value).cast(sp.vt).as(s"${n}_wv$i"))
            } :+ PlanBuilder.joinKeys(sp.probeKeys).as(s"${n}_pk")): _*)
          // ONE pass over the base for every write leg plus the probe
          // leg: each row explodes into (#writes + 1) typed rows. The
          // unionAll-of-selects alternative scans (and re-runs the
          // regex extraction of) the base once PER LEG — at cluster
          // scale that multiplies the dominant cost of the plan by
          // the number of write sites
          val legs = sp.writes.zipWithIndex.map { case (wr, i) =>
            struct(col(s"${n}_wk$i").as("k"),
              lit(wr.idx).as("__i"), lit(1).as("__w"),
              col(s"${n}_wv$i").as("__v"),
              lit(wr.isSet).as("__s"))
          } :+ struct(col(s"${n}_pk").as("k"),
            lit(sp.probeIdx).as("__i"), lit(0).as("__w"),
            lit(null).cast(sp.vt).as("__v"), lit(false).as("__s"))
          // probes sort BEFORE a same-(ord,site) write, so a site's
          // own write is invisible to its own read; earlier-site
          // same-line writes stay visible
          val keyless = sp.probeKeys.isEmpty &&
            sp.writes.forall(_.keys.isEmpty)
          val probes =
            if (keyless) keylessAsofProbes(base, n, sp, legs)
            else keyedAsofProbes(base, n, sp, legs)
          // join back by the unique row ord. Strategy is left to AQE
          // deliberately: at bench scale it broadcasts the probe side
          // (measured faster than a forced shuffle_hash, which
          // suppressed the broadcast and cost ~15%); at cluster scale
          // it degrades to a shuffle join on the unique ord — no skew
          // by construction
          curDf = curDf.join(probes, col("ord") === col(s"${n}_o"),
            "left").drop(s"${n}_o")
          pendingAsofs.remove(n)
          snapCur()
        }
      }
    }
  }

  /** metrics READ (transitively through keys) by an IR expression. */
  private def irReadMetrics(e: Expr): Set[String] = e match {
    case MetricRead(m, ks) => ks.flatMap(irReadMetrics).toSet + m
    case Binop(_, l, r) => irReadMetrics(l) ++ irReadMetrics(r)
    case Unop(_, x) => irReadMetrics(x)
    case Call(_, args) => args.flatMap(irReadMetrics).toSet
    case _ => Set.empty
  }

  /** the SEMANTICALLY cyclic metric groups the automaton can replay:
    * metric-level edges M → metric(r) for every read column name r
    * referenced by M's recorded site columns (conds reference reads
    * as content-named `__mrd` columns since r15, so [[seqReadInfo]]
    * maps ref names back to metrics). A metric enters the set iff it
    * reaches itself on THAT graph — NOT the name-reference graph,
    * which also links reads of acyclic programs (resolving those
    * sequentially would trade the distributed prefix scan for a
    * one-task walk) — and the whole group is feasible: recorded site
    * programs and still-pending reads for every member.
    */
  private def seqCyclicMetrics: Set[String] = {
    // metric-level read edges, computed WITHOUT compiling anything:
    // site values/keys from the IR, enclosing-condition reads from
    // the walk-recorded [[Site.condReads]]
    def deps(m: String): Set[String] =
      allSites.filter(_.metric.name == m).flatMap(s =>
        s.valueIr.toSeq.flatMap(irReadMetrics) ++
          s.keys.flatMap(irReadMetrics) ++ s.condReads).toSet
    val all = seqReadInfo.values.map(_.metric).toSet
    val cyclic = all.filter { m =>
      val seen = mutable.Set[String]()
      def go(x: String): Boolean = deps(x).exists(d =>
        d == m || (seen.add(d) && go(d)))
      go(m)
    }
    val feasible = cyclic.nonEmpty &&
      seqReadInfo.forall { case (n, i) =>
        !cyclic(i.metric) || pending.contains(n) }
    if (feasible) cyclic else Set.empty
  }

  /** LAST RESORT before the circular-materialization crash: the
    * registrations can deadlock at the MACHINERY level — as-of/kpfx
    * relations whose columns reference each other in a loop. The loop
    * is real because the conservative line-abort guard terms make a
    * site's COMPILED cond read metrics its IR never mentions, so
    * [[seqCyclicMetrics]]' deliberately-IR-level graph misses the
    * cycle (found by fuzz seed 5816: two keyed as-of relations
    * mutually tangled through abort guards). Re-detect cycles on the
    * compiled read graph — metric-level edges through every `__mrd`
    * ref of every site cond, mapped back via [[readNameMetric]] — and
    * replay that group exactly; if the tangle still stalls, escalate
    * to replaying EVERY metric with a pending read, after which the
    * orphan-GC in [[trySeqCycleResolve]] sweeps the deadlocked
    * machinery. Only reachable when nothing else is ready, so acyclic
    * plans never take this path; exactness is [[SeqCycleEval]]'s (VM
    * per-line/per-site order), only parallelism is surrendered.
    *
    * A group holding a PREMIXED read — one that already materialized
    * through the distributed machinery and is either consumed by
    * materialized machinery or no longer available — is refused:
    * replaying around it would mix semantics, so the plan build fails
    * instead. (An unconsumed materialized read is not premixed:
    * [[trySeqCycleResolve]] reclaims it exactly.)
    */
  private def lastResortSeqResolve(avail: Set[String]): Boolean = {
    def deps(m: String): Set[String] =
      allSites.filter(_.metric.name == m).flatMap(s =>
        s.valueIr.toSeq.flatMap(irReadMetrics) ++
          s.keys.flatMap(irReadMetrics) ++ s.condReads ++
          refsOf(s.cond).flatMap(readNameMetric.get)).toSet
    val all = seqReadInfo.values.map(_.metric).toSet
    val cyclic = all.filter { m =>
      val seen = mutable.Set[String]()
      def go(x: String): Boolean = deps(x).exists(d =>
        d == m || (seen.add(d) && go(d)))
      go(m)
    }
    // unlike [[seqCyclicMetrics]], a group may hold reads that are
    // no longer pending: reclaimable ones replay exactly, premixed
    // ones refuse the group
    def attempt(g: Set[String]): Boolean =
      g.nonEmpty &&
        seqReadInfo.exists { case (n, i) =>
          g(i.metric) && pending.contains(n) } &&
        !seqReadInfo.exists { case (n, i) =>
          g(i.metric) && !pending.contains(n) &&
            (consumedRefs(n) || !avail(n)) } &&
        trySeqCycleResolve(g, avail)
    attempt(cyclic) || (cyclic != all && attempt(all))
  }

  /** EXACT resolution of a stalled self/mutual-reference cycle —
    * keyless OR keyed — via [[SeqCycleEval]]'s sequential state
    * machine over the [[seqCyclicMetrics]] group. Returns true if it
    * resolved the group's reads (the flush loop retries with the
    * joined columns); false means the group's residual inputs are not
    * materialized yet (wait) or analysis failed — the caller then tries
    * [[lastResortSeqResolve]] and otherwise fails the plan build.
    */
  private def trySeqCycleResolve(metrics: Set[String],
      avail: Set[String]): Boolean = {
    // EVERY read of a cycle metric resolves together (one replayed
    // automaton)
    val pendingNames = seqReadInfo.collect {
      case (n, i) if metrics(i.metric) && pending.contains(n) => n
    }.toSeq.sorted
    // a group read that ALREADY materialized through the distributed
    // machinery (registered before the cycle was observable) is
    // RECLAIMED when nothing materialized has consumed its column:
    // the replay computes it in the automaton, the stale column is
    // dropped, and the exact value re-emits under the same name —
    // every still-pending consumer resolves by name at its own
    // materialization and picks up the replacement. A CONSUMED read
    // keeps its column (its values are baked into materialized plan
    // nodes; replacing the column cannot retro-fix those), and
    // [[lastResortSeqResolve]] refuses a group holding one.
    val replacedNames = seqReadInfo.collect {
      case (n, i) if metrics(i.metric) && !pending.contains(n) &&
        avail(n) && !consumedRefs(n) => n
    }.toSeq.sorted
    val readNames = (pendingNames ++ replacedNames).sorted
    if (pendingNames.isEmpty) return false
    // COMPILE LAZILY, only here — registration-time compilation
    // measurably perturbed acyclic plans (see [[SeqReadInfo]]). The
    // exprColumn calls are memo-shared with the impls; a miss may
    // register fresh machinery, which the flush materializes before
    // the retry finds its inputs available.
    def keyEncOf(n: String): Column = {
      val i = seqReadInfo(n)
      PlanBuilder.joinKeys(i.keys.map(k => strCast(k,
        exprColumn(k, i.frames, i.tReg, i.siteIdx, i.reading),
        i.frames)))
    }
    val (specs, readKeyEncs) =
      try {
        metrics.toSeq.sorted.foreach { m =>
          if (!seqSitesByMetric.contains(m)) {
            val rdg = seqReadInfo.collect {
              case (_, i) if i.metric == m => i.reading
            }.toSeq.minBy(_.toSeq.sorted.mkString(","))
            seqSitesByMetric(m) = seqSitesOf(m, rdg + m)
          }
        }
        (metrics.toSeq.sorted.flatMap(seqSitesByMetric(_)),
          readNames.map(n => n -> keyEncOf(n)).toMap)
      } catch { case scala.util.control.NonFatal(_) => return false }
    // every non-state input of the replayed site programs must be a
    // materialized column already (a cond reading some OTHER stuck
    // machinery defers — the flush materializes it and retries)
    val stateNames = readNames.toSet
    val inputRefs = specs.flatMap(s =>
      refsOf(s.keyEnc) ++ refsOf(s.cond) ++ refsOf(s.value)).toSet ++
      readNames.flatMap(n => refsOf(readKeyEncs(n)))
    if (!inputRefs.filter(_.startsWith("__"))
      .forall(r => avail(r) || stateNames(r))) return false
    if (wantPersist && persistedDf.isEmpty) persistNow()
    val mspecs = metrics.toSeq.sorted.map(m =>
      SeqCycleEval.MetricSpec(m, metricType(m), carriedState(m)))
    val reads = readNames.map(n =>
      SeqCycleEval.ReadSpec(n, seqReadInfo(n).metric,
        seqReadInfo(n).siteIdx, readKeyEncs(n)))
    val out =
      try SeqCycleEval.resolve(curDf, specs, reads, mspecs)
      catch { case scala.util.control.NonFatal(_) => return false }
    // the automaton's input rows (slot columns, seed keys) consume
    // whatever materialized columns they referenced — except the
    // replaced group reads, which the walk computes internally
    noteConsumed(inputRefs -- stateNames)
    curDf = curDf.join(out, col("ord") === col("__sq_ord"), "left")
      .drop("__sq_ord")
    // reclaimed reads: drop the stale distributed column before
    // re-emitting the exact value under the same name, and purge
    // every snapshot that carries the stale column — an as-of/lazy
    // probe leg pending at this point builds from the EARLIEST
    // snapshot holding its refs, which must not be a pre-replacement
    // frame (later snapshots hold supersets of earlier columns, so
    // availability only moves to fresher frames)
    if (replacedNames.nonEmpty) {
      curDf = curDf.drop(replacedNames: _*)
      snaps.filterInPlace(s => !replacedNames.exists(s.columns.contains))
    }
    curDf = curDf.select(col("*") +: readNames.map(n =>
      col("__sqv_" + n).as(n)): _*)
      .drop(readNames.map("__sqv_" + _): _*)
    readNames.foreach { n => pending.remove(n); seqReadInfo.remove(n) }
    // GC: internal registrations (probe relations, prefix offsets,
    // carried-state joins) reachable only from the replaced read
    // impls are orphans — materializing them would run distributed
    // machinery whose result nothing reads any more. Site
    // conds and aggregation branches reference only __mrd/__m names,
    // so the internal prefixes are safe to collect by reference
    // count. The kpfx/koff memo (readMemo) is purged for the resolved
    // metrics so a read registered AFTER this flush (a different
    // guard-set memo key at branch-build time) re-registers fresh
    // machinery instead of referencing a collected name.
    val gcable = Set("__asof_", "__kpfx_", "__koff_", "__carry_")
    def collectible(n: String): Boolean = gcable.exists(n.startsWith)
    readMemo.keys.filter(k => metrics(k._1)).toSeq
      .foreach(readMemo.remove)
    // REACHABILITY from the non-collectible roots, not reference
    // counting: deadlocked machinery can reference ITSELF or a twin
    // in a loop (the lastResortSeqResolve tangle), which keeps a
    // refcount alive forever while nothing live needs it
    def refsOfEntry(n: String): Set[String] =
      pending.get(n).map(c => refsOf(c).toSet)
        .orElse(pendingAsofs.get(n).map(sp =>
          (sp.probeKeys ++ sp.writes.flatMap(w =>
            w.keys ++ Seq(w.cond, w.value))).flatMap(refsOf).toSet))
        .orElse(pendingJoins.get(n).map { case (k, _) =>
          refsOf(k).toSet })
        .orElse(pendingLazyJoins.get(n).map { case (k, needs, _) =>
          refsOf(k).toSet ++ needs })
        .getOrElse(Set.empty)
    val names = (pending.keys ++ pendingAsofs.keys ++
      pendingJoins.keys ++ pendingLazyJoins.keys).toSet
    val live = mutable.Set[String]()
    def mark(n: String): Unit =
      if (names(n) && live.add(n)) refsOfEntry(n).foreach(mark)
    names.filterNot(collectible).foreach(mark)
    names.filter(n => collectible(n) && !live(n)).foreach { n =>
      pending.remove(n); pendingAsofs.remove(n)
      pendingJoins.remove(n); pendingLazyJoins.remove(n)
    }
    snapCur()
    true
  }

  /** The in-window fold of one as-of relation's exploded legs
    * (k, __o, __i, __w, __v, __s), written once for both machines: `w`
    * is the keyed machine's window per cell key `k`, or phase 2 of the
    * keyless scan's window per order bucket `__pid`; either orders by
    * (__o, __i, __w) and ends one row before the current one. Adds:
    *  - sum, last: `__wn` = the running sum / the last non-null value;
    *  - fold, concat: `__wset` = the last set value and `__winc` = the
    *    increments after it (all of them when no set precedes). The
    *    running increment total rides in `__incB` (fold: sum of the
    *    null-as-zero increments `__iv`) or `__cb` (concat: the ordered
    *    concatenation of the suffixes `__iv`), and the
    *    increments after the last set are that total minus its value
    *    AT the set row (`__setCum` / `__pfx`) — a subtraction for
    *    numbers, a substring for append-only text. Null-set rows (cond
    *    false / aborted) are invisible to `last`.
    */
  private def foldInWindow(u: DataFrame, sp: AsofSpec,
      w: WindowSpec): DataFrame = {
    val setV = when(col("__s"), col("__v"))
    val atSet = col("__s").and(col("__v").isNotNull)
    sp.mode match {
      case "sum" => u.withColumn("__wn", sum(col("__v")).over(w))
      case "last" =>
        u.withColumn("__wn", last(col("__v"), ignoreNulls = true).over(w))
      case "concat" =>
        // one window over a window column is illegal in one
        // projection: each running column gets its own withColumn
        u.withColumn("__iv", when(!col("__s"), col("__v")))
          .withColumn("__cb", coalesce(
            array_join(collect_list(col("__iv")).over(w), ""), lit("")))
          .withColumn("__wset", last(setV, ignoreNulls = true).over(w))
          .withColumn("__pfx",
            last(when(atSet, col("__cb")), ignoreNulls = true).over(w))
          .withColumn("__winc", when(col("__pfx").isNotNull,
            col("__cb").substr(length(col("__pfx")) + 1,
              length(col("__cb")))).otherwise(col("__cb")))
      case _ => // fold
        val zero = zeroOf(sp.vt)
        u.withColumn("__iv", when(!col("__s"), coalesce(col("__v"), zero)))
          .withColumn("__incB", coalesce(sum(col("__iv")).over(w), zero))
          .withColumn("__wset", last(setV, ignoreNulls = true).over(w))
          .withColumn("__setCum",
            last(when(atSet, col("__incB")), ignoreNulls = true).over(w))
          .withColumn("__winc", col("__incB") -
            when(col("__wset").isNotNull, coalesce(col("__setCum"), zero))
              .otherwise(zero))
    }
  }

  /** Keyed as-of probes: [[foldInWindow]] per cell key `k`. fold and
    * concat probes come back as struct<set, inc>.
    */
  private def keyedAsofProbes(base: DataFrame, n: String, sp: AsofSpec,
      legs: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(col("k"))
      .orderBy(col("__o"), col("__i"), col("__w"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val u = base
      .select(col("ord").as("__o"),
        explode(array(legs: _*)).as("__leg"))
      .select(col("__leg.k").as("k"), col("__o"),
        col("__leg.__i").as("__i"), col("__leg.__w").as("__w"),
        col("__leg.__v").as("__v"), col("__leg.__s").as("__s"))
    val read = sp.mode match {
      case "sum" | "last" => col("__wn")
      case _ => struct(col("__wset").as("set"), col("__winc").as("inc"))
    }
    foldInWindow(u, sp, w).filter(col("__w") === 0)
      .select(col("__o").as(s"${n}_o"), read.as(n))
  }

  /** Keyless as-of probes via a two-phase parallel prefix scan.
    *
    * `Window.partitionBy()` with no key (key-less scalar state, e.g.
    * mysql_slowqueries' `hidden string user`) serializes the whole
    * relation through ONE task — at cluster scale that caps the batch
    * path at single-core throughput. All four fold modes are
    * associative monoids (sum; last = rightmost non-null; set+inc
    * combines as "right's set wins, else left's set and merged incs";
    * text set+concat likewise with substring extents), so the global
    * exclusive prefix decomposes into the classic two-phase scan:
    *
    *  1. bucket the exploded legs by [[bucketOf]] over the row
    *     ordinal — order-contiguous and purely data-derived, so both
    *     consumers of the bucket id agree by construction, under any
    *     re-execution (unlike repartitionByRange + spark_partition_id,
    *     whose bounds are re-sampled per evaluation);
    *  2. fold each bucket independently — [[foldInWindow]], the same
    *     in-window fold as the keyed machine, partitioned by bucket:
    *     parallel, with per-task size bounded by the block size;
    *  3. fold the per-bucket TOTALS in bucket order — one row per
    *     bucket, a trivially small one-task window;
    *  4. broadcast the per-bucket exclusive offsets back and
    *     combine with each row's within-bucket prefix.
    *
    * Same answer as the single global window — pinned by the
    * opfolds/readmix oracles and the batch-split fuzz — with no
    * single-partition pass over the data left in the plan.
    */
  private def keylessAsofProbes(base: DataFrame, n: String,
      sp: AsofSpec, legs: Seq[Column]): DataFrame = {
    val zero = zeroOf(sp.vt)
    val parts = base
      .select(col("ord").as("__o"),
        explode(array(legs: _*)).as("__leg"))
      .select(col("__o"),
        col("__leg.__i").as("__i"), col("__leg.__w").as("__w"),
        col("__leg.__v").as("__v"), col("__leg.__s").as("__s"))
      .withColumn("__pid", bucketOf(base.schema("ord").dataType,
        col("__o")))
    // phase 2: within-bucket exclusive prefix, parallel per bucket
    val wp = Window.partitionBy(col("__pid"))
      .orderBy(col("__o"), col("__i"), col("__w"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val within = foldInWindow(parts, sp, wp)
    // phase 3: exclusive fold of bucket totals in bucket order (tiny)
    val wo = Window.partitionBy(lit(0)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the last firing row of a partition, by the total order
    def lastBy(cond: Column, v: Column): Column =
      max(when(cond, struct(col("__o"), col("__i"), col("__w"),
        v.as("x")))).getField("x")
    val atSet = col("__s").and(col("__v").isNotNull)
    def withOffs(offs: DataFrame): DataFrame =
      within.join(broadcast(offs), Seq("__pid"), "left")
    val withFold = sp.mode match {
      case "sum" =>
        val offs = parts.groupBy(col("__pid"))
          .agg(sum(col("__v")).as("__p"))
          .withColumn("__off", sum(col("__p")).over(wo))
          .select(col("__pid"), col("__off"))
        withOffs(offs).withColumn(n,
          when(col("__wn").isNull && col("__off").isNull,
            lit(null).cast(sp.vt))
            .otherwise(coalesce(col("__wn"), zero) +
              coalesce(col("__off"), zero)))
      case "last" =>
        val offs = parts.groupBy(col("__pid"))
          .agg(lastBy(col("__v").isNotNull, col("__v")).as("__p"))
          .withColumn("__off",
            last(col("__p"), ignoreNulls = true).over(wo))
          .select(col("__pid"), col("__off"))
        withOffs(offs).withColumn(n, coalesce(col("__wn"), col("__off")))
      case "concat" =>
        // partition total: last set + the full concat MINUS the
        // running prefix at that set (same substring algebra as the
        // per-row read)
        val partials = within.groupBy(col("__pid")).agg(
          max(struct(col("__o"), col("__i"), col("__w"),
            concat(col("__cb"), coalesce(col("__iv"), lit("")))
              .as("ci")))
            .getField("ci").as("__tcb"),
          lastBy(atSet, struct(col("__v").as("s"), col("__cb").as("p")))
            .as("__sc"))
        val p2 = partials.select(col("__pid"),
          col("__sc").getField("s").as("__pset"),
          when(col("__sc").isNotNull,
            col("__tcb").substr(
              length(col("__sc").getField("p")) + 1,
              length(col("__tcb"))))
            .otherwise(coalesce(col("__tcb"), lit(""))).as("__pinc"))
        val o1 = p2.withColumn("__cumC",
          coalesce(array_join(collect_list(col("__pinc")).over(wo), ""),
            lit("")))
        val offs = o1
          .withColumn("__offSet",
            last(col("__pset"), ignoreNulls = true).over(wo))
          .withColumn("__cAtSet",
            last(when(col("__pset").isNotNull, col("__cumC")),
              ignoreNulls = true).over(wo))
          .select(col("__pid"), col("__offSet"),
            when(col("__cAtSet").isNotNull,
              col("__cumC").substr(length(col("__cAtSet")) + 1,
                length(col("__cumC"))))
              .otherwise(col("__cumC")).as("__offInc"))
        withOffs(offs).withColumn(n, struct(
          coalesce(col("__wset"), col("__offSet")).as("set"),
          when(col("__wset").isNotNull, col("__winc"))
            .otherwise(concat(coalesce(col("__offInc"), lit("")),
              col("__winc"))).as("inc")))
      case _ => // fold
        // partition total: last set + (total incs − incs before it)
        val partials = within.groupBy(col("__pid")).agg(
          sum(col("__iv")).as("__tinc"),
          lastBy(atSet, struct(col("__v").as("s"), col("__incB").as("c")))
            .as("__sc"))
        val p2 = partials.select(col("__pid"),
          col("__sc").getField("s").as("__pset"),
          (coalesce(col("__tinc"), zero) -
            coalesce(col("__sc").getField("c"), zero)).as("__pinc"))
        val o1 = p2.withColumn("__cumInc",
          coalesce(sum(col("__pinc")).over(wo), zero))
        val offs = o1
          .withColumn("__offSet",
            last(col("__pset"), ignoreNulls = true).over(wo))
          .withColumn("__setCumP",
            last(when(col("__pset").isNotNull, col("__cumInc")),
              ignoreNulls = true).over(wo))
          .select(col("__pid"), col("__offSet"),
            (col("__cumInc") -
              when(col("__offSet").isNotNull,
                coalesce(col("__setCumP"), zero)).otherwise(zero))
              .as("__offInc"))
        withOffs(offs).withColumn(n, struct(
          coalesce(col("__wset"), col("__offSet")).as("set"),
          when(col("__wset").isNotNull, col("__winc"))
            .otherwise(coalesce(col("__offInc"), zero) + col("__winc"))
            .as("inc")))
    }
    withFold.filter(col("__w") === 0)
      .select(col("__o").as(s"${n}_o"), col(n))
  }

  // ---------- frames: capref scopes ----------

  private case class Frame(parsed: Re2.Parsed, struct: Column) {
    def resolve(name: String): Option[(Column, DataType)] = {
      val idx: Option[Int] = name.toIntOption match {
        case Some(0) => Some(0) // $0 = whole match, always bound
        case Some(i) => parsed.groups.find(_.index == i).map(_.index)
        case None => parsed.groups.find(_.name.contains(name))
          .map(_.index)
      }
      idx.map { i =>
        val t = Re2.inferCaprefType(parsed, i) match {
          case Re2.CapInt => LongType
          case Re2.CapFloat => DoubleType
          case Re2.CapString => StringType
        }
        (struct.getField(s"g$i"), t)
      }
    }
    def matched: Column = struct.getField("matched")
  }

  /** one struct column per distinct (subject, pattern) pair, shared by
    * the cond and every capref (the VM's one-Match-per-cond).
    */
  private val frameMemo = mutable.Map[(String, String), Frame]()

  /** whether any expression references `$0` — only then do the regex
    * structs carry the whole-match field (a per-matching-line string
    * copy the hot path shouldn't pay by default).
    */
  private val usesDollarZero: Boolean = {
    def inE(e: Expr): Boolean = e match {
      case Capref("0") => true
      case Binop(_, l, r) => inE(l) || inE(r)
      case Unop(_, x) => inE(x)
      case Call(_, as) => as.exists(inE)
      case MetricRead(_, ks) => ks.exists(inE)
      case _ => false
    }
    def inS(s: Stmt): Boolean = s match {
      case CondBlock(c, b, els) =>
        (c match { case CondExpr(e) => inE(e); case _ => false }) ||
          b.exists(inS) || els.exists(inS)
      case IncStmt(_, ks, d, _) => (ks :+ d).exists(inE)
      case SetStmt(_, ks, v) => (ks :+ v).exists(inE)
      case DelStmt(_, ks, _) => ks.exists(inE)
      case ExprStmt(e) => inE(e)
      case _ => false
    }
    program.stmts.exists(inS)
  }

  private def mkFrame(subject: Column, re2: String): Frame =
    frameMemo.getOrElseUpdate((subject.toString, re2), {
      Frame(Re2.parse(re2),
        materialize(RegexExtractStruct(subject, re2, usesDollarZero),
          "m"))
    })

  // ---------- walk state ----------

  sealed trait Op
  case object OpInc extends Op
  case object OpSet extends Op
  case object OpDel extends Op
  /** `text += e` — ADD_ASSIGN on a String metric is `m = m + e`
    * (codegen.go:359-363), an ordered running concatenation.
    */
  case object OpConcat extends Op

  /** one metric-update site with context captured at walk time. */
  /** `condReads`: metrics the site's firing depends on at the IR
    * level — enclosing-condition reads, accumulated stopGuard reads
    * (`stop` statements AND abort terms whose exec cond or abortable
    * expression reads a metric), and the site's own-abort reads
    * ([[seqCyclicMetrics]] edges). Round 18 put the abort-mediated
    * edges ON the graph: the previous exclusion ("stays on the
    * one-level-unroll bottom") was value-exact only while every
    * reachable activation was absorbing, and the order-sensitive
    * typing's always-abort write sites made pinned seed 6080's tangle
    * non-absorbing — the declared unroll returned non-VM values, so
    * the exact sequential automaton now owns these cycles.
    */
  private case class Site(idx: Int, metric: MetricDecl, op: Op,
      cond: Column, keys: Seq[Expr], valueIr: Option[Expr],
      frames: List[Frame], timeReg: Column, afterSeconds: Option[Long],
      condReads: Set[String] = Set.empty)

  private val sites = mutable.ArrayBuffer[Site]()

  /** one Dload-creation point (round 18): the reference's Dload calls
    * Metric.GetDatum, which CREATES a zero datum for any cell it
    * loads — pure reads of missing cells included, and loads whose
    * statement aborts LATER (codegen.go:223-233 emits Mload+Dload for
    * every metric term; metric.go GetDatum appends the LabelValue).
    * An exported metric read at a never-written key therefore grows a
    * zero cell in the export. `cond` carries the exact VM gating:
    * enclosing conds ∧ stopGuard ∧ &&/|| short-circuit path ∧ no
    * abort among operands evaluated BEFORE this load (postfix order).
    * Hidden metrics are skipped — a created zero datum is
    * indistinguishable from an absent one everywhere but the export.
    */
  private case class Creation(idx: Int, metric: MetricDecl,
      keyCols: Seq[Column], cond: Column)
  private val creations = mutable.ArrayBuffer[Creation]()

  private var siteSeq = 0 // shared order for sites AND strptime/settime
  private var timeReg: Column = lit(null).cast(TimestampType)
  private var stopGuard: Column = lit(true)
  /** true where a runtime error aborted the line (vm.go:97-129) —
    * feeds prog_runtime_errors_total.
    */
  private var abortCond: Column = lit(false)

  // ---------- phase 1: walk ----------

  /** Lower a condition to (boolean column, frames-to-push). */
  private def condToColumn(c: Cond, frames: List[Frame],
      siblings: Seq[Column]): (Column, List[Frame]) = c match {
    case CondPattern(re2, negated) =>
      val f = mkFrame(col("line"), re2)
      (if (negated) !f.matched else f.matched,
        if (negated) frames else f :: frames)
    case CondExpr(e) =>
      val (bool, pushed) = condExpr(e, frames)
      (bool, pushed.reverse ::: frames)
    case CondOtherwise =>
      (siblings.reduceOption(_ || _).map(c => !coalesce(c, lit(false)))
        .getOrElse(lit(true)), frames)
    case CondAlways => (lit(true), frames)
  }

  /** Lower a condition EXPRESSION, collecting frames from embedded
    * pattern matches (bare /re/ and =~) left-to-right.
    */
  private def condExpr(e: Expr, frames: List[Frame])
      : (Column, List[Frame]) = e match {
    case LineMatch(re2, negated) =>
      val f = mkFrame(col("line"), re2)
      (if (negated) !f.matched else f.matched,
        if (negated) Nil else List(f))
    case Binop("=~", subj, PatternLit(re2)) =>
      val f = mkFrame(
        strCast(subj, exprColumn(subj, frames, timeReg, siteSeq), frames),
        re2)
      (f.matched, List(f))
    case Binop("!~", subj, PatternLit(re2)) =>
      val f = mkFrame(
        strCast(subj, exprColumn(subj, frames, timeReg, siteSeq), frames),
        re2)
      (!f.matched, Nil)
    case Binop("&&", l, r) =>
      val (lc, lf) = condExpr(l, frames)
      val (rc, rf) = condExpr(r, lf.reverse ::: frames)
      (lc && rc, lf ++ rf)
    case Binop("||", l, r) =>
      val (lc, lf) = condExpr(l, frames)
      val (rc, rf) = condExpr(r, frames)
      (lc || rc, lf ++ rf)
    case Unop("!", x) =>
      val (xc, _) = condExpr(x, frames)
      (!xc, Nil)
    case other =>
      val cCol = exprColumn(other, frames, timeReg, siteSeq)
      val bool = irType(other, frames) match {
        case BooleanType => cCol
        case StringType => cCol.isNotNull && cCol =!= ""
        case _ => cCol =!= lit(0)
      }
      (bool, Nil)
  }

  /** conditions under which evaluating `e` raises a runtime error in
    * the VM and aborts the rest of the line (vm.go:97-129): a null
    * typed capref (S2i of an unmatched/unparseable group), or an
    * integer division/modulo whose divisor is zero (vm.go:675-683 —
    * the VM's errorf aborts and counts, it does not just drop the
    * one update).
    */
  private def typedCaprefNullCond(e: Expr, frames: List[Frame])
      : Option[Column] = {
    def or(a: Option[Column], b: Option[Column]): Option[Column] =
      (a.toSeq ++ b.toSeq).reduceOption(_ || _)
    def go(x: Expr): Option[Column] = x match {
      case Capref(n) =>
        frames.view.flatMap(_.resolve(n)).headOption.collect {
          case (c, LongType | DoubleType) => c.isNull
        }
      // &&/|| short-circuit via Jnm/Jm (codegen.go:330-356): abort
      // terms in the RIGHT operand only fire on the path that
      // evaluates it — pre-r19 they were collected unconditionally,
      // aborting lines whose failing operand the VM never ran
      // (ADVICE r18; mirrors [[scanCreations]]' gating)
      case Binop("&&", l, r) =>
        or(go(l), go(r).map(t => coalesce(
          truthyCol(l, exprColumn(l, frames, timeReg, siteSeq),
            frames) && t, lit(false))))
      case Binop("||", l, r) =>
        or(go(l), go(r).map(t => coalesce(
          !truthyCol(l, exprColumn(l, frames, timeReg, siteSeq),
            frames) && t, lit(false))))
      case Binop("/" | "%", l, r) =>
        // only the INTEGER ops error on a zero divisor (vm.go:675-695
        // errorf in Idiv/Imod); float / keeps IEEE ±Inf and float %
        // is Fmod = math.Mod (vm.go:659-660) which yields NaN with no
        // error, so neither float op may abort the line
        val div =
          if (irType(x, frames) == LongType) {
            val rc = exprColumn(r, frames, timeReg, siteSeq)
            Some(coalesce(rc === 0, lit(false)))
          } else None
        or(or(go(l), go(r)), div)
      case Binop("<<" | ">>", l, r) =>
        // string operands pop through PopInt's strict ParseInt
        // (vm.go:128-147) — parse failure aborts the line
        val parse = Seq(l, r).flatMap { o =>
          if (irType(o, frames) == StringType) {
            val oc = exprColumn(o, frames, timeReg, siteSeq)
            Some(coalesce(
              oc.isNotNull && strictParseInt(oc).isNull, lit(false)))
          } else None
        }.reduceOption(_ || _)
        // "shift int out of range": a count < 0 or ≥ MaxInt32 is a
        // runtime error that aborts the line (vm.go:700-711)
        val rc0 = exprColumn(r, frames, timeReg, siteSeq)
        val rc = if (irType(r, frames) == StringType)
          strictParseInt(rc0) else rc0
        val range = Some(coalesce(rc < 0 || rc >= Int.MaxValue.toLong,
          lit(false)))
        or(or(or(go(l), go(r)), parse), range)
      case Binop("&" | "|" | "^", l, r) =>
        // same PopInt strictness for the non-shift bitwise ops —
        // pre-r18 a failed parse only dropped the one update while
        // the VM aborts the whole line
        val parse = Seq(l, r).flatMap { o =>
          if (irType(o, frames) == StringType) {
            val oc = exprColumn(o, frames, timeReg, siteSeq)
            Some(coalesce(
              oc.isNotNull && strictParseInt(oc).isNull, lit(false)))
          } else None
        }.reduceOption(_ || _)
        or(or(go(l), go(r)), parse)
      case Unop("~", y) =>
        val parse =
          if (irType(y, frames) == StringType) {
            val yc = exprColumn(y, frames, timeReg, siteSeq)
            Some(coalesce(
              yc.isNotNull && strictParseInt(yc).isNull, lit(false)))
          } else None
        or(go(y), parse)
      case Binop(_, l, r) => or(go(l), go(r))
      case Unop(_, y) => go(y)
      case Call("int" | "float", args)
          if irType(args(0), frames) == StringType =>
        // S2i/S2f parse failure is a runtime error that aborts the
        // line (vm.go conversion opcodes errorf); Spark's non-ANSI
        // cast nulls instead — "non-null input cast to null" is the
        // failure condition
        val ac = exprColumn(args(0), frames, timeReg, siteSeq)
        val cc = exprColumn(x, frames, timeReg, siteSeq)
        or(args.map(go).foldLeft(None: Option[Column])(or),
          Some(coalesce(ac.isNotNull && cc.isNull, lit(false))))
      case Call("strtol", args) =>
        // ParseInt(s, base) fails on any character outside the base's
        // digit set (→ errorf, line aborts); Spark's conv scans a
        // valid prefix and yields 0 for garbage, so validate the whole
        // string against the base upfront
        val base = args(1) match {
          case IntLit(b) => b.toInt
          case _ => 10
        }
        val digits =
          if (base <= 10) s"0-${base - 1}"
          else "0-9a-" + ('a' + base - 11).toChar
        val ac = exprColumn(args(0), frames, timeReg, siteSeq)
        or(args.map(go).foldLeft(None: Option[Column])(or),
          Some(coalesce(!ac.rlike(s"(?i)^[+-]?[$digits]+$$"),
            lit(false))))
      case Call(_, args) =>
        args.map(go).foldLeft(None: Option[Column])(or)
      case MetricRead(_, keys) =>
        keys.map(go).foldLeft(None: Option[Column])(or)
      case _ => None
    }
    go(e)
  }

  /** Runtime store-coercion abort condition for a write of `e` into a
    * metric of value type `vt` — the Pop* coercions the reference's
    * typed store opcodes apply (vm.go:128-186). PopInt parses strings
    * with strconv.ParseInt base 10 (abort on ANY non-[+-]digit char —
    * stricter than Spark's cast, which truncates "3.5" to 3) and has
    * NO float64 or bool arm, so a statically-Float or Bool value into
    * an Int-pinned metric aborts unconditionally; PopFloat parses
    * strings with ParseFloat (Spark's cast-to-null approximates the
    * failure set); PopString formats floats ('G') and ints but has no
    * bool arm. Reachable since round 18's order-sensitive TypeInfer:
    * a later write site no longer promotes the metric's type, it
    * coerces into the pinned type at runtime. None = this write can
    * never abort on store coercion.
    */
  private def writeConvNullCond(e: Expr, frames: List[Frame],
      vt: DataType, siteIdx: Int): Option[Column] = {
    val srcT = irType(e, frames)
    lazy val valc = exprColumn(e, frames, timeReg, siteIdx)
    vt match {
      case LongType => srcT match {
        case DoubleType | BooleanType => Some(lit(true))
        case StringType =>
          // strictParseInt nulls on non-[+-]digit chars AND on int64
          // overflow (Spark's cast nulls past Long range, which the
          // bare rlike gate silently dropped instead of aborting —
          // strconv.ParseInt raises ErrRange); null input aborts like
          // the empty string ParseInt rejects
          Some(strictParseInt(valc).isNull)
        case _ => None
      }
      case DoubleType => srcT match {
        case BooleanType => Some(lit(true))
        // ParseFloat failure aborts; a null (unmatched/failed
        // upstream) aborts like the empty string — aligned with the
        // Long arm's null handling
        case StringType => Some(valc.cast(DoubleType).isNull)
        case _ => None
      }
      case StringType => srcT match {
        case BooleanType => Some(lit(true))
        case _ => None
      }
      case _ => None
    }
  }

  /** a statically-Bool label key has no PopString arm either
    * (vm.go:171-186) — Dload aborts.
    */
  private def keyConvNullCond(keys: Seq[Expr],
      frames: List[Frame]): Option[Column] =
    if (keys.exists(k => irType(k, frames) == BooleanType))
      Some(lit(true))
    else None

  /** the Jnm truthiness of a lowered operand, for &&/|| short-circuit
    * gating in [[scanCreations]] (mirrors condExpr's bool coercion).
    */
  private def truthyCol(e: Expr, c: Column,
      frames: List[Frame]): Column = irType(e, frames) match {
    case BooleanType => coalesce(c, lit(false))
    case StringType => c.isNotNull && c =!= ""
    case _ => coalesce(c =!= lit(0), lit(false))
  }

  /** Walk `e` in the VM's evaluation order — postfix, left-to-right,
    * &&/|| short-circuiting (codegen.go:330-356 Jnm/Jm jumps) — and
    * register a [[Creation]] for every metric load, gated on the
    * running `gate`: alive ∧ short-circuit path ∧ no abort term
    * positioned BEFORE the load. The abort terms mirror
    * [[typedCaprefNullCond]]'s set, but ORDERED: an abort after a
    * Dload leaves the created datum (vm.go errorf fires mid-line),
    * an abort before it prevents the creation. Returns the gate
    * active after evaluating `e`.
    */
  private def scanCreations(gate: Column, e: Expr,
      frames: List[Frame]): Column = e match {
    case StrLit(_) | IntLit(_) | FloatLit(_) | PatternLit(_) |
        LineMatch(_, _) => gate
    case Capref(n) =>
      frames.view.flatMap(_.resolve(n)).headOption match {
        case Some((c, LongType | DoubleType)) =>
          gate && !coalesce(c.isNull, lit(false))
        case _ => gate
      }
    case MetricRead(m, keys) =>
      var g = gate
      keys.foreach(k => g = scanCreations(g, k, frames))
      if (keys.exists(k => irType(k, frames) == BooleanType)) lit(false)
      else {
        val decl = program.decl(m)
        if (!decl.hidden) creations += Creation(siteSeq, decl,
          keys.map(k => strCast(k,
            exprColumn(k, frames, timeReg, siteSeq), frames)), g)
        // existence companion: this Dload CREATES the cell it loads
        // (GetDatum appends, metric.go:151-181) — an event for any
        // later `del … after` on the metric, hidden or not
        exEventSite(m, g, keys, exAlive(m), frames, creationReads)
        g
      }
    case Binop("&&", l, r) =>
      val gL = scanCreations(gate, l, frames)
      val path = truthyCol(l, exprColumn(l, frames, timeReg, siteSeq),
        frames)
      val gR = scanCreations(gL && path, r, frames)
      (gL && !path) || gR
    case Binop("||", l, r) =>
      val gL = scanCreations(gate, l, frames)
      val path = truthyCol(l, exprColumn(l, frames, timeReg, siteSeq),
        frames)
      val gR = scanCreations(gL && !path, r, frames)
      (gL && path) || gR
    case Binop(op @ ("/" | "%"), l, r) =>
      val g = scanCreations(scanCreations(gate, l, frames), r, frames)
      if (irType(e, frames) == LongType) {
        val rc = exprColumn(r, frames, timeReg, siteSeq)
        g && !coalesce(rc === 0, lit(false))
      } else g
    case Binop("<<" | ">>", l, r) =>
      var g = scanCreations(scanCreations(gate, l, frames), r, frames)
      Seq(l, r).foreach { o =>
        if (irType(o, frames) == StringType) {
          val oc = exprColumn(o, frames, timeReg, siteSeq)
          g = g && !coalesce(oc.isNotNull &&
            strictParseInt(oc).isNull, lit(false))
        }
      }
      val rc0 = exprColumn(r, frames, timeReg, siteSeq)
      val rc = if (irType(r, frames) == StringType)
        strictParseInt(rc0) else rc0
      g && !coalesce(rc < 0 || rc >= Int.MaxValue.toLong, lit(false))
    case Binop("&" | "|" | "^", l, r) =>
      var g = scanCreations(scanCreations(gate, l, frames), r, frames)
      Seq(l, r).foreach { o =>
        if (irType(o, frames) == StringType) {
          val oc = exprColumn(o, frames, timeReg, siteSeq)
          g = g && !coalesce(oc.isNotNull &&
            strictParseInt(oc).isNull, lit(false))
        }
      }
      g
    case Binop(_, l, r) =>
      scanCreations(scanCreations(gate, l, frames), r, frames)
    case Unop("~", y) =>
      var g = scanCreations(gate, y, frames)
      if (irType(y, frames) == StringType) {
        val yc = exprColumn(y, frames, timeReg, siteSeq)
        g = g && !coalesce(yc.isNotNull && strictParseInt(yc).isNull,
          lit(false))
      }
      g
    case Unop(_, y) => scanCreations(gate, y, frames)
    case Call(fn @ ("int" | "float"), args)
        if irType(args(0), frames) == StringType =>
      val g = args.foldLeft(gate)((acc, a) =>
        scanCreations(acc, a, frames))
      val ac = exprColumn(args(0), frames, timeReg, siteSeq)
      val cc = exprColumn(e, frames, timeReg, siteSeq)
      g && !coalesce(ac.isNotNull && cc.isNull, lit(false))
    case Call("strtol", args) =>
      val g = args.foldLeft(gate)((acc, a) =>
        scanCreations(acc, a, frames))
      val base = args(1) match {
        case IntLit(b) => b.toInt
        case _ => 10
      }
      val digits =
        if (base <= 10) s"0-${base - 1}"
        else "0-9a-" + ('a' + base - 11).toChar
      val ac = exprColumn(args(0), frames, timeReg, siteSeq)
      g && !coalesce(!ac.rlike(s"(?i)^[+-]?[$digits]+$$"), lit(false))
    case Call(_, args) =>
      args.foldLeft(gate)((acc, a) => scanCreations(acc, a, frames))
  }

  /** creation registration for a WRITE statement: keys evaluate
    * first, the written metric's own Dload creates (unless a
    * statically-Bool key aborts the key pop first), then the value
    * expression evaluates — its aborts come too late to prevent the
    * creation (codegen ASSIGN/ADD_ASSIGN walk LHS before RHS).
    *
    * `alwaysLands`: the site has NO abort terms — its write row fires
    * whenever the statement does, so the row itself creates the cell
    * and the explicit creation row would be pure overhead (the common
    * fast path: `m[$k]++` keeps zero creation machinery).
    */
  private def scanWriteCreations(base: Column, m: String,
      keys: Seq[Expr], value: Expr, frames: List[Frame],
      alwaysLands: Boolean): Unit = {
    var g = base
    keys.foreach(k => g = scanCreations(g, k, frames))
    if (keys.exists(k => irType(k, frames) == BooleanType)) return
    val decl = program.decl(m)
    if (!decl.hidden && !alwaysLands) creations += Creation(siteSeq,
      decl, keys.map(k => strCast(k,
        exprColumn(k, frames, timeReg, siteSeq), frames)), g)
    // existence companion: the lvalue Dload creates at `g` — BEFORE
    // the value expression can abort (codegen walks LHS before RHS)
    exEventSite(m, g, keys, exAlive(m), frames, creationReads)
    scanCreations(g, value, frames)
    ()
  }

  /** read set the walk stamps onto existence-event sites registered
    * inside the NEXT scanCreations/scanWriteCreations call — the
    * enclosing statement's condReads ∪ stopGuardReads, for the
    * metric-level cycle graph ([[seqCyclicMetrics]]).
    */
  private var creationReads: Set[String] = Set.empty

  /** record that executing under `execCond` errors when `nullCond` —
    * later statements on that line are skipped, like after `stop`.
    */
  // stopGuard/timeReg stay RAW compositions: their leaves are refs to
  // materialized struct/strptime columns, so each added term is small,
  // and single-use alias columns would be re-inlined by CollapseProject
  // anyway (exploding the optimizer on 100-site programs).
  /** `reads`: metrics the abort term's EXEC COND or abortable
    * expression reads at the IR level. They join [[stopGuardReads]]
    * because every LATER site's firing now depends on them through
    * the stopGuard conjunct — an abort-mediated dependence edge. Until
    * round 18 these edges were deliberately left off the automaton's
    * cycle graph ("stays on the provisional one-level-unroll bottom")
    * — sound while every reachable activation sat in the unroll's
    * absorbing corner, but the order-sensitive typing made
    * always-abort write sites reachable (a Float value into an
    * Int-pinned metric) and pinned seed 6080's tangle became
    * NON-absorbing: the declared unroll returned non-VM values. With
    * the edges on the graph, [[seqCyclicMetrics]] sees the cycle and
    * the exact sequential automaton owns it.
    */
  private def abortOn(execCond: Column, nullCond: Option[Column],
      reads: Set[String] = Set.empty): Unit =
    nullCond.foreach { nc =>
      stopGuard = stopGuard && !coalesce(execCond && nc, lit(false))
      abortCond = abortCond || coalesce(execCond && nc, lit(false))
      stopGuardReads ++= reads
    }

  /** reads accumulated into `stopGuard` by executed `stop` statements
    * — later sites' firing depends on those conds' metric reads.
    */
  private var stopGuardReads: Set[String] = Set.empty

  private def walk(stmts: Seq[Stmt], frames: List[Frame],
      cond: Column, condReads: Set[String] = Set.empty,
      proofs0: Seq[ExProof] = Nil): Unit = {
    val siblings = mutable.ArrayBuffer[Column]()
    val siblingReads = mutable.Set[String]()
    // same-line cell-creation proofs accumulated along this statement
    // list (see [[ExProof]]); writes append, immediate dels revoke
    var proofs: Seq[ExProof] = proofs0
    stmts.foreach {
      case stmt @ CondBlock(c, body, els) =>
        val (condCol, newFrames) = condToColumn(c, frames, siblings.toSeq)
        // the semantic read set of THIS condition: expression reads at
        // the IR level; `otherwise` fires on the siblings' matched
        // flags, so it inherits their reads
        val cReads = c match {
          case CondExpr(e) => irReadMetrics(e)
          case CondOtherwise => siblingReads.toSet
          case _ => Set.empty[String]
        }
        c match {
          case CondOtherwise =>
          case _ =>
            siblings += (cond && condCol)
            siblingReads ++= cReads
        }
        c match {
          case CondExpr(e) =>
            // a cond expression's Dloads run whenever the PARENT block
            // reached this statement — regardless of the cond's own
            // outcome (the Jnm jumps after the loads)
            creationReads = condReads ++ cReads ++ stopGuardReads
            scanCreations(cond && stopGuard, e, frames)
            // NOTE: abort terms use the plain block cond, NOT
            // cond && stopGuard — embedding the guard in its own next
            // term doubles the tree per site (exponential on
            // postfix.mtail); an already-aborted line is blocked by the
            // earlier conjunct regardless.
            abortOn(cond, typedCaprefNullCond(e, frames),
              condReads ++ irReadMetrics(e))
            // cond-position Dloads/existence events keep their own seq
            // slot so they order strictly BEFORE the body's first site
            // (an Expire probe there must see the cond's creations).
            // Only when the program HAS TTL dels: the slot exists for
            // the $ex$ probe ordering alone, and burning it
            // unconditionally splits the read memo between a cond and
            // a same-statement body read of the same (metric, keys) —
            // a measured ~12% on the condgate as-of class (AB_SF01_r19)
            if (ttlDelMetrics.nonEmpty) nextSeq()
          case _ =>
        }
        // the cond's guaranteed-evaluated reads are same-line create
        // proofs for the body (cond truthy ⇒ both && operands ran) and,
        // weaker, for the else branch (cond evaluated either way)
        val condProofs = c match {
          case CondExpr(e) => (mustEvalReads(e, ifTrue = true, frames),
            mustEvalReads(e, ifTrue = false, frames))
          case _ => (Nil, Nil)
        }
        walk(body, newFrames, cond && condCol, condReads ++ cReads,
          proofs ++ condProofs._1)
        if (els.nonEmpty)
          walk(els, frames, cond && !coalesce(condCol, lit(false)),
            condReads ++ cReads, proofs ++ condProofs._2)
        // an immediate del anywhere inside this statement may have
        // removed cells — those metrics' proofs no longer hold for
        // statements after it
        proofs = proofs.filterNot(p =>
          plainDelMetrics(Seq(stmt)).contains(p._1))
      case IncStmt(m, keys, delta, _) =>
        // `text += e` is ADD_ASSIGN = `m = m + e` (codegen.go:359-363)
        // → an ordered running concatenation, not a numeric sum
        val op = if (metricType(m) == StringType) OpConcat else OpInc
        // the statement's OWN write must be gated on its own abort
        // condition, not just later statements': the VM's errorf
        // fires during expression evaluation, BEFORE the store opcode
        // runs, so the aborting statement never updates its datum.
        // Pre-r17 only stopGuard (later statements) was gated and the
        // leak hid behind last-write-wins whenever a later line
        // overwrote the cell (found by the extended-pool VM
        // differential, seed 20001: `1 << -1` leaked the
        // masked-count shift value under a nested cond).
        val incNull = Seq(
          typedCaprefNullCond(
            keys.foldLeft(delta)((a, k) => Binop("+", a, k)), frames),
          writeConvNullCond(delta, frames, metricType(m), siteSeq),
          keyConvNullCond(keys, frames)).flatten
          .reduceOption(_ || _)
        val incOwn = incNull.map(nc =>
          !coalesce(nc, lit(false))).getOrElse(lit(true))
        // an abortable value/key makes the site's OWN firing depend on
        // the metrics it reads (the incOwn conjunct) — real dependence
        // edges for the cycle graph, same as the stopGuard ones
        val ownReads = if (incNull.isEmpty) Set.empty[String]
          else (keys :+ delta).flatMap(irReadMetrics).toSet
        creationReads = condReads ++ stopGuardReads ++ ownReads
        scanWriteCreations(cond && stopGuard, m, keys, delta, frames,
          alwaysLands = incNull.isEmpty)
        sites += Site(nextSeq(), program.decl(m), op,
          cond && stopGuard && incOwn, keys, Some(delta), frames,
          timeReg, None, condReads ++ stopGuardReads ++ ownReads)
        abortOn(cond, incNull, condReads ++ ownReads)
        proofs :+= ((m, keys.map(_.toString), frames: AnyRef))
      case SetStmt(m, keys, v) =>
        val setNull = Seq(
          typedCaprefNullCond(
            keys.foldLeft(v)((a, k) => Binop("+", a, k)), frames),
          writeConvNullCond(v, frames, metricType(m), siteSeq),
          keyConvNullCond(keys, frames)).flatten
          .reduceOption(_ || _)
        val setOwnReads = if (setNull.isEmpty) Set.empty[String]
          else (keys :+ v).flatMap(irReadMetrics).toSet
        val setOwn = setNull.map(nc =>
          !coalesce(nc, lit(false))).getOrElse(lit(true))
        creationReads = condReads ++ stopGuardReads ++ setOwnReads
        scanWriteCreations(cond && stopGuard, m, keys, v, frames,
          alwaysLands = setNull.isEmpty)
        sites += Site(nextSeq(), program.decl(m), OpSet,
          cond && stopGuard && setOwn, keys, Some(v), frames, timeReg,
          None, condReads ++ stopGuardReads ++ setOwnReads)
        abortOn(cond, setNull, condReads ++ setOwnReads)
        proofs :+= ((m, keys.map(_.toString), frames: AnyRef))
      case DelStmt(m, keys, after) =>
        // del's own Dload is OVERWRITTEN by the Del/Expire opcode
        // (codegen.go:316-326) — no self-creation; reads INSIDE the
        // key expressions still Dload (and can abort: S2i etc.)
        creationReads = condReads ++ stopGuardReads
        keys.foldLeft(cond && stopGuard)((g, k) =>
          scanCreations(g, k, frames))
        // key-expression events keep their own seq slot: they run
        // BEFORE the Del/Expire opcode, so the existence probe below
        // (at the del's own idx) must see them (slot needed only when
        // $ex$ probes exist — see the CondExpr burn note)
        if (ttlDelMetrics.nonEmpty) nextSeq()
        // keys pop through PopString (no Bool arm) after the key
        // expressions evaluate — either failing aborts the line
        // before the opcode runs (vm.go:769-812)
        val delNull = Seq(
          keys.reduceOption((a, b) => Binop("+", a, b))
            .flatMap(typedCaprefNullCond(_, frames)),
          keyConvNullCond(keys, frames)).flatten.reduceOption(_ || _)
        val delOwn = delNull.map(nc =>
          !coalesce(nc, lit(false))).getOrElse(lit(true))
        val delReads = if (delNull.isEmpty) Set.empty[String]
          else keys.flatMap(irReadMetrics).toSet
        val delIdx = nextSeq()
        sites += Site(delIdx, program.decl(m), OpDel,
          cond && stopGuard && delOwn, keys, None, frames, timeReg,
          after, condReads ++ stopGuardReads ++ delReads)
        if (after.isEmpty) {
          // RemoveDatum: an existence-removal event for later Expires
          exEventSite(m, cond && stopGuard && delOwn, keys, exDead(m),
            frames, condReads ++ stopGuardReads ++ delReads)
          // the removed cell's same-line proofs no longer hold
          proofs = proofs.filterNot(_._1 == m)
        }
        // `Expire` (del … after) on a MISSING cell errorf-aborts the
        // line (ExpireDatum "No datum", metric.go:223-234 via
        // vm.go:796-812). Skipped when a same-line create provably
        // precedes (the common write-then-hint guard idiom); otherwise
        // the existence companion read decides per row.
        val missNull: Option[Column] =
          if (after.isEmpty || proofs.exists(p => p._1 == m &&
              p._2 == keys.map(_.toString) && (p._3 eq frames))) None
          else {
            val ex = metricReadColumn(exName(m), keys, frames, timeReg,
              delIdx, Set.empty)
            Some(coalesce(ex, lit(0L)) === lit(exDead(m)))
          }
        if (delNull.nonEmpty || missNull.nonEmpty)
          abortOn(cond, (delNull.toSeq ++ missNull.toSeq)
            .reduceOption(_ || _),
            condReads ++ delReads ++
              (if (missNull.nonEmpty) Set(exName(m)) else Set.empty))
      case ExprStmt(Call("strptime", Seq(arg, StrLit(layout)))) =>
        creationReads = condReads ++ stopGuardReads
        scanCreations(cond && stopGuard, arg, frames)
        val seq = nextSeq()
        val execCond = cond && stopGuard
        val parsedTs = materialize(GoStrptime(
          strCast(arg, exprColumn(arg, frames, timeReg, seq), frames),
          layout, defaultYear, overrideZone), "strp")
        timeReg = when(execCond && parsedTs.isNotNull, parsedTs)
          .otherwise(timeReg)
        // a failed strptime is a runtime error → abort the line
        abortOn(cond, Some(parsedTs.isNull),
          condReads ++ irReadMetrics(arg))
      case ExprStmt(Call("settime", Seq(arg))) =>
        creationReads = condReads ++ stopGuardReads
        scanCreations(cond && stopGuard, arg, frames)
        val seq = nextSeq()
        val execCond = cond && stopGuard
        val tsLong = exprColumn(arg, frames, timeReg, seq)
          .cast(LongType)
        val ts = timestamp_seconds(tsLong)
        timeReg = when(execCond && ts.isNotNull, ts).otherwise(timeReg)
        // Settime errors unless TOS is exactly int64 (vm.go:600-608) —
        // the checker inserts conversions only around BINARY operands
        // (checker.go:390-395), never builtin args, so a float or
        // string argument always ABORTS the line on the VM; it never
        // truncates or parses. Match: abort unless the argument is
        // Int-typed (then only on a null, e.g. an unbound capref)
        abortOn(cond,
          if (irType(arg, frames) == LongType) Some(tsLong.isNull)
          else Some(lit(true)))
      case ExprStmt(Call("strptime", Seq(arg, layoutE))) =>
        // non-literal layout: the VM pops the layout at runtime
        // (vm.go:556-561), so a capref/metric-read layout is legal —
        // only the literal path gets compile-time validation
        creationReads = condReads ++ stopGuardReads
        scanCreations(
          scanCreations(cond && stopGuard, arg, frames), layoutE, frames)
        val seq = nextSeq()
        val execCond = cond && stopGuard
        val parsedTs = materialize(GoStrptimeDyn(
          strCast(arg, exprColumn(arg, frames, timeReg, seq), frames),
          strCast(layoutE, exprColumn(layoutE, frames, timeReg, seq),
            frames), defaultYear, overrideZone), "strp")
        timeReg = when(execCond && parsedTs.isNotNull, parsedTs)
          .otherwise(timeReg)
        abortOn(cond, Some(parsedTs.isNull))
      case ExprStmt(c @ Call("strptime" | "settime", _)) =>
        // wrong arity — the frontend checker rejects this before the
        // planner ever sees it; keep the typed error as a backstop
        throw new IllegalArgumentException(
          s"unsupported argument shape in ${program.name}: $c")
      case ExprStmt(e) =>
        // any other expression statement still EVALUATES (the parser
        // accepts bare calls/exprs as statements): its Dloads create
        // zero cells and its conversion/divide aborts kill the line,
        // even though the result is discarded (ADVICE r18)
        creationReads = condReads ++ stopGuardReads
        scanCreations(cond && stopGuard, e, frames)
        abortOn(cond, typedCaprefNullCond(e, frames),
          condReads ++ irReadMetrics(e))
        // own slot for the statement's creation events — needed only
        // for $ex$ probe ordering (see the CondExpr burn note)
        if (ttlDelMetrics.nonEmpty) nextSeq()
      case StopStmt =>
        stopGuard = stopGuard && !coalesce(cond, lit(false))
        stopGuardReads ++= condReads
      case NextStmt =>
        throw new IllegalArgumentException(
          "`next` outside a decorator def")
    }
  }

  private def nextSeq(): Int = { val s = siteSeq; siteSeq += 1; s }

  // ---------- `del … after` cell existence (round 19) ----------
  // `Expire` on a MISSING cell is a runtime line-abort in the
  // reference: ExpireDatum returns "No datum for given labelvalues"
  // (internal/metrics/metric.go:223-234) and the VM errorf-aborts
  // (vm.go:796-812). Existence is a cross-line fold — a cell exists
  // at an Expire site iff the last create/remove event for its key
  // strictly before the site (in (line, site) order) is a CREATE,
  // where creates = write-site Dloads and read Dloads (GetDatum
  // appends, metric.go:151-181) and removes = immediate `del`
  // (RemoveDatum). The engine models this as a synthetic hidden
  // companion metric `$ex$m` written 1/0 at exactly those event
  // sites, read through the ordinary cross-line read machinery
  // (windows / as-of folds / carried streaming state / the exact
  // sequential automaton when the abort entangles cyclically) — so
  // the existence fold inherits every distribution and exactness
  // property the value folds already have. Registered ONLY for
  // metrics that are TTL-deleted somewhere (zero overhead otherwise),
  // and skipped entirely when a same-line create provably precedes
  // the del (the overwhelmingly common `m[$k] = …; del m[$k] after d`
  // guard idiom, e.g. examples/vsftpd.mtail:93-94).

  /** metrics with a `del … after` site anywhere in the program. */
  private val ttlDelMetrics: Set[String] = {
    def inS(ss: Seq[Stmt]): Set[String] = ss.flatMap {
      case DelStmt(m, _, Some(_)) => Seq(m)
      case CondBlock(_, b, e) => inS(b) ++ inS(e)
      case _ => Nil
    }.toSet
    inS(program.stmts)
  }
  private def exName(m: String): String = "$ex$" + m
  private def isExName(n: String): Boolean = n.startsWith("$ex$")
  private val exDeclMemo = mutable.Map[String, MetricDecl]()
  private def exDecl(m: String): MetricDecl =
    exDeclMemo.getOrElseUpdate(m, {
      val d = program.decl(m)
      MetricDecl(Gauge, exName(m), d.keys, hidden = true)
    })
  /** scalar Int/Float counters are zero-initialized at codegen
    * (codegen.go:109-126) — their single cell EXISTS from program
    * start. Their existence encoding is inverted (create→0, del→1,
    * default 0 = alive) so the fold's zero default means "exists";
    * every other metric uses create→1, del→0, default 0 = missing.
    * The encoding is a function of the METRIC only (never of carried
    * state), so cross-batch carried 0/1 values stay consistent.
    */
  private def zeroInitScalar(m: String): Boolean = {
    val d = program.decl(m)
    d.keys.isEmpty && d.kind == Counter && metricType(m) != StringType
  }
  private def exAlive(m: String): Long = if (zeroInitScalar(m)) 0L else 1L
  private def exDead(m: String): Long = 1L - exAlive(m)
  /** carried cross-batch state, extended for the synthetic existence
    * metrics: the runner carries `$ex$m` relations directly (they are
    * ordinary read metrics to [[finalReadStateDfs]]); the fallback
    * derives existence from the base metric's carried cells for
    * streams whose earlier batches predate the TTL del (reload).
    */
  private def carriedState(name: String): Option[DataFrame] =
    initialState.get(name).orElse {
      if (isExName(name))
        initialState.get(name.stripPrefix("$ex$")).map(st =>
          st.select(col("k"), lit(1L).as("v"),
            (if (st.columns.contains("ts")) col("ts")
             else lit(null).cast(LongType)).as("ts")))
      else None
    }
  /** register the synthetic existence-event site (value
    * [[exAlive]]/[[exDead]]) for a create/remove of `m` at the
    * current statement seq, gated exactly like the event itself.
    */
  private def exEventSite(m: String, gate: Column, keys: Seq[Expr],
      value: Long, frames: List[Frame], reads: Set[String]): Unit =
    if (ttlDelMetrics(m))
      sites += Site(siteSeq, exDecl(m), OpSet, gate, keys,
        Some(IntLit(value)), frames, timeReg, None, reads)

  /** same-line create proofs: (metric, key-expr fingerprint, frames
    * identity) triples for cells PROVABLY created before the current
    * statement whenever it executes — accumulated along the
    * ancestor-statement path by [[walk]]. A `del … after` whose
    * (metric, keys, frames) matches a proof can never see a missing
    * cell, so it registers no existence machinery at all.
    */
  private type ExProof = (String, Seq[String], AnyRef)
  /** reads of `e` that are guaranteed evaluated when `e` was
    * evaluated (`ifTrue=false`) or evaluated-and-truthy
    * (`ifTrue=true`), under the ENTRY frames — conservatively stops
    * at short-circuit right operands whose left side pushes pattern
    * frames (the reads there resolve against frames the caller does
    * not hold).
    */
  private def mustEvalReads(e: Expr, ifTrue: Boolean,
      frames: List[Frame]): Seq[ExProof] = {
    def hasPattern(x: Expr): Boolean = x match {
      case PatternLit(_) | LineMatch(_, _) => true
      case Binop(_, l, r) => hasPattern(l) || hasPattern(r)
      case Unop(_, y) => hasPattern(y)
      case Call(_, as) => as.exists(hasPattern)
      case MetricRead(_, ks) => ks.exists(hasPattern)
      case _ => false
    }
    def go(x: Expr, t: Boolean): Seq[ExProof] = x match {
      case Binop("&&", l, r) =>
        go(l, t) ++ (if (t && !hasPattern(l)) go(r, t) else Nil)
      case Binop("||", l, _) => go(l, false)
      case Binop("=~" | "!~", subj, _) => go(subj, false)
      case Binop(_, l, r) => go(l, false) ++ go(r, false)
      case Unop(_, y) => go(y, false)
      case Call(_, as) => as.flatMap(go(_, false))
      case MetricRead(m, ks) =>
        ((m, ks.map(_.toString), frames: AnyRef): ExProof) +:
          ks.flatMap(go(_, false))
      case _ => Nil
    }
    go(e, ifTrue)
  }
  /** metrics immediately (`del`, no TTL) deleted anywhere inside. */
  private def plainDelMetrics(ss: Seq[Stmt]): Set[String] =
    ss.flatMap {
      case DelStmt(m, _, None) => Seq(m)
      case CondBlock(_, b, e) => plainDelMetrics(b) ++ plainDelMetrics(e)
      case _ => Nil
    }.toSet

  // ---------- typing (IR-level, mirrors checker unification result) ----

  // NOTE: declared before the walk() invocations below — conds evaluated
  // during the walk (`user == ""`) already consult metricType and
  // record metric reads.
  private val metricTypeMemo = mutable.Map[String, DataType]()

  /** metrics read cross-line anywhere in the program (pass-2 names). */
  private val readMetricsBuf = mutable.Set[String]()
  def readMetrics: Set[String] = readMetricsBuf.toSet

  /** complete site list from the first walk pass; metric reads resolve
    * against this so a read sees write sites that appear LATER in the
    * program text (mysql_slowqueries' `partial` reset).
    */
  private var resolvedSites: Seq[Site] = Seq.empty
  private def allSites: Seq[Site] =
    if (resolvedSites.nonEmpty) resolvedSites else sites.toSeq

  // pass 1: collect sites (cond/read lowering is provisional)
  walk(program.stmts, Nil, lit(true))
  // pass 2: rebuild with the full site list visible to metric reads
  resolvedSites = sites.toSeq
  sites.clear()
  creations.clear() // pass-1 creation conds hold provisional refs
  siteSeq = 0
  timeReg = lit(null).cast(TimestampType)
  stopGuard = lit(true)
  stopGuardReads = Set.empty
  metricTypeMemo.clear()
  abortCond = lit(false)
  curDf = baseLines // pass-1 materialized columns are provisional too
  colSeq = 0
  frameMemo.clear()
  pending.clear()
  pendingJoins.clear()
  pendingLazyJoins.clear()
  // pass-1 asof registrations hold PROVISIONAL column refs; pass 2
  // re-registers every read it compiles under the same content-derived
  // name (stableName), so clearing here means a stale pass-1 spec can
  // never flush — an unresolvable ref fails loudly instead
  pendingAsofs.clear()
  koffSeq = 0
  kpfxSeq = 0
  readMemo.clear()
  metricReadMemo.clear()
  snaps.clear() // pass-1 snapshots hold provisional columns
  walk(program.stmts, Nil, lit(true))

  /** Inferred metric value types — the reference checker's
    * order-sensitive unification (first typed use pins the metric's
    * type variable; later conflicting writes coerce at RUNTIME, they
    * do not promote — see [[graft.mtail.TypeInfer]]). Replaced the
    * pre-r18 "any String/Float write promotes" site fixpoint, which
    * the round-18 biased fuzz hunt proved diverges from the reference
    * on mixed-type write sets (`c0 += int(x)` then `c0 += $s` is an
    * INT metric with a runtime S2i on the second site, not a String
    * metric).
    */
  private lazy val inferredTypes: Map[String, Char] =
    graft.mtail.TypeInfer.infer(program)

  def metricType(name: String): DataType =
    if (isExName(name)) LongType // synthetic existence companion
    else metricTypeMemo.getOrElseUpdate(name, {
      program.decl(name).kind match {
        case Text => StringType
        case Histogram => DoubleType
        case _ => inferredTypes.getOrElse(name, 'I') match {
          case 'S' => StringType
          case 'F' => DoubleType
          case _ => LongType
        }
      }
    })

  private def irType(e: Expr, frames: List[Frame]): DataType = e match {
    case StrLit(_) => StringType
    case IntLit(_) => LongType
    case FloatLit(_) => DoubleType
    case PatternLit(_) | LineMatch(_, _) => BooleanType
    case Capref(n) =>
      frames.view.flatMap(_.resolve(n)).headOption.map(_._2)
        .getOrElse(StringType)
    case MetricRead(m, _) => metricType(m)
    case Binop(op, l, r) => op match {
      case "<" | "<=" | ">" | ">=" | "==" | "!=" | "&&" | "||" | "=~" |
        "!~" => BooleanType
      case "+" if irType(l, frames) == StringType ||
        irType(r, frames) == StringType => StringType
      case _ =>
        if (irType(l, frames) == DoubleType ||
          irType(r, frames) == DoubleType) DoubleType
        else LongType
    }
    case Unop("!", _) => BooleanType
    case Unop("~", _) => LongType // PopInt-coerced, result is Int
    case Unop(_, x) => irType(x, frames)
    case Call(fn, args) => fn match {
      case "timestamp" | "strtol" | "len" | "int" => LongType
      case "float" => DoubleType
      case "tolower" | "subst" | "string" | "getfilename" => StringType
      case "strptime" | "settime" => TimestampType
      case "bool" => BooleanType
      case _ => if (args.nonEmpty) irType(args.head, frames) else StringType
    }
  }

  /** strconv.ParseInt base-10 strictness (vm.go:128-147, S2i
    * vm.go:908-931): optional sign + digits only — "3.5", " 5" and
    * "0x1f" all FAIL where Spark's cast would truncate or trim. Null
    * on failure; callers pair it with a line-abort term.
    */
  private def strictParseInt(c: Column): Column =
    when(c.rlike("^[+-]?[0-9]+$"), c.cast(LongType))

  /** String-ify with the VM's conversion semantics: float operands
    * render as Go shortest `%g` via [[GoFloatString]] — the F2s opcode
    * the reference's codegen emits for label keys, `string()`, and
    * string-unified `+` (vm.go:889-896, codegen.go:273-280,602). Other
    * types keep Spark's cast, which already matches Go (`%d` for
    * ints, identity for strings).
    */
  private def strCast(e: Expr, c: Column, frames: List[Frame]): Column =
    if (irType(e, frames) == DoubleType) GoFloatString(c)
    else c.cast(StringType)

  /** Cast a written value to the metric's type. A float stored into a
    * text metric hits Sset WITHOUT a checker conversion (the ASSIGN
    * arm never wraps its rhs, checker.go:505-520), so the runtime
    * PopString coercion applies — `FormatFloat('G')`, UPPERCASE
    * exponent (vm.go:171-186) — unlike the F2s paths.
    */
  private def valCast(e: Expr, c: Column, frames: List[Frame],
      vt: DataType): Column =
    if (vt == StringType) {
      if (irType(e, frames) == DoubleType) GoFloatString(c, upper = true)
      else c.cast(StringType)
    } else c.cast(vt)

  // ---------- phase 2: expression lowering ----------

  /** Lower an IR expression to a Column. `siteIdx` bounds same-line
    * metric reads: a read at sequence i sees same-line writes from
    * sites with idx < i.
    */
  private def exprColumn(e: Expr, frames: List[Frame], tReg: Column,
      siteIdx: Int, reading: Set[String] = Set.empty): Column = e match {
    case StrLit(v) => lit(v)
    case IntLit(v) => lit(v)
    case FloatLit(v) => lit(v)
    case PatternLit(_) =>
      throw new IllegalArgumentException("bare pattern in value position")
    case LineMatch(re2, negated) =>
      val f = mkFrame(col("line"), re2)
      if (negated) !f.matched else f.matched
    case Capref(n) =>
      frames.view.flatMap(_.resolve(n)).headOption match {
        case Some((c, _)) => c
        case None => throw new IllegalArgumentException(
          s"unresolved capref $$$n in ${program.name}")
      }
    case MetricRead(m, keys) =>
      metricReadColumn(m, keys, frames, tReg, siteIdx, reading)
    case Binop(op, l, r) =>
      lazy val lc = exprColumn(l, frames, tReg, siteIdx, reading)
      lazy val rc = exprColumn(r, frames, tReg, siteIdx, reading)
      op match {
        case "+" =>
          // mtail's + concatenates when the unified type is String
          // (codegen.go:373-378 maps PLUS@String → code.Cat;
          // vm.go:907-918 pops both as strings); Spark's column + on
          // strings is arithmetic (an analysis error on string+string
          // since 4.x), so the typed IR picks the op
          if (irType(e, frames) == StringType)
            concat(strCast(l, lc, frames), strCast(r, rc, frames))
          else lc + rc
        case "-" => lc - rc
        case "*" => lc * rc
        case "/" =>
          // int div-by-zero is a runtime error (vm.go:675-683) → null,
          // which drops the update like an aborted line; float division
          // is Fdiv = Go's IEEE a/b, but Spark's Divide nulls on ANY
          // zero divisor in non-ANSI mode, so the ±Inf/NaN arm must be
          // explicit: lc * (rc⁻¹ via Math.pow) is ±Inf with the sign of
          // lc×(signed zero rc), and NaN for 0/0 — exactly IEEE
          if (irType(e, frames) == LongType)
            when(rc =!= 0, (lc / rc).cast(LongType))
          else when(rc === 0, lc * pow(rc, -1.0)).otherwise(lc / rc)
        case "%" =>
          // Go's % keeps the dividend's sign (not pmod). Int mod-by-zero
          // errors (vm.go:684-695) → null, dropping the update like the
          // aborted line; float mod is math.Mod (vm.go:659-660) whose
          // zero-divisor result is NaN with NO error — Spark's Remainder
          // nulls on any zero divisor, so the NaN arm must be explicit
          if (irType(e, frames) == LongType) when(rc =!= 0, lc % rc)
          else when(rc === 0, lit(Double.NaN)).otherwise(lc % rc)
        case "**" =>
          if (irType(e, frames) == LongType) pow(lc, rc).cast(LongType)
          else pow(lc, rc)
        case "&" | "|" | "^" | "<<" | ">>" =>
          // bitwise operands unify with Int but Strings coerce in
          // (types.go:470) and the VM's PopInt parses them at runtime
          // with strconv.ParseInt (vm.go:128-147) — STRICT base-10
          // integers only ("3.5" and " 5" both error), where Spark's
          // cast would truncate/trim. The strict parse nulls on
          // failure and typedCaprefNullCond carries the matching
          // line-abort term (round 18 — previously the update was
          // dropped but the LINE survived, unlike the VM)
          def asLong(x: Expr, c: Column): Column =
            if (irType(x, frames) == StringType) strictParseInt(c)
            else c
          val bl = asLong(l, lc)
          val br = asLong(r, rc)
          op match {
            case "&" => bl.bitwiseAND(br)
            case "|" => bl.bitwiseOR(br)
            case "^" => bl.bitwiseXOR(br)
            case "<<" =>
              // Go shifts don't mask the count — b in [64, MaxInt32)
              // fills with zeros/sign bits (vm.go:700-711; counts < 0
              // or ≥ MaxInt32 are runtime errors, see
              // typedCaprefNullCond) — while Java/Spark shifts mask to
              // the low 6 bits
              when(br >= 64L, lit(0L))
                .otherwise(call_function("shiftleft", bl,
                  br.cast("int")))
            case _ =>
              when(br >= 64L, when(bl < 0, lit(-1L)).otherwise(lit(0L)))
                .otherwise(call_function("shiftright", bl,
                  br.cast("int")))
          }
        case "<" | "<=" | ">" | ">=" | "==" | "!=" =>
          // the checker promotes BOTH operands to LUB(Tl, Tr) with
          // conversion nodes (checker.go:461-503) — and the coercion
          // lattice makes LUB(String, numeric) = String
          // (types.go:465-474) — so a string-vs-number comparison is a
          // LEXICOGRAPHIC Scmp ("10" > "5" is FALSE), where Spark's
          // own coercion would compare numerically. Floats stringify
          // as %g on that path like any F2s conversion.
          val lexical = irType(l, frames) == StringType ||
            irType(r, frames) == StringType
          val (cl, cr) =
            if (lexical)
              (strCast(l, lc, frames), strCast(r, rc, frames))
            else (lc, rc)
          op match {
            case "<" => cl < cr
            case "<=" => cl <= cr
            case ">" => cl > cr
            case ">=" => cl >= cr
            case "==" => cl === cr
            case _ => cl =!= cr
          }
        case "&&" => lc && rc
        case "||" => lc || rc
        case "=~" => r match {
          case PatternLit(re2) => lc.rlike(Re2.parse(re2).java)
          case _ => throw new IllegalArgumentException("=~ needs pattern")
        }
        case "!~" => r match {
          case PatternLit(re2) => !lc.rlike(Re2.parse(re2).java)
          case _ => throw new IllegalArgumentException("!~ needs pattern")
        }
        case other => throw new IllegalArgumentException(s"binop $other")
      }
    case Unop("!", x) => !exprColumn(x, frames, tReg, siteIdx, reading)
    case Unop("-", x) => -exprColumn(x, frames, tReg, siteIdx, reading)
    case Unop("~", x) =>
      // string operands parse at runtime like any PopInt — STRICT
      // ParseInt (vm.go:128-147), abort term in typedCaprefNullCond
      val xc = exprColumn(x, frames, tReg, siteIdx, reading)
      (if (irType(x, frames) == StringType) strictParseInt(xc) else xc)
        .bitwiseXOR(lit(-1L))
    case Unop(op, _) => throw new IllegalArgumentException(s"unop $op")
    case Call(fn, args) =>
      def a(i: Int) = exprColumn(args(i), frames, tReg, siteIdx, reading)
      fn match {
        case "timestamp" =>
          // seconds, like the VM's Int time values (vm.go:591-598)
          coalesce(unix_timestamp(tReg),
            unix_timestamp(current_timestamp()))
        case "len" =>
          // Go's len(s) is the BYTE length (vm.go:823-830), not the
          // character count — they differ on multibyte UTF-8
          call_function("octet_length", a(0)).cast(LongType)
        case "tolower" => lower(a(0))
        case "getfilename" => col("filename")
        case "strtol" => args(1) match {
          case IntLit(base) =>
            // Go's ParseInt handles a leading sign; Spark's conv reads
            // the magnitude as unsigned, so split the sign off first
            // (parse FAILURES abort the line — typedCaprefNullCond
            // validates the digit set against the base)
            val s = a(0)
            val mag = conv(regexp_replace(s, "^[+-]", ""),
              base.toInt, 10).cast(LongType)
            when(s.startsWith("-"), -mag).otherwise(mag)
          case _ =>
            throw new IllegalArgumentException("strtol base literal")
        }
        case "subst" => args(0) match {
          case PatternLit(re2) =>
            // regex subst with LITERAL replacement (vm.go:953)
            regexp_replace(a(2), lit(Re2.parse(re2).java),
              lit(java.util.regex.Matcher
                .quoteReplacement(litString(args(1)))))
          case _ => replace(a(2), a(0), a(1))
        }
        case "int" =>
          // S2i is strconv.ParseInt (vm.go:908-931): strict base-10 —
          // "3.5" is a runtime error, NOT a truncation to 3 (Spark's
          // cast). Null on failure; the int()-abort term in
          // typedCaprefNullCond fires on the null.
          if (irType(args(0), frames) == StringType)
            strictParseInt(a(0))
          else a(0).cast(LongType)
        case "float" => a(0).cast(DoubleType)
        case "string" => strCast(args(0), a(0), frames)
        case other => throw new IllegalArgumentException(s"builtin $other")
      }
  }

  private def litString(e: Expr): String = e match {
    case StrLit(s) => s
    case other => throw new IllegalArgumentException(
      s"expected string literal, got $other")
  }

  /** Cross-line metric read: running last-written value for this key.
    *
    * Cross-pass DEFERRED binding: the memo wrapper returns a
    * CONTENT-NAMED column (stableName over the read's memo key). In
    * pass 2 the name binds to the impl result compiled against the
    * FULL site list; in pass 1 the impl is compiled and discarded, and
    * the name stays unbound until pass 2 registers it. Effect: a frozen
    * pass-1 cond that reads ANY metric — keyless or keyed, window,
    * as-of or fold branch — resolves to the exact full-visibility read,
    * including write sites that appear LATER in program text (pre-r15
    * those were frozen at pass-1 visibility: reading a metric whose
    * write cond read a later-written keyless metric silently returned
    * zero). A read that waits on itself resolves through the exact
    * cycle machinery in the flush loop, or the plan build fails.
    */
  private def metricReadColumn(metric: String, keys: Seq[Expr],
      frames: List[Frame], tReg: Column, siteIdx: Int,
      reading: Set[String]): Column = {
    val memoKey = (metric, keys.map(_.toString).mkString(""), siteIdx,
      reading.toSeq.sorted.mkString(","))
    val name = stableName("__mrd", memoKey.toString)
    metricReadMemo.get(memoKey) match {
      case Some(c) => c
      case None if metricReadInFlight(memoKey) =>
        // re-entrant request while THIS read's impl is on the compile
        // stack (a value/key-mediated cycle rerouted here by the
        // canonical redirect in metricReadColumnImpl): the in-flight
        // computation registers the name; referencing it defers
        // resolution to the flush loop like any other pending read
        col(name)
      case None =>
        metricReadInFlight += memoKey
        try {
          readNameMetric(name) = metric
          val impl = metricReadColumnImpl(metric, keys, frames, tReg,
            siteIdx, reading, memoKey.toString)
          if (resolvedSites.nonEmpty) {
            pending(name) = impl
            seqReadInfo(name) =
              SeqReadInfo(metric, siteIdx, keys, frames, tReg, reading)
          }
          val c = col(name)
          metricReadMemo(memoKey) = c
          c
        } finally metricReadInFlight -= memoKey
    }
  }

  /** memo keys whose impl compilation is on the stack right now — the
    * re-entrancy guard that lets value/key-mediated metric cycles
    * compile to deferred names instead of overflowing or rejecting.
    */
  private lazy val metricReadInFlight =
    mutable.Set[(String, String, Int, String)]()

  /** the full write-site program of `metric` in the replayable form
    * [[SeqCycleEval]] consumes. Compiled through the same exprColumn
    * calls as [[metricReadColumnImpl]]'s branches (memo-shared), so
    * this registers no columns the impl does not.
    */
  private def seqSitesOf(metric: String,
      reading: Set[String]): Seq[SeqCycleEval.SiteSpec] = {
    val vt = metricType(metric)
    allSites.filter(_.metric.name == metric).flatMap { s =>
      val cnd = coalesce(s.cond, lit(false))
      val keyEnc = PlanBuilder.joinKeys(s.keys.map(k =>
        strCast(k, exprColumn(k, s.frames, s.timeReg, s.idx, reading),
          s.frames)))
      s.op match {
        case OpInc => Some(SeqCycleEval.SiteSpec(s.idx, "inc", metric,
          keyEnc, cnd, exprColumn(s.valueIr.get, s.frames, s.timeReg,
            s.idx, reading).cast(vt)))
        case OpSet => Some(SeqCycleEval.SiteSpec(s.idx, "set", metric,
          keyEnc, cnd, valCast(s.valueIr.get,
            exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx,
              reading), s.frames, vt)))
        case OpConcat => Some(SeqCycleEval.SiteSpec(s.idx, "concat",
          metric, keyEnc, cnd, valCast(s.valueIr.get,
            exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx,
              reading), s.frames, StringType)))
        case OpDel if s.afterSeconds.isEmpty =>
          // an immediate del is a fresh-datum barrier for reads
          // (store.go GetDatum recreates at zero)
          Some(SeqCycleEval.SiteSpec(s.idx, "set", metric, keyEnc, cnd,
            zeroOf(vt)))
        case _ => None // `del … after` is a TTL hint, not a write
      }
    }
  }

  private def metricReadColumnImpl(metric: String, keys: Seq[Expr],
      frames: List[Frame], tReg: Column, siteIdx: Int,
      reading: Set[String], nameKey: String): Column = {
    readMetricsBuf += metric
    if (reading.contains(metric))
      // a value/key-mediated cycle: this read of `metric` sits inside
      // machinery already compiling a read of `metric` (e.g.
      // `a = b[string(a)]` — a's write value probes b keyed by a, so
      // compiling a's write relation re-reads a). The reading set is
      // compile CONTEXT, not semantics: the value denoted is exactly
      // the canonical read of (metric, keys, siteIdx), so compile to
      // ITS deferred content-name — the flush loop then sees the
      // cycle as ordinary pending-name dependence and routes it to
      // the exact sequential automaton (SeqCycleEval binds state
      // names inside key/cond/value expressions already; before r19
      // this threw and REJECTED reference-legal programs — only
      // cond-mediated cycles, whose site conds are compiled once at
      // walk time with deferred names, ever reached the automaton).
      return metricReadColumn(metric, keys, frames, tReg, siteIdx,
        Set.empty)
    val vt = metricType(metric)

    val keyCols = keys.map(k =>
      strCast(k, exprColumn(k, frames, tReg, siteIdx, reading), frames))

    def writeKeyColsOf(s: Site): Seq[Column] = s.keys.map(k =>
      strCast(k, exprColumn(k, s.frames, s.timeReg, s.idx,
        reading + metric), s.frames))
    // the cheap window read partitions rows by the READ's key columns
    // and is only sound when every write site's key expression renders
    // the same columns per row — `m[$x]` written vs `m[$x/2]` read
    // would attribute row writes to the wrong cell (found by the
    // batch-split fuzz: the carried-state join across batches was
    // right and the one-shot window wasn't)
    def sameKeyExprs(ws: Seq[Site]): Boolean = ws.forall { s =>
      val wk = writeKeyColsOf(s)
      wk.length == keyCols.length &&
        wk.zip(keyCols).forall { case (a, b) => a.toString == b.toString }
    }

    val incWrites = allSites.filter(s => s.metric.name == metric &&
      s.op == OpInc)
    if (incWrites.nonEmpty) {
      if (allSites.exists(s => s.metric.name == metric &&
          s.op == OpConcat))
        // unreachable from checked programs: `++`/`+=`-as-Inc implies
        // a numeric metric, `+=`-as-concat implies text
        throw new IllegalArgumentException(
          s"reads of metric $metric mixing '++' with text '+=' " +
            "not supported")
      val carried = carriedState(metric)
        .map(st => coalesce(
          materializeStateJoin(PlanBuilder.joinKeys(keyCols), st,
            nameKey),
          zeroOf(vt)))
        .getOrElse(zeroOf(vt))
      def incAsofWrites: Seq[AsofWrite] = incWrites.map(s =>
        AsofWrite(writeKeyColsOf(s), s.idx,
          coalesce(s.cond, lit(false)),
          exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx,
            reading + metric).cast(vt), isSet = false))
      val setWrites = allSites.filter(s => s.metric.name == metric &&
        s.op == OpSet)
      // immediate `del` removes the datum; the next access recreates
      // it at zero (store.go GetDatum), so FOR A READ a del is
      // indistinguishable from `= 0`: it barriers off the carried
      // base and everything before it, exactly like a set
      val delWrites = allSites.filter(s => s.metric.name == metric &&
        s.op == OpDel && s.afterSeconds.isEmpty)
      if (setWrites.nonEmpty || delWrites.nonEmpty) {
        // mixed `=`/del + `++`: the datum is the LAST set (del → 0)
        // plus every increment after it; before any set, the carried
        // base plus all increments (Iset replaces, Inc adds — per
        // datum)
        val f = materializeAsofRead(AsofSpec(keyCols, siteIdx,
          incAsofWrites ++ setWrites.map(s =>
            AsofWrite(writeKeyColsOf(s), s.idx,
              coalesce(s.cond, lit(false)),
              valCast(s.valueIr.get,
                exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx,
                  reading + metric), s.frames, vt), isSet = true))
            ++ delWrites.map(s =>
              AsofWrite(writeKeyColsOf(s), s.idx,
                coalesce(s.cond, lit(false)),
                zeroOf(vt), isSet = true)),
          mode = "fold", vt), nameKey)
        val inc = coalesce(f.getField("inc"), zeroOf(vt))
        return when(f.getField("set").isNull, carried + inc)
          .otherwise(f.getField("set") + inc)
      }
      // Iget on an increment-built datum: the running TOTAL at this
      // point — previous rows' deltas, earlier same-line sites, and
      // the carried cross-batch total
      if (!sameKeyExprs(incWrites)) {
        val asof = materializeAsofRead(AsofSpec(keyCols, siteIdx,
          incAsofWrites, mode = "sum", vt), nameKey)
        return coalesce(asof, zeroOf(vt)) + carried
      }
      def deltaOf(s: Site): Column = coalesce(
        when(s.cond, exprColumn(s.valueIr.get, s.frames, s.timeReg,
          s.idx, reading + metric).cast(vt)), zeroOf(vt))
      val w = Window.partitionBy(keyCols: _*).orderBy(col("ord"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val rowDelta = incWrites.map(deltaOf).reduce(_ + _)
      // keyless: the two-phase prefix scan, NOT the single-partition
      // global window partitionBy() would build; keyed: the key
      // window, materialized once as a column (readMaterialized)
      val prev =
        if (keyCols.isEmpty) keylessPrefix(metric, "sum", rowDelta, vt)
        else readMaterialized(metric, "sum",
          keyCols.map(_.toString).mkString(","),
          coalesce(sum(rowDelta).over(w), zeroOf(vt)))
      val sameLine =
        if (siteIdx < 0) zeroOf(vt)
        else incWrites.filter(_.idx < siteIdx).map(deltaOf)
          .reduceOption(_ + _).getOrElse(zeroOf(vt))
      return prev + sameLine + carried
    }
    // del-after sites are TTL hints, not immediate deletes — exclude
    val writes = allSites.filter(s => s.metric.name == metric)
      .filter(s => s.op == OpSet ||
        (s.op == OpDel && s.afterSeconds.isEmpty))
    val concatWrites = allSites.filter(s => s.metric.name == metric &&
      s.op == OpConcat)
    if (concatWrites.nonEmpty) {
      // `+=`-built text: the datum is the last set (del → fresh "")
      // concatenated with every `+=` suffix AFTER it, in statement
      // order; before any set, the carried cross-batch string plus
      // all suffixes (ADD_ASSIGN is `m = m + e`, codegen.go:359-363)
      val f = materializeAsofRead(AsofSpec(keyCols, siteIdx,
        concatWrites.map(s =>
          AsofWrite(writeKeyColsOf(s), s.idx,
            coalesce(s.cond, lit(false)),
            // Cat pops the suffix through PopString: floats 'G'
            // UPPERCASE (vm.go:171-186), as in siteFrame
            valCast(s.valueIr.get,
              exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx,
                reading + metric), s.frames, StringType), isSet = false))
          ++ writes.map(s =>
            AsofWrite(writeKeyColsOf(s), s.idx,
              coalesce(s.cond, lit(false)),
              if (s.op == OpDel) lit("")
              else valCast(s.valueIr.get,
                exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx,
                  reading + metric), s.frames, StringType),
              isSet = true)),
        mode = "concat", StringType), nameKey)
      val carriedC = carriedState(metric)
        .map(st => coalesce(
          materializeStateJoin(PlanBuilder.joinKeys(keyCols), st,
            nameKey),
          lit("")))
        .getOrElse(lit(""))
      val inc = coalesce(f.getField("inc"), lit(""))
      return when(f.getField("set").isNull, concat(carriedC, inc))
        .otherwise(concat(f.getField("set"), inc))
    }
    if (writes.isEmpty) return zeroOf(metricType(metric))

    def writeVal(s: Site): Column = s.op match {
      case OpDel => zeroOf(metricType(metric)) // fresh datum after delete
      case _ => valCast(s.valueIr.get,
        exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx,
          reading + metric), s.frames, metricType(metric))
    }

    val carried = carriedState(metric).map { st =>
      materializeStateJoin(PlanBuilder.joinKeys(keyCols), st, nameKey)
    }
    if (!sameKeyExprs(writes)) {
      val asof = materializeAsofRead(AsofSpec(keyCols, siteIdx,
        writes.map(s => AsofWrite(writeKeyColsOf(s), s.idx,
          coalesce(s.cond, lit(false)), writeVal(s), isSet = true)),
        mode = "last", vt), nameKey)
      return coalesce((asof +: carried.toSeq :+ zeroOf(vt)): _*)
    }

    def whens(ss: Seq[Site]): Option[Column] =
      ss.sortBy(-_.idx).map(s => when(s.cond, writeVal(s)))
        .reduceOption(coalesce(_, _))

    val w = Window.partitionBy(keyCols: _*).orderBy(col("ord"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // keyless: two-phase prefix scan instead of a single-partition
    // global window (see keylessPrefix); keyed: the key window,
    // materialized once as a column (readMaterialized)
    val prevRows = whens(writes).map(c =>
      if (keyCols.isEmpty) keylessPrefix(metric, "last", c, vt)
      else readMaterialized(metric, "last",
        keyCols.map(_.toString).mkString(","),
        last(c, ignoreNulls = true).over(w)))
    val sameLine =
      if (siteIdx < 0) None else whens(writes.filter(_.idx < siteIdx))
    coalesce((sameLine.toSeq ++ prevRows.toSeq ++ carried.toSeq :+
      zeroOf(metricType(metric))): _*)
  }

  private def zeroOf(t: DataType): Column = t match {
    case LongType => lit(0L)
    case DoubleType => lit(0.0)
    case _ => lit("")
  }

  // ---------- phase 3: per-metric aggregation ----------

  /** ordKey = (line order, site index) as a lexicographic struct, so
    * same-line updates resolve in statement order. A struct, not
    * ord*K+idx arithmetic: monotonically_increasing_id packs the
    * partition id in the high bits, which a multiply would shift off
    * at cluster-scale partition counts.
    */
  private def ordKey(idx: Int): Column =
    struct(col("ord").as("o"), lit(idx).as("s"))

  private def siteFrame(s: Site, vt: DataType): DataFrame = {
    val labelCols = s.keys.zipWithIndex.map { case (k, i) =>
      strCast(k, exprColumn(k, s.frames, s.timeReg, s.idx), s.frames)
        .as(s"k$i")
    }
    val delta = s.op match {
      case OpDel => zeroOf(vt)
      // ADD_ASSIGN@String compiles to Cat with NO checker conversion
      // (ConvExpr wraps only arithmetic and comparison operands,
      // checker.go:390,493); Cat pops through PopString, whose float
      // arm is FormatFloat('G') — UPPERCASE exponent (vm.go:171-186),
      // same as Sset. Pre-r18 this used the F2s lowercase path.
      case OpConcat => valCast(s.valueIr.get,
        exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx),
        s.frames, StringType)
      case _ => valCast(s.valueIr.get,
        exprColumn(s.valueIr.get, s.frames, s.timeReg, s.idx),
        s.frames, vt)
    }
    // project BEFORE filtering: values/keys may contain cross-line
    // metric reads whose windows must see every line
    df.select((labelCols :+ delta.as("v") :+
        s.timeReg.as("ts") :+ ordKey(s.idx).as("ordk") :+
        coalesce(s.cond, lit(false)).as("__cond")): _*)
      .filter(col("__cond")).drop("__cond")
      // null value = failed capref conversion — the reference aborts
      // the line (vm.go:97-129); drop the update
      .filter(col("v").isNotNull || lit(s.op == OpDel))
  }

  /** Immediate (non-TTL) del sites of a metric. */
  private def delSites(name: String): Seq[Site] =
    sites.filter(s => s.metric.name == name && s.op == OpDel &&
      s.afterSeconds.isEmpty).toSeq

  /** exported metrics with immediate del sites — the streaming runner
    * counts these as extra readers of the shared extraction.
    */
  def deleteMetricCount: Int =
    program.decls.count(d => !d.hidden && delSites(d.name).nonEmpty)

  /** Per-batch delete propagation for streaming: for each exported
    * metric with immediate `del` sites, the DISTINCT label tuples
    * whose delete fired in this batch (keyless metrics yield one dummy
    * row when the del fired at all). The runner removes these keys
    * from the cumulative store BEFORE merging the batch snapshot, so a
    * `del` in batch N+1 erases a cell merged in batch ≤ N exactly like
    * the one-shot plan drops it — without this the store-level cell
    * would silently survive every later delete. Export-sized: bounded
    * by keys actually deleted this batch, so the runner's collect is
    * as bounded as the snapshot collect itself.
    */
  def batchDeleteDfs(): Seq[(Ir.MetricDecl, DataFrame)] =
    program.decls.filter(!_.hidden).flatMap { decl =>
      val dels = delSites(decl.name)
      if (dels.isEmpty) None
      else Some {
        val vt = metricType(decl.name)
        val keyNames = decl.keys.indices.map(i => s"k$i")
        val u = dels.map(siteFrame(_, vt)).reduce(_ unionAll _)
        val keyed =
          if (keyNames.isEmpty) u.select(lit(1).as("k0"))
          else u.select(keyNames.map(col): _*)
        decl -> keyed.distinct()
      }
    }

  def metricFrame(decl: Ir.MetricDecl): DataFrame =
    withCreations(decl, metricFrameBase(decl))

  /** Merge [[Creation]] rows into a metric's fold frame: any cell the
    * VM's Dload touched EXISTS in the export even if never
    * successfully written (zero value, no stamp, `__create_only`
    * true so the streaming store merge inserts-if-absent and never
    * overwrites a live cell). Created cells respect keyless `del`
    * ordering (delFilterFor on the creation ordinals) and count toward
    * `limit N` eviction like any datum (null stamp → evicted first,
    * same as the interpreter's None).
    */
  private def withCreations(decl: Ir.MetricDecl,
      base: DataFrame): DataFrame = {
    val mCreates = creations.filter(_.metric.name == decl.name).toSeq
    val baseFlagged =
      if (base.columns.isEmpty) base
      else base.withColumn("__create_only", lit(false))
    if (mCreates.isEmpty || decl.hidden) return baseFlagged
    val vt = metricType(decl.name)
    val keyNames = decl.keys.indices.map(i => s"k$i")
    val createdU = delFilterFor(decl, delSites(decl.name))(
      mCreates.map { cr =>
        df.select((cr.keyCols.zipWithIndex.map { case (c, i) =>
          c.as(s"k$i") } :+ ordKey(cr.idx).as("ordk") :+
          coalesce(cr.cond, lit(false)).as("__cond")): _*)
          .filter(col("__cond")).drop("__cond")
          // a null key = an upstream conversion failure; that line
          // aborted before the Dload key pop completed
          .filter(keyNames.map(k => col(k).isNotNull)
            .reduceOption(_ && _).getOrElse(lit(true)))
      }.reduce(_ unionAll _))
    // zero-datum row shape matching the fold frame's schema
    val zeroCols: Seq[Column] =
      (if (decl.kind == Ir.Histogram)
        decl.buckets.indices.map(i => lit(0L).as(s"bucket_$i")) ++
          Seq(lit(0L).as("bucket_inf"),
            lit(0.0).as("value"), lit(0L).as("obs_count"))
      else Seq(zeroOf(vt).as("value"))) ++
        Seq(lit(null).cast(TimestampType).as("ts"),
          lit(false).as("__was_set"), lit(true).as("__create_only"))
    val merged =
      if (keyNames.isEmpty) {
        // scalar: one zero row iff something was created AND the fold
        // produced no row (scalar counters always have their zero-init
        // row, so creation never adds one — GetDatum loads it)
        val baseN =
          (if (baseFlagged.columns.isEmpty)
            df.sparkSession.range(0).select(lit(false).as("__create_only"))
          else baseFlagged)
            .agg(count(lit(1)).as("__bn"))
        val zeroRow = createdU.limit(1)
          .crossJoin(broadcast(baseN.filter(col("__bn") === 0)))
          .select(zeroCols: _*)
        if (baseFlagged.columns.isEmpty) zeroRow
        else baseFlagged.unionByName(zeroRow)
      } else {
        val createdKeys = createdU.select(keyNames.map(col): _*)
          .distinct()
        val zeroRows =
          (if (baseFlagged.columns.isEmpty) createdKeys
          else createdKeys.join(baseFlagged, keyNames, "left_anti"))
            .select(keyNames.map(col) ++ zeroCols: _*)
        if (baseFlagged.columns.isEmpty) zeroRows
        else baseFlagged.unionByName(zeroRows)
      }
    limitNewest(merged, decl)
  }

  /** drop rows at-or-before each cell's last keyless `del` — shared by
    * the fold frames and the creation rows (a created cell deleted
    * later is gone; a Dload after the del recreates).
    */
  private def delFilterFor(decl: Ir.MetricDecl,
      dels: Seq[Site])(u: DataFrame): DataFrame = {
    if (dels.isEmpty) return u
    val vt = metricType(decl.name)
    val keyNames = decl.keys.indices.map(i => s"k$i")
    val delDf = dels.map(siteFrame(_, vt)).reduce(_ unionAll _)
      .groupBy(keyNames.map(col): _*)
      .agg(max("ordk").as("__del_ord"))
    // no keys: the global agg's one row, whose __del_ord is null when
    // no del fired — `ordk > null` is null, hence the isNull guard
    u.join(broadcast(delDf), keyNames, "left")
      .filter(col("__del_ord").isNull || col("ordk") > col("__del_ord"))
      .drop("__del_ord")
  }

  private def metricFrameBase(decl: Ir.MetricDecl): DataFrame = {
    val updates = sites.filter(s => s.metric.name == decl.name &&
      s.op != OpDel).toSeq
    val dels = delSites(decl.name)
    val vt = metricType(decl.name)

    val keyNames = decl.keys.indices.map(i => s"k$i")

    val setSites = updates.filter(_.op == OpSet)
    val incSites = updates.filter(_.op == OpInc)
    // "numeric" here means the FOLD is numeric: a counter/gauge/timer
    // whose inferred value type pinned String (first write was a
    // string — TypeInfer) folds like text (its `+=` sites are Cat,
    // its sets last-write), never through sums
    val numeric = (decl.kind == Ir.Counter || decl.kind == Ir.Gauge ||
      decl.kind == Ir.Timer) && vt != StringType
    // the VM folds updates imperatively per datum: Iset REPLACES, Inc
    // ADDS — regardless of the declared kind (`counter c; c = 5` is
    // legal and last-write; `gauge g; g++` is legal and accumulates).
    // Pure-op metrics use the cheap single-agg paths; a metric mixing
    // `=` with `++` or text `+=` folds per cell (mixedFrame)
    val concatSites = updates.filter(_.op == OpConcat)
    if (setSites.nonEmpty &&
        (concatSites.nonEmpty || numeric && incSites.nonEmpty))
      return mixedFrame(decl, vt, updates ++ dels)
    // whether a batch value REPLACES the store cell on merge (the
    // batch contained a set-write) or ADDS to it (pure increments);
    // mixedFrame computes this per cell instead
    val wasSetStatic: Boolean = decl.kind match {
      case Ir.Histogram => false
      case Ir.Text => !updates.exists(_.op == OpConcat)
      case _ => setSites.nonEmpty
    }

    val unioned = updates.map(siteFrame(_, vt)).reduceOption(_ unionAll _)
    // drop update rows at-or-before each cell's last `del`
    val afterDel: Option[DataFrame] = unioned.map(delFilterFor(decl, dels))

    val agg: Option[DataFrame] = afterDel.map { u =>
      val aggs = decl.kind match {
        case _ if updates.exists(_.op == OpConcat) =>
          // pure `+=` at String type (set-mixing dispatched to
          // mixedFrame above) — Text kind or a String-PINNED
          // counter/gauge (TypeInfer; ADD_ASSIGN@String is Cat
          // regardless of kind, codegen.go:523-540):
          // ordered running concatenation: every delta in arrival
          // order. The array lives on ONE aggregated row per cell —
          // same memory shape as the VM's single growing string datum.
          // NULL (→ no cell) when nothing contributed: the keyless
          // global agg otherwise emits ("", no-stamp) for an EMPTY
          // batch, whose append-merge wiped the live stamp
          // (fuzz-found, iteration 183)
          Seq(when(count(lit(1)) > 0, concat_ws("", transform(
            array_sort(collect_list(struct(col("ordk"), col("v")))),
            x => x.getField("v")))).as("value"),
            max_by(col("ts"), col("ordk")).as("ts"))
        case _ if vt == StringType =>
          // String-pinned (any kind): sets last-write by arrival —
          // Sset replaces regardless of declared kind
          Seq(max_by(col("v"), col("ordk")).as("value"),
            max_by(col("ts"), col("ordk")).as("ts"))
        case _ if numeric && incSites.isEmpty && setSites.nonEmpty =>
          // all writes are `=` (any numeric kind): last write wins
          Seq(max_by(col("v"), col("ordk")).as("value"),
            max_by(col("ts"), col("ordk")).as("ts"))
        case _ if numeric && incSites.nonEmpty =>
          // all writes are `++`/`+=` (any numeric kind): deltas sum
          Seq(sum("v").as("value"),
            max_by(col("ts"), col("ordk")).as("ts"))
        case Ir.Counter =>
          Seq(sum("v").as("value"),
            max_by(col("ts"), col("ordk")).as("ts"))
        case Ir.Histogram =>
          val buckets = decl.buckets
          val bucketCounts = buckets.zipWithIndex.map { case (b, i) =>
            val lower = if (i == 0) lit(true) else col("v") > buckets(i - 1)
            sum(when(col("v") <= b && lower, 1L).otherwise(0L))
              .as(s"bucket_$i")
          }
          bucketCounts ++ Seq(
            sum(when(col("v") > buckets.last, 1L).otherwise(0L))
              .as("bucket_inf"),
            sum("v").as("value"), count(lit(1)).as("obs_count"),
            max_by(col("ts"), col("ordk")).as("ts"))
        case _ => // gauge / timer / text: last write wins by arrival
          Seq(max_by(col("v"), col("ordk")).as("value"),
            max_by(col("ts"), col("ordk")).as("ts"))
      }
      val done = if (keyNames.isEmpty) {
        val g = u.agg(aggs.head, aggs.tail: _*)
        if (decl.kind == Ir.Counter)
          // never-updated scalar counters export 0 @ epoch-0
          // (codegen.go:109-126; golden/reader.go:107-119); an updated
          // counter with an unset time register keeps null ts (the
          // VM's zero time.Time). The synthetic zero row is NEVER a
          // set-write: a reload's zero-init merge must not wipe a live
          // set-written cell
          g.select(
            coalesce(col("value"), lit(0L).cast(vt)).as("value"),
            when(col("value").isNull, timestamp_seconds(lit(0)))
              .otherwise(col("ts")).as("ts"),
            when(col("value").isNull, lit(false))
              .otherwise(lit(wasSetStatic)).as("__was_set"))
        else g.filter(col("value").isNotNull)
      } else {
        limitNewest(u.groupBy(keyNames.map(col): _*)
          .agg(aggs.head, aggs.tail: _*), decl)
      }
      if (done.columns.contains("__was_set")) done
      else done.withColumn("__was_set", lit(wasSetStatic))
    }

    agg.getOrElse {
      // metric never updated: scalar counters still export a zero cell
      if (decl.keys.isEmpty && decl.kind == Ir.Counter)
        df.sparkSession.range(1)
          .select(lit(0L).cast(vt).as("value"),
            timestamp_seconds(lit(0)).as("ts"),
            lit(false).as("__was_set"))
      else
        df.sparkSession.emptyDataFrame
    }
  }

  /** Export frame of a metric written by BOTH `=` and `++`/`+=`
    * (numeric or text): [[cellFold]] over its sets, immediate dels and
    * increments. `__was_set` tells the store merge to REPLACE (the
    * cell's last barrier is a set) or ADD/APPEND (only increments since
    * the batch start or a del, whose store cell [[batchDeleteDfs]]
    * already removed). Declared scalar counters zero-init at 0 @
    * epoch-0 when no write survives.
    */
  private def mixedFrame(decl: Ir.MetricDecl, vt: DataType,
      ws: Seq[Site]): DataFrame = {
    val keyNames = decl.keys.indices.map(i => s"k$i")
    val f = cellFold(ws, vt, keyNames, identity)
    val value = cellValue(zeroOf(vt), vt)
    val ts = coalesce(col("__incTs"), col("__bTs"))
    val wasSet = coalesce(!col("__bDel"), lit(false))
    val out =
      if (zeroInitScalar(decl.name))
        f.select(when(cellLive, value).otherwise(zeroOf(vt)).as("value"),
          when(cellLive, ts).otherwise(timestamp_seconds(lit(0)))
            .as("ts"),
          wasSet.as("__was_set"))
      else f.filter(cellLive).select((keyNames.map(col) ++
        Seq(value.as("value"), ts.as("ts"), wasSet.as("__was_set"))): _*)
    limitNewest(out, decl)
  }

  /** The VM's per-datum rule folded over one batch: Iset replaces the
    * datum, an immediate `del` removes it (the next access recreates it
    * at zero, store.go GetDatum/RemoveDatum), `++` adds and text `+=`
    * appends. Over the event rows of `ws` (siteFrame's, re-keyed to
    * `keys` by `rekey`) it yields one row per touched cell: the LAST
    * barrier — set or del — as `__bDel`, `__bVal`, `__bTs` (null when
    * the cell saw none), and the increments after its ordinal as
    * `__inc` (their sum, or their concatenation in arrival order for a
    * String metric) and `__incTs` (null when none). A set whose value
    * is null never wrote — the line aborted on a failed conversion
    * before Sset (vm.go:97-129) — so siteFrame drops it and it is no
    * barrier, like the in-batch reads' as-of folds. No keys is the one
    * global cell: `groupBy()` yields its row even when nothing fired.
    * Without increment sites this is one aggregation; with them the
    * increments gate on a broadcast of the barriers' `__bOrd`.
    */
  private def cellFold(ws: Seq[Site], vt: DataType, keys: Seq[String],
      rekey: DataFrame => DataFrame): DataFrame = {
    val ks = keys.map(col)
    def events(ss: Seq[Site]): Option[DataFrame] = ss.map(s =>
      rekey(siteFrame(s, vt).withColumn("__d", lit(s.op == OpDel))))
      .reduceOption(_ unionAll _)
    val (incWs, barrierWs) = ws.partition(increments)
    val barriers = events(barrierWs).map(_.groupBy(ks: _*)
      .agg(max_by(struct(col("__d"), col("v"), col("ts"), col("ordk")),
        col("ordk")).as("__b"))
      .select(ks ++ Seq(col("__b.__d").as("__bDel"),
        col("__b.v").as("__bVal"), col("__b.ts").as("__bTs"),
        col("__b.ordk").as("__bOrd")): _*))
    val incs = events(incWs).map { u =>
      val gated = barriers.fold(u)(b =>
        u.join(broadcast(b.select(ks :+ col("__bOrd"): _*)), keys, "left")
          .filter(col("__bOrd").isNull || col("ordk") > col("__bOrd")))
      // the guard keeps the global cell's empty concat null, not ""
      val total =
        if (vt == StringType) when(count(lit(1)) > 0, concat_ws("",
          transform(array_sort(collect_list(struct(col("ordk"),
            col("v")))), x => x.getField("v"))))
        else sum(col("v"))
      gated.groupBy(ks: _*).agg(total.as("__inc"),
        max_by(col("ts"), col("ordk")).as("__incTs"))
    }
    def nullCols(cs: Seq[(String, DataType)]): Seq[Column] =
      cs.map { case (n, t) => lit(null).cast(t).as(n) }
    (barriers.map(_.drop("__bOrd")), incs) match {
      case (Some(b), Some(i)) => b.join(i, keys, "full_outer")
      case (Some(b), None) => b.select(col("*") +: nullCols(Seq(
        "__inc" -> vt, "__incTs" -> b.schema("__bTs").dataType)): _*)
      case (None, Some(i)) => i.select(col("*") +: nullCols(Seq(
        "__bDel" -> BooleanType, "__bVal" -> vt,
        "__bTs" -> i.schema("__incTs").dataType)): _*)
      case _ => throw new IllegalArgumentException("cellFold: no writes")
    }
  }

  private def increments(s: Site): Boolean =
    s.op == OpInc || s.op == OpConcat

  /** a [[cellFold]] cell still holds a datum: its last barrier is a
    * set, or increments followed it (or it had none).
    */
  private def cellLive: Column =
    coalesce(!col("__bDel"), lit(false)) || col("__inc").isNotNull

  /** a live [[cellFold]] cell's value: the set value, zero after a del,
    * or `prev` (the carried datum; zero for a per-batch export) with no
    * barrier — plus or followed by the increments after it.
    */
  private def cellValue(prev: Column, vt: DataType): Column = {
    val start = when(col("__bDel").isNull, prev)
      .when(col("__bDel"), zeroOf(vt)).otherwise(col("__bVal"))
    when(col("__inc").isNull, start).otherwise(
      if (vt == StringType) concat(start, col("__inc"))
      else (start + col("__inc")).cast(vt))
  }

  /** `limit N`: keep the N newest cells by datum timestamp
    * (metric.go:184-198, store.go:160-164). `orderBy(desc).limit(N)`
    * compiles to TakeOrderedAndProject — a parallel per-partition
    * top-N merged driver-side from N-row partials — where the
    * equivalent global `row_number` window funnels the ENTIRE
    * pre-eviction cell set through one task; a high-cardinality
    * labeled metric is precisely when users declare `limit N`, so
    * that single-partition sort sat exactly on the hot path. Equal
    * timestamps tie-break arbitrarily on both forms (the reference's
    * map-iteration eviction has the same property).
    */
  private def limitNewest(df: DataFrame, decl: MetricDecl): DataFrame =
    if (decl.limit > 0) df.orderBy(col("ts").desc).limit(decl.limit)
    else df

  /** Full exported snapshot: one row per metric cell. */
  def snapshot(): DataFrame = {
    val frames = program.decls.filter(!_.hidden).map { decl =>
      val vt = metricType(decl.name)
      val mf = metricFrame(decl)
      if (mf.columns.isEmpty) None
      else Some {
        val labelMap =
          if (decl.keys.isEmpty) typedLit(Map.empty[String, String])
          else map(decl.keys.zipWithIndex.flatMap { case (k, i) =>
            Seq(lit(k), col(s"k$i"))
          }: _*)
        mf.select(
          lit(program.name).as("program"),
          lit(decl.exportName).as("name"),
          lit(kindName(decl.kind)).as("kind"),
          lit(typeName(vt)).as("type"),
          labelMap.as("labels"),
          (if (vt == LongType) col("value") else lit(null).cast(LongType))
            .as("ival"),
          (if (vt == DoubleType) col("value")
           else lit(null).cast(DoubleType)).as("fval"),
          (if (vt == StringType) col("value")
           else lit(null).cast(StringType)).as("sval"),
          // histogram cells: bucket upper-bound → count, plus the
          // observation count ("count" key; sum is in fval)
          (if (decl.kind == Ir.Histogram && decl.buckets.nonEmpty)
            map((decl.buckets.zipWithIndex.flatMap { case (b, i) =>
              Seq(lit(fmtBucket(b)), col(s"bucket_$i"))
            } ++ Seq(lit("+Inf"), col("bucket_inf"),
              lit("count"), col("obs_count"))): _*)
          else lit(null).cast(MapType(StringType, LongType)))
            .as("buckets"),
          // epoch micros as a long: java.sql.Timestamp round-trips
          // pre-1582 dates through the hybrid Julian calendar
          unix_micros(col("ts")).as("ts_micros"),
          // merge semantics for the streaming store: true = this batch
          // SET the cell (replace), false = pure increments (add)
          col("__was_set").as("was_set"),
          // Dload-created-only cell: store merge inserts-if-absent
          (if (mf.columns.contains("__create_only"))
            col("__create_only")
          else lit(false)).as("create_only"))
      }
    }
    frames.flatten.reduceOption(_ unionAll _).getOrElse(
      df.sparkSession.emptyDataFrame)
  }

  /** Materialize the shared extraction frame (regex structs, strptime
    * columns, carried-state joins) so the per-metric aggregation
    * branches, state relations, and instrumentation reuse ONE scan of
    * it instead of each re-deriving it from the source — snapshot() is
    * a union of independent branches, which Spark otherwise computes
    * from scratch per branch (no cross-branch scan sharing without a
    * cache). Measured ~1.7× on the 3-metric replay benchmark; wider
    * programs gain proportionally more. Pair with
    * [[unpersistExtraction]] once results are collected.
    */
  /** `extraReaders` counts scans of the extraction BEYOND the metric
    * sites themselves — the streaming runner reads it again for
    * instrumentation and once per carried-state relation, so even a
    * single-site program re-reads it there. A lone reader total means
    * the cache write would never pay for itself.
    */
  def materializeExtraction(extraReaders: Int = 0): Unit = {
    // request the cache BEFORE the flush: flushPending registers it
    // just before the first probe/state-join materialization, so probe
    // legs scan the cached extraction instead of re-deriving it from
    // the source once per read
    wantPersist = sites.size + extraReaders > 1
    // compile every site's key/value expressions BEFORE the flush:
    // cross-line reads inside them register their windows, probe
    // relations and offsets joins here, so the checkpoint below
    // materializes them as DATA — otherwise each aggregation branch
    // would re-execute every read's window (a shuffle per read per
    // branch; measured as the dominant cost of read-heavy programs).
    // The branch-build recompilation hits metricReadMemo and resolves
    // to the same columns.
    sites.foreach { s =>
      s.valueIr.foreach(v =>
        exprColumn(v, s.frames, s.timeReg, s.idx))
      s.keys.foreach(k =>
        exprColumn(k, s.frames, s.timeReg, s.idx))
    }
    flushPending()
    if (wantPersist) {
      if (persistedDf.isEmpty) persistNow()
      else if (!persistedDf.get.eq(curDf)) {
        // probe/state joins followed the extraction cache: collapse
        // the joined lineage to a MATERIALIZED LEAF. A cache would
        // only help physical execution — each of the per-metric
        // aggregation branches would still re-analyze and re-optimize
        // curDf's full logical plan, which embeds every probe/offsets
        // subtree and their (large) generated predicates; measured
        // minutes of pure planning on mysql_slowqueries. The
        // extraction cache only served probe construction — dropped
        // once the checkpoint is materialized.
        val extraction = persistedDf.get
        curDf = curDf.localCheckpoint()
        checkpointed = Some(curDf)
        persistedDf = None
        extraction.unpersist()
        snaps.clear()
        snapCur()
      }
    }
  }

  def unpersistExtraction(): Unit = {
    // the cache point can precede later joins, so curDf's final plan
    // no longer matches it — unpersist the tracked handles
    persistedDf.foreach(_.unpersist())
    persistedDf = None
    checkpointed.foreach(CheckpointUtil.freeCheckpoint)
    checkpointed = None
    val _ = curDf.unpersist()
  }

  /** Per-file self-instrumentation counts for this batch — the
    * runtime's own metrics (`internal/runtime/runtime.go:33`
    * lines_total, `internal/tailer/logstream/reader.go:17`
    * log_lines_total, `internal/runtime/vm/vm.go:33,97-129`
    * prog_runtime_errors_total): one row per filename with total lines
    * and lines aborted by a runtime error. A single map-side-combined
    * aggregation over the already-projected line frame — no extra scan
    * of the source at scale.
    */
  def instrumentation(): DataFrame =
    df.groupBy(col("filename"))
      .agg(count(lit(1)).as("lines"),
        sum(when(coalesce(abortCond, lit(false)), 1L).otherwise(0L))
          .as("errors"))

  /** End-of-batch state of every cross-line-read metric, for the
    * streaming runner to carry into the next batch: metric → relation
    * (k, v, ts) of each cell's datum after this batch — [[cellFold]]
    * over its sets, immediate dels and increments, a cell with no
    * barrier continuing from its carried value, a cell whose last
    * barrier is a del with no increment after it dropped — and the
    * carried cells this batch never touched underneath. Fully
    * distributed — no collect; the runner localCheckpoints each
    * relation so the next batch's plan starts from materialized
    * partitions, not the whole lineage of every previous batch.
    */
  def finalReadStateDfs(): Map[String, DataFrame] =
    readMetrics.toSeq.sorted.flatMap { m =>
      val vt = metricType(m)
      val ws = sites.filter(s => s.metric.name == m &&
        (s.op != OpDel || s.afterSeconds.isEmpty)).toSeq
      if (ws.isEmpty) carriedState(m).map(m -> _)
      else Some(m -> {
        val keyCols = ws.head.keys.indices.map(i => col(s"k$i"))
        val batch = cellFold(ws, vt, Seq("k"), _.select(
          PlanBuilder.joinKeys(keyCols).as("k"), col("v"),
          // last-write event time, for `del … after d` state expiry
          unix_timestamp(col("ts")).as("ts"), col("ordk"), col("__d")))
        val carried = carriedState(m).map(_.select(col("k"),
          col("v").as("__pv"), col("ts").as("__pts")))
        // only a cell with no barrier reads its carried datum, and only
        // increments make one
        val (withPrev, prev, prevTs) =
          carried.filter(_ => ws.exists(increments)) match {
            case Some(p) => (batch.join(p, Seq("k"), "left"),
              coalesce(col("__pv"), zeroOf(vt)), col("__pts"))
            case None => (batch, zeroOf(vt), lit(null).cast(LongType))
          }
        val updated = withPrev.filter(cellLive).select(col("k"),
          cellValue(prev, vt).as("v"),
          coalesce(col("__incTs"), col("__bTs"), prevTs).as("ts"))
        carried.fold(updated)(p => p.join(batch.select("k"), Seq("k"),
          "left_anti").select(col("k"), col("__pv").as("v"),
          col("__pts").as("ts")).unionAll(updated))
      })
    }.toMap

  private def kindName(k: Ir.Kind): String = k match {
    case Ir.Counter => "counter"
    case Ir.Gauge => "gauge"
    case Ir.Timer => "timer"
    case Ir.Text => "text"
    case Ir.Histogram => "histogram"
  }

  private def typeName(t: DataType): String = t match {
    case LongType => "Int"
    case DoubleType => "Float"
    case _ => "String"
  }

  /** bucket bound rendered like Go's %v / FormatFloat('g',-1,64)
    * (buckets.go:97, graphite.go:66): `buckets 1, 2, 4` print as 1, 2,
    * 4 — not 1.0 — and a 5e-05 bound stays Go-scientific, not "5.0E-5".
    */
  private def fmtBucket(b: Double): String = graft.mtail.GoFmt.g(b)
}

object PlanBuilder {
  /** join a metric key tuple into one state-map key (scalars → "").
    * The encoding is INJECTIVE for any values, including ones that
    * contain the separator/escape bytes themselves: inside each value
    * the escape byte "\u0000" is doubled and the separator "\u0001"
    * becomes "\u0000\u0002", so no encoded component contains a bare
    * separator; NULL encodes as a lone "\u0000", which no escaped
    * value can equal (every "\u0000" in an escaped value is followed
    * by another byte). So ("ab","c") ≠ ("a","bc"), (null,"a") ≠
    * ("a",null), and "\u0000" ≠ null. Keys are only ever compared,
    * never split back, so injectivity is all that's needed. Both
    * writers (finalReadState) and readers (element_at lookup) go
    * through this one function.
    */
  def joinKeys(keyCols: Seq[Column]): Column =
    if (keyCols.isEmpty) lit("")
    // concat_ws SKIPS null inputs (so (null,"a") and ("a",null) would
    // otherwise both join to "a") — hence the explicit null marker.
    else concat_ws("\u0001", keyCols.map { c =>
      // literal StringReplace (codegen'd, no regex engine): this runs
      // per row per key column on the state hot path
      coalesce(
        call_function("replace",
          call_function("replace", c, lit("\u0000"),
            lit("\u0000\u0000")),
          lit("\u0001"), lit("\u0000\u0002")),
        lit("\u0000"))
    }: _*)
}
