package graft.plan

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{BoundReference,
  Expression, GenericInternalRow, JoinedRow, Literal,
  MutableProjection, TryEval}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** EXACT evaluation of genuinely cyclic metric reads — a write whose
  * own condition (or a mutually-referencing chain of conditions) reads
  * the metric being written: the `partial == 1 { partial = 0 }` reset
  * idiom (mysql_slowqueries), its keyed per-session analogue, and
  * NON-absorbing generalizations (`n < 3 { n++ }`).
  *
  * Such a program is a sequential automaton: whether a site fires on
  * row i depends on the full firing history over rows < i, which no
  * associative window/prefix decomposition can express. The engine
  * therefore replays exactly the VM's per-line/per-site order
  * (vm.go:962-989 fetch-execute; same-line statement order = site
  * index) for JUST the cyclic metric group:
  *
  *  1. every state-free subexpression of the group's site conditions /
  *     values / key tuples is precomputed IN PARALLEL as a column of
  *     the input projection (regex structs, caprefs, arithmetic — the
  *     expensive part stays distributed and codegen'd);
  *  2. the rows, reduced to (ord, slots, seeds), sort into ONE
  *     partition and a single task runs the state machine — evaluating
  *     only the thin residual expressions that combine slots with
  *     metric state (analyzer-resolved and bound once on the driver,
  *     so Catalyst's own operator semantics apply, interpreted);
  *  3. the per-row read values join back to the line relation by row
  *     ordinal under the reads' content names — downstream plan
  *     machinery (as-of folds, aggregation branches, carried-state
  *     export) consumes them exactly like any other materialized read.
  *
  * Scale: the sequential leg is O(rows) over a NARROW projection —
  * the same cost class as the pre-r14 single-partition window, paid
  * only by programs that are inherently sequential (the reference
  * replays a log single-threaded always, runtime.go:199-202).
  * Correctness over parallelism for exactly the rare shape that
  * cannot parallelize; every acyclic read keeps the distributed
  * two-phase prefix scan / keyed window / as-of machinery.
  *
  * Keyed metrics hold a per-key-tuple state map; keys are accessed
  * through their injective joinKeys encoding, so carried cross-batch
  * state seeds from per-metric collected maps (export-store-sized by
  * contract) and batch-split runs compose exactly like the VM
  * checkpointing its store between chunks — including key expressions
  * that themselves read cycle state.
  */
private[plan] object SeqCycleEval {

  /** one write site of a cycle metric. op ∈ inc|set|concat (immediate
    * `del` arrives as set-to-zero — for a READ a del is a fresh-datum
    * barrier, store.go GetDatum). `keyEnc` is the joinKeys-encoded
    * label tuple (lit("") for keyless).
    */
  final case class SiteSpec(idx: Int, op: String, metric: String,
      keyEnc: Column, cond: Column, value: Column)

  /** one read to resolve: output column `name` = value of
    * `metric[keyEnc]` visible at site `siteIdx` (idx -1 = before any
    * same-line site).
    */
  final case class ReadSpec(name: String, metric: String, siteIdx: Int,
      keyEnc: Column)

  final case class MetricSpec(name: String, vt: DataType,
      seed: Option[DataFrame])

  // ---- serializable runtime forms shipped to the executor ----

  private final case class RtSite(idx: Int, op: Int, metric: Int,
      key: Expression, cond: Expression, value: Expression)
  private final case class RtRead(pos: Int, metric: Int, stateOrd: Int,
      key: Expression)
  private val OpInc = 0; private val OpSet = 1; private val OpConcat = 2

  /** Resolve `reads` over `base`. Returns a DataFrame
    * (__sq_ord, __sqv_<read name>*) with one row per input row.
    */
  def resolve(base: DataFrame, sites: Seq[SiteSpec], reads: Seq[ReadSpec],
      metrics: Seq[MetricSpec]): DataFrame = {
    val spark = base.sparkSession
    val stateNames = reads.map(_.name).toSet
    val metricIdx = metrics.map(_.name).zipWithIndex.toMap
    val metricVts = metrics.map(_.vt).toArray

    // ---- decompose: state-free subtrees → parallel slot columns ----
    val slots = mutable.LinkedHashMap[String, (String, Expression)]()
    def hasState(e: Expression): Boolean = e.exists {
      case a: UnresolvedAttribute =>
        a.nameParts.length == 1 && stateNames(a.nameParts.head)
      case _ => false
    }
    def slotFor(e: Expression): Expression = e match {
      case l: Literal => l
      case _ =>
        val key = e.toString
        val (name, _) = slots.getOrElseUpdate(key,
          (s"__sq_s${slots.size}", e))
        UnresolvedAttribute(name)
    }
    def decompose(c: Column): Expression = {
      def go(e: Expression): Expression =
        if (!hasState(e)) slotFor(e)
        else e match {
          case a: UnresolvedAttribute => a
          case _ => e.withNewChildren(e.children.map(go))
        }
      go(GraftBridge.eagerExpression(c))
    }
    // every slot and residual is try-guarded: a site VALUE like
    // `cast($s as bigint)` (a String write runtime-coerced into an
    // Int-pinned metric) THROWS under ANSI where the VM line-aborts —
    // and here it would evaluate unguarded, for every row in the slot
    // projection and, cond true or not, in the single site
    // MutableProjection. On every such row the site's compiled cond
    // already carries the non-throwing abort gate (strictParseInt is
    // rlike-based), so the thrown value is never consumed — null it
    // instead, which lands in the walk's existing "null key/value
    // drops the update, null cond does not fire" arms (the plan-side
    // isNotNull semantics). Note the engine's CONTRACT config is
    // `spark.sql.ansi.enabled=false` on every product surface
    // (Verify/Bench/Main/StreamRunner and the test harness), where
    // these casts already null instead of throwing — the guard only
    // aligns an ansi-ON session (e.g. a bare default-config
    // SparkSession) with that contract, it does not change behavior
    // under the shipped configs. Literals skip the wrap so the
    // constant-key fast path below still pattern-matches.
    def guard(e: Expression): Expression = e match {
      case l: Literal => l
      case _ => TryEval(e)
    }
    val siteRes = sites.map(s =>
      (guard(decompose(s.keyEnc)), guard(decompose(s.cond)),
        guard(decompose(s.value))))
    val readRes = reads.map(r => guard(decompose(r.keyEnc)))

    // ---- input projection: ord + slots, one sorted partition. Narrow
    // by construction; the heavy expressions run distributed here.
    val inputDf = base.select(col("ord").as("__sq_ord") +:
      slots.values.toSeq.map { case (n, e) =>
        GraftBridge.column(guard(e)).as(n) }: _*)

    // carried cross-batch state collects into plain per-metric maps —
    // the same driver round-trip broadcast() would pay, without the
    // per-(metric, key expression) join machinery, and key expressions
    // that themselves read cycle state (`m[string(n)]` with n in the
    // cycle) seed exactly like any other: every batch takes the same
    // path, so batch-split runs compose identically. The relations are
    // export-store-sized by contract (the streaming store holds every
    // cell in driver memory already).
    val seedMaps: Array[Map[String, Any]] = metrics.map { m =>
      m.seed match {
        case Some(st) =>
          st.select(col("k"), col("v").cast(m.vt)).collect().map { r =>
            val v: Any = r.get(1) match {
              case s: String => UTF8String.fromString(s)
              case other => other
            }
            r.getString(0) -> v
          }.toMap
        case None => Map.empty[String, Any]
      }
    }.toArray

    // repartition(1), NOT coalesce(1): coalesce is a narrow dependency
    // that would collapse the whole upstream stage — including the
    // expensive slot expressions — into the single sequential task.
    // The round-trip shuffle keeps slot evaluation distributed and
    // codegen'd; only the narrow (ord, slots) rows funnel through the
    // exchange into the one-task sorted walk.
    val sorted = inputDf.repartition(1).sortWithinPartitions(col("__sq_ord"))
    val inSchema = sorted.schema
    val ordType = inSchema("__sq_ord").dataType

    // ---- bind residual expressions against (input ++ state) ----
    val stateFields = reads.map(r =>
      StructField(r.name, metricVts(metricIdx(r.metric)), nullable = true))
    val fullSchema = StructType(inSchema.fields ++ stateFields)
    val bound = GraftBridge.bindForEval(spark, fullSchema,
      (siteRes.flatMap { case (k, c, v) => Seq(k, c, v) } ++ readRes)
        .map(GraftBridge.column))
    val rtSites = sites.zipWithIndex.map { case (s, i) =>
      RtSite(s.idx, s.op match {
        case "inc" => OpInc
        case "set" => OpSet
        case "concat" => OpConcat
      }, metricIdx(s.metric), bound(3 * i),
        bound(3 * i + 1), bound(3 * i + 2))
    }.sortBy(_.idx).toArray
    val nSite = 3 * sites.length
    val rtReadsRaw = reads.zipWithIndex.map { case (r, i) =>
      RtRead(r.siteIdx, metricIdx(r.metric), i, bound(nSite + i))
    }.toArray
    // refresh ORDER within a position: a read whose KEY references
    // another read's state slot (`slots[string(turn)]` — the key is
    // itself cycle state) must refresh AFTER that read, or it keys by
    // the previous row's value. Topological by bound state ordinals;
    // genuine key-reference cycles keep registration order.
    val nIn = inSchema.fields.length
    def stateDeps(e: Expression): Seq[Int] = {
      val s = mutable.ArrayBuffer[Int]()
      e.foreach {
        case b: BoundReference if b.ordinal >= nIn => s += b.ordinal - nIn
        case _ =>
      }
      s.toSeq
    }
    val rtReads = {
      val byOrd = rtReadsRaw.map(r => r.stateOrd -> r).toMap
      val placed = mutable.LinkedHashSet[Int]()
      def place(o: Int, stack: Set[Int]): Unit =
        if (!placed(o) && !stack(o)) {
          stateDeps(byOrd(o).key).filter(byOrd.contains)
            .foreach(d => place(d, stack + o))
          placed += o
        }
      rtReadsRaw.foreach(r => place(r.stateOrd, Set.empty))
      placed.toArray.map(byOrd)
    }
    val nMetrics = metrics.length
    val vts = metricVts

    // merged event walk positions: reads refresh BEFORE the same-idx
    // site applies (a read at site j sees writes from sites < j only)
    val positions = (rtSites.map(_.idx) ++ rtReads.map(_.pos))
      .distinct.sorted

    // output field names are prefixed so the join-back never collides
    // with the line relation's columns (state binding above used the
    // raw read names; PlanBuilder re-aliases on join)
    val outSchema = StructType(
      StructField("__sq_ord", ordType, nullable = false) +:
      reads.zip(stateFields).map { case (r, f) =>
        StructField("__sqv_" + r.name, f.dataType, nullable = true) })

    GraftBridge.mapInternal(sorted, outSchema) { iter =>
      // per-metric, per-key datum state; zero-init at first touch
      // (store.go GetDatum), seeded from the carried relation when the
      // touching row carries a seed for that key
      val state = Array.fill(nMetrics)(mutable.HashMap[String, Any]())
      // compiled ONCE per task: codegen'd (interpreted-fallback)
      // projections over the thin residual expressions. The walk is
      // the sequential bottleneck — per-row interpreted tree-eval
      // with boxing costs several times what a generated evaluator
      // does, and the residuals re-evaluate at every site of every
      // row. Constant key encodings (every keyless metric) skip the
      // projection and the per-row UTF8String→String copy entirely.
      val siteProj = rtSites.map(s =>
        MutableProjection.create(Seq(s.key, s.cond, s.value)))
      val siteValDt: Array[DataType] = rtSites.map(s =>
        if (s.op == OpConcat) StringType else vts(s.metric))
      def constKeyOf(e: Expression): String = e match {
        case Literal(u: UTF8String, StringType) => u.toString
        case _ => null
      }
      val siteConstKey = rtSites.map(s => constKeyOf(s.key))
      val readProj = rtReads.map(r => MutableProjection.create(Seq(r.key)))
      val readConstKey = rtReads.map(r => constKeyOf(r.key))
      def zeroOf(i: Int): Any = vts(i) match {
        case LongType => 0L
        case DoubleType => 0.0d
        case _ => UTF8String.fromString("")
      }
      val stateRow = new GenericInternalRow(rtReads.length)
      val joined = new JoinedRow
      def copyOf(v: Any): Any = v match {
        case s: UTF8String => s.clone()
        case x => x
      }
      def touch(m: Int, key: String): Any =
        state(m).getOrElseUpdate(key,
          seedMaps(m).get(key).map(copyOf).getOrElse(zeroOf(m)))
      iter.map { row =>
        joined(row, stateRow)
        var p = 0
        while (p < positions.length) {
          val pos = positions(p)
          var r = 0
          while (r < rtReads.length) {
            val rd = rtReads(r)
            if (rd.pos == pos) {
              val k =
                if (readConstKey(r) != null) readConstKey(r)
                else {
                  val pr = readProj(r)(joined)
                  if (pr.isNullAt(0)) null
                  else pr.getUTF8String(0).toString
                }
              stateRow.update(rd.stateOrd,
                if (k == null) null
                else touch(rd.metric, k))
            }
            r += 1
          }
          var s = 0
          while (s < rtSites.length) {
            val site = rtSites(s)
            if (site.idx == pos) {
              val pr = siteProj(s)(joined)
              if (!pr.isNullAt(1) && pr.getBoolean(1)) {
                val k =
                  if (siteConstKey(s) != null) siteConstKey(s)
                  else if (pr.isNullAt(0)) null
                  else pr.getUTF8String(0).toString
                val v =
                  if (pr.isNullAt(2)) null else pr.get(2, siteValDt(s))
                // null key (failed capref) or null value (aborted
                // conversion) drops the update, like the plan's
                // isNotNull filters
                if (k != null && v != null) {
                  val m = site.metric
                  site.op match {
                    case OpInc =>
                      state(m)(k) =
                        (touch(m, k), v) match {
                          case (a: java.lang.Long, b: java.lang.Long) =>
                            a + b
                          case (a: java.lang.Double,
                              b: java.lang.Double) => a + b
                          case (a, b) =>
                            throw new IllegalStateException(
                              s"seq-cycle inc type mismatch: $a + $b")
                        }
                    case OpSet => state(m)(k) = copyOf(v)
                    case OpConcat =>
                      state(m)(k) = UTF8String.concat(
                        touch(m, k).asInstanceOf[UTF8String],
                        v.asInstanceOf[UTF8String].clone())
                  }
                }
              }
            }
            s += 1
          }
          p += 1
        }
        val out = new GenericInternalRow(1 + rtReads.length)
        out.update(0, row.get(0, ordType) match {
          case r: InternalRow => r.copy()
          case s: UTF8String => s.clone()
          case v => v
        })
        var r = 0
        while (r < rtReads.length) {
          out.update(1 + rtReads(r).stateOrd, copyOf(stateRow.get(
            rtReads(r).stateOrd, vts(rtReads(r).metric))))
          r += 1
        }
        out: InternalRow
      }
    }
  }
}
