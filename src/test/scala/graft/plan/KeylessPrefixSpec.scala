package graft.plan

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, Snapshot}
import graft.mtail.Snapshot.{VInt, VStr}

/** Directed pins for the keyless-read two-phase prefix scan: ordinals
  * that SPAN bucket boundaries (the >>18 long-ordinal bucketing) must
  * produce exactly the sequential fold for every mode — the offsets
  * join is only correct if the per-bucket exclusive offsets compose in
  * bucket order. Built on explicit ordCols so the bucket layout is
  * controlled, not left to partition enumeration.
  *
  * The two-phase scan only runs on inputs whose Catalyst size
  * estimate reaches the 16 MB spread floor; smaller inputs take the
  * direct global window. Every pin therefore runs twice over the same
  * lines: once from a driver table (estimate a few hundred bytes,
  * direct path) and once filtered out of a 4 Mi-row range (estimate
  * ~100 MB). The over-floor run asserts the join its machine plans
  * is in the optimized plan — for the prefix-scan pins the offsets
  * join, so they fail loudly if that input ever drops under the
  * floor. Fold-mode reads run the keyless as-of machine, whose bucket
  * decomposition is not floor-gated, and self-referencing conds run
  * the exact sequential walk; those pins name that join instead.
  */
class KeylessPrefixSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  /** run a program over lines whose explicit ords straddle `nBuckets`
    * buckets of the >>18 bucketing (ord = i * 2^18 / linesPerBucket
    * would be sparse; simpler: place line i at ord i*step with step
    * chosen so consecutive lines land in distinct buckets).
    * `overFloor` picks the input whose size estimate is over the
    * spread floor (see the class doc); its plan must contain a join
    * on a column named `joinCol*`.
    */
  private def runOn(src: String, lines: Seq[String], ordStep: Long,
      overFloor: Boolean, joinCol: String)
      : Map[(String, Map[String, String]), Snapshot.Value] = {
    val prog = Frontend.parse(src, "kpfx")
    val numbered =
      if (overFloor)
        spark.range(0, 1L << 22).filter(col("id") < lines.length)
          .select(element_at(typedLit(lines), (col("id") + 1).cast("int"))
            .as("line"), col("id").as("i"))
      else lines.zipWithIndex.toDF("line", "i")
    val df = LogLines.fromLines(
      numbered
        .withColumn("__ord", col("i").cast("long") * ordStep)
        .select("line", "__ord"),
      "line", ordCol = Some(col("__ord")))
    val snap = new PlanBuilder(prog, df, 0).snapshot()
    if (overFloor) {
      val plan = snap.queryExecution.optimizedPlan
      assert(plan.exists {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
          j.condition.exists(_.references.exists(
            _.name.startsWith(joinCol)))
        case _ => false
      }, s"over-floor input must plan a join on $joinCol:\n$plan")
    }
    Snapshot.collect(snap).map(c => (c.name, c.labels) -> c.value).toMap
  }

  /** the pin's result, checked equal across both inputs and both ord
    * layouts (one line per bucket, and all lines in one bucket) */
  private def run(src: String, lines: Seq[String], joinCol: String)
      : Map[(String, Map[String, String]), Snapshot.Value] = {
    val spread = runOn(src, lines, bucket, overFloor = false, joinCol)
    Seq((1L, false), (bucket, true), (1L, true)).foreach {
      case (step, overFloor) =>
        assert(runOn(src, lines, step, overFloor, joinCol) == spread,
          s"ordStep=$step overFloor=$overFloor")
    }
    spread
  }

  /** the prefix scan's offsets join (floor-gated two-phase path) */
  private val OffsetsJoin = "__koff_"
  /** the keyless as-of machine's bucket-offsets join */
  private val AsofBucketJoin = "__pid"
  /** the sequential walk's results joined back on the line ordinal */
  private val SeqWalkJoin = "__sq_ord"

  private val bucket = 1L << 18

  test("keyless running-sum read composes across bucket boundaries") {
    val src =
      """hidden counter seen
        |gauge snap
        |/^(?P<x>\d+)$/ {
        |  seen += $x
        |  snap = seen
        |}
        |""".stripMargin
    val data = (1 to 9).map(_.toString)
    // one line per bucket: every cross-line read crosses a boundary
    val spread = run(src, data, OffsetsJoin)
    assert(spread(("snap", Map.empty)) == VInt(45), spread)
  }

  test("keyless last-write read composes across bucket boundaries") {
    val src =
      """hidden gauge g
        |gauge out
        |/^(?P<x>\d+)$/ {
        |  out = g
        |  g = $x
        |}
        |""".stripMargin
    val data = Seq("7", "11", "13")
    // read-before-write: `out` sees the PREVIOUS line's g, written in
    // the previous bucket
    val spread = run(src, data, OffsetsJoin)
    assert(spread(("out", Map.empty)) == VInt(11), spread)
  }

  test("keyless mixed =/++ fold read composes across buckets " +
      "(set in one bucket, increments in later ones)") {
    val src =
      """hidden gauge m
        |gauge out
        |/^set (?P<x>\d+)$/ { m = $x }
        |/^inc (?P<x>\d+)$/ { m += $x }
        |/^read$/ { out = m }
        |""".stripMargin
    val data = Seq("inc 1", "set 100", "inc 2", "inc 3", "read")
    val spread = run(src, data, AsofBucketJoin)
    assert(spread(("out", Map.empty)) == VInt(105), spread)
  }

  test("keyless text set/concat fold read composes across buckets") {
    val src =
      """hidden text t
        |text out
        |/^set (?P<s>[a-z]+)$/ { t = $s }
        |/^add (?P<s>[a-z]+)$/ { t += $s }
        |/^read$/ { out = t }
        |""".stripMargin
    val data = Seq("add x", "set ab", "add cd", "add ef", "read")
    val spread = run(src, data, AsofBucketJoin)
    assert(spread(("out", Map.empty)) == VStr("abcdef"), spread)
  }

  test("self-conditioned write (cond reads the written metric) " +
      "composes across buckets — the mysql partial-reset idiom") {
    // `partial == 1 { partial = 0 }`: the write's own condition reads
    // the metric being written. The cond is compiled in pass 1 and
    // frozen; if the read it captures were bucket-local, the cond
    // would lose all cross-bucket state (mark in bucket 0, reset in
    // bucket 1 never fires).
    val src =
      """hidden gauge partial
        |counter resets
        |/^p$/ { partial = 1 }
        |/^c$/ {
        |  partial == 1 {
        |    partial = 0
        |    resets++
        |  }
        |}
        |""".stripMargin
    // one line per bucket: p(mark) c(reset fires) c(no-op)
    //                      p(mark) c(reset fires)
    val data = Seq("p", "c", "c", "p", "c")
    val spread = run(src, data, SeqWalkJoin)
    assert(spread(("resets", Map.empty)) == VInt(2), spread)
  }

  test("cond reading a DIFFERENT keyless metric composes across " +
      "buckets (frozen pass-1 cond, no self-reference)") {
    val src =
      """hidden counter armed
        |counter fired
        |/^arm$/ { armed++ }
        |/^go$/ {
        |  armed > 0 { fired++ }
        |}
        |""".stripMargin
    // arm in bucket 0; both `go`s in later buckets must see it
    val data = Seq("go", "arm", "go", "go")
    val spread = run(src, data, OffsetsJoin)
    assert(spread(("fired", Map.empty)) == VInt(2), spread)
  }

  test("cond reads a keyless metric whose only writes appear LATER " +
      "in program text — and still resolves to the full write set") {
    // pass 1 collects sites in text order, so at the `armed > 0` cond
    // the arm site is not yet visible; a frozen pass-1 read built
    // over pass-1-visible sites would be constant zero and the cond
    // could never fire. The content-named read must resolve to the
    // pass-2 registration (full site list, distributed prefix scan).
    val src =
      """counter fired
        |hidden counter armed
        |/^go$/ {
        |  armed > 0 { fired++ }
        |}
        |/^arm$/ { armed++ }
        |""".stripMargin
    val data = Seq("go", "arm", "go", "go")
    val spread = run(src, data, OffsetsJoin)
    assert(spread(("fired", Map.empty)) == VInt(2), spread)
  }

  test("mutually-referencing keyless conds compile and fold " +
      "deterministically (no circular materialization)") {
    // a's write cond reads b; b's write cond reads a — the name-based
    // pass-1 references form a cycle that the flush must resolve
    // exactly through the sequential walk, not crash on
    val src =
      """counter done
        |hidden gauge a
        |hidden gauge b
        |/^x$/ {
        |  b == 0 { a = 1 }
        |}
        |/^y$/ {
        |  a == 1 { b = 1 }
        |}
        |/^z$/ {
        |  b == 1 { done++ }
        |}
        |""".stripMargin
    val data = Seq("x", "y", "z", "z")
    val spread = run(src, data, SeqWalkJoin)
    // x: b==0 (nothing written) → a=1; y: a==1 → b=1; z,z: done++
    assert(spread(("done", Map.empty)) == VInt(2), spread)
  }

  test("DUPLICATE self-conditioned blocks compile: the provisional " +
      "may already sit in the lazy join's snapshot (soak iter 772)") {
    // two identical `hid0 == 1 { hid0 = 0 }` blocks give two read
    // sites of one cyclic metric (soak iteration 772 once crashed here
    // with an ambiguous reference); both must resolve through the
    // sequential walk.
    val src =
      """counter c0
        |hidden gauge hid0
        |/^p$/ { hid0 = 1 }
        |/^c$/ {
        |  hid0 == 1 {
        |    hid0 = 0
        |    c0++
        |  }
        |  hid0 == 1 {
        |    hid0 = 0
        |    c0++
        |  }
        |}
        |""".stripMargin
    val data = Seq("p", "c", "c", "p", "c")
    val spread = run(src, data, SeqWalkJoin)
    // first block resets on each armed c; the second block's cond
    // re-reads hid0 — within the same line the first block already
    // wrote 0, so it never fires
    assert(spread(("c0", Map.empty)) == VInt(2), spread)
  }

  test("a bucket with no writes contributes the identity offset") {
    val src =
      """hidden counter c
        |gauge snap
        |/^hit$/ { c++ }
        |/^(hit|miss)$/ { snap = c }
        |""".stripMargin
    // buckets: [hit] [miss] [miss] [hit] — empty-write buckets between
    val data = Seq("hit", "miss", "miss", "hit")
    val spread = run(src, data, OffsetsJoin)
    assert(spread(("snap", Map.empty)) == VInt(2), spread)
  }
}
