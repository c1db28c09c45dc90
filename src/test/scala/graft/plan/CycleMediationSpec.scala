package graft.plan

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, MiniVm, Snapshot}

/** Value/key-mediated metric cycles — programs the reference runs
  * but the engine REJECTED until round 19's fourth session ("cyclic
  * metric read through …", the old `PlanBuilder.metricReadColumnImpl`
  * throw): a write whose VALUE reads the mutually-referencing metric
  * (`a = b + 1; b = a % 3`) or whose read PROBES a key derived from
  * the metric being compiled (`a = m[string(a)]`). Cond-mediated
  * cycles always worked because site conds compile once at walk time
  * with deferred read names; value/key expressions are RE-compiled
  * inside each read's impl, where the nested self-read used to throw.
  * Now it compiles to the canonical deferred name and the flush loop
  * routes the tangle to the exact sequential automaton
  * ([[SeqCycleEval]] binds state names inside key/cond/value
  * expressions — including probe keys reading cycle state).
  *
  * Every case here is asserted VM-exact against [[MiniVm]] (a plan
  * the engine cannot make exact fails to build, which fails the
  * test); the first also pins the hand-computed store so a MiniVm bug
  * cannot mask an engine one.
  */
class CycleMediationSpec extends SparkSpec {
  import spark.implicits._

  private val lines = Seq(
    "A 3 foo", "B 5 bar", "A 7 foo", "B 2 baz", "A 4 bar", "B 9 foo")

  private type Store = Map[(String, Map[String, String]), (String, Any)]

  private def run(src: String): (Store, Store) = {
    val prog = Frontend.parse(src, "cyclemed.mtail")
    val pb = new PlanBuilder(prog,
      LogLines.fromLines(lines.toDF("line"), "line"), 2020)
    val engine = Snapshot.collect(pb.snapshot())
      .map(c => (c.name, c.labels) -> (c.kind, c.value)).toMap
    val vm = MiniVm.run(prog, lines)
      .map(c => (c.name, c.labels) -> (c.kind, c.value)).toMap
    (engine, vm)
  }

  test("value-mediated mutual cycle (a = b + 1; b = a % 3) is " +
      "VM-exact with an empty audit trail") {
    val (engine, vm) = run(
      """hidden gauge hid0
        |hidden gauge hid1 by p, q
        |counter c0
        |/A (?P<x>\d+) (?P<s>\w+)/ {
        |hid0 = hid1["w"][$s] + 1
        |}
        |/B (?P<x>\d+) (?P<s>\w+)/ {
        |hid1["w"][$s] = hid0 % 3
        |c0 += hid0
        |}
        |""".stripMargin)
    assert(engine == vm, s"engine=$engine vm=$vm")
    // hand walk: A foo→hid0=0+1=1 · B bar→hid1[w,bar]=1%3=1, c0+=1
    // · A foo→hid0=hid1[w,foo]+1=0+1=1 · B baz→hid1[w,baz]=1, c0+=1
    // · A bar→hid0=hid1[w,bar]+1=2 · B foo→hid1[w,foo]=2%3=2, c0+=2
    assert(engine(("c0", Map.empty))._2 == Snapshot.VInt(4L), engine)
  }

  test("key-mediated self cycle (hid0 = m[string(hid0)]) is VM-exact") {
    val (engine, vm) = run(
      """hidden gauge hid0
        |hidden counter hidc1 by a
        |counter c0
        |/A (?P<x>\d+) (?P<s>\w+)/ {
        |hidc1[$s]++
        |}
        |/B (?P<x>\d+) (?P<s>\w+)/ {
        |hid0 = hidc1[string(hid0)] % 3
        |c0 += hid0
        |}
        |""".stripMargin)
    assert(engine == vm, s"engine=$engine vm=$vm")
  }

  test("key-mediated mutual cycle (write key reads the metric the " +
      "other side reads back) is VM-exact") {
    val (engine, vm) = run(
      """hidden gauge hid0
        |hidden gauge hid1 by p, q
        |counter c0
        |/A (?P<x>\d+) (?P<s>\w+)/ {
        |hid1[string(hid0)][$s] = $x
        |}
        |/B (?P<x>\d+) (?P<s>\w+)/ {
        |hid0 = hid1["w"][$s] % 3
        |c0 += hid0
        |}
        |""".stripMargin)
    assert(engine == vm, s"engine=$engine vm=$vm")
  }

  test("cond-mediated cycle whose cond READ probes a key derived " +
      "from the cycle metric is VM-exact") {
    val (engine, vm) = run(
      """hidden gauge hid0
        |hidden counter hidc1 by a
        |counter c0
        |/A (?P<x>\d+) (?P<s>\w+)/ {
        |hidc1[string(hid0)] < 3 { hid0 = hid0 + 1 }
        |hidc1[$s]++
        |c0 += hid0
        |}
        |""".stripMargin)
    assert(engine == vm, s"engine=$engine vm=$vm")
  }

  test("three-metric chain with consumed early read (c1 += hidc; " +
      "hid1 ← hidc; hid0 ← hid1; hidc gated by hid0) is VM-exact") {
    val (engine, vm) = run(
      """hidden gauge hid0
        |hidden gauge hid1 by p, q
        |hidden counter hidc
        |counter c1 by a
        |/A (?P<x>\d+) (?P<s>\w+)/ {
        |c1[$s] += hidc
        |hid1["w"][$s] = hidc + 1
        |}
        |/B (?P<x>\d+) (?P<s>\w+)/ {
        |hid0 = hid1["w"][$s] - 1
        |}
        |/A (?P<x>\d+) (?P<s>\w+)/ {
        |hid0 > 0 { hidc++ }
        |}
        |""".stripMargin)
    assert(engine == vm, s"engine=$engine vm=$vm")
  }
}
