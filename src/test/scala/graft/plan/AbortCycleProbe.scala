package graft.plan

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, MiniVm, Snapshot}

/** Abort-mediated self-dependence with NON-absorbing dynamics:
  * `int(hid0)` aborts iff hid0 currently holds a word, the abort gates
  * hid0's own rewrite on the same line, and a separate reset line
  * flips hid0 back to numeric — so the abort alternates with history
  * instead of absorbing. The engine must match [[MiniVm]] exactly.
  */
class AbortCycleProbe extends SparkSpec {
  import spark.implicits._

  private def norm(cells: Seq[Snapshot.Cell]) =
    cells.map(c => (c.name, c.labels) ->
      ((c.kind, c.value, c.tsSec.getOrElse(0L), c.buckets))).toMap

  test("probe: abort-gated self-rewrite with periodic reset") {
    val src =
      """counter c0
        |gauge g0
        |hidden gauge hid0
        |/(?P<x>\d+) (?P<s>[a-z]+)/ {
        |  c0 += int(hid0)
        |  hid0 = $s
        |  g0 = $x
        |}
        |/^reset$/ {
        |  hid0 = "7"
        |}
        |""".stripMargin
    val prog = Frontend.parse(src, "abortcycle.mtail")
    val lines = Seq(
      "1 alpha", "2 beta", "reset", "3 gamma", "4 delta", "reset",
      "5 eps", "reset", "6 zeta", "7 eta")
    val pb = new PlanBuilder(prog,
      LogLines.fromLines(lines.toDF("line"), "line"), 2020)
    val engine = norm(Snapshot.collect(pb.snapshot()))
    val vm = norm(MiniVm.run(prog, lines))
    assert(engine == vm, s"engine=$engine vm=$vm")
  }
}
