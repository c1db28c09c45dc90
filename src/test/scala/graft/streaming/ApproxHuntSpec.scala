package graft.streaming

import scala.util.Random

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, MiniVm, Snapshot}
import graft.plan.PlanBuilder

/** Biased abort-cycle sweep: the generator leans toward the family
  * most likely to defeat exact cycle resolution — abort-mediated
  * self-dependence with non-absorbing (reset-flipped) dynamics, mixed
  * with machinery-fenced cycle residuals
  * ([[FuzzPool.genProgramAbort]]). Every accepted program must build a
  * plan and match [[MiniVm]] exactly; the planner is exact or fails the
  * plan build, so a divergence or a crash fails the sweep with program
  * + seed.
  *
  * History: this sweep's SECOND seed (60002) caught a divergence on
  * day one — the order-sensitive metric-typing gap (engine exported
  * VStr("42.0") where the reference keeps an Int and S2i-coerces; see
  * [[graft.mtail.TypeInfer]] and [[graft.plan.TypePinSpec]]). The
  * typing fix then made pinned seed 6080's tangle non-absorbing,
  * resolved by putting abort-mediated read edges on the cycle graph so
  * the exact automaton owns those cycles (PlanBuilder.abortOn).
  */
class ApproxHuntSpec extends SparkSpec {
  import spark.implicits._

  private def norm(cells: Seq[Snapshot.Cell]) =
    cells.map(c => (c.name, c.labels) ->
      ((c.kind, c.value, c.tsSec.getOrElse(0L), c.buckets))).toMap

  test("biased abort-cycle sweep: no silent divergence; declared " +
      "activations report their VM-exactness") {
    val iters = sys.env.getOrElse("SPARK_GRAFT_APPROX_HUNT_ITERS", "25")
      .toInt
    // own seed space (60000); override the base for fresh-seed soaks
    // without re-treading the historical 60001+ iterations
    val base = sys.env.getOrElse("SPARK_GRAFT_APPROX_HUNT_SEED_BASE",
      "60000").toInt
    var checked = 0
    (1 to iters).foreach { i =>
      if (i % 50 == 0)
        System.err.println(s"[approx-hunt] iteration $i/$iters")
      val rnd = new Random(base + i)
      val src = FuzzPool.genProgramAbort(rnd)
      FuzzPool.parseAccepted(src, "approxhunt.mtail").foreach { prog =>
      try {
        val lines = FuzzPool.genLines(rnd)
        val pb = new PlanBuilder(prog,
          LogLines.fromLines(lines.toDF("line"), "line"), 2020)
        val engine = norm(Snapshot.collect(pb.snapshot()))
        val vm = norm(MiniVm.run(prog, lines))
        checked += 1
        if (engine != vm) fail(
          s"""seed ${base + i} diverged from the VM
             |engine only: ${(engine.toSet -- vm.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |vm only: ${(vm.toSet -- engine.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |--- program:
             |$src""".stripMargin)
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable => fail(
          s"iteration $i crashed: ${e.getMessage}\n--- program:\n$src", e)
      }
      }
    }
    System.err.println(s"[approx-hunt] $checked/$iters checked")
    assert(checked >= iters / 2,
      s"only $checked/$iters accepted — the biased pool is rejecting")
  }
}
