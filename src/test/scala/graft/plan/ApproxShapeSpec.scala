package graft.plan

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, MiniVm, Snapshot}

/** Directed pins for the historical provisional/fallback tangles.
  *
  * History: these nine programs were every program in the 5801–6100
  * sweep whose plan construction reached the one-level-unroll splice
  * or the last-resort machinery (5816 and 6006 are the two named fuzz
  * tangles: the abort-guard-tangled as-of pair and the directly
  * self-conditioned gauge). Through round 17 they asserted the
  * two-part contract "declares the approximation AND is VM-exact
  * anyway" — every reachable activation sat in the unroll's absorbing
  * corner.
  *
  * Round 18 ended that corner: the order-sensitive typing
  * ([[graft.mtail.TypeInfer]]) made always-abort write sites
  * reachable (a Float value into an Int-pinned metric), seed 6080's
  * tangle went non-absorbing, and the DECLARED unroll returned
  * non-VM values — the deviation the round-17 verdict ordered a hunt
  * for. The fix put abort-mediated read edges on the cycle graph
  * (PlanBuilder.abortOn accumulates stopGuardReads; own-abort reads
  * join Site.condReads), so these cycles route through the EXACT
  * sequential automaton.
  *
  * Round 19 FROZE the pinned programs ([[ApproxPinFixtures]]): the
  * generator is not stable under pool evolution (adding one leaf
  * reshuffles every seed), so regenerating from seeds silently
  * re-pointed the pins at unrelated programs each time the pool
  * grew. The shapes are the contract, not the seeds. Round 19's
  * third pass then retired the LAST declared corner: the cycle
  * replay reclaims a group read that materialized through the
  * distributed machinery before the cycle was observable (when
  * nothing materialized consumed its column), so every frozen
  * tangle — including the former declared survivors — resolves
  * VM-exactly. The planner is exact or fails the plan build, so each
  * pin asserts `engine == vm`.
  *
  * The broad net behind these pins is
  * [[graft.streaming.VmDifferentialSpec]]; the biased hunt that found
  * the r18 deviation is [[graft.streaming.ApproxHuntSpec]].
  */
class ApproxShapeSpec extends SparkSpec {
  import spark.implicits._

  private def norm(cells: Seq[Snapshot.Cell]) =
    cells.map(c => (c.name, c.labels) ->
      ((c.kind, c.value, c.tsSec.getOrElse(0L), c.buckets))).toMap

  // 60150 joined in r19's second pass, when genuine cycle edges got
  // the exact compiled-graph replay before any unroll; 4467/4788 and
  // the hunt survivors (60100/60148/60243) joined in r19's third
  // pass, when the replay learned to RECLAIM a group read that had
  // already materialized through the distributed machinery (drop the
  // stale column, compute it in the automaton, re-emit under the name)
  private val exactSeeds =
    Seq(5816, 5824, 5872, 5993, 6006, 6012, 6048, 6080, 6081, 60150,
      4467, 4788) ++ ApproxPinFixtures.huntSurvivors

  exactSeeds.foreach { seed =>
    test(s"frozen tangle $seed: historically-approximated shape now " +
        "resolves VM-exactly through the automaton, no declaration") {
      val (src, lines) = ApproxPinFixtures.pins(seed)
      val prog = Frontend.parse(src, s"approx.$seed")
      val pb = new PlanBuilder(prog,
        LogLines.fromLines(lines.toDF("line"), "line"), 2020)
      val engine = norm(Snapshot.collect(pb.snapshot()))
      val vm = norm(MiniVm.run(prog, lines))
      assert(engine == vm,
        s"""tangle $seed diverged from the VM
           |--- program:
           |$src""".stripMargin)
    }
  }
}
