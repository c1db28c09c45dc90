package graft.plan

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, MiniVm, Snapshot}
import graft.mtail.Snapshot.VInt

/** Directed pins for `del … after d` (Expire) missing-cell semantics
  * (round 19) — the engine's LAST documented reference deviation:
  * ExpireDatum returns "No datum for given labelvalues" on a missing
  * cell (internal/metrics/metric.go:223-234) and the VM errorf-aborts
  * the line (vm.go:796-812); on a present cell the TTL hint is a
  * one-shot no-op. Cell existence is create-driven: writes AND read
  * Dloads create (GetDatum appends, metric.go:151-181), immediate
  * `del` removes (RemoveDatum), and scalar Int/Float counters are
  * zero-initialized at codegen (codegen.go:109-126) so their single
  * cell always exists until deleted.
  *
  * Every case asserts engine == MiniVm == the explicit expectation —
  * the engine resolves existence through a synthetic companion-metric
  * fold ([[PlanBuilder]] `$ex$m` machinery, or no machinery at all
  * when a same-line create provably precedes), the interpreter
  * through its store's natural contains().
  */
class DelAfterSpec extends SparkSpec {
  import spark.implicits._

  private def run(src: String, lines: Seq[String]) = {
    val prog = Frontend.parse(src, "delafter.mtail")
    val pb = new PlanBuilder(prog,
      LogLines.fromLines(lines.toDF("line"), "line"), 2020)
    def norm(cells: Seq[Snapshot.Cell]) =
      cells.map(c => (c.name, c.labels) -> c.value).toMap
    (norm(Snapshot.collect(pb.snapshot())),
      norm(MiniVm.run(prog, lines)))
  }

  test("Expire on a MISSING cell aborts the line: later statements " +
      "are skipped, earlier same-line writes persist") {
    val src =
      """counter seen by k
        |counter before
        |counter later
        |/^r (?P<s>[a-z]+)$/ {
        |  before++
        |  del seen[$s] after 1h
        |  later++
        |}
        |""".stripMargin
    val (eng, vm) = run(src, Seq("r alpha", "r beta"))
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("before", Map.empty)) == VInt(2))
    assert(eng(("later", Map.empty)) == VInt(0))
  }

  test("a same-line write before the Expire proves the cell exists " +
      "— no abort (the vsftpd guard idiom)") {
    val src =
      """gauge sessions by client
        |counter connects
        |/^c (?P<s>[a-z]+)$/ {
        |  sessions[$s] = 7
        |  del sessions[$s] after 168h
        |  connects++
        |}
        |""".stripMargin
    val (eng, vm) = run(src, Seq("c alpha", "c beta"))
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("connects", Map.empty)) == VInt(2))
    assert(eng(("sessions", Map("client" -> "alpha"))) == VInt(7))
  }

  test("a cell created on an EARLIER line exists — Expire does not " +
      "abort; an unseen key on the same site does") {
    val src =
      """counter seen by k
        |counter ok
        |/^w (?P<s>[a-z]+)$/ { seen[$s]++ }
        |/^e (?P<s>[a-z]+)$/ {
        |  del seen[$s] after 1h
        |  ok++
        |}
        |""".stripMargin
    val (eng, vm) = run(src,
      Seq("w alpha", "e alpha", "e beta", "w beta", "e beta"))
    assert(eng == vm, s"engine $eng vs vm $vm")
    // e alpha: exists (line 1); e beta #1: missing → abort;
    // e beta #2: exists (line 4)
    assert(eng(("ok", Map.empty)) == VInt(2))
  }

  test("a cond-expression READ creates the cell the Expire then " +
      "sees (GetDatum on Dload)") {
    val src =
      """counter seen by k
        |counter ok
        |/^r (?P<s>[a-z]+)$/ {
        |  seen[$s] == 0 {
        |    del seen[$s] after 1h
        |    ok++
        |  }
        |}
        |""".stripMargin
    val (eng, vm) = run(src, Seq("r alpha"))
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("ok", Map.empty)) == VInt(1))
    assert(eng(("seen", Map("k" -> "alpha"))) == VInt(0))
  }

  test("an immediate del REVOKES existence: del-then-Expire on the " +
      "same key aborts") {
    val src =
      """counter seen by k
        |counter ok
        |/^x (?P<s>[a-z]+)$/ {
        |  seen[$s]++
        |  del seen[$s]
        |  del seen[$s] after 1h
        |  ok++
        |}
        |""".stripMargin
    val (eng, vm) = run(src, Seq("x alpha"))
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("ok", Map.empty)) == VInt(0))
  }

  test("del of an UNDIMENSIONED metric is a checker rejection — the " +
      "scalar zero-init cell can never meet an Expire") {
    // reference checker: "Cannot delete this. Try deleting from a
    // dimensioned metric with this as an index." — so every legal
    // Expire target is keyed and the zero-init scalar-counter cell
    // (codegen.go:109-126) is unreachable by `del … after`
    val src =
      """counter c0
        |/^a$/ { del c0 after 1h }
        |""".stripMargin
    val e = intercept[IllegalArgumentException] {
      Frontend.parse(src, "delafter.mtail")
    }
    assert(e.getMessage.contains("Cannot delete this"))
  }

  test("existence is per KEY TUPLE: sibling keys do not make a " +
      "missing key's Expire survive") {
    val src =
      """counter seen by a, b
        |counter ok
        |/^w (?P<x>[a-z]+) (?P<y>[a-z]+)$/ { seen[$x][$y]++ }
        |/^e (?P<x>[a-z]+) (?P<y>[a-z]+)$/ {
        |  del seen[$x][$y] after 30m
        |  ok++
        |}
        |""".stripMargin
    val (eng, vm) = run(src,
      Seq("w p q", "e p q", "e p r", "e q q"))
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("ok", Map.empty)) == VInt(1))
  }

  test("a READ-only-touched scalar counter keeps its codegen " +
      "zero-init epoch-0 stamp (GetDatum finds the existing cell, " +
      "creates nothing)") {
    // ts-sensitive: pre-r19 MiniVm modeled zero-init only at export
    // (rows-empty special case), so a read TOUCH created a fresh
    // ts-less cell and exported ts=None while the engine (and the
    // reference, codegen.go:109-126 SetInt(0, epoch-0)) export 0 @
    // epoch-0
    val src =
      """counter c0
        |gauge g by k
        |/^r (?P<s>[a-z]+)$/ { g[$s] = c0 }
        |""".stripMargin
    val prog = Frontend.parse(src, "delafter.mtail")
    val pb = new PlanBuilder(prog,
      LogLines.fromLines(Seq("r alpha").toDF("line"), "line"), 2020)
    def tsNorm(cells: Seq[Snapshot.Cell]) =
      cells.map(c => (c.name, c.labels) -> ((c.value, c.tsSec))).toMap
    val eng = tsNorm(Snapshot.collect(pb.snapshot()))
    val vm = tsNorm(MiniVm.run(prog, Seq("r alpha")))
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("c0", Map.empty)) == ((VInt(0), Some(0L))))
  }

  test("the Expire abort is ordered AFTER key-expression evaluation " +
      "and interleaves with later lines' state") {
    // alternating: the abort on line N must not disturb line N+1's
    // independent key, and a write AFTER an aborted del on the same
    // line never lands
    val src =
      """counter seen by k
        |counter tail by k
        |/^e (?P<s>[a-z]+)$/ {
        |  del seen[$s] after 1h
        |  tail[$s]++
        |}
        |/^w (?P<s>[a-z]+)$/ { seen[$s]++ }
        |""".stripMargin
    val (eng, vm) = run(src,
      Seq("e alpha", "w alpha", "e alpha", "e beta"))
    assert(eng == vm, s"engine $eng vs vm $vm")
    assert(eng(("tail", Map("k" -> "alpha"))) == VInt(1))
    assert(eng.get(("tail", Map("k" -> "beta"))).isEmpty)
  }

  test("a conditional value read and the Expire existence check of " +
      "the same cell plan at most two hash exchanges on the as-of key") {
    // the cond read of seen[$s] and the `$ex$seen` existence companion
    // probe the same key with the same value type from the same
    // source: two keyed as-of relations, each folded by its own keyed
    // window, so one shuffle on the as-of key `k` per relation and no
    // more.
    // The read only runs when $x > 5 and creates the cell, so the
    // Expire aborts exactly on lines whose key was neither written
    // nor read before.
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{EnsureRequirements,
      ShuffleExchangeExec}
    val src =
      """counter zero
        |counter ok
        |hidden counter seen by k
        |/^w (?P<s>[a-z]+)$/ { seen[$s]++ }
        |/^e (?P<s>[a-z]+) (?P<x>\d+)$/ {
        |  $x > 5 {
        |    seen[$s] == 0 { zero++ }
        |  }
        |  del seen[$s] after 1h
        |  ok++
        |}
        |""".stripMargin
    val lines = Seq("w alpha", "w beta", "e alpha 3", "e beta 9",
      "e omega 2", "e omega 7", "e omega 1", "e kappa 8", "w kappa",
      "e kappa 1", "e zeta 1")
    val prog = Frontend.parse(src, "delafter.mtail")
    val pb = new PlanBuilder(prog,
      LogLines.fromLines(lines.toDF("line"), "line"), 2020)
    val snap = pb.snapshot()
    // sparkPlan is the planner's output before exchanges are placed;
    // EnsureRequirements adds the shuffles the plan's operators need
    val physical = EnsureRequirements()(snap.queryExecution.sparkPlan)
    val onKey = physical.collect {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }.count {
      case h: HashPartitioning =>
        h.expressions.exists(_.references.exists(_.name == "k"))
      case _ => false
    }
    assert(onKey > 0 && onKey <= 2,
      s"$onKey hash exchanges on the as-of key:\n$physical")
    val eng = Snapshot.collect(snap).map(c => (c.name, c.labels) -> c.value)
      .toMap
    val vm = MiniVm.run(prog, lines).map(c => (c.name, c.labels) -> c.value)
      .toMap
    assert(eng == vm, s"engine $eng vs vm $vm")
    // omega (first line) and zeta abort; omega's x=7 read creates it
    assert(eng(("ok", Map.empty)) == VInt(6))
    assert(eng(("zero", Map.empty)) == VInt(2))
  }
}
