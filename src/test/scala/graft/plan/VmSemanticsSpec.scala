package graft.plan

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, Snapshot}
import graft.mtail.Snapshot.{VInt, VStr}

/** Behavioural ports of the reference's per-opcode tests
  * (`internal/runtime/vm/vm_test.go:596-928`) — arithmetic, conversion,
  * string builtins and error semantics exercised through tiny programs
  * rather than bytecode.
  */
class VmSemanticsSpec extends SparkSpec {
  import spark.implicits._

  private def run(src: String, lines: Seq[String])
      : Map[(String, Map[String, String]), Snapshot.Value] = {
    val prog = Frontend.parse(src, "vmsem")
    val df = LogLines.fromLines(lines.toDF("line"), "line")
    Snapshot.collect(new PlanBuilder(prog, df, 0).snapshot())
      .map(c => (c.name, c.labels) -> c.value).toMap
  }

  test("integer arithmetic incl. pow, shifts, bitwise") {
    val cells = run(
      """gauge a
        |gauge b
        |gauge c
        |gauge d
        |gauge e
        |gauge f
        |/^(?P<x>\d+) (?P<y>\d+)$/ {
        |  a = $x + $y * 2
        |  b = $x ** 2
        |  c = $x << 2
        |  d = $x >> 1
        |  e = $x & $y
        |  f = $x | $y
        |}
        |""".stripMargin, Seq("6 3"))
    assert(cells(("a", Map.empty)) == VInt(12))
    assert(cells(("b", Map.empty)) == VInt(36))
    assert(cells(("c", Map.empty)) == VInt(24))
    assert(cells(("d", Map.empty)) == VInt(3))
    assert(cells(("e", Map.empty)) == VInt(2))
    assert(cells(("f", Map.empty)) == VInt(7))
  }

  test("division truncates toward zero; modulo keeps dividend sign") {
    val cells = run(
      """gauge q
        |gauge r
        |/^(?P<x>\d+) (?P<y>\d+)$/ {
        |  q = (0 - $x) / $y
        |  r = (0 - $x) % $y
        |}
        |""".stripMargin, Seq("7 3"))
    assert(cells(("q", Map.empty)) == VInt(-2)) // Go: -7/3 = -2
    assert(cells(("r", Map.empty)) == VInt(-1)) // Go: -7%3 = -1
  }

  test("div-by-zero is a runtime error: aborts the line, counted " +
      "(vm.go:675-683)") {
    val cells = run(
      """counter total
        |gauge bad
        |/^(?P<x>\d+) (?P<y>\d+)$/ {
        |  bad = $x / $y
        |  total++
        |}
        |""".stripMargin, Seq("7 0", "8 2"))
    // the 7/0 line's gauge write is dropped; 8/2 lands
    assert(cells(("bad", Map.empty)) == VInt(4))
    // the error ABORTS the line: total++ after the bad division must
    // not fire for "7 0" (the VM's errorf stops execution, it doesn't
    // just skip one update)
    assert(cells(("total", Map.empty)) == VInt(1))
  }

  test("float % by zero records NaN like Fmod (vm.go:659-660), " +
      "line NOT aborted") {
    val cells = run(
      """counter total
        |gauge fm
        |/^(?P<x>\d+\.\d+) (?P<y>\d+\.\d+)$/ {
        |  fm = $x % $y
        |  total++
        |}
        |""".stripMargin, Seq("7.5 2.0", "7.5 0.0"))
    // math.Mod(7.5, 0) = NaN, recorded with no runtime error: the
    // zero-divisor line still completes, so total counts BOTH lines
    cells(("fm", Map.empty)) match {
      case Snapshot.VFloat(v) => assert(v.isNaN,
        s"expected NaN from float % 0.0, got $v")
      case other => fail(s"expected VFloat(NaN), got $other")
    }
    assert(cells(("total", Map.empty)) == VInt(2))
  }

  test("float / by zero records ±Inf like Fdiv, line NOT aborted") {
    val cells = run(
      """counter total
        |gauge fp
        |gauge fn
        |/^(?P<x>\d+\.\d+) (?P<y>\d+\.\d+)$/ {
        |  fp = $x / $y
        |  fn = (0.0 - $x) / $y
        |  total++
        |}
        |""".stripMargin, Seq("7.5 0.0"))
    assert(cells(("fp", Map.empty)) ==
      Snapshot.VFloat(Double.PositiveInfinity))
    assert(cells(("fn", Map.empty)) ==
      Snapshot.VFloat(Double.NegativeInfinity))
    assert(cells(("total", Map.empty)) == VInt(1))
  }

  test("int % by zero is a runtime error: aborts the line " +
      "(vm.go:684-695)") {
    val cells = run(
      """counter total
        |gauge bad
        |/^(?P<x>\d+) (?P<y>\d+)$/ {
        |  bad = $x % $y
        |  total++
        |}
        |""".stripMargin, Seq("7 0", "8 3"))
    assert(cells(("bad", Map.empty)) == VInt(2)) // 8 % 3; "7 0" dropped
    assert(cells(("total", Map.empty)) == VInt(1))
  }

  test("shifts use Go semantics: counts ≥ 64 fill, out-of-range " +
      "counts abort (vm.go:700-711)") {
    // Java/Spark shifts mask the count to the low 6 bits (6 << 64 == 6)
    // but Go's don't: 6 << 64 == 0, -7 >> 64 == -1
    val cells = run(
      """gauge a
        |gauge b
        |gauge c
        |/^(?P<x>\d+) (?P<y>\d+)$/ {
        |  a = $x << $y
        |  b = $x >> $y
        |  c = (0 - $x) >> $y
        |}
        |""".stripMargin, Seq("6 64"))
    assert(cells(("a", Map.empty)) == VInt(0))
    assert(cells(("b", Map.empty)) == VInt(0))
    assert(cells(("c", Map.empty)) == VInt(-1))
    // a NEGATIVE count is "shift int out of range": the line aborts
    val aborted = run(
      """counter total
        |gauge d
        |/^(?P<x>\d+) (?P<y>\d+)$/ {
        |  d = $x << (0 - $y)
        |  total++
        |}
        |""".stripMargin, Seq("6 1", "3 0"))
    assert(aborted(("total", Map.empty)) == VInt(1)) // "6 1" dropped
    assert(aborted(("d", Map.empty)) == VInt(3))     // 3 << -0 == 3
  }

  test("the ABORTING statement's own write never lands — even as " +
      "the last write of the batch (r17 extended-pool fuzz find)") {
    // same program, lines REVERSED: the aborting line comes last, so
    // last-write-wins can no longer mask a leaked store — the VM's
    // errorf fires during evaluation, before the store opcode
    // (vm.go:700-711 then the Iset never runs). Pre-r17 the engine
    // leaked the masked-count Java shift value (1 << -1 → Long.MIN
    // via count & 63) into the cell.
    val cells = run(
      """counter total
        |gauge d
        |/^(?P<x>\d+) (?P<y>\d+)$/ {
        |  d = $x << (0 - $y)
        |  total++
        |}
        |""".stripMargin, Seq("3 0", "6 1"))
    assert(cells(("total", Map.empty)) == VInt(1))
    assert(cells(("d", Map.empty)) == VInt(3),
      "the aborted line's own write leaked into the store")
    // conversion-failure flavor of the same contract: int($s) on the
    // LAST line errors; g must keep the earlier line's value
    val conv = run(
      """gauge g
        |/^(?P<s>\S+)$/ {
        |  g = int($s)
        |}
        |""".stripMargin, Seq("34", "12x"))
    assert(conv(("g", Map.empty)) == VInt(34))
  }

  test("int()/float()/strtol() parse failures are runtime errors: " +
      "line aborts like S2i/S2f (vm.go:97-129)") {
    val cells = run(
      """counter total
        |gauge g
        |/^(?P<s>\S+)$/ {
        |  g = int($s)
        |  total++
        |}
        |""".stripMargin, Seq("12x", "34"))
    assert(cells(("g", Map.empty)) == VInt(34)) // "12x" aborted
    assert(cells(("total", Map.empty)) == VInt(1))
    val hex = run(
      """counter total
        |gauge h
        |/^(?P<s>\S+)$/ {
        |  h = strtol($s, 16)
        |  total++
        |}
        |""".stripMargin, Seq("xyz", "-ff"))
    // conv() alone scans a valid prefix ("xyz" → 0) and reads the
    // magnitude as unsigned; ParseInt errors on "xyz" and yields -255
    assert(hex(("h", Map.empty)) == VInt(-255))
    assert(hex(("total", Map.empty)) == VInt(1))
  }

  test("+ on strings concatenates like the VM's Cat op") {
    // codegen.go:373-378 maps PLUS@String -> code.Cat (vm.go:907-918);
    // found by the StreamEquivalenceSpec fuzz: the lowering emitted
    // arithmetic + for string operands, which Spark 4 rejects at
    // analysis (the compile-only prop sweep never executed the plan)
    val cells = run(
      """text t0
        |text t1
        |/^(?P<s>\w+) (?P<x>\d+)$/ {
        |  t0 = $s + "-" + string($x)
        |  t1 = "n=" + string($x + 1)
        |}
        |""".stripMargin, Seq("abc 7"))
    assert(cells(("t0", Map.empty)) == VStr("abc-7"))
    assert(cells(("t1", Map.empty)) == VStr("n=8"))
  }

  test("string builtins: len, tolower, subst literal + regex, strtol") {
    val cells = run(
      """gauge l
        |text low
        |text sub1
        |text sub2
        |gauge hex
        |/^(?P<s>\S+)$/ {
        |  l = len($s)
        |  low = tolower($s)
        |  sub1 = subst("B", "x", $s)
        |  sub2 = subst(/[0-9]+/, "#", $s)
        |  hex = strtol("ff", 16)
        |}
        |""".stripMargin, Seq("aB9cB77"))
    assert(cells(("l", Map.empty)) == VInt(7))
    assert(cells(("low", Map.empty)) == VStr("ab9cb77"))
    assert(cells(("sub1", Map.empty)) == VStr("ax9cx77"))
    assert(cells(("sub2", Map.empty)) == VStr("aB#cB#"))
    assert(cells(("hex", Map.empty)) == VInt(255))
  }

  test("len counts BYTES like Go's len, not characters " +
      "(vm.go:823-830)") {
    val cells = run(
      """gauge l
        |/^(?P<s>\S+)$/ {
        |  l = len($s)
        |}
        |""".stripMargin, Seq("héllo")) // é is 2 bytes in UTF-8
    assert(cells(("l", Map.empty)) == VInt(6))
  }

  test("float→string conversions render Go %g (F2s, vm.go:889-896): " +
      "label keys, string-unified +, string(), text assignment") {
    val cells = run(
      """counter byf by lab
        |text cat
        |text conv
        |text asgn
        |text asgn2
        |/^(?P<x>\d+)$/ {
        |  byf[float($x) * 1000.0]++
        |  cat = "v=" + float($x) / 8.0
        |  conv = string(float($x) * 1000000.0)
        |  asgn = float($x) / 100000.0
        |  asgn2 = float($x) * 1000000.0
        |}
        |""".stripMargin, Seq("2000"))
    // 2e+06, not Spark-cast "2000000.0" — scientific from 1e6 up
    assert(cells(("byf", Map("lab" -> "2e+06"))) == VInt(1))
    assert(cells(("cat", Map.empty)) == VStr("v=250"))
    assert(cells(("conv", Map.empty)) == VStr("2e+09"))
    assert(cells(("asgn", Map.empty)) == VStr("0.02"))
    // DIRECT text assignment skips the checker's conversion nodes, so
    // the runtime PopString 'G' coercion applies — UPPERCASE exponent
    // (vm.go:171-186), unlike the F2s paths above
    assert(cells(("asgn2", Map.empty)) == VStr("2E+09"))
  }

  test("comparison coercion and logical ops in conds") {
    val cells = run(
      """counter big
        |counter both
        |/^(?P<x>\d+)$/ {
        |  $x > 5 {
        |    big++
        |  }
        |  $x >= 3 && $x <= 7 {
        |    both++
        |  }
        |}
        |""".stripMargin, Seq("2", "6", "9"))
    assert(cells(("big", Map.empty)) == VInt(2))
    assert(cells(("both", Map.empty)) == VInt(1))
  }

  test("getfilename() and else branches") {
    val cells = run(
      """counter named by f
        |counter odd
        |counter even
        |/^(?P<x>\d+)$/ {
        |  named[getfilename()]++
        |  $x % 2 == 1 {
        |    odd++
        |  } else {
        |    even++
        |  }
        |}
        |""".stripMargin, Seq("1", "2", "3"))
    assert(cells(("odd", Map.empty)) == VInt(2))
    assert(cells(("even", Map.empty)) == VInt(1))
    // fromLines stamps the empty filename; the label carries it
    assert(cells(("named", Map("f" -> ""))) == VInt(3))
  }

  test("a del that never fires keeps the metric's updates") {
    // regression: the del branch emits a row per delete even when no
    // del fired; without the isNull guard every update row was dropped
    val cells = run(
      """gauge scratch by k
        |/^reset$/ {
        |  del scratch["s"]
        |}
        |/^(?P<x>\d+)$/ {
        |  scratch["s"] = $x
        |}
        |""".stripMargin, Seq("5", "7"))
    assert(cells(("scratch", Map("k" -> "s"))) == VInt(7))
  }

  test("del drops the cell; later updates restart it") {
    val src =
      """gauge scratch by k
        |/^reset$/ {
        |  del scratch["s"]
        |}
        |/^(?P<x>\d+)$/ {
        |  scratch["s"] = $x
        |}
        |""".stripMargin
    val dropped = run(src, Seq("5", "reset"))
    assert(!dropped.contains(("scratch", Map("k" -> "s"))))
    val restarted = run(src, Seq("5", "reset", "9"))
    assert(restarted(("scratch", Map("k" -> "s"))) == VInt(9))
  }

  test("keyless del is a compile error like the reference " +
      "(checker.go:865-874)") {
    val e = intercept[IllegalArgumentException] {
      Frontend.parse(
        """gauge scratch
          |/^reset$/ { del scratch }
          |/^(?P<x>\d+)$/ { scratch = $x }
          |""".stripMargin, "vmsem")
    }
    assert(e.getMessage.contains("Cannot delete this"))
  }

  test("carried multi-key state: (\"ab\",\"c\") never aliases (\"a\",\"bc\")") {
    // regression for the joinKeys separator: with a bare concat the two
    // key tuples both join to "abc" and batch-2 reads of ("a","bc")
    // would see batch-1's ("ab","c") write carried across the batch
    // boundary (the streaming runner feeds finalReadStateDfs back in as
    // initialState exactly like this)
    val src =
      """hidden gauge st by a, b
        |gauge out1
        |gauge out2
        |/^set (?P<a>\w+) (?P<b>\w+) (?P<v>\d+)$/ {
        |  st[$a][$b] = $v
        |}
        |/^get1 (?P<a>\w+) (?P<b>\w+)$/ { out1 = st[$a][$b] }
        |/^get2 (?P<a>\w+) (?P<b>\w+)$/ { out2 = st[$a][$b] }
        |""".stripMargin
    val prog = Frontend.parse(src, "vmsem")
    val batch1 = new PlanBuilder(prog,
      LogLines.fromLines(Seq("set ab c 5").toDF("line"), "line"), 0)
    // building the snapshot plan registers the read sites that
    // finalReadStateDfs carries state for (same order as StreamRunner)
    batch1.snapshot().collect()
    val carried = batch1.finalReadStateDfs()
      .map { case (m, sdf) => m -> sdf.localCheckpoint(true) }
    val batch2 = new PlanBuilder(prog,
      LogLines.fromLines(Seq("get1 a bc", "get2 ab c").toDF("line"),
        "line"), 0, initialState = carried)
    val cells = Snapshot.collect(batch2.snapshot())
      .map(c => (c.name, c.labels) -> c.value).toMap
    assert(cells(("out1", Map.empty)) == VInt(0)) // distinct tuple: zero
    assert(cells(("out2", Map.empty)) == VInt(5)) // genuine carry: hit
  }

  test("strptime with unsupported argument shape fails at compile") {
    // the reference checker rejects these at compile time; a silent
    // no-op would leave the time register never updated
    intercept[IllegalArgumentException] {
      run(
        """counter c
          |/^(?P<d>.*)$/ {
          |  strptime($d)
          |  c++
          |}
          |""".stripMargin, Seq("x"))
    }
  }

  test("strptime with a RUNTIME layout parses like the VM " +
      "(vm.go:556-561 pops the layout from the stack)") {
    val cells = run(
      """gauge t
        |/^(?P<d>\S+) (?P<l>\S+)$/ {
        |  strptime($d, $l)
        |  t = timestamp()
        |}
        |""".stripMargin, Seq("2016-03-04 2006-01-02"))
    assert(cells(("t", Map.empty)) ==
      VInt(java.time.Instant.parse("2016-03-04T00:00:00Z")
        .getEpochSecond))
  }

  test("settime with a non-Int argument aborts the line " +
      "(vm.go:600-608 type-asserts int64, no coercion)") {
    val cells = run(
      """gauge g
        |/^(?P<f>\d+\.\d+)$/ {
        |  settime($f)
        |  g = 7
        |}
        |""".stripMargin, Seq("1.5"))
    // the float argument errors the VM → the line aborts → the write
    // after settime never lands (no cell; without the abort it'd be 7)
    assert(!cells.contains(("g", Map.empty)))
  }

  test("string-vs-number comparison is LEXICOGRAPHIC like the VM " +
      "(LUB promotes to String → Scmp; checker.go:461-503)") {
    val cells = run(
      """counter hit
        |counter miss
        |/^(?P<s>[a-z0-9]+)$/ {
        |  $s > 5 {
        |    hit++
        |  } else {
        |    miss++
        |  }
        |}
        |""".stripMargin, Seq("10", "7"))
    // "10" > "5" is FALSE byte-wise ('1' < '5'); numeric coercion
    // would have said true — that's the Spark default this overrides
    assert(cells(("hit", Map.empty)) == VInt(1)) // "7" > "5"
    assert(cells(("miss", Map.empty)) == VInt(1)) // "10"
  }

  test("bitwise with a string operand parses it at runtime " +
      "(PopInt, vm.go:138-143)") {
    val cells = run(
      """gauge g
        |gauge n
        |/^(?P<s>[a-z0-9]+)$/ {
        |  g = $s & 12
        |  n = ~$s
        |}
        |""".stripMargin, Seq("6"))
    assert(cells(("g", Map.empty)) == VInt(4)) // 6 & 12
    assert(cells(("n", Map.empty)) == VInt(-7)) // ^6
  }

  test("Int operands in logical conds use VM truthiness " +
      "(Jnm/Jm: int64 zero is no-match, vm.go:444-470)") {
    val cells = run(
      """counter c
        |counter d
        |0 || 1 {
        |  c++
        |}
        |1 && 0 {
        |  d++
        |}
        |""".stripMargin, Seq("x"))
    assert(cells(("c", Map.empty)) == VInt(1))
    assert(cells(("d", Map.empty)) == VInt(0)) // declared → zero-init
  }

  test("mixing `=` and `+=` on one text metric: the set replaces, " +
      "the same-line += appends (Iset then ADD_ASSIGN, per datum)") {
    val cells = run(
      """text t
        |/^(?P<s>[a-z]+)$/ {
        |  t = $s
        |  t += "!"
        |}
        |""".stripMargin, Seq("ab", "cd"))
    // each line: t = <word>, then t += "!" — the second line's set
    // wipes the first line's "ab!"
    assert(cells(("t", Map.empty)) == VStr("cd!"))
  }

  test("text += concatenates across lines (ADD_ASSIGN double-emits " +
      "the lhs, codegen.go:359-363); ++ on text stays an error") {
    val cells = run(
      """text acc
        |/^(?P<s>[a-z]+)$/ {
        |  acc += $s
        |}
        |""".stripMargin, Seq("ab", "cd", "ef"))
    assert(cells(("acc", Map.empty)) == VStr("abcdef"))
    // a cross-line read of the running concat sees every suffix
    val read = run(
      """hidden text t0
        |gauge l
        |/^(?P<s>[a-z]+)$/ {
        |  t0 += $s
        |  l = len(t0)
        |}
        |""".stripMargin, Seq("a", "bb", "ccc"))
    assert(read(("l", Map.empty)) == VInt(6))
    val e = intercept[IllegalArgumentException] {
      Frontend.parse("text l\n/a/ { l++ }\n", "vmsem")
    }
    assert(e.getMessage.contains("expecting an Int for INC"))
    // and `-=` is not mtail syntax at all (lexer.go:239-251 has no
    // SUB_ASSIGN token)
    intercept[IllegalArgumentException] {
      Frontend.parse("counter c\n/a/ { c -= 1 }\n", "vmsem")
    }
  }

  test("a read of a `+=`-built text sees a float suffix the way Cat " +
      "pops it: uppercase 'G' (vm.go:171-186)") {
    val src =
      """hidden text t
        |text o
        |text e
        |/^(?P<x>\d+)$/ {
        |  t += $x * 1e30
        |  o = t
        |  e += $x * 1e30
        |}
        |""".stripMargin
    val cells = run(src, Seq("2"))
    val vm = graft.mtail.MiniVm.run(Frontend.parse(src, "vmsem"), Seq("2"))
      .map(c => (c.name, c.labels) -> c.value).toMap
    assert(cells(("o", Map.empty)) == VStr("2E+30"))
    assert(cells(("e", Map.empty)) == VStr("2E+30"))
    assert(cells == vm)
  }

  test("a write cond reading a mixed =/++ metric compiles and folds " +
      "(fuzz-found cross-pass name-alignment crash)") {
    // The cond `h == 1` reads h, whose sites mix a set (`h = 0`) and
    // an increment (`h++`) under a LATER regex — the read compiles to
    // an as-of fold whose registration pass 1 skips (no writes visible
    // at the cond yet). With sequence-numbered registration names this
    // shifted every later walk-materialized column between the two
    // compile passes, and the frozen pass-1 cond referenced a name
    // pass 2 bound elsewhere — "circular materialization" / unresolved
    // attribute at plan build. Content-derived names (stableName) make
    // the passes agree; this pins the compile and the fold value.
    //
    // Value semantics: this shape is NON-ABSORBING self-reference —
    // whether the reset fires depends on its own full firing history
    // through the later `++` (a sequential automaton no associative
    // window can express). Since round 16 the engine resolves genuine
    // keyless cycles with SeqCycleEval's sequential state machine —
    // exactly the VM's per-line/per-site replay — so the value is the
    // strictly sequential VM's: h++ arms on each `b` line, the next
    // `a` line sees h == 1, resets and counts. a(h=0,no) b(h=1)
    // a(reset,c=1) b(h=1) a(reset,c=2). Pre-r16 the one-level-unroll
    // bottom froze the reset's cond at pass-1 visibility and yielded
    // c = 1; a shape the automaton cannot resolve now fails the plan
    // build instead of approximating. One-shot ≡
    // batch-split is enforced by the equivalence fuzz, whose pool
    // carries this shape.
    val cells = run(
      """hidden gauge h
        |counter c
        |/^a$/ {
        |  h == 1 {
        |    h = 0
        |    c++
        |  }
        |}
        |/b (?P<x>\d+)/ { h++ }
        |""".stripMargin, Seq("a", "b 1", "a", "b 2", "a"))
    assert(cells(("c", Map.empty)) == VInt(2))
  }

  test("reading a metric whose write cond reads a LATER-written " +
      "keyless metric resolves the inner read against the full " +
      "site list (deferred __mrd binding)") {
    // m's write cond reads k, whose only write site appears later in
    // program text. Pre-r15 the frozen pass-1 cond bottomed k at
    // pass-1 visibility (no sites yet → constant zero), so the read
    // of m silently saw the write as never firing and out stayed 0.
    // The content-named deferred binding resolves the inner read to
    // the pass-2 registration — full site list, distributed scan.
    val cells = run(
      """gauge out
        |hidden gauge m
        |hidden counter k
        |/^w$/ {
        |  k > 0 { m = 1 }
        |}
        |/^k$/ { k++ }
        |/^r$/ { out = m }
        |""".stripMargin, Seq("k", "w", "r"))
    assert(cells(("out", Map.empty)) == VInt(1))
  }

  test("op-aware folds: `=` on a counter is last-write, `++` on a " +
      "gauge accumulates, mixing folds set-then-increments") {
    // the VM applies Iset/Inc per datum regardless of declared kind
    val setCounter = run(
      """counter c
        |/^(?P<x>\d+)$/ { c = $x }
        |""".stripMargin, Seq("5", "7"))
    assert(setCounter(("c", Map.empty)) == VInt(7)) // not 12
    val incGauge = run(
      """gauge g
        |/^.$/ { g++ }
        |""".stripMargin, Seq("a", "b", "c"))
    assert(incGauge(("g", Map.empty)) == VInt(3)) // not last-write 1
    val mixed = run(
      """counter m
        |/^set (?P<x>\d+)$/ { m = $x }
        |/^inc$/ { m++ }
        |""".stripMargin, Seq("inc", "set 10", "inc", "inc"))
    // increments BEFORE the set are overwritten by it
    assert(mixed(("m", Map.empty)) == VInt(12))
  }

  test("reads of ++-updated metrics see the running total " +
      "(Iget on an increment-built datum)") {
    val cells = run(
      """counter hits
        |gauge snap
        |/^x$/ { hits++ }
        |/^y$/ {
        |  hits++
        |  snap = hits
        |}
        |/^read$/ { snap = hits }
        |""".stripMargin, Seq("x", "x", "read", "y", "x", "read"))
    // the y-line's read sees its own same-line increment (3); the
    // final read sees all four
    assert(cells(("hits", Map.empty)) == VInt(4))
    assert(cells(("snap", Map.empty)) == VInt(4))
  }

  test("cross-line reads under a DIFFERENT regex than the write " +
      "resolve by the true write key (as-of), same batch") {
    // regression: the window read partitioned rows by the READ's key
    // columns, which are null on rows the read's pattern didn't match
    // — a write under another pattern landed in the null partition and
    // the read silently returned 0
    val cells = run(
      """hidden gauge st by a, b
        |gauge out
        |/^set (?P<a>\w+) (?P<b>\w+) (?P<v>\d+)$/ {
        |  st[$a][$b] = $v
        |}
        |/^get (?P<a>\w+) (?P<b>\w+)$/ { out = st[$a][$b] }
        |""".stripMargin, Seq("set ab c 5", "get ab c"))
    assert(cells(("out", Map.empty)) == VInt(5))
  }

  test("reads with a TRANSFORMED key hit the write's cell " +
      "(m[$x] written, m[$x/2] read — the fuzz-found shape)") {
    val cells = run(
      """hidden gauge h by k
        |gauge out
        |/^(?P<x>\d+)$/ {
        |  out = h[$x / 2.0] + 1
        |  h[$x] = $x
        |}
        |""".stripMargin, Seq("17", "34"))
    // line "34" reads h["17"] — written by line "17" (17 ≠ 17.0 would
    // miss; %g renders both keys "17")
    assert(cells(("out", Map.empty)) == VInt(18))
  }

  test("$0 binds the whole match like any capref (checker.go:897-899 " +
      "registers index 0)") {
    val cells = run(
      """counter seen by m
        |/ab+c/ {
        |  seen[$0]++
        |}
        |""".stripMargin, Seq("xx abbbc yy", "abc"))
    assert(cells(("seen", Map("m" -> "abbbc"))) == VInt(1))
    assert(cells(("seen", Map("m" -> "abc"))) == VInt(1))
  }

  test("reads of a metric mixing `=` and `++` fold last-set plus " +
      "post-set increments, like the datum") {
    val cells = run(
      """counter m
        |gauge snap
        |/^set (?P<x>\d+)$/ { m = $x }
        |/^inc$/ { m++ }
        |/^read$/ { snap = m }
        |""".stripMargin,
      Seq("inc", "read", "set 10", "inc", "read", "inc"))
    // read#1 sees the lone increment (1); read#2 sees 10 + 1
    assert(cells(("snap", Map.empty)) == VInt(11))
    assert(cells(("m", Map.empty)) == VInt(12))
  }

  test("joinKeys preserves key arity and position under nulls") {
    // concat_ws skips nulls, so without the per-position coalesce the
    // distinct tuples (null,"a") and ("a",null) alias to one state key
    import org.apache.spark.sql.functions.col
    val df = Seq[(String, String)]((null, "a"), ("a", null), ("a", "a"))
      .toDF("k1", "k2")
      .select(PlanBuilder.joinKeys(Seq(col("k1"), col("k2"))).as("k"))
    assert(df.distinct().count() == 3,
      "null key positions must not alias")
  }

  test("read of a counter mixing ++ and del: del barriers the " +
      "running total, later increments restart from zero") {
    // the VM's del removes the datum (store.go); the next Iget
    // recreates it at 0 — so a read after del sees 0, and increments
    // after the del count from a fresh cell
    val cells = run(
      """counter c by k
        |gauge s1 by k
        |gauge s2 by k
        |gauge s3 by k
        |/^inc (?P<k>\w+)$/ { c[$k]++ }
        |/^del (?P<k>\w+)$/ { del c[$k] }
        |/^r1 (?P<k>\w+)$/ { s1[$k] = c[$k] }
        |/^r2 (?P<k>\w+)$/ { s2[$k] = c[$k] }
        |/^r3 (?P<k>\w+)$/ { s3[$k] = c[$k] }
        |""".stripMargin,
      Seq("inc a", "inc a", "r1 a", "del a", "r2 a", "inc a", "r3 a"))
    assert(cells(("s1", Map("k" -> "a"))) == VInt(2))
    assert(cells(("s2", Map("k" -> "a"))) == VInt(0))
    assert(cells(("s3", Map("k" -> "a"))) == VInt(1))
    // exported cell restarts after the delete
    assert(cells(("c", Map("k" -> "a"))) == VInt(1))
  }

  test("read of a counter mixing =, ++ and del: fold is last " +
      "set-or-del plus increments after it") {
    val cells = run(
      """counter c by k
        |gauge s1 by k
        |gauge s2 by k
        |/^set (?P<k>\w+) (?P<x>\d+)$/ { c[$k] = $x }
        |/^inc (?P<k>\w+)$/ { c[$k]++ }
        |/^del (?P<k>\w+)$/ { del c[$k] }
        |/^r1 (?P<k>\w+)$/ { s1[$k] = c[$k] }
        |/^r2 (?P<k>\w+)$/ { s2[$k] = c[$k] }
        |""".stripMargin,
      Seq("inc a", "set a 10", "inc a", "r1 a", "del a", "inc a",
        "r2 a"))
    assert(cells(("s1", Map("k" -> "a"))) == VInt(11))
    assert(cells(("s2", Map("k" -> "a"))) == VInt(1))
  }

  test("read of a +=-built text metric: running concatenation in " +
      "statement order (ADD_ASSIGN is m = m + e, codegen.go:359-363)") {
    val cells = run(
      """text t
        |text o1
        |text o2
        |/^add (?P<s>\w+)$/ { t += $s }
        |/^r1/ { o1 = t }
        |/^r2/ { o2 = t }
        |""".stripMargin,
      Seq("add ab", "add cd", "r1", "add ef", "r2"))
    assert(cells(("o1", Map.empty)) == VStr("abcd"))
    assert(cells(("o2", Map.empty)) == VStr("abcdef"))
    assert(cells(("t", Map.empty)) == VStr("abcdef"))
  }

  test("text mixing = and +=: Iset replaces the string datum, " +
      "later += appends to the set value") {
    val cells = run(
      """text t
        |text o1
        |text o2
        |/^set (?P<s>\w+)$/ { t = $s }
        |/^add (?P<s>\w+)$/ { t += $s }
        |/^r1/ { o1 = t }
        |/^r2/ { o2 = t }
        |""".stripMargin,
      Seq("add x", "r1", "set A", "add b", "add c", "r2"))
    // before any set: the accumulated concat alone
    assert(cells(("o1", Map.empty)) == VStr("x"))
    // the set wipes "x"; later suffixes append to it
    assert(cells(("o2", Map.empty)) == VStr("Abc"))
    assert(cells(("t", Map.empty)) == VStr("Abc"))
  }

  test("keyed text del then +=: the delete empties the cell, later " +
      "suffixes rebuild from a fresh datum") {
    val cells = run(
      """text t by k
        |text o1 by k
        |/^add (?P<k>\w+) (?P<s>\w+)$/ { t[$k] += $s }
        |/^del (?P<k>\w+)$/ { del t[$k] }
        |/^r1 (?P<k>\w+)$/ { o1[$k] = t[$k] }
        |""".stripMargin,
      Seq("add a hello", "del a", "add a bye", "r1 a"))
    assert(cells(("o1", Map("k" -> "a"))) == VStr("bye"))
    assert(cells(("t", Map("k" -> "a"))) == VStr("bye"))
  }

  test("keyed text reads through another key fold set, del and += " +
      "suffixes like the VM (keyed concat as-of)") {
    // t is written by `=`, `+=` and del on $k and read on $j: every
    // read of a `+=`-built text metric goes through the keyed concat
    // as-of fold, here with a read key that differs from the writes'
    val src =
      """text t by k
        |text o by k
        |/^add (?P<k>\w+) (?P<s>\w+)$/ { t[$k] += $s }
        |/^set (?P<k>\w+) (?P<s>\w+)$/ { t[$k] = $s }
        |/^del (?P<k>\w+)$/ { del t[$k] }
        |/^r (?P<k>\w+) (?P<j>\w+)$/ { o[$k] = t[$j] }
        |/^ar (?P<k>\w+) (?P<s>\w+)$/ {
        |  t[$k] += $s
        |  o[$k] = t[$k]
        |}
        |""".stripMargin
    val lines = Seq("add a x", "add b y", "r p a", "set a Q", "add a z",
      "r q a", "add b w", "del a", "add a m", "r s a", "r u b",
      "ar b v", "r v c")
    val cells = run(src, lines)
    val vm = graft.mtail.MiniVm.run(Frontend.parse(src, "vmsem"), lines)
      .map(c => (c.name, c.labels) -> c.value).toMap
    assert(cells == vm, s"engine $cells vs vm $vm")
    assert(cells(("o", Map("k" -> "p"))) == VStr("x"))
    assert(cells(("o", Map("k" -> "q"))) == VStr("Qz"))
    assert(cells(("o", Map("k" -> "s"))) == VStr("m"))
    assert(cells(("o", Map("k" -> "u"))) == VStr("yw"))
    assert(cells(("o", Map("k" -> "b"))) == VStr("ywv"))
  }

  test("joinKeys is injective even for values containing the " +
      "separator/escape bytes") {
    import org.apache.spark.sql.functions.col
    // adversarial tuples that alias under naive sentinel schemes: a
    // literal NUL value vs an actual null key; values carrying the
    // \u0001 separator that shift bytes across a component boundary
    val rows = Seq[(String, String)](
      ("\u0000", "a"), (null, "a"),         // NUL value vs null key
      ("a\u0001", "b"), ("a", "\u0001b"),  // separator inside a value
      ("a", "b"),                            // vs the plain pair
      ("\u0000\u0001", ""), ("\u0000", "\u0001"))
    val df = rows.toDF("k1", "k2")
      .select(PlanBuilder.joinKeys(Seq(col("k1"), col("k2"))).as("k"))
    assert(df.distinct().count() == rows.size,
      "distinct key tuples must encode to distinct state keys")
  }
}
