package graft.streaming

import scala.util.Random

/** The shared random-program pool behind the differential fuzz
  * harnesses: [[StreamEquivalenceSpec]] (one-shot ≡ any batch split)
  * and [[VmDifferentialSpec]] (one-shot ≡ the sequential reference
  * interpreter). One pool, two independent oracles — a generator
  * tweak automatically widens both nets.
  *
  * Pool-design constraints are documented on StreamEquivalenceSpec's
  * scaladoc (monotone numerics for settime, no `limit`/TTL, keyed-only
  * del); VmDifferentialSpec additionally relies on every construct
  * here being implemented by [[graft.mtail.MiniVm]] — extend BOTH when
  * widening the pool.
  */
object FuzzPool {

  /** Parse + reference-check a generated program. `None` = the
    * CHECKER rejected it (reference-faithful, a legal pool outcome).
    * Every net routes rejections through here so that an exception
    * thrown AFTER acceptance — the engine refusing or crashing on a
    * checker-legal program — FAILS the sweep instead of counting as
    * a skip. (Round-19 fourth session: value/key-mediated metric
    * cycles were rejected by PlanBuilder for rounds under the old
    * blanket IllegalArgumentException skip; the reference runs them.)
    */
  def parseAccepted(src: String, name: String)
      : Option[graft.mtail.Ir.Program] =
    try Some(graft.mtail.Frontend.parse(src, name))
    catch { case _: IllegalArgumentException => None }

  val decls: String =
    """counter c0
      |counter c1 by a
      |gauge g0
      |gauge g1 by a, b
      |text t0
      |histogram h0 buckets 1, 4, 16
      |hidden gauge hid0
      |hidden gauge hid1 by p, q
      |hidden counter hidc
      |hidden counter hidc1 by a
      |text t1 by a
      |counter cs by a
      |""".stripMargin

  // every pattern binds x (digits → Int) and s (word → String)
  val patterns: Seq[String] = Seq(
    """(?P<x>\d+) (?P<s>\w+)""",
    """val=(?P<x>\d+) tag=(?P<s>\w+).*""",
    """(?P<s>[a-z]+): (?P<x>\d+)""")

  def leaf(rnd: Random): String = {
    val numExprs = Seq("$x", "$x + 1", "$x * 2", "$x % 5", "len($s)",
      "$x / 2.0", "hid0 + $x", "float($x)")
    val strExprs = Seq("$s", "tolower($s)", "$s + \"!\"",
      "string($x)",
      // float→string goes through the F2s/%g path (GoFloatString) —
      // ×250000 pushes past 1e6 where the rendering turns scientific
      "string($x / 2.0)", "\"v=\" + $x / 2.0",
      "string(float($x) * 250000.0)")
    val pool = Seq(
      "c0++",
      "c1[$s]++",
      s"c1[$$s] += ${Seq("$x", "1", "$x % 7")(rnd.nextInt(3))}",
      s"g0 = ${numExprs(rnd.nextInt(numExprs.length))}",
      s"g1[$$s][$$x] = ${numExprs(rnd.nextInt(numExprs.length))}",
      s"t0 = ${strExprs(rnd.nextInt(strExprs.length))}",
      "h0 = $x", // int-valued: cross-batch double sums stay exact
      s"hid0 = ${Seq("$x", "$x + 1", "hid0 + 1")(rnd.nextInt(3))}",
      "hid1[$s][$x] = $x",
      // text += is a running concat: per-batch local concats must
      // APPEND at the store merge to equal the one-shot fold
      "t0 += $s",
      "t0 += string($x)",
      // op-aware folds: set-writes on a counter / increments on a
      // gauge, mixing freely with the pool's other writes to the same
      // metrics — batch boundaries must fold like the one-shot run
      "g0++",
      "c1[$s] = $x",
      // reads of an increment-built metric: running total must carry
      // across batch boundaries (finalReadStateDfs sums, not last-write)
      "hidc++",
      "g0 = hidc + $x",
      // mixing = and ++ on a READ hidden metric: the fold (last set +
      // post-set increments) must carry across batch boundaries
      "hid0++",
      "g1[$s][$x] = hid1[$s][$x] + 1", // keyed carried-state read
      // float label keys: the read side (metricReadColumn), write side
      // (siteFrame) and carried state (finalReadStateDfs) must all
      // render the key with the same %g formatting or the state join
      // silently misses
      "g1[$s][$x / 2.0] = $x",
      "hid1[$s][$x / 2.0] = $x",
      "g1[$s][$x / 2.0] = hid1[$s][$x / 2.0] + 1",
      "del c1[$s]", // cross-batch delete of a keyed cell
      // inc+del / set+inc+del folds on a READ metric (round 13 lifted
      // the rejection): a del barriers the carried total — later
      // increments restart from a fresh datum; a del with no later
      // write DELETES the carried cell
      "hidc1[$s]++",
      "hidc1[$s] = $x",
      "del hidc1[$s]",
      "g1[$s][$x] = hidc1[$s] + 1",
      "g0 = hidc1[\"alpha\"]",
      // read of the EXPORTED counter, which the pool freely writes
      // with ++/+=/=/del — the full mixed fold across batch cuts
      "g0 = c1[\"beta\"]",
      // `+=`-built text reads (concat as-of fold) and keyed text
      // set/del mixing — mixedFrame's per-cell was_set must make
      // the store merge replace-after-set and append otherwise
      "g0 = len(t0)",
      "t1[$s] += $s",
      "t1[$s] = tolower($s)",
      "del t1[$s]",
      "g0 = len(t1[$s])",
      // String-PINNED counter (first typed use is a string `+=` —
      // TypeInfer pins 'S'; keyed, since scalar String counters are
      // a codegen rejection "Can't initialize to zero"): ADD_ASSIGN
      // is Cat for ANY kind, so its cross-batch store merge must
      // APPEND like text, not numeric-add/replace (ADVICE r18)
      "cs[$s] += $s",
      "cs[$s] += string($x)",
      "cs[$s] = tolower($s)",
      "del cs[$s]",
      "g0 = len(cs[\"alpha\"])",
      // self-conditioned write: the write's own cond reads the metric
      // being written (the mysql `partial == 1 { partial = 0 }` reset
      // idiom) — resolved by the round-16 exact sequential automaton
      // (SeqCycleEval), which must seed across batch boundaries
      // exactly like the VM checkpointing its store
      "hid0 = 1",
      "hid0 == 1 {\nhid0 = 0\nc0++\n}",
      // NON-absorbing self-reference: saturating counters whose cond
      // reads their own full firing history — keyless and keyed; the
      // one-level-unroll provisional deviated from the VM here, the
      // sequential bottom must not, under any batch cut
      "hidc < 3 { hidc++ }",
      "hidc1[$s] < 2 { hidc1[$s]++ }",
      // STATE-DEPENDENT key on a cyclic metric: the key expression
      // itself reads cycle state — exact since the collected-map
      // seeding (the per-key seed join could not express this shape)
      "hidc1[string(hidc % 2)] < 2 { hidc1[string(hidc % 2)]++ }",
      // keyed absorbing arm/reset across DIFFERENT patterns (the
      // per-session partial idiom) — crashed at plan build pre-r16
      "hid1[$s][\"7\"] = 1",
      "hid1[$s][\"7\"] == 1 {\nhid1[$s][\"7\"] = 0\nc0++\n}",
      // conds reading metrics through every fold family: a keyless
      // counter (sum mode), a KEYED hidden gauge (per-key window /
      // as-of), and a threshold read guarding a keyed write — the
      // deferred __mrd binding must give each the same full-site
      // resolution in one-shot and across any batch split
      "hidc > 2 { c0++ }",
      "hid1[$s][$x] == $x { c0++ }",
      "hidc % 2 == 0 { g1[$s][$x] = hidc }",
      // timestamp machinery: line numbers are MONOTONE (genLines), so
      // the store's max-ts merge agrees with one-shot last-write and
      // the settime exclusion in the scaladoc doesn't apply
      "settime($x)\nc0++",
      "stop")
    pool(rnd.nextInt(pool.length))
  }

  /** Extended leaf set (round 17): the scalar-builtin surface the
    * primary pool leaves out — pow, Go-semantics shifts (counts ≥ 64
    * fill, NEGATIVE counts abort the line mid-statement), bitwise
    * ops, subst (literal + regex), strtol (base-36 words always
    * parse, base-8 words often abort), settime→timestamp — mixed
    * with enough state ops that aborts interact with folds. Runs in
    * its OWN seed space (VmDifferentialSpec/StreamEquivalenceSpec
    * extended-pool tests): appending to the primary `leaf` list
    * would shift every established seed→program mapping, including
    * ApproxShapeSpec's nine pinned tangles.
    */
  def leafExt(rnd: Random): String = {
    val pool = Seq(
      "c0++",
      "c1[$s] += $x % 7",
      "hid0 = $x",
      "g1[$s][$x] = hid0 + 1",
      "del c1[$s]",
      "hidc < 3 { hidc++ }",
      "g0 = $x ** 2",
      "g0 = $x ** 3",
      // Go shift semantics: counts 0..69 — ≥64 must fill, not wrap
      // the count mod 64 like a bare Java shift
      "g0 = $x << ($x % 70)",
      "g0 = $x >> ($x % 70)",
      "g0 = (0 - $x) >> ($x % 70)",
      // NEGATIVE count = "shift int out of range": the line aborts
      // MID-STATEMENT — the c0++ before it persists (VM semantics),
      // the write after it never runs
      "c0++\ng0 = $x << (0 - ($x % 3))\nc1[$s]++",
      "g0 = $x & 5",
      "g0 = $x | 9",
      "g0 = $x ^ 3",
      "t0 = subst(\"a\", \"X\", $s)",
      "t1[$s] = subst(/[0-9]+/, \"#\", $s + string($x))",
      // [a-z]+ words are always valid base-36; base-8 digits often
      // aren't — the abort leg of S2i (vm.go:97-129)
      "g0 = strtol($s, 36)",
      "c0++\ng0 = strtol($s, 8)",
      "g0 = strtol(string($x), 10)",
      "settime($x)\ng0 = timestamp()",
      "h0 = $x % 17",
      // r18: PopInt strictness — S2i/bitwise string operands go
      // through strconv.ParseInt, so a DECIMAL rendering ("3.5") or a
      // word is a line abort, never a truncation; mixed with writes
      // before/after so the abort interacts with folds. (Appending
      // here re-maps extended-pool seed→program pairs — fine, no
      // pinned expectations live in this seed space.)
      "g0 = int(string($x / 2.0))",
      "c0++\ng0 = $s & 7\nc1[$s]++",
      "g0 = string($x) & 12",
      "c0++\ng0 = string($x / 2.0) >> 1",
      "c0++\ng0 = ~$s",
      "stop")
    pool(rnd.nextInt(pool.length))
  }

  /** Round-18/19 leaf set: the constructs the VM-differential net
    * could not previously see — `del … after` TTL hints (the hint
    * itself is a one-shot no-op: the reference's Gc ticker never
    * fires before exit, store.go:156-176 — but since round 19 an
    * Expire on a MISSING cell line-aborts on both sides, so the pool
    * now mixes guarded AND unguarded TTL dels with creation-gating
    * shapes that feed them), `getfilename()` (a constant column in
    * batch mode — as a value, a label key, and a len() operand),
    * mixed with enough fold-relevant state ops that the TTL hints
    * interleave with real dels/reads. `limit N` and decorators are
    * STRUCTURAL, not leaves — see [[genProgramR18]]. VM-diff only: in
    * STREAMING mode TTL genuinely expires state by stream time, so
    * one-shot ≢ batch-split by design and the equivalence net must
    * not see these shapes (same exclusion as settime
    * non-monotonicity).
    */
  def leafR18(rnd: Random): String = {
    val pool = Seq(
      "c0++",
      "c1[$s]++",
      s"c1[$$s] += ${Seq("$x", "1", "$x % 7")(rnd.nextInt(3))}",
      "g0 = $x",
      "g1[$s][$x] = $x",
      "del c1[$s]",
      // guarded TTL hints (same-line write precedes — the vsftpd
      // idiom): the engine's same-line create proof elides the
      // existence machinery entirely; the hint must not barrier folds
      "c1[$s]++\ndel c1[$s] after 1h",
      "c1[$s]++\ndel c1[$s] after 30s",
      // UNGUARDED TTL dels (round 19): `del … after` on a MISSING
      // cell is a runtime line-abort (ExpireDatum "No datum",
      // metric.go:223-234 via vm.go:796-812) — both sides now
      // implement it; abort iff no create (write or read Dload)
      // reached the cell earlier, resolved by the engine's synthetic
      // existence fold against MiniVm's store.contains
      "del c1[$s] after 1h",
      "del g1[$s][$x] after 30s",
      "del hidc1[$s] after 2m\nc0++",
      // existence revoked by an immediate del → the hint aborts
      "c1[$s]++\ndel c1[$s]\ndel c1[$s] after 1h\nc0++",
      // cond-read creation feeds the Expire (GetDatum on the cond's
      // Dload) — also a creation-gating shape (round-19 order #5)
      "c1[$s] == 0 {\ndel c1[$s] after 1h\nc0++\n}",
      // creation under &&/|| short-circuit paths, probed by a later
      // unguarded TTL del — existence must honor the Jnm jumps
      "$x % 2 == 0 && hidc1[$s] == 0 {\nc0++\n}\ndel hidc1[$s] after 1h",
      "$x % 2 == 0 || hidc1[$s] == 0 {\nc0++\n}\ndel hidc1[$s] after 1h\nc0++",
      // creation ordered around an abort term: int($s) aborts AFTER
      // the lvalue Dload created — the next line's Expire must see it
      "g1[$s][\"ab\"] = int($s)",
      "del g1[$s][\"ab\"] after 1h\nc0++",
      // BARE expression statements (r19 ADVICE): the result is
      // discarded but the Dloads create and the conversions abort —
      // int($s) kills the line whenever $s is non-numeric
      "int($s)\nc0++",
      "len(t1[$s])\nc0++",
      "tolower($s)\nc1[$s]++",
      // TTL hint on a READ hidden metric: afterSeconds sites must be
      // excluded from the as-of read fold, not treated as a del-barrier
      "hidc1[$s]++",
      "hidc1[$s]++\ndel hidc1[$s] after 2m",
      "g1[$s][$x] = hidc1[$s] + 1",
      "del hidc1[$s]",
      // the mt_del_after_ttl idiom: write + hint on the same cell
      "g1[$s][\"ttl\"] = $x\ndel g1[$s][\"ttl\"] after 24h",
      // getfilename(): constant per batch — value, label key, operand
      "t0 = getfilename()",
      "c1[getfilename()]++",
      "g0 = len(getfilename())",
      "t0 += getfilename()",
      "t1[getfilename()] = $s",
      "g0 = hidc1[getfilename()]",
      "settime($x)\nc0++",
      "stop")
    pool(rnd.nextInt(pool.length))
  }

  /** Round-18 structural generator: wraps [[leafR18]] bodies in the
    * two remaining uncovered constructs — DECORATORS (`def`/`@`/`next`,
    * inlined at parse time, so the IR the engine and MiniVm see is
    * decorator-free but the splice itself gets fuzzed: capref scoping
    * through the decorator's pattern, multi-statement decorated
    * blocks) and a `limit 3` metric fed by a dedicated
    * one-write-per-line block whose settime stamp is unique per line
    * (distinct cells therefore carry distinct last-write timestamps —
    * the ONLY shape where limit eviction is deterministic; equal
    * stamps tie-break arbitrarily in reference and engine alike).
    */
  def genProgramR18(rnd: Random): String = {
    val blocks = Seq.fill(1 + rnd.nextInt(3))(
      block(rnd, 2, leafR18)).toVector
    // wrap one block in a decorator half the time: the decorated
    // block's caprefs must bind through the def-site pattern scope
    val withDeco =
      if (rnd.nextBoolean()) {
        val i = rnd.nextInt(blocks.length)
        val p = patterns(rnd.nextInt(patterns.length))
        val inner = Seq.fill(1 + rnd.nextInt(2))(leafR18(rnd))
          .mkString("\n")
        val deco =
          s"def d0 {\n/$p/ {\nnext\n}\n}\n@d0 {\n$inner\n}"
        blocks.updated(i, deco)
      } else blocks
    // a `limit 3` metric, at most one write site per line → unique
    // per-cell last-write stamps (see scaladoc)
    val withLimit =
      if (rnd.nextBoolean())
        withDeco :+
          "/(?P<x>\\d+) (?P<s>\\w+)/ {\nsettime($x)\nlim0[$s] = $x\n}"
      else withDeco
    val body = withLimit.mkString("\n")
    val allDecls = decls + "gauge lim0 by a limit 3\n"
    val usedDecls = allDecls.linesIterator.filter { d =>
      val name = d.trim.split("\\s+|,").collectFirst {
        case w if w.matches("[a-z_][a-z0-9_]*") &&
          !Set("counter", "gauge", "timer", "text", "histogram",
            "hidden").contains(w) => w
      }.get
      ("\\b" + name + "\\b").r.findFirstIn(body).isDefined
    }.mkString("", "\n", "\n")
    usedDecls + body + "\n"
  }

  /** Round-18 abort-cycle hunt leaf set: biased toward
    * ABORT-MEDIATED SELF-DEPENDENCE (a conversion abort on a metric's
    * own read gating that metric's write — the cycle family that
    * reaches the automaton only through abort edges, PlanBuilder
    * Site.condReads scaladoc) and machinery-fenced residuals (cycle
    * leaves from the primary pool mixed with abort-capable reads).
    * Goal: surface a program the planner resolves to a non-VM value
    * or fails to build ([[ApproxHuntSpec]]).
    * String-typed hidden state (`hids`, `hids1`) makes `int(...)` /
    * implicit conversions abort history-dependently: words abort,
    * digit-strings don't, and reset arms flip between them so the
    * abort is NON-absorbing.
    */
  def leafAbortCycle(rnd: Random): String = {
    val pool = Seq(
      "c0++",
      // abort iff hids currently holds a word; gates everything after
      "c0 += int(hids)",
      "g0 = int(hids) + $x",
      // implicit S→I conversion abort on the counter add
      "c0 += hids",
      // the self-rewrite the abort gates (read-before-write on the
      // same line via the statement above, cross-line otherwise)
      "hids = $s",
      "hids = string($x)",
      "c0 += int(hids)\nhids = $s",
      "hids = $s\nc0 += int(hids)",
      // keyed variant: per-key abortable history
      "hids1[$s] = $s",
      "hids1[$s] = string($x)",
      "g0 = int(hids1[$s])",
      "c0 += int(hids1[\"alpha\"])\nhids1[$s] = $s",
      // strtol abort reading self-written text state
      "g0 = strtol(hids, 10)",
      // genuine IR-level cycles from the primary pool, so the hunt
      // also walks abort guards INTO machinery-fenced residuals
      "hidc < 3 { hidc++ }",
      "hidc1[$s] < 2 { hidc1[$s]++ }",
      "hid0 == 1 {\nhid0 = 0\nc0++\n}",
      "hid0 = 1",
      // cycle cond + abortable read on the SAME line
      "c0 += int(hids)\nhidc < 5 { hidc++ }",
      "hidc % 2 == 0 { hids = $s }",
      "g1[$s][$x] = hidc1[$s] + 1",
      // Dload-creation shapes (round 18): reads of EXPORTED metrics at
      // missing keys and keyed exported writes whose value aborts — the
      // created zero cells must match the interpreter exactly, incl.
      // under && short-circuits and del interleavings
      "g0 = c1[\"zz\"]",
      "g0 = g1[$s][\"miss\"]",
      "g1[$s][$x] = int(hids)",
      "c1[$s] += int(hids)",
      "$x > 3 && c1[\"sc\"] > 0 { c0++ }",
      "del c1[\"zz\"]",
      // consumption-chain shapes (round 19, fourth session): reads of
      // cycle-capable metrics CONSUMED by other metrics' machinery —
      // as write keys, probe keys, and exported values — hunting the
      // one remaining declarable corner (a premixed group read whose
      // materialized column other materialized machinery consumed,
      // lastResortSeqResolve's mixed-semantics note). Each leaf feeds
      // one metric's read into ANOTHER metric's key/value so that a
      // cycle formed by a LATER block can trap an already-consumed
      // read inside the replay group.
      "hid1[string(hidc)][$s] = $x",
      "g0 = hid1[string(hidc)][\"w\"]",
      "hidc1[string(hid0)]++",
      "hid0 = hidc1[string(hid0)] % 3",
      "c1[$s] += hidc",
      "hidc1[$s] < hidc { hidc1[$s]++ }",
      "hid0 = hid1[\"w\"][$s] - 1",
      "hid1[\"w\"][$s] = hid0 + hidc",
      "g1[$s][string(hidc)] = int(hids)",
      "c0 += hid1[string(hidc1[$s])][\"w\"]",
      "stop")
    pool(rnd.nextInt(pool.length))
  }

  /** decls for the abort-cycle hunt: the primary set plus two
    * string-typed hidden metrics whose reads can abort.
    */
  val declsAbort: String = decls +
    "hidden gauge hids\nhidden gauge hids1 by a\n"

  def genProgramAbort(rnd: Random): String = {
    val body = (Seq.fill(1 + rnd.nextInt(3))(
      block(rnd, 2, leafAbortCycle)) ++
      // a reset arm half the time: flips the string state back to a
      // numeric value so conversion aborts alternate instead of
      // absorbing
      (if (rnd.nextBoolean())
        Seq("/^reset$/ {\nhids = \"7\"\nhids1[\"alpha\"] = \"7\"\n}")
      else Nil)).mkString("\n")
    val usedDecls = declsAbort.linesIterator.filter { d =>
      val name = d.trim.split("\\s+|,").collectFirst {
        case w if w.matches("[a-z_][a-z0-9_]*") &&
          !Set("counter", "gauge", "timer", "text", "histogram",
            "hidden").contains(w) => w
      }.get
      ("\\b" + name + "\\b").r.findFirstIn(body).isDefined
    }.mkString("", "\n", "\n")
    usedDecls + body + "\n"
  }

  def block(rnd: Random, depth: Int,
      leafFn: Random => String = leaf): String = {
    val p = patterns(rnd.nextInt(patterns.length))
    val n = 1 + rnd.nextInt(3)
    val body = Seq.fill(n)(stmt(rnd, depth - 1, leafFn)).mkString("\n")
    rnd.nextInt(4) match {
      case 0 => // expression sub-cond with optional otherwise
        val c = Seq("$x > 3", "$x % 2 == 0", "$s =~ /a/",
          "len($s) > 3 && $x < 50")(rnd.nextInt(4))
        val o = if (rnd.nextBoolean()) "\notherwise {\nc0++\n}" else ""
        s"/$p/ {\n$c {\n$body\n}$o\n}"
      case 1 => // else branch (capref-free there)
        s"/$p/ {\n$body\n} else {\nc0++\n}"
      case 2 => // cross-batch del under a dedicated trigger line
        // (keyed: keyless `del` is a compile error, checker.go:865-874)
        "/^reset$/ {\ndel c1[\"alpha\"]\ndel g1[\"beta\"][\"7\"]\n}"
      case _ => s"/$p/ {\n$body\n}"
    }
  }

  def stmt(rnd: Random, depth: Int,
      leafFn: Random => String = leaf): String =
    if (depth <= 0) leafFn(rnd) else block(rnd, depth, leafFn)

  def genProgram(rnd: Random,
      leafFn: Random => String = leaf): String = {
    val body = Seq.fill(1 + rnd.nextInt(4))(block(rnd, 2, leafFn))
      .mkString("\n")
    // declare only the metrics the generated body references — an
    // unused declaration is a compile error (checker.go:249-266), and
    // a skipped-as-invalid program would silently shrink the fuzz
    val usedDecls = decls.linesIterator.filter { d =>
      val name = d.trim.split("\\s+|,").collectFirst {
        case w if w.matches("[a-z_][a-z0-9_]*") &&
          !Set("counter", "gauge", "timer", "text", "histogram",
            "hidden").contains(w) => w
      }.get
      ("\\b" + name + "\\b").r.findFirstIn(body).isDefined
    }.mkString("", "\n", "\n")
    usedDecls + body + "\n"
  }

  def genLines(rnd: Random): Seq[String] = {
    val words = Seq("alpha", "beta", "gamma", "ab", "a", "bc", "abc")
    // numeric values are MONOTONE along the line sequence so that
    // settime stamps never move backwards across a batch boundary
    // (where the store's max-ts merge and one-shot's last-write-wins
    // would legitimately differ — see the scaladoc exclusions)
    var v = 0
    def num(): Int = { v += 1 + rnd.nextInt(5); v }
    Seq.fill(20 + rnd.nextInt(30))(rnd.nextInt(5) match {
      case 0 => s"${num()} ${words(rnd.nextInt(words.length))}"
      case 1 => s"val=${num()} tag=${words(rnd.nextInt(words.length))}"
      case 2 => s"${words(rnd.nextInt(words.length))}: ${num()}"
      case 3 => "reset"
      case _ => "no match here !!"
    })
  }
}
