package graft.mtail

import scala.collection.mutable

import graft.mtail.Ir._

/** Test-only sequential reference interpreter: executes an
  * [[Ir.Program]] line by line with the reference VM's semantics
  * (vm.go:962-989 per-line fetch-execute, same-line statement order,
  * imperative per-datum folds) and exports [[Snapshot.Cell]]s shaped
  * exactly like `PlanBuilder.snapshot()`. It is the INDEPENDENT
  * oracle of [[graft.streaming.VmDifferentialSpec]]: the engine's
  * distributed plans must agree with this interpreter on every fuzz
  * program (a plan the engine cannot make VM-exact fails to build,
  * which fails the net too).
  *
  * Coverage is the fuzz pool plus the directed-spec corpus — the
  * constructs of [[graft.streaming.FuzzPool]] (conds, otherwise/else,
  * stop, settime, del, ++/+=/=/histogram-observe, len/tolower/string/
  * float/int, regex caprefs with charclass typing, Go %g
  * stringification). Anything outside that set throws
  * UnsupportedOperationException — a pool extension that silently
  * fell back would shrink the net.
  *
  * Dload-creation semantics (round 18, was a documented deviation,
  * now IMPLEMENTED on both sides): Dload calls Metric.GetDatum, which
  * CREATES a zero datum for any cell it loads — pure READS of missing
  * cells included, and loads whose statement later aborts
  * (codegen.go:233 emits Dload before the value expression). Here it
  * falls out of evaluation order (readCell getOrElseUpdate; write
  * handlers create after keys, before the value); the engine builds
  * explicit creation rows with the same gating
  * (PlanBuilder.scanCreations).
  *
  * Expire missing-cell abort (round 19, was the LAST documented
  * deviation, now IMPLEMENTED on both sides): `del m[k] after d` on a
  * MISSING cell is a runtime error in the reference — the line aborts
  * (ExpireDatum "No datum", metric.go:223-234 via vm.go:796-812); on
  * a present cell the hint stays a one-shot no-op. Here existence is
  * the store's natural contains(); the engine resolves it with a
  * synthetic companion-metric fold over create/remove events
  * (PlanBuilder `$ex$m`), elided when a same-line create provably
  * precedes. Scalar Int/Float counters zero-init at codegen
  * (codegen.go:109-126) — modeled as pre-populated epoch-0 cells —
  * though `del` on an undimensioned metric is checker-rejected, so
  * only reads can observe that cell. The fuzz pools generate guarded
  * AND unguarded TTL dels (FuzzPool.leafR18).
  *
  * Semantics cross-checked against the engine's own documented VM
  * parity points (PlanBuilder scaladocs citing vm.go / codegen.go):
  * Iset replaces and Inc adds regardless of declared kind; label keys
  * and string-unified `+` render floats via Go shortest %g
  * (vm.go:889-896); text `=` of a float renders uppercase-G
  * (vm.go:171-186); int `/`/`%` stay integral; scalar counters
  * zero-init at 0 @ epoch-0 (codegen.go:109-126); hidden metrics
  * never export.
  */
object MiniVm {

  private final class StopLine extends RuntimeException
  private final class AbortLine extends RuntimeException

  sealed private trait V
  private final case class VI(v: Long) extends V
  private final case class VF(v: Double) extends V
  private final case class VS(v: String) extends V

  private final class Hist(val buckets: Seq[Double]) {
    val counts: Array[Long] = Array.fill(buckets.size + 1)(0L)
    var sum = 0.0
    var n = 0L
    def observe(x: Double): Unit = {
      val i = buckets.indexWhere(x <= _)
      counts(if (i < 0) buckets.size else i) += 1
      sum += x; n += 1
    }
  }

  private final class Datum {
    var value: V = VI(0)
    var ts: Option[Long] = None
    var hist: Hist = null
  }

  /** One matched regex frame: parsed pattern + captured group texts. */
  private final case class Frame(parsed: Re2.Parsed,
      groups: Map[Int, String])

  def run(program: Program, lines: Seq[String],
      filename: String = ""): Seq[Snapshot.Cell] =
    new Run(program, filename).exec(lines)

  private final class Run(program: Program, filename: String) {
    // cell state: metric → label tuple → datum
    private val state =
      mutable.Map[String, mutable.LinkedHashMap[Seq[String], Datum]]()
    private def cells(m: String) =
      state.getOrElseUpdate(m, mutable.LinkedHashMap())

    // scalar Int/Float counters are zero-initialized AT CODEGEN
    // (codegen.go:109-126: GetDatum + SetInt/SetFloat(0, epoch-0)) —
    // their single cell EXISTS from program start, which matters for
    // `del … after` on a missing cell (Expire aborts) and pins the
    // epoch-0 stamp a read-only touch would otherwise lose
    locally {
      program.decls.foreach { d =>
        if (d.keys.isEmpty && d.kind == Counter &&
            metricType(d.name) != 'S') {
          val dat = fresh(d.name)
          dat.ts = Some(0L)
          cells(d.name)(Seq.empty) = dat
        }
      }
    }

    private val reMemo = mutable.Map[String, (Re2.Parsed,
      java.util.regex.Pattern)]()
    private def re(re2: String): (Re2.Parsed, java.util.regex.Pattern) =
      reMemo.getOrElseUpdate(re2, {
        val p = Re2.parse(re2)
        (p, java.util.regex.Pattern.compile(p.java))
      })

    // ---- static metric value types: the reference checker's
    // order-sensitive unification (first typed use pins the type
    // variable; later writes coerce at runtime) — shared with the
    // engine via TypeInfer, which both sides consume so the
    // differential net tests the RUNTIME semantics, not two copies of
    // the same typing bug (the round-18 hunt found the old
    // "any-String-write promotes" fixpoint deviating from
    // checker.go:344-674) ----
    private lazy val inferredTypes: Map[String, Char] =
      TypeInfer.infer(program)
    private def metricType(name: String): Char =
      program.decl(name).kind match {
        case Text => 'S'
        case Histogram => 'F'
        case _ => inferredTypes.getOrElse(name, 'I')
      }
    private def caprefType(name: String,
        scope: List[Re2.Parsed]): Char =
      scope.view.flatMap { p =>
        val idx = name.toIntOption match {
          case Some(i) => p.groups.find(_.index == i).map(_.index)
          case None => p.groups.find(_.name.contains(name)).map(_.index)
        }
        idx.map(i => Re2.inferCaprefType(p, i) match {
          case Re2.CapInt => 'I'
          case Re2.CapFloat => 'F'
          case Re2.CapString => 'S'
        })
      }.headOption.getOrElse('S')
    /** the engine's irType, on parsed-pattern scopes. */
    private def staticType(e: Expr, scope: List[Re2.Parsed]): Char =
      e match {
        case StrLit(_) => 'S'
        case IntLit(_) => 'I'
        case FloatLit(_) => 'F'
        case PatternLit(_) | LineMatch(_, _) => 'B'
        case Capref(n) => caprefType(n, scope)
        case MetricRead(m, _) => metricType(m)
        case Binop(op, l, r) => op match {
          case "<" | "<=" | ">" | ">=" | "==" | "!=" | "&&" | "||" |
            "=~" | "!~" => 'B'
          case "+" if staticType(l, scope) == 'S' ||
            staticType(r, scope) == 'S' => 'S'
          case _ =>
            if (staticType(l, scope) == 'F' ||
              staticType(r, scope) == 'F') 'F' else 'I'
        }
        case Unop("!", _) => 'B'
        case Unop("~", _) => 'I'
        case Unop(_, x) => staticType(x, scope)
        case Call(fn, args) => fn match {
          case "timestamp" | "strtol" | "len" | "int" => 'I'
          case "float" => 'F'
          case "tolower" | "subst" | "string" | "getfilename" => 'S'
          case "bool" => 'B'
          case _ => if (args.nonEmpty) staticType(args.head, scope)
            else 'S'
        }
      }

    // ---- per-line mutable registers ----
    private var time: Option[Long] = None

    def exec(lines: Seq[String]): Seq[Snapshot.Cell] = {
      lines.foreach { line =>
        time = None // the VM thread state is per line
        try execBody(program.stmts, line, Nil)
        catch {
          case _: StopLine => ()
          case _: AbortLine => () // prior same-line writes persist
        }
      }
      export()
    }

    private def execBody(ss: Seq[Stmt], line: String,
        frames: List[Frame]): Unit = {
      // the VM's per-scope matched flag: `otherwise` fires iff no
      // PRECEDING sibling cond of this scope matched on this line
      var matchedAny = false
      ss.foreach {
        case CondBlock(cond, body, elseBody) => cond match {
          case CondPattern(re2, negated) =>
            val (parsed, pat) = re(re2)
            val m = pat.matcher(line)
            val hit = m.find()
            if (hit != negated) {
              matchedAny = true
              val fr =
                if (hit) Frame(parsed, parsed.groups.map(g =>
                  g.index -> m.group(g.index)).toMap) :: frames
                else frames
              execBody(body, line, fr)
            } else execBody(elseBody, line, frames)
          case CondExpr(e) =>
            if (truthy(eval(e, line, frames))) {
              matchedAny = true
              execBody(body, line, frames)
            } else execBody(elseBody, line, frames)
          case CondOtherwise =>
            if (!matchedAny) execBody(body, line, frames)
          case CondAlways =>
            matchedAny = true
            execBody(body, line, frames)
        }
        case IncStmt(m, keys, delta, addAssign) =>
          val scope = frames.map(_.parsed)
          // a statically-Bool key or value has no Pop* coercion arm
          // (vm.go:128-186) — the store opcode aborts the line
          if (keys.exists(k => staticType(k, scope) == 'B'))
            throw new AbortLine
          val labels = keys.map(k => labelStr(k, line, frames))
          // Dload creates BEFORE the delta evaluates (codegen walks
          // the lvalue first): a delta/coercion abort still leaves
          // the created zero datum in the store (round 18)
          val dat = cells(m).getOrElseUpdate(labels, fresh(m))
          val d = eval(delta, line, frames)
          if (program.decl(m).kind == Histogram)
            throw new UnsupportedOperationException("+= on histogram")
          if (staticType(delta, scope) == 'B') throw new AbortLine
          metricType(m) match {
            case 'S' =>
              // ADD_ASSIGN@String = Cat + Sset (codegen.go:523-540):
              // the delta pops through PopString — floats format
              // UPPERCASE 'G' (vm.go:171-186), unlike the F2s paths
              if (!addAssign) throw new UnsupportedOperationException(
                "++ on String-typed metric") // checker rejects
              dat.value = VS(asStr(dat.value) + popStr(d))
              dat.ts = time
            case 'F' =>
              dat.value = VF(asF(dat.value) + asF(d))
              dat.ts = time
            case _ =>
              // PopInt has NO float64 arm (vm.go:128-147): a
              // statically-Float delta into an Int-pinned metric is a
              // runtime error, not a truncation; strings parse with
              // strict ParseInt (asI's toLongOption)
              d match {
                case VF(_) => throw new AbortLine
                case _ => ()
              }
              dat.value = VI(asI(dat.value) + asI(d))
              dat.ts = time
          }
        case SetStmt(m, keys, value) =>
          val scope = frames.map(_.parsed)
          if (keys.exists(k => staticType(k, scope) == 'B'))
            throw new AbortLine
          val labels = keys.map(k => labelStr(k, line, frames))
          // Dload creates before the value evaluates (see IncStmt)
          val dat = cells(m).getOrElseUpdate(labels, fresh(m))
          val v = eval(value, line, frames)
          if (staticType(value, scope) == 'B') throw new AbortLine
          program.decl(m).kind match {
            case Histogram => dat.hist.observe(asF(v))
            case _ =>
              dat.value = metricType(m) match {
                case 'S' =>
                  // Sset pops through PopString: floats UPPERCASE 'G'
                  // (vm.go:171-186) — unlike the F2s paths
                  VS(popStr(v))
                case 'F' => VF(asF(v))
                case _ =>
                  // PopInt: no float64 arm (see IncStmt)
                  v match {
                    case VF(_) => throw new AbortLine
                    case _ => ()
                  }
                  VI(asI(v))
              }
          }
          dat.ts = time
        case DelStmt(m, keys, after) =>
          // keys pop through PopString, which has no Bool arm
          // (vm.go:171-186) — a statically-Bool key aborts the line
          val delScope = frames.map(_.parsed)
          if (keys.exists(k => staticType(k, delScope) == 'B'))
            throw new AbortLine
          val labels = keys.map(k => labelStr(k, line, frames))
          if (after.isEmpty) {
            // RemoveDatum is a silent no-op when the cell is missing
            // (metric.go:205-221 — `ok` guard, no error)
            cells(m).remove(labels)
          } else if (!cells(m).contains(labels)) {
            // `del … after d` = Expire → ExpireDatum, which ERRORS on
            // a missing cell ("No datum for given labelvalues",
            // metric.go:223-234) and the VM errorf-aborts the line
            // (vm.go:796-812). On a PRESENT cell the TTL hint is
            // consumed by the daemon's hourly Gc ticker
            // (store.go:156-176) — a one-shot run ends before any
            // tick, so it is a no-op here, same as the engine's
            // one-shot plan (afterSeconds sites are in no fold)
            throw new AbortLine
          }
        case ExprStmt(e) =>
          val _ = eval(e, line, frames)
        case StopStmt => throw new StopLine
        case NextStmt => throw new UnsupportedOperationException("next")
      }
    }

    private def fresh(m: String): Datum = {
      val d = new Datum
      program.decl(m).kind match {
        case Histogram => d.hist = new Hist(program.decl(m).buckets)
        case _ => d.value = metricType(m) match {
          case 'S' => VS("")
          case 'F' => VF(0.0)
          case _ => VI(0L)
        }
      }
      d
    }

    // ---- expression evaluation ----
    private def truthy(v: V): Boolean = v match {
      case VI(i) => i != 0
      case VF(f) => f != 0.0
      case VS(s) => s.nonEmpty
    }
    private def asI(v: V): Long = v match {
      case VI(i) => i
      case VF(f) => f.toLong
      case VS(s) => s.toLongOption.getOrElse(throw new AbortLine)
    }
    private def asF(v: V): Double = v match {
      case VI(i) => i.toDouble
      case VF(f) => f
      case VS(s) => s.toDoubleOption.getOrElse(throw new AbortLine)
    }
    private def asStr(v: V): String = v match {
      case VS(s) => s
      case VI(i) => i.toString
      case VF(f) => GoFmt.g(f)
    }
    /** F2s/%g stringification — label keys, string(), string-unified
      * `+` (vm.go:889-896, codegen.go:273-280,602). */
    private def strUnify(v: V): String = asStr(v)
    /** PopString coercion — Sset/Cat operands: floats 'G' UPPERCASE
      * (vm.go:171-186). */
    private def popStr(v: V): String = v match {
      case VF(f) => GoFmt.g(f, upper = true)
      case other => asStr(other)
    }

    private def labelStr(k: Expr, line: String,
        frames: List[Frame]): String =
      strUnify(eval(k, line, frames))

    private def readCell(m: String, labels: Seq[String]): V =
      // Dload CREATES the datum it loads (metric.go GetDatum appends
      // a zero LabelValue) — a read of a missing cell grows a
      // zero-valued cell that EXPORTS (round 18; invisible for hidden
      // metrics, load-bearing for exported ones)
      cells(m).getOrElseUpdate(labels, fresh(m)).value

    private def eval(e: Expr, line: String, frames: List[Frame]): V =
      e match {
        case StrLit(s) => VS(s)
        case IntLit(i) => VI(i)
        case FloatLit(f) => VF(f)
        case Capref(n) =>
          val hit = frames.view.flatMap { fr =>
            val idx = n.toIntOption match {
              case Some(i) => fr.parsed.groups.find(_.index == i)
                .map(_.index)
              case None => fr.parsed.groups
                .find(_.name.contains(n)).map(_.index)
            }
            idx.map(i => (fr, i))
          }.headOption.getOrElse(
            throw new UnsupportedOperationException(s"unbound capref $n"))
          val (fr, i) = hit
          val raw = Option(fr.groups.getOrElse(i, null)).getOrElse("")
          Re2.inferCaprefType(fr.parsed, i) match {
            case Re2.CapInt =>
              VI(raw.toLongOption.getOrElse(throw new AbortLine))
            case Re2.CapFloat =>
              VF(raw.toDoubleOption.getOrElse(throw new AbortLine))
            case Re2.CapString => VS(raw)
          }
        case MetricRead(m, keys) =>
          readCell(m, keys.map(k => labelStr(k, line, frames)))
        case PatternLit(_) =>
          throw new UnsupportedOperationException("bare pattern value")
        case LineMatch(re2, neg) =>
          val hit = re(re2)._2.matcher(line).find()
          VI(if (hit != neg) 1L else 0L)
        case Unop("!", x) =>
          VI(if (truthy(eval(x, line, frames))) 0L else 1L)
        case Unop("~", x) => VI(~asI(eval(x, line, frames)))
        case Unop("-", x) => eval(x, line, frames) match {
          case VI(i) => VI(-i)
          case VF(f) => VF(-f)
          case VS(_) => throw new AbortLine
        }
        case Unop(op, _) =>
          throw new UnsupportedOperationException(s"unop $op")
        case Binop("&&", l, r) =>
          VI(if (truthy(eval(l, line, frames)) &&
            truthy(eval(r, line, frames))) 1L else 0L)
        case Binop("||", l, r) =>
          VI(if (truthy(eval(l, line, frames)) ||
            truthy(eval(r, line, frames))) 1L else 0L)
        case Binop(op @ ("=~" | "!~"), l, r) =>
          val s = asStr(eval(l, line, frames))
          val pat = r match {
            case PatternLit(p) => p
            case other => asStr(eval(other, line, frames))
          }
          val hit = re(pat)._2.matcher(s).find()
          VI(if (hit != (op == "!~")) 1L else 0L)
        case Binop(op @ ("<" | "<=" | ">" | ">=" | "==" | "!="), l, r) =>
          val lv = eval(l, line, frames)
          val rv = eval(r, line, frames)
          val c = (lv, rv) match {
            // dynamic compare: String LUB → lexicographic
            case (VS(a), b) => a.compareTo(strUnify(b))
            case (a, VS(b)) => strUnify(a).compareTo(b)
            case (VI(a), VI(b)) => java.lang.Long.compare(a, b)
            case (a, b) => java.lang.Double.compare(asF(a), asF(b))
          }
          VI(op match {
            case "<" => if (c < 0) 1L else 0L
            case "<=" => if (c <= 0) 1L else 0L
            case ">" => if (c > 0) 1L else 0L
            case ">=" => if (c >= 0) 1L else 0L
            case "==" => if (c == 0) 1L else 0L
            case "!=" => if (c != 0) 1L else 0L
          })
        case Binop("+", l, r) =>
          val lv = eval(l, line, frames)
          val rv = eval(r, line, frames)
          (lv, rv) match {
            case (VS(_), _) | (_, VS(_)) =>
              VS(strUnify(lv) + strUnify(rv))
            case (VI(a), VI(b)) => VI(a + b)
            case (a, b) => VF(asF(a) + asF(b))
          }
        case Binop(op @ ("-" | "*"), l, r) =>
          val lv = eval(l, line, frames)
          val rv = eval(r, line, frames)
          (lv, rv) match {
            case (VI(a), VI(b)) =>
              VI(if (op == "-") a - b else a * b)
            case (a, b) =>
              VF(if (op == "-") asF(a) - asF(b) else asF(a) * asF(b))
          }
        case Binop("/", l, r) =>
          val lv = eval(l, line, frames)
          val rv = eval(r, line, frames)
          (lv, rv) match {
            case (VI(a), VI(b)) =>
              if (b == 0) throw new AbortLine else VI(a / b)
            case (a, b) => VF(asF(a) / asF(b))
          }
        case Binop("**", l, r) =>
          val lv = eval(l, line, frames)
          val rv = eval(r, line, frames)
          (lv, rv) match {
            case (VI(a), VI(b)) =>
              // integer pow by repeated multiply (the VM's ipow)
              if (b < 0) throw new AbortLine
              var acc = 1L; var base = a; var e = b
              while (e > 0) {
                if ((e & 1) == 1) acc *= base
                base *= base; e >>= 1
              }
              VI(acc)
            case (a, b) => VF(math.pow(asF(a), asF(b)))
          }
        case Binop(op @ ("<<" | ">>"), l, r) =>
          val a = asI(eval(l, line, frames))
          val b = asI(eval(r, line, frames))
          // Go shift semantics (vm.go:700-711): negative count =
          // "shift int out of range" → line abort; counts ≥ 64 fill
          // (<< → 0; >> → sign bit), never mask mod 64
          if (b < 0) throw new AbortLine
          VI(op match {
            case "<<" => if (b >= 64) 0L else a << b
            case _ => if (b >= 64) (if (a < 0) -1L else 0L) else a >> b
          })
        case Binop("&", l, r) =>
          VI(asI(eval(l, line, frames)) & asI(eval(r, line, frames)))
        case Binop("|", l, r) =>
          VI(asI(eval(l, line, frames)) | asI(eval(r, line, frames)))
        case Binop("^", l, r) =>
          VI(asI(eval(l, line, frames)) ^ asI(eval(r, line, frames)))
        case Binop("%", l, r) =>
          val lv = eval(l, line, frames)
          val rv = eval(r, line, frames)
          (lv, rv) match {
            case (VI(a), VI(b)) =>
              // the VM routes mod through math.Mod: %-by-0 is NaN,
              // not an abort (VmSemanticsSpec pin)
              if (b == 0) VF(Double.NaN) else VI(a % b)
            case (a, b) => VF(asF(a) % asF(b))
          }
        case Binop(op, _, _) =>
          throw new UnsupportedOperationException(s"binop $op")
        case Call("len", Seq(a)) =>
          VI(asStr(eval(a, line, frames))
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
            .length.toLong)
        case Call("tolower", Seq(a)) =>
          VS(asStr(eval(a, line, frames)).toLowerCase)
        case Call("string", Seq(a)) =>
          VS(strUnify(eval(a, line, frames)))
        case Call("float", Seq(a)) => VF(asF(eval(a, line, frames)))
        case Call("int", Seq(a)) => VI(asI(eval(a, line, frames)))
        case Call("settime", Seq(a)) =>
          time = Some(asI(eval(a, line, frames)))
          VI(0)
        case Call("timestamp", Seq()) => VI(time.getOrElse(0L))
        case Call("getfilename", Seq()) => VS(filename)
        case Call("subst", Seq(pat, repl, subj)) =>
          val rs = asStr(eval(repl, line, frames))
          val ss = asStr(eval(subj, line, frames))
          pat match {
            // regex form replaces every match with the LITERAL
            // replacement (vm.go's subst uses ReplaceAllLiteralString)
            case PatternLit(re2) => VS(re(re2)._2.matcher(ss)
              .replaceAll(java.util.regex.Matcher.quoteReplacement(rs)))
            case other =>
              VS(ss.replace(asStr(eval(other, line, frames)), rs))
          }
        case Call("strtol", Seq(a, b)) =>
          val s = asStr(eval(a, line, frames))
          val base = asI(eval(b, line, frames)).toInt
          try VI(java.lang.Long.parseLong(s, base))
          catch { case _: NumberFormatException => throw new AbortLine }
        case Call(fn, _) =>
          throw new UnsupportedOperationException(s"builtin $fn")
      }

    // ---- export, shaped like PlanBuilder.snapshot() ----
    private def kindName(k: Kind): String = k match {
      case Counter => "counter"
      case Gauge => "gauge"
      case Timer => "timer"
      case Text => "text"
      case Histogram => "histogram"
    }
    private def export(): Seq[Snapshot.Cell] =
      program.decls.filterNot(_.hidden).flatMap { decl =>
        val kind = kindName(decl.kind)
        val m = cells(decl.name)
        // `limit N`: the Gc pass drops all but the N newest cells by
        // datum timestamp (store.go:160-164, metric.go:184-198); with
        // the fuzz pool's unique-per-line monotone stamps the final
        // top-N equals the write-time eviction order. Ties are
        // arbitrary in the reference's map iteration (and in the
        // engine's TakeOrderedAndProject) — the pool never makes them.
        val kept =
          if (decl.limit > 0)
            m.toSeq.sortBy { case (_, dat) =>
              dat.ts.getOrElse(Long.MinValue)
            }(Ordering.Long.reverse).take(decl.limit)
          else m.toSeq
        val rows = kept.map { case (labels, dat) =>
          val labelMap = decl.keys.zip(labels).toMap
          if (decl.kind == Histogram) {
            val b = dat.hist
            val buckets = b.buckets.zipWithIndex.map { case (ub, i) =>
              GoFmt.g(ub) -> b.counts(i)
            }.toMap ++ Map("+Inf" -> b.counts(b.buckets.size),
              "count" -> b.n)
            Snapshot.Cell(kind, decl.exportName, labelMap,
              Snapshot.VFloat(b.sum), dat.ts, Some(buckets))
          } else {
            val v = dat.value match {
              case VI(i) => Snapshot.VInt(i)
              case VF(f) => Snapshot.VFloat(f)
              case VS(s) => Snapshot.VStr(s)
            }
            Snapshot.Cell(kind, decl.exportName, labelMap, v, dat.ts)
          }
        }
        // never-updated scalar counters export 0 @ epoch-0 in the
        // metric's PINNED type (codegen.go:109-126 zero-inits Int and
        // Float datums; golden/reader.go:107-119)
        if (rows.isEmpty && decl.keys.isEmpty && decl.kind == Counter)
          Seq(Snapshot.Cell(kind, decl.exportName, Map.empty,
            if (metricType(decl.name) == 'F') Snapshot.VFloat(0.0)
            else Snapshot.VInt(0), Some(0L)))
        else rows
      }
  }
}
