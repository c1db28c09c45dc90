package graft.streaming

import scala.util.Random

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, Snapshot}
import graft.plan.PlanBuilder

/** Differential fuzz: the SAME random program over the SAME lines must
  * produce the SAME final store whether it runs as one one-shot batch
  * or split across arbitrary consecutive microbatches — the streaming
  * contract (`StreamRunner` scaladoc: "within-batch semantics identical
  * to one-shot mode", store merge composes batches). This is the net
  * over exactly the machinery single-case specs under-cover: carried
  * hidden-metric state (keyed and keyless) across random batch
  * boundaries, counter/histogram merge accumulation, gauge/text
  * last-write-wins across batches, cross-batch `del` (a delete in a
  * later batch must erase cells merged earlier — the store remove
  * path), and zero-init interplay.
  *
  * Deliberately outside the pool:
  *  - `limit N` — the newest-N trim tie-breaks on equal timestamps
  *    nondeterministically, so batch-split results can legitimately
  *    differ within a tie;
  *  - `del … after` TTL — expiry runs at batch-end GC ticks in stream
  *    time, so WHERE the batch boundaries fall legitimately changes
  *    which cells have lapsed (the reference's GC-loop timing has the
  *    same property);
  *  - BACKWARDS-moving time — the streaming store merges timestamps
  *    with MAX while one-shot keeps the last write's stamp, so a time
  *    register that moves backwards across a batch boundary diverges
  *    in tsSec (every exporter renders both identically; the export
  *    surface is what the contract covers). `settime` IS in the pool,
  *    with line numbers generated monotone so stamps only advance.
  * Timestamps are normalized via getOrElse(0): a counter's zero-init
  * cell carries epoch-0 where one-shot keeps null ts — both render as
  * 0 on every export path.
  */
class StreamEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  /** (kind, value, tsSec-or-0, buckets) per (name, labels). */
  private def norm(cells: Seq[Snapshot.Cell])
      : Map[(String, Map[String, String]), (String, Snapshot.Value,
        Long, Option[Map[String, Long]])] =
    cells.map(c => (c.name, c.labels) ->
      ((c.kind, c.value, c.tsSec.getOrElse(0L), c.buckets))).toMap

  test("streaming over any batch split equals the one-shot run") {
    // default 25 keeps the suite fast; deep sweeps set the env var
    val iters = sys.env.getOrElse("SPARK_GRAFT_FUZZ_ITERS", "25").toInt
    // default base keeps the pinned regression seeds; deep sweeps move
    // it to explore fresh seeds without re-running known-green ones
    val base = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED_BASE", "4200")
      .toInt
    var checked = 0
    (1 to iters).foreach { i =>
      // soak progress lands on stderr so an interrupted long sweep
      // still shows how far it got (the suite only reports at the end)
      if (i % 50 == 0) System.err.println(s"[fuzz] iteration $i/$iters")
      val rnd = new Random(base + i)
      val src = FuzzPool.genProgram(rnd)
      try if (runOne(i, rnd, src)) checked += 1
      catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        // checker rejections are skipped inside runOne; anything
        // thrown here is the engine failing a checker-legal program
        // (value/key-mediated cycles used to be rejected that way
        // for rounds — r19 fourth session made them execute)
        case e: Throwable => fail(
          s"iteration $i crashed: ${e.getMessage}\n--- program:\n$src", e)
      }
    }
    assert(checked >= iters / 2,
      s"only $checked/$iters programs accepted — the pool is rejecting")
  }

  test("EXTENDED pool over any batch split equals the one-shot run " +
      "(pow/shifts/bitwise/subst/strtol, mid-line aborts)") {
    val iters = sys.env.getOrElse("SPARK_GRAFT_FUZZ_EXT_ITERS", "25")
      .toInt
    val base = 20000 // leafExt's own seed space (see FuzzPool.leafExt)
    var checked = 0
    (1 to iters).foreach { i =>
      if (i % 50 == 0)
        System.err.println(s"[fuzz-ext] iteration $i/$iters")
      val rnd = new Random(base + i)
      val src = FuzzPool.genProgram(rnd, FuzzPool.leafExt)
      try if (runOne(i, rnd, src)) checked += 1
      catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable => fail(
          s"ext iteration $i crashed: ${e.getMessage}\n--- program:\n$src",
          e)
      }
    }
    assert(checked >= iters / 2,
      s"only $checked/$iters programs accepted — the pool is rejecting")
  }

  /** false when the checker rejected the program (skipped). */
  private def runOne(i: Int, rnd: Random, src: String): Boolean = {
      // checker rejections skip; an engine exception AFTER acceptance
      // fails the sweep (see FuzzPool.parseAccepted)
      val prog = FuzzPool.parseAccepted(src, "eq.mtail")
        .getOrElse(return false)
      val lines = FuzzPool.genLines(rnd)

      val oneShot = norm(Snapshot.collect(new PlanBuilder(prog,
        LogLines.fromLines(lines.toDF("line"), "line"), 2020)
        .snapshot()))

      // split into 2-4 consecutive chunks at random cut points
      // (possibly-empty chunks exercise the empty-batch skip)
      val nCuts = 1 + rnd.nextInt(3)
      val cuts = Seq.fill(nCuts)(rnd.nextInt(lines.length + 1))
        .sorted
      val bounds = (0 +: cuts) :+ lines.length
      val runner = new StreamRunner(prog, spark, 2020)
      bounds.sliding(2).zipWithIndex.foreach { case (Seq(a, b), bi) =>
        runner.processBatch(lines.slice(a, b).toDF("line"), bi.toLong)
      }
      val streamed = norm(runner.store.snapshot())

      assert(streamed == oneShot,
        s"""iteration $i diverged (cuts=$cuts)
           |one-shot only: ${(oneShot.toSet -- streamed.toSet).toSeq.sortBy(_._1.toString)}
           |streamed only: ${(streamed.toSet -- oneShot.toSet).toSeq.sortBy(_._1.toString)}
           |--- program:
           |$src""".stripMargin)
      true
  }

  test("a later batch's settime may move a datum stamp BACKWARDS " +
      "(directed; fuzz iteration 189)") {
    // the VM datum keeps the LAST write's stamp, not the max: a batch
    // whose settime is older than the previous batch's still owns the
    // cell timestamp, while the per-batch zero-init no-op merge
    // (0 @ epoch-0) must not regress it either way
    val src =
      """counter c0
        |/^t (?P<x>\d+)$/ {
        |  settime($x)
        |  c0++
        |}
        |""".stripMargin
    val prog = Frontend.parse(src, "backstamp.mtail")
    val runner = new StreamRunner(prog, spark, 0)
    runner.processBatch(Seq("t 38").toDF("line"), 0)
    runner.processBatch(Seq("t 7").toDF("line"), 1)
    // a batch with NO writes (zero-init merge only) keeps the stamp
    runner.processBatch(Seq("unmatched").toDF("line"), 2)
    val c = norm(runner.store.snapshot())(("c0", Map.empty[String, String]))
    assert(c._2 == Snapshot.VInt(2))
    assert(c._3 == 7L, s"stamp must follow the LAST write: $c")
  }

  test("cross-batch del erases a previously merged cell (directed)") {
    val src =
      """counter hits by a
        |gauge last by u
        |/^add (?P<s>\w+) (?P<x>\d+)$/ {
        |  hits[$s]++
        |  last["u"] = $x
        |}
        |/^drop (?P<s>\w+)$/ {
        |  del hits[$s]
        |}
        |/^clear$/ {
        |  del last["u"]
        |}
        |""".stripMargin
    val prog = Frontend.parse(src, "del.mtail")
    val runner = new StreamRunner(prog, spark, 0)
    runner.processBatch(Seq("add a 1", "add b 2").toDF("line"), 0)
    assert(norm(runner.store.snapshot())
      .contains(("hits", Map("a" -> "a"))))
    // batch 2 deletes a cell merged in batch 1, and restarts another
    runner.processBatch(
      Seq("drop a", "drop b", "add b 7", "clear").toDF("line"), 1)
    val cells = norm(runner.store.snapshot())
    assert(!cells.contains(("hits", Map("a" -> "a"))), cells)
    assert(cells(("hits", Map("a" -> "b")))._2 == Snapshot.VInt(1),
      cells) // restarted after the del, not 2
    assert(!cells.contains(("last", Map("u" -> "u"))), cells)

    // the carried read state and the export fold of each increment
    // kind (set-only, increment-only, mixed `=`/`++`, mixed `=`/`+=`
    // text): batch 1 ends with `del h[a]`, alone or followed by a
    // write, and batch 2 reads h[a] back; batch 2 likewise deletes the
    // carried h[b] and batch 3 reads it — every split must equal the
    // one-shot run over all lines
    val kinds = Seq( // (decl, capture, set, inc)
      ("gauge", "\\d+", "h[$s] = $x", "h[$s] = $x"),
      ("counter", "\\d+", "h[$s] += $x", "h[$s]++"),
      ("gauge", "\\d+", "h[$s] = $x", "h[$s] += $x"),
      ("text", "[a-z0-9]+", "h[$s] = $x", "h[$s] += $x"))
    for ((decl, cap, set, inc) <- kinds; later <- Seq(false, true)) {
      val prog = Frontend.parse(
        s"""$decl h by s
           |$decl out by s
           |/^set (?P<s>\\w+) (?P<x>$cap)$$/ {
           |  $set
           |}
           |/^inc (?P<s>\\w+) (?P<x>$cap)$$/ {
           |  $inc
           |}
           |/^del (?P<s>\\w+)$$/ {
           |  del h[$$s]
           |}
           |/^read (?P<s>\\w+)$$/ {
           |  out[$$s] = h[$$s]
           |}
           |""".stripMargin, "delkinds.mtail")
      def thenInc(c: String) = if (later) Seq(s"inc $c 4") else Nil
      val batches = Seq(
        Seq("set a 5", "inc a 2", "set b 1", "inc b 3", "del a") ++
          thenInc("a"),
        Seq("read a", "inc b 2", "read b", "inc a 1", "read a",
          "del b") ++ thenInc("b"),
        Seq("read b", "read a"))
      val oneShot = norm(Snapshot.collect(new PlanBuilder(prog,
        LogLines.fromLines(batches.flatten.toDF("line"), "line"), 0)
        .snapshot()))
      val split = new StreamRunner(prog, spark, 0)
      batches.zipWithIndex.foreach { case (b, i) =>
        split.processBatch(b.toDF("line"), i.toLong)
      }
      assert(norm(split.store.snapshot()) == oneShot,
        s"$decl: $set / $inc, a write after each del: $later")
    }
  }
}
