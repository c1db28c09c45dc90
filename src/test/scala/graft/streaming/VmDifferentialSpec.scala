package graft.streaming

import scala.util.Random

import graft.SparkSpec
import graft.mtail.{Frontend, LogLines, MiniVm, Snapshot}
import graft.plan.PlanBuilder

/** VM-differential fuzz: the engine's one-shot distributed plan must
  * produce EXACTLY the reference VM's store — as computed by the
  * independent sequential interpreter [[graft.mtail.MiniVm]] — on
  * every random program of the shared [[FuzzPool]]. The planner is
  * exact or fails the plan build, so any divergence, and any crash on
  * a checker-legal program, fails the suite with program + seed.
  *
  * This is a different net than [[StreamEquivalenceSpec]]: that one
  * proves one-shot ≡ any batch split (self-consistency), this one
  * proves one-shot ≡ VM semantics (external correctness). A bug that
  * deviates from the VM identically in both modes passes the
  * equivalence net and is caught only here.
  *
  * Each sweep asserts that at least half of its programs passed the
  * checker, so a pool that starts rejecting cannot shrink the net
  * silently.
  */
class VmDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def norm(cells: Seq[Snapshot.Cell])
      : Map[(String, Map[String, String]), (String, Snapshot.Value,
        Long, Option[Map[String, Long]])] =
    cells.map(c => (c.name, c.labels) ->
      ((c.kind, c.value, c.tsSec.getOrElse(0L), c.buckets))).toMap

  test("one-shot engine run equals the sequential reference " +
      "interpreter on every accepted fuzz program") {
    val iters = sys.env.getOrElse("SPARK_GRAFT_VMDIFF_ITERS",
      sys.env.getOrElse("SPARK_GRAFT_FUZZ_ITERS", "25")).toInt
    val base = sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED_BASE", "4200")
      .toInt
    var checked = 0
    (1 to iters).foreach { i =>
      if (i % 50 == 0) System.err.println(s"[vmdiff] iteration $i/$iters")
      val rnd = new Random(base + i)
      val src = FuzzPool.genProgram(rnd)
      FuzzPool.parseAccepted(src, "vmdiff.mtail").foreach { prog =>
      try {
        val lines = FuzzPool.genLines(rnd)
        val pb = new PlanBuilder(prog,
          LogLines.fromLines(lines.toDF("line"), "line"), 2020)
        val engine = norm(Snapshot.collect(pb.snapshot()))
        val vm = norm(MiniVm.run(prog, lines))
        checked += 1
        if (engine != vm) fail(
          s"""iteration $i (seed ${base + i}) diverged from the VM
             |engine only: ${(engine.toSet -- vm.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |vm only: ${(vm.toSet -- engine.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |--- program:
             |$src""".stripMargin)
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        // checker rejections were already skipped by parseAccepted —
        // anything thrown here is the engine refusing or crashing on
        // a checker-LEGAL program, which is a net failure
        case e: Throwable => fail(
          s"iteration $i crashed: ${e.getMessage}\n--- program:\n$src", e)
      }
      }
    }
    System.err.println(s"[vmdiff] $checked/$iters VM-checked")
    assert(checked >= iters / 2,
      s"only $checked/$iters programs accepted — the pool is rejecting")
  }

  test("R18 pool (del-after TTL hints, limit N, decorators, " +
      "getfilename) matches the interpreter exactly") {
    val iters = sys.env.getOrElse("SPARK_GRAFT_VMDIFF_R18_ITERS", "25")
      .toInt
    val base = 40000 // own seed space, like the extended pool
    var checked = 0
    // a pool extension that got silently rejected would shrink the
    // net to nothing — track which target constructs actually reached
    // a VM-checked program
    val hit = scala.collection.mutable.Map(
      "after" -> 0, "limit" -> 0, "decorator" -> 0,
      "getfilename" -> 0)
    (1 to iters).foreach { i =>
      if (i % 50 == 0)
        System.err.println(s"[vmdiff-r18] iteration $i/$iters")
      val rnd = new Random(base + i)
      val src = FuzzPool.genProgramR18(rnd)
      FuzzPool.parseAccepted(src, "vmdiffr18.mtail").foreach { prog =>
      try {
        val lines = FuzzPool.genLines(rnd)
        val pb = new PlanBuilder(prog,
          LogLines.fromLines(lines.toDF("line"), "line",
            filename = "vmdiff.log"), 2020)
        val engine = norm(Snapshot.collect(pb.snapshot()))
        val vm = norm(MiniVm.run(prog, lines, filename = "vmdiff.log"))
        checked += 1
        if (src.contains(" after ")) hit("after") += 1
        if (src.contains("lim0")) hit("limit") += 1
        if (src.contains("@d0")) hit("decorator") += 1
        if (src.contains("getfilename")) hit("getfilename") += 1
        if (engine != vm) fail(
          s"""r18 iteration $i (seed ${base + i}) diverged from the VM
             |engine only: ${(engine.toSet -- vm.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |vm only: ${(vm.toSet -- engine.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |--- program:
             |$src""".stripMargin)
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable => fail(
          s"r18 iteration $i crashed: ${e.getMessage}\n--- program:\n$src",
          e)
      }
      }
    }
    System.err.println(s"[vmdiff-r18] $checked/$iters VM-checked; " +
      s"construct hits: ${hit.toSeq.sorted.mkString(", ")}")
    assert(checked >= iters / 2,
      s"only $checked/$iters programs accepted — the pool is rejecting")
    hit.foreach { case (k, n) => assert(n > 0,
      s"construct `$k' never reached a VM-checked program") }
  }

  test("EXTENDED pool (pow/shifts/bitwise/subst/strtol/timestamp, " +
      "mid-line aborts) matches the interpreter exactly") {
    val iters = sys.env.getOrElse("SPARK_GRAFT_VMDIFF_EXT_ITERS", "25")
      .toInt
    val base = 20000 // own seed space: the primary pool's pinned
    // seed→program mappings stay untouched
    var checked = 0
    (1 to iters).foreach { i =>
      if (i % 50 == 0)
        System.err.println(s"[vmdiff-ext] iteration $i/$iters")
      val rnd = new Random(base + i)
      val src = FuzzPool.genProgram(rnd, FuzzPool.leafExt)
      FuzzPool.parseAccepted(src, "vmdiffext.mtail").foreach { prog =>
      try {
        val lines = FuzzPool.genLines(rnd)
        val pb = new PlanBuilder(prog,
          LogLines.fromLines(lines.toDF("line"), "line"), 2020)
        val engine = norm(Snapshot.collect(pb.snapshot()))
        val vm = norm(MiniVm.run(prog, lines))
        checked += 1
        if (engine != vm) fail(
          s"""ext iteration $i (seed ${base + i}) diverged from the VM
             |engine only: ${(engine.toSet -- vm.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |vm only: ${(vm.toSet -- engine.toSet).toSeq.sortBy(_._1.toString).take(6)}
             |--- program:
             |$src""".stripMargin)
      } catch {
        case e: org.scalatest.exceptions.TestFailedException => throw e
        case e: Throwable => fail(
          s"ext iteration $i crashed: ${e.getMessage}\n--- program:\n$src",
          e)
      }
      }
    }
    System.err.println(s"[vmdiff-ext] $checked/$iters VM-checked")
    assert(checked >= iters / 2,
      s"only $checked/$iters programs accepted — the pool is rejecting")
  }
}
