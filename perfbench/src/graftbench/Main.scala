package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Measurement process of the graft benchmark. Drives graft only through
  * its public API, checks every result against the generator's truth and
  * writes one raw run record (JSON) for `perfbench/run.py`, which turns
  * it into the reported metrics.
  *
  *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *                   --cores C --dir RUNDIR --out RECORD.json
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Int,
      trace: Boolean, cores: Int, dir: Path, out: Path)

  /** setups per run; the reported set-up time is their median */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("cores", "4").toInt,
      Path.of(kv("dir")), Path.of(kv("out")))
    val tracer = new Tracer(conf.trace, conf.workload)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> conf.workload, "seed" -> conf.seed,
      "seconds" -> conf.seconds, "trace" -> conf.trace,
      "cores" -> conf.cores)
    val checks = new Checks
    try conf.workload match {
      case "oneshot_weblog" => OneShot.run(conf, tracer, checks, rec)
      case "tail_weblog" => Tail.run(conf, tracer, checks, rec, sessions = false)
      case "tail_sessions" => Tail.run(conf, tracer, checks, rec, sessions = true)
      case "corpus_dedup" => CorpusDedup.run(conf, tracer, checks, rec)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } catch {
      case e: Throwable =>
        // Spark's non-daemon threads would keep a failed run alive
        e.printStackTrace()
        Runtime.getRuntime.halt(2)
    }
    rec("attempted") = checks.attempted
    rec("failed") = checks.failed
    rec("failures") = checks.messages.toSeq
    if (conf.trace) rec("trace") = tracer.record
    Js.write(conf.out, rec)
    // the record is written: end the process without tearing down the
    // last session (its scratch directory is removed by run.py)
    Runtime.getRuntime.halt(0)
  }

  /** a fresh session with graft's CLI session settings; scratch space,
    * warehouse and streaming checkpoints under the run directory */
  def session(conf: Conf, n: Int, tracer: Tracer): SparkSession = {
    val scratch = conf.dir.resolve(s"spark-$n")
    Files.createDirectories(scratch)
    val s = SparkSession.builder().appName("graftbench")
      .master(s"local[${conf.cores}]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.local.dir", scratch.resolve("local").toString)
      .config("spark.sql.warehouse.dir", scratch.resolve("wh").toString)
      .config("spark.sql.streaming.checkpointLocation",
        scratch.resolve("ckpt").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    tracer.attach(s)
    s
  }

  def stop(s: SparkSession, tracer: Tracer): Unit = {
    tracer.detach(s)
    s.stop()
  }

  /** seconds since JVM start (the first set-up is timed from there) */
  def sinceJvmStart: Double =
    (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** hard limit on any warm-up */
  val MaxWarmS = 30.0

  /** warm-up limit given the op times seen so far: eight median ops, at
    * least `minS`; `MaxWarmS` until the first op time is known */
  def warmCapS(minS: Double, times: Seq[Double]): Double =
    if (times.isEmpty) MaxWarmS
    else math.min(MaxWarmS, math.max(minS, 8 * median(times)))

  /** the last three timings within `tol` of their median */
  def settled(times: Seq[Double], tol: Double): Boolean =
    times.length >= 3 && {
      val last = times.takeRight(3)
      val m = median(last)
      last.forall(t => math.abs(t - m) <= tol * m)
    }

  /** run passes for at least `minS` seconds and until their times settle
    * (the last three within 10% of their median); give up at
    * `warmCapS`. Op times keep falling for longer than three ops take to
    * look settled, and a run measured earlier on that curve reads slower,
    * so the floor gives every run about the same warm-up. Returns the
    * pass times and whether they settled. */
  def warmUp(minS: Double)(pass: => Double): (Seq[Double], Boolean) = {
    val t0 = System.nanoTime()
    val times = mutable.ArrayBuffer[Double]()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while ((elapsed < minS || !settled(times.toSeq, 0.1)) &&
        elapsed < warmCapS(minS, times.toSeq))
      times += pass
    (times.toSeq, settled(times.toSeq, 0.1))
  }

  def write(path: Path, lines: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    try lines.foreach { l => w.write(l); w.write('\n') }
    finally w.close()
  }
}
