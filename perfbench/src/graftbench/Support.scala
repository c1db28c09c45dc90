package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Minimal JSON writer for the run record (no library beyond the JDK). */
object Js {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case a: Array[_] => apply(a.toSeq)
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case p: Product => apply(p.productIterator.toSeq)
    case other => str(other.toString)
  }

  def write(path: Path, v: Any): Unit =
    Files.write(path, apply(v).getBytes(StandardCharsets.UTF_8))
}

/** Process-level probes: CPU, hypervisor steal, JVM GC and live heap. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean

  def procCpuNs: Long = os.getProcessCpuTime

  def threadCpuNs(t: Thread): Long =
    math.max(0L, threads.getThreadCpuTime(t.getId))

  /** a harness thread whose CPU time stays readable after it ends */
  final class Worker(name: String)(body: => Unit) {
    @volatile private var endNs = -1L
    private val thread = new Thread(() =>
      try body finally endNs = threads.getCurrentThreadCpuTime, name)
    def start(): Unit = thread.start()
    def join(): Unit = thread.join()
    /** read the live time first: a thread that ends in between has set
      * `endNs` before it ended */
    def cpuNs: Long = {
      val live = threadCpuNs(thread)
      if (endNs >= 0) endNs else live
    }
  }

  /** cumulative steal seconds over all CPUs (`/proc/stat`, USER_HZ=100);
    * 0 where the kernel does not report it. */
  def stealS: Double =
    try {
      val f = Files.readAllLines(Path.of("/proc/stat")).get(0)
        .trim.split("\\s+")
      if (f.length > 8) f(8).toLong / 100.0 else 0.0
    } catch { case _: Exception => 0.0 }

  def gcMs: Long = {
    val it = ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var t = 0L
    while (it.hasNext) t += math.max(0L, it.next().getCollectionTime)
    t
  }

  /** heap in use after a full collection, in MB. */
  def heapLiveMb: Double = {
    System.gc()
    // let Spark's ContextCleaner drop blocks of what the GC collected
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  /** a measured window: wall, process CPU, steal and GC over it. */
  final class Window {
    private val w0 = System.nanoTime()
    private val c0 = procCpuNs
    private val s0 = stealS
    private val g0 = gcMs
    def close(): Map[String, Double] = Map(
      "wall_s" -> (System.nanoTime() - w0) / 1e9,
      "proc_cpu_s" -> (procCpuNs - c0) / 1e9,
      "steal_cpu_s" -> (stealS - s0),
      "proc_gc_s" -> (gcMs - g0) / 1e3)
  }
}

/** Prometheus text parsing for the correctness checks: sample name with
  * sorted labels → value. */
object Prom {
  private val sampleRe = """^([A-Za-z_:][A-Za-z0-9_:]*)(\{(.*)\})? (\S+)$""".r
  private val labelRe = """([A-Za-z_][A-Za-z0-9_]*)="((?:[^"\\]|\\.)*)"""".r

  def parse(body: String): Map[String, Double] = {
    val out = mutable.HashMap[String, Double]()
    body.split('\n').foreach { line =>
      if (line.nonEmpty && !line.startsWith("#")) line match {
        case sampleRe(name, _, labels, value) =>
          val ls = Option(labels).map(l => labelRe.findAllMatchIn(l)
            .map(m => m.group(1) -> m.group(2)).toSeq).getOrElse(Nil)
            .filter(_._1 != "prog")
          out(key(name, ls: _*)) = value.toDouble
        case _ =>
      }
    }
    out.toMap
  }

  def key(name: String, labels: (String, String)*): String =
    if (labels.isEmpty) name
    else labels.sortBy(_._1).map { case (k, v) => s"""$k="$v"""" }
      .mkString(name + "{", ",", "}")

  /** the runtime's `lines_total` sample, read without a full parse
    * (the scraper calls this a hundred times a second). */
  def linesTotal(body: String): Long = {
    val marker = "\nlines_total "
    val i = body.indexOf(marker)
    if (i < 0) -1L
    else {
      val s = i + marker.length
      val e = body.indexOf('\n', s)
      val v = body.substring(s, if (e < 0) body.length else e).trim
      try v.toDouble.toLong catch { case _: NumberFormatException => -1L }
    }
  }
}

/** Correctness bookkeeping: every checked operation, and what failed. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val messages = mutable.ArrayBuffer[String]()

  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (messages.size < 20) messages += what
    }
  }

  /** compare expected samples against a parsed exposition; one op per
    * expected sample */
  def samples(expected: Map[String, Double], actual: Map[String, Double],
      ctx: String): Unit =
    expected.toSeq.sortBy(_._1).foreach { case (k, v) =>
      val a = actual.get(k)
      op(a.exists(x => math.abs(x - v) <= 1e-9 * math.max(1.0,
        math.abs(v))), s"$ctx: $k expected $v got ${a.getOrElse("none")}")
    }
}
