package graftbench

import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Each keeps the exact result graft must
  * produce for the lines (or documents) it has handed out so far.
  */
object Gen {
  /** event time of line 0; line i is stamped BaseEpoch + i seconds, so
    * every line carries a distinct timestamp */
  val BaseEpoch = 1700000000L

  /** a cumulative Zipf(s) table over n ranks */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(r => 1.0 / math.pow(r, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }

  def sample(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }
}

/** Access-log lines: timestamp, method, path (Zipf over ~1k paths),
  * status, bytes, latency in ms.
  */
final class WeblogGen(seed: Long) {
  import WeblogGen._
  private val rnd = new SplittableRandom(seed)
  private val cdf = Gen.zipfCdf(Paths.length, 1.1)
  private val fmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  var lines = 0L
  private val byMethodStatus = mutable.HashMap[(String, String), Long]()
  private val byPath = new Array[Long](Paths.length)
  private var bytes = 0L
  private val hist = new Array[Long](Buckets.length + 1)
  private var latSum = 0L

  def next(): String = {
    val i = lines
    lines += 1
    val m = Methods(rnd.nextInt(Methods.length))
    val s = Statuses(rnd.nextInt(Statuses.length))
    val p = Gen.sample(cdf, rnd.nextDouble())
    val b = rnd.nextInt(50000)
    // odd latencies never sit on an (even) bucket bound
    val lat = 2 * rnd.nextInt(700) + 1
    byMethodStatus((m, s)) = byMethodStatus.getOrElse((m, s), 0L) + 1
    byPath(p) += 1
    bytes += b
    latSum += lat
    hist(Buckets.indexWhere(lat < _) match { case -1 => Buckets.length
      case k => k }) += 1
    s"${fmt.format(java.time.Instant.ofEpochSecond(Gen.BaseEpoch + i))} " +
      s"$m ${Paths(p)} $s $b $lat"
  }

  /** the exposition samples graft must serve for every line so far */
  def expected: Map[String, Double] = {
    val out = mutable.HashMap[String, Double]()
    byMethodStatus.foreach { case ((m, s), n) =>
      out(Prom.key("http_requests_total", "method" -> m, "status" -> s)) =
        n.toDouble
    }
    byPath.indices.filter(byPath(_) > 0).foreach { p =>
      out(Prom.key("http_requests_by_path", "path" -> Paths(p))) =
        byPath(p).toDouble
    }
    out("http_response_bytes_total") = bytes.toDouble
    var cum = 0L
    Buckets.indices.foreach { k =>
      cum += hist(k)
      out(Prom.key("http_request_latency_ms_bucket",
        "le" -> Buckets(k).toString)) = cum.toDouble
    }
    out(Prom.key("http_request_latency_ms_bucket", "le" -> "+Inf")) =
      lines.toDouble
    out("http_request_latency_ms_sum") = latSum.toDouble
    out("http_request_latency_ms_count") = lines.toDouble
    out.toMap
  }
}

object WeblogGen {
  val Paths: IndexedSeq[String] =
    (0 until 1000).map(i => f"/api/v${i % 3}/item$i%04d")
  val Methods = Array("GET", "GET", "GET", "GET", "GET", "POST", "POST",
    "PUT", "DELETE", "HEAD")
  val Statuses = Array("200", "200", "200", "200", "200", "200", "301",
    "304", "404", "500")
  val Buckets = Array(10, 50, 100, 250, 500, 1000)

  val Program: String =
    s"""counter http_requests_total by method, status
       |counter http_requests_by_path by path
       |counter http_response_bytes_total
       |histogram http_request_latency_ms buckets ${Buckets.mkString(", ")}
       |
       |/^(?P<ts>\\d{4}-\\d\\d-\\d\\dT\\d\\d:\\d\\d:\\d\\d) (?P<method>[A-Z]+) (?P<path>\\S+) (?P<status>\\d{3}) (?P<bytes>\\d+) (?P<lat>\\d+)$$/ {
       |  strptime($$ts, "2006-01-02T15:04:05")
       |  http_requests_total[$$method][$$status]++
       |  http_requests_by_path[$$path]++
       |  http_response_bytes_total += $$bytes
       |  http_request_latency_ms = $$lat
       |}
       |""".stripMargin
}

/** Session log: an `open` line and, for most sessions, a later `close`
  * line with the same session id; user ids drawn from 200k. One line
  * per second of event time.
  */
final class SessionGen(seed: Long) {
  import SessionGen._
  private val rnd = new SplittableRandom(seed)

  var lines = 0L
  private var sessions = 0L
  /** close-line index → (session id, user id, open index) */
  private val pending = mutable.HashMap[Long, (Long, Int, Long)]()
  private var opened = 0L
  private var closed = 0L
  private val hist = new Array[Long](Buckets.length + 1)
  private var durSum = 0L
  /** user → (closes, event time of the last close) */
  private val users = mutable.HashMap[Int, (Long, Long)]()

  def next(): String = {
    val i = lines
    lines += 1
    val ts = Gen.BaseEpoch + i
    pending.remove(i) match {
      case Some((sid, uid, openAt)) =>
        val d = i - openAt
        closed += 1
        durSum += d
        hist(Buckets.indexWhere(d < _) match { case -1 => Buckets.length
          case k => k }) += 1
        users(uid) = (users.get(uid).fold(0L)(_._1) + 1, ts)
        s"$ts close s$sid u$uid"
      case None =>
        val sid = sessions
        sessions += 1
        opened += 1
        val uid = rnd.nextInt(Users)
        if (rnd.nextInt(10) != 0) {
          // odd durations never sit on an (even) bucket bound
          var at = i + 2 * rnd.nextInt(MaxDuration / 2) + 1
          while (pending.contains(at)) at += 2
          pending(at) = (sid, uid, i)
        }
        s"$ts open s$sid u$uid"
    }
  }

  /** exact samples for every line so far (the per-user counter is
    * checked separately: which users survive `limit` is exact, their
    * values depend on when the limit trim ran) */
  def expected: Map[String, Double] = {
    val out = mutable.HashMap[String, Double]()
    out("sessions_opened") = opened.toDouble
    out("sessions_closed") = closed.toDouble
    var cum = 0L
    Buckets.indices.foreach { k =>
      cum += hist(k)
      out(Prom.key("session_duration_s_bucket",
        "le" -> Buckets(k).toString)) = cum.toDouble
    }
    out(Prom.key("session_duration_s_bucket", "le" -> "+Inf")) =
      closed.toDouble
    out("session_duration_s_sum") = durSum.toDouble
    out("session_duration_s_count") = closed.toDouble
    out.toMap
  }

  /** users that must survive `limit`: the newest by last close */
  def survivors: Map[String, Long] =
    users.toSeq.sortBy(-_._2._2).take(UserLimit)
      .map { case (u, (n, _)) => s"u$u" -> n }.toMap
}

object SessionGen {
  val Users = 200000
  val UserLimit = 1000
  val MaxDuration = 20000
  val Buckets = Array(60, 600, 3600, 14400)

  val Program: String =
    s"""hidden gauge session_start by sid
       |counter sessions_opened
       |counter sessions_closed
       |counter user_sessions by uid limit $UserLimit
       |histogram session_duration_s buckets ${Buckets.mkString(", ")}
       |
       |/^(?P<ts>\\d+) open (?P<sid>\\S+) (?P<uid>\\S+)$$/ {
       |  settime($$ts)
       |  session_start[$$sid] = timestamp()
       |  del session_start[$$sid] after 12h
       |  sessions_opened++
       |}
       |/^(?P<ts>\\d+) close (?P<sid>\\S+) (?P<uid>\\S+)$$/ {
       |  settime($$ts)
       |  session_start[$$sid] > 0 {
       |    session_duration_s = timestamp() - session_start[$$sid]
       |    sessions_closed++
       |    user_sessions[$$uid]++
       |    del session_start[$$sid]
       |  }
       |}
       |""".stripMargin
}

/** Document corpus with planted exact- and near-duplicate clusters and
  * planted PII for the scrubber.
  */
final class DocsGen(seed: Long, bases: Int) {
  private val rnd = new SplittableRandom(seed)
  private val vocab: Array[String] = Array.fill(6000) {
    val n = 4 + rnd.nextInt(6)
    new String(Array.fill(n)(('a' + rnd.nextInt(26)).toChar))
  }
  private def hex32: String =
    new String(Array.fill(32)("0123456789abcdef".charAt(rnd.nextInt(16))))

  var emails = 0L
  var ips = 0L
  var secrets = 0L

  /** (id, text) rows and the canonical id each must map to */
  val (docs, canonical): (IndexedSeq[(Long, String)], Map[Long, Long]) = {
    val texts = mutable.ArrayBuffer[Array[String]]()
    val cluster = mutable.ArrayBuffer[Int]()
    (0 until bases).foreach { b =>
      val words = Array.fill(80)(vocab(rnd.nextInt(vocab.length)))
      if (rnd.nextInt(4) == 0) {
        words(rnd.nextInt(words.length)) = s"user${rnd.nextInt(99999)}@example.com"
      }
      if (rnd.nextInt(5) == 0) {
        words(rnd.nextInt(words.length)) =
          s"10.${rnd.nextInt(256)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}"
      }
      if (rnd.nextInt(10) == 0) {
        words(rnd.nextInt(words.length)) = hex32
      }
      texts += words
      cluster += b
      // one base in eight gets 1-3 copies: exact or one word changed
      if (rnd.nextInt(8) == 0) (0 until 1 + rnd.nextInt(3)).foreach { _ =>
        val copy = words.clone()
        if (rnd.nextBoolean()) {
          val at = rnd.nextInt(copy.length)
          if (copy(at).forall(_.isLetter))
            copy(at) = vocab(rnd.nextInt(vocab.length))
        }
        texts += copy
        cluster += b
      }
    }
    // what the scrubber's rules must find (a later plant may have
    // overwritten an earlier one, so count what the texts hold)
    texts.foreach(_.foreach { w =>
      if (w.contains('@')) emails += 1
      else if (w.startsWith("10.")) ips += 1
      else if (w.length == 32 && w.forall(c => c.isDigit || c <= 'f'))
        secrets += 1
    })
    // shuffle so a cluster's members get unrelated ids
    val order = (0 until texts.length).toArray
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val rows = order.indices.map(id => id.toLong -> texts(order(id))
      .mkString(" "))
    val byCluster = order.indices.groupBy(id => cluster(order(id)))
    val canon = byCluster.values.flatMap { ids =>
      val m = ids.min.toLong
      ids.map(_.toLong -> m)
    }.toMap
    (rows, canon)
  }
}
