package geistbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded generator of the stream workloads' JSON events.
  *
  * Every event is a pure function of (seed, eventId), so a chunk of ids can
  * be regenerated at check time to predict what the stream must store. The
  * mix exercises every part of the benchmark spec:
  *
  *   - `purchase` (40%) and `view` (35%) route to the two extractFields
  *     branches (integer, float and unixTimestamp casts; `view` carries a
  *     URL-escaped user agent);
  *   - `log` (15%) matches no branch and goes to the raw-event regexp
  *     branch (with time conversion); about 3% of log lines are garbled so
  *     the regexp misses and the houe=dlq path runs;
  *   - `spam` (10%) is dropped by the blacklist.
  *
  * A padding field of 0..399 characters spreads the event size.
  */
object EventGen {
  val Purchase = 0; val View = 1; val Log = 2; val Spam = 3
  val KindNames: Array[String] = Array("purchase", "view", "log", "spam")

  private val userAgents: Array[String] = Array(
    "Mozilla/5.0 (iPhone; CPU iPhone OS 14_6 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/14.1.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Safari/605.1.15",
    "Mozilla/5.0 (Linux; Android 13; Pixel 7) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/119.0.0.0 Mobile Safari/537.36")
  val escapedUserAgents: Array[String] =
    userAgents.map(u => java.net.URLEncoder.encode(u, UTF_8).replace("+", "%20"))
  /** The userAgent field's output for each agent, as the library parses it. */
  private lazy val userAgentJson: Array[String] = escapedUserAgents.map(u =>
    graft.functions.UserAgentParser.parse(u).getOrElse(sys.error(s"unparseable agent $u")).toJson)
  private val currencies = Array("EUR", "USD", "SEK", "GBP")
  private val methods = Array("GET", "POST", "PUT")
  private val padChars = "abcdefghijklmnopqrstuvwxyz0123456789"
  private val baseMs = 1700000000000L

  /** What the keyed sink must hold for one branch event. */
  final case class Expected(key: String, user: String, n: Long, x: Double,
      s: String, tMs: Long)

  final case class Event(id: Long, kind: Int, json: String,
      regexpMiss: Boolean, expected: Option[Expected]) {
    def bytes: Int = json.length // ASCII only
  }

  private def rng(seed: Long, id: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (id * 0xC2B2AE3D27D4EB4FL + 0x165667B19E3779F9L))

  private def cents(c: Int): String = s"${c / 100}.${"%02d".format(c % 100)}"

  def event(seed: Long, id: Long): Event = {
    val r = rng(seed, id)
    val p = r.nextInt(100)
    val kind = if (p < 40) Purchase else if (p < 75) View else if (p < 90) Log else Spam
    val ts = baseMs + id * 37 + r.nextInt(1000)
    val user = f"u${r.nextInt(5000)}%04d"
    val padLen = r.nextInt(400)
    val pad = new StringBuilder(padLen)
    (0 until padLen).foreach(_ => pad.append(padChars.charAt(r.nextInt(padChars.length))))
    val head = s"""{"eventId":$id,"kind":"${KindNames(kind)}","ts":$ts,"user":"$user""""
    kind match {
      case Purchase =>
        val qty = 1 + r.nextInt(9)
        val amount = cents(100 + r.nextInt(99900))
        val cur = currencies(r.nextInt(currencies.length))
        Event(id, kind,
          s"""$head,"qty":$qty,"amount":$amount,"currency":"$cur","pad":"$pad"}""",
          regexpMiss = false,
          Some(Expected(id.toString, user, qty, amount.toDouble, cur, ts)))
      case View =>
        val dwell = r.nextInt(60000)
        val score = cents(r.nextInt(100))
        val ua = r.nextInt(escapedUserAgents.length)
        Event(id, kind,
          s"""$head,"dwell":$dwell,"score":$score,"ua":"${escapedUserAgents(ua)}","pad":"$pad"}""",
          regexpMiss = false,
          Some(Expected(id.toString, user, dwell, score.toDouble, userAgentJson(ua), ts)))
      case Log =>
        val miss = r.nextInt(100) < 3
        val line =
          if (miss) s"garbled record ${r.nextInt(100000)}"
          else {
            val at = java.time.Instant.ofEpochMilli(ts).atZone(java.time.ZoneOffset.UTC)
            val stamp = java.time.format.DateTimeFormatter
              .ofPattern("yyyy-MM-dd HH:mm:ss").format(at)
            s"$stamp ${methods(r.nextInt(methods.length))} /items/${r.nextInt(10000)} ${200 + r.nextInt(4) * 100}"
          }
        Event(id, kind, s"""$head,"line":"$line","pad":"$pad"}""", miss, None)
      case _ =>
        Event(id, kind, s"""$head,"pad":"$pad"}""", regexpMiss = false, None)
    }
  }

  /** Totals the stream's counters must reach for a set of events. */
  final case class Stats(events: Long, bytes: Long, byKind: Vector[Long],
      regexpMisses: Long, storedInSink: Long, keyedRows: Long,
      bytesIngested: Long) {
    def +(o: Stats): Stats = Stats(events + o.events, bytes + o.bytes,
      byKind.zip(o.byKind).map { case (a, b) => a + b },
      regexpMisses + o.regexpMisses, storedInSink + o.storedInSink,
      keyedRows + o.keyedRows, bytesIngested + o.bytesIngested)
  }
  val NoStats: Stats = Stats(0, 0, Vector(0L, 0L, 0L, 0L), 0, 0, 0, 0)

  def statsOf(evs: Iterable[Event]): Stats = evs.foldLeft(NoStats) { (s, e) =>
    val stored = e.kind != Spam && !e.regexpMiss
    s + Stats(1, e.bytes, Vector.tabulate(4)(k => if (k == e.kind) 1L else 0L),
      if (e.regexpMiss) 1 else 0, if (stored) 1 else 0,
      if (e.kind == Purchase || e.kind == View) 1 else 0,
      if (stored) e.bytes else 0)
  }

  /** Write events [from, from + n) as one JSON document per line. */
  def writeChunk(seed: Long, from: Long, n: Int, file: java.nio.file.Path): Stats = {
    val evs = (from until from + n).map(event(seed, _))
    val w = java.nio.file.Files.newBufferedWriter(file, UTF_8)
    try evs.foreach { e => w.write(e.json); w.write('\n') } finally w.close()
    statsOf(evs)
  }
}
