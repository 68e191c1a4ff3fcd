package perfbench

import java.io.BufferedWriter
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What the program's report must say about a generated input, tallied
  * by the generator while it writes each line. */
final class Tally(levels: Set[String]) {
  var total = 0L
  var jsonFailed = 0L
  var normalizedFailed = 0L
  var filteredLevel = 0L
  var kept = 0L
  val byLevel = mutable.Map[String, Long]().withDefaultValue(0L)
  val byService = mutable.Map[String, Long]().withDefaultValue(0L)

  def good(level: String, service: String): Unit = {
    total += 1
    byLevel(level) += 1
    if (service.nonEmpty) byService(service) += 1
    if (!levels.contains(level)) filteredLevel += 1 else kept += 1
  }

  /** Every counter of `r` that disagrees with the tallies. */
  def check(r: graft.etl.EtlReport): Seq[String] = {
    def eq(name: String, got: Any, want: Any) =
      if (got == want) None else Some(s"$name: got $got, want $want")
    Seq(eq("total_lines", r.totalLines, total),
      eq("json_failed", r.jsonFailed, jsonFailed),
      eq("normalized_failed", r.normalizedFailed, normalizedFailed),
      eq("normalized_ok", r.normalizedOk, total - jsonFailed - normalizedFailed),
      eq("by_level", r.byLevel, byLevel.toMap),
      eq("by_service", r.byService, byService.toMap),
      eq("filtered.by_level", r.filteredLevel, filteredLevel),
      eq("filtered.by_service", r.filteredService, 0L),
      eq("written_ok", r.writtenOk, kept)).flatten
  }
}

/** Seeded generator of Kubernetes-style JSONL log lines.
  *
  * A line carries the canonical keys plus two residual fields; 25% carry
  * a nested `kubernetes` object. Canonical keys sometimes use their
  * aliases (`time`, `severity`, `message`, `app`, `component`) and
  * lower-case levels. About 0.5% of lines are corrupt JSON, 0.5% fail
  * normalization (bad timestamp or missing message), 10% carry the PII
  * key `user_email`, and 0.1% are blank (skipped before counting). */
final class LogGen(seed: Long) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val Levels = Array("INFO", "DEBUG", "WARN", "ERROR")
  private val LevelWeights = Array(0.40, 0.10, 0.30, 0.20)
  private val Services = (0 until 12).map(i => f"svc-$i%02d")
  private val Paths = Array("/api/v1/items", "/api/v1/users", "/healthz",
    "/api/v2/orders", "/static/app.js")
  private val BaseEpochS = 1767225600L // 2026-01-01T00:00:00Z
  private var line = 0L

  private def pad(sb: java.lang.StringBuilder, v: Int, w: Int): Unit = {
    val s = v.toString
    var i = s.length
    while (i < w) { sb.append('0'); i += 1 }
    sb.append(s)
  }

  private def ts(sb: java.lang.StringBuilder): Unit = {
    val ms = BaseEpochS * 1000 + line * 37 + rnd.nextInt(1000)
    val offsetMin = if (rnd.nextInt(5) == 0) 120 else 0
    val t = java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(ms, 1000L) + offsetMin * 60, (Math.floorMod(ms, 1000L) * 1000000).toInt,
      java.time.ZoneOffset.UTC)
    pad(sb, t.getYear, 4); sb.append('-'); pad(sb, t.getMonthValue, 2)
    sb.append('-'); pad(sb, t.getDayOfMonth, 2); sb.append('T')
    pad(sb, t.getHour, 2); sb.append(':'); pad(sb, t.getMinute, 2)
    sb.append(':'); pad(sb, t.getSecond, 2); sb.append('.')
    pad(sb, t.getNano / 1000000, 3)
    sb.append(if (offsetMin == 0) "Z" else "+02:00")
  }

  private def key(sb: java.lang.StringBuilder, k: String): Unit =
    sb.append('"').append(k).append("\":")
  private def strField(sb: java.lang.StringBuilder, k: String, v: String): Unit = {
    key(sb, k); sb.append('"').append(v).append("\",")
  }

  private def pick[T](xs: Array[T], ws: Array[Double]): T = {
    var u = rnd.nextDouble()
    var i = 0
    while (i < xs.length - 1 && u >= ws(i)) { u -= ws(i); i += 1 }
    xs(i)
  }

  /** Appends one line, possibly blank, without its newline and records
    * it in `tally`. */
  def next(sb: java.lang.StringBuilder, tally: Tally): Unit = {
    line += 1
    val u = rnd.nextDouble()
    if (u < 0.001) return // blank: dropped before any counter
    val level = pick(Levels, LevelWeights)
    val service = Services(rnd.nextInt(Services.length))
    sb.append('{')
    if (u < 0.006) {
      // corrupt JSON: a truncated object
      strField(sb, "level", level)
      key(sb, "msg"); sb.append("\"connection reset while wri")
      tally.total += 1; tally.jsonFailed += 1
      return
    }
    val badTs = u < 0.0085
    val noMsg = !badTs && u < 0.011
    if (badTs) strField(sb, "ts", "2026/01/05 10:00:00")
    else {
      key(sb, if (rnd.nextInt(10) == 0) "time" else "ts")
      sb.append('"'); ts(sb); sb.append("\",")
    }
    strField(sb, if (rnd.nextInt(10) == 0) "severity" else "level",
      if (rnd.nextInt(5) == 0) level.toLowerCase else level)
    if (!noMsg) {
      val code = 200 + rnd.nextInt(4) * 100
      val msg =
        if (rnd.nextInt(20) == 0) s"""client said \\"retry\\" & code <$code>"""
        else s"GET ${Paths(rnd.nextInt(Paths.length))} -> $code in ${rnd.nextInt(900)}ms"
      strField(sb, if (rnd.nextInt(7) == 0) "message" else "msg", msg)
    }
    val sk = rnd.nextInt(20)
    strField(sb, if (sk < 16) "service" else if (sk < 19) "app" else "component", service)
    strField(sb, "trace_id", java.lang.Long.toHexString(rnd.nextLong()))
    key(sb, "latency_ms"); sb.append(rnd.nextInt(2000)).append(',')
    strField(sb, "path", Paths(rnd.nextInt(Paths.length)))
    if (rnd.nextInt(4) == 0) {
      key(sb, "kubernetes")
      sb.append("{\"namespace_name\":\"ns-").append(rnd.nextInt(6))
        .append("\",\"pod_name\":\"").append(service).append('-')
        .append(rnd.nextInt(40)).append("\",\"node_name\":\"node-")
        .append(rnd.nextInt(8)).append("\"},")
    }
    if (rnd.nextInt(10) == 0)
      strField(sb, "user_email", s"user${rnd.nextInt(100000)}@example.com")
    sb.setLength(sb.length - 1) // trailing comma
    sb.append('}')
    if (badTs || noMsg) { tally.total += 1; tally.normalizedFailed += 1 }
    else tally.good(level, service)
  }

  /** Writes `lines` lines (blank ones included) to `path`. */
  def write(path: Path, lines: Int, tally: Tally): Unit = {
    Files.createDirectories(path.getParent)
    val w: BufferedWriter = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(1024)
    try {
      var i = 0
      while (i < lines) {
        sb.setLength(0)
        next(sb, tally)
        w.append(sb).append('\n')
        i += 1
      }
    } finally w.close()
  }
}
