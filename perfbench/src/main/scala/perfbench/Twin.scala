package perfbench

import scala.collection.mutable
import graft.streaming.MetricsReader

/** Independent batch twin of the five streaming branches: expected
  * store contents computed in plain Scala from the wire messages that
  * were sent, without Spark. (The approx-distinct estimate of the
  * in-memory store is the one value that needs Spark's own HLL++; the
  * caller supplies it.) */
final class Twin(messages: Iterable[String]) {
  private val Msg =
    """\{"uid": (\d+), "experiment_id": (\d+), "variant": "([^"]*)", "timestamp": "(\d{4})-(\d\d)-(\d\d)T(\d\d):(\d\d):\d\dZ"\}""".r

  val visits = mutable.Map.empty[String, Long]
  val usersPerMinute = mutable.Map.empty[String, mutable.Set[String]]
  val expsPerMinute = mutable.Map.empty[String, mutable.Set[String]]
  val usersPerVariant = mutable.Map.empty[String, mutable.Set[String]]
  var events = 0L

  messages.foreach {
    case Msg(uid, exp, variant, y, mo, d, h, mi) =>
      val m = s"${y}_${mo}_${d}T${h}_$mi"
      events += 1
      visits(m) = visits.getOrElse(m, 0L) + 1
      usersPerMinute.getOrElseUpdate(m, mutable.Set.empty) += uid
      expsPerMinute.getOrElseUpdate(m, mutable.Set.empty) += exp
      usersPerVariant.getOrElseUpdate(variant, mutable.Set.empty) += uid
    case other => throw new IllegalArgumentException(s"unexpected wire message: $other")
  }

  /** Pairwise exact overlaps in the store's order (sorted names, a < b). */
  def overlaps: Seq[(String, String, Long)] = {
    val vs = usersPerVariant.keys.toSeq.sorted
    for { a <- vs; b <- vs if a < b }
      yield (a, b, (usersPerVariant(a) & usersPerVariant(b)).size.toLong)
  }

  /** Compare a store, read back through [[MetricsReader]], with the
    * twin. `hll(minute)` is the expected approx-distinct reading.
    * Returns (checks made, mismatch descriptions). */
  def check(r: MetricsReader, hll: String => Long): (Int, Seq[String]) = {
    val bad = mutable.ArrayBuffer.empty[String]
    var n = 0
    def eq(what: String, got: Long, want: Long): Unit = {
      n += 1
      if (got != want) bad += s"$what: store=$got expected=$want"
    }
    var sum = 0L
    visits.toSeq.sortBy(_._1).foreach { case (m, c) =>
      val got = r.counter(s"visitCounter_$m")
      sum += got
      eq(s"visitCounter_$m", got, c)
      eq(s"set_dthr_$m", r.scard(s"set_dthr_$m"), usersPerMinute(m).size.toLong)
      eq(s"set_experiments_$m", r.scard(s"set_experiments_$m"), expsPerMinute(m).size.toLong)
      eq(s"hll_dthr_$m", r.hllCount(s"hll_dthr_$m"), hll(m))
    }
    eq("sum(visitCounter_*) vs events sent", sum, events)
    usersPerVariant.toSeq.sortBy(_._1).foreach { case (v, s) =>
      eq(s"set_var_$v", r.scard(s"set_var_$v"), s.size.toLong)
    }
    val ov = r.overlap("set_var_")
    n += 1
    if (ov != overlaps) bad += s"overlap(set_var_): store=$ov expected=$overlaps"
    (n, bad.toSeq)
  }
}

/** The dashboard's JSON bodies as the reference controller defines
  * them, rendered independently of the server for the read gates. */
object Bodies {
  private val KeyFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy_MM_dd'T'HH_mm")
  private val IsoFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:00'Z'")

  /** now-1 … now-N closed minutes, recent first. */
  def minutes(now: java.time.LocalDateTime, n: Int): Seq[java.time.LocalDateTime] = {
    val m = now.truncatedTo(java.time.temporal.ChronoUnit.MINUTES)
    (1 to n).map(m.minusMinutes(_))
  }
  def series(ms: Seq[java.time.LocalDateTime], v: String => Long): String =
    ms.map(m => s"""{"timestamp":"${IsoFmt.format(m)}","metric":${v(KeyFmt.format(m))}}""")
      .mkString("[", ",", "]")
  def pairs(ps: Seq[(String, String, Long)]): String =
    ps.map { case (a, b, n) => s"""{"dimensions":["$a","$b"],"metric":$n}""" }.mkString("[", ",", "]")
}
