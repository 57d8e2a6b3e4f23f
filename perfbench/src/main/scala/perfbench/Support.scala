package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Order statistics over measured samples. */
object Stats {
  /** Nearest-rank percentile (p in 0..100); 0 for no samples. */
  def pct(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
  /** Median, averaging the two middle samples of an even count. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
}

/** Minimal JSON rendering for the run artifact (maps, sequences,
  * numbers, strings, options). Non-finite numbers render as null, so
  * the artifact always parses. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => quote(s)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
}

/** The box the run executed on. Unreadable `/proc` entries become
  * None (rendered null), never free text inside the JSON. */
object Box {
  def loadavg(): Option[Seq[Double]] =
    try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")), "UTF-8")
      Some(s.trim.split("\\s+").take(3).map(_.toDouble).toSeq)
    } catch { case NonFatal(_) => None }
  def nproc: Int = Runtime.getRuntime.availableProcessors()
}

/** One timed interval at a layer boundary. Times are epoch
  * microseconds; `parent` names the enclosing span ("" for a root). */
final case class Span(name: String, layer: String, start: Long, end: Long,
    parent: String, id: String)

/** Process-wide measurement registry. Partition writers run inside
  * executor tasks, which in local mode share this JVM, so a global
  * object is where every layer's samples meet. */
object Rec {
  @volatile var tracing: Boolean = false
  private val epochMicros0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  /** Epoch microseconds with nanoTime resolution. */
  def nowUs(): Long = epochMicros0 + (System.nanoTime() - nano0) / 1000L
  def nowMs(): Double = nowUs() / 1000.0

  val spans = new ConcurrentLinkedQueue[Span]()
  private val samples = TrieMap.empty[String, ConcurrentLinkedQueue[Double]]
  private val counters = TrieMap.empty[String, AtomicLong]

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, new ConcurrentLinkedQueue[Double]()).add(v)
  def samplesOf(name: String): Seq[Double] =
    samples.get(name).map(_.asScala.toSeq).getOrElse(Nil)
  def clearSamples(prefix: String): Unit =
    samples.keys.filter(_.startsWith(prefix)).foreach(samples.remove)
  def count(name: String, n: Long = 1L): Unit =
    counters.getOrElseUpdate(name, new AtomicLong()).addAndGet(n)
  def counter(name: String): Long = counters.get(name).map(_.get).getOrElse(0L)

  def span(name: String, layer: String, start: Long, end: Long,
      parent: String = "", id: String = ""): Unit =
    if (tracing) spans.add(Span(name, layer, start, end, parent, id))

  /** The streaming batch a store call runs under, as "query#batch",
    * read from the Spark local properties the micro-batch thread (and
    * its tasks) carry; "" outside a streaming batch. */
  def streamingParent(queryNames: scala.collection.Map[String, String]): String = {
    def prop(k: String): Option[String] =
      Option(org.apache.spark.TaskContext.get()).flatMap(tc => Option(tc.getLocalProperty(k)))
        .orElse(org.apache.spark.sql.SparkSession.getDefaultSession
          .flatMap(s => Option(s.sparkContext.getLocalProperty(k))))
    (prop("sql.streaming.queryId"), prop("streaming.sql.batchId")) match {
      case (Some(q), Some(b)) => s"${queryNames.getOrElse(q, q)}#$b"
      case _ => ""
    }
  }
  /** queryId -> query name, filled by the progress listener. */
  val queryNames = TrieMap.empty[String, String]
}
