package perfbench

import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.StreamingQueryListener
import graft.streaming.{KeyValueMetricsSink, MetricsReader, PartitionMetricsWriter,
  PartitionWriterFactory}

/** Delegating write-side wrapper: every verb of the sink trait goes to
  * the wrapped store unchanged (the ledgered `writeBatchOnce` and the
  * executor-side `partitionWriter` included), and each call is timed
  * and counted into [[Rec]]. Commands are counted here, at the sink
  * interface: one per key operation, plus one for a ledger marker. */
class TracedSink(val inner: KeyValueMetricsSink) extends KeyValueMetricsSink {
  private def timed[T](verb: String, cmds: Long)(body: => T): T = {
    val t0 = Rec.nowUs()
    try body
    finally {
      val t1 = Rec.nowUs()
      Rec.sample("store.write_ms", (t1 - t0) / 1000.0)
      Rec.count("store.cmds", cmds)
      Rec.span(verb, "store", t0, t1, Rec.streamingParent(Rec.queryNames))
    }
  }
  private def nCmds(incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Long =
    (incrs.size + puts.size + sadds.count(_._2.nonEmpty) + pfadds.count(_._2.nonEmpty)).toLong

  def incrBy(key: String, n: Long): Unit = timed("incrBy", 1)(inner.incrBy(key, n))
  def put(key: String, v: Long): Unit = timed("put", 1)(inner.put(key, v))
  def sadd(key: String, members: Iterable[String]): Unit =
    timed("sadd", 1)(inner.sadd(key, members))
  override def pfadd(key: String, members: Iterable[String]): Unit =
    timed("pfadd", 1)(inner.pfadd(key, members))
  override def writeBatch(incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Unit =
    timed("writeBatch", nCmds(incrs, puts, sadds, pfadds))(
      inner.writeBatch(incrs, puts, sadds, pfadds))
  override def writeBatchOnce(queryId: String, batchId: Long,
      incrs: Seq[(String, Long)], puts: Seq[(String, Long)],
      sadds: Seq[(String, Iterable[String])],
      pfadds: Seq[(String, Iterable[String])]): Boolean =
    timed("writeBatchOnce", nCmds(incrs, puts, sadds, pfadds) + 1)(
      inner.writeBatchOnce(queryId, batchId, incrs, puts, sadds, pfadds))
  override def partitionWriter: Option[PartitionWriterFactory] =
    inner.partitionWriter.map(new TracedWriterFactory(_))
}

/** Executor-side half of [[TracedSink]]: times each partition writer
  * from open to close and counts its commands and connections. */
class TracedWriterFactory(inner: PartitionWriterFactory) extends PartitionWriterFactory {
  def open(): PartitionMetricsWriter = {
    val t0 = Rec.nowUs()
    val parent = Rec.streamingParent(Rec.queryNames)
    val w = inner.open()
    Rec.count("store.connections")
    new PartitionMetricsWriter {
      def sadd(key: String, members: Iterable[String]): Unit = {
        if (members.nonEmpty) Rec.count("store.cmds"); w.sadd(key, members)
      }
      def pfadd(key: String, members: Iterable[String]): Unit = {
        if (members.nonEmpty) Rec.count("store.cmds"); w.pfadd(key, members)
      }
      def close(): Unit =
        try w.close()
        finally {
          val t1 = Rec.nowUs()
          Rec.sample("store.partition_write_ms", (t1 - t0) / 1000.0)
          Rec.span("partitionWriter", "store", t0, t1, parent)
        }
    }
  }
}

/** One store read as seen by the read-side wrapper. */
final case class ReadRec(thread: Long, verb: String, start: Long, end: Long)

/** Delegating read-side wrapper around the dashboard's store face:
  * every [[MetricsReader]] verb is forwarded and timed. */
class TracedReader(inner: MetricsReader) extends MetricsReader {
  val reads = new ConcurrentLinkedQueue[ReadRec]()
  private def rd[T](verb: String)(body: => T): T = {
    val t0 = Rec.nowUs()
    try body
    finally {
      val t1 = Rec.nowUs()
      reads.add(ReadRec(Thread.currentThread().getId, verb, t0, t1))
      Rec.sample(s"store.read_${verb}_ms", (t1 - t0) / 1000.0)
    }
  }
  def counter(key: String): Long = rd("counter")(inner.counter(key))
  def scard(key: String): Long = rd("scard")(inner.scard(key))
  def hllCount(key: String): Long = rd("hllCount")(inner.hllCount(key))
  def overlap(prefix: String): Seq[(String, String, Long)] = rd("overlap")(inner.overlap(prefix))
  override def overlapApprox(prefix: String): Seq[(String, String, Long)] =
    rd("overlapApprox")(inner.overlapApprox(prefix))
  override def timeseries(prefix: String, nowMinute: LocalDateTime, lastMinutes: Int,
      fromSets: Boolean): Seq[(String, Long)] =
    inner.timeseries(prefix, nowMinute, lastMinutes, fromSets)
}

/** One streaming micro-batch, from the query's progress report. Its
  * completion is trigger start + triggerExecution, so listener-bus
  * delivery lag does not enter the freshness figure. */
final case class Batch(query: String, batchId: Long, endOffset: Long,
    startMs: Double, endMs: Double, rows: Long, durations: Map[String, Long])

/** Public streaming listener: collects every batch's progress and any
  * query that terminated with an exception. */
class ProgressLog extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()
  val errors = new ConcurrentLinkedQueue[String]()
  private val Digits = "(-?\\d+)".r.unanchored

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Rec.queryNames.put(e.id.toString, Option(e.name).getOrElse(e.id.toString))
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = p.sources.headOption.flatMap(s => Option(s.endOffset)) match {
      case Some(Digits(n)) => n.toLong
      case _ => -1L
    }
    batches.add(Batch(Option(p.name).getOrElse(p.id.toString), p.batchId, end,
      start, start + d.getOrElse("triggerExecution", 0L), p.numInputRows, d))
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    e.exception.foreach(x => errors.add(x))

  /** Completion time of the first batch of `query` whose end offset
    * reaches `offset`. */
  def visibleAt(query: String, offset: Long): Option[Double] =
    batches.asScala.filter(b => b.query == query && b.endOffset >= offset && b.rows > 0)
      .map(_.endMs).minOption
}

/** Job and task totals of one [[JobLog]] tag. */
final class Acc(var jobs: Long = 0, var taskMs: Long = 0, var shuffleBytes: Long = 0,
    var spillBytes: Long = 0, var gcMs: Long = 0)

/** Public Spark listener for the traced run: jobs, task time, shuffle,
  * spill and GC per tag. A job's tag is the harness's `perfbench.tag`
  * local property (catalog faces) or "streaming:<phase>" when the job
  * runs under a streaming query. */
class JobLog extends SparkListener {
  private val stageTag = TrieMap.empty[Int, String]
  val acc = TrieMap.empty[String, Acc]
  /** Phase windows (epoch ms) streaming jobs are attributed to. */
  @volatile var phases: Seq[(String, Double, Double)] = Nil

  private def tagOf(props: java.util.Properties, timeMs: Long): String =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.tag"))).getOrElse {
      val streaming = Option(props).exists(_.getProperty("sql.streaming.queryId") != null)
      val phase = phases.collectFirst { case (n, a, b) if timeMs >= a && timeMs <= b => n }
      if (streaming) s"streaming:${phase.getOrElse("other")}" else "other"
    }
  private def get(tag: String): Acc = acc.getOrElseUpdate(tag, new Acc())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = tagOf(e.properties, e.time)
    e.stageIds.foreach(stageTag.put(_, tag))
    get(tag).synchronized { get(tag).jobs += 1 }
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (!stageTag.contains(e.stageInfo.stageId))
      stageTag.put(e.stageInfo.stageId,
        tagOf(e.properties, e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = get(stageTag.getOrElse(e.stageId, "other"))
      a.synchronized {
        a.taskMs += m.executorRunTime
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  }
}

/** Keep-alive HTTP/1.1 client over one socket — the way a browser polls
  * the dashboard. Not thread-safe: one per load thread. */
final class HttpConn(port: Int, timeoutMs: Int = 5000) {
  private var sock: java.net.Socket = _
  private var in: java.io.BufferedInputStream = _
  private var out: java.io.BufferedOutputStream = _

  private def connect(): Unit = if (sock == null) {
    val s = new java.net.Socket()
    s.connect(new java.net.InetSocketAddress("127.0.0.1", port), timeoutMs)
    s.setSoTimeout(timeoutMs)
    s.setTcpNoDelay(true)
    sock = s
    in = new java.io.BufferedInputStream(s.getInputStream)
    out = new java.io.BufferedOutputStream(s.getOutputStream)
  }
  def close(): Unit = if (sock != null) {
    try sock.close() catch { case _: java.io.IOException => }
    sock = null
  }
  private def line(): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }
  /** GET `path`: (status, body). Any I/O failure closes the socket so
    * the next request reconnects. */
  def get(path: String): (Int, String) =
    try {
      connect()
      out.write(s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes("UTF-8"))
      out.flush()
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      val body = in.readNBytes(len)
      if (body.length < len) throw new java.io.EOFException("short body")
      (status, new String(body, "UTF-8"))
    } catch { case scala.util.control.NonFatal(e) => close(); throw e }
}
