package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{approx_count_distinct, col}
import graft.LogEvent
import graft.operators.Windows
import graft.serving.DashboardServer
import graft.sources.{Loggen, Tables}
import graft.streaming.{KeyValueMetricsSink, MetricsReader, MetricsStore, StreamingMetrics}

/** The three realtime workloads: `ingest_live` (in-memory store, no
  * readers), `dashboard_read` (pre-populated in-memory store, readers
  * only) and `live_mixed_resp` (RESP store, ingest and readers at
  * once). All drive the engine through its public entry points:
  * `Loggen` wire messages, `Tables.parseJsonEvents`,
  * `StreamingMetrics.startPipeline`, the store, and `DashboardServer`. */
object Realtime {
  val Branches = Seq("visits_counter", "set_users_minute", "set_users_variant",
    "set_experiments_minute", "hll_users_minute")
  val Endpoints = Seq("visits", "users", "experiments", "variantsOverlap",
    "variantsOverlapApprox")
  private val VerbEndpoint = Map("counter" -> "visits", "hllCount" -> "users",
    "scard" -> "experiments", "overlap" -> "variantsOverlap",
    "overlapApprox" -> "variantsOverlapApprox")
  val LastMinutes = 10

  /** Load shape. `rate` events/s arrive in `sliceMs` slices and are fed
    * every `roundMs`; the backfill chunk is `backfillSec` of history at
    * that rate. */
  final case class Cfg(rate: Int, sliceMs: Int, roundMs: Int, backfillSec: Int, warmEvents: Int,
      historyMinutes: Int, historyRate: Int, readRate: Double, conns: Int)
  def cfg(smoke: Boolean): Cfg =
    if (smoke) Cfg(rate = 500, sliceMs = 100, roundMs = 1000, backfillSec = 10, warmEvents = 200,
      historyMinutes = 12, historyRate = 4, readRate = 20, conns = math.min(Box.nproc, 2))
    else Cfg(rate = 2000, sliceMs = 100, roundMs = 2000, backfillSec = 30, warmEvents = 2000,
      historyMinutes = 30, historyRate = 8, readRate = 40, conns = math.min(Box.nproc, 4))

  /** One pipeline instance over a MemoryStream, fed the way
    * `DashboardMain` feeds it: wire messages parsed on the driver
    * through `Tables.parseJsonEvents`, collected, and added as
    * typed rows. */
  final class Pipeline(spark: SparkSession, sink: KeyValueMetricsSink,
      sketchStore: Option[MetricsStore], log: ProgressLog) {
    import spark.implicits._
    private implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[LogEvent]
    val queries = StreamingMetrics.startPipeline(input.toDS(), sink) ++
      sketchStore.map(m => StreamingMetrics.startVariantSketches(input.toDS(), m,
        "theta_variants")).toSeq
    private val allNames = queries.map(_.name)
    /** Every message handed to `send`, before any deliberate loss. */
    val sent = mutable.ArrayBuffer.empty[String]
    private var offset = -1L

    /** Parse and add one chunk; returns (stream offset, parse ms). */
    def send(msgs: Seq[String], dropOne: Boolean = false): (Long, Double) = {
      sent ++= msgs
      val wire = if (dropOne) msgs.drop(1) else msgs
      val t0 = Rec.nowUs()
      val events = Tables.parseJsonEvents(wire.toDF("value")).collect()
        .map(r => LogEvent(r.getString(0), r.getString(1), r.getString(2),
          java.sql.Timestamp.from(r.getTimestamp(3).toInstant)))
      val t1 = Rec.nowUs()
      input.addData(events.toSeq)
      offset += 1
      (offset, (t1 - t0) / 1000.0)
    }
    /** When every branch (and the sketch query, if any) finished a
      * batch holding `off`. */
    def visibleAt(off: Long, names: Seq[String] = Branches): Option[Double] = {
      val ts = names.map(log.visibleAt(_, off))
      if (ts.forall(_.isDefined)) Some(ts.flatten.max) else None
    }
    /** Every query processes all data added so far (DashboardMain's
      * per-batch step); false if a query failed. */
    def drain(): Boolean =
      try { queries.foreach(_.processAllAvailable()); true }
      catch { case scala.util.control.NonFatal(_) => false }
    /** Drain, then wait until the listener has reported `off` visible. */
    def await(off: Long, timeoutMs: Long, all: Boolean = false): Option[Double] = {
      drain()
      val deadline = System.currentTimeMillis() + timeoutMs
      var v = visibleAt(off, if (all) allNames else Branches)
      while (v.isEmpty && System.currentTimeMillis() < deadline && log.errors.isEmpty) {
        Thread.sleep(2)
        v = visibleAt(off, if (all) allNames else Branches)
      }
      v
    }
    def stop(): Unit = queries.foreach(q => try q.stop() catch { case _: Throwable => })
  }

  final case class Req(id: Long, ep: String, sched: Double, start: Double, end: Double,
      ok: Boolean, status: Int)

  /** Dashboard load over `conns` keep-alive connections. Open loop:
    * page refreshes fall due at t0 + k/pagesPerSec; a refresh fetches
    * the 5 panels back to back on one connection, the way a browser
    * page reuses its connection, starting at a rotating panel so each
    * endpoint takes each position equally often. A panel's latency
    * runs from its page's due time. Closed loop: each connection sends
    * back to back. */
  final class Readers(port: Int, conns: Int, check: (String, String) => Boolean) {
    private val ids = new AtomicLong()
    def path(ep: String) = s"/metrics/timeseries/$ep?lastMinutes=$LastMinutes"

    private def one(c: HttpConn, k: Long, sched: Double): Req = {
      val ep = Endpoints((k % Endpoints.size).toInt)
      val id = ids.getAndIncrement()
      val start = Rec.nowMs()
      val (status, ok) =
        try { val (s, b) = c.get(path(ep)); (s, s == 200 && check(ep, b)) }
        catch { case scala.util.control.NonFatal(_) => (-1, false) }
      val end = Rec.nowMs()
      Rec.span(ep, "serving", (start * 1000).toLong, (end * 1000).toLong, "", s"req-$id")
      Req(id, ep, sched, start, end, ok, status)
    }
    private def run(body: HttpConn => Seq[Req]): Seq[Req] = {
      val out = new ConcurrentLinkedQueue[Req]()
      val ts = (0 until conns).map { _ =>
        val t = new Thread(() => {
          val c = new HttpConn(port)
          try body(c).foreach(out.add) finally c.close()
        })
        t.start(); t
      }
      ts.foreach(_.join())
      out.asScala.toSeq
    }
    /** `rate` panel requests per second, as rate/5 page refreshes. */
    def openLoop(rate: Double, seconds: Double): Seq[Req] = {
      val t0 = Rec.nowMs() + 50
      val pagesPerSec = rate / Endpoints.size
      val n = (pagesPerSec * seconds).toLong
      val next = new AtomicLong()
      run { c =>
        val rs = mutable.ArrayBuffer.empty[Req]
        var k = next.getAndIncrement()
        while (k < n) {
          val sched = t0 + k * 1000.0 / pagesPerSec
          val wait = sched - Rec.nowMs()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          Endpoints.indices.foreach(i => rs += one(c, k + i, sched))
          k = next.getAndIncrement()
        }
        rs.toSeq
      }
    }
    def closedLoop(seconds: Double): Seq[Req] = {
      val end = Rec.nowMs() + seconds * 1000
      val next = new AtomicLong()
      run { c =>
        val rs = mutable.ArrayBuffer.empty[Req]
        while (Rec.nowMs() < end) {
          val k = next.getAndIncrement()
          rs += one(c, k, Rec.nowMs())
        }
        rs.toSeq
      }
    }
  }

  /** Spark's own HLL++ over the sent messages: the expected reading of
    * the in-memory store's approx-distinct keys. */
  def hllTwin(spark: SparkSession, msgs: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    val minute = Windows.minuteKey(col(LogEvent.Ts))
    Tables.parseJsonEvents(msgs.toDF("value"))
      .groupBy(minute.as("m")).agg(approx_count_distinct(col(LogEvent.Uid)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def pregen[T](res: Result, times: Int)(gen: => T): T = {
    val ms = (1 to times).map { _ =>
      val t0 = Rec.nowUs(); val v = gen; (v, (Rec.nowUs() - t0) / 1000.0)
    }
    res.pregenMs ++= ms.map(_._2)
    ms.head._1
  }

  /** Sum of a store's keys and set members (state size). */
  private def stateSize(mem: Option[MetricsStore], resp: Option[graft.RespTestServer]): (Long, Long) =
    (mem, resp) match {
      case (Some(m), _) => ((m.counters.size + m.sets.size + m.hlls.size + m.sketches.size).toLong,
        (m.sets.values.map(_.size.toLong).sum + m.hlls.values.map(_.size.toLong).sum))
      case (_, Some(s)) => ((s.strings.size + s.sets.size + s.hlls.size).toLong,
        (s.sets.values.map(_.size.toLong).sum + s.hlls.values.map(_.size.toLong).sum))
      case _ => (0L, 0L)
    }

  /** Per-request store time: the dashboard serves requests one at a
    * time on its dispatcher thread, so each request's reads form one
    * contiguous block of its endpoint's verb (10 point reads for a
    * 10-minute series, one pairwise read for an overlap panel). Blocks
    * are matched to the earliest unmatched request of that endpoint
    * whose client-side window contains them. */
  def attributeReads(reqs: Seq[Req], reader: TracedReader): (Seq[Double], Double) = {
    val reads = reader.reads.asScala.toSeq.sortBy(_.start)
    val blocks = mutable.ArrayBuffer.empty[(String, Long, Long, Double, Seq[ReadRec])]
    var cur = mutable.ArrayBuffer.empty[ReadRec]
    def size(v: String) = if (v == "overlap" || v == "overlapApprox") 1 else LastMinutes
    def close(): Unit = if (cur.nonEmpty) {
      blocks += ((VerbEndpoint(cur.head.verb), cur.head.start, cur.last.end,
        cur.map(r => (r.end - r.start) / 1000.0).sum, cur.toSeq))
      cur = mutable.ArrayBuffer.empty[ReadRec]
    }
    reads.foreach { r =>
      if (cur.nonEmpty && (cur.head.verb != r.verb || cur.head.thread != r.thread ||
          cur.size >= size(r.verb))) close()
      cur += r
    }
    close()
    val pending = reqs.groupBy(_.ep).map { case (ep, rs) => ep -> mutable.Queue(rs.sortBy(_.start): _*) }
    val self = mutable.ArrayBuffer.empty[Double]
    blocks.foreach { case (ep, s, e, storeMs, rs) =>
      pending.get(ep).foreach { q =>
        q.dequeueFirst(r => r.start * 1000 <= s && r.end * 1000 >= e).foreach { r =>
          self += (r.end - r.start) - storeMs
          rs.foreach(x => Rec.span(x.verb, "store", x.start, x.end, s"req-${r.id}"))
        }
      }
    }
    (self.toSeq, if (reqs.isEmpty) 0.0 else reads.size.toDouble / reqs.size)
  }

  def runIngest(spark: SparkSession, a: Args, res: Result, resp: Boolean): Unit = {
    val c = cfg(a.smoke)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val jobs = new JobLog
    if (a.trace) spark.sparkContext.addSparkListener(jobs)
    val server = if (resp) Some(new graft.RespTestServer) else None
    val redis = server.map(s => new graft.store.RedisMetricsSink("127.0.0.1", s.port))
    val mem = if (resp) None else Some(new MetricsStore)
    val store: KeyValueMetricsSink = redis.getOrElse(mem.get)
    val bareReader: MetricsReader = redis.getOrElse(mem.get)
    val sink = if (a.trace) new TracedSink(store) else store

    // inputs, pre-generated from the seed: event times track the run's
    // wall clock so the dashboard's closed minutes hold live data
    val base = System.currentTimeMillis() / 1000L
    val live = pregen(res, 3)(Loggen.wireMessages((c.rate * a.seconds).toInt, a.seed + 1,
      base, c.rate))
    val backfill = Loggen.wireMessages(c.rate * c.backfillSec, a.seed, base - c.backfillSec, c.rate)
    val warm = Loggen.wireMessages(c.warmEvents, a.seed + 2, base - c.backfillSec - 300, 50)
    val perSlice = c.rate * c.sliceMs / 1000
    val slices = live.grouped(perSlice).toIndexedSeq

    res.mark("pregenerate")
    val p = new Pipeline(spark, sink, mem, log)
    res.mark("pipeline_start")
    val (warmOff, _) = p.send(warm)
    if (p.await(warmOff, 60000, all = true).isEmpty)
      res.fail(1, "warmup chunk never became visible")
    res.mark("warm_chunk")

    val tracedReader = new TracedReader(bareReader)
    val dash = if (resp) Some(new DashboardServer(if (a.trace) tracedReader else bareReader, 0).start())
      else None
    val readers = dash.map(d => new Readers(d.boundPort, c.conns, (ep, body) => {
      // live windows move, so bodies are checked for shape: ten closed
      // minutes per series, six variant pairs per overlap panel (the
      // RESP store keeps no theta sketches: the approx panel is empty)
      ep match {
        case "variantsOverlap" => "\"dimensions\"".r.findAllIn(body).size == 6
        case "variantsOverlapApprox" => body == "[]"
        case _ => "\"timestamp\"".r.findAllIn(body).size == LastMinutes &&
          !body.contains("\"metric\":-")
      }
    }))
    res.firstOp()

    // backfill: one history chunk, until visible in all five branches
    val bf0 = Rec.nowMs()
    jobs.phases = Seq(("backfill", bf0, Double.MaxValue))
    val (bfOff, bfParseMs) = p.send(backfill)
    val bfSent = Rec.nowMs()
    val bfVis = p.await(bfOff, 120000)
    res.mark("backfill")
    Rec.span("backfill_parse", "sources", (bf0 * 1000).toLong, ((bf0 + bfParseMs) * 1000).toLong,
      "", "backfill")
    bfVis match {
      case Some(v) =>
        res.e2e("throughput_per_s", backfill.size / ((v - bf0) / 1000.0), "1/s")
        res.info("backfill_eps") = backfill.size / ((v - bf0) / 1000.0)
      case None => res.fail(1, "backfill chunk never became visible")
    }
    res.attempted += 1

    // live: slices fall due on an open-loop schedule (a generator thread
    // queues each pre-generated slice at its due time); the feed loop is
    // DashboardMain's: every `roundMs` (its 1 s of events plus 1 s of
    // sleep) parse everything due, add it, and let every query process
    // all available data. A round that overruns its tick delays the next.
    val liveStart = Rec.nowMs() + 100
    jobs.phases = Seq(("backfill", bf0, bfVis.getOrElse(liveStart)), ("live", liveStart, Double.MaxValue))
    val due = new java.util.concurrent.LinkedBlockingQueue[(Int, Double, Double)]()
    val gen = new Thread(() => slices.indices.foreach { j =>
      val sched = liveStart + j * c.sliceMs
      val wait = sched - Rec.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      due.put((j, sched, Rec.nowMs() - sched))
    })
    gen.start()
    val reqsQ = new ConcurrentLinkedQueue[Req]()
    val readT = readers.map { r =>
      val t = new Thread(() => r.openLoop(c.readRate, a.seconds).foreach(reqsQ.add))
      t.start(); t
    }
    val fed = mutable.ArrayBuffer.empty[(Int, Long, Double, Double)] // slice, offset, due, late
    val rounds = mutable.ArrayBuffer.empty[(Double, Int)] // parse ms, slices
    var stalled = false
    var tick = liveStart
    while (fed.size < slices.size && !stalled) {
      tick += c.roundMs
      val wait = tick - Rec.nowMs()
      if (wait > 0) Thread.sleep(wait.toLong)
      val batch = new java.util.ArrayList[(Int, Double, Double)]()
      due.drainTo(batch)
      if (batch.isEmpty && tick > liveStart + a.seconds * 1000 + 30000) stalled = true
      else if (!batch.isEmpty) {
        val bs = batch.asScala.toSeq
        val t0 = Rec.nowMs()
        val (off, parseMs) = p.send(bs.flatMap(b => slices(b._1)),
          dropOne = fed.isEmpty && a.corrupt == "drop_event")
        Rec.span("parse", "sources", (t0 * 1000).toLong, ((t0 + parseMs) * 1000).toLong, "",
          s"round-${rounds.size}")
        if (!p.drain()) stalled = true
        bs.foreach(b => fed += ((b._1, off, b._2, b._3)))
        rounds += ((parseMs, bs.size))
      }
    }
    gen.join()
    readT.foreach(_.join())
    val reqs = reqsQ.asScala.toSeq
    p.await(fed.lastOption.map(_._2).getOrElse(0L), 30000)
    val liveEnd = Rec.nowMs()
    res.mark("live")
    val fresh = fed.toSeq.map { case (_, off, sched, _) => p.visibleAt(off).map(_ - sched) }
    val missing = slices.size - fresh.count(_.isDefined)
    if (missing > 0) res.fail(missing, s"$missing live slices never became visible")
    res.attempted += slices.size
    val fr = fresh.flatten
    res.e2e("latency_p50_ms", Stats.median(fr), "ms")
    res.e2e("latency_p90_ms", Stats.pct(fr, 90), "ms")
    res.info("freshness_p50_ms") = Stats.median(fr)
    res.info("freshness_p90_ms") = Stats.pct(fr, 90)
    res.info("freshness_p99_ms") = Stats.pct(fr, 99)
    res.info("freshness_samples") = fr.size
    res.info("live_rounds") = rounds.size
    res.lateMsP99 = Stats.pct(fed.map(_._4), 99)

    // reads under live ingest
    recordReads(res, reqs, Nil, if (a.trace) Some(tracedReader) else None)
    val backlog = rounds.map(_._2)

    dash.foreach(_.stop())
    p.stop()
    // the store and the stream's data are still referenced here
    res.e2e("retained_heap_mb", Main.retainedHeapMb(), "MB")
    log.errors.asScala.foreach(e => res.fail(1, s"streaming query failed: ${e.take(300)}"))

    // correctness gate: the store, read back through MetricsReader,
    // against the batch twin over exactly the events sent
    if (a.corrupt == "tamper_key")
      store.incrBy(s"visitCounter_${new Twin(p.sent.take(1)).visits.keys.head}", 1)
    res.mark("stop")
    val twin = new Twin(p.sent)
    val hll: String => Long =
      if (resp) (m: String) => twin.usersPerMinute(m).size.toLong
      else { val h = hllTwin(spark, p.sent.toSeq); (m: String) => h.getOrElse(m, -1L) }
    val (checks, bad) = twin.check(bareReader, hll)
    res.attempted += checks
    res.fail(bad.size, bad)
    val (keys, members) = stateSize(mem, server)
    val expectedKeys = twin.visits.size * 4 + twin.usersPerVariant.size +
      (if (resp) 0 else twin.usersPerVariant.size) // theta sketches
    val ledgerKeys = server.map(_.strings.keys.count(_.startsWith("graft_batch_ledger:"))).getOrElse(0)
    res.attempted += 1
    if (keys - ledgerKeys != expectedKeys)
      res.fail(1, s"store holds ${keys - ledgerKeys} metric keys, expected $expectedKeys")
    res.info("events_sent") = twin.events
    res.mark("gate")

    if (a.trace) {
      val batches = log.batches.asScala.toSeq
      batches.foreach(b => Rec.span(b.query, "streaming", (b.startMs * 1000).toLong,
        (b.endMs * 1000).toLong, "", s"${b.query}#${b.batchId}"))
      val liveB = batches.filter(b => b.rows > 0 && b.startMs >= liveStart && b.startMs <= liveEnd)
      Branches.foreach { q =>
        val bs = liveB.filter(_.query == q)
        def d(k: String*) = bs.map(b => k.map(b.durations.getOrElse(_, 0L)).sum.toDouble)
        res.layer(s"streaming.$q.trigger_ms_p50", Stats.median(d("triggerExecution")), "ms")
        res.layer(s"streaming.$q.trigger_ms_p99", Stats.pct(d("triggerExecution"), 99), "ms")
        res.layer(s"streaming.$q.add_batch_ms_p50", Stats.median(d("addBatch")), "ms")
        res.layer(s"streaming.$q.commit_ms_p50", Stats.median(d("walCommit", "commitOffsets")), "ms")
      }
      val liveBranch = liveB.filter(b => Branches.contains(b.query))
      Thread.sleep(500) // let the listener bus deliver the last task ends
      def jobAcc(t: String) = jobs.acc.get(t)
      res.layer("streaming.batches", liveBranch.size.toDouble, "count")
      res.layer("streaming.rows_per_batch_p50", Stats.median(liveBranch.map(_.rows.toDouble)), "count")
      res.layer("streaming.jobs_per_batch",
        jobAcc("streaming:live").map(_.jobs.toDouble).getOrElse(0.0) / math.max(1, liveB.size), "count")
      res.layer("streaming.backlog_slices_max", backlog.maxOption.getOrElse(0).toDouble, "count")
      val bfKev = backfill.size / 1000.0
      res.layer("streaming.task_ms_per_kev",
        jobAcc("streaming:backfill").map(_.taskMs.toDouble).getOrElse(0.0) / bfKev, "ms/kev")
      res.layer("streaming.shuffle_bytes_per_event",
        jobAcc("streaming:backfill").map(_.shuffleBytes.toDouble).getOrElse(0.0) / backfill.size, "B/event")
      res.layer("streaming.backfill_s", bfVis.map(v => (v - bfSent) / 1000.0).getOrElse(0.0), "s")
      res.layer("sources.parse_ms_p50", Stats.median(rounds.map(_._1)), "ms")
      res.layer("sources.parse_ms_p99", Stats.pct(rounds.map(_._1), 99), "ms")
      res.layer("sources.backfill_parse_s", bfParseMs / 1000.0, "s")
      res.layer("loggen.late_ms_p99", res.lateMsP99, "ms")
      val w = Rec.samplesOf("store.write_ms")
      res.layer("store.write_ms_p50", Stats.median(w), "ms")
      res.layer("store.write_ms_p99", Stats.pct(w, 99), "ms")
      res.layer("store.partition_write_ms_p50", Stats.median(Rec.samplesOf("store.partition_write_ms")), "ms")
      res.layer("store.cmds_per_kev", Rec.counter("store.cmds") / (twin.events / 1000.0), "count/kev")
      res.layer("store.connections", (Rec.counter("store.connections") + (if (resp) 1 else 0)).toDouble,
        "count")
      res.layer("store.keys", keys.toDouble, "count")
      res.layer("store.set_members", members.toDouble, "count")
    }
    redis.foreach(_.close())
    server.foreach(_.close())
  }

  /** Client-side read metrics shared by the two workloads with readers. */
  private def recordReads(res: Result, open: Seq[Req], closed: Seq[Req],
      traced: Option[TracedReader]): Unit = {
    val all = open ++ closed
    if (all.nonEmpty) {
      res.attempted += all.size
      val badReqs = all.filter(!_.ok)
      if (badReqs.nonEmpty)
        res.fail(badReqs.size, s"${badReqs.size} dashboard requests failed or returned a wrong body " +
          s"(first: ${badReqs.head.ep} status ${badReqs.head.status})")
      val lat = open.map(r => r.end - r.sched)
      res.info("read_p50_ms") = Stats.median(lat)
      res.info("read_p90_ms") = Stats.pct(lat, 90)
      res.info("read_p99_ms") = Stats.pct(lat, 99)
      res.info("read_open_loop_samples") = lat.size
      res.info("read_requests") = all.size
    }
    traced.foreach { tr =>
      Endpoints.foreach { ep =>
        // service time on the connection, not time since the page was due
        val l = open.filter(_.ep == ep).map(r => r.end - r.start)
        res.layer(s"serving.$ep.p50_ms", Stats.median(l), "ms")
        res.layer(s"serving.$ep.p99_ms", Stats.pct(l, 99), "ms")
      }
      val (self, perReq) = attributeReads(all, tr)
      res.layer("serving.self_ms_p50", Stats.median(self), "ms")
      res.layer("serving.non_200", all.count(_.status != 200).toDouble, "count")
      res.layer("store.reads_per_request", perReq, "count")
      Seq("counter", "scard", "hllCount", "overlap", "overlapApprox").foreach { v =>
        val s = Rec.samplesOf(s"store.read_${v}_ms")
        res.layer(s"store.read_${v}_ms_p50", Stats.median(s), "ms")
        res.layer(s"store.read_${v}_ms_p99", Stats.pct(s, 99), "ms")
      }
    }
  }

  def runDashboard(spark: SparkSession, a: Args, res: Result): Unit = {
    val c = cfg(a.smoke)
    val log = new ProgressLog
    spark.streams.addListener(log)
    val mem = new MetricsStore
    // history: `historyMinutes` simulated minutes ending on a minute
    // boundary, at a rate that keeps each variant's theta sketch in
    // exact mode (< 4096 members), so every panel has one right body
    val base = (System.currentTimeMillis() / 1000L / 60L) * 60L
    val history = pregen(res, 3)(Loggen.wireMessages(c.historyMinutes * 60 * c.historyRate,
      a.seed, base - c.historyMinutes * 60L, c.historyRate))
    res.mark("pregenerate")
    val p = new Pipeline(spark, if (a.trace) new TracedSink(mem) else mem, Some(mem), log)
    val (off, _) = p.send(history)
    if (p.await(off, 120000, all = true).isEmpty) res.fail(1, "history never became visible")
    p.stop()
    res.mark("populate")
    log.errors.asScala.foreach(e => res.fail(1, s"streaming query failed: ${e.take(300)}"))
    if (a.corrupt == "tamper_key")
      mem.incrBy(s"visitCounter_${new Twin(history.takeRight(1)).visits.keys.head}", 1)

    // expected bodies, fixed by the pinned clock
    val now = LocalDateTime.ofEpochSecond(base + 30, 0, ZoneOffset.UTC)
    val twin = new Twin(history)
    val hll = hllTwin(spark, history)
    res.mark("expected_bodies")
    val ms = Bodies.minutes(now, LastMinutes)
    val expected = Map(
      "visits" -> Bodies.series(ms, m => twin.visits.getOrElse(m, 0L)),
      "users" -> Bodies.series(ms, m => hll.getOrElse(m, 0L)),
      "experiments" -> Bodies.series(ms, m => twin.expsPerMinute.get(m).map(_.size.toLong).getOrElse(0L)),
      "variantsOverlap" -> Bodies.pairs(twin.overlaps),
      "variantsOverlapApprox" -> Bodies.pairs(twin.overlaps))
    val tracedReader = new TracedReader(mem)
    val dash = new DashboardServer(if (a.trace) tracedReader else mem, 0, () => now).start()
    val readers = new Readers(dash.boundPort, c.conns, (ep, body) => body == expected(ep))
    // warm the serving path (not measured, not checked twice)
    val warm = new HttpConn(dash.boundPort)
    try Endpoints.foreach(ep => (1 to 3).foreach(_ => warm.get(readers.path(ep)))) finally warm.close()
    tracedReader.reads.clear()
    Rec.clearSamples("store.read_")
    res.firstOp()

    val open = readers.openLoop(c.readRate, a.seconds * 0.7)
    val t0 = Rec.nowMs()
    val closed = readers.closedLoop(a.seconds * 0.3)
    val closedS = (Rec.nowMs() - t0) / 1000.0
    res.mark("reads")
    res.e2e("retained_heap_mb", Main.retainedHeapMb(), "MB")
    dash.stop()
    val lat = open.map(r => r.end - r.sched)
    res.e2e("latency_p50_ms", Stats.median(lat), "ms")
    res.e2e("latency_p90_ms", Stats.pct(lat, 90), "ms")
    res.e2e("throughput_per_s", closed.count(_.ok) / closedS, "1/s")
    res.info("read_rps") = closed.count(_.ok) / closedS
    recordReads(res, open, closed, if (a.trace) Some(tracedReader) else None)
    if (a.trace) {
      val (keys, members) = stateSize(Some(mem), None)
      res.layer("store.keys", keys.toDouble, "count")
      res.layer("store.set_members", members.toDouble, "count")
    }
    res.lateMsP99 = 0.0
  }
}
