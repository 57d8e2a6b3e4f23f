package perfbench

import scala.collection.mutable

/** Command line of one benchmark run (see perfbench/run.py, which
  * builds the classpath and supplies the paths). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    out: String, data: String, dump: String, corrupt: String, smoke: Boolean, t0Ms: Double,
    pregenMs: Seq[Double])

/** What one run measured and checked. */
final class Result {
  val e2eM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerM = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  val pregenMs = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var firstOpMs = 0.0
  var lateMsP99 = 0.0

  def e2e(name: String, v: Double, unit: String): Unit = e2eM(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerM(name) = (v, unit)
  def fail(n: Long, why: String): Unit = if (n > 0) {
    failed += n
    if (failures.size < 20) failures += why
    System.err.println(s"PERFBENCH-FAIL $why")
  }
  def fail(n: Long, whys: Seq[String]): Unit = if (n > 0) {
    failed += n
    whys.take(20 - failures.size).foreach(failures += _)
    whys.take(5).foreach(w => System.err.println(s"PERFBENCH-FAIL $w"))
  }
  var t0Ms = 0.0
  /** Seconds since set-up began at which each phase ended. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def mark(phase: String): Unit = phases(phase) = (Rec.nowMs() - t0Ms) / 1000.0
  /** Marks the end of set-up: the first measured operation starts now. */
  def firstOp(): Unit = { firstOpMs = Rec.nowMs(); mark("setup") }
}

object Main {
  val Workloads = Seq("ingest_live", "dashboard_read", "live_mixed_resp", "catalog_batch")

  /** Used heap after a forced full collection: the retained state. The
    * least of three readings, since Spark's background threads allocate
    * between a collection and the reading. */
  def retainedHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ => System.gc(); Thread.sleep(50); mx.getHeapMemoryUsage.getUsed / 1e6 }.min
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (known: ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("out"),
      m.getOrElse("data", ""), m.getOrElse("dump", ""), m.getOrElse("corrupt", "none"),
      m.get("smoke").contains("1"),
      m.get("t0-ms").map(_.toDouble).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble),
      m.get("pregen-ms").toSeq.flatMap(_.split(',')).map(_.toDouble))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Rec.tracing = a.trace
    val loadStart = Box.loadavg()
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Box.nproc.toString)
    val spark = graft.EngineSession.local(cpus)
    val res = new Result
    res.t0Ms = a.t0Ms
    res.mark("session")
    res.pregenMs ++= a.pregenMs
    a.workload match {
      case "ingest_live" => Realtime.runIngest(spark, a, res, resp = false)
      case "live_mixed_resp" => Realtime.runIngest(spark, a, res, resp = true)
      case "dashboard_read" => Realtime.runDashboard(spark, a, res)
      case "catalog_batch" => Catalog.run(spark, a, res)
    }
    res.mark("end")
    val loadEnd = Box.loadavg()
    val extraPregen = res.pregenMs.sum - Stats.median(res.pregenMs)
    res.e2e("setup_s", (res.firstOpMs - a.t0Ms - extraPregen) / 1000.0, "s")

    val flags = mutable.ArrayBuffer.empty[String]
    if (res.lateMsP99 > Realtime.cfg(a.smoke).sliceMs / 2.0) flags += "generator_fell_behind"
    if (loadStart.exists(_.head > Box.nproc)) flags += "started_under_cotenant_load"
    flags.foreach(f => System.err.println(s"PERFBENCH-FLAG $f"))

    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val artifact = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "smoke" -> a.smoke, "corrupt" -> a.corrupt,
      "attempted" -> math.max(1L, res.attempted), "failed" -> res.failed,
      "failures" -> res.failures,
      "e2e" -> metrics(res.e2eM), "per_layer" -> metrics(res.layerM), "info" -> res.info, "phases_s" -> res.phases,
      "env" -> Map(
        "nproc" -> Box.nproc, "spark_graft_cpus" -> sys.env.get("SPARK_GRAFT_CPUS"),
        "seed" -> a.seed, "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
        "generator_late_ms_p99" -> res.lateMsP99, "flags" -> flags,
        "java" -> System.getProperty("java.version")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out), Json.render(artifact))
    if (a.trace) {
      val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(a.out + ".spans.jsonl"))
      try Rec.spans.forEach { s =>
        w.write(Json.render(mutable.LinkedHashMap("name" -> s.name, "layer" -> s.layer,
          "start_us" -> s.start, "end_us" -> s.end, "parent" -> s.parent, "id" -> s.id)))
        w.write('\n')
      } finally w.close()
    }
    spark.stop()
  }
}
