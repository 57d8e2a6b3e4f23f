package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `catalog_batch`: one warm pass over eight `SparkEntry.queries`
  * faces. Each face is built (the call into the catalog, which runs
  * any eager checkpoints) and executed (collected) under its own
  * `perfbench.tag`, so the job listener can split jobs, task time and
  * shuffle per face. Results are dumped to parquet after the timed
  * region for the DuckDB oracle check, together with their oracle SQL. */
object Catalog {
  val Faces = Seq("asof_purchase_after_click", "cuped_lift",
    "dedup_minhash_lsh", "parse_events_json", "top_parts_per_brand",
    "users_per_experiment_variant_minute", "variant_overlap", "visits_incremental")

  def run(spark: SparkSession, a: Args, res: Result): Unit = {
    val jobs = new JobLog
    spark.sparkContext.addSparkListener(jobs)
    // Bench-style untimed warmup: first-use class loading, then one
    // decoding scan of every input table
    spark.range(2).selectExpr(
      "from_json(to_json(named_struct('uid', CAST(id AS STRING))), 'uid STRING').uid AS u")
      .groupBy("u").count().count()
    Option(new java.io.File(a.data).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .foreach { f =>
        // as in graft.Bench, a table a bare reader rejects (the events
        // table's nanosecond timestamps) is left cold
        try spark.read.parquet(f.getPath).selectExpr("bit_xor(xxhash64(struct(*))) AS h").count()
        catch { case scala.util.control.NonFatal(_) => }
      }
    spark.catalog.clearCache()
    res.mark("warmup")
    res.firstOp()

    val sc = spark.sparkContext
    val times = Faces.map { q =>
      sc.setLocalProperty("perfbench.tag", q)
      val t0 = Rec.nowUs()
      val out = try {
        val df = SparkEntry.queries(q)(spark, a.data)
        val t1 = Rec.nowUs()
        val rows = df.collect()
        val t2 = Rec.nowUs()
        Some((df.schema, rows, (t1 - t0) / 1e6, (t2 - t1) / 1e6, t1))
      } catch {
        case scala.util.control.NonFatal(e) =>
          res.fail(1, s"$q: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
          None
      }
      sc.setLocalProperty("perfbench.tag", null)
      res.attempted += 1
      // outside the timed region: release cached inputs, dump the result
      spark.catalog.clearCache()
      out.map { case (schema, rows0, build, exec, t1) =>
        Rec.span("build", "operators", t0, t1, "", s"$q.build")
        Rec.span("exec", "operators", t1, (t1 + exec * 1e6).toLong, "", s"$q.exec")
        val rows = if (a.corrupt == "tamper_key" && q == "top_parts_per_brand") rows0.drop(1) else rows0
        spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1).write.mode("overwrite")
          .parquet(s"${a.dump}/$q")
        res.info(s"rows.$q") = rows.length
        q -> (build, exec)
      }
    }.flatten.toMap
    res.mark("pass")
    val total = times.values.map { case (b, e) => b + e }
    res.info("catalog_s") = total.sum
    res.e2e("latency_p50_ms", Stats.median(total) * 1000, "ms")
    res.e2e("latency_p90_ms", Stats.pct(total, 90) * 1000, "ms")
    res.e2e("throughput_per_s", times.size / total.sum, "1/s")
    res.e2e("retained_heap_mb", Main.retainedHeapMb(), "MB")

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => Faces.contains(k) }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${a.dump}/oracle_sql.json"),
      Json.render(oracle))

    if (a.trace) {
      Thread.sleep(500) // let the listener bus deliver the last task ends
      Faces.foreach { q =>
        val (b, e) = times.getOrElse(q, (0.0, 0.0))
        val acc = jobs.acc.get(q)
        res.layer(s"operators.$q.build_s", b, "s")
        res.layer(s"operators.$q.exec_s", e, "s")
        res.layer(s"operators.$q.jobs", acc.map(_.jobs.toDouble).getOrElse(0.0), "count")
        res.layer(s"operators.$q.task_s", acc.map(_.taskMs / 1000.0).getOrElse(0.0), "s")
        res.layer(s"operators.$q.shuffle_mb", acc.map(_.shuffleBytes / 1e6).getOrElse(0.0), "MB")
      }
      val faceAcc = jobs.acc.filter { case (k, _) => Faces.contains(k) }.values
      res.layer("operators.gc_s", faceAcc.map(_.gcMs).sum / 1000.0, "s")
      res.layer("operators.spill_mb", faceAcc.map(_.spillBytes).sum / 1e6, "MB")
    }
  }
}
