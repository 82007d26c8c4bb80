package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Seeded end-to-end benchmark of graft's index and search layers.
  *
  *   graftbench.Main --workload serve|ingest --seed N --seconds S --trace 0|1
  *                   --out DIR --work DIR --metrics name=unit,...
  *
  * Prints a table of every metric by name and unit, then, as the last line
  * of stdout, one JSON object: correct / attempted / failed / metrics. The
  * metrics are those named by `--metrics` (the end-to-end metrics of
  * BENCHMARK.json untraced, the per-layer ones traced); each must have been
  * measured, with the unit given there, or the run fails. */
object Main {

  val SelfLayers: Seq[String] = Seq("client", "build", "search", "plan", "execute",
    "spark", "streaming", "deletes", "merge", "analysis", "codec", "kernel")

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    require(Set("serve", "ingest")(workload), s"unknown workload '$workload' (serve | ingest)")
    val cores = Runtime.getRuntime.availableProcessors()
    val conf = Conf(workload, kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      kv("out"), kv("work"), cores)
    val wanted: Seq[(String, String)] = kv("metrics").split(",").toSeq.map { nu =>
      val Array(n, u) = nu.split("=", 2); n -> u
    }
    Files.createDirectories(Paths.get(conf.out))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = if (conf.trace) Some(new JobListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    val tracer = new Tracer
    val run = new Run(conf, spark, tracer)
    val t0 = System.nanoTime()
    val (search, rounds) = workload match {
      case "serve"  => (Workloads.serve(run), Seq.empty[Workloads.Round])
      case "ingest" => Workloads.ingest(run)
    }
    loopMetrics(run, search, rounds)
    run.put("peak_rss_mb", run.peakRssMb, "MB")

    if (conf.trace) {
      tracer.active = true
      val layers = Layers.run(conf.seed, 2000, tracer)
      layers.mismatches.foreach(run.mismatch)
      layers.metrics.foreach { case (n, v, u) => run.put(n, v, u) }
      listener.foreach(_.drain())
      val report = new TraceReport(tracer.spans.toSeq, listener.map(_.all).getOrElse(Nil))
      LayerMetrics.put(run, report, search, rounds)
      report.dumpJsonl(Paths.get(conf.out, "spans.jsonl"))
    }
    spark.stop()
    val wallSec = (System.nanoTime() - t0) / 1e9

    // ---- report ----
    val table = new StringBuilder
    table ++= s"graftbench workload=$workload seed=${conf.seed} seconds=${conf.seconds} " +
      s"trace=${if (conf.trace) 1 else 0} cores=$cores wall=${"%.1f".format(wallSec)}s\n"
    run.notes.foreach(n => table ++= s"  # $n\n")
    run.metrics.foreach { case (n, (v, u)) => table ++= f"  $n%-36s ${Json.num(v)}%-24s $u\n" }
    table ++= s"  error_rate ${run.failed}/${run.attempted} = " +
      s"${Json.num(run.failed.toDouble / math.max(1L, run.attempted))}\n"
    table ++= s"  correctness: ${if (run.mismatches.isEmpty) "pass" else s"FAIL (${run.mismatches.size} mismatches)"}\n"
    print(table)
    Files.write(Paths.get(conf.out, "table.txt"), table.toString.getBytes("UTF-8"))
    Files.write(Paths.get(conf.out, "all_metrics.json"), run.metrics.map { case (n, (v, u)) =>
      s"""  ${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))

    val ms = wanted.map { case (n, want) =>
      val (v, u) = run.metrics.getOrElse(n, sys.error(s"metric $n was not measured"))
      require(u == want, s"metric $n is measured in $u, BENCHMARK.json says $want")
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${run.mismatches.isEmpty}, "attempted": ${run.attempted}, """ +
      s""""failed": ${run.failed}, "metrics": $ms}""")
  }

  /** the timed loop's read-side metrics, and in the traced run the
    * tracing overhead from the replayed pairs */
  private def loopMetrics(run: Run, search: Search, rounds: Seq[Workloads.Round]): Unit = {
    def qps(bs: Seq[(Int, Double)]) =
      bs.filter(!_._2.isInfinite).map(_._1).sum / bs.map(b => if (b._2.isInfinite) 0.0 else b._2).sum
    val singles = search.singles.map(_.sec * 1000).toSeq
    run.put("query_p50_ms", Stats.median(singles), "ms")
    run.put("batch_qps", qps(search.batches.map(b => (b.texts.size, b.sec)).toSeq), "1/s")
    run.put("query_count", singles.size, "count")
    run.put("query_p95_ms", Stats.pct(singles, 0.95), "ms")
    run.put("query_beyond_p95", Stats.beyond(singles, 0.95), "count")
    Stats.tail(singles).foreach { case (p, v) =>
      run.notes += f"highest percentile with >= 10 samples beyond it: p${p * 100}%.0f = $v%.1f ms"
    }
    run.put("batch_count", search.batches.size, "count")
    run.put("distinct_query_share", search.seen.distinct.size.toDouble / math.max(1, search.seen.size), "ratio")
    if (rounds.nonEmpty) {
      run.put("visible_count", rounds.size, "count")
      run.put("ingest_query_p50_ms", run.metrics("query_p50_ms")._1, "ms")
      run.put("ingest_docs_per_s", run.metrics("write_docs_per_s")._1, "docs/s")
    }
    if (run.conf.trace) {
      val sp = search.singlePairs.toSeq
      val bp = search.batchPairs.toSeq
      val n = Queries.BatchClasses.size
      run.put("trace.overhead.query_p50_ms", Stats.median(sp.map(p => (p.traced - p.untraced) * 1000)), "ms")
      run.put("trace.overhead.batch_qps",
        qps(bp.map(p => (n, p.traced))) - qps(bp.map(p => (n, p.untraced))), "1/s")
      run.notes += s"tracing overhead from ${sp.size} single and ${bp.size} batch pairs " +
        "(each call replayed untraced and traced)"
    }
  }
}
