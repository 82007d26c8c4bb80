package graftbench

/** Per-layer metrics of the traced run, read off the spans and the jobs
  * the listener attributed to them. */
object LayerMetrics {

  def put(run: Run, rep: TraceReport, search: Search, rounds: Seq[Workloads.Round]): Unit = {
    val spans = rep.allSpans
    def named(n: String) = spans.filter(_.name == n)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val cores = run.conf.cores

    // build: every traced bulk build (the set-up repetitions)
    val builds = named("IndexBuilder.build").map(s => (s, rep.counts(s.id)))
    run.put("build.jobs", med(builds.map(_._2._1.toDouble)), "count")
    run.put("build.tasks", med(builds.map(_._2._2.tasks.toDouble)), "count")
    run.put("build.executor_cpu_s", med(builds.map(_._2._2.cpuNs / 1e9)), "s")
    run.put("build.gc_s", med(builds.map(_._2._2.gcMs / 1e3)), "s")
    run.put("build.shuffle_write_mb", med(builds.map(_._2._2.shuffleWriteBytes / 1e6)), "MB")
    run.put("build.output_mb", med(builds.map(_._2._2.outputBytes / 1e6)), "MB")
    run.put("build.driver_only_s", med(builds.map(b => rep.driverOnlyMs(b._1.id) / 1e3)), "s")
    run.put("build.core_busy_share",
      med(builds.map { case (s, (_, c)) => c.taskMs / (s.ms * cores) }), "ratio")

    // search: opens, and the timed single queries split into three steps
    run.put("search.open_ms", med(named("Searcher.open").map(_.ms)), "ms")
    val singleIds = search.singles.map(_.spanId).toSeq
    def childMs(step: String) = singleIds.flatMap(id => spans.find(s => s.parent == id && s.name == step)).map(_.ms)
    run.put("search.construct_ms", med(childMs("construct")), "ms")
    run.put("search.plan_ms", med(childMs("plan")), "ms")
    run.put("search.execute_ms", med(childMs("execute")), "ms")
    val perQ = singleIds.map(rep.counts)
    run.put("search.jobs_per_query", mean(perQ.map(_._1.toDouble)), "count")
    run.put("search.tasks_per_query", mean(perQ.map(_._2.tasks.toDouble)), "count")
    run.put("search.input_kb_per_query", mean(perQ.map(_._2.inputBytes / 1e3)), "kB")
    run.put("search.task_ms_per_query", mean(perQ.map(_._2.taskMs.toDouble)), "ms")
    run.put("search.driver_ms_per_query", mean(singleIds.map(rep.driverOnlyMs)), "ms")
    run.put("search.shuffle_kb_per_query", mean(perQ.map(_._2.shuffleWriteBytes / 1e3)), "kB")
    run.put("search.colocated_share",
      mean(search.singles.map(s => if (s.h.segColocated) 1.0 else 0.0).toSeq), "ratio")
    // per class, from the untraced members of the replayed pairs
    Queries.Classes.foreach { c =>
      run.put(s"search.class_p50_ms.$c",
        med(search.singlePairs.filter(_.cls == c).map(_.untraced * 1000).toSeq), "ms")
    }

    // ingest: every round's writes (the lexicon share is read from the
    // engine's own IngestMetrics, so it covers untraced rounds too)
    run.put("streaming.append_s", med(named("StreamingIngest.append").map(_.ms / 1e3)), "s")
    run.put("streaming.lexicon_s", med(rounds.map(_.lexiconSec)), "s")
    val merges = named("Merger.mergeSmall")
    run.put("merge.merge_small_s", med(merges.map(_.ms / 1e3)), "s")
    run.put("merge.rewritten_mb", mean(merges.map(s => rep.counts(s.id)._2.outputBytes / 1e6)), "MB")
    run.put("deletes.add_ms", med(named("Deletes.add").map(_.ms)), "ms")
    val written = (named("StreamingIngest.append") ++ merges).map(s => rep.counts(s.id)._2.outputBytes).sum
    val tracedContent = rounds.filter(_.traced).map(_.contentBytes).sum
    run.put("ingest.write_amp", if (tracedContent == 0) 0.0 else written.toDouble / tracedContent, "ratio")

    // counted by the ingest workload itself
    Seq("ingest.live_segments_max", "ingest.lexicon_deltas_max")
      .filterNot(run.metrics.contains).foreach(run.put(_, 0.0, "count"))

    // self time per layer, as a share of all traced self time
    val self = rep.selfByLayer
    val total = self.values.sum
    Main.SelfLayers.foreach(l => run.put(s"self_share.$l", self.getOrElse(l, 0.0) / total, "ratio"))
    run.notes += "self time per layer (ms): " +
      self.toSeq.sortBy(-_._2).map { case (l, v) => f"$l=$v%.0f" }.mkString(" ")
  }
}
