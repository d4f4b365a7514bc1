package perfbench

import perfbench.Workloads.{ChangeRows, Ctx, median}

/** Per-layer metrics from the spans of a traced run. Two kinds of span
  * feed them:
  *
  *  - layer time comes from the traced timed ops (`op` roots, see
  *    [[Layers]]), which call each layer in its own span, and from the
  *    index build (`facade.create`);
  *  - Spark work (jobs, stages, tasks, executor CPU and GC, spill,
  *    driver gap, files and bytes written) comes from the facade timed
  *    ops (`facade.op`: one root span around the untraced facade call),
  *    so it counts the program's own jobs, not those of the traced
  *    re-composition. Search and kernel counts come the same way from
  *    the facade `Index.search` batch calls (`facade.search*`).
  *
  * Of the timed ops, only those started after the warm-up count. A layer
  * the workload does not run reports 0 (the list is in
  * perfbench/README.md). */
object LayerMetrics {

  def fill(c: Ctx): Unit = {
    val t = c.trace
    val info = c.info
    val ingest = c.args.workload == "ingest_sync"
    def inLoop(ss: Seq[Span]) = ss.filter(_.startNs >= c.loopStartNs)
    val ops = inLoop(t.named("op"))
    val facadeOps = inLoop(t.named("facade.op"))
    def descendants(s: Span): Seq[Span] = s.children.toSeq.flatMap(ch => ch +: descendants(ch))
    val inOps = ops.flatMap(descendants)
    def opSpans(name: String) = inOps.filter(_.name == name)
    val creates = t.named("facade.create")
    def createSpans(name: String) = creates.flatMap(_.children).filter(_.name == name)

    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def meanS(ss: Seq[Span]) = mean(ss.map(_.seconds))
    def perSpan(ss: Seq[Span], f: Counts => Double) = mean(ss.map(s => f(s.inclusive)))
    def sum(ss: Seq[Span], f: Counts => Double) = ss.map(s => f(s.inclusive)).sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val m = c.report.layer
    def put(name: String, v: Double, unit: String) = m(name) = (v, unit)

    // the delta embedding of each sync on ingest_sync, the corpus
    // embedding of the build on rag_serve
    val (transforms, rowsPerTransform) =
      if (ingest) (opSpans("embed.transform"), ChangeRows.toLong)
      else (createSpans("embed.transform"), info.corpusRows)
    put("embed.fit_s", meanS(createSpans("embed.fit")), "s")
    put("embed.transform_s", meanS(transforms), "s")
    put("embed.rows_per_s", ratio(rowsPerTransform * transforms.size, transforms.map(_.seconds).sum), "rows/s")
    put("embed.query_s", meanS(opSpans("embed.query")), "s")

    val syncs = if (ingest) facadeOps else Nil
    put("index.build_s", mean(creates.map(_.children
      .filter(s => s.name == "index.rebuild" || s.name == "index.build").map(_.seconds).sum)), "s")
    put("index.sync_exact_s", meanS(opSpans("index.sync_exact")), "s")
    put("index.sync_layout_s", meanS(opSpans("index.sync_layout")), "s")
    put("index.optimize_s", meanS(opSpans("index.optimize")), "s")
    put("index.jobs_per_sync", perSpan(syncs, _.jobs.toDouble), "count")
    put("index.files_written_per_sync", perSpan(syncs, _.filesCreated.toDouble), "count")
    put("index.bytes_written_per_changed_row",
      ratio(sum(syncs, _.fsBytesWritten.toDouble), ChangeRows.toDouble * syncs.size), "B/row")
    put("index.max_files_per_dir",
      info.layoutPaths.map(p => Workloads.maxFilesPerDir(c, p)).foldLeft(0L)(math.max).toDouble, "count")

    val calls = t.named("facade.search")
    val allCalls = calls ++ t.named("facade.search.exact")
    val searchCpu = sum(allCalls, _.cpuNs / 1e9)
    put("search.s", meanS(opSpans("search")), "s")
    put("search.jobs_per_call", perSpan(calls, _.jobs.toDouble), "count")
    put("search.tasks_per_call", perSpan(calls, _.tasks.toDouble), "count")
    put("search.files_read_per_call", perSpan(calls, _.filesOpened.toDouble), "count")
    put("search.rows_scanned_per_result",
      ratio(sum(calls, _.inputRecords.toDouble), info.recallQueries.toDouble * Workloads.K), "rows")
    put("search.shuffle_bytes_per_call", perSpan(calls, k => (k.shuffleWrite + k.shuffleRead).toDouble), "B")
    put("kernel.distance_evals_per_cpu_s", ratio(info.distanceEvals, searchCpu), "1/s")
    put("kernel.cpu_s_per_query", ratio(searchCpu, info.searchQueries), "s")

    put("rag.context_s", meanS(opSpans("rag")), "s")
    put("rag.jobs_per_request", if (ingest) 0.0 else perSpan(facadeOps, _.jobs.toDouble), "count")

    put("facade.self_s", mean(inOps.filter(_.name.startsWith("facade.")).map(_.selfSeconds)), "s")

    put("spark.jobs", perSpan(facadeOps, _.jobs.toDouble), "count")
    put("spark.stages", perSpan(facadeOps, _.stages.toDouble), "count")
    put("spark.tasks", perSpan(facadeOps, _.tasks.toDouble), "count")
    put("spark.executor_cpu_s", perSpan(facadeOps, _.cpuNs / 1e9), "s")
    put("spark.gc_s", perSpan(facadeOps, _.gcNs / 1e9), "s")
    put("spark.spill_bytes", perSpan(facadeOps, _.spill.toDouble), "B")
    put("spark.driver_gap_s", mean(facadeOps.map(_.driverGapSeconds)), "s")
    put("jvm.heap_after_gc_peak_mb", HeapWatch.peakAfterGcBytes / 1048576.0, "MB")

    put("setup.session_s", c.sessionS, "s")
    put("setup.generate_s", c.generateS, "s")
    put("setup.build_s", c.buildS, "s")
    put("trace.op_p50_s", median(c.traced.toSeq), "s")
    put("trace.overhead_frac", ratio(median(c.traced.toSeq), median(c.untraced.toSeq)) - 1.0, "fraction")
    c.report.summary += f"${c.args.workload} traced: ops=${c.traced.size} p50=${median(c.traced.toSeq)}%.4fs" +
      f" untraced ops=${c.untraced.size} p50=${median(c.untraced.toSeq)}%.4fs" +
      f" overhead=${ratio(median(c.traced.toSeq), median(c.untraced.toSeq)) - 1.0}%.3f"
  }
}
