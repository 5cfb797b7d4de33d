package perfbench

import perfbench.Harness.Pass

/** Turns the traced passes into per-layer metrics, each a mean per
  * traced pass unless its name says otherwise.
  */
object Layers {
  private val MiB = 1048576.0
  private val modules: Seq[String] = Harness.querySlice.map(_._1)

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Total length of the union of `intervals`, clipped to [lo, hi]. */
  private def unionMs(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, cb.max(b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Duration and self time (duration minus the children's) per span
    * kind, in ms, summed over all spans.
    */
  def selfTimes(spans: Seq[Span]): Obj = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    Obj(spans.groupBy(_.kind).toSeq.sortBy(_._1).map { case (kind, ss) =>
      kind -> Obj("count" -> ss.size, "total_ms" -> ss.map(_.ms).sum,
        "self_ms" -> ss.map(s => (s.ms - childMs.getOrElse(s.id, 0.0)).max(0.0)).sum)
    }: _*)
  }

  def report(tracer: Tracer, traced: Seq[Pass], untraced: Seq[Pass], cpus: Int,
      tables: (Double, Double), etlBytes: (Long, Long)): Obj = {
    val n = traced.size.toDouble
    def d(k: String): Double = traced.map(_.layers.getOrElse(k, 0.0)).sum / n
    val spans = tracer.allSpans
    val jobs = spans.filter(_.kind == "job")

    val unions = traced.map { p =>
      unionMs(jobs.map(j => (j.start, j.end)), p.layers("start_ms"), p.layers("end_ms")) / 1000
    }
    val driverS = traced.zip(unions).map { case (p, u) => p.wallS - u }.sum / n
    val idleS = traced.zip(unions).map { case (p, u) =>
      cpus * u - p.layers.getOrElse("task_run_ms", 0.0) / 1000 }.sum / n

    // Streaming batches that progressed inside the traced passes.
    val batches = tracer.batches.synchronized(tracer.batches.toSeq)
    val inPasses = traced.flatMap { p =>
      val end = p.layers.getOrElse("batches_end", 0.0).toInt
      batches.slice(end - p.layers.getOrElse("batches", 0.0).toInt, end)
    }
    val lastPerQuery = inPasses.groupBy(_.query).values.map(_.maxBy(_.id)).toSeq

    // ETL layers: each call contains the previous one's work.
    val etlOps = traced.flatMap(_.ops).filter(_.module == "etl").groupBy(_.name)
      .map { case (k, os) => k -> median(os.map(_.seconds)) }
    def etl(k: String) = etlOps.getOrElse(k, 0.0)
    val convertSpans = spans.filter(s => s.kind == "etl" && s.name == "convert").map(_.id).toSet
    val etlTasks = jobs.filter(j => convertSpans(j.parent)).map(_.tasks).sum /
      convertSpans.size.max(1).toDouble

    val queryOps = traced.flatMap(_.ops).filter(_.module != "etl")
    // A typical pass: the per-operation medians over the passes, summed
    // over the operations an untraced pass runs.
    val passOps = untraced.flatMap(_.ops).map(_.name).toSet
    def typicalPass(ps: Seq[Pass]): Double =
      ps.flatMap(_.ops).filter(o => passOps(o.name)).groupBy(_.name).values
        .map(os => median(os.map(_.seconds))).sum
    val ratio = typicalPass(traced) / typicalPass(untraced)

    val metrics = Seq(
      "etl.gunzip_split_s" -> etl("gunzip_split"),
      "etl.read_s" -> (etl("read") - etl("gunzip_split")).max(0.0),
      "etl.transform_s" -> (etl("read_transform") - etl("read")).max(0.0),
      "etl.write_s" -> (etl("convert") - etl("read_transform")).max(0.0),
      "etl.tasks" -> etlTasks,
      "etl.bytes_in" -> etlBytes._1.toDouble,
      "etl.bytes_out" -> etlBytes._2.toDouble,
      "tables.load_cold_s" -> tables._1,
      "tables.load_warm_s" -> tables._2,
      "ops.build_s" -> queryOps.map(_.buildS).sum / n,
      "ops.sink_s" -> queryOps.map(_.sinkS).sum / n) ++
      modules.map(m => s"ops.$m.pass_s" -> queryOps.filter(_.module == m).map(_.seconds).sum / n) ++
      Seq(
        "catalyst.executions" -> d("executions"),
        "catalyst.analysis_ms" -> d("analysis_ms"),
        "catalyst.optimization_ms" -> d("optimization_ms"),
        "catalyst.planning_ms" -> d("planning_ms"),
        "sched.jobs" -> d("jobs"),
        "sched.stages" -> d("stages"),
        "sched.tasks" -> d("tasks"),
        "sched.driver_s" -> driverS,
        "sched.idle_core_s" -> idleS,
        "sched.task_deser_s" -> d("task_deser_ms") / 1000,
        "exec.task_s" -> d("task_run_ms") / 1000,
        "exec.gc_s" -> d("gc_ms") / 1000,
        "exec.peak_mem_mb" -> tracer.counters("peak_exec_mem_bytes").get / MiB,
        "exec.spill_mb" -> d("spill_bytes") / MiB,
        "xchg.shuffle_read_mb" -> d("shuffle_read_bytes") / MiB,
        "xchg.shuffle_write_mb" -> d("shuffle_write_bytes") / MiB,
        "xchg.broadcast_mb" -> d("broadcast_bytes") / MiB,
        "fs.list_ops" -> d("fs.list_ops"),
        "fs.read_ops" -> d("fs.read_ops"),
        "fs.write_ops" -> d("fs.write_ops"),
        "fs.bytes_read_mb" -> d("fs.bytesRead") / MiB,
        "fs.bytes_written_mb" -> d("fs.bytesWritten") / MiB,
        "stream.batches" -> inPasses.size / n,
        "stream.batch_p50_ms" -> median(inPasses.map(_.triggerMs.toDouble)),
        "stream.add_batch_ms" -> inPasses.map(_.addBatchMs.toDouble).sum / n,
        "stream.commit_ms" -> inPasses.map(_.commitMs.toDouble).sum / n,
        "stream.state_rows" -> lastPerQuery.map(_.stateRows.toDouble).sum / n,
        "stream.state_mb" -> lastPerQuery.map(_.stateBytes.toDouble).sum / MiB / n,
        "trace.pass_ratio" -> ratio)

    val fsRaw = traced.headOption.map(_.layers.keys.filter(_.startsWith("fs.")).toSeq.sorted)
      .getOrElse(Seq.empty).map(k => k -> d(k))
    Obj(
      "traced_passes" -> traced.size,
      "metrics" -> Obj(metrics: _*),
      "self_ms" -> selfTimes(spans),
      "fs_statistics_per_pass" -> Obj(fsRaw: _*),
      "jobs_per_query" -> Obj(jobs.groupBy(_.query).toSeq.sortBy(_._1)
        .map { case (q, js) => (if (q.isEmpty) "(none)" else q) -> js.size / n }: _*))
  }
}
