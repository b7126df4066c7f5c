package perfbench

import java.nio.file.{Files, Paths}

/** Turns a traced run's spans into per-layer metrics and one artifact file:
  * every span, every Spark job's task aggregates, and per phase the layer
  * self times plus the driver/scheduling remainder, which sum to the
  * phase's wall time.
  */
object TraceReport {

  def write(ctx: Ctx): String = {
    val r = ctx.report
    val spans = Trace.all
    val phases = spans.filter(_.layer == "phase").sortBy(_.start)
    val rows = phases.map(p => p -> Trace.selfTimes(p, spans))
    val totals = rows.flatMap(_._2).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    Metrics.SelfLayers.foreach { case (layer, name) => r.put(name, totals.getOrElse(layer, 0.0), "s") }
    val worst = rows.map { case (p, st) => math.abs(st.map(_._2).sum - p.dur / 1e9) }.foldLeft(0.0)(math.max)
    r.put("trace.reconcile_error_s", worst, "s")

    def named(prefix: String) = spans.filter(_.name.startsWith(prefix))
    def medianDur(prefix: String) = Stats.median(named(prefix).map(_.dur / 1e9))
    r.put("index.load_s", medianDur("index.load"), "s")
    r.put("index.sidecar.ensure_s", medianDur("index.sidecar.ensure"), "s")

    // the cold build: its Spark jobs split into the docstore write and the
    // segment write; what no job covers is driver time
    /** The Spark jobs a benchmark span started, their spans, and a function
      * summing the span durations of some of them.
      */
    def jobsOf(b: Span) = {
      val jobs = Trace.jobsUnder(b.id)
      val jobSpans = spans.filter(s => jobs.exists(_.spanId == s.id))
      (jobs, jobSpans, (js: Seq[Trace.JobAgg]) => jobSpans.filter(s => js.exists(_.spanId == s.id)).map(_.dur / 1e9).sum)
    }
    named("index.build cold").headOption.foreach { b =>
      val (jobs, jobSpans, dur) = jobsOf(b)
      val (seg, store) = jobs.partition(_.callSite.contains("SegmentIndex"))
      r.put("index.build.docstore_s", dur(store), "s")
      r.put("index.build.segment_s", dur(seg), "s")
      r.put("index.build.driver_s", b.dur / 1e9 - covered(b, jobSpans), "s")
      r.put("index.build.shuffle_bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
      r.put("index.build.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9, "s")
      r.put("index.build.gc_s", jobs.map(_.gcMs).sum / 1e3, "s")
      r.put("spark.jobs", jobs.size.toDouble, "count")
      r.put("spark.stages", jobs.map(_.stages).sum.toDouble, "count")
      r.put("spark.scheduler_delay_s", jobs.map(_.schedDelayMs).sum / 1e3, "s")
    }
    // the cold distributed query: idf job, fan-out (writes the merge
    // exchange), merge (reads it); the rest is driver time
    named("search.batch cold").headOption.foreach { b =>
      val (jobs, jobSpans, dur) = jobsOf(b)
      val merge = jobs.filter(_.shuffleReadBytes > 0)
      val fanout = jobs.filter(j => j.shuffleWriteBytes > 0 && j.shuffleReadBytes == 0)
      val idf = jobs.filterNot(j => merge.contains(j) || fanout.contains(j))
      r.put("search.dist.idf_s", dur(idf), "s")
      r.put("search.dist.fanout_s", dur(fanout), "s")
      r.put("search.dist.merge_s", dur(merge), "s")
      r.put("search.dist.driver_s", b.dur / 1e9 - covered(b, jobSpans), "s")
      r.put("search.dist.shuffle_bytes", jobs.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
      r.put("search.dist.tasks", jobs.map(_.tasks).sum.toDouble, "count")
      r.put("spark.jobs.batch", jobs.size.toDouble, "count")
    }

    val jobsJson = Trace.Listener.synchronized(Trace.Listener.jobs.values.toSeq).map { j =>
      Json.obj(Seq("job" -> j.jobId.toString, "span" -> j.spanId.toString, "parent" -> j.parent.toString,
        "call_site" -> Json.str(j.callSite), "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
        "cpu_s" -> Json.num(j.cpuNs / 1e9), "gc_s" -> Json.num(j.gcMs / 1e3),
        "shuffle_write_bytes" -> j.shuffleWriteBytes.toString, "shuffle_read_bytes" -> j.shuffleReadBytes.toString,
        "scheduler_delay_s" -> Json.num(j.schedDelayMs / 1e3)))
    }
    val phasesJson = rows.map { case (p, st) =>
      Json.obj(Seq("name" -> Json.str(p.name), "wall_s" -> Json.num(p.dur / 1e9),
        "self_s" -> Json.obj(st.map { case (k, v) => k -> Json.num(v) }),
        "sum_s" -> Json.num(st.map(_._2).sum)))
    }
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val spansJson = spans.sortBy(_.start).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""req":${s.req},"start_us":${(s.start - t0) / 1000},"end_us":${(s.end - t0) / 1000}}"""
    }
    val path = Paths.get(ctx.o.traceDir, s"trace-${ctx.o.workload}-seed${ctx.o.seed}.json")
    Files.createDirectories(path.getParent)
    val body = "{" + Seq(
      "\"workload\":" + Json.str(ctx.o.workload),
      "\"seed\":" + ctx.o.seed,
      "\"phases\":" + phasesJson.mkString("[", ",", "]"),
      "\"self_s_total\":" + Json.obj(totals.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "\"spark_jobs\":" + jobsJson.mkString("[", ",", "]"),
      "\"spans\":" + spansJson.mkString("[\n", ",\n", "]")
    ).mkString(",") + "}\n"
    Files.write(path, body.getBytes("UTF-8"))
    Json.str(path.toString)
  }

  /** Seconds of `outer` covered by the union of `inner` spans. */
  private def covered(outer: Span, inner: Seq[Span]): Double = {
    val iv = inner.map(s => (math.max(s.start, outer.start), math.min(s.end, outer.end))).filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }
}
