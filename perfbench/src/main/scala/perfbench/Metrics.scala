package perfbench

/** The metric names and units every run prints; BENCHMARK.json lists the
  * same, and the smoke test holds the two together.
  */
object Metrics {
  val Families: Seq[String] =
    Seq("and", "or", "not", "rare", "phrase", "prefix", "wildcard", "fuzzy", "suggest", "didyoumean")

  /** Timed runs (tracing off). Every workload measures every one. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "build_s" -> "s",
    "index_bytes" -> "bytes",
    "heap_mb" -> "MB",
    "query_p50_ms" -> "ms",
    "query_throughput_per_s" -> "1/s",
    "add_s" -> "s",
    "compact_s" -> "s")

  /** Layer self time rows of the trace, summed over a run's phases. */
  val SelfLayers: Seq[(String, String)] = Seq(
    "app" -> "self_s.app", "search" -> "self_s.search", "index" -> "self_s.index", "core" -> "self_s.core",
    "spark" -> "self_s.spark", "bench" -> "self_s.bench", "driver/scheduling" -> "self_s.driver_scheduling")

  /** Traced runs. A layer a workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "query_tail_ms" -> "ms",
    "app.health_ms_p50" -> "ms",
    "app.server_us_p50" -> "us",
    "app.server_us_p99" -> "us",
    "app.cache_hit_ratio" -> "ratio",
    "app.reload_ms_p50" -> "ms",
    "app.reload_ms_max" -> "ms",
    "app.non200" -> "count",
    "search.engine_ms_p50" -> "ms",
    "search.engine_ms_p99" -> "ms") ++
    Families.map(f => s"search.engine_ms_p50.$f" -> "ms") ++ Seq(
    "search.dist.cold_s" -> "s",
    "search.dist.idf_s" -> "s",
    "search.dist.fanout_s" -> "s",
    "search.dist.merge_s" -> "s",
    "search.dist.driver_s" -> "s",
    "search.dist.shuffle_bytes" -> "bytes",
    "search.dist.tasks" -> "count",
    "index.build.cold_s" -> "s",
    "index.build.docstore_s" -> "s",
    "index.build.segment_s" -> "s",
    "index.build.driver_s" -> "s",
    "index.build.shuffle_bytes" -> "bytes",
    "index.build.task_cpu_s" -> "s",
    "index.build.gc_s" -> "s",
    "index.add_s" -> "s",
    "index.freshness_s" -> "s",
    "index.rebuild_identical_frac" -> "ratio",
    "index.compact.bytes_rewritten" -> "bytes",
    "index.load_s" -> "s",
    "index.sidecar.ensure_s" -> "s",
    "index.sidecar.get_us_p50" -> "us",
    "index.sidecar.gets_per_req" -> "count",
    "index.segment_bytes" -> "bytes",
    "index.docstore_bytes" -> "bytes",
    "index.sidecar_bytes" -> "bytes",
    "core.parse_us_p50" -> "us",
    "core.snippet_us_p50" -> "us",
    "spark.jobs" -> "count",
    "spark.stages" -> "count",
    "spark.jobs.batch" -> "count",
    "spark.scheduler_delay_s" -> "s",
    "bench.gen_late_ms_p99" -> "ms",
    "bench.failed_frac" -> "ratio",
    "bench.untraced_p50_ms" -> "ms",
    "bench.trace_overhead_ms" -> "ms",
    "trace.reconcile_error_s" -> "s") ++
    SelfLayers.map(_._2 -> "s")
}
