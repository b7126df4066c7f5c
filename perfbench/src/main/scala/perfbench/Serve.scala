package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.collection.mutable
import scala.util.Random

import graft.app.SearchServer
import graft.app.SearchServer.{DocRow, IndexState}
import graft.core.{QueryParser, Snippets, Tokenizer}
import graft.index.{DocSidecar, SegmentIndex}
import graft.search.{SearchEngine, SegmentSearch}

/** serve-mixed: the HTTP read path. The server is set up three times (the
  * first build in the JVM is the cold one) and serves from the last set-up.
  * Read rounds run first, all against that one generation, and every
  * response is checked against another tier's answer for it; write steps on
  * the idle server follow.
  */
object Serve {
  /** Read rounds; figures are medians over rounds, so a co-tenant burst or
    * a collector pause that slows one round does not move them. Each round
    * starts after a full collection, with an open-loop window of half its
    * share of --seconds and then a closed-loop window for the other half.
    */
  val Rounds = 6
  /** Requests each round's open loop sends, evenly spaced over its window,
    * so a round's p95 has ten samples beyond it. This sets the fixed rate:
    * PerRound / window (300 req/s at --seconds 8).
    */
  val PerRound = 200
  /** Write steps after the read rounds: one delta added and reloaded, then
    * folded together with one bucket of the base build, so every fold
    * merges the same amount of data. An untimed step first warms the write
    * path; add_s and compact_s are medians of the three after it. A reload
    * starts the new generation with an empty doc-lookup cache, so reads
    * after a write would measure a colder server than the rounds before it:
    * no round follows a write.
    */
  val WriteSteps = 3
  def fixedS(ctx: Ctx): Double = ctx.o.seconds * 0.5 / Rounds
  def saturatedS(ctx: Ctx): Double = ctx.o.seconds * 0.5 / Rounds
  def rate(ctx: Ctx): Double = PerRound / fixedS(ctx)
  /** Requests generated per closed-loop window (more than it sends). */
  def saturatedCap(ctx: Ctx): Int = (saturatedS(ctx) * 20000).toInt + 1
  /** Set-ups: the first is cold; the median is over all of them. */
  val SetUps = 3
  /** Closed-loop requests sent after the set-ups, before any round, from a
    * stream the measurement never sends: the JIT warm-up of the HTTP and
    * query paths, so the rounds do not keep speeding up.
    */
  val WarmupRequests = 4000
  /** Warm rebuilds after the set-ups: with set-ups 2 and 3, build_s is a
    * median of three warm builds.
    */
  val ExtraRebuilds = 1

  /** Load threads plus connections stay within nproc: each load thread
    * owns one connection. A write step opens its own connection only while
    * the load threads are idle.
    */
  val Workers: Int = math.max(1, Host.nproc / 2)

  /** What one set-up leaves: the serving directory and server, and its
    * timings. Only calls into the program are timed.
    */
  final class Setup(val dir: String, val running: SearchServer.Running, val setupS: Double, val buildS: Double,
      val heapMb: Double)

  /** Doc lookups the server makes through the function the benchmark hands
    * to IndexState, counted and timed while `recording`.
    */
  object Lookups {
    @volatile var recording = false
    val count = new LongAdder
    val micros = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Double]()
  }

  private val inners = new ConcurrentHashMap[IndexState, IndexState]()

  private def wrap(inner: IndexState): IndexState = {
    val docs = inner.docs
    val lookup: Long => Option[DocRow] = id =>
      if (!Lookups.recording) docs(id)
      else {
        val t0 = System.nanoTime()
        val r = docs(id)
        Lookups.micros.add((System.nanoTime() - t0) / 1e3)
        Lookups.count.increment()
        r
      }
    lazy val w: IndexState = new IndexState(inner.engine, lookup, () => { inners.remove(w); inner.release() })
    inners.put(w, inner)
    w
  }

  private def reloader(dir: String): IndexState => IndexState =
    prev => wrap(SearchServer.loadState(dir, Option(inners.get(prev))))

  /** Force the serving generation's lazy structures (sorted and reversed
    * vocabularies, SymSpell) so no measured request pays for them.
    */
  private def warmEngine(st: IndexState, in: Inputs): Unit = {
    val t = in.tail(0)
    st.engine.search(QueryParser.parse(s"${Inputs.Head(0)} $t"), 10)
    st.engine.suggest(t.take(2), 10)
    st.engine.searchPrefix(t.take(3), 10, maxTerms = SearchServer.MaxExpandTerms)
    st.engine.searchWildcard("*" + t.takeRight(3), 10, maxTerms = SearchServer.MaxExpandTerms)
    st.engine.searchFuzzy(t, 10, maxTerms = SearchServer.MaxExpandTerms)
    st.engine.didYouMean(t)
  }

  /** One set-up: build, sidecars, load, warm-up of the lazy structures and
    * bind; every timed part is a call into the program. The live heap is taken around the load and warm-up (outside the timed
    * parts), so heapMb is what the serving state pins.
    */
  def setup(ctx: Ctx, inputs: Inputs, i: Int): Setup = ctx.phase(s"setup-$i") {
    var spent = 0.0
    def part[T](body: => T): T = { val (v, t) = Util.timed(body); spent += t; v }
    val dir = ctx.dir(s"serve-$i")
    val buildS = part {
      val df = ctx.docsDf(inputs.corpus)
      Util.timed(Trace.span(if (i == 1) "index.build cold" else "index.build warm", "index") {
        SegmentIndex.build(df, dir, Main.Buckets)
      })._2
    }
    part(Trace.span("index.sidecar.ensure", "index")(DocSidecar.ensure(ctx.spark, dir)))
    val before = Util.liveHeapMb()
    val st = part {
      val st = Trace.span("index.load", "index")(wrap(SearchServer.loadState(dir)))
      Trace.span("bench.warmup", "bench")(warmEngine(st, inputs))
      st
    }
    val heapMb = Util.liveHeapMb() - before
    val running = part(Trace.span("app.start", "app")(SearchServer.start(st, 0, Some(reloader(dir)))))
    new Setup(dir, running, ctx.sparkS + spent, buildS, heapMb)
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    // the inputs are generated once, before any set-up, and not timed
    val inputs = ctx.phase("inputs")(Trace.span("bench.corpus", "bench") {
      val in = new Inputs(ctx.o.seed, ctx.o.docs, ctx.o.tailVocab)
      in.corpus
      in
    })
    val setups = (1 to SetUps).map { i =>
      Util.log(s"setup $i")
      val s = setup(ctx, inputs, i)
      if (i < SetUps) { s.running.stop(); Util.deleteTree(s.dir) }
      s
    }
    val s = setups.last
    val rebuilds = (1 to ExtraRebuilds).map { i =>
      ctx.phase(s"rebuild-$i") {
        val d = ctx.dir(s"rebuild-$i")
        val df = ctx.docsDf(inputs.corpus)
        val (_, t) = Util.timed(Trace.span("index.build warm", "index")(SegmentIndex.build(df, d, Main.Buckets)))
        Util.deleteTree(d)
        t
      }
    }
    ctx.phase("warmup")(Trace.span("bench.warmup", "bench") {
      Http.openLoop(s.running.port, inputs.mixedStream(WarmupRequests, 99), Double.PositiveInfinity, 60.0, Workers,
        keepBodies = false)
    })
    Util.log("measure")
    r.put("setup_s", Stats.median(setups.map(_.setupS)), "s")
    r.put("index.build.cold_s", setups.head.buildS, "s")
    r.put("build_s", Stats.median(setups.tail.map(_.buildS) ++ rebuilds), "s")
    r.put("heap_mb", Stats.median(setups.map(_.heapMb)), "MB")
    Util.reportIndexBytes(r, s.dir)
    val base = Util.loadGeneration(s.dir)
    r.note("inputs", Util.inputFacts(base._1, base._2))
    try mixed(ctx, inputs, s, base)
    finally {
      s.running.stop()
      Util.deleteTree(s.dir)
    }
  }

  /** One read round: a fixed-rate window and a closed-loop window. */
  final case class Round(fixed: IndexedSeq[(Request, Outcome)], saturated: IndexedSeq[(Request, Outcome)]) {
    val latency: Latencies = Latencies(fixed.map(_._2.latencyMs))
    /** Closed-loop window length, in seconds. */
    def saturatedSpan: Double = {
      val os = saturated.map(_._2)
      (os.map(_.done).max - os.map(_.due).min) / 1e9
    }
    def throughput: Double = saturated.size / saturatedSpan
  }

  /** The fixed-rate window over `stream`, then a closed loop over
    * `saturated`: every load thread sends its next request as soon as its
    * last one is answered.
    */
  def readRound(ctx: Ctx, s: Setup, name: String, stream: IndexedSeq[Request], saturated: IndexedSeq[Request]): Round = {
    val port = s.running.port
    val fixed = ctx.phase(s"serve-fixed $name") {
      val parent = Trace.current
      Lookups.recording = ctx.o.trace
      val out = Http.openLoop(port, stream, rate(ctx), fixedS(ctx), Workers, keepBodies = true,
        onDone = o => if (Trace.on) { val id = Trace.nextId(); Trace.add(Span(id, parent, s"app.http ${stream(o.idx).family}", "app", id, o.sent, o.done)) })
      Lookups.recording = false
      out
    }
    val sat = ctx.phase(s"serve-saturated $name") {
      val parent = Trace.current
      Http.openLoop(port, saturated, Double.PositiveInfinity, saturatedS(ctx), Workers, keepBodies = true,
        onDone = o => if (Trace.on) { val id = Trace.nextId(); Trace.add(Span(id, parent, s"app.http ${saturated(o.idx).family}", "app", id, o.sent, o.done)) })
    }
    Round(fixed.map(o => (stream(o.idx), o)), sat.map(o => (saturated(o.idx), o)))
  }

  /** Read metrics. query_p50_ms is the median over rounds of each round's
    * median. query_tail_ms is the highest percentile of all the run's
    * fixed-rate requests with ten beyond it (p99 of 1,200). Phrase queries
    * cost about ten times the other families; every window holds the same
    * mix of families, so query_throughput_per_s is the median over rounds
    * of each closed-loop window's throughput.
    */
  def reportReads(ctx: Ctx, s: Setup, rounds: Seq[Round]): Unit = {
    val r = ctx.report
    r.put("query_p50_ms", Stats.median(rounds.map(_.latency.p50)), "ms")
    r.put("query_tail_ms", Stats.tail(rounds.flatMap(_.latency.ms))._2, "ms")
    r.put("query_throughput_per_s", Stats.median(rounds.map(_.throughput)), "1/s")
    r.note("rounds", rounds.map { x =>
      s"""{"rate":${Json.num(rate(ctx))},"workers":$Workers,"latency_ms":${x.latency.json},""" +
        s""""closed_loop_per_s":${Json.num(x.throughput)},"closed_loop_n":${x.saturated.size}}"""
    }.mkString("[", ",", "]"))
    val pooled = rounds.flatMap(_.fixed)
    r.note("families", Json.obj(Metrics.Families.map { f =>
      f -> Latencies(pooled.filter(_._1.family == f).map(_._2.latencyMs).toIndexedSeq).json
    }))
    r.put("bench.gen_late_ms_p99", Stats.quantile(rounds.flatMap(_.fixed.map(_._2.lateMs)), 0.99), "ms")
    if (ctx.o.trace) {
      val searches = rounds.map(_.fixed.count(_._1.path == "/search")).sum
      r.put("index.sidecar.gets_per_req", Lookups.count.sum.toDouble / math.max(1, searches), "count")
      import scala.jdk.CollectionConverters._
      r.put("index.sidecar.get_us_p50", Stats.median(Lookups.micros.asScala.toSeq.map(_.doubleValue)), "us")
    }
    val m = s.running.metrics.latencyQuantiles
    r.put("app.server_us_p50", m._1.toDouble, "us")
    r.put("app.server_us_p99", m._3.toDouble, "us")
  }

  def mixed(ctx: Ctx, inputs: Inputs, s: Setup, base: (IndexedSeq[SegmentIndex.LoadedSegment], SegmentIndex.Meta)): Unit = {
    val r = ctx.report
    val stream = inputs.mixedStream(PerRound * Rounds, 1)
    val satStream = inputs.mixedStream(saturatedCap(ctx) * Rounds, 2)
    val satPer = satStream.size / Rounds
    // traced runs: one untraced fixed window first, for the tracing cost
    val untraced = if (!ctx.o.trace) None else {
      Trace.on = false
      val plain = Http.openLoop(s.running.port, stream.take(PerRound), rate(ctx), fixedS(ctx), Workers, keepBodies = false)
      Trace.on = true
      Some(Latencies(plain.map(_.latencyMs)).p50)
    }
    val rounds = (0 until Rounds).map { i =>
      Util.log(s"round $i")
      Util.settle()
      readRound(ctx, s, s"$i", stream.slice(i * PerRound, (i + 1) * PerRound),
        satStream.slice(i * satPer, (i + 1) * satPer))
    }
    reportReads(ctx, s, rounds)
    r.note("streams", s"""{"fixed_distinct_share":${Json.num(Util.distinctShare(stream.map(_.uri)))},""" +
      s""""closed_loop_distinct_share":${Json.num(Util.distinctShare(rounds.flatMap(_.saturated.map(_._1.uri))))}}""")
    untraced.foreach { u =>
      r.put("bench.untraced_p50_ms", u, "ms")
      r.put("bench.trace_overhead_ms", Stats.median(rounds.map(_.latency.p50)) - u, "ms")
    }
    val hits = s.running.current.respCache.hits.sum
    val misses = s.running.current.respCache.misses.sum
    r.put("app.cache_hit_ratio", hits.toDouble / math.max(1L, hits + misses), "ratio")
    if (ctx.o.trace) {
      health(ctx, s)
      replay(ctx, s, stream.take(600))
    }
    // every response so far was served by the base generation, which the
    // index directory holds until the first write
    Trace.on = false
    val served = rounds.flatMap(x => x.fixed ++ x.saturated)
    Util.log("check families")
    checkFamilies(ctx, s, served)
    Util.log("check dataflow")
    checkDataflow(ctx, inputs.corpus, served)
    Util.log("check keyword")
    checkKeyword(ctx, served, base)
    Trace.on = ctx.o.trace
    val w = new Writer(ctx, inputs, s)
    Util.log("write warm-up")
    ctx.phase("write warm-up")(w.step(WriteSteps, timed = false))
    (0 until WriteSteps).foreach { i =>
      Util.log(s"write $i")
      ctx.phase(s"write $i")(w.step(i))
    }
    w.report()
  }

  /** The transport floor: /health at the fixed rate. */
  def health(ctx: Ctx, s: Setup): Unit = {
    val os = ctx.phase("health") {
      Http.openLoop(s.running.port, IndexedSeq.fill(PerRound)(Request("health", "/health", "", "")), rate(ctx),
        fixedS(ctx), Workers, keepBodies = false)
    }
    ctx.report.put("app.health_ms_p50", Latencies(os.map(_.latencyMs)).p50, "ms")
    ctx.report.attempted += os.size
    ctx.report.failed += os.count(_.status != 200)
  }

  /** Replays requests in-process, one at a time, under their request ids:
    * parse, engine, doc lookup and snippet are spans of their own, and the
    * request span's self time is what the HTTP handler adds (JSON).
    */
  def replay(ctx: Ctx, s: Setup, reqs: IndexedSeq[Request]): Unit = {
    val st = s.running.current
    val maxExp = SearchServer.MaxExpandTerms
    val engineMs = mutable.ArrayBuffer[(String, Double)]()
    val parseUs = mutable.ArrayBuffer[Double]()
    val snippetUs = mutable.ArrayBuffer[Double]()
    def timedSpan[T](name: String, layer: String, req: Long, sink: Double => Unit)(body: => T): T = {
      val t0 = System.nanoTime()
      val v = Trace.span(name, layer, req)(body)
      sink((System.nanoTime() - t0).toDouble)
      v
    }
    ctx.phase("replay") {
      reqs.foreach { q =>
        val req = Trace.nextId()
        def engine[T](body: => T): T = timedSpan(s"search.engine.${q.family}", "search", req, ns => engineMs += (q.family -> ns / 1e6))(body)
        Trace.span(s"app.request ${q.family}", "app", req) {
          q.family match {
            case "suggest" => engine(st.engine.suggest(q.value, 10))
            case "didyoumean" => engine(st.engine.didYouMean(q.value))
            case _ =>
              val (top, hl) = q.param match {
                case "q" =>
                  val pq = timedSpan("core.parse", "core", req, ns => parseUs += ns / 1e3)(QueryParser.parse(q.value))
                  (engine(st.engine.search(pq, 10)), pq.terms)
                case "phrase" => (engine(st.engine.searchPhrase(q.value, 10, id => st.docs(id).map(_.text))), Tokenizer.tokenize(q.value))
                case "prefix" => (engine(st.engine.searchPrefix(q.value, 10, maxTerms = maxExp)), Tokenizer.tokenize(q.value))
                case "wildcard" => (engine(st.engine.searchWildcard(q.value, 10, maxTerms = maxExp)), Tokenizer.tokenize(q.value))
                case _ => (engine(st.engine.searchFuzzy(q.value, 10, maxTerms = maxExp)), Tokenizer.tokenize(q.value))
              }
              top.foreach { case (id, _) =>
                val d = Trace.span("index.sidecar.get", "index", req)(st.docs(id)).getOrElse(DocRow("", "", ""))
                timedSpan("core.snippet", "core", req, ns => snippetUs += ns / 1e3)(Snippets.makeSnippet(d.text, hl))
              }
          }
        }
      }
    }
    val r = ctx.report
    r.put("search.engine_ms_p50", Stats.median(engineMs.map(_._2).toSeq), "ms")
    r.put("search.engine_ms_p99", Stats.quantile(engineMs.map(_._2).toSeq, 0.99), "ms")
    Metrics.Families.foreach { f =>
      r.put(s"search.engine_ms_p50.$f", Stats.median(engineMs.filter(_._1 == f).map(_._2).toSeq), "ms")
    }
    r.put("core.parse_us_p50", Stats.median(parseUs.toSeq), "us")
    r.put("core.snippet_us_p50", Stats.median(snippetUs.toSeq), "us")
  }

  /** Every `q=` response against the in-memory batch tier for the
    * generation that served it.
    */
  def checkKeyword(ctx: Ctx, outcomes: Seq[(Request, Outcome)],
      gen: (IndexedSeq[SegmentIndex.LoadedSegment], SegmentIndex.Meta)): Unit = {
    val r = ctx.report
    r.attempted += outcomes.size
    val ok = outcomes.filter(_._2.status == 200)
    r.failed += outcomes.size - ok.size
    r.put("app.non200", (outcomes.size - ok.size).toDouble, "count")
    val rows = ok.filter(_._1.isKeyword)
    val expected = Util.inMemory(gen._1, gen._2, rows.map(_._1.value).distinct)
    var corrupt = ctx.o.corrupt
    rows.foreach { case (q, o) =>
      var exp = expected(q.value)
      if (corrupt && exp.nonEmpty) { exp = (exp.head._1 + 1, exp.head._2) +: exp.tail; corrupt = false }
      r.checkHits(s"in-memory ${q.uri}", Http.hits(o.body), exp)
    }
    r.note("checked", s"""{"keyword":${rows.size}}""")
  }

  /** One seeded response of each non-keyword family against the distributed
    * tier over the index directory's current generation.
    */
  def checkFamilies(ctx: Ctx, s: Setup, outcomes: Seq[(Request, Outcome)]): Unit = {
    val r = ctx.report
    val rnd = new Random(ctx.o.seed)
    val spark = ctx.spark
    val dir = s.dir
    val others = outcomes.filter(x => !x._1.isKeyword && x._2.status == 200)
    Metrics.Families.filterNot(Seq("and", "or", "not", "rare").contains).foreach { fam =>
      rnd.shuffle(others.filter(_._1.family == fam)).take(1).foreach { case (q, o) =>
        val what = s"distributed ${q.uri}"
        fam match {
          case "phrase" => r.checkHits(what, Http.hits(o.body), SegmentSearch.phraseBatch(spark, dir, Seq(q.value), 10)(0))
          case "prefix" => r.checkHits(what, Http.hits(o.body), SegmentSearch.prefixBatch(spark, dir, q.value, 10))
          case "wildcard" => r.checkHits(what, Http.hits(o.body), SegmentSearch.wildcardBatch(spark, dir, q.value, 10))
          case "fuzzy" => r.checkHits(what, Http.hits(o.body), SegmentSearch.fuzzyBatch(spark, dir, q.value, 10))
          case "suggest" =>
            r.check[Seq[(String, Long)]](what, Http.suggestions(o.body), SegmentSearch.suggestBatch(spark, dir, q.value, 10), _ == _)
          case _ =>
            r.check[Seq[(String, String, Long)]](what, Http.corrections(o.body),
              SegmentSearch.didYouMeanBatch(spark, dir, q.value).map(x => (x._2, x._3, x._4)), _ == _)
        }
      }
    }
  }

  /** A seeded keyword response against the dataflow tier over `docs`. */
  def checkDataflow(ctx: Ctx, docs: Seq[Doc], outcomes: Seq[(Request, Outcome)]): Unit = {
    val kw = outcomes.filter(x => x._1.isKeyword && x._2.status == 200)
    if (kw.nonEmpty) {
      val (q, o) = kw(new Random(ctx.o.seed + 1).nextInt(kw.size))
      val engine = new SearchEngine(graft.index.IndexBuilder.build(ctx.docsDf(docs)))
      ctx.report.checkHits(s"dataflow ${q.uri}", Http.hits(o.body), engine.searchScored(q.value, 10))
    }
  }

  /** The write steps: addDocuments + /reload + the delta's marker query,
    * then a fold + /reload + every delta's marker. Each step opens its own
    * connection.
    */
  final class Writer(ctx: Ctx, inputs: Inputs, s: Setup) {
    val addS, freshS, compactS = mutable.ArrayBuffer[Double]()
    val reloadMs = mutable.ArrayBuffer[Double]()
    private val added = mutable.ArrayBuffer[Int]()

    private def reload(conn: Conn): Unit = {
      val ((code, _), secs) = Util.timed(Trace.span("app.reload", "app")(conn.get("/reload")))
      reloadMs += secs * 1e3
      ctx.report.attempted += 1
      if (code != 200) { ctx.report.failed += 1; ctx.report.wrong += 1; ctx.report.mismatches += s"/reload returned $code" }
    }

    private def checkMarker(conn: Conn, i: Int): Unit = {
      val (code, body) = Trace.span("app.marker", "app")(conn.get(s"/search?q=${inputs.marker(i)}&k=10"))
      val ids = Http.hits(body).map(_._1)
      val lo = Inputs.DeltaIdBase + i * Inputs.DeltaIdStride
      ctx.report.attempted += 1
      ctx.report.check[Seq[Long]](s"marker $i (status $code)", ids.sorted,
        ids.filter(id => id >= lo && id < lo + ctx.o.deltaDocs).sorted,
        (a, b) => a == b && a.size == math.min(10, ctx.o.deltaDocs))
    }

    /** Write step `i`: delta `i` becomes a new bucket, which is then folded
      * with the oldest live bucket (an unfolded bucket of the base build).
      * Its add, freshness and fold times are samples when `timed`.
      */
    def step(i: Int, timed: Boolean = true): Unit = {
      val conn = new Conn(s.running.port)
      try {
        val df = ctx.docsDf(inputs.delta(i, ctx.o.deltaDocs))
        Util.settle()
        val t0 = System.nanoTime()
        Trace.span("index.add", "index")(SegmentIndex.addDocuments(df, s.dir, newBuckets = 1))
        val add = (System.nanoTime() - t0) / 1e9
        reload(conn)
        checkMarker(conn, i)
        if (timed) {
          addS += add
          freshS += (System.nanoTime() - t0) / 1e9
        }
        added += i
        ctx.report.attempted += 1

        val meta = SegmentIndex.readMeta(s.dir)
        val picks = Seq(SegmentIndex.liveBucketSet(meta).min, meta.buckets - 1)
        Util.settle()
        val (m, compact) = Util.timed(Trace.span("index.compact", "index")(SegmentIndex.compactBuckets(ctx.spark, s.dir, picks)))
        if (timed) compactS += compact
        ctx.report.put("index.compact.bytes_rewritten", m.bytes.toDouble, "bytes")
        ctx.report.attempted += 1
        reload(conn)
        added.foreach(checkMarker(conn, _))
      } finally conn.close()
    }

    def report(): Unit = {
      val r = ctx.report
      r.put("add_s", Stats.median(addS.toSeq), "s")
      r.put("index.add_s", Stats.median(addS.toSeq), "s")
      r.put("index.freshness_s", Stats.median(freshS.toSeq), "s")
      r.put("compact_s", Stats.median(compactS.toSeq), "s")
      r.put("app.reload_ms_p50", Stats.median(reloadMs.toSeq), "ms")
      r.put("app.reload_ms_max", reloadMs.max, "ms")
    }
  }
}
