package perfbench

import scala.collection.mutable

import graft.index.SegmentIndex
import graft.search.SegmentSearch

/** index-batch: the Spark tier with no HTTP. Three set-ups each build the
  * corpus into a fresh directory and answer one distributed searchBatch
  * over it (the first build and query in the JVM are the cold ones, what a
  * spark-submit pays). Then rounds of warm fixed-size batches (the first
  * one an untimed warm-up), each round with a warm rebuild, one addDocuments
  * delta and one compactBuckets fold. More segments than cores, so fan-out
  * and the distributed merge do real work.
  */
object IndexBatch {
  val BatchSize = 64
  val SetUps = 3
  /** Rounds per run. Each runs warm batches for --seconds / Rounds, then a
    * warm rebuild, then a delta and a fold of that delta with one base
    * bucket, so every fold merges the same amount of data. build_s, add_s
    * and compact_s are medians of one sample per round, each taken after a
    * full collection.
    */
  val Rounds = 5
  /** Untimed rounds before the timed ones, doing the same work: the JIT
    * is still speeding every call up after the set-ups (the first
    * addDocuments in a JVM took twice as long as later ones; the first round
    * after the set-ups ran its batches half again as slow as the third).
    * For the same reason the set-up builds are not build_s samples.
    */
  val WarmupRounds = 1

  type Gen = (IndexedSeq[SegmentIndex.LoadedSegment], SegmentIndex.Meta)

  /** Seconds of one write step: the add, the time until the delta
    * answered, and the fold.
    */
  final case class Writes(add: Double, fresh: Double, compact: Double)

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val o = ctx.o
    val spark = ctx.spark
    // the inputs are generated once, before any set-up, and not timed
    val inputs = ctx.phase("inputs")(Trace.span("bench.corpus", "bench") {
      val in = new Inputs(o.seed, o.docs, o.tailVocab)
      in.corpus
      in
    })

    def check(what: String, qs: Seq[String], got: Map[Int, Seq[(Long, Double)]], g: Gen): Unit = {
      val exp = Util.inMemory(g._1, g._2, qs)
      qs.zipWithIndex.foreach { case (q, i) =>
        val e = if (o.corrupt && i == 0 && exp(q).nonEmpty) (exp(q).head._1 + 1, exp(q).head._2) +: exp(q).tail else exp(q)
        r.checkHits(s"$what '$q'", got(i), e)
      }
    }

    // Set-ups: build + one batch, timed; the live heap is taken around
    // loading the built generation (untimed), which the checks then use.
    val setups = (1 to SetUps).map { i =>
      Util.log(s"setup $i")
      ctx.phase(s"setup-$i") {
        val d = ctx.dir(s"batch-$i")
        val qs = inputs.batchQueries(BatchSize, -100 - i)
        val ((_, buildS), buildAll) = Util.timed {
          val df = ctx.docsDf(inputs.corpus)
          Util.timed(Trace.span(if (i == 1) "index.build cold" else "index.build warm", "index") {
            SegmentIndex.build(df, d, Main.Buckets)
          })
        }
        val (ans, queryS) = Util.timed {
          Trace.span(if (i == 1) "search.batch cold" else "search.batch warm", "search")(SegmentSearch.searchBatch(spark, d, qs, 10))
        }
        val before = Util.liveHeapMb()
        val g = Trace.span("index.load", "index")(Util.loadGeneration(d))
        val heapMb = Util.liveHeapMb() - before
        r.attempted += 1
        check(s"searchBatch set-up $i", qs, ans, g)
        if (i == 1) r.put("search.dist.cold_s", queryS, "s")
        (d, g, ctx.sparkS + buildAll + queryS, buildS, heapMb)
      }
    }
    r.put("setup_s", Stats.median(setups.map(_._3)), "s")
    r.put("index.build.cold_s", setups.head._4, "s")
    r.put("heap_mb", Stats.median(setups.map(_._5)), "MB")
    val (dir, baseGen) = (setups.last._1, setups.last._2)
    def shas(d: String) = (0 until Main.Buckets).map(b => SegmentIndex.readManifest(d, b).map(_.fileSha256))
    val baseShas = shas(dir)
    val identical = mutable.ArrayBuffer[Double]()
    def compareBytes(d: String): Unit =
      identical += shas(d).zip(baseShas).count { case (a, b) => a.isDefined && a == b }.toDouble / Main.Buckets
    setups.init.foreach { x => compareBytes(x._1); Util.deleteTree(x._1) }
    Util.reportIndexBytes(r, dir)
    r.note("inputs", Util.inputFacts(baseGen._1, baseGen._2))

    /** Each delta in `is` answers its marker query with its own docs. */
    def markerCheck(is: Seq[Int]): Unit = {
      val got = SegmentSearch.searchBatch(spark, dir, is.map(inputs.marker), 10)
      is.zipWithIndex.foreach { case (i, k) =>
        val ids = got(k).map(_._1)
        val lo = Inputs.DeltaIdBase + i * Inputs.DeltaIdStride
        r.attempted += 1
        r.check[Seq[Long]](s"marker $i", ids.sorted, ids.filter(id => id >= lo && id < lo + o.deltaDocs).sorted,
          (a, b) => a == b && a.size == math.min(10, o.deltaDocs))
      }
    }

    /** Delta `i` becomes a new bucket, which is then folded with the oldest
      * live bucket (an unfolded bucket of the base build).
      */
    def write(i: Int): Writes = {
      val delta = ctx.docsDf(inputs.delta(i, o.deltaDocs))
      Util.settle()
      val t0 = System.nanoTime()
      val (_, add) = Util.timed(Trace.span("index.add", "index")(SegmentIndex.addDocuments(delta, dir, newBuckets = 1)))
      Trace.span("search.batch marker", "search")(markerCheck(Seq(i)))
      val fresh = (System.nanoTime() - t0) / 1e9
      r.attempted += 1
      val meta = SegmentIndex.readMeta(dir)
      val picks = Seq(SegmentIndex.liveBucketSet(meta).min, meta.buckets - 1)
      Util.settle()
      val (m, compact) = Util.timed(Trace.span("index.compact", "index")(SegmentIndex.compactBuckets(spark, dir, picks)))
      r.put("index.compact.bytes_rewritten", m.bytes.toDouble, "bytes")
      r.attempted += 1
      Writes(add, fresh, compact)
    }

    val probe = inputs.batchQueries(BatchSize, 1000)
    val baseAnswers = Util.inMemory(baseGen._1, baseGen._2, probe)

    /** A warm full build into a fresh directory, timed after a full
      * collection. It must answer like the first build. Byte identity is
      * recorded, not required: the docstore's range partitioning samples
      * with a seed taken from the RDD id, so two builds in one JVM draw
      * different bucket boundaries once a partition outgrows the sample.
      */
    def rebuild(name: String): Double = {
      val d = ctx.dir(name)
      val df = ctx.docsDf(inputs.corpus)
      Util.settle()
      val (_, ws) = Util.timed(Trace.span("index.build warm", "index")(SegmentIndex.build(df, d, Main.Buckets)))
      val g = Util.loadGeneration(d)
      val ans = Util.inMemory(g._1, g._2, probe)
      r.attempted += 1
      probe.foreach(q => r.checkHits(s"rebuild answer '$q'", ans(q), baseAnswers(q)))
      compareBytes(d)
      Util.deleteTree(d)
      ws
    }

    // Rounds spread over the run; figures are medians over them, so a
    // co-tenant burst that slows a round does not move them.
    val warmS = mutable.ArrayBuffer[Double]()
    val p50s, rates = mutable.ArrayBuffer[Double]()
    val writes = mutable.ArrayBuffer[Writes]()
    val sent = mutable.ArrayBuffer[String]()
    val lat, untraced = mutable.ArrayBuffer[Double]()
    var gen = Util.loadGeneration(dir)
    var j = 1
    (0 until WarmupRounds + Rounds).foreach { i =>
      Util.log(s"round $i")
      // warm batches against the current generation of `dir`
      val round, plainRound = mutable.ArrayBuffer[Double]()
      val answers = mutable.ArrayBuffer[(Seq[String], Map[Int, Seq[(Long, Double)]])]()
      Util.settle()
      ctx.phase(s"batch-warm $i") {
        val end = System.nanoTime() + (o.seconds / Rounds * 1e9).toLong
        while (System.nanoTime() < end || round.size < 2) {
          // traced runs alternate untraced calls: the difference is the tracing cost
          val plain = o.trace && j % 2 == 0
          Trace.on = o.trace && !plain
          val qs = inputs.batchQueries(BatchSize, j)
          val (got, t) = Util.timed(Trace.span("search.batch warm", "search")(SegmentSearch.searchBatch(spark, dir, qs, 10)))
          (if (plain) plainRound else round) += t * 1e3
          answers += (qs -> got)
          j += 1
        }
        Trace.on = o.trace
      }
      r.attempted += answers.size
      sent ++= answers.flatMap(_._1)
      answers.foreach { case (qs, got) => check("searchBatch warm", qs, got, gen) }
      if (i >= WarmupRounds) { lat ++= round; untraced ++= plainRound }
      p50s += Stats.median(round.toSeq)
      rates += BatchSize * round.size / (round.sum / 1e3)

      warmS += ctx.phase(s"build-warm $i")(rebuild(s"batch-warm-$i"))

      writes += ctx.phase(s"write $i")(write(i))
      Trace.on = false
      gen = Util.loadGeneration(dir)
      check(s"searchBatch after write $i", probe, SegmentSearch.searchBatch(spark, dir, probe, 10), gen)
      Trace.on = o.trace
    }

    // the warm-up rounds' figures are dropped; their answers were checked
    Seq(warmS, p50s, rates).foreach(_.remove(0, WarmupRounds))
    writes.remove(0, WarmupRounds)
    r.put("build_s", Stats.median(warmS.toSeq), "s")
    r.put("index.rebuild_identical_frac", Stats.median(identical.toSeq), "ratio")
    r.put("query_p50_ms", Stats.median(p50s.toSeq), "ms")
    r.put("query_tail_ms", Stats.tail(lat.toSeq)._2, "ms")
    r.put("query_throughput_per_s", Stats.median(rates.toSeq), "1/s")
    r.note("batch_window", s"""{"batch_size":$BatchSize,"latency_ms":${Latencies(lat.toIndexedSeq).json},""" +
      s""""distinct_share":${Json.num(Util.distinctShare(sent.toSeq))},"round_p50_ms":${p50s.map(Json.num).mkString("[", ",", "]")}}""")
    if (o.trace) {
      r.put("bench.untraced_p50_ms", Stats.median(untraced.toSeq), "ms")
      r.put("bench.trace_overhead_ms", Stats.median(lat.toSeq) - Stats.median(untraced.toSeq), "ms")
    }
    def median(f: Writes => Double) = Stats.median(writes.map(f).toSeq)
    r.put("add_s", median(_.add), "s")
    r.put("index.add_s", median(_.add), "s")
    r.put("index.freshness_s", median(_.fresh), "s")
    r.put("compact_s", median(_.compact), "s")
    def list(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    r.note("samples_s", s"""{"build":${list(warmS.toSeq)},"add":${list(writes.map(_.add).toSeq)},""" +
      s""""compact":${list(writes.map(_.compact).toSeq)}}""")
    markerCheck(0 until WarmupRounds + Rounds) // every delta still visible after the folds
    Util.deleteTree(dir)
  }
}
