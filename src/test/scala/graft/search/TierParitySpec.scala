package graft.search

import graft.SparkTestBase
import graft.core.{Bm25, QueryParser}
import graft.index.{DocSidecar, IndexBuilder, SegmentIndex}

/** Tier parity at multi-block posting-list sizes: the pinned `ServingEngine`
  * must answer every query family exactly like its distributed `*Batch` twin
  * (ids exact, scores within 1e-9) and like the dataflow `SearchEngine` where
  * one exists. The corpus is seeded and built into 4 segments; its head terms
  * have posting lists of several 128-posting blocks per segment, and a
  * replicated slice forms equal-score tie groups that straddle segments —
  * the shapes the single-block parity specs cannot reach.
  */
class TierParitySpec extends SparkTestBase {

  private val Head = Seq("data", "table", "scan", "merge", "join", "sort", "query", "stream")

  private lazy val corpus: Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(20261018L)
    val cons = "bcdfghklmnprstvw"
    val vows = "aeiou"
    def syl(): String = s"${cons(rnd.nextInt(cons.length))}${vows(rnd.nextInt(vows.length))}"
    val tail = Vector.fill(400)((0 until 2 + rnd.nextInt(2)).map(_ => syl()).mkString).distinct
    def text(): String = {
      val heads = (0 until 6 + rnd.nextInt(20)).map { _ =>
        // skewed head draw: "data" in nearly every doc, "stream" in few
        Head(math.min(Head.size - 1, (math.abs(rnd.nextGaussian()) * 2.5).toInt))
      }
      val tails = (0 until 1 + rnd.nextInt(5)).map(_ => tail(math.min(tail.size - 1, (rnd.nextDouble() * rnd.nextDouble() * tail.size).toInt)))
      rnd.shuffle(heads ++ tails).mkString(" ")
    }
    val langs = Seq("en", "de", "fr")
    val sources = Seq("s1", "s2", "s3", "s4")
    val base = (0L until 2400L).map(i => (i * 7L + 3L, text(), sources(rnd.nextInt(4)), langs(rnd.nextInt(3))))
    // equal-score tie groups: 30 texts x 10 copies with interleaved ids
    val ties = (0L until 30L).flatMap { g =>
      val t = text()
      (0L until 10L).map(r => (100000L + r * 1000L + g, t, sources((g + r).toInt % 4), langs((g + r).toInt % 3)))
    }
    base ++ ties
  }

  private lazy val fixture = {
    val sp = spark
    import sp.implicits._
    val df = corpus.toDF("doc_id", "text", "source", "lang")
    val dir = java.nio.file.Files.createTempDirectory("graft-tierparity").toString
    SegmentIndex.build(df, dir, buckets = 4)
    DocSidecar.ensure(spark, dir)
    val meta = SegmentIndex.readMeta(dir)
    val segs = SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_)).toIndexedSeq
    val store = DocSidecar.openStore(dir).get
    val eng = new SearchEngine(IndexBuilder.build(df).cache())
    (dir, meta, segs, new SegmentSearch.ServingEngine(segs, meta), store, eng)
  }
  private def dir = fixture._1
  private def serving = fixture._4
  private def store = fixture._5
  private def dataflow = fixture._6

  override def afterAll(): Unit = {
    try fixture._5.close() finally super.afterAll()
  }

  private def tail(rank: Int): String = {
    val counts = corpus.flatMap(_._2.split(' ')).filterNot(Head.contains).groupBy(identity).view.mapValues(_.size)
    counts.toSeq.sortBy { case (t, c) => (-c, t) }.apply(rank)._1
  }

  private def ranked(df: org.apache.spark.sql.DataFrame, k: Int): Seq[(Long, Double)] =
    Bm25.sortHits(df.select("doc_id", "score").collect().map(r => (r.getLong(0), r.getDouble(1))).toIndexedSeq).take(k)

  private def same(what: String, got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit = {
    assert(got.map(_._1) == want.map(_._1), s"$what: doc ids differ")
    got.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) <= 1e-9, s"$what: score $a vs $b") }
  }

  private def metaOk(lang: Option[String], source: Option[String])(id: Long): Boolean =
    store.get(id).exists(r => lang.forall(_ == r.lang) && source.forall(_ == r.source))

  test("the fixture has multi-block head lists, 4 segments and tie groups") {
    val segs = fixture._3
    assert(segs.size == 4)
    segs.foreach(seg => assert(seg.terms("data").blocks.size >= 3, s"bucket ${seg.bucket}"))
    assert(corpus.groupBy(_._2).values.count(_.size >= 10) >= 30)
  }

  test("q= AND / OR / NOT: serving == searchBatch == dataflow") {
    val qs = Seq("data table", "data OR scan", "data -stream", "table scan merge",
      "stream OR query -data", "sort join", s"${tail(0)} data", s"${tail(3)} OR ${tail(7)}",
      "data data table", "zzzz", s"${tail(1)} -data")
    val full = qs.map(q => dataflow.searchScored(q))
    Seq(1, 10, 40).foreach { k =>
      val batch = SegmentSearch.searchBatch(spark, dir, qs, k)
      qs.zipWithIndex.foreach { case (q, i) =>
        val sv = serving.search(QueryParser.parse(q), k)
        same(s"'$q' k=$k serving/batch", sv, batch(i))
        same(s"'$q' k=$k serving/dataflow", sv, full(i).take(k))
      }
    }
  }

  test("phrase: serving == phraseBatch == dataflow") {
    val ps = Seq("data table", "data data", "scan merge join", "table data", s"data ${tail(0)}", "stream zzzz")
    val full = ps.map(p => dataflow.searchPhraseScored(p))
    Seq(1, 10).foreach { k =>
      val batch = SegmentSearch.phraseBatch(spark, dir, ps, k)
      ps.zipWithIndex.foreach { case (p, i) =>
        val sv = serving.searchPhrase(p, k, id => store.get(id).map(_.text))
        same(s"'$p' k=$k serving/batch", sv, batch(i))
        same(s"'$p' k=$k serving/dataflow", sv, full(i).take(k))
      }
    }
  }

  test("prefix / wildcard / fuzzy: serving == *Batch == dataflow") {
    val pre = Seq(tail(0).take(2), tail(5).take(3), "d", "zq")
    pre.foreach { p =>
      val sv = serving.searchPrefix(p, 10)
      same(s"prefix '$p' serving/batch", sv, SegmentSearch.prefixBatch(spark, dir, p, 10))
      same(s"prefix '$p' serving/dataflow", sv, ranked(dataflow.prefixScoredDF(p), 10))
    }
    val wild = Seq(s"*${tail(0).takeRight(2)}", s"${tail(2).take(1)}*${tail(2).takeRight(1)}",
      s"*${tail(4).drop(1).take(2)}*", "*ta", "zz*q")
    wild.foreach { w =>
      val sv = serving.searchWildcard(w, 10)
      same(s"wildcard '$w' serving/batch", sv, SegmentSearch.wildcardBatch(spark, dir, w, 10))
      same(s"wildcard '$w' serving/dataflow", sv, ranked(dataflow.wildcardScoredDF(w), 10))
    }
    val fz = Seq((tail(0).updated(1, 'y'), 1), (tail(3) + "x", 1), ("dta", 1), (tail(6).drop(1), 2), ("qqqqqq", 1))
    fz.foreach { case (t, d) =>
      val sv = serving.searchFuzzy(t, 10, maxDist = d)
      same(s"fuzzy '$t'~$d serving/batch", sv, SegmentSearch.fuzzyBatch(spark, dir, t, 10, maxDist = d))
      same(s"fuzzy '$t'~$d serving/dataflow", sv, ranked(dataflow.fuzzyScoredDF(t, d), 10))
    }
  }

  test("suggest and did-you-mean: serving == *Batch == dataflow") {
    Seq("d", tail(0).take(1), tail(3).take(2), "zq").foreach { p =>
      val sv = serving.suggest(p, 5)
      assert(sv == SegmentSearch.suggestBatch(spark, dir, p, 5), s"suggest '$p' serving/batch")
      val df = dataflow.suggestDF(p, 5).collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(sv == df, s"suggest '$p' serving/dataflow")
    }
    val q = s"dta ${tail(0)} ${tail(2).updated(0, 'x')} ${tail(5)}q zzzzzz"
    Seq(1, 2).foreach { d =>
      val sv = serving.didYouMean(q, d)
      assert(sv == SegmentSearch.didYouMeanBatch(spark, dir, q, d), s"did-you-mean ~$d serving/batch")
      val df = dataflow.didYouMeanDF(q, d).collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
      assert(sv == df, s"did-you-mean ~$d serving/dataflow")
    }
  }

  test("filtered q= and filtered phrase: serving == batch == dataflow") {
    val filters = Seq((Some("en"), None), (None, Some("s2")), (Some("de"), Some("s3")))
    val qs = Seq("data table", "data OR scan -merge", s"${tail(0)} OR ${tail(1)}")
    val phrases = Seq("data table", "scan merge")
    val phraseAll = SegmentSearch.phraseBatch(spark, dir, phrases, Int.MaxValue)
    val phraseFull = phrases.map(p => dataflow.searchPhraseScored(p))
    filters.foreach { case (lang, source) =>
      val batch = SegmentSearch.searchFilteredBatch(spark, dir, qs, 10, lang, source)
      qs.zipWithIndex.foreach { case (q, i) =>
        val sv = serving.search(QueryParser.parse(q), 10, Some(metaOk(lang, source)))
        same(s"'$q' $lang/$source serving/batch", sv, batch(i))
        same(s"'$q' $lang/$source serving/dataflow", sv, ranked(dataflow.filteredScoredDF(q, lang, source), 10))
      }
      // a filtered phrase composes through textOf: a doc failing the filter yields no text
      phrases.zipWithIndex.foreach { case (p, i) =>
        val sv = serving.searchPhrase(p, 10, id => store.get(id).filter(r => metaOk(lang, source)(id)).map(_.text))
        same(s"phrase '$p' $lang/$source serving/batch", sv, phraseAll(i).filter(h => metaOk(lang, source)(h._1)).take(10))
        same(s"phrase '$p' $lang/$source serving/dataflow", sv, phraseFull(i).filter(h => metaOk(lang, source)(h._1)).take(10))
      }
    }
  }
}
