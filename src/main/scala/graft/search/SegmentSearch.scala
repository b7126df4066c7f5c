package graft.search

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import scala.collection.parallel.CollectionConverters._

import graft.core.{Bm25, EditDistance, ParsedQuery, Phrase, QueryParser, Tokenizer}
import graft.index.{DocSidecar, SegmentIndex}
import graft.index.DocSidecar.DocRow
import graft.index.SegmentIndex.LoadedSegment

/** Query serving over on-disk segments (the scale path / EP2).
  *
  * Both segment tiers run one per-segment layer: one term-match rule
  * (`TermMatch` / `matchTerms`) for every dictionary-expanded family and the
  * idf pass, block-max WAND (`Wand.searchSegment`) for scoring, and one
  * rank-order verifier (`verifyInRankOrder`) for phrase adjacency and
  * metadata filters. The tiers differ only in fan-out and merge:
  *
  * Batch mode (how QPS is measured): queries are broadcast, segments are a
  * Dataset of file paths fanned out over executors; each task loads (or hits
  * the executor-local cache of) its segments and runs the per-segment layer
  * locally; per-(query, segment) top-k heaps come back — k+slack rows per
  * query per segment, NOT candidate sets — and merge distributed with the
  * reference's epsilon comparator. No shuffle on the search side at all.
  *
  * Serving mode (`ServingEngine`): all segments pinned in the JVM (the
  * searchd model), scored in a loop or in parallel and merged in-process.
  */
object SegmentSearch {

  /** Executor-local caches keyed by file identity (`SegmentIndex.fileKey`):
    * one load per (executor, file) across all queries and jobs in the JVM,
    * and an in-place rebuild of the same path (resume invalidation, changed
    * corpus) is re-loaded instead of served stale.
    */
  @transient private lazy val segmentCache = new ConcurrentHashMap[String, LoadedSegment]()
  @transient private lazy val sidecarCache = new ConcurrentHashMap[String, DocSidecar.BucketReader]()

  /** Driver-side global-df cache, keyed by index state (dir, n, sumDl,
    * segment-file fingerprint).
    */
  @transient private lazy val dfCaches =
    new ConcurrentHashMap[(String, Long, Long, String), ConcurrentHashMap[String, Long]]()

  private def loadByIdentity[T](cache: ConcurrentHashMap[String, T], path: String)(
      close: T => Unit, load: String => T): T = {
    val key = SegmentIndex.fileKey(path)
    val hit = cache.get(key)
    if (hit != null) return hit
    val keys = cache.keys()
    while (keys.hasMoreElements) { // drop superseded versions of this path
      val k = keys.nextElement()
      if (k.startsWith(path + "|") && k != key) {
        // Close the evicted entry's lazy FileChannel — long-lived executors
        // must not leak a descriptor per superseded file. A task racing an
        // in-place rebuild of the same path may see a ClosedChannelException
        // and retry — loud and correct (the bytes under it changed anyway).
        val old = cache.remove(k)
        if (old != null) close(old)
      }
    }
    cache.computeIfAbsent(key, _ => load(path))
  }

  /** Lazy load: executor tasks read the term dictionary only; posting
    * records load on demand for the query terms that hit this segment.
    */
  def loadCached(path: String): LoadedSegment =
    loadByIdentity(segmentCache, path)(_.close(), SegmentIndex.loadSegment(_, eager = false))

  /** Sidecar reader for batch verification: pins 20 B/doc (dictionary
    * only); text rows are positional reads.
    */
  def loadCachedSidecar(path: String): DocSidecar.BucketReader =
    loadByIdentity(sidecarCache, path)(_.close(), DocSidecar.openBucket)

  /** The doc sidecar beside a segment file: swap only the FILENAME prefix (a
    * dir component containing "segment-" must not be rewritten).
    */
  private def sidecarOf(segmentFile: String): String = {
    val sp = java.nio.file.Paths.get(segmentFile)
    sp.resolveSibling(sp.getFileName.toString.replace("segment-", "docs-")).toString
  }

  /** Segment-file fan-out Dataset: files sliced straight into tasks via
    * `parallelize(files, n)` — r6: the old `createDataset(...).repartition(n)`
    * paid a full Exchange stage (map + fetch) in EVERY batch job before any
    * search work started. Slice count keeps the one-segment-per-task
    * granularity up to 4x core count (straggler rebalance: with 2
    * segments/task a single slow pair doubles the stage wall), grouping only
    * past that.
    */
  private def segmentFileDs(spark: SparkSession, files: Seq[String]): Dataset[String] = {
    val n = math.max(1, math.min(files.size, 4 * spark.sparkContext.defaultParallelism))
    spark.createDataset(spark.sparkContext.parallelize(files, n))(Encoders.STRING)
  }

  final case class QueryHit(qid: Int, docId: Long, score: Double)
  final case class RankedHit(qid: Int, rank: Int, docId: Long, score: Double)

  /** The ONE term-match rule shared by every tier's dictionary-expanded
    * families (prefix, wildcard, fuzzy, suggest, did-you-mean) and the batch
    * idf pass (exact terms). Any faster way of listing matches (sorted or
    * reversed vocabulary, SymSpell) must list exactly the terms `accepts`
    * admits. The companion's constructors normalize user input.
    */
  sealed trait TermMatch extends Serializable { def accepts(term: String): Boolean }

  object TermMatch {
    final case class Exact(terms: Seq[String]) extends TermMatch {
      def accepts(term: String): Boolean = terms.contains(term)
    }
    final case class Prefix(p: String) extends TermMatch {
      def accepts(term: String): Boolean = term.startsWith(p)
    }
    /** Compiled glob ([[graft.core.Glob.matches]]) — the same term set as
      * the dataflow tier's pushed-down LIKE.
      */
    final case class Glob(g: String) extends TermMatch {
      def accepts(term: String): Boolean = graft.core.Glob.matches(g, term)
    }
    /** Levenshtein <= maxDist (banded DP, DuckDB `levenshtein` semantics),
      * after the necessary length-band pre-check.
      */
    final case class Fuzzy(t: String, maxDist: Int) extends TermMatch {
      def accepts(term: String): Boolean =
        math.abs(term.length - t.length) <= maxDist && EditDistance.within(term, t, maxDist)
    }

    private def oneToken(s: String): Option[String] =
      Tokenizer.tokenize(s) match { case Seq(t) => Some(t); case _ => None }
    def prefix(s: String): Option[TermMatch] = oneToken(s).map(Prefix)
    def glob(s: String): Option[TermMatch] = graft.core.Glob.normalize(s).map(Glob)
    def fuzzy(s: String, maxDist: Int): Option[TermMatch] = oneToken(s).map(Fuzzy(_, maxDist))
  }

  /** (term, LOCAL df) for every term of `seg`'s dictionary that `m` accepts.
    * Exact terms are hash lookups; every other rule walks the dictionary.
    */
  def matchTerms(seg: LoadedSegment, m: TermMatch): Iterator[(String, Long)] = m match {
    case TermMatch.Exact(ts) => ts.iterator.flatMap(t => seg.terms.get(t).map(td => (t, td.df)))
    case _ => seg.terms.iterator.collect { case (t, td) if m.accepts(t) => (t, td.df) }
  }

  /** The ONE did-you-mean pick rule (the oracle contract shared by all
    * tiers): exact presence wins; else argmax global df with byte-lex tie;
    * else the term itself with df 0. `cands` are (candidate, global df)
    * pairs already verified within the edit-distance radius of `t`.
    */
  private[search] def pickSuggestion(t: String, cands: Iterable[(String, Long)]): (String, Long) = {
    val cs = cands.toSeq
    cs.find(_._1 == t)
      .orElse(cs.reduceOption((a, b) => if (b._2 > a._2 || (b._2 == a._2 && b._1 < a._1)) b else a))
      .getOrElse((t, 0L))
  }

  /** A doc-level filter over a doc's sidecar row: phrase adjacency or the
    * lang/source metadata filter. Plain data, so it rides the batch
    * broadcast under any serializer.
    */
  sealed trait DocFilter extends (DocRow => Boolean) with Serializable
  final case class Adjacent(terms: IndexedSeq[String]) extends DocFilter {
    def apply(r: DocRow): Boolean = Phrase.containsPhrase(r.text, terms)
  }
  /** Metadata equality filter (None = any value). */
  final case class MetaEq(lang: Option[String], source: Option[String]) extends DocFilter {
    def apply(r: DocRow): Boolean = lang.forall(_ == r.lang) && source.forall(_ == r.source)
  }

  /** Accept ranked hits passing `pred` IN RANK ORDER, early-exiting at k
    * accepted (exact when the predicate only filters — the k first
    * survivors ARE the filtered top-k) and hard-bounded by `maxVerify`
    * checked candidates (a never-matching predicate on a frequent-term
    * query must not become a full-corpus sidecar scan from one request).
    */
  private[search] def verifyInRankOrder(
      ranked: Seq[(Long, Double)],
      k: Int,
      pred: Long => Boolean,
      maxVerify: Int): Seq[(Long, Double)] = {
    val kk = math.max(1, k)
    val out = Seq.newBuilder[(Long, Double)]
    var found = 0
    var checked = 0
    val it = ranked.iterator
    while (found < kk && checked < maxVerify && it.hasNext) {
      val hit = it.next()
      checked += 1
      if (pred(hit._1)) {
        out += hit
        found += 1
      }
    }
    out.result()
  }

  /** Global idf per positive query term from IN-MEMORY segments: global df =
    * sum of per-segment local dfs (the Lucene sharding model — lets segments
    * be appended incrementally without rewriting stats into old files).
    */
  def globalIdfs(
      segments: Seq[LoadedSegment],
      n: Long,
      terms: Seq[String]
  ): Map[String, Double] =
    terms.distinct.flatMap { t =>
      val df = segments.iterator.flatMap(_.terms.get(t)).map(_.df).sum
      if (df > 0) Some(t -> Bm25.idf(n, df)) else None
    }.toMap

  // ------------------------------------------------------------ batch tier

  /** Distributed batch search: all queries against all segments.
    * Returns per query the reference-ranked top-k (epsilon comparator).
    */
  def searchBatch(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[String],
      k: Int
  ): Map[Int, Seq[(Long, Double)]] =
    scoreBatch(spark, indexDir, queries.map(q => (QueryParser.parse(q), None)), k)

  /** Distributed PHRASE batch (SURVEY §2.12): the AND intersection of the
    * phrase's terms, adjacency verified per segment against its sidecar.
    */
  def phraseBatch(
      spark: SparkSession,
      indexDir: String,
      phrases: Seq[String],
      k: Int
  ): Map[Int, Seq[(Long, Double)]] =
    scoreBatch(spark, indexDir, phrases.map { p =>
      val terms = Tokenizer.tokenize(p).toIndexedSeq
      (ParsedQuery(terms, Nil, isOr = false), Some(Adjacent(terms)))
    }, k)

  /** Distributed metadata-filtered batch search — EXTENSION (deferred Phase 9
    * "filters"): the lang/source filter verified per segment against its
    * sidecar, exactly like phrase adjacency.
    */
  def searchFilteredBatch(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[String],
      k: Int,
      lang: Option[String],
      source: Option[String]
  ): Map[Int, Seq[(Long, Double)]] =
    scoreBatch(spark, indexDir, queries.map(q => (QueryParser.parse(q), Some(MetaEq(lang, source)))), k)

  /** The ONE scoring fan-out of the batch tier. Phase 1 (tiny): global dfs
    * for the batch's terms (`batchIdfs`), which also warms the executor
    * segment caches. Phase 2: each task runs every query's WAND over its
    * segments and emits per-(query, segment) top-k, then the distributed
    * per-query merge.
    *
    * A query with a verification (phrase adjacency, metadata filter) instead
    * enumerates its segment's FULL match set (k unbounded — the filter must
    * precede truncation for an exact top-k) and checks the sibling sidecar
    * row in rank order until k pass: any global top-k survivor in this
    * segment is among its first k survivors, so the merge stays exact, text
    * reads drop to ~k / selectivity per segment, and no candidate list
    * leaves the task. Unbounded (no maxVerify) — this tier answers the
    * oracle exactly.
    */
  private def scoreBatch(
      spark: SparkSession,
      indexDir: String,
      queries: Seq[(ParsedQuery, Option[DocFilter])],
      k: Int
  ): Map[Int, Seq[(Long, Double)]] = {
    val meta = SegmentIndex.readMeta(indexDir)
    if (queries.exists(_._2.nonEmpty)) DocSidecar.ensure(spark, indexDir) // idempotent; derived data
    val files = SegmentIndex.liveSegmentFiles(indexDir, meta)
    val fileDs = segmentFileDs(spark, files)
    val idfs = batchIdfs(indexDir, meta, files, fileDs, queries.flatMap(_._1.terms).distinct)
    val avgdl = meta.avgdl
    val bc = spark.sparkContext.broadcast((queries.zipWithIndex, idfs))

    val hits = fileDs
      .mapPartitions { paths =>
        val (qs, idfMap) = bc.value
        paths.flatMap { p =>
          val seg = loadCached(p)
          lazy val sidecar = loadCachedSidecar(sidecarOf(p))
          qs.iterator.flatMap {
            case ((pq, None), qid) =>
              Wand.searchSegment(seg, pq, idfMap, avgdl, k).iterator.map(h => QueryHit(qid, h.docId, h.score))
            case ((pq, Some(ok)), qid) =>
              val all = Wand.searchSegment(seg, pq, idfMap, avgdl, Int.MaxValue)
              verifyInRankOrder(Bm25.sortHits(all.map(h => (h.docId, h.score))), k,
                d => sidecar.get(d).exists(ok), Int.MaxValue)
                .iterator.map { case (d, s) => QueryHit(qid, d, s) }
          }
        }
      }(Encoders.product[QueryHit])

    mergeDistributed(hits, queries.size, k)
  }

  /** The ONE dictionary fan-out of the batch tier: (term, GLOBAL df) for
    * every dictionary term that one of `ms` accepts — local dfs summed over
    * segments (the Lucene model). The vocabulary never leaves the executors;
    * only matched (term, local df) rows come back.
    */
  private def dictionaryBatch(fileDs: Dataset[String], ms: Seq[TermMatch]): Map[String, Long] =
    fileDs
      .mapPartitions { paths =>
        paths.flatMap { p =>
          val seg = loadCached(p)
          ms.iterator.flatMap(matchTerms(seg, _)).distinctBy(_._1)
        }
      }(Encoders.product[(String, Long)])
      .collect()
      .groupMapReduce(_._1)(_._2)(_ + _)

  private def liveFileDs(spark: SparkSession, indexDir: String): Dataset[String] =
    segmentFileDs(spark, SegmentIndex.liveSegmentFiles(indexDir))

  /** Phase 1 of a scoring batch: global df for the batch's positive terms.
    * Results are cached per INDEX STATE — (dir, n, sumDl) plus a fingerprint
    * of the segment files' identities, so any add/compact/in-place rebuild
    * (even one that happens to preserve n and sumDl) changes the key.
    * Repeated batches against a warm index skip the job entirely.
    */
  private def batchIdfs(
      indexDir: String,
      meta: SegmentIndex.Meta,
      files: Seq[String],
      fileDs: Dataset[String],
      allTerms: Seq[String]
  ): Map[String, Double] = {
    val filesFp = SegmentIndex.sha256Hex(
      files.map(SegmentIndex.fileKey).mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val dfCache = dfCaches.computeIfAbsent(
      (indexDir, meta.n, meta.sumDl, filesFp), _ => new ConcurrentHashMap[String, Long]())
    val missing = allTerms.filterNot(dfCache.containsKey)
    if (missing.nonEmpty) {
      val found = dictionaryBatch(fileDs, Seq(TermMatch.Exact(missing)))
      missing.foreach(t => dfCache.put(t, found.getOrElse(t, 0L)))
    }
    allTerms.flatMap { t =>
      val df = dfCache.get(t)
      if (df > 0) Some(t -> Bm25.idf(meta.n, df)) else None
    }.toMap
  }

  /** Per-query merge runs DISTRIBUTED (one group per query, epsilon
    * comparator inside) so the driver collects only nQueries * k final rows
    * — a driver-side merge would grow with segment count and anti-scale.
    */
  private def mergeDistributed(
      hits: Dataset[QueryHit],
      nQueries: Int,
      k: Int
  ): Map[Int, Seq[(Long, Double)]] = {
    val kk = k
    val merged = hits
      .groupByKey(_.qid)(Encoders.scalaInt)
      .flatMapGroups { (qid, it) =>
        Bm25.sortHits(it.map(h => (h.docId, h.score)).toIndexedSeq)
          .take(kk)
          .zipWithIndex
          .map { case ((d, s), i) => RankedHit(qid, i + 1, d, s) }
          .iterator
      }(Encoders.product[RankedHit])
      .collect()

    val byQ = merged.groupBy(_.qid)
    (0 until nQueries).map { qid =>
      qid -> byQ.getOrElse(qid, Array.empty[RankedHit]).sortBy(_.rank).map(h => (h.docId, h.score)).toSeq
    }.toMap
  }

  /** Distributed batch twins of the serving tier's expanded queries
    * (SURVEY §2.12/§2.15): the pattern expands through the dictionary
    * fan-out, then the byte-lex-sorted union scores OR-mode through the
    * scoring fan-out — identical semantics to the dataflow and serving
    * tiers, so all three answer the same oracle SQL.
    */
  def prefixBatch(spark: SparkSession, indexDir: String, prefix: String, k: Int): Seq[(Long, Double)] =
    expansionBatch(spark, indexDir, TermMatch.prefix(prefix), k)

  def wildcardBatch(spark: SparkSession, indexDir: String, pattern: String, k: Int): Seq[(Long, Double)] =
    expansionBatch(spark, indexDir, TermMatch.glob(pattern), k)

  def fuzzyBatch(spark: SparkSession, indexDir: String, term: String, k: Int, maxDist: Int = 1): Seq[(Long, Double)] =
    expansionBatch(spark, indexDir, TermMatch.fuzzy(term, maxDist), k)

  private def expansionBatch(spark: SparkSession, indexDir: String, m: Option[TermMatch], k: Int): Seq[(Long, Double)] =
    m.map(m => dictionaryBatch(liveFileDs(spark, indexDir), Seq(m)).keys.toSeq.sorted) match {
      case Some(terms) if terms.nonEmpty =>
        scoreBatch(spark, indexDir, Seq((ParsedQuery(terms, Nil, isOr = true), None)), k)(0)
      case _ => Nil
    }

  /** Distributed prefix suggestions — EXTENSION (deferred Phase 9
    * "autocomplete"), the batch twin of `ServingEngine.suggest`: global df
    * desc, then term asc.
    */
  def suggestBatch(spark: SparkSession, indexDir: String, prefix: String, k: Int): Seq[(String, Long)] =
    TermMatch.prefix(prefix) match {
      case Some(m) => dictionaryBatch(liveFileDs(spark, indexDir), Seq(m)).toSeq.sortBy { case (t, df) => (-df, t) }.take(k)
      case None => Nil
    }

  /** Distributed did-you-mean — the batch twin of `SearchEngine.didYouMeanDF`
    * and `ServingEngine.didYouMean`: one dictionary fan-out collects every
    * term's Levenshtein <= maxDist candidates with their global dfs, then the
    * shared pick rule runs per term. Output rows: (pos, term, suggestion, df).
    */
  def didYouMeanBatch(
      spark: SparkSession,
      indexDir: String,
      query: String,
      maxDist: Int = 1
  ): Seq[(Long, String, String, Long)] = {
    val terms = QueryParser.parse(query).terms
    if (terms.isEmpty) return Nil
    val dfs = dictionaryBatch(liveFileDs(spark, indexDir), terms.distinct.map(TermMatch.Fuzzy(_, maxDist)))
    terms.zipWithIndex.map { case (t, i) =>
      val m = TermMatch.Fuzzy(t, maxDist)
      val (s, df) = pickSuggestion(t, dfs.filter(c => m.accepts(c._1)))
      (i + 1L, t, s, df)
    }
  }

  /** Same batch contract served from pre-loaded in-memory segments (no Spark
    * job — the reference's HTTP serving model, for latency/QPS benchmarks on
    * a warmed index). Parallelism = one task per segment via parallel
    * collections.
    */
  def searchBatchInMemory(
      segments: Seq[LoadedSegment],
      meta: SegmentIndex.Meta,
      queries: Seq[String],
      k: Int
  ): Map[Int, Seq[(Long, Double)]] = {
    val parsed = queries.zipWithIndex.map { case (q, i) => (i, QueryParser.parse(q)) }
    val idfs = globalIdfs(segments, meta.n, parsed.flatMap(_._2.terms))
    val thetas = parsed.map { case (qid, _) => qid -> new Wand.SharedTheta }.toMap
    val hits = segments.par
      .flatMap { seg =>
        parsed.flatMap { case (qid, pq) =>
          Wand.searchSegment(seg, pq, idfs, meta.avgdl, k, thetas(qid))
            .map(h => QueryHit(qid, h.docId, h.score))
        }
      }
      .seq
      .toArray
    mergeHits(hits, queries.size, k)
  }

  /** EP2 step 7: decorate one query's ranked top-k with snippets from the
    * docstore parquet (doc_id pushdown prunes row groups — the store is
    * doc_id-range sorted).
    */
  def searchWithSnippets(
      spark: SparkSession,
      indexDir: String,
      query: String,
      k: Int
  ): Seq[Hit] = {
    val top = searchBatch(spark, indexDir, Seq(query), k)(0)
    if (top.isEmpty) return Nil
    val ids = top.map(_._1)
    val pq = QueryParser.parse(query)
    val rows = spark.read
      .parquet(s"$indexDir/docstore")
      .filter(org.apache.spark.sql.functions.col("doc_id").isin(ids: _*))
      .select("doc_id", "text", "source", "lang")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getString(3))))
      .toMap
    top.map { case (id, s) =>
      val (text, source, lang) = rows.getOrElse(id, ("", "", ""))
      Hit(id, s, graft.core.Snippets.makeSnippet(text, pq.terms), source, lang)
    }
  }

  // ---------------------------------------------------------- serving tier

  /** Default hard bound on candidates a serving request verifies (phrase
    * adjacency, metadata filter) — see `verifyInRankOrder`.
    */
  private val MaxVerify = 100000

  /** Long-lived in-memory serving engine (the searchd model): segments
    * pinned, per-term global idf cached across requests, and — for the dense
    * queries that dominate tail latency — segments scored IN PARALLEL within
    * one request on the shared ForkJoin pool (work-stealing keeps total
    * parallelism bounded under concurrent clients). One instance serves the
    * HTTP endpoint and the latency benchmarks.
    *
    * Phrase and filter verification run AFTER the merge, bounded by
    * `maxVerify`: sidecar reads stay near k / selectivity per request, where
    * per-segment checks would multiply them by up to the segment count.
    */
  final class ServingEngine(
      val segments: IndexedSeq[LoadedSegment],
      val meta: SegmentIndex.Meta,
      // deletion-index depth for the fuzzy family: 1 (default) answers
      // maxDist=1 without a vocab scan; 2 (opt-in per generation — r6,
      // VERDICT r5 #5 — ~5-6x the depth-1 index memory) extends that to
      // maxDist=2. Radii past the depth fall back to the dictionary scan.
      symspellDepth: Int = 1
  ) {
    private val idfCache = new ConcurrentHashMap[String, java.lang.Double]()
    // SymSpell deletion neighborhood (SURVEY §2.14's 100 TB shape for the
    // fuzzy family): built once per serving generation, and ONLY when the
    // first fuzzy/did-you-mean request arrives (lazy) — per-request cost is
    // then O(|term|^depth) probes + the verified candidate set, not O(vocab)
    private lazy val symspell: SymSpell =
      SymSpell.build(segments.iterator.flatMap(_.terms.keysIterator), symspellDepth)
    // Byte-lex-sorted global vocabulary — the in-memory twin of the v5
    // dictionary footer's on-disk sort order: prefix expansion and suggest
    // become an O(log V) binary search + an O(|matches|) range walk instead
    // of an O(V) scan per request. Built lazily once per serving generation,
    // only when a prefix-family request arrives.
    private lazy val sortedVocab: Array[String] = {
      val set = new java.util.HashSet[String]()
      segments.foreach(_.terms.keysIterator.foreach(set.add))
      val arr = set.toArray(new Array[String](set.size))
      java.util.Arrays.sort(arr, java.util.Comparator.naturalOrder[String]())
      arr
    }
    // Reversed-term dictionary (r6, VERDICT r5 #4): every vocab term
    // REVERSED, sorted — a `*bar` request becomes a range scan on `rab`
    // instead of an O(vocab) walk per request. Built lazily once per
    // serving generation, only when the first leading-wildcard request
    // arrives; memory = one extra String per term.
    private lazy val reversedVocab: Array[String] = {
      val v = sortedVocab
      val arr = new Array[String](v.length)
      var i = 0
      while (i < v.length) { arr(i) = v(i).reverse; i += 1 }
      java.util.Arrays.sort(arr, java.util.Comparator.naturalOrder[String]())
      arr
    }

    /** All terms of the sorted array `v` with prefix `p`, in `v`'s order. */
    private def range(v: Array[String], p: String): Seq[String] = {
      var lo = java.util.Arrays.binarySearch(v.asInstanceOf[Array[AnyRef]], p)
      if (lo < 0) lo = -lo - 1
      var hi = lo
      while (hi < v.length && v(hi).startsWith(p)) hi += 1
      scala.collection.immutable.ArraySeq.unsafeWrapArray(java.util.Arrays.copyOfRange(v, lo, hi))
    }

    /** The terms `m` accepts over the pinned segments, byte-lex ascending,
      * at most `maxTerms` (the byte-lex first) — exactly `matchTerms`' set,
      * listed through the serving accelerators: a sorted-vocab range for a
      * prefix or a glob's literal head (`foo*bar` walks only foo*), a
      * reversed-vocab range for a glob's literal tail (`*bar`), SymSpell
      * probes for fuzzy radii within the built depth. Only an unanchored
      * glob (`*a*`) walks the whole vocabulary; radii past the built depth
      * scan the dictionaries.
      */
    private def expand(m: TermMatch, maxTerms: Int): Seq[String] = m match {
      case TermMatch.Prefix(p) => range(sortedVocab, p).take(maxTerms)
      case TermMatch.Glob(g) =>
        val head = g.takeWhile(_ != '*')
        val tail = g.reverse.takeWhile(_ != '*')
        if (head.nonEmpty) range(sortedVocab, head).iterator.filter(m.accepts).take(maxTerms).toSeq
        else if (tail.nonEmpty) range(reversedVocab, tail).map(_.reverse).filter(m.accepts).sorted.take(maxTerms)
        else sortedVocab.iterator.filter(m.accepts).take(maxTerms).toSeq
      case TermMatch.Fuzzy(t, d) if d <= symspellDepth => symspell.neighbors(t, d).take(maxTerms)
      case _ => segments.iterator.flatMap(matchTerms(_, m).map(_._1)).toSeq.distinct.sorted.take(maxTerms)
    }

    private val inFlight = new java.util.concurrent.atomic.AtomicInteger(0)
    // Adaptive intra-request parallelism: fan a request's segments out across
    // cores only while few requests are in flight (cuts unloaded latency);
    // under saturation each request runs serially on its own client thread —
    // fanning out there only adds subtask queueing delay to the tail while
    // total throughput is already core-bound.
    private val parThreshold =
      math.max(2, Runtime.getRuntime.availableProcessors() / 4)

    private def dfOf(t: String): Long = segments.iterator.flatMap(_.terms.get(t)).map(_.df).sum

    private def idfOf(t: String): Double =
      idfCache.computeIfAbsent(t, tt => {
        val df = dfOf(tt)
        if (df > 0) Bm25.idf(meta.n, df) else Double.NaN // NaN marks absent
      })

    /** The ONE serving fan-out: every pinned segment's WAND top-k (shared
      * cross-segment theta), ranked with the reference epsilon comparator.
      */
    private def ranked(pq: ParsedQuery, k: Int): Seq[(Long, Double)] = {
      val load = inFlight.incrementAndGet()
      try {
        val idfs = pq.terms.distinct
          .flatMap { t => val v = idfOf(t); if (v.isNaN) None else Some(t -> v) }
          .toMap
        // an unbounded enumeration never fills a heap: no threshold to share
        val shared = if (k == Int.MaxValue) null else new Wand.SharedTheta
        def one(seg: LoadedSegment) = Wand.searchSegment(seg, pq, idfs, meta.avgdl, k, shared)
        val raw =
          if (segments.length > 1 && load <= parThreshold) segments.par.flatMap(one).seq
          else segments.flatMap(one)
        Bm25.sortHits(raw.map(h => (h.docId, h.score)))
      } finally inFlight.decrementAndGet()
    }

    /** Ranked top-k (reference epsilon comparator) for one query. */
    def search(query: String, k: Int): Seq[(Long, Double)] =
      search(QueryParser.parse(query), k)

    /** Ranked top-k for one query. With a `filter` (the Phase-9 metadata
      * filter, or phrase adjacency) the FULL enumeration is ranked and the
      * filter verified in rank order with early exit at k accepted — exact,
      * because a filter only restricts candidates and never re-weights —
      * and hard-bounded by `maxVerify` checked candidates.
      */
    def search(
        pq: ParsedQuery,
        k: Int,
        filter: Option[Long => Boolean] = None,
        maxVerify: Int = MaxVerify): Seq[(Long, Double)] =
      if (pq.terms.isEmpty) Nil
      else filter match {
        case None => ranked(pq, k).take(k)
        case Some(ok) => verifyInRankOrder(ranked(pq, Int.MaxValue), k, ok, maxVerify)
      }

    /** Phrase-adjacent top-k over segments — EXTENSION (the reference's
      * deferred phrase phase; see `graft.core.Phrase` and SURVEY §2.12): the
      * AND intersection of the phrase's terms (posting-level work only; score
      * pruning cannot apply before the adjacency filter without losing
      * exactness), adjacency verified through `textOf` in rank order. The
      * phrase only FILTERS, so expected text reads ≈ k / selectivity;
      * `maxVerify` bounds the pathological frequent-term phrase that never
      * occurs adjacently (best-effort-truncated past the cap instead of a
      * full-corpus text scan from one cheap HTTP request).
      */
    def searchPhrase(
        phrase: String,
        k: Int,
        textOf: Long => Option[String],
        maxVerify: Int = MaxVerify): Seq[(Long, Double)] = {
      val terms = Tokenizer.tokenize(phrase).toIndexedSeq
      search(ParsedQuery(terms, Nil, isOr = false), k,
        Some(id => textOf(id).exists(Phrase.containsPhrase(_, terms))), maxVerify)
    }

    /** Prefix top-k — EXTENSION (SURVEY §2.12): the expansion scored OR-mode
      * in byte-lex term order (matching `SearchEngine.prefixScoredDF`).
      * Default UNCAPPED so this tier scores the exact term set the dataflow
      * twin does (tier parity is the oracle contract); `maxTerms` is an
      * opt-in latency guard for degenerate one-letter prefixes — a cap makes
      * results diverge from the dataflow tier on large vocabularies.
      */
    def searchPrefix(
        prefix: String,
        k: Int,
        maxTerms: Int = Int.MaxValue,
        filter: Option[Long => Boolean] = None): Seq[(Long, Double)] =
      searchExpanded(TermMatch.prefix(prefix), k, maxTerms, filter)

    /** General wildcard (`*bar`, `foo*bar`) — prefix generalized. */
    def searchWildcard(
        pattern: String,
        k: Int,
        maxTerms: Int = Int.MaxValue,
        filter: Option[Long => Boolean] = None): Seq[(Long, Double)] =
      searchExpanded(TermMatch.glob(pattern), k, maxTerms, filter)

    /** Typo-tolerant top-k — EXTENSION (the reference's own competitive-gap
      * row, COMMERCIAL_ROADMAP.md:31): every term within Levenshtein <=
      * `maxDist`, scored like `searchPrefix`.
      */
    def searchFuzzy(
        term: String,
        k: Int,
        maxDist: Int = 1,
        maxTerms: Int = Int.MaxValue,
        filter: Option[Long => Boolean] = None): Seq[(Long, Double)] =
      searchExpanded(TermMatch.fuzzy(term, maxDist), k, maxTerms, filter)

    private def searchExpanded(
        m: Option[TermMatch],
        k: Int,
        maxTerms: Int,
        filter: Option[Long => Boolean]): Seq[(Long, Double)] =
      m.map(expand(_, maxTerms)) match {
        case Some(terms) if terms.nonEmpty => search(ParsedQuery(terms, Nil, isOr = true), k, filter)
        case _ => Nil
      }

    /** Prefix term suggestions — EXTENSION (the reference's deferred Phase 9
      * "autocomplete"): top-k dictionary terms for a prefix, ranked by GLOBAL
      * df (sum of per-segment local dfs) desc, then term asc —
      * O(log V + |matches| x segments) per request, never O(V).
      */
    def suggest(prefix: String, k: Int): Seq[(String, Long)] =
      TermMatch.prefix(prefix) match {
        case Some(m) => expand(m, Int.MaxValue).map(t => t -> dfOf(t)).sortBy { case (t, df) => (-df, t) }.take(k)
        case None => Nil
      }

    /** Serving twin of `SearchEngine.didYouMeanDF` — the shared pick rule
      * over each term's fuzzy candidates; global df = Σ of the segments'
      * local dfs, so the answer is bit-identical to the dataflow tier's.
      */
    def didYouMean(query: String, maxDist: Int = 1): Seq[(Long, String, String, Long)] =
      QueryParser.parse(query).terms.zipWithIndex.map { case (t, i) =>
        val cands = expand(TermMatch.Fuzzy(t, maxDist), Int.MaxValue)
        val (s, df) = pickSuggestion(t, cands.view.map(c => (c, dfOf(c))))
        (i + 1L, t, s, df)
      }

    /** Learning-to-rank re-rank — EXTENSION (the roadmap's optional Phase 10
      * "LTR" row; see [[graft.search.Ltr]] for the model and the distributed
      * trainer). Serving twin of `Ltr.featuresDF` + `Ltr.rerankDF`: the
      * exact full OR enumeration (k unbounded → the WAND threshold never
      * engages, scores are the same global-idf BM25 the micro re-rank gates
      * use) supplies `f_bm25_r`; one decoded-posting walk per distinct query
      * term supplies the integer coverage features (matched count, dl, Σtf,
      * max tf — a doc lives in exactly one segment, so per-segment feature
      * maps never collide); the integer model combines them and ranks
      * (ltr_r desc, docId asc). Returns (docId, ltr_r).
      *
      * Cost: O(Σ posting lengths of the query terms) per request — the same
      * bound as the enumeration itself; no text or sidecar reads.
      */
    def searchLtr(query: String, w: Ltr.Weights, k: Int): Seq[(Long, Long)] = {
      val pq = QueryParser.parse(query)
      if (pq.terms.isEmpty) return Nil
      val orPq = pq.copy(isOr = true)
      val hits = search(orPq, Int.MaxValue)
      if (hits.isEmpty) return Nil
      val distinct = pq.terms.distinct
      val feats = new java.util.HashMap[Long, Array[Long]]() // matched, dl, tfsum, maxtf
      segments.foreach { seg =>
        distinct.foreach { t =>
          seg.postings(t).foreach { p =>
            var f = feats.get(p.docId)
            if (f == null) { f = new Array[Long](4); feats.put(p.docId, f) }
            f(0) += 1L
            f(1) = p.dl.toLong
            f(2) += p.tf.toLong
            if (p.tf.toLong > f(3)) f(3) = p.tf.toLong
          }
        }
      }
      hits
        .map { case (id, s) =>
          val f = feats.get(id)
          val ltr = w.wBm25 * math.round(s * 1e6) + w.wMatched * f(0) +
            w.wDl * f(1) + w.wTfSum * f(2) + w.wMaxTf * f(3)
          (id, ltr)
        }
        .sortBy { case (id, r) => (-r, id) }
        .take(k)
    }
  }

  private def mergeHits(hits: Array[QueryHit], nQueries: Int, k: Int): Map[Int, Seq[(Long, Double)]] = {
    val byQ = hits.groupBy(_.qid)
    (0 until nQueries).map { qid =>
      val ranked = Bm25
        .sortHits(byQ.getOrElse(qid, Array.empty[QueryHit]).map(h => (h.docId, h.score)).toIndexedSeq)
        .take(k)
      qid -> ranked
    }.toMap
  }
}
