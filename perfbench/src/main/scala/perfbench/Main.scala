package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.{DocSidecar, SegmentIndex}
import graft.search.SegmentSearch

/** Command-line options. The sizes (`docs`, `tailVocab`, `deltaDocs`)
  * default to the calibrated benchmark; the smoke test shrinks them.
  */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    work: String,
    traceDir: String,
    docs: Int,
    tailVocab: Int,
    deltaDocs: Int,
    corrupt: Boolean
)

/** What one run measured and checked. */
final class Report {
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val info = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L
  var wrong = 0L
  val mismatches = mutable.ArrayBuffer[String]()

  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
  def note(key: String, json: String): Unit = info(key) = json

  /** Compare one answer with another tier's; a difference counts as a
    * wrong operation.
    */
  def check[T](what: String, got: T, expected: T, same: (T, T) => Boolean): Unit = {
    if (!same(got, expected)) {
      wrong += 1
      failed += 1
      if (mismatches.size < 20) mismatches += s"$what: got $got, expected $expected"
    }
  }

  def checkHits(what: String, got: Seq[(Long, Double)], expected: Seq[(Long, Double)]): Unit =
    check[Seq[(Long, Double)]](what, got, expected, (a, b) =>
      a.map(_._1) == b.map(_._1) && a.zip(b).forall { case (x, y) => math.abs(x._2 - y._2) <= 1e-9 })
}

object Main {
  val Buckets: Int = 2 * Host.nproc

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toDouble,
      trace = m.getOrElse("trace", "0") == "1",
      work = need("work"),
      traceDir = m.getOrElse("trace-dir", need("work")),
      docs = m.get("docs").map(_.toInt).getOrElse(16000),
      tailVocab = m.get("tail-vocab").map(_.toInt).getOrElse(14000),
      deltaDocs = m.get("delta-docs").map(_.toInt).getOrElse(400),
      corrupt = m.get("corrupt-expected").contains("1")
    )
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    require(Seq("serve-mixed", "index-batch").contains(o.workload), s"unknown workload ${o.workload}")
    Files.createDirectories(Paths.get(o.work))
    val report = new Report
    val before = Host.cpuTicks()
    val (spark, sparkS) = Util.timed {
      graft.spark.Sessions.configure(
        SparkSession.builder()
          .master(s"local[${Host.nproc}]")
          .config("spark.local.dir", s"${o.work}/spark-local")
          .config("spark.sql.warehouse.dir", s"${o.work}/warehouse"),
        Host.nproc, "perfbench").getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    Trace.attach(spark.sparkContext)
    Trace.on = o.trace
    val ctx = new Ctx(spark, o, report, sparkS)
    val code =
      try {
        o.workload match {
          case "index-batch" => IndexBatch.run(ctx)
          case _ => Serve.run(ctx)
        }
        0
      } catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${o.workload} failed: $e")
          e.printStackTrace()
          3
      }
    val after = Host.cpuTicks()
    report.note("host", Host.facts(before, after))
    report.note("seed", o.seed.toString)
    if (o.trace) report.note("trace_file", TraceReport.write(ctx))
    spark.stop()
    Util.log("spark stopped")
    if (code != 0) sys.exit(code)
    report.put("bench.failed_frac", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
    val wanted = if (o.trace) Metrics.PerLayer else Metrics.EndToEnd
    val absent = wanted.map(_._1).filter(n => report.metrics.get(n).forall(_._1.isNaN))
    report.note("not_measured", absent.map(Json.str).mkString("[", ",", "]"))
    println(Json.obj(report.info.toSeq :+ ("mismatches" -> report.mismatches.map(Json.str).mkString("[", ",", "]"))))
    // every end-to-end metric is measured by every workload; a layer a
    // workload does not exercise reads 0
    if (!o.trace && absent.nonEmpty) {
      System.err.println(s"perfbench: not measured: ${absent.mkString(", ")}")
      sys.exit(4)
    }
    val metricsJson = Json.obj(wanted.map { case (name, unit) =>
      val v = report.metrics.get(name).map(_._1).filterNot(_.isNaN).getOrElse(0.0)
      name -> s"""{"value":${Json.num(v)},"unit":${Json.str(unit)}}"""
    })
    val correct = report.wrong == 0
    println(s"""{"correct":$correct,"attempted":${math.max(1L, report.attempted)},"failed":${report.failed},"metrics":$metricsJson}""")
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** Shared state of one run. */
final class Ctx(val spark: SparkSession, val o: Opts, val report: Report, val sparkS: Double) {
  def docsDf(docs: Seq[Doc]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("source", StringType), StructField("lang", StringType)))
    val rows = new java.util.ArrayList[Row](docs.size)
    docs.foreach(d => rows.add(Row(d.id, d.text, d.source, d.lang)))
    spark.createDataFrame(rows, schema)
  }

  /** A named top-level phase: traced runs reconcile layer self times
    * against each phase's wall time.
    */
  def phase[T](name: String)(body: => T): T = Trace.span(name, "phase")(body)

  def dir(name: String): String = s"${o.work}/$name"
}

object Util {
  private val t0 = System.nanoTime()

  /** Progress on stderr, with seconds since the JVM's benchmark start. */
  def log(what: String): Unit = System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $what")

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(root)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.sortBy(-_.getNameCount).foreach(f => Files.deleteIfExists(f))
    }
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      import scala.jdk.CollectionConverters._
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum finally s.close()
    }

  /** Segment, docstore and sidecar bytes of an index directory's live
    * state, and their sum.
    */
  def reportIndexBytes(r: Report, dir: String): Unit = {
    val meta = SegmentIndex.readMeta(dir)
    val seg = SegmentIndex.liveSegmentFiles(dir, meta).map(f => Files.size(Paths.get(f))).sum
    val store = treeBytes(Paths.get(dir, "docstore"))
    val side = DocSidecar.liveSidecarFiles(dir, meta).map(f => Files.size(Paths.get(f))).sum
    r.put("index_bytes", (seg + store + side).toDouble, "bytes")
    r.put("index.segment_bytes", seg.toDouble, "bytes")
    r.put("index.docstore_bytes", store.toDouble, "bytes")
    r.put("index.sidecar_bytes", side.toDouble, "bytes")
  }

  /** Live heap after a full collection, in MB. */
  def liveHeapMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    System.gc(); System.gc()
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** A full collection before a timed part, so garbage left by the parts
    * before it (Spark jobs, checks) is not collected inside it.
    */
  def settle(): Unit = System.gc()

  /** The committed generation of `dir`, loaded eagerly (no file access
    * afterwards, so later compactions cannot disturb it).
    */
  def loadGeneration(dir: String): (IndexedSeq[SegmentIndex.LoadedSegment], SegmentIndex.Meta) = {
    val meta = SegmentIndex.readMeta(dir)
    (SegmentIndex.liveSegmentFiles(dir, meta).map(SegmentIndex.loadSegment(_)).toIndexedSeq, meta)
  }

  /** Input facts of a generation: vocabulary and multi-block posting lists. */
  def inputFacts(segs: Seq[SegmentIndex.LoadedSegment], meta: SegmentIndex.Meta): String = {
    val vocab = new java.util.HashSet[String]()
    var multiBlock = 0L
    var maxBlocks = 0L
    segs.foreach(_.terms.foreach { case (t, td) =>
      vocab.add(t)
      val blocks = (td.df + meta.blockSize - 1) / meta.blockSize
      if (blocks > 1) multiBlock += 1
      maxBlocks = math.max(maxBlocks, blocks)
    })
    s"""{"docs":${meta.n},"segments":${segs.size},"vocabulary":${vocab.size},""" +
      s""""posting_lists_multi_block":$multiBlock,"max_blocks_per_list":$maxBlocks}"""
  }

  def distinctShare(xs: Seq[Any]): Double = if (xs.isEmpty) 0.0 else xs.distinct.size.toDouble / xs.size

  def inMemory(segs: IndexedSeq[SegmentIndex.LoadedSegment], meta: SegmentIndex.Meta, qs: Seq[String]): Map[String, Seq[(Long, Double)]] = {
    val r = SegmentSearch.searchBatchInMemory(segs, meta, qs, 10)
    qs.zipWithIndex.map { case (q, i) => q -> r(i) }.toMap
  }
}

/** Facts about the host, recorded in every run. Nothing waits for a quiet
  * host and nothing labels a run.
  */
object Host {
  val nproc: Int = Runtime.getRuntime.availableProcessors()

  /** (total, idle+iowait, steal) jiffies from the first line of /proc/stat. */
  def cpuTicks(): (Long, Long, Long) =
    try {
      val f = Files.readString(Paths.get("/proc/stat")).linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, f(3) + f(4), if (f.length > 7) f(7) else 0L)
    } catch { case _: Exception => (0L, 0L, 0L) }

  def facts(before: (Long, Long, Long), after: (Long, Long, Long)): String = {
    val dt = (after._1 - before._1).toDouble
    val busy = if (dt <= 0) 0.0 else 1.0 - (after._2 - before._2) / dt
    Json.obj(Seq(
      "nproc" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jdk" -> Json.str(System.getProperty("java.version")),
      "steal_ticks_before" -> before._3.toString,
      "steal_ticks_after" -> after._3.toString,
      "host_busy_frac" -> Json.num(busy)))
  }
}
