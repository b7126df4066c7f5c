package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed interval. `parent` is the span that caused it (0 = none);
  * spans of one HTTP request share `req`.
  */
final case class Span(id: Long, parent: Long, name: String, layer: String, req: Long, start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder. Spans come only from the benchmark's own calls
  * into the engine's public functions and from the Spark listener below;
  * nothing inside the engine is instrumented. Off by default: the timed runs
  * record nothing, so their numbers carry no tracing cost.
  */
object Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  @volatile private var sc: SparkContext = _
  val ParentProp = "perfbench.parent"

  def attach(ctx: SparkContext): Unit = { sc = ctx; ctx.addSparkListener(Listener) }

  def current: Long = stack.get.headOption.getOrElse(0L)
  def nextId(): Long = ids.getAndIncrement()
  def add(s: Span): Unit = if (on) spans.add(s)

  /** Time `body` as a span named `name` in `layer`, child of the calling
    * thread's current span. Spark jobs started inside become its children.
    */
  def span[T](name: String, layer: String, req: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent = current
      stack.set(id :: stack.get)
      val ctx = sc
      if (ctx != null) ctx.setLocalProperty(ParentProp, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        if (ctx != null) ctx.setLocalProperty(ParentProp, if (parent == 0L) null else parent.toString)
        spans.add(Span(id, parent, name, layer, req, t0, t1))
      }
    }

  def all: IndexedSeq[Span] = { import scala.jdk.CollectionConverters._; spans.asScala.toIndexedSeq }

  /** Per-Spark-job task aggregates, keyed by job id. */
  final class JobAgg(val jobId: Int, val parent: Long, val callSite: String) {
    var tasks = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var shuffleReadBytes = 0L
    var schedDelayMs = 0L
    var stages = 0
    var spanId = 0L
  }

  /** Converts Spark's millisecond event clock to the nanoTime clock spans use. */
  private def nanosOf(ms: Long): Long = ms * 1000000L + clockOffset
  @volatile private var clockOffset: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Records job and stage spans plus task aggregates while tracing is on. */
  object Listener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobAgg]()
    private val stageJob = mutable.HashMap[Int, Int]()
    private val jobStart = mutable.HashMap[Int, Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) synchronized {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(ParentProp))).map(_.toLong).getOrElse(0L)
      // the result stage is named after the action's call site
      val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
      val agg = new JobAgg(e.jobId, parent, site)
      agg.spanId = ids.getAndIncrement()
      agg.stages = e.stageIds.size
      jobs(e.jobId) = agg
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      jobStart(e.jobId) = e.time
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) synchronized {
      for (agg <- jobs.get(e.jobId); t0 <- jobStart.get(e.jobId))
        spans.add(Span(agg.spanId, agg.parent, s"spark.job ${agg.callSite}", "spark", 0L, nanosOf(t0), nanosOf(e.time)))
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (on) synchronized {
      val si = e.stageInfo
      for (j <- stageJob.get(si.stageId); agg <- jobs.get(j); t0 <- si.submissionTime; t1 <- si.completionTime)
        spans.add(Span(ids.getAndIncrement(), agg.spanId, s"spark.stage ${si.stageId}", "spark", 0L, nanosOf(t0), nanosOf(t1)))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) synchronized {
      for (j <- stageJob.get(e.stageId); agg <- jobs.get(j)) {
        agg.tasks += 1
        val m = e.taskMetrics
        val info = e.taskInfo
        if (m != null) {
          agg.cpuNs += m.executorCpuTime
          agg.gcMs += m.jvmGCTime
          agg.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          agg.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          // the Spark UI's definition: task wall minus the parts it can name
          agg.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        }
      }
    }
  }

  /** Spark jobs started directly inside span `id`. */
  def jobsUnder(id: Long): Seq[JobAgg] = Listener.synchronized(Listener.jobs.values.filter(_.parent == id).toSeq)

  /** Self time per layer inside `phase`, by a sweep over every descendant
    * span clipped to the phase: each instant goes to the innermost spans
    * running then (split evenly among concurrent ones); instants no
    * descendant covers go to `driver/scheduling`. By construction the rows
    * sum to the phase's wall time.
    */
  def selfTimes(phase: Span, all: IndexedSeq[Span]): Seq[(String, Double)] = {
    val kids = all.groupBy(_.parent)
    val desc = mutable.ArrayBuffer[Span]()
    val todo = mutable.Stack[Long](phase.id)
    while (todo.nonEmpty) kids.getOrElse(todo.pop(), Nil).foreach { s =>
      val c = s.copy(start = math.max(s.start, phase.start), end = math.min(s.end, phase.end))
      if (c.end > c.start) { desc += c; todo.push(s.id) }
    }
    // a child must lie inside its parent for "innermost" to mean anything;
    // Spark's millisecond clock can overhang the caller's span by < 1 ms
    val byId = desc.map(s => s.id -> s).toMap
    val clipped = desc.map { s =>
      byId.get(s.parent).fold(s)(p => s.copy(start = math.max(s.start, p.start), end = math.min(s.end, p.end)))
    }.filter(s => s.end > s.start)
    val events = clipped.flatMap(s => Seq((s.start, 1, s), (s.end, -1, s))).sortBy(e => (e._1, e._2))
    val active = mutable.LinkedHashSet[Long]()
    val activeKids = mutable.HashMap[Long, Int]().withDefaultValue(0)
    val spanOf = clipped.map(s => s.id -> s).toMap
    val acc = mutable.LinkedHashMap[String, Double]()
    def credit(k: String, ns: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + ns
    var t = phase.start
    events.foreach { case (at, kind, s) =>
      if (at > t) {
        val dt = (at - t).toDouble
        val leaves = active.iterator.filter(id => activeKids(id) == 0).toSeq
        if (leaves.isEmpty) credit("driver/scheduling", dt)
        else leaves.foreach(id => credit(spanOf(id).layer, dt / leaves.size))
        t = at
      }
      if (kind == 1) { active += s.id; if (spanOf.contains(s.parent)) activeKids(s.parent) += 1 }
      else { active -= s.id; if (spanOf.contains(s.parent)) activeKids(s.parent) -= 1 }
    }
    if (phase.end > t) credit("driver/scheduling", (phase.end - t).toDouble)
    acc.toSeq.map { case (k, ns) => k -> ns / 1e9 }
  }
}
