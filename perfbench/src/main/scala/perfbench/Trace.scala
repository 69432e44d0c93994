package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed region recorded by the benchmark around a call into a layer.
  * Times are `System.nanoTime`; `req` groups the spans of one request. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    req: Long, startNs: Long, endNs: Long)

/** Per Spark job, as the listener saw it. `span` is the benchmark span
  * that was current on the submitting thread (0 when none). */
final class JobRec(val jobId: Int, val span: Long, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val stages = mutable.Set.empty[Int]
}

/** Task metrics summed per stage. */
final class StageAgg {
  var submittedMs: Long = -1L
  var tasks = 0L
  var inputBytes = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var waitMs = 0L
}

/** The benchmark's own Spark listener: jobs, stages and task metrics,
  * each job tagged with the span that submitted it (through the
  * [[Tracer.SpanProp]] local property). Registered only for traced runs. */
final class BenchListener extends SparkListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageAgg]()
  private def stage(id: Int) = stages.computeIfAbsent(id, _ => new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toLong).getOrElse(0L)
    val j = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(j.stages += _)
    jobs.put(e.jobId, j)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val s = stage(e.stageInfo.stageId)
    s.synchronized { s.submittedMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stage(e.stageId)
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (s.submittedMs > 0) s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
      if (m != null) {
        s.inputBytes += m.inputMetrics.bytesRead
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.gcMs += m.jvmGCTime
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
      }
    }
  }
}

/** Spark totals over a set of jobs. */
final case class SparkCost(jobs: Int, tasks: Long, inputBytes: Long, shuffleBytes: Long,
    shuffleWrite: Long, spill: Long, gcMs: Long, runMs: Long, cpuNs: Long)

/** Span recorder. Disabled, `span` only runs its body: the untraced run
  * pays nothing but a branch. Spans stay in memory until `write`. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(1)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[Span]
  val listener: Option[BenchListener] =
    if (enabled) { val l = new BenchListener; sc.addSparkListener(l); Some(l) } else None
  @volatile private var active = enabled

  /** Runs `body` untraced (no spans, listener detached): the traced run's
    * reference for the tracing overhead. */
  def off[T](body: => T): T =
    if (!enabled) body
    else {
      drain(); active = false; listener.foreach(sc.removeSparkListener)
      try body finally { listener.foreach(sc.addSparkListener); active = true }
    }
  // wall-clock ↔ nanoTime anchor, to place listener (epoch ms) times on spans
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()
  def msToNs(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L

  def newRequest(): Long = ids.getAndIncrement()

  def span[T](layer: String, name: String, req: Long = 0L)(body: => T): T =
    if (!active) body
    else {
      val parent = current.get
      val id = ids.getAndIncrement()
      val r = if (req != 0L) req else if (parent != null) parent.req else id
      val open = Span(id, if (parent == null) 0L else parent.id, layer, name, r, System.nanoTime(), 0L)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      current.set(open)
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try body
      finally {
        done.add(open.copy(endNs = System.nanoTime()))
        current.set(parent)
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  def named(name: String): Vector[Span] = spans.filter(_.name == name)

  def spans: Vector[Span] = done.asScala.toVector.sortBy(_.startNs)

  /** Ids of `root` and every span below it. */
  private def subtree(all: Vector[Span], roots: Set[Long]): Set[Long] = {
    val kids = all.groupBy(_.parent)
    val out = mutable.Set.empty[Long]
    def walk(id: Long): Unit = if (out.add(id)) kids.getOrElse(id, Nil).foreach(s => walk(s.id))
    roots.foreach(walk)
    out.toSet
  }

  /** Spark cost of the jobs submitted under the given spans (and their
    * descendants). */
  def sparkCost(roots: Iterable[Span]): SparkCost = {
    drain()
    val l = listener.get
    val under = subtree(spans, roots.map(_.id).toSet)
    val js = l.jobs.values.asScala.filter(j => under.contains(j.span)).toVector
    val st = js.flatMap(_.stages).distinct.flatMap(id => Option(l.stages.get(id)))
    SparkCost(js.size, st.map(_.tasks).sum, st.map(_.inputBytes).sum,
      st.map(s => s.shuffleRead + s.shuffleWrite).sum, st.map(_.shuffleWrite).sum,
      st.map(_.spill).sum, st.map(_.gcMs).sum, st.map(_.runMs).sum, st.map(_.cpuNs).sum)
  }

  /** Wall time of `s` not covered by its Spark jobs (driver-side time). */
  def driverNs(s: Span): Long = {
    drain()
    val under = subtree(spans, Set(s.id))
    val iv = listener.get.jobs.values.asScala.filter(j => under.contains(j.span) && j.endMs >= 0)
      .map(j => (math.max(s.startNs, msToNs(j.startMs)), math.min(s.endNs, msToNs(j.endMs))))
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    (s.endNs - s.startNs) - Tracer.covered(iv)
  }

  /** Self time per layer: each span minus the part its child spans and
    * its own Spark jobs cover; job time is booked to layer `spark`. */
  def selfTimes(): Seq[(String, Double, Int)] = {
    drain()
    val all = spans
    val kids = all.groupBy(_.parent)
    val jobsBySpan = listener.get.jobs.values.asScala.filter(_.endMs >= 0).groupBy(_.span)
    val self = mutable.LinkedHashMap.empty[String, (Double, Int)]
    def add(layer: String, ns: Double): Unit = {
      val (t, n) = self.getOrElse(layer, (0.0, 0)); self(layer) = (t + ns, n + 1)
    }
    all.foreach { s =>
      val childIv = kids.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
      val jobIv = jobsBySpan.getOrElse(s.id, Nil).map(j => (msToNs(j.startMs), msToNs(j.endMs)))
      val clipped = (childIv ++ jobIv).map { case (a, b) => (math.max(a, s.startNs), math.min(b, s.endNs)) }
        .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
      add(s.layer, (s.endNs - s.startNs - Tracer.covered(clipped)).toDouble)
      jobIv.foreach { case (a, b) => add("spark", (b - a).toDouble) }
    }
    self.toSeq.map { case (l, (ns, n)) => (l, ns / 1e9, n) }
  }

  /** Span file: one JSON object per line — spans, then Spark jobs. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      spans.foreach { s =>
        w.write(s"""{"kind":"span","id":${s.id},"parent":${s.parent},"req":${s.req},""" +
          s""""layer":"${s.layer}","name":"${Json.esc(s.name)}","start_ns":${s.startNs - anchorNs},""" +
          s""""end_ns":${s.endNs - anchorNs}}""")
        w.newLine()
      }
      listener.foreach(_.jobs.values.asScala.toVector.sortBy(_.jobId).foreach { j =>
        w.write(s"""{"kind":"spark_job","id":${j.jobId},"parent":${j.span},""" +
          s""""start_ns":${msToNs(j.startMs) - anchorNs},"end_ns":${msToNs(j.endMs) - anchorNs},""" +
          s""""stages":[${j.stages.toSeq.sorted.mkString(",")}]}""")
        w.newLine()
      })
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Length of the union of sorted intervals. */
  def covered(sorted: Seq[(Long, Long)]): Long = {
    var tot = 0L; var curA = Long.MinValue; var curB = Long.MinValue
    sorted.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) tot += curB - curA; curA = a; curB = b }
      else if (b > curB) curB = b
    }
    if (curB > curA) tot += curB - curA
    tot
  }
}
