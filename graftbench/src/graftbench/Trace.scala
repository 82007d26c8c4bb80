package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed interval: a call into a layer (`layer` names the graft module
  * the call enters), or a Spark job attributed to the call that started it.
  * `parent` is -1 for the benchmark's top-level ops. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startMs: Long, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** In-memory span recorder. Spans are recorded only while `active` (in
  * the traced run: set-up, every timed call, and the traced member of each
  * replayed pair); nothing is written until the run ends. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  var active = false
  private var stack: List[Int] = Nil

  def span[A](name: String, layer: String)(f: => A): A =
    if (!active) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += null // reserve the id; filled in when the call returns
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, name, layer, startMs, t0, System.nanoTime())
      }
    }
}

/** Per-job Spark counters, summed over the job's tasks. */
final class JobRec(val jobId: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  def add(o: JobRec): Unit = {
    tasks += o.tasks; taskMs += o.taskMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleWriteBytes += o.shuffleWriteBytes
    outputBytes += o.outputBytes
  }
}

/** Counts Spark's jobs, tasks and bytes. Registered only in the traced run;
  * jobs become child spans of the op running when they started (with one
  * client thread that attribution is exact). */
final class JobListener extends SparkListener {
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  @volatile private var lastEventNs = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val r = new JobRec(e.jobId, e.time)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.put(s, r))
    lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val r = stageJob.get(e.stageId)
    val m = e.taskMetrics
    if (r != null) r.synchronized {
      r.tasks += 1
      if (m != null) {
        r.taskMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.inputBytes += m.inputMetrics.bytesRead
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.outputBytes += m.outputMetrics.bytesWritten
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Events arrive on Spark's listener bus thread; wait until every started
    * job has ended and the bus has been quiet for a moment. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    import scala.jdk.CollectionConverters._
    while (System.nanoTime() < deadline &&
      (jobs.values.asScala.exists(_.endMs < 0) ||
        System.nanoTime() - lastEventNs < 300000000L)) Thread.sleep(50)
  }

  def all: Seq[JobRec] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.sortBy(_.jobId)
  }
}

/** Spans plus the jobs attributed to them: per-op Spark counts, driver-only
  * time, and self time per layer. */
final class TraceReport(spans: Seq[Span], jobs: Seq[JobRec]) {
  /** innermost span whose interval holds the job's start */
  val jobParent: Map[Int, Int] = jobs.flatMap { j =>
    spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
      .sortBy(s => (s.startNs, s.id)).lastOption.map(s => j.jobId -> s.id)
  }.toMap

  val jobSpans: Seq[Span] = jobs.filter(j => jobParent.contains(j.jobId) && j.endMs >= 0)
    .zipWithIndex.map { case (j, i) =>
      val startNs = spans(jobParent(j.jobId)).startNs +
        (j.startMs - spans(jobParent(j.jobId)).startMs) * 1000000L
      Span(spans.size + i, jobParent(j.jobId), s"job ${j.jobId}", "spark",
        j.startMs, startNs, startNs + (j.endMs - j.startMs) * 1000000L)
    }
  val allSpans: Seq[Span] = spans ++ jobSpans
  private val children: Map[Int, Seq[Span]] = allSpans.groupBy(_.parent)
  private val jobById: Map[Int, JobRec] = jobs.map(j => j.jobId -> j).toMap

  private def descendants(id: Int): Seq[Span] =
    children.getOrElse(id, Nil).flatMap(c => c +: descendants(c.id))

  /** counters summed over every job under span `id` */
  def counts(id: Int): (Int, JobRec) = {
    val js = descendants(id).filter(_.layer == "spark")
      .flatMap(s => jobById.get(s.name.stripPrefix("job ").toInt))
    val sum = new JobRec(-1, 0L)
    js.foreach(sum.add)
    (js.size, sum)
  }

  /** length of the union of intervals, clipped to [lo, hi] (ns) */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curEnd = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > curEnd) { total += b - math.max(a, curEnd); curEnd = b }
      }
    total
  }

  /** wall time under span `id` covered by no Spark job (ms) */
  def driverOnlyMs(id: Int): Double = {
    val s = allSpans(id)
    val jobsIv = descendants(id).filter(_.layer == "spark").map(j => (j.startNs, j.endNs))
    (s.endNs - s.startNs - covered(jobsIv, s.startNs, s.endNs)) / 1e6
  }

  /** a span's duration minus the part its direct children cover (ms) */
  def selfMs(s: Span): Double =
    (s.endNs - s.startNs -
      covered(children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs)),
        s.startNs, s.endNs)) / 1e6

  def selfByLayer: Map[String, Double] =
    allSpans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(selfMs).sum }

  def dumpJsonl(path: java.nio.file.Path): Unit = {
    val lines = allSpans.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""layer":"${s.layer}","start_ms":${s.startMs},"dur_ms":${Json.num(s.ms)},""" +
        s""""self_ms":${Json.num(selfMs(s))}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
