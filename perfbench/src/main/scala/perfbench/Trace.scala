package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span; times are wall-clock ms and monotonic ns. */
final case class Span(id: Int, name: String, parent: Int, run: Int,
                      startMs: Long, endMs: Long, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-job (and, summed, per-span) Spark work. */
final class Work {
  var jobs = 0
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val taskDurations: mutable.ArrayBuffer[Long] = mutable.ArrayBuffer.empty
  def add(o: Work): Unit = {
    jobs += o.jobs; taskMs += o.taskMs
    shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes; gcMs += o.gcMs
    taskDurations ++= o.taskDurations
  }
  /** Longest task over the median task: 1.0 is perfectly even. */
  def skew: Double =
    if (taskDurations.isEmpty) 1.0
    else {
      val s = taskDurations.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

/** In-memory span recorder plus a `SparkListener` that attributes Spark
  * work to spans.
  *
  * A span is (name, start, end, parent, run id). Spans are opened and closed
  * by the benchmark's own code around calls into the engine's public API;
  * nothing is written until [[Tracer.spans]] is read at the end.
  *
  * Attribution is by time: a job belongs to the innermost span that was open
  * on the benchmark thread when the job was submitted (its `JobStart` time),
  * and its stages' tasks follow the job. This needs no program-side hooks,
  * and it is exact for the single-threaded replays it serves: a span's jobs
  * are the ones submitted while it was the open span, whichever thread
  * submitted them (the exporter's validate job, broadcast sub-jobs).
  */
final class Tracer extends SparkListener {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Int, Long, Long)]
  private var nextId = 1
  @volatile var run = 0
  /** Counts recorded at span boundaries by the benchmark (rows, files). */
  val counts: mutable.Map[String, Double] =
    mutable.Map.empty[String, Double].withDefaultValue(0.0)

  // listener state: written on the listener-bus thread, read after `drain`
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobWork = mutable.Map.empty[Int, Work]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val barrierJobs = mutable.Map.empty[Int, Long]
  @volatile private var barrierDone = 0L
  private var barrierNext = 0L

  /** Times `f` as a span named `name`, nested in the currently open span.
    * Spans are opened from one thread only (the benchmark's driver thread).
    */
  def span[T](name: String)(f: => T): T = {
    val id = synchronized { val i = nextId; nextId += 1; i }
    val parent = if (open.isEmpty) 0 else open.top._1
    open.push((id, name, parent, System.currentTimeMillis(), System.nanoTime()))
    try f
    finally {
      val (_, _, p, s0, n0) = open.pop()
      val s = Span(id, name, p, run, s0, System.currentTimeMillis(), n0,
        System.nanoTime())
      synchronized(done += s)
    }
  }

  def spans: Seq[Span] = synchronized(done.toList)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.BarrierKey))) match {
      case Some(token) => barrierJobs(e.jobId) = token.toLong
      case None =>
        jobStart(e.jobId) = e.time
        val w = new Work
        w.jobs = 1
        jobWork(e.jobId) = w
        e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    barrierJobs.remove(e.jobId).foreach(t => barrierDone = t)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); w <- jobWork.get(j)) {
      w.taskMs += e.taskInfo.duration
      w.taskDurations += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
      }
    }
  }

  /** Blocks until every event posted before this call has been handled: a
    * marker job is submitted and its end awaited (the listener bus delivers
    * events in order).
    */
  def drain(sc: SparkContext): Unit = {
    val token = synchronized { barrierNext += 1; barrierNext }
    sc.setLocalProperty(Tracer.BarrierKey, token.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.BarrierKey, null)
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (barrierDone < token && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Spark work of each span's own jobs (not its children's), by span id;
    * id 0 collects jobs submitted outside every span.
    */
  def workBySpan(): Map[Int, Work] = synchronized {
    val all = done.toList
    val out = mutable.Map.empty[Int, Work]
    for ((job, t) <- jobStart) {
      // innermost span open at submission: latest start among containing
      val owner = all.filter(s => s.startMs <= t && t <= s.endMs)
        .sortBy(s => (s.startMs, s.id)).lastOption.map(_.id).getOrElse(0)
      out.getOrElseUpdate(owner, new Work).add(jobWork(job))
    }
    out.toMap
  }

  /** Work of a span and all its descendants. */
  def totalWork(id: Int, bySpan: Map[Int, Work]): Work = {
    val w = new Work
    bySpan.get(id).foreach(w.add)
    spans.filter(_.parent == id).foreach(c => w.add(totalWork(c.id, bySpan)))
    w
  }

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startNs, c.endNs))
      .sortBy(_._1)
    var covered = 0L
    var reach = s.startNs
    for ((a, b) <- kids) {
      val lo = math.max(a, reach)
      if (b > lo) { covered += b - lo; reach = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  /** This run's spans as written to trace.json: name, start, end, parent,
    * run id, self time, and the Spark work attributed to each span.
    */
  def records(by: Map[Int, Work]): List[Any] =
    spans.sortBy(_.startNs).map { s =>
      val own = by.get(s.id)
      scala.collection.immutable.ListMap[String, Any](
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds,
        "self_s" -> selfSeconds(s), "jobs" -> own.map(_.jobs).getOrElse(0),
        "task_s" -> own.map(_.taskMs / 1e3).getOrElse(0.0),
        "shuffle_write_bytes" -> own.map(_.shuffleWriteBytes).getOrElse(0L),
        "spill_bytes" -> own.map(_.spillBytes).getOrElse(0L))
    }.toList

  /** Forget all recorded spans, counts and Spark work. */
  def reset(): Unit = synchronized {
    done.clear(); counts.clear(); jobStart.clear(); jobWork.clear(); stageJob.clear()
  }
}

object Tracer {
  private val BarrierKey = "perfbench.barrier"
}
