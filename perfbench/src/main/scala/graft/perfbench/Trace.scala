package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer of the program. `parent` is the id of the
  * enclosing span (-1 for a root); times are `System.nanoTime` readings. */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
                      run: String) {
  def seconds: Double = (end - start) / 1e9
  /** The layer a span belongs to: its name up to the first dot. */
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder. Off by default: an untraced run pays one
  * volatile read per call. The open-span stack is inherited by threads
  * started inside a span, so the micro-batches a streaming query runs on
  * its own thread nest under the span that started the query. */
object Trace {
  @volatile var enabled = false
  @volatile var runId = ""
  private val ids = new AtomicInteger()
  private val done = mutable.ArrayBuffer[Span]()
  private val open = new InheritableThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val stack = open.get()
      val id = ids.getAndIncrement()
      val t0 = System.nanoTime()
      open.set(id :: stack)
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        done.synchronized { done += Span(id, stack.headOption.getOrElse(-1), name, t0, t1, runId) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Self time per layer (a span's duration minus its direct children's)
    * over the spans inside [t0, t1], plus the part of that window no root
    * span covers. Self times and the uncovered remainder sum to the window
    * when root spans do not overlap, which holds for a single-client run. */
  def account(t0: Long, t1: Long): (Map[String, Double], Double) = {
    val inside = spans.filter(s => s.start >= t0 && s.end <= t1)
    val childSum = inside.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum).toMap
    val self = inside.groupBy(_.layer).view.mapValues(
      _.map(s => s.seconds - childSum.getOrElse(s.id, 0.0)).sum).toMap
    val ids = inside.map(_.id).toSet
    val roots = inside.filterNot(s => ids(s.parent))
    (self, (t1 - t0) / 1e9 - union(roots.map(s => (s.start, s.end))))
  }

  /** Total length of a set of intervals, overlaps counted once (seconds). */
  def union(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.sortBy(_.start).map { s =>
      Json.obj(Seq("run" -> s.run, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.start, "end_ns" -> s.end))
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** Spark scheduler counters for the traced run, registered only then. */
final class SparkCounters(cores: Int) extends SparkListener {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var execRunMs = 0L
  var execCpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var gcMs = 0L
  var singleTaskStageMs = 0L
  private val jobStart = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  private val jobStarts = mutable.ArrayBuffer[Long]()
  // event times are wall-clock millis; shift them onto the nanoTime clock
  // the spans use
  private val clockShift = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanos(ms: Long): Long = ms * 1000000L + clockShift
  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    jobStart(e.jobId) = nanos(e.time)
    jobStarts += nanos(e.time)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, nanos(e.time))))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stages += 1
    if (info.numTasks == 1)
      for (s <- info.submissionTime; c <- info.completionTime) singleTaskStageMs += c - s
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      execRunMs += m.executorRunTime
      execCpuNs += m.executorCpuTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      gcMs += m.jvmGCTime
    }
  }
  /** Jobs whose start falls inside any of the given intervals. */
  def jobsStartedIn(iv: Seq[(Long, Long)]): Long = synchronized {
    jobStarts.count(t => iv.exists { case (s, e) => t >= s && t < e }).toLong
  }
  /** Seconds inside [t0, t1] during which at least one Spark job ran. */
  def jobSeconds(t0: Long, t1: Long): Double = synchronized {
    Trace.union(jobIntervals.toSeq.flatMap { case (s, e) =>
      val a = math.max(s, t0); val b = math.min(e, t1)
      if (b > a) Some((a, b)) else None
    })
  }
  def metrics(wallS: Double): Seq[(String, Double)] = synchronized {
    Seq(
      "spark.jobs" -> jobs.toDouble,
      "spark.stages" -> stages.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "spark.tasks_per_stage" -> (if (stages > 0) tasks.toDouble / stages else 0.0),
      "spark.exec_run_s" -> execRunMs / 1e3,
      "spark.exec_cpu_s" -> execCpuNs / 1e9,
      "spark.cpu_busy_frac" -> (if (wallS > 0) execCpuNs / 1e9 / (wallS * cores) else 0.0),
      "spark.single_task_stage_s" -> singleTaskStageMs / 1e3,
      "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
      "spark.spill_bytes" -> spill.toDouble,
      "spark.gc_s" -> gcMs / 1e3)
  }
}

/** Per-batch phase durations of the streaming queries of a traced run. */
final class StreamCounters extends StreamingQueryListener {
  val phases = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    if (e.progress.numInputRows > 0)
      e.progress.durationMs.forEach { (k, v) =>
        phases.getOrElseUpdate(k, mutable.ArrayBuffer()) += v.doubleValue
      }
  }
}
