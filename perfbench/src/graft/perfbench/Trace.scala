package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics over a sample. */
object Stats {
  /** Linearly interpolated quantile (numpy's default); NaN when empty. */
  def q(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  /** Total length of the union of [start, end) intervals. */
  def covered(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + (curE - curS)
  }
}

/** One traced call: wall-clock nanos, the span that caused it (0 = root)
  * and the run it belongs to. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
    endNs: Long, run: String) {
  def layer: String = name.takeWhile(_ != '.')
}

/** Per-job facts the traced run keeps: label of the span that submitted
  * it (or of the streaming query), wall interval, and task-level totals
  * summed over its stages. */
final class JobFacts(val id: Int, val label: String, val startMs: Long) {
  var endMs: Long = startMs
  var stages = 0; var tasks = 0L
  var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L; var shuffleRecords = 0L
  var spillBytes = 0L; var cpuNs = 0L; var runMs = 0L
}

/** The traced run's recorder. Spans are kept in memory and written out at
  * the end. When disabled, [[span]] only runs its body, so untraced runs
  * carry no recording cost and no listener.
  *
  * Spark jobs are attributed to the innermost open span through the
  * `perfbench.span` local property (inherited by threads the engine
  * starts under the span); streaming jobs are labelled by their query.
  */
final class Trace(val enabled: Boolean, val run: String, sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000L

  /** A span clock reading as epoch milliseconds (the clock Spark stamps
    * job events with). */
  def toMs(ns: Long): Long = epochOffsetMs + ns / 1000000L
  private val open = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  val spans = new ConcurrentLinkedQueue[Span]
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobFacts]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  @volatile var queryNames: Map[String, String] = Map.empty

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get()
      val parent = stack.headOption.fold(0L)(_._1)
      open.set((id, name) :: stack)
      sc.setLocalProperty("perfbench.span", name)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_._2).orNull)
        spans.add(Span(id, parent, name, t0, t1, run))
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      // a streaming query's thread inherits the span it was started in,
      // so its query id decides first
      val label = p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
        .map(q => "streaming." + queryNames.getOrElse(q, q))
        .orElse(p.flatMap(x => Option(x.getProperty("perfbench.span"))))
        .getOrElse("unlabeled")
      jobs.put(e.jobId, new JobFacts(e.jobId, label, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        j.synchronized {
          j.stages += 1
          j.tasks += info.numTasks
          val m = info.taskMetrics
          if (m != null) {
            j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.cpuNs += m.executorCpuTime
            j.runMs += m.executorRunTime
          }
        }
      }
    }
  }
  if (enabled) sc.addSparkListener(listener)

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)

  def allSpans: Seq[Span] = spans.asScala.toSeq
  def allJobs: Seq[JobFacts] = jobs.values.asScala.toSeq

  /** Durations in seconds of the spans with this exact name. */
  def durations(name: String): Seq[Double] =
    allSpans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9)

  /** Jobs whose label starts with `prefix`. */
  def jobsOf(prefix: String): Seq[JobFacts] = allJobs.filter(_.label.startsWith(prefix))

  /** Engine totals over the jobs started at or after `sinceMs`: the
    * `spark.*` per-layer counters. `wallS` and `cores` turn task time into
    * a busy share. */
  def sparkTotals(sinceMs: Long, wallS: Double, cores: Int)
      : mutable.LinkedHashMap[String, Double] = {
    val js = allJobs.filter(_.startMs >= sinceMs)
    val m = mutable.LinkedHashMap[String, Double]()
    m("spark.jobs") = js.size
    m("spark.stages") = js.map(_.stages).sum
    m("spark.tasks") = js.map(_.tasks).sum
    m("spark.shuffle_read_bytes") = js.map(_.shuffleReadBytes).sum
    m("spark.shuffle_write_bytes") = js.map(_.shuffleWriteBytes).sum
    m("spark.shuffle_records") = js.map(_.shuffleRecords).sum
    m("spark.spill_bytes") = js.map(_.spillBytes).sum
    m("spark.executor_cpu_s") = js.map(_.cpuNs).sum / 1e9
    m("spark.task_busy_share") = js.map(_.runMs).sum / 1e3 / (wallS * cores)
    m
  }
}
