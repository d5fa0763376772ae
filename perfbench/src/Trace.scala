package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory tracing for the traced run (`--trace 1`).
  *
  * Spans (name, start, end, parent, run id) are recorded by the
  * benchmark's own code around each call into a layer, kept in memory and
  * written as JSON lines when the run ends. Executor-side spans find their
  * driver phase through the Spark local property [[PhaseProp]]. With
  * tracing off, [[phase]] only times the call.
  */
object Trace {

  val PhaseProp = "perfbench.phase"

  final case class Span(id: String, name: String, start: Long, end: Long, parent: String)

  @volatile var enabled = false
  @volatile var runId = "run"
  private val ids = new AtomicLong
  val spans = new ConcurrentLinkedQueue[Span]

  def newId(): String = s"$runId-${ids.incrementAndGet()}"

  def span(name: String, start: Long, end: Long, parent: String, id: String = newId()): String = {
    if (enabled) spans.add(Span(id, name, start, end, parent))
    id
  }

  /** Run `body` as driver phase `name`: Spark jobs it starts carry the job
    * group `name`, and (when tracing) one span covers it, parented to
    * `parent`. Returns the result and the elapsed seconds. */
  def phase[T](sc: SparkContext, name: String, parent: String = null)(body: => T): (T, Double) = {
    val id = newId()
    sc.setJobGroup(name, name, interruptOnCancel = false)
    sc.setLocalProperty(PhaseProp, id)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      if (enabled) spans.add(Span(id, name, t0, t1, parent))
      (r, (t1 - t0) / 1e9)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty(PhaseProp, null)
    }
  }

  /** Self time per span name: duration minus the union of the intervals
    * its direct children cover. */
  def selfSeconds(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = Stats.unionLength(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(c => c._2 > c._1))
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.io.File, extra: Seq[String]): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      spans.forEach { s =>
        w.println(s"""{"run":"$runId","id":"${s.id}","name":"${s.name}","start_ns":${s.start},""" +
          s""""end_ns":${s.end},"parent":${if (s.parent == null) "null" else "\"" + s.parent + "\""}}""")
      }
      extra.foreach(w.println)
    } finally w.close()
  }

  /** Per-job-group Spark runtime aggregate. */
  final class GroupAgg {
    var jobs = 0; var stages = 0; var tasks = 0
    var runNanos = 0L; var cpuNanos = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    var inputRecords = 0L; var inputBytes = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** Aggregates task metrics per job group; job intervals (from the
    * events' own timestamps, not their delivery) feed the driver-gap
    * computation: wall time minus the union of job intervals. */
  final class Listener extends SparkListener {
    private val groups = mutable.HashMap.empty[String, GroupAgg]
    private val jobGroup = mutable.HashMap.empty[Int, String]
    private val jobStart = mutable.HashMap.empty[Int, Long]
    private val stageGroup = mutable.HashMap.empty[Int, String]

    private def agg(g: String) = groups.getOrElseUpdate(g, new GroupAgg)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("none")
      jobGroup(e.jobId) = g
      jobStart(e.jobId) = e.time * 1000000L
      e.stageIds.foreach(stageGroup(_) = g)
      agg(g).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      for (g <- jobGroup.get(e.jobId); t0 <- jobStart.remove(e.jobId))
        agg(g).jobIntervals += ((t0, e.time * 1000000L))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageGroup.get(e.stageInfo.stageId).foreach(agg(_).stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageGroup.get(e.stageId).foreach { g =>
        val a = agg(g)
        a.tasks += 1
        a.runNanos += m.executorRunTime * 1000000L
        a.cpuNanos += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inputRecords += m.inputMetrics.recordsRead
        a.inputBytes += m.inputMetrics.bytesRead
      }
    }
    def snapshot: Map[String, GroupAgg] = synchronized(groups.toMap)
    def reset(): Unit = synchronized { groups.clear() }
  }
}

/** Order statistics shared by the workloads. */
object Stats {

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest of the standard percentiles (50, 90, 95, 99, 99.9) that
    * leaves at least ten samples above it, as (percentile, value); None
    * when even the median leaves fewer than ten. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val n = xs.length
    Seq(99.9, 99.0, 95.0, 90.0, 50.0).find(p => n - math.ceil(n * p / 100.0) >= 10)
      .map(p => p -> quantile(xs, p / 100.0))
  }

  /** Total length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
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
    total
  }
}
