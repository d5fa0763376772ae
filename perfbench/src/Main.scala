package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload per JVM on a fixed local[4]
  * session, closed loop, single client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work-dir <dir> --benchmark <BENCHMARK.json>
  *
  * Prints the workload's report (every end-to-end metric of the workload
  * by name and unit, and its output checks), then as the last line one JSON
  * object {correct, attempted, failed, metrics}: the end-to-end metrics
  * declared in BENCHMARK.json with `--trace 0`, its per-layer metrics with
  * `--trace 1` (0 for a layer the workload does not use). Exit code 1 when
  * an output check failed.
  */
object Main {

  /** (name, unit) of the `end_to_end` or `per_layer` metrics declared in
    * BENCHMARK.json: the one list of metrics the run reports. */
  def declared(benchmark: File, key: String): Seq[(String, String)] = {
    val arr = new com.fasterxml.jackson.databind.ObjectMapper().readTree(benchmark).path(key)
    (0 until arr.size()).map(i => arr.get(i).path("name").asText() -> arr.get(i).path("unit").asText())
  }

  final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                  val trace: Boolean, val workDir: File) {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    val report = mutable.ArrayBuffer.empty[String]
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val listener = new Trace.Listener

    def sc = spark.sparkContext

    /** Record one attempted operation and whether it passed its check. */
    def op(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    }

    def line(s: String): Unit = report += s

    /** Run the timed loop: `body` once per pass until `seconds` elapse,
      * at least `minPasses` passes, ending on a multiple of `cycle`. */
    def timedLoop(minPasses: Int, cycle: Int = 1)(body: Int => Unit): Int = {
      mark("timed loop starts")
      val deadline = System.nanoTime() + seconds * 1000000000L
      var i = 0
      while (i < minPasses || System.nanoTime() < deadline || i % cycle != 0) { body(i); i += 1 }
      mark(s"timed loop done ($i passes)")
      i
    }

    /** Heap in use after full collections, in MB. The pauses let Spark's
      * ContextCleaner drop the blocks of RDDs the first collection freed. */
    def liveHeapMb(): Double = {
      val rt = Runtime.getRuntime
      (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
      System.gc()
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }

    /** Median of `reps` timed set-ups; returns the last one's result.
      * `teardown` releases each earlier rep's result outside the timer. */
    def setupMedian[T](reps: Int, teardown: T => Unit = (_: T) => ())(body: Int => T): T = {
      var last: Option[T] = None
      val ts = (0 until reps).map { r =>
        last.foreach(teardown)
        val t0 = System.nanoTime()
        last = Some(body(r))
        (System.nanoTime() - t0) / 1e9
      }
      e2e("setup_s") = Stats.median(ts)
      mark("set-up done")
      line(f"setup reps (s): ${ts.map(t => f"$t%.3f").mkString(" ")}")
      last.get
    }

    /** Spark runtime layer metrics summed over the listener's groups. */
    def sparkLayer(groups: Iterable[Trace.GroupAgg], wallSeconds: Double, per: Double): Unit = {
      val gs = groups.toSeq
      layer("spark.jobs") = gs.map(_.jobs).sum / per
      layer("spark.stages") = gs.map(_.stages).sum / per
      layer("spark.tasks") = gs.map(_.tasks).sum / per
      layer("spark.executor_run_s") = gs.map(_.runNanos).sum / 1e9 / per
      layer("spark.executor_cpu_s") = gs.map(_.cpuNanos).sum / 1e9 / per
      layer("spark.gc_s") = gs.map(_.gcMs).sum / 1e3 / per
      layer("spark.shuffle_read_bytes") = gs.map(_.shuffleRead).sum / per
      layer("spark.shuffle_write_bytes") = gs.map(_.shuffleWrite).sum / per
      layer("spark.spill_bytes") = gs.map(_.spill).sum / per
      layer("spark.input_records") = gs.map(_.inputRecords).sum / per
      val busy = Stats.unionLength(gs.flatMap(_.jobIntervals)) / 1e9
      layer("spark.driver_gap_s") = math.max(0.0, wallSeconds - busy) / per
    }
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress marker on stderr: seconds since the JVM started. */
  def mark(what: String): Unit =
    System.err.println(f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1f s $what")

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(name)
    require(i >= 0 && i + 1 < args.length, s"missing $name")
    args(i + 1)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def session(workDir: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", new File(workDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Lines written beside the spans: self seconds per span name and the
    * listener's per-job-group aggregate. */
  private def traceSummary(ctx: Ctx): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val self = Trace.selfSeconds(Trace.spans.asScala.toSeq).toSeq.sortBy(_._1).map { case (n, v) =>
      s"""{"self_s":{"name":"$n","value":${num(v)}}}"""
    }
    val groups = ctx.listener.snapshot.toSeq.sortBy(_._1).map { case (g, a) =>
      s"""{"job_group":{"name":"$g","jobs":${a.jobs},"stages":${a.stages},"tasks":${a.tasks},""" +
        s""""executor_run_s":${num(a.runNanos / 1e9)},"executor_cpu_s":${num(a.cpuNanos / 1e9)},""" +
        s""""gc_s":${num(a.gcMs / 1e3)},"shuffle_read_bytes":${a.shuffleRead},""" +
        s""""shuffle_write_bytes":${a.shuffleWrite},"spill_bytes":${a.spill},""" +
        s""""input_records":${a.inputRecords},"input_bytes":${a.inputBytes},""" +
        s""""job_union_s":${num(Stats.unionLength(a.jobIntervals.toSeq) / 1e9)}}}"""
    }
    self ++ groups
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "--workload")
    val seed = arg(args, "--seed").toLong
    val seconds = arg(args, "--seconds").toInt
    val trace = arg(args, "--trace") == "1"
    val base = new File(arg(args, "--work-dir")).getAbsoluteFile
    val benchmark = new File(arg(args, "--benchmark"))
    val endToEnd = declared(benchmark, "end_to_end")
    val runId = s"$workload-$seed-${if (trace) "t" else "u"}-${ProcessHandle.current().pid()}"
    val workDir = new File(base, s"runs/$runId")
    workDir.mkdirs()
    Trace.runId = runId
    graft.ops.ModelStore.overrideDir = Some(new File(workDir, "models").getAbsolutePath)
    val w: Ctx => Unit = workload match {
      case "rcrag_engine" => RcRag.run(http = false)
      case "rcrag_llm" => RcRag.run(http = true)
      case "bm25_maintain" => Bm25Maintain.run
      case "curation_loops" => CurationLoops.run
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val spark = session(workDir)
    val ctx = new Ctx(spark, seed, seconds, trace, workDir)
    mark("session ready")
    var crashed: Throwable = null
    try {
      if (trace) spark.sparkContext.addSparkListener(ctx.listener)
      w(ctx)
    } catch { case scala.util.control.NonFatal(e) => crashed = e }
    finally {
      mark("workload done")
      spark.stop()
      mark("session stopped")
      if (trace) Trace.write(new File(base, s"traces/$runId.jsonl"), traceSummary(ctx))
      deleteTree(workDir)
    }
    if (crashed != null) {
      crashed.printStackTrace()
      System.exit(2)
    }
    if (!trace) endToEnd.foreach { case (n, _) =>
      ctx.op(ctx.e2e.get(n).exists(v => v > 0 && !v.isInfinite), s"end-to-end metric $n missing or not positive")
    }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    println(s"workload $workload seed $seed trace ${if (trace) 1 else 0}")
    ctx.report.foreach(l => println("  " + l))
    ctx.failures.foreach(f => println("  CHECK FAILED: " + f))
    val wanted = if (trace) declared(benchmark, "per_layer") else endToEnd
    val source = if (trace) ctx.layer else ctx.e2e
    val metrics = wanted.map { case (name, unit) =>
      val v = source.getOrElse(name, 0.0)
      s""""$name": {"value": ${num(v)}, "unit": "$unit"}"""
    }
    if (!trace) endToEnd.foreach { case (n, u) => println(f"  $n%-14s ${ctx.e2e.getOrElse(n, Double.NaN)}%.6f $u") }
    println(s"""{"correct": $correct, "attempted": ${ctx.attempted}, "failed": ${ctx.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    System.out.flush()
    mark("exit")
    System.exit(if (correct) 0 else 1)
  }
}
