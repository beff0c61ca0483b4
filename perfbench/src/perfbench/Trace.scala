package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The traced run's recorder. Off (`enabled = false`) every method is a
  * plain call-through, so untraced runs pay nothing.
  *
  * On, it keeps two things in memory until the run ends:
  *   - spans: name, start, end and parent of every layer boundary the
  *     workloads mark with [[span]], grouped by call;
  *   - a SparkListener's per-job record (call, innermost span, start,
  *     end) with its completed stages' task metrics folded in. Jobs
  *     find their call and span through Spark local properties, which
  *     the job-submitting (client) thread carries.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {

  final case class Span(call: Int, id: Int, parent: Int, name: String,
      startMs: Long, endMs: Long, durS: Double)

  final class Job(val call: Int, val span: String, val startMs: Long) {
    var endMs: Long = -1L
    var stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, inputRecords = 0L
  }

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var curCall = -1
  private var nextId = 0

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val started, ended = new AtomicInteger()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val j = new Job(
        p.flatMap(x => Option(x.getProperty("perfbench.call"))).fold(-1)(_.toInt),
        p.flatMap(x => Option(x.getProperty("perfbench.span"))).getOrElse(""),
        e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, j))
      started.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
      ended.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageJob.get(e.stageInfo.stageId)).foreach { j =>
        val m = e.stageInfo.taskMetrics
        j.synchronized {
          j.stages += 1
          j.tasks += e.stageInfo.numTasks
          if (m != null) {
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            j.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  /** Mark one timed call (its jobs and spans group under `i`). */
  def call[A](i: Int)(body: => A): A =
    if (!enabled) body
    else {
      curCall = i
      sc.setLocalProperty("perfbench.call", i.toString)
      try span("call")(body)
      finally {
        sc.setLocalProperty("perfbench.call", null)
        curCall = -1
      }
    }

  /** Record `body` as a span named `name` inside the current call. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.fold(-1)(_._1)
      stack = (id, name) :: stack
      sc.setLocalProperty("perfbench.span", name)
      val ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val d = (System.nanoTime() - t0) / 1e9
        spans += Span(curCall, id, parent, name, ms,
          System.currentTimeMillis(), d)
        stack = stack.tail
        sc.setLocalProperty("perfbench.span", stack.headOption.map(_._2).orNull)
      }
    }

  /** Wait until the listener has seen the end of every job it saw
    * start, and no new job arrived for a moment.
    */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 5e9.toLong
    var stable = 0
    while (stable < 3 && System.nanoTime() < deadline) {
      val (s, e) = (started.get, ended.get)
      Thread.sleep(100)
      stable = if (s == e && started.get == s) stable + 1 else 0
    }
  }

  private def calls: Seq[Int] = spans.iterator.map(_.call).filter(_ >= 0)
    .toSeq.distinct

  /** Mean per call of the total seconds spent in spans named `name`. */
  def spanPerCall(name: String): Double = {
    val n = calls.size
    if (n == 0) 0.0
    else spans.iterator.filter(s => s.name == name && s.call >= 0)
      .map(_.durS).sum / n
  }

  /** Mean seconds of one span named `name` (over the timed calls). */
  def spanMean(name: String): Double = {
    val ds = spans.iterator.filter(s => s.name == name && s.call >= 0).map(_.durS).toSeq
    if (ds.isEmpty) 0.0 else ds.sum / ds.size
  }

  private def jobList: Seq[Job] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq
  }

  /** Sum of a job counter over the jobs run inside spans named `span`. */
  def jobSum(span: String)(f: Job => Long): Long =
    jobList.filter(j => j.span == span && j.call >= 0).map(f).sum

  /** The Spark engine layer, as means per call. */
  def sparkLayers(): Map[String, Double] = {
    drain()
    val cs = calls
    val n = cs.size.max(1).toDouble
    val js = jobList.filter(_.call >= 0)
    def sum(f: Job => Long): Double = js.map(f).sum.toDouble
    // driver time: a call's wall minus the union of its jobs' intervals
    val gap = spans.filter(s => s.name == "call" && s.call >= 0)
      .map(c => uncovered(c, js.filter(_.call == c.call))).sum
    val mb = 1024.0 * 1024.0
    Map(
      "spark.jobs" -> js.size / n,
      "spark.stages" -> sum(_.stages) / n,
      "spark.tasks" -> sum(_.tasks) / n,
      "spark.plan_s" -> spanPerCall("plan"),
      "spark.task_run_s" -> sum(_.runMs) / 1e3 / n,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9 / n,
      "spark.gc_s" -> sum(_.gcMs) / 1e3 / n,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / mb / n,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / mb / n,
      "spark.spill_mb" -> sum(_.spill) / mb / n,
      "spark.sched_gap_s" -> gap / n)
  }

  /** Seconds of `span` not covered by any of `js`'s job intervals. */
  private def uncovered(span: Span, js: Seq[Job]): Double = {
    val iv = js.map(j => (j.startMs.max(span.startMs),
        (if (j.endMs < 0) span.endMs else j.endMs).min(span.endMs)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var cur = Long.MinValue
    iv.foreach { case (s, e) =>
      val from = s.max(cur)
      if (e > from) { covered += e - from; cur = e }
    }
    ((span.endMs - span.startMs) - covered).max(0L) / 1e3
  }

  /** Driver time inside the spans whose name starts with `prefix`: their
    * seconds not covered by the jobs they ran, summed over all calls.
    */
  def gapIn(prefix: String): Double = {
    val js = jobList
    spans.filter(s => s.call >= 0 && s.name.startsWith(prefix))
      .map(s => uncovered(s, js.filter(j => j.call == s.call && j.span == s.name)))
      .sum
  }

  /** Write the spans and jobs as JSON lines, then one summary line. */
  def writeJsonl(path: String, env: Map[String, String],
      metrics: Seq[Metric]): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      spans.sortBy(_.id).foreach { s =>
        w.println(Json.obj(Seq("type" -> Json.str("span"),
          "call" -> s.call.toString, "id" -> s.id.toString,
          "parent" -> s.parent.toString, "name" -> Json.str(s.name),
          "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
          "dur_s" -> Json.num(s.durS))))
      }
      jobList.sortBy(_.startMs).foreach { j =>
        w.println(Json.obj(Seq("type" -> Json.str("job"),
          "call" -> j.call.toString, "span" -> Json.str(j.span),
          "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
          "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
          "run_ms" -> j.runMs.toString, "cpu_ns" -> j.cpuNs.toString,
          "gc_ms" -> j.gcMs.toString,
          "shuffle_write_b" -> j.shuffleWrite.toString,
          "shuffle_read_b" -> j.shuffleRead.toString,
          "spill_b" -> j.spill.toString,
          "input_records" -> j.inputRecords.toString)))
      }
      w.println(Json.obj(Seq("type" -> Json.str("summary"),
        "env" -> Json.obj(env.toSeq),
        "metrics" -> Json.obj(metrics.map(m => m.name -> Json.num(m.value))))))
    } finally w.close()
  }
}
