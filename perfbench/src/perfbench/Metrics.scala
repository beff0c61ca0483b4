package perfbench

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** The metric names and units BENCHMARK.json declares, in one place.
  * `run.py` checks every result line against BENCHMARK.json.
  */
object Metrics {

  def endToEnd(o: Outcome): Seq[Metric] = Seq(
    Metric("setup_s", o.loop.setupS, "s"),
    Metric("peak_rss_mb", Env.peakRssMb, "MB"),
    Metric("items_per_s", o.loop.itemsPerS, "1/s"),
    Metric("call_s.p50", Stats.median(o.loop.walls), "s"))

  /** Every per-layer metric with its unit. A workload reports the
    * layers it loads; the others read 0 (that layer did no work).
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "diff.rows_per_s" -> "1/s", "diff.call_s.p50" -> "s",
    "diff.standardize_s" -> "s", "diff.build_s" -> "s",
    "diff.flag_counts_s" -> "s", "diff.stats_s" -> "s",
    "diff.materialize_s" -> "s",
    "diff.cells_compared" -> "count", "diff.cells_differ" -> "count",
    "curate.docs_per_s" -> "1/s", "curate.call_s.p50" -> "s",
    "text.score_s" -> "s", "text.kept_share" -> "share",
    "dedup.exact_s" -> "s", "dedup.shingles_s" -> "s",
    "dedup.bands_s" -> "s", "dedup.candidates_s" -> "s",
    "dedup.pairs_s" -> "s", "dedup.clusters_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verified_pairs" -> "count",
    "dedup.verify_yield" -> "share",
    "ann.queries_per_s" -> "1/s", "ann.query_s.p50" -> "s",
    "ann.query_s.p95" -> "s", "ann.append_s.p50" -> "s",
    "ann.recall_at_10" -> "share", "ann.self_tie_misses" -> "count",
    "similarity.topk_build_s" -> "s", "similarity.topk_exec_s" -> "s",
    "similarity.rows_scanned_per_query" -> "count",
    "tables.append_s" -> "s", "tables.files" -> "count",
    "tables.commits" -> "count", "tables.bytes_per_user_byte" -> "ratio",
    "registry.total_s" -> "s", "registry.slots_per_s" -> "1/s",
    "registry.slot_s.p50" -> "s", "registry.slot_s.geomean" -> "s",
    "queries.build_s" -> "s", "queries.plan_s" -> "s",
    "queries.exec_s" -> "s", "queries.fixed_share" -> "share") ++
    RegistryWorkload.Groups.map(g => s"queries.$g.exec_s" -> "s") ++ Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.plan_s" -> "s",
    "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.spill_mb" -> "MB",
    "spark.sched_gap_s" -> "s")

  def perLayer(workload: String, o: Outcome, trace: Trace): Seq[Metric] = {
    val got = o.layers ++ trace.sparkLayers()
    val unknown = got.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"$workload reported undeclared layers: $unknown")
    PerLayer.map { case (n, u) => Metric(n, got.getOrElse(n, 0.0), u) }
  }
}

object Stats {
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}

object Env {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Host and launch facts recorded with every result. */
  def describe(spark: SparkSession, a: Main.Args): Map[String, String] = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getName).mkString(",")
    Map(
      "cores" -> a.cores.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jvm_flags" -> Json.str(ManagementFactory.getRuntimeMXBean.getInputArguments
        .asScala.filter(_.startsWith("-X")).mkString(" ")),
      "gc" -> Json.str(gcs),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version")),
      "spark" -> Json.str(spark.version),
      "shuffle_partitions" ->
        Json.str(spark.conf.get("spark.sql.shuffle.partitions")),
      "seed" -> a.seed.toString,
      "seconds" -> Json.num(a.seconds),
      "trace" -> a.trace.toString)
  }
}

/** Minimal JSON writing: values arrive already rendered. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
