package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's main: one workload, one seed, one JSON result line.
  *
  * A single client thread times calls into the program's public
  * functions from outside. Each workload generates its inputs from the
  * seed (with planted ground truth), sets up, then runs calls for
  * `--seconds`; a call whose output fails its check, or that throws,
  * counts as failed and gives no latency sample.
  *
  * `--trace 1` installs [[Trace]]'s listener and splits every call into
  * layer spans; its metrics are the per-layer ones. End-to-end metrics
  * come from `--trace 0` runs only.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, runDir: String, dataDir: String,
      traceDir: String, benchDir: String)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--cores").toInt, get("--run-dir"),
      get("--data-dir"), get("--trace-dir"), get("--bench-dir"))
  }

  def session(a: Args): SparkSession = {
    // the program's own session recipe, sized to this host's cores
    val s = graft.Sessions.builder(a.cores.toString)
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val workload: Workload = a.workload match {
      case "diff_snapshots" => DiffWorkload
      case "curate_dedup" => CurateWorkload
      case "ann_serve_ingest" => AnnWorkload
      case "registry" => RegistryWorkload.Listed
      case "registry_full" => RegistryWorkload.Full
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val spark = session(a)
    val trace = new Trace(spark, a.trace)
    val ctx = new Ctx(spark, a, trace)
    ctx.note("session ready")
    val out = workload.run(ctx)
    val metrics =
      if (a.trace) Metrics.perLayer(workload.name, out, trace)
      else Metrics.endToEnd(out)
    val env = Env.describe(spark, a) ++ Map(
      "workload" -> Json.str(workload.name), "inputs" -> Json.str(out.inputs))
    if (a.trace) trace.writeJsonl(
      s"${a.traceDir}/${workload.name}-seed${a.seed}.jsonl", env, metrics)
    val correct = out.loop.failed == 0 && out.loop.attempted > 0
    val line = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> out.loop.attempted.toString,
      "failed" -> out.loop.failed.toString,
      "metrics" -> Json.obj(metrics.map { case Metric(n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    Console.err.println("PERFBENCH env " + Json.obj(env.toSeq))
    spark.stop()
    println("PERFBENCH_RESULT " + line)
  }
}

/** What a workload run hands back: its timing loop's result, the
  * per-layer numbers a traced run collected, and its inputs' checksum.
  */
final case class Outcome(
    loop: Loop.Result,
    layers: Map[String, Double],
    /** checksum of the generated inputs ([[Inputs]]) */
    inputs: String)

/** Per-run context shared by the workloads. */
final class Ctx(val spark: SparkSession, val args: Main.Args,
    val trace: Trace) {
  /** Wall-clock seconds since the JVM started. */
  def sinceStart: Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Progress note on stderr (run.py forwards it). */
  def note(msg: String): Unit =
    Console.err.println(f"PERFBENCH [$sinceStart%.2f s] $msg")
}

final class CheckFailed(msg: String) extends RuntimeException(msg)

trait Workload {
  def name: String
  def run(ctx: Ctx): Outcome
}

/** The closed-loop timing discipline every workload shares. */
object Loop {

  /** One checked call: its latency sample, the work items it did, and
    * extra busy seconds that are not latency (an ingest beside a query).
    */
  final case class Sample(wall: Double, items: Double, extraBusy: Double = 0.0)

  final case class Result(setupS: Double, walls: Vector[Double], items: Double,
      busyS: Double, attempted: Int, failed: Int) {
    def itemsPerS: Double = if (busyS > 0) items / busyS else 0.0
  }

  /** `warmCalls` untimed calls (JIT, generated-code cache), then calls
    * back to back until `seconds` have passed and at least `minCalls`
    * were timed. `call` checks its own output; a [[CheckFailed]] or any
    * other non-fatal exception counts the call as failed, warm calls
    * included. After the warm calls and after each timed call, outside
    * the timing, the heap is collected, as `graft.Bench` does.
    */
  def run(ctx: Ctx, warmCalls: Int, seconds: Double, minCalls: Int)(
      call: Int => Sample): Result = {
    val walls = Vector.newBuilder[Double]
    var items, busy = 0.0
    var attempted, failed = 0
    def attempt(i: Int, timed: Boolean): Unit = {
      attempted += 1
      try {
        val s = if (timed) ctx.trace.call(i)(call(i)) else call(i)
        if (timed) { walls += s.wall; items += s.items; busy += s.wall + s.extraBusy }
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          Console.err.println(s"PERFBENCH call $i failed: $e")
      }
      if (timed) System.gc()
    }
    (0 until warmCalls).foreach(i => attempt(-1 - i, timed = false))
    System.gc()
    val setupS = ctx.sinceStart
    ctx.note("set-up done")
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minCalls) {
      attempt(i, timed = true)
      i += 1
    }
    val r = Result(setupS, walls.result(), items, busy, attempted, failed)
    ctx.note(r.walls.map(w => f"$w%.3f").mkString("call walls: ", " ", ""))
    r
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
