package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.PlanSurgery

/** The registry workloads: `SparkEntry.benchQueries` slots over
  * generated sf tables (fixed data seeds; the run's seed is recorded
  * only). The only workloads that run `graft.operators`, the
  * sketch/temporal/multimodal queries and `graft.plans`; most of their
  * plans are sub-second, so fixed per-query cost dominates.
  *
  *   - `registry` (`listed`, in BENCHMARK.json): the first bench slot
  *     of every `SparkEntry` group, at sf0.001, one round of them per
  *     call, for `--seconds` and at least three rounds. It warms with
  *     one untimed round on other data, then one on the timed data, so
  *     that every timed round finds its files listed and in the page
  *     cache, as any round after a first one would;
  *   - `registry_full` (run on its own, about two and a half minutes):
  *     every bench slot once at sf0.01, as `graft.Bench` does.
  *
  * `graft.Bench`'s discipline: every slot is first run untimed on a
  * different data directory (JIT and codegen warm, no plan-keyed cache
  * hits), caches are cleared and the heap collected outside the timing,
  * and each slot is materialized through `PlanSurgery.stripGlobalSort`
  * into the noop sink. The check: each slot's frame has as many rows
  * as `registry_counts.tsv` recorded for it at that scale
  * ([[RegistryCounts]]).
  */
final class RegistryWorkload(val name: String, val slots: Seq[String],
    sf: Double, warmSf: Double, warmSeed: Long, listed: Boolean)
    extends Workload {
  import RegistryWorkload._

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val warmDir = RegistryData.ensure(spark, ctx.args.dataDir, warmSf, warmSeed)
    val dir = RegistryData.ensure(spark, ctx.args.dataDir, sf, DataSeed)
    ctx.note(s"tables ready; slots: ${slots.mkString(" ")}")
    val want = recorded(ctx.args.benchDir, sf)

    val tr = ctx.trace
    val group = groupOf
    require(slots.forall(group.contains),
      s"slots outside every group: ${slots.filterNot(group.contains)}")
    val walls = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // one call is one round over the slots; the first warm call
    // (i = -1) runs on the warm directory. A round's wall is the sum of
    // its slots' walls: clearing caches between slots stays outside the timing, as
    // in graft.Bench. The listed workload collects the heap between
    // rounds (Loop), not between slots: within a round of its sf0.001
    // slots the collector makes one young collection of about 5 ms
    // (seen with -Xlog:gc on 4 cores), against rounds of about 1.7 s,
    // and the full collections stay between rounds. The full pass, at
    // sf0.01, collects between slots, as graft.Bench does
    val loop = Loop.run(ctx, if (listed) 2 else 1,
        if (listed) ctx.args.seconds else 0.0, minCalls = if (listed) 3 else 1) { i =>
      val d = if (i == -1) warmDir else dir
      val w = slots.map { s =>
        val (_, w) = try Loop.timed {
          if (!tr.enabled || i < 0) noop(frame(spark, s, d))
          else {
            val df = tr.span("queries.build")(frame(spark, s, d))
            tr.span("plan")(df.queryExecution.executedPlan)
            tr.span(s"queries.exec:${group(s)}")(noop(df))
          }
        } finally spark.catalog.clearCache()
        if (i >= 0) walls += s -> w
        if (!listed) System.gc()
        w
      }.sum
      Loop.Sample(w, slots.size.toDouble)
    }
    ctx.note("timed calls done")
    // the noop sink reports no row count, so each slot is counted once
    // more after the timed calls; a wrong count fails every timed round
    val wrong = walls.map(_._1).distinct.filterNot { s =>
      val n = scala.util.Try(frame(spark, s, dir).count()).toOption
      spark.catalog.clearCache()
      val ok = n.isDefined && want.get(s) == n
      if (!ok) Console.err.println(s"PERFBENCH slot $s has $n rows, recorded ${want.get(s)}")
      ok
    }
    val badCalls = if (wrong.isEmpty) 0 else loop.walls.size
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        tr.drain()
        val rounds = loop.walls.size.toDouble
        // per round: spanPerCall is a mean per call, and a call is a round
        val build = tr.spanPerCall("queries.build")
        val plan = tr.spanPerCall("plan")
        val groups = Groups.filter(g => slots.exists(group(_) == g)).map { g =>
          s"queries.$g.exec_s" -> tr.spanPerCall(s"queries.exec:$g") }
        // fixed cost: building and planning, plus the driver time of
        // execution (its wall outside any job)
        val gap = tr.gapIn("queries.exec:") / rounds
        val round = loop.walls.sum / rounds
        val perSlot = walls.groupBy(_._1).values.map(c => Stats.median(c.map(_._2).toSeq))
        Map("registry.total_s" -> Stats.median(loop.walls),
          "registry.slots_per_s" -> loop.itemsPerS,
          "registry.slot_s.p50" -> Stats.median(walls.map(_._2).toSeq),
          "registry.slot_s.geomean" -> Stats.geomean(perSlot.toSeq),
          "queries.build_s" -> build, "queries.plan_s" -> plan,
          "queries.exec_s" -> groups.map(_._2).sum,
          "queries.fixed_share" -> (build + plan + gap) / round) ++
          groups
      }
    val inputs = Inputs.frame(spark.read.parquet(s"$dir/lineitem.parquet"))
    Outcome(loop.copy(failed = loop.failed + badCalls), layers, inputs)
  }
}

object RegistryWorkload {
  val DataSeed = 42L
  val CountsFile = "registry_counts.tsv"

  /** Registry groups with a bench slot, with their queries: the query
    * objects `SparkEntry.queries` unions, less `ClassifierQueries` and
    * `TableQueries`, which are correctness-gated only.
    */
  private val groupQueries: Seq[(String, Map[String, _])] = {
    import graft.queries._
    Seq("DiffQueries" -> DiffQueries.queries, "Relational" -> Relational.queries,
      "DedupQueries" -> DedupQueries.queries, "TextQueries" -> TextQueries.queries,
      "SimilarityQueries" -> SimilarityQueries.queries,
      "MultimodalQueries" -> MultimodalQueries.queries,
      "PipelineQueries" -> PipelineQueries.queries,
      "TemporalQueries" -> TemporalQueries.queries,
      "SketchQueries" -> SketchQueries.queries)
  }

  val Groups: Seq[String] = groupQueries.map(_._1)

  def groupOf: Map[String, String] =
    groupQueries.flatMap { case (g, qs) => qs.keys.map(_ -> g) }.toMap

  /** The first bench slot of each group, in `benchQueries` order. */
  def firstOfEachGroup: Seq[String] = {
    val g = groupOf
    SparkEntry.benchQueries.filter(g.contains).groupBy(g)
      .values.map(_.head).toSeq.sortBy(SparkEntry.benchQueries.indexOf(_))
  }

  val Listed = new RegistryWorkload("registry", firstOfEachGroup,
    sf = 0.001, warmSf = 0.001, warmSeed = DataSeed + 1, listed = true)
  val Full = new RegistryWorkload("registry_full", SparkEntry.benchQueries,
    sf = 0.01, warmSf = 0.001, warmSeed = DataSeed, listed = false)

  def frame(spark: SparkSession, slot: String, dir: String): DataFrame =
    PlanSurgery.stripGlobalSort(SparkEntry.queries(slot)(spark, dir))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Recorded row counts of every slot at scale `sf`. */
  def recorded(benchDir: String, sf: Double): Map[String, Long] = {
    val f = new java.io.File(s"$benchDir/$CountsFile")
    if (!f.exists()) Map.empty
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filterNot(_.startsWith("#")).map(_.split("\t"))
        .collect { case Array(s, k, v) if s.toDouble == sf => k -> v.toLong }.toMap
      finally src.close()
    }
  }
}

/** Records each registry slot's row count with `count()` over the
  * generated sf tables of both registry workloads — the reference their
  * noop writes are checked against.
  *
  *   java -cp <classpath> perfbench.RegistryCounts <data-dir> <out.tsv>
  */
object RegistryCounts {
  def main(args: Array[String]): Unit = {
    val Array(dataDir, out) = args
    val spark = graft.Sessions.builder(Runtime.getRuntime.availableProcessors.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val lines = Seq(0.001, 0.01).flatMap { sf =>
      val dir = RegistryData.ensure(spark, dataDir, sf, RegistryWorkload.DataSeed)
      SparkEntry.benchQueries.map { s =>
        val n = RegistryWorkload.frame(spark, s, dir).count()
        spark.catalog.clearCache()
        s"$sf\t$s\t$n"
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      ((s"# registry slot row counts (sf, slot, rows): data v${RegistryData.Version}, " +
        s"seed ${RegistryWorkload.DataSeed}") +: lines)
        .mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
