package perfbench

import graft.diff.{CompCols => DiffCols, DataColDiff, FlagCounts, Standardize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import perfbench.Seeded.{below, uniform}

/** `diff_snapshots`: the paper's operator at per-row scale.
  *
  * Two seeded snapshots of a keyed table of mixed types (long, double,
  * string, date and two nullable columns) with planted deletes,
  * inserts and per-column edits, null↔value flips included. Each call
  * is `DataColDiff.computeDataframeDiff` (flag counts), the collected
  * per-column stats and a noop write of the diff frame, read from
  * parquet each time. The full-outer join shuffle and the diff
  * projection do the work; text, dedup and similarity do none.
  */
object DiffWorkload extends Workload {
  val name = "diff_snapshots"

  /** Rows of the first snapshot. */
  val Rows = 120000L
  val DeleteRate = 0.02
  val InsertRate = 0.02
  val EditRate = 0.05
  val WarmCalls = 2
  val CompCols = Seq("qty", "price", "name", "day", "note", "score")

  final case class Truth(counts: FlagCounts, perCol: Map[String, Long])


  /** The first snapshot's columns for the ids in `ids`. */
  private def base(ids: DataFrame, seed: Long): DataFrame = ids.select(
    col("id"),
    below(seed, 1, 1000),
    (below(seed, 2, 10000000L) / 100.0),
    concat(lit("name-"), below(seed, 3, 50000).cast("string")),
    date_add(lit(java.sql.Date.valueOf("2020-01-01")), below(seed, 4, 2000).cast("int")),
    when(uniform(seed, 5) < 0.2, lit(null).cast("string"))
      .otherwise(concat(lit("note-"), below(seed, 6, 10000).cast("string"))),
    when(uniform(seed, 7) < 0.2, lit(null).cast("double"))
      .otherwise(below(seed, 8, 1000000) / 1000.0)
  ).toDF("id" +: CompCols: _*)

  /** s1, s2 and the planted truth. Every planted edit changes the
    * value under the diff's semantics (strings are never empty, so
    * null↔value flips on `note` are real differences).
    */
  def generate(spark: SparkSession, seed: Long, rows: Long):
      (DataFrame, DataFrame, DataFrame) = {
    val s1 = base(spark.range(0, rows).toDF("id"), seed)
    val inserts = base(spark.range(rows, rows + (rows * InsertRate).toLong)
      .toDF("id"), seed + 1)
    val planted = s1
      .withColumn("deleted", uniform(seed, 20) < DeleteRate)
      .select(col("*") +: CompCols.zipWithIndex.map { case (c, i) =>
        (uniform(seed, 30 + i) < EditRate).as(s"e_$c")
      }: _*)
    def edit(c: String, changed: Column): Column =
      when(col(s"e_$c"), changed).otherwise(col(c)).as(c)
    val kept = planted.filter(!col("deleted")).select(
      col("id"),
      edit("qty", col("qty") + 1 + below(seed, 40, 100)),
      edit("price", col("price") + 0.01),
      edit("name", concat(col("name"), lit("x"))),
      edit("day", date_add(col("day"), 1)),
      edit("note", when(col("note").isNull, lit("note-new"))
        .when(uniform(seed, 41) < 0.5, lit(null).cast("string"))
        .otherwise(concat(col("note"), lit("!")))),
      edit("score", when(col("score").isNull, lit(1.5))
        .when(uniform(seed, 42) < 0.5, lit(null).cast("double"))
        .otherwise(col("score") + 0.5)))
    (s1, kept.unionByName(inserts), planted)
  }

  /** Truth from the planted flags alone — no diff code involved. */
  def truth(planted: DataFrame, inserted: Long): Truth = {
    val anyEdit = CompCols.map(c => col(s"e_$c")).reduce(_ || _)
    val live = !col("deleted")
    val aggs = Seq(sum(col("deleted").cast("long")),
      sum((live && anyEdit).cast("long")),
      sum((live && !anyEdit).cast("long"))) ++
      CompCols.map(c => sum((live && col(s"e_$c")).cast("long")))
    val r = planted.agg(aggs.head, aggs.tail: _*).head()
    Truth(FlagCounts(s1Only = r.getLong(0), s2Only = inserted,
      noDiff = r.getLong(2), diff = r.getLong(1)),
      CompCols.zipWithIndex.map { case (c, i) => c -> r.getLong(3 + i) }
        .filter(_._2 > 0).toMap)
  }

  /** The call's check: flag counts and per-column mismatch counts equal
    * the planted truth exactly.
    */
  def check(t: Truth, counts: FlagCounts, perCol: Map[String, Long]): Unit = {
    if (counts != t.counts)
      throw new CheckFailed(s"flag counts $counts != planted ${t.counts}")
    if (perCol != t.perCol)
      throw new CheckFailed(s"column mismatches $perCol != planted ${t.perCol}")
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val seed = ctx.args.seed
    val dir = s"${ctx.args.runDir}/diff"
    val (s1g, s2g, planted) = generate(spark, seed, Rows)
    s1g.write.parquet(s"$dir/s1")
    s2g.write.parquet(s"$dir/s2")
    ctx.note("inputs written")
    val t = truth(planted, (Rows * InsertRate).toLong)
    val inputs = Inputs.frame(s1g) + "/" + Inputs.frame(s2g)
    ctx.note("truth computed")
    val n1 = Rows
    val n2 = t.counts.s2Only + t.counts.noDiff + t.counts.diff
    val tr = ctx.trace

    def call(): (FlagCounts, Map[String, Long]) = {
      val s1 = spark.read.parquet(s"$dir/s1")
      val s2 = spark.read.parquet(s"$dir/s2")
      if (tr.enabled) {
        tr.span("diff.standardize")(Standardize.standardize(s1, s2))
        val plan = tr.span("diff.build")(
          DataColDiff.diffPlan(s1, s2, Seq("id")).toOption.get)
        tr.span("plan")(plan.queryExecution.executedPlan)
      }
      val r = tr.span("diff.flag_counts")(
        DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
          .fold(mm => throw new CheckFailed(mm.message), identity))
      try {
        val stats = tr.span("diff.stats")(r.stats.collect())
          .map(x => x.getString(0) -> x.getLong(1)).toMap
        tr.span("diff.materialize")(
          r.diff.write.format("noop").mode("overwrite").save())
        (r.counts, stats)
      } finally r.diff.unpersist()
    }

    // the cells the operator compared and found different, from its own
    // output: matched rows × the columns it compares, and the sum of its
    // per-column mismatch counts (per call; the last timed call's)
    val comparedCols =
      DiffCols.derive(spark.read.parquet(s"$dir/s1"), Seq("id")).compCols.size
    var compared, differ = 0.0
    val loop = Loop.run(ctx, WarmCalls, ctx.args.seconds, minCalls = 3) { _ =>
      val ((c, s), w) = Loop.timed(call())
      check(t, c, s)
      compared = ((c.noDiff + c.diff) * comparedCols).toDouble
      differ = s.values.sum.toDouble
      Loop.Sample(w, (n1 + n2).toDouble)
    }
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val build = tr.spanPerCall("diff.build")
        Map(
          "diff.rows_per_s" -> loop.itemsPerS,
          "diff.call_s.p50" -> Stats.median(loop.walls),
          "diff.standardize_s" -> tr.spanPerCall("diff.standardize"),
          "diff.build_s" -> build,
          "diff.flag_counts_s" -> tr.spanPerCall("diff.flag_counts"),
          "diff.stats_s" -> tr.spanPerCall("diff.stats"),
          "diff.materialize_s" -> tr.spanPerCall("diff.materialize"),
          "diff.cells_compared" -> compared,
          "diff.cells_differ" -> differ)
      }
    Outcome(loop, layers, inputs)
  }
}
