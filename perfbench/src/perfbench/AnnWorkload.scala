package perfbench

import graft.similarity.IvfPqTable
import graft.tables.{CowTable, TxLog}

/** `ann_serve_ingest`: the serving face, with writes beside reads.
  *
  * Set-up creates an `IvfPqTable` over seeded mixture vectors and reads
  * its model once, as `AnnServe` does. Then one closed-loop client
  * sends small query batches (`IvfPqTable.topK`, collected) and, after
  * every few batches, an `IvfPqTable.append` of new vectors. Every call
  * is small, so per-call planning and job scheduling dominate; appends
  * grow the file and commit count later reads must plan over.
  */
object AnnWorkload extends Workload {
  val name = "ann_serve_ingest"

  val Dim = 64
  val BaseRows = 12000
  val Clusters = 256
  val QueryBatch = 4
  val K = 10
  val AppendEvery = 2
  val AppendRows = 500
  val RecallQueries = 20
  val WarmCalls = 3
  /** Query and appended ids live in their own ranges, apart from the
    * base corpus (`topK` never returns a query's own id).
    */
  val AppendIdBase = 100000000L
  val QueryIdBase = 1000000000L

  /** Seeded Gaussian mixture: `Clusters` unit-norm centres plus noise. */
  final class Gen(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    private def gauss(): Double = {
      // Box-Muller from the splittable stream (no shared global state)
      val u1 = r.nextDouble().max(1e-300)
      math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val centres: Vector[Array[Double]] = Vector.fill(Clusters) {
      val v = Array.fill(Dim)(gauss())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    def next(): Array[Double] = {
      val c = centres(r.nextInt(Clusters))
      Array.tabulate(Dim)(i => c(i) + 0.5 / math.sqrt(Dim) * gauss())
    }
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var d, na, nb = 0.0
    var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    d / math.sqrt(na * nb)
  }

  /** Exact top-k ids by cosine (ties toward the smaller id). */
  def exactTopK(q: Array[Double], corpus: Seq[(Long, Array[Double])],
      k: Int): Seq[Long] =
    corpus.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(k).map(_._1)

  /** A served batch: (q_id, rank, n_id, dist_pq) rows. */
  type Served = Seq[(Long, Int, Long, Double)]

  /** What the index holds for a probe that missed itself: the cell and
    * PQ code of the appended vector (None if the append is not
    * visible), of each returned neighbour, and how many vectors of the
    * probe's and the returned rows' cells carry the probe's code with a
    * smaller id.
    */
  final case class TieEvidence(probe: Option[Code], returned: Seq[Option[Code]],
      sameCodeSmallerIds: Long)

  /** A coded row's cell and PQ code (one centroid id per subspace). */
  type Code = (Long, Seq[Long])

  val ScreenK: Int = graft.similarity.IvfPq.Config().pq.screenK

  /** The batch's check: every query gets exactly ranks 1..k, and the
    * probe query (an appended vector asked as itself) finds that
    * vector at rank 1, unless it lost a PQ-code tie.
    *
    * The tie: a vector's own code has the smallest ADC distance any
    * code can have for it, so the screen (the `ScreenK` best by
    * `(dist_pq, n_id)`) drops it only when at least `ScreenK` vectors
    * of the probed cells carry exactly its code and a smaller id. A
    * miss passes, and is counted (the `ann.self_tie_misses` layer
    * metric), only when the index shows exactly that: the appended
    * vector is in the table, every returned row carries its code (so
    * all share its own ADC distance), and at least `ScreenK` vectors
    * with that code and a smaller id sit in the probed cells. Any other
    * miss fails, a lost append among them.
    *
    * @param tie read from the index, on a miss only
    * @return whether the probe lost a tie
    */
  def check(qids: Seq[Long], rows: Served, probe: Option[(Long, Long)],
      tie: => TieEvidence): Boolean = {
    val byQ = rows.groupBy(_._1)
    qids.foreach { q =>
      val ranks = byQ.getOrElse(q, Nil).map(_._2).sorted
      if (ranks != (1 to K))
        throw new CheckFailed(s"query $q returned ranks $ranks, want 1..$K")
    }
    probe.exists { case (q, want) =>
      val got = byQ(q)
      val top = got.find(_._2 == 1).map(_._3)
      if (top.contains(want)) false
      else {
        val t = tie
        val why =
          if (t.probe.isEmpty) Some("is not in the index")
          else if (got.map(_._4).distinct.size != 1 || !t.returned.forall(_ == t.probe))
            Some("is missing, and not for a tie on its PQ code")
          else if (t.sameCodeSmallerIds < ScreenK)
            Some(s"is missing, but only ${t.sameCodeSmallerIds} smaller ids share its code")
          else None
        why.foreach(w => throw new CheckFailed(
          s"appended vector $want $w (rank 1 is $top)"))
        true
      }
    }
  }

  /** [[TieEvidence]] for appended vector `want`, read from the table. */
  def tieEvidence(spark: org.apache.spark.sql.SparkSession, path: String,
      want: Long, returned: Seq[Long]): TieEvidence = {
    import org.apache.spark.sql.functions.col
    val t = CowTable.read(spark, path)
    val codeCols = t.columns.filter(_.matches("c[0-9]+")).sortBy(_.drop(1).toInt)
      .map(c => col(c).cast("long"))
    def codes(ids: Seq[Long]): Map[Long, Code] =
      t.filter(col("vid").isin(ids: _*))
        .select(col("vid") +: col("cell").cast("long") +: codeCols: _*)
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1), codeCols.indices.map(i => r.getLong(2 + i)))).toMap
    val c = codes(want +: returned)
    val sameCode = c.get(want).fold(0L) { case (cell, code) =>
      val cells = (cell +: returned.flatMap(c.get).map(_._1)).distinct
      t.filter(col("cell").isin(cells: _*) && col("vid") < want &&
          codeCols.zip(code).map { case (cc, v) => cc === v }.reduce(_ && _))
        .count()
    }
    TieEvidence(c.get(want), returned.map(c.get), sameCode)
  }

  private def dirStats(root: java.io.File): (Int, Long) = {
    val files = Option(root.listFiles()).toSeq.flatten
    files.foldLeft((0, 0L)) { case ((n, b), f) =>
      if (f.isDirectory) { val (n2, b2) = dirStats(f); (n + n2, b + b2) }
      else (n + (if (f.getName.endsWith(".parquet")) 1 else 0), b + f.length)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val gen = new Gen(ctx.args.seed)
    val base = Vector.tabulate(BaseRows)(i => i.toLong -> gen.next())
    val path = s"${ctx.args.runDir}/ann_index"
    def frame(rows: Seq[(Long, Array[Double])]) =
      rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val tr = ctx.trace
    IvfPqTable.create(spark, path,
      frame(base).repartition(ctx.args.cores), "id", "vec", Dim)
    val served = IvfPqTable.readModel(spark, path)
    ctx.note("index created")
    val appended = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    var nextQ = QueryIdBase
    var pendingProbe: Option[(Long, Array[Double])] = None
    val appendWalls = scala.collection.mutable.ArrayBuffer.empty[Double]

    var tieMisses = 0
    def query(i: Int): Loop.Sample = {
      val qs = Seq.fill(QueryBatch) { nextQ += 1; nextQ -> gen.next() }
      val probe = pendingProbe.map { case (id, v) => nextQ += 1; (nextQ, id, v) }
      pendingProbe = None
      val all = qs ++ probe.map(p => p._1 -> p._3)
      val (rows, w) = Loop.timed {
        val topk = tr.span("similarity.topk_build")(IvfPqTable.topK(spark, path,
          frame(all), "id", "vec", Dim, K, model = Some(served)))
        val ds = topk.select("q_id", "rank", "n_id", "dist_pq")
          .as[(Long, Int, Long, Double)]
        if (tr.enabled) tr.span("plan")(ds.queryExecution.executedPlan)
        tr.span("similarity.topk_exec")(ds.collect().toSeq)
      }
      val lostTie = check(all.map(_._1), rows, probe.map(p => p._1 -> p._2),
        tieEvidence(spark, path, probe.get._2,
          rows.filter(_._1 == probe.get._1).map(_._3)))
      if (lostTie && i >= 0) tieMisses += 1
      Loop.Sample(w, all.size.toDouble)
    }

    def append(i: Int): Double = {
      val rows = Seq.tabulate(AppendRows)(j =>
        (AppendIdBase + i.toLong * AppendRows + j) -> gen.next())
      val (_, w) = Loop.timed(tr.span("tables.append")(
        IvfPqTable.append(spark, path, frame(rows), "id", "vec", Dim, served)))
      appended ++= rows
      pendingProbe = Some(rows(rows.size / 2))
      w
    }

    // every AppendEvery-th call (warm calls included) ingests first;
    // the append's wall is busy time but not query latency
    var calls, appends = 0
    val loop = Loop.run(ctx, WarmCalls, ctx.args.seconds, minCalls = 5) { i =>
      calls += 1
      val a =
        if (calls % AppendEvery != 0) 0.0
        else {
          val w = append(appends)
          appends += 1
          if (i >= 0) appendWalls += w
          w
        }
      query(i).copy(extraBusy = a)
    }
    val layers =
      if (!tr.enabled) Map.empty[String, Double]
      else {
        val corpus = base ++ appended
        val sample = Seq.fill(RecallQueries) { nextQ += 1; nextQ -> gen.next() }
        val got = IvfPqTable.topK(spark, path, frame(sample), "id", "vec", Dim, K,
          model = Some(served)).select("q_id", "n_id").as[(Long, Long)].collect()
          .groupBy(_._1)
        val recall = sample.map { case (q, v) =>
          val exact = exactTopK(v, corpus, K).toSet
          got.getOrElse(q, Array.empty).count(x => exact.contains(x._2)).toDouble / K
        }.sum / RecallQueries
        val (files, bytes) = dirStats(new java.io.File(path))
        val userBytes = corpus.size.toDouble * (8 + 8 * Dim)
        tr.drain()
        val queries = loop.items
        val scanned = tr.jobSum("similarity.topk_build")(_.inputRecords) +
          tr.jobSum("similarity.topk_exec")(_.inputRecords)
        Map(
          "ann.queries_per_s" -> loop.itemsPerS,
          "ann.query_s.p50" -> Stats.median(loop.walls),
          "ann.query_s.p95" -> Stats.quantile(loop.walls, 0.95),
          "ann.append_s.p50" -> Stats.median(appendWalls.toSeq),
          "ann.recall_at_10" -> recall,
          "ann.self_tie_misses" -> tieMisses.toDouble,
          "similarity.topk_build_s" -> tr.spanPerCall("similarity.topk_build"),
          "similarity.topk_exec_s" -> tr.spanPerCall("similarity.topk_exec"),
          "similarity.rows_scanned_per_query" ->
            (if (queries > 0) scanned / queries else 0.0),
          "tables.append_s" -> tr.spanMean("tables.append"),
          "tables.files" -> files.toDouble,
          "tables.commits" -> TxLog.latestVersion(spark, path).toDouble,
          "tables.bytes_per_user_byte" -> bytes / userBytes)
      }
    Outcome(loop, layers, Inputs.vectors(base))
  }
}
