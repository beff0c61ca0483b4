package perfbench

import graft.diff.FlagCounts

/** Tests of the benchmark itself: every checker passes a right output
  * and flags a deliberately wrong one, and every generator gives the
  * same inputs for the same seed and other inputs for another seed.
  *
  *   python3 perfbench/selftest.py
  */
object SelfTest {

  private var failures = 0

  private def expect(name: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def flags(body: => Unit): Boolean =
    try { body; false } catch { case _: CheckFailed => true }

  def main(args: Array[String]): Unit = {
    diffCheck()
    curateCheck()
    annCheck()
    generators()
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all passed")
  }

  private def diffCheck(): Unit = {
    val t = DiffWorkload.Truth(FlagCounts(20, 20, 900, 60),
      Map("qty" -> 30L, "note" -> 40L))
    expect("diff: planted truth passes")(
      !flags(DiffWorkload.check(t, t.counts, t.perCol)))
    expect("diff: wrong flag count is flagged")(
      flags(DiffWorkload.check(t, t.counts.copy(diff = 59), t.perCol)))
    expect("diff: wrong column mismatch count is flagged")(
      flags(DiffWorkload.check(t, t.counts, t.perCol.updated("note", 39L))))
    expect("diff: missing column is flagged")(
      flags(DiffWorkload.check(t, t.counts, t.perCol - "qty")))
  }

  private def curateCheck(): Unit = {
    val c = CurateWorkload.generate(5L, 600)
    val text = c.docs.toMap
    // the right answer: first of every text, minus planted drops and
    // every near-duplicate family member but the first
    val famLosers = c.families.flatMap(_.sorted.tail).toSet
    val firstOfText = c.docs.groupBy(_._2).values.map(_.map(_._1).min).toSet
    val kept = c.docs.map(_._1)
      .filter(id => firstOfText(id) && !c.mustDrop(id) && !famLosers(id)).toArray
    val survivors = c.docs.map(_._1)
      .filter(id => firstOfText(id) && !famLosers(id)).toArray
    val right = CurateWorkload.Out(kept, c.plantedPairs, survivors)
    expect("curate: right output passes")(
      !flags(CurateWorkload.check(c, text, right, kept.length)))
    val clone = c.clones.head.sorted
    expect("curate: surviving clone (dedupByClusters) is flagged")(
      flags(CurateWorkload.check(c, text,
        right.copy(survivors = survivors :+ clone(1)), kept.length)))
    expect("curate: kept clone (two kept docs share a text) is flagged")(
      flags(CurateWorkload.check(c, text,
        right.copy(kept = kept :+ clone(1)), -1)))
    expect("curate: kept non-English or low-quality doc is flagged")(
      flags(CurateWorkload.check(c, text,
        right.copy(kept = kept :+ c.mustDrop.head), -1)))
    expect("curate: planted-pair recall below the bound is flagged")(
      flags(CurateWorkload.check(c, text,
        right.copy(pairs = c.plantedPairs.take(c.plantedPairs.size / 2)),
        kept.length)))
    expect("curate: kept count differing from the first call is flagged")(
      flags(CurateWorkload.check(c, text, right, kept.length + 1)))
  }

  private def annCheck(): Unit = {
    import AnnWorkload.{K, ScreenK, TieEvidence}
    def ranks(q: Long, top: Long, dist: Int => Double = r => r.toDouble) =
      (1 to K).map(r => (q, r, if (r == 1) top else 1000L + r, dist(r)))
    val rows = ranks(1L, 7L) ++ ranks(2L, 55L)
    def unread: TieEvidence = sys.error("tie evidence read on a hit")
    val code = (3L, Seq(1L, 4L, 1L, 5L))
    val tie = TieEvidence(Some(code), Seq.fill(K)(Some(code)), ScreenK.toLong)
    val tied = ranks(2L, 55L, _ => 3.0)
    expect("ann: k ranks per query and the self-neighbour at rank 1 pass")(
      !flags(AnnWorkload.check(Seq(1L, 2L), rows, Some(2L -> 55L), unread)))
    expect("ann: missing self-neighbour is flagged")(
      flags(AnnWorkload.check(Seq(1L, 2L), rows, Some(2L -> 56L),
        tie.copy(returned = Seq.fill(K)(Some((3L, Seq(2L, 4L, 1L, 5L))))))))
    expect("ann: a self-neighbour that lost a PQ-code tie passes, counted")(
      AnnWorkload.check(Seq(2L), tied, Some(2L -> 56L), tie))
    expect("ann: a lost append (probe not in the index) is flagged")(
      flags(AnnWorkload.check(Seq(2L), tied, Some(2L -> 56L),
        tie.copy(probe = None))))
    expect("ann: a tie on another code than the probe's is flagged")(
      flags(AnnWorkload.check(Seq(2L), tied, Some(2L -> 56L),
        tie.copy(probe = Some((3L, Seq(9L, 4L, 1L, 5L)))))))
    expect("ann: a tie with fewer than screenK smaller same-code ids is flagged")(
      flags(AnnWorkload.check(Seq(2L), tied, Some(2L -> 56L),
        tie.copy(sameCodeSmallerIds = ScreenK - 1L))))
    expect("ann: a query with fewer than k rows is flagged")(
      flags(AnnWorkload.check(Seq(1L, 2L), rows.filterNot(_._2 == K), None, unread)))
    expect("ann: a query with no rows is flagged")(
      flags(AnnWorkload.check(Seq(1L, 2L, 3L), rows, None, unread)))
  }

  /** The tie exemption against a real index: 30 copies of one vector
    * share its PQ code, so a later-appended copy, queried as itself,
    * loses the screen to the smaller ids. The check reads the index and
    * accepts that miss; the same miss for an id that was never appended
    * fails.
    */
  private def annTieOnIndex(spark: org.apache.spark.sql.SparkSession): Unit = {
    import graft.similarity.IvfPqTable
    import spark.implicits._
    import AnnWorkload.{Dim, K, tieEvidence}
    val g = new AnnWorkload.Gen(9L)
    val v0 = g.next()
    val base = Seq.tabulate(300)(i => i.toLong -> g.next()) ++
      Seq.tabulate(30)(i => (1000L + i) -> v0)
    def frame(rows: Seq[(Long, Array[Double])]) =
      rows.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val path = System.getProperty("java.io.tmpdir") + "/selftest-ann-index"
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(path))
    val model = IvfPqTable.create(spark, path, frame(base), "id", "vec", Dim)
    val appended = AnnWorkload.AppendIdBase
    IvfPqTable.append(spark, path, frame(Seq(appended -> v0)), "id", "vec", Dim, model)
    val q = AnnWorkload.QueryIdBase
    val rows = IvfPqTable.topK(spark, path, frame(Seq(q -> v0)), "id", "vec", Dim, K,
      model = Some(model)).select("q_id", "rank", "n_id", "dist_pq")
      .as[(Long, Int, Long, Double)].collect().toSeq
    def run(want: Long) = AnnWorkload.check(Seq(q), rows, Some(q -> want),
      tieEvidence(spark, path, want, rows.map(_._3)))
    expect("ann: a real crowded code: the appended copy loses the screen")(
      !rows.exists(_._3 == appended))
    expect("ann: a real crowded code: the check reads the index and accepts the tie")(
      scala.util.Try(run(appended)).getOrElse(false))
    expect("ann: a real crowded code: the same miss for a lost append is flagged")(
      flags(run(appended + 1)))
  }

  private def generators(): Unit = {
    expect("curate: same seed, same corpus; other seed, other corpus")(
      Inputs.corpus(CurateWorkload.generate(3L, 500)) ==
        Inputs.corpus(CurateWorkload.generate(3L, 500)) &&
        Inputs.corpus(CurateWorkload.generate(3L, 500)) !=
        Inputs.corpus(CurateWorkload.generate(4L, 500)))
    def vectors(seed: Long) = {
      val g = new AnnWorkload.Gen(seed)
      Inputs.vectors(Seq.tabulate(300)(i => i.toLong -> g.next()))
    }
    expect("ann: same seed, same vectors; other seed, other vectors")(
      vectors(3L) == vectors(3L) && vectors(3L) != vectors(4L))
    val spark = graft.Sessions.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      def snap(seed: Long) = {
        val (s1, s2, _) = DiffWorkload.generate(spark, seed, 2000L)
        (Inputs.frame(s1), Inputs.frame(s2))
      }
      expect("diff: same seed, same snapshots; other seed, other snapshots")(
        snap(3L) == snap(3L) && snap(3L) != snap(4L))
      val (s1, s2, planted) = DiffWorkload.generate(spark, 3L, 2000L)
      val t = DiffWorkload.truth(planted, (2000L * DiffWorkload.InsertRate).toLong)
      val r = graft.diff.DataColDiff.computeDataframeDiff(s1, s2, Seq("id"))
        .toOption.get
      val perCol = r.stats.collect().map(x => x.getString(0) -> x.getLong(1)).toMap
      expect("diff: the operator reproduces the planted truth on a small pair")(
        !flags(DiffWorkload.check(t, r.counts, perCol)))
      annTieOnIndex(spark)
      expect("registry: same seed, same tables")(
        RegistryData.tables(spark, 0.001, 42L).map { case (n, df) => n -> Inputs.frame(df) } ==
          RegistryData.tables(spark, 0.001, 42L).map { case (n, df) => n -> Inputs.frame(df) })
    } finally spark.stop()
  }
}
