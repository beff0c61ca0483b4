package perfbench

import graft.dedup.{Clusters, ExactDedup, MinHashLSH}
import graft.text.{Curation, LangId, TextFeatures, TextStats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** `curate_dedup`: the LLM-data-pipeline face at per-row scale.
  *
  * A seeded corpus of English documents (the `LangId` English lexicon
  * plus a content vocabulary) with planted exact clones, near-duplicate
  * families, low-quality documents and other-language documents. Each
  * call runs `Curation.curate`, then `Clusters.dedupByClusters` over
  * the `MinHashLSH.nearDuplicatePairs` output. Text scoring, shingling,
  * banding, candidate verification and connected components do the
  * work; `graft.diff` is not used.
  */
object CurateWorkload extends Workload {
  val name = "curate_dedup"

  val Docs = 4000
  val WarmCalls = 2
  /** Passes of the traced run's stage split ([[layerPass]]). */
  val LayerPasses = 3
  /** Planted-pair recall the LSH pairs must reach (families sit at
    * Jaccard ≥ 0.81, where 6 bands × 2 rows admit a pair with
    * probability ≥ 0.998).
    */
  val MinRecall = 0.95

  /** A generated corpus and what was planted in it. */
  final case class Corpus(
      docs: Vector[(Long, String)],
      /** low-quality and non-English documents: must all be dropped */
      mustDrop: Set[Long],
      /** families of exact clones and of near-duplicates (ids) */
      clones: Seq[Seq[Long]],
      families: Seq[Seq[Long]]) {
    def plantedPairs: Set[(Long, Long)] = (clones ++ families).flatMap { g =>
      val s = g.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet
  }

  /** Content words: two to four consonant-vowel syllables, so never a
    * lexicon stopword (those are at most three letters long or shared
    * function words).
    */
  val Vocab: Vector[String] = {
    val syl = for (c <- "bdfgklmnprstvz"; v <- "aeiou") yield s"$c$v"
    val r = new java.util.SplittableRandom(7L)
    Iterator.continually {
      val n = 2 + r.nextInt(3)
      (0 until n).map(_ => syl(r.nextInt(syl.size))).mkString
    }.distinct.take(4000).toVector
  }

  private val Stop = Map(
    "en" -> Vector("the", "a", "of", "and", "is"),
    "de" -> Vector("der", "die", "das", "und", "ist"),
    "es" -> Vector("el", "y", "es"),
    "fr" -> Vector("le", "et", "est"))

  def generate(seed: Long, n: Int): Corpus = {
    val r = new java.util.SplittableRandom(seed)
    def content(): String = {
      val x = r.nextDouble()
      Vocab((x * x * Vocab.size).toInt) // skewed, like real word use
    }
    def doc(lang: String, len: Int): Vector[String] =
      Vector.fill(len)(
        if (r.nextDouble() < 0.25) Stop(lang)(r.nextInt(Stop(lang).size))
        else content())
    val docs = Vector.newBuilder[(Long, String)]
    val mustDrop = Set.newBuilder[Long]
    val clones, families = Seq.newBuilder[Seq[Long]]
    var id = 0L
    def add(words: Seq[String]): Long = {
      docs += id -> words.mkString(" "); id += 1; id - 1
    }
    while (id < n) {
      val kind = r.nextDouble()
      if (kind < 0.05) { // other language
        val lang = Vector("de", "es", "fr")(r.nextInt(3))
        mustDrop += add(doc(lang, 60 + r.nextInt(60)))
      } else if (kind < 0.08) { // low quality: too short
        mustDrop += add(doc("en", 8 + r.nextInt(8)))
      } else if (kind < 0.10) { // low quality: repetitive
        val few = doc("en", 6)
        mustDrop += add(Vector.fill(60 + r.nextInt(40))(few(r.nextInt(few.size))))
      } else if (kind < 0.12) { // exact clones
        val w = doc("en", 60 + r.nextInt(60))
        clones += Seq.fill(2 + r.nextInt(2))(add(w))
      } else if (kind < 0.16) { // near-duplicate family: one word swapped
        val w = doc("en", 80 + r.nextInt(40))
        val base = add(w)
        families += base +: Seq.fill(2 + r.nextInt(2)) {
          val p = 3 + r.nextInt(w.size - 6)
          var sub = content()
          while (sub == w(p)) sub = content()
          add(w.updated(p, sub))
        }
      } else add(doc("en", 60 + r.nextInt(60)))
    }
    Corpus(docs.result(), mustDrop.result(), clones.result(), families.result())
  }

  final case class Out(kept: Array[Long], pairs: Set[(Long, Long)],
      survivors: Array[Long])

  /** The call's check. `keptRef` is the first call's kept count. */
  def check(c: Corpus, text: Map[Long, String], o: Out, keptRef: Int): Unit = {
    val keptTexts = o.kept.toSeq.map(text)
    if (keptTexts.distinct.size != keptTexts.size)
      throw new CheckFailed("two kept documents share a text")
    val leaked = o.kept.filter(c.mustDrop.contains)
    if (leaked.nonEmpty)
      throw new CheckFailed(s"${leaked.length} planted low-quality or " +
        s"non-English documents kept, e.g. ${leaked.head}")
    val planted = c.plantedPairs
    val recall = planted.count(o.pairs.contains).toDouble / planted.size
    if (recall < MinRecall)
      throw new CheckFailed(f"planted-pair recall $recall%.4f < $MinRecall")
    val survivingClones = c.clones.count(_.count(o.survivors.toSet) > 1)
    if (survivingClones > 0)
      throw new CheckFailed(s"$survivingClones clone groups keep two members")
    if (keptRef >= 0 && o.kept.length != keptRef)
      throw new CheckFailed(s"kept ${o.kept.length} documents, first call kept $keptRef")
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val corpus = generate(ctx.args.seed, Docs)
    val text = corpus.docs.toMap
    val dir = s"${ctx.args.runDir}/docs"
    corpus.docs.toDF("doc_id", "text").repartition(ctx.args.cores)
      .write.parquet(dir)
    ctx.note(s"corpus written: ${corpus.docs.size} docs")
    val tr = ctx.trace

    def call(): Out = {
      val docs = spark.read.parquet(dir)
      val kept = tr.span("curate") {
        val ds = Curation.curate(docs, "doc_id", "text").select("doc_id").as[Long]
        if (tr.enabled) tr.span("plan")(ds.queryExecution.executedPlan)
        ds.collect()
      }
      val pairs = tr.span("dedup.pairs")(
        MinHashLSH.nearDuplicatePairs(docs, "doc_id", "text").persist())
      val pairSet = tr.span("dedup.pairs")(pairs.select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet)
      val survivors = tr.span("dedup.clusters")(Clusters
        .dedupByClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
        .select("doc_id").as[Long].collect())
      Out(kept, pairSet, survivors)
    }

    var keptRef = -1 // the first successful call's kept count
    val loop = Loop.run(ctx, WarmCalls, ctx.args.seconds, minCalls = 3) { _ =>
      val (o, w) = Loop.timed(call())
      spark.catalog.clearCache() // releases curate's and the LSH's caches
      check(corpus, text, o, keptRef)
      if (keptRef < 0) keptRef = o.kept.length
      Loop.Sample(w, corpus.docs.size.toDouble)
    }
    // the stage split, after the timed calls, on a warm JVM: the median
    // of each stage's time over LayerPasses passes
    val layers: Map[String, Double] =
      if (!tr.enabled) Map.empty
      else Seq.fill(LayerPasses)(layerPass(spark, dir)).flatten
        .groupBy(_._1).map { case (k, vs) => k -> Stats.median(vs.map(_._2)) }
    Outcome(loop,
      if (!tr.enabled) Map.empty
      else layers ++ Map(
        "curate.docs_per_s" -> loop.itemsPerS,
        "curate.call_s.p50" -> Stats.median(loop.walls),
        "text.kept_share" -> keptRef.toDouble / corpus.docs.size,
        "dedup.pairs_s" -> tr.spanPerCall("dedup.pairs"),
        "dedup.clusters_s" -> tr.spanPerCall("dedup.clusters")),
      Inputs.corpus(corpus))
  }

  /** One pass over the pipeline's public stages, each materialized on
    * its own, for the traced run's layer split.
    */
  private def layerPass(spark: SparkSession, dir: String): Map[String, Double] = {
    val docs = spark.read.parquet(dir)
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val (_, exact) = Loop.timed(noop(ExactDedup.byTextHash(docs, "text", "doc_id")))
    val w = TextFeatures.words(col("text"))
    val (_, score) = Loop.timed(noop(docs.select(col("doc_id"),
      TextStats.qualityScore(w).as("quality"), LangId.predictCol(w).as("lang"))))
    val (shingled, sh) = Loop.timed {
      val s = MinHashLSH.docShingles(docs, "doc_id", "text").persist()
      s.count(); s
    }
    val (_, bands) = Loop.timed(noop(MinHashLSH.bands(shingled)))
    val (cand, candS) = Loop.timed(MinHashLSH.candidatePairs(shingled).count())
    val (verified, _) = Loop.timed(
      MinHashLSH.nearDuplicatePairs(docs, "doc_id", "text").count())
    spark.catalog.clearCache()
    Map("dedup.exact_s" -> exact, "text.score_s" -> score,
      "dedup.shingles_s" -> sh, "dedup.bands_s" -> bands,
      "dedup.candidates_s" -> candS,
      "dedup.candidate_pairs" -> cand.toDouble,
      "dedup.verified_pairs" -> verified.toDouble,
      "dedup.verify_yield" -> (if (cand > 0) verified.toDouble / cand else 0.0))
  }
}
