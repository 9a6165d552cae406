package graft

import org.apache.spark.sql.functions._

/**
 * Eval harness (the reference's EvaluateSpotlightModel equivalent,
 * /root/reference eval/src/main/scala/org/dbpedia/spotlight/evaluation/
 * EvaluateSpotlightModel.scala:13-77): builds the fixture model, times
 * annotation, reports spotting P/R, two-step disambiguation accuracy /
 * MRR / %-not-found, and the prior-only baseline accuracy for
 * comparison (DBBaselineDisambiguator). Prints one JSON line.
 *
 * Also runs the annotate path over an AIDA/CoNLL-format corpus — the
 * bundled synthetic-universe fixture by default, or any file passed as
 * the second argument — and reports its annotation P/R, exercising the
 * gold-corpus reader end-to-end (the reference evaluates against these
 * corpus formats via EvaluateParagraphDisambiguator + AidaCorpus).
 *
 * Usage: runMain graft.EvalMain [nDocs] [conllPath]
 */
object EvalMain {
  def main(args: Array[String]): Unit = {
    val nDocs = args.lift(0).map(_.toLong).getOrElse(120L)
    val conllPath = args.lift(1)
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("WARN")
    import graft.pipeline.Annotate
    import graft.sources.{NTriples, SyntheticCorpus}

    val m = Annotate.syntheticModel(spark, nDocs)
    val disambigs = NTriples.stripNamespace(
      NTriples.fromStrings(spark, SyntheticCorpus.disambiguationsNt),
      "http://dbpedia.org/resource/")
    val gold = graft.modelbuild.ModelBuild.resolvedOccurrences(
      m.occurrences.filter(col("provenance") === "Wikipedia"), m.closure, disambigs)
      .cache()
    gold.count()

    val t0 = System.nanoTime()
    val scored = Annotate.scoredOn(spark, m, m.paragraphs).cache()
    val nSpots = scored.select("url", "para_idx", "offset").distinct().count()
    val annotateSec = (System.nanoTime() - t0) / 1e9
    val nParas = m.paragraphs.count()

    val sm = graft.eval.Evaluator.spotting(gold,
      scored.select("url", "para_idx", "offset", "sf").distinct())
    val dm = graft.eval.Evaluator.disambiguation(gold, scored)

    // prior-only baseline over the same gated spots
    val bc = spark.sparkContext.broadcast(
      graft.spot.Spotter.buildAutomaton(m.surfaceForms))
    val gated = graft.spot.Spotter.gatedSpots(
      graft.spot.Spotter.spots(m.paragraphs, bc), m.surfaceForms)
    val baseline = graft.disambig.Disambiguator.baseline(
      graft.disambig.Disambiguator.spotCandidates(gated, m.surfaceForms, m.candidates),
      m.resources)
    val bm = graft.eval.Evaluator.annotation(gold, baseline)

    // ---- AIDA/CoNLL-format corpus: read → annotate → P/R ----------------
    import spark.implicits._
    val (cGold, cText) = conllPath match {
      case Some(p) => graft.eval.Corpora.fromConllFiles(spark, p)
      case None => graft.eval.Corpora.fromConllLines(
        spark, graft.eval.CorpusFixtures.conllSyntheticLines)
    }
    val cParas = cText.as[graft.model.ParagraphRow]
    val cBest = graft.disambig.Disambiguator.best(
      Annotate.scoredOn(spark, m, cParas))
    val linkGold = cGold.filter(col("uri") =!= graft.eval.Corpora.ConllNilUri)
    val cm = graft.eval.Evaluator.annotation(linkGold, cBest)

    println(
      f"""{"docs":$nDocs,"paragraphs":$nParas,"spots":$nSpots,""" +
      f""""annotate_sec":$annotateSec%.2f,"sec_per_paragraph":${annotateSec / nParas}%.5f,""" +
      f""""spot_precision":${sm.precision}%.4f,"spot_recall":${sm.recall}%.4f,"spot_f1":${sm.f1}%.4f,""" +
      f""""disambig_accuracy":${dm.accuracy}%.4f,"mrr":${dm.mrr}%.4f,"not_found":${dm.notFound},"gold":${dm.total},""" +
      f""""baseline_precision":${bm.precision}%.4f,"baseline_recall":${bm.recall}%.4f,""" +
      f""""conll_precision":${cm.precision}%.4f,"conll_recall":${cm.recall}%.4f,"conll_gold":${cm.tp + cm.fn}}""")
    spark.stop()
  }
}
