package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.extract.Extractor
import graft.modelbuild.ModelBuild
import graft.pipeline.Annotate
import graft.disambig.Disambiguator
import graft.eval.Evaluator
import graft.sources.SyntheticCorpus

/**
 * The minimum end-to-end slice of SURVEY.md §7.2 on the deterministic
 * synthetic corpus: extract → model build → annotate → P/R ≥ 0.95 gate
 * (EvaluateSpotlightModel semantics re-expressed as joins).
 */
class EndToEndSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)
  lazy val model = Annotate.buildModel(
    spark,
    SyntheticCorpus.webPages(spark, 60),
    SyntheticCorpus.redirectsNt,
    SyntheticCorpus.disambiguationsNt,
    SyntheticCorpus.instanceTypesNt)
  lazy val scoredDf = Annotate.scoredOn(spark, model, model.paragraphs).cache()

  /** Gold = link-anchored occurrences, redirect-resolved, non-disambig. */
  lazy val gold = {
    val disambigs = graft.sources.NTriples.stripNamespace(
      graft.sources.NTriples.fromStrings(spark, SyntheticCorpus.disambiguationsNt),
      "http://dbpedia.org/resource/")
    ModelBuild.resolvedOccurrences(
      model.occurrences.filter(col("provenance") === "Wikipedia"),
      model.closure, disambigs).cache()
  }

  test("byte-identical extraction: UDF path equals generator text column") {
    import spark.implicits._
    val pages = SyntheticCorpus.webPages(spark, 30)
    val recomputed = Extractor.extracted(pages)
    val mismatches = pages.select($"url", $"text".as("expected"))
      .join(recomputed, Seq("url"))
      .filter($"text" =!= $"expected")
      .count()
    assert(mismatches === 0)
  }

  test("redirect closure: chains resolve, cycles stop (WikipediaToDBpediaClosure:106-116)") {
    val c = model.closure.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(c("USA_(country)") === "United_States")
    assert(c("The_States") === "United_States") // 2-hop chain
    assert(c("Chain_1") === "Topic_10") // 3-hop chain
    assert(c("Loop_A") === "Loop_B") // cycle: ends at last new node
    assert(c("Loop_B") === "Loop_A")

    // a 20-hop chain resolves to its end, not to an intermediate node
    import spark.implicits._
    val chain = (0 until 20).map(i => (s"Hop_$i", s"Hop_${i + 1}")).toDF("subj", "obj")
    val long = ModelBuild.redirectClosure(chain).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(long("Hop_0") === "Hop_20")
    assert(long("Hop_19") === "Hop_20")

    // a self-loop, a 3-cycle entered from a tail chain, and a subject
    // with two edges (it follows the smaller target, in either order)
    def closureOf(edges: (String, String)*) = ModelBuild.redirectClosure(
      edges.toDF("subj", "obj")).collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(closureOf("Self" -> "Self") === Map("Self" -> "Self"))
    assert(closureOf("Tail_1" -> "Tail_2", "Tail_2" -> "Cyc_X", "Cyc_X" -> "Cyc_Y",
      "Cyc_Y" -> "Cyc_Z", "Cyc_Z" -> "Cyc_X") === Map(
      "Tail_1" -> "Cyc_Z", "Tail_2" -> "Cyc_Z",
      "Cyc_X" -> "Cyc_Z", "Cyc_Y" -> "Cyc_X", "Cyc_Z" -> "Cyc_Y"))
    val twoEdges = Seq("Dup" -> "Target_B", "Dup" -> "Target_A", "Target_A" -> "End")
    assert(closureOf(twoEdges: _*) === closureOf(twoEdges.reverse: _*))
    assert(closureOf(twoEdges: _*) === Map("Dup" -> "End", "Target_A" -> "End"))
  }

  test("model tables: counts consistent and skew sf present") {
    import spark.implicits._
    val usa = model.surfaceForms.filter($"sf" === "USA").head()
    assert(usa.annotated_count > 20) // skew fixture: USA in ~half the paragraphs
    assert(usa.total_count >= usa.annotated_count)
    // pair counts sum to annotated counts per sf (resolved): spot check total mass
    val annTotal = model.surfaceForms.agg(sum("annotated_count")).head().getLong(0)
    assert(annTotal === model.occurrences.agg(sum("weight")).head().getLong(0))
    assert(model.candidates.count() > 0)
    assert(model.entityContexts.count() > 0)
    assert(model.totals.vocabularySize > 50)
  }

  test("annotation gate: spot recall and disambiguation accuracy ≥ 0.95") {
    val spots = scoredDf.select("url", "para_idx", "offset", "sf").distinct()
    val sm = Evaluator.spotting(gold.toDF(), spots)
    info(s"spot recall = ${sm.recall} (tp=${sm.tp}, fn=${sm.fn})")
    assert(sm.recall >= 0.95)

    val dm = Evaluator.disambiguation(gold.toDF(), scoredDf)
    info(s"disambig accuracy = ${dm.accuracy}, MRR = ${dm.mrr}, notFound = ${dm.notFound}/${dm.total}")
    assert(dm.accuracy >= 0.95)
  }

  test("ambiguous surface forms resolved by context") {
    import spark.implicits._
    // every gold Mercury/Java link must disambiguate to its gold uri
    val ambiguous = gold.filter(col("sf").isin("Mercury", "Java"))
    val top1 = Disambiguator.best(scoredDf)
    val joined = ambiguous.select(col("url"), col("para_idx"), col("offset"),
        col("uri").as("gold_uri"))
      .join(top1.select(col("url"), col("para_idx"), col("offset"), col("uri")),
        Seq("url", "para_idx", "offset"))
    val n = joined.count()
    val ok = joined.filter(col("uri") === col("gold_uri")).count()
    info(s"ambiguous resolved: $ok/$n")
    assert(n > 0)
    assert(ok.toDouble / n >= 0.95)
  }

  test("percentage of second rank and softmax invariants") {
    import spark.implicits._
    val bad = scoredDf.filter(
      (col("percentage_of_second_rank") > 1.0001) ||
        (col("similarity_score") < 0) || (col("similarity_score") > 1.0001) ||
        (col("contextual_score") < 0) || (col("contextual_score") > 1.0001)).count()
    assert(bad === 0)
    // softmax sums over a spot ≤ 1 (NIL holds the remaining mass)
    val sums = scoredDf.groupBy("url", "para_idx", "offset")
      .agg(sum("similarity_score").as("s")).filter(col("s") > 1.0001).count()
    assert(sums === 0)
  }

  test("driver contract: entry() returns triples, queries/oracles keyed consistently") {
    assert(SparkEntry.entry(spark).count() > 0)
    // every oracle key must have a matching query
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("deterministic IDs: rebuild yields identical surface form table") {
    val m2 = Annotate.buildModel(
      spark,
      SyntheticCorpus.webPages(spark, 60),
      SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt,
      SyntheticCorpus.instanceTypesNt,
      withTotalCounts = false)
    val a = model.surfaceForms.select("sf_id", "sf", "annotated_count")
    val b = m2.surfaceForms.select("sf_id", "sf", "annotated_count")
    assert(a.except(b).count() === 0)
    assert(b.except(a).count() === 0)
  }
}
