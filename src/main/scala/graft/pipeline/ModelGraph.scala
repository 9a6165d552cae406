package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.extract.Extractor
import graft.modelbuild.ModelBuild
import graft.sources.NTriples
import graft.spot.Spotter
import graft.util.TextUtil

/**
 * The model-build graph, written once (the reference builds its stores
 * in one pass, CreateSpotlightModel.scala:143-228):
 *
 *   web_pages ─┬─> paragraphs ──────────────┬─> token_types
 *              └─> occurrences ─ closure ──> resolved ─> {surface_forms,
 *                  resources, candidates, entity_contexts} ─> totals
 *
 * Every table goes through the caller's [[Materialize]]:
 * [[Annotate.buildModel]] caches in the session and hands back a leaf
 * over the cache, [[Runner.run]] commits each table as a checkpointed
 * stage and reads it back; either way later stages and requests plan
 * against the table, not its build lineage. Intermediate caches are released
 * here, for both callers: the page cache once paragraphs and occurrences
 * exist, the pre-correction surface-form cache once the corrected table
 * exists — repeated builds in one long-lived session must not accumulate
 * either.
 */
object ModelGraph {

  /** (stage name, compute) => the table to build on. */
  type Materialize = (String, () => DataFrame) => DataFrame

  /** The model plus the resolved occurrences (Runner trains its F1
   *  similarity thresholds against them). */
  def build(spark: SparkSession,
            pages: Dataset[WebPage],
            redirectsNt: Seq[String],
            disambiguationsNt: Seq[String],
            instanceTypesNt: Seq[String],
            stemmer: TextUtil.Stemmer,
            withTotalCounts: Boolean,
            materialize: Materialize): (Model, DataFrame) = {
    import spark.implicits._
    val ns = "http://dbpedia.org/resource/"
    val redirects = NTriples.stripNamespace(NTriples.fromStrings(spark, redirectsNt), ns)
    val disambigs = NTriples.stripNamespace(NTriples.fromStrings(spark, disambiguationsNt), ns)
    val instanceTypes = NTriples.stripNamespace(NTriples.fromStrings(spark, instanceTypesNt), ns)
      .withColumn("obj", regexp_replace(
        regexp_replace(col("obj"), "http://dbpedia.org/ontology/", "DBpedia:"),
        "http://schema.org/", "Schema:"))

    // pages feeds both the text-extraction path and the link-occurrence
    // path; cache so the (expensive) markup parse isn't run twice, and
    // drop it once both parsed dependents are materialized (the raw
    // page bytes are never read again past this point)
    pages.cache()
    val paragraphs = materialize("paragraphs",
      () => Extractor.paragraphs(Extractor.extracted(pages)).toDF()).as[ParagraphRow]
    val occurrences = materialize("occurrences",
      () => Extractor.occurrences(pages).toDF()).as[OccurrenceRow]
    paragraphs.count(); occurrences.count()
    pages.unpersist()

    val closure = materialize("redirect_closure", () => ModelBuild.redirectClosure(redirects))
    val resolved = materialize("resolved_occurrences",
      () => ModelBuild.resolvedOccurrences(occurrences, closure, disambigs))

    // set only when the stage is computed (a committed stage is not)
    var preCorrection: Option[Dataset[SurfaceFormRow]] = None
    val sfs = materialize("surface_forms", () => {
      val firstPass = ModelBuild.surfaceForms(occurrences, None)
      if (!withTotalCounts) firstPass.toDF()
      else {
        // the first pass, without raw totals, is the full dictionary the
        // totals spot pass matches against
        val bc = spark.sparkContext.broadcast(
          Spotter.buildAutomaton(firstPass, minAnnotationProbability = 0.0))
        // A7: longest-annotation correction — annotated occurrences of a
        // longer sf also raw-matched its sub-ngrams; remove that inflation
        // so annotationProbability isn't deflated for nested forms
        // (reference: MemoryStoreIndexer.scala:69-109). The pre-correction
        // table is cached: the correction self-joins it, and without the
        // cache each side would re-run the whole totalCounts spotting chain.
        val withTotals = ModelBuild.surfaceForms(
          occurrences, Some(Spotter.totalCounts(paragraphs, bc))).cache()
        preCorrection = Some(withTotals)
        ModelBuild.ngramTotalCorrection(withTotals).toDF()
      }
    }).as[SurfaceFormRow]
    preCorrection.foreach { p => sfs.count(); p.unpersist() }

    val resources = materialize("resources",
      () => ModelBuild.resources(resolved, instanceTypes).toDF()).as[ResourceRow]
    val candidates = materialize("candidates",
      () => ModelBuild.candidates(resolved, sfs, resources).toDF()).as[CandidateRow]
    val tokenTypes = materialize("token_types",
      () => ModelBuild.tokenTypes(paragraphs, sfs, stemmer).toDF()).as[TokenTypeRow]
    val entityContexts = materialize("entity_contexts",
      () => ModelBuild.entityContexts(resolved, resources, tokenTypes, stem = stemmer).toDF())
      .as[EntityContextRow]
    val totals = ModelBuild.totals(sfs, resources, tokenTypes)

    (Model(paragraphs, occurrences, closure, sfs, resources, candidates,
      tokenTypes, entityContexts, totals, stemmer), resolved)
  }
}
