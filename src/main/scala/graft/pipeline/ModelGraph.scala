package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.extract.Extractor
import graft.modelbuild.ModelBuild
import graft.sources.NTriples
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
 * [[Annotate.buildModel]] fills a session cache and hands back a leaf
 * over it, [[Runner.run]] commits each table as a checkpointed stage and
 * reads it back; either way later stages and requests plan against the
 * table, not its build lineage. The page cache is released here, for
 * both callers, once paragraphs and occurrences exist — repeated builds
 * in one long-lived session must not accumulate it.
 */
object ModelGraph {

  /** (stage name, compute) => the table to build on, already built:
   *  the graph reads no input again once its dependents are returned. */
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
    pages.unpersist()

    val closure = materialize("redirect_closure", () => ModelBuild.redirectClosure(redirects))
    val resolved = materialize("resolved_occurrences",
      () => ModelBuild.resolvedOccurrences(occurrences, closure, disambigs))

    // A1 with raw totals over the paragraph text and the A7 correction
    // (reference: MemoryStoreIndexer.scala:69-109), or totals unknown
    val sfs = materialize("surface_forms", () => ModelBuild.surfaceForms(occurrences,
      if (withTotalCounts) Some(paragraphs) else None).toDF()).as[SurfaceFormRow]

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
