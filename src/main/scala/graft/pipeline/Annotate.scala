package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model._
import graft.modelbuild.ModelBuild
import graft.disambig.Disambiguator
import graft.filter.AnnotationFilters
import graft.sources.SyntheticCorpus
import graft.spot.Spotter

/**
 * End-to-end facade: model build over a web_pages corpus, then the
 * flagship annotate path (§3.1 restatement in SURVEY.md) —
 * web_pages → extract → paragraphs → spots → candidates → scored →
 * annotations → filters → triples. Three entry points: [[Annotate.buildModel]],
 * [[Annotate.scoredOn]] and [[Annotate.annotationsFrom]]; the output
 * graph is `Triples.all` over the latter.
 *
 * Holds the intermediate model tables so tests, SparkEntry.queries,
 * Verify and Bench can expose any stage as a DataFrame.
 */
final case class Model(
    paragraphs: Dataset[ParagraphRow],
    occurrences: Dataset[OccurrenceRow],
    closure: DataFrame,
    surfaceForms: Dataset[SurfaceFormRow],
    resources: Dataset[ResourceRow],
    candidates: Dataset[CandidateRow],
    tokenTypes: Dataset[TokenTypeRow],
    entityContexts: Dataset[EntityContextRow],
    totals: ModelBuild.Totals,
    // T3: the stemmer the model was BUILT with — annotate-time
    // tokenization must use the same one or token ids won't line up
    // (reference threads one Stemmer from CreateSpotlightModel through
    // both index build and request tokenization, :223-224)
    stemmer: graft.util.TextUtil.Stemmer = graft.util.TextUtil.IdentityStemmer)

object Annotate {

  /** Build all model tables from a corpus + graph dumps through the
   *  shared [[ModelGraph]], caching each table in the session (the dims
   *  are re-used by several downstream joins). Each returned table is a
   *  leaf over its columnar cache ([[org.apache.spark.sql.graft.CachedLeaf]]),
   *  not the build lineage, so a request plans against the cached data
   *  only. Each cache is filled as its table is built, one job per table. */
  def buildModel(spark: SparkSession,
                 pages: Dataset[WebPage],
                 redirectsNt: Seq[String],
                 disambiguationsNt: Seq[String],
                 instanceTypesNt: Seq[String],
                 withTotalCounts: Boolean = true,
                 stemmer: graft.util.TextUtil.Stemmer = graft.util.TextUtil.IdentityStemmer): Model =
    ModelGraph.build(spark, pages, redirectsNt, disambiguationsNt, instanceTypesNt,
      stemmer, withTotalCounts, (_, compute) => {
        val table = org.apache.spark.sql.graft.CachedLeaf(compute())
        table.count()
        table
      })._1

  /**
   * D1 MAX_CONTEXT (= 250, DBTwoStepDisambiguator.scala:71): the
   * reference slices a paragraph whose token stream exceeds the cap into
   * windows and disambiguates each occurrence against its own window's
   * tokens (bestK:89-117), WITHOUT rewriting offsets. The Spark-native
   * equivalent: spots carry a `win` index assigned in the spotting map
   * pass ([[Spotter.spots]]), the token histogram is keyed per
   * (url, para_idx, win) ([[Disambiguator.docTokenHistogram]]), and the
   * context join matches them — so a megabyte-long spam paragraph
   * cannot multiply its full histogram into every candidate of every
   * spot it contains, while every emitted annotation keeps its ORIGINAL
   * (url, para_idx, offset) key (round-2 advice: the previous
   * re-paragraphing approach leaked synthetic keys to eval joins).
   *
   * Window PLACEMENT defaults to a token-aligned approximation: the
   * reference accumulates whole SENTENCES until ≥250 tokens (its windows
   * are sentence-aligned and may overshoot the cap; its oversize gate
   * even counts sentences), while graft's default cuts fixed 250-token
   * windows, possibly mid-sentence. The two assignments differ only for
   * paragraphs whose token stream exceeds the cap — oversized crawl
   * text; every bundled corpus paragraph fits one window, where behavior
   * is byte-identical. Token alignment keeps `win` recomputable by the
   * DuckDB oracle (`pos // 250` over the emitted token stream) and needs
   * no sentence segmentation in the hot map pass. Callers wanting
   * reference-exact placement on over-cap paragraphs set
   * `Disambiguator.Config(sentenceAlignedWindows = true)`, which routes
   * both the spot tagging and the histogram keying through
   * [[graft.util.TextUtil.sentenceWindowStarts]].
   */
  val MaxContextTokens = 250

  /** The annotate path — the reference's SpotlightInterface.annotate on
   *  posted text (rest/.../SpotlightInterface.java:120-160: spot, gate,
   *  candidates, score), batched over a Dataset instead of one request
   *  at a time. Annotates the model's own paragraphs (`m.paragraphs`) or
   *  any other paragraph set; annotations come back under the caller's
   *  own (url, para_idx, offset) keys, MAX_CONTEXT-capped.
   *
   *  Callers annotating repeatedly (streaming micro-batches, served
   *  requests) pass the prebuilt `automaton` broadcast so the driver-side
   *  build runs once. */
  def scoredOn(spark: SparkSession, m: Model, paragraphs: Dataset[ParagraphRow],
               cfg: Disambiguator.Config = Disambiguator.Config(),
               automaton: Option[org.apache.spark.broadcast.Broadcast[graft.spot.AhoCorasick]] = None,
               maxContextTokens: Int = MaxContextTokens)
      : DataFrame = {
    val bc = automaton.getOrElse(
      spark.sparkContext.broadcast(Spotter.buildAutomaton(m.surfaceForms)))
    val spots = Spotter.gatedSpots(
      Spotter.spots(paragraphs, bc, maxContextTokens, cfg.sentenceAlignedWindows),
      m.surfaceForms)
    val spotCands = Disambiguator.spotCandidates(spots, m.surfaceForms, m.candidates, cfg)
    val docTokens = Disambiguator.docTokenHistogram(paragraphs, m.tokenTypes,
      m.stemmer, maxContextTokens, cfg.sentenceAlignedWindows)
    Disambiguator.scored(spotCands, docTokens, m.entityContexts, m.resources, m.totals, cfg)
  }

  /** Filtered best-per-spot annotations from a scored DataFrame (server
   *  defaults: conf 0.1, support 10). Output graph:
   *  `Triples.all(annotationsFrom(...), m.resources, m.closure)`. */
  def annotationsFrom(spark: SparkSession, scoredDf: DataFrame,
                      conf: Double = 0.1, minSupport: Long = 10,
                      simThresholds: Seq[Double] = Nil): Dataset[AnnotationRow] = {
    import spark.implicits._
    val best = Disambiguator.best(scoredDf).as[AnnotationRow]
    AnnotationFilters.standardChain(best, conf, minSupport, simThresholds)
  }

  /** Convenience: model over the synthetic corpus at a given size. */
  def syntheticModel(spark: SparkSession, nDocs: Long, withTotalCounts: Boolean = true): Model =
    buildModel(spark,
      SyntheticCorpus.webPages(spark, nDocs),
      SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt,
      SyntheticCorpus.instanceTypesNt,
      withTotalCounts)
}
