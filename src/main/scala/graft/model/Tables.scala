package graft.model

import java.sql.Timestamp

/**
 * Core table row types of the KG-construction pipeline.
 *
 * Mirrors the data model of the reference annotation engine
 * (see /root/reference core/src/main/scala/org/dbpedia/spotlight/model,
 * surveyed in SURVEY.md §1): the per-request annotation objects become
 * columns, the in-memory count stores become tables.
 *
 * All IDs are dense ints assigned deterministically by
 * `row_number() over (order by name)` so re-runs at any parallelism
 * produce identical rows (SURVEY.md §7.4(6)).
 */

/** Input table per BASELINE.json input_hint:
 *  Iceberg-style table of Common-Crawl-like web pages. */
final case class WebPage(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String)

/** One paragraph of extracted text (reference: Paragraph, model/Paragraph.scala:50). */
final case class ParagraphRow(
    url: String,
    para_idx: Int,
    para_text: String)

/** A link-anchored entity occurrence extracted from wiki markup
 *  (reference: DBpediaResourceOccurrence, model/DBpediaResourceOccurrence.scala:20-33;
 *  id scheme `<title>-p<n>l<m>` from index/.../io/WikiOccurrenceSource.scala:110). */
final case class OccurrenceRow(
    id: String,
    url: String,
    para_idx: Int,
    uri: String,
    sf: String,
    offset: Int,
    para_text: String,
    weight: Int, // 1 normally, 10 for disambiguation-page items (AllOccurrenceSource.scala:83-108)
    provenance: String)

/** Surface-form store row (reference: MemorySurfaceFormStore.scala:19-41). */
final case class SurfaceFormRow(
    sf_id: Int,
    sf: String,
    sf_normalized: String,
    annotated_count: Long,
    total_count: Long)

/** Resource store row (reference: MemoryResourceStore.scala:18-39). */
final case class ResourceRow(
    res_id: Int,
    uri: String,
    support: Long,
    types: Seq[String])

/** Candidate-map row: co-occurrence counts of (surface form, resource)
 *  (reference: MemoryCandidateMapStore.scala:14-34). `cand_rank` is the
 *  row's rank within its surface form by (cooc_count desc, res_id): the
 *  candidate-prior order, since the prior's denominator is per form. */
final case class CandidateRow(
    sf_id: Int,
    res_id: Int,
    cooc_count: Long,
    cand_rank: Int)

/** Token dictionary row (reference: MemoryTokenTypeStore.scala:17-39). */
final case class TokenTypeRow(
    token_id: Int,
    token: String,
    count: Long)

/** Per-entity token posting list — the inverted index re-expressing the
 *  reference's Lucene CONTEXT field / MemoryContextStore.scala:20-57.
 *  `res_tok_total` is the resource's total context-token count (the sum
 *  of `count` over its rows), the denominator of its token probabilities. */
final case class EntityContextRow(
    res_id: Int,
    token_id: Int,
    count: Long,
    res_tok_total: Long)

/** Output of the spotting stage (reference: SurfaceFormOccurrence.scala:19-23).
 *  `win` is the spot's D1 MAX_CONTEXT window index — the ≤250-token slice
 *  of its paragraph whose token histogram scores it (reference
 *  DBTwoStepDisambiguator.bestK:91-118 likewise windows oversized
 *  contexts, though sentence-aligned — see
 *  [[graft.pipeline.Annotate.MaxContextTokens]] for the deliberate
 *  token-aligned approximation). 0 for every paragraph at or under the
 *  cap; offsets are ALWAYS paragraph-original, windowing never rewrites
 *  keys. */
final case class SpotRow(
    url: String,
    para_idx: Int,
    offset: Int,
    sf: String,
    spot_prob: Double,
    win: Int = 0)

/** Final annotation (attribute set per rest/.../OutputManager.java:125-133). */
final case class AnnotationRow(
    url: String,
    para_idx: Int,
    offset: Int,
    sf: String,
    uri: String,
    support: Long,
    types: Seq[String],
    similarity_score: Double,
    percentage_of_second_rank: Double,
    contextual_score: Double)

/** A knowledge-graph triple with provenance qualifiers (SURVEY.md §1.3). */
final case class TripleRow(
    subj: String,
    pred: String,
    obj: String,
    src_url: String,
    score: Double)

/** Token produced by the tokenizer (reference: model/Token.scala). */
final case class Tok(token: String, offset: Int, is_stop: Boolean)
