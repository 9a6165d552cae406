package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.disambig.Disambiguator
import graft.filter.AnnotationFilters
import graft.pipeline.Annotate
import graft.sources.{FeedbackStore, NTriples, SyntheticCorpus}
import graft.triples.Triples

/**
 * KG-pipeline stage queries over the deterministic synthetic corpus
 * (FIXTURES.md §1). UDF/driver-structure-driven stages — extraction,
 * spotting, scoring — are not ANSI-expressible, so these get the
 * driver's rows-only check; their value-level correctness is asserted by
 * the ScalaTest golden/e2e suites (ExtractSpec, EndToEndSpec).
 */
object PipelineQueries {

  private def m(s: SparkSession) = SparkEntry.model(s)

  /** Gated OVERLAP-MODE spots (every word-aligned dictionary hit incl.
    * nested/crossing spans) — the input [[graft.spot.Spotter.resolveOverlaps]]
    * is specified against. Deterministic, so `p_overlap_input` and
    * `p_overlap_resolved` see the same rows. */
  private def overlapInput(s: SparkSession): DataFrame = {
    val mm = m(s)
    val bc = s.sparkContext.broadcast(graft.spot.Spotter.buildAutomaton(mm.surfaceForms))
    graft.spot.Spotter.gatedSpots(
      graft.spot.Spotter.allSpots(mm.paragraphs, bc), mm.surfaceForms)
      .drop(SpotIds: _*)
  }

  /** The id columns spots carry to candidate generation (see
    * [[graft.spot.Spotter.spots]]); spot outputs are emitted without them. */
  private val SpotIds = Seq("sf_id", "annotated_count")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p_extracted" -> ((s, _) => {
      // S2: hash-verified downstream of stripEverything — the oracle
      // re-derives the redirect/disambig gate, paragraph split, link walk
      // and whitespace/apostrophe normalization from p_page_stripped.
      graft.extract.Extractor.extracted(SyntheticCorpus.webPages(s, 120))
    }),
    "p_page_stripped" -> ((s, _) => {
      // Raw page source + the post-stripEverything text, emitted so the
      // extraction oracles (p_extracted, p_occurrences) can re-derive the
      // redirect/disambig gates, paragraph split and the full link walk in
      // SQL. stripEverything itself (regex backreferences + the HTML4
      // entity table — not RE2/ANSI-expressible) stays covered by the
      // byte-identity golden specs (ExtractSpec); rows-only by design,
      // same pattern as the p_*_raw corpus sidecars.
      val strip = udf((m: String) => graft.extract.WikiMarkup.stripEverything(m))
      SyntheticCorpus.webPages(s, 120)
        .select(col("url"), decode(col("html"), "UTF-8").as("markup"))
        .withColumn("stripped", strip(col("markup")))
    }),
    "p_paragraphs" -> ((s, _) => m(s).paragraphs.toDF()),
    "p_occurrences" -> ((s, _) => m(s).occurrences.toDF().drop("para_text")),
    "p_redirect_closure" -> ((s, _) => m(s).closure),
    "p_surface_forms" -> ((s, _) => m(s).surfaceForms.toDF()),
    "p_resources" -> ((s, _) =>
      // types stringified: ARRAY<STRING> crashes the driver's pandas sort
      // (round-1 harness TypeError) — concat_ws keeps the information
      m(s).resources.toDF().withColumn("types", concat_ws(",", col("types")))),
    "p_candidates" -> ((s, _) => m(s).candidates.toDF()),
    "p_token_types" -> ((s, _) => m(s).tokenTypes.toDF()),
    "p_token_stream" -> ((s, _) => {
      // the raw content-token stream (UDF-born: BreakIterator tokenizer)
      // over paragraph text PLUS surface forms — the SAME derivation
      // tokenTypes counts (shared ModelBuild.tokenStream, so the two
      // cannot drift). Rows-only itself; emitting it lets the DuckDB
      // oracle re-derive the S13/A5 dictionary (group-count + dense id)
      // downstream of the tokenizer UDF, the same pattern as
      // p_doc_tokens/p_raw_spots.
      val mm = m(s)
      graft.modelbuild.ModelBuild.tokenStream(
        mm.paragraphs, mm.surfaceForms, mm.stemmer)
    }),
    "p_entity_contexts" -> ((s, _) => m(s).entityContexts.toDF()),
    "p_raw_spots" -> ((s, _) =>
      // pre-gate automaton output (rows-only: the automaton itself is
      // spec-verified); both gate oracles re-derive from this
      SparkEntry.rawSpots(s).drop("spot_prob" +: SpotIds: _*)),
    "p_spots" -> ((s, _) => SparkEntry.gated(s).drop(SpotIds: _*)),
    "p_scored" -> ((s, _) => SparkEntry.scored(s).drop("types", "path")),
    "p_top1" -> ((s, _) => Disambiguator.best(SparkEntry.scored(s)).drop("types")),
    "p_annotations" -> ((s, _) =>
      Annotate.annotationsFrom(s, SparkEntry.scored(s)).toDF().drop("types")),
    "p_baseline_disambig" -> ((s, _) => {
      val mm = m(s)
      val sc = Disambiguator.spotCandidates(SparkEntry.gated(s), mm.surfaceForms, mm.candidates)
      Disambiguator.baseline(sc, mm.resources).drop("types")
    }),
    "p_triples" -> ((s, _) => Triples.all(Annotate.annotationsFrom(s, SparkEntry.scored(s)),
      m(s).resources, m(s).closure).toDF()),
    "p_ntriples_parse" -> ((s, _) =>
      NTriples.fromStrings(s, SyntheticCorpus.redirectsNt ++
        SyntheticCorpus.disambiguationsNt ++ SyntheticCorpus.instanceTypesNt)),
    "p_ntriples_raw" -> ((s, _) => {
      // the raw N-Triples lines the S8 parser consumes, emitted so the
      // DuckDB oracle can re-run the parse with its own regexp engine
      import s.implicits._
      s.createDataset(SyntheticCorpus.redirectsNt ++
        SyntheticCorpus.disambiguationsNt ++ SyntheticCorpus.instanceTypesNt).toDF("line")
    }),
    // the reference's feedback store: the raw TSV feed (sidecar), the
    // parsed append-only table with the REST doc_url hashCode fallback,
    // and the correct-rows union back into the S7 occurrence shape
    "p_feedback_raw" -> ((s, _) => {
      import s.implicits._
      s.createDataset(FeedbackStore.syntheticFeedbackLines).toDF("line")
    }),
    "p_feedback" -> ((s, _) =>
      FeedbackStore.fromStrings(s, FeedbackStore.syntheticFeedbackLines)),
    "p_feedback_occs" -> ((s, _) =>
      FeedbackStore.toOccurrences(
        FeedbackStore.fromStrings(s, FeedbackStore.syntheticFeedbackLines))
        .drop("types")),
    "p_tficf_top1" -> ((s, _) => {
      // D4: alternative TF*ICF scoring ranked per spot
      val mm = m(s)
      val sc = Disambiguator.spotCandidates(SparkEntry.gated(s), mm.surfaceForms, mm.candidates)
      val docTokens = Disambiguator.docTokenHistogram(mm.paragraphs, mm.tokenTypes)
      val tficf = Disambiguator.tficfScores(
        sc.select("url", "para_idx", "win", "res_id").distinct(), docTokens, mm.entityContexts)
      sc.join(tficf, Seq("url", "para_idx", "win", "res_id"), "left")
        .withColumn("tficf_score", round(coalesce(col("tficf_score"), lit(0.0)), 9))
        .withColumn("_rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("url", "para_idx", "offset")
            .orderBy(col("tficf_score").desc, col("res_id"))))
        .filter(col("_rk") === 1).drop("_rk")
        .select("url", "para_idx", "offset", "sf", "res_id", "tficf_score")
    }),
    "p_context_words" -> ((s, _) => {
      // R11: top context words per resource (explain path)
      val mm = m(s)
      Disambiguator.topContextWords(mm.entityContexts, mm.tokenTypes, n = 5)
    }),
    "p_doc_tags" -> ((s, _) =>
      // R12: top-k entities per document by best similarity
      Disambiguator.topTagsPerDoc(SparkEntry.scored(s), k = 5)
        .select("url", "uri", "n_spots", "rank")),
    "p_ngram_corrected_sfs" -> ((s, _) =>
      // A7: longest-annotation total-count correction
      graft.modelbuild.ModelBuild.ngramTotalCorrection(m(s).surfaceForms).toDF()),
    "p_train_test_split" -> ((s, _) => {
      // R6: deterministic hash split — emits per-bucket counts
      val (train, test) = graft.modelbuild.ModelBuild.hashSplit(
        m(s).occurrences.toDF().drop("para_text"), "id", testFraction = 0.2)
      train.withColumn("split", lit("train"))
        .unionByName(test.withColumn("split", lit("test")))
        .groupBy("split").agg(count(lit(1)).as("n"))
    }),
    "p_weighted_spots" -> ((s, _) => {
      // P4 weighted gate: feature dot product at threshold 0.5, over the
      // same cached raw spot stream the oracle re-derives from
      val mm = m(s)
      graft.spot.Spotter.weightedGatedSpots(
        SparkEntry.rawSpots(s).as[graft.model.SpotRow](
          org.apache.spark.sql.Encoders.product[graft.model.SpotRow]),
        mm.surfaceForms, weights = Seq(1.0, 0.2, -0.2, 0.1))
    }),
    "p_stemmed_tokens" -> ((s, _) =>
      // T3: the token dictionary under the Porter stemmer path
      graft.modelbuild.ModelBuild.tokenTypes(
        m(s).paragraphs, m(s).surfaceForms, graft.util.PorterStemmer.stem).toDF()),
    "p_porter_battery" -> ((s, _) => {
      // T3: the Porter (1980) paper's vocabulary stemmed by the Scala
      // stemmer; the oracle stems the same words with porterStemSql
      import s.implicits._
      PorterBattery.map(w => (w, graft.util.PorterStemmer.stem(w))).toDF("tok", "stemmed")
    }),
    "p_sim_thresholds" -> ((s, _) => {
      // F1 training: similarity-score quantiles of gold-correct annotations
      val mm = m(s)
      val disambigs = NTriples.stripNamespace(
        NTriples.fromStrings(s, SyntheticCorpus.disambiguationsNt),
        "http://dbpedia.org/resource/")
      val gold = graft.modelbuild.ModelBuild.resolvedOccurrences(
        mm.occurrences.filter(col("provenance") === "Wikipedia"), mm.closure, disambigs)
      val ts = AnnotationFilters.trainSimThresholds(
        Disambiguator.best(SparkEntry.scored(s)), gold, nQuantiles = 11)
      import s.implicits._
      ts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("quantile_idx", "threshold")
    }),
    "p_conll_gold" -> ((s, _) =>
      // AIDA/CoNLL corpus reader over the bundled fixture; the DuckDB
      // oracle re-parses the raw lines (p_conll_raw) — BIO spans,
      // detokenization offsets, doc keys — independently
      graft.eval.Corpora.fromConllLines(s, graft.eval.CorpusFixtures.conllLines)._1),
    "p_conll_raw" -> ((s, _) => {
      // the raw AIDA/CoNLL lines the S-corpus reader consumes, emitted
      // with their ordinal so the oracle can re-walk the format
      import s.implicits._
      graft.eval.CorpusFixtures.conllLines.zipWithIndex
        .map { case (l, i) => (i + 1, l) }.toDF("line_no", "line")
    }),
    "p_overlap_input" -> ((s, _) => overlapInput(s)),
    "p_overlap_resolved" -> ((s, _) =>
      // P4 score-cascade overlap resolution over OVERLAP-MODE spots
      // (findAllAligned emits nested/crossing spans, so the cascade
      // genuinely fires — the leftmost-longest fast path used by
      // p_spots never produces overlaps and made this an identity).
      // Oracle: a DuckDB recursive CTE re-walks the cascade per
      // paragraph over the emitted p_overlap_input.
      graft.spot.Spotter.resolveOverlaps(overlapInput(s))),
    "p_random_disambig" -> ((s, _) => {
      // D10 seeded random baseline (deterministic via fixed seed)
      val mm = m(s)
      val sc = Disambiguator.spotCandidates(SparkEntry.gated(s), mm.surfaceForms, mm.candidates)
      Disambiguator.randomPick(sc, mm.resources, seed = 42L).drop("types")
    }),
    "p_random_hashes" -> ((s, _) => {
      // raw-emission sidecar: the same xxhash64 draw randomPick orders
      // by, one row per (spot, candidate); its oracle re-derives the
      // candidate set from p_spots/p_surface_forms/p_candidates and
      // p_random_disambig's oracle re-runs the argmin pick + resource
      // join in SQL — only the hash value itself passes through
      val mm = m(s)
      val sc = Disambiguator.spotCandidates(SparkEntry.gated(s), mm.surfaceForms, mm.candidates)
      sc.select(col("url"), col("para_idx"), col("offset"), col("sf"), col("res_id"),
        xxhash64(col("url"), col("para_idx"), col("offset"), col("res_id"), lit(42L)).as("h"))
    }),
    "p_windowed_ctx" -> ((s, _) => {
      // D1 MAX_CONTEXT: deterministic 600-token paragraph → 3 context
      // windows (win = token index ÷ 250) with dictionary-encoded counts.
      // Oracle-backed: DuckDB regenerates the token stream and window
      // arithmetic from generate_series (see PipelineQueries.oracleSql).
      import s.implicits._
      val big = graft.model.ParagraphRow(
        "synthetic", 1, (1 to 600).map(i => s"tok$i").mkString(" "))
      val paras = Seq(big).toDS()
      val dict = graft.modelbuild.ModelBuild.tokenTypes(
        paras, s.emptyDataset[graft.model.SurfaceFormRow])
      Disambiguator.docTokenHistogram(paras, dict)
        .select("url", "para_idx", "win", "token_id", "q_cnt", "tok_count")
    }),
    "p_doc_tokens" -> ((s, _) =>
      // D1 getQuery: the per-(url, para_idx, win) dictionary-encoded
      // token histogram every context join consumes. Tokenization is
      // UDF-born (BreakIterator) → rows-only here; emitting it lets the
      // DuckDB oracles for p_scored / p_tficf_top1 / p_entity_contexts
      // recompute the D3/D4/A4 scoring and aggregation math from it.
      Disambiguator.docTokenHistogram(m(s).paragraphs, m(s).tokenTypes)),
    "p_predose_gold" -> ((s, _) =>
      // PREDOSE corpus reader over the bundled fixture; the DuckDB
      // oracle re-parses the raw lines (p_predose_raw), including the
      // Java String.hashCode doc-id fold re-run in modular arithmetic
      graft.eval.Corpora.fromPredoseLines(
        s, graft.eval.CorpusFixtures.predoseLines)._1),
    "p_predose_raw" -> ((s, _) => {
      // the raw PREDOSE lines the reader consumes, with ordinals
      import s.implicits._
      graft.eval.CorpusFixtures.predoseLines.zipWithIndex
        .map { case (l, i) => (i + 1, l) }.toDF("line_no", "line")
    }),
    "p_small_context" -> ((s, _) => {
      // SmallContextOccurrences transform over the CoNLL fixture
      val (g, t) = graft.eval.Corpora.fromConllLines(
        s, graft.eval.CorpusFixtures.conllLines)
      val (_, smallText) = graft.eval.Corpora.smallContext(s, g, t)
      smallText
    }),
    "p_milnewitten_gold" -> ((s, _) =>
      // MilneWitten corpus reader over the bundled fixture; the DuckDB
      // oracle re-walks the [[uri|sf|conf]] links and the clean-text
      // offset arithmetic from the raw paragraphs (p_milnewitten_raw)
      graft.eval.Corpora.fromMilneWittenParagraphs(
        s, graft.eval.CorpusFixtures.milneWittenDocs)._1),
    "p_milnewitten_raw" -> ((s, _) => {
      // the raw MilneWitten markup paragraphs the reader consumes
      import s.implicits._
      graft.eval.CorpusFixtures.milneWittenDocs.flatMap { case (title, paras) =>
        paras.zipWithIndex.map { case (para, i) => (title, i + 1, para) }
      }.toDF("url", "para_idx", "para")
    }),
    "p_kbp_raw" -> ((s, _) => {
      // the KBP reader's four raw inputs in one tagged table: queries
      // XML, KB XML, the SGM document, and the answer tab lines
      import s.implicits._
      (Seq(
        ("queries_xml", graft.eval.CorpusFixtures.kbpQueriesXml),
        ("kb_xml", graft.eval.CorpusFixtures.kbpKbXml),
        ("sgm", graft.eval.CorpusFixtures.kbpSgm)) ++
        graft.eval.CorpusFixtures.kbpAnswerLines.map(("answer", _)))
        .toDF("kind", "payload")
    }),
    "p_kbp_gold" -> ((s, _) => {
      // KBP corpus reader over the bundled fixture; the DuckDB oracle
      // re-parses all four raw inputs (p_kbp_raw) and re-runs the
      // query→answer→KB joins and the locate-based paragraph anchoring
      import s.implicits._
      val kb = graft.eval.Corpora.kbpKbFromXml(s, graft.eval.CorpusFixtures.kbpKbXml)
      val paras = graft.eval.Corpora.kbpSgmParagraphs(graft.eval.CorpusFixtures.kbpSgm)
        .zipWithIndex.map { case (p, i) => ("DOC_A", i + 1, p) }
        .toDF("url", "para_idx", "para_text")
      graft.eval.Corpora.kbpGold(s, graft.eval.CorpusFixtures.kbpQueriesXml,
        graft.eval.CorpusFixtures.kbpAnswerLines, kb, paras)
    }),
    "p_csaw_gold" -> ((s, _) => {
      // CSAW corpus reader over the bundled fixture; the DuckDB oracle
      // re-parses the raw annotation XML + texts (p_csaw_raw) and
      // re-runs the substring sf recovery independently
      import s.implicits._
      val texts = graft.eval.CorpusFixtures.csawDocs.toDF("url", "para_text")
      graft.eval.Corpora.fromCsawXml(s, texts, graft.eval.CorpusFixtures.csawXml)._1
    }),
    "p_csaw_raw" -> ((s, _) => {
      // the CSAW reader's two raw inputs in one tagged table: document
      // texts plus the single annotation-XML payload
      import s.implicits._
      (graft.eval.CorpusFixtures.csawDocs.map { case (u, t) => ("text", u, t) } :+
        (("xml", "", graft.eval.CorpusFixtures.csawXml)))
        .toDF("kind", "url", "payload")
    }),
    "p_xml_out" -> ((s, _) =>
      // S16 XML serializer over the pipeline's own annotations
      graft.triples.Serializers.toSpotlightXml(
        Annotate.annotationsFrom(s, SparkEntry.scored(s)).toDF(),
        m(s).paragraphs.toDF())),
    "p_nif_out" -> ((s, _) =>
      // S16 NIF serializer (N-Triples lines)
      graft.triples.Serializers.toNif(
        Annotate.annotationsFrom(s, SparkEntry.scored(s)).toDF(),
        m(s).paragraphs.toDF())),
    "p_html_out" -> ((s, _) =>
      // S16 HTML serializer: annotated text with <a href> spans
      graft.triples.Serializers.toHtml(
        Annotate.annotationsFrom(s, SparkEntry.scored(s)).toDF(),
        m(s).paragraphs.toDF())),
    "p_rdfa_out" -> ((s, _) =>
      // S16 RDFa serializer: about/typeof semantic markup spans
      graft.triples.Serializers.toRdfa(
        Annotate.annotationsFrom(s, SparkEntry.scored(s)).toDF(),
        m(s).paragraphs.toDF())),
    "p_candidates_xml" -> ((s, _) =>
      // S16 /candidates document: full ranked candidate list per spot
      graft.triples.Serializers.toCandidatesXml(
        SparkEntry.scored(s), m(s).paragraphs.toDF())),
    "p_ann_render" -> ((s, _) =>
      // raw-emission sidecar for the serializer oracles: the SAME
      // double->string cast (Java Double.toString) the XML/RDFa
      // fragments use, emitted per annotation so DuckDB can re-assemble
      // the serialized documents by pure string concat — the float
      // formatting is the only non-ANSI step and passes through here
      // (gated against p_annotations' hash-verified scores in its own
      // oracle)
      Annotate.annotationsFrom(s, SparkEntry.scored(s)).toDF()
        .select(col("url"), col("para_idx"), col("offset"), col("sf"),
          col("uri"), col("support"),
          concat_ws(",", col("types")).as("types_str"),
          col("similarity_score").cast("string").as("sim_str"),
          col("percentage_of_second_rank").cast("string").as("pct_str"))),
    "p_cand_render" -> ((s, _) =>
      // same sidecar for the /candidates document: one row per ranked
      // candidate (p_scored keys), with the stringified attribute set
      SparkEntry.scored(s)
        .select(col("url"), col("para_idx"), col("offset"), col("sf"),
          col("rank"), col("uri"), col("support"),
          concat_ws(",", col("types")).as("types_str"),
          col("similarity_score").cast("string").as("sim_str"),
          col("percentage_of_second_rank").cast("string").as("pct_str"))),
    "p_eval_gate" -> ((s, _) => {
      // single-row P/R + accuracy summary — the ≥0.95 gate, queryable
      val mm = m(s)
      val disambigs = NTriples.stripNamespace(
        NTriples.fromStrings(s, SyntheticCorpus.disambiguationsNt),
        "http://dbpedia.org/resource/")
      val gold = graft.modelbuild.ModelBuild.resolvedOccurrences(
        mm.occurrences.filter(col("provenance") === "Wikipedia"), mm.closure, disambigs)
      val scored = SparkEntry.scored(s)
      val sm = graft.eval.Evaluator.spotting(gold,
        scored.select("url", "para_idx", "offset", "sf").distinct())
      val dm = graft.eval.Evaluator.disambiguation(gold, scored)
      import s.implicits._
      // round to 9 decimals: the single-division metrics are bit-stable,
      // but mrr is a float SUM whose merge order Spark does not guarantee
      // across runs — rounding makes the DuckDB oracle compare robust
      def r9(x: Double) = BigDecimal(x)
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((r9(sm.recall), r9(sm.precision), r9(dm.accuracy), r9(dm.mrr), dm.total))
        .toDF("spot_recall", "spot_precision", "disambig_accuracy", "mrr", "gold_spots")
    }))

  /** Parquet-dir reference inside oracle SQL: Verify substitutes
    * [[OutPlaceholder]] with the absolute output directory it writes to,
    * so DuckDB re-derives later pipeline stages from EARLIER emitted
    * stages (the A1-A8 aggregation/ID arithmetic is recomputed
    * independently; only UDF-born scalar columns — sf_normalized,
    * total_count — pass through from the table under test). */
  val OutPlaceholder = "__OUT__"
  private def p(name: String) = s"'$OutPlaceholder/$name.parquet/*.parquet'"

  /** The classic Porter (1980) sample vocabulary, one word per step rule,
    * plus the recursive y-rule chains (syzygy, yyy, sayyid, ...). */
  private val PorterBattery = Seq(
    "caresses", "ponies", "ties", "caress", "cats", "feed", "agreed", "plastered",
    "bled", "motoring", "sing", "conflated", "troubled", "sized", "hopping", "tanned",
    "falling", "hissing", "failing", "filing", "happy", "sky", "relational",
    "conditional", "rational", "valenci", "hesitanci", "digitizer", "radicalli",
    "differentli", "vileli", "analogousli", "vietnamization", "predication", "operator",
    "feudalism", "decisiveness", "hopefulness", "callousness", "formaliti",
    "sensitiviti", "sensibiliti", "triplicate", "formative", "formalize", "electriciti",
    "electrical", "hopeful", "goodness", "revival", "allowance", "inference",
    "airliner", "gyroscopic", "adjustable", "defensible", "irritant", "replacement",
    "adjustment", "dependent", "adoption", "communism", "activate", "angulariti",
    "homologous", "effective", "probate", "rate", "cease", "controll", "roll",
    "syzygy", "sayyid", "gypsy", "yyy", "crying", "saying", "enjoyed", "obeys", "tray")

  // ---- Porter (1980) re-derivation in SQL (p_stemmed_tokens oracle) ------
  // Mirrors graft.util.PorterStemmer step by step over the emitted raw
  // token stream, so the T3 dictionary is hash-verified end to end
  // (offline DuckDB ships no fts stem(); this re-implements the
  // algorithm in ANSI-ish SQL instead of calling one). The
  // consonant/vowel map handles Porter's RECURSIVE y-rule exactly
  // without lookbehind (RE2 has none): a y's class depends only on the
  // char before its maximal y-run and the parity of its offset within
  // the run — cons(first y) = at-word-start OR after-vowel, then
  // alternate. The map is prefix-stable (char i's class only reads
  // chars <= i), so measure/vowel tests over stem prefixes are
  // substring operations on one map per stage. Checked against the
  // Scala implementation on the full corpus vocabulary (p_stemmed_tokens)
  // and on the classic Porter-paper battery incl. the syzygy/yyy/sayyid
  // y-chains (p_porter_battery).
  private def cvSql(s: String): String = {
    val yrun = s"(i - 1 - length(rtrim($s[1 : i - 1], 'y')))"
    val q = s"(i - $yrun - 1)"
    val firstCons = s"(($q = 0) OR ($s[$q] IN ('a','e','i','o','u')))"
    s"""array_to_string(list_transform(range(1, length($s) + 1), i -> CASE
      WHEN $s[i] IN ('a','e','i','o','u') THEN 'V'
      WHEN $s[i] = 'y' THEN (CASE WHEN (($yrun % 2) = 0) = $firstCons
                             THEN 'C' ELSE 'V' END)
      ELSE 'C' END), '')"""
  }
  /** Porter's m() over the first `plen` chars: count of VC digrams. */
  private def mSql(cv: String, plen: String): String =
    s"((length($cv[1:$plen]) - length(replace($cv[1:$plen], 'VC', ''))) // 2)"
  private def hasVSql(cv: String, plen: String): String =
    s"contains($cv[1:$plen], 'V')"
  /** *o condition at 1-based position j: ...CVC with final not w/x/y. */
  private def cvcSql(s: String, cv: String, j: String): String =
    s"($j >= 3 AND $cv[$j-2:$j] = 'CVC' AND $s[$j] NOT IN ('w','x','y'))"
  /** One "suffix -> replacement when m(stem) > thresh" CASE arm. */
  private def ruleM(sN: String, cvN: String, nN: String,
                    suf: String, rep: String, thresh: Int): String = {
    val l = suf.length
    val repl = s"left($sN, $nN-$l)" + (if (rep.nonEmpty) s" || '$rep'" else "")
    s"WHEN $sN LIKE '%$suf' THEN (CASE WHEN ${mSql(cvN, s"$nN-$l")} > $thresh " +
      s"THEN $repl ELSE $sN END)"
  }
  private val porterStep2 = Seq(
    "ational" -> "ate", "tional" -> "tion", "enci" -> "ence",
    "anci" -> "ance", "izer" -> "ize", "abli" -> "able", "alli" -> "al",
    "entli" -> "ent", "eli" -> "e", "ousli" -> "ous", "ization" -> "ize",
    "ation" -> "ate", "ator" -> "ate", "alism" -> "al", "iveness" -> "ive",
    "fulness" -> "ful", "ousness" -> "ous", "aliti" -> "al",
    "iviti" -> "ive", "biliti" -> "ble")
  private val porterStep3 = Seq(
    "icate" -> "ic", "ative" -> "", "alize" -> "al", "iciti" -> "ic",
    "ical" -> "ic", "ful" -> "", "ness" -> "")
  private val porterStep4 = Seq(
    "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
    "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize")
  /** (tok, stemmed) over `src`'s token column — the full five-step
    * cascade; each stage recomputes the cv map of its current string. */
  private def porterStemSql(src: String): String = {
    val s2Cases = porterStep2.map { case (a, b) =>
      ruleM("s4", "cv4", "n4", a, b, 0) }.mkString("\n          ")
    val s3Cases = porterStep3.map { case (a, b) =>
      ruleM("s5", "cv5", "n5", a, b, 0) }.mkString("\n          ")
    val s4Cases = porterStep4.map {
      case "ion" =>
        "WHEN s6 LIKE '%ion' THEN (CASE WHEN n6-3 >= 1 AND s6[n6-3] IN ('s','t') " +
          s"AND ${mSql("cv6", "n6-3")} > 1 THEN left(s6, n6-3) ELSE s6 END)"
      case suf =>
        s"WHEN s6 LIKE '%$suf' THEN (CASE WHEN ${mSql("cv6", s"n6-${suf.length}")} > 1 " +
          s"THEN left(s6, n6-${suf.length}) ELSE s6 END)"
    }.mkString("\n          ")
    s"""WITH t0 AS (
      SELECT token AS tok, lower(token) AS w,
             length(lower(token)) >= 3
               AND regexp_full_match(lower(token), '[a-z]+') AS go
      FROM $src),
    a1 AS (SELECT tok, w, go,
        CASE WHEN w LIKE '%sses' THEN left(w, length(w)-2)
             WHEN w LIKE '%ies' THEN left(w, length(w)-2)
             WHEN w LIKE '%ss' THEN w
             WHEN w LIKE '%s' THEN left(w, length(w)-1)
             ELSE w END AS s1 FROM t0),
    a2 AS (SELECT *, ${cvSql("s1")} AS cv1, length(s1) AS n1 FROM a1),
    b1 AS (SELECT tok, w, go,
        CASE WHEN s1 LIKE '%eed' THEN (CASE WHEN ${mSql("cv1", "n1-3")} > 0 THEN left(s1, n1-1) ELSE s1 END)
             WHEN s1 LIKE '%ed' AND ${hasVSql("cv1", "n1-2")} THEN left(s1, n1-2)
             WHEN s1 LIKE '%ing' AND ${hasVSql("cv1", "n1-3")} THEN left(s1, n1-3)
             ELSE s1 END AS s2,
        (s1 NOT LIKE '%eed' AND ((s1 LIKE '%ed' AND ${hasVSql("cv1", "n1-2")})
                                 OR (s1 LIKE '%ing' AND ${hasVSql("cv1", "n1-3")}))) AS fl
        FROM a2),
    b2 AS (SELECT *, ${cvSql("s2")} AS cv2, length(s2) AS n2 FROM b1),
    c1 AS (SELECT tok, w, go,
        CASE WHEN NOT fl THEN s2
             WHEN s2 LIKE '%at' OR s2 LIKE '%bl' OR s2 LIKE '%iz' THEN s2 || 'e'
             WHEN n2 >= 2 AND s2[n2] = s2[n2-1] AND cv2[n2:n2] = 'C'
                  AND s2[n2] NOT IN ('l','s','z') THEN left(s2, n2-1)
             WHEN ${mSql("cv2", "n2")} = 1 AND ${cvcSql("s2", "cv2", "n2")} THEN s2 || 'e'
             ELSE s2 END AS s3 FROM b2),
    c2 AS (SELECT *, ${cvSql("s3")} AS cv3, length(s3) AS n3 FROM c1),
    d1 AS (SELECT tok, w, go,
        CASE WHEN s3 LIKE '%y' AND ${hasVSql("cv3", "n3-1")} THEN left(s3, n3-1) || 'i'
             ELSE s3 END AS s4 FROM c2),
    d2 AS (SELECT *, ${cvSql("s4")} AS cv4, length(s4) AS n4 FROM d1),
    e1 AS (SELECT tok, w, go,
        CASE $s2Cases
             ELSE s4 END AS s5 FROM d2),
    e2 AS (SELECT *, ${cvSql("s5")} AS cv5, length(s5) AS n5 FROM e1),
    f1 AS (SELECT tok, w, go,
        CASE $s3Cases
             ELSE s5 END AS s6 FROM e2),
    f2 AS (SELECT *, ${cvSql("s6")} AS cv6, length(s6) AS n6 FROM f1),
    g1 AS (SELECT tok, w, go,
        CASE $s4Cases
             ELSE s6 END AS s7 FROM f2),
    g2 AS (SELECT *, ${cvSql("s7")} AS cv7, length(s7) AS n7 FROM g1),
    h1 AS (SELECT tok, w, go,
        CASE WHEN s7[n7] = 'e' AND (${mSql("cv7", "n7-1")} > 1
               OR (${mSql("cv7", "n7-1")} = 1 AND NOT ${cvcSql("s7", "cv7", "n7-1")}))
             THEN left(s7, n7-1) ELSE s7 END AS s8 FROM g2),
    h2 AS (SELECT *, ${cvSql("s8")} AS cv8, length(s8) AS n8 FROM h1),
    i1 AS (SELECT tok, w, go,
        CASE WHEN s8[n8] = 'l' AND n8 >= 2 AND s8[n8-1] = 'l' AND ${mSql("cv8", "n8-1")} > 1
             THEN left(s8, n8-1) ELSE s8 END AS s9 FROM h2)
    SELECT tok, CASE WHEN go THEN s9 ELSE w END AS stemmed FROM i1"""
  }

  // ---- serializer-oracle SQL building blocks (S16 family) ----------------
  // The XML/HTML/RDFa/NIF documents are re-assembled in DuckDB by pure
  // string concat from p_paragraphs + p_annotations + the render sidecars
  // (p_ann_render / p_cand_render carry the Spark-side Java
  // Double.toString score strings — the one non-ANSI step — gated against
  // the hash-verified double columns in their own oracles below).

  /** [[graft.triples.Serializers]]' xmlEsc replicated in DuckDB
    * (ampersand first, same order). */
  private def xmlEscSql(x: String): String =
    s"""replace(replace(replace(replace(replace($x,
       '&','&amp;'), '<','&lt;'), '>','&gt;'), '"','&quot;'), '''','&apos;')"""

  /** ntEsc (backslash first); backslashes spelled chr(92) so the string
    * survives the Scala-interpolation and DuckDB quoting layers intact. */
  private def ntEscSql(x: String): String =
    s"""replace(replace(replace(replace($x,
       chr(92), chr(92)||chr(92)), '"', chr(92)||'"'),
       chr(10), chr(92)||'n'), chr(13), chr(92)||'r')"""

  /** Serializers.iri: http passthrough, DBpedia:/Schema: class prefixes,
    * else the resource namespace. */
  private def iriSql(x: String): String =
    s"""CASE WHEN $x LIKE 'http%' THEN $x
        WHEN $x LIKE 'DBpedia:%' THEN 'http://dbpedia.org/ontology/' || $x[9:]
        WHEN $x LIKE 'Schema:%' THEN 'http://schema.org/' || $x[8:]
        ELSE 'http://dbpedia.org/resource/' || $x END"""

  /** Per-candidate `<Resource .../>` fragment over a render-sidecar row
    * (attribute set of rest/.../OutputManager.java:125-133). */
  private def resFragSql: String =
    s"""'<Resource URI="' || ${xmlEscSql("uri")} || '" support="' || support
       || '" types="' || ${xmlEscSql("types_str")} || '" surfaceForm="' || ${xmlEscSql("sf")}
       || '" offset="' || "offset" || '" similarityScore="' || sim_str
       || '" percentageOfSecondRank="' || pct_str || '"/>'"""

  /** `<?xml ...?><Annotation text="..." confidence support>` opening
    * (expects paragraph alias `p`). */
  private def xmlHeaderSql: String =
    s"""'<?xml version="1.0" encoding="utf-8"?>' || chr(10) ||
       '<Annotation text="' || ${xmlEscSql("p.para_text")} ||
       '" confidence="0.1" support="10">'"""

  private def htmlMainSql: String =
    """'<!DOCTYPE HTML PUBLIC "-//W3C//DTD HTML 4.01 Transitional//EN" "http://www.w3.org/TR/html4/loose.dtd">' || chr(10) ||
       '<html>' || chr(10) || '<head>' || chr(10) || '<title>DBpedia Spotlight annotation</title>' || chr(10) ||
       '<meta http-equiv="Content-type" content="text/html;charset=UTF-8">' || chr(10) ||
       '</head>' || chr(10) || '<body>' || chr(10) || '<div>' || chr(10)"""

  private def rdfaMainSql: String =
    """'<?xml version="1.0" encoding="UTF-8"?>' || chr(10) ||
       '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML+RDFa 1.0//EN" "http://www.w3.org/MarkUp/DTD/xhtml-rdfa-1.dtd">' || chr(10) ||
       '<html xmlns="http://www.w3.org/1999/xhtml" xmlns:lexvo="http://lexvo.org/ontology#" xmlns:dbpedia="http://dbpedia.org/resource/" xmlns:dbpo="http://dbpedia.org/ontology/">' || chr(10) ||
       '<head>' || chr(10) || '<title>DBpedia Spotlight annotation</title>' || chr(10) || '</head>' || chr(10) ||
       '<body>' || chr(10) || '<div>' || chr(10)"""

  private def mainEndSql: String =
    """chr(10) || '</div>' || chr(10) || '</body>' || chr(10) || '</html>'"""

  /** Serializers.spliceLinks as a lag-window rewrite: each annotation
    * contributes (gap-before-it || link), ordered by offset, plus the
    * post-last-spot tail; annotations are post-resolveOverlaps so the
    * gaps are non-negative by construction. */
  private def spliceSql(linkExpr: String, src: String): String =
    s"""
    WITH ann AS (
      SELECT a.url, a.para_idx, a."offset", len(a.sf) AS sflen, p.para_text,
             $linkExpr AS link,
             coalesce(lag(a."offset" + len(a.sf)) OVER
               (PARTITION BY a.url, a.para_idx ORDER BY a."offset"), 0) AS prev_end
      FROM $src a JOIN ${p("p_paragraphs")} p USING (url, para_idx)),
    docs AS (
      SELECT url, para_idx,
        string_agg(substr(para_text, prev_end + 1, "offset" - prev_end) || link,
                   '' ORDER BY "offset")
          || substr(any_value(para_text), max("offset" + sflen) + 1) AS content
      FROM ann GROUP BY url, para_idx)"""

  private val NifNs = "http://persistence.uni-leipzig.org/nlp2rdf/ontologies/nif-core#"
  private val ItsRdfNs = "http://www.w3.org/2005/11/its/rdf#"
  private val XsdNonNeg = "^^<http://www.w3.org/2001/XMLSchema#nonNegativeInteger>"
  private val NifPrefix = "http://spotlight.dbpedia.org/annotate"

  /** Shared AIDA/CoNLL parse CTEs over p_conll_raw — doc markers, token
    * fields, per-doc token ordinal. Used by the p_conll_gold and
    * p_small_context oracles (factored so the two cannot drift). Ends
    * with a `toks(line_no, doc_start, url, token, bio, sf, uri, ti)`
    * relation; interpolate inside a WITH list. */
  private lazy val ConllToksCtes: String = s"""parsed AS (
        SELECT line_no,
          regexp_matches(line, '^-DOCSTART- \\((\\d+)(.+)\\)') AS is_doc,
          regexp_extract(line, '^-DOCSTART- \\((\\d+)(.+)\\)', 1) AS doc_id,
          regexp_extract(line, '^-DOCSTART- \\((\\d+)(.+)\\)', 2) AS doc_label,
          regexp_matches(line, '^(\\S+)\\t(\\S+)\\t(.+)\\t(\\S+)\\t(\\S+)$$') AS is_tok,
          regexp_extract(line, '^(\\S+)\\t(\\S+)\\t(.+)\\t(\\S+)\\t(\\S+)$$', 1) AS f_tok,
          regexp_extract(line, '^(\\S+)\\t(\\S+)\\t(.+)\\t(\\S+)\\t(\\S+)$$', 2) AS f_bio,
          regexp_extract(line, '^(\\S+)\\t(\\S+)\\t(.+)\\t(\\S+)\\t(\\S+)$$', 3) AS f_sf,
          regexp_extract(line, '^(\\S+)\\t(\\S+)\\t(.+)\\t(\\S+)\\t(\\S+)$$', 4) AS f_uri,
          trim(line) AS plain
        FROM ${p("p_conll_raw")}),
      docs AS (
        SELECT *, max(CASE WHEN is_doc THEN line_no END)
                   OVER (ORDER BY line_no ROWS UNBOUNDED PRECEDING) AS doc_start
        FROM parsed),
      hdr AS (
        SELECT line_no AS doc_start,
               doc_id || '_' || replace(trim(doc_label), ' ', '_') AS url
        FROM parsed WHERE is_doc),
      toks AS (
        SELECT d.line_no, d.doc_start, h.url,
               CASE WHEN d.is_tok THEN d.f_tok ELSE d.plain END AS token,
               CASE WHEN d.is_tok THEN d.f_bio ELSE '' END AS bio,
               CASE WHEN d.is_tok THEN d.f_sf ELSE '' END AS sf,
               CASE WHEN d.is_tok THEN d.f_uri ELSE '' END AS uri,
               row_number() OVER (PARTITION BY d.doc_start ORDER BY d.line_no) AS ti
        FROM docs d JOIN hdr h USING (doc_start)
        WHERE NOT d.is_doc)"""

  // ---- extraction-oracle fragments (S2-S6 downstream of stripEverything,
  // re-derived in SQL from the p_page_stripped sidecar) ------------------

  /** Java-trim's <=0x20 set restricted to the chars the extractor can see. */
  private val WsSet = "' ' || chr(9) || chr(10) || chr(13)"

  /** The `[[...]]` link pattern of WikiPageParser.LinkRe (bracket-free
    * inner, so the char class makes laziness irrelevant). Single-quoted
    * fragments below interpolate it verbatim. */
  private val LinkReSql = """\[\[[^\[\]]*\]\]"""

  /** Paragraph CTEs over a `pg(url, is_dis, stripped)` relation: the
    * splitParagraphs contract — split on the reference break regex, trim,
    * drop empties, 1-based index over the surviving paragraphs. */
  private val ParaCtes = s"""
      segs AS (SELECT url, is_dis,
                 regexp_split_to_array(stripped, '${graft.extract.WikiPageParser.SplitParagraphs}') AS arr
               FROM pg),
      rawp AS (SELECT s2.url, s2.is_dis, i.i AS seg_idx, trim(s2.arr[i.i], $WsSet) AS para
               FROM segs s2, LATERAL (SELECT unnest(generate_series(1, len(s2.arr))) AS i) i),
      paras AS (SELECT url, is_dis,
                  CAST(row_number() OVER (PARTITION BY url ORDER BY seg_idx) AS INT) AS para_idx,
                  para
                FROM rawp WHERE para <> '')"""

  /** Per-link walk step over a recursive-CTE row `w(rest, ...)`: leftmost
    * `[[...]]` match + the sf cleanup chain of WikiPageParser.parseParagraph
    * (last-pipe segment, trim, trailing ` (...)` drop, leading `The `/`A `
    * drop), the Main-namespace gate, and TextUtil.wikiEncode re-run
    * char-by-char (cleanSpace, space→underscore, percent-encoded UTF-8
    * bytes outside the safe set; the SQL safe set is ASCII-faithful — SQL
    * has no Unicode isLetterOrDigit — and the fixture is ASCII, so a
    * non-ASCII title would fail the compare loudly rather than silently). */
  private val LinkStepSql = s"""LATERAL (
        SELECT t2.pos, t2.m0, t2.sf3,
          (t2.pfx IS NULL OR t2.pfx NOT IN
            ('category','file','image','wikipedia','template','help','talk','user','portal'))
            AND t2.sf3 <> '' AND trim(t2.dest, $WsSet) <> '' AS keep,
          array_to_string(list_transform(
            regexp_extract_all(replace(trim(regexp_replace(t2.dest, '[\\s_]+', ' ', 'g')), ' ', '_'), '.'),
            c -> CASE WHEN regexp_matches(c, '^[A-Za-z0-9_\\-.~!$$&''()*+,;=:@/]$$')
                      THEN c ELSE regexp_replace(hex(encode(c)), '(..)', '%\\1', 'g') END),
            '') AS enc
        FROM (
          SELECT t1.pos, t1.m0, t1.dest, t1.sf3,
            CASE WHEN strpos(t1.dest, ':') > 0
                 THEN lower(substring(t1.dest, 1, strpos(t1.dest, ':') - 1)) END AS pfx
          FROM (
            SELECT t0.pos, t0.m0,
              CASE WHEN strpos(t0.inn, '|') > 0
                   THEN substring(t0.inn, 1, strpos(t0.inn, '|') - 1) ELSE t0.inn END AS dest,
              regexp_replace(regexp_replace(
                trim(regexp_replace(t0.inn, '^.*\\|', ''), $WsSet),
                ' \\(.+?\\)$$', ''), '^(The|A) ', '') AS sf3
            FROM (SELECT strpos(w.rest, m.m0) AS pos, m.m0,
                         substring(m.m0, 3, len(m.m0) - 4) AS inn
                  FROM (SELECT regexp_extract(w.rest, '$LinkReSql', 0) AS m0) m) t0) t1) t2) lk"""

  /** DuckDB oracles for the model-build family (VERDICT r2 item 3:
    * graduate these from rows-only to hash-verified). All recompute the
    * stage from p_occurrences / p_ntriples_parse — the raw extracted
    * facts — so a wrong join, a lost partial sum, or an unstable dense-ID
    * assignment in ModelBuild fails the driver compare. */
  def oracleSql: Map[String, String] = Map(
    // S2: the extracted text re-assembled from the post-strip sidecar —
    // redirect/disambig gate (Extractor.extracted; Spark trim = spaces),
    // paragraph split, recursive link walk replacing each [[...]] with its
    // cleaned label, then the per-paragraph whitespace flatten + smart-
    // apostrophe normalization and the \n\n document join.
    "p_extracted" -> s"""
      WITH RECURSIVE pg AS (
        SELECT url, false AS is_dis, stripped
        FROM ${p("p_page_stripped")}
        WHERE NOT starts_with(lower(trim(markup)), '#redirect')
          AND NOT (contains(lower(markup), '{{disambig')
                   OR ends_with(url, '(disambiguation)'))),
      $ParaCtes,
      walk(url, para_idx, rest, clean, step) AS (
        SELECT url, para_idx, para, '', CAST(0 AS BIGINT) FROM paras
        UNION ALL
        SELECT w.url, w.para_idx,
          substring(w.rest, lk.pos + len(lk.m0)),
          w.clean || substring(w.rest, 1, lk.pos - 1) || lk.sf3,
          w.step + 1
        FROM walk w, $LinkStepSql
        WHERE regexp_matches(w.rest, '$LinkReSql')),
      fin AS (
        SELECT url, para_idx,
          replace(regexp_replace(clean || rest, '\\s', ' ', 'g'), '’', chr(39)) AS ptext
        FROM walk WHERE NOT regexp_matches(rest, '$LinkReSql'))
      SELECT pg.url, coalesce(t.text, '') AS text
      FROM pg LEFT JOIN (
        SELECT url, string_agg(ptext, chr(10)||chr(10) ORDER BY para_idx) AS text
        FROM fin GROUP BY url) t USING (url)""",
    // S4+S5+S6 weights: the link-occurrence extraction re-walked from the
    // post-strip sidecar — same recursive walk as p_extracted but
    // accumulating the clean-text OFFSET, with the Main-namespace gate,
    // wikiEncode, the ×10 disambiguation weight/provenance (re-derived
    // from the raw markup/url, AllOccurrenceSource semantics) and the
    // reference's `<title>-p<n>l<m>` id scheme.
    "p_occurrences" -> s"""
      WITH RECURSIVE pg AS (
        SELECT url,
          (contains(lower(markup), '{{disambig')
           OR ends_with(url, '(disambiguation)')) AS is_dis,
          stripped
        FROM ${p("p_page_stripped")}
        WHERE NOT starts_with(lower(trim(markup, $WsSet)), '#redirect')),
      $ParaCtes,
      walk(url, is_dis, para_idx, rest, clean_len, step, uri, sf, off) AS (
        SELECT url, is_dis, para_idx, para, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               NULL::VARCHAR, NULL::VARCHAR, NULL::INT
        FROM paras
        UNION ALL
        SELECT w.url, w.is_dis, w.para_idx,
          substring(w.rest, lk.pos + len(lk.m0)),
          CAST(w.clean_len + lk.pos - 1 + len(lk.sf3) AS BIGINT),
          w.step + 1,
          CASE WHEN lk.keep THEN lk.enc END,
          CASE WHEN lk.keep THEN replace(lk.sf3, '’', chr(39)) END,
          CASE WHEN lk.keep THEN CAST(w.clean_len + lk.pos - 1 AS INT) END
        FROM walk w, $LinkStepSql
        WHERE regexp_matches(w.rest, '$LinkReSql'))
      SELECT
        w.url || '-p' || CAST(w.para_idx AS VARCHAR) || 'l' ||
          CAST(row_number() OVER (PARTITION BY w.url, w.para_idx ORDER BY w.step) AS VARCHAR) AS id,
        w.url, w.para_idx, w.uri, w.sf, w.off AS "offset",
        CAST(CASE WHEN w.is_dis THEN 10 ELSE 1 END AS INT) AS weight,
        CASE WHEN w.is_dis THEN 'Disambiguation' ELSE 'Wikipedia' END AS provenance
      FROM walk w WHERE w.uri IS NOT NULL""",
    // S3: paragraph split re-run from the emitted extracted text —
    // literal "\n\n" split, 1-based index over the ORIGINAL segment
    // positions (empty segments consume an index, Extractor.paragraphs),
    // Java-trim emptiness check approximated by the 4-char trim set
    // (space/tab/LF/CR — the only <=0x20 chars the extractor emits).
    "p_paragraphs" -> s"""
      WITH e AS (SELECT url, string_split(text, chr(10)||chr(10)) AS segs
                 FROM ${p("p_extracted")}),
      u AS (SELECT url, unnest(segs) AS para_text,
                   unnest([CAST(i AS INT) FOR i IN range(1, len(segs)+1)]) AS para_idx
            FROM e)
      SELECT url, para_idx, para_text FROM u
      WHERE trim(para_text, ' ' || chr(9) || chr(10) || chr(13)) <> ''""",
    // A8: reference getEndOfChainURI semantics — follow until no next hop
    // or the next hop was already visited (cycles stop at last new node).
    "p_redirect_closure" -> s"""
      WITH RECURSIVE edges AS (
        SELECT DISTINCT replace(subj,'http://dbpedia.org/resource/','') AS e_from,
                        replace(obj,'http://dbpedia.org/resource/','') AS e_to
        FROM ${p("p_ntriples_parse")}
        WHERE pred = 'http://dbpedia.org/ontology/wikiPageRedirects'
      ), walk(f, t, path) AS (
        SELECT e_from, e_to, [e_from, e_to] FROM edges
        UNION ALL
        SELECT w.f, e.e_to, list_append(w.path, e.e_to)
        FROM walk w JOIN edges e ON w.t = e.e_from
        WHERE NOT list_contains(w.path, e.e_to)
      )
      SELECT f AS "from", t AS "to" FROM walk w
      WHERE NOT EXISTS (
        SELECT 1 FROM edges e WHERE e.e_from = w.t AND NOT list_contains(w.path, e.e_to))""",
    // S13/A5: token dictionary re-derived from the emitted raw token
    // stream — group-count over the paragraph+sf union, dense id =
    // row_number by token (the denseIds contract, same as sf_id below).
    "p_token_types" -> s"""
      SELECT CAST(row_number() OVER (ORDER BY token) AS INT) AS token_id,
             token, CAST(cnt AS BIGINT) AS count
      FROM (SELECT token, COUNT(*) AS cnt
            FROM ${p("p_token_stream")} GROUP BY token)""",
    // T3: the SAME dictionary derivation under the Porter stemmer path —
    // every token of the raw stream is stemmed by the five-step cascade
    // re-implemented in SQL above (see porterStemSql), then group-count
    // + dense id exactly as p_token_types.
    "p_stemmed_tokens" -> s"""
      SELECT CAST(row_number() OVER (ORDER BY token) AS INT) AS token_id,
             token, CAST(cnt AS BIGINT) AS count
      FROM (SELECT stemmed AS token, COUNT(*) AS cnt
            FROM (${porterStemSql(p("p_token_stream"))}) GROUP BY 1)""",
    // T3: the paper battery through the SQL cascade, word for word
    "p_porter_battery" -> s"""
      SELECT tok, stemmed
      FROM (${porterStemSql(s"(SELECT tok AS token FROM ${p("p_porter_battery")})")})""",
    // A1: annotated_count = weighted occurrence count per sf; sf_id = dense
    // rank by sf. total_count/sf_normalized are automaton/UDF products
    // (not ANSI-expressible) and pass through from the emitted table.
    "p_surface_forms" -> s"""
      WITH agg AS (
        SELECT sf, CAST(SUM(weight) AS BIGINT) AS annotated_count
        FROM ${p("p_occurrences")} GROUP BY sf)
      SELECT CAST(row_number() OVER (ORDER BY agg.sf) AS INT) AS sf_id, agg.sf,
             s.sf_normalized, agg.annotated_count, s.total_count
      FROM agg JOIN ${p("p_surface_forms")} s ON agg.sf = s.sf""",
    // A2 (+S10): support after redirect resolution and disambig-URI
    // removal; types re-aggregated from the instance-types triples.
    "p_resources" -> s"""
      WITH resolved AS (
        SELECT coalesce(c."to", o.uri) AS uri, o.weight
        FROM ${p("p_occurrences")} o
        LEFT JOIN ${p("p_redirect_closure")} c ON o.uri = c."from"
      ), nodis AS (
        SELECT * FROM resolved r WHERE NOT EXISTS (
          SELECT 1 FROM ${p("p_ntriples_parse")} n
          WHERE n.pred = 'http://dbpedia.org/ontology/wikiPageDisambiguates'
            AND replace(n.subj,'http://dbpedia.org/resource/','') = r.uri)
      ), sup AS (
        SELECT uri, CAST(SUM(weight) AS BIGINT) AS support FROM nodis GROUP BY uri
      ), typ AS (
        SELECT replace(subj,'http://dbpedia.org/resource/','') AS uri,
               array_to_string(list_sort(list_distinct(list(
                 replace(replace(obj,'http://dbpedia.org/ontology/','DBpedia:'),
                         'http://schema.org/','Schema:')))), ',') AS types
        FROM ${p("p_ntriples_parse")}
        WHERE pred = 'http://www.w3.org/1999/02/22-rdf-syntax-ns#type'
        GROUP BY 1)
      SELECT CAST(row_number() OVER (ORDER BY sup.uri) AS INT) AS res_id, sup.uri,
             sup.support, coalesce(typ.types, '') AS types
      FROM sup LEFT JOIN typ ON sup.uri = typ.uri""",
    // A3: pair counts on the resolved (sf, uri) keyed through the
    // independently-verified dimension IDs, and each pair's rank within
    // its sf (cooc_count desc, res_id).
    "p_candidates" -> s"""
      WITH resolved AS (
        SELECT o.sf, coalesce(c."to", o.uri) AS uri, o.weight
        FROM ${p("p_occurrences")} o
        LEFT JOIN ${p("p_redirect_closure")} c ON o.uri = c."from"
      ), nodis AS (
        SELECT * FROM resolved r WHERE NOT EXISTS (
          SELECT 1 FROM ${p("p_ntriples_parse")} n
          WHERE n.pred = 'http://dbpedia.org/ontology/wikiPageDisambiguates'
            AND replace(n.subj,'http://dbpedia.org/resource/','') = r.uri)
      )
      SELECT *, CAST(row_number() OVER (PARTITION BY sf_id
                  ORDER BY cooc_count DESC, res_id) AS INT) AS cand_rank
      FROM (
        SELECT s.sf_id, r.res_id, CAST(SUM(n.weight) AS BIGINT) AS cooc_count
        FROM nodis n
        JOIN ${p("p_surface_forms")} s ON n.sf = s.sf
        JOIN ${p("p_resources")} r ON n.uri = r.uri
        GROUP BY s.sf_id, r.res_id)""",
    // R6: md5-derived bucket split — DuckDB reproduces the exact bucket
    // arithmetic (ModelBuild.hashSplit uses the first 60 md5 bits).
    "p_train_test_split" -> s"""
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT CASE WHEN ('0x'||substring(md5(id),1,15))::BIGINT % 1000 >= 200
                    THEN 'train' ELSE 'test' END AS split
        FROM ${p("p_occurrences")})
      GROUP BY split""",
    // D1 MAX_CONTEXT: window index + dictionary-encoded histogram of the
    // deterministic 600-token paragraph, regenerated from generate_series.
    "p_windowed_ctx" -> s"""
      WITH toks AS (
        SELECT 'tok'||CAST(i AS VARCHAR) AS token, CAST(i-1 AS INT) AS pos
        FROM generate_series(1,600) t(i))
      SELECT 'synthetic' AS url, CAST(1 AS INT) AS para_idx,
             CAST((pos // 250) AS INT) AS win,
             CAST(row_number() OVER (ORDER BY token) AS INT) AS token_id,
             CAST(1 AS BIGINT) AS q_cnt, CAST(1 AS BIGINT) AS tok_count
      FROM toks""",
    // D2+R1: top-1 re-derived from the emitted scored table — DuckDB
    // recomputes the rank from the similarity column instead of trusting
    // the emitted `rank`, so a wrong window ordering or tie-break fails.
    "p_top1" -> s"""
      SELECT url, para_idx, "offset", sf, uri, support, similarity_score,
             percentage_of_second_rank, contextual_score
      FROM (SELECT *, row_number() OVER (PARTITION BY url, para_idx, "offset"
              ORDER BY similarity DESC, res_id) AS _rk FROM ${p("p_scored")})
      WHERE _rk = 1""",
    // D1..F6: the full annotation chain — re-derived top-1, then the F2
    // percentageOfSecond and F3 support filters (server defaults 0.1/10),
    // then the F6 coreference rule (single-word sf adopts the earliest
    // preceding all-capitalized multi-word sf containing its word).
    "p_annotations" -> s"""
      WITH best AS (
        SELECT url, para_idx, "offset", sf, uri, support, similarity_score,
               percentage_of_second_rank, contextual_score
        FROM (SELECT *, row_number() OVER (PARTITION BY url, para_idx, "offset"
                ORDER BY similarity DESC, res_id) AS _rk FROM ${p("p_scored")})
        WHERE _rk = 1),
      filt AS (
        SELECT * FROM best
        WHERE percentage_of_second_rank <= 1 - 0.1*0.1 AND support > 10),
      single AS (SELECT * FROM filt WHERE len(string_split(sf, ' ')) = 1),
      multi AS (
        SELECT * FROM filt
        WHERE len(string_split(sf, ' ')) > 1
          AND len(list_filter(string_split(sf, ' '),
                w -> w <> '' AND substring(w,1,1) = upper(substring(w,1,1)))) = len(string_split(sf, ' '))),
      coref AS (
        SELECT s.url, s.para_idx, s."offset",
               m.uri AS c_uri, m.support AS c_support,
               m.similarity_score AS c_sim, m.percentage_of_second_rank AS c_pct,
               row_number() OVER (PARTITION BY s.url, s.para_idx, s."offset"
                 ORDER BY m.para_idx, m."offset") AS _crk
        FROM single s JOIN multi m
          ON s.url = m.url
         AND (m.para_idx < s.para_idx OR (m.para_idx = s.para_idx AND m."offset" < s."offset"))
         AND list_contains(string_split(m.sf, ' '), s.sf))
      SELECT f.url, f.para_idx, f."offset", f.sf,
             coalesce(c.c_uri, f.uri) AS uri,
             coalesce(c.c_support, f.support) AS support,
             coalesce(c.c_sim, f.similarity_score) AS similarity_score,
             coalesce(c.c_pct, f.percentage_of_second_rank) AS percentage_of_second_rank,
             f.contextual_score
      FROM filt f
      LEFT JOIN (SELECT * FROM coref WHERE _crk = 1) c
        ON f.url = c.url AND f.para_idx = c.para_idx AND f."offset" = c."offset"""",
    // §1.3 graph emit: mentions edges from the (re-derived) annotation
    // chain, rdf:type edges from the resource store, redirect/sameAs
    // edges from the closure — the full KG materialization cross-checked.
    "p_triples" -> s"""
      WITH best AS (
        SELECT url, para_idx, "offset", sf, uri, support, similarity_score,
               percentage_of_second_rank
        FROM (SELECT *, row_number() OVER (PARTITION BY url, para_idx, "offset"
                ORDER BY similarity DESC, res_id) AS _rk FROM ${p("p_scored")})
        WHERE _rk = 1),
      filt AS (
        SELECT * FROM best
        WHERE percentage_of_second_rank <= 1 - 0.1*0.1 AND support > 10),
      single AS (SELECT * FROM filt WHERE len(string_split(sf, ' ')) = 1),
      multi AS (
        SELECT * FROM filt
        WHERE len(string_split(sf, ' ')) > 1
          AND len(list_filter(string_split(sf, ' '),
                w -> w <> '' AND substring(w,1,1) = upper(substring(w,1,1)))) = len(string_split(sf, ' '))),
      coref AS (
        SELECT s.url, s.para_idx, s."offset",
               m.uri AS c_uri, m.similarity_score AS c_sim,
               row_number() OVER (PARTITION BY s.url, s.para_idx, s."offset"
                 ORDER BY m.para_idx, m."offset") AS _crk
        FROM single s JOIN multi m
          ON s.url = m.url
         AND (m.para_idx < s.para_idx OR (m.para_idx = s.para_idx AND m."offset" < s."offset"))
         AND list_contains(string_split(m.sf, ' '), s.sf)),
      ann AS (
        SELECT f.url, coalesce(c.c_uri, f.uri) AS uri,
               coalesce(c.c_sim, f.similarity_score) AS similarity_score
        FROM filt f
        LEFT JOIN (SELECT * FROM coref WHERE _crk = 1) c
          ON f.url = c.url AND f.para_idx = c.para_idx AND f."offset" = c."offset")
      SELECT url AS subj, 'mentions' AS pred, uri AS obj, url AS src_url,
             similarity_score AS score FROM ann
      UNION ALL
      SELECT uri AS subj, 'rdf:type' AS pred, unnest(string_split(types, ',')) AS obj,
             '' AS src_url, 1.0 AS score
      FROM ${p("p_resources")} WHERE types <> ''
      UNION ALL
      SELECT "from" AS subj, 'redirectsTo' AS pred, "to" AS obj, '' AS src_url, 1.0 AS score
      FROM ${p("p_redirect_closure")}
      UNION ALL
      SELECT "from" AS subj, 'sameAs' AS pred, "to" AS obj, '' AS src_url, 1.0 AS score
      FROM ${p("p_redirect_closure")}""",
    // D9: prior-only baseline re-derived from spots × surface forms ×
    // candidates × resources — argmax cooc_count per spot (tie: res_id).
    "p_baseline_disambig" -> s"""
      WITH sc AS (
        SELECT s.url, s.para_idx, s."offset", s.sf, c.res_id, c.cooc_count
        FROM ${p("p_spots")} s
        JOIN ${p("p_surface_forms")} f ON s.sf = f.sf
        JOIN ${p("p_candidates")} c ON f.sf_id = c.sf_id)
      SELECT sc.url, sc.para_idx, sc."offset", sc.sf, r.uri, r.support
      FROM (SELECT *, row_number() OVER (PARTITION BY url, para_idx, "offset"
              ORDER BY cooc_count DESC, res_id) AS _rk FROM sc) sc
      JOIN ${p("p_resources")} r ON sc.res_id = r.res_id
      WHERE sc._rk = 1""",
    // R12: top-5 entities per document by best similarity.
    "p_doc_tags" -> s"""
      SELECT url, uri, n_spots, rank FROM (
        SELECT url, uri, n_spots,
               CAST(row_number() OVER (PARTITION BY url ORDER BY best_sim DESC, uri) AS INT) AS rank
        FROM (SELECT url, uri, max(similarity) AS best_sim, CAST(COUNT(*) AS BIGINT) AS n_spots
              FROM ${p("p_scored")} GROUP BY url, uri))
      WHERE rank <= 5""",
    // R11: top-5 context words per resource from the inverted index.
    "p_context_words" -> s"""
      SELECT c.res_id, t.token, c.count, c.rank FROM (
        SELECT res_id, token_id, count,
               CAST(row_number() OVER (PARTITION BY res_id ORDER BY count DESC, token_id) AS INT) AS rank
        FROM ${p("p_entity_contexts")}) c
      JOIN ${p("p_token_types")} t ON c.token_id = t.token_id
      WHERE c.rank <= 5""",
    // Eval gate recomputed end-to-end in DuckDB: gold from the resolved
    // Wikipedia-provenance occurrences, spotting P/R via the full-outer
    // contingency, accuracy/MRR from the gold URI's re-joined rank. All
    // metrics rounded to 9 decimals on both sides (float-sum stability).
    "p_eval_gate" -> s"""
      WITH dis AS (
        SELECT replace(subj,'http://dbpedia.org/resource/','') AS uri
        FROM ${p("p_ntriples_parse")}
        WHERE pred = 'http://dbpedia.org/ontology/wikiPageDisambiguates'),
      gold AS (
        SELECT o.url, o.para_idx, o."offset", o.sf, coalesce(c."to", o.uri) AS uri
        FROM ${p("p_occurrences")} o
        LEFT JOIN ${p("p_redirect_closure")} c ON o.uri = c."from"
        WHERE o.provenance = 'Wikipedia'
          AND coalesce(c."to", o.uri) NOT IN (SELECT uri FROM dis)),
      gspot AS (SELECT DISTINCT url, para_idx, "offset", sf FROM gold),
      pspot AS (SELECT DISTINCT url, para_idx, "offset", sf FROM ${p("p_scored")}),
      cont AS (
        SELECT
          CAST(SUM(CASE WHEN g.url IS NOT NULL AND s.url IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
          CAST(SUM(CASE WHEN g.url IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
          CAST(SUM(CASE WHEN s.url IS NULL THEN 1 ELSE 0 END) AS DOUBLE) AS fn
        FROM gspot g FULL OUTER JOIN pspot s
          ON g.url=s.url AND g.para_idx=s.para_idx AND g."offset"=s."offset" AND g.sf=s.sf),
      gdis AS (SELECT DISTINCT url, para_idx, "offset", uri FROM gold),
      perspot AS (
        SELECT g.url, g.para_idx, g."offset",
               MIN(CASE WHEN s.uri = g.uri THEN s.rank END) AS gold_rank
        FROM gdis g LEFT JOIN ${p("p_scored")} s
          ON g.url=s.url AND g.para_idx=s.para_idx AND g."offset"=s."offset"
        GROUP BY g.url, g.para_idx, g."offset"),
      dm AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN gold_rank = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS correct,
               SUM(CASE WHEN gold_rank IS NOT NULL THEN 1.0/gold_rank ELSE 0.0 END) AS rr
        FROM perspot)
      SELECT round(cont.tp/(cont.tp+cont.fn), 9) AS spot_recall,
             round(cont.tp/(cont.tp+cont.fp), 9) AS spot_precision,
             round(dm.correct/dm.total, 9) AS disambig_accuracy,
             round(dm.rr/dm.total, 9) AS mrr,
             dm.total AS gold_spots
      FROM cont, dm""",
    // P4 no-weights gate re-derived from the raw spots: spot_prob =
    // annotationProbability (1.0 when total_count ≤ 0 — the reference's
    // unknown-total convention), gated at 0.25.
    "p_spots" -> s"""
      SELECT r.url, r.para_idx, r."offset", r.sf,
             CASE WHEN f.total_count <= 0 THEN 1.0::DOUBLE
                  ELSE CAST(f.annotated_count AS DOUBLE) / CAST(f.total_count AS DOUBLE)
             END AS spot_prob,
             r.win
      FROM ${p("p_raw_spots")} r
      JOIN ${p("p_surface_forms")} f ON r.sf = f.sf
      WHERE (CASE WHEN f.total_count <= 0 THEN 1.0::DOUBLE
                  ELSE CAST(f.annotated_count AS DOUBLE) / CAST(f.total_count AS DOUBLE)
             END) >= 0.25""",
    // P4 weighted gate: the 4-feature dot product (annotationProbability,
    // short all-caps abbreviation, pure number, bias) with the shipped
    // default weights "1.0 0.2 -0.2 0.1", threshold 0.5.
    "p_weighted_spots" -> s"""
      WITH feat AS (
        SELECT r.url, r.para_idx, r."offset", r.sf, r.win,
               CASE WHEN f.total_count <= 0 THEN 1.0::DOUBLE
                    ELSE CAST(f.annotated_count AS DOUBLE) / CAST(f.total_count AS DOUBLE)
               END AS prob,
               regexp_matches(r.sf, '^[0-9]+$$') AS is_num,
               (upper(r.sf) = r.sf AND len(r.sf) < 5
                AND NOT regexp_matches(r.sf, '^[0-9]+$$')) AS is_abbrev
        FROM ${p("p_raw_spots")} r
        JOIN ${p("p_surface_forms")} f ON r.sf = f.sf)
      SELECT url, para_idx, "offset", sf,
             1.0::DOUBLE * prob + 0.2::DOUBLE * CAST(is_abbrev AS DOUBLE)
               + (-0.2)::DOUBLE * CAST(is_num AS DOUBLE) + 0.1::DOUBLE AS spot_prob,
             win
      FROM feat
      WHERE 1.0::DOUBLE * prob + 0.2::DOUBLE * CAST(is_abbrev AS DOUBLE)
              + (-0.2)::DOUBLE * CAST(is_num AS DOUBLE) + 0.1::DOUBLE >= 0.5""",
    // P4 overlap cascade re-walked in DuckDB: a recursive CTE carries
    // the resolver's (lastIdx) state spot-by-spot per paragraph —
    // branch-for-branch the dropOverlappingSpots cascade with
    // typeOrder = Nil (longer wins above half the incumbent's score,
    // shorter survives only above double, equal scores keep the
    // incumbent, otherwise higher score wins). A spot is dropped if it
    // loses at its own step (self_removed) or is displaced later while
    // incumbent (removed_prev). Ordering (offset, len(sf)) is tie-free:
    // equal span ⇒ identical substring ⇒ identical row (deduped).
    "p_overlap_resolved" -> s"""
      WITH RECURSIVE spots AS (
        SELECT url, para_idx, "offset", sf, spot_prob, win,
               CAST(row_number() OVER (PARTITION BY url, para_idx
                 ORDER BY "offset", len(sf)) - 1 AS INT) AS i
        FROM (SELECT DISTINCT url, para_idx, "offset", sf, spot_prob, win
              FROM ${p("p_overlap_input")})),
      walk(url, para_idx, i, last_i, last_off, last_len, last_prob,
           self_removed, removed_prev) AS (
        SELECT url, para_idx, i, i, "offset", len(sf), spot_prob, false, NULL::INT
        FROM spots WHERE i = 0
        UNION ALL
        SELECT s.url, s.para_idx, s.i,
          CASE WHEN NOT d.inter OR d.win_s THEN s.i ELSE w.last_i END,
          CASE WHEN NOT d.inter OR d.win_s THEN s."offset" ELSE w.last_off END,
          CASE WHEN NOT d.inter OR d.win_s THEN len(s.sf) ELSE w.last_len END,
          CASE WHEN NOT d.inter OR d.win_s THEN s.spot_prob ELSE w.last_prob END,
          d.inter AND NOT d.win_s,
          CASE WHEN d.inter AND d.win_s THEN w.last_i ELSE NULL END
        FROM walk w
        JOIN spots s ON s.url = w.url AND s.para_idx = w.para_idx AND s.i = w.i + 1,
        LATERAL (SELECT
           (s."offset" < w.last_off + w.last_len
            AND w.last_off < s."offset" + len(s.sf)) AS inter,
           (CASE
              WHEN len(s.sf) > w.last_len AND s.spot_prob > w.last_prob / 2.0 THEN true
              WHEN len(s.sf) <= w.last_len AND NOT (s.spot_prob > w.last_prob * 2.0) THEN false
              WHEN s.spot_prob = w.last_prob THEN false
              WHEN s.spot_prob > w.last_prob THEN true
              ELSE false END) AS win_s) d)
      SELECT s.url, s.para_idx, s."offset", s.sf, s.spot_prob,
             '' AS spot_type, s.win
      FROM spots s
      WHERE NOT EXISTS (
        SELECT 1 FROM walk w WHERE w.url = s.url AND w.para_idx = s.para_idx
          AND ((w.i = s.i AND w.self_removed) OR w.removed_prev = s.i))""",
    // S8: the N-Triples parse re-run on the emitted raw lines with
    // DuckDB's regexp engine (same pattern, independent matcher).
    "p_ntriples_parse" -> s"""
      SELECT regexp_extract(line, '^\\s*<([^>]+)>\\s+<([^>]+)>\\s+<([^>]+)>\\s*\\.\\s*$$', 1) AS subj,
             regexp_extract(line, '^\\s*<([^>]+)>\\s+<([^>]+)>\\s+<([^>]+)>\\s*\\.\\s*$$', 2) AS pred,
             regexp_extract(line, '^\\s*<([^>]+)>\\s+<([^>]+)>\\s+<([^>]+)>\\s*\\.\\s*$$', 3) AS obj
      FROM ${p("p_ntriples_raw")}
      WHERE NOT starts_with(line, '#') AND len(trim(line)) > 0
        AND regexp_extract(line, '^\\s*<([^>]+)>\\s+<([^>]+)>\\s+<([^>]+)>\\s*\\.\\s*$$', 1) <> ''""",
    // Feedback store: the TSV parse re-run on the raw lines, including
    // the REST doc_url fallback — Java String.hashCode re-derived as a
    // 31-polynomial fold in int32 wraparound arithmetic (HUGEINT mod
    // 2^32, two's-complement fold back; exact while the fixture text is
    // BMP-only, same caveat as t_fingerprint).
    "p_feedback" -> s"""
      WITH parsed AS (
        SELECT c[1] AS doc_url0, c[2] AS feedback, c[3] AS uri,
               c[4] AS surface_form, c[5] AS text,
               CAST(c[6] AS INT) AS "offset", c[7] AS systems
        FROM (SELECT string_split(line, chr(9)) AS c FROM ${p("p_feedback_raw")})
        WHERE len(c) = 7),
      h AS (
        SELECT *,
          list_reduce(
            list_prepend(0::HUGEINT,
              list_transform(list_filter(string_split(text, ''), ch -> ch <> ''),
                             ch -> unicode(ch)::HUGEINT)),
            (a, ch) -> (a * 31 + ch) % 4294967296::HUGEINT) AS m
        FROM parsed)
      SELECT CASE WHEN doc_url0 = ''
               THEN 'http://spotlight.dbpedia.org/id/' ||
                    CAST(CAST(CASE WHEN m >= 2147483648::HUGEINT
                              THEN m - 4294967296::HUGEINT ELSE m END AS BIGINT) AS VARCHAR)
               ELSE doc_url0 END AS doc_url,
             feedback, uri, surface_form, text, "offset", systems
      FROM h""",
    // and the union-back shape: correct rows as S7 occurrences
    "p_feedback_occs" -> s"""
      SELECT doc_url || '-f' || CAST("offset" AS VARCHAR) AS id, uri,
             surface_form AS sf, text AS context, "offset"
      FROM ${p("p_feedback")}
      WHERE feedback = 'correct'""",
    // F1 training: Spark's percentile_approx at accuracy 10000 stores
    // every one of the ~900 correct-annotation scores, so its selection
    // rule is exact order statistics at 1-based rank max(1, ceil(p*N)) —
    // re-derived here from the gold join + an explicit rank lookup.
    "p_sim_thresholds" -> s"""
      WITH dis AS (
        SELECT replace(subj,'http://dbpedia.org/resource/','') AS uri
        FROM ${p("p_ntriples_parse")}
        WHERE pred = 'http://dbpedia.org/ontology/wikiPageDisambiguates'),
      gold AS (
        SELECT DISTINCT o.url, o.para_idx, o."offset", coalesce(c."to", o.uri) AS uri
        FROM ${p("p_occurrences")} o
        LEFT JOIN ${p("p_redirect_closure")} c ON o.uri = c."from"
        WHERE o.provenance = 'Wikipedia'
          AND coalesce(c."to", o.uri) NOT IN (SELECT uri FROM dis)),
      correct AS (
        SELECT b.similarity_score
        FROM ${p("p_top1")} b JOIN gold g
          ON b.url=g.url AND b.para_idx=g.para_idx AND b."offset"=g."offset" AND b.uri=g.uri),
      ranked AS (
        SELECT similarity_score,
               row_number() OVER (ORDER BY similarity_score) AS rn,
               COUNT(*) OVER () AS n
        FROM correct)
      SELECT CAST(i AS INT) AS quantile_idx, r.similarity_score AS threshold
      FROM generate_series(0, 10) t(i)
      JOIN ranked r ON r.rn = greatest(1, CAST(ceil((i/10.0) * r.n) AS BIGINT))""",
    // A7 re-derived: explode every proper word-sub-ngram of each
    // multi-word sf, sum the containing forms' annotated counts, subtract
    // from total_count clamped at annotated_count (longest-annotation
    // assumption, reference MemoryStoreIndexer.scala:69-109). Input here
    // is the already-corrected dictionary (the query applies the
    // correction a second time), so only sub-ngram/containment/clamp
    // arithmetic is under test — exactly what the Scala self-join does.
    "p_ngram_corrected_sfs" -> s"""
      WITH sfs AS (SELECT *, string_split(sf, ' ') AS w FROM ${p("p_surface_forms")}),
      sub AS (
        SELECT array_to_string(s.w[st.st : st.st + l.l - 1], ' ') AS sub_sf,
               s.annotated_count
        FROM sfs s
        CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(s.w)-1)) AS l) l
        CROSS JOIN LATERAL (SELECT unnest(generate_series(1, len(s.w)-l.l+1)) AS st) st
        WHERE len(s.w) > 1),
      corr AS (SELECT sub_sf AS sf, SUM(annotated_count) AS c FROM sub GROUP BY 1)
      SELECT f.sf_id, f.sf, f.sf_normalized, f.annotated_count,
             CAST(CASE WHEN f.total_count > 0
                  THEN greatest(f.total_count - coalesce(c.c, 0), f.annotated_count)
                  ELSE f.total_count END AS BIGINT) AS total_count
      FROM sfs f LEFT JOIN corr c ON f.sf = c.sf""",
    // A4 re-derived: the inverted index as resolved-occurrence weight ×
    // the paragraph's token histogram (narrowContext is the identity on
    // every fixture paragraph — all are under the 200-word cap, asserted
    // by the fixture design — so the occurrence context IS the paragraph
    // stream emitted in p_doc_tokens; only tokenization itself passes
    // through, the redirect/disambig/weight/sum arithmetic is recomputed),
    // each row with its resource's total token count.
    "p_entity_contexts" -> s"""
      WITH resolved AS (
        SELECT o.url, o.para_idx, coalesce(c."to", o.uri) AS uri, o.weight
        FROM ${p("p_occurrences")} o
        LEFT JOIN ${p("p_redirect_closure")} c ON o.uri = c."from"),
      nodis AS (
        SELECT * FROM resolved r WHERE NOT EXISTS (
          SELECT 1 FROM ${p("p_ntriples_parse")} n
          WHERE n.pred = 'http://dbpedia.org/ontology/wikiPageDisambiguates'
            AND replace(n.subj,'http://dbpedia.org/resource/','') = r.uri)),
      tokcnt AS (
        SELECT url, para_idx, token_id, SUM(q_cnt) AS q
        FROM ${p("p_doc_tokens")} GROUP BY 1, 2, 3)
      SELECT *, CAST(SUM(count) OVER (PARTITION BY res_id) AS BIGINT) AS res_tok_total
      FROM (
        SELECT rr.res_id, t.token_id, CAST(SUM(n.weight * t.q) AS BIGINT) AS count
        FROM nodis n
        JOIN ${p("p_resources")} rr ON n.uri = rr.uri
        JOIN tokcnt t ON n.url = t.url AND n.para_idx = t.para_idx
        GROUP BY 1, 2)""",
    // D3+D5+R1-R3 re-derived end-to-end: candidates from spots ×
    // dictionary × pair counts (top-20 by prior), the generative context
    // score recomputed token-by-token from p_doc_tokens with Laplace
    // smoothing and the λ=0.2 logsum mixture, the NIL gate, rank, and
    // softmax. Integer/key columns and rank are output recomputed; float
    // score columns pass through from the emitted table but every one is
    // re-verified against the recomputation at 1e-6 in the WHERE (a
    // formula bug moves scores by whole units → rows drop → red row).
    // Sum-order float drift (Spark vs DuckDB association) is ~1e-13.
    "p_scored" -> s"""
      WITH tot AS (
        SELECT (SELECT SUM(annotated_count) FROM ${p("p_surface_forms")}) AS total_annotated,
               (SELECT SUM(support) FROM ${p("p_resources")}) AS total_support,
               (SELECT SUM(count) + COUNT(*) FROM ${p("p_token_types")}) AS lm_denom),
      sc AS (
        SELECT * FROM (
          SELECT s.url, s.para_idx, s.win, s."offset", s.sf, s.spot_prob,
                 f.sf_id, f.annotated_count, c.res_id, c.cooc_count,
                 CAST(c.cooc_count AS DOUBLE)/f.annotated_count AS cand_prior,
                 row_number() OVER (PARTITION BY s.url, s.para_idx, s."offset"
                   ORDER BY CAST(c.cooc_count AS DOUBLE)/f.annotated_count DESC, c.res_id) AS _pk
          FROM ${p("p_spots")} s
          JOIN ${p("p_surface_forms")} f ON s.sf = f.sf
          JOIN ${p("p_candidates")} c ON f.sf_id = c.sf_id)
        WHERE _pk <= 20),
      rtot AS (SELECT res_id, SUM(count) AS res_tok_total
               FROM ${p("p_entity_contexts")} GROUP BY 1),
      ctx AS (
        SELECT cr.url, cr.para_idx, cr.win, cr.res_id,
               SUM(ln(CAST(d.q_cnt AS DOUBLE)) + CASE
                 WHEN ec.count IS NOT NULL AND rt.res_tok_total > 0 THEN
                   greatest(ln(0.2) + ln(CAST(ec.count AS DOUBLE)/rt.res_tok_total),
                            ln(0.8) + ln(d.tok_count + 1.0) - ln(t.lm_denom))
                   + ln(exp(ln(0.2) + ln(CAST(ec.count AS DOUBLE)/rt.res_tok_total)
                            - greatest(ln(0.2) + ln(CAST(ec.count AS DOUBLE)/rt.res_tok_total),
                                       ln(0.8) + ln(d.tok_count + 1.0) - ln(t.lm_denom)))
                        + exp(ln(0.8) + ln(d.tok_count + 1.0) - ln(t.lm_denom)
                            - greatest(ln(0.2) + ln(CAST(ec.count AS DOUBLE)/rt.res_tok_total),
                                       ln(0.8) + ln(d.tok_count + 1.0) - ln(t.lm_denom))))
                 ELSE ln(0.8) + ln(d.tok_count + 1.0) - ln(t.lm_denom) END) AS ctx_r
        FROM (SELECT DISTINCT url, para_idx, win, res_id FROM sc) cr
        JOIN ${p("p_doc_tokens")} d USING (url, para_idx, win)
        LEFT JOIN ${p("p_entity_contexts")} ec
          ON ec.res_id = cr.res_id AND ec.token_id = d.token_id
        LEFT JOIN rtot rt ON rt.res_id = cr.res_id
        CROSS JOIN tot t
        GROUP BY 1, 2, 3, 4),
      nilctx AS (
        SELECT url, para_idx, win,
               SUM(ln(CAST(q_cnt AS DOUBLE)) + ln(0.8) + ln(tok_count + 1.0)
                   - ln(t.lm_denom)) AS nilctx_r
        FROM ${p("p_doc_tokens")} CROSS JOIN tot t GROUP BY 1, 2, 3),
      base AS (
        SELECT sc.*, coalesce(x.ctx_r, 0.0) AS ctx_r, r.uri, r.support,
               coalesce(n.nilctx_r, 0.0) AS nilctx_r,
               coalesce(n.nilctx_r, 0.0) + ln(1.0/t.total_annotated) AS nil_r,
               ln(sc.cand_prior) + coalesce(x.ctx_r, 0.0)
                 + ln(CAST(r.support AS DOUBLE)/t.total_support) AS sim_r
        FROM sc
        LEFT JOIN ctx x USING (url, para_idx, win, res_id)
        JOIN ${p("p_resources")} r USING (res_id)
        LEFT JOIN nilctx n USING (url, para_idx, win)
        CROSS JOIN tot t),
      ranked AS (
        SELECT *, CAST(row_number() OVER w_ord AS INT) AS rank_r,
               lead(sim_r, 1) OVER w_ord AS next_sim
        FROM base WHERE NOT isnan(sim_r) AND sim_r > nil_r
        WINDOW w_ord AS (PARTITION BY url, para_idx, "offset" ORDER BY sim_r DESC, res_id)
        QUALIFY rank_r <= 20),
      stats AS (
        SELECT *, greatest(max(sim_r) OVER wp, nil_r) AS m_sim,
               greatest(max(ctx_r) OVER wp, nilctx_r) AS m_ctx
        FROM ranked WINDOW wp AS (PARTITION BY url, para_idx, "offset")),
      softm AS (
        SELECT *,
          CASE WHEN next_sim IS NULL THEN -1.0 ELSE exp(next_sim - sim_r) END AS pct_r,
          exp(sim_r - (ln(sum(exp(sim_r - m_sim)) OVER wp + exp(nil_r - m_sim)) + m_sim)) AS simsc_r,
          exp(ctx_r - (ln(sum(exp(ctx_r - m_ctx)) OVER wp + exp(nilctx_r - m_ctx)) + m_ctx)) AS ctxsc_r
        FROM stats WINDOW wp AS (PARTITION BY url, para_idx, "offset"))
      SELECT f.url, f.para_idx, f.win, f.res_id, f.sf_id, f.sf, f."offset",
             f.spot_prob, f.annotated_count, f.cooc_count, f.cand_prior,
             e.ctx_score, f.uri, f.support, e.nil_ctx_score, e.nil_score,
             e.similarity, f.rank_r AS rank, e.percentage_of_second_rank,
             e.similarity_score, e.contextual_score
      FROM softm f
      JOIN ${p("p_scored")} e
        ON f.url = e.url AND f.para_idx = e.para_idx
       AND f."offset" = e."offset" AND f.res_id = e.res_id
      WHERE abs(f.sim_r - e.similarity) < 1e-6
        AND abs(f.ctx_r - e.ctx_score) < 1e-6
        AND abs(f.nilctx_r - e.nil_ctx_score) < 1e-6
        AND abs(f.nil_r - e.nil_score) < 1e-6
        AND abs(f.pct_r - e.percentage_of_second_rank) < 1e-6
        AND abs(f.simsc_r - e.similarity_score) < 1e-6
        AND abs(f.ctxsc_r - e.contextual_score) < 1e-6""",
    // D4 re-derived: TF*ICF = Σ q_cnt·tf·(ln(nCand/nCandWithToken)+1) /
    // ctx_len over the window's candidate set, argmax per spot. The
    // score passes through from the emitted table but is re-verified at
    // 1e-6; the top-1 choice itself is recomputed (a wrong icf scope or
    // ctx_len normalization picks a different res_id → row drops).
    "p_tficf_top1" -> s"""
      WITH sc AS (
        SELECT * FROM (
          SELECT s.url, s.para_idx, s.win, s."offset", s.sf,
                 c.res_id, CAST(c.cooc_count AS DOUBLE)/f.annotated_count AS cand_prior,
                 row_number() OVER (PARTITION BY s.url, s.para_idx, s."offset"
                   ORDER BY CAST(c.cooc_count AS DOUBLE)/f.annotated_count DESC, c.res_id) AS _pk
          FROM ${p("p_spots")} s
          JOIN ${p("p_surface_forms")} f ON s.sf = f.sf
          JOIN ${p("p_candidates")} c ON f.sf_id = c.sf_id)
        WHERE _pk <= 20),
      cr AS (SELECT DISTINCT url, para_idx, win, res_id FROM sc),
      ncand AS (SELECT url, para_idx, win, count(DISTINCT res_id) AS n_cand
                FROM cr GROUP BY 1, 2, 3),
      hits AS (
        SELECT cr.url, cr.para_idx, cr.win, cr.res_id, d.token_id, d.q_cnt,
               ec.count AS tf
        FROM cr JOIN ${p("p_doc_tokens")} d USING (url, para_idx, win)
        JOIN ${p("p_entity_contexts")} ec
          ON ec.res_id = cr.res_id AND ec.token_id = d.token_id),
      icf AS (
        SELECT h.*, ln(CAST(nc.n_cand AS DOUBLE) /
                 (count(DISTINCT h.res_id) OVER (PARTITION BY h.url, h.para_idx, h.win, h.token_id)))
                 + 1.0 AS icf
        FROM hits h JOIN ncand nc USING (url, para_idx, win)),
      rtot AS (SELECT res_id, SUM(count) AS ctx_len
               FROM ${p("p_entity_contexts")} GROUP BY 1),
      scores AS (
        SELECT i.url, i.para_idx, i.win, i.res_id,
               SUM(i.q_cnt * i.tf * i.icf) / any_value(rt.ctx_len) AS tficf_r
        FROM icf i JOIN rtot rt USING (res_id) GROUP BY 1, 2, 3, 4),
      top1 AS (
        SELECT sc.url, sc.para_idx, sc."offset", sc.sf, sc.res_id,
               round(coalesce(s.tficf_r, 0.0), 9) AS tficf_r,
               row_number() OVER (PARTITION BY sc.url, sc.para_idx, sc."offset"
                 ORDER BY round(coalesce(s.tficf_r, 0.0), 9) DESC, sc.res_id) AS _rk
        FROM sc LEFT JOIN scores s USING (url, para_idx, win, res_id))
      SELECT f.url, f.para_idx, f."offset", f.sf, f.res_id,
             e.tficf_score
      FROM top1 f
      JOIN ${p("p_tficf_top1")} e
        ON f.url = e.url AND f.para_idx = e.para_idx
       AND f."offset" = e."offset" AND f.res_id = e.res_id
      WHERE f._rk = 1 AND abs(f.tficf_r - e.tficf_score) < 1e-6""",
    // The AIDA/CoNLL reader re-walked from the raw lines: doc markers,
    // token-line fields, and the detokenization offset arithmetic
    // (each token is len+1 chars; the "'s : , ! ." punctuation set
    // deletes its preceding space — exclusive prefix sum per document,
    // matching Corpora.parseConllDocs's StringBuilder walk).
    "p_conll_gold" -> s"""
      WITH $ConllToksCtes,
      offs AS (
        SELECT *, CAST(coalesce(sum(len(token) + 1
                  - CASE WHEN token IN ('''s', ':', ',', '!', '.') AND ti > 1
                         THEN 1 ELSE 0 END)
                OVER (PARTITION BY doc_start ORDER BY ti
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS INT) AS "offset"
        FROM toks)
      SELECT url, CAST(1 AS INT) AS para_idx, uri, sf, "offset"
      FROM offs WHERE bio = 'B'""",
    // The SmallContextOccurrences transform re-derived: document text
    // reconstructed from the raw CoNLL lines with the reader's builder
    // walk (space after every token; "'s : , ! ." deletes the preceding
    // space; final trim), then split at each gold offset into last-10 /
    // first-11 space-separated words with Java split semantics —
    // rtrim-before-split models split(" ")'s trailing-empty removal,
    // plain string_split models the limit>0 variant that KEEPS trailing
    // empties (Corpora.smallContext).
    "p_small_context" -> s"""
      WITH $ConllToksCtes,
      txt AS (
        SELECT url, trim(string_agg(
            CASE WHEN ti = 1 OR token IN ('''s', ':', ',', '!', '.')
                 THEN '' ELSE ' ' END || token, '' ORDER BY ti), ' ') AS t
        FROM toks GROUP BY url),
      sides AS (
        SELECT g.url, g.para_idx, g.uri, g."offset",
               substring(t.t, 1, g."offset") AS l,
               substring(t.t, g."offset" + 1) AS r
        FROM ${p("p_conll_gold")} g JOIN txt t USING (url)),
      leftc AS (
        SELECT *, array_to_string(
            larr[greatest(len(larr) - 9, 1):len(larr)], ' ') AS left_s
        FROM (SELECT *, string_split(rtrim(l, ' '), ' ') AS larr FROM sides))
      SELECT url || '-' || uri || '-' || CAST("offset" AS VARCHAR) AS url,
             para_idx,
             (CASE WHEN left_s = '' THEN '' ELSE left_s || ' ' END) ||
               array_to_string(string_split(r, ' ')[1:11], ' ') AS para_text
      FROM leftc""",
    // The CSAW reader re-walked from the raw inputs: annotation elements
    // split out of the XML payload with RE2, unlinkable (empty wikiName)
    // records dropped, and the surface form recovered by the same
    // substring(text, offset+1, length) arithmetic after joining texts.
    "p_csaw_gold" -> s"""
      WITH ann AS (
        SELECT unnest(regexp_extract_all(payload,
                 '<annotation>(.*?)</annotation>', 1, 's')) AS a
        FROM ${p("p_csaw_raw")} WHERE kind = 'xml'),
      fields AS (
        SELECT regexp_extract(a, '<docName>(.*?)</docName>', 1, 's') AS url,
               regexp_extract(a, '<wikiName>(.*?)</wikiName>', 1, 's') AS uri,
               CAST(trim(regexp_extract(a, '<offset>(.*?)</offset>', 1, 's')) AS INT) AS "offset",
               CAST(trim(regexp_extract(a, '<length>(.*?)</length>', 1, 's')) AS INT) AS len
        FROM ann),
      texts AS (SELECT url, payload AS para_text FROM ${p("p_csaw_raw")}
                WHERE kind = 'text')
      SELECT f.url, CAST(1 AS INT) AS para_idx, f.uri,
             substring(t.para_text, f."offset" + 1, f.len) AS sf, f."offset"
      FROM fields f JOIN texts t USING (url)
      WHERE f.uri <> ''""",
    // The PREDOSE reader re-walked from the raw lines: occurrence rows
    // matched by the same tab-field pattern, attached to the preceding
    // text line, and the reader's `"PREDOSE" + line.hashCode` doc id
    // reproduced exactly — Java String.hashCode (h = h·31 + c over UTF-16
    // units, signed 32-bit wraparound) as a modular list_reduce fold.
    "p_predose_gold" -> s"""
      WITH parsed AS (
        SELECT line_no, line,
          regexp_matches(line, '^(\\d+)\\t(\\d+)\\t(.+?)\\t(\\S+)$$') AS is_occ,
          regexp_extract(line, '^(\\d+)\\t(\\d+)\\t(.+?)\\t(\\S+)$$', 1) AS f_start,
          regexp_extract(line, '^(\\d+)\\t(\\d+)\\t(.+?)\\t(\\S+)$$', 3) AS f_label,
          regexp_extract(line, '^(\\d+)\\t(\\d+)\\t(.+?)\\t(\\S+)$$', 4) AS f_uri,
          (line <> '' AND NOT regexp_matches(line, '^(\\d+)\\t(\\d+)\\t(.+?)\\t(\\S+)$$')) AS is_text
        FROM ${p("p_predose_raw")}),
      texts AS (
        SELECT line_no AS doc_start,
          'PREDOSE' || CAST(CAST(
            ((list_reduce(list_transform(regexp_extract_all(line, '.'),
                c -> CAST(unicode(c) AS BIGINT)),
              (acc, c) -> (acc * 31 + c) % 4294967296) + 2147483648) % 4294967296)
            - 2147483648 AS BIGINT) AS VARCHAR) AS url
        FROM parsed WHERE is_text),
      occs AS (
        SELECT p.line_no, p.f_start, p.f_label, p.f_uri,
               max(CASE WHEN p2.is_text THEN p2.line_no END) AS doc_start
        FROM parsed p JOIN parsed p2 ON p2.line_no <= p.line_no
        WHERE p.is_occ
        GROUP BY ALL)
      SELECT t.url, CAST(1 AS INT) AS para_idx, o.f_uri AS uri, o.f_label AS sf,
             CAST(o.f_start AS INT) AS "offset"
      FROM occs o JOIN texts t USING (doc_start)""",
    // The MilneWitten reader re-walked from the raw markup paragraphs:
    // a recursive CTE consumes one [[uri|sf|conf]] link per step,
    // accumulating the clean-text length (gold offsets are positions in
    // the link-stripped text), with the reader's degenerate-link drop
    // ([[|]]-style empty uri) and confidence fallback (non-numeric or
    // missing 3rd field → 1.0) reproduced via try_cast.
    "p_milnewitten_gold" -> s"""
      WITH RECURSIVE walk(url, para_idx, rest, clean_len, uri, sf, confidence, "offset") AS (
        SELECT url, para_idx, trim(para), 0,
               NULL::VARCHAR, NULL::VARCHAR, NULL::DOUBLE, NULL::INT
        FROM ${p("p_milnewitten_raw")}
        UNION ALL
        SELECT w.url, w.para_idx,
          substring(w.rest, lk.pos + len(lk.lnk) + 4),
          w.clean_len + lk.pos - 1 + CASE WHEN lk.f_uri <> '' THEN len(lk.f_sf) ELSE 0 END,
          CASE WHEN lk.f_uri <> '' THEN lk.f_uri END,
          CASE WHEN lk.f_uri <> '' THEN lk.f_sf END,
          CASE WHEN lk.f_uri <> '' THEN lk.f_conf END,
          CASE WHEN lk.f_uri <> '' THEN CAST(w.clean_len + lk.pos - 1 AS INT) END
        FROM walk w, LATERAL (
          SELECT pos, lnk, parts,
            parts[1] AS f_uri,
            CASE WHEN len(parts) > 1 AND parts[2] <> '' THEN parts[2] ELSE parts[1] END AS f_sf,
            CASE WHEN len(parts) > 2 THEN coalesce(try_cast(parts[3] AS DOUBLE), 1.0)
                 ELSE 1.0 END AS f_conf
          FROM (SELECT strpos(w.rest, '[[') AS pos,
                       regexp_extract(w.rest, '\\[\\[(.*?)\\]\\]', 1) AS lnk,
                       string_split(regexp_extract(w.rest, '\\[\\[(.*?)\\]\\]', 1), '|') AS parts) t) lk
        WHERE regexp_matches(w.rest, '\\[\\[(.*?)\\]\\]'))
      SELECT url, para_idx, uri, sf, "offset", confidence
      FROM walk WHERE uri IS NOT NULL""",
    // The KBP reader re-walked from its four raw inputs: query elements
    // and KB entity attributes regexp-parsed, NIL answers dropped,
    // wiki_title → uri via the space→underscore step of wikiEncode (the
    // fixture titles carry no percent-encodable characters — a title
    // that needs %-escapes would fail this oracle loudly), SGM <P>/<POST>
    // paragraphs newline-collapsed + trimmed, and the reference's
    // locate-based first-offset anchoring per containing paragraph.
    "p_kbp_gold" -> s"""
      WITH q AS (
        SELECT regexp_extract(e, '<query id="(.*?)">', 1) AS qid,
               regexp_extract(e, '<name>(.*?)</name>', 1) AS sf,
               regexp_extract(e, '<docid>(.*?)</docid>', 1) AS url
        FROM (SELECT unnest(regexp_extract_all(payload, '<query .*?</query>', 0, 's')) AS e
              FROM ${p("p_kbp_raw")} WHERE kind = 'queries_xml')),
      a AS (
        SELECT string_split(payload, chr(9))[1] AS qid,
               string_split(payload, chr(9))[2] AS kb_id
        FROM ${p("p_kbp_raw")} WHERE kind = 'answer'
          AND len(string_split(payload, chr(9))) >= 2
          AND NOT starts_with(string_split(payload, chr(9))[2], 'NIL')),
      kb AS (
        SELECT regexp_extract(e, 'id="(.*?)"', 1) AS kb_id,
               replace(regexp_extract(e, 'wiki_title="(.*?)"', 1), ' ', '_') AS uri
        FROM (SELECT unnest(regexp_extract_all(payload, '<entity [^>]*/>', 0, 's')) AS e
              FROM ${p("p_kbp_raw")} WHERE kind = 'kb_xml')
        WHERE regexp_extract(e, 'id="(.*?)"', 1) <> ''
          AND regexp_extract(e, 'wiki_title="(.*?)"', 1) <> ''),
      plist AS (
        SELECT regexp_extract(payload, '<DOCID>(.*?)</DOCID>', 1) AS url,
               list_concat(regexp_extract_all(payload, '<P>(.*?)</P>', 1, 's'),
                           regexp_extract_all(payload, '<POST>(.*?)</POST>', 1, 's')) AS ps
        FROM ${p("p_kbp_raw")} WHERE kind = 'sgm'),
      paras AS (
        SELECT pl.url, CAST(i.i AS INT) AS para_idx,
               trim(replace(pl.ps[i.i], chr(10), ' ')) AS para_text
        FROM plist pl, LATERAL (SELECT unnest(generate_series(1, len(pl.ps))) AS i) i
        WHERE trim(replace(pl.ps[i.i], chr(10), ' ')) <> '')
      SELECT p2.url, p2.para_idx, kb.uri, q.sf,
             CAST(strpos(p2.para_text, q.sf) - 1 AS INT) AS "offset"
      FROM q JOIN a USING (qid) JOIN kb USING (kb_id) JOIN paras p2 USING (url)
      WHERE strpos(p2.para_text, q.sf) > 0""",

    // ---- S16 serializer family (VERDICT r3 item 5: graduate to
    // hash-verified). Each document is re-assembled by string concat from
    // p_paragraphs + the annotation tables; the Java Double.toString
    // score strings pass through via the render sidecars, whose own
    // oracles gate them against the hash-verified double columns.

    // OutputManager.getResourcesXml + makeXML (rest/.../OutputManager
    // .java:78-141): one <Annotation> per paragraph wrapping offset-sorted
    // <Resource/> fragments.
    "p_xml_out" -> s"""
      WITH ann AS (
        SELECT url, para_idx, "offset", $resFragSql AS frag
        FROM ${p("p_ann_render")}),
      res AS (
        SELECT url, para_idx, string_agg(frag, '' ORDER BY "offset") AS resources
        FROM ann GROUP BY url, para_idx)
      SELECT p.url, p.para_idx,
        $xmlHeaderSql ||
        coalesce('<Resources>' || r.resources || '</Resources>', '') ||
        '</Annotation>' AS xml
      FROM ${p("p_paragraphs")} p LEFT JOIN res r USING (url, para_idx)""",

    // OutputManager.makeCandidatesXML (rest/.../OutputManager.java:143-191):
    // rank-sorted <Resource/> lists nested in offset-sorted <SurfaceForm>.
    "p_candidates_xml" -> s"""
      WITH cand AS (
        SELECT url, para_idx, "offset", sf, rank, $resFragSql AS frag
        FROM ${p("p_cand_render")}),
      spot AS (
        SELECT url, para_idx, "offset",
          '<SurfaceForm surfaceForm="' || ${xmlEscSql("sf")} || '" offset="' || "offset" ||
          '" visibility="true"><Resources>' || string_agg(frag, '' ORDER BY rank) ||
          '</Resources></SurfaceForm>' AS sfelem
        FROM cand GROUP BY url, para_idx, "offset", sf),
      doc AS (
        SELECT url, para_idx, string_agg(sfelem, '' ORDER BY "offset") AS sfs
        FROM spot GROUP BY url, para_idx)
      SELECT p.url, p.para_idx,
        $xmlHeaderSql ||
        coalesce('<SurfaceForms>' || d.sfs || '</SurfaceForms>', '') ||
        '</Annotation>' AS xml
      FROM ${p("p_paragraphs")} p LEFT JOIN doc d USING (url, para_idx)""",

    // NIFOutputFormatter (rest/.../NIFOutputFormatter.scala:43-84): four
    // nif:Context triples per paragraph + six nif:Phrase triples per
    // annotation, all integer/string-typed (no float passthrough needed).
    "p_nif_out" -> s"""
      WITH ctx AS (
        SELECT '<$NifPrefix/' || url || '/' || para_idx || '#char=0,' || len(para_text) || '>' AS s,
               para_text, len(para_text) AS plen
        FROM ${p("p_paragraphs")}),
      ctxlines AS (
        SELECT unnest([
          s || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <${NifNs}Context> .',
          s || ' <${NifNs}beginIndex> "0"$XsdNonNeg .',
          s || ' <${NifNs}endIndex> "' || plen || '"$XsdNonNeg .',
          s || ' <${NifNs}isString> "' || ${ntEscSql("para_text")} || '" .']) AS line
        FROM ctx),
      ph AS (
        SELECT '<$NifPrefix/' || a.url || '/' || a.para_idx || '#char=' || a."offset" || ',' ||
                 (a."offset" + len(a.sf)) || '>' AS s,
               '<$NifPrefix/' || a.url || '/' || a.para_idx || '#char=0,' || len(p.para_text) || '>' AS ctxuri,
               a.sf, a."offset", a."offset" + len(a.sf) AS endoff,
               CASE WHEN a.uri LIKE 'http%' THEN a.uri
                    ELSE 'http://dbpedia.org/resource/' || a.uri END AS iri
        FROM ${p("p_annotations")} a
        JOIN ${p("p_paragraphs")} p USING (url, para_idx)),
      phlines AS (
        SELECT unnest([
          s || ' <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> <${NifNs}Phrase> .',
          s || ' <${NifNs}beginIndex> "' || "offset" || '"$XsdNonNeg .',
          s || ' <${NifNs}endIndex> "' || endoff || '"$XsdNonNeg .',
          s || ' <${NifNs}anchorOf> "' || ${ntEscSql("sf")} || '" .',
          s || ' <${NifNs}referenceContext> ' || ctxuri || ' .',
          s || ' <${ItsRdfNs}taIdentRef> <' || iri || '> .']) AS line
        FROM ph)
      SELECT line FROM ctxlines UNION ALL SELECT line FROM phlines""",

    // HTMLFormatter + makeWebRepresentation's splice loop
    // (rest/.../OutputManager.java:251-292), as a lag-window gap rewrite.
    "p_html_out" -> (spliceSql(
      s"""'<a href="' || ${iriSql("a.uri")} || '" title="' || ${iriSql("a.uri")} ||
          '" target="_blank">' || a.sf || '</a>'""",
      p("p_annotations")) + s"""
      SELECT p.url, p.para_idx,
        $htmlMainSql || replace(coalesce(d.content, p.para_text), chr(10), '<br/>') || $mainEndSql AS html
      FROM ${p("p_paragraphs")} p LEFT JOIN docs d USING (url, para_idx)"""),

    // RDFaFormatter (rest/.../OutputManager.java:294-325): untyped spans
    // get about/href/title/target, typed ones about/typeof/href/title with
    // the last (most specific) type's class IRI.
    "p_rdfa_out" -> (spliceSql(
      s"""CASE WHEN a.types_str = '' THEN
            '<a about="' || ${iriSql("a.uri")} || '" href="' || ${iriSql("a.uri")} ||
            '" title="' || ${iriSql("a.uri")} || '" target="_blank" >' || a.sf || '</a>'
          ELSE
            '<a about="' || ${iriSql("a.uri")} || '" typeof="' || ${iriSql("string_split(a.types_str, ',')[-1]")} ||
            '" href="' || ${iriSql("a.uri")} || '" title="' || ${iriSql("a.uri")} ||
            '">' || a.sf || '</a>' END""",
      p("p_ann_render")) + s"""
      SELECT p.url, p.para_idx,
        $rdfaMainSql || replace(coalesce(d.content, p.para_text), chr(10), '<br/>') || $mainEndSql AS html
      FROM ${p("p_paragraphs")} p LEFT JOIN docs d USING (url, para_idx)"""),

    // Render sidecars: keys/types re-derived from hash-verified tables
    // (p_annotations / p_scored / p_resources); ONLY the Java
    // Double.toString strings pass through, gated to round-trip back to
    // the hash-verified doubles exactly.
    "p_ann_render" -> s"""
      SELECT a.url, a.para_idx, a."offset", a.sf, a.uri, a.support,
             r.types AS types_str, s.sim_str, s.pct_str
      FROM ${p("p_annotations")} a
      JOIN ${p("p_resources")} r ON a.uri = r.uri
      JOIN ${p("p_ann_render")} s
        ON a.url = s.url AND a.para_idx = s.para_idx AND a."offset" = s."offset"
      WHERE abs(CAST(s.sim_str AS DOUBLE) - a.similarity_score) < 1e-12
        AND abs(CAST(s.pct_str AS DOUBLE) - a.percentage_of_second_rank) < 1e-12""",

    "p_cand_render" -> s"""
      SELECT c.url, c.para_idx, c."offset", c.sf, c.rank, c.uri, c.support,
             r.types AS types_str, s.sim_str, s.pct_str
      FROM ${p("p_scored")} c
      JOIN ${p("p_resources")} r ON c.uri = r.uri
      JOIN ${p("p_cand_render")} s
        ON c.url = s.url AND c.para_idx = s.para_idx AND c."offset" = s."offset" AND c.rank = s.rank
      WHERE abs(CAST(s.sim_str AS DOUBLE) - c.similarity_score) < 1e-12
        AND abs(CAST(s.pct_str AS DOUBLE) - c.percentage_of_second_rank) < 1e-12""",

    // D10 random baseline: the candidate set is re-derived from
    // p_spots/p_surface_forms/p_candidates (the same derivation the
    // p_scored oracle starts from); only the xxhash64 draw passes
    // through, and the argmin pick + resource join are re-run in SQL.
    "p_random_hashes" -> s"""
      SELECT s.url, s.para_idx, s."offset", s.sf, c.res_id, r.h
      FROM ${p("p_spots")} s
      JOIN ${p("p_surface_forms")} f ON s.sf = f.sf
      JOIN ${p("p_candidates")} c ON f.sf_id = c.sf_id
      JOIN ${p("p_random_hashes")} r
        ON r.url = s.url AND r.para_idx = s.para_idx
       AND r."offset" = s."offset" AND r.res_id = c.res_id""",
    "p_random_disambig" -> s"""
      WITH pick AS (
        SELECT url, para_idx, "offset", sf, res_id,
               row_number() OVER (PARTITION BY url, para_idx, "offset" ORDER BY h) AS rk
        FROM ${p("p_random_hashes")})
      SELECT pk.url, pk.para_idx, pk."offset", pk.sf, r.uri, r.support
      FROM pick pk JOIN ${p("p_resources")} r USING (res_id)
      WHERE pk.rk = 1""")
}
