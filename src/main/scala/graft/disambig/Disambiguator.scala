package graft.disambig

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model._
import graft.modelbuild.ModelBuild
import graft.spot.Spotter
import graft.util.TextUtil

/**
 * Two-step disambiguation as one relational dataflow (D1-D5, R1-R3):
 * candidate generation joins, a paragraph token histogram, generative
 * context scoring (Han et al. 2011), the unweighted log-feature mixture,
 * NIL gating, window-rank top-k, percentage-of-second-rank and softmax
 * normalization — semantics of the reference's DBTwoStepDisambiguator
 * (/root/reference core/src/main/scala/org/dbpedia/spotlight/db/
 * DBTwoStepDisambiguator.scala:75-244) with the object-graph loops
 * replaced by joins/windows/aggregations.
 *
 * Shuffle plan (scale design, SURVEY.md §4):
 *  - spots carry their surface form's id from the automaton match, so
 *    the gate is a filter and spots ⋈ candidates joins on sf_id (the
 *    smaller side broadcasts, otherwise a hash join with AQE skew
 *    splitting for "USA" keys); the top-k prune is a filter on the
 *    model's `cand_rank`. Only spots without an id (spot XML, external
 *    spots) read surface_forms;
 *  - the spot-candidate rows and the doc-token histogram are both
 *    partitioned by paragraph (url, para_idx): the context join on
 *    (url, para_idx, win), its aggregate and the per-spot windows over
 *    (url, para_idx, offset) all reuse that partitioning (two shuffles
 *    in all, see GraftSession's co-partitioning setting);
 *  - candidates ⋈ entity_contexts on (res_id, token_id): entity_contexts
 *    broadcasts where it fits, otherwise both sides shuffle on the join
 *    keys. Its rows carry `res_tok_total`, so no request aggregates it.
 */
object Disambiguator {

  /** Defaults from the reference (DBTwoStepDisambiguator.scala:68-72,
   *  GenerativeContextSimilarity.scala:26). */
  final case class Config(
      maxCandidates: Int = 20,
      lambda: Double = 0.2,
      k: Int = 20,
      // C4: retry unmatched surface forms through morphological variants
      // (off by default — the DB path relies on T4 normalization instead,
      // DBCandidateSearcher.scala:25-44)
      morphologicalRetry: Boolean = false,
      // D1 window PLACEMENT: false = fixed 250-token cuts (default —
      // DuckDB-recomputable, see Annotate.MaxContextTokens), true = the
      // reference's sentence-accumulation rule
      // (TextUtil.sentenceWindowStarts). Only affects paragraphs past
      // the oversize gate; the two modes are byte-identical below it.
      sentenceAlignedWindows: Boolean = false)

  // ---- paragraph token histogram (getQuery, DBTwoStepDisambiguator.scala:43-44)

  /** (url, para_idx, win, token_id, q_cnt, tok_count): per-window counts
   *  of dictionary-encoded content tokens, with the token's corpus count
   *  carried along for the language-model smoothing term.
   *
   *  `win` is the D1 MAX_CONTEXT window (token index ÷ maxContextTokens
   *  over the FULL token stream, stopwords included — a token-aligned
   *  approximation of the windowing the reference applies before every
   *  bestK call; the reference accumulates whole sentences until ≥ the
   *  cap, so assignments differ only for over-cap paragraphs — see
   *  [[graft.pipeline.Annotate.MaxContextTokens]],
   *  DBTwoStepDisambiguator.scala:71,91-118). Every paragraph at or under
   *  the cap is a single window 0; the cap exists so one megabyte-long
   *  spam paragraph cannot multiply its full histogram into every
   *  candidate of every spot it contains (the context join below is
   *  per-(url, para_idx, win)). Spot rows carry the matching window index
   *  from the same arithmetic ([[graft.util.TextUtil.windowStarts]]). */
  def docTokenHistogram(paragraphs: Dataset[ParagraphRow],
                        tokens: Dataset[TokenTypeRow],
                        stem: TextUtil.Stemmer = TextUtil.IdentityStemmer,
                        maxContextTokens: Int = 250,
                        sentenceAligned: Boolean = false): DataFrame = {
    val spark = paragraphs.sparkSession
    import spark.implicits._
    paragraphs
      .flatMap { p =>
        val toks = TextUtil.tokenize(p.para_text)
        // token-aligned `win` = raw token index / cap — identical to
        // windowOf over TextUtil.windowStarts, kept inline so the DuckDB
        // oracle's `pos // 250` recompute stays exact; sentence-aligned
        // shares the starts array with Spotter.spots via
        // contextWindowStarts so the context join can never disagree
        val starts =
          if (sentenceAligned)
            TextUtil.contextWindowStarts(p.para_text, maxContextTokens, sentenceAligned = true)
          else TextUtil.SingleWindow
        // the paragraph's own histogram: the shuffle below moves one row
        // per distinct (window, token), as a map-side combine would
        val counts = scala.collection.mutable.LinkedHashMap.empty[(Int, String), Long]
        toks.iterator.zipWithIndex.foreach {
          case (t, i) if !t.is_stop && TextUtil.isWordToken(t.token) =>
            val win =
              if (sentenceAligned)
                (if (starts.length == 1) 0 else TextUtil.windowOf(starts, t.offset))
              else i / maxContextTokens
            val key = (win, stem(t.token.toLowerCase(java.util.Locale.ENGLISH)))
            counts(key) = counts.getOrElse(key, 0L) + 1L
          case _ => ()
        }
        counts.iterator.map { case ((win, token), n) => (p.url, p.para_idx, win, token, n) }
      }
      .toDF("url", "para_idx", "win", "token", "n")
      // partitioned by paragraph: the context join and the per-spot rank
      // windows of [[scored]] reuse this partitioning
      .repartition(col("url"), col("para_idx"))
      .groupBy("url", "para_idx", "win", "token")
      .agg(sum("n").as("q_cnt"))
      .join(tokens.toDF(), Seq("token"))
      .select("url", "para_idx", "win", "token_id", "q_cnt", "count")
      .withColumnRenamed("count", "tok_count")
  }

  // ---- C1/C2: candidate generation ---------------------------------------

  /**
   * spots → spot × candidate rows, top `maxCandidates` per spot by
   * candidate prior (DBTwoStepDisambiguator.scala:145-150). The prior
   * cooc/annotated_count has one denominator per surface form, so the
   * top-k is the model's per-sf `cand_rank` (by cooc_count desc, res_id)
   * and the prune is a filter on the candidates table.
   *
   * Spots carrying `sf_id`/`annotated_count` (the spot pass and the gate
   * attach them, see [[Spotter.spots]]) join the candidate map on the id.
   * Spots without them (spot XML, external spots) first resolve their
   * form as DBCandidateSearcher does (core/.../db/DBCandidateSearcher.scala:
   * 25-44): exact lookup first; spots whose sf is unknown retry on the
   * normalized key, which maps to the highest-annotated sf sharing that
   * key (MemorySurfaceFormStore.scala:77-79); then, with
   * `morphologicalRetry`, the C4 variants.
   */
  def spotCandidates(spots: DataFrame,
                     sfs: Dataset[SurfaceFormRow],
                     cands: Dataset[CandidateRow],
                     cfg: Config = Config()): DataFrame = {
    val resolved = if (Spotter.carriesSfIds(spots)) spots else resolveSurfaceForms(spots, sfs, cfg)
    resolved
      .join(cands.toDF().filter(col("cand_rank") <= cfg.maxCandidates).drop("cand_rank"),
        Seq("sf_id"))
      .withColumn("cand_prior", col("cooc_count").cast("double") / col("annotated_count"))
  }

  /** Spots without the id columns → (spot, sf_id, annotated_count); spots
   *  whose form is found by none of the lookups drop out. */
  private def resolveSurfaceForms(spots: DataFrame, sfs: Dataset[SurfaceFormRow],
                                  cfg: Config): DataFrame = {
    val sfDim = sfs.select(col("sf"), col("sf_id"), col("annotated_count"))
    val exact = spots.join(sfDim, Seq("sf"), "left")

    // normalized fallback dim: highest-annotated sf per normalized key
    val normDim = sfs
      .withColumn("_rk", row_number().over(
        Window.partitionBy("sf_normalized").orderBy(col("annotated_count").desc, col("sf_id"))))
      .filter(col("_rk") === 1)
      .select(col("sf_normalized"), col("sf_id").as("n_sf_id"),
        col("annotated_count").as("n_annotated_count"))

    val withFallback = exact
      .withColumn("_sf_norm", ModelBuild.sfNormalizeUdf(col("sf")))
      .join(normDim, col("_sf_norm") === col("sf_normalized"), "left")
      .withColumn("sf_id", coalesce(col("sf_id"), col("n_sf_id")))
      .withColumn("annotated_count", coalesce(col("annotated_count"), col("n_annotated_count")))
      .drop("_sf_norm", "sf_normalized", "n_sf_id", "n_annotated_count")

    val matched = withFallback.filter(col("sf_id").isNotNull)
    if (!cfg.morphologicalRetry) matched
    else {
      // C4 second-chance join: explode the variants of still-unmatched
      // spots, take the first variant IN PRIORITY ORDER (the- strip,
      // a- strip, 's, s — the order sfVariants emits and the reference
      // tries them, MergedOccurrencesDisambiguator.java:75-105) that
      // hits the sf store. posexplode carries that priority index; an
      // alphabetical tiebreak would pick a different variant whenever
      // several hit.
      val retried = withFallback.filter(col("sf_id").isNull)
        .drop("sf_id", "annotated_count")
        .select(col("*"), posexplode(sfVariantsUdf(col("sf"))).as(Seq("_vpos", "_var")))
        .join(sfDim.withColumnRenamed("sf", "_var"), Seq("_var"))
        .withColumn("_vrk", row_number().over(
          Window.partitionBy("url", "para_idx", "offset").orderBy("_vpos")))
        .filter(col("_vrk") === 1)
        .drop("_vrk", "_var", "_vpos")
      matched.unionByName(retried)
    }
  }

  // ---- C4: morphological retry variants ------------------------------------

  /** Second-chance lookup variants of an unmatched surface form: without
   *  leading "the "/"a ", without trailing "'s"/"s"/"'" (reference:
   *  lucene/disambiguate/MergedOccurrencesDisambiguator.java:75-105).
   *  Used as `explode(sfVariants(sf))` for a retry join on sf. */
  def sfVariants(sf: String): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet[String]()
    val lower = sf.toLowerCase
    if (lower.startsWith("the ") && sf.length > 4) out += sf.substring(4)
    if (lower.startsWith("a ") && sf.length > 2) out += sf.substring(2)
    if (sf.endsWith("'s") && sf.length > 2) out += sf.dropRight(2)
    else if (sf.endsWith("'") && sf.length > 1) out += sf.dropRight(1)
    else if (sf.endsWith("s") && sf.length > 1) out += sf.dropRight(1)
    out.toSeq
  }

  val sfVariantsUdf = udf((sf: String) => sfVariants(sf))

  // ---- D3: generative context similarity ----------------------------------

  /** Numerically stable log(e^a + e^b) as breeze.numerics.logSum
   *  (callers guarantee finite a, b — Spark's `log` yields NULL for 0,
   *  so the pML = 0 branch is handled *before* taking logs). */
  private def logSum(a: Column, b: Column): Column = {
    val m = greatest(a, b)
    m + log(exp(a - m) + exp(b - m))
  }

  /** Sum of a double column with each term rounded to 18 decimals and
   *  added as decimal(38,18): exact, so the result does not depend on
   *  partitioning or shuffle order (a double sum does, in its last bits —
   *  enough to flip an annotation sitting on an F1 threshold). */
  private def exactSum(c: Column): Column =
    sum(c.cast(org.apache.spark.sql.types.DecimalType(38, 18))).cast("double")

  /**
   * Context score of each candidate row against its window
   * (GenerativeContextSimilarity.scala:19-78):
   *   p(token|res) = logSum(log λ + log pML, log(1−λ) + pLM)
   *   pML = count(res,token)/totalTokens(res)
   *   pLM = log(count(token)+1) − log(totalTokenCount + vocabSize)   [Laplace]
   *   score(res) = Σ_tokens log(q_cnt) + p         (−inf terms dropped)
   * and the window's NIL score, the same sum with pML = 0
   * (GenerativeContextSimilarity.nilScore:74-78), from the same token
   * rows. totalTokens(res) is the entity_contexts row's `res_tok_total`.
   *
   * `cands` holds (url, para_idx, win, res_id) plus any further columns;
   * each row comes back once with `ctx_score` and `nil_ctx_score` added.
   * Scores are per-window: a candidate surfacing in several windows of
   * one oversized paragraph scores against each window's own histogram
   * (MAX_CONTEXT); a window without dictionary tokens scores 0. Both
   * sums are exact ([[exactSum]]).
   */
  def contextScores(cands: DataFrame,
                    docTokens: DataFrame,
                    contexts: Dataset[EntityContextRow],
                    totals: ModelBuild.Totals,
                    cfg: Config = Config()): DataFrame = {
    val pLM = log(col("tok_count") + lit(1.0)) -
      log(lit((totals.totalTokenCount + totals.vocabularySize).toDouble))
    val pNil = log(lit(1 - cfg.lambda)) + pLM
    val joined = cands
      .join(docTokens, Seq("url", "para_idx", "win"), "left")
      .join(contexts.toDF().withColumnRenamed("count", "ctx_cnt"), Seq("res_id", "token_id"), "left")
      .withColumn("pML",
        when(col("ctx_cnt").isNull, lit(0.0))
          .otherwise(col("ctx_cnt").cast("double") / col("res_tok_total")))
      // pML = 0 ⇒ the λ·pML branch vanishes: p = log(1−λ) + pLM exactly,
      // matching logSum(−inf, x) = x in the reference. Branching first
      // also avoids Spark's log(0) = NULL.
      .withColumn("p",
        when(col("pML") > 0,
          logSum(log(lit(cfg.lambda)) + log(col("pML")), log(lit(1 - cfg.lambda)) + pLM))
          .otherwise(pNil))
      .withColumn("log_q", log(col("q_cnt").cast("double")))
    joined.groupBy(cands.columns.map(col): _*)
      .agg(coalesce(exactSum(col("log_q") + col("p")), lit(0.0)).as("ctx_score"),
        coalesce(exactSum(col("log_q") + pNil), lit(0.0)).as("nil_ctx_score"))
  }

  // ---- D5 + R1-R3: mixture, NIL gate, rank, softmax ------------------------

  /**
   * Full scoring dataflow: mixture = P(s|e) + P(c|e) + P(e) in log space
   * (UnweightedMixture over the three features set in
   * DBTwoStepDisambiguator.scala:205-215), NIL-score gate (:220), top-k
   * per spot (:221-223), percentageOfSecondRank = exp(next − top)
   * (:225-229), then softmax-normalized similarity and contextual scores
   * including the NIL entity in the partition function (:231-238).
   */
  def scored(spotCands: DataFrame,
             docTokens: DataFrame,
             contexts: Dataset[EntityContextRow],
             res: Dataset[ResourceRow],
             totals: ModelBuild.Totals,
             cfg: Config = Config()): DataFrame = {
    // partitioned by paragraph, like docTokens: the context join, its
    // aggregate and the rank windows below need no further shuffle
    val ctx = contextScores(spotCands.repartition(col("url"), col("para_idx")),
      docTokens, contexts, totals, cfg)

    val pE = log(col("support").cast("double") / lit(totals.totalSupport.toDouble))
    val pSgE = log(col("cand_prior")) // log(cooc/annotated): see note in DBTwoStepDisambiguator.scala:205-208
    val nilEntityScore = col("nil_ctx_score") + log(lit(1.0 / totals.totalAnnotated.toDouble))

    val base = ctx
      .join(res.select("res_id", "uri", "support", "types"), Seq("res_id"))
      .withColumn("nil_score", nilEntityScore)
      .withColumn("similarity", Mixtures.unweighted(pSgE, col("ctx_score"), pE))
      .filter(!isnan(col("similarity")) && col("similarity") > col("nil_score"))

    val w = Window.partitionBy("url", "para_idx", "offset")
    val wOrd = w.orderBy(col("similarity").desc, col("res_id"))
    val ranked = base
      .withColumn("rank", row_number().over(wOrd))
      .filter(col("rank") <= cfg.k)
      .withColumn("next_sim", lead(col("similarity"), 1).over(wOrd))
      .withColumn("percentage_of_second_rank",
        when(col("next_sim").isNull, lit(-1.0))
          .otherwise(exp(col("next_sim") - col("similarity"))))

    // softmax over candidates ∪ {NIL} — stable logsumexp via window aggs;
    // the rows arrive in the rank window's (similarity desc, res_id)
    // order, so these double sums add in a fixed order
    val mSim = greatest(max(col("similarity")).over(w), col("nil_score"))
    val mCtx = greatest(max(col("ctx_score")).over(w), col("nil_ctx_score"))
    ranked
      .withColumn("_lse_sim",
        log(sum(exp(col("similarity") - mSim)).over(w) + exp(col("nil_score") - mSim)) + mSim)
      .withColumn("_lse_ctx",
        log(sum(exp(col("ctx_score") - mCtx)).over(w) + exp(col("nil_ctx_score") - mCtx)) + mCtx)
      .withColumn("similarity_score", exp(col("similarity") - col("_lse_sim")))
      .withColumn("contextual_score", exp(col("ctx_score") - col("_lse_ctx")))
      .drop("_lse_sim", "_lse_ctx", "next_sim")
  }

  /** D2: best candidate per spot, ordered by offset (R4). */
  def best(scoredDf: DataFrame): DataFrame =
    scoredDf.filter(col("rank") === 1)
      .select("url", "para_idx", "offset", "sf", "uri", "support", "types",
        "similarity_score", "percentage_of_second_rank", "contextual_score")

  /** D9: prior-only baseline — candidate with max cooc_count per spot
   *  (eval/.../DBBaselineDisambiguator.scala:20-44). */
  def baseline(spotCands: DataFrame, res: Dataset[ResourceRow]): DataFrame =
    spotCands
      .withColumn("_rk", row_number().over(
        Window.partitionBy("url", "para_idx", "offset")
          .orderBy(col("cooc_count").desc, col("res_id"))))
      .filter(col("_rk") === 1).drop("_rk")
      .join(res.select("res_id", "uri", "support", "types"), Seq("res_id"))
      .select("url", "para_idx", "offset", "sf", "uri", "support", "types")

  // ---- D4/D7: TF*ICF context similarity --------------------------------

  /**
   * TF*ICF scores (reference: db/similarity/TFICFSimilarity.scala:25-97):
   * per paragraph, over its candidate-resource set —
   *   tf(token, res)  = count of token in res's context (the posting list)
   *   icf(token)      = log(nCand / nCandWithToken) + 1, where both counts
   *                     are scoped to the PARAGRAPH's candidate set
   *   score(res)      = Σ_query-tokens q_cnt · tf · icf / |context(res)|
   * The reference computes icf per query against Lucene bitsets; here it
   * is a window count over (url, para_idx, token_id) — one shuffle, no
   * per-candidate index probes. D7's InvCandFreqSimilarity (isf scoped to
   * the surface form's candidate set) is [[icfScoped]] with
   * `scope = sf-id keys` instead of the paragraph keys.
   */
  def tficfScores(candRes: DataFrame, // distinct (url, para_idx, win, res_id)
                  docTokens: DataFrame,
                  contexts: Dataset[EntityContextRow]): DataFrame = {
    val nCand = candRes.groupBy("url", "para_idx", "win")
      .agg(countDistinct("res_id").as("n_cand"))
    val joined = candRes
      .join(docTokens, Seq("url", "para_idx", "win"))
      .join(contexts.toDF().withColumnRenamed("count", "tf"), Seq("res_id", "token_id"))
    val withIcf = joined
      .withColumn("n_cand_with_token",
        size(collect_set("res_id").over(
          Window.partitionBy("url", "para_idx", "win", "token_id"))))
      .join(nCand, Seq("url", "para_idx", "win"))
      .withColumn("icf",
        log(col("n_cand").cast("double") / col("n_cand_with_token")) + lit(1.0))
    // |context(res)| is the row's res_tok_total, the same on every row of res
    withIcf
      .groupBy("url", "para_idx", "win", "res_id")
      .agg(sum(col("q_cnt") * col("tf") * col("icf")).as("raw"), max("res_tok_total").as("ctx_len"))
      .withColumn("tficf_score", col("raw") / col("ctx_len"))
      .select("url", "para_idx", "win", "res_id", "tficf_score")
  }

  /** D7 isf = log(maxSf/senseFreq)+1 scoped to an arbitrary key set
   *  (lucene/similarity/InvCandFreqSimilarity.java:30-114). */
  def icfScoped(tokenHits: DataFrame, scopeKeys: Seq[String]): DataFrame = {
    val w = Window.partitionBy((scopeKeys :+ "token_id").map(col): _*)
    val wAll = Window.partitionBy(scopeKeys.map(col): _*)
    tokenHits
      .withColumn("sense_freq", size(collect_set("res_id").over(w)))
      .withColumn("n_senses", size(collect_set("res_id").over(wAll)))
      .withColumn("isf", log(col("n_senses").cast("double") / col("sense_freq")) + lit(1.0))
  }

  // ---- R11/R12: explain & tag extraction --------------------------------

  /** R11: top-N context words per resource (debug/explain path,
   *  MergedOccurrencesContextSearcher.getContextWords:327-360). */
  def topContextWords(contexts: Dataset[EntityContextRow],
                      tokens: Dataset[TokenTypeRow], n: Int = 10): DataFrame =
    contexts.toDF()
      .withColumn("_rk", row_number().over(
        Window.partitionBy("res_id").orderBy(col("count").desc, col("token_id"))))
      .filter(col("_rk") <= n)
      .join(tokens.select("token_id", "token"), Seq("token_id"))
      .select(col("res_id"), col("token"), col("count"), col("_rk").as("rank"))

  /** R12: tag extraction — top-k entities per document by best similarity
   *  (the `/related` + ExtractTags path re-expressed: same scored
   *  dataflow, ranked per url instead of per spot). */
  def topTagsPerDoc(scoredDf: DataFrame, k: Int = 10): DataFrame =
    scoredDf
      .groupBy("url", "uri")
      .agg(max("similarity").as("best_sim"), count(lit(1)).as("n_spots"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("url").orderBy(col("best_sim").desc, col("uri"))))
      .filter(col("rank") <= k)

  /** D10 CustomScoresDisambiguator (core/.../disambiguate/
   *  CustomScoresDisambiguator.java:44-123): rank each spot's candidates
   *  by a user-supplied per-URI score table (its loaded priors map);
   *  URIs absent from the table score 0.0. The score table is a
   *  URI-keyed dimension — joined plainly so AQE picks broadcast vs
   *  shuffle by its actual size. */
  def customScores(spotCands: DataFrame, res: Dataset[ResourceRow],
                   uriScores: DataFrame, k: Int = 1): DataFrame =
    spotCands
      .join(res.select("res_id", "uri", "support", "types"), Seq("res_id"))
      // aggregate the user-supplied table first: duplicate uri rows would
      // fan out candidate rows into duplicate (url, para_idx, offset)
      // results that survive the row_number top-k
      .join(uriScores.groupBy("uri").agg(max("score").as("score")), Seq("uri"), "left")
      .withColumn("score", coalesce(col("score"), lit(0.0)))
      .withColumn("rank", row_number().over(
        Window.partitionBy("url", "para_idx", "offset")
          .orderBy(col("score").desc, col("res_id"))))
      .filter(col("rank") <= k)
      .select("url", "para_idx", "offset", "sf", "uri", "score", "rank", "support", "types")

  /** D10: seeded random pick (RandomDisambiguator) for test harnesses. */
  def randomPick(spotCands: DataFrame, res: Dataset[ResourceRow], seed: Long): DataFrame =
    spotCands
      .withColumn("_r", xxhash64(col("url"), col("para_idx"), col("offset"), col("res_id"), lit(seed)))
      .withColumn("_rk", row_number().over(
        Window.partitionBy("url", "para_idx", "offset").orderBy(col("_r"))))
      .filter(col("_rk") === 1).drop("_rk", "_r")
      .join(res.select("res_id", "uri", "support", "types"), Seq("res_id"))
      .select("url", "para_idx", "offset", "sf", "uri", "support", "types")
}
