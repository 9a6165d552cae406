package graft.modelbuild

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model._
import graft.spot.{AhoCorasick, Spotter}
import graft.util.TextUtil

/**
 * Model-build aggregations (SURVEY.md §2.7, A1-A10): the offline count
 * stores of the reference — surface forms, resources, candidate map,
 * token dictionary, entity contexts — expressed as groupBy/agg dataflows
 * with deterministic dense IDs, each store built in one pass
 * (CreateSpotlightModel.scala:143-228).
 *
 * Scale design:
 *  - every count is one groupBy + sum, which Spark combines map-side:
 *    a head surface form ("USA") crosses the exchange as at most one
 *    partial row per map task (ScaleDesignSpec), so no reducer sees its
 *    raw occurrences; skewed join partitions are split by AQE;
 *  - dense IDs come from [[denseIds]]: a range-partitioned rank plus
 *    driver-side partition offsets, stable across runs and parallelism
 *    (SURVEY.md §7.4(6)), never monotonically_increasing_id.
 */
object ModelBuild {

  val sfNormalizeUdf = udf((sf: String) => TextUtil.sfNormalize(sf))

  /**
   * Deterministic dense 1-based IDs by global order of `orderCol`,
   * WITHOUT a single-partition global window (which would funnel the
   * whole dictionary through one task at 100 TB): range-partition by the
   * key, rank within each sorted partition, then add cumulative partition
   * offsets (prefix sums over one collected row per partition). IDs depend only
   * on the global key order, not on where range boundaries fall, so any
   * parallelism yields identical IDs (SURVEY.md §7.4(6)). Keys must be
   * distinct (callers pass post-groupBy dimension tables).
   */
  def denseIds(df: DataFrame, orderCol: String, idName: String): DataFrame = {
    val n = math.max(df.sparkSession.sessionState.conf.numShufflePartitions, 1)
    val withRn = df
      .repartitionByRange(n, col(orderCol))
      .sortWithinPartitions(orderCol)
      .withColumn("_pid", spark_partition_id())
      .withColumn("_rn", row_number().over(
        Window.partitionBy("_pid").orderBy(orderCol)).cast("long"))
      .persist() // pin partition boundaries: offsets below must see the same layout
    // per-partition row counts, one row per partition: the offsets are
    // their prefix sums, computed on the driver and inlined as a literal
    val counts = withRn.groupBy("_pid").agg(max("_rn")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets = (0 until (if (counts.isEmpty) 0 else counts.keys.max + 1))
      .scanLeft(0L)((off, pid) => off + counts.getOrElse(pid, 0L))
    val cut = withRn
      .withColumn(idName, (typedLit(offsets).getItem(col("_pid")) + col("_rn")).cast("int"))
      .drop("_pid", "_rn")
    // Materialize + truncate lineage so the pinned intermediate can be
    // freed immediately (otherwise each denseIds call leaks one cached
    // copy of the dimension table for the session's lifetime). A lost
    // block fails the job loudly; durability is the caller's stage
    // commit (Pipeline.stage), not this cut.
    val out = cut.localCheckpoint(true)
    withRn.unpersist()
    out
  }

  // ---- A8: redirect transitive closure --------------------------------

  /**
   * The reference's getEndOfChainURI (WikipediaToDBpediaClosure.scala:
   * 106-116) as a walk on the driver: every subject follows its chain
   * until there is no next hop or the next hop is already on its path,
   * so a cycle stops at the last new node and a self-loop maps its
   * subject to itself. A subject with several edges follows its smallest
   * target in string order, whatever the input order. The edges (subj,
   * obj) are the redirect dump, which the caller holds on the driver
   * (the reference keeps the same map in memory); the closure (from, to)
   * comes back as a local relation, one row per subject.
   */
  def redirectClosure(redirects: DataFrame): DataFrame = {
    val spark = redirects.sparkSession
    import spark.implicits._
    val next = redirects.select("subj", "obj").as[(String, String)].collect()
      .groupMapReduce(_._1)(_._2)((a, b) => if (a <= b) a else b)
    next.toSeq.map { case (from, to) =>
      var path = Set(from, to)
      var end = to
      var hop = next.get(end)
      while (hop.exists(h => !path(h))) {
        end = hop.get
        path += end
        hop = next.get(end)
      }
      (from, end)
    }.toDF("from", "to")
  }

  /** Map a URI column through the redirect closure (left join + coalesce;
   *  the planner broadcasts the closure while it is under the broadcast
   *  threshold and shuffles both sides once it grows past it). */
  def resolveRedirects(df: DataFrame, uriCol: String, closure: DataFrame): DataFrame =
    df.join(closure.withColumnRenamed("from", "_rc_from").withColumnRenamed("to", "_rc_to"),
        df(uriCol) === col("_rc_from"), "left")
      .withColumn(uriCol, coalesce(col("_rc_to"), col(uriCol)))
      .drop("_rc_from", "_rc_to")

  /** Resolve redirects and drop occurrences of disambiguation-page URIs
   *  (reference: WikipediaToDBpediaClosure.wikipediaToDBpediaURI throws on
   *  disambiguation resources, :100-104; CandidateMapSource drops them). */
  def resolvedOccurrences(occs: Dataset[OccurrenceRow], closure: DataFrame,
                          disambigUris: DataFrame): DataFrame =
    resolveRedirects(occs.toDF(), "uri", closure)
      .join(disambigUris.select(col("subj").as("_dis_uri")),
        col("uri") === col("_dis_uri"), "left_anti")

  // ---- A1: surface forms ----------------------------------------------

  /**
   * sfAndTotalCounts: per surface form, the weighted count of
   * link-anchored (annotated) occurrences plus the raw string total count
   * over `paragraphs` (−1 = unknown without them, which the
   * reference maps to annotationProbability 1.0,
   * model/SurfaceForm.scala:51-61). The totals pass spots every annotated
   * form over the paragraph text ([[Spotter.totalCounts]], an automaton
   * over the distinct form strings) and is read once: the A7 correction
   * it feeds takes its sub-ngram side from the annotated counts alone.
   * The annotated counts are summed once and held until the dense IDs
   * are cut: the totals dictionary and both sides of the correction read
   * them.
   */
  def surfaceForms(occs: Dataset[OccurrenceRow],
                   paragraphs: Option[Dataset[ParagraphRow]]): Dataset[SurfaceFormRow] = {
    val spark = occs.sparkSession
    import spark.implicits._
    val annotated = occs.groupBy("sf").agg(sum("weight").as("annotated_count")).persist()
    val counted = paragraphs match {
      case Some(ps) =>
        val dict = annotated.filter(col("annotated_count") > 0).select("sf").as[String].collect()
        val totals = Spotter.totalCounts(ps,
          spark.sparkContext.broadcast(AhoCorasick.build(dict, caseSensitive = true)))
        corrected(annotated
          .join(totals, Seq("sf"), "left")
          .withColumn("total_count", coalesce(col("total_count"), lit(-1L))), annotated)
      case None => annotated.withColumn("total_count", lit(-1L))
    }
    val ided = denseIds(counted, "sf", "sf_id")
    annotated.unpersist()
    ided
      .withColumn("sf_normalized", sfNormalizeUdf(col("sf")))
      .select("sf_id", "sf", "sf_normalized", "annotated_count", "total_count")
      .as[SurfaceFormRow]
  }

  // ---- A2 (+S10): resources --------------------------------------------

  /** uriCounts after redirect resolution, + types from instance_types. */
  def resources(resolvedOccs: DataFrame, instanceTypes: DataFrame): Dataset[ResourceRow] = {
    val spark = resolvedOccs.sparkSession
    import spark.implicits._
    val support = resolvedOccs.groupBy("uri").agg(sum("weight").as("support"))
    val types = instanceTypes
      .groupBy(col("subj").as("uri"))
      .agg(sort_array(collect_set(col("obj"))).as("types"))
    denseIds(
      support
        .join(types, Seq("uri"), "left")
        .withColumn("types", coalesce(col("types"), array().cast("array<string>"))),
      "uri", "res_id")
      .select("res_id", "uri", "support", "types")
      .as[ResourceRow]
  }

  // ---- A3: candidate map -----------------------------------------------

  /** pairCounts keyed by (sf_id, res_id) — the sf→URI map — with
   *  each pair's `cand_rank` within its sf (cooc_count desc, res_id), so
   *  the annotate path's top-k candidate prune is a filter. */
  def candidates(resolvedOccs: DataFrame,
                 sfs: Dataset[SurfaceFormRow],
                 res: Dataset[ResourceRow]): Dataset[CandidateRow] = {
    val spark = resolvedOccs.sparkSession
    import spark.implicits._
    resolvedOccs.groupBy("sf", "uri").agg(sum("weight").as("cooc_count"))
      .join(sfs.select("sf_id", "sf"), Seq("sf"))
      .join(res.select(col("res_id"), col("uri")), Seq("uri"))
      .select(col("sf_id"), col("res_id"), col("cooc_count"))
      .withColumn("cand_rank", row_number().over(
        Window.partitionBy("sf_id").orderBy(col("cooc_count").desc, col("res_id"))))
      .as[CandidateRow]
  }

  // ---- A5 (+S13): token dictionary --------------------------------------

  /** The raw content-token stream the dictionary counts: paragraph text
   *  tokens plus one token stream per surface form (reference:
   *  TokenSource.scala:35-70). Shared by [[tokenTypes]] and the
   *  `p_token_stream` sidecar emission so the DuckDB oracle re-derives
   *  the dictionary from EXACTLY the stream it was built on. */
  def tokenStream(paragraphs: Dataset[ParagraphRow],
                  sfs: Dataset[SurfaceFormRow],
                  stem: TextUtil.Stemmer = TextUtil.IdentityStemmer): DataFrame = {
    val spark = paragraphs.sparkSession
    import spark.implicits._
    paragraphs.flatMap(p => TextUtil.contentTokens(p.para_text, stem)).toDF("token")
      .union(sfs.flatMap(r => TextUtil.contentTokens(r.sf, stem)).toDF("token"))
  }

  /** Global token counts over all paragraph text, plus +1 per token of
   *  each surface form (reference: TokenSource.scala:35-70). */
  def tokenTypes(paragraphs: Dataset[ParagraphRow],
                 sfs: Dataset[SurfaceFormRow],
                 stem: TextUtil.Stemmer = TextUtil.IdentityStemmer): Dataset[TokenTypeRow] = {
    val spark = paragraphs.sparkSession
    import spark.implicits._
    denseIds(
      tokenStream(paragraphs, sfs, stem)
        .groupBy("token").agg(count(lit(1)).as("count")),
      "token", "token_id")
      .select("token_id", "token", "count")
      .as[TokenTypeRow]
  }

  // ---- D12: context narrowing -------------------------------------------

  /** Crop context to ≤ maxWords whitespace words around the offset
   *  (reference: string/ContextExtractor.scala:28-107, applied at
   *  model-build time via ContextNarrowFilter). */
  def narrowContext(text: String, offset: Int, maxWords: Int): String = {
    if (text.isEmpty) return text
    val words = text.split(" ")
    if (words.length <= maxWords) return text
    // locate the word index containing the offset
    var acc = 0
    var wIdx = 0
    var i = 0
    while (i < words.length && acc <= offset) { wIdx = i; acc += words(i).length + 1; i += 1 }
    val half = maxWords / 2
    val lo = math.max(0, wIdx - half)
    val hi = math.min(words.length, lo + maxWords)
    words.slice(math.max(0, hi - maxWords), hi).mkString(" ")
  }

  // ---- A4: entity contexts (the inverted index) --------------------------

  /**
   * tokenCounts per (resource, token): tokenize each occurrence's
   * (narrowed) context, explode, dictionary-encode, sum. This DataFrame
   * IS the token→entity posting list that replaces the reference's
   * Lucene CONTEXT index (north star; MemoryContextStore.scala:20-57).
   * Each row carries its resource's `res_tok_total`, the context-score
   * denominator, so scoring never aggregates the whole table.
   */
  def entityContexts(resolvedOccs: DataFrame,
                     res: Dataset[ResourceRow],
                     tokens: Dataset[TokenTypeRow],
                     maxContextWords: Int = 200,
                     stem: TextUtil.Stemmer = TextUtil.IdentityStemmer): Dataset[EntityContextRow] = {
    val spark = resolvedOccs.sparkSession
    import spark.implicits._
    val tokenized = resolvedOccs
      .select(col("uri"), col("para_text"), col("offset"), col("weight"))
      .as[(String, String, Int, Int)]
      .flatMap { case (uri, text, offset, weight) =>
        TextUtil.contentTokens(narrowContext(text, offset, maxContextWords), stem)
          .map(t => (uri, t, weight.toLong))
      }
      .toDF("uri", "token", "w")
    tokenized
      .groupBy("uri", "token").agg(sum("w").as("count"))
      .join(res.select("res_id", "uri"), Seq("uri"))
      .join(tokens.select("token_id", "token"), Seq("token"))
      .select("res_id", "token_id", "count")
      .withColumn("res_tok_total", sum("count").over(Window.partitionBy("res_id")))
      .as[EntityContextRow]
  }

  // ---- A7: ngram total-count correction ----------------------------------

  /**
   * Longest-annotation assumption (reference: MemoryStoreIndexer.scala:
   * 69-109): when a surface form is a contiguous sub-ngram of a longer
   * annotated surface form, the longer form's annotated occurrences were
   * also counted as raw-string matches of the sub-ngram; subtract them
   * from the sub-ngram's total_count so its annotationProbability is not
   * deflated. total_count is clamped at annotated_count (a form seen
   * annotated k times was seen at least k times). Self-join via an
   * exploded sub-ngram table — distributed, no driver loop.
   */
  def ngramTotalCorrection(sfs: Dataset[SurfaceFormRow]): Dataset[SurfaceFormRow] = {
    val spark = sfs.sparkSession
    import spark.implicits._
    corrected(sfs.toDF(), sfs.toDF())
      .select("sf_id", "sf", "sf_normalized", "annotated_count", "total_count")
      .as[SurfaceFormRow]
  }

  /** `counts` (sf, annotated_count, total_count, …) with the A7 correction
   *  applied: the sub-ngram side reads (sf, annotated_count) of `annotated`. */
  private def corrected(counts: DataFrame, annotated: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val subNgrams = annotated.select("sf", "annotated_count").as[(String, Long)].flatMap {
      case (sf, containing) =>
        val toks = sf.split(" ")
        if (toks.length <= 1) Iterator.empty
        else for {
          len <- (1 until toks.length).iterator
          start <- (0 to toks.length - len).iterator
        } yield (toks.slice(start, start + len).mkString(" "), containing)
    }.toDF("sf", "containing_annotated")
    val corrections = subNgrams.groupBy("sf")
      .agg(sum("containing_annotated").as("_corr"))
    counts
      .join(corrections, Seq("sf"), "left")
      .withColumn("total_count",
        when(col("total_count") > 0L,
          greatest(col("total_count") - coalesce(col("_corr"), lit(0L)),
            col("annotated_count")))
          .otherwise(col("total_count")))
      .drop("_corr")
  }

  // ---- R6: deterministic train/test split ---------------------------------

  /** Occurrence dedup / corpus split (reference: index/.../lucene/index/
   *  SplitTrainTest.scala, io/DatasetSplitter.java) — hash-based so the
   *  assignment is stable across runs and parallelism, unlike randomSplit.
   *  The bucket hash is md5-derived (first 60 bits) rather than xxhash64:
   *  equally uniform, but reproducible by any ANSI engine
   *  (`('0x'||substring(md5(id),1,15))::BIGINT % buckets` in DuckDB), so
   *  the split itself is oracle-checkable. */
  def hashSplit(df: DataFrame, idCol: String, testFraction: Double,
                buckets: Int = 1000): (DataFrame, DataFrame) = {
    val b = pmod(conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10).cast("long"),
      lit(buckets.toLong))
    val cut = (testFraction * buckets).toLong
    (df.filter(b >= cut), df.filter(b < cut))
  }

  // ---- A9/A10: concept URIs and title surface forms ----------------------

  /** Concept URIs = all target URIs minus redirects and disambiguations,
   *  with URI sanity rules (reference: ExtractCandidateMap.scala:62-118). */
  def conceptUris(allUris: DataFrame, redirects: DataFrame, disambigs: DataFrame): DataFrame =
    allUris.select(col("uri"))
      .join(redirects.select(col("subj").as("uri")), Seq("uri"), "left_anti")
      .join(disambigs.select(col("subj").as("uri")), Seq("uri"), "left_anti")
      .filter(!col("uri").contains("/") && !col("uri").contains("%23") &&
        col("uri").rlike("[A-Za-z]"))

  /** A10: surface forms derived from page titles / redirects / disambig
   *  titles: wiki-decode the URI, strip the trailing parenthetical;
   *  sanity rules length ≤ 50, has a letter, not percent-escape junk,
   *  not a bare stopword (reference: ExtractCandidateMap.scala:172-243). */
  def titleSurfaceForms(uris: DataFrame): DataFrame = {
    val decodeUdf = udf((uri: String) =>
      TextUtil.wikiDecode(uri).replaceAll(""" \(.+?\)$""", ""))
    uris
      .filter(!col("uri").rlike("%[0-9A-Fa-f]{2}")) // escape-sequence titles skipped
      .select(col("uri"), decodeUdf(col("uri")).as("sf"))
      .filter(length(col("sf")) <= 50 &&
        col("sf").rlike("[A-Za-z]") &&
        !lower(col("sf")).isin(TextUtil.SfStopWords.toSeq: _*))
      .distinct()
  }

  /** Model totals broadcast into scoring expressions (A6). */
  final case class Totals(
      totalAnnotated: Long,
      totalOccurrence: Long,
      totalSupport: Long,
      totalTokenCount: Long,
      vocabularySize: Long)

  def totals(sfs: Dataset[SurfaceFormRow], res: Dataset[ResourceRow],
             tokens: Dataset[TokenTypeRow]): Totals = {
    val sfAgg = sfs.agg(sum("annotated_count"), sum(when(col("total_count") > 0, col("total_count")).otherwise(0L))).head()
    val supAgg = res.agg(sum("support")).head()
    val tokAgg = tokens.agg(sum("count"), count(lit(1))).head()
    Totals(sfAgg.getLong(0), sfAgg.getLong(1), supAgg.getLong(0), tokAgg.getLong(0), tokAgg.getLong(1))
  }
}
