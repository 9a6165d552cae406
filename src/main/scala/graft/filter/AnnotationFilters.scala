package graft.filter

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.model.AnnotationRow

/**
 * Post-annotation filters (F1-F6), applied in the reference's order
 * confidence → pctSecond → type → sparql → support → coreference
 * (rest/.../SpotlightInterface.java:159; filter/visitor/FilterOccsImpl).
 * All are relational filters; coreference is the one per-document
 * group operation.
 */
object AnnotationFilters {

  /** F1 ConfidenceFilter (filter/annotations/ConfidenceFilter.scala:47-62):
   *  similarity_score ≥ simThresholds[round((len−1)·confidence)]. */
  def confidence(df: DataFrame, simThresholds: Seq[Double], conf: Double): DataFrame = {
    val threshold =
      if (simThresholds.isEmpty) 0.0
      else simThresholds(math.max((((simThresholds.length - 1) * conf)).round.toInt, 0))
    df.filter(col("similarity_score") >= threshold)
  }

  /** F1 training: derive `simThresholds` from a trained model as the
   *  ascending similarity-score quantiles of gold-correct annotations.
   *  The reference ships exactly this artifact — a ~101-entry ascending
   *  list of training-similarity percentiles loaded as
   *  `config.getSimilarityThresholds` (util/AnnotationFilter.scala:34-35)
   *  — produced by its indexing-time evaluation; here it is one
   *  distributed `percentile_approx` aggregate, no collect of scores.
   *  `best` = rank-1 annotations carrying `similarity_score`;
   *  `gold` = (url, para_idx, offset, uri). */
  def trainSimThresholds(best: DataFrame, gold: DataFrame,
                         nQuantiles: Int = 101): Seq[Double] = {
    val keys = Seq("url", "para_idx", "offset")
    val g = gold.select((keys.map(col) :+ col("uri").as("_gold_uri")): _*).distinct()
    val correct = best.join(g, keys).filter(col("uri") === col("_gold_uri"))
    val pcts = array((0 until nQuantiles).map(i =>
      lit(i.toDouble / math.max(nQuantiles - 1, 1))): _*)
    val row = correct.agg(
      percentile_approx(col("similarity_score"), pcts, lit(10000))).head()
    if (row.isNullAt(0)) Nil else row.getSeq[Double](0)
  }

  /** F1-variant ContextualScoreFilter
   *  (filter/annotations/ContextualScoreFilter.scala:24-35): fixed
   *  threshold on the softmax-normalized contextual score. */
  def contextualScore(df: DataFrame, threshold: Double): DataFrame =
    df.filter(col("contextual_score") >= threshold)

  /** F2 PercentageOfSecondFilter (ConfidenceFilter.scala:26-45):
   *  drop if pctSecond > 1 − confidence². */
  def percentageOfSecond(df: DataFrame, conf: Double): DataFrame =
    df.filter(col("percentage_of_second_rank") <= (1 - conf * conf))

  /** F3 SupportFilter (SupportFilter.scala:26-41). */
  def support(df: DataFrame, minSupport: Long): DataFrame =
    df.filter(col("support") > minSupport)

  /** F4 TypeFilter (TypeFilter.scala:25-66): whitelist/blacklist on types;
   *  untyped resources kept iff "unknown" is whitelisted; empty list
   *  keeps everything. */
  def types(df: DataFrame, typeList: Seq[String], blacklist: Boolean = false): DataFrame = {
    if (typeList.isEmpty) return df
    val named = typeList.filter(_.toLowerCase != "unknown")
    val acceptUnknown = typeList.exists(_.toLowerCase == "unknown")
    val overlaps =
      if (named.isEmpty) lit(false)
      else arrays_overlap(col("types"), lit(named.toArray))
    val untypedOk = (size(col("types")) === 0) && lit(acceptUnknown)
    val keep = overlaps || untypedOk
    df.filter(if (blacklist) !keep else keep)
  }

  /** F5 SparqlFilter (SparqlFilter.scala:30) modeled as a semi/anti join
   *  against a user-supplied URI list (network SPARQL is out of scope). */
  def uriList(df: DataFrame, uris: DataFrame, whitelist: Boolean = true): DataFrame =
    df.join(uris.select(col("uri")), Seq("uri"),
      if (whitelist) "left_semi" else "left_anti")

  /** F6 CoreferenceFilter (filter/annotations/CoreferenceFilter.scala:30-80):
   *  a single-word surface form whose word appears in an earlier
   *  multi-word, all-capitalized surface form in the same document copies
   *  that occurrence's resource. Per-document flatMapGroups — documents
   *  are small, the group is bounded (the reference buffers the same
   *  per-request list in memory). */
  def coreference(annotations: Dataset[AnnotationRow]): Dataset[AnnotationRow] = {
    val spark = annotations.sparkSession
    import spark.implicits._
    annotations
      .groupByKey(_.url)
      .flatMapGroups { (_, it) =>
        val occs = it.toArray.sortBy(o => (o.para_idx, o.offset))
        occs.zipWithIndex.map { case (later, i) =>
          val laterWords = later.sf.split(" ")
          if (laterWords.length != 1) later
          else {
            occs.take(i).find { prev =>
              val prevWords = prev.sf.split(" ")
              prevWords.length > 1 &&
                prevWords.forall(w => w.nonEmpty && w.substring(0, 1) == w.substring(0, 1).toUpperCase) &&
                prevWords.contains(laterWords.head)
            } match {
              case Some(prev) => later.copy(
                uri = prev.uri, support = prev.support, types = prev.types,
                similarity_score = prev.similarity_score,
                percentage_of_second_rank = prev.percentage_of_second_rank)
              case None => later
            }
          }
        }.iterator
      }
  }

  /** The standard chain with server defaults confidence=0.1, support=10
   *  (SpotlightConfiguration.java:48-55): F1 → F2 → F3 → F6, the server's
   *  chain with no type list (F4 keeps everything then). */
  def standardChain(annotations: Dataset[AnnotationRow],
                    conf: Double = 0.1,
                    minSupport: Long = 10,
                    simThresholds: Seq[Double] = Nil): Dataset[AnnotationRow] = {
    val spark = annotations.sparkSession
    import spark.implicits._
    coreference(support(percentageOfSecond(
      confidence(annotations.toDF(), simThresholds, conf), conf), minSupport).as[AnnotationRow])
  }
}
