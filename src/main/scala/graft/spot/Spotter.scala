package graft.spot

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.{ParagraphRow, SpotRow, SurfaceFormRow}

/**
 * Surface-form spotting (P1/P4/P11): a broadcast Aho-Corasick automaton
 * applied partition-wise over paragraphs — a map-only stage with no
 * shuffle, exactly the "scan + dictionary match" family of the reference
 * (core/.../spot/ahocorasick/AhoCorasickSpotter.scala:35-186, gating from
 * db/FSASpotter.scala:108 and db/DBSpotter.scala:112-117).
 *
 * The automaton is built on the driver from the surface-form store (the
 * reference builds its FSA dictionary the same way,
 * CreateSpotlightModel.scala:226-228) and shipped once per job.
 */
object Spotter {

  /** Dictionary gate: only surface forms with annotationProbability ≥
   *  0.1 (FSASpotter.scala:108) and at least one annotation enter the
   *  automaton, each with its
   *  `(sf_id, annotated_count, total_count)` as the pattern's payload.
   *  Collect is driver-side by design: the dictionary is the broadcast
   *  dimension (~10^6-10^7 strings at full scale, same order as the
   *  reference's in-memory FSA). */
  def buildAutomaton(sfs: Dataset[SurfaceFormRow],
                     caseSensitive: Boolean = true): AhoCorasick = {
    val spark = sfs.sparkSession
    import spark.implicits._
    val dict = sfs
      .filter(annotationProbability(col("annotated_count"), col("total_count"))
        >= 0.1 && col("annotated_count") > 0)
      .select($"sf", $"sf_id", $"annotated_count", $"total_count").as[(String, Int, Long, Long)]
      .collect()
    AhoCorasick.withPayload(dict, caseSensitive)
  }

  /** annotationProbability = annotated/total, 1.0 when total = −1
   *  (reference: model/SurfaceForm.scala:51-61). */
  def annotationProbability(annotated: org.apache.spark.sql.Column,
                            total: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(total <= 0L, lit(1.0)).otherwise(annotated.cast("double") / total.cast("double"))

  /** Non-overlapping, word-aligned, leftmost-longest spots per paragraph.
   *  Each spot is tagged with its MAX_CONTEXT window index (`win`) in the
   *  same map pass — offsets stay paragraph-original; only the scoring
   *  context is windowed downstream (reference
   *  DBTwoStepDisambiguator.scala:71,91-118). The tokenize pass for the
   *  window starts runs only for paragraphs that can exceed the cap
   *  (length > maxContextTokens chars — a token is ≥1 char).
   *  `sentenceAligned` switches window PLACEMENT to the reference's
   *  sentence-accumulation rule ([[graft.util.TextUtil.sentenceWindowStarts]]);
   *  default stays token-aligned (DuckDB-recomputable — see
   *  [[graft.pipeline.Annotate.MaxContextTokens]]).
   *
   *  A case-sensitive automaton built by [[buildAutomaton]] knows the
   *  surface form of every match: its spots then also carry `sf_id` and
   *  `annotated_count` columns (beyond the [[SpotRow]] fields), and
   *  `spot_prob` is already the form's annotationProbability, so
   *  [[gatedSpots]] is a filter and candidate generation joins on the id.
   *  A case-insensitive match may differ in case from every dictionary
   *  entry; those spots come without the id columns, `spot_prob` 0.0,
   *  and are looked up by string. */
  def spots(paragraphs: Dataset[ParagraphRow], bc: Broadcast[AhoCorasick],
            maxContextTokens: Int = 250,
            sentenceAligned: Boolean = false): Dataset[SpotRow] =
    spotsWith(paragraphs, bc, maxContextTokens, sentenceAligned)(_.findNonOverlapping(_))

  /** A spot that knows its surface form: [[SpotRow]] plus the id columns. */
  final case class IdSpotRow(url: String, para_idx: Int, offset: Int, sf: String,
                             spot_prob: Double, win: Int, sf_id: Int, annotated_count: Long)

  /** True when every spot row carries its surface form's `sf_id` and
   *  `annotated_count` (the columns the spot pass adds, see [[spots]]). */
  def carriesSfIds(spots: DataFrame): Boolean =
    Set("sf_id", "annotated_count").subsetOf(spots.columns.toSet)

  private def spotsWith(paragraphs: Dataset[ParagraphRow], bc: Broadcast[AhoCorasick],
                        maxContextTokens: Int, sentenceAligned: Boolean)
                       (find: (AhoCorasick, String) => Seq[AhoCorasick.Match]): Dataset[SpotRow] = {
    val spark = paragraphs.sparkSession
    import spark.implicits._
    // the broadcast's local value fixes the output schema when the plan is built
    val withIds = bc.value.caseSensitive && bc.value.hasPayload
    def tagged[T](emit: (ParagraphRow, AhoCorasick.Match, Int, AhoCorasick) => T)
                 (implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
      paragraphs.mapPartitions { it =>
        val ac = bc.value
        it.flatMap { p =>
          val ms = find(ac, p.para_text)
          if (ms.isEmpty) Iterator.empty
          else {
            val starts = graft.util.TextUtil.contextWindowStarts(
              p.para_text, maxContextTokens, sentenceAligned)
            ms.iterator.map { m =>
              emit(p, m, if (starts.length == 1) 0 else graft.util.TextUtil.windowOf(starts, m.start), ac)
            }
          }
        }
      }
    if (withIds)
      tagged { (p, m, win, ac) =>
        val (annotated, total) = (ac.annotatedCount(m.pattern), ac.totalCount(m.pattern))
        IdSpotRow(p.url, p.para_idx, m.start, p.para_text.substring(m.start, m.end),
          if (total <= 0L) 1.0 else annotated.toDouble / total.toDouble, win,
          ac.sfId(m.pattern), annotated)
      }.as[SpotRow]
    else
      tagged((p, m, win, _) =>
        SpotRow(p.url, p.para_idx, m.start, p.para_text.substring(m.start, m.end), 0.0, win))
  }

  /** The store columns of each spot's surface form, looked up by string —
   *  for spots that arrive without `sf_id` (see [[spots]]). */
  private def lookedUp(rawSpots: Dataset[SpotRow], sfs: Dataset[SurfaceFormRow]): DataFrame =
    rawSpots.toDF().drop("spot_prob", "sf_id", "annotated_count")
      .join(sfs.select(col("sf"), col("sf_id"), col("annotated_count"), col("total_count")),
        Seq("sf"))

  /** Spot filtering (P4): spot score = annotationProbability, gated at
   *  `threshold` (0.25 — the reference's no-weights spotter threshold,
   *  DBSpotter.scala:112-117). Spots from the spot pass already carry
   *  the score and their form's id, so the gate is a filter; spots
   *  without the id columns join the surface-form store on the string
   *  (the planner broadcasts the store when it is under the broadcast
   *  threshold, and shuffles both sides when it is not). Either way
   *  the output carries `sf_id` and `annotated_count` for candidate
   *  generation. */
  def gatedSpots(rawSpots: Dataset[SpotRow], sfs: Dataset[SurfaceFormRow],
                 threshold: Double = 0.25): DataFrame = {
    val scored =
      if (carriesSfIds(rawSpots.toDF())) rawSpots.toDF()
      else lookedUp(rawSpots, sfs)
        .withColumn("spot_prob", annotationProbability(col("annotated_count"), col("total_count")))
    scored.filter(col("spot_prob") >= threshold)
      .select("url", "para_idx", "offset", "sf", "spot_prob", "win", "sf_id", "annotated_count")
  }

  /** P4 weighted spot score: feature vector · weights
   *  (DBSpotter.spotFeatures, db/DBSpotter.scala:184-197) with features
   *  (annotationProbability, all-caps abbreviation shorter than 5 chars,
   *  pure number, bias 1.0). The weight vector ships with a trained model
   *  as the single space-separated line of spotter_thresholds.txt
   *  (db/SpotlightModel.scala:32,132). Pure column algebra — codegen'd,
   *  no UDF. */
  def weightedSpotScore(weights: Seq[Double]): org.apache.spark.sql.Column = {
    require(weights.length == 4, s"spot feature weights must have 4 entries, got $weights")
    val isNumber = col("sf").rlike("^[0-9]+$")
    val isAbbrev = upper(col("sf")) === col("sf") && length(col("sf")) < 5 && !isNumber
    lit(weights(0)) * annotationProbability(col("annotated_count"), col("total_count")) +
      lit(weights(1)) * isAbbrev.cast("double") +
      lit(weights(2)) * isNumber.cast("double") +
      lit(weights(3))
  }

  /** Load the 4-weight spotter feature vector from a model directory's
   *  `spotter_thresholds.txt` — one space-separated line, the artifact a
   *  trained reference model ships (db/SpotlightModel.scala:32,132;
   *  shipped default "1.0 0.2 -0.2 0.1",
   *  index/.../CreateSpotlightModel.scala:230-233). */
  def loadSpotterThresholds(spark: org.apache.spark.sql.SparkSession,
                            path: String): Seq[Double] =
    spark.read.textFile(path).first().trim.split("\\s+").toSeq.map(_.toDouble)

  /** P4 weighted gate: spot_prob = weighted feature score, threshold 0.5
   *  (the reference's spotFeatureWeightVector branch,
   *  DBSpotter.scala:98-104, 112-117). [[gatedSpots]] is the no-weights
   *  branch (annotationProbability ≥ 0.25). */
  def weightedGatedSpots(rawSpots: Dataset[SpotRow], sfs: Dataset[SurfaceFormRow],
                         weights: Seq[Double],
                         threshold: Double = 0.5): DataFrame =
    lookedUp(rawSpots, sfs)
      .withColumn("spot_prob", weightedSpotScore(weights))
      .filter(col("spot_prob") >= threshold)
      .select("url", "para_idx", "offset", "sf", "spot_prob", "win")

  /** Overlap-mode spots: every word-aligned dictionary hit, including
   *  nested/crossing spans ([[AhoCorasick.findAllAligned]]) — the raw
   *  multi-spotter union shape that [[resolveOverlaps]] consumes
   *  (reference DBSpotter emits all gated matches and THEN runs
   *  dropOverlappingSpots, db/DBSpotter.scala:100-129; the
   *  leftmost-longest fast path in [[spots]] is the single-spotter
   *  shortcut). Same window tagging and id columns as [[spots]]. */
  def allSpots(paragraphs: Dataset[ParagraphRow], bc: Broadcast[AhoCorasick],
               maxContextTokens: Int = 250,
               sentenceAligned: Boolean = false): Dataset[SpotRow] =
    spotsWith(paragraphs, bc, maxContextTokens, sentenceAligned)(_.findAllAligned(_))

  /** A1 total counts: word-aligned overlap-mode match counts of every
   *  dictionary surface form over all paragraph text (the raw-string
   *  total of sfAndTotalCounts; SurfaceFormSource.scala:25-63 consumes the
   *  same quantity from Pig). Map-side combinable by construction. */
  def totalCounts(paragraphs: Dataset[ParagraphRow], bc: Broadcast[AhoCorasick]): DataFrame = {
    val spark = paragraphs.sparkSession
    import spark.implicits._
    paragraphs.mapPartitions { it =>
      val ac = bc.value
      it.flatMap { p =>
        ac.findAllAligned(p.para_text).iterator
          .map(m => p.para_text.substring(m.start, m.end))
      }
    }.toDF("sf")
      .groupBy("sf").agg(count(lit(1)).as("total_count"))
  }

  /** P11 ShortSurfaceFormSelector: drop spots shorter than 3 chars
   *  (spot/ShortSurfaceFormSelector.scala:10-15). */
  def dropShortSpots(spots: DataFrame, minLen: Int = 3): DataFrame =
    spots.filter(length(col("sf")) >= minLen)

  /** P11 NonCommonWordSelector: drop spots whose sf is in a common-words
   *  dictionary (spot/NonCommonWordSelector.scala:23-62) — anti join. */
  def dropCommonWords(spots: DataFrame, commonWords: DataFrame): DataFrame =
    spots.join(commonWords.select(col("word").as("sf")), Seq("sf"), "left_anti")

  /** R5: duplicate spot removal (DBSpotter.scala:131 `spots.distinct`). */
  def distinctSpots(spots: DataFrame): DataFrame =
    spots.dropDuplicates("url", "para_idx", "offset", "sf")

  /**
   * P4 score-aware overlap resolution — the reference's
   * `dropOverlappingSpots` cascade (db/DBSpotter.scala:129-179) for
   * multi-spotter composition: spots sorted by (offset, sf length); on
   * intersection, a longer spot displaces the previous one if its score
   * exceeds half the previous score, a shorter one survives only at
   * more than double, equal scores break on `typeOrder` rank of the
   * spot's source (`spot_type` column; indexOf semantics incl. the
   * reference's treatment of unknown types), otherwise higher score
   * wins. Per-(url, paragraph) flatMapGroups — the group is bounded by
   * spots-per-paragraph, the same list the reference buffers in memory.
   * [[AhoCorasick.findNonOverlapping]] remains the single-spotter
   * leftmost-longest fast path.
   */
  def resolveOverlaps(spots: DataFrame, typeOrder: Seq[String] = Nil): DataFrame = {
    val spark = spots.sparkSession
    import spark.implicits._
    val withType0 =
      if (spots.columns.contains("spot_type")) spots
      else spots.withColumn("spot_type", lit(""))
    val withType =
      if (withType0.columns.contains("win")) withType0
      else withType0.withColumn("win", lit(0))
    withType
      .select($"url", $"para_idx", $"offset", $"sf", $"spot_prob", $"spot_type", $"win")
      .as[(String, Int, Int, String, Double, String, Int)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroups { (_, it) =>
        val sorted = it.toArray.distinct.sortBy(s => (s._3, s._4.length))
        val removed = scala.collection.mutable.BitSet()
        var lastIdx = -1
        var i = 0
        while (i < sorted.length) {
          val s = sorted(i)
          val l = if (lastIdx >= 0) sorted(lastIdx) else null
          val intersects = l != null &&
            s._3 < l._3 + l._4.length && l._3 < s._3 + s._4.length
          if (intersects) {
            val betterType = typeOrder.indexOf(s._6) < typeOrder.indexOf(l._6)
            val spotIsLonger = s._4.length > l._4.length
            if (spotIsLonger && s._5 > l._5 / 2.0) { removed += lastIdx; lastIdx = i }
            else if (!spotIsLonger && !(s._5 > l._5 * 2.0)) removed += i
            else if (s._5 == l._5 && betterType) { removed += lastIdx; lastIdx = i }
            else if (s._5 == l._5 && !betterType) removed += i
            else if (s._5 > l._5) { removed += lastIdx; lastIdx = i }
            else removed += i
          } else lastIdx = i
          i += 1
        }
        sorted.iterator.zipWithIndex.collect { case (s, j) if !removed(j) => s }
      }
      .toDF("url", "para_idx", "offset", "sf", "spot_prob", "spot_type", "win")
  }

  /** P12: uppercase-sequence spans `([A-Z][^ ,!?.:;]*[ ]?)+`
   *  (db/DBSpotter.scala:23-29) — candidate spans for FSA-style spotting. */
  def capitalSequences(paragraphs: Dataset[ParagraphRow]): DataFrame = {
    val spark = paragraphs.sparkSession
    import spark.implicits._
    paragraphs.toDF()
      .select(col("url"), col("para_idx"),
        explode(expr("regexp_extract_all(para_text, '([A-Z][^ ,!?.:;]*[ ]?)+', 0)")).as("span"))
      .withColumn("span", trim(col("span")))
      .filter(length(col("span")) > 0)
  }

  /** C2-style top-k helper on any scored DataFrame. */
  def topKPerKey(df: DataFrame, keys: Seq[String], order: org.apache.spark.sql.Column, k: Int): DataFrame =
    df.withColumn("_rk", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(order)))
      .filter(col("_rk") <= k).drop("_rk")
}
