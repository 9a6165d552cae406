package graft

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import graft.model.SpotRow
import graft.pipeline.{Annotate, Model}
import graft.spot.{AhoCorasick, Spotter}
import graft.triples.Triples

/**
 * Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
 *
 * `entry` runs the flagship minimum slice (SURVEY.md §7.2): synthetic
 * corpus → model build → annotate → page-mentions-entity triples.
 *
 * `queries` exposes one DataFrame per implemented operator family; where
 * the operator is ANSI-expressible over the driver's parquet tables the
 * matching `oracleSql` entry lets DuckDB cross-check values; pipeline
 * stages over the synthetic corpus are deterministic but UDF-driven, so
 * they get the rows-only check.
 */
object SparkEntry {

  /** Flagship query; driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val m = Annotate.syntheticModel(spark, nDocs = 30, withTotalCounts = false)
    Triples.all(Annotate.annotationsFrom(spark, Annotate.scoredOn(spark, m, m.paragraphs)),
      m.resources, m.closure).toDF()
  }

  /** The shared 120-doc model of one session and its expensive derived
    * stages, each built on first use. Six queries consume `scored`, and
    * recomputing its join DAG per query would dominate Verify/Bench
    * wall-clock. */
  private final class Shared(val spark: SparkSession) {
    lazy val model: Model = Annotate.syntheticModel(spark, nDocs = 120)
    lazy val automaton: Broadcast[AhoCorasick] =
      spark.sparkContext.broadcast(Spotter.buildAutomaton(model.surfaceForms))
    /** Raw (pre-gate) leftmost-longest spots — emitted as `p_raw_spots`
      * so the DuckDB oracles can re-derive both spot gates from it. */
    lazy val raw: DataFrame = Spotter.spots(model.paragraphs, automaton).toDF().cache()
    lazy val gated: DataFrame = Spotter.gatedSpots(
      raw.as[SpotRow](Encoders.product[SpotRow]), model.surfaceForms).cache()
    lazy val scored: DataFrame =
      Annotate.scoredOn(spark, model, model.paragraphs, automaton = Some(automaton)).cache()
  }

  private var shared: Option[Shared] = None
  private def of(spark: SparkSession): Shared = synchronized {
    shared.filter(_.spark eq spark).getOrElse {
      val s = new Shared(spark)
      shared = Some(s)
      s
    }
  }

  private[graft] def model(spark: SparkSession): Model = of(spark).model
  private[graft] def rawSpots(spark: SparkSession): DataFrame = of(spark).raw
  private[graft] def gated(spark: SparkSession): DataFrame = of(spark).gated
  private[graft] def scored(spark: SparkSession): DataFrame = of(spark).scored

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    PipelineQueries.queries ++ RelationalQueries.queries ++ TextOpsQueries.queries

  /** Pipeline oracles reference already-emitted parquet via
    * [[PipelineQueries.OutPlaceholder]]; Verify substitutes the real
    * output dir before writing oracle_sql.json. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracleSql ++ TextOpsQueries.oracleSql ++ PipelineQueries.oracleSql
}
