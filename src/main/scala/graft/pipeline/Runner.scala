package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model._
import graft.triples.Triples

/**
 * The checkpointed end-to-end DAG (SURVEY.md §3.2 restatement): each
 * stage materializes to `<root>/<stage>/` parquet with a commit marker
 * (`{"stage":…,"rows":N}`) via [[Pipeline.stage]]; a re-run skips
 * every committed stage and recomputes only downstream of the first
 * missing commit — the north rule's idempotent resume. Stage outputs are
 * deterministic (stable IDs, seeded corpus, pure extract), so a resumed
 * run is row-identical to an uninterrupted one (`RunnerSpec`).
 *
 * Each table is written once, as its stage, and the committed read-back
 * is the table every later stage reads: the stage commit is both the
 * recovery unit and the lineage cut. The model stages are the shared
 * [[ModelGraph]] run through [[checkpointed]]; Runner adds only the
 * stages past the model —
 *   model ─> sim_thresholds ─> annotations ─> triples
 * and leaves nothing in the session cache once it returns.
 */
object Runner {

  final case class Result(model: Model, triples: DataFrame, root: String)

  /** The checkpoint materializer: commit each table as a stage under
   *  `root`; the committed read-back is the table. */
  private[graft] def checkpointed(spark: SparkSession, root: String): ModelGraph.Materialize =
    (name, compute) => Pipeline.stage(spark, s"$root/$name")(compute())

  def run(spark: SparkSession,
          pages: org.apache.spark.sql.Dataset[WebPage],
          redirectsNt: Seq[String],
          disambiguationsNt: Seq[String],
          instanceTypesNt: Seq[String],
          root: String): Result = {
    import spark.implicits._
    val commit = checkpointed(spark, root)
    val (model, resolved) = ModelGraph.build(spark, pages, redirectsNt, disambiguationsNt,
      instanceTypesNt, graft.util.TextUtil.IdentityStemmer, withTotalCounts = true, commit)

    // F1 training as a model stage: simThresholds = ascending quantiles
    // of gold-correct similarity scores over the model's own corpus (the
    // artifact the reference ships as config.getSimilarityThresholds).
    // Persisted like any other model table, so a resumed run loads it
    // instead of re-running the scored DAG. The scored DAG is cached for
    // its two readers (thresholds, annotations) and released after both.
    val scoredDf = Annotate.scoredOn(spark, model, model.paragraphs).cache()
    val simThresholds = commit("sim_thresholds", () => {
      val ts = graft.filter.AnnotationFilters.trainSimThresholds(
        graft.disambig.Disambiguator.best(scoredDf), resolved.toDF())
      ts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("quantile_idx", "threshold")
    })
    val thresholdsSeq = simThresholds.orderBy("quantile_idx")
      .select("threshold").as[Double].collect().toSeq

    val annotations = commit("annotations",
      () => Annotate.annotationsFrom(spark, scoredDf, simThresholds = thresholdsSeq).toDF())
      .as[AnnotationRow]
    scoredDf.unpersist()

    val triples = commit("triples",
      () => Triples.all(annotations, model.resources, model.closure).toDF())

    Result(model, triples, root)
  }

  /** Final graph sink: triples partitioned by predicate (Iceberg-style
   *  dir layout), with a counters JSON next to the commit marker. */
  def writeTriples(triples: DataFrame, dir: String): Unit = {
    triples.write.mode("overwrite").partitionBy("pred").parquet(dir)
    val counts = triples.groupBy("pred").count().collect()
      .map(r => s""""${r.getString(0)}": ${r.getLong(1)}""").mkString(",")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "_graft_counters.json"), s"{$counts}")
  }
}
