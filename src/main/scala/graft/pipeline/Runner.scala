package graft.pipeline

import scala.util.control.NonFatal
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
 * The model stages are the shared [[ModelGraph]] run through
 * [[checkpointed]]; Runner adds only what is its own: the run-scoped
 * checkpoint dir and the stages past the model —
 *   model ─> sim_thresholds ─> annotations ─> triples
 */
object Runner {

  final case class Result(model: Model, triples: DataFrame, root: String)

  /** Model tables whose committed stage is additionally written sorted +
   *  bucketed by its join key (SURVEY §4(2)). */
  private val BucketKeys = Map("candidates" -> "sf_id", "entity_contexts" -> "res_id")

  /** The checkpoint materializer: commit each model table as a stage
   *  under `root` and cache the read-back. Candidates and entity_contexts
   *  are swapped for their bucketed table, so every subsequent annotate
   *  run joins them without re-shuffling the model side. The bucketed
   *  table is rewritten only when the stage itself was recomputed (or
   *  the table is missing), so resume stays idempotent. */
  private[graft] def checkpointed(spark: SparkSession, root: String,
                                  buckets: Int = 32): ModelGraph.Materialize =
    (name, compute) => {
      val dir = s"$root/$name"
      val wasCommitted = Pipeline.isCommitted(dir)
      val df = Pipeline.stage(spark, dir)(compute())
      BucketKeys.get(name).fold(df) { key =>
        val table = Pipeline.bucketedTableName(root, name)
        if (!wasCommitted || !spark.catalog.tableExists(table))
          Pipeline.writeBucketed(df, table, key, buckets)
        spark.table(table)
      }.cache()
    }

  def run(spark: SparkSession,
          pages: org.apache.spark.sql.Dataset[WebPage],
          redirectsNt: Seq[String],
          disambiguationsNt: Seq[String],
          instanceTypesNt: Seq[String],
          root: String,
          buckets: Int = 32): Result = {
    import spark.implicits._
    def st(name: String)(f: => DataFrame): DataFrame =
      Pipeline.stage(spark, s"$root/$name")(f)

    // Reliable checkpoints live under the stage root THIS run owns:
    // denseIds (and anything else that cuts lineage) then survives
    // executor loss instead of depending on executor-local blocks. Set
    // per run — a dir pinned to an earlier run's root (the previous
    // first-run-wins guard) would write this run's recovery data under
    // a root with a different lifetime. The checkpoints are scoped to
    // the run: every stage re-reads its own parquet (Pipeline.stage),
    // so once the last stage commits nothing references them and the
    // dir is deleted below — Spark never cleans reliable-checkpoint
    // files unless the GC-driven cleanCheckpoints flag is on, and
    // leaking a dictionary-sized copy per run is exactly the disk
    // shape a resumable pipeline must not have. No restore of a prior
    // dir afterwards: getCheckpointDir returns the UUID subdir Spark
    // generated and setCheckpointDir eagerly mkdirs its argument, so
    // "restoring" would recreate the dir just deleted (and nest a UUID
    // per run). The session's checkpoint dir therefore stays pointed
    // under the LAST run's root; Spark lazily recreates the path if a
    // later lineage cut checkpoints before the next run re-points it.
    spark.sparkContext.setCheckpointDir(s"$root/_checkpoints")

    val (model, resolved) = ModelGraph.build(spark, pages, redirectsNt, disambiguationsNt,
      instanceTypesNt, graft.util.TextUtil.IdentityStemmer, withTotalCounts = true,
      checkpointed(spark, root, buckets))

    // F1 training as a model stage: simThresholds = ascending quantiles
    // of gold-correct similarity scores over the model's own corpus (the
    // artifact the reference ships as config.getSimilarityThresholds).
    // Persisted like any other model table, so a resumed run loads it
    // instead of re-running the scored DAG.
    val scoredDf = Annotate.scoredOn(spark, model, model.paragraphs).cache()
    val simThresholds = st("sim_thresholds") {
      val ts = graft.filter.AnnotationFilters.trainSimThresholds(
        graft.disambig.Disambiguator.best(scoredDf), resolved.toDF())
      ts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("quantile_idx", "threshold")
    }
    val thresholdsSeq = simThresholds.orderBy("quantile_idx")
      .select("threshold").as[Double].collect().toSeq

    val annotations = st("annotations") {
      Annotate.annotationsFrom(spark, scoredDf, simThresholds = thresholdsSeq).toDF()
    }.as[AnnotationRow]

    val triples = st("triples") {
      Triples.all(annotations, model.resources, model.closure).toDF()
    }

    // Every stage is committed and parquet-backed: the run's reliable
    // checkpoints are now unreferenced. Best-effort delete (a failed
    // cleanup must not fail a successful run); debris from a previous
    // interrupted run under the same root goes with it.
    try deleteLocalDir(s"$root/_checkpoints")
    catch { case NonFatal(_) => () }

    Result(model, triples, root)
  }

  /** Recursive local-fs delete for run-scoped checkpoint dirs. */
  private def deleteLocalDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path.stripPrefix("file:"))
    if (java.nio.file.Files.exists(p)) {
      java.nio.file.Files.walk(p)
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
    }
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
