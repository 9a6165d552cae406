package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Stage orchestration with Iceberg-style per-stage checkpoints: every
 * stage writes parquet once, plus a commit marker carrying its row
 * count; a committed stage is skipped on re-run, so the pipeline resumes
 * idempotently from any completed table (north rule; the reference's
 * CreateSpotlightModel similarly writes each store once, to disk,
 * between stages, CreateSpotlightModel.scala:143-228). The table a stage
 * returns reads the committed files, so the commit is also the stage's
 * lineage cut.
 *
 * Layout per stage dir:
 *   <root>/<stage>/           parquet files
 *   <root>/<stage>/_graft_commit.json   {"stage":"<stage>","rows":N}
 */
object Pipeline {

  private def commitPath(dir: String) = Paths.get(dir, "_graft_commit.json")

  def isCommitted(dir: String): Boolean = Files.exists(commitPath(dir))

  /**
   * Run or resume a stage: if the commit marker exists, read the table
   * back; otherwise compute, persist, write the marker atomically last.
   * The marker's row count is observed on the write itself (no read-back
   * job), and the returned table reads the written files with the
   * computed schema (no schema-inference job). Deterministic stage logic
   * (fixed seeds, stable IDs) makes re-runs byte-equal — the resume test
   * in PipelineSpec asserts it.
   */
  def stage(spark: SparkSession, dir: String)(compute: => DataFrame): DataFrame = {
    if (isCommitted(dir)) {
      spark.read.parquet(dir)
    } else {
      val df = compute
      val written = Observation()
      df.observe(written, count(lit(1)).as("rows")).write.mode("overwrite").parquet(dir)
      val rows = written.get("rows")
      Files.writeString(commitPath(dir),
        s"""{"stage":"${Paths.get(dir).getFileName}","rows":$rows}""")
      spark.read.schema(df.schema).parquet(dir)
    }
  }

  /** Remove a stage's commit marker (used by the resume test to simulate
   *  a mid-pipeline failure). */
  def invalidate(dir: String): Unit = {
    Files.deleteIfExists(commitPath(dir)); ()
  }
}
