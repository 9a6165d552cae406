package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Pipeline, Runner}
import graft.sources.SyntheticCorpus

/** The north-rule resume test: kill the pipeline after stage N (delete
  * downstream commits), rerun, assert identical outputs, that committed
  * upstream stages were skipped (mtime unchanged) and that the run
  * leaves no cache or catalog table behind. */
class RunnerSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private def runAll(root: String) =
    Runner.run(spark,
      SyntheticCorpus.webPages(spark, 40),
      SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt,
      SyntheticCorpus.instanceTypesNt,
      root)

  test("full DAG commits every stage; resume after mid-pipeline failure is idempotent") {
    val root = Files.createTempDirectory("graft_runner").toString
    spark.catalog.clearCache() // specs share the session: start from an empty cache
    val r1 = runAll(root)
    val triples1 = r1.triples.collect().toSet
    assert(triples1.nonEmpty)
    val stages = Seq("paragraphs", "occurrences", "redirect_closure",
      "resolved_occurrences", "surface_forms", "resources", "candidates",
      "token_types", "entity_contexts", "sim_thresholds", "annotations", "triples")
    stages.foreach(s => assert(Pipeline.isCommitted(s"$root/$s"), s"$s not committed"))

    // F1 training artifact: ascending similarity-score quantiles, applied
    // to the annotations stage (conf 0.1 → the 10th-percentile threshold)
    val ts = spark.read.parquet(s"$root/sim_thresholds")
      .orderBy("quantile_idx").select("threshold")
      .collect().map(_.getDouble(0)).toSeq
    assert(ts.length === 101)
    assert(ts === ts.sorted)
    val minSim = spark.read.parquet(s"$root/annotations")
      .agg(org.apache.spark.sql.functions.min("similarity_score")).head().getDouble(0)
    assert(minSim >= ts(10), s"annotation below trained threshold: $minSim < ${ts(10)}")

    // simulate a crash after entity_contexts: drop downstream commits
    Pipeline.invalidate(s"$root/annotations")
    Pipeline.invalidate(s"$root/triples")
    val sfMarkerBefore = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root/surface_forms/_graft_commit.json"))

    val r2 = runAll(root)
    val triples2 = r2.triples.collect().toSet
    assert(triples2 === triples1) // identical rows after resume

    // upstream stage was skipped, not recomputed (commit marker untouched)
    val sfMarkerAfter = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$root/surface_forms/_graft_commit.json"))
    assert(sfMarkerAfter === sfMarkerBefore)

    // the run leaves nothing behind in the session: no cached table
    // (model read-backs, scored DAG) and no catalog table
    assert(spark.sharedState.cacheManager.isEmpty, "Runner.run left cached data")
    val tables = spark.catalog.listTables().collect().map(_.name).filter(_.startsWith("graft_"))
    assert(tables.isEmpty, s"Runner.run left catalog tables: ${tables.mkString(", ")}")
  }

  test("partitioned triple sink writes pred dirs + counters") {
    val root = Files.createTempDirectory("graft_sink").toString
    val r = runAll(root)
    val out = s"$root/graph"
    Runner.writeTriples(r.triples, out)
    val preds = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("pred=")).map(_.getName).toSet
    assert(preds.contains("pred=mentions") && preds.contains("pred=rdf%3Atype"))
    val counters = Files.readString(java.nio.file.Paths.get(s"$out/_graft_counters.json"))
    assert(counters.contains("\"mentions\":"))
    // partition pruning: reading one predicate touches only its dir
    val mentions = spark.read.parquet(out).where("pred = 'mentions'")
    assert(mentions.count() > 0)
  }
}
