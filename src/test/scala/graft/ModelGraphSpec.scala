package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.{Annotate, Model, ModelGraph, Runner}
import graft.sources.SyntheticCorpus
import graft.util.PorterStemmer

/** One model-build graph: the checkpointed Runner path and the
  * session-cached buildModel path build the same tables, with the same
  * stemmer threading, and both release the page cache; a build runs a
  * bounded number of Spark jobs. */
class ModelGraphSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private def pages() = SyntheticCorpus.webPages(spark, 40)

  private def tables(m: Model): Map[String, Set[Any]] = Map(
    "surface_forms" -> m.surfaceForms.collect().toSet,
    "resources" -> m.resources.collect().toSet,
    "candidates" -> m.candidates.collect().toSet,
    "token_types" -> m.tokenTypes.collect().toSet,
    "entity_contexts" -> m.entityContexts.collect().toSet)

  private def assertSameTables(a: Map[String, Set[Any]], b: Map[String, Set[Any]]): Unit =
    a.keys.foreach { t =>
      assert(a(t).nonEmpty, s"$t is empty")
      assert(a(t) === b(t), s"$t differs")
    }

  test("Runner.run and buildModel build identical model tables and release the page cache") {
    val root = Files.createTempDirectory("graft_graph").toString
    val runnerPages = pages()
    val viaRunner = Runner.run(spark, runnerPages, SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt, SyntheticCorpus.instanceTypesNt, root).model
    assert(runnerPages.storageLevel === StorageLevel.NONE, "Runner path leaves pages cached")

    val cachedPages = pages()
    val viaCache = Annotate.buildModel(spark, cachedPages, SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt, SyntheticCorpus.instanceTypesNt)
    assert(cachedPages.storageLevel === StorageLevel.NONE, "buildModel leaves pages cached")

    assertSameTables(tables(viaRunner), tables(viaCache))
  }

  test("a checkpointed model build runs each step once") {
    // a second surface-form pass or a per-hop closure loop adds jobs
    val root = Files.createTempDirectory("graft_graph_jobs").toString
    val jobs = SparkJobs.jobsOf(spark) {
      ModelGraph.build(spark, pages(), SyntheticCorpus.redirectsNt,
        SyntheticCorpus.disambiguationsNt, SyntheticCorpus.instanceTypesNt,
        graft.util.TextUtil.IdentityStemmer, withTotalCounts = true, Runner.checkpointed(spark, root))
    }
    info(s"model build over 40 pages: $jobs jobs")
    assert(jobs <= 54)
  }

  test("stemmer threads through the checkpointed graph as through buildModel") {
    val root = Files.createTempDirectory("graft_graph_stem").toString
    val (viaCheckpoints, _) = ModelGraph.build(spark, pages(), SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt, SyntheticCorpus.instanceTypesNt,
      PorterStemmer.stem, withTotalCounts = true, Runner.checkpointed(spark, root))
    val viaCache = Annotate.buildModel(spark, pages(), SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt, SyntheticCorpus.instanceTypesNt,
      stemmer = PorterStemmer.stem)
    val stemmed = tables(viaCheckpoints).view.filterKeys(Set("token_types", "entity_contexts")).toMap
    assertSameTables(stemmed, tables(viaCache))

    // the stemmer is really applied: some token differs from its unstemmed form
    val unstemmed = Annotate.buildModel(spark, pages(), SyntheticCorpus.redirectsNt,
      SyntheticCorpus.disambiguationsNt, SyntheticCorpus.instanceTypesNt)
    assert(viaCheckpoints.tokenTypes.collect().map(_.token).toSet !=
      unstemmed.tokenTypes.collect().map(_.token).toSet)
  }
}
