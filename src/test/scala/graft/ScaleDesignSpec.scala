package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.modelbuild.ModelBuild

/**
 * Scale-design evidence (SURVEY.md §4, §7.4(2)): the skew fixture must
 * not funnel a hot key through one reducer, the scored DAG's joins reuse
 * a partitioning on a subset of their keys, and the C4 retry path
 * resolves variant surface forms.
 */
class ScaleDesignSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  test("salted aggregation splits the hot key across reducers") {
    import spark.implicits._
    // 50k rows of one hot key ("USA"-style) + a small tail
    val hot = spark.range(50000).select(
      lit("USA").as("sf"), lit(1L).as("weight"),
      concat(lit("url"), col("id")).as("url"))
    val tail = spark.range(500).select(
      concat(lit("sf"), col("id")).as("sf"), lit(1L).as("weight"),
      concat(lit("u"), col("id")).as("url"))
    val occs = hot.unionByName(tail)

    // the partial (salted) stage must spread USA over many sub-keys:
    // reproduce the partial aggregation and count distinct salts used
    val partial = occs
      .withColumn("_salt", pmod(xxhash64(col("url")), lit(64)))
      .groupBy("sf", "_salt").agg(sum("weight").as("w"))
    val saltsForHot = partial.filter(col("sf") === "USA").count()
    assert(saltsForHot >= 32, s"hot key spread over only $saltsForHot salts")
    // max partial-group size is bounded far below the hot-key total
    val maxGroup = partial.agg(max("w")).head().getLong(0)
    assert(maxGroup <= 50000 / 16, s"one salted group still holds $maxGroup rows")

    // and the final result is exact
    val total = ModelBuild.saltedSum(occs.toDF(), Seq("sf"), col("weight"), col("url"))
      .filter(col("sf") === "USA").head().getLong(1)
    assert(total === 50000L)
  }

  test("scored DAG: partial-key co-partitioning saves shuffles") {
    // the spot-candidate rows and the doc-token histogram are both
    // partitioned by paragraph (url, para_idx); the context join on
    // (url, para_idx, win) reuses that partitioning instead of
    // re-shuffling both of its sides on all three keys
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.pipeline.{Annotate, ModelGraph, Runner}
    import graft.sources.SyntheticCorpus
    // the model as Runner.run returns it: committed parquet read-backs
    val root = java.nio.file.Files.createTempDirectory("graft_copart").toString
    val (m, _) = ModelGraph.build(spark, SyntheticCorpus.webPages(spark, 40),
      SyntheticCorpus.redirectsNt, SyntheticCorpus.disambiguationsNt,
      SyntheticCorpus.instanceTypesNt, graft.util.TextUtil.IdentityStemmer,
      withTotalCounts = true, Runner.checkpointed(spark, root))
    val key = "spark.sql.requireAllClusterKeysForCoPartition"
    val threshold = "spark.sql.autoBroadcastJoinThreshold"
    def shuffles(requireAll: Boolean): Int = {
      spark.conf.set(key, requireAll.toString)
      val plan = Annotate.scoredOn(spark, m, m.paragraphs).queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case p => p
      }
      plan.collect { case e: ShuffleExchangeExec => e }.size
    }
    val (prev, prevThreshold) = (spark.conf.get(key), spark.conf.get(threshold))
    try {
      // the at-scale shape: model tables broadcast, document-side joins
      // shuffle. The test corpus's tables are all kilobytes, so a lower
      // threshold than the session's 64 MB draws the same line.
      spark.conf.set(threshold, "200000")
      val (subset, all) = (shuffles(requireAll = false), shuffles(requireAll = true))
      info(s"shuffle exchanges: $subset with partial-key co-partitioning, $all without")
      assert(all - subset === 2)
    } finally {
      spark.conf.set(key, prev)
      spark.conf.set(threshold, prevThreshold)
    }
  }

  test("C4 retry resolves variant surface forms when enabled") {
    import spark.implicits._
    // plural "Cars" is NOT caught by T4 normalization ("/cars" != "/car");
    // only the C4 variant retry ("Cars" → "Car") can resolve it
    val sfs = Seq(
      graft.model.SurfaceFormRow(1, "Car", "/car", 10L, 20L)).toDS()
    val cands = Seq(graft.model.CandidateRow(1, 7, 10L, 1)).toDS()
    val spots = Seq(("u", 1, 0, "Cars", 1.0))
      .toDF("url", "para_idx", "offset", "sf", "spot_prob")
    val off = graft.disambig.Disambiguator.spotCandidates(
      spots, sfs, cands, graft.disambig.Disambiguator.Config())
    assert(off.count() === 0)
    val on = graft.disambig.Disambiguator.spotCandidates(
      spots, sfs, cands,
      graft.disambig.Disambiguator.Config(morphologicalRetry = true))
    val row = on.head()
    assert(on.count() === 1)
    assert(row.getAs[Int]("res_id") === 7)
    assert(row.getAs[String]("sf") === "Cars") // original sf preserved

    // a case-insensitive automaton's match may differ in case from the
    // dictionary entry: such spots carry no sf_id and resolve on the
    // normalized key ("CAR" → "/car")
    val bc = spark.sparkContext.broadcast(
      graft.spot.Spotter.buildAutomaton(sfs, caseSensitive = false))
    val folded = graft.spot.Spotter.spots(
      Seq(graft.model.ParagraphRow("u", 2, "The CAR was red.")).toDS(), bc).toDF()
    assert(!graft.spot.Spotter.carriesSfIds(folded))
    val hit = graft.disambig.Disambiguator.spotCandidates(
      folded, sfs, cands, graft.disambig.Disambiguator.Config()).collect()
    assert(hit.map(r => (r.getAs[String]("sf"), r.getAs[Int]("res_id"))).toSeq === Seq(("CAR", 7)))
  }

  test("lm quality joins hash, url canonicalization stays in codegen") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "b c d")).toDF("doc_id", "text")
    // the only nested-loop allowed is the hinted 1-row totals broadcast;
    // the vocabulary join must never degrade to a cartesian product
    val lmPlan = graft.textops.LmQuality.crossEntropy(docs)
      .queryExecution.executedPlan.toString
    assert(!lmPlan.contains("CartesianProduct"), "LM scoring plans a cartesian product")
    // canonicalization is pure column algebra, no UDF, no shuffle: the
    // regexp stages codegen ("*(n)" spans); the param filter/sort are
    // higher-order Catalyst expressions (interpreted, still one Project).
    // (a local Seq relation would be constant-folded away entirely —
    // plan over a range leaf so the expression pipeline is visible)
    val uPlan = graft.textops.UrlNormalize
      .syntheticUrls(spark.range(4).select(col("id").as("doc_id")))
      .withColumn("canonical_url",
        graft.textops.UrlNormalize.canonicalize(col("url")))
      .queryExecution.executedPlan.toString
    assert(uPlan.contains("*(1)"), "url construction fell out of codegen")
    assert(!uPlan.contains("ScalaUDF") && !uPlan.contains("BatchEvalPython"),
      "url canonicalization left column algebra")
    assert(!uPlan.contains("Exchange"), "url canonicalization is not map-only")
  }

  test("connected-components star rounds are join-based, no cartesian, no arrays") {
    import spark.implicits._
    val edges = Seq.tabulate(200)(i => (i.toLong, (i + 1).toLong)).toDF("a", "b")
      .select(col("a").as("src"), col("b").as("dst"))
    for ((name, step) <- Seq(
        "largeStar" -> graft.textops.ConnectedComponents.largeStar(edges),
        "smallStar" -> graft.textops.ConnectedComponents.smallStar(edges))) {
      val plan = step.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
      assert(!plan.contains("collect_list") && !plan.contains("collect_set"),
        s"$name materializes per-node neighbor arrays")
    }
  }
}
