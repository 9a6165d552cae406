package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/**
 * Scale-design evidence (SURVEY.md §4, §7.4(2)): the skew fixture must
 * not funnel a hot key through one reducer, the scored DAG's joins reuse
 * a partitioning on a subset of their keys, the C4 retry path resolves
 * variant surface forms, and the physical plans the design relies on:
 * scan pushdown, map-side partial aggregation, model dimensions that the
 * planner broadcasts by their size, and no broadcast at all (same rows)
 * when the broadcast threshold is off.
 */
class ScaleDesignSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private object Plan extends AdaptiveSparkPlanHelper

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try body finally spark.conf.set(key, prev)
  }

  /** Rows as sorted strings: a multiset compare that reads arrays and
    * doubles exactly. */
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `df`'s executed plan, run to completion (so an adaptive plan is final). */
  private def executed(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  /** The executed plan of every query `action` runs, each as its tree
    * string (for an adaptive plan: the final and the initial plan, with
    * every nested and cached subplan). Listener events arrive in order
    * on the shared queue, so a barrier job's start marks that every
    * earlier query's event has been delivered. */
  private def plansOf(action: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val sc = spark.sparkContext
    val barrier = java.util.UUID.randomUUID().toString
    val done = new java.util.concurrent.CountDownLatch(1)
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).map(_.getProperty("spark.jobGroup.id")).contains(barrier))
          done.countDown()
    }
    spark.listenerManager.register(qel)
    sc.addSparkListener(jobs)
    try {
      action
      sc.setJobGroup(barrier, "barrier")
      sc.parallelize(Seq(1), 1).count()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(jobs)
      spark.listenerManager.unregister(qel)
    }
    plans.asScala.toSeq
  }

  test("a plain sum ships the hot key as at most one partial row per input partition") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // 50k rows of one hot key ("USA"-style) + a tail of 500 distinct keys,
    // summed the way the surface-form, support and pair counts are
    val hot = spark.range(0, 50000, 1, 8).select(lit("USA").as("sf"), lit(1L).as("weight"))
    val tail = spark.range(0, 500, 1, 2)
      .select(concat(lit("sf"), col("id")).as("sf"), lit(1L).as("weight"))
    val occs = hot.unionByName(tail)
    val partitions = occs.rdd.getNumPartitions
    val counts = occs.groupBy("sf").agg(sum("weight").as("cnt"))
    val exchanges = Plan.collect(executed(counts)) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1)
    // each tail key is one input row, hence one partial row: the rest of
    // what the exchange carries is the hot key's partial sums
    val hotPartials = exchanges.head.metrics("shuffleRecordsWritten").value - 500
    info(s"hot key: 50000 rows in, $hotPartials partial rows over $partitions input partitions")
    assert(hotPartials >= 1 && hotPartials <= partitions)
    assert(counts.filter(col("sf") === "USA").head().getLong(1) === 50000L)
  }

  test("scored DAG: partial-key co-partitioning saves shuffles") {
    // the spot-candidate rows and the doc-token histogram are both
    // partitioned by paragraph (url, para_idx); the context join on
    // (url, para_idx, win) reuses that partitioning instead of
    // re-shuffling both of its sides on all three keys
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.pipeline.{Annotate, ModelGraph, Runner}
    import graft.sources.SyntheticCorpus
    // the model as Runner.run returns it: committed parquet read-backs
    val root = java.nio.file.Files.createTempDirectory("graft_copart").toString
    val (m, _) = ModelGraph.build(spark, SyntheticCorpus.webPages(spark, 40),
      SyntheticCorpus.redirectsNt, SyntheticCorpus.disambiguationsNt,
      SyntheticCorpus.instanceTypesNt, graft.util.TextUtil.IdentityStemmer,
      withTotalCounts = true, Runner.checkpointed(spark, root))
    def shuffles(requireAll: Boolean): Int =
      withConf("spark.sql.requireAllClusterKeysForCoPartition", requireAll.toString) {
        val plan = Annotate.scoredOn(spark, m, m.paragraphs).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.initialPlan
          case p => p
        }
        plan.collect { case e: ShuffleExchangeExec => e }.size
      }
    // the at-scale shape: the planner broadcasts model tables and shuffles
    // document-side joins. The test corpus's tables are all kilobytes, so
    // a lower threshold than the session's 64 MB draws the same line.
    withConf(Threshold, "200000") {
      val (subset, all) = (shuffles(requireAll = false), shuffles(requireAll = true))
      info(s"shuffle exchanges: $subset with partial-key co-partitioning, $all without")
      assert(all - subset === 2)
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
    // the only nested-loop allowed is the keyless 1-row totals cross
    // join; the vocabulary join must never degrade to a cartesian product
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

  test("parquet scans push the filter and prune columns; sums combine map-side") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.Partial
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val tables = java.nio.file.Files.createTempDirectory("graft_scan").toString
    val dir = s"$tables/lineitem.parquet"
    spark.range(2000).select(col("id").as("l_orderkey"), (col("id") % 97).as("l_partkey"),
      (col("id") % 50).cast("double").as("l_quantity"), lit("n/a").as("l_comment"))
      .write.parquet(dir)
    val li = spark.read.parquet(dir)
    val scans = Plan.collect(executed(
      li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity"))) {
      case f: FileSourceScanExec => f
    }
    assert(scans.size === 1)
    assert(scans.head.metadata("PushedFilters").contains("GreaterThan(l_quantity,30.0)"))
    assert(scans.head.requiredSchema.fieldNames.toSeq === Seq("l_orderkey", "l_quantity"))

    // the skewed-key sum has one exchange, and it ships partial sums, not rows
    val summed = RelationalQueries.queries("r_salted_agg")(spark, tables)
    val exchanges = (summed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.size === 1)
    val agg = exchanges.head.child.collectFirst { case h: HashAggregateExec => h }
    assert(agg.exists(_.aggregateExpressions.exists(_.mode == Partial)), exchanges.head.treeString)
  }

  test("at fixture scale the planner broadcasts the model dimensions by their size") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val m = SparkEntry.model(spark)
    val joinKeys = Plan.collect(executed(graft.pipeline.Annotate.scoredOn(spark, m, m.paragraphs))) {
      case j: BroadcastHashJoinExec => j.rightKeys.flatMap(_.references.map(_.name)).toSet
    }
    assert(joinKeys.contains(Set("res_id")), s"resources not broadcast: $joinKeys")
    assert(joinKeys.contains(Set("res_id", "token_id")), s"entity_contexts not broadcast: $joinKeys")
  }

  test("LSH ANN joins on bucket keys, never a cartesian product") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val vecs = (0 until 32).map { i =>
      (i.toLong, (0 until 16).map(d => math.sin(i % 8 * 31 + d * 7) + 0.001 * i).toArray)
    }.toDF("id", "vec")
    val plan = executed(graft.textops.Similarity.lshTopK(vecs.limit(8), vecs, k = 5, nBits = 8,
      dims = 16))
    val joins = Plan.collect(plan) { case j: BaseJoinExec => j }
    assert(joins.nonEmpty && joins.forall(_.leftKeys.nonEmpty), plan.treeString)
    assert(!plan.treeString.contains("CartesianProduct"))
  }

  test("threshold -1: the model graph and annotate path plan no broadcast, same rows") {
    import graft.pipeline.Runner
    import graft.sources.SyntheticCorpus
    // Runner.run: the model graph, then scoredOn -> annotationsFrom ->
    // Triples.all; every committed stage read back as rows
    def run(): (Map[String, Seq[String]], Seq[String]) = {
      val root = java.nio.file.Files.createTempDirectory("graft_nobroadcast").toString
      val plans = plansOf(Runner.run(spark, SyntheticCorpus.webPages(spark, 40),
        SyntheticCorpus.redirectsNt, SyntheticCorpus.disambiguationsNt,
        SyntheticCorpus.instanceTypesNt, root))
      val stages = new java.io.File(root).listFiles().filter(_.isDirectory).map(_.getName)
      (stages.map(st => st -> rowsOf(spark.read.parquet(s"$root/$st"))).toMap, plans)
    }
    val (expected, _) = run()
    val (rows, plans) = withConf(Threshold, "-1")(run())
    assert(plans.nonEmpty)
    val broadcasting = plans.filter(p =>
      p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"))
    assert(broadcasting.isEmpty, broadcasting.headOption)
    assert(rows.keySet === expected.keySet && rows.contains("triples"))
    expected.foreach { case (stage, r) => assert(rows(stage) === r, s"$stage differs") }
  }

  test("threshold -1: formerly hinted joins off the annotate path keep their rows, keyed joins stay keyed") {
    import spark.implicits._
    import org.apache.spark.sql.execution.joins.CartesianProductExec
    import graft.filter.{AnnotationFilters, OccurrenceFilters}
    import graft.textops.{Decontaminate, LmQuality, Similarity}
    val vecs = (0 until 24).map { i =>
      (i.toLong, (0 until 16).map(d => math.sin(i % 8 * 31 + d * 7) + 0.001 * i).toArray)
    }.toDF("id", "vec")
    val docs = Seq((1L, "a b c d e"), (2L, "b c d e f"), (3L, "x y"), (4L, "a b c q r"))
      .toDF("doc_id", "text")
    // the columns the relational queries read, as small parquet tables
    val dir = java.nio.file.Files.createTempDirectory("graft_rel").toString
    def table(name: String, df: DataFrame): Unit = df.write.parquet(s"$dir/$name.parquet")
    table("lineitem", spark.range(200).select(col("id").as("l_orderkey"),
      (col("id") % 20).as("l_partkey"), (col("id") % 7).cast("double").as("l_quantity"),
      (col("id") * 1.5).as("l_extendedprice"), (col("id") % 5 / 100.0).as("l_discount")))
    table("part", spark.range(20).select(col("id").as("p_partkey"),
      concat(lit("Brand#"), col("id") % 4).as("p_brand")))
    table("orders", spark.range(200).select(col("id").as("o_orderkey"),
      (col("id") % 30).as("o_custkey")))
    table("customer", spark.range(30).select(col("id").as("c_custkey"),
      (col("id") % 5).as("c_nationkey")))
    table("supplier", spark.range(10).select(col("id").as("s_suppkey"),
      (col("id") * 10.0 + 1).as("s_acctbal")))
    val rel = RelationalQueries.queries
    val uris = Seq("A", "B").toDF("uri")
    val anns = Seq(("u", "A"), ("u", "C"), ("v", "B")).toDF("url", "uri")
    val spots = Seq(("u", "the"), ("u", "Berlin")).toDF("url", "sf")
    // (operator, its keyless cross joins: the most CartesianProducts it may plan)
    val cases: Seq[(String, () => DataFrame, Int)] = Seq(
      ("bruteForceTopK", () => Similarity.bruteForceTopK(vecs, vecs, 3), 1),
      ("ivfTopK", () => Similarity.ivfTopK(vecs, vecs, 3, nCells = 4, nProbe = 2, dims = 16), 2),
      ("crossEntropy", () => LmQuality.crossEntropy(docs), 1),
      ("flag", () => Decontaminate.flag(docs, docs, n = 3), 0),
      ("r_join_agg", () => rel("r_join_agg")(spark, dir), 0),
      ("r_prior_share", () => rel("r_prior_share")(spark, dir), 1),
      ("r_multi_join", () => rel("r_multi_join")(spark, dir), 0),
      ("uriList", () => AnnotationFilters.uriList(anns, uris), 0),
      ("uriList blacklist", () => AnnotationFilters.uriList(anns, uris, whitelist = false), 0),
      ("uriWhitelist", () => OccurrenceFilters.uriWhitelist(anns, uris), 0),
      ("dropCommonWords",
        () => graft.spot.Spotter.dropCommonWords(spots, Seq("the").toDF("word")), 0))
    cases.foreach { case (name, op, crossJoins) =>
      val expected = rowsOf(op())
      assert(expected.nonEmpty, name)
      withConf(Threshold, "-1") {
        val df = op()
        assert(rowsOf(df) === expected, s"$name: rows differ at threshold -1")
        val plan = df.queryExecution.executedPlan
        assert(!plan.toString.contains("BroadcastHashJoin"), s"$name broadcasts at threshold -1")
        val cartesians = Plan.collect(plan) { case c: CartesianProductExec => c }.size
        assert(cartesians <= crossJoins, s"$name: a keyed join planned as a cartesian product")
      }
    }
  }
}
