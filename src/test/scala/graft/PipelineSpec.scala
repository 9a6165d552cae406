package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline
import graft.sources.{OccurrenceTsv, SyntheticCorpus}

/** Checkpoint/resume idempotence (north rule) + the S7 TSV interchange
  * format + eval corpus readers. */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  test("stage commit: second run skips recompute; invalidate forces rerun") {
    val root = Files.createTempDirectory("graft_stages").toString
    var computations = 0
    def computed() = {
      computations += 1
      SyntheticCorpus.webPages(spark, 10).toDF()
        .select("url", "lang")
    }
    val a = Pipeline.stage(spark, s"$root/pages")(computed())
    assert(computations === 1 && Pipeline.isCommitted(s"$root/pages"))
    val b = Pipeline.stage(spark, s"$root/pages")(computed())
    assert(computations === 1) // skipped: read back from committed parquet
    assert(a.collect().toSet === b.collect().toSet)
    // the commit marker's row count is the written table's
    val marker = Files.readString(java.nio.file.Paths.get(s"$root/pages/_graft_commit.json"))
    val rows = """"rows":(\d+)""".r.findFirstMatchIn(marker).map(_.group(1).toLong)
    assert(rows === Some(spark.read.parquet(s"$root/pages").count()))
    assert(rows === Some(10L))
    Pipeline.invalidate(s"$root/pages")
    // counted by the write itself: a stage runs no job beyond the write's own
    val plainJobs = jobsOf(computed().write.mode("overwrite").parquet(s"$root/plain"))
    val stageJobs = jobsOf(Pipeline.stage(spark, s"$root/pages")(computed()))
    assert(computations === 3)
    assert(plainJobs > 0 && stageJobs === plainJobs)
  }

  private def jobsOf(action: => Unit): Int = SparkJobs.jobsOf(spark)(action)

  test("a served request against a buildModel model does request-sized work") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{MapPartitionsExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.types.ObjectType
    import graft.pipeline.Annotate
    import graft.spot.Spotter
    val m = SparkEntry.model(spark)
    // every model table plans as a leaf over its cache, not its build lineage
    Seq(m.paragraphs.toDF(), m.surfaceForms.toDF(), m.resources.toDF(), m.candidates.toDF(),
      m.tokenTypes.toDF(), m.entityContexts.toDF()).foreach { t =>
      assert(t.queryExecution.analyzed.children.isEmpty, t.queryExecution.analyzed.treeString)
    }
    val bc = spark.sparkContext.broadcast(Spotter.buildAutomaton(m.surfaceForms))
    val request = Seq(m.paragraphs.orderBy("url", "para_idx").head()).toDS()
    def annotations() = Annotate.annotationsFrom(spark,
      Annotate.scoredOn(spark, m, request, automaton = Some(bc)))
    val expected = annotations().collect()
    assert(expected.nonEmpty)
    val jobs = jobsOf(annotations().collect())
    info(s"one-paragraph request: $jobs jobs")
    assert(jobs <= 12)

    val scored = Annotate.scoredOn(spark, m, request, automaton = Some(bc))
    scored.collect()
    object Plan extends AdaptiveSparkPlanHelper
    val plan: SparkPlan = scored.queryExecution.executedPlan
    // the gate and candidate generation read the spot's sf_id: the
    // request never reads surface_forms
    assert(Plan.collect(plan) {
      case s: InMemoryTableScanExec if s.relation.output.exists(_.name == "sf_normalized") => s
    }.isEmpty)
    // the top-k candidate prune is the model's cand_rank, not a window
    assert(!Plan.collect(plan) { case w: WindowExec => w }
      .exists(_.orderSpec.exists(_.references.exists(_.name == "cand_prior"))))
    // res_tok_total is an entity_contexts column, not a per-request aggregate
    assert(!Plan.collect(plan) { case a: HashAggregateExec => a }
      .exists(_.groupingExpressions.map(_.references.map(_.name)) == Seq(Set("res_id"))))
    // the spot pass and the doc-token pass each run once
    val passes = Plan.collect(plan) { case mp: MapPartitionsExec => mp.outputObjAttr.dataType }
    assert(passes.count(_ == ObjectType(classOf[Spotter.IdSpotRow])) === 1, plan.treeString)
    assert(passes.length === 2, plan.treeString)
  }

  test("resume mid-pipeline: downstream rebuilt from committed upstream, identical rows") {
    val root = Files.createTempDirectory("graft_resume").toString
    def upstream() = SyntheticCorpus.webPages(spark, 15).toDF().select("url", "text")
    def downstream(up: org.apache.spark.sql.DataFrame) =
      up.select(col("url"), length(col("text")).as("n"))

    val up1 = Pipeline.stage(spark, s"$root/up")(upstream())
    val down1 = Pipeline.stage(spark, s"$root/down")(downstream(up1)).collect().toSet
    // simulate a failed downstream stage: wipe its commit, keep upstream
    Pipeline.invalidate(s"$root/down")
    val up2 = Pipeline.stage(spark, s"$root/up")(upstream()) // skipped (committed)
    val down2 = Pipeline.stage(spark, s"$root/down")(downstream(up2)).collect().toSet
    assert(down1 === down2)
  }

  test("S7 occurrence TSV roundtrip preserves rows") {
    import spark.implicits._
    val lines = Seq(
      "doc1-p1l1\tUnited_States\tUSA\tThe USA congress met.\t4",
      "doc1-p1l2\tMercury_(planet)\tMercury\tMercury orbits the sun.\t0\tDBpedia:Planet")
    val df = OccurrenceTsv.fromStrings(spark, lines)
    assert(df.count() === 2)
    val r = df.filter(col("id") === "doc1-p1l2").head()
    assert(r.getAs[String]("uri") === "Mercury_(planet)")
    assert(r.getAs[Int]("offset") === 0)
    assert(r.getAs[String]("types") === "DBpedia:Planet")

    val dir = Files.createTempDirectory("graft_tsv").toString + "/occs"
    OccurrenceTsv.write(df, dir)
    val back = OccurrenceTsv.read(spark, dir)
    assert(back.select("id", "uri", "sf", "context", "offset").collect().toSet ===
      df.select("id", "uri", "sf", "context", "offset").collect().toSet)
  }

  test("corpus reader: offset integrity invariant (TestCorpora.scala:30-40)") {
    val docs = Seq(
      "mw:doc1" -> Seq(
        "The [[United States|USA]] congress met in [[Washington,_D.C.|Washington]] today.",
        "Both [[Mercury (planet)|Mercury]] and [[Java (island)|Java]] were discussed."))
    val (gold, text) = graft.eval.Corpora.fromMarkupParagraphs(spark, docs)
    assert(gold.count() === 4)
    val joined = gold.join(text, Seq("url", "para_idx")).collect()
    joined.foreach { r =>
      val t = r.getAs[String]("para_text")
      val sf = r.getAs[String]("sf")
      val off = r.getAs[Int]("offset")
      assert(t.substring(off, off + sf.length) === sf) // the reference's invariant
    }
  }
}
