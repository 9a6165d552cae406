package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.disambig.Disambiguator
import graft.eval.Evaluator
import graft.extract.Extractor
import graft.filter.AnnotationFilters
import graft.model._
import graft.pipeline.{Annotate, Model, Runner}
import graft.spot.{AhoCorasick, Spotter}
import graft.triples.Triples

/** Input sizes. `full` is what the benchmark measures; `toy` is for the
 *  harness self-test, which must finish in seconds. */
final case class Sizes(entities: Int, kgPages: Int, modelPages: Int, crawlPages: Int,
                       requestPool: Int)

object Sizes {
  val full: Sizes = Sizes(entities = 12000, kgPages = 500, modelPages = 400,
    crawlPages = 400, requestPool = 3)
  val toy: Sizes = Sizes(entities = 2000, kgPages = 40, modelPages = 60,
    crawlPages = 30, requestPool = 2)
}

/**
 * One kind of op a workload times. An op is timed from the call of [[op]]
 * until it returns; the function it returns is the untimed output check
 * (digest and counts).
 */
abstract class Part(val name: String) {
  def op(i: Int, drop: Boolean): () => OpOut
  /** The op split at every layer boundary (persist + action under a job
   *  group per layer), where the part is traced that way. */
  def layered(i: Int, drop: Boolean, t: LayerTracer): OpOut =
    throw new UnsupportedOperationException(s"part $name does not split its op")
  def splitsOp: Boolean = false
  /** Ops with equal keys must produce equal digests. */
  def digestKey(i: Int): Int = 0
  /** Warm-up ops, discarded. Fixed, so op k of every run sits at the same
   *  point of the JVM's warm-up. The traced run may warm up differently. */
  def warmOps(traced: Boolean): Int = 1
  def minTimedOps: Int = 2
  /** Exactly this many timed ops per untraced run, whatever the time
   *  budget, where the op's position in the run defines the metric. */
  def fixedTimedOps: Option[Int] = None
  /** Hygiene between ops, outside the timed window. */
  def between(): Unit = System.gc()
}

/** A workload: set-up, the parts it times, and how to read its results. */
abstract class Workload(val spark: SparkSession, val conf: Bench.Conf) {
  import spark.implicits._
  val sizes: Sizes = if (conf.toy) Sizes.toy else Sizes.full
  val work: String = Paths.get(conf.work).toAbsolutePath.toString
  def sc = spark.sparkContext

  def setup(): Unit
  /** Set-ups per run; setup_s is their median. */
  def setupReps: Int = 3
  /** Set-ups actually run: one at toy size, where set-up time means nothing. */
  def reps: Int = if (conf.toy) 1 else setupReps
  /** Drop what a previous set-up left behind. */
  def release(): Unit = spark.catalog.clearCache()
  /** Parts in run order, each with its share of the run's op time. */
  def parts: Seq[(Part, Double)]
  /** The part whose ops give docs_per_s and triples_per_s. */
  def throughput: Part
  /** The part whose op latencies give request_p50_ms. */
  def latency: Part
  /** (link precision, link recall) against the generator's gold. */
  def quality(): (Double, Double)
  /** Add child spans to observed ops from what the listener saw. */
  def observedSpans(h: Harness): Unit = ()
  /** Per-layer metrics read off the traced ops. */
  def layerMetrics(h: Harness): Map[String, Double]
  /** Does the run's output make sense beyond matching digests? */
  def sane(h: Harness): Boolean

  protected def writePages(pages: Seq[WebPage], dir: String): Unit =
    spark.createDataset(pages).repartition(Bench.Cores * 2)
      .write.mode("overwrite").parquet(dir)

  protected def readPages(dir: String): Dataset[WebPage] = spark.read.parquet(dir).as[WebPage]

  /** Row count, mention count and digest of a triples table, in one job.
   *  `drop` removes one triple first (the self-test's broken op). */
  protected def tripleDigest(tr: DataFrame, drop: Boolean): OpOut = {
    val t = if (drop) tr.exceptAll(tr.limit(1)) else tr
    val r = t.agg(count(lit(1)), count(when(col("pred") === Triples.MentionsPred, 1)),
      Bench.hashSum(t)).head()
    OpOut(0, r.getLong(0), r.getLong(1), Bench.digestString(r.getLong(0), r.getDecimal(2)))
  }

  protected def quality(gold: Seq[Gold], predicted: DataFrame): (Double, Double) = {
    val m = Evaluator.annotation(spark.createDataset(gold).toDF(), predicted)
    (m.precision, m.recall)
  }
}

object Workload {
  val names: Seq[String] = Seq("kg_build", "annotate")

  def apply(name: String, spark: SparkSession, conf: Bench.Conf): Workload = name match {
    case "kg_build" => new KgBuild(spark, conf)
    case "annotate" => new AnnotateWorkload(spark, conf)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }
}

/** Traced-op helper: each step is the public call (lazy), then persist and
 *  an action, recorded as one span under the op's root span, with the
 *  step's jobs under a job group named after its layer. */
final class LayerTracer(spark: SparkSession, val spans: Spans, val op: Int, val root: Int) {
  private val kept = ArrayBuffer[Dataset[_]]()

  def step[T](layer: String, name: String)(build: => Dataset[T])
             (action: Dataset[T] => Map[String, Double]): (Dataset[T], Map[String, Double]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(layer, s"$layer.$name")
    sc.setLocalProperty("kgbench.key", s"L:$op:$layer:$name")
    try {
      val t0 = spans.nowMs
      val ds = build
      val t1 = spans.nowMs
      ds.persist(StorageLevel.MEMORY_AND_DISK)
      kept += ds
      val counts = action(ds)
      spans.add(root, op, name, layer, t0, spans.nowMs, counts + ("plan_ms" -> (t1 - t0)))
      (ds, counts)
    } finally {
      sc.clearJobGroup()
      sc.setLocalProperty("kgbench.key", null)
    }
  }

  def release(): Unit = kept.foreach(_.unpersist())
}

/**
 * kg_build: the batch job from crawl pages to triples on disk. One op is
 * a cold `Runner.run` into a fresh root, then `Runner.writeTriples`. The
 * traced run observes it from outside (see [[KgTrace]]).
 */
final class KgBuild(spark: SparkSession, conf: Bench.Conf) extends Workload(spark, conf) {
  private var universe: Universe = _
  private var corpus: Corpus = _
  private val pagesDir = s"$work/in/kg_pages"
  def rootDir(i: Int) = s"$work/kg/op-$i"
  private var qualityResult: Option[(Double, Double)] = None
  /** Per op: start and end of the `writeTriples` call (epoch ms). */
  val sinkWindow: mutable.Map[Int, (Double, Double)] = mutable.Map()
  /** Per op: rows in each stage's commit marker. */
  val stageRows: mutable.Map[Int, Map[String, Double]] = mutable.Map()
  private val clock = new Spans

  // A set-up here only generates the inputs and writes them to parquet:
  // no program code runs in it, so its setup_s measures the harness.
  def setup(): Unit = {
    universe = new Universe(conf.seed, sizes.entities)
    corpus = universe.corpus("kg", sizes.kgPages)
    writePages(corpus.pages, pagesDir)
  }

  private def commitRows(i: Int): Map[String, Double] =
    Files.list(Paths.get(rootDir(i))).toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => Files.exists(p.resolve("_graft_commit.json")))
      .map { p =>
        val json = Files.readString(p.resolve("_graft_commit.json"))
        p.getFileName.toString ->
          """"rows":(\d+)""".r.findFirstMatchIn(json).map(_.group(1).toDouble).getOrElse(0.0)
      }.toMap

  val build: Part = new Part("kg") {
    // A user runs the batch job once per JVM, so the timed op is the
    // first one after set-up, and the only one: a second, warm op would
    // change what the metric means. The traced run compares a traced op
    // with untraced neighbours, which needs the JVM past its first op.
    override def warmOps(traced: Boolean): Int = if (traced) 1 else 0
    override def fixedTimedOps: Option[Int] = Some(1)

    def op(i: Int, drop: Boolean): () => OpOut = {
      val res = Runner.run(spark, readPages(pagesDir), universe.redirectsNt,
        universe.disambiguationsNt, universe.instanceTypesNt, rootDir(i))
      val t0 = clock.nowMs
      Runner.writeTriples(res.triples, s"${rootDir(i)}/out_triples")
      sinkWindow(i) = (t0, clock.nowMs)
      () => {
        stageRows(i) = commitRows(i)
        if (qualityResult.isEmpty)
          qualityResult = Some(quality(corpus.gold, spark.read.parquet(s"${rootDir(i)}/annotations")))
        val sink = tripleDigest(spark.read.parquet(s"${rootDir(i)}/out_triples"), drop)
        val stage = tripleDigest(spark.read.parquet(s"${rootDir(i)}/triples"), drop = false)
        // the sink must hold exactly what the triples stage committed
        require(drop || sink.digest == stage.digest,
          s"out_triples digest ${sink.digest} != triples stage digest ${stage.digest}")
        sink.copy(pages = corpus.pages.length.toLong)
      }
    }

    override def between(): Unit = {
      spark.catalog.clearCache()
      // clearCache drops blocks asynchronously; wait, so the next op (and
      // the retained-heap reading) starts from an empty cache
      sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.listTables().collect().filter(_.name.startsWith("graft_"))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
      Bench.deleteTree(Paths.get(s"$work/kg"))
      super.between()
    }
  }

  def parts: Seq[(Part, Double)] = Seq(build -> 1.0)
  def throughput: Part = build
  def latency: Part = build
  def quality(): (Double, Double) = qualityResult.getOrElse((0.0, 0.0))
  def sane(h: Harness): Boolean = h.timed(build).forall(_.out.exists(_.mentions > 0))
  override def observedSpans(h: Harness): Unit = KgTrace.addSpans(h, this)
  def layerMetrics(h: Harness): Map[String, Double] = KgTrace.metrics(h, this)
}

/**
 * annotate: a model built at set-up with `Annotate.buildModel` (automaton
 * prebuilt), then two parts against it.
 *  - crawl: a new crawl segment, unseen by the model, annotated in bulk.
 *    One op reads the segment, extracts paragraphs and runs
 *    `Annotate.scoredOn` → `annotationsFrom` → `Triples.all`; its action
 *    is the digest of the triples.
 *  - request: the served-request path, one client in a closed loop. A
 *    request is one page's paragraphs (plain text) through
 *    `Annotate.scoredOn` + `annotationsFrom`, collected to the driver.
 *    The client cycles through a fixed pool; each request's annotations
 *    must match what the same request returned first.
 */
final class AnnotateWorkload(spark: SparkSession, conf: Bench.Conf) extends Workload(spark, conf) {
  import spark.implicits._
  private var model: Model = _
  private var automaton: Broadcast[AhoCorasick] = _
  private var automatonBuildMs = 0.0
  private var automatonBytes = 0L
  private var crawlCorpus: Corpus = _
  private val crawlDir = s"$work/in/crawl_pages"
  private var requestPool: Vector[Seq[ParagraphRow]] = Vector.empty
  private var qualityResult: Option[(Double, Double)] = None

  // a set-up builds a whole model; two keep the run within its time budget
  override def setupReps: Int = 2

  /** Generate the inputs, write the pages, build the model from the
   *  parquet copy and materialize every model table, then the automaton. */
  def setup(): Unit = {
    val universe = new Universe(conf.seed, sizes.entities)
    val modelDir = s"$work/in/model_pages"
    writePages(universe.corpus("model", sizes.modelPages).pages, modelDir)
    crawlCorpus = universe.corpus("crawl", sizes.crawlPages)
    writePages(crawlCorpus.pages, crawlDir)
    val requests = universe.corpus("request", sizes.requestPool)
    requestPool = requests.pages.map(p => requests.paragraphs.filter(_.url == p.url))
    model = Annotate.buildModel(spark, readPages(modelDir), universe.redirectsNt,
      universe.disambiguationsNt, universe.instanceTypesNt)
    Seq(model.closure, model.surfaceForms.toDF(), model.resources.toDF(),
      model.candidates.toDF(), model.tokenTypes.toDF(), model.entityContexts.toDF())
      .foreach(_.count())
    val t0 = System.nanoTime()
    val ac = Spotter.buildAutomaton(model.surfaceForms)
    automatonBuildMs = (System.nanoTime() - t0) / 1e6
    automaton = sc.broadcast(ac)
    if (conf.trace) {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(ac); out.close()
      automatonBytes = bytes.size().toLong
    }
  }

  override def release(): Unit = {
    if (automaton != null) automaton.destroy()
    super.release()
  }

  private def crawlParagraphs(): Dataset[ParagraphRow] =
    Extractor.paragraphs(Extractor.extracted(readPages(crawlDir)))

  private def annotations(paras: Dataset[ParagraphRow]): Dataset[AnnotationRow] =
    Annotate.annotationsFrom(spark, Annotate.scoredOn(spark, model, paras, automaton = Some(automaton)))

  /** `Annotate.scoredOn` + `annotationsFrom`, one layer at a time. */
  private def layeredAnnotations(t: LayerTracer, paras: Dataset[ParagraphRow]): Dataset[AnnotationRow] = {
    val m = model
    val cfg = Disambiguator.Config()
    val (raw, rawC) = t.step("spot", "spots") {
      Spotter.spots(paras, automaton, Annotate.MaxContextTokens, cfg.sentenceAlignedWindows)
    }(ds => Map("rows" -> ds.count().toDouble))
    val (gated, gateC) = t.step("spot", "gate")(Spotter.gatedSpots(raw, m.surfaceForms)) { ds =>
      val n = ds.count().toDouble
      Map("rows" -> n, "keep_ratio" -> (if (rawC("rows") > 0) n / rawC("rows") else 0.0))
    }
    val (cands, _) = t.step("disambig", "candidates") {
      Disambiguator.spotCandidates(gated, m.surfaceForms, m.candidates, cfg)
    } { ds =>
      val r = ds.agg(count(lit(1)), countDistinct(col("url"), col("para_idx"), col("offset"))).head()
      Map("rows" -> r.getLong(0).toDouble,
        "hit_ratio" -> (if (gateC("rows") > 0) r.getLong(1) / gateC("rows") else 0.0))
    }
    val (docTokens, _) = t.step("disambig", "doc_tokens") {
      Disambiguator.docTokenHistogram(paras, m.tokenTypes, m.stemmer,
        Annotate.MaxContextTokens, cfg.sentenceAlignedWindows)
    }(ds => Map("rows" -> ds.count().toDouble))
    val (scored, _) = t.step("disambig", "scored") {
      Disambiguator.scored(cands, docTokens, m.entityContexts, m.resources, m.totals, cfg)
    }(ds => Map("rows" -> ds.count().toDouble))
    val (ann, _) = t.step("filter", "filters") {
      AnnotationFilters.standardChain(Disambiguator.best(scored).as[AnnotationRow], 0.1, 10, Nil)
    } { ds =>
      val n = ds.count().toDouble
      val nBest = scored.filter(col("rank") === 1).count().toDouble
      Map("rows" -> n, "keep_ratio" -> (if (nBest > 0) n / nBest else 0.0))
    }
    ann
  }

  val crawl: Part = new Part("crawl") {
    override def splitsOp: Boolean = true
    // op-to-op noise is ±7%; the median of three rides out one slow op
    override def minTimedOps: Int = 3

    def op(i: Int, drop: Boolean): () => OpOut = {
      // the run's first op keeps its annotations for the quality check
      val keep = qualityResult.isEmpty
      val ann = annotations(crawlParagraphs())
      if (keep) ann.persist()
      val out = tripleDigest(Triples.all(ann, model.resources, model.closure).toDF(), drop)
      () => {
        if (keep) {
          qualityResult = Some(quality(crawlCorpus.gold, ann.toDF()))
          ann.unpersist(blocking = true)
        }
        out.copy(pages = crawlCorpus.pages.length.toLong)
      }
    }

    override def layered(i: Int, drop: Boolean, t: LayerTracer): OpOut = {
      val (paras, _) = t.step("extract", "paragraphs")(crawlParagraphs()) {
        ds => Map("rows" -> ds.count().toDouble)
      }
      val ann = layeredAnnotations(t, paras)
      var out: OpOut = null
      t.step("triples", "triples")(Triples.all(ann, model.resources, model.closure)) { ds =>
        out = tripleDigest(ds.toDF(), drop)
        Map("rows" -> out.triples.toDouble)
      }
      out.copy(pages = crawlCorpus.pages.length.toLong)
    }
  }

  private val answerSizes = mutable.Map[Int, Int]()

  val request: Part = new Part("request") {
    override def digestKey(i: Int): Int = i % requestPool.length
    // no warm-up of its own: the crawl part has just run the same code
    override def warmOps(traced: Boolean): Int = 0
    // more requests than the pool holds, so some are served twice and
    // checked against their first answer
    override def minTimedOps: Int = requestPool.length + 1

    def op(i: Int, drop: Boolean): () => OpOut = {
      val t0 = System.nanoTime()
      val ann = annotations(spark.createDataset(requestPool(digestKey(i))))
      val planMs = (System.nanoTime() - t0) / 1e6
      val rows = ann.collect()
      () => {
        val kept = if (drop && rows.nonEmpty) rows.tail else rows
        answerSizes.getOrElseUpdate(digestKey(i), kept.length)
        OpOut(1, kept.length.toLong, kept.length.toLong, Request.digest(kept.toSeq), planMs)
      }
    }
  }

  def parts: Seq[(Part, Double)] = Seq(crawl -> 0.5, request -> 0.5)
  def throughput: Part = crawl
  def latency: Part = request

  def quality(): (Double, Double) = qualityResult.getOrElse((0.0, 0.0))

  def sane(h: Harness): Boolean =
    h.timed(crawl).forall(_.out.exists(_.mentions > 0)) && answerSizes.values.exists(_ > 0)

  def layerMetrics(h: Harness): Map[String, Double] = {
    val ops = h.layeredOps(crawl).toSet
    val s = h.spans.all.filter(x => x.parent >= 0 && ops(x.op)).toSeq
    def med(name: String, f: Span => Double) =
      h.medianOverOps(s.filter(_.name == name).map(x => (x.op, f(x))))
    def secs(name: String) = med(name, _.ms / 1000)
    def cnt(name: String, k: String) = med(name, _.counts.getOrElse(k, 0.0))
    val reqs = h.observed(request).filter(_.ok)
    Map(
      "extract.paragraphs_s" -> secs("paragraphs"),
      "extract.paragraph_rows" -> cnt("paragraphs", "rows"),
      "spot.automaton_build_s" -> automatonBuildMs / 1000,
      "spot.automaton_mb" -> automatonBytes / 1e6,
      "spot.spots_s" -> secs("spots"),
      "spot.raw_spots" -> cnt("spots", "rows"),
      "spot.gate_s" -> secs("gate"),
      "spot.gate_keep_ratio" -> cnt("gate", "keep_ratio"),
      "disambig.candidates_s" -> secs("candidates"),
      "disambig.spot_candidate_rows" -> cnt("candidates", "rows"),
      "disambig.spot_hit_ratio" -> cnt("candidates", "hit_ratio"),
      "disambig.doc_tokens_s" -> secs("doc_tokens"),
      "disambig.doc_token_rows" -> cnt("doc_tokens", "rows"),
      "disambig.scored_s" -> secs("scored"),
      "disambig.scored_rows" -> cnt("scored", "rows"),
      "disambig.shuffle_write_mb" -> h.medianOf(ops.toSeq.map(i =>
        h.probe.forPrefix(s"L:$i:disambig:").shuffleWriteBytes / 1e6)),
      "filter.s" -> secs("filters"),
      "filter.keep_ratio" -> cnt("filters", "keep_ratio"),
      "triples.s" -> secs("triples"),
      "triples.rows" -> cnt("triples", "rows"),
      "request.plan_s" -> h.medianOf(reqs.map(_.out.get.planMs / 1000)),
      "request.exec_s" -> h.medianOf(reqs.map(r => (r.ms - r.out.get.planMs) / 1000)),
      "request.jobs" -> h.medianOf(reqs.map(r => h.probe.forKey(s"O:${r.i}").jobs.toDouble)))
  }
}

/** Driver-side digest of a request's annotations: count and the exact sum
 *  of a hash per annotation, scores rounded to 4 places. */
object Request {
  def digest(rows: Seq[AnnotationRow]): String = {
    def r4(d: Double) = if (d.isNaN || d.isInfinite) d.toString else f"$d%.4f"
    val sum = rows.map { a =>
      BigInt(scala.util.hashing.MurmurHash3.stringHash(
        Seq(a.url, a.para_idx, a.offset, a.sf, a.uri, a.support, a.types.mkString(","),
          r4(a.similarity_score), r4(a.percentage_of_second_rank), r4(a.contextual_score))
          .mkString("|")))
    }.sum
    s"${rows.length}:$sum"
  }
}

/**
 * kg_build's trace, rebuilt from outside `Runner.run`: each root SQL
 * execution in an observed op becomes a span. A write into
 * `<root>/<stage>` names its stage; executions that compute before it
 * (the closure loop, the automaton's dictionary collect) belong to the
 * same stage. Read-backs grouping by partition id are the pipeline's
 * lineage counters, `saveAsTable` is its bucketed write, and everything
 * from `Runner.writeTriples` on is the sink. Rows per stage come from the
 * commit markers.
 */
object KgTrace {
  val StageLayer: Map[String, String] = Map(
    "paragraphs" -> "extract", "occurrences" -> "extract",
    "redirect_closure" -> "modelbuild", "resolved_occurrences" -> "modelbuild",
    "surface_forms" -> "modelbuild", "resources" -> "modelbuild",
    "candidates" -> "modelbuild", "token_types" -> "modelbuild",
    "entity_contexts" -> "modelbuild",
    // the scored DAG over the corpus (spot → rank) trains the F1 thresholds
    "sim_thresholds" -> "disambig",
    "annotations" -> "filter", "triples" -> "triples")

  // a stage write's target: in the root node's description
  // ("Execute InsertIntoHadoopFsRelationCommand file:<dir>, …"), or, when
  // AQE wraps the write, in the insert node's block of the formatted plan
  // ("(n) Execute InsertIntoHadoopFsRelationCommand / Input: [] / Arguments: file:<dir>, …")
  private val RootWrite = """InsertIntoHadoopFsRelationCommand (?:file:)?([^,\s]+),""".r
  private val PlanWrite =
    """\(\d+\) Execute InsertIntoHadoopFsRelationCommand\s*\n(?:Input[^\n]*\n)?Arguments: (?:file:)?([^,\s]+),""".r

  private def writeTarget(e: Execution): Option[String] =
    RootWrite.findFirstMatchIn(e.rootNode).orElse(PlanWrite.findFirstMatchIn(e.plan)).map(_.group(1))

  def addSpans(h: Harness, kg: KgBuild): Unit =
    for (r <- h.observed(kg.build) if r.ok; root <- h.rootSpan(r.i)) {
      val dir = kg.rootDir(r.i)
      val sinkFrom = kg.sinkWindow(r.i)._1
      val pending = ArrayBuffer[Execution]()
      // A span is its execution's own interval, which includes planning
      // it. Driver time between executions (driver-side loops, commit
      // markers, analysis of the next query) is in no span, so coverage
      // shows how much of the op the executions account for.
      val startOf = mutable.Map[Long, Double]()
      var prevEnd = root.startMs
      def emit(e: Execution, name: String, layer: String, write: Boolean): Unit = {
        val st = h.probe.forExecution(e.id)
        h.spans.add(root.id, r.i, name, layer, startOf(e.id), e.endMs.toDouble, Map(
          "jobs" -> st.jobs.toDouble, "shuffle_write_bytes" -> st.shuffleWriteBytes.toDouble,
          "bytes_written" -> st.bytesWritten.toDouble,
          "write_task_ms" -> (if (write) st.resultRunMs.toDouble else 0.0)))
      }
      var lastWritten = ""
      for (e <- h.probe.executions(root.startMs, root.endMs)) {
        startOf(e.id) = math.max(prevEnd, e.startMs.toDouble)
        prevEnd = math.max(prevEnd, e.endMs.toDouble)
        val stage = writeTarget(e)
          .filter(_.startsWith(dir + "/")).map(_.stripPrefix(dir + "/").takeWhile(_ != '/'))
          .filter(StageLayer.contains)
        // Pipeline.stage reads a written stage back and counts rows per
        // partition id: that is the lineage job
        val isLineage = lastWritten.nonEmpty && e.plan.contains(s"$dir/$lastWritten]") &&
          e.plan.toLowerCase.contains("spark_partition_id")
        if (e.startMs >= sinkFrom) emit(e, "sink", "pipeline", write = false)
        else if (e.rootNode.contains("SaveAsV1TableCommand")) emit(e, "bucketed", "pipeline", write = false)
        else if (stage.isDefined) {
          pending.foreach(emit(_, stage.get, StageLayer(stage.get), write = false))
          pending.clear()
          emit(e, stage.get, StageLayer(stage.get), write = true)
          lastWritten = stage.get
        } else if (isLineage) { emit(e, "lineage", "pipeline", write = false); lastWritten = "" }
        else pending += e
      }
      pending.foreach(emit(_, "unattributed", Spans.Unattributed, write = false))
    }

  def metrics(h: Harness, kg: KgBuild): Map[String, Double] = {
    val ops = h.observed(kg.build).filter(_.ok).map(_.i).toSet
    val spans = h.spans.all.filter(s => s.parent >= 0 && ops(s.op)).toSeq
    def per(keep: Span => Boolean, f: Span => Double) =
      h.medianOverOps(spans.filter(keep).map(s => (s.op, f(s))))
    def secs(name: String) = per(_.name == name, _.ms / 1000)
    def rows(stage: String) = h.medianOf(ops.toSeq.map(kg.stageRows(_).getOrElse(stage, 0.0)))
    Map(
      "extract.paragraphs_s" -> secs("paragraphs"), "extract.paragraph_rows" -> rows("paragraphs"),
      "extract.occurrences_s" -> secs("occurrences"), "extract.occurrence_rows" -> rows("occurrences"),
      "modelbuild.closure_s" -> secs("redirect_closure"),
      "modelbuild.closure_jobs" -> per(_.name == "redirect_closure", _.counts("jobs")),
      "modelbuild.surface_forms_s" -> secs("surface_forms"),
      "modelbuild.resources_s" -> secs("resources"),
      "modelbuild.candidates_s" -> secs("candidates"),
      "modelbuild.token_types_s" -> secs("token_types"),
      "modelbuild.entity_contexts_s" -> secs("entity_contexts"),
      "modelbuild.entity_context_rows" -> rows("entity_contexts"),
      "modelbuild.shuffle_write_mb" -> per(_.layer == "modelbuild", _.counts("shuffle_write_bytes") / 1e6),
      "pipeline.stage_write_s" -> per(_ => true, _.counts("write_task_ms") / 1000 / Bench.Cores),
      "pipeline.lineage_jobs" -> per(_.name == "lineage", _.counts("jobs")),
      "pipeline.lineage_s" -> secs("lineage"),
      "pipeline.bucketed_write_s" -> secs("bucketed"),
      "pipeline.bytes_written_mb" -> per(_ => true, _.counts("bytes_written") / 1e6),
      "pipeline.sink_s" -> h.medianOf(ops.toSeq.map { i =>
        val (a, b) = kg.sinkWindow(i); (b - a) / 1000 }),
      "disambig.scored_s" -> secs("sim_thresholds"),
      "filter.s" -> secs("annotations"),
      "triples.s" -> secs("triples"), "triples.rows" -> rows("triples"))
  }
}
