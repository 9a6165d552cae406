package kgbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.kgbench.BusDrain

/** Every metric the benchmark prints, with its unit. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "docs_per_s" -> "pages/s", "triples_per_s" -> "triples/s",
    "request_p50_ms" -> "ms", "setup_s" -> "s",
    "retained_heap_mb" -> "MB", "link_precision" -> "ratio", "link_recall" -> "ratio")

  val perLayer: Seq[(String, String)] = Seq(
    "extract.paragraphs_s" -> "s", "extract.paragraph_rows" -> "count",
    "extract.occurrences_s" -> "s", "extract.occurrence_rows" -> "count",
    "modelbuild.closure_s" -> "s", "modelbuild.closure_jobs" -> "count",
    "modelbuild.surface_forms_s" -> "s", "modelbuild.resources_s" -> "s",
    "modelbuild.candidates_s" -> "s", "modelbuild.token_types_s" -> "s",
    "modelbuild.entity_contexts_s" -> "s", "modelbuild.entity_context_rows" -> "count",
    "modelbuild.shuffle_write_mb" -> "MB",
    "pipeline.stage_write_s" -> "s", "pipeline.lineage_jobs" -> "count",
    "pipeline.lineage_s" -> "s", "pipeline.bucketed_write_s" -> "s",
    "pipeline.bytes_written_mb" -> "MB", "pipeline.sink_s" -> "s",
    "spot.automaton_build_s" -> "s", "spot.automaton_mb" -> "MB", "spot.spots_s" -> "s",
    "spot.raw_spots" -> "count", "spot.gate_s" -> "s", "spot.gate_keep_ratio" -> "ratio",
    "disambig.candidates_s" -> "s", "disambig.spot_candidate_rows" -> "count",
    "disambig.spot_hit_ratio" -> "ratio", "disambig.doc_tokens_s" -> "s",
    "disambig.doc_token_rows" -> "count", "disambig.scored_s" -> "s",
    "disambig.scored_rows" -> "count", "disambig.shuffle_write_mb" -> "MB",
    "filter.s" -> "s", "filter.keep_ratio" -> "ratio",
    "triples.s" -> "s", "triples.rows" -> "count",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s", "spark.spill_mb" -> "MB",
    "spark.max_task_skew" -> "ratio",
    "request.plan_s" -> "s", "request.exec_s" -> "s", "request.jobs" -> "count",
    "trace.overhead_ratio" -> "ratio", "trace.coverage" -> "ratio")
}

/**
 * Runs one workload through set-up, then each of its parts through warm-up
 * and the timed (or traced) phases, checks every op's output, and renders
 * the result line.
 */
final class Harness(spark: SparkSession, conf: Bench.Conf, w: Workload) {
  import Bench._
  val spans = new Spans
  val probe = new Probe
  private val records = ArrayBuffer[(Part, OpRecord)]()
  /** First digest seen per (part, digest key): from this run's first
   *  passing op, or from an earlier run of the same build and seed (an
   *  untraced run, for a traced one) when the store holds one. */
  private val reference = mutable.Map[(String, Int), String]()
  private val storeFile = conf.store.map(d => Paths.get(d,
    s"${conf.workload}-${conf.seed}${if (conf.toy) "-toy" else ""}.txt"))
  storeFile.filter(Files.exists(_)).foreach { f =>
    Files.readAllLines(f).forEach { line =>
      line.split(" ") match {
        case Array(part, key, digest) => reference((part, key.toInt)) = digest
        case _ =>
      }
    }
  }
  private var nextOp = 0
  /** Parts that had one op's output cut by `--drop-one`. */
  private val droppedParts = mutable.Set[String]()
  private val sc = spark.sparkContext

  private def of(p: Part, phase: String): Seq[OpRecord] =
    records.collect { case (q, r) if (q eq p) && r.phase == phase => r }.toSeq
  def timed(p: Part): Seq[OpRecord] = of(p, "timed")
  def observed(p: Part): Seq[OpRecord] = of(p, "observed")
  def layeredOps(p: Part): Seq[Int] = of(p, "layered").filter(_.ok).map(_.i)
  def rootSpan(op: Int): Option[Span] = spans.all.find(s => s.parent < 0 && s.op == op)

  def medianOf(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  /** Sum per op, then the median over ops (0 when nothing was seen). */
  def medianOverOps(xs: Seq[(Int, Double)]): Double =
    medianOf(xs.groupBy(_._1).values.map(_.map(_._2).sum).toSeq)

  /** Run one op: time it, then check its output outside the timed window.
   *  A check failure or an exception fails the op. */
  private def attempt(p: Part, phase: String): OpRecord = {
    val i = nextOp
    nextOp += 1
    // cut an op that has a reference to differ from, once per part
    val drop = conf.dropOne && phase == "timed" && !droppedParts(p.name) &&
      reference.contains((p.name, p.digestKey(i)))
    if (drop) droppedParts += p.name
    val t0 = spans.nowMs
    val res: Either[Throwable, () => OpOut] = try {
      phase match {
        case "layered" =>
          val root = spans.add(-1, i, "op", "op", t0, t0)
          val tracer = new LayerTracer(spark, spans, i, root.id)
          try {
            val out = p.layered(i, drop, tracer)
            spans.all(root.id) = root.copy(endMs = spans.nowMs)
            Right(() => out)
          } finally tracer.release()
        case "observed" =>
          sc.setLocalProperty("kgbench.key", s"O:$i")
          try Right(p.op(i, drop)) finally sc.setLocalProperty("kgbench.key", null)
        case _ => Right(p.op(i, drop))
      }
    } catch { case NonFatal(e) => Left(e) }
    val t1 = spans.nowMs
    if (phase == "observed") spans.add(-1, i, "op", "op", t0, t1)
    val rec = res.flatMap(f => try Right(f()) catch { case NonFatal(e) => Left(e) }) match {
      case Left(e) => OpRecord(i, phase, t1 - t0, None, e.toString)
      case Right(out) =>
        val ref = reference.getOrElseUpdate((p.name, p.digestKey(i)), out.digest)
        OpRecord(i, phase, t1 - t0, Some(out),
          if (ref == out.digest) "" else s"digest ${out.digest} differs from first op's $ref")
    }
    if (!rec.ok) System.err.println(s"kgbench: ${p.name} op $i ($phase) failed: ${rec.error}")
    else System.err.println(f"kgbench: ${p.name} op $i%d ($phase) ${rec.ms}%.0f ms")
    records += p -> rec
    try p.between() catch { case NonFatal(e) => System.err.println(s"kgbench: cleanup after op $i: $e") }
    rec
  }

  /** Ops until `budgetMs` of op time is spent and `minOk` ops passed (or
   *  as many failed). */
  private def loop(p: Part, phase: String, budgetMs: Double, minOk: Int): Unit = {
    var spent = 0.0
    var ok = 0
    var bad = 0
    while ((spent < budgetMs || ok < minOk) && bad < math.max(minOk, 1)) {
      val r = attempt(p, phase)
      spent += r.ms
      if (r.ok) ok += 1 else bad += 1
    }
  }

  def run(): String = {
    val setupMs = (1 to w.reps).map { rep =>
      if (rep > 1) w.release()
      val t0 = System.nanoTime()
      w.setup()
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"kgbench: set-up $rep%d $ms%.0f ms")
      ms
    }
    for ((p, share) <- w.parts) {
      (1 to p.warmOps(conf.trace)).foreach(_ => attempt(p, "warmup"))
      if (!conf.trace) p.fixedTimedOps match {
        case Some(n) => (1 to n).foreach(_ => attempt(p, "timed"))
        case None => loop(p, "timed", 1000 * conf.seconds * share, p.minTimedOps)
      } else {
        // each traced op sits between two untraced ones, so the overhead
        // ratio is not skewed by the JVM still speeding up
        attempt(p, "timed")
        sc.addSparkListener(probe)
        attempt(p, "observed")
        BusDrain(sc)
        sc.removeSparkListener(probe)
        attempt(p, "timed")
        if (p.splitsOp) {
          sc.addSparkListener(probe)
          attempt(p, "layered")
          BusDrain(sc)
          sc.removeSparkListener(probe)
          attempt(p, "timed")
        }
      }
    }
    val metrics = if (conf.trace) traced() else endToEnd(setupMs)
    storeFile.foreach { f =>
      Files.createDirectories(f.getParent)
      Files.writeString(f, reference.map { case ((part, key), d) => s"$part $key $d\n" }.mkString)
    }
    val failed = records.count(!_._2.ok)
    val correct = failed == 0 && w.sane(this) &&
      metrics.forall { case (n, v, _) => !n.startsWith("link_") || v > 0 }
    render(correct, records.length, failed, metrics)
  }

  private def endToEnd(setupMs: Seq[Double]): Seq[(String, Double, String)] = {
    def ok(p: Part) = {
      val r = timed(p).filter(_.ok)
      require(r.nonEmpty, s"no timed ${p.name} op passed its output check")
      r
    }
    def rate(p: Part, units: OpOut => Long) = median(ok(p).map(x => units(x.out.get) / (x.ms / 1000)))
    val (precision, recall) = w.quality()
    val values = Map(
      "docs_per_s" -> rate(w.throughput, _.pages), "triples_per_s" -> rate(w.throughput, _.triples),
      "request_p50_ms" -> median(ok(w.latency).map(_.ms)),
      "setup_s" -> median(setupMs) / 1000, "retained_heap_mb" -> retainedHeapMb(),
      "link_precision" -> precision, "link_recall" -> recall)
    Metrics.endToEnd.map { case (n, u) => (n, values(n), u) }
  }

  /** Per-layer metrics. The throughput part's traced ops (layered where it
   *  splits its op, else observed) give the layer split, coverage and
   *  overhead; its observed ops give the Spark runtime counts. */
  private def traced(): Seq[(String, Double, String)] = {
    BusDrain(sc)
    w.observedSpans(this)
    spans.write(Paths.get(conf.work).resolveSibling("traces")
      .resolve(s"${conf.workload}-seed${conf.seed}.jsonl").toString)
    val p = w.throughput
    val tracedOps = if (p.splitsOp) layeredOps(p) else observed(p).filter(_.ok).map(_.i)
    val untraced = timed(p).filter(_.ok).map(r => r.i -> r.ms).toMap
    // a traced op's time over the mean of the untraced ops either side of it
    val overhead = records.collect { case (_, r) if tracedOps.contains(r.i) =>
      val around = Seq(r.i - 1, r.i + 1).flatMap(untraced.get)
      if (around.isEmpty) 0.0 else r.ms / (around.sum / around.length)
    }.toSeq
    val obs = observed(p).filter(_.ok)
    def sparkMed(f: TaskStats => Double) = medianOf(obs.map(r => f(probe.forKey(s"O:${r.i}"))))
    val values = w.layerMetrics(this) ++ Map(
      "spark.jobs_per_op" -> sparkMed(_.jobs), "spark.tasks_per_op" -> sparkMed(_.tasks),
      "spark.executor_cpu_s" -> sparkMed(_.cpuNs / 1e9), "spark.gc_s" -> sparkMed(_.gcMs / 1000.0),
      "spark.spill_mb" -> sparkMed(_.spillBytes / 1e6), "spark.max_task_skew" -> sparkMed(_.maxSkew),
      "trace.overhead_ratio" -> medianOf(overhead),
      // only time the trace put in a named layer counts
      "trace.coverage" -> medianOf(tracedOps.flatMap(rootSpan).map { root =>
        spans.all.filter(s => s.parent == root.id && s.layer != Spans.Unattributed)
          .map(spans.selfMs).sum / root.ms
      }))
    Metrics.perLayer.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  private def render(correct: Boolean, attempted: Int, failed: Int,
                     metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (n, v, u) => s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }
}
