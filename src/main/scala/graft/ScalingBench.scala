package graft

import org.apache.spark.sql.SparkSession
import graft.pipeline.Annotate

/**
 * Scaling-evidence harness (BASELINE.md protocol): the north rule's
 * two-cluster-size criterion (N vs 4N executors, efficiency ≥ 0.8) is
 * evidenced in this sandbox by running the SAME end-to-end
 * annotate+triples job on the SAME input at two local parallelism
 * levels. Each level gets a fresh SparkSession (masters local[N] /
 * local[4N], shuffle partitions scaled with cores); ≥2 warm runs each,
 * best-of reported; per-stage counters prove identical outputs across
 * every run at both levels.
 *
 * Protocol details (BASELINE.md): N=2, 4N=8 cores by default (the box
 * has 32 hardware threads, so both levels run un-oversubscribed and the
 * comparison isolates scheduling, not memory-bandwidth saturation); one
 * discarded warmup per level (JIT + code cache), best-of-`runs`
 * reported (throughput capability; the median of 2 is just the max).
 *
 * Usage: runMain graft.ScalingBench [nDocs] [small] [large] [runs] [shufflePartitions]
 * Prints one JSON line per (level, run) plus a final summary line.
 */
object ScalingBench {

  final case class Counters(paragraphs: Long, occurrences: Long,
                            spots: Long, annotations: Long, triples: Long)

  private def runOnce(cpus: Int, nDocs: Long, shufflePartitions: Int): (Double, Counters) = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // IDENTICAL shuffle partitioning at both levels: partition count must
    // not vary with the CORE COUNT under test, or the comparison measures
    // spill behavior (2 giant partitions vs 8 small ones), not scaling —
    // observed as a bogus super-linear 1.14 efficiency before this fix.
    // It may legitimately vary with CORPUS size (arg 5): the 1.2M-doc
    // probe showed the pinned-32 default accumulating 4× the per-partition
    // volume of its 300k design point (BASELINE.md), which is what a real
    // deployment avoids by sizing partitions ∝ input / letting AQE coalesce.
    val spark = GraftSession.builder(s"local[$cpus]", shufflePartitions)
      .appName(s"graft-scaling-$cpus")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val t0 = System.nanoTime()
      val m = Annotate.syntheticModel(spark, nDocs)
      // one scored DAG, shared by annotations and triples — scoring
      // twice would rebuild the automaton (a new broadcast closure, so
      // not cache-equal) and run the whole spot+score stage twice
      // inside the timed window
      val scored = Annotate.scoredOn(spark, m, m.paragraphs).cache()
      val ann = Annotate.annotationsFrom(spark, scored).cache()
      val nAnn = ann.count()
      val nTriples = graft.triples.Triples
        .all(ann, m.resources, m.closure).count()
      val secs = (System.nanoTime() - t0) / 1e9
      val c = Counters(
        m.paragraphs.count(), m.occurrences.count(),
        {
          val bc = spark.sparkContext.broadcast(
            graft.spot.Spotter.buildAutomaton(m.surfaceForms))
          graft.spot.Spotter.spots(m.paragraphs, bc).count()
        },
        nAnn, nTriples)
      (secs, c)
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    // 30k docs: sized so per-task compute dominates the fixed per-job
    // overhead (probed at 6k docs the pipeline is overhead-bound and no
    // parallelism level helps; scaling evidence needs the compute regime,
    // which is also the regime a 100 TB deployment lives in)
    val nDocs = args.lift(0).map(_.toLong).getOrElse(30000L)
    val small = args.lift(1).map(_.toInt).getOrElse(2)
    val large = args.lift(2).map(_.toInt).getOrElse(8)
    val runs = args.lift(3).map(_.toInt).getOrElse(3)
    val shufflePartitions = args.lift(4).map(_.toInt).getOrElse(32)

    def measure(cpus: Int): (Double, Counters) = {
      runOnce(cpus, math.max(nDocs / 5, 500), shufflePartitions) // discarded warmup: JIT, classloading
      val results = (1 to runs).map { r =>
        val (secs, c) = runOnce(cpus, nDocs, shufflePartitions)
        println(f"""{"level":"local[$cpus]","run":$r,"sec":$secs%.2f,"docs":$nDocs,"docs_per_sec":${nDocs / secs}%.1f,"triples":${c.triples}}""")
        (secs, c)
      }
      // Counters must be identical in EVERY run at this level, not just
      // the first — a nondeterministic pipeline would invalidate the
      // throughput comparison outright.
      require(results.map(_._2).distinct.size == 1,
        s"non-deterministic counters across runs at local[$cpus]: ${results.map(_._2)}")
      (results.map(_._1).min, results.head._2)
    }

    val (tSmall, cSmall) = measure(small)
    val (tLarge, cLarge) = measure(large)
    val ratio = large.toDouble / small
    val efficiency = (tSmall / tLarge) / ratio
    val same = cSmall == cLarge
    println(
      f"""{"metric":"scaling_efficiency","value":$efficiency%.3f,"n_cores":$small,"4n_cores":$large,""" +
      f""""sec_n":$tSmall%.2f,"sec_4n":$tLarge%.2f,""" +
      f""""docs_per_sec_n":${nDocs / tSmall}%.1f,"docs_per_sec_4n":${nDocs / tLarge}%.1f,""" +
      f""""triples_per_sec_n":${cSmall.triples / tSmall}%.1f,"triples_per_sec_4n":${cLarge.triples / tLarge}%.1f,""" +
      s""""counters_identical":$same,"counters":{"paragraphs":${cSmall.paragraphs},"occurrences":${cSmall.occurrences},"spots":${cSmall.spots},"annotations":${cSmall.annotations},"triples":${cSmall.triples}}}""")
  }
}
