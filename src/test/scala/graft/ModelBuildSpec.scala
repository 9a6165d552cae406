package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.modelbuild.ModelBuild
import graft.model.SurfaceFormRow

/** Unit coverage for the model-build primitives added on top of the
  * e2e slice: scalable dense IDs, the A7 ngram total-count correction,
  * the R6 deterministic split, and context narrowing. */
class ModelBuildSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  test("denseIds: equals global order rank at any parallelism") {
    import spark.implicits._
    val words = (1 to 500).map(i => s"word_${(i * 7919) % 1000}%04d").distinct
    val df = words.toDF("w")
    val ids = ModelBuild.denseIds(df, "w", "id")
      .select("w", "id").as[(String, Int)].collect().toMap
    val expected = words.sorted.zipWithIndex.map { case (w, i) => w -> (i + 1) }.toMap
    assert(ids === expected)

    // different partitioning, same ids
    val ids2 = ModelBuild.denseIds(df.repartition(13), "w", "id")
      .select("w", "id").as[(String, Int)].collect().toMap
    assert(ids2 === expected)
  }

  test("denseIds: no window without a partition spec in its plans") {
    import spark.implicits._
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.analyzed); ()
      }
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      ModelBuild.denseIds((1 to 50).map(i => s"k$i").toDF("k"), "k", "id")
      // listener events arrive asynchronously and in order: wait for a
      // marker query run after denseIds
      spark.range(1).select(lit("denseIds-done")).collect()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!plans.toArray.exists(_.toString.contains("denseIds-done")) &&
             System.nanoTime() < deadline) Thread.sleep(20)
    } finally spark.listenerManager.unregister(listener)
    val all = plans.toArray(Array.empty[LogicalPlan]).toSeq
    assert(all.exists(_.toString.contains("denseIds-done")))
    val windows = all.flatMap(_.collect { case w: Window => w })
    assert(windows.nonEmpty, "denseIds ranks within partitions through a window")
    assert(windows.forall(_.partitionSpec.nonEmpty),
      windows.filter(_.partitionSpec.isEmpty).mkString("\n"))
  }

  test("A7 ngram correction: sub-ngram totals reduced by containing sf annotations") {
    import spark.implicits._
    val sfs = Seq(
      SurfaceFormRow(1, "New York", "/new york", 10L, 100L),
      SurfaceFormRow(2, "New York City", "/new york city", 40L, 60L),
      SurfaceFormRow(3, "York", "/york", 5L, 200L),
      SurfaceFormRow(4, "Boston", "/boston", 3L, 30L),
      SurfaceFormRow(5, "Unknown Co", "/unknown co", 2L, -1L)).toDS()
    val fixed = ModelBuild.ngramTotalCorrection(sfs).collect().map(r => r.sf -> r).toMap
    // "New York" is a sub-ngram of "New York City" (annotated 40): 100-40=60
    assert(fixed("New York").total_count === 60L)
    // "York" is inside both "New York" (10) and "New York City" (40): 200-50=150
    assert(fixed("York").total_count === 150L)
    // not nested: unchanged
    assert(fixed("Boston").total_count === 30L)
    // unknown total (−1) stays unknown
    assert(fixed("Unknown Co").total_count === -1L)
    // clamped at annotated_count
    val clamped = ModelBuild.ngramTotalCorrection(Seq(
      SurfaceFormRow(1, "Big Apple Pie", "/big apple pie", 50L, 60L),
      SurfaceFormRow(2, "Apple", "/apple", 7L, 20L)).toDS())
      .collect().map(r => r.sf -> r).toMap
    assert(clamped("Apple").total_count === 7L) // 20-50 < annotated 7 → clamp
  }

  test("R6 hashSplit: deterministic, disjoint, exhaustive") {
    import spark.implicits._
    val df = (1 to 2000).map(i => s"id_$i").toDF("id")
    val (train, test) = ModelBuild.hashSplit(df, "id", 0.25)
    val (train2, test2) = ModelBuild.hashSplit(df.repartition(7), "id", 0.25)
    assert(train.count() + test.count() === 2000L)
    assert(train.intersect(test).count() === 0L)
    assert(test.except(test2).count() === 0L && test2.except(test).count() === 0L)
    val frac = test.count().toDouble / 2000
    assert(frac > 0.2 && frac < 0.3)
    assert(train2.count() === train.count())
  }

  test("D12 narrowContext: caps word count around the offset") {
    val text = (1 to 100).map(i => s"w$i").mkString(" ")
    val narrowed = ModelBuild.narrowContext(text, text.indexOf("w50"), 10)
    val words = narrowed.split(" ")
    assert(words.length === 10)
    assert(words.contains("w50"))
    // short text unchanged
    assert(ModelBuild.narrowContext("a b c", 2, 10) === "a b c")
  }

  test("A9 conceptUris: excludes redirects/disambigs and bad URIs") {
    import spark.implicits._
    val all = Seq("Good_One", "Redirected", "Disambig", "has/slash", "%23frag", "12345")
      .toDF("uri")
    val redirects = Seq("Redirected").toDF("subj")
    val disambigs = Seq("Disambig").toDF("subj")
    val out = ModelBuild.conceptUris(all, redirects, disambigs)
      .collect().map(_.getString(0)).toSet
    assert(out === Set("Good_One"))
  }
}
