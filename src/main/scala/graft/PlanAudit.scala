package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Physical-plan audit: prints condensed `explain(formatted)` evidence for
 * the plan properties the engine is designed around — parquet filter/
 * column pushdown, broadcast joins for dims, partial (map-side)
 * aggregation, whole-stage codegen coverage. Run after plan-shape
 * changes; findings recorded in BASELINE.md/README.
 */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(8)
    spark.sparkContext.setLogLevel("ERROR")

    def audit(name: String, df: org.apache.spark.sql.DataFrame,
              expect: Seq[String]): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      println(s"\n===== $name =====")
      expect.foreach { pat =>
        val hit = plan.linesIterator.exists(_.toLowerCase.contains(pat.toLowerCase))
        println(s"  [${if (hit) "OK " else "MISS"}] $pat")
      }
      // formatted mode tags operators with "[codegen id : N]"
      val codegenIds = "codegen id : (\\d+)".r.findAllMatchIn(plan)
        .map(_.group(1)).toSet
      println(s"  codegen spans: ${codegenIds.size}")
      args.lift(1).foreach(_ => println(plan)) // full plan with 2nd arg
    }

    // 1. Filter + projection pushdown into the parquet scan
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    audit("scan pushdown (filter+prune)",
      li.filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity"),
      Seq("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]",
        "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"))

    // 2. Broadcast hash join of small dim (part) against fact
    val part = spark.read.parquet(s"$sfDir/part.parquet")
    audit("dim join broadcasts",
      li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
        .groupBy("p_brand").agg(sum("l_quantity")),
      Seq("BroadcastHashJoin", "HashAggregate"))

    // 3. Salted two-phase aggregation: partial agg before the exchange
    audit("salted agg has map-side partial",
      graft.modelbuild.ModelBuild.saltedSum(
        li, Seq("l_partkey"), col("l_quantity"), col("l_orderkey")),
      Seq("partial_sum", "hashpartitioning"))

    // 4. The annotate dataflow: broadcasts for dims, sort-merge/hash for
    //    the big joins, window for ranking
    val m = SparkEntry.model(spark)
    audit("scored dataflow",
      graft.pipeline.Annotate.scoredOn(spark, m, m.paragraphs),
      Seq("BroadcastHashJoin", "Window", "Exchange"))

    // 5. ANN LSH: bucket join not a cartesian product
    val v = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"),
        transform(col("embedding"), x => x.cast("double")).as("vec"))
    audit("ann lsh join is keyed (no cartesian)",
      graft.textops.Similarity.lshTopK(v.limit(16), v, 5, 10, 64),
      Seq("Join", "Window"))
    val lshPlan = graft.textops.Similarity.lshTopK(v.limit(16), v, 5, 10, 64)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    println(s"  cartesian present: ${lshPlan.contains("CartesianProduct")}")

    spark.stop()
  }
}
