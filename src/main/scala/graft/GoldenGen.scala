package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Regenerates the committed golden outputs for the deterministic
 * 120-doc fixture corpus (src/test/resources/golden/). Run ONLY when a
 * deliberate semantic change is made; `GoldenSpec` asserts the live
 * pipeline still reproduces these files byte-for-byte (decisions) /
 * to 5 decimals (scores).
 *
 * The row-rendering lives HERE and is shared by GoldenSpec — generator
 * and checker must compute byte-identical rows, so there is exactly one
 * definition of the projection/formatting.
 */
object GoldenGen {

  /** top1 annotations rendered as stable TSV lines (decisions + 5dp score). */
  def top1Rows(spark: SparkSession): Seq[String] =
    disambig.Disambiguator.best(SparkEntry.scored(spark))
      .select(col("url"), col("para_idx"), col("offset"), col("sf"), col("uri"),
        format_number(col("similarity_score"), 5).as("sim5"))
      .orderBy("url", "para_idx", "offset")
      .collect()
      .toSeq
      .map(r => s"${r.getString(0)}\t${r.getInt(1)}\t${r.getInt(2)}\t${r.getString(3)}\t${r.getString(4)}\t${r.getString(5)}")

  /** triple multiset rendered as stable TSV lines. */
  def tripleRows(spark: SparkSession): Seq[String] =
    graft.triples.Triples.all(
        pipeline.Annotate.annotationsFrom(spark, SparkEntry.scored(spark)),
        SparkEntry.model(spark).resources, SparkEntry.model(spark).closure)
      .toDF()
      .groupBy("subj", "pred", "obj").agg(count(lit(1)).as("n"))
      .orderBy("subj", "pred", "obj")
      .collect()
      .toSeq
      .map(r => s"${r.getString(0)}\t${r.getString(1)}\t${r.getString(2)}\t${r.getLong(3)}")

  def main(args: Array[String]): Unit = {
    val outDir = args.lift(0).getOrElse("src/test/resources/golden")
    val spark = GraftSession.local(4)
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    val top1 = top1Rows(spark)
    Files.write(Paths.get(s"$outDir/top1.tsv"),
      top1.mkString("\n").getBytes("UTF-8"))
    val triples = tripleRows(spark)
    Files.write(Paths.get(s"$outDir/triples.tsv"),
      triples.mkString("\n").getBytes("UTF-8"))

    println(s"golden: ${top1.length} top1 rows, ${triples.length} triple groups -> $outDir")
    spark.stop()
  }
}
