package kgbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.GraftSession

/**
 * Benchmark driver: one workload, one seed, one JVM at local[3].
 *
 *   Bench --workload <kg_build|annotate> --seed <n>
 *         --seconds <s> --trace <0|1> --work <dir> [--store <dir>]
 *
 * A run sets up a few times (generate inputs, write them to parquet, and
 * for the annotate workload build the model), keeps the last set-up, then
 * for each part of the workload runs a fixed number of warm-up ops and
 * times ops for its share of `--seconds` of op time (or a fixed number of
 * them, where the part says so). Every op's output digest must equal the
 * first op's; a differing digest or an exception fails the op, and failed
 * ops are never timed.
 * With `--trace 1` the same ops run untraced, then observed by the
 * benchmark's listener, then (where a part allows it) split at every layer
 * boundary, and the per-layer metrics are printed instead.
 *
 * The last stdout line is the result JSON.
 */
object Bench {

  /** `toy` and `dropOne` are set by [[SelfTest]] only. */
  final case class Conf(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, toy: Boolean = false, dropOne: Boolean = false,
                        store: Option[String] = None)

  val Cores = 3
  val ShufflePartitions = 6

  def parse(args: Array[String]): Conf = {
    val kv = mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      args(i) match {
        case k if k.startsWith("--") && i + 1 < args.length => kv(k.drop(2)) = args(i + 1); i += 2
        case k => throw new IllegalArgumentException(s"unexpected argument $k")
      }
    }
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Conf(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), store = kv.get("store"))
  }

  /** The program's own session settings at local[3], with every file the
   *  run writes kept under its work directory. */
  def session(work: String): SparkSession = {
    val spark = GraftSession.builder(s"local[$Cores]", ShufflePartitions)
      .appName("kgbench")
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spark = session(conf.work)
    val code = try {
      println(new Harness(spark, conf, Workload(conf.workload, spark, conf)).run())
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"kgbench: run failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Order-independent digest column: the exact sum of a 64-bit hash over
   *  every column, doubles rounded to 4 places so a different summation
   *  order upstream cannot flip a last bit. */
  def hashSum(df: DataFrame): Column = {
    val cols = df.schema.fields.sortBy(_.name).map { f =>
      if (f.dataType == DoubleType) round(col(f.name), 4) else col(f.name)
    }
    sum(xxhash64(cols.toIndexedSeq: _*).cast("decimal(38,0)"))
  }

  def digestString(rows: Long, hashSum: java.math.BigDecimal): String =
    s"$rows:${if (hashSum == null) "0" else hashSum.toPlainString}"

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => { Files.deleteIfExists(f); () })

  /** Used heap after full GC, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** What one op produced: units for the rates and the output digest. */
final case class OpOut(pages: Long, triples: Long, mentions: Long, digest: String,
                       planMs: Double = 0.0)

/** One attempted op. Failed ops carry no timing that is ever reported. */
final case class OpRecord(i: Int, phase: String, ms: Double, out: Option[OpOut], error: String) {
  def ok: Boolean = out.isDefined && error.isEmpty
}
