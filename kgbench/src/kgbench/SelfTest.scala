package kgbench

import scala.util.control.NonFatal

/**
 * Harness self-test at toy size, in one JVM (driven by selftest.py):
 *
 *   SelfTest --workloads kg_build,annotate --work <dir>
 *
 * Per workload it runs three cases and prints one line each,
 * `{"case": …, "trace": "0"|"1", "drop": …, "droppable": n, "result": {…}}`:
 * a clean untraced run, a clean traced run, and a run where one op per
 * part has one output row dropped (`droppable` such ops expected to
 * fail). kg_build times a single op untraced, so its drop case is traced,
 * where an untraced op follows the warm-up op it can be compared with.
 */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = kv("work")
    val spark = Bench.session(work)
    val code = try {
      for (name <- kv("workloads").split(",")) {
        val cases = Seq(
          ("clean", false, false),
          ("traced", true, false),
          ("drop-one", name == "kg_build", true))
        for ((label, trace, drop) <- cases) {
          val conf = Bench.Conf(name, seed = 7, seconds = 1, trace = trace, work = work,
            toy = true, dropOne = drop)
          val w = Workload(name, spark, conf)
          val result = new Harness(spark, conf, w).run()
          println(s"""{"case": "$name/$label", "trace": "${if (trace) 1 else 0}", "drop": $drop, """ +
            s""""droppable": ${if (drop) w.parts.length else 0}, "result": $result}""")
          spark.catalog.clearCache()
        }
      }
      0
    } catch {
      case NonFatal(e) =>
        System.err.println(s"kgbench: self-test failed: $e")
        e.printStackTrace()
        1
    } finally spark.stop()
    sys.exit(code)
  }
}
