package graft

import org.apache.spark.sql.SparkSession

/**
 * Session factory with the configuration the pipeline is designed for:
 * AQE on (runtime re-planning + skew-join splitting for head surface
 * forms, SURVEY.md §4), shuffle partitions sized for the local core
 * count rather than the 200 default, joins that reuse a partitioning on
 * a subset of their keys, UTC for oracle parity.
 */
object GraftSession {

  def builder(master: String, cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft-kg")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // the scored DAG partitions its spot-candidate rows and doc-token
      // histogram by paragraph (url, para_idx): letting the context join
      // on (url, para_idx, win) reuse that partitioning spares both of
      // its sides a re-shuffle (two exchanges; ScaleDesignSpec asserts
      // the plan)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      // native Catalyst expressions (fnv_fingerprint) as SQL functions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  def local(cores: Int): SparkSession = builder(s"local[$cores]", cores).getOrCreate()
}
