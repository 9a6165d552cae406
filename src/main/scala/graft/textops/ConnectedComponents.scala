package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed connected components over an undirected edge list, via the
 * alternating large-star / small-star algorithm (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14) — O(log^2 n)
 * rounds in the worst case, each round a bounded handful of
 * key-partitioned shuffles (per star step: symmetrize/orient + distinct,
 * groupBy-min, a same-key join that reuses its exchange; only smallStar
 * dedupes its output — largeStar feeds straight into smallStar's orient
 * distinct), no driver-side graph state. This upgrades near-dup cluster canonicalization from the
 * single-hop min-neighbor policy to true transitive closure: a chain
 * A~B~C now canonicalizes all three to min(A,B,C).
 *
 * Scale shape:
 *  - Each star step is a pure relational groupBy-min + join on the same
 *    key, so the join's probe side reuses the groupBy's exchange
 *    (ReuseExchange) — no per-node neighbor arrays are ever
 *    materialized, which is what keeps a 10^8-degree boilerplate hub
 *    from OOMing a task (AQE skew-split handles the join residual).
 *  - Per-iteration lineage is truncated with a LAZY checkpoint that
 *    the convergence-signature action materializes — without truncation
 *    the plan doubles every round and Catalyst analysis dominates past
 *    ~10 iterations. When the caller has set a reliable checkpoint dir
 *    on the session, the cut is a reliable `checkpoint`, so a lost
 *    executor mid-iteration replays rounds from storage instead of
 *    restarting the loop. Without one it stays localCheckpoint at one
 *    job per round; reliable adds the checkpoint write job Spark
 *    schedules after the materializing action, the inherent durability
 *    cost.
 *  - The driver-side loop action per round is a single 2-column
 *    aggregate row (edge count + order-independent xxhash64 sum), not a
 *    collect of data: convergence = the signature of the edge set
 *    reaching a fixpoint (exact when sets are equal; a hash collision
 *    could only stop one round early and is 2^-64-improbable, with
 *    `maxIter` as the deterministic backstop).
 */
object ConnectedComponents {

  private val log = org.slf4j.LoggerFactory.getLogger("graft.textops.ConnectedComponents")

  /** One large-star round: every node v in Γ(u) with v > u gets an edge
   *  to m = min(Γ(u) ∪ {u}). Relational form — groupBy-min then join
   *  back on u — so high-degree nodes never build an in-memory list. */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()
    val mins = sym.groupBy("src")
      .agg(least(col("src"), min(col("dst"))).as("m"))
    sym.join(mins, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
    // no trailing distinct: the same (v, m) edge can emerge from
    // different u-groups, but smallStar's orient step dedupes first
    // thing, so a distinct here would only add a shuffle per round.
    // (The convergence signature never reads largeStar output directly
    // — it runs on smallStar's, which IS distinct.)
  }

  /** One small-star round: orient every edge large→small, then hang each
   *  smaller neighbor (and u itself) off m = min(N(u) ∪ {u}). */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct()
    val mins = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(mins, "u")
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .union(mins.select(col("u").as("src"), col("m").as("dst")))
      .distinct()
  }

  /**
   * (node, component) for every node appearing in `edges`, where
   * component = the minimum node id of its connected component. Node
   * column type is anything with a total order (string doc ids here).
   * Nodes with no edges are absent — callers left-join and coalesce to
   * self for singleton semantics.
   *
   * @throws IllegalStateException if the star alternation has not reached
   *         its fixpoint within `maxIter` rounds (never emits a partial,
   *         possibly node-duplicating mapping)
   */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    def signature(e: DataFrame): (Long, BigDecimal) = {
      // decimal(38,0) sum: ANSI mode would overflow a Long sum of
      // xxhash64 values after ~2 rows
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    // reliable lineage cut when the session provisions a checkpoint dir
    // (executor-failure durability at cluster scale), localCheckpoint
    // as the single-JVM fallback — see the scaladoc durability note
    val reliable = edges.sparkSession.sparkContext.getCheckpointDir.isDefined
    def cut(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(false) else df.localCheckpoint(false)
    // lazy cut: the signature action right after is the job that
    // materializes it, so each round's compute runs as ONE job. The
    // ContextCleaner frees a round's blocks once nothing references it
    var e = cut(edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var sig = signature(e)
    var converged = sig._1 == 0L
    var i = 0
    while (!converged && i < maxIter) {
      val next = cut(smallStar(largeStar(e)))
      val nextSig = signature(next)
      converged = nextSig == sig
      sig = nextSig
      e = next
      i += 1
    }
    // No silent caps: on a non-fixpoint edge set the star extraction
    // below can emit a node under SEVERAL partial roots — duplicate
    // (node, component) rows that silently violate the one-row-per-node
    // contract downstream joins rely on. Fail loudly instead; maxIter is
    // a backstop against a signature-collision livelock, not a cap.
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within maxIter=$maxIter " +
          s"rounds (${sig._1} star edges live); raise maxIter for this graph " +
          "— emitting the partial mapping would duplicate nodes across roots")
    if (i > 0)
      log.info(s"connectedComponents converged after $i round(s), ${sig._1} star edges")
    // At the fixpoint the edge set is a disjoint union of stars rooted at
    // each component's minimum: every non-root appears exactly once as
    // src, roots only as dst.
    val children = e.select(col("src").as("node"), col("dst").as("component"))
    val roots = e.select(col("dst").as("node")).distinct()
      .join(children, Seq("node"), "left_anti")
      .select(col("node"), col("node").as("component"))
    children.union(roots)
  }
}
