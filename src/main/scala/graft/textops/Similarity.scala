package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * Similarity search over an embedding column (`array<float>`):
 *
 *  - brute-force cosine top-k: the exact baseline — a cross join bounded
 *    by a query-side limit, dot products in column algebra
 *    (`zip_with`/`aggregate`, codegen'd, no UDF);
 *  - LSH-bucketed ANN: random-hyperplane sign bits from deterministic
 *    per-dimension hash weights → bucket join → exact re-rank within
 *    buckets. The scale path: shuffle is bounded by bucket sizes instead
 *    of |Q|×|C|.
 *
 * Embedding-cosine near-dup detection reuses the same primitives with
 * threshold instead of top-k.
 */
object Similarity {

  /** Σ aᵢ·bᵢ as a column expression. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def l2norm(a: Column): Column =
    sqrt(aggregate(transform(a, x => x * x), lit(0.0d), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /**
   * Exact top-k cosine neighbors for each query vector.
   * `queries`/`corpus`: (id, vec). The corpus side streams; per-query
   * top-k via window rank. The planner broadcasts the query side when
   * it is under the broadcast threshold.
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("q_vec"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"))
    val scored = c.crossJoin(q)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Deterministic random-hyperplane sign bit i for a vector: sign of
   *  Σ_d vec[d]·w(i,d) with w(i,d) = a fixed hash of (i,d) mapped to
   *  ±[0,1). No model state, identical across runs/executors. */
  private def hyperplaneBit(vec: Column, bit: Int, dims: Int): Column = {
    val proj = aggregate(
      zip_with(vec, sequence(lit(0), lit(dims - 1)),
        (v, d) => v * (pmod(xxhash64(d, lit(bit)), lit(100000L)).cast("double") / 50000.0d - 1.0d)),
      lit(0.0d), (acc, v) => acc + v)
    when(proj > 0, shiftleft(lit(1L), bit)).otherwise(lit(0L))
  }

  /** nBits-bit LSH bucket key per vector. */
  def lshKey(vec: Column, nBits: Int, dims: Int): Column =
    (0 until nBits).map(hyperplaneBit(vec, _, dims)).reduce((a, b) => a.bitwiseOR(b))

  /**
   * ANN via hyperplane-LSH buckets: candidates share a bucket key (plus
   * the query's single-bit-flip probes when `multiProbe`), exact cosine
   * re-rank within candidates. Recall grows with probes; shuffle volume
   * is Σ bucket² instead of |Q|·|C|.
   */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nBits: Int = 12, dims: Int = 64, multiProbe: Boolean = true,
              maxBucketSize: Int = 10000): DataFrame = {
    val c = Dedup.boundBuckets(
      corpus.select(col("id").as("neighbor_id"), col("vec").as("c_vec"),
        lshKey(col("vec"), nBits, dims).as("bucket")),
      Seq("bucket"), maxBucketSize, "ann-lsh corpus")
    val qBase = queries.select(col("id").as("query_id"), col("vec").as("q_vec"),
      lshKey(col("vec"), nBits, dims).as("key0"))
    val q =
      if (!multiProbe) qBase.withColumn("bucket", col("key0")).drop("key0")
      else qBase.withColumn("bucket",
          explode(array((col("key0") +: (0 until nBits).map(b =>
            col("key0").bitwiseXOR(lit(1L << b)))): _*)))
        .drop("key0")
    val scored = c.join(q, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /**
   * IVF (inverted-file) ANN — the centroid-partitioned alternative to
   * [[lshTopK]]: a small deterministic k-means codebook partitions the
   * corpus into `nCells` cells; queries probe their `nProbe` nearest
   * cells and re-rank exactly within them. Shuffle volume is
   * Σ(query-probes × cell size) instead of |Q|·|C|; the codebook is a
   * driver-side bounded dim (nCells × dims doubles, a few KB), which the
   * planner broadcasts into the assignment join by its size.
   *
   * Training is Lloyd's algorithm with a deterministic seed (the
   * `nCells` corpus vectors with the smallest xxhash64(id)) and a fixed
   * iteration count, ties broken by id — identical codebooks on every
   * run/executor layout, no model state. Per-iteration work is one
   * assignment join + groupBy over the training sample.
   *
   * Training runs on a BOUNDED sample (standard IVF practice — a
   * codebook of nCells centroids gains nothing from more than a few
   * thousand points per cell): the `sampleCap` vectors with the smallest
   * xxhash64(id) — the same deterministic seeding idiom, so the sample
   * (hence the codebook) is identical on every run and partitioning. The
   * default cap bounds both the per-iteration scan and the one-cell
   * mapGroups buffer (≤ sampleCap rows total) regardless of corpus size,
   * which is what lets the training step survive a 100 TB corpus;
   * fixture-scale corpora sit under the cap and train on everything.
   */
  def ivfCentroids(corpus: DataFrame, nCells: Int, dims: Int,
                   iters: Int = 3, sampleCap: Int = 65536): Array[(Int, Array[Double])] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(sampleCap >= nCells, s"sampleCap=$sampleCap < nCells=$nCells")
    // TakeOrdered top-k, not a global sort: per-partition k then one
    // merge — ~sampleCap × dims doubles, a bounded dim like the codebook
    val train = corpus.select(col("id"), col("vec"))
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(sampleCap)
      .cache() // scanned iters+1 times below
    var centroids: Array[(Int, Array[Double])] = train
      .orderBy(xxhash64(col("id")), col("id"))
      .limit(nCells)
      .as[(Long, Array[Double])].collect()
      .zipWithIndex.map { case ((_, v), i) => (i, v) }
    var it = 0
    while (it < iters) {
      val assigned = assignCells(train, centroids)
      // new centroid = mean of members; empty cells keep their vector
      val means = assigned
        .select(col("cell"), col("id"), col("vec"))
        .as[(Int, Long, Array[Double])]
        .groupByKey(_._1)
        .mapGroups { (cell, rows) =>
          // double addition is order-sensitive; sum in id order so the
          // codebook is bit-identical on every run/partitioning. Buffers
          // one cell — bounded at ≤ sampleCap rows by the training-sample
          // cap above, corpus size notwithstanding.
          val members = rows.toArray.sortBy(_._2)
          val sum = new Array[Double](dims)
          members.foreach { case (_, _, v) =>
            var i = 0; while (i < dims) { sum(i) += v(i); i += 1 }
          }
          var i = 0; while (i < dims) { sum(i) /= members.length; i += 1 }
          (cell, sum)
        }.collect().toMap
      centroids = centroids.map { case (c, v) => (c, means.getOrElse(c, v)) }
      it += 1
    }
    train.unpersist()
    centroids
  }

  /** Nearest-centroid assignment (cosine, ties by cell id): one row per
    * (input row, probe) with its `cell` and 1-based `probe_rank`.
    * `rankTo` > 1 keeps the nProbe nearest cells (query-side
    * multi-probe). */
  def assignCells(vecs: DataFrame,
                  centroids: Array[(Int, Array[Double])],
                  rankTo: Int = 1): DataFrame = {
    val spark = vecs.sparkSession
    val cents = spark.createDataFrame(
      centroids.toSeq.map { case (c, v) => (c, v.toSeq) })
      .toDF("cell", "c_vec")
    // deliberate bounded cross join: |vecs| × nCells rows, the inherent
    // IVF assignment cost; the planner broadcasts the tiny codebook
    vecs.crossJoin(cents)
      .withColumn("_sim", cosine(col("vec"), col("c_vec")))
      .withColumn("probe_rank", row_number().over(
        Window.partitionBy("id").orderBy(col("_sim").desc, col("cell"))))
      .filter(col("probe_rank") <= rankTo)
      .drop("_sim", "c_vec")
  }

  /** IVF top-k: corpus partitioned by nearest centroid, queries probe
    * their `nProbe` nearest cells, exact cosine re-rank within. Pass a
    * pre-trained `codebook` to reuse one training across queries. */
  def ivfTopK(queries: DataFrame, corpus: DataFrame, k: Int,
              nCells: Int = 16, nProbe: Int = 4, dims: Int = 64,
              iters: Int = 3,
              codebook: Option[Array[(Int, Array[Double])]] = None): DataFrame = {
    val centroids = codebook.getOrElse(ivfCentroids(corpus, nCells, dims, iters))
    val c = assignCells(corpus, centroids)
      .select(col("cell"), col("id").as("neighbor_id"), col("vec").as("c_vec"))
    val q = assignCells(queries, centroids, rankTo = nProbe)
      .select(col("cell"), col("id").as("query_id"), col("vec").as("q_vec"))
    c.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosine(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Embedding-cosine near-duplicate pairs above a threshold, using the
   *  LSH buckets to avoid the quadratic join. */
  def cosineNearDuplicates(vecs: DataFrame, threshold: Double = 0.95,
                           nBits: Int = 10, dims: Int = 64,
                           maxBucketSize: Int = 2000): DataFrame = {
    val b = Dedup.boundBuckets(
      vecs.select(col("id"), col("vec"), lshKey(col("vec"), nBits, dims).as("bucket")),
      Seq("bucket"), maxBucketSize, "cosine-near-dup")
    val l = b.select(col("bucket"), col("id").as("doc_a"), col("vec").as("vec_a"))
    val r = b.select(col("bucket"), col("id").as("doc_b"), col("vec").as("vec_b"))
    l.join(r, Seq("bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("cosine", cosine(col("vec_a"), col("vec_b")))
      .filter(col("cosine") >= threshold)
      .select("doc_a", "doc_b", "cosine").distinct()
  }
}
