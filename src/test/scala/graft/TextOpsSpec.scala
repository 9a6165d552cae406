package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.textops.{Dedup, Multimodal, Similarity, TextStats}

/** Value-level checks for the training-data operators whose hashes the
  * DuckDB oracle can't reproduce (custom minhash/simhash/LSH). */
class TextOpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private def docs = {
    import spark.implicits._
    Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river bank today"),
      (2L, "the quick brown fox jumps over the lazy dog near the river bank today"), // exact dup of 1
      (3L, "the quick brown fox jumps over the lazy dog near the river bend today"), // near dup of 1
      (4L, "completely different content about spark clusters and shuffle behavior"),
      (5L, "spark clusters and shuffle behavior explained in completely different words"),
      (6L, "unrelated text regarding cooking recipes with garlic butter and thyme")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts under min id") {
    val out = Dedup.exact(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 1L && out(2L) === 1L)
    assert(out(3L) === 3L && out(4L) === 4L)
  }

  test("minhash LSH finds the near-dup pair; jaccard verifies") {
    val pairs = Dedup.minhashCandidatePairs(docs, bands = 16, rows = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // identical docs always collide
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L))) // near dup
    val verified = Dedup.nearDuplicates(docs, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.contains((1L, 2L)))
    assert(!verified.exists { case (a, b) => b == 6L || a == 6L }) // unrelated never verifies
  }

  test("jaccard of identical docs is 1.0, disjoint docs 0.0") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 6L)).toDF("doc_a", "doc_b")
    val j = Dedup.ngramJaccard(pairs, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(j((1L, 2L)) === 1.0)
    assert(j((1L, 6L)) < 0.05)
  }

  test("simhash: identical docs distance 0, near dups close, unrelated far") {
    val pairs = Dedup.simhashCandidatePairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).longValue).toMap
    assert(pairs((1L, 2L)) === 0L)
    assert(pairs.get((1L, 3L)).forall(_ <= 12L))
  }

  test("LSH bucket cap drops degenerate buckets but keeps real near-dups") {
    import spark.implicits._
    // skew fixture: 1000 identical boilerplate docs would make every
    // band bucket quadratic (10^6 pairs in one task); genuine near-dup
    // pairs ride in distinct small buckets and must survive the cap
    val boiler = (0 until 1000).map(i =>
      (i.toLong, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod"))
    val real = (0 until 3).flatMap { j =>
      val base = s"unique document nr$j with many distinct words alpha$j beta$j " +
        s"gamma$j delta$j epsilon$j zeta$j eta$j theta$j iota$j kappa$j"
      Seq((2000L + 2 * j, base), (2001L + 2 * j, base + " trailing"))
    }
    val skewed = (boiler ++ real).toDF("doc_id", "text")

    val mh = Dedup.minhashCandidatePairs(skewed, maxBucketSize = 100)
    assert(mh.filter(col("doc_a") < 1000L && col("doc_b") < 1000L).count() === 0,
      "degenerate boilerplate bucket was not dropped")
    val foundPairs = mh.filter(col("doc_a") >= 2000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (0 until 3).foreach { j =>
      assert(foundPairs.contains((2000L + 2 * j, 2001L + 2 * j)),
        s"near-dup pair $j lost to the bucket cap")
    }

    val sh = Dedup.simhashCandidatePairs(skewed, maxBucketSize = 100)
    assert(sh.filter(col("doc_a") < 1000L && col("doc_b") < 1000L).count() === 0)
  }

  test("brute-force ANN: self-similar vectors rank first") {
    import spark.implicits._
    // 20 deterministic vectors; vec i and i+10 are near-identical
    val vecs = (0 until 20).map { i =>
      val base = i % 10
      val v = (0 until 8).map(d => math.sin(base * 31 + d * 7).toFloat +
        (if (i >= 10) 0.001f * d else 0f))
      (i.toLong, v.map(_.toDouble).toArray)
    }.toDF("id", "vec")
    val top1 = Similarity.bruteForceTopK(vecs, vecs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0 until 10).foreach { i => assert(top1(i.toLong) === (i + 10).toLong) }
  }

  test("LSH ANN recall@1 matches brute force on clustered vectors") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      val base = i % 10
      val v = (0 until 16).map(d => math.sin(base * 31 + d * 7) +
        (if (i >= 10) 0.001 * d else 0.0))
      (i.toLong, v.toArray)
    }.toDF("id", "vec")
    val bf = Similarity.bruteForceTopK(vecs, vecs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lsh = Similarity.lshTopK(vecs, vecs, k = 1, nBits = 8, dims = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = bf.keys.count(k => lsh.get(k).contains(bf(k)))
    assert(hits.toDouble / bf.size >= 0.8) // multi-probe recall on clear clusters
  }

  test("IVF ANN recall@1 matches brute force and trains deterministically") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      val base = i % 10
      val v = (0 until 16).map(d => math.sin(base * 31 + d * 7) +
        (if (i >= 10) 0.001 * d else 0.0))
      (i.toLong, v.toArray)
    }.toDF("id", "vec")
    val bf = Similarity.bruteForceTopK(vecs, vecs, k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(vecs, vecs, k = 1, nCells = 4, nProbe = 2, dims = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = bf.keys.count(k => ivf.get(k).contains(bf(k)))
    // near-identical twins share a cell; probing 2 of 4 cells must find them
    assert(hits.toDouble / bf.size >= 0.9)
    // codebook bits are run-invariant (seeded init + id-ordered sums)
    val c1 = Similarity.ivfCentroids(vecs, nCells = 4, dims = 16)
    val c2 = Similarity.ivfCentroids(vecs, nCells = 4, dims = 16)
    assert(c1.map(_._1).sameElements(c2.map(_._1)))
    c1.zip(c2).foreach { case ((_, v1), (_, v2)) => assert(v1.sameElements(v2)) }
  }

  test("IVF codebook: sampleCap bounds training and stays deterministic") {
    import spark.implicits._
    val vecs = (0 until 20).map { i =>
      val base = i % 10
      (i.toLong, (0 until 16).map(d => math.sin(base * 31 + d * 7)).toArray)
    }.toDF("id", "vec")
    // cap ≥ corpus: trains on everything — bit-identical to the default
    val full = Similarity.ivfCentroids(vecs, nCells = 4, dims = 16)
    val atCap = Similarity.ivfCentroids(vecs, nCells = 4, dims = 16, sampleCap = 20)
    full.zip(atCap).foreach { case ((i1, v1), (i2, v2)) =>
      assert(i1 === i2); assert(v1.sameElements(v2))
    }
    // cap < corpus: still a full valid codebook, identical across runs
    // (the sample is the xxhash64(id)-smallest prefix, not a random draw)
    val s1 = Similarity.ivfCentroids(vecs, nCells = 4, dims = 16, sampleCap = 8)
    val s2 = Similarity.ivfCentroids(vecs, nCells = 4, dims = 16, sampleCap = 8)
    assert(s1.length === 4)
    s1.zip(s2).foreach { case ((_, v1), (_, v2)) => assert(v1.sameElements(v2)) }
  }

  test("text stats: counts, ratios, quality and lang-id on known strings") {
    import spark.implicits._
    val d = Seq(
      (1L, "The cat sat on the mat and the dog ran to the park."),
      (2L, "der hund ist von der die das und mit den ein nicht haus"),
      (3L, "!!! ??? ... ;;; :::")).toDF("doc_id", "text")
    val rows = TextStats.documentStats(d).collect().map(r => r.getLong(0) -> r).toMap
    assert(rows(1L).getAs[Int]("n_tokens") === 13)
    assert(rows(1L).getAs[String]("lang_pred") === "en")
    assert(rows(2L).getAs[String]("lang_pred") === "de")
    assert(rows(3L).getAs[Double]("punct_ratio") > 0.5)
    assert(rows(1L).getAs[Double]("quality_score") >
      rows(3L).getAs[Double]("quality_score"))
    // fingerprint: deterministic and text-sensitive
    val f1 = rows(1L).getAs[Long]("fingerprint")
    val again = TextStats.documentStats(d).collect()
      .find(_.getLong(0) == 1L).get.getAs[Long]("fingerprint")
    assert(f1 === again)
    assert(f1 !== rows(2L).getAs[Long]("fingerprint"))
  }

  test("multimodal decode: header meta re-read from real BMP/WAV/y4m bytes") {
    import spark.implicits._
    val ids = (0L until 12L).toDF("vec_id")
    val media = Multimodal.syntheticMedia(spark, ids, "vec_id")
    val feats = Multimodal.extractFeatures(media).collect()
    assert(feats.length === 12)
    // features are a normalized content histogram: 16 bins summing to 1
    assert(feats.forall(_.features.length === 16))
    assert(feats.forall(f => math.abs(f.features.sum - 1.0f) < 1e-3))
    val byId = feats.map(f => f.media_id -> f).toMap
    // image ids (≡0 mod 3): BMP width/height parsed back out of the
    // header bytes must equal the generation parameters
    Seq(0L, 3L, 6L, 9L).foreach { id =>
      val f = byId(id)
      assert(f.media_type === "image")
      assert(f.width === Some(4 + (id % 13).toInt))
      assert(f.height === Some(4 + (id % 11).toInt))
      assert(f.sample_rate.isEmpty && f.n_frames.isEmpty)
    }
    // audio ids (≡1): WAV sample rate and PCM frame count from RIFF header
    Seq(1L, 4L, 7L, 10L).foreach { id =>
      val f = byId(id)
      assert(f.media_type === "audio")
      assert(f.sample_rate === Some(Seq(8000, 16000, 22050, 44100)((id % 4).toInt)))
      val n = (64 + (id % 160).toInt * 2).toLong
      assert(f.n_frames === Some(n))
      assert(f.duration_ms === Some(n * 1000.0 / f.sample_rate.get))
    }
    // video ids (≡2): y4m frame count and dimensions from the text header
    Seq(2L, 5L, 8L, 11L).foreach { id =>
      val f = byId(id)
      assert(f.media_type === "video")
      assert(f.width === Some(4 + (id % 6).toInt * 2))
      assert(f.height === Some(4 + (id % 4).toInt * 2))
      assert(f.n_frames === Some((3 + (id % 6).toInt).toLong))
    }
    // decode is deterministic
    val again = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> f.sha).toMap
    assert(feats.forall(f => again(f.media_id) == f.sha))
    // frame sampling: every 4th FRAME of each video stream, nothing else
    val frames = Multimodal.sampleFrames(media).collect()
      .map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
    assert(frames.keySet === Set(2L, 5L, 8L, 11L))
    frames.foreach { case (id, rows) =>
      val nf = 3 + (id % 6).toInt
      assert(rows.map(_._2).sorted.toSeq === (0 until nf by 4))
    }
  }

  // ---- connected components (large-star/small-star) ----

  private def ccMap(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    graft.textops.ConnectedComponents
      .connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("connected components: chain collapses transitively to the min") {
    // a 6-node path is the worst diameter for the single-hop policy this
    // operator replaces; CC must pull every node to 1
    val m = ccMap(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L))
    assert(m === Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L, 6L -> 1L, 1L -> 1L))
  }

  test("connected components: separate components keep separate minima") {
    val m = ccMap(Seq(10L -> 7L, 7L -> 3L, 20L -> 21L))
    assert(m === Map(10L -> 3L, 7L -> 3L, 3L -> 3L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: matches union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val edges = Seq.fill(60)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter { case (a, b) => a != b }
    // brute-force union-find oracle
    val parent = scala.collection.mutable.Map((0L until 50L).map(i => i -> i): _*)
    def find(x: Long): Long = if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    edges.foreach { case (a, b) => val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    val expected = edges.flatMap(e => Seq(e._1, e._2)).distinct
      .map(n => n -> find(n)).toMap
    // find() roots are already component minima because unions always
    // attach the larger root under the smaller
    assert(ccMap(edges) === expected)
  }

  test("connected components: string ids and the cluster query singleton rule") {
    import spark.implicits._
    val pairs = Seq(("doc_b", "doc_c"), ("doc_c", "doc_a")).toDF("doc_a", "doc_b")
    val cc = graft.textops.ConnectedComponents.connectedComponents(pairs, "doc_a", "doc_b")
    val all = Seq("doc_a", "doc_b", "doc_c", "doc_z").toDF("doc_id")
    val canon = all.join(cc.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("canonical"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon === Map("doc_a" -> "doc_a", "doc_b" -> "doc_a",
      "doc_c" -> "doc_a", "doc_z" -> "doc_z"))
  }

  test("connected components: reliable checkpoint engages under a provisioned dir") {
    import spark.implicits._
    val sc = spark.sparkContext
    val prev = sc.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toString
    sc.setCheckpointDir(dir)
    try {
      val m = graft.textops.ConnectedComponents
        .connectedComponents(Seq(1L -> 2L, 2L -> 3L, 3L -> 4L).toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // counters/mapping unchanged vs the localCheckpoint path
      assert(m === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
      // and the lineage cut actually wrote reliable checkpoint data
      // (rdd-N/part-* files under the provisioned dir), so a lost
      // executor mid-loop replays from storage instead of recomputing
      def files(f: java.io.File): Iterator[java.io.File] =
        Option(f.listFiles).iterator.flatMap(_.iterator)
          .flatMap(c => Iterator(c) ++ files(c))
      assert(files(new java.io.File(dir))
        .exists(f => f.isFile && f.getName.startsWith("part-")))
    } finally prev.foreach(sc.setCheckpointDir)
  }

  test("repetition stats: hand-computed Gopher-style n-gram fractions") {
    import spark.implicits._
    val d = Seq(
      (1L, "a a b"),               // dup tokens 2/3; bigrams {a a, a b} top 1/2; 1 trigram, no dup
      (2L, "x y x y x y"),         // all tokens dup; "x y"x3 of 5 bigrams; all 4 trigrams dup
      (3L, "unique words only"),   // no repetition
      (4L, "solo"),                // too short for bigrams/trigrams -> 0.0
      (5L, "a a\n")                // trailing newline must NOT add a phantom token
    ).toDF("doc_id", "text")
    val out = graft.textops.TextStats.repetitionStats(d)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(1L) === ((0.666667, 0.5, 0.0)))
    assert(out(2L) === ((1.0, 0.6, 1.0)))
    assert(out(3L) === ((0.0, 0.5, 0.0)))
    assert(out(4L) === ((0.0, 0.0, 0.0)))
    assert(out(5L) === ((1.0, 1.0, 0.0)))
  }

  test("repetition char stats: hand-computed Gopher character fractions") {
    import spark.implicits._
    val d = Seq(
      // 13 single-char tokens; "a b c d e" dups at 0/6, "b c d e f" at
      // 1/7 -> 5-gram coverage = positions 0..11 = 12 of 13 chars;
      // "a b c d e f" dups at 0/6 -> 6-gram coverage also 12/13; no
      // duplicate 7-grams. Top 2/3/4-grams each occur twice (tie ->
      // lexicographically first): counts 2 x char-lens 2/3/4.
      (1L, "a b c d e f a b c d e f x"),
      // degenerate doc: overlapping top-gram occurrences push the
      // count x length statistic past 1.0 (the standard public
      // reimplementation behaves the same); dup coverage caps at 1.0
      (2L, "w w w w w w w w w w w w"),
      (3L, "solo") // too short for any order -> all 0.0
    ).toDF("doc_id", "text")
    val out = graft.textops.TextStats.repetitionCharStats(d)
      .collect().map(r => r.getLong(0) -> (1 to 9).map(r.getDouble).toVector).toMap
    assert(out(1L) === Vector(
      2 * 2 / 13.0, 2 * 3 / 13.0, 2 * 4 / 13.0, // top 2/3/4-gram
      12 / 13.0, 12 / 13.0, 0.0, 0.0, 0.0, 0.0  // dup 5..10-gram
    ).map(v => math.round(v * 1e6) / 1e6))
    assert(out(2L) === Vector(
      11 * 2 / 12.0, 10 * 3 / 12.0, 9 * 4 / 12.0,
      1.0, 1.0, 1.0, 1.0, 1.0, 1.0
    ).map(v => math.round(v * 1e6) / 1e6))
    assert(out(3L) === Vector.fill(9)(0.0))
  }

  test("lm quality: hand-computed Laplace unigram cross-entropy") {
    import spark.implicits._
    // counts a:2 b:2 c:1 -> N=5, V=3; p(a)=p(b)=3/8, p(c)=2/8
    val d = Seq((1L, "a a b"), (2L, "b c"), (3L, "")).toDF("doc_id", "text")
    val out = graft.textops.LmQuality.crossEntropy(d)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // doc1: ce = -ln(3/8), ppl = 8/3; doc2: ce = (-ln(3/8) - ln(1/4)) / 2
    assert(out(1L) === ((3L, 0.980829, 2.666667)))
    assert(out(2L) === ((2L, 1.183562, 3.265986)))
    assert(out(3L) === ((0L, 0.0, 1.0))) // empty doc: no evidence
  }

  test("url canonicalize: case, ports, slashes, tracking params, fragments") {
    import spark.implicits._
    val d = Seq(0L, 2L, 7L, 420L).toDF("doc_id")
    val out = graft.textops.UrlNormalize
      .dedupByCanonical(graft.textops.UrlNormalize.syntheticUrls(d))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3)))).toMap
    assert(out(0L)._1 ===
      "HTTP://WWW.Example.COM:80/Articles//0/?utm_source=feed&b=0&a=1#section-2")
    assert(out(0L)._2 === "http://www.example.com/Articles/0?a=1&b=0")
    // 420 = lcm of every residue -> same canonical group as doc 0
    assert(out(420L)._2 === out(0L)._2 && out(0L)._3 === 0L && out(420L)._3 === 0L)
    // explicit non-default port kept; default :443 dropped for https
    assert(out(2L)._2 === "http://cdn.example.net:8080/Articles/2?a=1&b=2")
    assert(out(7L)._2 === "https://news.example.com/Articles/0?a=1&b=7")
  }

  test("url canonicalize edge shapes: root path, missing path, param-free query") {
    import spark.implicits._
    val d = Seq("https://Example.com:443/", "http://example.com",
      "http://h.io/a?utm_source=x", "http://h.io/a/b/?z=1&y=2#f")
      .toDF("url")
    val out = d.select(graft.textops.UrlNormalize.canonicalize(col("url")))
      .as[String].collect()
    assert(out === Array("https://example.com/", "http://example.com/",
      "http://h.io/a", "http://h.io/a/b?y=2&z=1"))
  }

  test("url canonicalize: malformed urls pass through and keep distinct canonical ids") {
    import spark.implicits._
    val d = Seq((1L, "mailto:a@example.com"), (2L, "/relative/path?q=1"),
      (3L, "example.com/no-scheme"), (4L, "HTTP://Example.com:80/x"))
      .toDF("doc_id", "url")
    val out = graft.textops.UrlNormalize.dedupByCanonical(d)
      .select("doc_id", "canonical_url", "canonical_id").as[(Long, String, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) === (("mailto:a@example.com", 1L)))
    assert(out(2L) === (("/relative/path?q=1", 2L)))
    assert(out(3L) === (("example.com/no-scheme", 3L)))
    assert(out(4L) === (("http://example.com/x", 4L)))
  }

  test("decontaminate: 13-gram overlap vs benchmark slice, self-matches excluded") {
    import spark.implicits._
    val text13 = "a b c d e f g h i j k l m" // exactly one 13-gram
    val d = Seq(
      (1L, s"x $text13 y"),    // embeds the benchmark 13-gram -> hit on BOTH bench docs
      (2L, "p q r s t u v w p2 q2 r2 s2 t2 u2"), // 14 unique tokens, no overlap
      (3L, "short doc here"),  // < 13 tokens -> can never be flagged
      (7L, text13),            // benchmark doc (id % 10 = 7); hits its twin 17, not itself
      (17L, text13)            // benchmark doc, exact dup of 7
    ).toDF("doc_id", "text")
    val out = graft.textops.Decontaminate
      .flag(d, d.filter($"doc_id" % 10 === 7), n = 13)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) === ((1L, 2L, true)))
    assert(out(2L) === ((0L, 0L, false)))
    assert(out(3L) === ((0L, 0L, false)))
    assert(out(7L) === ((1L, 1L, true)))
    assert(out(17L) === ((1L, 1L, true)))
  }
}
