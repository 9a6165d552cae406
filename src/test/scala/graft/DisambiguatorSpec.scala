package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.disambig.Disambiguator
import graft.model.{EntityContextRow, TokenTypeRow}
import graft.modelbuild.ModelBuild

/** Hand-computed arithmetic checks for the scoring operators
  * (GenerativeContextSimilarity D3, TF*ICF D4, R11/R12 windows). */
class DisambiguatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  // tiny closed model: 2 resources, 3 tokens, 10 context tokens each
  private def contexts = {
    import spark.implicits._
    Seq(
      EntityContextRow(1, 1, 8L, 10L), EntityContextRow(1, 2, 2L, 10L), // res 1: tok1 ×8, tok2 ×2
      EntityContextRow(2, 2, 5L, 10L), EntityContextRow(2, 3, 5L, 10L) // res 2: tok2 ×5, tok3 ×5
    ).toDS()
  }
  private def tokens = {
    import spark.implicits._
    Seq(TokenTypeRow(1, "alpha", 10L), TokenTypeRow(2, "beta", 7L),
      TokenTypeRow(3, "gamma", 5L)).toDS()
  }

  test("D3 generative similarity matches hand computation") {
    import spark.implicits._
    // paragraph with tokens: alpha ×2 (corpus count 10), beta ×1 (corpus 7)
    val docTokens = Seq(
      ("u", 1, 0, 1, 2L, 10L), ("u", 1, 0, 2, 1L, 7L)
    ).toDF("url", "para_idx", "win", "token_id", "q_cnt", "tok_count")
    val candRes = Seq(("u", 1, 0, 1), ("u", 1, 0, 2)).toDF("url", "para_idx", "win", "res_id")
    val totals = ModelBuild.Totals(100L, 200L, 100L, 22L, 3L)
    val cfg = Disambiguator.Config()

    val rows = Disambiguator.contextScores(candRes, docTokens, contexts, totals, cfg).collect()
    val out = rows.map(r => r.getAs[Int]("res_id") -> r.getAs[Double]("ctx_score")).toMap

    // expected, replicating GenerativeContextSimilarity.scala:19-78:
    def pLM(tokCount: Long) = math.log(tokCount + 1.0) - math.log(22.0 + 3.0)
    def logSum(a: Double, b: Double) = { val m = math.max(a, b); m + math.log(math.exp(a - m) + math.exp(b - m)) }
    def p(cnt: Long, total: Long, tokCount: Long) =
      if (cnt == 0) math.log(0.8) + pLM(tokCount)
      else logSum(math.log(0.2) + math.log(cnt.toDouble / total), math.log(0.8) + pLM(tokCount))
    // res 1 (total tokens 10): alpha p(8/10), beta p(2/10)
    val exp1 = (math.log(2.0) + p(8, 10, 10)) + (math.log(1.0) + p(2, 10, 7))
    // res 2 (total 10): alpha pML=0, beta p(5/10)
    val exp2 = (math.log(2.0) + p(0, 10, 10)) + (math.log(1.0) + p(5, 10, 7))
    assert(math.abs(out(1) - exp1) < 1e-9)
    assert(math.abs(out(2) - exp2) < 1e-9)

    // NIL score: all pML = 0, the same on every candidate of the window
    val nils = rows.map(_.getAs[Double]("nil_ctx_score")).distinct
    val expNil = (math.log(2.0) + math.log(0.8) + pLM(10)) + (math.log(1.0) + math.log(0.8) + pLM(7))
    assert(nils.length === 1)
    assert(math.abs(nils.head - expNil) < 1e-9)
  }

  test("context and softmax sums do not depend on the shuffle layout") {
    // sums over doubles follow the rows' physical order; the scored
    // similarity/contextual scores must come out bit-identical however
    // the request side is partitioned
    val m = SparkEntry.model(spark)
    val conf = Map("spark.sql.shuffle.partitions" -> "3",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val prev = conf.keys.map(k => k -> spark.conf.get(k)).toMap
    def scores(partitions: Int) =
      try {
        conf.foreach { case (k, v) => spark.conf.set(k, v) }
        spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
        graft.pipeline.Annotate.scoredOn(spark, m, m.paragraphs)
          .select("url", "para_idx", "offset", "res_id", "similarity_score", "contextual_score")
          .collect().map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getInt(3)) ->
            (r.getDouble(4), r.getDouble(5))).toMap
      } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
    val (three, seven) = (scores(3), scores(7))
    assert(three.nonEmpty)
    assert(three.keySet === seven.keySet)
    val differing = three.count { case (k, v) => seven(k) != v }
    assert(differing === 0, s"$differing of ${three.size} rows differ")
  }

  test("D4 TF*ICF matches hand computation") {
    import spark.implicits._
    val docTokens = Seq(
      ("u", 1, 0, 1, 1L, 10L), ("u", 1, 0, 2, 1L, 7L)
    ).toDF("url", "para_idx", "win", "token_id", "q_cnt", "tok_count")
    val candRes = Seq(("u", 1, 0, 1), ("u", 1, 0, 2)).toDF("url", "para_idx", "win", "res_id")
    val out = Disambiguator.tficfScores(candRes, docTokens, contexts)
      .collect().map(r => r.getAs[Int]("res_id") -> r.getAs[Double]("tficf_score")).toMap
    // nCand = 2. token1 hits only res1 → icf = log(2/1)+1; token2 hits both → icf = log(2/2)+1 = 1
    val exp1 = (1 * 8 * (math.log(2.0) + 1) + 1 * 2 * 1.0) / 10.0
    val exp2 = (1 * 5 * 1.0) / 10.0
    assert(math.abs(out(1) - exp1) < 1e-9)
    assert(math.abs(out(2) - exp2) < 1e-9)
  }

  test("R11 top context words ranked by count") {
    val out = Disambiguator.topContextWords(contexts, tokens, n = 1)
      .collect().map(r => r.getAs[Int]("res_id") -> r.getAs[String]("token")).toMap
    assert(out(1) === "alpha")
    assert(out(2) === "beta") // count tie 5/5 broken by token_id
  }

  test("R12 doc tags: top-k entities per url by best similarity") {
    import spark.implicits._
    val scored = Seq(
      ("u1", "A", -1.0), ("u1", "A", -0.5), ("u1", "B", -2.0), ("u2", "C", -3.0)
    ).toDF("url", "uri", "similarity")
    val tags = Disambiguator.topTagsPerDoc(scored, k = 1)
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("uri")).toMap
    assert(tags("u1") === "A")
    assert(tags("u2") === "C")
  }
}
