package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.model.AnnotationRow
import graft.triples.Serializers

/** Round-3 additions: HTML + RDFa web representations (S16 remainder —
  * reference rest/.../OutputManager.java makeHTML/makeRDFa :241-248,
  * splice loop :251-269, formatters :279-325). */
class Round3FeaturesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private val ns = "http://dbpedia.org/resource/"

  private def fixture = {
    import spark.implicits._
    val anns = Seq(
      AnnotationRow("u1", 1, 6, "Berlin", "Berlin", 7L,
        Seq("DBpedia:City", "Schema:Place"), 0.9, 0.1, 0.9),
      AnnotationRow("u1", 1, 17, "Q", "Q_(magazine)", 3L,
        Seq(), 0.5, 0.2, 0.5)).toDF()
    val paras = Seq(
      ("u1", 1, "Visit Berlin and Q\nend"),
      ("u2", 1, "plain\ntext")).toDF("url", "para_idx", "para_text")
    (anns, paras)
  }

  test("HTML serializer splices <a href> links at original offsets") {
    val (anns, paras) = fixture
    val rows = Serializers.toHtml(anns, paras).collect()
      .map(r => r.getString(0) -> r.getString(2)).toMap
    val b = s"$ns" + "Berlin"
    val q = s"$ns" + "Q_(magazine)"
    val expectedContent =
      s"""Visit <a href="$b" title="$b" target="_blank">Berlin</a> and """ +
      s"""<a href="$q" title="$q" target="_blank">Q</a><br/>end"""
    val doc = rows("u1")
    assert(doc.contains(expectedContent))
    // reference HTMLFormatter skeleton (OutputManager.java:279-292)
    assert(doc.startsWith("<!DOCTYPE HTML PUBLIC \"-//W3C//DTD HTML 4.01 Transitional//EN\""))
    assert(doc.contains("<title>DBpedia Spotlight annotation</title>"))
    assert(doc.endsWith("</div>\n</body>\n</html>"))
    // paragraph with no annotations: text passes through, newlines <br/>-ized
    assert(rows("u2").contains("plain<br/>text"))
  }

  test("RDFa serializer emits about/typeof semantic attributes") {
    val (anns, paras) = fixture
    val doc = Serializers.toRdfa(anns, paras).collect()
      .find(_.getString(0) == "u1").get.getString(2)
    val b = s"$ns" + "Berlin"
    val q = s"$ns" + "Q_(magazine)"
    // typed resource: about + typeof with the most specific type's IRI
    // (RDFaFormatter.typeLink, OutputManager.java:310-317)
    assert(doc.contains(
      s"""<a about="$b" typeof="http://schema.org/Place" href="$b" title="$b">Berlin</a>"""))
    // untyped resource: the plain about-link variant (note the reference's
    // literal `target="_blank" >` spacing, OutputManager.java:309)
    assert(doc.contains(
      s"""<a about="$q" href="$q" title="$q" target="_blank" >Q</a>"""))
    // XHTML+RDFa skeleton with the reference's namespace declarations
    assert(doc.startsWith("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<!DOCTYPE html PUBLIC \"-//W3C//DTD XHTML+RDFa 1.0//EN\""))
    assert(doc.contains("xmlns:dbpedia=\"http://dbpedia.org/resource/\""))
  }

  test("HTML splice handles back-to-back and document-final annotations") {
    import spark.implicits._
    val anns = Seq(
      AnnotationRow("u3", 1, 0, "AB", "AB", 1L, Seq(), 0.1, 0.1, 0.1),
      AnnotationRow("u3", 1, 2, "CD", "CD", 1L, Seq(), 0.1, 0.1, 0.1)).toDF()
    val paras = Seq(("u3", 1, "ABCD")).toDF("url", "para_idx", "para_text")
    val doc = Serializers.toHtml(anns, paras).head().getString(2)
    assert(doc.contains(
      s"""<a href="${ns}AB" title="${ns}AB" target="_blank">AB</a>""" +
      s"""<a href="${ns}CD" title="${ns}CD" target="_blank">CD</a>"""))
  }

  test("overlap-mode spotting feeds the resolver genuine overlaps") {
    // p_overlap_resolved's premise: allSpots (findAllAligned) emits
    // nested/crossing spans that the leftmost-longest fast path never
    // produces, so the resolver's score cascade genuinely fires.
    import spark.implicits._
    import graft.model.{ParagraphRow, SurfaceFormRow}
    val sfs = Seq(
      SurfaceFormRow(1, "New York", "new york", 80L, 100L),
      SurfaceFormRow(2, "New York City", "new york city", 60L, 80L),
      SurfaceFormRow(3, "York", "york", 30L, 100L)).toDS()
    val paras = Seq(ParagraphRow("u", 1, "I love New York City a lot")).toDS()
    val bc = spark.sparkContext.broadcast(graft.spot.Spotter.buildAutomaton(sfs))
    val all = graft.spot.Spotter.gatedSpots(
      graft.spot.Spotter.allSpots(paras, bc), sfs).cache()
    val spans = all.select("offset", "sf").as[(Int, String)].collect().toSet
    // nested spans present: "New York" and "York" inside "New York City"
    assert(spans == Set((7, "New York"), (7, "New York City"), (11, "York")))
    val resolved = graft.spot.Spotter.resolveOverlaps(all.toDF())
      .select("offset", "sf").as[(Int, String)].collect().toSet
    // cascade: longer "New York City" (prob 0.75) displaces "New York"
    // (prob 0.8 → 0.75 > 0.4 = half), then "York" (0.3, shorter, not
    // above double the incumbent) is dropped
    assert(resolved == Set((7, "New York City")))
  }

  test("A4 inverted index equals weight × paragraph histogram (oracle derivation)") {
    // The p_entity_contexts DuckDB oracle re-derives the inverted index
    // as resolved-occurrence weight × the paragraph's emitted token
    // histogram. That derivation is valid only while every fixture
    // paragraph fits the 200-word narrowContext cap (then the occurrence
    // context IS the paragraph stream); assert the precondition and
    // mirror the whole derivation in Spark so a fixture or A4 change
    // that breaks the oracle fails here first, with a readable diff.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.pipeline.Annotate
    import graft.modelbuild.ModelBuild
    import graft.sources.{NTriples, SyntheticCorpus}
    import graft.disambig.Disambiguator
    val m = Annotate.syntheticModel(spark, 24)
    val maxWords = m.paragraphs
      .select(max(size(split(col("para_text"), " ")))).head().getInt(0)
    assert(maxWords <= 200, "fixture paragraph exceeds the narrowContext cap")
    val disambigs = NTriples.stripNamespace(
      NTriples.fromStrings(spark, SyntheticCorpus.disambiguationsNt), ns)
    val resolved = ModelBuild.resolvedOccurrences(m.occurrences, m.closure, disambigs)
    val hist = Disambiguator.docTokenHistogram(m.paragraphs, m.tokenTypes)
      .groupBy("url", "para_idx", "token_id").agg(sum("q_cnt").as("q"))
    val derived = resolved
      .join(m.resources.select("res_id", "uri"), Seq("uri"))
      .join(hist, Seq("url", "para_idx"))
      .groupBy("res_id", "token_id")
      .agg(sum(col("weight") * col("q")).as("count"))
      .select("res_id", "token_id", "count")
      .withColumn("res_tok_total",
        sum("count").over(org.apache.spark.sql.expressions.Window.partitionBy("res_id")))
    val expected = m.entityContexts.toDF()
      .orderBy("res_id", "token_id").collect().toSeq
    val got = derived.orderBy("res_id", "token_id").collect().toSeq
    assert(got == expected)
  }
}
