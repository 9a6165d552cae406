package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.disambig.Disambiguator
import graft.filter.OccurrenceFilters
import graft.modelbuild.ModelBuild
import graft.spot.SpotXml
import graft.triples.Serializers

/** Coverage for the long-tail operators: F7 occurrence filters, A10
  * title surface forms, C4 variants, P9 spot-XML, S16 serializers. */
class OperatorSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  private def occs = {
    import spark.implicits._
    Seq(
      ("o1", "United_States", "USA", "ctx one", 0),
      ("o2", "List_of_rivers", "rivers", "ctx two", 3),
      ("o3", "1984", "1984", "ctx three", 5),
      ("o4", "Murica", "America", "ctx four", 2)
    ).toDF("id", "uri", "sf", "para_text", "offset")
  }

  test("F7: whitelist, list/number drops, lowercase, narrow") {
    import spark.implicits._
    val concepts = Seq("United_States").toDF("uri")
    assert(OccurrenceFilters.uriWhitelist(occs, concepts).count() === 1)
    assert(OccurrenceFilters.dropListPages(occs).count() === 3)
    assert(OccurrenceFilters.dropNumberResources(occs).count() === 3)
    val lc = OccurrenceFilters.lowerCaseSurfaceForms(occs)
      .select("sf").collect().map(_.getString(0)).toSet
    assert(lc.contains("usa") && !lc.contains("USA"))
    val closure = Seq(("Murica", "United_States")).toDF("from", "to")
    val resolved = OccurrenceFilters.redirectResolve(occs, closure)
      .filter(col("id") === "o4").head().getAs[String]("uri")
    assert(resolved === "United_States")
  }

  test("A10: title surface forms decoded with sanity rules") {
    import spark.implicits._
    val uris = Seq("United_States", "Mercury_(planet)", "The",
      "Bad%20Escape", ("x" * 60)).toDF("uri")
    val sfs = ModelBuild.titleSurfaceForms(uris)
      .select("sf").collect().map(_.getString(0)).toSet
    assert(sfs === Set("United States", "Mercury"))
  }

  test("C4: morphological retry variants") {
    // each rule contributes independently (the reference retries each)
    assert(Disambiguator.sfVariants("The Beatles").contains("Beatles"))
    assert(Disambiguator.sfVariants("cars") === Seq("car"))
    assert(Disambiguator.sfVariants("Chaplin's") === Seq("Chaplin"))
    assert(Disambiguator.sfVariants("a dog").contains("dog"))
    assert(Disambiguator.sfVariants("Berlin").isEmpty)
  }

  test("P9: spot XML parses text and offsets") {
    val xml = """<annotation text="Berlin is in Germany.">
      <surfaceForm name="Berlin" offset="0"/>
      <surfaceForm name="Germany" offset="13"/>
    </annotation>"""
    val spots = SpotXml.parse(xml)
    assert(spots.map(s => (s.sf, s.offset)) === Seq(("Berlin", 0), ("Germany", 13)))
    assert(spots.head.text === "Berlin is in Germany.")
    val df = SpotXml.toSpots(spark, Seq("doc1" -> xml))
    assert(df.count() === 2)
    // offset invariant holds
    df.collect().foreach { r =>
      val t = r.getAs[String]("para_text"); val sf = r.getAs[String]("sf")
      val off = r.getAs[Int]("offset")
      assert(t.substring(off, off + sf.length) === sf)
    }
    // spots from XML carry no sf_id: candidate generation looks their
    // forms up in the surface-form store
    import spark.implicits._
    val sfs = Seq(graft.model.SurfaceFormRow(1, "Berlin", "/berlin", 5L, 10L),
      graft.model.SurfaceFormRow(2, "Germany", "/germany", 5L, 10L)).toDS()
    val cands = Seq(graft.model.CandidateRow(1, 10, 5L, 1),
      graft.model.CandidateRow(2, 20, 5L, 1)).toDS()
    val resolved = Disambiguator.spotCandidates(df, sfs, cands)
      .select("sf", "res_id").as[(String, Int)].collect().toSet
    assert(resolved === Set(("Berlin", 10), ("Germany", 20)))
  }

  test("S16: serializers emit parseable lines") {
    import spark.implicits._
    val ann = Seq(
      ("u1", 1, 0, "USA", "United_States", 100L, Seq("DBpedia:Country"), 0.9, 0.1, 0.8)
    ).toDF("url", "para_idx", "offset", "sf", "uri", "support", "types",
      "similarity_score", "percentage_of_second_rank", "contextual_score")
    val json = Serializers.toSpotlightJson(ann).head().getAs[String]("json")
    assert(json.contains("\"@URI\":\"United_States\""))
    assert(json.contains("\"@support\":100"))
    val trip = Seq(
      ("u1", "mentions", "United_States", "u1", 0.9),
      ("United_States", "rdf:type", "DBpedia:Country", "", 1.0))
      .toDF("subj", "pred", "obj", "src_url", "score")
    val nts = Serializers.toNTriples(trip).collect().map(_.getString(0))
    nts.foreach { nt =>
      assert(nt.startsWith("<") && nt.endsWith("> ."))
      // every term is an absolute IRI (N-Triples conformance)
      val terms = "<([^>]+)>".r.findAllMatchIn(nt).map(_.group(1)).toSeq
      assert(terms.length === 3)
      terms.foreach(t => assert(t.startsWith("http"), s"non-IRI term $t in $nt"))
    }
    assert(nts.exists(_.contains("<http://purl.org/dc/terms/references>")))
    assert(nts.exists(_.contains("<http://dbpedia.org/ontology/Country>")))
    assert(nts.exists(_.contains("rdf-syntax-ns#type")))
  }
}
