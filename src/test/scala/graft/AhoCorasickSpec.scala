package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.spot.AhoCorasick

/** Spotter-core tests incl. the reference's Dilma Rousseff overlap case
 *  (AhoCorasickSpotter.scala:81-110) and non-overlap invariants. */
class AhoCorasickSpec extends AnyFunSuite {

  /** Run a ScalaCheck property under ScalaTest (no scalatestplus bridge
   *  in the offline cache). */
  private def check(prop: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  private def matches(ac: AhoCorasick, text: String): Seq[(Int, String)] =
    ac.findNonOverlapping(text).map(m => (m.start, text.substring(m.start, m.end)))

  test("leftmost-longest, word-aligned (Dilma Rousseff case)") {
    val dict = Seq("Di", "D", "Dilma Rousseff", "Dilma", "ilma", "il", "l", "lm",
      "lma", "ma", "m", "a", "R", "Ro", "Rousseff", "Rousse", "ousse", "us",
      "uss", "sse", "ss", "s", "sef", "ef", "f", "ff")
    val ac = AhoCorasick.build(dict, caseSensitive = true)
    val text = "A president Dilma Rousseff spoke."
    // only the complete word-aligned span survives
    assert(matches(ac, text) === Seq((12, "Dilma Rousseff")))
  }

  test("word boundary required on both sides") {
    val ac = AhoCorasick.build(Seq("Java", "Java Island"), caseSensitive = true)
    assert(matches(ac, "Javax is not Java, but Java Island is.") ===
      Seq((13, "Java"), (23, "Java Island")))
  }

  test("case-insensitive folding") {
    val ac = AhoCorasick.build(Seq("Spark"), caseSensitive = false)
    assert(ac.findNonOverlapping("spark SPARK Spark").size === 3)
  }

  test("overlap mode finds all, aligned counts substrings at boundaries") {
    val ac = AhoCorasick.build(Seq("USA", "USA today"), caseSensitive = true)
    val all = ac.findAllAligned("USA today, USA now")
    val strs = all.map(m => "USA today, USA now".substring(m.start, m.end)).sorted
    assert(strs === Seq("USA", "USA", "USA today"))
  }

  test("empty and no-match") {
    val ac = AhoCorasick.build(Seq("xyz"), caseSensitive = true)
    assert(ac.findAll("").isEmpty)
    assert(ac.findNonOverlapping("nothing here").isEmpty)
  }

  test("property: non-overlapping output never overlaps and matches dictionary") {
    val wordGen = Gen.oneOf("ab", "abc", "b", "bc", "cab", "a")
    val textGen = Gen.listOf(Gen.oneOf(wordGen, Gen.const(" "), Gen.const(","))).map(_.mkString)
    val ac = AhoCorasick.build(Seq("ab", "abc", "b", "cab"), caseSensitive = true)
    check(Prop.forAll(textGen) { text: String =>
      val ms = ac.findNonOverlapping(text)
      val noOverlap = ms.sliding(2).forall {
        case Seq(m1, m2) => m1.end < m2.start
        case _ => true
      }
      val inDict = ms.forall(m =>
        Set("ab", "abc", "b", "cab").contains(text.substring(m.start, m.end)))
      noOverlap && inDict
    })
  }

  test("each match names its pattern and the pattern's payload") {
    val ac = AhoCorasick.withPayload(
      Array(("USA", 7, 40L, 100L), ("United States", 3, 9L, -1L), ("usa", 8, 1L, 2L)),
      caseSensitive = false)
    val text = "the USA and United States act"
    val hits = ac.findNonOverlapping(text).map(m =>
      (text.substring(m.start, m.end), ac.sfId(m.pattern), ac.annotatedCount(m.pattern),
        ac.totalCount(m.pattern)))
    // "usa" folds onto "USA": the first pattern of a folded key keeps it
    assert(hits === Seq(("USA", 7, 40L, 100L), ("United States", 3, 9L, -1L)))
    assert(ac.hasPayload && !AhoCorasick.build(Seq("USA"), caseSensitive = true).hasPayload)
  }

  test("serializable (broadcast requirement)") {
    val ac = AhoCorasick.build(Seq("United States", "USA"), caseSensitive = true)
    val bos = new java.io.ByteArrayOutputStream()
    new java.io.ObjectOutputStream(bos).writeObject(ac)
    val ac2 = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bos.toByteArray)).readObject().asInstanceOf[AhoCorasick]
    assert(matches(ac2, "the USA and United States act") ===
      Seq((4, "USA"), (12, "United States")))
  }
}
