package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.disambig.Disambiguator
import graft.modelbuild.ModelBuild
import graft.pipeline.Annotate
import graft.sources.FeedbackStore
import graft.util.TextUtil

/** Round-5: the reference's feedback store (VERDICT r4 item 4) — TSV
  * parity with CSVFeedbackStore.add, the REST doc_url hashCode fallback,
  * the append-only table semantics, and the point of the whole store:
  * correct feedback unions back into the occurrence stream and shifts
  * the next model build's counts. */
class Round5FeaturesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = GraftSession.local(4)

  test("feedback TSV round-trips byte-identically through parse + re-emit") {
    // rows that carry a doc_url come back exactly as CSVFeedbackStore.add
    // wrote them (same \t mkString column order, io/FeedbackStore.scala:20)
    val lines = FeedbackStore.syntheticFeedbackLines.filter(_.split("\t")(0).nonEmpty)
    val back = FeedbackStore.toTsvLines(FeedbackStore.fromStrings(spark, lines))
      .collect().map(_.getString(0)).toSet
    assert(back == lines.toSet)
  }

  test("empty doc_url gets the REST resource's text.hashCode fallback id") {
    // Feedback.java:82-86: new URL("http://spotlight.dbpedia.org/id/" + text.hashCode())
    val fb = FeedbackStore.fromStrings(spark, FeedbackStore.syntheticFeedbackLines)
    val fallbackRows = fb.filter(col("doc_url").startsWith("http://spotlight.dbpedia.org/id/"))
      .select("doc_url", "text").collect()
    assert(fallbackRows.nonEmpty) // the fixture exercises the fallback
    fallbackRows.foreach { r =>
      assert(r.getString(0) == "http://spotlight.dbpedia.org/id/" + r.getString(1).hashCode)
    }
    // and no original empty doc_url survives
    assert(fb.filter(col("doc_url") === "").count() == 0)
  }

  test("malformed feedback lines are dropped, not thrown") {
    val fb = FeedbackStore.fromStrings(spark, Seq(
      "short\tline",                                             // < 7 fields
      "u\tcorrect\tBerlin\tBerlin\tctx\tNaN\tsys",               // bad offset
      "http://d/1\tcorrect\tBerlin\tBerlin\tctx text\t5\tsys"))  // good
    assert(fb.count() == 1)
    assert(fb.head().getString(0) == "http://d/1")
  }

  test("the store is append-only: two batches land as a union, no rewrite") {
    val dir = Files.createTempDirectory("graft-feedback").toString + "/store"
    val all = FeedbackStore.fromStrings(spark, FeedbackStore.syntheticFeedbackLines)
    val (b1, b2) = (all.filter(col("offset") % 2 === 0), all.filter(col("offset") % 2 =!= 0))
    FeedbackStore.append(b1, dir)
    val afterFirst = FeedbackStore.read(spark, dir).count()
    FeedbackStore.append(b2, dir)
    val back = FeedbackStore.read(spark, dir)
    assert(afterFirst == b1.count())
    assert(back.count() == all.count())
    assert(back.select("doc_url", "offset").collect().toSet ==
      all.select("doc_url", "offset").collect().toSet)
  }

  test("correct feedback unions into a model rebuild and shifts sf counts") {
    import spark.implicits._
    val m = Annotate.syntheticModel(spark, nDocs = 15, withTotalCounts = false)
    val fb = FeedbackStore.fromStrings(spark, FeedbackStore.syntheticFeedbackLines)
    val fbOccs = FeedbackStore.toOccurrenceRows(fb)

    // only the `correct` verdicts cross the bridge, tagged Annotation
    val correctCount = fb.filter(col("feedback") === "correct").count()
    assert(fbOccs.count() == correctCount)
    assert(fbOccs.select("provenance").distinct().as[String].collect().toSeq == Seq("Annotation"))

    // rebuild A1 over the unioned stream: every sf's annotated_count must
    // grow by exactly its number of correct feedback events (weight 1)
    val before = ModelBuild.surfaceForms(m.occurrences, None)
      .select("sf", "annotated_count").as[(String, Long)].collect().toMap
    val after = ModelBuild.surfaceForms(m.occurrences.union(fbOccs), None)
      .select("sf", "annotated_count").as[(String, Long)].collect().toMap
    val fbPerSf = fbOccs.groupBy("sf").count().as[(String, Long)].collect().toMap
    assert(fbPerSf.nonEmpty)
    after.foreach { case (sf, cnt) =>
      assert(cnt == before.getOrElse(sf, 0L) + fbPerSf.getOrElse(sf, 0L),
        s"sf=$sf before=${before.get(sf)} feedback=${fbPerSf.get(sf)} after=$cnt")
    }
  }

  // ---- sentence-aligned MAX_CONTEXT windows (VERDICT r4 item 8) --------

  test("sentence-aligned oversize gate counts sentences, like the reference") {
    // DBTwoStepDisambiguator.bestK:90 gates on sentences.size <= MAX_CONTEXT:
    // a 2-sentence text stays one window no matter how many TOKENS it has
    val manyTokensFewSentences =
      (1 to 40).map(i => s"alpha$i beta$i gamma$i").mkString(" ") + ". Second sentence here."
    assert(TextUtil.tokenize(manyTokensFewSentences).length > 5)
    assert(TextUtil.sentenceWindowStarts(manyTokensFewSentences, maxTokens = 5)
      .sameElements(TextUtil.SingleWindow))
  }

  test("sentence-aligned windows accumulate whole sentences past the cap") {
    // 8 sentences of 3 tokens each, maxTokens = 5 → the reference rule
    // closes a window at the end of the sentence that reaches ≥5 tokens:
    // sentences {1,2}, {3,4}, {5,6}, {7,8(last flush)}
    val text = (1 to 8).map(i => s"Word$i mid$i end$i.").mkString(" ")
    val starts = TextUtil.sentenceWindowStarts(text, maxTokens = 5)
    assert(starts.length == 4, s"starts=${starts.mkString(",")}")
    assert(starts(0) == 0)
    val si = java.text.BreakIterator.getSentenceInstance(java.util.Locale.ENGLISH)
    si.setText(text)
    val ends = Iterator.iterate(si.next())(_ => si.next()).takeWhile(_ != java.text.BreakIterator.DONE).toVector
    val toks = TextUtil.tokenize(text)
    // every cut lands exactly on a sentence boundary
    starts.drop(1).foreach(s => assert(ends.contains(s), s"cut $s not at a sentence end"))
    // no window (except the last) holds fewer than maxTokens tokens
    val bounds = starts.toVector :+ text.length
    val winSizes = bounds.sliding(2).map(w =>
      toks.count(t => t.offset >= w(0) && t.offset < w(1))).toVector
    assert(winSizes.init.forall(_ >= 5), s"window sizes: $winSizes")
    // and a mid-sentence offset maps to the window holding its WHOLE
    // sentence — never a mid-sentence cut
    val s3start = ends(1) // third sentence starts where the second ends
    assert(TextUtil.windowOf(starts, s3start) == TextUtil.windowOf(starts, s3start + 5))
  }

  test("window placement flag: identical annotations under the cap, shared keying over it") {
    import spark.implicits._
    val m = Annotate.syntheticModel(spark, nDocs = 15, withTotalCounts = false)
    // every bundled corpus paragraph fits one 250-token window → the two
    // placements must be byte-identical end-to-end
    val base = Annotate.annotationsFrom(spark,
      Annotate.scoredOn(spark, m, m.paragraphs)).toDF()
    val flagged = Annotate.annotationsFrom(spark,
      Annotate.scoredOn(spark, m, m.paragraphs,
        Disambiguator.Config(sentenceAlignedWindows = true))).toDF()
    assert(base.count() > 0)
    assert(base.except(flagged).isEmpty && flagged.except(base).isEmpty)

    // over the cap: an oversize synthetic paragraph (300+ sentences so the
    // reference's sentence-count gate engages at maxContextTokens = 20)
    // still annotates, and spot win tags agree with the histogram keying
    // (the scored path joins on win — a disagreement would drop all rows)
    val ent = graft.sources.SyntheticCorpus.entities.head
    val sf = ent.surfaceForms.head
    val bigText = (1 to 300).map(i => s"Sentence $i mentions $sf near ${ent.ctx(i % ent.ctx.length)}.").mkString(" ")
    val paras = Seq(graft.model.ParagraphRow("http://big/doc", 0, bigText)).toDS()
    val scoredBig = Annotate.scoredOn(spark, m, paras,
      Disambiguator.Config(sentenceAlignedWindows = true), maxContextTokens = 20)
    assert(scoredBig.filter($"uri" === ent.uri).count() > 0)
  }
}
