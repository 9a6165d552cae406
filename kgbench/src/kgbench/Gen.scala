package kgbench

import java.sql.Timestamp
import scala.collection.mutable.ArrayBuffer
import scala.util.Random
import graft.model.{ParagraphRow, WebPage}

/** One entity mention the generator placed in a page: where it sits in the
 *  page's plain text (1-based paragraph, char offset) and which canonical
 *  URI it denotes. Linked and unlinked mentions are both gold. */
final case class Gold(url: String, para_idx: Int, offset: Int, uri: String)

/** Generated pages plus their gold mentions and the plain text of every
 *  paragraph (the request workload posts plain text, not markup). */
final case class Corpus(pages: Vector[WebPage], gold: Vector[Gold],
                        paragraphs: Vector[ParagraphRow])

/**
 * Seeded generator of the program's input shapes: `WebPage` rows with
 * `[[Uri|sf]]` markup, and redirect, disambiguation and type N-Triples.
 * Everything is a pure function of the seed. The properties the
 * program's behaviour depends on:
 *  - an entity universe of `nEntities` (≥ 10⁴) URIs;
 *  - Zipf popularity (exponent `zipfS`) over a seeded ranking, so a few
 *    head entities take most mentions and the tail falls under F-support;
 *  - a unique two-word name per entity plus, for a share of entities, a
 *    one-word name shared by 2–3 entities, so candidate fan-out is 1–3;
 *  - per-entity context words from a large vocabulary, so context scoring
 *    can tell sharers apart;
 *  - redirect chains of depth 3 and 1 plus two 2-cycles, with some links
 *    pointing at chain heads, so the closure loop iterates;
 *  - every 33rd paragraph longer than 250 tokens (MAX_CONTEXT windows);
 *  - gold mentions kept for scoring.
 */
final class Universe(val seed: Long, val nEntities: Int = 12000,
                     vocabSize: Int = 30000, zipfS: Double = 0.9) {

  private val Consonants = "bdfghjklmnprstvz"
  private val Vowels = "aeiou"
  private val NSyl = Consonants.length * Vowels.length // 80 two-letter syllables

  /** `k` fixed-width syllables spelling `n` in base 80: distinct `n` give
   *  distinct words, and words of different `k` never coincide. */
  private def spell(n: Long, k: Int): String = {
    val sb = new StringBuilder(2 * k)
    var x = n
    for (_ <- 0 until k) {
      val s = (x % NSyl).toInt
      sb += Consonants(s / Vowels.length) += Vowels(s % Vowels.length)
      x /= NSyl
    }
    sb.toString
  }
  // multiplying by a unit mod 80^k permutes [0, 80^k), so names stay
  // distinct while looking unrelated to their index
  private def scramble(i: Long, k: Int, salt: Long): Long = {
    val m = BigInt(NSyl).pow(k).toLong
    Math.floorMod(i * 7919L + salt, m)
  }

  private val rnd = new Random(seed)
  private val salt = rnd.nextInt(1 << 20).toLong

  /** Lowercase 3-syllable words; the first 300 are the common filler. */
  val vocab: Array[String] = Array.tabulate(vocabSize)(v => spell(scramble(v, 3, salt), 3))
  private val NFiller = 300

  val names: Array[String] = Array.tabulate(nEntities) { i =>
    val w = spell(scramble(i, 4, salt), 4)
    w.substring(0, 4).capitalize + " " + w.substring(4).capitalize
  }
  val uris: Array[String] = names.map(_.replace(' ', '_'))

  /** Shared one-word names (4 syllables): ~45% of entities join a group
   *  of 2 or 3 that share one. */
  val sharedOf: Array[Int] = Array.fill(nEntities)(-1)
  val sharedNames: ArrayBuffer[String] = ArrayBuffer.empty
  val sharedMembers: ArrayBuffer[Array[Int]] = ArrayBuffer.empty
  locally {
    val order = rnd.shuffle((0 until nEntities).toVector)
    var i = 0
    while (i < order.length * 45 / 100) {
      val size = 2 + rnd.nextInt(2)
      val members = order.slice(i, i + size).toArray
      members.foreach(sharedOf(_) = sharedNames.length)
      sharedMembers += members
      sharedNames += spell(scramble(sharedNames.length, 4, salt + 1), 4).capitalize
      i += size
    }
  }

  val context: Array[Array[String]] =
    Array.fill(nEntities)(Array.fill(8)(vocab(NFiller + rnd.nextInt(vocabSize - NFiller))))

  private val Classes = Vector("Person", "Place", "Organisation", "Country", "City",
    "Company", "Software", "Film", "Book", "Album", "Band", "River", "Mountain",
    "Island", "Planet", "ChemicalElement", "University", "Sport", "Event",
    "Disease", "Species", "Language", "Building", "Vehicle")
  val types: Array[Seq[String]] =
    Array.fill(nEntities)(rnd.shuffle(Classes).take(rnd.nextInt(3)))

  /** Redirect aliases: entity → alias URIs a link may point at. 4% of
   *  entities get a depth-3 chain, another 4% a single redirect. */
  val aliases: Array[Vector[String]] = Array.fill(nEntities)(Vector.empty)
  val redirectEdges: ArrayBuffer[(String, String)] = ArrayBuffer.empty
  locally {
    val order = rnd.shuffle((0 until nEntities).toVector)
    val nChain = nEntities * 4 / 100
    order.take(nChain).foreach { e =>
      val chain = (1 to 3).map(d => s"Alias_${d}_${uris(e)}")
      redirectEdges += chain(0) -> uris(e)
      redirectEdges += chain(1) -> chain(0)
      redirectEdges += chain(2) -> chain(1)
      aliases(e) = chain.toVector
    }
    order.slice(nChain, 2 * nChain).foreach { e =>
      redirectEdges += s"Redirect_${uris(e)}" -> uris(e)
      aliases(e) = Vector(s"Redirect_${uris(e)}")
    }
    redirectEdges ++= Seq("Loop_A" -> "Loop_B", "Loop_B" -> "Loop_A",
      "Cycle_X" -> "Cycle_Y", "Cycle_Y" -> "Cycle_X")
  }

  // Zipf popularity over a seeded ranking of the entities
  private val byRank: Array[Int] = rnd.shuffle((0 until nEntities).toVector).toArray
  private val cdf: Array[Double] = {
    val w = Array.tabulate(nEntities)(r => 1.0 / math.pow(r + 1, zipfS))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sampleEntity(r: Random): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    byRank(math.min(if (i >= 0) i else -i - 1, nEntities - 1))
  }

  private val Ns = "http://dbpedia.org/resource/"
  def redirectsNt: Seq[String] = redirectEdges.toSeq.map { case (f, t) =>
    s"<$Ns$f> <http://dbpedia.org/ontology/wikiPageRedirects> <$Ns$t> ."
  }
  def disambiguationsNt: Seq[String] = sharedNames.indices.flatMap { g =>
    sharedMembers(g).toSeq.map(e =>
      s"<$Ns${sharedNames(g)}_(disambiguation)> " +
        s"<http://dbpedia.org/ontology/wikiPageDisambiguates> <$Ns${uris(e)}> .")
  }
  def instanceTypesNt: Seq[String] = uris.indices.flatMap(e => types(e).map(t =>
    s"<$Ns${uris(e)}> <http://www.w3.org/1999/02/22-rdf-syntax-ns#type> " +
      s"<http://dbpedia.org/ontology/$t> ."))

  /**
   * `nPages` pages of the corpus `kind`. A page has 2–4 paragraphs of 3–6
   * sentences (every 33rd paragraph 40–59), each sentence mentioning one Zipf-drawn entity by its full
   * or (if it has one) shared name, next to three of its context words.
   * 60% of mentions are `[[Uri|sf]]` links, 30% of those through a
   * redirect alias. Mentions are recorded against the plain text the page
   * renders to, under the entity's canonical URI.
   */
  def corpus(kind: String, nPages: Int): Corpus = {
    val r = new Random(seed * 1000003L + kind.hashCode)
    val pages = Vector.newBuilder[WebPage]
    val gold = Vector.newBuilder[Gold]
    val paras = Vector.newBuilder[ParagraphRow]
    def filler() = vocab(r.nextInt(NFiller))
    var paraNo = 0
    for (idx <- 0 until nPages) {
      val url = s"http://crawl.test/$kind/$seed/$idx"
      val markup = new StringBuilder
      val plain = ArrayBuffer.empty[String]
      // page and paragraph lengths follow the page index, not the seed, so
      // every seed yields the same amount of text; only content varies
      val nParas = 2 + idx % 3
      for (p <- 1 to nParas) {
        if (p > 1) markup ++= "\n\n"
        val text = new StringBuilder
        paraNo += 1
        val nSent = if (paraNo % 33 == 0) 40 + paraNo % 20 else 3 + (idx * 7 + p) % 4
        for (s <- 0 until nSent) {
          if (s > 0) { text += ' '; markup += ' ' }
          val e = sampleEntity(r)
          val sf = if (sharedOf(e) >= 0 && r.nextBoolean()) sharedNames(sharedOf(e)) else names(e)
          val ctx = context(e)
          def c() = ctx(r.nextInt(ctx.length))
          val (pre, post) = r.nextInt(3) match {
            case 0 => (s"The ${filler()} of ", s" is ${c()} with ${c()} and ${c()}.")
            case 1 => (s"In ${filler()} ", s" was ${c()} by ${c()} ${filler()} and ${c()}.")
            case _ => ("", s" ${c()} ${filler()} for ${c()} and ${c()} in the ${filler()}.")
          }
          text ++= pre; markup ++= pre
          gold += Gold(url, p, text.length, uris(e))
          text ++= sf
          markup ++= (if (r.nextDouble() < 0.6) {
            val dest = if (aliases(e).nonEmpty && r.nextDouble() < 0.3)
              aliases(e)(r.nextInt(aliases(e).length)) else uris(e)
            s"[[$dest|$sf]]"
          } else sf)
          text ++= post; markup ++= post
        }
        plain += text.toString
        paras += ParagraphRow(url, p, text.toString)
      }
      pages += WebPage(url, new Timestamp(1700000000000L + idx * 1000L),
        markup.toString.getBytes("UTF-8"), plain.mkString("\n\n"), "en")
    }
    Corpus(pages.result(), gold.result(), paras.result())
  }
}
