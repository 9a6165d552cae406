package graft.spot

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

/**
 * From-scratch serializable Aho-Corasick automaton, built once on the
 * driver from the surface-form dictionary and broadcast to executors —
 * spotting is then a map-only stage (no shuffle).
 *
 * Match semantics reproduce the reference's dictionary spotter
 * (/root/reference core/src/main/scala/org/dbpedia/spotlight/spot/
 * ahocorasick/AhoCorasickSpotter.scala:35-186):
 *  - optional case folding at the character level (builder `_.toLower`)
 *  - `findAll` emits every dictionary hit (overlap mode)
 *  - `findNonOverlapping` reproduces the spotter's filter (:118-153):
 *    sort by (start asc, length desc), keep matches that are
 *    word-boundary-aligned on both sides and strictly to the right of the
 *    previously kept chunk (leftmost-longest, ≥1 char gap).
 *
 * Storage: flat arrays + per-node sorted char/next arrays, compact enough
 * to broadcast (the node table is linear in total dictionary characters).
 * Each dictionary hit names its pattern (the ordinal in the build input),
 * and an optional per-pattern payload `(sf_id, annotated_count,
 * total_count)` rides along, so a match already knows its surface form:
 * the spotter reads the id and the gate's counts off the automaton
 * instead of joining the surface-form store (the reference's FSA spotter
 * likewise resolves the form at match time, db/FSASpotter.scala:16-60).
 */
final class AhoCorasick private (
    val caseSensitive: Boolean,
    // CSR-style transition table: node i's edges are chars(edgeStart(i) until edgeStart(i+1))
    edgeStart: Array[Int],
    chars: Array[Char],
    next: Array[Int],
    fail: Array[Int],
    // dictionary hits per node, CSR as well (ends of patterns): the hit's
    // length and the pattern's ordinal in the build input
    outStart: Array[Int],
    outLen: Array[Int],
    outPat: Array[Int],
    // per-pattern payload, indexed by ordinal (empty when built without)
    sfIds: Array[Int],
    annotatedCounts: Array[Long],
    totalCounts: Array[Long]) extends Serializable {

  /** True when every pattern carries an `(sf_id, annotated, total)` payload. */
  def hasPayload: Boolean = sfIds.nonEmpty
  def sfId(pattern: Int): Int = sfIds(pattern)
  def annotatedCount(pattern: Int): Long = annotatedCounts(pattern)
  def totalCount(pattern: Int): Long = totalCounts(pattern)

  @inline private def fold(c: Char): Char = if (caseSensitive) c else Character.toLowerCase(c)

  @inline private def step(fromNode: Int, c: Char): Int = {
    var node = fromNode
    while (true) {
      val g = goTo(node, c)
      if (g >= 0) return g
      if (node == 0) return 0
      node = fail(node)
    }
    0
  }

  @inline private def goTo(node: Int, c: Char): Int = {
    var lo = edgeStart(node)
    var hi = edgeStart(node + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val mc = chars(mid)
      if (mc == c) return next(mid)
      else if (mc < c) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** All dictionary matches in `text` (overlap mode). */
  def findAll(text: String): Seq[AhoCorasick.Match] = {
    val out = new ArrayBuffer[AhoCorasick.Match]()
    var node = 0
    var i = 0
    while (i < text.length) {
      node = step(node, fold(text.charAt(i)))
      var k = outStart(node)
      val kEnd = outStart(node + 1)
      while (k < kEnd) {
        val len = outLen(k)
        out += AhoCorasick.Match(i - len + 1, len, outPat(k))
        k += 1
      }
      i += 1
    }
    out.toSeq
  }

  /** Word-boundary chars of the reference spotter's filter pattern
   *  `\s|\n|\t|[,.:;¿?¡!()\-'"]` (AhoCorasickSpotter.scala:35). */
  @inline private def isBoundary(c: Char): Boolean =
    Character.isWhitespace(c) || ",.:;¿?¡!()-'\"".indexOf(c) >= 0

  /** All word-boundary-aligned matches, overlaps allowed — used for the
   *  A1 raw total counts of each surface form over all text. */
  def findAllAligned(text: String): Seq[AhoCorasick.Match] =
    findAll(text).filter { m =>
      (m.start == 0 || isBoundary(text.charAt(m.start - 1))) &&
        (m.end >= text.length || isBoundary(text.charAt(m.end)))
    }

  /** Non-overlap mode: the reference's leftmost-longest word-aligned
   *  greedy filter (AhoCorasickSpotter.filter:118-153). */
  def findNonOverlapping(text: String): Seq[AhoCorasick.Match] = {
    val all = findAll(text).toArray
    // (start asc, length desc) — StartLengthOrdering in the reference
    java.util.Arrays.sort(all, Ordering.by((m: AhoCorasick.Match) => (m.start, -m.length)))
    val kept = new ArrayBuffer[AhoCorasick.Match]()
    var lastEnd = -1 // exclusive end of last kept chunk
    var i = 0
    while (i < all.length) {
      val m = all(i)
      val leftOk = m.start == 0 || isBoundary(text.charAt(m.start - 1))
      val rightOk = m.end >= text.length || isBoundary(text.charAt(m.end))
      if (leftOk && rightOk && (lastEnd == -1 || lastEnd < m.start)) {
        kept += m
        lastEnd = m.end
      }
      i += 1
    }
    kept.toSeq
  }
}

object AhoCorasick {

  /** A dictionary hit: `pattern` is the ordinal of the matched pattern in
   *  the build input (the first one, when several fold to the same key). */
  final case class Match(start: Int, length: Int, pattern: Int) {
    def end: Int = start + length // exclusive
  }

  /** Build from dictionary strings (driver-side; single pass trie + BFS
   *  failure links, then compaction into flat arrays). */
  def build(patterns: IterableOnce[String], caseSensitive: Boolean): AhoCorasick =
    compile(patterns.iterator.toArray, caseSensitive,
      Array.emptyIntArray, Array.emptyLongArray, Array.emptyLongArray)

  /** Build with a per-pattern payload: `entries(i)` is
   *  `(pattern, sf_id, annotated_count, total_count)`. */
  def withPayload(entries: Array[(String, Int, Long, Long)], caseSensitive: Boolean): AhoCorasick =
    compile(entries.map(_._1), caseSensitive,
      entries.map(_._2), entries.map(_._3), entries.map(_._4))

  private def compile(patterns: Array[String], caseSensitive: Boolean, sfIds: Array[Int],
                      annotated: Array[Long], total: Array[Long]): AhoCorasick = {
    // mutable trie; outputs are (length, pattern ordinal)
    val edges = new ArrayBuffer[mutable.TreeMap[Char, Int]]()
    val outs = new ArrayBuffer[List[(Int, Int)]]()
    def newNode(): Int = { edges += mutable.TreeMap.empty[Char, Int]; outs += Nil; edges.length - 1 }
    newNode() // root = 0

    var ord = 0
    while (ord < patterns.length) {
      val raw = patterns(ord)
      if (raw != null && raw.nonEmpty) {
        val p = if (caseSensitive) raw else raw.toLowerCase
        var node = 0
        var i = 0
        while (i < p.length) {
          val c = p.charAt(i)
          node = edges(node).getOrElseUpdate(c, newNode())
          i += 1
        }
        if (!outs(node).exists(_._1 == p.length)) outs(node) ::= (p.length -> ord)
      }
      ord += 1
    }

    val n = edges.length
    val fail = new Array[Int](n)
    // BFS for failure links; merge output sets along failure chain
    val queue = mutable.Queue[Int]()
    edges(0).foreach { case (_, v) => fail(v) = 0; queue.enqueue(v) }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      edges(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !edges(f).contains(c)) f = fail(f)
        fail(v) = if (edges(f).contains(c) && edges(f)(c) != v) edges(f)(c) else 0
        outs(v) = (outs(v) ++ outs(fail(v))).distinct
        queue.enqueue(v)
      }
    }

    // compact to CSR arrays
    val edgeStart = new Array[Int](n + 1)
    val outStart = new Array[Int](n + 1)
    var eTot = 0; var oTot = 0
    var i = 0
    while (i < n) {
      edgeStart(i) = eTot; outStart(i) = oTot
      eTot += edges(i).size; oTot += outs(i).size
      i += 1
    }
    edgeStart(n) = eTot; outStart(n) = oTot
    val chars = new Array[Char](eTot)
    val next = new Array[Int](eTot)
    val outLen = new Array[Int](oTot)
    val outPat = new Array[Int](oTot)
    i = 0
    var e = 0; var o = 0
    while (i < n) {
      edges(i).foreach { case (c, v) => chars(e) = c; next(e) = v; e += 1 }
      outs(i).sorted.foreach { case (l, pat) => outLen(o) = l; outPat(o) = pat; o += 1 }
      i += 1
    }
    new AhoCorasick(caseSensitive, edgeStart, chars, next, fail, outStart, outLen, outPat,
      sfIds, annotated, total)
  }
}
