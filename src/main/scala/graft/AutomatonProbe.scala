package graft

/**
 * Measures the serialized size of the broadcast Aho-Corasick automaton
 * at increasing dictionary sizes (JVM-local, no Spark session). The
 * driver-side automaton build + broadcast mirrors the reference's
 * in-memory FSA dictionary (core/.../db/FSASpotter.scala), but at
 * full-Wikipedia scale (~10^7 surface forms) the broadcast becomes a
 * multi-hundred-MB object — this probe produces the measured bytes per
 * surface form recorded in BASELINE.md, and the threshold at which the
 * design must shard the automaton per executor.
 *
 * Usage: runMain graft.AutomatonProbe [sizes...]
 */
object AutomatonProbe {
  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toInt)
                else Seq(10000, 50000, 200000, 500000)
    sizes.foreach { n =>
      // synthetic dictionary shaped like real surface forms: 1-3 words,
      // mixed case, deterministic
      val dict = Array.tabulate(n) { i =>
        val h = i * 2654435761L & 0x7fffffffL
        val w1 = s"Entity${h % 97}"
        if (i % 3 == 0) s"$w1 ${(h >> 8) % 1000}"
        else if (i % 3 == 1) s"$w1 Of The ${(h >> 4) % 10000}"
        else s"Form_$h"
      }.distinct
      // with the per-pattern (sf_id, annotated, total) payload the
      // spotter's automaton carries
      val entries = dict.zipWithIndex.map { case (sf, i) => (sf, i + 1, 10L, 20L) }
      val t0 = System.nanoTime()
      val ac = graft.spot.AhoCorasick.withPayload(entries, caseSensitive = true)
      val buildSec = (System.nanoTime() - t0) / 1e9
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(ac); oos.close()
      val bytes = bos.size()
      println(f"""{"dict_size":${dict.length},"serialized_mb":${bytes / 1048576.0}%.2f,""" +
        f""""bytes_per_sf":${bytes.toDouble / dict.length}%.1f,"build_sec":$buildSec%.2f}""")
    }
  }
}
