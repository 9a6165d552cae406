package graft.textops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Benchmark decontamination for training corpora — the published
 * n-gram-overlap procedure (GPT-3 Appendix C, Brown et al. 2020; PaLM /
 * Llama pretraining reports use the same shape): a corpus document is
 * CONTAMINATED when it shares any word n-gram (n = 13 in the papers)
 * with a document of the benchmark/eval suite, and must be dropped or
 * quarantined before training.
 *
 * Scale shape (the part that matters at 100 TB): benchmark suites are
 * megabytes while the corpus is terabytes, so the benchmark gram set is
 * small enough that the planner, going by its size, broadcasts it — the
 * corpus side is ONE explode with a map-side-combinable distinct, the
 * join is then a BroadcastHashJoin with no corpus shuffle, and the
 * per-doc rollup shuffles only the HIT rows (rare by construction — that
 * is the point of decontamination). A gram set past the broadcast
 * threshold plans a shuffled join instead of failing. At extreme
 * benchmark sizes a bloom filter of gram hashes prunes the corpus side
 * first; the exact join below IS the false-positive-free verification
 * pass such a deployment runs on the bloom survivors.
 *
 * Docs shorter than n tokens emit no grams and can never be flagged —
 * the published procedure has the same property (its fallback for tiny
 * eval items is whole-item matching, which [[Dedup.exact]] already
 * covers as the exact-hash operator).
 */
object Decontaminate {

  /** Distinct lowercased word n-grams per document (boundary empties
    * from non-space whitespace dropped, as every token operator here). */
  private def grams(docs: DataFrame, n: Int, idCol: String,
                    textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      array_remove(split(lower(trim(col(textCol))), "\\s+"), "").as("t"))
      .filter(size(col("t")) >= n)
      .select(col("doc_id"), explode(array_distinct(expr(
        s"transform(sequence(0, size(t) - $n), i -> concat_ws(' ', slice(t, i + 1, $n)))"
      ))).as("gram"))

  /** Flag corpus docs sharing ≥1 word n-gram with any benchmark doc.
    * Self-matches are excluded so a benchmark drawn from the corpus
    * itself (the fixture/test setup) flags only real cross-document
    * overlap. Returns one row per corpus doc: (doc_id, n_hit_grams,
    * n_bench_docs, contaminated). */
  def flag(corpus: DataFrame, bench: DataFrame, n: Int = 13,
           idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val cg = grams(corpus, n, idCol, textCol)
    val bg = grams(bench, n, idCol, textCol)
      .select(col("doc_id").as("bench_id"), col("gram"))
    val hits = cg.join(bg, cg("gram") === bg("gram") &&
        cg("doc_id") =!= bg("bench_id"))
      .groupBy(cg("doc_id").as("doc_id"))
      .agg(countDistinct(cg("gram")).as("n_hit_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
    corpus.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hit_grams"), lit(0L)).as("n_hit_grams"),
        coalesce(col("n_bench_docs"), lit(0L)).as("n_bench_docs"),
        (coalesce(col("n_hit_grams"), lit(0L)) > 0).as("contaminated"))
  }
}
