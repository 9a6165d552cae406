package graft.filter

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * F7: index-time occurrence filters (reference: index/src/main/scala/org/
 * dbpedia/spotlight/filter/occurrences/ — UriWhitelistFilter.scala:31-41,
 * RedirectResolveFilter.scala:26-38, ContextNarrowFilter.scala:27-40 and
 * siblings), applied to the
 * link-occurrence table before the model aggregations. All are
 * relational: semi/anti joins against URI dims or narrow column
 * filters. The planner broadcasts a dim under the broadcast threshold,
 * so the big occurrence side does not shuffle, and shuffles a larger
 * one.
 */
object OccurrenceFilters {

  /** UriWhitelistFilter (UriWhitelistFilter.scala:31-41): keep only
   *  occurrences whose target is a concept URI. */
  def uriWhitelist(occs: DataFrame, conceptUris: DataFrame): DataFrame =
    occs.join(conceptUris.select(col("uri")), Seq("uri"), "left_semi")

  /** RedirectResolveFilter (RedirectResolveFilter.scala:26-38): map each
   *  target through the redirect closure (join + coalesce). */
  def redirectResolve(occs: DataFrame, closure: DataFrame): DataFrame =
    graft.modelbuild.ModelBuild.resolveRedirects(occs, "uri", closure)

  /** LowerCaseSurfaceFormsFilter: lowercase every sf (case-insensitive
   *  model variants). */
  def lowerCaseSurfaceForms(occs: DataFrame): DataFrame =
    occs.withColumn("sf", lower(col("sf")))

  /** NumberResourcesFilter: drop occurrences of purely numeric resources
   *  (years, numbers — noisy link targets). */
  def dropNumberResources(occs: DataFrame): DataFrame =
    occs.filter(!col("uri").rlike("^[0-9_%]+$"))

  /** ListPagesFilter: drop "List_of_..." / "Table_of_..." page targets. */
  def dropListPages(occs: DataFrame): DataFrame =
    occs.filter(!col("uri").startsWith("List_of_") && !col("uri").startsWith("Table_of_"))

  /** ContextNarrowFilter (ContextNarrowFilter.scala:27-40): crop each
   *  occurrence's context to ≤ maxWords around its offset (D12). */
  def narrowContext(occs: DataFrame, maxWords: Int = 200): DataFrame = {
    val narrowUdf = udf((text: String, offset: Int) =>
      graft.modelbuild.ModelBuild.narrowContext(text, offset, maxWords))
    occs.withColumn("para_text", narrowUdf(col("para_text"), col("offset")))
  }
}
