package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * URL canonicalization for Common-Crawl-style page tables — the
 * key-normalization step in front of url-keyed dedup/refetch logic
 * (the north-rule input table is keyed `url:string`; crawlers emit the
 * same page under case-variant hosts, default ports, tracking params,
 * duplicate slashes and fragments). Canonical form, per the usual
 * crawl-dedup conventions (RFC 3986 §6 syntax-based normalization plus
 * tracking-param removal):
 *
 *   - scheme and host lowercased
 *   - default ports dropped (`:80` for http, `:443` for https); any
 *     other explicit port kept
 *   - duplicate `/` runs in the path collapsed, trailing `/` stripped
 *     (the root path stays `/`; an empty path becomes `/`)
 *   - query params split on `&`, tracking params (utm_*, fbclid,
 *     gclid, msclkid) removed, the rest sorted bytewise and rejoined
 *   - the fragment dropped
 *
 * Supported input shape is the absolute form
 * `scheme://host[:port][/path][?query][#fragment]` (what a crawl
 * frontier emits); any other URL (relative, `mailto:`, scheme-less)
 * passes through unchanged, so distinct malformed URLs never merge into
 * one canonical group. Dot-segment resolution and percent-decoding are
 * out of scope and documented here rather than half-implemented.
 *
 * Everything is pure column algebra — a map-only stage with no UDF and
 * no serialization boundary: the regexp extracts/replaces live in
 * whole-stage codegen, while the query-param filter/sort are Catalyst
 * higher-order functions (interpreted expressions — Spark does not
 * codegen lambda functions — still columnar, still fused in one
 * Project). The dedup grouping downstream is the only shuffle.
 */
object UrlNormalize {

  /** Click-tracking params stripped during canonicalization. */
  val TrackingParams: Seq[String] =
    Seq("utm_source", "utm_medium", "utm_campaign", "utm_term", "utm_content",
      "fbclid", "gclid", "msclkid")

  private val UrlPattern =
    "^([A-Za-z][A-Za-z0-9+.-]*)://([^/:?#]+)(:[0-9]+)?(/[^?#]*)?(\\?[^#]*)?"

  def canonicalize(url: Column): Column = {
    val scheme = lower(regexp_extract(url, UrlPattern, 1))
    val host = lower(regexp_extract(url, UrlPattern, 2))
    val port = regexp_extract(url, UrlPattern, 3)
    val rawPath = regexp_extract(url, UrlPattern, 4)
    val rawQuery = regexp_extract(url, UrlPattern, 5)
    val portNorm = when(port === ":80" && scheme === "http", lit(""))
      .when(port === ":443" && scheme === "https", lit(""))
      .otherwise(port)
    val stripped = regexp_replace(regexp_replace(rawPath, "/{2,}", "/"), "/$", "")
    val pathNorm = when(stripped === "", lit("/")).otherwise(stripped)
    val params = filter(
      split(regexp_replace(rawQuery, "^\\?", ""), "&"),
      p => p =!= "" && !substring_index(p, "=", 1).isInCollection(TrackingParams))
    val queryNorm = when(size(params) > 0,
      concat(lit("?"), array_join(array_sort(params), "&"))).otherwise(lit(""))
    when(url.rlike(UrlPattern), concat(scheme, lit("://"), host, portNorm, pathNorm, queryNorm))
      .otherwise(url)
  }

  /** Deterministic messy-URL column keyed by `doc_id` — the fixture
    * input for the canonicalization oracle (no external data; the same
    * construction is re-derived in SQL on the DuckDB side). Every
    * doc_id exercises case noise + tracking params; residues add
    * default vs explicit ports, duplicate slashes, trailing slashes
    * and fragments. Distinct doc_ids collide on the canonical form
    * every lcm(2,3,4,7,10) = 420 ids, so the downstream dedup grouping
    * is non-trivial at every fixture scale ≥ 500 docs. */
  def syntheticUrls(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      concat(
        element_at(array(lit("HTTP"), lit("https")), (col("doc_id") % 2 + 1).cast("int")),
        lit("://"),
        element_at(array(lit("WWW.Example.COM"), lit("news.example.com"),
          lit("CDN.Example.net")), (col("doc_id") % 3 + 1).cast("int")),
        element_at(array(lit(":80"), lit(":443"), lit(":8080"), lit("")),
          (col("doc_id") % 4 + 1).cast("int")),
        lit("/Articles//"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 5 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=feed&b="), (col("doc_id") % 10).cast("string"), lit("&a=1"),
        when(col("doc_id") % 6 === 0, lit("#section-2")).otherwise(lit(""))
      ).as("url"))

  /** url + canonical_url + canonical_id (min doc_id per canonical
    * group — the url-dedup decision). One shuffle, on the canonical
    * key. */
  def dedupByCanonical(urls: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("canonical_url")
    urls.withColumn("canonical_url", canonicalize(col("url")))
      .withColumn("canonical_id", min("doc_id").over(w))
  }
}
