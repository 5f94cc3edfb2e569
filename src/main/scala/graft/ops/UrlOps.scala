package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** RFC-3986 URL resolution (the reference's urljoin usage,
  * cc2dataset/main.py:104-114,158-164).
  *
  * No Catalyst builtin resolves relative URLs, so this is a Scala UDF over
  * `java.net.URI` — one of only two places the engine leaves pure Column
  * expressions (SURVEY.md §4.3). The already-absolute fast path
  * (cc2dataset/main.py:105-106) is kept OUTSIDE the UDF as a codegen'd
  * `when(hasHttpScheme, url)` so the UDF only runs on the minority of
  * relative links.
  */
object UrlOps {

  /** urljoin core: Some(resolved) on success, None when java.net.URI
    * rejects either side (the reference's ValueError arm). Absolute rel
    * and null/empty base are successes, not errors.
    */
  private[graft] def tryResolve(base: String, rel: String): Option[String] = {
    if (rel.startsWith("http://") || rel.startsWith("https://")) Some(rel)
    else if (base == null || base.isEmpty) Some(rel)
    else
      try Some(new java.net.URI(base).resolve(rel).toString)
      catch { case _: Exception => None }
  }

  /** urljoin(base, rel) with the reference's "on error return the original
    * url" fallback (cc2dataset/main.py:107-110). Handles the cases Python's
    * urljoin does on well-formed input: absolute rel, protocol-relative
    * (`//host/x`), root-relative (`/x`), and path-relative.
    */
  def resolveUrl(base: String, rel: String): String =
    if (rel == null) null else tryResolve(base, rel).getOrElse(rel)

  /** Base-resolution failure arm: keep the PAGE url, not the head-base
    * string. The reference's urljoin(page_url, head_base) ValueError
    * handler leaves base = page_url (cc2dataset/main.py:158-164); falling
    * back to the malformed `<base href>` value would poison resolution of
    * every relative link on the page.
    */
  def resolveBase(pageUrl: String, headBase: String): String =
    if (headBase == null) pageUrl
    else tryResolve(pageUrl, headBase).getOrElse(pageUrl)

  private val resolveUdf =
    udf((base: String, rel: String) => resolveUrl(base, rel))

  /** X1/X2: absolutize a url column against a base column; absolute urls
    * pass through without invoking the UDF.
    */
  def makeLinkAbsolute(base: Column, url: Column): Column =
    when(LinkOps.hasHttpScheme(url), url).otherwise(resolveUdf(base, url))
}
