package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL-level curation — the stage every web-scale corpus build runs
  * BEFORE touching document text (C4, RefinedWeb, Dolma all start
  * here): canonicalize the crawl URL, extract the registered domain,
  * and drop documents from blocked / opted-out domains. Reference
  * scope analog: the reference normalizes freeform slurm fields into
  * queryable columns (slurm2sql.py:330-520); this is the same
  * normalize-then-filter shape applied to the crawl-metadata column a
  * training pipeline carries.
  *
  * Everything here is MAP-ONLY column arithmetic over an
  * engine-portable regex subset (the [[TextOps.scrubPii]] rule):
  * no shuffle at any corpus size, and the DuckDB oracle replays the
  * exact same extractions. The blocklist filter is a literal `isin`
  * for list-sized sets and a broadcast anti join for table-sized ones
  * — the corpus itself never shuffles either way.
  */
object Web {

  /** Query params stripped by canonicalization: click-tracking noise
    * that makes one logical page look like many distinct URLs (the #1
    * cause of spurious URL-level "uniqueness" in crawls). */
  private val TRACKING_RE = "^(utm_[a-z0-9]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)="

  /** Multi-part public suffixes where the registered domain is the
    * last THREE labels (public-suffix-list-lite — the handful of
    * country-code second-level registries that dominate real crawls;
    * a deployment swaps in the full PSL as a broadcast set, same
    * shape). */
  private val MULTI_SUFFIX_RE = "\\.(co|com|org|net|ac|gov|edu)\\.[a-z]{2}$"

  /** Lowercased host (no userinfo, no port) from a URL. */
  def host(url: Column): Column =
    lower(regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)", 1))

  /** Registered domain ("site" identity for dedup rates, blocklists,
    * per-domain stats): last two host labels, or last three when the
    * host ends in a known multi-part suffix (`example.co.uk` →
    * `example.co.uk`, `a.b.example.com` → `example.com`). */
  def registeredDomain(url: Column): Column = {
    val h = host(url)
    val labels = split(h, "\\.")
    val n = size(labels)
    val take = when(h.rlike(MULTI_SUFFIX_RE), 3).otherwise(2)
    when(n <= take, h).otherwise(
      array_join(slice(labels, n - take + 1, take), "."))
  }

  /** Canonical URL: lowercase scheme and host, default ports dropped,
    * tracking query params removed (order of survivors preserved),
    * fragment dropped, empty path → "/", trailing slash trimmed off
    * non-root paths. Two crawls of the same logical page normalize to
    * byte-identical strings — the key exact URL-dedup groups on. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val h = host(url)
    val port = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#:@]+:([0-9]+)", 1)
    val keepPort = port =!= "" &&
      !(scheme === "http" && port === "80") &&
      !(scheme === "https" && port === "443")
    val rawPath = regexp_extract(url, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(rawPath === "" || rawPath === "/", lit("/"))
      .otherwise(regexp_replace(rawPath, "/$", ""))
    val query = regexp_extract(url, "\\?([^#]*)", 1)
    val keptParams = filter(split(query, "&"),
      t => !(t.rlike(TRACKING_RE) || t === ""))
    concat(scheme, lit("://"), h,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(size(keptParams) > 0,
        concat(lit("?"), array_join(keptParams, "&"))).otherwise(lit("")))
  }

  /** Per-doc URL curation verdict: canonical URL, registered domain,
    * and whether the doc survives the domain blocklist. Map-only — the
    * blocklist is a literal set (the broadcast-join variant for
    * table-sized lists is [[filterBlockedTable]]). `carry` appends
    * named passthrough columns (r17): a pipeline that needs the doc's
    * payload next to the verdict selects it HERE instead of semi-joining
    * the corpus back on doc_id — the select is row-wise 1:1, so carrying
    * is free while the re-attach join costs a second corpus scan and a
    * corpus-wide exchange at any scale. A carried column named like one
    * of the verdict columns is rejected. */
  def curateUrls(docs: DataFrame, url: Column, id: Column,
                 blockedDomains: Seq[String],
                 carry: Seq[Column] = Nil): DataFrame = {
    val out = docs.select(Seq(id.as("doc_id"),
      canonicalUrl(url).as("canon_url"),
      registeredDomain(url).as("domain"),
      (!registeredDomain(url).isin(blockedDomains: _*)).as("kept")) ++
      carry: _*)
    val (own, carried) = out.columns.toSeq.splitAt(4)
    val clash = carried.filter(c => own.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty, s"curateUrls: carry column(s) ${clash.mkString(", ")} " +
      s"collide with the operator's own ${own.mkString("/")}")
    out
  }

  /** Blocklist filter against a TABLE of blocked domains (opt-out
    * lists run to millions of rows): broadcast LEFT ANTI join on the
    * registered domain — the corpus never shuffles; only the
    * domain-sized list moves. */
  def filterBlockedTable(docs: DataFrame, url: Column,
                         blocked: DataFrame): DataFrame = {
    val b = blocked.select(col(blocked.columns.head).as("_blocked_domain"))
    docs.withColumn("_dom", registeredDomain(url))
      .join(broadcast(b), col("_dom") === col("_blocked_domain"), "left_anti")
      .drop("_dom")
  }

  /** Entity decode for the extraction path: the named/numeric
    * entities that dominate real crawl text. `&amp;` is decoded LAST
    * so double-escaped text stays single-decoded (`&amp;lt;` →
    * literal `&lt;`, never `<`). */
  private[operators] def htmlDecode(x: Column): Column =
    Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
        "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(x) { case (c, (e, r)) => regexp_replace(c, e, r) }

  /** Cleaned text from raw HTML: comments, then script and style
    * blocks (content included), then every remaining tag stripped to
    * a space; entities decoded; whitespace collapsed. Chain order
    * matters — script bodies legally contain `<` (e.g. `1 < 2`) that
    * the generic tag-strip would mangle, so they go first. */
  def htmlText(html: Column): Column = {
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<[^>]+>", " ")
    trim(regexp_replace(htmlDecode(noTags), "\\s+", " "))
  }

  /** HTML → text extraction + boilerplate verdict — the content-
    * extraction stage between the URL gate and every text operator
    * (C4's WET processing; trafilatura/jusText's role): cleaned text
    * identity, anchor stats, and the jusText-class LINK-DENSITY
    * signal (boilerplate chrome — navs, footers, link farms — is
    * mostly anchor text; body prose is not). `kept` compares in pure
    * integer arithmetic (link_chars·100 ≤ n_chars·maxPct), so the
    * verdict has no float edge. Map-only engine-portable regex (the
    * d76/PII rule: every pattern means the same in Java regex and
    * RE2) — no shuffle at any corpus size, and the DuckDB oracle
    * replays the whole chain byte-for-byte. Anchor matching is
    * `<a>`/`<a ...>` specifically (non-capturing attr group), never
    * `<article>`. */
  def extractHtml(docs: DataFrame, html: Column, id: Column,
                  maxLinkPct: Int = 25, withText: Boolean = false): DataFrame = {
    // STAGED projections: the comment/script/style chain, the cleaned
    // text, and the link array are each referenced more than once
    // downstream, and CollapseProject declines to merge a
    // multi-referenced non-cheap alias (the blockHashFromStats rule)
    // — composing them as one expression tree would re-run the whole
    // regex chain once per reference. Still map-only: stacked
    // projections, zero exchanges.
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val staged = docs.select(id.as("doc_id"), noStyle.as("_h3"))
      .select(col("doc_id"),
        regexp_extract_all(col("_h3"),
          lit("(?is)<a(?:\\s[^>]*)?>(.*?)</a>"), lit(1)).as("_links"),
        trim(regexp_replace(
          htmlDecode(regexp_replace(col("_h3"), "(?s)<[^>]+>", " ")),
          "\\s+", " ")).as("_clean"))
      .select(col("doc_id"), col("_links"), col("_clean"),
        length(col("_clean")).cast("long").as("_nc"),
        aggregate(col("_links"), lit(0L), (a, t) =>
          a + length(trim(regexp_replace(htmlDecode(t), "\\s+", " "))))
          .as("_lc"))
    val cols = Seq(col("doc_id"),
      md5(col("_clean")).as("clean_hash"),
      col("_nc").as("n_chars"),
      size(col("_links")).cast("long").as("n_links"),
      col("_lc").as("link_chars"),
      graft.functions.Round.rd(
        when(col("_nc") > 0, col("_lc").cast("double") / col("_nc"))
          .otherwise(lit(0.0)), 6).as("link_density"),
      (col("_lc") * 100L <= col("_nc") * maxLinkPct).as("kept")) ++
      // downstream pipeline stages (the d84 capstone) consume the
      // extracted text itself, still map-only
      (if (withText) Seq(col("_clean").as("clean_text")) else Nil)
    staged.select(cols: _*)
  }
}
