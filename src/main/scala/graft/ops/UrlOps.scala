package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.spark.KernelRegistry.kernel

/** URL canonicalization for web-corpus pipelines — the operator family
  * in front of URL-keyed dedup (a crawl's worth of `HTTP://Host:80/a?b&a#f`
  * variants must collapse to one key before exact dedup can do its job).
  *
  * Everything here is a COMPOSITION OF BUILT-INS (regexp_extract, split,
  * array_sort — all codegen'd; "functions, not UDFs"), and every regex is
  * written to be replayable verbatim by the DuckDB oracle, so the whole
  * normalization contract is hash-gated (q_url_normalize).
  *
  * Scope (documented): syntactic normalization — scheme/host lowercasing,
  * default-port stripping, fragment removal, empty-path → "/", query-param
  * sorting. Dot-segment resolution and percent-encoding normalization are
  * intentionally out of scope (they need pairwise state a single regex
  * pass can't express; a crawl pipeline handles them at fetch time).
  */
object UrlOps {

  /** Lowercased scheme ("" when the value is not an absolute URL). */
  def scheme(u: Column): Column =
    lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))

  /** Lowercased host (no port, no userinfo handling — crawl URLs). */
  def host(u: Column): Column =
    lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#:]+)", 1))

  /** Explicit port as a string, "" when absent. */
  def port(u: Column): Column =
    regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#:]+:([0-9]+)", 1)

  /** Path, "/" when empty. */
  def path(u: Column): Column = {
    val p = regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1)
    when(p === "", "/").otherwise(p)
  }

  /** Query string with parameters SORTED (param order is not identity
    * on the web; sorting makes ?b=2&a=1 == ?a=1&b=2). "" when absent. */
  def sortedQuery(u: Column): Column = {
    val q = regexp_extract(u, "\\?([^#]*)", 1)
    when(q === "", "").otherwise(array_join(array_sort(split(q, "&")), "&"))
  }

  /** Canonical form: lowercased scheme+host, default port stripped
    * (http:80 / https:443), other ports kept, fragment dropped, empty
    * path → "/", query params sorted. */
  def normalize(u: Column): Column = {
    val sch = scheme(u)
    val h = host(u)
    val pt = port(u)
    val keepPort = pt =!= "" &&
      !((sch === "http" && pt === "80") || (sch === "https" && pt === "443"))
    val q = sortedQuery(u)
    concat(sch, lit("://"), h,
      when(keepPort, concat(lit(":"), pt)).otherwise(lit("")),
      path(u),
      when(q =!= "", concat(lit("?"), q)).otherwise(lit("")))
  }

  /** Registrable-domain heuristic: last two host labels, or last three
    * when the second-level label is a well-known registry prefix under a
    * 2-letter country TLD (co.uk, com.au, ac.jp, …). NOT the full public
    * suffix list (thousands of rules; ship it as a broadcast table in
    * production) — the documented 90% heuristic. */
  def registrableDomain(hostCol: Column): Column = {
    val labels = split(hostCol, "\\.")
    val n = size(labels)
    val tld = element_at(labels, -1)
    val second = element_at(labels, -2)
    val third = element_at(labels, -3)
    val registryPrefix = second.isin("co", "com", "org", "net", "ac", "gov", "edu")
    when(n >= 3 && length(tld) === 2 && registryPrefix,
        concat_ws(".", third, second, tld))
      .when(n >= 2, concat_ws(".", second, tld))
      .otherwise(hostCol)
  }

  /** PSL-backed registrable domain — precise suffix-rule resolution
    * over the checked-in public-suffix snapshot ([[Psl]]): a native
    * per-row lookup, no join/shuffle. Use this where heuristic misses
    * matter (per-site dedup keys,
    * blocklists over hosted platforms like *.github.io). */
  def registrableDomainPsl(hostCol: Column): Column =
    kernel("graft_registrable_domain", hostCol)

  /** Dedup key over the canonical form (md5 — replayable by the oracle;
    * switch to xxhash64 in production, same pattern as ngram blocking). */
  def urlKey(u: Column, oracleHash: Boolean = false): Column =
    if (oracleHash) md5(normalize(u)) else xxhash64(normalize(u))

  /** Domain blocklist filter — drop every row whose URL's registrable
    * domain appears in the blocklist (subdomains included by
    * construction: `a.b.example.com` and `example.com` share the
    * registrable domain). Scale shape: the blocklist is
    * distinct-collapsed and BROADCAST, the filter is a broadcast
    * LEFT-ANTI hash join — no shuffle of the corpus, no blocklist skew
    * (each domain held once), same discipline as
    * `Dedup.decontaminate`'s contamination side. */
  def blocklistFilter(df: DataFrame, urlCol: String,
                      blocked: DataFrame, blockedDomainCol: String,
                      psl: Boolean = false): DataFrame = {
    val dom =
      if (psl) registrableDomainPsl(host(col(urlCol)))
      else registrableDomain(host(col(urlCol)))
    df.join(
      broadcast(blocked
        .select(lower(trim(col(blockedDomainCol))).as("__blocked_domain"))
        .filter(col("__blocked_domain") =!= "").distinct()),
      dom === col("__blocked_domain"),
      "left_anti")
  }
}
