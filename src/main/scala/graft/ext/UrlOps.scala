package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** URL operators for the crawl tier — the normalization and domain
  * rollup every real crawl pipeline runs before URL-keyed dedup, diffing
  * and domain-level quality/mixing decisions (the reference's pipelines
  * key assets by canonical ids; a crawl's canonical id IS the normalized
  * URL).
  *
  * Everything is portable string algebra over `org.apache.spark.sql
  * .functions` (split/substr/instr/lower/concat — all codegen'd, all
  * with exact DuckDB twins), so the oracle replays normalization
  * character for character. Pure per-row columns: zero shuffle at any
  * corpus size; the rollup is one partial+final hash agg on the
  * registered domain.
  */
object UrlOps {

  /** RFC 3986 §6.2.2.1-2 percent-encoding normalization — the two
    * SAFE transforms (always semantics-preserving by spec):
    * uppercase the hex digits of every percent triplet (`%3a` → `%3A`)
    * and decode triplets for UNRESERVED characters
    * (ALPHA / DIGIT / `-` / `.` / `_` / `~`: `%7E` → `~`, `%41` → `A`).
    * Reserved and other octets stay encoded (decoding `%2F` would
    * change the path structure). Malformed sequences (`%zz`, trailing
    * `%`) pass through verbatim — fail open to the identity.
    *
    * Pure column algebra: split on `%`, rewrite each triplet head,
    * rejoin — all codegen'd, with an exact DuckDB twin
    * (string_split / list_transform / strpos hex math) in the oracle.
    * Hex validity is two charset `contains` probes, NOT a regex — a
    * per-`%`-segment `rlike` put the regex engine in the per-row hot
    * path of every URL-keyed query (x86 measured 0.76→1.71 s when
    * both crawl snapshots started normalizing); the length guard runs
    * first, so the single-char probes never see an empty needle. */
  def pctNormalize(u: Column): Column = {
    val hexSet = lit("0123456789ABCDEF")
    val parts = split(u, "%")
    val segs = transform(slice(parts, lit(2), size(parts) - 1), { p =>
      val hex = upper(p.substr(lit(1), lit(2)))
      val valid = length(p) >= 2 &&
        contains(hexSet, upper(p.substr(lit(1), lit(1)))) &&
        contains(hexSet, upper(p.substr(lit(2), lit(1))))
      val code = conv(hex, 16, 10).cast("int")
      val unreserved = (code >= 48 && code <= 57) ||
        (code >= 65 && code <= 90) || (code >= 97 && code <= 122) ||
        code.isin(45, 46, 95, 126)
      when(valid,
        when(unreserved,
          concat(call_function("chr", code), p.substr(lit(3), length(p))))
          .otherwise(concat(lit("%"), hex, p.substr(lit(3), length(p)))))
        .otherwise(concat(lit("%"), p))
    })
    concat(element_at(parts, 1), array_join(segs, ""))
  }

  /** RFC 3986-style syntactic normalization, the safe subset every
    * crawler applies (c.f. the RFC's §6.2.2 "syntax-based
    * normalization"):
    *
    *  - drop the fragment (`#…` — never sent to the server);
    *  - lowercase the scheme and host (case-insensitive by spec);
    *  - drop an explicit default port (`:80` for http, `:443` for
    *    https);
    *  - drop ONE trailing slash from the path (`/a/` ≡ `/a`, and the
    *    bare root `/` ≡ empty — the dedup-key convention);
    *  - keep the query string verbatim (parameter reordering is NOT
    *    safe — `?a=1&b=2` may differ from `?b=2&a=1` server-side);
    *  - apply [[pctNormalize]] (uppercase percent hex, decode
    *    unreserved octets) to the reassembled URL — decoding an
    *    unreserved octet can never introduce a delimiter, so the
    *    post-parse pass is structure-safe.
    *
    * Strings without `://` pass through unchanged (not a URL this
    * normalizer understands — fail open to the identity, never
    * fabricate), as do authorities carrying userinfo (`user@host`) or
    * IPv6 literals (`[::1]`) — the `:`/`@` split would mangle them, so
    * they keep their original form rather than get a wrong one. Path
    * and query case are preserved (case-significant by spec). */
  def normalizeUrl(u: Column): Column = {
    val noFrag = substring_index(u, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    val rest = noFrag.substr(length(scheme) + lit(4), length(noFrag))
    val hostport = substring_index(substring_index(rest, "/", 1), "?", 1)
    val hasScheme = instr(noFrag, "://") > 0 &&
      instr(hostport, "@") === 0 && instr(hostport, "[") === 0
    val tail = rest.substr(length(hostport) + lit(1), length(rest))
    val host = lower(substring_index(hostport, ":", 1))
    val port = when(instr(hostport, ":") > 0,
      substring_index(hostport, ":", -1)).otherwise(lit(""))
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"))
    val portPart = when(keepPort, concat(lit(":"), port)).otherwise(lit(""))
    val qpos = instr(tail, "?")
    val pathRaw = when(qpos > 0, tail.substr(lit(1), qpos - 1)).otherwise(tail)
    val qPart = when(qpos > 0, tail.substr(qpos, length(tail))).otherwise(lit(""))
    val path = when(pathRaw.endsWith("/"),
      pathRaw.substr(lit(1), length(pathRaw) - 1)).otherwise(pathRaw)
    when(hasScheme,
      pctNormalize(concat(scheme, lit("://"), host, portPart, path, qPart)))
      .otherwise(u)
  }

  /** Host of a URL under the same parse as [[normalizeUrl]] (lowercased,
    * port stripped); the lowercased input when there is no `://` or the
    * authority is a userinfo/IPv6 form this parser declines. */
  def hostOf(u: Column): Column = {
    val noFrag = substring_index(u, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    val rest = noFrag.substr(length(scheme) + lit(4), length(noFrag))
    val hostport = substring_index(substring_index(rest, "/", 1), "?", 1)
    when(instr(noFrag, "://") > 0 &&
        instr(hostport, "@") === 0 && instr(hostport, "[") === 0,
        lower(substring_index(hostport, ":", 1)))
      .otherwise(lower(u))
  }

  /** The in-repo public-suffix FIXTURE: the handful of suffixes the
    * testdata exercises, standing in for the full Mozilla Public Suffix
    * List (thousands of rules, same shape — swap the list, keep the
    * algorithm). Multi-label rules like `co.uk` are why naive
    * "last two labels" is wrong for UK/JP/AU domains. */
  val publicSuffixes: Seq[String] =
    Seq("co.uk", "ac.uk", "com", "org", "net", "io", "edu", "gov", "example")

  /** PSL precedence: the rule with the MOST labels wins (ties by
    * length, then lexicographic — total order for determinism). */
  def suffixesByPrecedence: Seq[String] =
    publicSuffixes.sortBy(s => (-s.count(_ == '.'), -s.length, s))

  /** Registered (a.k.a. pay-level) domain of a lowercase host, by the
    * public-suffix algorithm: find the matching suffix with the most
    * labels; the registered domain is that suffix plus the one label
    * left of it. A host that IS a suffix maps to itself; a host
    * matching no rule falls back to the PSL's implicit `*` rule (the
    * last label is the suffix → last two labels).
    *
    * Implemented over the label array (split once, then a 3-branch
    * when-chain against literal suffix SETS): for a rule table of 1-
    * and 2-label suffixes, "matching suffix with the most labels" is
    * exactly "last two labels ∈ 2-label rules, else last label ∈
    * 1-label rules, else implicit *" — and in EVERY branch the
    * registered domain is a tail slice of the label array. The naive
    * per-suffix fold (substr + re-split per rule) inlined the host
    * expression into each of 9 branches; composed over a derived URL
    * column that blew whole-stage codegen past the JIT's method limit
    * and ran interpreted (x107 was 9.5 s for a 0.2 s query). */
  def registeredDomain(host: Column): Column = {
    val multi = publicSuffixes.filter(_.contains('.'))
    require(publicSuffixes.forall(_.count(_ == '.') <= 1),
      "suffix fixture holds 1- and 2-label rules; extend the chain for deeper rules")
    val ls = split(host, "\\.")
    val n = size(ls)
    val l1 = element_at(ls, -1)
    val l2 = concat_ws(".", element_at(ls, -2), l1)
    val l3 = concat_ws(".", element_at(ls, -3), element_at(ls, -2), l1)
    when(n === 1, host)
      .when(l2.isin(multi: _*), when(n >= 3, l3).otherwise(l2))
      .otherwise(l2) // single-suffix match and the implicit-* rule agree
  }

  /** Normalized path of a URL under the same parse as [[normalizeUrl]]
    * (one trailing slash dropped, query and fragment excluded) — the
    * robots.txt match target. Empty for non-URLs. */
  def pathOf(u: Column): Column = {
    val noFrag = substring_index(u, "#", 1)
    val scheme = lower(substring_index(noFrag, "://", 1))
    val rest = noFrag.substr(length(scheme) + lit(4), length(noFrag))
    val hostport = substring_index(substring_index(rest, "/", 1), "?", 1)
    val tail = rest.substr(length(hostport) + lit(1), length(rest))
    val qpos = instr(tail, "?")
    val pathRaw = when(qpos > 0, tail.substr(lit(1), qpos - 1)).otherwise(tail)
    when(instr(noFrag, "://") > 0 &&
        instr(hostport, "@") === 0 && instr(hostport, "[") === 0,
      when(pathRaw.endsWith("/"),
        pathRaw.substr(lit(1), length(pathRaw) - 1)).otherwise(pathRaw))
      .otherwise(lit(""))
  }

  /** RFC 3986 §5.2.4 `remove_dot_segments` over a `/`-split segment
    * fold: `.` drops, `..` pops the previous segment (never the
    * leading root), everything else — including the empty segments a
    * `//` run produces — appends verbatim; a trailing `.`/`..` leaves
    * a trailing slash, exactly the browser/`java.net.URI` behavior.
    * One higher-order `aggregate` per row — no UDF, no serialization,
    * but a HOF cannot generate code: Spark evaluates it interpreted, and
    * it takes the WHOLE fused projection it sits in (every column
    * Catalyst inlines beside it) out of whole-stage codegen. Callers
    * that key on host or domain never need the path: use
    * [[resolveHost]], which parses no path. */
  private def removeDotSegments(p: Column): Column = {
    val segs = split(p, "/")
    val folded = aggregate(segs, array().cast("array<string>"),
      (acc, s) =>
        when(s === ".", acc)
          .when(s === "..",
            when(size(acc) > 1, slice(acc, lit(1), size(acc) - 1))
              .otherwise(acc))
          .otherwise(concat(acc, array(s))))
    val last = element_at(segs, -1)
    concat(array_join(folded, "/"),
      when(last === "." || last === "..", lit("/")).otherwise(lit("")))
  }

  /** RFC 3986 §5 reference resolution — turn an href exactly as it
    * appears in a page into the absolute URL a crawler fetches. Handles
    * every reference form of §5.4: absolute (`https://h/p`),
    * network-path (`//h/p` — base scheme adopted), absolute-path
    * (`/p`), relative-path (`p`, `../p` — merged onto the base
    * directory per §5.3 then dot-segments removed per §5.2.4),
    * query-only (`?q` — base path kept) and same-document (``/`#f` —
    * base path AND query kept). The ref's fragment is carried through
    * (callers normalize with [[normalizeUrl]], which drops it); NO
    * normalization happens here — resolution must preserve case,
    * ports and percent-encoding so the gate sees what the server sees.
    * A base without `://` fails open to the ref itself (never
    * fabricate a URL from a non-URL base).
    *
    * Pure per-row column algebra (string splits + one array fold per
    * path) — zero shuffle at any corpus size; the reference's serving
    * layer never resolves links (it emits absolute asset ids,
    * `index.html:241-250`), but a crawl frontier is BUILT from resolved
    * hrefs, so this is the edge extractor for the link-graph tier. A
    * caller that keys only on the host uses [[resolveHost]]. */
  def resolveRef(base: Column, ref: Column): Column = {
    val bPath0 = pathOfUrl(base)
    val bPath = when(bPath0 === "", lit("/")).otherwise(bPath0)
    val bDir = regexp_replace(bPath, "[^/]*$", "")
    // ref split: fragment carries through, query splits off the path
    val rFrag = regexp_extract(ref, "(#.*)", 1)
    val rPath = regexp_extract(ref, "^([^?#]*)", 1)
    val rQuery = queryOfUrl(ref)
    val (hasAuth, aFull) = absoluteForm(base, ref)
    val aPath = pathOfUrl(aFull)
    val absResolved = concat(originOf(aFull),
      when(aPath === "", lit("")).otherwise(removeDotSegments(aPath)),
      queryOfUrl(aFull))
    val root = originOf(base)
    val resolved =
      when(hasAuth, absResolved)
        .when(rPath.startsWith("/"),
          concat(root, removeDotSegments(rPath), rQuery))
        .when(rPath === "",
          concat(root, bPath,
            when(rQuery =!= "", rQuery).otherwise(queryOfUrl(base))))
        .otherwise(
          concat(root, removeDotSegments(concat(bDir, rPath)), rQuery))
    when(instr(base, "://") > 0, concat(resolved, rFrag)).otherwise(ref)
  }

  /** Host of the URL [[resolveRef]] resolves `ref` to — exactly
    * `hostOfResolved(resolveRef(base, ref))`, nulls included — without
    * resolving it. A resolved URL's host depends only on the origin
    * (`scheme://authority`) it starts with: the ref's own when it has a
    * scheme or is a `//` network path, the base's otherwise; a non-URL
    * base fails open to the ref, as in [[resolveRef]]. Every path
    * after the origin starts with `/`, `?` or `#`, where
    * [[hostOfResolved]] stops reading, so it is never built — no
    * [[removeDotSegments]] fold, and the projection stays in
    * whole-stage codegen. */
  def resolveHost(base: Column, ref: Column): Column = {
    val (hasAuth, aFull) = absoluteForm(base, ref)
    hostOfResolved(
      when(instr(base, "://") > 0 && ref.isNotNull,
        when(hasAuth, originOf(aFull)).otherwise(originOf(base)))
        .otherwise(ref))
  }

  // Component extraction is deliberately FLAT — each part is one
  // regexp_extract over the raw input, not a chain of substrings over
  // previous parts. A nested parse cascade doubles the expression tree
  // at every level (a tail embeds the rest twice, a path embeds the
  // tail twice, …), and composed into a downstream consumer it blew
  // whole-stage codegen past Janino's 64 KB method limit (the x107/x116
  // JIT lesson, hit again in [[resolveRef]]). One anchored regex per
  // component keeps the tree linear; the patterns compile once per
  // task. The same four parse the base and the ref's absolute form.

  /** Scheme of a URL (empty when it has none). */
  private def schemeOf(u: Column): Column =
    regexp_extract(u, "^([^:/?#]+)://", 1)

  /** `scheme://authority` of a URL; `://` alone when it has none. */
  private def originOf(u: Column): Column =
    concat(schemeOf(u), lit("://"),
      regexp_extract(u, "^[^:/?#]+://([^/?#]*)", 1))

  /** Raw path of a URL (empty when it has none or is not a URL). */
  private def pathOfUrl(u: Column): Column =
    regexp_extract(u, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)

  /** `?query` of a URL or ref (empty when it has none). */
  private def queryOfUrl(u: Column): Column =
    regexp_extract(u, "^[^?#]*(\\?[^#]*)", 1)

  /** Whether `ref` names its own authority (a scheme, or a `//`
    * network path), and its absolute form without the fragment: the
    * ref itself, or the base's scheme put before a network path. */
  private def absoluteForm(base: Column, ref: Column): (Column, Column) = {
    val rNoFrag = substring_index(ref, "#", 1)
    val hasScheme = ref.rlike("^[^:/?#]+://")
    (hasScheme || rNoFrag.startsWith("//"),
      when(hasScheme, rNoFrag)
        .otherwise(concat(schemeOf(base), lit(":"), rNoFrag)))
  }

  /** Host of a RESOLVED URL (a [[resolveRef]] output — `://` is
    * guaranteed, userinfo/IPv6 authorities excluded by construction):
    * a single nested substring chain that references its argument
    * exactly ONCE. [[hostOf]] repeats its argument under conditional
    * branches, which whole-stage codegen cannot subexpression-eliminate
    * (branch values are conditionally evaluated) — composed over a
    * large derived column like a resolved href that multiplies the
    * generated code past the JIT method limit (the x107 lesson). Use
    * this form when the input column is itself a big expression.
    *
    * The chain anchors on the FIRST `://`: `substring_index(_, "://",
    * 2)` truncates at the second occurrence (identity when there is
    * only one), so the following `-1` split takes the text after the
    * first — a URL whose path or query EMBEDS an absolute URL
    * (`https://a.com/r?next=https://b.com/x`, the ubiquitous redirect
    * param) keeps its own host; a last-`://` split would silently
    * return the embedded one. Truncating at the second `://` never
    * touches the authority — it sits strictly between the first `://`
    * and the first `/`/`?` after it. */
  def hostOfResolved(u: Column): Column =
    lower(substring_index(substring_index(substring_index(substring_index(
      substring_index(substring_index(u, "#", 1), "://", 2), "://", -1),
      "/", 1), "?", 1), ":", 1))

  /** Parse robots.txt documents into a prefix-rule table
    * (domain, prefix, allow, plen): `Allow:` / `Disallow:` lines keep
    * their path prefix, everything else (User-agent, comments, blank
    * lines, Crawl-delay, Sitemap) drops. One narrow explode — robots
    * documents are tiny and per-domain, so the rule table is bounded by
    * domain count × rules-per-file, a broadcast at any corpus size.
    *
    * RFC 9309 §2.2 line grammar, tolerantly: comments (`#` to end of
    * line) strip first, CRLF and surrounding whitespace trim away,
    * directives match CASE-insensitively with any spacing around the
    * colon, and the rule value is everything after the FIRST colon —
    * a path may legally contain `:` (`Disallow: /a:b`), so the
    * last-colon split would silently truncate it to `b`. */
  def parseRobots(robots: DataFrame, domainCol: String = "domain",
                  textCol: String = "robots_txt"): DataFrame = {
    val stripped = trim(substring_index(col("line0"), "#", 1))
    robots
      .select(col(domainCol).as("domain"),
        explode(split(col(textCol), "\n")).as("line0"))
      .select(col("domain"), stripped.as("l"))
      .select(col("domain"),
        lower(trim(substring_index(col("l"), ":", 1))).as("k"),
        when(instr(col("l"), ":") > 0,
          trim(col("l").substr(instr(col("l"), ":") + 1, length(col("l")))))
          .otherwise(lit("")).as("prefix"))
      .filter(col("k").isin("allow", "disallow") &&
        length(col("prefix")) > 0)
      .select(col("domain"), col("prefix"),
        (col("k") === "allow").as("allow"))
      .withColumn("plen", length(col("prefix")))
  }

  /** Compile a robots rule pattern into its match form — RFC 9309
    * §2.2.3: `*` matches any character sequence (including empty) and
    * a TRAILING `$` anchors the match at the end of the path; both are
    * MUSTs for a compliant crawler and ubiquitous in real robots files
    * (`Disallow: /cgi*?sid=`, `Disallow: /docs*.pdf$`). A `$` anywhere but
    * the end is a literal octet (the published Google semantics).
    * Returns (anchored, segments): the `$` verdict and the pattern
    * split on `*` with trailing empties KEPT (`split` limit -1 — a
    * pattern ending in `*` must contribute its empty tail so segment
    * COUNT still distinguishes "has a wildcard" from "plain prefix").
    * Called once per rule row on the broadcast side — the corpus side
    * never re-splits. */
  private def compileRule(pattern: Column): (Column, Column) = {
    val anchored = pattern.endsWith("$")
    val pat = when(anchored, pattern.substr(lit(1), length(pattern) - 1))
      .otherwise(pattern)
    (anchored, split(pat, "\\*", -1))
  }

  /** Does `path` match a compiled robots rule? The RFC 9309 §2.2.3
    * matcher as an ordered `locate` fold — pure column algebra, no
    * per-row regex compile (the x86 lesson; a LIKE/rlike pattern built
    * from the rule would re-enter the regex engine per (url, rule)
    * pair):
    *
    *  - the FIRST segment anchors at the start (`startsWith`) — a rule
    *    starting with `*` has an empty first segment, which matches
    *    vacuously;
    *  - each MIDDLE segment must occur at-or-after the previous
    *    match's end (`locate(seg, path, pos)`); leftmost-greedy is
    *    complete here — it leaves `pos` minimal, so if ANY wildcard
    *    assignment matches, the greedy one does. Empty middles (`**`)
    *    drop: `**` ≡ `*`;
    *  - un-anchored rules need nothing more; `$`-anchored rules
    *    additionally require the LAST segment to be a suffix starting
    *    at-or-after `pos` (and a wildcard-free anchored rule is exact
    *    equality).
    *
    * One-segment patterns (no `*`) reduce to the plain prefix match,
    * so pre-wildcard rule tables gate byte-identically. */
  def robotsRuleMatches(path: Column, anchored: Column,
                        segs: Column): Column = {
    val n = size(segs)
    val first = element_at(segs, 1)
    val midLen = when(anchored, greatest(n - 2, lit(0))).otherwise(n - 1)
    val mids = filter(slice(segs, lit(2), midLen), s => length(s) > 0)
    val init = struct(path.startsWith(first).as("ok"),
      (length(first) + 1).as("pos"))
    val folded = aggregate(mids, init, (acc, s) => {
      val p = call_function("locate", s, path, acc.getField("pos"))
      struct((acc.getField("ok") && p > 0).as("ok"),
        (p + length(s)).as("pos"))
    })
    val last = element_at(segs, -1)
    val endOk = path.endsWith(last) &&
      (length(path) - length(last) + 1) >= folded.getField("pos")
    when(!anchored, folded.getField("ok"))
      .when(n === 1, path === first)
      .otherwise(folded.getField("ok") && endOk)
  }

  /** Robots compliance verdict per URL — RFC 9309 precedence: among
    * the domain's rules matching the URL path (prefix match with
    * §2.2.3 `*`/`$` wildcards — see [[robotsRuleMatches]]), the rule
    * with the MOST pattern octets wins and `Allow` beats `Disallow`
    * on equal length; no matching rule ⇒ allowed. Exact argmax as
    * `max(struct(plen, allow, prefix))` — a total order, so the
    * reported winning rule is deterministic too.
    *
    * Shape at 100 TB: the rule table broadcasts (bounded by domains ×
    * rules, not corpus) with each pattern compiled ONCE into its
    * segment array, the corpus side joins on the domain key and
    * re-aggregates per URL — one bounded exchange whose partials
    * collapse map-side; nothing else shuffles. */
  /** Attach the compiled §2.2.3 match form ([[compileRule]]) to a
    * parsed rule table: `rx_anchored` + `rx_segs` columns next to the
    * raw `prefix`. Public so gate COMPOSITIONS (the crawl-frontier and
    * recrawl products) can run [[robotsRuleMatches]] inline over their
    * own join/agg shapes without re-splitting per corpus row. */
  def compileRules(rules: DataFrame): DataFrame = {
    val (anchored, segs) = compileRule(col("prefix"))
    rules.withColumn("rx_anchored", anchored)
      .withColumn("rx_segs", segs)
  }

  def robotsGate(urls: DataFrame, rules: DataFrame): DataFrame = {
    val compiled = compileRules(rules)
    urls.join(broadcast(compiled), Seq("domain"), "left")
      .withColumn("m",
        when(robotsRuleMatches(col("path"), col("rx_anchored"),
            col("rx_segs")),
          struct(col("plen"), col("allow").cast("int").as("aw"),
            col("prefix"))))
      .groupBy("doc_id", "domain", "path")
      .agg(max(col("m")).as("best"))
      .select(col("doc_id"), col("domain"), col("path"),
        col("best.prefix").as("matched_prefix"),
        (col("best").isNull || col("best.aw") === 1).as("allowed"))
  }

  /** Parse `<sitemapindex>` documents (the NESTED sitemap form real
    * sites publish once they exceed the 50k-URL per-file cap) into one
    * row per child sitemap: (domain, shard_url). One narrow explode
    * over per-domain documents — bounded by domains × shards. */
  def parseSitemapIndex(idx: DataFrame, domainCol: String = "domain",
                        xmlCol: String = "xml"): DataFrame =
    idx.select(col(domainCol).as("domain"),
      explode(regexp_extract_all(col(xmlCol),
        lit("<loc>([^<]+)</loc>"), lit(1))).as("shard_url"))
      .withColumn("shard_url", Html.unescapeXmlCol(col("shard_url")))

  /** Parse `<urlset>` shard documents into (domain, u, lastmod): each
    * `<url>` entry's `<loc>` and its OWN `<lastmod>` (the pairing is
    * per-entry — extracting locs and lastmods separately would zip
    * them wrong on entries missing a lastmod). Entries without a
    * lastmod get a null date. `<loc>` values XML-unescape
    * ([[Html.unescapeXmlCol]] — the reader half of the
    * [[renderUrlsets]] entity round trip; session-query URLs carry
    * literal `&`, which a protocol-conformant writer must escape). */
  def parseUrlset(shards: DataFrame, domainCol: String = "domain",
                  xmlCol: String = "xml"): DataFrame =
    shards.select(col(domainCol).as("domain"),
        explode(regexp_extract_all(col(xmlCol),
          lit("<url>.*?</url>"), lit(0))).as("e"))
      .select(col("domain"),
        Html.unescapeXmlCol(
          regexp_extract(col("e"), "<loc>([^<]+)</loc>", 1)).as("u"), {
          val lm = regexp_extract(col("e"), "<lastmod>([^<]+)</lastmod>", 1)
          to_date(when(lm === "", lit(null)).otherwise(lm)).as("lastmod")
        })
      .filter(length(col("u")) > 0)

  /** The WRITER dual of [[parseUrlset]]: render per-domain `<urlset>`
    * shard documents from a `(domain, u, lastmod)` table, splitting at
    * `maxPerShard` entries — the 50k-URL cap of the sitemaps.org
    * protocol is exactly why real sites publish the nested index form
    * [[parseSitemapIndex]] reads. Entries sort by URL inside each
    * shard (deterministic bytes); a null lastmod renders no
    * `<lastmod>` element and round-trips back to null. `<loc>` values
    * XML-escape ([[Html.escapeCol]] — sitemaps.org requires entity-
    * escaped data values, and real URLs carry `&` in query strings);
    * lastmod needs none (a rendered date is digits and dashes). One
    * rank window per domain (sitemaps are domain-bounded, orders below
    * the corpus) plus one grouped string fold per shard. */
  def renderUrlsets(urls: DataFrame, maxPerShard: Int = 50000,
                    domainCol: String = "domain", urlCol: String = "u",
                    lastmodCol: String = "lastmod"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerShard >= 1, s"need maxPerShard >= 1: $maxPerShard")
    val rn = row_number().over(
      Window.partitionBy(domainCol).orderBy(urlCol))
    urls
      .withColumn("shard", ((rn - 1) / maxPerShard).cast("int"))
      .withColumn("shard_url", concat(lit("https://"), col(domainCol),
        lit("/sitemap-"), col("shard").cast("string"), lit(".xml")))
      .groupBy(col(domainCol).as("domain"), col("shard_url"))
      .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
        concat_ws("", transform(
          sort_array(collect_list(struct(col(urlCol).as("u"),
            col(lastmodCol).as("lastmod")))),
          e => concat(lit("<url><loc>"), Html.escapeCol(e.getField("u")),
            lit("</loc>"),
            when(e.getField("lastmod").isNotNull,
              concat(lit("<lastmod>"),
                date_format(e.getField("lastmod"), "yyyy-MM-dd"),
                lit("</lastmod>"))).otherwise(lit("")),
            lit("</url>")))),
        lit("</urlset>")).as("xml"))
  }

  /** The writer dual of [[parseSitemapIndex]]: one `<sitemapindex>`
    * document per domain listing its shard URLs in sorted order,
    * `<loc>` values XML-escaped (the [[renderUrlsets]] discipline). */
  def renderSitemapIndex(shards: DataFrame): DataFrame =
    shards.groupBy("domain")
      .agg(concat(lit("<?xml version=\"1.0\"?><sitemapindex>"),
        concat_ws("", transform(
          sort_array(collect_list(col("shard_url"))),
          su => concat(lit("<sitemap><loc>"), Html.escapeCol(su),
            lit("</loc></sitemap>")))),
        lit("</sitemapindex>")).as("xml"))

  /** The recrawl schedule (the "fetch next, ordered" product an
    * incremental crawler emits): sitemap-listed URLs classified
    * against the crawl state — `new` (listed, never crawled) and
    * `stale` (listed, crawled before its current lastmod) — ranked
    * per domain by (new first, most recently modified first, URL) —
    * a total order, so the schedule is deterministic.
    *
    * Shape at 100 TB: listed and crawled sets join on (domain, url) —
    * one bounded equi-join; the rank window partitions by domain (rule
    * tables and sitemaps are domain-bounded, orders of magnitude below
    * the corpus). */
  def recrawlSchedule(listed: DataFrame, crawled: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    recrawlTick(listed, crawled)
      .withColumn("rnk", row_number().over(Window.partitionBy("domain")
        .orderBy(col("status"), col("lastmod").desc, col("url"))))
  }

  /** The rank-free classification CORE of [[recrawlSchedule]] — one
    * stream-legal left join against the crawl state plus a per-row
    * status verdict, NO window: exactly what an incremental crawler's
    * ingest edge emits as sitemap-lastmod updates arrive (the
    * stateless-gate discipline applied to the scheduler; ranking is
    * the downstream batch consumer's business). Works verbatim with a
    * STREAMING `listed` side — stream-static left join, zero streaming
    * state; StreamingSpec pins stream ≡ batch. */
  def recrawlTick(listed: DataFrame, crawled: DataFrame): DataFrame =
    listed
      .join(crawled, Seq("domain", "u"), "left")
      .withColumn("status",
        when(col("crawled_at").isNull, "new")
          .when(col("lastmod") > col("crawled_at"), "stale"))
      .filter(col("status").isNotNull)
      .select(col("domain"), col("u").as("url"), col("lastmod"),
        col("status"))

  /** GROUP-aware robots.txt parsing — RFC 9309 §2.2.1 proper, where
    * [[parseRobots]] is the single-group simplification: a group is
    * one or more `User-agent` lines followed by rules; a `User-agent`
    * line directly after another one JOINS its group (ignored/invalid
    * lines between them do not split it, because the parser must
    * ignore them entirely); one after a rule STARTS a new group; rules
    * before any `User-agent` line belong to no group and drop. The
    * crawler then obeys the MOST SPECIFIC match: every group naming
    * its product token exactly (case-insensitive) if any exists, else
    * every `*` group, else no rules at all (allow everything). Groups
    * at the chosen specificity MERGE (the published Google semantics
    * for duplicate groups). Output shape = [[parseRobots]]'s
    * (domain, prefix, allow, plen), so the [[robotsGate]] precedence
    * argmax composes unchanged — an equal-length Allow/Disallow
    * conflict across merged groups resolves allow-wins, the same tie
    * rule as within one group.
    *
    * All column algebra: one posexplode, one line-order window for the
    * group ids, two bounded aggregations — the table stays domains ×
    * rules, a broadcast at any corpus size. */
  def parseRobotsGrouped(robots: DataFrame, agent: String,
                         domainCol: String = "domain",
                         textCol: String = "robots_txt"): DataFrame = {
    val (grouped, chosen) = robotsGroups(robots, agent, domainCol, textCol)
    grouped.filter(col("k").isin("allow", "disallow"))
      .join(chosen, Seq("domain", "gid"))
      .select(col("domain"), col("v").as("prefix"),
        (col("k") === "allow").as("allow"))
      .withColumn("plen", length(col("prefix")))
  }

  /** The line→group assembly shared by [[parseRobotsGrouped]] and
    * [[parseRobotsMetaGrouped]]: strips comments, keys each line
    * case-insensitively on the FIRST colon, keeps the GROUP-SCOPED
    * record kinds (`User-agent`, `Allow`, `Disallow`, `Crawl-delay` —
    * a delay line is group content in every lenient parser that
    * honors it, so it also ENDS a `User-agent` run exactly as a rule
    * does; `Sitemap` is file-wide per the sitemaps.org protocol and
    * never enters the group machinery), assigns group ids by the
    * UA-run rule of RFC 9309 §2.2.1, and picks the groups `agent`
    * obeys: every exact-token group when any exists, else every `*`
    * group, else none. Returns (grouped lines carrying `gid`, the
    * chosen (domain, gid) set). */
  private def robotsGroups(robots: DataFrame, agent: String,
                           domainCol: String, textCol: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val stripped = trim(substring_index(col("line0"), "#", 1))
    val lines = robots
      .select(col(domainCol).as("domain"),
        posexplode(split(col(textCol), "\n")).as(Seq("i", "line0")))
      .select(col("domain"), col("i"), stripped.as("l"))
      .select(col("domain"), col("i"),
        lower(trim(substring_index(col("l"), ":", 1))).as("k"),
        when(instr(col("l"), ":") > 0,
          trim(col("l").substr(instr(col("l"), ":") + 1, length(col("l")))))
          .otherwise(lit("")).as("v"))
      .withColumn("is_ua", col("k") === "user-agent" &&
        length(col("v")) > 0)
      .withColumn("is_rule",
        col("k").isin("allow", "disallow", "crawl-delay") &&
        length(col("v")) > 0)
      .filter(col("is_ua") || col("is_rule"))
    val w = Window.partitionBy("domain").orderBy("i")
    val cum = Window.partitionBy("domain").orderBy("i")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val grouped = lines
      .withColumn("new_group", col("is_ua") &&
        !coalesce(lag(col("is_ua"), 1).over(w), lit(false)))
      .withColumn("gid",
        sum(col("new_group").cast("long")).over(cum))
      .filter(col("gid") > 0L) // rules before any User-agent drop
    val uas = grouped.filter(col("is_ua"))
      .groupBy("domain", "gid")
      .agg(max((lower(col("v")) === agent.toLowerCase(java.util.Locale.ROOT))
          .cast("int")).as("exact"),
        max((col("v") === "*").cast("int")).as("star"))
    val chosen = uas
      .withColumn("has_exact",
        max(col("exact")).over(Window.partitionBy("domain")))
      .filter(when(col("has_exact") === 1, col("exact") === 1)
        .otherwise(col("star") === 1))
      .select("domain", "gid")
    (grouped, chosen)
  }

  /** GROUP-aware robots metadata — [[parseRobotsMeta]] with the
    * `Crawl-delay` scoped to the groups `agent` actually obeys (the
    * published Yandex/Bing semantics: the delay in YOUR group governs
    * you; a shorter delay granted to some other crawler's group must
    * NOT speed you up). Several selected groups declaring delays merge
    * conservatively (max — wait the longest any applicable group
    * asks). `Sitemap` stays FILE-wide (the sitemaps.org protocol makes
    * it group-independent), min() as the deterministic pick. Domains
    * whose selected groups declare no delay get the 1-second default.
    * Same bounded shape: domains × lines, a broadcast at any size. */
  def parseRobotsMetaGrouped(robots: DataFrame, agent: String,
                             domainCol: String = "domain",
                             textCol: String = "robots_txt"): DataFrame = {
    val (grouped, chosen) = robotsGroups(robots, agent, domainCol, textCol)
    val delays = grouped
      .filter(col("k") === "crawl-delay" &&
        col("v").rlike("^[0-9]+(\\.[0-9]+)?$"))
      .join(chosen, Seq("domain", "gid"))
      .groupBy("domain")
      .agg(max(col("v").cast("double")).as("cd"))
    val stripped = trim(substring_index(col("line0"), "#", 1))
    val sitemaps = robots
      .select(col(domainCol).as("domain"),
        explode(split(col(textCol), "\n")).as("line0"))
      .select(col("domain"), stripped.as("l"))
      .select(col("domain"),
        lower(trim(substring_index(col("l"), ":", 1))).as("k"),
        when(instr(col("l"), ":") > 0,
          trim(col("l").substr(instr(col("l"), ":") + 1, length(col("l")))))
          .otherwise(lit("")).as("v"))
      .groupBy("domain")
      .agg(min(when(col("k") === "sitemap" && length(col("v")) > 0,
        col("v"))).as("sitemap_url"))
    sitemaps.join(delays, Seq("domain"), "left")
      .select(col("domain"),
        coalesce(col("cd"), lit(1.0)).as("crawl_delay"),
        col("sitemap_url"))
  }

  /** Per-domain robots.txt METADATA (the non-rule directives a polite
    * crawler consumes): `Crawl-delay` (first-colon split, tolerant
    * casing/whitespace like [[parseRobots]]; non-numeric values drop,
    * absent ⇒ the 1-second default) and the advertised `Sitemap` URL
    * (full URLs — exactly the value a LAST-colon split would truncate;
    * min() as the deterministic pick when several are listed, NULL
    * when none is: sitemap DISCOVERY starts here). One narrow explode
    * + one hash agg on the domain key.
    *
    * GROUP-BLIND by design — the single-group simplification, exactly
    * as [[parseRobots]] is to [[parseRobotsGrouped]]: every
    * `Crawl-delay` line in the file competes regardless of whose
    * `User-agent` group declares it, merged with max() so the
    * CONSERVATIVE value wins (a fast delay granted to some other
    * crawler's group can make the schedule ruder, never politer).
    * Multi-group files wanting the per-agent delay use
    * [[parseRobotsMetaGrouped]]. */
  def parseRobotsMeta(robots: DataFrame, domainCol: String = "domain",
                      textCol: String = "robots_txt"): DataFrame = {
    val stripped = trim(substring_index(col("line0"), "#", 1))
    robots
      .select(col(domainCol).as("domain"),
        explode(split(col(textCol), "\n")).as("line0"))
      .select(col("domain"), stripped.as("l"))
      .select(col("domain"),
        lower(trim(substring_index(col("l"), ":", 1))).as("k"),
        when(instr(col("l"), ":") > 0,
          trim(col("l").substr(instr(col("l"), ":") + 1, length(col("l")))))
          .otherwise(lit("")).as("v"))
      .groupBy("domain")
      .agg(
        coalesce(max(when(col("k") === "crawl-delay" &&
            col("v").rlike("^[0-9]+(\\.[0-9]+)?$"),
          col("v").cast("double"))), lit(1.0)).as("crawl_delay"),
        min(when(col("k") === "sitemap" && length(col("v")) > 0,
          col("v"))).as("sitemap_url"))
  }

  /** [[robotsGate]] as a STATELESS enrich: the per-domain rule LIST
    * (sorted ascending in the same (plen, allow, prefix) total order)
    * rides on the broadcast side, and the precedence argmax becomes
    * `element_at(filter(rules, matches), -1)` — the last matching
    * element of a sorted array IS the max. No aggregation on the
    * corpus side at all, which is what lets the identical plan run
    * over a STREAM of URLs (stream-static join + per-row array
    * algebra; the grouped [[robotsGate]] would need a streaming
    * aggregation state it doesn't need). Same verdicts, proven by
    * UrlSpec and StreamingSpec. */
  def robotsGateStateless(urls: DataFrame, rules: DataFrame): DataFrame = {
    val (anchored, segs) = compileRule(col("prefix"))
    val byDom = rules.groupBy("domain")
      .agg(sort_array(collect_list(struct(
        col("plen"), col("allow").cast("int").as("aw"),
        col("prefix"), anchored.as("anch"), segs.as("segs")))).as("rs"))
    urls.join(broadcast(byDom), Seq("domain"), "left")
      .withColumn("m", filter(coalesce(col("rs"),
          array().cast("array<struct<plen:int,aw:int,prefix:string," +
            "anch:boolean,segs:array<string>>>")),
        r => robotsRuleMatches(col("path"), r.getField("anch"),
          r.getField("segs"))))
      .withColumn("best",
        when(size(col("m")) > 0, element_at(col("m"), -1)))
      .select(col("doc_id"), col("domain"), col("path"),
        col("best.prefix").as("matched_prefix"),
        (col("best").isNull || col("best.aw") === 1).as("allowed"))
  }

  /** Keep only robots-ALLOWED rows of an arbitrary per-URL table —
    * the gate COMPOSITION form: a polite crawler never schedules a
    * disallowed URL, so the recrawl/politeness products filter their
    * listed sets through this before ranking. Verdict per row via the
    * [[robotsGateStateless]] algebra (sorted rule array on the
    * broadcast side, `element_at(filter(...), -1)` argmax) — NO
    * aggregation, so every carried column (lastmod, crawl state, ...)
    * survives untouched and the same plan runs over a stream. `urlCol`
    * yields the path through [[pathOf]]; rows of domains with no rules
    * pass. Full §2.2.3 wildcard matching — the composition the x120/
    * x137 fixtures exercise. */
  def robotsAllowedOnly(df: DataFrame, rules: DataFrame,
                        urlCol: String = "u"): DataFrame =
    // the path projects BELOW the join — an expression referenced
    // inside the array lambda would otherwise inline into it and the
    // whole URL parse would re-evaluate PER RULE ELEMENT (a silent
    // rules-per-domain multiplier on the gate's per-row cost); the
    // join boundary pins it to once per row
    robotsAllowedOnlyByPath(
      df.withColumn("__path", pathOf(col(urlCol))), rules, "__path")
      .drop("__path")

  /** [[robotsAllowedOnly]] for tables that already CARRY the path —
    * the streaming corpus gate's shape (no URL parse): same sorted-
    * rule broadcast, same `element_at(filter(...), -1)` argmax, every
    * input column survives, rows of domains with no rules pass, and
    * the whole verdict is stateless — valid on a stream. */
  def robotsAllowedOnlyByPath(df: DataFrame, rules: DataFrame,
                              pathCol: String = "path"): DataFrame = {
    val (anchored, segs) = compileRule(col("prefix"))
    val byDom = rules.groupBy("domain")
      .agg(sort_array(collect_list(struct(
        col("plen"), col("allow").cast("int").as("aw"),
        col("prefix"), anchored.as("anch"), segs.as("segs")))).as("__rs"))
    df.join(broadcast(byDom), Seq("domain"), "left")
      .withColumn("__m", filter(coalesce(col("__rs"),
          array().cast("array<struct<plen:int,aw:int,prefix:string," +
            "anch:boolean,segs:array<string>>>")),
        r => robotsRuleMatches(col(pathCol), r.getField("anch"),
          r.getField("segs"))))
      .filter(size(col("__m")) === 0 ||
        element_at(col("__m"), -1).getField("aw") === 1)
      .drop("__rs", "__m")
  }

  /** Crawl-TRAP detector — the hygiene gate between a frontier
    * ([[recrawlSchedule]]) and a politeness schedule: the per-host
    * shape signals that tell a crawler it is walking a calendar
    * widget, a session-id hall of mirrors, or an infinitely nesting
    * path tree rather than real content:
    *
    *  - `max_depth` — deepest path (count of `/` segments); unbounded
    *    growth marks recursive link generators;
    *  - `path_fanout` — distinct paths per distinct DIGIT-NORMALIZED
    *    path skeleton (`[0-9]+` runs collapse to `N`): a calendar or
    *    pagination trap mints thousands of paths over one skeleton;
    *  - `query_fanout` — distinct (path, query) pairs per distinct
    *    path: session ids and tracking params explode the query side
    *    while the path set stays put.
    *
    * `is_trap` flags a host crossing ANY threshold (strict >). Keyed
    * by HOST, not registered domain — a crawler schedules per host,
    * and one spammy subdomain must not condemn its siblings. Shape at
    * 100 TB: per-row column algebra (host/path/query splits + one
    * digit-collapse regex), then ONE hash agg on the host key whose
    * distinct counts expand map-side — bounded by hosts × distinct
    * paths, no join, no sort. */
  def crawlTraps(urls: DataFrame, urlCol: String = "url",
                 maxDepth: Int = 8, fanoutRatio: Double = 4.0,
                 paramRatio: Double = 4.0): DataFrame = {
    val u = col(urlCol)
    val noFrag = substring_index(u, "#", 1)
    val qpos = instr(noFrag, "?")
    val query = when(qpos > 0, noFrag.substr(qpos + 1, length(noFrag)))
      .otherwise(lit(""))
    val parsed = urls.select(
      hostOf(u).as("host"),
      pathOf(u).as("path"),
      query.as("q"))
    parsed
      .withColumn("skeleton", regexp_replace(col("path"), "[0-9]+", "N"))
      .groupBy("host")
      .agg(
        count(lit(1)).as("n_urls"),
        max(size(split(col("path"), "/")) - 1).as("max_depth"),
        count_distinct(col("path")).as("n_paths"),
        count_distinct(col("skeleton")).as("n_skeletons"),
        count_distinct(col("path"), col("q")).as("n_path_queries"))
      .withColumn("path_fanout",
        col("n_paths").cast("double") / col("n_skeletons").cast("double"))
      .withColumn("query_fanout",
        col("n_path_queries").cast("double") / col("n_paths").cast("double"))
      .withColumn("is_trap",
        col("max_depth") > maxDepth ||
        col("path_fanout") > fanoutRatio ||
        col("query_fanout") > paramRatio)
  }

  /** Per-registered-domain rollup of a URL column — the crawl analogue
    * of the per-source gate-rate report: URL count, distinct normalized
    * URLs (what survives URL-keyed dedup), and the lexicographic min as
    * a deterministic sample. One hash agg on the domain key; partials
    * collapse map-side at any corpus size. */
  def domainRollup(df: DataFrame, urlCol: String = "url"): DataFrame = {
    val norm = normalizeUrl(col(urlCol))
    df.select(norm.as("norm_url"),
        registeredDomain(hostOf(col(urlCol))).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_urls"),
        count_distinct(col("norm_url")).as("n_norm_distinct"),
        min("norm_url").as("sample_url"))
  }
}
