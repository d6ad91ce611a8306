"""URL/domain filtering + URL dedup + badword page gate (scale
extension).

The crawl-side curation steps every published pipeline runs before any
text-level work — C4 (arXiv:1910.10683 §2.2: bad-word page drop,
one-page-per-URL dedup), RefinedWeb (arXiv:2306.01116 §3.1: URL
blocklist of ~4.6 M domains + subdomain matching):

- :func:`url_host` — host extraction as a pure Catalyst regex (the same
  RE2-compatible pattern the DuckDB twin runs, so it is oracle-exact;
  ``parse_url`` would be JVM-only);
- :func:`filter_blocked_domains` — drop pages whose host OR any parent
  domain is blocklisted.  The host explodes to its ≤ ``max_labels``
  domain suffixes (``a.b.c.com`` → itself, ``b.c.com``, ``c.com``,
  ``com``) and anti-joins the blocklist — an EQUI-join on the suffix,
  so a multi-million-domain blocklist is a plain (broadcastable) table,
  not a per-row regex scan;
- :func:`dedup_urls` — canonical-URL winner election (min id), C4's
  one-page-per-URL rule.  Normalization: lowercase scheme+host, strip
  fragment, default ports, trailing slashes, and (optionally) tracking
  params — each a Catalyst regexp, shuffle keyed by the canonical
  string;
- :func:`badwords_filter` — C4's bad-word page gate as a token
  equi-join against the broadcast word list (token explode → semi-join
  → anti), NOT a giant alternation regex: the list ships as data, the
  join stays in codegen, and a 10 k-word list costs the same plan
  shape as 10.  Multi-word phrases are matched by their first token +
  an ``instr`` confirm, so phrase lists work without a quadratic scan.

Values gate: exact DuckDB twin + fixtures in tests/test_url_filter.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# scheme://[user@]host[:port]/… — host = group 1; RE2 ∩ Java dialect.
# The userinfo scan excludes ?/# (review repro: '[^/@]*@' let an '@' in
# a path-less URL's QUERY hijack the host —
# 'https://ads.spam.org?contact=admin@friendly.org' parsed as
# 'friendly.org', a blocklist bypass)
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/:?#]+)"


def url_host(url: Column) -> Column:
    """Lowercased host of a URL ('' when the URL has no parseable
    scheme+host — callers treat unparseable as not-blockable)."""
    return F.lower(F.regexp_extract(url, _HOST_RE, 1))


def domain_suffixes(host: Column, max_labels: int = 10) -> Column:
    """Dot-suffixes of a host, most-specific first:
    ``a.b.com`` → [a.b.com, b.com, com], capped at the LAST
    ``max_labels`` labels — blocklists match on registrable suffixes,
    which live at the END of the host, so the cap must keep the tail
    (review repro: keeping the FIRST labels let an adversary evade any
    blocklist by prefixing ≥ max_labels subdomain labels; DNS allows up
    to 127).  The longest generated suffix is truncated when the host
    exceeds the cap — harmless, since a >10-label exact-host blocklist
    entry is not a realistic rule, and every registrable suffix is
    intact."""
    allp = F.split(host, r"\.")
    parts = F.slice(allp,
                    F.greatest(F.size(allp) - max_labels + 1, F.lit(1)),
                    max_labels)
    n = F.size(parts)
    return F.filter(
        F.transform(parts, lambda _, i: F.concat_ws(
            ".", F.slice(parts, i + 1, n))),
        lambda s: s != "",
    )


def filter_blocked_domains(
    df: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    domain_col: str = "domain",
    max_labels: int = 10,
) -> DataFrame:
    """Drop rows whose URL host equals, or is a subdomain of, any
    blocklisted domain (RefinedWeb §3.1 semantics).  ``blocked`` is one
    lowercase domain per row; the match is suffix-exploded equi-join —
    the blocklist broadcasts while it fits, degrades to a shuffled join
    beyond that, and is never a per-row regex."""
    b = blocked.select(F.lower(F.col(domain_col)).alias("__dom")).distinct()
    hit = (
        df.select(F.col(url_col),
                  F.explode(domain_suffixes(url_host(F.col(url_col)),
                                            max_labels)).alias("__dom"))
        .join(b, "__dom", "left_semi")
        .select(url_col).distinct()
    )
    return df.join(hit, url_col, "left_anti")


# Unambiguous tracking params only.  `ref` is deliberately NOT here:
# it is a semantic query param on many real sites (GitHub `?ref=<branch>`,
# docs `?ref=section`) — stripping it merges distinct pages and dedup_urls
# then silently drops all but one (review finding).  Callers who crawl
# newsletter-style corpora where `ref` IS tracking opt in via
# ``tracking_re=TRACKING_WITH_REF``.
_TRACKING = "(utm_[a-z]+|gclid|fbclid)"
TRACKING_WITH_REF = "(utm_[a-z]+|gclid|fbclid|ref)"


def canonical_url(url: Column, strip_tracking: bool = True,
                  tracking_re: str = _TRACKING) -> Column:
    """Canonical form for URL dedup: lowercase scheme+host, fragment
    stripped, default :80/:443 ports dropped, trailing slash trimmed,
    and (optionally) tracking query params removed.  Pure Catalyst
    regexps, RE2-compatible (oracle-exact).  ``tracking_re`` is the
    alternation of query params considered tracking (default: only the
    unambiguous utm_*/gclid/fbclid set)."""
    u = F.regexp_replace(url, r"#.*$", "")                 # fragment
    # lowercase scheme://host prefix, leave the path's case alone
    u = F.concat(
        F.lower(F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)",
                                 1)),
        F.regexp_replace(u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""),
    )
    # two RE2-safe passes per port (no lookahead — the twin runs RE2):
    # ':443<end>' and ':443<sep>' handled separately
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443$", r"$1")
    u = F.regexp_replace(u, r"^(https://[^/:?#]+):443([/?#])", r"$1$2")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80$", r"$1")
    u = F.regexp_replace(u, r"^(http://[^/:?#]+):80([/?#])", r"$1$2")
    if strip_tracking:
        # the tracking strip operates on the QUERY part only — an '&' is
        # legal inside a path segment (RFC 3986), and an unanchored pass
        # canonicalized '/a&ref=1' to '/a', merging distinct pages
        # (review repro).  Split at the first '?', clean, recombine.
        path = F.regexp_replace(u, r"\?.*$", "")
        q = F.regexp_extract(u, r"(\?.*)$", 1)
        # order matters: drop '&track=…' params first, then a leading
        # '?track=…&' (keeping the '?'), then a lone '?track=…' — a
        # single [?&]-prefixed pass would eat the '?' and orphan the
        # next param behind an '&'
        q = F.regexp_replace(q, r"&" + tracking_re + r"=[^&#]*", "")
        q = F.regexp_replace(q, r"\?" + tracking_re + r"=[^&#]*&", "?")
        q = F.regexp_replace(q, r"\?" + tracking_re + r"=[^&#]*$", "")
        u = F.concat(path, q)
    u = F.regexp_replace(u, r"/+\?", "?")                  # /? → ?
    u = F.regexp_replace(u, r"/+$", "")                    # trailing /
    return u


def dedup_urls(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    strip_tracking: bool = True,
    tracking_re: str = _TRACKING,
) -> DataFrame:
    """One page per canonical URL (min id wins — C4 keeps one page per
    URL across snapshots).  Shuffle keyed by the canonical string.

    Rows whose URL is null or canonicalizes to null/'' (no parseable
    scheme+host AND no residual text) are EXEMPT from dedup: they would
    otherwise all share the one null/'' partition key and collapse to a
    single survivor — silent corpus loss on a nullable url column
    (review finding).  Their partition key is coalesced to a per-row
    unique value derived from the id, so each keeps its own window."""
    from pyspark.sql import Window

    canon = canonical_url(F.col(url_col), strip_tracking, tracking_re)
    key = F.when(
        canon.isNull() | (canon == ""),
        F.concat(F.lit("\x00row:"), F.col(id_col).cast("string")),
    ).otherwise(canon)
    w = Window.partitionBy(key).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1).drop("__rn")
    )


def badwords_filter(
    df: DataFrame,
    badwords: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    word_col: str = "word",
) -> DataFrame:
    """C4's bad-word page gate: drop any page containing a listed word
    (whole-token match, case-insensitive) or phrase (first-token match,
    then a boundary-safe confirm over the whitespace-normalized token
    sequence — raw substring instr both over-dropped 'darn iteration'
    for phrase 'darn it' and missed tab-separated phrases, review
    repro).  The list is DATA (broadcast join), not a compiled
    alternation — plan shape is independent of list size; token rows
    carry (id, token) only, never the document text (the text joins
    back ONLY for the rare phrase-candidate docs)."""
    from llmxmapreduce_spark.operators.text_stats import lower_ws_tokens

    words = (
        badwords.select(F.concat_ws(" ", F.split(
            F.trim(F.lower(F.col(word_col))), r"\s+")).alias("__w"))
        .distinct()
        .withColumn("__first", F.split(F.col("__w"), " ")[0])
        .withColumn("__is_phrase", F.instr("__w", " ") > 0)
    )
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(lower_ws_tokens(F.col(text_col))))
        .alias("__first"),
    )
    single_hits = toks.join(
        F.broadcast(words.filter(~F.col("__is_phrase"))), "__first"
    ).select(id_col).distinct()
    phrase_cand = toks.join(
        F.broadcast(words.filter(F.col("__is_phrase"))), "__first"
    ).select(id_col, "__w").distinct()
    norm = F.concat(F.lit(" "),
                    F.concat_ws(" ", lower_ws_tokens(F.col(text_col))),
                    F.lit(" "))
    phrase_hits = (
        phrase_cand.join(df.select(id_col, text_col), id_col)
        .filter(F.instr(norm, F.concat(F.lit(" "), F.col("__w"),
                                       F.lit(" "))) > 0)
        .select(id_col).distinct()
    )
    hits = single_hits.unionByName(phrase_hits).distinct()
    return df.join(hits, id_col, "left_anti")
