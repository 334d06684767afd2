"""URL structure operators — the column family every web corpus needs
between raw ``url`` strings and host/domain-level analytics (grouping,
dedup keys, link graphs, per-site quotas).

All hot-path functions are pure native Spark SQL expressions (zero
Python, whole-stage codegen, DuckDB-mirrorable) so they fuse with the
parquet scan: at 10^12 pages a URL parse that needs a Python worker is
a non-starter. The one HOF (dot-segment folding in
:func:`resolve_link`) is a single bounded ``aggregate`` pass per link.

Scope notes (documented, not silent):

* :func:`parse_url` follows RFC 3986 appendix B's component grammar
  (scheme / userinfo / host / port / path / query / fragment) including
  bracketed IPv6 hosts. It does not percent-decode — decoding changes
  the byte identity of dedup keys.
* :func:`registered_domain` is PSL-lite: a built-in table of the common
  two-level public suffixes (co.uk-class) plus an ``extra_suffixes``
  injection point for a full Public Suffix List snapshot. The real PSL
  is ~9k rules and versioned; shipping a stale copy silently would be
  worse than an honest approximation with an injection point.

Reference parity note: gojsonschema has no URL surface beyond
``format: uri`` (xeipuuv/gojsonschema format_checkers.go:252-296, which
this repo already implements); these operators exist for the
Common-Crawl corpus contract (BASELINE.json north_star input shape).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

__all__ = ["parse_url", "registered_domain", "sort_query_params",
           "resolve_link", "host_quality_rollup",
           "DEFAULT_TWO_LEVEL_SUFFIXES"]

_SCHEME = r"[A-Za-z][A-Za-z0-9+.-]*"

# Common second-level public suffixes: registered_domain("a.b.co.uk")
# must return "b.co.uk", not "co.uk". Keyed as "<label>.<2-letter-cc>".
DEFAULT_TWO_LEVEL_SUFFIXES = (
    "co ac gov edu org net com mil or ne go gr ltd plc sch nhs police "
    "me ind nic res gen web firm info"
).split()


def _nullif_empty(c: Column) -> Column:
    return F.when(c != "", c)


def parse_url(url: Column) -> Column:
    """RFC 3986 component split as one native struct column:
    ``(scheme, userinfo, host, port, path, query, fragment)``.

    Absent components are NULL (not empty string) so downstream
    ``required``-style checks compose; ``scheme`` and ``host`` are
    lowercased (the case-insensitive components), everything else is
    byte-preserved. Bracketed IPv6 authorities keep their brackets in
    ``host`` (that is the unambiguous join key form).

    Catalyst CSE collapses the repeated authority subexpressions into
    one evaluation inside ProjectExec — the struct costs ~one regex
    pass per component, all JVM-side.
    """
    scheme = F.regexp_extract(url, f"^({_SCHEME}):", 1)
    # network-path references ("//host/x") carry an authority without a
    # scheme — RFC 3986 §4.2 relative-ref grammar
    authority = F.regexp_extract(url, f"^(?:{_SCHEME}:)?//([^/?#]*)", 1)
    has_auth = url.rlike(f"^(?:{_SCHEME}:)?//")
    userinfo = F.regexp_extract(authority, r"^([^@]*)@", 1)
    hostport = F.regexp_replace(authority, r"^[^@]*@", "")
    host = F.regexp_extract(hostport, r"^(\[[^\]]*\]|[^:]*)", 1)
    port = F.regexp_extract(hostport, r":([0-9]+)$", 1)
    # path: strip scheme+authority prefix, then stop at first ? or #
    path = F.regexp_extract(
        url, f"^(?:{_SCHEME}:)?(?://[^/?#]*)?([^?#]*)", 1)
    query = F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1)
    fragment = F.regexp_extract(url, r"^[^#]*#(.*)$", 1)
    return F.struct(
        _nullif_empty(F.lower(scheme)).alias("scheme"),
        _nullif_empty(userinfo).alias("userinfo"),
        F.when(has_auth, F.lower(host)).alias("host"),
        _nullif_empty(port).cast("int").alias("port"),
        _nullif_empty(path).alias("path"),
        _nullif_empty(query).alias("query"),
        _nullif_empty(fragment).alias("fragment"),
    )


def registered_domain(host: Column,
                      extra_suffixes: tuple[str, ...] = ()) -> Column:
    """Registrable domain of a hostname (``a.b.host99.example.com`` ->
    ``example.com``; ``news.bbc.co.uk`` -> ``bbc.co.uk``) — the
    grouping key for per-site quotas and domain-level dedup, where the
    raw host over-splits (every subdomain its own group).

    PSL-lite: a hostname whose last label is a two-letter ccTLD and
    whose second-to-last label is a known generic second-level label
    (:data:`DEFAULT_TWO_LEVEL_SUFFIXES`) keeps three labels, everything
    else keeps two. ``extra_suffixes`` injects additional full
    suffixes (e.g. ``("com.br", "org.au")``) for corpora where the
    default table is too coarse. IP literals and single-label hosts
    pass through unchanged. Pure native expressions.
    """
    labels = F.split(host, r"\.")
    n = F.size(labels)
    tld = F.element_at(labels, -1)
    sld = F.when(n >= 2, F.element_at(labels, -2))
    two_level = (
        (F.length(tld) == 2) & ~tld.rlike(r"^[0-9]+$") &
        sld.isin(*DEFAULT_TWO_LEVEL_SUFFIXES)
    )
    for suf in extra_suffixes:
        two_level = two_level | (
            F.concat_ws(".", sld, tld) == suf.lower())
    is_ip = host.rlike(r"^[0-9.]+$") | host.startswith("[")
    keep = F.when(two_level & (n >= 3), 3).otherwise(2)
    return F.when(is_ip | (n <= keep), host).otherwise(
        F.array_join(F.slice(labels, n - keep + 1, keep), "."))


def sort_query_params(url: Column) -> Column:
    """Canonicalize query-parameter order (``?b=2&a=1`` -> ``?a=1&b=2``)
    — composes with :func:`~gojsonschema_spark.ops.webpages.normalize_url`
    for URL-level dedup keys where parameter order is presentation
    noise (tracking params, form serialization order). Byte-sort of the
    ``&``-separated pairs; keys and values are not decoded. Native
    split / sort_array / rejoin (sort_array, not array_sort: direct
    interpreted ordering, no per-comparison Catalyst expression).
    """
    query = F.regexp_extract(url, r"^[^#?]*\?([^#]*)", 1)
    sorted_q = F.array_join(F.sort_array(F.split(query, "&")), "&")
    return F.when(
        query == "", url
    ).otherwise(F.concat(
        F.regexp_extract(url, r"^([^#?]*)\?", 1), F.lit("?"), sorted_q,
        F.regexp_extract(url, r"((?:#.*)?)$", 1)))


def resolve_link(base: Column, href: Column) -> Column:
    """Resolve an extracted ``href`` against its page URL (RFC 3986 §5
    reference resolution) — the step between
    :func:`~gojsonschema_spark.ops.html.extract_links` output and a
    link-graph edge. Native expressions plus ONE bounded ``aggregate``
    pass for dot-segment removal.

    NULL (= not a graph edge) for: empty/whitespace hrefs, pure
    fragments, and non-fetchable schemes (javascript/mailto/data/tel).
    Absolute and protocol-relative references pass through with the
    base scheme applied; root-relative, query-relative and
    path-relative references merge per §5.3 with ``.``/``..`` segments
    collapsed (§5.2.4, leading ``..`` above root clamps to root, as
    browsers do).
    """
    h = F.trim(href)
    origin = F.regexp_extract(base, f"^({_SCHEME}://[^/?#]*)", 1)
    scheme = F.lower(F.regexp_extract(base, f"^({_SCHEME}):", 1))
    base_path = F.regexp_extract(
        base, f"^(?:{_SCHEME}:)?(?://[^/?#]*)?([^?#]*)", 1)
    # RFC 3986 §5.3 merge: reference path appended to base path minus
    # its last segment; empty base path (authority-only url) merges as /
    base_dir = F.when(base_path == "", F.lit("/")).otherwise(
        F.regexp_replace(base_path, r"[^/]*$", ""))
    merged = F.concat(origin, _remove_dot_segments(
        F.concat(base_dir, F.regexp_replace(h, r"[?#].*$", ""))),
        F.regexp_extract(h, r"([?#].*)$", 1))
    return (
        F.when((h == "") | h.startswith("#"), F.lit(None).cast("string"))
        .when(F.lower(h).rlike("^(javascript|mailto|data|tel):"),
              F.lit(None).cast("string"))
        .when(h.rlike(f"^{_SCHEME}:"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        .when(h.startswith("/"), F.concat(
            origin, _remove_dot_segments(
                F.regexp_replace(h, r"[?#].*$", "")),
            F.regexp_extract(h, r"([?#].*)$", 1)))
        .when(h.startswith("?"), F.concat(origin, base_path, h))
        .otherwise(merged))


def _remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 over an absolute path: fold segments left to
    right, ``..`` pops (clamped at root), ``.`` drops. One ``aggregate``
    pass (CodegenFallback, but O(segments) per link and only on the
    relative-href branches)."""
    segs = F.split(path, "/")
    folded = F.aggregate(
        segs, F.array().cast("array<string>"),
        lambda acc, s: (
            F.when(s == ".", acc)
            .when(s == "..",
                  F.slice(acc, 1, F.greatest(F.size(acc) - 1, F.lit(0))))
            .otherwise(F.concat(acc, F.array(s)))))
    # a trailing "." / ".." leaves a dangling directory: re-add the slash
    out = F.concat(F.lit("/"), F.array_join(folded, "/"))
    out = F.when(path.rlike(r"(^|/)\.\.?$") & ~out.endswith("/"),
                 F.concat(out, F.lit("/"))).otherwise(out)
    # folding eats the leading empty segment's slash; normalize doubles
    return F.regexp_replace(out, "^//+", "/")


def host_quality_rollup(df, host_col: str = "host",
                        text_col: str = "text",
                        min_docs: int = 1,
                        short_tokens: int = 40,
                        max_dup_frac: float = 0.5,
                        max_short_frac: float = 0.8,
                        min_mean_tokens: float = 0.0):
    """Per-host corpus-quality rollup + keep/drop verdicts — the
    RefinedWeb-style DOMAIN filtering stage (Penedo et al. 2023 run
    site-level heuristics before any per-document filter: boilerplate
    farms, link spam, and template sites are cheaper to drop wholesale).

    Per host: ``n_docs``, intra-host exact-duplicate mass (``dup_docs``
    = occurrences past each fingerprint's first, ``dup_frac``),
    ``mean_tokens``, ``short_frac`` (docs under ``short_tokens``), and
    ``keep`` (1 iff n_docs >= min_docs AND dup_frac <= max_dup_frac AND
    short_frac <= max_short_frac AND mean_tokens >= min_mean_tokens).

    Scale shape: two map-side-combinable aggregations — (host, fp)
    then host — so the big shuffle carries one row per distinct
    (host, fingerprint), never documents; no window, no broadcast, no
    Python. Ratios divide the same integers in any engine (oracle-
    exact); verdicts compare those exact doubles to literals. Callers
    with raw URLs pass ``parse_url(url)["host"]`` projected first.

    host_col may be NULL (unparseable url) — nulls group together and
    get a verdict like any host.
    """
    from pyspark.sql import functions as F

    from gojsonschema_spark.ops.text import fingerprint, tokenize

    toks = tokenize(F.col(text_col))
    n_tok = F.size(toks)
    base = df.select(
        F.col(host_col).alias("host"),
        fingerprint(F.col(text_col)).alias("fp"),
        n_tok.alias("n_tok"),
        (n_tok < short_tokens).cast("long").alias("is_short"))
    per_fp = (base.groupBy("host", "fp")
              .agg(F.count(F.lit(1)).alias("cnt"),
                   F.sum("n_tok").alias("tok"),
                   F.sum("is_short").alias("short")))
    roll = (per_fp.groupBy("host")
            .agg(F.sum("cnt").alias("n_docs"),
                 F.sum(F.col("cnt") - 1).alias("dup_docs"),
                 F.sum("tok").alias("sum_tok"),
                 F.sum("short").alias("short_docs")))
    n = F.col("n_docs").cast("double")
    dup_frac = F.col("dup_docs").cast("double") / n
    short_frac = F.col("short_docs").cast("double") / n
    mean_tokens = F.col("sum_tok").cast("double") / n
    keep = ((F.col("n_docs") >= min_docs)
            & (dup_frac <= max_dup_frac)
            & (short_frac <= max_short_frac)
            & (mean_tokens >= min_mean_tokens))
    return roll.select(
        "host", "n_docs", "dup_docs",
        dup_frac.alias("dup_frac"),
        mean_tokens.alias("mean_tokens"),
        short_frac.alias("short_frac"),
        keep.cast("int").alias("keep"))
