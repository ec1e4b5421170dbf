"""URL canonicalization & scheduling expressions — pure Spark columns.

north_rule canonicalization contract: lowercase host, strip fragments
and default ports, sort query params, then ``xxhash64``.  The
reference leaves URLs untouched (Request.key defaults to the raw url,
utils.ex:19-21) and resolves relative URLs via Tesla BaseUrl
middleware (requester/requester.ex:51-54) — both subsumed here.

Everything in this module is built-in column expressions: the whole
canonicalization pipeline stays inside whole-stage codegen, no Python
in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- component extraction regexes (shared with the DuckDB oracles in
# __spark_entry__.py — keep in sync) ---
_SCHEME_RE = r"^([a-zA-Z][a-zA-Z0-9+.\-]*)://"
_HOSTPORT_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://([^/?#]*)"
_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.\-]*://[^/?#]*([^?#]*)"
_QUERY_RE = r"\?([^#]*)"


def resolve_url(url: Column, base_url: str | None) -> Column:
    """Resolve root-relative URLs against ``base_url`` (BaseUrl
    middleware semantics, requester.ex:51-54)."""
    if not base_url:
        return url
    base = base_url.rstrip("/")
    return F.when(url.startswith("/"), F.concat(F.lit(base), url)).otherwise(url)


def url_scheme(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _SCHEME_RE, 1))


def url_hostport(url: Column) -> Column:
    return F.lower(F.regexp_extract(url, _HOSTPORT_RE, 1))


def url_host(url: Column) -> Column:
    """Hostname (no port, lowercased) — the politeness/salting key."""
    return F.regexp_replace(url_hostport(url), r":[0-9]+$", "")


def _canonical_hostport(url: Column) -> Column:
    scheme = url_scheme(url)
    hp = url_hostport(url)
    return (
        F.when(scheme == "http", F.regexp_replace(hp, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(hp, r":443$", ""))
        .otherwise(hp)
    )


def _canonical_path(url: Column) -> Column:
    path = F.regexp_extract(url, _PATH_RE, 1)
    return F.when(path == "", F.lit("/")).otherwise(path)


def _sorted_query(url: Column) -> Column:
    """Sort query params lexicographically; '' when no query."""
    q = F.regexp_extract(url, _QUERY_RE, 1)
    return F.when(
        q == "", F.lit("")
    ).otherwise(F.array_join(F.array_sort(F.split(q, "&")), "&"))


def canonicalize_url(url: Column, base_url: str | None = None) -> Column:
    """Full canonical form: scheme://host[:nondefault_port]/path[?sorted].

    Non-http(s) or scheme-less strings pass through with only the
    fragment stripped (keeps arbitrary user keys working, as in the
    reference where key may be any term).
    """
    u = F.trim(resolve_url(url, base_url))
    scheme = url_scheme(u)
    is_web = scheme.isin("http", "https")
    canon = F.concat(
        scheme,
        F.lit("://"),
        _canonical_hostport(u),
        _canonical_path(u),
        F.when(_sorted_query(u) == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), _sorted_query(u))
        ),
    )
    no_fragment = F.regexp_replace(u, r"#.*$", "")
    return F.when(is_web, canon).otherwise(no_fragment)


def url_hash(url_key: Column) -> Column:
    """64-bit identity hash (north_rule: xxhash64)."""
    return F.xxhash64(url_key)


def host_salt(host: Column, n_shards: int) -> Column:
    """Host-hash shard for frontier partitioning / skew defusal."""
    return F.pmod(F.xxhash64(host), F.lit(n_shards)).cast("int")


# Temp columns canonicalize_frontier builds and drops again.
_CANON_TMP = ("__u", "__scheme", "__hp", "__path", "__q", "__qs", "__canon")


def canonicalize_frontier(df, base_url: str | None = None, n_shards: int = 32):
    """Fill the derived columns of a frontier DataFrame in one pass:
    canonical url, url_key (canonical url when key was defaulted to the
    raw url), host, host_salt, url_hash.

    Each component regex is extracted ONCE into its own projection
    layer instead of inlining :func:`canonicalize_url`'s expression
    tree: that tree repeats the scheme/hostport/query extractions
    across ``when`` branches, where codegen subexpression elimination
    cannot merge them, so the admit path was re-running ~2x the regex
    work per row (A/B: 1.8 -> 0.6 s per 2M rows warm, digest
    byte-identical — Catalyst keeps the split because CollapseProject
    declines to inline non-cheap exprs used more than once).  Same
    regexes, same composition order => bit-identical output;
    :func:`canonicalize_url` stays the reference single-expression
    form (the oracle-checked gate uses it directly).

    Raises ``ValueError`` when ``df`` already has one of the temp
    column names (``__u`` ... ``__canon``): the pass would overwrite
    and then drop it."""
    clash = [c for c in _CANON_TMP if c in df.columns]
    if clash:
        raise ValueError(
            f"canonicalize_frontier: input already has column(s) "
            f"{clash}, which it uses as temp columns"
        )
    raw_url = F.col("url")
    d = df.withColumn("__u", F.trim(resolve_url(raw_url, base_url)))
    d = (
        d.withColumn(
            "__scheme", F.lower(F.regexp_extract(F.col("__u"), _SCHEME_RE, 1))
        )
        .withColumn(
            "__hp", F.lower(F.regexp_extract(F.col("__u"), _HOSTPORT_RE, 1))
        )
        .withColumn("__path", F.regexp_extract(F.col("__u"), _PATH_RE, 1))
        .withColumn("__q", F.regexp_extract(F.col("__u"), _QUERY_RE, 1))
    )
    d = d.withColumn(
        "__qs",
        F.when(F.col("__q") == "", F.lit("")).otherwise(
            F.array_join(F.array_sort(F.split(F.col("__q"), "&")), "&")
        ),
    )
    chp = (
        F.when(
            F.col("__scheme") == "http",
            F.regexp_replace(F.col("__hp"), r":80$", ""),
        )
        .when(
            F.col("__scheme") == "https",
            F.regexp_replace(F.col("__hp"), r":443$", ""),
        )
        .otherwise(F.col("__hp"))
    )
    cpath = F.when(F.col("__path") == "", F.lit("/")).otherwise(
        F.col("__path")
    )
    canon = F.concat(
        F.col("__scheme"),
        F.lit("://"),
        chp,
        cpath,
        F.when(F.col("__qs") == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), F.col("__qs"))
        ),
    )
    is_web = F.col("__scheme").isin("http", "https")
    no_fragment = F.regexp_replace(F.col("__u"), r"#.*$", "")
    d = d.withColumn("__canon", F.when(is_web, canon).otherwise(no_fragment))
    # key defaulted to url => re-default to the canonical url so dedup
    # identity matches the canonicalization contract; explicit custom
    # keys are preserved.
    key = F.when(F.col("url_key") == raw_url, F.col("__canon")).otherwise(
        F.col("url_key")
    )
    return (
        d.withColumn("url_key", key)
        .withColumn("url", F.col("__canon"))
        .drop(*_CANON_TMP)
        .withColumn("host", url_host(F.col("url")))
        .withColumn("host_salt", host_salt(F.col("host"), n_shards))
        .withColumn("url_hash", url_hash(F.col("url_key")))
    )


def splash_rewrite(url: Column, splash_url: str, extra_query: dict[str, str] | None = None) -> Column:
    """Pipeline.Splash analogue (splash.ex:21-39): rewrite the fetch
    URL to a JS-rendering endpoint, folding the original url (and any
    extra params) into the splash query string, params sorted for
    determinism."""
    pairs = [F.concat(F.lit("url="), F.url_encode(url))]
    for k, v in (extra_query or {}).items():
        pairs.append(F.lit(f"{k}={v}"))
    qs = F.array_join(F.array_sort(F.array(*pairs)), "&")
    sep = "&" if "?" in splash_url else "?"
    return F.concat(F.lit(splash_url), F.lit(sep), qs)


def splash_unwrap(url: Column, splash_url: str) -> Column:
    """Inverse of :func:`splash_rewrite`: recover the original URL from
    a splash-wrapped one (passthrough otherwise).  Used when persisting
    retried requests back into the frontier — the reference stores the
    *request* (pre-middleware) in its source table, so a retried row
    must not be splash-wrapped a second time next epoch."""
    q = F.regexp_extract(url, r"[?&]url=([^&]*)", 1)
    return F.when(
        url.startswith(splash_url) & (q != F.lit("")), F.url_decode(q)
    ).otherwise(url)


def ua_select(url_key: Column, epoch: int, user_agents: tuple[str, ...]) -> Column:
    """Middleware.UserAgent analogue (user_agent.ex:26-32) — the
    reference picks a *random* UA per request; the rebuild picks a
    *seeded hash* one (north_rule reproducible ordering): stable for a
    given (url_key, epoch), uniform across the list."""
    if not user_agents:
        return F.lit(None).cast("string")
    arr = F.array(*[F.lit(u) for u in user_agents])
    idx = F.pmod(F.xxhash64(url_key, F.lit(epoch)), F.lit(len(user_agents))) + 1
    return F.element_at(arr, idx.cast("int"))
