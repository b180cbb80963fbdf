"""URL parsing / canonicalization — pure codegen expressions (no UDF).

``url`` is this engine's primary key (BASELINE.json:15): two crawls of
the same page routinely differ only in tracking params, fragment, host
case, or a default port, and a CDC stream keyed on the RAW url treats
them as distinct pages — double-ingesting content and splitting a page's
LSN history. Canonicalization is therefore a first-class key transform,
applied once at the tail before url-hash partitioning.

Frozen canonicalization spec (byte-deterministic, mirrored in the
driver's DuckDB oracle):

1. strip the fragment (everything from the first ``#``);
2. scheme lowercased;
3. host lowercased, one leading ``www.`` stripped, default port
   removed (``:80`` for http, ``:443`` for https);
4. empty path becomes ``/``;
5. query params split on ``&``, tracking params dropped (``utm_*``,
   ``gclid``, ``fbclid``, ``ref``), the rest byte-sorted and rejoined;
   an emptied query drops its ``?``.

Full PSL-based registrable-domain extraction is out of scope (the
public-suffix list is a data file, not logic); ``url_domain`` returns
the www-stripped host (the domain masking policy keys on it).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_TRACKING_PREFIXES = ("utm_",)
_TRACKING_EXACT = ("gclid", "fbclid", "ref")

# scheme://authority path query  (fragment already stripped)
_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://([^/?#]*)([^?#]*)\\??([^#]*)"


def _defrag(url: Column) -> Column:
    return F.regexp_replace(url, "#.*$", "")


def url_parts(url: Column) -> Column:
    """struct(scheme, host, path, query) — raw split, no normalization
    beyond fragment removal; non-URL strings yield empty fields."""
    u = _defrag(F.trim(url))
    return F.struct(
        F.regexp_extract(u, _RE, 1).alias("scheme"),
        F.regexp_extract(u, _RE, 2).alias("host"),
        F.regexp_extract(u, _RE, 3).alias("path"),
        F.regexp_extract(u, _RE, 4).alias("query"),
    )


def _is_tracking(p: Column) -> Column:
    name = F.substring_index(p, "=", 1)
    cond = F.lit(False)
    for pref in _TRACKING_PREFIXES:
        cond = cond | name.startswith(pref)
    for exact in _TRACKING_EXACT:
        cond = cond | (name == exact)
    return cond


def canonical_url(url: Column) -> Column:
    """The frozen canonical form (module docstring spec)."""
    parts = url_parts(url)
    scheme = F.lower(parts["scheme"])
    host = F.regexp_replace(F.lower(parts["host"]), "^www\\.", "")
    host = F.when(
        (scheme == "http"), F.regexp_replace(host, ":80$", "")
    ).when(
        (scheme == "https"), F.regexp_replace(host, ":443$", "")
    ).otherwise(host)
    path = F.when(parts["path"] == "", F.lit("/")).otherwise(parts["path"])
    params = F.filter(
        F.split(parts["query"], "&", -1),
        lambda p: (p != "") & ~_is_tracking(p),
    )
    query = F.array_join(F.array_sort(params), "&")
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), query)),
    )
    # a string with no scheme://host is not a URL: NULL, not ":///" —
    # callers route NULL keys to quarantine (dirty-record rules)
    return F.when((scheme != "") & (host != ""), out)


def url_domain(url: Column) -> Column:
    """Lowercased, www- and port-stripped host."""
    host = F.lower(url_parts(url)["host"])
    host = F.regexp_replace(host, "^www\\.", "")
    return F.regexp_replace(host, ":[0-9]+$", "")
