"""URL canonicalization — the web-pipeline staple the reference never needed
(its corpus arrives pre-scoped) but any Common-Crawl-scale ingest does:
the same page surfaces under scheme/host case variants, default ports,
fragments, tracking parameters, and shuffled query order, and every one of
those aliases defeats url-keyed dedup, per-domain caps, and the url-hash
partitioning the KG tables are bucketed by.

All steps are single JVM regex/HOF expressions (map-only, codegen — no
Python, no shuffle): canonicalization of 10^12 urls is a pure map pass.

Canonical form produced:
- fragment removed,
- scheme + authority lowercased, default ports ``:80``/``:443`` stripped,
- tracking parameters dropped (``utm_*``, ``gclid``, ``fbclid``, ``ref``),
  empty parameters dropped,
- remaining query parameters sorted (byte order), ``?`` dropped if none
  survive.

The ``url_canonicalize`` driver query feeds DECORATED urls (upper-cased
host, ``:80``, shuffled params, ``gclid``, empty param, fragment) through
this general canonicalizer and the DuckDB oracle states the expected
canonical CLOSED-FORM from (doc_id, source).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: parameters that never affect page identity (analytics attribution)
TRACKING_PARAM_RE = "^(utm_[^=]*|gclid|fbclid|ref)="

_AUTHORITY_RE = "^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)"


def canonicalize_url(url: Column) -> Column:
    """Canonical url (see module docstring) as one map-only expression."""
    u = F.regexp_replace(url, "#.*", "")  # fragment
    authority = F.regexp_extract(u, _AUTHORITY_RE, 1)
    rest = F.substring(u, F.length(authority) + 1, F.length(u))
    scheme_host = F.regexp_replace(F.lower(authority), ":(80|443)$", "")
    path = F.regexp_extract(rest, "^[^?]*", 0)
    qpos = F.instr(rest, "?")
    query = F.when(qpos > 0, F.substring(rest, qpos + 1, F.length(rest))).otherwise(
        F.lit("")
    )
    params = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (p != "") & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    tail = F.when(
        F.size(params) > 0, F.concat(F.lit("?"), F.array_join(params, "&"))
    ).otherwise(F.lit(""))
    return F.concat(scheme_host, path, tail)


def url_host(url: Column) -> Column:
    """Lower-cased host (authority sans scheme/port/userinfo) — the
    per-domain-cap and domain-mix key."""
    host = F.regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]*)", 1)
    return F.lower(host)
