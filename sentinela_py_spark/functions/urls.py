"""URL column utilities (M15).

Reference semantics: absolute-URL resolution via ``urljoin`` and
pagination-parameter stripping for first-page fallback candidates
(sentinela/infrastructure/scraper.py:375-473).

All column algebra — ``parse_url`` + ``regexp_replace`` — so URL
manipulation over billions of rows stays JVM-side."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_PAGE_PARAMS = ("page", "paged", "pagina", "pag", "p")


def strip_pagination(url: Column) -> Column:
    """Remove pagination query params and trailing /N, -N, _N page
    suffixes; rstrip trailing slash (scraper.py:375-469 fallback set)."""
    out = url
    for p in _PAGE_PARAMS:
        # ?page=2& / &page=2 / ?page=2 (end) — keep separators consistent
        out = F.regexp_replace(out, rf"([?&]){p}=[^&#]*&", r"$1")
        out = F.regexp_replace(out, rf"[?&]{p}=[^&#]*$", "")
    out = F.regexp_replace(out, r"(?:/|-|_)\d+/?$", "")
    return F.regexp_replace(out, r"/$", "")


def resolve_url(base: Column, raw: Column) -> Column:
    """Absolute URL from a base + possibly-relative href (``urljoin``
    subset: absolute stays, root-relative joins scheme+host, else joins
    the base path's directory)."""
    scheme_host = F.concat(
        F.parse_url(base, F.lit("PROTOCOL")), F.lit("://"), F.parse_url(base, F.lit("HOST"))
    )
    base_dir = F.regexp_replace(base, r"[^/]*$", "")
    return (
        F.when(raw.rlike(r"^[a-zA-Z][a-zA-Z0-9+.-]*://"), raw)
        .when(raw.startswith("/"), F.concat(scheme_host, raw))
        .otherwise(F.concat(base_dir, raw))
    )
