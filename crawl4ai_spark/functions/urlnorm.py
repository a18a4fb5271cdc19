"""URL canonicalization — the seen-set identity function of the engine.

Semantics match the reference's ``normalize_url_for_deep_crawl``
(/root/reference/crawl4ai/utils.py:2228-2273), which defines URL-seen
identity for deep crawls:

  1. ``urljoin(base, href.strip())`` resolves relative links,
  2. netloc lowercased,
  3. fragment dropped,
  4. tracking query params removed: utm_source utm_medium utm_campaign
     ref fbclid  (parse_qs -> urlencode(doseq=True): blank values are
     dropped, multi-values re-encoded, keys emitted sorted),
  5. path trailing '/' stripped.

Also ``get_base_domain`` / ``is_external_url``
(/root/reference/crawl4ai/utils.py:2340-2422) for internal/external
link classification.

Spark surface: vectorized pandas UDFs (Arrow-batched; never per-row
Python UDFs). The per-value work is stdlib ``urllib`` — exactness of
urljoin edge cases beats any reimplementation in Spark SQL. For the
hot frontier path the engine deduplicates *before* normalizing
(distinct href,base pairs), which is the columnar analogue of the
reference's lru_cache memoization (utils.py:2275).
"""

from __future__ import annotations

import re
from urllib.parse import parse_qs, urlencode, urljoin, urlparse, urlunparse

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

TRACKING_PARAMS = ("utm_source", "utm_medium", "utm_campaign", "ref", "fbclid")

_SECOND_LEVEL = {
    "co", "com", "org", "gov", "edu", "net", "mil", "int", "ac",
    "ad", "ae", "af", "ag",
}

_SPECIAL_SCHEMES = ("mailto:", "tel:", "ftp:", "file:", "data:", "javascript:")

_WWW_RE = re.compile(r"^www\.")


def normalize_url_for_deep_crawl(href: str | None, base_url: str) -> str | None:
    """Reference-equal canonicalization (utils.py:2228-2273)."""
    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    parsed = urlparse(full_url)
    netloc = parsed.netloc.lower()
    query = parsed.query
    if query:
        params = parse_qs(query)
        for p in TRACKING_PARAMS:
            params.pop(p, None)
        query = urlencode(params, doseq=True) if params else ""
    return urlunparse(
        (parsed.scheme, netloc, parsed.path.rstrip("/"), parsed.params, query, "")
    )


# normalize_url (utils.py:2142-2225) default tracking set — the extended
# scraper variant's superset of TRACKING_PARAMS
EXTENDED_TRACKING = frozenset({
    "utm_source", "utm_medium", "utm_campaign", "utm_term",
    "utm_content", "gclid", "fbclid", "ref", "ref_src",
})


def normalize_url_extended(
    href: str | None,
    base_url: str,
    drop_query_tracking: bool = True,
    sort_query: bool = True,
    keep_fragment: bool = False,
    extra_drop_params=None,
) -> str | None:
    """Reference-equal extended normalizer (utils.py:2142-2225): the
    scraper-side variant — quote(unquote(path)) percent re-encode,
    duplicate-preserving query handling via parse_qsl with blank values
    kept, lowercase query KEYS, gclid/ref_src-class tracking drop,
    optional fragment keep."""
    from urllib.parse import parse_qsl, quote, unquote

    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    parsed = urlparse(full_url)
    netloc = parsed.netloc.lower()
    path = quote(unquote(parsed.path))
    if path.endswith("/") and path != "/":
        path = path.rstrip("/")
    query = parsed.query
    if query:
        params = [(k.lower(), v) for k, v in parse_qsl(query, keep_blank_values=True)]
        if drop_query_tracking:
            drop = set(EXTENDED_TRACKING)
            if extra_drop_params:
                drop |= {p.lower() for p in extra_drop_params}
            params = [(k, v) for k, v in params if k not in drop]
        if sort_query:
            params.sort(key=lambda kv: kv[0])
        query = urlencode(params, doseq=True) if params else ""
    fragment = parsed.fragment if keep_fragment else ""
    return urlunparse(
        (parsed.scheme, netloc, path, parsed.params, query, fragment)
    )


def efficient_normalize_url_for_deep_crawl(href: str | None,
                                           base_url: str) -> str | None:
    """Reference-equal fast variant (utils.py:2276-2302): only the
    critical normalizations — resolve, lowercase netloc, strip trailing
    slash, drop fragment; query left untouched (no tracking-param work).
    Expressible as pure Catalyst SQL too — see
    efficient_normalize_expr."""
    if not href:
        return None
    full_url = urljoin(base_url, href.strip())
    parsed = urlparse(full_url)
    return urlunparse((
        parsed.scheme, parsed.netloc.lower(), parsed.path.rstrip("/"),
        parsed.params, parsed.query, "",
    ))


def get_base_domain(url: str) -> str:
    """Reference-equal base-domain extraction (utils.py:2340-2388)."""
    try:
        domain = urlparse(url).netloc.lower()
        if not domain:
            return ""
        domain = domain.split(":")[0]
        domain = _WWW_RE.sub("", domain)
        parts = domain.split(".")
        if len(parts) > 2 and parts[-2] in _SECOND_LEVEL:
            return ".".join(parts[-3:])
        return ".".join(parts[-2:])
    except Exception:
        return ""


def is_external_url(url: str, base_domain: str) -> bool:
    """Reference-equal external classification (utils.py:2391-2422)."""
    if any(url.lower().startswith(p) for p in _SPECIAL_SCHEMES):
        return True
    try:
        parsed = urlparse(url)
        if not parsed.netloc:
            return False
        url_domain = parsed.netloc.lower().replace("www.", "")
        base = base_domain.lower().replace("www.", "")
        return not url_domain.endswith(base)
    except Exception:
        return False


def can_process_url(url: str) -> bool:
    """URL validity predicate (bfs_strategy.py:46-61): http/https scheme,
    netloc present and contains a dot."""
    try:
        parsed = urlparse(url)
        return bool(
            parsed.scheme
            and parsed.netloc
            and parsed.scheme in ("http", "https")
            and "." in parsed.netloc
        )
    except Exception:
        return False


# --------------------------------------------------------------------------
# Vectorized Spark surface
# --------------------------------------------------------------------------

def _normalize_pair(href: pd.Series, base: pd.Series) -> pd.Series:
    return pd.Series(
        [normalize_url_for_deep_crawl(h, b) for h, b in zip(href, base)],
        dtype=object,
    )


# nondeterministic: the optimizer copies a deterministic UDF into every
# filter on its output that it pushes below the projection, which would
# run the normalizer in a second Python stage
_normalize_pair_udf = pandas_udf(_normalize_pair, StringType()).asNondeterministic()


@pandas_udf(StringType())
def base_domain_udf(url: pd.Series) -> pd.Series:
    return url.map(lambda u: get_base_domain(u) if u else "")


def normalize_urls_udf(href_col, base_col):
    """Column API: canonicalize (href, base) pairs."""
    return _normalize_pair_udf(href_col, base_col)


@pandas_udf(StringType())
def _normalize_extended_udf(href: pd.Series, base: pd.Series) -> pd.Series:
    return pd.Series(
        [normalize_url_extended(h, b) for h, b in zip(href, base)],
        dtype=object,
    )


def normalize_urls_extended_udf(href_col, base_col):
    """Column API: the extended scraper-variant normalizer."""
    return _normalize_extended_udf(href_col, base_col)


@pandas_udf(StringType())
def _normalize_fast_udf(href: pd.Series, base: pd.Series) -> pd.Series:
    return pd.Series(
        [efficient_normalize_url_for_deep_crawl(h, b)
         for h, b in zip(href, base)],
        dtype=object,
    )


def normalize_urls_fast_udf(href_col, base_col):
    """Column API: the efficient (critical-normalizations-only) variant."""
    return _normalize_fast_udf(href_col, base_col)


def url_host(col):
    """Native host extraction (no Python): the lowercased host, without
    the port (parse_url's HOST part: http://A.b.com:8080/x -> a.b.com)."""
    return F.lower(F.coalesce(F.parse_url(col, F.lit("HOST")), F.lit("")))


def url_hash(col):
    """64-bit identity hash of the canonical URL (reference stores xxh64
    content hashes, utils.py:2701-2703; xxhash64 is the Spark built-in)."""
    return F.xxhash64(col)
