"""URL filters as native boolean Column expressions.

Each reference filter (/root/reference/crawl4ai/deep_crawling/filters.py)
becomes a Catalyst predicate; FilterChain's AND-with-short-circuit
(filters.py:69-116) is just `&` (Catalyst short-circuits and pushes
predicates down to the scan). No Python in the hot path.
"""

from __future__ import annotations

import fnmatch
import re
from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F


def _url(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def filter_chain_stats(df, named_predicates: dict[str, Column]):
    """Per-filter decision counters (FilterStats, reference
    deep_crawling/filters.py:25-66: total_urls / passed_urls /
    rejected_urls per filter).

    The reference counts inside each filter object during its
    short-circuit chain: filter k only sees URLs that passed filters
    0..k-1. Re-expressed as ONE aggregation: each row contributes to
    filter k's counters iff all earlier predicates passed — conditional
    sums, map-side combined, no shuffle of URL data.

    Returns (stats_df, passed_predicate): stats rows
    (filter, total_urls, passed_urls, rejected_urls) in chain order.
    """
    names = list(named_predicates)
    passed_so_far = F.lit(True)
    aggs = []
    for name in names:
        p = named_predicates[name]
        aggs.append(F.sum(F.when(passed_so_far, 1).otherwise(0)).alias(f"__t_{name}"))
        aggs.append(
            F.sum(F.when(passed_so_far & p, 1).otherwise(0)).alias(f"__p_{name}")
        )
        passed_so_far = passed_so_far & p
    row = df.agg(*aggs)
    stats = row.select(
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(name).alias("filter"),
                    F.col(f"__t_{name}").alias("total_urls"),
                    F.col(f"__p_{name}").alias("passed_urls"),
                    (F.col(f"__t_{name}") - F.col(f"__p_{name}")).alias("rejected_urls"),
                )
                for name in names
            ])
        ).alias("s")
    ).select("s.filter", "s.total_urls", "s.passed_urls", "s.rejected_urls")
    return stats, passed_so_far


# -- URLPatternFilter (filters.py:119-255) ----------------------------------

def url_pattern_filter(url, patterns: list[str] | str, reverse: bool = False) -> Column:
    """Glob/regex pattern filter with the reference's categorization:
    SUFFIX (*.html), PREFIX (/foo/* with path-boundary check), DOMAIN
    (*.example.com), REGEX (^/$/\\d), PATH (general glob)."""
    if isinstance(patterns, str):
        patterns = [patterns]
    u = _url(url)
    suffixes: list[str] = []
    prefixes: list[str] = []
    domain_regexes: list[str] = []
    path_regexes: list[str] = []
    for p in patterns:
        if p.startswith("^") or p.endswith("$") or "\\d" in p:
            path_regexes.append(p)
        elif p.count("*") == 1 and p.startswith("*."):
            if "://" in p:
                domain_regexes.append(p.replace("*.", r"[^/]+\."))
            else:
                suffixes.append(p[2:])
        elif p.count("*") == 1 and p.endswith("/*"):
            prefixes.append(p[:-2])
        else:
            g = p
            if "**" in g:
                g = g.replace("**", ".*")
            g = re.sub(r"\{([^}]+)\}", lambda m: f'({"|".join(m.group(1).split(","))})', g)
            path_regexes.append(fnmatch.translate(g))

    preds: list[Column] = []
    if suffixes:
        # last path-ish token's extension: url minus query, token after
        # last '/', after last '.' (filters.py:215-218)
        no_q = F.substring_index(u, "?", 1)
        last_seg = F.substring_index(no_q, "/", -1)
        ext = F.substring_index(last_seg, ".", -1)
        preds.append(ext.isin(suffixes))
    for dr in domain_regexes:
        # reference uses re.match (anchored at start), dots unescaped —
        # keep semantics identical (filters.py:192, 224)
        preds.append(u.rlike("^" + dr))
    if prefixes:
        no_q = F.substring_index(u, "?", 1)
        for p in prefixes:
            boundary = F.substring(no_q, len(p) + 1, 1)
            preds.append(
                no_q.startswith(p)
                & ((F.length(no_q) == len(p)) | boundary.isin("/", "?", "#"))
            )
    for r in path_regexes:
        preds.append(u.rlike(r))

    result = reduce(lambda a, b: a | b, preds, F.lit(False))
    return ~result if reverse else result


# -- ContentTypeFilter (filters.py:258-421) ----------------------------------

# the reference's own extension->MIME table, verbatim
# (filters.py:264-341 _MIME_MAP — constants, cited)
_EXT_MIME = {
    "txt": "text/plain", "html": "text/html", "htm": "text/html",
    "xhtml": "application/xhtml+xml", "css": "text/css", "csv": "text/csv",
    "ics": "text/calendar", "js": "application/javascript", "bmp": "image/bmp",
    "gif": "image/gif", "jpeg": "image/jpeg", "jpg": "image/jpeg",
    "png": "image/png", "svg": "image/svg+xml", "tiff": "image/tiff",
    "ico": "image/x-icon", "webp": "image/webp", "mp3": "audio/mpeg",
    "wav": "audio/wav", "ogg": "audio/ogg", "m4a": "audio/mp4",
    "aac": "audio/aac", "mp4": "video/mp4", "mpeg": "video/mpeg",
    "webm": "video/webm", "avi": "video/x-msvideo", "mov": "video/quicktime",
    "flv": "video/x-flv", "wmv": "video/x-ms-wmv", "mkv": "video/x-matroska",
    "json": "application/json", "xml": "application/xml", "pdf": "application/pdf",
    "zip": "application/zip", "gz": "application/gzip", "tar": "application/x-tar",
    "rar": "application/vnd.rar", "7z": "application/x-7z-compressed", "exe": "application/vnd.microsoft.portable-executable",
    "msi": "application/x-msdownload", "woff": "font/woff", "woff2": "font/woff2",
    "ttf": "font/ttf", "otf": "font/otf", "doc": "application/msword",
    "dot": "application/msword", "docx": "application/vnd.openxmlformats-officedocument.wordprocessingml.document", "xlsx": "application/vnd.openxmlformats-officedocument.spreadsheetml.sheet",
    "xls": "application/vnd.ms-excel", "ppt": "application/vnd.ms-powerpoint", "pptx": "application/vnd.openxmlformats-officedocument.presentationml.presentation",
    "odt": "application/vnd.oasis.opendocument.text", "ods": "application/vnd.oasis.opendocument.spreadsheet", "odp": "application/vnd.oasis.opendocument.presentation",
    "tar.gz": "application/gzip", "tgz": "application/gzip", "bz2": "application/x-bzip2",
    "rtf": "application/rtf", "apk": "application/vnd.android.package-archive", "epub": "application/epub+zip",
    "jar": "application/java-archive", "swf": "application/x-shockwave-flash", "midi": "audio/midi",
    "mid": "audio/midi", "ps": "application/postscript", "ai": "application/postscript",
    "eps": "application/postscript", "bin": "application/octet-stream", "dmg": "application/x-apple-diskimage",
    "iso": "application/x-iso9660-image", "deb": "application/x-debian-package", "rpm": "application/x-rpm",
    "sqlite": "application/vnd.sqlite3", "unknown": "application/octet-stream", "php": "application/x-httpd-php",
    "php3": "application/x-httpd-php", "php4": "application/x-httpd-php", "php5": "application/x-httpd-php",
    "php7": "application/x-httpd-php", "phtml": "application/x-httpd-php", "phps": "application/x-httpd-php-source",
}


def content_type_filter(url, allowed_types: list[str]) -> Column:
    """Allow-list on extension-implied MIME; extensionless URLs pass
    (filters.py:258-421), reference-exact (round-5 equality fix):

    - an allowed type matches by SUBSTRING containment in the MIME
      value (`any(allowed in mime)` — 'text' admits every text/*,
      'html' admits text/html AND application/xhtml+xml);
    - the extension comes from the last path segment taken from the
      FIRST '/' after the scheme, with NO query/fragment stripping
      (`/q?p=1` has no dot, so it passes — pinned quirk);
    - unknown extensions fail, extensionless URLs pass.
    """
    allowed = {t.lower() for t in allowed_types}
    exts = [e for e, m in _EXT_MIME.items()
            if any(a in m for a in allowed)]
    u = _url(url)
    after_scheme = F.when(F.instr(u, "://") > 0,
                          F.substr(u, F.instr(u, "://") + F.lit(3),
                                   F.length(u))).otherwise(u)
    path = F.when(F.instr(after_scheme, "/") > 0,
                  F.substr(after_scheme, F.instr(after_scheme, "/"),
                           F.length(after_scheme))).otherwise(F.lit(""))
    filename = F.when(F.instr(path, "/") > 0,
                      F.substring_index(path, "/", -1)).otherwise(F.lit(""))
    has_ext = filename.contains(".")
    ext = F.lower(F.substring_index(filename, ".", -1))
    return ~has_ext | ext.isin(exts)


# -- DomainFilter (filters.py:424-498) ----------------------------------------

def domain_filter(host, allowed_domains: list[str] | None = None,
                  blocked_domains: list[str] | None = None) -> Column:
    """host == d OR host endswith '.d' against allow/block lists."""
    h = F.lower(_url(host))

    def matches(domains: list[str]) -> Column:
        return reduce(
            lambda a, d: a | (h == d.lower()) | h.endswith("." + d.lower()),
            domains,
            F.lit(False),
        )

    pred = F.lit(True)
    if blocked_domains:
        pred = pred & ~matches(blocked_domains)
    if allowed_domains:
        pred = pred & matches(allowed_domains)
    return pred


# -- SEOFilter (filters.py:576-687) -------------------------------------------

def seo_quality_score(url, title, description, keywords: list[str] | None = None) -> Column:
    """Head-quality score, pure column arithmetic. Components mirror the
    reference's weighted checks: title length in [10,70] and keyword
    presence, meta-description length in [50,160], URL quality penalties
    (len>80, digit runs, query params, underscores)."""
    u, t, d = _url(url), _url(title), _url(description)
    tlen = F.length(F.coalesce(t, F.lit("")))
    dlen = F.length(F.coalesce(d, F.lit("")))
    score = F.lit(0.0)
    score = score + F.when((tlen >= 10) & (tlen <= 70), 0.3).otherwise(0.0)
    if keywords:
        hit = reduce(
            lambda a, k: a | F.lower(F.coalesce(t, F.lit(""))).contains(k.lower()),
            keywords, F.lit(False),
        )
        score = score + F.when(hit, 0.2).otherwise(0.0)
    else:
        score = score + F.lit(0.2)
    score = score + F.when((dlen >= 50) & (dlen <= 160), 0.2).otherwise(0.0)
    penalty = (
        F.when(F.length(u) > 80, 0.1).otherwise(0.0)
        + F.when(u.rlike(r"\d{4,}"), 0.1).otherwise(0.0)
        + F.when(u.contains("?"), 0.05).otherwise(0.0)
        + F.when(u.contains("_"), 0.05).otherwise(0.0)
    )
    return (score + F.lit(0.3) - penalty).cast("double")
