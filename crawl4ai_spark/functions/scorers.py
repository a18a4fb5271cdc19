"""URL scorers as native Column expressions.

Each reference scorer (/root/reference/crawl4ai/deep_crawling/scorers.py)
is a pure ``url -> float``; here each becomes a Catalyst expression over
a url column — whole-stage-codegen'd, no Python. The reference's
lru_cache memoization (scorers.py:115,169,...) is subsumed by scoring
*after* dedup (distinct candidates), the columnar idiom.

Weights: like the reference base class (scorers.py:76-80), every
builder takes ``weight`` and multiplies the raw score.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# scorers.py:14 — PathDepthScorer lookup for |depth - optimal| in 0..3
_PATH_LOOKUP = [1.0, 0.5, 1.0 / 3.0, 0.25]
# scorers.py:17 — FreshnessScorer table for year_diff 0..5
_FRESHNESS = [1.0, 0.9, 0.8, 0.7, 0.6, 0.5]


def _url(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def keyword_relevance_score(url, keywords: list[str], weight: float = 1.0,
                            case_sensitive: bool = False) -> Column:
    """Fraction of keywords present as substrings (scorers.py:160-188)."""
    u = _url(url) if case_sensitive else F.lower(_url(url))
    ks = keywords if case_sensitive else [k.lower() for k in keywords]
    if not ks:
        return F.lit(0.0)
    hits = sum(F.when(u.contains(k), 1).otherwise(0) for k in ks)
    return (hits / F.lit(len(ks)) * F.lit(weight)).cast("double")


def path_depth(url) -> Column:
    """Non-empty path-segment count ('/a/b/' -> 2), scorers.py:196-225."""
    path = F.coalesce(F.parse_url(_url(url), F.lit("PATH")), F.lit(""))
    return F.size(F.filter(F.split(path, "/"), lambda x: x != ""))


def path_depth_score(url, optimal_depth: int = 3, weight: float = 1.0) -> Column:
    """1/(1+|depth-optimal|) with a small lookup table (scorers.py:227-245)."""
    dist = F.abs(path_depth(url) - F.lit(optimal_depth))
    lookup = F.array(*[F.lit(v) for v in _PATH_LOOKUP])
    score = F.when(dist < 4, F.element_at(lookup, dist.cast("int") + 1)).otherwise(
        1.0 / (1.0 + dist)
    )
    return (score * F.lit(weight)).cast("double")


def url_extension(url) -> Column:
    """Extension after the LAST '.' in the whole URL (rfind), cut at the
    first non-alnum char, lowercased (scorers.py:289-303
    _quick_extension — includes its quirk that 'http://host.org' yields
    'org')."""
    u = _url(url)
    ext = F.lower(F.regexp_extract(F.substring_index(u, ".", -1), "^[A-Za-z0-9]+", 0))
    return F.when(u.contains("."), ext).otherwise(F.lit(""))


def content_type_score(url, type_weights: dict[str, float], weight: float = 1.0) -> Column:
    """Extension -> weight map with regex fallback (scorers.py:247-330).

    Keys like '.html$' are exact-extension fast paths; anything else is
    a regex tried in descending score order.
    """
    exact: dict[str, float] = {}
    regexes: list[tuple[str, float]] = []
    for pattern, s in type_weights.items():
        if pattern.startswith(".") and pattern.endswith("$"):
            exact[pattern[1:-1]] = s
        else:
            regexes.append((pattern, s))
    regexes.sort(key=lambda x: -x[1])

    ext = url_extension(url)
    score = F.lit(None).cast("double")
    if exact:
        mapping = F.create_map(
            *[F.lit(x) for kv in exact.items() for x in kv]
        )
        score = mapping[ext]
    for pattern, s in regexes:
        score = F.coalesce(score, F.when(_url(url).rlike(pattern), F.lit(s)))
    return (F.coalesce(score, F.lit(0.0)) * F.lit(weight)).cast("double")


def freshness_score(url, current_year: int = 2024, weight: float = 1.0) -> Column:
    """Latest plausible year in the URL -> freshness table
    (scorers.py:332-412): diff 0..5 -> [1.0,...,0.5], older ->
    max(0.1, 1-0.1*diff), no year -> 0.5."""
    years = F.transform(
        F.regexp_extract_all(_url(url), F.lit(r"(?:/|[-_])((?:19|20)\d{2})"), F.lit(1)),
        lambda y: y.cast("int"),
    )
    latest = F.array_max(F.filter(years, lambda y: y <= F.lit(current_year)))
    diff = F.lit(current_year) - latest
    table = F.array(*[F.lit(v) for v in _FRESHNESS])
    score = F.when(latest.isNull(), F.lit(0.5)).otherwise(
        F.when(diff < len(_FRESHNESS), F.element_at(table, diff.cast("int") + 1))
        .otherwise(F.greatest(F.lit(0.1), 1.0 - diff * 0.1))
    )
    return (score * F.lit(weight)).cast("double")


def authority_domain(url) -> Column:
    """The reference scorer's own ultra-fast domain key
    (scorers.py _extract_domain): the substring after '://' (or the
    whole prefix when schemeless), cut at the first of '/?#', with
    everything from the LAST ':' stripped (the port — rfind, a pinned
    quirk), lowercased. NO www-stripping and NO base-domain collapse —
    'blog.example.com' is a different key from 'example.com' (equality
    test vs the genuine class caught the earlier base-domain form
    scoring subdomains that the reference leaves at default_weight)."""
    u = _url(url)
    pos = F.instr(u, "://")  # FIRST occurrence, like the reference's find
    rest = F.when(pos > 0, F.substr(u, pos + F.lit(3), F.length(u))) \
            .otherwise(u)
    # the reference tries '/' THEN '?' THEN '#' (not earliest-of-any):
    # a '?' before the first '/' stays inside the key — pinned quirk
    end = (F.when(F.instr(rest, "/") > 0, F.instr(rest, "/"))
            .when(F.instr(rest, "?") > 0, F.instr(rest, "?"))
            .when(F.instr(rest, "#") > 0, F.instr(rest, "#"))
            .otherwise(F.length(rest) + 1))
    host = F.substr(rest, F.lit(1), end - 1)
    host = F.regexp_replace(host, ":[^:]*$", "")
    return F.lower(host)


def domain_authority_score(df, weights: dict[str, float] | None = None,
                           weights_df=None, url_col: str = "url_norm",
                           default: float = 0.5, weight: float = 1.0,
                           out_col: str = "domain_score"):
    """DomainAuthorityScorer (scorers.py:414-519): domain -> weight dim.

    Join-based (broadcast) when given a DataFrame dim; map-expression
    when given a small dict. Keyed by ``authority_domain`` — the
    reference scorer's full-host rule (round-5 fix; it previously used
    get_base_domain, which collapses subdomains the reference does
    not)."""
    dom = authority_domain(F.col(url_col))
    if weights_df is not None:
        w = weights_df.select(
            F.col("domain").alias("__dom"), F.col("weight").alias("__w")
        )
        df = df.withColumn("__dom", dom).join(F.broadcast(w), "__dom", "left")
        return df.withColumn(
            out_col,
            (F.coalesce(F.col("__w"), F.lit(default)) * F.lit(weight)).cast("double"),
        ).drop("__dom", "__w")
    mapping = F.create_map(*[F.lit(x) for kv in (weights or {}).items() for x in kv])
    return df.withColumn(
        out_col, (F.coalesce(mapping[dom], F.lit(default)) * F.lit(weight)).cast("double")
    )


def composite_score(*scores: Column, normalize: bool = True) -> Column:
    """Sum of child scores, optionally normalized by count
    (CompositeScorer, scorers.py:91-158)."""
    total = scores[0]
    for s in scores[1:]:
        total = total + s
    if normalize and scores:
        total = total / F.lit(len(scores))
    return total.cast("double")
