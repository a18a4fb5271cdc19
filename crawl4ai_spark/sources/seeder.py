"""URL seeding sources — the discovery front of the engine.

Re-expresses AsyncUrlSeeder (/root/reference/crawl4ai/async_url_seeder.py)
as DataFrame pipelines over seed tables:

  - sitemap XML -> URL table (seeder fetches robots->sitemap chains,
    async_url_seeder.py:765-957; here the fetched XML bodies are rows
    of a table — Common-Crawl/WARC-style — and <loc> extraction is a
    native regexp, no XML parser needed for the sitemap subset);
  - nonsense-URL filtering (async_url_seeder.py:1284-1378);
  - glob pattern matching on url / canonical / www-stripped forms
    (async_url_seeder.py:81-86);
  - dedup + max_urls cap (async_url_seeder.py:344-401) as
    distinct + score-ordered limit;
  - BM25 relevance scoring against head text via ops/bm25 +
    relevance sort (async_url_seeder.py:441, 645-677).
"""

from __future__ import annotations

import fnmatch
import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# junk suffixes/patterns the reference's _is_nonsense_url drops
_NONSENSE_EXT = (
    "css js json xml rss atom ico png jpg jpeg gif svg webp woff woff2 ttf "
    "eot mp3 mp4 avi zip gz tar rar exe dmg"
).split()
_NONSENSE_PATTERNS = [
    r"/wp-json/", r"/wp-admin/", r"/feed/?$", r"/cdn-cgi/", r"\.well-known/",
    r"[?&]replytocom=", r"/xmlrpc\.php",
]


# the five predefined XML entities plus decimal/hex character references
_XML_ENTITY = re.compile(r"&(lt|gt|quot|apos|amp|#[0-9]+|#[xX][0-9a-fA-F]+);")
_NAMED_ENTITY = {"lt": "<", "gt": ">", "quot": '"', "apos": "'", "amp": "&"}


def _decode_entity(m: re.Match) -> str:
    ref = m.group(1)
    if ref[0] != "#":
        return _NAMED_ENTITY[ref]
    code = int(ref[2:], 16) if ref[1] in "xX" else int(ref[1:])
    if 0 < code <= 0x10FFFF and not 0xD800 <= code <= 0xDFFF:
        return chr(code)
    return m.group(0)  # not a character: keep the reference as written


@pandas_udf(StringType())
def _decode_xml_entities(urls: pd.Series) -> pd.Series:
    """One left-to-right pass, as an XML parser decodes: a decoded '&'
    never starts another reference ('&amp;#38;' -> '&#38;')."""
    return urls.str.replace(_XML_ENTITY, _decode_entity, regex=True)


def seeds_from_sitemaps(sitemap_bodies: DataFrame, body_col: str = "body") -> DataFrame:
    """sitemap XML bodies -> one row per <loc> URL. Nested sitemap
    indexes resolve by feeding their <loc>s back through the fetch
    stage (table-in, table-out — the loop lives outside, like the
    crawl rounds)."""
    loc = F.explode(F.expr(
        f"regexp_extract_all({body_col}, "
        "'<loc>\\\\s*(?:<!\\\\[CDATA\\\\[)?\\\\s*([^<\\\\]]+?)"
        "\\\\s*(?:\\\\]\\\\]>)?\\\\s*</loc>', 1)"
    )).alias("url")
    # sitemap XML must escape '&' as '&amp;' (or '&#38;') — the
    # reference's XML parser (async_url_seeder.py:865-907) decodes
    # entities and CDATA; without this, any URL with two query params
    # comes out with a literal '&amp;' and never joins against its
    # crawled url_norm
    return sitemap_bodies.select(loc).select(
        _decode_xml_entities(F.col("url")).alias("url")).distinct()


def drop_nonsense_urls(urls: DataFrame, url_col: str = "url") -> DataFrame:
    """Boolean-filter in the spirit of _is_nonsense_url
    (async_url_seeder.py:1284-1378): static-asset extensions, API/feed
    endpoints, tracker junk.

    Known divergences from the reference's exact rule set (documented,
    not hidden): this filter drops media/feed/code extensions that the
    reference has commented OUT (:1315-1352), and does not yet carry
    the reference's active hidden-dot-path / '/admin' / '/login' /
    '/search' / utility-file / 'sitemap*.xml' / very-short-path checks
    — the junk classes it does drop are the high-volume ones in
    practice. Tightening to byte-exact parity means porting ~15 more
    predicates and their precedence; tracked as a follow-up."""
    u = F.lower(F.col(url_col))
    # try_parse_url: under Spark 4's default ANSI mode plain parse_url
    # THROWS on a malformed URL (a space, a bad %-escape) and aborts
    # the whole seed job; NULL-for-invalid is the filter semantics
    path = F.coalesce(F.try_parse_url(F.col(url_col), F.lit("PATH")),
                      F.lit(""))
    ext = F.lower(F.regexp_extract(path, r"\.([A-Za-z0-9]+)$", 1))
    pred = ~ext.isin(_NONSENSE_EXT)
    for pat in _NONSENSE_PATTERNS:
        pred = pred & ~u.rlike(pat)
    return urls.where(pred)


def match_url_patterns(urls: DataFrame, pattern: str, url_col: str = "url") -> DataFrame:
    """fnmatch glob on the url, its schemeless canonical form, and the
    www-stripped canonical form (async_url_seeder.py:81-86 `_match`)
    — first match wins.

    fnmatch.fnmatch is a FULL match, but fnmatch.translate anchors
    only the tail (`\\Z`) and Spark's rlike uses find() semantics, so
    the regex needs an explicit '^' or every glob silently behaves as
    if prefixed with '*' (matching mid-string)."""
    rx = "^" + fnmatch.translate(pattern)
    u = F.col(url_col)
    # url.split('://', 1)[-1]
    canon = F.regexp_replace(u, r"^.*?://", "")
    www = canon.startswith("www.")
    nowww = F.substring(canon, 5, 1 << 30)
    return urls.where(
        u.rlike(rx) | canon.rlike(rx) | (www & nowww.rlike(rx))
    )


def seed_pipeline(
    urls: DataFrame,
    url_col: str = "url",
    pattern: str | None = None,
    query_terms: list[str] | None = None,
    head_text_col: str | None = None,
    max_urls: int | None = None,
) -> DataFrame:
    """The seeder's full filter→score→cap pipeline as one declarative
    plan: nonsense filter, glob match, distinct, optional BM25 scoring
    on head text, relevance sort + cap (ORDER BY score DESC LIMIT n —
    a TakeOrdered, not a global sort)."""
    out = drop_nonsense_urls(urls, url_col)
    if pattern:
        out = match_url_patterns(out, pattern, url_col)
    extra = [c for c in out.columns if c != url_col]
    if extra:
        # deterministic survivor per URL (dropDuplicates keeps
        # whichever row a partition surfaces first — the BM25 score
        # and the relevance cap below would vary run to run)
        from pyspark.sql import Window

        w = Window.partitionBy(url_col).orderBy(
            *[F.col(c).cast("string").asc_nulls_first() for c in extra])
        out = (out.withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") == 1).drop("__rn"))
    else:
        out = out.dropDuplicates([url_col])
    if query_terms and head_text_col:
        from crawl4ai_spark.ops.bm25 import bm25_scores

        scored = bm25_scores(
            out.select(F.col(url_col), F.col(head_text_col).alias("text")),
            query_terms, text_col="text", id_col=url_col,
        )
        out = out.join(scored.withColumnRenamed("bm25", "relevance_score"), url_col)
        out = out.orderBy(F.col("relevance_score").desc(), F.col(url_col).asc())
    if max_urls is not None and max_urls > 0:
        out = out.limit(max_urls)
    return out
