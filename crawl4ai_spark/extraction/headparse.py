"""Partial-<head> parse + seed enrichment.

Re-expresses the reference's head-fetch/parse path
(/root/reference/crawl4ai/async_url_seeder.py:89-159 _parse_head,
:1032-1141 _fetch_head): the seeder fetches only the first bytes of a
page up to ``</head>``, parses title / charset / meta / link / JSON-LD /
lang out of it, and enriches candidate URL rows with that head data.

Spark-first shape: ``head_slice`` is pure column algebra (locate
``</head>`` case-insensitively, else the reference's 10 KB fallback);
the structured parse is one Arrow-batched mapInPandas over the sliced
head (stdlib DOM — no lxml in this container), and enrichment is a plain
join on url. Head slices are ~KBs, so the parse stage moves orders of
magnitude fewer bytes than full-page extraction.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crawl4ai_spark.extraction.jsoncss import parse_dom

# _fetch_head truncation constants (async_url_seeder.py:1037,1117)
NO_HEAD_FALLBACK_BYTES = 10_240


def head_slice(html_col, fallback_bytes: int = NO_HEAD_FALLBACK_BYTES):
    """Column: html -> the head slice the reference would have fetched:
    everything through the first case-insensitive '</head>', else the
    first 10 KB (async_url_seeder.py:1110-1118)."""
    c = F.col(html_col) if isinstance(html_col, str) else html_col
    idx = F.locate("</head>", F.lower(c))  # 1-based, 0 when absent
    return F.when(idx > 0, F.substring(c, 1, idx + 6)).otherwise(
        F.substring(c, 1, fallback_bytes)
    )


def parse_head(src: str) -> dict:
    """_parse_head (async_url_seeder.py:89-134) on the stdlib DOM:
    title, charset, meta name/property/http-equiv map, link rel map
    (href/as/type/hreflang entries per rel token), JSON-LD payloads
    (raw strings, only valid JSON kept), html lang."""
    root = parse_dom(src or "")
    info = {"title": None, "charset": None, "meta": {}, "link": {},
            "jsonld": [], "lang": ""}
    for n in root.iter():
        if n.tag == "title" and info["title"] is None:
            info["title"] = n.text().strip() or ""
        elif n.tag == "meta":
            k = n.attrs.get("name") or n.attrs.get("property") \
                or n.attrs.get("http-equiv")
            if k:
                info["meta"][k.lower()] = n.attrs.get("content", "") or ""
            elif "charset" in n.attrs:
                info["charset"] = (n.attrs["charset"] or "").lower()
        elif n.tag == "link":
            rel_attr = n.attrs.get("rel") or ""
            if not rel_attr:
                continue
            entry = {a: n.attrs[a] for a in ("href", "as", "type", "hreflang")
                     if a in n.attrs and n.attrs[a] is not None}
            for rel in rel_attr.lower().split():
                info["link"].setdefault(rel, []).append(entry)
        elif n.tag == "script" and \
                (n.attrs.get("type") or "").lower() == "application/ld+json":
            txt = "".join(n.texts).strip()
            if txt:
                try:
                    json.loads(txt)
                    info["jsonld"].append(txt)
                except json.JSONDecodeError:
                    pass
        elif n.tag == "html" and not info["lang"]:
            info["lang"] = n.attrs.get("lang", "") or ""
    return info


HEAD_SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("title", T.StringType()),
    T.StructField("charset", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("meta", T.MapType(T.StringType(), T.StringType())),
    T.StructField("link_rel", T.MapType(T.StringType(), T.ArrayType(T.StringType()))),
    T.StructField("jsonld", T.ArrayType(T.StringType())),
])


def parse_heads(df: DataFrame, url_col: str = "url",
                html_col: str = "html") -> DataFrame:
    """(url, html) -> structured head rows. Slices the head JVM-side
    first so the Python stage only sees head bytes. link_rel maps each
    rel token to its href list (the full entry dicts stay available via
    parse_head for callers that need as/type/hreflang)."""
    sliced = df.select(
        F.col(url_col).alias("url"), head_slice(html_col).alias("head")
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in
                    ("url", "title", "charset", "lang", "meta", "link_rel", "jsonld")}
            for url, head in zip(pdf["url"], pdf["head"]):
                info = parse_head(head)
                rows["url"].append(url)
                rows["title"].append(info["title"])
                rows["charset"].append(info["charset"])
                rows["lang"].append(info["lang"])
                rows["meta"].append(info["meta"])
                rows["link_rel"].append({
                    rel: [e.get("href", "") for e in entries]
                    for rel, entries in info["link"].items()
                })
                rows["jsonld"].append(info["jsonld"])
            yield pd.DataFrame(rows)

    return sliced.mapInPandas(run, HEAD_SCHEMA)


# _extract_text_context's field order (async_url_seeder.py:1143-1194)
_CONTEXT_META_KEYS = [
    "description", "keywords", "author", "subject", "summary", "abstract",
    "og:title", "og:description", "og:site_name", "article:tag",
    "twitter:title", "twitter:description", "twitter:image:alt",
    "dc.title", "dc.description", "dc.subject", "dc.creator",
]
_CONTEXT_JSONLD_FIELDS = ["name", "headline", "description", "abstract", "keywords"]


def head_text_context(parsed: DataFrame, out_col: str = "text_context") -> DataFrame:
    """_extract_text_context (async_url_seeder.py:1143-1194) as pure
    column algebra over parse_heads output: title + the priority meta
    keys + common JSON-LD fields, space-joined with nulls skipped
    (@graph traversal omitted — a nested-JSON rarity the reference
    itself only partially walks). This is the text BM25 scores to
    produce each link's contextual relevance_score."""
    parts = [F.col("title")]
    parts += [F.element_at(F.col("meta"), k) for k in _CONTEXT_META_KEYS]
    jl = F.array_join(
        F.flatten(F.transform(
            F.col("jsonld"),
            lambda s: F.filter(
                F.array(*[F.get_json_object(s, f"$.{f}")
                          for f in _CONTEXT_JSONLD_FIELDS]),
                lambda x: x.isNotNull(),
            ),
        )),
        " ",
    )
    ctx = F.concat_ws(" ", *parts, F.when(jl != "", jl))
    return parsed.withColumn(out_col, ctx)


def head_relevance_scores(corpus: DataFrame, query_terms: list[str],
                          url_col: str = "url_norm") -> DataFrame:
    """The contextual relevance pipeline (link_preview.py:310-365 +
    seeder _apply_bm25_scoring): head slice -> parse -> text context ->
    corpus BM25 against the query. Output: (url, relevance) — the
    per-link `contextual_score` joined onto discovered links by target
    URL and combined 0.7/0.3 with the intrinsic score downstream."""
    from crawl4ai_spark.ops.bm25 import bm25_scores

    heads = parse_heads(corpus.select(F.col(url_col).alias("url"), "html"))
    ctx = head_text_context(heads).select(
        F.col("url").alias("doc_id"),
        F.coalesce(F.col("text_context"), F.lit("")).alias("text"),
    )
    return bm25_scores(ctx, query_terms).select(
        F.col("doc_id").alias("url"), F.col("bm25").alias("relevance")
    )
