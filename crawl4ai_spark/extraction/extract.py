"""Distributed page extraction: the engine's one heavy Python stage.

Mirrors the reference's per-page pipeline ``aprocess_html``
(/root/reference/crawl4ai/async_webcrawler.py:433-651) as a single
Arrow-batched ``mapInPandas`` pass: html in, (spans, links, media,
tables, metadata, markdown) out. One Python worker pass per partition;
no per-row Python UDFs, no driver-side loops.

Scale notes: the html column dominates partition size — callers should
repartition the fetch output so partitions stay ~100-200 MB of html
(spark.sql.files.maxPartitionBytes governs the scan side). Catalyst
column-prunes everything downstream: rounds that only need links never
materialize spans for consumers that drop them.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

LINK_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("href", T.StringType()),
            T.StructField("url_norm", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("title", T.StringType()),
            T.StructField("internal", T.BooleanType()),
        ]
    )
)

MEDIA_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("src", T.StringType()),
            T.StructField("alt", T.StringType()),
            T.StructField("desc", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("group_id", T.IntegerType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
)

TABLE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("headers", T.ArrayType(T.StringType())),
            T.StructField("rows", T.ArrayType(T.ArrayType(T.StringType()))),
            T.StructField("caption", T.StringType()),
            T.StructField("summary", T.StringType()),
        ]
    )
)

PAGE_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("spans", SPAN_TYPE),
        T.StructField("markdown", T.StringType()),
        T.StructField("markdown_citations", T.StringType()),
        T.StructField("references_md", T.StringType()),
        T.StructField("links", LINK_TYPE),
        T.StructField("media", MEDIA_TYPE),
        T.StructField("tables", TABLE_TYPE),
        T.StructField("metadata", T.MapType(T.StringType(), T.StringType())),
    ]
)


def _make_extractor(carry: tuple[str, ...]):
    def _extract_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # import inside the worker so the shipped zip resolves it
        from crawl4ai_spark.extraction.citations import (
            convert_links_to_citations,
        )
        from crawl4ai_spark.extraction.html_parser import extract_page
        from crawl4ai_spark.functions.sanitize import sanitize_input_encode

        for pdf in batches:
            out = {k: [] for k in
                   ("url", "spans", "markdown", "markdown_citations",
                    "references_md", "links", "media", "tables", "metadata")}
            for url, html in zip(pdf["url"], pdf["html"]):
                # body sanitization before any parsing, like the
                # reference's aprocess_html entry
                # (async_webcrawler.py:271,341 sanitize_input_encode)
                r = extract_page(url, sanitize_input_encode(html))
                out["url"].append(url)
                out["spans"].append(
                    [(s["kind"], s["text"], s["media_ref"], s["offset"])
                     for s in r["spans"]]
                )
                out["markdown"].append(r["markdown"])
                cited, refs = convert_links_to_citations(r["markdown"], url)
                out["markdown_citations"].append(cited)
                out["references_md"].append(refs)
                out["links"].append(
                    [(l["href"], l["url_norm"], l["text"], l["title"], l["internal"])
                     for l in r["links"]]
                )
                out["media"].append(
                    [(m["src"], m["alt"], m["desc"], m["type"], m["group_id"], m["score"])
                     for m in r["media"]]
                )
                out["tables"].append(
                    [(t["headers"], t["rows"], t["caption"], t["summary"])
                     for t in r["tables"]]
                )
                out["metadata"].append(r["metadata"])
            res = pd.DataFrame(out)
            for c in carry:  # lineage columns ride the Arrow batch, no re-join
                res[c] = pdf[c].values
            yield res

    return _extract_batches


def extract_pages(fetched: DataFrame,
                  keep_cols: list[str] | None = None) -> DataFrame:
    """(url, html, *keep_cols) -> extracted page rows.

    ``keep_cols`` (small lineage columns: depth, parent_url, round, ...)
    are passed through the Arrow batch and echoed back — they are tiny
    next to the html payload and avoiding them would cost a re-join
    shuffle on url.

    A pure transformation with no side channel: a retried or speculative
    task re-runs it harmlessly. Per-partition fetch lineage is a column
    of the committed pages write (engine/frontier.py), not a count taken
    here.
    """
    carry = tuple(keep_cols or ())
    schema = T.StructType(
        PAGE_SCHEMA.fields
        + [f for f in fetched.schema.fields if f.name in carry]
    )
    return fetched.select("url", "html", *carry).mapInPandas(
        _make_extractor(carry), schema
    )
