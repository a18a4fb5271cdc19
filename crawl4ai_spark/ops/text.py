"""Text-analysis operators over document tables.

Everything here is pure Catalyst column algebra (whole-stage codegen,
no Python in the hot path): language-ID (stopword-marker heuristic),
quality scoring (length / stopword / uniqueness ratios), token
counting, document fingerprinting (content hash + min-shingle hash),
and the chunking strategies of the reference
(/root/reference/crawl4ai/chunking_strategy.py:28-256 — fixed-length
word chunks and sliding windows re-expressed as higher-order array
functions + posexplode instead of per-doc Python loops).

Portability note: the 64-bit hash used throughout is
``conv(substr(md5(x),1,15),16,10)`` — 60 bits of md5, reproducible
bit-for-bit in any engine with md5 (DuckDB, Trino, ...), unlike
engine-private hashes (xxhash64 seeds differ per engine). At scale the
cost vs xxhash64 is irrelevant next to the shuffle; where parity does
not matter (the seen-set filter) the engine uses native xxhash64.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deterministic, tiny, broadcast-free (inlined literals).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "y", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("de5", "shi4", "le5", "he2", "zai4"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in", "on", "for", "with")


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def hash64(col, seed: int | str | None = None) -> Column:
    """Cross-engine 60-bit hash: conv(substr(md5(x),1,15),16,10)."""
    c = _c(col)
    if seed is not None:
        c = F.concat(F.lit(f"{seed}:"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def tokens(col) -> Column:
    """Whitespace tokenization (single-space corpora; BPE-ish regex
    variant below for messy text)."""
    return F.split(_c(col), " ")


def bpe_ish_tokens(col) -> Column:
    """Regex sub-word-ish tokenization: letter runs, digit runs, and
    single punctuation marks each become tokens (a cheap stand-in for
    BPE pre-tokenization)."""
    return F.expr(
        f"regexp_extract_all({_sql(col)}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]', 0)"
    )


def _sql(col) -> str:
    # column name passthrough for expr-based builders
    return col if isinstance(col, str) else col._jc.toString()


def token_count(col) -> Column:
    return F.size(tokens(col))


def unique_token_count(col) -> Column:
    return F.size(F.array_distinct(tokens(col)))


def quality_score(col, stopwords: tuple[str, ...] = STOPWORDS) -> Column:
    """Composite document quality in [0,1]:
       0.4 * min(1, n_tokens/100)            (enough content)
     + 0.3 * unique/total tokens             (not boilerplate/repetition)
     + 0.3 * min(1, 5 * stopword_ratio)      (natural-language-ness)
    Mirrors the reference's SEO/quality scoring style (pure arithmetic,
    deep_crawling/filters.py:576-687) applied to body text."""
    toks = tokens(col)
    n = F.size(toks).cast("double")
    uniq = F.size(F.array_distinct(toks)).cast("double")
    stop = F.size(F.filter(toks, lambda t: t.isin(*stopwords))).cast("double")
    score = (
        0.4 * F.least(F.lit(1.0), n / 100.0)
        + 0.3 * F.when(n > 0, uniq / n).otherwise(0.0)
        + 0.3 * F.least(F.lit(1.0), 5.0 * F.when(n > 0, stop / n).otherwise(0.0))
    )
    return F.round(score, 6)


def lang_id(col, markers: dict[str, tuple[str, ...]] | None = None) -> Column:
    """Stopword-marker language ID: argmax of marker hits per language,
    ties broken alphabetically, zero hits -> 'und'."""
    markers = markers or LANG_MARKERS
    toks = tokens(col)
    best_lang = F.lit("und")
    best_hits = F.lit(0)
    for lang in sorted(markers):  # alphabetical scan; strict > keeps first
        hits = F.size(F.filter(toks, lambda t: t.isin(*markers[lang])))
        is_better = hits > best_hits
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_hits = F.when(is_better, hits).otherwise(best_hits)
    return best_lang


def word_ngrams(col, n: int) -> Column:
    """Word n-gram shingles as strings ('a b c' for n=3). Docs shorter
    than n yield one (short) shingle — guards Spark's descending
    sequence(1,0) edge and keeps every doc fingerprintable.

    The token array is LET-BOUND via a single-element transform before
    the sliding window: a higher-order function re-evaluates captured
    child expressions per element, so the naive form (slice(split(text),
    i, n) inside the lambda) re-splits the document once per output
    shingle — O(L^2) characters per doc, ruinous on 10k-token documents
    at corpus scale. Binding the array as a lambda variable evaluates
    the split exactly once per row: O(L*n)."""
    return F.flatten(F.transform(F.array(tokens(col)), lambda t: F.transform(
        F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(t) - (n - 1))),
        lambda i: F.concat_ws(" ", F.slice(t, i, n)),
    )))


def content_fingerprint(col) -> Column:
    """Whole-document content hash (the reference's xxh64 content hash,
    utils.py:2701-2703, in the cross-engine hash family)."""
    return hash64(col)


def shingle_fingerprint(col, n: int = 3) -> Column:
    """Min-hash of word n-gram shingles: a 1-permutation MinHash, i.e.
    a rolling-window document fingerprint robust to local edits."""
    return F.array_min(F.transform(word_ngrams(col, n), lambda s: hash64(s)))


# -- chunking (chunking_strategy.py:28-256) ---------------------------------

def _ws_tokens(col) -> Column:
    """Whitespace tokenization with empty-drop — Python's str.split()
    with no argument, which is what every reference chunking strategy
    calls (chunking_strategy.py:158,187,232). Distinct from tokens():
    the single-space form is the cross-engine oracle contract for the
    n-gram/dedup ops over the single-spaced synthetic corpora; the
    chunkers must match the reference on ARBITRARY whitespace."""
    return F.filter(F.split(_c(col), r"\s+"), lambda x: x != "")


def chunk_fixed_words(df: DataFrame, text_col: str, chunk_size: int,
                      out_col: str = "chunk") -> DataFrame:
    """FixedLengthWordChunking: consecutive chunk_size-word chunks.
    posexplode keeps the chunk index (chunk_id) for downstream order.
    Token array let-bound (see word_ngrams) — split once per doc, not
    once per chunk."""
    def _chunks(t):
        starts = F.sequence(
            F.lit(1), F.greatest(F.lit(1), F.size(t)), F.lit(chunk_size)
        )
        return F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(t, i, chunk_size)))

    chunks = F.flatten(F.transform(F.array(_ws_tokens(text_col)), _chunks))
    return df.select(
        "*", F.posexplode(chunks).alias("chunk_id", out_col)
    )


def chunk_sliding_window(df: DataFrame, text_col: str, window: int, step: int,
                         out_col: str = "chunk") -> DataFrame:
    """SlidingWindowChunking: window-size word chunks every `step` words
    (chunking_strategy.py:175-214), reference-exact: short docs return
    the ORIGINAL text; the main loop is range(0, n-window+1, step); and
    when the last start doesn't reach the end, the final words[-window:]
    chunk is appended (the reference's tail fix-up). Token array
    let-bound (see word_ngrams) — split once per doc, not per window."""
    def _chunks(t):
        n = F.size(t)
        last0 = F.floor((n - window).cast("double") / step).cast("int") * step
        starts = F.sequence(F.lit(1), last0 + 1, F.lit(step))
        main = F.transform(
            starts, lambda i: F.concat_ws(" ", F.slice(t, i, window)))
        tail = F.when(last0 + window < n,
                      F.array(F.concat_ws(" ", F.slice(t, n - window + 1,
                                                       window)))
                      ).otherwise(F.array().cast("array<string>"))
        return F.when(n <= window, F.array(_c(text_col))) \
                .otherwise(F.concat(main, tail))

    chunks = F.flatten(F.transform(F.array(_ws_tokens(text_col)), _chunks))
    return df.select("*", F.posexplode(chunks).alias("chunk_id", out_col))


def chunk_regex(df: DataFrame, text_col: str, patterns: list[str] | None = None,
                out_col: str = "chunk") -> DataFrame:
    """RegexChunking (chunking_strategy.py:38-62): sequential re.split
    by each pattern (default paragraph split '\\n\\n'), empties kept —
    exactly the reference's nested split loop, as array HOFs."""
    patterns = patterns or [r"\n\n"]
    parts = F.split(_c(text_col), patterns[0], -1)
    for p in patterns[1:]:
        parts = F.flatten(F.transform(parts, lambda x: F.split(x, p, -1)))
    return df.select("*", F.posexplode(parts).alias("chunk_id", out_col))


def chunk_sentences(df: DataFrame, text_col: str,
                    out_col: str = "sentence") -> DataFrame:
    """NlpSentenceChunking (chunking_strategy.py:65-91): sentence split +
    strip + SET semantics (the reference returns list(set(sens)), so
    order is not part of the contract — we emit distinct sentences).
    The nltk punkt model is replaced by the boundary regex the reference
    itself ships as the no-nltk fallback (chunking_strategy.py:79-82)."""
    sents = F.split(_c(text_col), r"(?<=[.!?])\s+", -1)
    sents = F.array_distinct(
        F.filter(F.transform(sents, F.trim), lambda s: s != "")
    )
    return df.select("*", F.explode(sents).alias(out_col))


def chunk_overlapping(df: DataFrame, text_col: str, window: int = 1000,
                      overlap: int = 100, out_col: str = "chunk") -> DataFrame:
    """OverlappingWindowChunking (chunking_strategy.py:215-256): windows
    of `window` words advancing by window-overlap; short docs yield the
    original text unchanged; the final window is the first one whose end
    reaches the last word (the while-loop break)."""
    step = window - overlap

    def _chunks(t):
        n = F.size(t)
        # last start k*step is the smallest with start+window >= n
        last_k = F.ceil((n - window).cast("double") / step).cast("int")
        starts = F.sequence(F.lit(1), last_k * step + 1, F.lit(step))
        return F.when(
            n <= window, F.array(_c(text_col))
        ).otherwise(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(t, i, window)))
        )

    # token array let-bound (see word_ngrams): split once per doc
    chunks = F.flatten(F.transform(F.array(_ws_tokens(text_col)), _chunks))
    return df.select("*", F.posexplode(chunks).alias("chunk_id", out_col))


def merge_chunks_tokens(df: DataFrame, text_col: str, target_size: int,
                        order_col: str = "doc_id",
                        out_col: str = "chunk") -> DataFrame:
    """Token-bounded merge of many docs into ~target_size-token chunks
    (utils.py:161-223 merge_chunks, overlap=0, ratio=1): tokens are laid
    out in doc order and chunk k takes global token indexes
    [k*target, (k+1)*target), the last chunk absorbing the remainder —
    bit-identical to the reference's sequential distribution loop.

    Scale note: the doc-offset prefix sum is a window over one row PER
    DOC (8-byte counts, not tokens); at 10^9+ docs replace it with a
    bucketed two-stage prefix sum. Token rows shuffle once, grouped by
    their target chunk."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(order_col), _ws_tokens(text_col).alias("__toks")
    ).withColumn("__cnt", F.size("__toks")).where(F.col("__cnt") > 0)
    w = Window.orderBy(order_col).rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    toks = toks.withColumn("__off", F.coalesce(F.sum("__cnt").over(w), F.lit(0))) \
               .withColumn("__total", F.sum("__cnt").over(wall))
    n_chunks = F.greatest(
        F.lit(1), F.ceil(F.col("__total").cast("double") / target_size).cast("long")
    )
    tok = toks.select(
        "__off", n_chunks.alias("__nc"),
        F.posexplode("__toks").alias("__pos", "__tok"),
    ).select(
        (F.col("__off") + F.col("__pos")).alias("__gidx"),
        F.least(
            F.floor((F.col("__off") + F.col("__pos")) / target_size),
            F.col("__nc") - 1,
        ).alias("chunk_id"),
        "__tok",
    )
    return (
        tok.groupBy("chunk_id")
        .agg(F.array_sort(F.collect_list(F.struct("__gidx", "__tok"))).alias("a"))
        .select(
            "chunk_id",
            F.concat_ws(" ", F.transform("a", lambda s: s["__tok"])).alias(out_col),
        )
    )


def chunk_topics(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", w: int = 10, k: int = 2,
                 num_keywords: int = 3,
                 out_col: str = "chunk") -> DataFrame:
    """TopicSegmentationChunking (chunking_strategy.py:93-140) without
    nltk: a TextTiling-style block scorer (Hearst 1997, the algorithm
    behind nltk's TextTilingTokenizer) re-derived relationally.

      1. lowercase whitespace tokens; pseudo-sentence blocks of ``w``
      2. gap g (between blocks g-1 and g, g=1..B-1): similarity =
         Jaccard of the DISTINCT token sets of the k blocks left of g
         vs the k blocks right of g (windows clamped at doc edges)
      3. depth(g) = max(0, sim(g-1)-sim(g)) + max(0, sim(g+1)-sim(g))
         — the valley depth (a one-step form of Hearst's plateau climb
         that keeps the score a pure window expression)
      4. boundaries at INTERIOR LOCAL MINIMA (both neighbours exist and
         sim(g) <= both — without this the shoulders flanking a deep
         valley also score "deep" and over-segment) whose depth exceeds
         Hearst's LC cutoff mean(depth) - stddev_pop(depth)/2, and > 0
      5. chunks = maximal runs of blocks between boundaries, text
         re-joined in token order; ``keywords`` = the num_keywords most
         frequent tokens per chunk, ties broken alphabetically — the
         reference's Counter.most_common(num_keywords) with a
         DETERMINISTIC tie-break (its own extract_keywords is broken
         upstream: `nl.toknize` typo, chunking_strategy.py:121, so
         stopword filtering is unreachable there)

    Scale shape: every stage is keyed by doc or (doc, gap) — token
    explode, distinct, two bounded gap-explodes (each block row fans to
    at most k gaps per side), doc-partitioned windows, and doc-keyed
    rollups. Nothing joins tokens across documents; a 10^9-doc corpus
    segments embarrassingly parallel after the one doc-keyed exchange.
    """
    id_ = F.col(id_col)
    base = df.select(
        id_, F.posexplode(tokens(F.lower(_c(text_col)))).alias("p", "tok")
    ).where(F.col("tok") != "")
    blocks = base.withColumn("b", (F.col("p") / w).cast("long"))
    wdoc = Window.partitionBy(id_col)
    # NB: named "bn", not "B" — Spark's resolver is case-insensitive by
    # default, so a "B" column would silently shadow "b"
    blocks = blocks.withColumn("bn", F.max("b").over(wdoc) + 1)
    bt = blocks.select(id_col, "b", "bn", "tok").distinct()

    def seq(lo, hi):
        # Spark's sequence(a, b) DESCENDS when a > b — guard to empty
        return F.when(hi >= lo, F.sequence(lo, hi)) \
                .otherwise(F.array().cast("array<bigint>"))

    left = bt.select(
        id_, F.col("tok"),
        F.explode(seq(F.col("b") + 1,
                      F.least(F.col("b") + k, F.col("bn") - 1))).alias("g"),
        F.lit(1).alias("l"), F.lit(0).alias("r"),
    )
    right = bt.select(
        id_, F.col("tok"),
        F.explode(seq(F.greatest(F.col("b") - k + 1, F.lit(1)),
                      F.col("b"))).alias("g"),
        F.lit(0).alias("l"), F.lit(1).alias("r"),
    )
    per_tok = (left.unionByName(right)
               .groupBy(id_col, "g", "tok")
               .agg(F.max("l").alias("l"), F.max("r").alias("r")))
    sims = (per_tok.groupBy(id_col, "g")
            .agg((F.sum(F.col("l") * F.col("r")) /
                  F.count(F.lit(1))).alias("sim")))
    wg = Window.partitionBy(id_col).orderBy("g")
    depth = (
        F.greatest(F.lit(0.0),
                   F.coalesce(F.lag("sim").over(wg) - F.col("sim"), F.lit(0.0)))
        + F.greatest(F.lit(0.0),
                     F.coalesce(F.lead("sim").over(wg) - F.col("sim"), F.lit(0.0)))
    )
    d = (sims.withColumn("sim_l", F.lag("sim").over(wg))
         .withColumn("sim_r", F.lead("sim").over(wg))
         .withColumn("depth", depth)
         .withColumn(
             "cut",
             F.avg("depth").over(wdoc) - F.stddev_pop("depth").over(wdoc) / 2,
         ))
    bounds = d.where(
        F.col("sim_l").isNotNull() & F.col("sim_r").isNotNull()
        & (F.col("sim") <= F.col("sim_l")) & (F.col("sim") <= F.col("sim_r"))
        & (F.round(F.col("depth"), 9) > F.round(F.col("cut"), 9))
        & (F.col("depth") > 0)
    ).select(id_, F.col("g").alias("bg"))

    blk = (blocks.select(id_col, "b").distinct()
           .join(bounds, id_col, "left")
           .groupBy(id_col, "b")
           .agg(F.sum(F.when(F.col("bg") <= F.col("b"), 1).otherwise(0))
                .cast("int").alias("chunk_id")))
    assigned = blocks.select(id_col, "b", "p", "tok").join(blk, [id_col, "b"])
    chunk_txt = assigned.groupBy(id_col, "chunk_id").agg(
        F.concat_ws(" ", F.transform(
            F.array_sort(F.collect_list(F.struct("p", "tok"))),
            lambda s: s["tok"])).alias(out_col),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.countDistinct("b").cast("long").alias("n_blocks"),
    )
    wk = Window.partitionBy(id_col, "chunk_id").orderBy(
        F.col("cnt").desc(), F.col("tok").asc())
    kws = (assigned.groupBy(id_col, "chunk_id", "tok")
           .agg(F.count(F.lit(1)).alias("cnt"))
           .withColumn("rn", F.row_number().over(wk))
           .where(F.col("rn") <= num_keywords)
           .groupBy(id_col, "chunk_id")
           .agg(F.concat_ws(",", F.transform(
               F.array_sort(F.collect_list(F.struct("rn", "tok"))),
               lambda s: s["tok"])).alias("keywords")))
    return chunk_txt.join(kws, [id_col, "chunk_id"])


# -- RegexExtractionStrategy built-in catalog --------------------------------
# The reference's 21 named patterns (extraction_strategy.py:1784-1810
# DEFAULT_PATTERNS), compiled there with IGNORECASE|MULTILINE; none use
# ^/$ so (?i) carries the full flag semantics cross-engine.
REGEX_CATALOG: dict[str, str] = {
    "email":          r"[\w.+-]+@[\w-]+\.[\w.-]+",
    "phone_intl":     r"\+?\d[\d .()-]{7,}\d",
    "phone_us":       r"\(?\d{3}\)?[ -. ]?\d{3}[ -. ]?\d{4}",
    "url":            r"https?://[^\s\"'<>]+",
    "ipv4":           r"(?:\d{1,3}\.){3}\d{1,3}",
    "ipv6":           r"[A-F0-9]{1,4}(?::[A-F0-9]{1,4}){7}",
    "uuid":           r"[0-9a-f]{8}-[0-9a-f]{4}-[1-5][0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}",
    "currency":       r"(?:USD|EUR|RM|\$|€|£)\s?\d+(?:[.,]\d{2})?",
    "percentage":     r"\d+(?:\.\d+)?%",
    "number":         r"\b\d{1,3}(?:[,.\s]\d{3})*(?:\.\d+)?\b",
    "date_iso":       r"\d{4}-\d{2}-\d{2}",
    "date_us":        r"\d{1,2}/\d{1,2}/\d{2,4}",
    "time_24h":       r"\b(?:[01]?\d|2[0-3]):[0-5]\d(?:[:.][0-5]\d)?\b",
    "postal_us":      r"\b\d{5}(?:-\d{4})?\b",
    "postal_uk":      r"\b[A-Z]{1,2}\d[A-Z\d]? ?\d[A-Z]{2}\b",
    "html_color_hex": r"#[0-9A-Fa-f]{6}\b",
    "twitter_handle": r"@[\w]{1,15}",
    "hashtag":        r"#[\w-]+",
    "mac_addr":       r"(?:[0-9A-Fa-f]{2}:){5}[0-9A-Fa-f]{2}",
    "iban":           r"[A-Z]{2}\d{2}[A-Z0-9]{11,30}",
    "credit_card":    r"\b(?:4\d{12}(?:\d{3})?|5[1-5]\d{14}|3[47]\d{13}|6(?:011|5\d{2})\d{12})\b",
}


def regex_extract_catalog(df: DataFrame, text_col: str,
                          labels: list[str] | None = None,
                          custom: dict[str, str] | None = None) -> DataFrame:
    """RegexExtractionStrategy with built-in pattern selection
    (extraction_strategy.py:1726-1752 IntFlag filter + custom merge):
    one per-match row (doc_id, label, value), all patterns evaluated in
    a single codegen'd pass — no Python, no per-pattern scans."""
    merged = {l: REGEX_CATALOG[l] for l in (labels or REGEX_CATALOG)}
    merged.update(custom or {})
    per_label = F.array(*[
        F.struct(
            F.lit(label).alias("label"),
            F.regexp_extract_all(
                F.col(text_col), F.lit("(?i)" + pat), F.lit(0)
            ).alias("vals"),
        )
        for label, pat in merged.items()
    ])
    return (
        df.select("doc_id", F.explode(per_label).alias("m"))
        .select("doc_id", F.col("m.label").alias("label"),
                F.explode("m.vals").alias("value"))
    )


def regex_extract_tokens(df: DataFrame, text_col: str, pattern: str,
                         label: str) -> DataFrame:
    """RegexExtractionStrategy (extraction_strategy.py:1706-1865) as
    native regexp_extract_all + aggregation: (doc, label, value, n)."""
    return (
        df.select(
            F.col("doc_id"),
            # pattern as a literal Column — no SQL-string interpolation,
            # so quotes/backslashes in patterns need no caller escaping
            F.explode(
                F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
            ).alias("value"),
        )
        .groupBy("doc_id", "value")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("label", F.lit(label))
    )


def spread_input(df: DataFrame, key, min_headroom: int = 2) -> DataFrame:
    """Width guard for per-row-heavy stages (shingle/gram explode +
    per-element hashing, per-vector bucket HOFs).

    Spark sizes scan splits by BYTES, so a compact parquet file —
    kilobytes for thousands of docs — scans as ONE partition, and the
    whole pre-exchange pipeline after it runs in one task (the same
    pathology the crawl round fixes with repartition(n, url_hash),
    engine/frontier.py). Repartition by the key only when the incoming
    plan is at least ``min_headroom``x narrower than the session's
    parallelism; at real corpus scale the scan is already wide and this
    adds NO exchange. REPARTITION_BY_NUM is never AQE-coalesced, so the
    width sticks.
    """
    try:
        parts = df.rdd.getNumPartitions()
        target = df.sparkSession.sparkContext.defaultParallelism
    except Exception:
        return df
    if parts * min_headroom <= target:
        return df.repartition(target, _c(key))
    return df
