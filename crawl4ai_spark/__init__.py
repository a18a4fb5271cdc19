"""crawl4ai_spark — a PySpark-native URL-frontier + fetch-scheduler engine.

A from-scratch, Spark-first reimplementation of the query/data-processing
capabilities of the crawl4ai reference (see SURVEY.md). The engine is
batch-iterative: each crawl round is a pure DataFrame -> DataFrame job;
all state (frontier, seen set, pages, host politeness, metrics, lineage)
lives in atomic snapshot tables so a killed job resumes exactly where it
stopped.

Layout:
    functions/   URL canonicalization, scorers, filters (column expressions
                 + vectorized pandas UDFs — never per-row Python UDFs)
    extraction/  HTML -> (cleaned text, links, media, spans) via mapInPandas
    engine/      frontier loop, politeness, robots, cuckoo seen-set shards,
                 checkpoint/resume
    corpus/      deterministic synthetic web corpora (FakeShop-style) and
                 hash-derived link graphs over the driver test tables
    ops/         training-data ops: dedup (exact/minhash/simhash), ANN
                 similarity, text quality/language/tokens, Gopher-style
                 quality gates, benchmark decontamination, PII redaction,
                 link PageRank, mixture sampling, multimodal plumbing
    streaming/   Structured Streaming wrappers for incremental page delivery
"""

__version__ = "0.1.0"
