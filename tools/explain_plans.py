"""Generate PLANS.md: formatted physical plans for the engine's key
operators, with the properties each plan must exhibit at 100 TB scale
(pushed filters, pruned schemas, broadcast joins, no stray shuffles).

Usage: python tools/explain_plans.py  (writes PLANS.md at repo root)
"""

from __future__ import annotations

import contextlib
import io
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF = "/root/testdata/sf0.01"


def fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    out = buf.getvalue()
    # keep it readable: drop exchange ids details beyond 120 lines
    lines = out.splitlines()
    return "\n".join(lines[:120])


def main():
    from pyspark.sql import functions as F

    from crawl4ai_spark.session import build_session

    spark = build_session(master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    sections = []

    # 1. scan pruning + pushdown
    l = spark.read.parquet(f"{SF}/lineitem.parquet")
    q1 = (
        l.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity").alias("sum_qty"))
    )
    sections.append((
        "Aggregation scan: filter pushdown + column pruning",
        "PushedFilters must include the shipdate <=; ReadSchema must list only "
        "the 4 referenced columns (of 11); partial HashAggregate before the "
        "exchange (map-side combine).",
        fmt(q1),
    ))

    # 2. politeness window (salted two-stage + winners join)
    from crawl4ai_spark.corpus.webgen import N_HOSTS, url_expr
    from crawl4ai_spark.engine.politeness import select_fetch_batch

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    i = F.col("doc_id").cast("long")
    frontier = docs.select(
        url_expr(i).alias("url_norm"),
        F.format_string("site%d.example.com", F.pmod(i, F.lit(N_HOSTS))).alias("host"),
        F.pmod(i, F.lit(4)).cast("int").alias("depth"),
        (F.pmod(i * 37, F.lit(100)).cast("double") / 10.0).alias("priority"),
        F.lit(0).alias("retry_count"), F.lit(0).alias("wait_rounds"),
        F.pmod(i, F.lit(8)).cast("int").alias("salt"),
    )
    marked = select_fetch_batch(frontier, None, base_budget=3)
    sections.append((
        "Politeness window: budget-fit bypass + salted two-stage top-k + winners join",
        "A count aggregation first finds hosts whose frontier presence "
        "exceeds their budget; rows of all other hosts (the long tail at "
        "scale) are selected WITHOUT any sort. Only the contended hosts "
        "reach the two Window nodes — the first partitioned by (host, "
        "salt) so a hub host never lands in one task, the second by host "
        "over at most budget*n_salts survivors; the winners set joins "
        "back so deferred rows are retained (no data loss). AQE may "
        "broadcast the winners and the over-budget host list.",
        fmt(marked),
    ))

    # 3. broadcast dim join (robots gate)
    from crawl4ai_spark.engine.robots import apply_robots_gate

    robots = spark.createDataFrame(
        [("site3.example.com", ["/page/12"], ["/page/1"])],
        "host string, allow array<string>, disallow array<string>",
    )
    fr = frontier.withColumn(
        "path", F.regexp_extract("url_norm", "https://[^/]+(/.*)$", 1)
    )
    sections.append((
        "Robots gate: broadcast dimension join",
        "BroadcastHashJoin / BroadcastExchange on the robots dim — the rules "
        "table ships to executors; no shuffle of the frontier.",
        fmt(apply_robots_gate(fr, robots)),
    ))

    # 4. seen dedup as CrawlEngine._discover builds it once the seen
    # filter is engaged: a parquet seen table of rounds 0-2 whose
    # filter has synced rounds 0-1, the keys-only probe, one left join
    # that keeps the seen rows of maybe-seen keys plus the unsynced
    # round, and the one exact anti-join
    from crawl4ai_spark.engine.cuckoo import CuckooSeenSet
    from crawl4ai_spark.engine.tables import Warehouse

    wh = Warehouse(tempfile.mkdtemp(prefix="c4as_plans_"))
    seen_path = os.path.join(wh.root, "seen_rows")
    frontier.where(F.pmod(F.hash("url_norm"), F.lit(2)) == 0).select(
        F.xxhash64("url_norm").alias("url_hash"),
        F.pmod(F.hash("url_norm", F.lit(1)), F.lit(3)).alias("round"),
    ).write.parquet(seen_path)
    seen = spark.read.parquet(seen_path)
    synced = 1
    bloom = CuckooSeenSet(wh.table("seen_cuckoo"), n_shards=4)
    bloom.build(spark, seen.where(F.col("round") <= synced),
                newest_round=synced)

    def engaged_dedup():
        cands = frontier.select(F.xxhash64("url_norm").alias("url_hash"),
                                "url_norm")
        maybe = bloom.probe(spark, cands).where("maybe_seen")
        seen_keys = (
            seen.select("url_hash", "round")
            .join(maybe, "url_hash", "left")
            .where(F.col("maybe_seen") | (F.col("round") > synced))
            .select("url_hash")
        )
        return cands.join(seen_keys, "url_hash", "left_anti")

    plans = []
    for aqe in ("true", "false"):
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        dedup = engaged_dedup()
        dedup.collect()  # with AQE on, the plan shown is then the final one
        plans.append(f"-- spark.sql.adaptive.enabled={aqe}\n" + fmt(dedup))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    sections.append((
        "Seen-set exact anti-join (filter engaged)",
        "One LeftAnti join of the candidates against a narrowed seen "
        "side. The probe is a FlatMapCoGroupsInPandas whose candidate "
        "input is the url_hash column alone (plus its shard id); the "
        "shard blobs are the other cogroup side. The seen side is one "
        "scan of the seen table, left-joined to the maybe-seen keys and "
        "filtered to `maybe_seen OR round > synced`; the maybe-seen keys "
        "are broadcast into that left join. With AQE on (rounds of at "
        "least AQE_SMALL_ROUND_ROWS frontier rows) the initial anti-join "
        "is a SortMergeJoin, because the static size of a left join over "
        "the cogroup output is estimated as a product of its inputs; once "
        "the shuffles have run, AQE sees the narrowed seen side's real "
        "size and turns the anti-join into a broadcast. With AQE off (the "
        "engine's smaller rounds) it stays a SortMergeJoin: the candidates "
        "and the narrowed seen side both shuffle on url_hash.",
        "\n\n".join(plans),
    ))

    # 5. cosine top-k: broadcast + partial TakeOrdered
    from crawl4ai_spark.ops.similarity import cosine_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    sections.append((
        "Similarity search: broadcast query set + per-query window",
        "Queries broadcast (BroadcastNestedLoopJoin); corpus never shuffles "
        "for scoring; the only exchange is the per-q_id window for top-k.",
        fmt(cosine_topk(emb, q, k=5)),
    ))

    # 6. minhash LSH band join
    from crawl4ai_spark.ops.dedup import lsh_candidate_pairs

    d = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("doc_id"), "text")
    sections.append((
        "MinHash LSH: band-bucket equijoin instead of O(n^2)",
        "Signatures built by ONE groupBy with 8 vectorized min-aggs "
        "(map-side partial combine), then a self-equijoin on (band, key) — "
        "only same-bucket candidates shuffle; document text never joins.",
        fmt(lsh_candidate_pairs(d, num_hashes=8, bands=4, shingle_n=2)),
    ))

    # 7. incremental adaptive-state maintenance (O(delta), not O(corpus))
    from crawl4ai_spark.engine.adaptive_state import AdaptiveState
    from crawl4ai_spark.ops.text import tokens as _tokens

    st = AdaptiveState(wh)
    base = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.xxhash64("text").alias("url_hash"), "text",
        F.lit(0).alias("round"),
    ).limit(200)
    st.update(spark, base)  # seed the state tables
    delta = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.xxhash64("doc_id").alias("url_hash"), "text",
        F.lit(1).alias("round"),
    ).limit(50)
    # the term-merge plan the per-check update executes: delta tokenize +
    # agg, full-outer merge against the STATE table (never the corpus)
    deltag = (
        delta.join(st.t_kb.read(spark), "url_hash", "left_anti")
        .select("doc_id", "round", F.explode(_tokens("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("tf_d"),
             F.countDistinct("doc_id").alias("df_d"),
             F.min("round").alias("r0_d"))
    )
    merged = st.t_terms.read(spark).join(deltag, "term", "full_outer").select(
        "term",
        F.coalesce("first_round", "r0_d").alias("first_round"),
        (F.coalesce("tf", F.lit(0)) + F.coalesce("tf_d", F.lit(0))).alias("tf"),
        (F.coalesce("df", F.lit(0)) + F.coalesce("df_d", F.lit(0))).alias("df"),
    )
    sections.append((
        "Adaptive stop-check: incremental term-state merge (O(window delta))",
        "The confidence check must not grow with crawl size: only the check "
        "window's pages are tokenized (the one Generate/explode feeds from "
        "the small delta scan, anti-joined against the 8-byte-keyed a_kb "
        "table), and the merge is a full-outer join of per-window term "
        "stats against the a_terms STATE table — the pages corpus appears "
        "nowhere in this plan. Coverage/saturation then read a_terms/"
        "a_rounds alone with an isin() pushdown on the query terms.",
        fmt(merged),
    ))

    # 8. IVF ANN: shuffle-free coarse quantizer + broadcast probe
    from crawl4ai_spark.ops.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qset = emb.limit(5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qv")
    )
    sections.append((
        "IVF ANN: shuffle-free coarse quantizer + broadcast probe (round 3)",
        "Cell assignment is a per-row argmin over hash-derived centroids "
        "(no trained codebook to ship, no shuffle); queries explode to their "
        "nprobe nearest cells and BROADCAST, so the corpus-side probe is "
        "map-side — the only exchange is the per-query top-k window.",
        fmt(ivf_topk(emb, qset, id_col="vec_id", vec_col="embedding",
                     q_id_col="q_id", q_vec_col="qv", k=5)),
    ))

    # 9-11. corpus quality trio (round 3)
    from crawl4ai_spark.ops.quality import (
        gopher_signals,
        ngram_contamination,
        redact_pii,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    sections.append((
        "Gopher quality signals: codegen'd window grams, doc-keyed shuffles",
        "Grams formed by lead() on the already-necessary doc-keyed exchange "
        "(the HOF slice/join form drops out of codegen — measured ~10x "
        "slower); partial HashAggregates before every exchange; 2-of-5 "
        "column ReadSchema.",
        fmt(gopher_signals(docs)),
    ))
    bench_docs = docs.where(F.col("doc_id") % 50 == 0)
    corp_docs = docs.where(F.col("doc_id") % 50 != 0)
    sections.append((
        "Benchmark decontamination: broadcast semi-join probe, no cross join",
        "Corpus 8-grams are HOF-formed per row (words never shuffle for "
        "gram formation — only 60-bit hashes move); the benchmark gram set "
        "is distinct + BroadcastExchange, so the probe is a map-side "
        "LeftSemi BroadcastHashJoin; corpus-sized exchanges are the two "
        "doc-keyed rollups only.",
        fmt(ngram_contamination(corp_docs, bench_docs, n=8)),
    ))
    pii_cols = redact_pii(F.col("text"))
    sections.append((
        "PII redaction: single codegen stage, no exchange",
        "3 regexp_replace + 3 regexp_count in ONE WholeStageCodegen "
        "projection over the scan — zero shuffles, zero Python; patterns "
        "restricted to Java-regex/RE2-common syntax so the DuckDB oracle "
        "runs the same automata.",
        fmt(docs.select(
            "doc_id", pii_cols["redacted"].alias("redacted"),
            pii_cols["n_email"].alias("n_email"),
            pii_cols["n_phone"].alias("n_phone"),
            pii_cols["n_ip"].alias("n_ip"),
        )),
    ))

    # 12. integer PageRank: loop-invariant degree join, one shuffle/iter
    from crawl4ai_spark.corpus.webgen import children_expr
    from crawl4ai_spark.ops.graph import pagerank_int

    i = F.col("doc_id").cast("long")
    nodes = docs.select(i.alias("node"))
    edges = docs.select(i.alias("src"),
                        F.explode(children_expr(i, 500)).alias("dst"))
    sections.append((
        "Integer PageRank: loop-invariant degree join, one shuffle per iteration",
        "Out-degrees are joined onto the edge list ONCE before the loop and "
        "the joined relation is persisted (round 4): every iteration reads "
        "the InMemoryTableScan below instead of re-running the degree "
        "aggregation + join, so the k-th iteration no longer pays k copies "
        "of the invariant work. Each of the 2 shown iterations is one "
        "groupBy(dst) exchange over (edges x ranks); BIGINT ranks + integer "
        "division keep the result association-order independent (bit-exact "
        "oracle).",
        fmt(pagerank_int(nodes, edges, n_iter=2)),
    ))

    # 13. adaptive embedding confidence: broadcast queries, zero KB shuffle
    from crawl4ai_spark.ops.adaptive_embedding import (
        best_similarity,
        query_variations,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qv = query_variations(spark, "spark adaptive crawl", dim=64)
    sections.append((
        "Adaptive embedding confidence: broadcast query dim, KB never shuffles",
        "EmbeddingStrategy's k=1 distance-matrix slice (best cosine per "
        "query variation): per-row norms + dots run as codegen'd array "
        "folds over ONE pass of the KB scan with the handful of query "
        "vectors broadcast (BroadcastNestedLoopJoin below), then the "
        "per-query MAX is map-side combined down to n_queries rows — the "
        "partial_max before the single tiny exchange is the property that "
        "holds at 10^10 KB rows. The engine maintains this incrementally "
        "(adaptive_state.update_embedding): each check folds only the new "
        "pages, max-merged with the running per-query best.",
        fmt(best_similarity(emb, qv)),
    ))

    # 14. line-level dedup: two keyed shuffles, no joins
    from crawl4ai_spark.ops.dedup import dedup_lines, duplicate_token_spans

    lined = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.regexp_replace("text", " ", "\n").alias("text"),
    )
    sections.append((
        "Line-level dedup (C4): window on line-hash, reassemble on doc_id",
        "Exactly two keyed exchanges beyond the test-scale scan-width "
        "guard (the REPARTITION_BY_NUM right above the scan, absent at "
        "production widths): the first-occurrence rank "
        "partitions by line-hash (linear in occurrences — a boilerplate "
        "line in 10^6 docs is 10^6 window rows, never a join), the "
        "reassembly groupBy partitions by doc_id with a partial "
        "aggregation. No joins, no collects, no cross products anywhere "
        "in the plan.",
        fmt(dedup_lines(lined)),
    ))

    # 15. duplicate spans: gram-frequency window, per-doc islands
    sections.append((
        "Exact-substring duplicate spans: frequency window, no pair join",
        "The corpus n-gram frequency is a COUNT window partitioned by "
        "gram-hash — the plan must show NO self-join on the gram (the "
        "suffix-array problem stays linear per occurrence); the island "
        "merge and per-doc rollup all partition by doc_id, and AQE "
        "reuses that exchange across the three doc-keyed windows/aggs.",
        fmt(duplicate_token_spans(docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "text"))),
    ))

    # 16. semantic dedup: cell-bounded pair join
    from crawl4ai_spark.ops.similarity import semantic_dedup

    sections.append((
        "Semantic dedup (SemDeDup): shuffle-free cell assignment, cell-equijoin",
        "Cell assignment is a per-row codegen'd expression over the scan "
        "(no k-means training pass, no shuffle); the only join is the "
        "same-cell EQUIJOIN — never a cross product (at this sf AQE "
        "broadcasts the small side, BroadcastHashJoin Inner below; at "
        "corpus scale it becomes a sort-merge join keyed on cell) — and "
        "the per-vector MAX is partially aggregated before its exchange. "
        "With max_cell_df set, hot cells leave the join via a "
        "count-window filter that reuses the same cell-keyed exchange.",
        fmt(semantic_dedup(emb)),
    ))

    # 17. DSIR selection: broadcast weight dim, integer doc sums
    from crawl4ai_spark.ops.dsir import dsir_select

    ddocs = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text", "source")
    sections.append((
        "DSIR selection: B-row weight dim broadcast, exact integer doc sums",
        "The weight dim is n_buckets rows (corpus-independent) built "
        "from exactly TWO corpus passes (one bucket-keyed aggregation "
        "per side); the totals are whole-dim windows over those B rows "
        "— the plan must show no third or fourth corpus scan (an "
        "earlier agg-crossJoin form cost two extra scans, caught by "
        "plan review). The doc side joins the dim via BroadcastHashJoin "
        "and aggregates BIGINT products per doc — partial_sum before "
        "the doc-keyed exchange, association-order-free by construction "
        "(integer arithmetic), so the plan stays correct AND "
        "deterministic at any parallelism.",
        fmt(dsir_select(ddocs, ddocs.where(F.col("source") == "src0"))),
    ))

    # 18. incremental dedup: delta probes a persisted index
    from crawl4ai_spark.ops.dedup import incremental_dedup, minhash_index

    idocs = docs.select(F.col("doc_id").cast("long").alias("doc_id"), "text")
    idx_dir = tempfile.mkdtemp(prefix="c4as_plans_idx_")
    minhash_index(idocs, num_hashes=8, bands=4,
                  shingle_n=2).write.mode("overwrite").parquet(idx_dir)
    sections.append((
        "Incremental dedup: delta-vs-persisted-index, history never reshuffled",
        "The index side enters the plan exactly twice, both as plain "
        "scans: its band-0 slice feeds the exact-stage hash join (one "
        "row per doc, no distinct) and the full band table feeds the "
        "near-stage candidate equijoin on (band, key) — in production "
        "the index is written bucketed on those keys, so both are "
        "bucket-local probes driven by the DELTA's partitioning. "
        "Everything else is delta-sized: the within-batch first-wins "
        "window on content_hash, the survivor banding, the survivor "
        "self-join, and the final max-sim aggregation (the exact-stage "
        "frame is persisted — InMemoryTableScan below — so the delta's "
        "signature build runs once, not per branch). The plan must "
        "show no exchange whose input is the index beyond its scan.",
        fmt(incremental_dedup(
            idocs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"),
            spark.read.parquet(idx_dir),
            num_hashes=8, bands=4, shingle_n=2)),
    ))

    # 18b. incremental dedup over the BUCKETED index: storage-partitioned
    # probes, zero history-side exchange (round 5 — VERDICT r4 #2)
    from crawl4ai_spark.ops.dedup import read_minhash_index, write_minhash_index

    write_minhash_index(
        minhash_index(idocs, num_hashes=8, bands=4, shingle_n=2),
        "c4as_plans_idx", n_buckets=8,
    )
    bands_t, hashes_t = read_minhash_index(spark, "c4as_plans_idx")
    old_bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    inc_bucketed = fmt(incremental_dedup(
        idocs.select((F.col("doc_id") + 1000000).alias("doc_id"), "text"),
        bands_t, hash_index=hashes_t, num_hashes=8, bands=4, shingle_n=2))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_bcast)
    spark.sql("DROP TABLE IF EXISTS c4as_plans_idx_bands")
    spark.sql("DROP TABLE IF EXISTS c4as_plans_idx_hashes")
    sections.append((
        "Incremental dedup over the BUCKETED index: history never exchanges",
        "Same query as above, but the index is materialized by "
        "write_minhash_index: `{name}_hashes` bucketed+sorted on "
        "content_hash feeds the exact-membership probe, `{name}_bands` "
        "bucketed+sorted on (band, key) feeds the candidate equijoin. "
        "Broadcast is disabled here to force the sort-merge shape a "
        "100 TB history actually takes, and the property shows in the "
        "plan: both history-side Scan parquet nodes are `Bucketed: "
        "true` with NO Exchange between scan and join — the only "
        "hashpartitioning exchanges are delta-side (tests/"
        "test_dedup_bucketed.py asserts exactly one shuffle per probe "
        "join and byte-identical results vs the unbucketed path). "
        "Appending a snapshot's survivors keeps the layout: "
        "minhash_index(survivors) written with the same bucketing "
        "APPENDS bucket-aligned files, so compaction — not reshuffle — "
        "is the only maintenance history ever needs.",
        inc_bucketed,
    ))

    # 19. LM perplexity: model dims broadcast, pre-aggregated doc grams
    from crawl4ai_spark.ops.lm import lm_perplexity_filter

    ldocs = docs.select(F.col("doc_id").cast("long").alias("doc_id"),
                        "text", "lang", "source")
    sections.append((
        "LM perplexity filter (CCNet): model-dim joins onto pre-aggregated doc grams",
        "The model is trained in two clean-slice passes (token counts, "
        "bigram counts — both map-side combined; the clean slice's "
        "filter is PUSHED to the scan) and lands in three dims whose "
        "cardinality is model vocabulary, not corpus size. The doc side "
        "is shrunk to (doc x DISTINCT gram) counts BEFORE any model "
        "join — the explode stream never reaches a join — then takes "
        "the two backoff left joins (AQE broadcasts them at this sf; "
        "at 100 TB they are gram-keyed sort-merge joins, still "
        "model-bounded on the build side) and one doc-keyed BIGINT "
        "aggregation. The final ntile window partitions by lang — "
        "CCNet's per-language buckets, ~100 strata in production, "
        "each a doc-keyed row stream (the mixture_sample posture).",
        fmt(lm_perplexity_filter(
            ldocs, ldocs.where(F.col("source") == "src0"))),
    ))

    # 20. PDF page fan-out: one Arrow stage over a binary column
    from crawl4ai_spark.queries import QUERIES

    sections.append((
        "PDF processing: single mapInPandas over BINARY, no shuffle",
        "The whole per-document pipeline (object/stream parse, inflate, "
        "text-operator walk, cleanup passes) is ONE Arrow-batched "
        "python stage; pages fan out as rows inside it. The only "
        "exchange in the plan is the test-scale scan-width guard — at "
        "100 TB the input split is the parallelism and nothing "
        "shuffles, because no cross-document state exists. Blob bytes "
        "never reach a join or aggregate.",
        fmt(QUERIES["pdf_extract"](spark, SF)),
    ))

    # 21. LLM extraction: same shape; the client call is the stage
    sections.append((
        "LLM extraction pipeline: chunk+prompt+parse in one python stage",
        "Chunk merge, prompt build, client completion, and the parse "
        "ladder all run inside one mapInPandas — block rows stream "
        "out; token usage rides as columns (executor state never "
        "mutates the driver). In production the client is a serving "
        "endpoint, so the stage is I/O-bound and takes the loopback-"
        "proven intra-batch thread pool; aggregate request rate is the "
        "politeness/ratelimit ops' job, not this plan's.",
        fmt(QUERIES["llm_extract"](spark, SF)),
    ))

    # 21b. fetch join over a cached co-partitioned corpus: html side
    # never re-shuffles (round 5)
    from crawl4ai_spark.corpus.webgen import build_corpus, url_expr
    from crawl4ai_spark.engine.fetch import CorpusFetcher

    corpus = build_corpus(docs).persist()
    corpus.count()
    frontier = docs.select(
        url_expr(F.col("doc_id").cast("long")).alias("url_norm"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    fetch_df = CorpusFetcher(corpus).fetch(frontier)
    fetch_df.count()  # through AQE so the final join shape is real
    fetch_plan = fmt(fetch_df)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bcast)
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", old_bcast)
    corpus.unpersist()
    sections.append((
        "Fetch join: cached corpus co-partitioned on the join key",
        "build_corpus repartitions + sorts the corpus on url_norm "
        "before it is cached, and ProjectExec is alias-aware, so the "
        "SortMergeJoin takes the corpus STRAIGHT from "
        "InMemoryTableScan — no Exchange, no Sort on the html side; "
        "the only per-round exchange is the ~100 B/row frontier. "
        "Broadcast is disabled here to force the archive-scale shape "
        "(at test sf the corpus just broadcasts). At 100 TB this is "
        "the WARC-table bucketing posture: re-crawl rounds co-locate "
        "with the archive's bucketing and the GB-to-TB html column "
        "stays off the per-round shuffle path entirely.",
        fetch_plan,
    ))

    # 22. MemoryAdaptiveDispatcher: windows for the monitor, cogroup fold
    sections.append((
        "Memory dispatcher: one job-keyed exchange per side, monitor as windows",
        "The monitor state machine (hysteresis, run clock, abort) is "
        "window functions over the timeline — ONE hashpartitioning "
        "exchange on job_id feeding a single Window node, no "
        "recursion, no python. The scheduler fold is a "
        "FlatMapCoGroupsInPandas: tasks and monitor states each "
        "exchange once on job_id and meet in one Arrow stage; there "
        "is no cross-job state, so the fold's parallelism is the "
        "number of dispatcher jobs (BENCH.md round 5 measured that "
        "axis) and a hot job bounds a PARTITION at its own task "
        "count, never the cluster.",
        fmt(QUERIES["dispatch_memory_adaptive"](spark, SF)),
    ))

    with open(os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan evidence for the scale-critical operators\n\n"
            "Generated by `python tools/explain_plans.py` (Spark "
            f"{spark.version}, AQE on). Each section states the property the\n"
            "plan must keep at 100 TB and shows the actual plan at sf0.01.\n\n"
            "Note: `REPARTITION_BY_NUM` exchanges right above a scan are the\n"
            "scan-width guard (ops/text.spread_input): compact TEST files scan\n"
            "as one partition, so the guard widens them; on a production-scale\n"
            "scan (already wide) the guard is a no-op and the exchange is\n"
            "absent.\n"
        )
        for title, why, plan in sections:
            f.write(f"\n## {title}\n\n{why}\n\n```\n{plan}\n```\n")
    print("PLANS.md written:", len(sections), "sections")
    spark.stop()


if __name__ == "__main__":
    main()
