"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard, embedding-cosine near-dup.

All shapes are chosen for 100 TB scale:

  exact       one groupBy on a 64-bit content hash — map-side partial
              aggregation, no row data shuffled beyond (hash, id).
  minhash     signatures are built relationally: shingles explode once
              and one groupBy takes every seeded min (map-side partial
              combines); LSH banding turns the O(n^2) pair problem
              into |bands| groupBy-joins on band keys, so only
              same-bucket candidates shuffle.
  simhash     per-(doc, bit) relational aggregation; near-dup = equal
              fingerprint (or small hamming distance via band-joins).
  ngram-jaccard  exact verification path: (doc, shingle) self-join on
              shingle — only co-shingled pairs materialize, never the
              full cross product.
  embedding   cosine >= tau pair finding; brute force for verification,
              LSH (ops/similarity.py) as the scale path.

Hashes come from ops.text.hash64 (md5-based, engine-portable) so every
operator here has an exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from crawl4ai_spark.ops.text import hash64, spread_input, tokens, word_ngrams


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by content hash: one row per duplicated content,
    keeper = min(id). Output: (content_hash, n_copies, keeper_id)."""
    return (
        df.select(hash64(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("keeper_id"),
        )
        .where(F.col("n_copies") > 1)
    )


def _relational_signatures(df: DataFrame, text_col: str, id_col: str,
                           num_hashes: int, shingle_n: int,
                           extra_cols: tuple[object, ...] = ()) -> DataFrame:
    """MinHash signatures built relationally: explode shingles once,
    then ``num_hashes`` vectorized min-aggregations in ONE groupBy
    (map-side partial combines). A per-row form with higher-order
    array functions would recompute the shingle array per seed inside
    nested lambdas, which falls out of whole-stage codegen — ~20x
    slower at corpus scale.

    ``extra_cols`` are per-doc Columns (functionally dependent on the
    id, e.g. a content hash) carried through the groupBy as extra keys
    — no join needed to reattach them. Output: (id, *extras, sig).
    """
    sh = df.select(
        F.col(id_col).alias("id"),
        *extra_cols,
        F.explode(F.array_distinct(word_ngrams(text_col, shingle_n))).alias("sh"),
    )
    keys = [c for c in sh.columns if c != "sh"]
    return (
        sh.groupBy(*keys)
        .agg(*[F.min(hash64(F.col("sh"), seed=i)).alias(f"h{i}")
               for i in range(num_hashes)])
        .select(*keys,
                F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )


def _band_rows(sig: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """Explode a signature frame into one row per (doc, band) with the
    band key = md5 of that band's signature slice. All input columns
    are carried through."""
    rows = num_hashes // bands
    carried = [c for c in sig.columns]
    return sig.select(
        *carried,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.md5(F.concat_ws(",", *[
                        F.element_at("sig", b * rows + r + 1).cast("string")
                        for r in range(rows)
                    ])).alias("key"),
                )
                for b in range(bands)
            ])
        ).alias("bk"),
    ).select(*carried, "bk.band", "bk.key")


def _est_sim(sig_a, sig_b, num_hashes: int):
    """Estimated Jaccard similarity: fraction of equal signature
    components."""
    return (
        F.size(F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y),
                        lambda eq: eq)).cast("double")
        / F.lit(float(num_hashes))
    )


def _cap_band_buckets(banded: DataFrame, max_bucket_df: int) -> DataFrame:
    """Null the band ``key`` of rows beyond the K lowest ids in each
    (band, key) bucket: the rows stay (hash/sig columns keep serving
    exact membership), but a null key can never match a candidate
    equijoin — near-dup pairs can only be MISSED, never invented."""
    bw = Window.partitionBy("band", "key").orderBy("id")
    return (
        banded.withColumn("__brk", F.row_number().over(bw))
        .withColumn("key", F.when(F.col("__brk") <= max_bucket_df,
                                  F.col("key")))
        .drop("__brk")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidate pairs (id_a < id_b, est_sim).

    Band key = md5 of the band's signature slice; docs sharing any band
    bucket become candidates. est_sim = fraction of equal signature
    components. The per-band groupBy-join shuffles only (band_key, id,
    signature), never document text.

    ``max_bucket_df`` is the hot-bucket cap, the twin of
    ``max_shingle_df`` in :func:`ngram_jaccard_pairs`: a degenerate band
    (e.g. every empty-text doc hashes to one signature slice) makes a
    single bucket quadratic — 10^6 co-bucketed docs alone contribute
    10^12 join rows. Buckets with more than K members are dropped from
    the join entirely, so pairs can only be MISSED, never invented (a
    conservative dedup; the docs excluded here are exactly the ones
    exact-duplicate hashing catches for free). The membership count is
    a window over (band, key) — the same keys the self-join shuffles
    on, so Catalyst reuses one exchange for both.
    """
    df = spread_input(df, id_col)  # compact scans serialize the explode+hash
    sig = _relational_signatures(df, text_col, id_col, num_hashes, shingle_n)
    banded = _band_rows(sig, num_hashes, bands)
    if max_bucket_df is not None:
        bw = Window.partitionBy("band", "key")
        banded = (
            banded.withColumn("__bdf", F.count(F.lit(1)).over(bw))
            .where(F.col("__bdf") <= max_bucket_df)
            .drop("__bdf")
        )

    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    est = _est_sim("sig_a", "sig_b", num_hashes)
    return pairs.select("id_a", "id_b", F.round(est, 6).alias("est_sim"))


def simhash(text_col, bits: int = 32):
    """SimHash fingerprint over distinct tokens: bit b of the output is
    the sign of sum over tokens of (token-hash bit b ? +1 : -1)."""
    toks = F.array_distinct(tokens(text_col))
    hashes = F.transform(toks, lambda t: hash64(t))
    def bit_sum(b):
        return F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc + (F.shiftright(h, b) % 2) * 2 - 1,
        )
    out = F.lit(0).cast("long")
    for b in range(bits):
        out = out + F.when(bit_sum(b) > 0, F.lit(2 ** b).cast("long")).otherwise(0)
    return out


def simhash_relational(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """SimHash via explode/groupBy — the shape that scales when docs are
    huge (no wide per-row expression): (id, bit) partial sums combine
    map-side. Output: (doc_id, simhash)."""
    tok = spread_input(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    ).withColumn("h", hash64("tok"))
    bit = tok.select(
        "doc_id", "h",
        F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
    ).withColumn("sign", F.expr("shiftright(h, cast(bit as int)) % 2") * 2 - 1)
    agg = bit.groupBy("doc_id", "bit").agg(F.sum("sign").alias("s"))
    return (
        agg.groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("s") > 0,
                       F.pow(F.lit(2.0), F.col("bit")).cast("long")).otherwise(0)
            ).alias("simhash")
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (id_a < id_b, jaccard >= t).

    Relational shape: explode to (id, shingle) distinct, self-join on
    shingle to count intersections, join per-doc set sizes for the
    union. Only pairs sharing >= 1 shingle are ever materialized.

    ``max_shingle_df`` is the hub-shingle cap — the 100 TB guard: a
    boilerplate shingle present in 10^6 docs would alone contribute
    10^12 join rows. Shingles with document frequency > K are dropped
    from the INTERSECTION join only; set sizes still count every
    shingle, so capped jaccard <= exact jaccard (pairs can only be
    missed, never inflated — a conservative dedup).
    """
    sh = spread_input(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(text_col, n))).alias("sh"),
    ).dropDuplicates(["id", "sh"])
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    join_sh = sh
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_df)
            .select("sh")
        )
        join_sh = sh.join(rare, "sh", "left_semi")
    a, b = join_sh.alias("a"), join_sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def dedup_lines(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", min_chars: int = 10,
                sep: str = "\n") -> DataFrame:
    """C4-style line-level exact dedup across the corpus (Raffel et al.
    2020 §2.2: any line occurring more than once in the dataset is kept
    only at its first occurrence).

    A line's identity is its 64-bit content hash; the first occurrence
    is the lexicographically-smallest (doc_id, line_no). Lines shorter
    than ``min_chars`` characters are exempt (never dedup candidates —
    the C4 heuristic that only substantial lines count as boilerplate).

    Scale shape: one shuffle on line-hash for the first-occurrence
    window (rank within a hash partition is linear in occurrences — a
    boilerplate line in 10^6 docs costs 10^6 window rows, never a
    join blowup), then one shuffle on doc_id to reassemble. No joins,
    no collects.

    Output: (doc_id, n_lines, n_kept, text_dedup).
    """
    # \Q..\E makes the separator LITERAL for F.split (a Java regex);
    # array_join below uses it literally too, so reassembly round-trips
    # for any separator (e.g. "|", ".", "\n\n" for paragraph-level)
    lines = spread_input(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(
            F.split(F.col(text_col), "\\Q" + sep + "\\E")
        ).alias("line_no", "line"),
    )
    # all occurrences of a hash share the line text, hence the same
    # exempt flag — the window rank is only consulted for non-exempt
    w = Window.partitionBy("lhash").orderBy("doc_id", "line_no")
    marked = (
        lines.withColumn("lhash", hash64("line"))
        .withColumn("exempt", F.length("line") < min_chars)
        .withColumn("occ", F.row_number().over(w))
        .withColumn("keep", F.col("exempt") | (F.col("occ") == 1))
    )
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(F.col("keep"),
                                   F.struct("line_no", "line"))
                        )
                    ),
                    lambda s: s["line"],
                ),
                sep,
            ).alias("text_dedup"),
        )
    )


def duplicate_token_spans(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 8) -> DataFrame:
    """Exact-substring duplicate detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better"): any
    token n-gram occurring more than once ANYWHERE in the corpus marks
    its covered positions as duplicated; overlapping-or-adjacent marked
    intervals merge into maximal spans per document.

    The reference implementation builds a corpus suffix array; the
    relational equivalent at fixed n is a frequency count over exploded
    (position, n-gram-hash) rows — the suffix array's "repeated
    substring of length >= n" test IS "some n-gram at this position
    repeats". Span merge is gaps-and-islands over per-doc windows.

    Scale shape: one shuffle on gram-hash (window count — linear per
    occurrence even for a degenerate gram in 10^6 docs, never a pair
    join), then per-doc windows + aggregation on doc_id. Unlike the
    pair-finding ops there is no quadratic candidate set, so no
    hot-key cap is needed.

    Output per doc: (doc_id, total_tokens, dup_tokens, n_spans,
    dup_frac) — docs with no duplicated span report zeros.
    """
    base = spread_input(df, id_col).select(
        F.col(id_col).alias("doc_id"),
        F.size(tokens(text_col)).alias("total_tokens"),
        word_ngrams(text_col, n).alias("grams"),
    )
    g = base.select(
        "doc_id", "total_tokens",
        F.posexplode("grams").alias("pos", "gram"),
    ).withColumn(
        # a doc shorter than n yields one short gram covering [0, total)
        "end", F.least(F.col("pos") + (n - 1), F.col("total_tokens") - 1)
    ).withColumn("gh", hash64("gram")).drop("gram")
    freq = F.count(F.lit(1)).over(Window.partitionBy("gh"))
    dup = g.withColumn("freq", freq).where(F.col("freq") > 1)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max("end").over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    isl = (
        dup.withColumn(
            "is_new",
            (F.col("pos") > F.coalesce(prev_end, F.lit(-2)) + 1).cast("long"),
        )
        .withColumn(
            "island",
            F.sum("is_new").over(
                wdoc.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), F.max("end").alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
    )
    docs = base.select("doc_id", "total_tokens")
    return (
        docs.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("total_tokens").cast("long").alias("total_tokens"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("total_tokens"), F.lit(1)),
                6,
            ).alias("dup_frac"),
        )
    )


def connected_components_min(edges: DataFrame, id_a: str = "id_a",
                             id_b: str = "id_b",
                             max_iters: int = 50,
                             checkpoint_every: int | None = 10) -> DataFrame:
    """Connected components by iterative min-label propagation:
    label(v) <- min(label(v), min over neighbors' labels) until a
    fixpoint. Returns (id, component) for every vertex in `edges`.

    Near-dup components are tiny (diameter ~ a few hops), so the loop
    converges in O(log diameter) rounds; each round is one join +
    groupBy over the edge list (never the corpus). The convergence
    check rides the aggregation (max-changed flag), one job per round.

    ``checkpoint_every``: every k rounds the label relation is
    localCheckpoint'ed (eager, executor-stored), truncating its
    lineage. persist() alone caches blocks but keeps the full logical
    chain — after d rounds a lost cached block recomputes d joins, and
    the plan the optimizer must analyze grows with d. On a
    high-diameter graph (long chains of near-dups) this bounds both.
    None disables (tiny inputs, tests)."""
    sym = (
        edges.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            edges.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
        )
        .distinct()
        .persist()
    )
    labels = sym.select("src").distinct().withColumn("label", F.col("src")).persist()
    for it in range(max_iters):
        nbr_min = (
            sym.join(labels.withColumnRenamed("src", "dst")
                     .withColumnRenamed("label", "nbr_label"), "dst")
            .groupBy("src").agg(F.min("nbr_label").alias("nbr_min"))
        )
        new_labels = (
            labels.join(nbr_min, "src", "left")
            .select(
                "src",
                F.least(F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))).alias("label"),
                (F.coalesce(F.col("nbr_min"), F.col("label")) < F.col("label")).alias("changed"),
            )
        ).persist()
        n_changed = new_labels.where("changed").count()
        labels.unpersist()
        labels = new_labels.drop("changed")
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            # eager lineage cut: the count above already materialized
            # new_labels, so this only copies the cached blocks
            labels = labels.localCheckpoint()
            new_labels.unpersist()
        if n_changed == 0:
            break
    out = labels.select(F.col("src").alias("id"), F.col("label").alias("component"))
    sym.unpersist()
    return out


def dedup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.6,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """The production near-dup path, end to end:

        LSH candidates  ->  exact Jaccard verify  ->  connected
        components  ->  keeper selection (min id per component)

    Output: (doc_id, keeper_id) for every doc in a verified duplicate
    group (keeper rows included, keeper_id == doc_id there). Nothing in
    the chain is all-pairs: candidates come from band buckets, the
    verify join touches candidate pairs only, and components propagate
    over the (tiny) verified edge list.
    """
    cand = lsh_candidate_pairs(
        df, text_col, id_col, num_hashes=num_hashes, bands=bands,
        shingle_n=shingle_n,
    ).select("id_a", "id_b")

    # exact verify restricted to candidate pairs: count common shingles
    # per pair via two semi-equi-joins against the (id, shingle) table
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(word_ngrams(text_col, shingle_n))).alias("sh"),
    ).dropDuplicates(["id", "sh"])
    if max_shingle_df is not None:
        rare = (
            sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_shingle_df).select("sh")
        )
        join_sh = sh.join(rare, "sh", "left_semi")
    else:
        join_sh = sh
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a_sh = join_sh.select(F.col("id").alias("id_a"), "sh")
    b_sh = join_sh.select(F.col("id").alias("id_b"), "sh")
    common = (
        cand.join(a_sh, "id_a").join(b_sh, ["id_b", "sh"])
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("common"))
    )
    verified = (
        common
        .join(sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .where(
            F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            >= threshold
        )
        .select("id_a", "id_b")
    )

    comps = connected_components_min(verified)
    return comps.select(
        F.col("id").alias("doc_id"), F.col("component").alias("keeper_id")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= t).

    Brute-force O(n^2) verification path (range-join); the scale path
    buckets by sign-LSH first (ops/similarity.py) so only same-bucket
    pairs reach the dot product.
    """
    # norm is per-vector: computed once here rather than per pair (same
    # doubles, O(n) instead of O(n^2) interpreted HOF folds)
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda acc, x: acc + x,
        )
    )
    v = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                   norm.alias("nrm"))
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with("a.v", "b.v", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.round(dot / (F.col("a.nrm") * F.col("b.nrm")), 6).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def minhash_index(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", num_hashes: int = 16,
                  bands: int = 4, shingle_n: int = 3,
                  max_bucket_df: int | None = None) -> DataFrame:
    """Persisted dedup index of a corpus snapshot: one row per
    (doc, band) with columns (id, content_hash, sig, band, key).

    This is the table an incremental pipeline keeps on disk between
    snapshots (in production: the band rows written bucketed by
    (band, key) and the ``band = 0`` slice additionally projected out
    bucketed by content_hash, so BOTH probes in
    :func:`incremental_dedup` — the hash-membership join and the
    candidate band join — are storage-partitioned joins that never
    reshuffle history; each doc appears exactly once per band, so no
    distinct is needed). The index stores
    64-bit hashes and signatures only, never text: at 100 TB of corpus
    the index is ~(8 + 8*num_hashes) bytes/doc + band keys, i.e. 3-4
    orders of magnitude smaller than the text it stands for.

    ``max_bucket_df`` is the hot-bucket cap, applied at BUILD time: in
    a band bucket with more than K members, rows beyond the K lowest
    ids keep their (id, content_hash, sig) — exact-hash membership
    stays exact — but their band ``key`` is nulled, so they can never
    match in a candidate equi-join. Near-dup candidates can only be
    MISSED, never invented. Capping here, rather than at query time,
    is what keeps :func:`incremental_dedup` history-shuffle-free: the
    cap is maintained once per snapshot append/compaction, and every
    later delta probe sees a bounded bucket.
    """
    sig = _relational_signatures(
        spread_input(df, id_col), text_col, id_col, num_hashes, shingle_n,
        extra_cols=(hash64(F.col(text_col)).alias("content_hash"),),
    )
    banded = _band_rows(sig, num_hashes, bands)
    if max_bucket_df is not None:
        banded = _cap_band_buckets(banded, max_bucket_df)
    return banded


def write_minhash_index(index: DataFrame, name: str,
                        n_buckets: int = 64) -> None:
    """Materialize the persisted dedup index in the storage layout the
    100 TB claim rests on (the layout :func:`minhash_index` prescribes),
    as two bucketed managed tables:

      ``{name}_bands``   all band rows, ``bucketBy(n, band, key)`` +
                         sorted — the near-dup candidate probe side
      ``{name}_hashes``  the band-0 content_hash projection,
                         ``bucketBy(n, content_hash)`` + sorted — the
                         exact-membership probe side

    With these layouts both history-side joins in
    :func:`incremental_dedup` are storage-partitioned: the scan's
    HashPartitioning already satisfies the join's required
    distribution, so Spark inserts NO Exchange above either history
    scan and only the delta shuffles (asserted by
    tests/test_dedup_bucketed.py; plan captured in PLANS.md). On a real
    warehouse the same layout is an Iceberg table with a bucket
    partition transform; `bucketBy` is the jar-free Spark-managed
    equivalent. ``n_buckets`` is the history-side parallelism forever
    after — size it for the TARGET corpus (e.g. 2^12-2^15 at 100 TB),
    not the first snapshot, because re-bucketing later means rewriting
    history once.
    """
    (index.write.mode("overwrite").format("parquet")
     .bucketBy(n_buckets, "band", "key").sortBy("band", "key")
     .saveAsTable(f"{name}_bands"))
    (index.where(F.col("band") == 0).select("content_hash")
     .write.mode("overwrite").format("parquet")
     .bucketBy(n_buckets, "content_hash").sortBy("content_hash")
     .saveAsTable(f"{name}_hashes"))


def read_minhash_index(spark, name: str) -> tuple[DataFrame, DataFrame]:
    """(bands, hashes) pair written by :func:`write_minhash_index` —
    pass them to :func:`incremental_dedup` as (index, hash_index)."""
    return spark.table(f"{name}_bands"), spark.table(f"{name}_hashes")


def incremental_dedup(new_docs: DataFrame, index: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      threshold: float = 0.5, num_hashes: int = 16,
                      bands: int = 4, shingle_n: int = 3,
                      max_bucket_df: int | None = None,
                      hash_index: DataFrame | None = None) -> DataFrame:
    """Cross-snapshot incremental dedup: classify a NEW batch of
    documents against the persisted :func:`minhash_index` of everything
    crawled before, without ever reshuffling history.

    This is how a CommonCrawl-scale pipeline actually runs dedup — the
    full-corpus operators (:func:`exact_duplicates`,
    :func:`dedup_pipeline`) are the bootstrap; every later snapshot is
    a delta deduped against the accumulated index, then its survivors'
    index rows (``minhash_index(survivors)``) are appended.

    Per new doc, status is decided in two stages:

    ``exact_dup``  its 64-bit content hash exists in the index, OR an
                   earlier (lower-id) doc in the same batch has the
                   same hash (within-batch first-wins, the
                   :func:`exact_duplicates` rule).
    ``near_dup``   it survived the exact stage but shares an LSH band
                   bucket with a history doc or with a LOWER-id batch
                   doc that also survived the exact stage, at
                   signature similarity >= ``threshold``. The lower-id
                   neighbour keeps its own fate: this is the standard
                   single-pass keep-first approximation (a chain
                   A~B~C with A<B<C drops both B and C), deliberately
                   NOT the connected-components keeper of
                   :func:`dedup_pipeline` — an incremental pass must
                   not revisit history to re-cluster.
    ``kept``       otherwise.

    Output: (doc_id, status, max_sim) where max_sim is the largest
    candidate similarity seen by an exact-stage survivor (NULL for
    exact dups and for docs with no LSH candidate).

    Scale shape: the exact stage is one join of the DELTA against the
    index's band-0 hash column plus a within-batch window on
    content_hash. When either side fits the broadcast threshold AQE
    broadcasts it (at typical delta:history ratios, the delta); when
    neither does, avoiding a history-side exchange requires the index's
    hash slice to be STORED bucketed/sorted on content_hash (the
    Iceberg layout :func:`minhash_index` prescribes) — then the join is
    storage-partitioned and only the delta shuffles. The near stage bands only the survivors and joins
    them against the index on (band, key) — with the index bucketed by
    (band, key) this is again a delta-driven probe. Nothing in either
    stage is proportional to history except the index scan itself.

    ``max_bucket_df`` caps DELTA-side band buckets (same null-key
    mechanism as :func:`minhash_index`'s build-time cap — exact-dup
    identification is unaffected, near-dups can only be missed): a
    flood of near-identical-but-not-equal new docs survives the exact
    stage and would otherwise make the within-batch self-join
    quadratic in the bucket. History-side capping belongs at index
    build/compaction time, not here.

    Cache lifetime: the exact-stage frame is persist()ed (it feeds
    three downstream branches) and its handle is exposed as
    ``result.cached_intermediate`` — a driver looping over many
    snapshot batches should call
    ``result.cached_intermediate.unpersist()`` once the result is
    materialized; otherwise the blocks live until the result frame is
    garbage-collected (Spark's ContextCleaner unpersists on GC) or the
    session ends.
    """
    sig_new = _relational_signatures(
        spread_input(new_docs, id_col), text_col, id_col,
        num_hashes, shingle_n,
        extra_cols=(hash64(F.col(text_col)).alias("content_hash"),),
    )
    # exact stage: history membership (band-0 slice: one row per doc)
    # + within-batch first-wins on the content hash. When the caller
    # has the index materialized by write_minhash_index, hash_index is
    # its content_hash-bucketed projection — joining THAT instead of
    # re-slicing the band table is what keeps the exact probe
    # exchange-free on the history side.
    hist = (hash_index if hash_index is not None
            else index.where(F.col("band") == 0))
    hist_hashes = (hist.select("content_hash")
                   .withColumn("__hist", F.lit(True)))
    wh = Window.partitionBy("content_hash").orderBy("id")
    # delta-sized and referenced three times downstream (final statuses,
    # vs-history probe, both sides of the within-batch self-join) —
    # persist so the delta's signature build runs once, not per branch
    exact = (
        sig_new.join(hist_hashes.dropDuplicates(["content_hash"]),
                     "content_hash", "left")
        .withColumn("__rk", F.row_number().over(wh))
        .withColumn(
            "is_exact",
            F.coalesce(F.col("__hist"), F.lit(False)) | (F.col("__rk") > 1),
        )
        .select("id", "content_hash", "sig", "is_exact")
        .persist()
    )
    surv = _band_rows(exact.where(~F.col("is_exact")).select("id", "sig"),
                      num_hashes, bands)
    if max_bucket_df is not None:
        surv = _cap_band_buckets(surv, max_bucket_df)

    def est(sig_a, sig_b):
        return _est_sim(sig_a, sig_b, num_hashes)

    n, h = surv.alias("n"), index.alias("h")
    vs_hist = (
        n.join(h, (F.col("n.band") == F.col("h.band"))
               & (F.col("n.key") == F.col("h.key")))
        .select(F.col("n.id").alias("id"),
                est(F.col("n.sig"), F.col("h.sig")).alias("sim"))
    )
    a, b = surv.alias("a"), surv.alias("b")
    vs_batch = (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.key") == F.col("b.key"))
               & (F.col("a.id") > F.col("b.id")))
        .select(F.col("a.id").alias("id"),
                est(F.col("a.sig"), F.col("b.sig")).alias("sim"))
    )
    # duplicate candidate rows (same pair via several bands) agree on
    # sim, so MAX absorbs them — no dropDuplicates shuffle needed
    max_sim = (vs_hist.unionByName(vs_batch)
               .groupBy("id").agg(F.max("sim").alias("max_sim")))
    out = (
        exact.join(max_sim, "id", "left")
        .select(
            F.col("id").alias("doc_id"),
            F.when(F.col("is_exact"), F.lit("exact_dup"))
            .when(F.col("max_sim") >= F.lit(threshold), F.lit("near_dup"))
            .otherwise(F.lit("kept")).alias("status"),
            F.round(
                F.when(~F.col("is_exact"), F.col("max_sim")), 6
            ).alias("max_sim"),
        )
    )
    # expose the persisted exact-stage handle so a driver looping many
    # snapshot batches can release the cache deterministically
    # (out.cached_intermediate.unpersist() after materializing) instead
    # of waiting for the ContextCleaner to GC the reference (ADVICE r4)
    out.cached_intermediate = exact
    return out
