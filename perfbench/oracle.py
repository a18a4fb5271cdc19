"""Pure-Python oracle for the benchmark's crawls.

The synthetic web (crawl4ai_spark/corpus/webgen.py) is a closed-form
link DAG: page ``i`` lives at ``https://site{i % 7}.example.com/page/{i}``
and links to ``3i+1, 3i+2, 3i+3, 7i+11`` below ``N``. Its HTML is a
title, a paragraph holding the document text, one image, a tail
paragraph and the link list, so extraction yields exactly three spans:
(text, image, text). The formulas are restated here rather than
imported, so the check does not lean on the code it checks.

``check_pages`` compares a finished crawl's ``pages`` table against the
breadth-first closure of the seeds and returns the failures that make
up ``failed_frac``.
"""

from __future__ import annotations

import json
import os
from collections import Counter

N_HOSTS = 7


def url_of(i: int) -> str:
    return f"https://site{i % N_HOSTS}.example.com/page/{i}"


def page_id(url: str) -> int | None:
    head, _, tail = url.rpartition("/page/")
    if not tail.isdigit() or url_of(int(tail)) != url:
        return None
    return int(tail)


def children(i: int, n_docs: int) -> list[int]:
    return [c for c in (3 * i + 1, 3 * i + 2, 3 * i + 3, 7 * i + 11)
            if c < n_docs]


def bfs_depths(seeds: list[int], n_docs: int, max_depth: int) -> dict[int, int]:
    """Shortest link distance from the seed set, for every page within
    ``max_depth`` of it."""
    depth = {s: 0 for s in seeds}
    level = list(dict.fromkeys(seeds))
    d = 0
    while level and d < max_depth:
        d += 1
        nxt = []
        for i in level:
            for c in children(i, n_docs):
                if c not in depth:
                    depth[c] = d
                    nxt.append(c)
        level = nxt
    return depth


def first_contended_depth(depth: dict[int, int], host_budget: int | None) -> int | None:
    """Shallowest BFS level in which some host holds more pages than
    its per-round budget. Up to that level every round fetches exactly
    one level, so crawled depths must equal BFS depths; past it the
    politeness deferral may delay a parent, and a page may be found at a
    greater depth than its shortest path (never a smaller one)."""
    if host_budget is None:
        return None
    per_level = Counter((d, i % N_HOSTS) for i, d in depth.items())
    over = [d for (d, _), n in per_level.items() if n > host_budget]
    return min(over) if over else None


def read_table(table_dir: str, columns: list[str]):
    """Committed rows of one snapshot table, read with pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    with open(os.path.join(table_dir, "manifest.json")) as f:
        data = json.load(f)["data"]
    parts = [pq.read_table(os.path.join(table_dir, d), columns=columns)
             for d in data]
    parts = [p for p in parts if p.num_rows]
    if not parts:
        return {c: [] for c in columns}
    return pa.concat_tables(parts, promote_options="default") \
        .select(columns).to_pydict()


def check_pages(warehouse: str, seeds: list[int], n_docs: int,
                max_depth: int, host_budget: int | None,
                text_of) -> dict:
    """Checks the crawl's pages table against the oracle.

    A required page fails when it is missing, appears more than once,
    was not fetched successfully, has a span sequence other than
    (text, image, text) carrying its own document text and image, or
    sits at a wrong depth. Pages the oracle does not require fail too.
    ``text_of(i)`` is the document text placed on page ``i``."""
    want = bfs_depths(seeds, n_docs, max_depth)
    exact_upto = first_contended_depth(want, host_budget)
    rows = read_table(os.path.join(warehouse, "pages"),
                      ["url_norm", "depth", "success", "spans"])
    seen: Counter = Counter()
    bad: dict[str, int] = Counter()
    bad_ids: set = set()

    def fail(key, ident):
        bad[key] += 1
        bad_ids.add(ident)

    for url, depth, ok, spans in zip(rows["url_norm"], rows["depth"],
                                     rows["success"], rows["spans"]):
        i = page_id(url)
        seen[url] += 1
        if i is None or i not in want:
            fail("unexpected", url)
            continue
        if seen[url] > 1:
            fail("duplicate", i)
        if not ok:
            fail("unsuccessful", i)
        if exact_upto is None or want[i] <= exact_upto:
            if depth != want[i]:
                fail("depth", i)
        elif depth < want[i]:
            fail("depth", i)
        kinds = [s["kind"] for s in spans or []]
        if (kinds != ["text", "image", "text"]
                or spans[0]["text"] != f"# Doc {i}\n\n{text_of(i)}"
                or spans[1]["media_ref"] != f"https://cdn.example.com/img/{i}.png"
                or not spans[2]["text"].startswith(f"tail {i}")):
            fail("spans", i)
    for i in want:
        if seen[url_of(i)] == 0:
            fail("missing", i)
    return {
        "attempted": len(want),
        "failed": len(bad_ids),
        "problems": dict(bad),
        "pages_rows": len(rows["url_norm"]),
    }
