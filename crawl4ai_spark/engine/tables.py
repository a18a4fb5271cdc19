"""Atomic snapshot tables — the engine's state layer.

Production target is Iceberg (`MERGE INTO pages`, snapshot ids in a
round checkpoint, partition pruning on round/host-hash); this module is
a dependency-free stand-in with the same commit semantics so the engine
code is connector-agnostic: a table is a directory of immutable parquet
data dirs plus a JSON manifest that is swapped atomically
(``_replace_json``). Readers only ever see committed manifests, a killed
writer leaves at worst orphan data dirs (never a torn table), and
resume = read the last round record — mirroring the reference's
SQLite cache + adaptive-state JSON checkpointing
(/root/reference/crawl4ai/async_database.py:227-248,
adaptive_crawler.py:53-110) with Iceberg-style atomicity.

Layout:
    <warehouse>/<table>/manifest.json      {"version": k, "data": [relpaths]}
    <warehouse>/<table>/d-<uuid>/...       immutable parquet dirs
    <warehouse>/round_manifest.json        the last committed round's
                                           record (one JSON object,
                                           replaced whole each round)
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession


def _replace_json(path: str, obj) -> None:
    """Atomically replace ``path`` with ``obj`` as JSON: write a temp
    file beside it, then rename over it (the commit point). A crash
    leaves the old file or the new one, never a torn one."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def _load_json(path: str, default):
    """The JSON at ``path``, or ``default`` if nothing was committed."""
    try:
        with open(path) as f:
            return json.load(f)
    except FileNotFoundError:
        return default


def _nullable(schema):
    """Nullable-normalized copy: file sources treat user-supplied
    schemas as nullable anyway, and cast/lit nullability noise must not
    flap the read-schema cache."""
    from pyspark.sql import types as T

    return T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in schema]
    )


class SnapshotTable:
    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)
        # Schema cache: an engine table's schema is fixed for its
        # lifetime (STATE_FIELDS / the pages schema), but a bare
        # spark.read.parquet re-reads parquet footers on EVERY read to
        # infer it (~100-300 ms of driver time per call — the engine
        # reads tables several times per round, so this is a real slice
        # of the per-round serial floor). First read infers and caches;
        # later reads pass the schema and skip footer I/O entirely.
        # Every write path keeps the cache honest: overwrite() and an
        # append or adopt into an empty table pin it to the new data's
        # schema, append()/adopt_dirs() invalidate on mismatch (or on
        # undeclared external data), and rollback_to()/append_rows()
        # invalidate outright — so a schema evolution within the
        # instance's lifetime (e.g. resuming a pre-upgrade warehouse,
        # then appending new-schema rows) never reads through a stale
        # schema that would silently drop the new columns.
        self._schema = None

    # -- manifest ----------------------------------------------------------
    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.json")

    def _read_manifest(self) -> dict:
        return _load_json(self._manifest_path, {"version": 0, "data": []})

    def _commit(self, manifest: dict) -> None:
        _replace_json(self._manifest_path, manifest)

    @property
    def version(self) -> int:
        return self._read_manifest()["version"]

    def exists(self) -> bool:
        return bool(self._read_manifest()["data"])

    # -- io ------------------------------------------------------------------
    def _write_datadir(self, df: DataFrame) -> str:
        rel = f"d-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, rel))
        return rel

    def read(self, spark: SparkSession) -> DataFrame | None:
        m = self._read_manifest()
        if not m["data"]:
            return None
        dirs = [os.path.join(self.path, d) for d in m["data"]]
        if self._schema is not None:
            return spark.read.schema(self._schema).parquet(*dirs)
        # re-infer path (no declared/cached schema — e.g. right after a
        # mixed-schema append invalidated the cache): merge footers, or
        # inference would take ONE arbitrary file's schema and silently
        # drop columns the other dirs carry
        df = spark.read.option("mergeSchema", "true").parquet(*dirs)
        self._schema = _nullable(df.schema)
        return df

    def overwrite(self, df: DataFrame) -> str:
        """Replace table contents (new snapshot). Returns the new data
        dir, relative to the table.

        Old data dirs are NOT deleted here — the round checkpoint needs
        them for exact rollback on resume. Nothing reclaims the dirs no
        committed round references yet, so they stay on disk.
        """
        m = self._read_manifest()
        rel = self._write_datadir(df)
        self._commit({"version": m["version"] + 1, "data": [rel]})
        self._schema = _nullable(df.schema)  # table now holds exactly this data
        return rel

    def append(self, df: DataFrame) -> str:
        """Append-only fast path (Iceberg AppendFiles): no rewrite.
        Returns the new data dir, relative to the table."""
        m = self._read_manifest()
        if not m["data"]:
            self._schema = _nullable(df.schema)  # table now holds exactly this data
        elif self._schema is not None and _nullable(df.schema) != self._schema:
            self._schema = None  # mixed-schema dirs: re-infer on next read
        rel = self._write_datadir(df)
        self._commit({"version": m["version"] + 1, "data": m["data"] + [rel]})
        return rel

    def adopt_dirs(
        self, abs_dirs: list[str], mode: str = "append", schema=None
    ) -> None:
        """Commit externally-written parquet dirs (e.g. one tag subtree of
        a shared partitioned write) as this table's next snapshot without
        rewriting any data — the Iceberg AppendFiles/ReplaceFiles analogue
        that lets one Spark job feed several tables.

        `schema` declares the adopted dirs' parquet schema so the read
        cache stays warm (the engine's tagged state write has a fixed
        one); without a declaration the cache is invalidated — a footer
        re-read beats a silently stale schema."""
        m = self._read_manifest()
        if mode == "overwrite" or not m["data"]:
            self._schema = _nullable(schema) if schema is not None else None
        elif self._schema is not None and (
            schema is None or _nullable(schema) != self._schema
        ):
            self._schema = None
        rels = [os.path.relpath(d, self.path) for d in abs_dirs]
        data = rels if mode == "overwrite" else m["data"] + rels
        self._commit({"version": m["version"] + 1, "data": data})

    def append_rows(self, rows: list[tuple], schema: "pa.Schema") -> None:
        """Driver-side append of a handful of rows (round metrics) via
        pyarrow — no Spark job for dim-sized bookkeeping writes."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rel = f"d-{uuid.uuid4().hex[:12]}"
        d = os.path.join(self.path, rel)
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in schema]
        table = pa.table(
            {f.name: pa.array(list(c), type=f.type) for f, c in zip(schema, cols)}
        )
        pq.write_table(table, os.path.join(d, "part-0.parquet"))
        m = self._read_manifest()
        self._commit({"version": m["version"] + 1, "data": m["data"] + [rel]})
        self._schema = None  # arrow-written dir: re-infer on next read

    def merge_on_key(self, spark: SparkSession, df: DataFrame,
                     key: str | list[str]) -> None:
        """Upsert semantics (Iceberg `MERGE INTO ... ON key`): new rows win.

        Test-scale implementation rewrites the table; at 100 TB this is
        a real MERGE with partition-level pruning — the engine only
        calls it for dimension-sized tables (host_state, robots).
        """
        keys = [key] if isinstance(key, str) else list(key)
        cur = self.read(spark)
        if cur is not None:
            df = cur.join(df.select(*keys), keys, "left_anti").unionByName(df)
        # safe ordering: overwrite() writes the new data dir (reading the
        # old dirs, still present) before the commit+cleanup
        self.overwrite(df)

    def drop_dirs(self, rel_dirs: list[str]) -> None:
        """Remove data dirs from the manifest — the Iceberg DeleteFiles /
        drop-partition analogue: a constant-time metadata commit, no
        data rewrite, no Spark job. Files stay on disk so committed
        round checkpoints can still roll back; nothing reclaims them
        yet."""
        gone = set(rel_dirs)
        m = self._read_manifest()
        self._commit({"version": m["version"] + 1,
                      "data": [d for d in m["data"] if d not in gone]})

    def rollback_to(self, version_data: list[str]) -> None:
        self._commit({"version": self.version + 1, "data": version_data})
        self._schema = None  # restored dirs may predate the cached schema

    def snapshot_data(self) -> list[str]:
        return list(self._read_manifest()["data"])


class Warehouse:
    """A directory of SnapshotTables plus the crawl round manifest."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def table(self, name: str) -> SnapshotTable:
        return SnapshotTable(os.path.join(self.root, name))

    # -- shared per-round state dirs (one tagged write feeds N tables) -----
    def state_dir(self, rnd: int) -> str:
        return os.path.join(self.root, "state", f"r{rnd:06d}")

    @staticmethod
    def existing_tag_dirs(state_dir: str) -> dict[str, str]:
        """tag -> abs path for the tag=... subdirs a partitioned write
        actually produced (empty branches produce no subdir)."""
        out = {}
        if os.path.isdir(state_dir):
            for d in os.listdir(state_dir):
                if d.startswith("tag="):
                    out[d.split("=", 1)[1]] = os.path.join(state_dir, d)
        return out

    # -- round checkpoint (checkpoint/resume unit) -------------------------
    @property
    def rounds_path(self) -> str:
        return os.path.join(self.root, "round_manifest.json")

    def commit_round(self, entry: dict) -> None:
        """Make ``entry`` the checkpoint: the file holds only the last
        committed round's record, so a commit costs the same at every
        round."""
        _replace_json(self.rounds_path, entry)

    def last_round(self) -> dict | None:
        """The last committed round's record; None before round 0
        commits. A file of another shape (the per-round list older
        engines wrote) is refused, not guessed at."""
        rec = _load_json(self.rounds_path, None)
        if rec is not None and not isinstance(rec, dict):
            raise ValueError(
                f"{self.rounds_path}: not a round record (a round list "
                "from an older engine?); resume needs a warehouse this "
                "engine wrote")
        return rec
