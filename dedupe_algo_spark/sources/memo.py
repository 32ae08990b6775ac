"""Hash memo — the incremental-computation ledger.

Reference: SQLite ``scan_cache`` keyed by path, validated by
(size, modified), with COALESCE keep-old-hash upsert semantics
(cache.rs:19-77); prefetched once before the parallel region
(lib.rs:70-74).

Ours: a parquet-backed table (Iceberg ``MERGE INTO`` in a catalog-enabled
deployment — the runtime here has no Iceberg jar, so the same MERGE
semantics are implemented as join + coalesce + a manifest-committed
shard swap; the interface is storage-agnostic). The validity join (J1)
reuses a memoized hash only when BOTH text_len and warc_ts match
(lib.rs:97-105,142-147); the upsert never overwrites a non-null hash
with null (cache.rs:69-70).
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import MEMO_SCHEMA

MEMO_KEY = "url"

MANIFEST = "MANIFEST.json"


class HashMemo:
    """Parquet-backed memo with MERGE-upsert semantics, sharded by
    ``hash(url) % n_shards`` so an upsert rewrites only the shards its
    keys fall in — O(updates)-sized I/O, not O(memo).

    Commit protocol (single-writer, like the reference's SQLite): new
    shard versions are staged as ``shard-<k>-<txn>`` directories, then
    ONE atomic ``os.replace`` of ``MANIFEST.json`` flips every touched
    shard at once — a crash anywhere leaves the previous manifest (and
    therefore the previous state) fully intact; unreferenced directories
    are garbage, collected by the next successful upsert. On Iceberg the
    same statement is a ``MERGE INTO`` against a table partitioned the
    same way (the manifest swap = the snapshot commit).

    The manifest is the only read path: a memo without one reads as
    empty. It is a cache, so that costs one cold scan, never a wrong
    hash; the first upsert commits a manifest and collects whatever
    files were there before."""

    def __init__(self, spark: SparkSession, path: str, n_shards: int = 16):
        self.spark = spark
        self.path = path
        self.n_shards = n_shards

    # -- layout ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.path, MANIFEST)

    def _load_manifest(self) -> dict | None:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except FileNotFoundError:
            return None

    def _commit_manifest(self, manifest: dict) -> None:
        tmp = self._manifest_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # the atomic commit point

    def _gc(self, manifest: dict) -> None:
        """Remove everything under ``path`` not referenced by the
        committed manifest (replaced shard versions, crash orphans,
        files from before the first manifest)."""
        keep = set(manifest["shards"].values()) | {MANIFEST}
        for entry in os.listdir(self.path):
            if entry in keep:
                continue
            full = os.path.join(self.path, entry)
            if os.path.isdir(full):
                shutil.rmtree(full, ignore_errors=True)
            else:
                os.remove(full)

    def _sharded(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "shard",
            F.pmod(F.xxhash64(MEMO_KEY), F.lit(self.n_shards)).cast("int"),
        )

    # -- reads ----------------------------------------------------------

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], MEMO_SCHEMA)

    def read(self, shards: "list[int] | None" = None) -> DataFrame:
        """The committed rows (of ``shards`` only, when given). Columns
        beyond ``MEMO_SCHEMA`` in older shards are ignored."""
        manifest = self._load_manifest() or {"shards": {}}
        dirs = [
            os.path.join(self.path, d)
            for k, d in manifest["shards"].items()
            if shards is None or int(k) in shards
        ]
        if not dirs:
            return self._empty()
        return self.spark.read.parquet(*dirs).select(*MEMO_SCHEMA.fieldNames())

    # -- upsert ---------------------------------------------------------

    def upsert(self, updates: DataFrame) -> None:
        """S4 — ``INSERT ... ON CONFLICT(url) DO UPDATE`` with COALESCE
        keep-old semantics (cache.rs:60-77): new row wins on (len, ts);
        a null incoming hash never clobbers a stored one. Only the
        touched shards are read and rewritten; untouched shards are
        never opened, and the swap of all touched shards is one atomic
        manifest replace."""
        manifest = self._load_manifest()
        if manifest is not None:
            # adopt the committed shard count BEFORE computing any shard
            # column: a memo committed with n_shards=4 reopened with the
            # default 16 would otherwise stage mod-16 shards but swap a
            # mod-4 manifest, silently dropping updates
            self.n_shards = int(manifest.get("n_shards", self.n_shards))
        else:
            manifest = {"n_shards": self.n_shards, "shards": {}}
        u = self._sharded(updates.select(*MEMO_SCHEMA.fieldNames()))
        touched = sorted(r["shard"] for r in u.select("shard").distinct().collect())
        cur = self.read(shards=touched)
        merged = (
            u.drop("shard")
            .alias("n")
            .join(cur.alias("o"), MEMO_KEY, "full_outer")
            .select(
                F.col(MEMO_KEY),
                F.coalesce(F.col("n.text_len"), F.col("o.text_len")).alias("text_len"),
                F.coalesce(F.col("n.warc_ts"), F.col("o.warc_ts")).alias("warc_ts"),
                F.coalesce(
                    F.col("n.content_sha256"), F.col("o.content_sha256")
                ).alias("content_sha256"),
            )
        )
        txn = uuid.uuid4().hex[:8]
        tmp = f"{self.path}.tmp-{txn}"
        self._sharded(merged).write.partitionBy("shard").mode("overwrite").parquet(tmp)
        os.makedirs(self.path, exist_ok=True)
        new_shards = dict(manifest["shards"])
        for k in touched:
            src = os.path.join(tmp, f"shard={k}")
            # a staged shard is invisible until the manifest names it, so
            # a crash between staging and the commit surfaces no rows
            staged = f"shard-{k}-{txn}"
            if os.path.exists(src):
                os.rename(src, os.path.join(self.path, staged))
                new_shards[str(k)] = staged
            else:
                new_shards.pop(str(k), None)  # shard emptied out
        manifest = {"n_shards": self.n_shards, "shards": new_shards}
        self._commit_manifest(manifest)
        self._gc(manifest)
        shutil.rmtree(tmp, ignore_errors=True)

    def clear(self) -> None:
        """S5 — DELETE FROM scan_cache (cache.rs:79-84)."""
        if os.path.exists(self.path):
            shutil.rmtree(self.path)


def validity_join(pages_meta: DataFrame, memo: DataFrame) -> DataFrame:
    """J1 — left join pages↔memo on url; the memoized content hash is
    ``reused_sha256`` only when text_len AND warc_ts both match (stale ⇒
    null ⇒ caller recomputes). Mirrors lib.rs:97-105. ``pages_meta``
    needs (url, text_len, warc_ts)."""
    m = memo.select(
        F.col("url"),
        F.col("text_len").alias("m_len"),
        F.col("warc_ts").alias("m_ts"),
        F.col("content_sha256").alias("m_sha"),
    )
    valid = (F.col("text_len") == F.col("m_len")) & (
        F.col("warc_ts") == F.col("m_ts")
    )
    return (
        pages_meta.join(m, "url", "left")
        .withColumn("reused_sha256", F.when(valid, F.col("m_sha")))
        .drop("m_len", "m_ts", "m_sha")
    )
