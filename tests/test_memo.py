"""Hash-memo semantics: J1 validity join + S4 COALESCE upsert
(cache.rs:19-77, lib.rs:97-105)."""

from __future__ import annotations

import datetime

import pandas as pd
import pytest
from pyspark.sql import functions as F

from dedupe_algo_spark.schemas import MEMO_SCHEMA
from dedupe_algo_spark.sources.memo import HashMemo, validity_join

T1 = datetime.datetime(2026, 1, 1)
T2 = datetime.datetime(2026, 2, 2)


def _memo_df(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=MEMO_SCHEMA.fieldNames()), schema=MEMO_SCHEMA
    )


def test_validity_join_hit_and_stale(spark):
    memo = _memo_df(
        spark,
        [
            ("u1", 100, T1, "s1"),  # valid
            ("u2", 100, T1, "s2"),  # stale ts below
            ("u3", 100, T1, "s3"),  # stale len below
        ],
    )
    pages = spark.createDataFrame(
        [("u1", 100, T1), ("u2", 100, T2), ("u3", 999, T1), ("u4", 5, T1)],
        "url string, text_len long, warc_ts timestamp",
    )
    out = {r["url"]: r for r in validity_join(pages, memo).collect()}
    assert out["u1"]["reused_sha256"] == "s1"
    assert out["u2"]["reused_sha256"] is None  # mtime changed → recompute
    assert out["u3"]["reused_sha256"] is None  # size changed → recompute
    assert out["u4"]["reused_sha256"] is None  # never seen


def test_upsert_coalesce_never_nulls_a_hash(spark, tmp_path):
    memo = HashMemo(spark, str(tmp_path / "memo"))
    memo.upsert(_memo_df(spark, [("u1", 100, T1, "s1")]))
    # new row with a null hash must keep the old hash (cache.rs:69-70)
    memo.upsert(_memo_df(spark, [("u1", 100, T2, None)]))
    row = memo.read().collect()[0]
    assert row["content_sha256"] == "s1"
    assert row["warc_ts"] == T2  # metadata updated


def test_upsert_inserts_and_updates(spark, tmp_path):
    memo = HashMemo(spark, str(tmp_path / "memo"))
    memo.upsert(_memo_df(spark, [("u1", 1, T1, "s1")]))
    memo.upsert(_memo_df(spark, [("u2", 2, T1, "s2"), ("u1", 1, T1, "sx")]))
    rows = {r["url"]: r for r in memo.read().collect()}
    assert set(rows) == {"u1", "u2"}
    assert rows["u1"]["content_sha256"] == "sx"  # non-null new wins


def test_upsert_touches_only_affected_shards(spark, tmp_path):
    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=8)
    seed = [(f"u{i}", i, T1, f"s{i}") for i in range(64)]
    memo.upsert(_memo_df(spark, seed))

    before = memo._load_manifest()["shards"]
    assert len(before) > 1  # keys actually spread
    memo.upsert(_memo_df(spark, [("u1", 1, T2, None)]))
    after = memo._load_manifest()["shards"]
    changed = [k for k in after if before.get(k) != after[k]]
    assert len(changed) == 1  # one key -> exactly one shard version bumped
    rows = {r["url"]: r for r in memo.read().collect()}
    assert len(rows) == 64
    assert rows["u1"]["warc_ts"] == T2
    assert rows["u1"]["content_sha256"] == "s1"  # COALESCE kept across shard rewrite


def test_crashed_upsert_leaves_state_intact(spark, tmp_path, monkeypatch):
    """Staging is invisible until the single manifest replace: an upsert
    that dies after writing every staged shard but before the commit
    leaves reads on the old state, and the next successful upsert lands
    the new rows and collects the orphans."""
    import os

    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=4)
    memo.upsert(_memo_df(spark, [(f"u{i}", i, T1, f"s{i}") for i in range(16)]))

    def boom(manifest):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(memo, "_commit_manifest", boom)
    with pytest.raises(RuntimeError):
        memo.upsert(_memo_df(spark, [("u1", 1, T2, None)]))
    monkeypatch.undo()
    rows = {r["url"]: r for r in memo.read().collect()}
    assert len(rows) == 16 and rows["u1"]["warc_ts"] == T1  # old state
    orphans = [d for d in os.listdir(path) if d.startswith("shard-")]
    assert len(orphans) > len(memo._load_manifest()["shards"])  # staged junk

    memo.upsert(_memo_df(spark, [("u1", 1, T2, None)]))
    rows = {r["url"]: r for r in memo.read().collect()}
    assert rows["u1"]["warc_ts"] == T2 and rows["u1"]["content_sha256"] == "s1"
    live = set(memo._load_manifest()["shards"].values())
    on_disk = {d for d in os.listdir(path) if d.startswith("shard-")}
    assert on_disk == live  # orphans collected


def _write_five_column_memo(memo, rows):
    """Commit ``rows`` (url, text_len, warc_ts, partial_hash,
    content_sha256) the way memos were written before the memo dropped
    its partial hash: one parquet file per ``.shard-<k>-<txn>`` dir with
    the fifth column, and a MANIFEST.json naming the dirs."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    urls = memo.spark.createDataFrame([(r[0],) for r in rows], "url string")
    shard_of = {r["url"]: r["shard"] for r in memo._sharded(urls).collect()}
    shards = {}
    for k in sorted(set(shard_of.values())):
        part = [r for r in rows if shard_of[r[0]] == k]
        name = f".shard-{k}-old00000"
        os.makedirs(os.path.join(memo.path, name))
        table = pa.table(
            {
                "url": [r[0] for r in part],
                "text_len": pa.array([r[1] for r in part], pa.int64()),
                "warc_ts": pa.array(
                    [int(r[2].timestamp() * 1_000_000) for r in part],
                    pa.timestamp("us", tz="UTC"),
                ),
                "partial_hash": [r[3] for r in part],
                "content_sha256": [r[4] for r in part],
            }
        )
        pq.write_table(table, os.path.join(memo.path, name, "part-0.parquet"))
        shards[str(k)] = name
    with open(os.path.join(memo.path, "MANIFEST.json"), "w") as f:
        json.dump({"n_shards": memo.n_shards, "shards": shards}, f)


def test_five_column_manifested_memo_still_works(spark, tmp_path):
    """A memo committed with the extra partial_hash column (in the older
    hidden ``.shard-<k>-<txn>`` dirs) reads as MEMO_SCHEMA, and upserts
    against it keep COALESCE keep-old on content_sha256 while old
    5-column and rewritten 4-column shards sit side by side; the
    replaced hidden dir is collected."""
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=4)
    _write_five_column_memo(
        memo, [(f"u{i}", i, T1, f"p{i}", f"s{i}") for i in range(16)]
    )
    first = memo.read()
    assert first.columns == MEMO_SCHEMA.fieldNames()
    assert {r["url"]: r["content_sha256"] for r in first.collect()} == {
        f"u{i}": f"s{i}" for i in range(16)
    }

    before = memo._load_manifest()["shards"]
    memo.upsert(_memo_df(spark, [("u1", 1, T2, None)]))
    after = memo._load_manifest()["shards"]
    changed = [k for k in after if before[k] != after[k]]
    assert len(changed) == 1
    assert before[changed[0]].startswith(".shard-")
    assert after[changed[0]].startswith("shard-")
    assert set(os.listdir(path)) == set(after.values()) | {"MANIFEST.json"}

    def columns(k):
        d = os.path.join(path, after[k])
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        return {c for f in files for c in pq.read_schema(os.path.join(d, f)).names}

    assert "partial_hash" not in columns(changed[0])
    assert all("partial_hash" in columns(k) for k in after if k not in changed)

    memo.upsert(_memo_df(spark, [("u2", 2, T2, "sx"), ("u20", 20, T1, "s20")]))
    rows = {r["url"]: r for r in memo.read().collect()}
    assert len(rows) == 17
    assert rows["u1"]["content_sha256"] == "s1" and rows["u1"]["warc_ts"] == T2
    assert rows["u2"]["content_sha256"] == "sx"  # non-null new wins
    assert rows["u20"]["content_sha256"] == "s20"
    for i in range(3, 16):
        assert (rows[f"u{i}"]["warc_ts"], rows[f"u{i}"]["content_sha256"]) == (
            T1,
            f"s{i}",
        )


def test_committed_shard_dirs_are_not_hidden(spark, tmp_path):
    """Spark skips ``.``/``_``-prefixed paths as hidden, so a committed
    shard directory must carry neither prefix."""
    import os

    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=4)
    memo.upsert(_memo_df(spark, [(f"u{i}", i, T1, f"s{i}") for i in range(16)]))
    live = set(memo._load_manifest()["shards"].values())
    assert len(live) > 1
    assert not any(d.startswith((".", "_")) for d in live)
    assert set(os.listdir(path)) == live | {"MANIFEST.json"}


def test_pre_manifest_memo_reads_as_empty(spark, pages_1k, tmp_path):
    """A flat parquet memo with no MANIFEST.json is not read: the memo
    run computes every hash and clusters as a memo-less run does, even
    though the flat rows carry valid (text_len, warc_ts) and wrong
    hashes; commit_memo then leaves a manifested memo holding only this
    run's rows."""
    import os

    from dedupe_algo_spark.operators.dedup import page_meta
    from dedupe_algo_spark.pipeline import dedup_pipeline

    path = str(tmp_path / "memo")
    flat = (
        page_meta(pages_1k, with_signature=False)
        .join(pages_1k.select("url", "warc_ts"), "url")
        .select(
            "url",
            "text_len",
            "warc_ts",
            F.lit("p").alias("partial_hash"),
            F.lit("SENTINEL").alias("content_sha256"),
        )
        .unionByName(
            _memo_df(spark, [("https://gone.example/x", 50, T1, "s")]).withColumn(
                "partial_hash", F.lit("p")
            )
        )
    )
    flat.write.parquet(path)
    memo = HashMemo(spark, path, n_shards=4)
    assert memo.read().count() == 0

    def triples(res):
        return {
            (r["url"], r["cluster_id"], r["match_kind"])
            for r in res.clusters.collect()
        }

    plain = dedup_pipeline(pages_1k)
    expected = triples(plain)
    plain.unpersist()
    res = dedup_pipeline(pages_1k, memo=memo)
    assert triples(res) == expected
    assert res.meta.where(F.col("cache_hit")).count() == 0
    run_rows = {
        (r["url"], r["content_sha256"]) for r in res.meta.collect()
    }
    res.commit_memo()
    res.unpersist()

    manifest = memo._load_manifest()
    assert manifest is not None
    assert {(r["url"], r["content_sha256"]) for r in memo.read().collect()} == run_rows
    assert set(os.listdir(path)) == set(manifest["shards"].values()) | {
        "MANIFEST.json"
    }


def test_clear(spark, tmp_path):
    memo = HashMemo(spark, str(tmp_path / "memo"))
    memo.upsert(_memo_df(spark, [("u1", 1, T1, "s")]))
    memo.clear()
    assert memo.read().count() == 0


def test_reopen_adopts_committed_shard_count(spark, tmp_path):
    """A memo committed with n_shards=4 reopened with the default 16
    must adopt 4 BEFORE sharding the updates — the shard column and the
    manifest swap have to agree or updates silently vanish."""
    path = str(tmp_path / "memo")
    HashMemo(spark, path, n_shards=4).upsert(
        _memo_df(spark, [(f"u{i}", i, T1, f"s{i}") for i in range(16)])
    )
    memo = HashMemo(spark, path)  # default n_shards=16
    memo.upsert(
        _memo_df(spark, [(f"u{i}", i, T2, None) for i in range(16)])
    )
    assert memo.n_shards == 4
    rows = {r["url"]: r for r in memo.read().collect()}
    assert len(rows) == 16
    for i in range(16):
        assert rows[f"u{i}"]["warc_ts"] == T2  # every update landed
        assert rows[f"u{i}"]["content_sha256"] == f"s{i}"  # COALESCE kept


def test_crashed_first_upsert_reads_as_empty(spark, tmp_path, monkeypatch):
    """A first-ever upsert that dies after staging but before the
    manifest commit must leave the memo reading as its previous state —
    empty — not surface the uncommitted rows (staged dirs are hidden)."""
    path = str(tmp_path / "memo")
    memo = HashMemo(spark, path, n_shards=4)

    def boom(manifest):
        raise RuntimeError("crash before first commit")

    monkeypatch.setattr(memo, "_commit_manifest", boom)
    with pytest.raises(RuntimeError):
        memo.upsert(_memo_df(spark, [("u1", 1, T1, "s1")]))
    monkeypatch.undo()
    assert memo.read().count() == 0  # previous (empty) state intact

    memo.upsert(_memo_df(spark, [("u1", 1, T2, "s1")]))
    rows = {r["url"]: r for r in memo.read().collect()}
    assert rows["u1"]["warc_ts"] == T2  # recovery upsert lands cleanly
