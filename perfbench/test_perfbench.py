"""Unit tests of the benchmark's own code (no Spark session).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layertrace  # noqa: E402
import procmon  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _job(job_id, group, stages):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _task(stage, run_ms, cpu_ns=0, sw=0, remote=0, local=0, spill=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "Disk Bytes Spilled": spill,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": sw},
            "Shuffle Read Metrics": {"Remote Bytes Read": remote, "Local Bytes Read": local},
        },
    }


def test_fold_events_groups_jobs_and_sums_task_metrics():
    events = [
        _job(0, "0:page_meta", [0]),
        _task(0, 100, cpu_ns=2_000_000_000, sw=1_000_000),
        _task(0, 300, cpu_ns=1_000_000_000, sw=500_000, spill=2_000_000),
        # a later job lists stage 0 again (reused shuffle output): the
        # stage stays with the job that ran it
        _job(1, "0:assign_exact", [0, 1]),
        _task(1, 50, remote=250_000, local=750_000),
        _job(2, None, [2]),
        _task(2, 10),
        {"Event": "SparkListenerStageCompleted"},
    ]
    groups = layertrace.fold_events(events)
    meta, exact, none = groups["0:page_meta"], groups["0:assign_exact"], groups[""]
    assert (meta.jobs, exact.jobs, none.jobs) == (1, 1, 1)
    assert meta.cpu_s == pytest.approx(3.0)
    assert meta.shuffle_write_mb == pytest.approx(1.5)
    assert meta.spill_mb == pytest.approx(2.0)
    assert meta.task_run_ms == [100, 300]
    assert exact.shuffle_read_mb == pytest.approx(1.0)
    assert exact.task_run_ms == [50]


def test_task_skew_is_max_over_median():
    g = layertrace.GroupStats(task_run_ms=[10, 20, 30, 200])
    assert g.task_skew == pytest.approx(200 / 25)
    assert layertrace.GroupStats().task_skew == 0.0


def test_read_events_reads_a_log_directory(tmp_path):
    log = tmp_path / "events"
    log.mkdir()
    (log / "local-1").write_text(json.dumps(_job(0, "g", [0])) + "\n\n" + json.dumps(_task(0, 5)) + "\n")
    (log / ".local-1.crc").write_text("not json")
    assert [e["Event"] for e in layertrace.read_events(str(log))] == [
        "SparkListenerJobStart",
        "SparkListenerTaskEnd",
    ]


def test_layer_metrics_takes_medians_and_zero_fills_missing_layers():
    spans = {
        0: {"page_meta": layertrace.Span(wall_s=1.0, proc_cpu_s=2.0, rows_out=10)},
        1: {"page_meta": layertrace.Span(wall_s=3.0, proc_cpu_s=4.0, rows_out=10)},
    }
    groups = {
        "0:page_meta": layertrace.GroupStats(jobs=2, cpu_s=1.0, task_run_ms=[1, 1]),
        "1:page_meta": layertrace.GroupStats(jobs=4, cpu_s=3.0, task_run_ms=[1, 3]),
    }
    m = layertrace.layer_metrics(spans, groups)
    assert m["page_meta.wall_s"] == 2.0
    assert m["page_meta.jobs"] == 3.0
    assert m["page_meta.cpu_s"] == 2.0
    assert m["page_meta.task_skew"] == pytest.approx((1.0 + 1.5) / 2)
    assert m["memo_commit.wall_s"] == 0.0
    assert len(m) == len(layertrace.LAYERS) * 9


@pytest.mark.parametrize(
    "n, q",
    [(1, None), (19, None), (20, 0.5), (39, 0.5), (40, 0.75), (100, 0.9), (200, 0.95), (1000, 0.99)],
)
def test_tail_quantile_needs_ten_samples_beyond_it(n, q):
    assert run.tail_quantile(n) == q


def test_pairwise_f1_counts_only_labeled_pairs():
    clusters = pd.DataFrame({"url": ["a", "b", "c", "d"], "cluster_id": ["a", "a", "c", "c"]})
    labels = pd.DataFrame(
        {
            "url_a": ["a", "a", "c", "e"],
            "url_b": ["b", "c", "d", "f"],
            "is_dup": [True, False, False, True],
        }
    )
    # tp a-b; fp c-d; fn e-f (absent urls are never predicted)
    assert run.pairwise_f1(clusters, labels) == pytest.approx(0.5)
    assert run.pairwise_f1(clusters, labels.iloc[:2]) == 1.0


def _shard(root, name, rows):
    os.makedirs(os.path.join(root, name))
    table = pa.Table.from_pylist(rows)
    pq.write_table(table, os.path.join(root, name, "part-00000.parquet"))


def test_write_amp_on_a_tiny_memo(tmp_path):
    row = lambda url, n: {"url": url, "text_len": n, "content_sha256": f"h{n}"}  # noqa: E731
    before, after = str(tmp_path / "before"), str(tmp_path / "after")
    for root, shard0 in ((before, ".shard-0-a"), (after, ".shard-0-b")):
        os.makedirs(root)
        with open(os.path.join(root, "MANIFEST.json"), "w") as f:
            json.dump({"n_shards": 2, "shards": {"0": shard0, "1": ".shard-1-a"}}, f)
        _shard(root, ".shard-1-a", [row("x", 1), row("y", 2)])
    _shard(before, ".shard-0-a", [row("a", 1), row("b", 2), row("c", 3), row("d", 4)])
    # one changed row forces the whole 4-row shard to be rewritten
    _shard(after, ".shard-0-b", [row("a", 1), row("b", 2), row("c", 3), row("d", 5)])
    stats = run.memo_write_stats(before, after)
    assert stats["memo_commit.rows_written"] == 4
    assert stats["memo_commit.write_amp"] == pytest.approx(4.0)
    size = os.path.getsize(os.path.join(after, ".shard-0-b", "part-00000.parquet"))
    assert stats["memo_commit.mb_written"] == pytest.approx(size / 1e6)


def test_write_amp_is_a_row_ratio():
    assert run.write_amp(10, 5) == pytest.approx(2.0)
    assert run.write_amp(10, 0) == 0.0


def test_capped_check_fails_only_beyond_the_hot_family(tmp_path):
    from dedupe_algo_spark.functions.minhash import LSH_BANDS

    inputs = workloads.Inputs(pages="", n_pages=3, labels=pd.DataFrame(), hot_urls=frozenset({"a", "b"}))
    bench = run.Bench(None, "near_dup_heavy", inputs, str(tmp_path))
    bench.check_capped(LSH_BANDS, 2 * LSH_BANDS)  # the hot family, exactly
    bench.check_capped(0, 0)  # skew handling that keeps every bucket
    assert bench.failed == 0
    bench.check_capped(LSH_BANDS + 1, 2 * LSH_BANDS)
    bench.check_capped(LSH_BANDS, 2 * LSH_BANDS + 1)
    assert (bench.attempted, bench.failed) == (4, 2)


def _token_jaccard(a: str, b: str) -> float:
    sa, sb = set(a.split()), set(b.split())
    return len(sa & sb) / len(sa | sb)


def test_near_dup_heavy_truth_holds_by_construction():
    pages, labels, hot = workloads.near_dup_heavy_pdf(seed=3)
    assert len(pages) == workloads.NEAR_PAGES and pages["url"].is_unique
    text = dict(zip(pages["url"], pages["text"]))
    scores = [_token_jaccard(text[a], text[b]) for a, b in zip(labels["url_a"], labels["url_b"])]
    dup = labels["is_dup"].to_numpy()
    assert min(s for s, d in zip(scores, dup) if d) > 0.85
    assert max(s for s, d in zip(scores, dup) if not d) <= 0.8 - workloads.SUB_MARGIN
    hot_texts = {text[u] for u in hot}
    assert len(hot) == len(hot_texts) > workloads.DEFAULT_MAX_BUCKET
    assert len({tuple(t.split()) for t in hot_texts}) == 1
    again, _, _ = workloads.near_dup_heavy_pdf(seed=3)
    assert again.equals(pages)


def test_recrawl_changes_only_unlabeled_pages():
    day1 = workloads.synth_pages_pdf(1_000, seed=4)
    day2 = workloads.recrawl_pdf(day1, seed=4)
    changed = day1.index[day1["text"] != day2["text"]]
    assert len(changed) == 100
    assert not set(changed) & workloads.labeled_indices(1_000)
    assert (day2.loc[changed, "warc_ts"] > day1.loc[changed, "warc_ts"]).all()
    assert day1.drop(changed).equals(day2.drop(changed))


def test_process_tree_probes_see_children():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in procmon.descendants(os.getpid())
        tree = procmon.tree_rss(os.getpid())
        assert tree[os.getpid()] > 0 and tree[child.pid] > 0
        assert procmon.tree_cpu_s(os.getpid()) > 0
        assert procmon.steal_s() >= 0
    finally:
        child.kill()
        child.wait(timeout=10)


def test_measure_times_cpu_jobs_even_past_the_deadline():
    class Fake:
        def timed(self, what):
            return {"wall_s": 1.0, "cpu_s": 2.0, "steal_s": 0.0}, None

    assert len(run.measure(Fake(), 0, trace=False)["costs"]) == run.CPU_JOBS
