#!/usr/bin/env python3
"""Benchmark of the flagship ``dedup_pipeline``.

    python3 perfbench/run.py --workload near_dup_heavy --seed 1 --seconds 15 --trace 0

Run from the repository root. One process generates the workload's
inputs from ``--seed`` (cached under ``.perfbench_cache/``), starts a
Spark session on ``local[<cores>]`` and runs the workload's job as a
closed loop: one job at a time, the next started when the previous one
ends, for ``--seconds``. Every job's output is checked against the
planted truth.

Set-up, untimed in the loop: the session start and the first (cold) job
in the fresh session; on ``memo_refresh`` also the day-1 run that writes
the memo (``Bench.setup``).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` logs Spark
events and alternates untraced jobs with traced ones, which call each
layer's public functions one span at a time (``layertrace.py``); it
reports the per-layer metrics. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds the raw samples and the CPU control probe.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import pandas as pd  # noqa: E402

import layertrace  # noqa: E402
import procmon  # noqa: E402
import workloads  # noqa: E402
from bench import cpu_control  # noqa: E402

CACHE_DIR = os.path.join(ROOT, ".perfbench_cache")
TMP_DIR = os.path.join(ROOT, ".perfbench_tmp")
DRIVER_MEM = "2g"  # the default 16g heap is larger than a small box's RAM
DEADLINE_S = 170  # a run must end within 180 s
# cpu_s is the median over the first CPU_JOBS timed jobs of every run, and
# every untraced run times at least that many. A job's CPU time falls job by job
# while the JIT compiler catches up (memo_refresh: 25-31, 20-25, 18-19 s
# for the first three), so a median over however many jobs fit in
# --seconds would move with the number that fit, not with the program.
CPU_JOBS = 2


def declared_units(kind: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``, from the
    repository's BENCHMARK.json, the one list of what a run reports."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


class Timeout(BaseException):
    """Raised by the run's alarm; not an ``Exception``, so the per-job
    failure handlers do not count it as a failed job."""


def tail_quantile(n: int, min_beyond: int = 10) -> float | None:
    """Highest reported quantile with at least ``min_beyond`` of ``n``
    samples above it; None when even the median has too few."""
    for pct in (99, 95, 90, 75, 50):
        if n * (100 - pct) >= 100 * min_beyond:  # integers: no rounding at the edge
            return pct / 100
    return None


def pairwise_f1(clusters: pd.DataFrame, labels: pd.DataFrame) -> float:
    """Pairwise F1 over the labeled pairs: a pair is predicted a
    duplicate when both urls are clustered under one ``cluster_id``
    (the semantics of ``dedupe_algo_spark.pipeline.pairwise_f1``)."""
    cid = dict(zip(clusters["url"], clusters["cluster_id"]))
    a, b = labels["url_a"].map(cid), labels["url_b"].map(cid)
    pred = a.notna() & b.notna() & (a == b)
    dup = labels["is_dup"].astype(bool)
    tp, fp, fn = int((pred & dup).sum()), int((pred & ~dup).sum()), int((~pred & dup).sum())
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    return 2 * precision * recall / (precision + recall) if precision + recall else 0.0


def cluster_set(clusters: pd.DataFrame) -> frozenset:
    return frozenset(clusters[["url", "cluster_id", "match_kind"]].itertuples(index=False, name=None))


def manifest_dirs(memo_path: str) -> set[str]:
    with open(os.path.join(memo_path, "MANIFEST.json")) as f:
        return set(json.load(f)["shards"].values())


def memo_frame(memo_path: str, dirs) -> pd.DataFrame:
    files = [
        os.path.join(memo_path, d, f)
        for d in sorted(dirs)
        for f in sorted(os.listdir(os.path.join(memo_path, d)))
        if f.endswith(".parquet")
    ]
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def write_amp(rows_written: int, rows_changed: int) -> float:
    """Rows the commit wrote per row whose content changed (a row ratio:
    ``memo_commit.mb_written`` carries the bytes)."""
    return rows_written / rows_changed if rows_changed else 0.0


def memo_write_stats(before_path: str, after_path: str) -> dict[str, float]:
    """What a commit wrote: the shards the new manifest references that
    the old one did not, against the rows whose content changed."""
    new = manifest_dirs(after_path) - manifest_dirs(before_path)
    nbytes = sum(
        os.path.getsize(os.path.join(after_path, d, f))
        for d in new
        for f in os.listdir(os.path.join(after_path, d))
        if f.endswith(".parquet")
    )
    rows = sum(layertrace.parquet_rows(os.path.join(after_path, d)) for d in new)
    old = memo_frame(before_path, manifest_dirs(before_path))
    cur = memo_frame(after_path, manifest_dirs(after_path))
    changed = int((cur.merge(old, how="left", indicator=True)["_merge"] == "left_only").sum())
    return {
        "memo_commit.rows_written": rows,
        "memo_commit.mb_written": nbytes / 1e6,
        "memo_commit.write_amp": write_amp(rows, changed),
    }


class Bench:
    """One workload in one Spark session: set-up, jobs and checks."""

    def __init__(self, spark, workload: str, inputs: workloads.Inputs, tmp: str):
        self.spark = spark
        self.workload = workload
        self.inputs = inputs
        self.memo_live = os.path.join(tmp, "memo")
        self.memo_day1 = os.path.join(tmp, "memo_day1")
        self.reference: frozenset | None = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.f1: list[float] = []

    @property
    def uses_memo(self) -> bool:
        return self.workload == "memo_refresh"

    def memo(self):
        from dedupe_algo_spark.sources.memo import HashMemo

        return HashMemo(self.spark, self.memo_live)

    def restore_memo(self) -> None:
        shutil.rmtree(self.memo_live, ignore_errors=True)
        shutil.copytree(self.memo_day1, self.memo_live)

    def job(self, pages_path: str, memo=None) -> tuple[dict[str, float], pd.DataFrame]:
        """The timed unit: pipeline, consume the clusters, commit the memo
        → ({wall_s, cpu_s, steal_s}, clusters). ``cpu_s`` is the CPU time
        of the whole process tree (driver JVM, Python driver and workers);
        ``steal_s`` is CPU time the hypervisor gave to other guests."""
        from dedupe_algo_spark.pipeline import dedup_pipeline

        cpu0, steal0 = procmon.tree_cpu_s(os.getpid()), procmon.steal_s()
        t0 = time.perf_counter()
        res = dedup_pipeline(self.spark.read.parquet(pages_path), memo=memo)
        clusters = res.clusters.toPandas()
        if memo is not None:
            res.commit_memo()
        cost = {
            "wall_s": time.perf_counter() - t0,
            "cpu_s": procmon.tree_cpu_s(os.getpid()) - cpu0,
            "steal_s": procmon.steal_s() - steal0,
        }
        res.unpersist()
        return cost, clusters

    def record(self, what: str, bad: list[str]) -> None:
        """One attempted job or check; it failed if ``bad`` is non-empty."""
        self.attempted += 1
        self.failed += bool(bad)
        self.problems.extend(f"{what}: {b}" for b in bad)

    def check(self, clusters: pd.DataFrame, what: str, extra: list[str] = ()) -> None:
        bad = list(extra)
        if clusters["url"].duplicated().any():
            bad.append("a url is clustered twice")
        f1 = pairwise_f1(clusters, self.inputs.labels)
        self.f1.append(f1)
        if f1 != 1.0:
            bad.append(f"pairwise f1 {f1:.6f} != 1")
        if self.inputs.hot_urls:
            hot = clusters["url"].isin(self.inputs.hot_urls)
            mixed = set(clusters.loc[hot, "cluster_id"]) & set(clusters.loc[~hot, "cluster_id"])
            if mixed:
                bad.append(f"{len(mixed)} clusters mix the capped family with other pages")
        if self.reference is not None and cluster_set(clusters) != self.reference:
            bad.append("clusters differ from the memo-less run on the same input")
        self.record(what, bad)

    def fail(self, what: str) -> None:
        self.record(what, [f"raised\n{traceback.format_exc()}"])

    def setup(self) -> tuple[float, float]:
        """The cold job, then on memo_refresh the day-1 memo job →
        (cold wall, day-1 wall). On memo_refresh the cold job is the
        memo-less run whose clusters every memo run must reproduce, and
        the day-1 run's ``commit_memo`` writes the memo that is restored
        before every timed job."""
        self.spark.sparkContext.setJobGroup("setup", "cold start")
        cold, clusters = self.job(self.inputs.pages)
        self.check(clusters, "cold job")
        if not self.uses_memo:
            return cold["wall_s"], 0.0
        reference = cluster_set(clusters)
        day1, clusters = self.job(self.inputs.day1, self.memo())
        self.check(clusters, "day-1 memo job")
        shutil.copytree(self.memo_live, self.memo_day1)
        self.reference = reference
        return cold["wall_s"], day1["wall_s"]

    def timed(self, what: str) -> tuple[dict[str, float], pd.DataFrame] | None:
        self.spark.sparkContext.setJobGroup("untraced", "timed job")
        memo = None
        if self.uses_memo:
            self.restore_memo()
            memo = self.memo()
        try:
            cost, clusters = self.job(self.inputs.pages, memo)
        except Exception:
            self.fail(what)
            return None
        self.check(clusters, what)
        return cost, clusters

    def traced(self, iteration: int):
        tracer = layertrace.Tracer(self.spark, iteration)
        memo = None
        if self.uses_memo:
            self.restore_memo()
            memo = self.memo()
        try:
            clusters, probe, tracker = layertrace.traced_pipeline(
                self.spark, self.spark.read.parquet(self.inputs.pages), tracer, memo
            )
        except Exception:
            self.fail(f"traced job {iteration}")
            return None
        tracker.release()
        if memo is not None:
            stats = memo_write_stats(self.memo_day1, self.memo_live)
            probe.update(stats)
            tracer.spans["memo_commit"].rows_out = stats["memo_commit.rows_written"]
        return tracer.spans, probe, clusters

    def check_capped(self, capped_buckets: int, capped_members: int) -> None:
        """near_dup_heavy: only the hot family's buckets may be capped.
        Fewer is allowed (skew handling that keeps the hot buckets);
        ``f1`` cannot see the hot family, whose pairs are unlabeled."""
        from dedupe_algo_spark.functions.minhash import LSH_BANDS

        if not self.inputs.hot_urls:
            return
        most = (LSH_BANDS, LSH_BANDS * len(self.inputs.hot_urls))
        got = (capped_buckets, capped_members)
        over = got[0] > most[0] or got[1] > most[1]
        self.record("capped family", [f"capped buckets/members {got} exceed {most}"] if over else [])

    def capped_counts(self) -> tuple[int, int]:
        """``dropped_buckets`` over the rep band keys, outside any timing."""
        from pyspark.sql import functions as F

        from dedupe_algo_spark.operators.candidates import (
            DEFAULT_MAX_BUCKET,
            bucket_table_from_bands,
            dropped_buckets,
        )
        from dedupe_algo_spark.operators.dedup import assign_exact, page_meta

        self.spark.sparkContext.setJobGroup("check", "capped bucket count")
        assigned = assign_exact(page_meta(self.spark.read.parquet(self.inputs.pages)))
        reps = assigned.where(F.col("url") == F.col("rep_url")).select("url", "bands")
        row = dropped_buckets(bucket_table_from_bands(reps), DEFAULT_MAX_BUCKET).agg(
            F.count(F.lit(1)).alias("n"), F.sum("n_members").alias("m")
        ).first()
        return int(row["n"]), int(row["m"] or 0)


def configure_env(tmp: str) -> None:
    """Process environment the driver JVM and Python workers inherit."""
    for sub in ("audit", "local", "tmp"):
        os.makedirs(os.path.join(tmp, sub), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["DEDUPE_AUDIT_DIR"] = os.path.join(tmp, "audit")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "tmp")


def spark_conf(tmp: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        # a fixed-size heap, every page touched at start: the JVM's share
        # of peak RSS does not swing with GC timing from run to run; no
        # perf-data file (it would go to /tmp, outside the checkout)
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(tmp, 'tmp')}"
        ),
    }
    if trace:
        os.makedirs(os.path.join(tmp, "events"), exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(tmp, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait for every process
    the session started (JVM, Python daemon, workers) to end."""
    from pyspark import SparkContext

    started = procmon.descendants(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in started if (procmon._stat_fields(p) or ["Z"])[0] != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            return
        time.sleep(0.1)


def measure(bench: Bench, seconds: float, trace: bool) -> dict:
    """The closed loop. Untraced: timed jobs only. Traced: each round is
    an untraced job then a traced one on the same input."""
    costs: list[dict[str, float]] = []
    spans: dict[int, dict] = {}
    probes: list[dict] = []
    deadline = time.perf_counter() + seconds
    it = 0
    while True:
        out = bench.timed(f"job {it}")
        if out is not None:
            costs.append(out[0])
        if trace:
            t = bench.traced(it)
            if t is not None:
                spans[it], probe, clusters = t
                probes.append(probe)
                drift = out is not None and cluster_set(clusters) != cluster_set(out[1])
                bench.check(
                    clusters,
                    f"traced job {it}",
                    ["clusters differ from dedup_pipeline's on the same input"] if drift else [],
                )
        it += 1
        # a traced round is two jobs; one round keeps a slow box in time
        if it >= (1 if trace else CPU_JOBS) and time.perf_counter() >= deadline:
            break
    return {"costs": costs, "spans": spans, "probes": probes}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)

    def on_alarm(signum, frame):
        raise Timeout(f"run exceeded {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(DEADLINE_S)
    tmp = os.path.join(TMP_DIR, str(os.getpid()))
    try:
        configure_env(tmp)
        t0 = time.perf_counter()
        inputs = workloads.materialise(args.workload, args.seed, CACHE_DIR)
        gen_s = time.perf_counter() - t0
        ctl = [cpu_control()]
        with procmon.PeakRss(os.getpid()) as rss:
            from dedupe_algo_spark.session import get_spark

            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=spark_conf(tmp, trace))
            session_s = time.perf_counter() - t0
            try:
                bench = Bench(spark, args.workload, inputs, tmp)
                cold_s, day1_s = bench.setup()
                res = measure(bench, args.seconds, trace)
                if inputs.hot_urls and not trace:
                    bench.check_capped(*bench.capped_counts())
                for p in res["probes"]:
                    bench.check_capped(p["candidates.capped_buckets"], p["candidates.capped_members"])
            finally:
                stop_spark(spark)
        ctl.append(cpu_control())
        if not res["costs"]:
            raise RuntimeError("no timed job completed")
        samples = {k: [c[k] for c in res["costs"]] for k in res["costs"][0]}
        wall = statistics.median(samples["wall_s"])
        end_to_end = {
            "cpu_s": statistics.median(samples["cpu_s"][:CPU_JOBS]),
            "setup_s": session_s + cold_s + day1_s,
            "peak_rss_mb": rss.peak / 1e6,
            "f1": min(bench.f1),
            "success_frac": 1 - bench.failed / bench.attempted,
        }
        # Printed for every run but not bounded in BENCHMARK.json: on a
        # shared virtual machine they move with the neighbours' load
        # (README.md, "Why cpu_s is the bounded time").
        unbounded = {
            "wall_s": {"value": wall, "unit": "s", "n": len(samples["wall_s"])},
            "pages_per_s": {"value": inputs.n_pages / wall, "unit": "1/s"},
            "cold_wall_s": {"value": cold_s, "unit": "s"},
            "steal_s": {"value": statistics.median(samples["steal_s"]), "unit": "s"},
            # 0 on a good run, and a bounded metric must never be 0
            "failed_frac": {"value": bench.failed / bench.attempted, "unit": "ratio"},
        }
        q = tail_quantile(len(samples["wall_s"]))
        if q is not None:
            cut = statistics.quantiles(samples["wall_s"], n=100, method="inclusive")
            unbounded["wall_s"][f"p{round(q * 100)}"] = cut[round(q * 100) - 1]
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "pages": inputs.n_pages,
            "unbounded": unbounded,
            "samples": samples,
            "session_s": session_s,
            "day1_memo_job_s": day1_s,
            "input_gen_s": gen_s,
            "cpu_control_s": ctl,
            "peak_rss_procs_mb": [round(b / 1e6) for b in rss.peak_procs],
            "problems": bench.problems,
        }
        if trace:
            groups = layertrace.fold_events(layertrace.read_events(os.path.join(tmp, "events")))
            metrics = layertrace.layer_metrics(res["spans"], groups)
            if not res["probes"]:
                raise RuntimeError("no traced job completed")
            for k in res["probes"][0]:
                metrics[k] = statistics.median(p[k] for p in res["probes"])
            for k in ("memo_commit.rows_written", "memo_commit.mb_written", "memo_commit.write_amp"):
                metrics.setdefault(k, 0.0)
            traced_walls = [sum(s.wall_s for s in sp.values()) for sp in res["spans"].values()]
            metrics["trace.coverage"] = statistics.median(traced_walls) / wall
            metrics["env.cpu_control_s"] = statistics.median(ctl)
            detail["end_to_end"] = end_to_end
        else:
            metrics = end_to_end
        units = declared_units("per_layer" if trace else "end_to_end")
        if set(units) != set(metrics):
            raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(units) ^ set(metrics))}")
        print(json.dumps(detail))
        correct = bench.failed == 0
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": bench.attempted,
                    "failed": bench.failed,
                    "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
                }
            )
        )
        for p in bench.problems:
            print(p, file=sys.stderr)
        return 0 if correct else 1
    finally:
        signal.alarm(0)
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
