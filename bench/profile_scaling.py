"""Profile one dedup run per cluster size (2x4 vs 8x4 executors) with
Spark event logs, then break the wall-clock into per-stage durations,
task/cpu/GC sums, and driver gaps (wall time with no stage running).

This is the diagnosis tool for the north_rule N->4N scaling gate: the
per-stage lo-vs-hi ratio shows which stages scale with executors and
which are serial (driver planning, job-submit latency, tiny barrier
stages), so optimization effort lands where the non-scaling seconds are.

Usage: SCALING_PAGES=4000000 python bench/profile_scaling.py [lo|hi|both]
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from scaling import MASTER_URL, ensure_master, restart_worker  # noqa: E402

EVLOG_DIR = os.path.join(REPO, ".bench_cache", "eventlogs")

CHILD = r"""
import glob as _glob, json, os, sys, time
sys.path.insert(0, {repo!r})
from dedupe_algo_spark.session import get_spark
spark = get_spark(
    app_name="prof-{cores}", master={master!r},
    shuffle_partitions={cores} * 4,
    extra_conf={{
        "spark.cores.max": "{cores}",
        "spark.executor.cores": "4",
        "spark.executor.memory": "{exec_mem}",  # see scaling.py: 4g at hi (page cache), 8g at lo (2 executors hold half the caches)
        "spark.executor.extraJavaOptions": "-XX:ActiveProcessorCount=8",
        "spark.executorEnv.PYTHONPATH": {repo!r},
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": {evlog!r},
    }},
)
from dedupe_algo_spark.pipeline import dedup_pipeline
from dedupe_algo_spark.synth import synth_pages
dedup_pipeline(synth_pages(spark, 2000)).clusters.count()  # warmup
for _f in _glob.glob(os.path.join({pages!r}, "*.parquet")):
    with open(_f, "rb") as fh:
        while fh.read(1 << 24):
            pass
pages = spark.read.parquet({pages!r})
t0 = time.time()
n = dedup_pipeline(pages).clusters.count()
dt = time.time() - t0
print(json.dumps({{"cores": {cores}, "sec": round(dt, 3), "clustered": n,
                   "t0_ms": int(t0 * 1000),
                   "app_id": spark.sparkContext.applicationId}}))
spark.stop()
"""


def run_profiled(cores: int, pages_path: str) -> dict:
    restart_worker(cores)
    code = CHILD.format(
        repo=REPO, cores=cores, pages=pages_path, master=MASTER_URL,
        evlog=EVLOG_DIR, exec_mem="4g" if cores >= 32 else "8g",
    )
    out = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True, timeout=3600
    )
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(out.stderr[-3000:])
    return json.loads(lines[-1])


def _eventlog_lines(app_id: str):
    path = os.path.join(EVLOG_DIR, app_id)
    if os.path.isfile(path):
        files = [path]
    else:
        d = os.path.join(EVLOG_DIR, f"eventlog_v2_{app_id}")
        files = sorted(glob.glob(os.path.join(d, "events_*")))
    for f in files:
        with open(f) as fh:
            yield from fh


def parse_eventlog(app_id: str, t0_ms: int = 0) -> dict:
    """Summarize the event log, ignoring everything before ``t0_ms``
    (the warmup run shares the application)."""
    stages: dict[int, dict] = {}
    jobs = []
    t_first = None
    t_last = None
    for line in _eventlog_lines(app_id):
            ev = json.loads(line)
            k = ev.get("Event")
            if k == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                st = stages.setdefault(
                    sid,
                    {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                     "py_s": 0.0},
                )
                st["name"] = si["Stage Name"].split("\n")[0][:70]
                st["submit"] = si.get("Submission Time")
                st["complete"] = si.get("Completion Time")
                st["n_tasks_planned"] = si.get("Number of Tasks")
            elif k == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(
                    sid,
                    {"tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                     "py_s": 0.0},
                )
                tm = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                # per-task run times → skew view (max vs median task)
                st.setdefault("task_runs", []).append(
                    tm.get("Executor Run Time", 0) / 1e3
                )
                swm = tm.get("Shuffle Write Metrics") or {}
                st["swt_s"] = st.get("swt_s", 0.0) + swm.get("Shuffle Write Time", 0) / 1e9
                st["sw_gb"] = st.get("sw_gb", 0.0) + (
                    swm.get("Shuffle Bytes Written", 0)
                ) / 2**30
                srm = tm.get("Shuffle Read Metrics") or {}
                st["sr_gb"] = st.get("sr_gb", 0.0) + (
                    srm.get("Remote Bytes Read", 0) + srm.get("Local Bytes Read", 0)
                ) / 2**30
            elif k == "SparkListenerJobStart":
                jobs.append({"start": ev.get("Submission Time"), "end": None})
            elif k == "SparkListenerJobEnd" and jobs:
                jobs[-1]["end"] = ev.get("Completion Time")
            for key in ("Submission Time", "Completion Time", "Timestamp"):
                ts = (ev.get(key) or (ev.get("Stage Info", {}) or {}).get(key))
                if ts:
                    t_first = ts if t_first is None else min(t_first, ts)
                    t_last = ts if t_last is None else max(t_last, ts)
    stages = {
        sid: s
        for sid, s in stages.items()
        if (s.get("complete") or 0) >= t0_ms
    }
    # wall not covered by any running stage = driver/planning/submit time
    ivals = sorted(
        (max(s["submit"], t0_ms), s["complete"])
        for s in stages.values()
        if s.get("submit") and s.get("complete")
    )
    covered = 0
    cur_s = cur_e = None
    for a, b in ivals:
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        covered += cur_e - cur_s
    start = max(t_first or 0, t0_ms)
    wall = (t_last - start) / 1e3 if t_last else 0.0
    return {
        "stages": stages,
        "wall_s": wall,
        "stage_covered_s": covered / 1e3,
        "driver_gap_s": wall - covered / 1e3,
        "n_jobs": len(jobs),
    }


def report(tag: str, res: dict, prof: dict) -> None:
    print(f"\n=== {tag}: timed {res['sec']}s, app wall {prof['wall_s']:.1f}s, "
          f"stage-covered {prof['stage_covered_s']:.1f}s, "
          f"driver gaps {prof['driver_gap_s']:.1f}s, jobs {prof['n_jobs']}")
    rows = sorted(
        (
            ((s.get("complete") or 0) - (s.get("submit") or 0)) / 1e3,
            sid, s,
        )
        for sid, s in prof["stages"].items()
    )[::-1]
    print(f"{'dur_s':>7} {'tasks':>5} {'run_s':>8} {'cpu_s':>8} {'gc_s':>6} "
          f"{'swt_s':>6} {'sw_GB':>6} {'sr_GB':>6} {'skew':>5}  name")
    for dur, sid, s in rows[:28]:
        print(
            f"{dur:7.1f} {s['tasks']:5d} {s['run_s']:8.1f} {s['cpu_s']:8.1f} "
            f"{s['gc_s']:6.1f} {s.get('swt_s', 0):6.1f} "
            f"{s.get('sw_gb', 0):6.1f} {s.get('sr_gb', 0):6.1f} "
            f"{task_skew(s):5.1f}"
            f"  [{sid}] {s.get('name', '?')}"
        )


def task_skew(s: dict) -> float:
    """max-task / median-task run time — the hot-partition indicator.
    The synth corpus plants head-domain skew (synth.py skew blocks), so
    a bounded ratio here on the candidate self-join stage is the
    evidence that the hot-bucket cap + AQE skew-join hold at scale."""
    runs = sorted(s.get("task_runs") or [])
    if not runs:
        return 0.0
    med = runs[len(runs) // 2]
    return (runs[-1] / med) if med > 0 else 0.0


def detect_t0_ms(app_id: str) -> int:
    """Start of the timed run inside an application that also ran the
    JIT warmup and the page-cache warm: the warmup pipeline reads no
    parquet (synth input), so the FIRST parquet stage (the timed run's
    schema-inference job) marks t0."""
    for line in _eventlog_lines(app_id):
        ev = json.loads(line)
        if ev.get("Event") == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            if si["Stage Name"].startswith("parquet") and si.get("Submission Time"):
                return si["Submission Time"]
    # No parquet stage ⇒ either the app never reached the timed run or a
    # future warmup started reading parquet (which would make the FIRST
    # match the warmup's stage). Returning 0 silently would skew every
    # per-stage offset, so fail loudly and make the caller pass t0_ms.
    raise RuntimeError(
        f"detect_t0_ms({app_id}): no parquet stage found in the event log; "
        "pass an explicit t0_ms (analyze <app_id> <t0_ms>)"
    )


def analyze(app_id: str, t0_ms: int | None = None) -> None:
    """Post-hoc per-stage report over an existing event log (no Spark
    run) — `python bench/profile_scaling.py analyze <app_id> [t0_ms]`."""
    t0 = detect_t0_ms(app_id) if t0_ms is None else t0_ms
    prof = parse_eventlog(app_id, t0)
    report(f"{app_id} (t0={t0})", {"sec": prof["wall_s"]}, prof)


def main() -> None:
    n_pages = int(os.environ.get("SCALING_PAGES", "4000000"))
    which = sys.argv[1] if len(sys.argv) > 1 else "both"
    if which == "analyze":
        analyze(sys.argv[2], int(sys.argv[3]) if len(sys.argv) > 3 else None)
        return
    pages_path = os.path.join(REPO, ".bench_cache", f"pages_{n_pages}")
    assert os.path.exists(os.path.join(pages_path, "_SUCCESS")), pages_path
    os.makedirs(EVLOG_DIR, exist_ok=True)
    ensure_master()
    out = {}
    if which in ("hi", "both"):
        res = run_profiled(32, pages_path)
        out["hi"] = (res, parse_eventlog(res["app_id"], res["t0_ms"]))
    if which in ("lo", "both"):
        res = run_profiled(8, pages_path)
        out["lo"] = (res, parse_eventlog(res["app_id"], res["t0_ms"]))
    for tag, (res, prof) in out.items():
        report(tag, res, prof)


if __name__ == "__main__":
    main()
