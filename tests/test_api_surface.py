"""Every top-level def in dedupe_algo_spark/ is reached by name (AST) from
the roots: jobs, scripts, the package's module-level code (which holds the
QUERIES registry) and the kept API below, each with the reason it stays."""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "dedupe_algo_spark"
ROOTS = ["jobs", "tools", "bench", "perfbench", "bench.py", "__spark_entry__.py"]
ALLOWED = {
    "warc_cdx_index": "README API: CDX index, one row per gzip member",
    "fetch_cdx_hits": "README API: grouped point-fetch of CDX hits",
    "fetch_warc_record": "README API: ranged read of one indexed record",
    "parse_warc_cdx": "README API: CDX line parser",
    "iter_gzip_members": "README API: gzip member walk behind the CDX index",
    "progress_stream": "README API: watermarked progress windows",
    "minhash_band_keys": "pure-Python reference the band UDF is tested against",
    "lsh_plan": "S-curve derivation the flagship 32x4 banding is tested against",
    "estimate_jaccard": "signature estimate the MinHash property tests check",
    "estimate_wjaccard": "signature estimate the weighted MinHash tests check",
    "incremental_unseen": "anti-join whose zero corpus-side Exchange is pinned",
    "expected_pattern_counts": "noise-free EM fixture for em_fit",
    "persistent_rdd_ids": "cache-leak probe for pipeline and CC tests",
    "run_to_memory": "drains a streaming query in streaming tests",
}
ALLOWED_MODULES = {"plans": "plan-inspection helpers", "synth": "test/bench inputs"}


def _names(node: ast.AST) -> set[str]:
    return {
        getattr(n, "id", None) or getattr(n, "attr", None) or n.name.split(".")[-1]
        for n in ast.walk(node)
        if isinstance(n, (ast.Name, ast.Attribute, ast.alias))
    }


def test_every_library_def_is_reached_or_allowed():
    defs, todo = {}, set(ALLOWED)
    for path in sorted(PKG.rglob("*.py")):
        kept = Path(path.relative_to(PKG).parts[0]).stem in ALLOWED_MODULES
        for node in ast.parse(path.read_text()).body:
            if kept or not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                todo |= _names(node)
            else:
                defs.setdefault(node.name, []).append(node)
    for root in ROOTS:
        p = REPO / root
        for path in [p] if p.is_file() else sorted(p.rglob("*.py")):
            todo |= _names(ast.parse(path.read_text()))
    seen = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= set().union(*map(_names, defs.get(name, [])))
    assert sorted(set(defs) - seen) == []
    assert sorted(set(ALLOWED) - set(defs)) == []  # no stale entries
