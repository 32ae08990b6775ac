"""Every top-level def in dedupe_algo_spark/ is reached by name (AST) from
the roots: jobs, scripts, the package's module-level code (which holds the
QUERIES registry) and the kept API below, each with the reason it stays.
Every literal-bool switch is set both ways from those roots, so no branch
lives on that only tests select."""

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


def _reach(seeds: set[str], kept_modules) -> tuple[dict, set[str], list]:
    """The package's top-level defs by name, the names reached from the
    roots plus ``seeds``, and the root ASTs the walk starts from."""
    defs, trees = {}, []
    for path in sorted(PKG.rglob("*.py")):
        kept = Path(path.relative_to(PKG).parts[0]).stem in kept_modules
        for node in ast.parse(path.read_text()).body:
            if kept or not isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                trees.append(node)
            else:
                defs.setdefault(node.name, []).append(node)
    for root in ROOTS:
        p = REPO / root
        for path in [p] if p.is_file() else sorted(p.rglob("*.py")):
            trees.append(ast.parse(path.read_text()))
    todo, seen = set(seeds).union(*map(_names, trees)), set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo |= set().union(*map(_names, defs.get(name, [])))
    return defs, seen, trees


def test_every_library_def_is_reached_or_allowed():
    defs, seen, _ = _reach(set(ALLOWED), ALLOWED_MODULES)
    assert sorted(set(defs) - seen) == []
    assert sorted(set(ALLOWED) - set(defs)) == []  # no stale entries


BOTH_WAYS_ALLOWED = {
    "build_warc.warcinfo": "builds parser-robustness input, with and without a header",
}


def test_every_bool_switch_is_set_both_ways_from_the_roots():
    """Each literal-bool-default parameter gets both values from the roots:
    an omitted argument is the default; a non-literal one or a spread is both."""
    _is_bool = lambda n: isinstance(n, ast.Constant) and type(n.value) is bool  # noqa: E731
    defs, seen, trees = _reach(set(), {})
    fns, values = {}, {}
    for path in PKG.rglob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, ast.FunctionDef):
                a = fn.args
                params = [p.arg for p in a.posonlyargs + a.args]
                flags = dict(zip(params[len(params) - len(a.defaults) :], a.defaults))
                flags.update((p.arg, d) for p, d in zip(a.kwonlyargs, a.kw_defaults))
                flags = {p: d.value for p, d in flags.items() if _is_bool(d)}
                params = params[params[:1] in (["self"], ["cls"]) :]
                fns.setdefault(fn.name, []).append((params, flags))
                values.update((f"{fn.name}.{p}", set()) for p in flags)
    for tree in trees + [d for name in seen for d in defs.get(name, [])]:
        for call in (n for n in ast.walk(tree) if isinstance(n, ast.Call)):
            name = getattr(call.func, "id", None) or getattr(call.func, "attr", None)
            spread = any(k.arg is None for k in call.keywords) or any(
                isinstance(x, ast.Starred) for x in call.args
            )
            for params, flags in fns.get(name, []):
                for p, default in flags.items():
                    given = [k.value for k in call.keywords if k.arg == p]
                    given += call.args[params.index(p) :][:1] if p in params else []
                    if spread or not all(map(_is_bool, given)):
                        given = [ast.Constant(True), ast.Constant(False)]
                    values[f"{name}.{p}"] |= {g.value for g in given} or {default}
    one_sided = {k for k, v in values.items() if v != {True, False}}
    assert sorted(one_sided - set(BOTH_WAYS_ALLOWED)) == []
    assert sorted(set(BOTH_WAYS_ALLOWED) - one_sided) == []  # no stale entries
