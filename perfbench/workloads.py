"""Seeded benchmark inputs and their planted truth, built without Spark.

Inputs are generated driver-side with pandas and written with pyarrow,
so the first Spark job of a run is the pipeline's own (its cold start
is what ``cold_wall_s`` measures). They are cached on disk keyed by
workload, size and seed: the same seed gives byte-identical inputs.

- ``mixed_crawl``: ``synth_pages`` — the planted Common-Crawl mix
  (exact and near copies, same-length distractors, a Zipf hot domain).
  Truth: ``synth_labels``.
- ``near_dup_heavy``: short pages (60-140 tokens) in 40-variant
  near-duplicate families, families whose pairs sit just under the
  confirm threshold, one giant exact cluster, and one "hot" family
  larger than ``DEFAULT_MAX_BUCKET`` whose members share every LSH band
  key (they differ only in whitespace), so every one of its buckets is
  capped.
- ``memo_refresh``: a day-2 recrawl of ``mixed_crawl``. 10% of the urls
  get a newer ``warc_ts`` and new text. Only unlabeled singleton pages
  change, so ``synth_labels`` stays the truth on day 2.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from dedupe_algo_spark.operators.candidates import DEFAULT_MAX_BUCKET
from dedupe_algo_spark.operators.scoring import DEFAULT_THRESHOLD
from dedupe_algo_spark.synth import (
    BLOCK,
    block_clusters,
    synth_labels_pdf,
    synth_pages_pdf,
)

WORKLOADS = ("mixed_crawl", "near_dup_heavy", "memo_refresh")

MIXED_PAGES = 1_500
RECRAWL_FRAC = 0.10

FAMILIES, FAMILY_SIZE = 20, 40
SUB_FAMILIES, SUB_SIZE = 8, 8
EXACT_COPIES = 200
HOT_SIZE = DEFAULT_MAX_BUCKET + 100
SUB_MARGIN = 0.02  # sub-threshold pairs score at most threshold - margin
NEAR_PAGES = FAMILIES * FAMILY_SIZE + SUB_FAMILIES * SUB_SIZE + EXACT_COPIES + HOT_SIZE

N_FILES = 8  # parquet files per input, so the scan splits across cores

_PAGES_ARROW = pa.schema(
    [
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ]
)


@dataclass
class Inputs:
    """Paths of one workload's materialised inputs plus its truth."""

    pages: str  # the pages the timed job reads
    n_pages: int
    labels: pd.DataFrame  # (url_a, url_b, is_dup) planted pairs
    day1: str | None = None  # memo_refresh: the crawl the memo is built from
    hot_urls: frozenset = field(default_factory=frozenset)  # near_dup_heavy


def _write_pages(pdf: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    pdf = pdf.assign(warc_ts=pd.to_datetime(pdf["warc_ts"]).dt.tz_localize("UTC"))
    for k, part in enumerate(np.array_split(np.arange(len(pdf)), N_FILES)):
        table = pa.Table.from_pandas(
            pdf.iloc[part], schema=_PAGES_ARROW, preserve_index=False
        )
        pq.write_table(table, os.path.join(tmp, f"part-{k:05d}.parquet"))
    os.replace(tmp, path)


def _pages_frame(urls: list[str], texts: list[str], seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 5])
    ts = 1_767_225_600 + rng.integers(0, 90 * 86_400, size=len(urls))
    return pd.DataFrame(
        {
            "url": urls,
            "warc_ts": pd.to_datetime(ts, unit="s"),
            "html": [b"<html><body>" + t.encode() + b"</body></html>" for t in texts],
            "text": texts,
            "lang": "en",
        }
    )


def _vocab(rng: np.random.Generator, n: int = 8_000) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = {"".join(rng.choice(letters, size=int(rng.integers(3, 12)))) for _ in range(n)}
    return np.array(sorted(words))


def _fresh(rng, vocab, avoid: set, k: int) -> list[str]:
    """``k`` distinct vocabulary words outside ``avoid`` (added to it)."""
    out: list[str] = []
    while len(out) < k:
        w = str(vocab[int(rng.integers(0, len(vocab)))])
        if w not in avoid:
            avoid.add(w)
            out.append(w)
    return out


def pair_labels(groups: list[list[str]], is_dup: bool) -> list[tuple[str, str, bool]]:
    """Every unordered pair within each group, as sorted (url_a, url_b)."""
    rows = []
    for g in groups:
        g = sorted(g)
        rows.extend((a, b, is_dup) for i, a in enumerate(g) for b in g[i + 1 :])
    return rows


def near_dup_heavy_pdf(seed: int) -> tuple[pd.DataFrame, pd.DataFrame, frozenset]:
    """→ (pages, labels, hot-family urls). Token Jaccard within a true
    family is >= 0.89; within a sub-threshold family every pair is at
    most ``DEFAULT_THRESHOLD - SUB_MARGIN`` (base tokens are distinct and
    replacements are fresh words, so the scores are exact)."""
    rng = np.random.default_rng([seed, 7331])
    vocab = _vocab(rng)
    texts: list[str] = []
    dup_groups: list[list[int]] = []
    neg_groups: list[list[int]] = []

    def base(t: int) -> list[str]:
        return [str(w) for w in rng.choice(vocab, size=t, replace=False)]

    def add(toks: list[str]) -> int:
        texts.append(" ".join(toks))
        return len(texts) - 1

    for _ in range(FAMILIES):
        t = int(rng.integers(60, 141))
        b = base(t)
        used = set(b)
        k = 1 + t // 70  # scattered replacements per variant
        fam = [add(b)]
        for _ in range(FAMILY_SIZE - 1):
            v = list(b)
            for p, w in zip(rng.choice(t, size=k, replace=False), _fresh(rng, vocab, used, k)):
                v[p] = w
            fam.append(add(v))
        dup_groups.append(fam)

    j = DEFAULT_THRESHOLD - SUB_MARGIN
    for _ in range(SUB_FAMILIES):
        t = int(rng.integers(80, 141))
        # smallest contiguous run m with (t - m) / (t + m) <= j
        m = int(np.ceil(t * (1 - j) / (1 + j)))
        b = base(t)
        used = set(b)
        fam = [add(b)]
        for v in range(SUB_SIZE - 1):  # disjoint runs: variant pairs score lower still
            toks = list(b)
            toks[v * m : (v + 1) * m] = _fresh(rng, vocab, used, m)
            fam.append(add(toks))
        neg_groups.append(fam)

    exact = base(int(rng.integers(60, 141)))
    dup_groups.append([add(exact) for _ in range(EXACT_COPIES)])

    hot = base(100)
    hot_ids = []
    for i in range(HOT_SIZE):
        # variant i doubles the spaces at the set bits of i: distinct
        # texts, identical token lists, so identical band keys
        seps = ["  " if (i >> g) & 1 else " " for g in range(len(hot) - 1)]
        hot_ids.append(len(texts))
        texts.append("".join(w + s for w, s in zip(hot, seps)) + hot[-1])

    order = rng.permutation(len(texts))  # row position -> text id
    url_of = np.empty(len(texts), dtype=object)
    for pos, tid in enumerate(order):
        url_of[tid] = f"https://h{pos % 61:02d}.example.org/n/{pos:07d}"
    pages = _pages_frame([url_of[tid] for tid in order], [texts[tid] for tid in order], seed)
    labels = pd.DataFrame(
        pair_labels([[url_of[i] for i in g] for g in dup_groups], True)
        + pair_labels([[url_of[i] for i in g] for g in neg_groups], False),
        columns=["url_a", "url_b", "is_dup"],
    )
    return pages, labels, frozenset(url_of[i] for i in hot_ids)


def labeled_indices(n_pages: int) -> set[int]:
    """Row indices of ``synth_pages`` that appear in ``synth_labels``."""
    out: set[int] = set()
    for b in range((n_pages + BLOCK - 1) // BLOCK):
        clusters, negatives = block_clusters(b, n_pages)
        for members, _ in clusters:
            out.update(members)
        for pair in negatives:
            out.update(pair)
    return out


def recrawl_pdf(day1: pd.DataFrame, seed: int, frac: float = RECRAWL_FRAC) -> pd.DataFrame:
    """Day 2: ``frac`` of the urls, drawn from unlabeled pages, get a
    newer ``warc_ts`` and fresh text of the same token count."""
    rng = np.random.default_rng([seed, 2])
    free = np.array(sorted(set(range(len(day1))) - labeled_indices(len(day1))))
    changed = rng.choice(free, size=int(round(frac * len(day1))), replace=False)
    vocab = _vocab(rng)
    day2 = day1.copy()
    for i in changed:
        n_tok = len(day2.at[i, "text"].split())
        text = " ".join(rng.choice(vocab, size=n_tok))
        day2.at[i, "text"] = text
        day2.at[i, "html"] = b"<html><body>" + text.encode() + b"</body></html>"
        day2.at[i, "warc_ts"] = day2.at[i, "warc_ts"] + pd.Timedelta(days=1)
    return day2


def materialise(workload: str, seed: int, cache_root: str) -> Inputs:
    """Build (or reuse) the inputs of ``workload`` for ``seed``."""
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}; choose from {WORKLOADS}")
    size = MIXED_PAGES if workload != "near_dup_heavy" else NEAR_PAGES
    root = os.path.join(cache_root, f"{workload}-n{size}-s{seed}")
    done = os.path.join(root, "inputs.json")
    if not os.path.exists(done):
        os.makedirs(root, exist_ok=True)
        hot: frozenset = frozenset()
        if workload == "near_dup_heavy":
            pages, labels, hot = near_dup_heavy_pdf(seed)
            _write_pages(pages, os.path.join(root, "pages"))
        else:
            day1 = synth_pages_pdf(MIXED_PAGES, seed)
            labels = synth_labels_pdf(MIXED_PAGES, seed)[["url_a", "url_b", "is_dup"]]
            _write_pages(day1, os.path.join(root, "day1"))
            pages = day1
            if workload == "memo_refresh":
                pages = recrawl_pdf(day1, seed)
                _write_pages(pages, os.path.join(root, "pages"))
        labels.to_parquet(os.path.join(root, "labels.parquet"), index=False)
        with open(done + ".tmp", "w") as f:
            json.dump({"n_pages": len(pages), "hot_urls": sorted(hot)}, f)
        os.replace(done + ".tmp", done)
    with open(done) as f:
        meta = json.load(f)
    day1_path = os.path.join(root, "day1")
    pages_path = os.path.join(root, "pages")
    return Inputs(
        pages=day1_path if workload == "mixed_crawl" else pages_path,
        n_pages=meta["n_pages"],
        labels=pd.read_parquet(os.path.join(root, "labels.parquet")),
        day1=day1_path if workload == "memo_refresh" else None,
        hot_urls=frozenset(meta["hot_urls"]),
    )
